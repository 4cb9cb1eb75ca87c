package graft.perfbench

import scala.collection.mutable

/** One part of a workload. Set-up (reading inputs, computing expected
  * outputs) happens in the constructor; `warm` runs a small untimed
  * pass; `write`/`read` run one iteration of the write and read phases
  * and check their outputs on the first iteration; `finish` runs the
  * remaining checks and fills the per-layer metrics.
  */
trait Component {
  def warm(): Unit
  def write(i: Int): Unit
  def read(i: Int): Unit
  def finish(): Unit
}

/** A workload is a closed loop with one client: the write phase runs its
  * components' writes until `writeShare` of --seconds has passed (at
  * least once), then the read phase likewise. `write_s`/`read_s` are
  * the medians over iterations of the summed wall of the graft calls
  * one iteration makes; checks and harness glue are not counted.
  */
object Workloads {
  val writeShare = 0.4

  val all: Map[String, Ctx => Seq[Component]] = Map(
    "provenance" -> (c => Seq(new ProvDataflow(c), new SciphyBlackbox(c))),
    "analytics" -> (c => Seq(new Headline(c), new VectorStore(c))))

  def run(c: Ctx, comps: => Seq[Component]): Unit = {
    def since(t: Long) = f"${(System.nanoTime() - t) / 1e9}%.3f"
    val t0 = System.nanoTime()
    val parts = comps
    c.info("inputs_s") = since(t0)
    val t1 = System.nanoTime()
    c.group("warmup")(parts.foreach(_.warm()))
    c.info("warm_s") = since(t1)
    c.warmed()
    val writes, reads = mutable.ArrayBuffer[Double]()
    c.loop(c.seconds * writeShare) { i =>
      writes += c.group("write")(c.opWall(parts.foreach(_.write(i))))
    }
    c.loop(c.seconds * (1 - writeShare)) { i =>
      reads += c.group("read")(c.opWall(parts.foreach(_.read(i))))
    }
    parts.foreach(_.finish())
    c.e2e("write_s") = Stats.median(writes.toSeq)
    c.e2e("read_s") = Stats.median(reads.toSeq)
    c.info("write_iterations") = writes.size.toString
    c.info("read_iterations") = reads.size.toString
    c.reportTrace(Seq("write_s", "read_s"))
  }
}
