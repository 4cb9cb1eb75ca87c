package graft.perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Spark counters attributed to one span. */
final class Counters {
  var jobs, stages, tasks = 0L
  var taskNs, gcMs, shuffleRead, shuffleWrite, spill, input = 0L

  def +=(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    taskNs += o.taskNs; gcMs += o.gcMs; shuffleRead += o.shuffleRead
    shuffleWrite += o.shuffleWrite; spill += o.spill; input += o.input
  }
}

/** Counts jobs, stages and task metrics, keyed by the span id the
  * benchmark sets as the `perfbench.span` local property before each
  * call. Work with no span (background flush threads started before
  * any span) lands under key "-".
  */
final class SpanListener extends SparkListener {
  val bySpan = new ConcurrentHashMap[String, Counters]()
  private val stageSpan = new ConcurrentHashMap[Int, String]()
  @volatile var events = 0L

  private def spanOf(p: java.util.Properties): String =
    Option(p).flatMap(x => Option(x.getProperty(Tracer.Prop))).getOrElse("-")
  private def counters(span: String): Counters =
    bySpan.computeIfAbsent(span, _ => new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    events += 1
    counters(spanOf(e.properties)).jobs += 1
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    events += 1
    val s = spanOf(e.properties)
    stageSpan.put(e.stageInfo.stageId, s)
    counters(s).stages += 1
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    events += 1
    val c = counters(Option(stageSpan.get(e.stageId)).getOrElse("-"))
    c.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      c.taskNs += m.executorRunTime * 1000000L
      c.gcMs += m.jvmGCTime
      c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      c.input += m.inputMetrics.bytesRead
    }
  }
}

final case class Span(id: Int, layer: String, name: String, parent: Int,
                      start: Long, var end: Long = 0L)

object Tracer { val Prop = "perfbench.span" }

/** In-memory spans around the benchmark's calls into graft. Disabled,
  * it records nothing and sets no local property; the op timings the
  * end-to-end metrics need are kept by [[Ctx]] either way.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  val spans = mutable.ArrayBuffer[Span]()
  private var stack = List.empty[Span]
  private var nextId = 0
  /** Time spent in span bookkeeping: the direct cost of tracing. */
  var overheadNs = 0L
  val listener: Option[SpanListener] =
    if (enabled) {
      val l = new SpanListener
      spark.sparkContext.addSparkListener(l)
      Some(l)
    } else None

  def apply[T](layer: String, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val t0 = System.nanoTime()
      val sp = Span(nextId, layer, name, stack.headOption.map(_.id).getOrElse(-1), t0)
      nextId += 1
      spans += sp
      stack = sp :: stack
      val sc = spark.sparkContext
      sc.setLocalProperty(Tracer.Prop, sp.id.toString)
      overheadNs += System.nanoTime() - t0
      try body
      finally {
        val t1 = System.nanoTime()
        sp.end = t1
        stack = stack.tail
        sc.setLocalProperty(Tracer.Prop, stack.headOption.map(_.id.toString).orNull)
        overheadNs += System.nanoTime() - t1
      }
    }

  /** Wait (bounded) until the listener bus stops delivering events. */
  def drain(): Unit = listener.foreach { l =>
    var last = -1L
    var tries = 0
    while (l.events != last && tries < 40) {
      last = l.events; Thread.sleep(50); tries += 1
    }
  }

  /** Forget the warm-up: spans and the counters attributed to them. */
  def reset(): Unit = {
    drain()
    spans.clear()
    listener.foreach(_.bySpan.clear())
    overheadNs = 0L
  }

  /** Self time per layer: a span's duration minus its direct children. */
  def selfSecondsByLayer: Map[String, Double] = {
    val childNs = mutable.Map[Int, Long]().withDefaultValue(0L)
    spans.foreach(s => if (s.parent >= 0) childNs(s.parent) += s.end - s.start)
    spans.groupMapReduce(_.layer)(s => (s.end - s.start - childNs(s.id)) / 1e9)(_ + _)
  }

  def countersFor(pred: Span => Boolean): Counters = {
    val c = new Counters
    listener.foreach { l =>
      spans.filter(pred).foreach(s => Option(l.bySpan.get(s.id.toString)).foreach(c += _))
    }
    c
  }

  def totalCounters: Counters = {
    val c = new Counters
    listener.foreach(_.bySpan.values().forEach(x => c += x))
    c
  }
}

/** Run context shared by the workloads: inputs, the tracer, op timings,
  * the deadline, correctness checks and the result maps.
  */
final class Ctx(val spark: SparkSession, val tracer: Tracer,
                val inputDir: String, val workDir: String, val seed: Long,
                val seconds: Double, val cores: Int) {
  val rng = new scala.util.Random(seed)
  val samples = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
  /** End-to-end metrics (the untraced run reports these). */
  val e2e = mutable.LinkedHashMap[String, Double]()
  /** Per-layer metrics (the traced run reports these). */
  val layer = mutable.LinkedHashMap[String, Double]()
  val checks = mutable.LinkedHashMap[String, Boolean]()
  val info = mutable.LinkedHashMap[String, String]()
  var attempted = 0L
  var failed = 0L
  var firstTimedNs = 0L

  def input(name: String): String = s"$inputDir/$name"

  /** Sum of every op's wall so far: a phase's cost is its delta. */
  var opSeconds = 0.0

  /** One call into graft: counted, timed and (when tracing) spanned. */
  def op[T](layer: String, name: String)(body: => T): T = {
    attempted += 1
    val t0 = System.nanoTime()
    if (firstTimedNs == 0L) firstTimedNs = t0
    try {
      val r = tracer(layer, name)(body)
      val dt = (System.nanoTime() - t0) / 1e9
      samples.getOrElseUpdate(name, mutable.ArrayBuffer()) += dt
      opSeconds += dt
      r
    } catch {
      case e: Throwable => failed += 1; throw e
    }
  }

  /** A span that groups ops (a round of a closed loop): not an op. */
  def group[T](name: String)(body: => T): T = tracer("bench", name)(body)

  /** End of the untimed warm-up: drop its timings and spans. */
  def warmed(): Unit = {
    samples.clear(); attempted = 0; failed = 0; firstTimedNs = 0L
    tracer.reset()
  }

  def check(name: String)(cond: => Boolean): Unit = {
    val ok = try cond catch {
      case e: Throwable =>
        System.err.println(s"[perfbench] check $name threw: $e"); false
    }
    if (!ok) System.err.println(s"[perfbench] check FAILED: $name")
    checks(name) = checks.getOrElse(name, true) && ok
  }

  def median(name: String): Double = Stats.median(samples.getOrElse(name, Nil).toSeq)
  def count(name: String): Int = samples.get(name).map(_.size).getOrElse(0)

  /** Wall of the ops `body` runs (checks and glue excluded). */
  def opWall(body: => Unit): Double = { val s0 = opSeconds; body; opSeconds - s0 }

  /** Closed-loop deadline helper: runs `body` at least `min` times and
    * until `budget` seconds have passed since the loop started.
    */
  def loop(budget: Double, min: Int = 1)(body: Int => Unit): Int = {
    val t0 = System.nanoTime()
    var i = 0
    while (i < min || (System.nanoTime() - t0) / 1e9 < budget) { body(i); i += 1 }
    i
  }

  /** Per-layer self times, listener counters and tracing cost; called
    * once, after the timed phase.
    */
  def reportTrace(e2eNames: Seq[String]): Unit = if (tracer.enabled) {
    tracer.drain()
    tracer.selfSecondsByLayer.foreach { case (l, s) => layer(s"self_s.$l") = s }
    val c = tracer.totalCounters
    val wall = tracer.spans.filter(_.parent < 0).map(s => s.end - s.start).sum / 1e9
    layer("spark.jobs") = c.jobs.toDouble
    layer("spark.stages") = c.stages.toDouble
    layer("spark.tasks") = c.tasks.toDouble
    layer("spark.task_s") = c.taskNs / 1e9
    layer("spark.core_util") = if (wall > 0) c.taskNs / 1e9 / (wall * cores) else 0.0
    layer("spark.shuffle_read_bytes") = c.shuffleRead.toDouble
    layer("spark.shuffle_write_bytes") = c.shuffleWrite.toDouble
    layer("spark.spill_bytes") = c.spill.toDouble
    layer("spark.input_bytes") = c.input.toDouble
    layer("spark.gc_s") = c.gcMs / 1e3
    layer("trace.spans") = tracer.spans.size.toDouble
    layer("trace.overhead_s") = tracer.overheadNs / 1e9
    e2eNames.foreach(n => e2e.get(n).foreach(v => layer(s"trace.$n") = v))
  }

  /** Sum of the listener's counters over the spans of the named ops. */
  def countersOf(names: String*): Counters =
    tracer.countersFor(s => names.contains(s.name))
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else math.exp(xs.map(math.log).sum / xs.size)
}

object Files2 {
  import java.nio.file.{Files, Path, Paths}
  import scala.jdk.CollectionConverters._

  def walk(dir: String): Seq[Path] =
    if (!Files.exists(Paths.get(dir))) Nil
    else {
      val s = Files.walk(Paths.get(dir))
      try s.iterator().asScala.filter(Files.isRegularFile(_)).toVector
      finally s.close()
    }
  def bytes(dir: String): Long = walk(dir).map(Files.size).sum
  def files(dir: String): Int = walk(dir).size
  def rmrf(dir: String): Unit = if (Files.exists(Paths.get(dir))) {
    val s = Files.walk(Paths.get(dir))
    try s.iterator().asScala.toVector.reverse.foreach(p => Files.deleteIfExists(p))
    finally s.close()
  }
}
