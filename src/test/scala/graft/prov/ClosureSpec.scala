package graft.prov

import java.nio.file.{Files, Path}
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.types.{IntegerType, StringType}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** `lineageOf` / `descendantsOf` against a driver-side BFS over the
  * collected `elementDependencies`, on both closure paths (the driver
  * BFS under `spark.graft.maxExportGraphRows`, the co-partitioned BFS
  * above it), plus the closure's resource contract: no cache left
  * behind but the result's own checkpoint, and a bounded number of
  * Spark jobs per call.
  */
class ClosureSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("closure-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  import spark.implicits._

  private def newStore(): String =
    Files.createTempDirectory("closure").toString

  /** Reference closure: minimum hop of every id reachable from `start`
    * within `maxHops`, computed on the driver.
    */
  private def bfs(q: ProvenanceQueries, exec: String, start: String,
                  maxHops: Int, backward: Boolean): Map[String, Int] = {
    val adj = q.elementDependencies(exec).select("target", "source")
      .collect().toSeq
      .map(r => if (backward) r.getString(0) -> r.getString(1)
                else r.getString(1) -> r.getString(0))
      .groupMap(_._1)(_._2)
    var seen = Map.empty[String, Int]
    var frontier = Set(start)
    var hop = 0
    while (frontier.nonEmpty && hop < maxHops) {
      hop += 1
      frontier = frontier.flatMap(adj.getOrElse(_, Nil)) -- seen.keySet
      seen ++= frontier.map(_ -> hop)
    }
    seen
  }

  private def hops(df: DataFrame): Map[String, Int] = {
    val rows = df.collect().map(r => r.getString(0) -> r.getInt(1))
    assert(rows.map(_._1).distinct.length == rows.length,
      s"an id appears at two hops: ${rows.toSeq}")
    rows.toMap
  }

  private def assertMatchesBfs(q: ProvenanceQueries, exec: String,
                               el: String, maxHops: Int): Unit = {
    assert(hops(q.lineageOf(exec, el, maxHops)) ==
      bfs(q, exec, el, maxHops, backward = true), s"lineageOf $el @$maxHops")
    assert(hops(q.descendantsOf(exec, el, maxHops)) ==
      bfs(q, exec, el, maxHops, backward = false),
      s"descendantsOf $el @$maxHops")
  }

  private def idsOf(q: ProvenanceQueries, exec: String,
                    taskId: String): Seq[String] =
    q.producedBy(exec, taskId).select("element_id").collect()
      .map(_.getString(0)).toSeq.sorted

  /** src → a → b, a ⋈ b on the key (a diamond: `a` is reached from a
    * join element at hop 2 directly and at hop 3 through `b`), and a
    * union of src and b feeding a map (the union owns no elements).
    */
  private def diamond(): (String, String, Map[String, Seq[String]]) = {
    val store = newStore()
    val s = ProvSession.create(spark, "diamond", store)
    val src = s.parallelize(Seq(1, 2, 3))
    val a = src.map(_ * 10)
    val b = a.map(_ + 1)
    val j = a.keyBy(_ / 10).join(b.keyBy(_ / 10))
    val u = src.union(b).map(_ * 2)
    assert(j.count() == 3 && u.count() == 6)
    s.close()
    val q = new ProvenanceQueries(spark, store)
    val byTask = Seq("src" -> src, "a" -> a, "b" -> b, "u" -> u)
      .map { case (n, d) => n -> idsOf(q, s.executionId, d.task.id) }
      .toMap + ("j" -> idsOf(q, s.executionId, j.task.id))
    (store, s.executionId, byTask)
  }

  /** One diamond store for the read-only tests. */
  private lazy val shared = diamond()

  /** `body` with `spark.graft.maxExportGraphRows` at `fence` (None: the
    * default, above every store here).
    */
  private def withFence[T](fence: Option[Int])(body: => T): T =
    fence match {
      case None => body
      case Some(n) =>
        spark.conf.set("spark.graft.maxExportGraphRows", n.toString)
        try body finally spark.conf.unset("spark.graft.maxExportGraphRows")
    }

  // each case runs on the driver path (default fence) and, with a fence
  // of one row, on the distributed path
  for ((path, fence) <- Seq("" -> None, " [distributed path]" -> Some(1))) {

    test("closure ≡ driver-side BFS: diamond minimum hop, union, join, maxHops 1/2/20" + path) {
      withFence(fence) {
        val (store, exec, els) = shared
        val q = new ProvenanceQueries(spark, store)
        // minimum hop on the diamond: j ← keyed a (1) ← a (2) ← src (3),
        // and j ← keyed b (1) ← b (2) ← a (3, already seen at 2)
        val lin = hops(q.lineageOf(exec, els("j").head))
        assert(lin.size == 5 && lin.values.max == 3, lin)
        assert(els("a").count(lin.contains) == 1 &&
          els("a").filter(lin.contains).forall(lin(_) == 2), lin)
        for (el <- Seq(els("j").head, els("u").head, els("u").last,
                       els("src").head, els("a").head);
             maxHops <- Seq(1, 2, 20))
          assertMatchesBfs(q, exec, el, maxHops)
      }
    }

    test("unknown element: empty closure with the same schema" + path) {
      withFence(fence) {
        val (store, exec, els) = shared
        val q = new ProvenanceQueries(spark, store)
        val schema = q.lineageOf(exec, els("j").head).schema
        assert(schema.fieldNames.toSeq == Seq("id", "hop"))
        assert(schema("id").dataType == StringType &&
          schema("hop").dataType == IntegerType && !schema("hop").nullable)
        val none = q.lineageOf(exec, "no-such-element")
        val noneFwd = q.descendantsOf(exec, "no-such-element")
        assert(none.count() == 0 && noneFwd.count() == 0)
        assert(none.schema == schema && noneFwd.schema == schema)
      }
    }

    test("replayed element rows (a committed file stored twice) leave the closure unchanged" + path) {
      withFence(fence) {
        val (store, exec, els) = diamond()
        val q = new ProvenanceQueries(spark, store)
        val probes = Seq(els("j").head, els("src").head, els("u").head)
        val before = probes.map(el =>
          (hops(q.lineageOf(exec, el)), hops(q.descendantsOf(exec, el))))
        // an at-least-once streaming replay appends byte-identical rows
        // under new file names
        val part = Path.of(store, "data_elements", s"execution_id=$exec")
        val files = Files.list(part).toArray.map(_.asInstanceOf[Path])
          .filter(_.getFileName.toString.endsWith(".parquet"))
        assert(files.nonEmpty)
        files.foreach(f =>
          Files.copy(f, f.resolveSibling("replay-" + f.getFileName)))
        val rows = spark.read.parquet(s"$store/data_elements")
          .filter(s"execution_id = '$exec'")
        assert(rows.count() == 2 * rows.dropDuplicates("element_id").count())
        val after = probes.map(el =>
          (hops(q.lineageOf(exec, el)), hops(q.descendantsOf(exec, el))))
        assert(after == before)
      }
    }
  }

  test("the driver and distributed paths return equal (id, hop) maps on the diamond") {
    val (store, exec, els) = shared
    val q = new ProvenanceQueries(spark, store)
    for (el <- els.values.map(_.head); maxHops <- Seq(1, 20)) {
      val driver = (hops(q.lineageOf(exec, el, maxHops)),
                    hops(q.descendantsOf(exec, el, maxHops)))
      val distributed = withFence(Some(1))(
        (hops(q.lineageOf(exec, el, maxHops)), hops(q.descendantsOf(exec, el, maxHops))))
      assert(driver == distributed, s"$el @$maxHops")
    }
  }

  test("closures release every intermediate cache: only each result's checkpoint remains") {
    val (store, exec, els) = shared
    val q = new ProvenanceQueries(spark, store)
    val sc = spark.sparkContext
    def checkpointOf(df: DataFrame): Int =
      df.queryExecution.logical.collectFirst { case r: LogicalRDD => r.rdd.id }
        .getOrElse(fail(s"not a checkpointed frame:\n${df.queryExecution}"))
    val before = sc.getPersistentRDDs.keySet
    val lin = q.lineageOf(exec, els("j").head)
    val desc = q.descendantsOf(exec, els("src").head)
    val left = sc.getPersistentRDDs.keySet -- before
    assert(left == Set(checkpointOf(lin), checkpointOf(desc)))
    assert(lin.count() == 5 && desc.count() > 0)
  }

  test("a 3-hop lineage runs at most hops + 3 Spark jobs") {
    val store = newStore()
    val s = ProvSession.create(spark, "chain", store)
    val last = s.parallelize(Seq(1, 2, 3, 4)).map(_ + 1).map(_ * 2).map(_ - 1)
    assert(last.count() == 4)
    s.close()
    val q = new ProvenanceQueries(spark, store)
    val el = idsOf(q, s.executionId, last.task.id).head
    val sc = spark.sparkContext
    val marker = "closure-spec-marker"
    val jobs = new AtomicInteger(0)
    val drained = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties)
              .exists(_.getProperty("spark.job.description") == marker))
          drained.countDown()
        else jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    val closure =
      try {
        val c = q.lineageOf(s.executionId, el)
        // events arrive in order: once the marker job is seen, every
        // job the closure submitted has been counted
        sc.setJobDescription(marker)
        try sc.parallelize(Seq(1), 1).count()
        finally sc.setJobDescription(null)
        assert(drained.await(30, TimeUnit.SECONDS))
        c
      } finally sc.removeSparkListener(listener)
    val reached = hops(closure)
    assert(reached.size == 3 && reached.values.max == 3, reached)
    assert(jobs.get <= reached.values.max + 3,
      s"${jobs.get} jobs for a ${reached.values.max}-hop lineage")
  }
}
