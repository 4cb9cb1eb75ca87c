package graft.prov

import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Relational element capture through [[ElementTee]]: the action on a
  * frame's `result` stages its chain's elements, so flush commits files
  * and runs no job; frames no action completed cost one pass per
  * maximal frame; and AQE re-planning between actions never commits a
  * task's elements twice.
  */
class ElementTeeSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("element-tee-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def newStore(): String = Files.createTempDirectory("eltee").toString

  /** 2000 rows over 4 files: key (k, n), flag, value. */
  private lazy val source: String = {
    val dir = Files.createTempDirectory("eltee-src").resolve("src").toString
    spark.range(0, 2000, 1, 4)
      .select(col("id").as("k"), (col("id") % 7).as("n"),
        (col("id") % 3).cast("string").as("flag"), (col("id") * 1.5).as("v"))
      .write.parquet(dir)
    dir
  }

  /** (body's value, Spark jobs it ran, input bytes its tasks read). A
    * marker job fences the counts: listener events arrive in order.
    */
  private def metricsOf[T](body: => T): (T, Long, Long) = {
    val sc = spark.sparkContext
    val marker = "element-tee-spec-marker"
    val jobs, bytes = new AtomicLong(0)
    val drained = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties)
              .exists(_.getProperty("spark.job.description") == marker))
          drained.countDown()
        else jobs.incrementAndGet()
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        Option(e.taskMetrics).foreach(m => bytes.addAndGet(m.inputMetrics.bytesRead))
    }
    sc.addSparkListener(listener)
    try {
      val out = body
      sc.setJobDescription(marker)
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setJobDescription(null)
      assert(drained.await(30, TimeUnit.SECONDS))
      (out, jobs.get, bytes.get)
    } finally sc.removeSparkListener(listener)
  }

  /** The perfbench shape: table → select → filter → groupByAgg. */
  private def chain(s: ProvSession) = {
    val t = RelationalProvenance.table(s, spark.read.parquet(source), "src", Seq("k"))
    val sel = t.select("net")(col("k"), col("n"), col("flag"), (col("v") * 2).as("v2"))
    val f = sel.filter(col("n") <= 4, "keep")
    val agg = f.groupByAgg(Seq(col("flag")), Seq(sum(col("v2")).as("s"), count(lit(1)).as("c")))
    (t, sel, f, agg)
  }

  private def perTask(store: String, exec: String): Map[String, (Long, Long)] =
    new ProvenanceQueries(spark, store).elements(exec)
      .groupBy(col("task_id"))
      .agg(count(lit(1)), countDistinct(col("element_id"))).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap

  /** Exact element counts of [[chain]]: every row of t and sel, the
    * 5-in-7 rows that pass the filter, three flags.
    */
  private def assertChainCounts(store: String, exec: String, ids: Seq[String]): Unit = {
    val kept = (0 until 2000).count(_ % 7 <= 4).toLong
    val byTask = perTask(store, exec)
    assert(ids.map(byTask) == Seq(2000L -> 2000L, 2000L -> 2000L, kept -> kept, 3L -> 3L),
      s"per-task (rows, distinct ids): $byTask")
  }

  private def tees(df: DataFrame): Int =
    df.queryExecution.analyzed.collect { case t: ElementTee => t }.size

  test("after result.collect() of an Element chain, close() runs no Spark job") {
    val store = newStore()
    val s = ProvSession.create(spark, "tee", store)
    val (t, sel, f, agg) = chain(s)
    val res = agg.result
    assert(tees(res) == 4)
    assert(res.collect().length == 3)
    val (_, jobs, _) = metricsOf(s.close())
    assert(jobs == 0, s"close ran $jobs job(s)")
    assertChainCounts(store, s.executionId, Seq(t, sel, f, agg).map(_.taskId))
  }

  test("across the action and close() the source is scanned once") {
    val (_, _, fullScan) = metricsOf(spark.read.parquet(source).collect())
    val store = newStore()
    val s = ProvSession.create(spark, "tee-scan", store)
    val (_, _, _, agg) = chain(s)
    val (_, _, read) = metricsOf { agg.result.collect(); s.close() }
    info(s"input bytes: full scan $fullScan, action + close $read")
    assert(fullScan > 0 && read <= fullScan)
  }

  test("never-acted frames are completed with one pass per maximal frame") {
    val store = newStore()
    val s = ProvSession.create(spark, "tee-idle", store)
    val t = RelationalProvenance.table(s, spark.read.parquet(source), "src", Seq("k"))
    val a = t.select("a")(col("k"), col("n"))
    val b = a.filter(col("n") > 2, "b")
    val c = t.filter(col("flag") === "1", "c")
    // b and c are maximal; t and a are staged by b's pass
    val (_, jobs, _) = metricsOf(s.close())
    assert(jobs == 2, s"close ran $jobs job(s)")
    val byTask = perTask(store, s.executionId)
    assert(byTask(t.taskId) == (2000L -> 2000L) && byTask(a.taskId) == (2000L -> 2000L))
    assert(byTask(b.taskId)._1 == (0 until 2000).count(_ % 7 > 2))
    assert(byTask(c.taskId)._1 == (0 until 2000).count(_ % 3 == 1))
  }

  test("take(1) then close() leaves exact per-task element counts") {
    val store = newStore()
    val s = ProvSession.create(spark, "tee-take", store)
    val (t, sel, f, agg) = chain(s)
    assert(f.result.take(1).length == 1)
    assert(agg.result.take(1).length == 1)
    s.close()
    assertChainCounts(store, s.executionId, Seq(t, sel, f, agg).map(_.taskId))
  }

  test("two actions under different AQE coalescing commit each task's elements once") {
    val store = newStore()
    val s = ProvSession.create(spark, "tee-aqe", store)
    val (t, sel, f, agg) = chain(s)
    val key = "spark.sql.adaptive.coalescePartitions.enabled"
    spark.conf.set(key, "false")
    try assert(agg.result.collect().length == 3)
    finally spark.conf.unset(key)
    assert(agg.result.collect().length == 3)
    // the aggregate's two runs were staged over different partition counts
    val staged = new java.io.File(ElementSideWriter.stagingDir(store, s.executionId, agg.taskId))
      .list().filter(_.endsWith(".parquet"))
    val counts = staged.map(_.replaceAll(""".*of(\d+)-t.*""", "$1")).distinct
    assert(counts.length == 2, s"staged: ${staged.toSeq}")
    s.close()
    assertChainCounts(store, s.executionId, Seq(t, sel, f, agg).map(_.taskId))
  }

  test("with capture off, result holds no tee") {
    val store = newStore()
    val off = ProvSession.create(spark, "tee-off", store, captureEnabled = false)
    val (_, _, _, agg) = chain(off)
    assert(tees(agg.result) == 0)
    assert(agg.result.queryExecution.analyzed == agg.df.drop(
      RelationalProvenance.ID, RelationalProvenance.DEPS).queryExecution.analyzed)
    off.close()
  }
}
