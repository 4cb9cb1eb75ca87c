package graft.prov

import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions.{col, to_json}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.prov.filegroup.{FileGroupOps, FileGroupTemplate}

/** What the §3.3 queries cost and what they may assume about the store:
  * each table's declared schema equals the one Spark infers from the
  * written files, element ids are unique within an execution for every
  * writer, and each query runs only the Spark jobs its own joins and
  * aggregates need.
  */
class ProvQueryCostSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("prov-query-cost-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  import spark.implicits._

  private def newStore(): String = Files.createTempDirectory("provcost").toString

  /** Spark jobs `body` submits. A marker job fences the count: listener
    * events arrive in order, so once the marker is seen every job the
    * body submitted has been counted.
    */
  private def jobsOf[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val marker = "prov-cost-spec-marker"
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
    try {
      val out = body
      sc.setJobDescription(marker)
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setJobDescription(null)
      assert(drained.await(30, TimeUnit.SECONDS))
      (out, jobs.get)
    } finally sc.removeSparkListener(listener)
  }

  private def exchanges(plan: SparkPlan): Seq[SparkPlan] = plan.flatMap {
    case a: AdaptiveSparkPlanExec => exchanges(a.executedPlan)
    case e: Exchange              => Seq(e)
    case _                        => Nil
  }

  test("declared schemas equal the schemas Spark infers from a freshly closed store") {
    val store = newStore()
    val dir = Files.createTempDirectory("provcost-files")
    Files.writeString(dir.resolve("a.txt"), "alpha\n")
    Files.writeString(dir.resolve("b.txt"), "beta\n")
    val s = ProvSession.create(spark, "schemas", store)
    // typed tasks inside a transformation group
    val g = s.newGroup("grp")
    val typed = s.parallelize(Seq(1, 2, 3)).map(_ + 1).initTransformationGroup(g)
      .finishTransformationGroup(g)
    assert(typed.count() == 3)
    // a relational task
    val rel = RelationalProvenance.table(s, spark.range(5).toDF("k"), "rel", Seq("k"))
    assert(rel.result.count() == 5)
    // a FileGroup task and a reference to one of its elements
    val fg = FileGroupOps.fileGroup(s,
      FileGroupTemplate.ofFile(dir.resolve("a.txt").toString),
      FileGroupTemplate.ofFile(dir.resolve("b.txt").toString))
    assert(fg.count() == 2)
    s.close()
    val anElement = new ProvenanceQueries(spark, store).elements(s.executionId)
      .filter(col("task_id") === fg.taskId).select("element_id").head().getString(0)
    // the reference table is written at close; a second session owns it
    val s2 = ProvSession.create(spark, "refs", store)
    s2.addFileGroupRef(anElement, "fg/folder")
    s2.close()

    val declared = Seq(
      MetaParquet.Executions.name -> MetaParquet.Executions.schema,
      MetaParquet.Tasks.name -> MetaParquet.Tasks.schema,
      MetaParquet.TransformationGroups.name -> MetaParquet.TransformationGroups.schema,
      MetaParquet.FileGroupReferences.name -> MetaParquet.FileGroupReferences.schema,
      ProvenanceQueries.ElementsTable -> ProvenanceQueries.ElementSchema)
    declared.foreach { case (name, schema) =>
      val inferred = spark.read.parquet(s"$store/$name").schema
      assert(inferred == schema, s"$name: inferred $inferred, declared $schema")
    }
    // the driver-side read of a partition equals the Spark read of it
    val q = new ProvenanceQueries(spark, store)
    def sparkRows(name: String, exec: String) =
      spark.read.parquet(s"$store/$name").filter(col("execution_id") === exec)
        .collect().map(_.toString).sorted.toSeq
    assert(q.tasks(s.executionId).collect().map(_.toString).sorted.toSeq ==
      sparkRows("tasks", s.executionId))
    assert(q.transformationGroups(s.executionId).collect().map(_.toString).toSeq ==
      sparkRows("transformation_groups", s.executionId))
    assert(q.fileTreeOf(s2.executionId, anElement, Seq("fg/folder/x", "other/y")) ==
      Seq("fg/folder/x"))
    // a missing partition reads as an empty local frame
    assert(q.transformationGroups(s2.executionId).collect().isEmpty)
  }

  test("two textFile reads of one path give each task its own file element") {
    val store = newStore()
    val dir = Files.createTempDirectory("provcost-text")
    Files.writeString(dir.resolve("f.txt"), "x\ny\n")
    val s = ProvSession.create(spark, "twice", store)
    val a = s.textFile(dir.toString, "first")
    val b = s.textFile(dir.toString, "second")
    assert(a.count() == 2 && b.count() == 2)
    s.close()
    val els = new ProvenanceQueries(spark, store).elements(s.executionId)
      .select("task_id", "element_id", "deps").collect()
      .map(r => (r.getString(0), r.getString(1), r.getSeq[String](2)))
    assert(els.map(_._2).distinct.length == els.length, "an element id appears twice")
    Seq(a.taskId, b.taskId).foreach { tid =>
      val own = els.filter(_._1 == tid)
      val (files, records) = own.partition(_._3.isEmpty)
      assert(files.length == 1 && records.length == 2)
      // every record's dep is its own task's file element
      assert(records.forall(_._3 == Seq(files.head._2)))
    }
  }

  /** pairs → parse → filter → reduceByKey ⋈ labels: (queries, execution,
    * pairs task id, reduced dataset).
    */
  private lazy val budgetStore = {
    val store = newStore()
    val s = ProvSession.create(spark, "budget", store)
    val pairs = s.parallelize((1 to 200).map(i => s"k${i % 17};$i"), "pairs")
    val reduced = pairs.map({ l => val p = l.split(";"); (p(0), p(1).toLong) }, "parse")
      .filter(_._2 % 3 != 0, "filter")
      .reduceByKey(_ + _)
    val labels = s.parallelize((0 until 17 by 2).map(i => (s"k$i", i)), "labels")
    assert(reduced.join(labels).count() == 9)
    s.close()
    (new ProvenanceQueries(spark, store), s.executionId, pairs.taskId, reduced)
  }

  test("job budget: task tables read on the driver, no dedup shuffle, bounded query jobs") {
    val (q, e, _, reduced) = budgetStore

    val (tasks, tasksJobs) = jobsOf(q.tasks(e).collect())
    val (graph, graphJobs) = jobsOf(q.taskGraph(e).collect())
    val (groups, groupsJobs) = jobsOf(q.transformationGroups(e).collect())
    assert(tasks.length == 6 && groups.isEmpty)
    assert(graph.count(_.getAs[String]("kind") == "task") == 6 &&
      graph.count(_.getAs[String]("kind") == "edge") == 5)
    assert((tasksJobs, graphJobs, groupsJobs) == ((0, 0, 0)))

    assert(exchanges(q.elements(e).queryExecution.executedPlan).isEmpty)

    val (vt, vtJobs) = jobsOf(q.valueTable(e, reduced.taskId).collect())
    val (js, jsJobs) = jobsOf(q.jsonGraph(e))
    val (gs, gsJobs) = jobsOf(q.graphSummary(e).collect())
    info(s"jobs: valueTable $vtJobs, jsonGraph $jsJobs, graphSummary $gsJobs")
    assert(vt.length == 17)
    assert(js.split("\"group\":").length - 1 == q.elements(e).count())
    assert(gs.nonEmpty)
    assert(vtJobs <= 2, s"valueTable ran $vtJobs jobs")
    assert(jsJobs <= 2, s"jsonGraph ran $jsJobs jobs")
    assert(gsJobs <= 8, s"graphSummary ran $gsJobs jobs")
  }

  test("job budget under the element fence: a closure is its checkpoint, jsonGraph reads no job") {
    val (q, e, pairsTask, reduced) = budgetStore
    def firstElement(task: String) = q.producedBy(e, task)
      .select("element_id").head().getString(0)
    val reducedEl = firstElement(reduced.taskId)
    val pairsEl = firstElement(pairsTask)
    val (lin, linJobs) = jobsOf(q.lineageOf(e, reducedEl))
    val (desc, descJobs) = jobsOf(q.descendantsOf(e, pairsEl))
    val (vt, vtJobs) = jobsOf(q.valueTable(e, reduced.taskId).collect())
    val (js, jsJobs) = jobsOf(q.jsonGraph(e))
    val (gs, gsJobs) = jobsOf(q.graphSummary(e).collect())
    info(s"jobs: lineageOf $linJobs, descendantsOf $descJobs, valueTable $vtJobs, " +
      s"jsonGraph $jsJobs, graphSummary $gsJobs")
    // reduce ← filter ← parse ← pairs
    assert(lin.select("hop").collect().map(_.getInt(0)).max == 3)
    assert(desc.count() > 0 && vt.length == 17 && js.contains("\"links\"") && gs.nonEmpty)
    assert((linJobs, descJobs, vtJobs, jsJobs, gsJobs) == ((1, 1, 1, 0, 0)))
    // a fence below the store's rows selects the distributed BFS, one
    // job per hop
    spark.conf.set("spark.graft.maxExportGraphRows", "1")
    val (_, distJobs) =
      try jobsOf(q.lineageOf(e, reducedEl))
      finally spark.conf.unset("spark.graft.maxExportGraphRows")
    assert(distJobs > 3, s"distributed lineage ran $distJobs jobs")
  }

  /** `jsonGraph` of one execution as (nodes, links) multisets, against
    * the Spark-computed reference: `to_json(values)` labels over
    * [[ProvenanceQueries.elements]] and the `elementDependencies` links.
    */
  private def assertJsonGraphParity(q: ProvenanceQueries, e: String): Unit = {
    val json = new ObjectMapper().readTree(q.jsonGraph(e))
    def rows(field: String, keys: String*) =
      json.get(field).elements().asScala.toSeq
        .map(n => keys.map(k => n.get(k).asText())).sortBy(_.mkString("\u0000"))
    val nodes = rows("nodes", "id", "group", "label")
    val refNodes = q.elements(e)
      .select(col("element_id"), col("task_id"), to_json(col("values"))).collect()
      .map(r => Seq(r.getString(0), r.getString(1), r.getString(2))).toSeq
      .sortBy(_.mkString("\u0000"))
    assert(nodes == refNodes)
    // labels byte-equal, not just equal as JSON values
    assert(nodes.map(_(2).getBytes("UTF-8").toSeq) ==
      refNodes.map(_(2).getBytes("UTF-8").toSeq))
    val refLinks = q.elementDependencies(e).select("source", "target").collect()
      .map(r => Seq(r.getString(0), r.getString(1))).toSeq.sortBy(_.mkString("\u0000"))
    assert(rows("links", "source", "target") == refLinks)
    // the node fence trips one row below the element count
    val count = q.elements(e).count()
    spark.conf.set("spark.graft.maxExportGraphRows", (count - 1).toString)
    try {
      val err = intercept[IllegalStateException](q.jsonGraph(e))
      assert(err.getMessage.contains(s"element count exceeds spark.graft.maxExportGraphRows=${count - 1}") &&
        err.getMessage.contains("exportHtml"), err.getMessage)
    } finally spark.conf.unset("spark.graft.maxExportGraphRows")
  }

  private val awkward = Seq("quote \" in", "back\\slash", "<script>", "line\nbreak",
    "ctl \u0001 char", "não-ASCII 日本語 ✓")

  test("jsonGraph labels are byte-equal to Spark's to_json: typed store") {
    val store = newStore()
    val s = ProvSession.create(spark, "labels-typed", store)
    val identity = new DataElementSchema[Seq[Seq[String]]] {
      def fieldNames: Seq[String] = Seq("a", "b")
      def project(v: Seq[Seq[String]]): Seq[Seq[String]] = v
    }
    val src = s.parallelize(Seq(
        awkward.take(2).map(Seq(_)), awkward.slice(2, 4).map(Seq(_, "")),
        Seq(awkward.drop(4)), Seq.empty[Seq[String]], Seq(Seq.empty[String])), "awkward")
      .setSchema(identity)
    val out = src.map(_.reverse, "reversed").setSchema(identity)
    assert(out.count() == 5)
    s.close()
    assertJsonGraphParity(new ProvenanceQueries(spark, store), s.executionId)
  }

  test("jsonGraph labels are byte-equal to Spark's to_json: relational store") {
    val store = newStore()
    val s = ProvSession.create(spark, "labels-rel", store)
    val df = (awkward.map(Option(_)) :+ None).zipWithIndex
      .map { case (v, i) => (i, v.orNull, v.map(_.reverse).orNull) }
      .toDF("k", "v", "w")
    val kept = RelationalProvenance.table(s, df, "awkward", Seq("k"))
      .filter(col("k") =!= 0, "keep")
    assert(kept.result.count() == awkward.length)
    s.close()
    assertJsonGraphParity(new ProvenanceQueries(spark, store), s.executionId)
  }

  /** graphSummary's driver path (under the fence) equals its Spark path
    * (fence at one row) on `store`, after appending rows of a task with
    * no task row and deps to an element the execution does not hold.
    */
  private def assertGraphSummaryParity(store: String, e: String): Unit = {
    val q = new ProvenanceQueries(spark, store)
    val Seq(task, el) = q.elements(e).select("task_id", "element_id").head().toSeq
      .map(_.toString)
    Seq(
      ElementRow(e, "no-task-row", "orphan", Seq(Seq("o")), Seq(el, "no-such-element")),
      ElementRow(e, task, "extra", Seq(Seq("x")), Seq("orphan", "no-such-element", el)))
      .toDS().drop("execution_id")
      .write.mode("append").parquet(ElementSideWriter.destDir(store, e))
    val (local, localJobs) = jobsOf(q.graphSummary(e))
    val rows = local.collect().toSeq
    spark.conf.set("spark.graft.maxExportGraphRows", "1")
    val (spark1, sparkRows) =
      try { val df = q.graphSummary(e); (df, df.collect().toSeq) }
      finally spark.conf.unset("spark.graft.maxExportGraphRows")
    assert(localJobs == 0)
    assert(rows == sparkRows)
    assert(local.schema.map(f => f.name -> f.dataType) ==
      spark1.schema.map(f => f.name -> f.dataType))
    // the appended rows moved the counts: one more node of `task`, one
    // more edge into it from its own task, nothing from the orphan
    assert(rows.exists(r => r.getString(0) == "edge" && r.getString(1) == r.getString(2)))
    assert(!rows.exists(_.toSeq.contains("no-task-row")))
  }

  test("graphSummary: the driver path equals the Spark path, typed store") {
    val store = newStore()
    val s = ProvSession.create(spark, "summary-typed", store)
    val src = s.parallelize((1 to 40).map(i => s"k${i % 5}"), "src")
    val red = src.map(k => (k, 1), "pairs").reduceByKey(_ + _, "count")
    assert(red.count() == 5)
    s.close()
    assertGraphSummaryParity(store, s.executionId)
  }

  test("graphSummary: the driver path equals the Spark path, relational store") {
    val store = newStore()
    val s = ProvSession.create(spark, "summary-rel", store)
    val agg = RelationalProvenance.table(s, spark.range(40).toDF("k"), "src", Seq("k"))
      .filter(col("k") % 3 =!= 0, "keep")
      .groupByAgg(Seq(col("k") % 4), Seq(org.apache.spark.sql.functions.count(col("k")).as("n")))
    assert(agg.result.count() == 4)
    s.close()
    assertGraphSummaryParity(store, s.executionId)
  }
}
