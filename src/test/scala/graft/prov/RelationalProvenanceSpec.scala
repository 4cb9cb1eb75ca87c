package graft.prov

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Relational (DataFrame-level) provenance: deterministic ids without
  * caching, correct lineage through filter/join/agg, splice-through for
  * ignored frames, and — the SURVEY §4.2 scale requirement — provenance
  * columns that do NOT defeat predicate pushdown or column pruning.
  */
class RelationalProvenanceSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val d = "/root/testdata/sf0.001"

  private def newSession(): (ProvSession, String) = {
    val store = Files.createTempDirectory("relprov").toString
    (ProvSession.create(spark, "relprov-test", store), store)
  }

  test("ids are deterministic across recomputation (no persist needed)") {
    val (sess, _) = newSession()
    val orders = spark.read.parquet(s"$d/orders.parquet")
    val f = RelationalProvenance.table(sess, orders, "orders", Seq("o_orderkey"))
      .filter(col("o_orderstatus") === "F")
    // two independent collections of an UNCACHED plan must mint equal ids
    val ids1 = f.df.select(col(RelationalProvenance.ID)).collect().map(_.getString(0)).sorted
    val ids2 = f.df.select(col(RelationalProvenance.ID)).collect().map(_.getString(0)).sorted
    assert(ids1.nonEmpty && ids1.sameElements(ids2))
    sess.close()
  }

  test("filter → join → agg lineage lands in the store and closes transitively") {
    val (sess, store) = newSession()
    val orders = spark.read.parquet(s"$d/orders.parquet")
    val lineitem = spark.read.parquet(s"$d/lineitem.parquet")

    val o = RelationalProvenance.table(sess, orders, "orders", Seq("o_orderkey"))
    // NB: (l_orderkey, l_linenumber) is NOT unique in the synthetic data
    // (6000 rows, 4599 distinct) — the key contract needs the wider set
    val l = RelationalProvenance.table(sess, lineitem, "lineitem",
      Seq("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey",
        "l_extendedprice"))
    val of = o.filter(col("o_orderstatus") === "F", "open orders")
    val j = of.join(l, col("o_orderkey") === col("l_orderkey"), "inner", "o⋈l")
    val agg = j.groupByAgg(Seq(col("l_returnflag")),
      Seq(count(lit(1)).as("n"), sum(col("l_quantity")).as("qty")), "per flag")
    val res = agg.result.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    sess.flush()
    sess.close()

    val q = new ProvenanceQueries(spark, store)
    val els = q.elements(sess.executionId)
    // per-task element counts match the data
    val byTask = els.groupBy(col("task_id")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byTask(o.taskId) == orders.count())
    assert(byTask(l.taskId) == lineitem.count())
    assert(byTask(of.taskId) == orders.filter(col("o_orderstatus") === "F").count())
    assert(byTask(agg.taskId) == res.size)

    // each agg element's dep count equals its group's input rows
    val aggEls = els.filter(col("task_id") === agg.taskId)
      .select(col("values").getItem(0).getItem(0).as("flag"),
        size(col("deps")).as("nd")).collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(aggEls == res.view.mapValues(_.toInt).toMap)

    // multi-hop lineage from one agg element reaches BOTH source tables
    val anAgg = els.filter(col("task_id") === agg.taskId)
      .select(col("element_id")).head().getString(0)
    val lineage = q.lineageOf(sess.executionId, anAgg) // (id, hop) ancestors
    val tasksInLineage = lineage
      .join(els, lineage("id") === els("element_id"))
      .select(col("task_id")).distinct()
      .collect().map(_.getString(0)).toSet
    assert(Set(o.taskId, l.taskId, of.taskId, j.taskId)
      .subsetOf(tasksInLineage), s"lineage tasks: $tasksInLineage")
  }

  test("outer join: unmatched side contributes no dep") {
    val (sess, _) = newSession()
    import spark.implicits._
    val a = Seq((1L, "x"), (2L, "y")).toDF("k", "va")
    val b = Seq((1L, "z")).toDF("k", "vb")
    val fa = RelationalProvenance.table(sess, a, "a", Seq("k"))
    val fb = RelationalProvenance.table(sess, b, "b", Seq("k"))
    val j = fa.join(fb, Seq("k"), "left", "a left b")
    val rows = j.df.select(col("k"),
      size(col(RelationalProvenance.DEPS)).as("nd")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(rows == Map(1L -> 2, 2L -> 1))
    sess.close()
  }

  test("ignoreIt splices children through to the non-ignored ancestor") {
    val (sess, store) = newSession()
    import spark.implicits._
    val src = Seq((1L, 10.0), (2L, 20.0), (3L, 30.0)).toDF("k", "v")
    val t = RelationalProvenance.table(sess, src, "src", Seq("k"))
    val mid = t.select("widen")(col("k"), (col("v") * 2).as("v2")).ignoreIt()
    val leaf = mid.filter(col("v2") > 25.0, "big")
    sess.close()

    val q = new ProvenanceQueries(spark, store)
    val els = q.elements(sess.executionId).collect()
    // no elements for the ignored task
    assert(!els.exists(_.getAs[String]("task_id") == mid.taskId))
    // leaf deps point DIRECTLY at source element ids
    val srcIds = els.filter(_.getAs[String]("task_id") == t.taskId)
      .map(_.getAs[String]("element_id")).toSet
    val leafDeps = els.filter(_.getAs[String]("task_id") == leaf.taskId)
      .flatMap(r => r.getSeq[String](r.fieldIndex("deps"))).toSet
    assert(leafDeps.nonEmpty && leafDeps.subsetOf(srcIds))
  }

  test("provenance columns do not defeat pushdown or pruning") {
    val (sess, _) = newSession()
    val lineitem = spark.read.parquet(s"$d/lineitem.parquet")
    val f = RelationalProvenance
      .table(sess, lineitem, "lineitem", Seq("l_orderkey", "l_linenumber"))
      .filter(col("l_shipdate") <= "1998-09-02", "cutoff")
      .select("narrow")(col("l_returnflag"), col("l_quantity"))
    val plan = f.df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(l_shipdate)"),
      s"user predicate must reach the scan:\n$plan")
    // scan reads only: predicate col + projected cols + the id keys
    assert(!plan.contains("l_extendedprice") && !plan.contains("l_partkey"),
      s"unused columns must be pruned from the scan:\n$plan")
    sess.close()
  }

  test("distinct merges deps of all rows carrying the value") {
    val (sess, store) = newSession()
    import spark.implicits._
    val src = Seq((1L, "a"), (2L, "a"), (3L, "b")).toDF("k", "v")
    val t = RelationalProvenance.table(sess, src, "src", Seq("k"))
    val dd = t.select("just v")(col("v")).distinct()
    assert(dd.result.collect().map(_.getString(0)).sorted.sameElements(Array("a", "b")))
    sess.close()
    val q = new ProvenanceQueries(spark, store)
    val byVal = q.elements(sess.executionId)
      .filter(col("task_id") === dd.taskId)
      .select(col("values").getItem(0).getItem(0).as("v"),
        size(col("deps")).as("nd")).collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(byVal == Map("a" -> 2, "b" -> 1))
  }

  test("explodeCol: 1→N lineage, distinct ids for repeated values") {
    val (sess, _) = newSession()
    import spark.implicits._
    val docs = Seq((1L, "a b a"), (2L, "c")).toDF("doc_id", "text")
    val f = RelationalProvenance.table(sess, docs, "docs", Seq("doc_id"))
    val toks = f.explodeCol(split(col("text"), " "), "tok", "tokenize")
    val rows = toks.df
      .select(col("doc_id"), col("tok"), col(RelationalProvenance.ID),
        col(RelationalProvenance.DEPS))
      .collect()
    assert(rows.length == 4) // a, b, a, c
    // repeated value "a" in doc 1 mints two DISTINCT element ids
    val ids = rows.map(_.getString(2))
    assert(ids.distinct.length == 4)
    // every token depends on exactly its source row's element
    val docIdToElem = f.df
      .select(col("doc_id"), col(RelationalProvenance.ID)).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    rows.foreach { r =>
      assert(r.getSeq[String](3) == Seq(docIdToElem(r.getLong(0))))
    }
    // ids are stable across recomputation (deterministic, uncached)
    val ids2 = toks.df.select(col(RelationalProvenance.ID))
      .collect().map(_.getString(0))
    assert(ids.sorted.sameElements(ids2.sorted))
    sess.close()
  }

  test("captureDropped: rejected rows feed deterministic don't-pass elements") {
    val store = Files.createTempDirectory("relprovdrop").toString
    val sess = ProvSession.create(spark, "relprov-drop", store,
      captureDropped = true)
    import spark.implicits._
    val src = Seq((1L, 5.0), (2L, 50.0), (3L, 7.0)).toDF("k", "v")
    val t = RelationalProvenance.table(sess, src, "src", Seq("k"))
    val f = t.filter(col("v") > 10.0, "big only")
    assert(f.result.count() == 1)
    sess.close()
    val q = new ProvenanceQueries(spark, store)
    val els = q.elements(sess.executionId)
      .filter(col("task_id") === f.taskId).collect()
    val (synth, kept) = els.partition(
      _.getAs[Seq[Seq[String]]]("values").toString.contains("don't-pass"))
    assert(kept.length == 1)
    // the two dropped rows' source elements appear as synth deps
    val srcIds = q.elements(sess.executionId)
      .filter(col("task_id") === t.taskId).collect()
      .map(_.getAs[String]("element_id")).toSet
    val synthDeps = synth.flatMap(r => r.getSeq[String](r.fieldIndex("deps"))).toSet
    assert(synthDeps.size == 2 && synthDeps.subsetOf(srcIds))
  }

  test("windowed running agg: value and frame lineage per row") {
    val (sess, store) = newSession()
    import spark.implicits._
    val src = Seq((1L, 1L, 10.0), (1L, 2L, 20.0), (1L, 3L, 30.0),
      (2L, 4L, 5.0)).toDF("user", "seq", "v")
    val t = RelationalProvenance.table(sess, src, "src", Seq("seq"))
    val wf = t.windowed(Seq(col("user")), Seq(col("seq")),
      Seq("running" -> sum(col("v"))), "running sum")
    val vals = wf.result.select("seq", "running").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(vals == Map(1L -> 10.0, 2L -> 30.0, 3L -> 60.0, 4L -> 5.0))
    sess.close()
    val q = new ProvenanceQueries(spark, store)
    // row with seq=k depends on exactly its k frame rows (prefix of its
    // user partition)
    val deps = q.elements(sess.executionId)
      .filter(col("task_id") === wf.taskId)
      .select(col("values").getItem(0).getItem(1).as("seq"),
        size(col("deps")).as("nd")).collect()
      .map(r => r.getString(0).toLong -> r.getInt(1)).toMap
    assert(deps == Map(1L -> 1, 2L -> 2, 3L -> 3, 4L -> 1))
  }

  test("pass-through union/orderBy create no elements and keep ids") {
    val (sess, store) = newSession()
    import spark.implicits._
    val a = Seq((1L, "a")).toDF("k", "v")
    val b = Seq((2L, "b")).toDF("k", "v")
    val fa = RelationalProvenance.table(sess, a, "a", Seq("k"))
    val fb = RelationalProvenance.table(sess, b, "b", Seq("k"))
    val u = fa.union(fb).orderBy(col("k"))
    assert(u.df.select(col(RelationalProvenance.ID)).collect().length == 2)
    sess.close()
    val q = new ProvenanceQueries(spark, store)
    val tasks = q.tasks(sess.executionId).collect()
    val uRow = tasks.find(_.getAs[String]("task_id") == u.taskId)
    assert(uRow.isDefined) // task node recorded even though no elements
    val els = q.elements(sess.executionId)
    assert(els.filter(col("task_id") === u.taskId).count() == 0)
  }

  test("pass-through over an ignored frame splices deps to flushed ancestors") {
    val (sess, store) = newSession()
    import spark.implicits._
    val a = Seq((1L, 10.0), (2L, 20.0)).toDF("k", "v")
    val b = Seq((3L, 30.0)).toDF("k", "v")
    val fa = RelationalProvenance.table(sess, a, "a", Seq("k"))
    val fb = RelationalProvenance.table(sess, b, "b", Seq("k"))
    // ignored frame feeding a pass-through: the union must NOT forward
    // the ignored frame's never-flushed ids to the element-creating leaf
    val widened = fa.select("widen")(col("k"), (col("v") * 2).as("v2")).ignoreIt()
    val other = fb.select("rename")(col("k"), col("v").as("v2"))
    val u = widened.union(other)
    val leaf = u.filter(col("v2") > 0.0, "leaf")
    sess.close()
    val q = new ProvenanceQueries(spark, store)
    val els = q.elements(sess.executionId).collect()
    val flushedIds = els.map(_.getAs[String]("element_id")).toSet
    val leafDeps = els.filter(_.getAs[String]("task_id") == leaf.taskId)
      .flatMap(r => r.getSeq[String](r.fieldIndex("deps")))
    assert(leafDeps.length == 3)
    assert(leafDeps.forall(flushedIds.contains),
      "leaf deps reference element ids that were never flushed")
    // rows from the ignored side point at the ROOT table's elements
    val rootIds = els.filter(_.getAs[String]("task_id") == fa.taskId)
      .map(_.getAs[String]("element_id")).toSet
    assert(leafDeps.count(rootIds.contains) == 2)
  }

  test("task granularity: one stats element per task, counts exact, task-level DAG, user result unchanged") {
    import RelationalProvenance.Granularity
    val (sess, store) = newSession()
    val orders = spark.read.parquet(s"$d/orders.parquet")
    val lineitem = spark.read.parquet(s"$d/lineitem.parquet")

    val o = RelationalProvenance.table(sess, orders, "orders",
      Seq("o_orderkey"), Granularity.Task)
    val l = RelationalProvenance.table(sess, lineitem, "lineitem",
      Seq("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey",
        "l_extendedprice"), Granularity.Task)
    val of = o.filter(col("o_orderstatus") === "F", "open orders")
    val j = of.join(l, col("o_orderkey") === col("l_orderkey"), "inner", "o⋈l")
    val agg = j.groupByAgg(Seq(col("l_returnflag")),
      Seq(count(lit(1)).as("n"), sum(col("l_quantity")).as("qty")), "per flag")
    val res = agg.result.collect().map(r => r.getString(0) -> r.getLong(1)).toMap

    // user result matches the bare DataFrame pipeline exactly
    val bare = orders.filter(col("o_orderstatus") === "F")
      .join(lineitem, col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("l_returnflag")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(res == bare)

    sess.flush()
    sess.close()

    val q = new ProvenanceQueries(spark, store)
    val els = q.elements(sess.executionId).collect()
    // exactly ONE stats element per element-creating task, none per row
    val byTask = els.groupBy(_.getAs[String]("task_id"))
      .view.mapValues(_.length).toMap
    assert(byTask == Map(o.taskId -> 1, l.taskId -> 1,
      of.taskId -> 1, j.taskId -> 1, agg.taskId -> 1))
    // each stats element carries the task's true output row count
    def statsOf(tid: String) = {
      val e = els.find(_.getAs[String]("task_id") == tid).get
      val grid = e.getSeq[Seq[String]](e.fieldIndex("values"))
      assert(grid.head.head == "__n_rows__")
      (e.getAs[String]("element_id"), grid.head(1).toLong,
        e.getSeq[String](e.fieldIndex("deps")).toSet)
    }
    val (oId, oN, oDeps) = statsOf(o.taskId)
    val (lId, lN, _) = statsOf(l.taskId)
    val (ofId, ofN, ofDeps) = statsOf(of.taskId)
    val (jId, jN, jDeps) = statsOf(j.taskId)
    val (_, aggN, aggDeps) = statsOf(agg.taskId)
    assert(oN == orders.count() && lN == lineitem.count())
    assert(ofN == orders.filter(col("o_orderstatus") === "F").count())
    assert(jN == orders.filter(col("o_orderstatus") === "F")
      .join(lineitem, col("o_orderkey") === col("l_orderkey")).count())
    assert(aggN == res.size)
    // stats elements dep-link the task-level DAG
    assert(oDeps.isEmpty && ofDeps == Set(oId) &&
      jDeps == Set(ofId, lId) && aggDeps == Set(jId))
    // multi-hop lineage over stats elements reaches both source tables
    val aggStatsId = statsOf(agg.taskId)._1
    val lineageIds = q.lineageOf(sess.executionId, aggStatsId)
      .select(col("id")).collect().map(_.getString(0)).toSet
    assert(Set(oId, lId, ofId, jId).subsetOf(lineageIds))
    // §3.3 task queries still answer
    assert(q.taskGraph(sess.executionId).count() >= 5)
    val detail = q.taskDetail(sess.executionId, j.taskId).collect()
      .map(r => r.getAs[String]("relation")).toSeq
    assert(detail.count(_ == "parent") == 2 && detail.contains("child"))
    // valueTable answers at task granularity: the count row
    val vt = q.valueTable(sess.executionId, agg.taskId).collect()
    assert(vt.length == 1 &&
      vt.head.getSeq[String](vt.head.fieldIndex("row_values")) ==
        Seq("__n_rows__", aggN.toString))
  }

  test("task granularity: per-row id arithmetic constant-folds away; ignored frames splice through") {
    import RelationalProvenance.Granularity
    import spark.implicits._
    val (sess, store) = newSession()
    val src = Seq((1L, 10.0), (2L, 20.0), (3L, 30.0)).toDF("k", "v")
    val t = RelationalProvenance.table(sess, src, "src", Seq("k"),
      Granularity.Task)
    val mid = t.select("widen")(col("k"), (col("v") * 2).as("v2")).ignoreIt()
    val leaf = mid.filter(col("v2") > 25.0, "big")
    // no md5 survives optimization anywhere in the task-mode plan — the
    // element-granularity minting tree must be constant-folded away
    assert(!leaf.df.queryExecution.optimizedPlan.toString.contains("md5"),
      "task-granularity plan still mints per-row ids")
    sess.flush()
    sess.close()
    val q = new ProvenanceQueries(spark, store)
    val els = q.elements(sess.executionId).collect()
    assert(!els.exists(_.getAs[String]("task_id") == mid.taskId))
    val srcStats = els.find(_.getAs[String]("task_id") == t.taskId).get
    val leafStats = els.find(_.getAs[String]("task_id") == leaf.taskId).get
    // the ignored mid task splices through: leaf stats dep = src stats
    assert(leafStats.getSeq[String](leafStats.fieldIndex("deps")) ==
      Seq(srcStats.getAs[String]("element_id")))
    val grid = leafStats.getSeq[Seq[String]](leafStats.fieldIndex("values"))
    assert(grid.head(1).toLong == 2L) // v2 ∈ {20, 40, 60}, two pass > 25
  }

  test("flush keeps a materialized frame's cache until close") {
    val (sess, _) = newSession()
    val orders = spark.read.parquet(s"$d/orders.parquet")
    val o = RelationalProvenance.table(sess, orders, "orders", Seq("o_orderkey"))
      .materialize()
    o.filter(col("o_orderstatus") === "F", "finished")
    // the child's branch re-reads `o`, so the batch would cache it
    // transiently — it must not release the user's cache afterwards
    sess.flush()
    sess.awaitFlushes()
    assert(o.df.storageLevel != org.apache.spark.storage.StorageLevel.NONE)
    sess.close()
    assert(o.df.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
  }
}
