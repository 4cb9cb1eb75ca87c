package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.prov._

/** Record-level capture followed by lineage reads of the same store
  * (the paper's own cost).
  *
  * Write: the Zipf-keyed `k;v` pipeline (parallelize → map → filter →
  * reduceByKey → join) captured and uncaptured, and the lineitem
  * ProvFrame (select → filter → groupByAgg) at Element and Task
  * granularity and uncaptured. Read, on the first captured store:
  * lineageOf of a seeded reduced key, descendantsOf one of its filtered
  * inputs, valueTable, taskGraph, graphSummary and jsonGraph.
  */
object ProvDataflow {
  private final case class Rdd(out: Seq[(String, (Long, Int))], session: ProvSession,
                               srcTask: String, reduceTask: String, joinTask: String)
}

final class ProvDataflow(c: Ctx) extends Component {
  import ProvDataflow._

  private val spark = c.spark
  import spark.implicits._

  private val lines = Files.readAllLines(Paths.get(c.input("pairs.txt"))).asScala
    .filter(_.nonEmpty).toVector
  private val parsed = lines.map { l => val p = l.split(";"); (p(0), p(1).toLong) }
  private val expectReduce = parsed.filter(_._2 % 3 != 0).groupMapReduce(_._1)(_._2)(_ + _)
  // join partner: every other distinct key gets a label
  private val labels = parsed.map(_._1).distinct.sorted.zipWithIndex.filter(_._2 % 2 == 0)
  private val expectJoin = labels.flatMap { case (k, i) => expectReduce.get(k).map(s => (k, (s, i))) }
    .sortBy(_._1)
  private val nPass = parsed.count(_._2 % 3 != 0).toLong
  private val expectNodes = Map("pairs" -> lines.size.toLong, "parse" -> lines.size.toLong,
    "filter" -> nPass, "reduceByKey" -> expectReduce.size.toLong,
    "labels" -> labels.size.toLong, "join" -> expectJoin.size.toLong)
  // parse and filter: one dep each; reduce: every surviving input; join: two each
  private val expectEdges = lines.size + nPass + nPass + 2L * expectJoin.size
  private val lineitem = c.input("lineitem.parquet")
  private val liRows = spark.read.parquet(lineitem).count()
  private val inputBytes = Files.size(Paths.get(c.input("pairs.txt")))
  c.info("rdd_rows") = lines.size.toString
  c.info("lineitem_rows") = liRows.toString

  private def store(): String = Files.createTempDirectory(Paths.get(c.workDir), "prov").toString

  private def rdd(capture: Boolean, input: Seq[String] = lines): Rdd = {
    val layer = if (capture) "prov_capture" else "prov_off"
    val s = ProvSession.create(spark, "perfbench", store(), captureEnabled = capture)
    val src = s.parallelize(input, "pairs")
    val reduced = src.map({ l => val p = l.split(";"); (p(0), p(1).toLong) }, "parse")
      .filter(_._2 % 3 != 0, "filter")
      .reduceByKey(_ + _)
    val joined = reduced.join(s.parallelize(labels, "labels"))
    val out = c.op(layer, if (capture) "rdd_action" else "off_rdd")(joined.collect())
    c.op(layer, if (capture) "close" else "off_close")(s.close())
    Rdd(out.sortBy(_._1), s, src.taskId, reduced.taskId, joined.taskId)
  }

  private def frame(gran: Option[RelationalProvenance.Granularity], limit: Int = 0): Seq[String] = {
    val all = spark.read.parquet(lineitem)
    val df = if (limit > 0) all.limit(limit) else all
    val net = (col("l_extendedprice") * (lit(1) - col("l_discount"))).as("net")
    val cols = Seq(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"), col("l_linestatus"), net)
    val keep = col("l_linenumber") <= 4
    val keys = Seq(col("l_returnflag"), col("l_linestatus"))
    val aggs = Seq(round(sum(col("net")), 2).as("net"), count(lit(1)).as("n"))
    val rows = gran match {
      case None => c.op("prov_off", "off_frame")(
        df.select(cols: _*).filter(keep).groupBy(keys: _*).agg(aggs.head, aggs.tail: _*).collect())
      case Some(g) =>
        val name = if (g == RelationalProvenance.Granularity.Element) "frame_element" else "frame_task"
        val s = ProvSession.create(spark, "perfbench-frame", store())
        c.op("prov_capture", name) {
          val r = RelationalProvenance.table(s, df, "lineitem", Seq("l_orderkey", "l_linenumber"), g)
            .select("net")(cols: _*).filter(keep).groupByAgg(keys, aggs)
            .result.collect()
          s.close()
          r
        }
    }
    rows.map(_.toSeq.mkString("|")).toSeq.sorted
  }

  /** Every captured and uncaptured shape once on 200 input rows: the
    * first call of each pays its codegen, which would otherwise skew the
    * capture-overhead ratios.
    */
  def warm(): Unit = {
    val slice = lines.take(200)
    rdd(capture = true, slice); rdd(capture = false, slice)
    Seq(None, Some(RelationalProvenance.Granularity.Element),
      Some(RelationalProvenance.Granularity.Task)).foreach(frame(_, limit = 200))
  }

  private var first: Option[Rdd] = None

  def write(i: Int): Unit = {
    val on = rdd(capture = true)
    val off = rdd(capture = false)
    val fOff = frame(None)
    val fEl = frame(Some(RelationalProvenance.Granularity.Element))
    val fTask = frame(Some(RelationalProvenance.Granularity.Task))
    c.check("rdd captured == uncaptured twin")(on.out == off.out)
    c.check("rdd == closed form")(on.out == expectJoin)
    c.check("frame element == uncaptured twin")(fEl == fOff)
    c.check("frame task == uncaptured twin")(fTask == fOff)
    c.check("frame has one row per (flag, status)")(fOff.size == 6)
    if (i == 0) first = Some(on) else Files2.rmrf(on.session.storeDir)
  }

  private lazy val r = first.get
  private lazy val exec = r.session.executionId
  private lazy val q = new ProvenanceQueries(spark, r.session.storeDir)
  private def valuesOf(task: String): Seq[(String, Seq[String])] =
    q.elements(exec).filter(col("task_id") === task).select(col("element_id"), col("values"))
      .collect().toSeq.map(x => x.getString(0) -> x.getSeq[scala.collection.Seq[String]](1).head.toSeq)
  // reduced element per key; source elements with their `k;v` line
  private lazy val reduceEls = valuesOf(r.reduceTask).map { case (id, v) => v.head -> id }.toMap
  private lazy val srcEls = valuesOf(r.srcTask).map { case (id, v) => id -> v.head }.toMap
  /** parent element id → child element id, for a 1→1 task. */
  private def childOf(description: String): Map[String, String] = {
    val task = q.tasks(exec).filter(col("description") === description)
      .select(col("task_id")).head().getString(0)
    q.elements(exec).filter(col("task_id") === task).select(col("element_id"), col("deps"))
      .collect().map(x => x.getSeq[String](1).head -> x.getString(0)).toMap
  }
  private lazy val parseOf = childOf("parse")
  private lazy val filterOf = childOf("filter")
  private lazy val targets = c.rng.shuffle(expectJoin.map(_._1)).take(16)
  private def sources(k: String) = srcEls.filter { case (_, v) =>
    val p = v.split(";"); p(0) == k && p(1).toLong % 3 != 0 }.keys.toSeq.sorted
  private var lineageRows = 0L
  private var hops = 0

  def read(i: Int): Unit = {
    val k = targets(i % targets.size)
    val src = sources(k)
    val filterEl = filterOf(parseOf(src(c.rng.nextInt(src.size))))
    val lin = c.op("prov_query", "lineage")(q.lineageOf(exec, reduceEls(k)))
    val desc = c.op("prov_query", "descendants")(q.descendantsOf(exec, filterEl))
    val vt = c.op("prov_query", "value_table")(q.valueTable(exec, r.reduceTask).collect())
    val tg = c.op("prov_query", "task_graph")(q.taskGraph(exec).collect())
    val gs = c.op("prov_query", "graph_summary")(q.graphSummary(exec).collect())
    val js = c.op("prov_query", "json_graph")(q.jsonGraph(exec))
    if (i == 0) {
      val linRows = lin.select(col("id"), col("hop")).collect()
      val got = linRows.map(_.getString(0)).toSet
      // reduce ← filter ← parse ← source: 3 hops, one chain per surviving input
      c.check("lineage reaches exactly the key's surviving inputs")(
        got.intersect(srcEls.keySet).toSeq.sorted == src && got.size == 3 * src.size)
      // filter → reduce → join
      c.check("descendants of a filtered element = its reduce and join elements")(desc.count() == 2)
      lineageRows = got.size
      hops = linRows.map(_.getInt(1)).max
      c.check("valueTable has one row per reduced key")(vt.length == expectReduce.size)
      c.check("taskGraph: 6 tasks, 5 edges")(
        tg.count(_.getAs[String]("kind") == "task") == 6 && tg.count(_.getAs[String]("kind") == "edge") == 5)
      val nodes = gs.filter(_.getString(0) == "element").map(x => x.getString(1) -> x.getLong(3)).toMap
      val edges = gs.filter(_.getString(0) == "edge").map(_.getLong(3)).sum
      c.check("element counts are exact")(nodes == expectNodes)
      c.check("edge counts are exact")(edges == expectEdges)
      c.check("jsonGraph holds every element")(
        js.startsWith("{\"nodes\":[") && js.split("\"group\":").length - 1 == expectNodes.values.sum)
    }
  }

  def finish(): Unit = if (c.tracer.enabled) {
    val l = c.layer
    val onS = c.median("rdd_action") + c.median("close")
    val offS = c.median("off_rdd") + c.median("off_close")
    l("prov.capture_on_rows_per_s") = (lines.size + 2 * liRows) /
      (onS + c.median("frame_element") + c.median("frame_task"))
    l("prov.capture_off_rows_per_s") = (lines.size + 2 * liRows) / (offS + 2 * c.median("off_frame"))
    l("prov.rdd_action_s") = c.median("rdd_action")
    l("prov.close_s") = c.median("close")
    l("prov.frame_element_s") = c.median("frame_element")
    l("prov.frame_task_s") = c.median("frame_task")
    l("prov.off_rdd_s") = offS
    l("prov.off_frame_s") = c.median("off_frame")
    l("prov.capture_overhead_x") = onS / offS
    l("prov.frame_overhead_x") = c.median("frame_element") / c.median("off_frame")
    l("prov.elements_written") = expectNodes.values.sum.toDouble
    l("prov.edges_written") = expectEdges.toDouble
    l("prov.store_bytes_per_input_byte") = Files2.bytes(r.session.storeDir).toDouble / inputBytes
    l("prov.store_files") = Files2.files(r.session.storeDir).toDouble
    l("prov.max_flush_depth") = r.session.maxObservedFlushDepth.toDouble
    l("provq.lineage_s") = c.median("lineage")
    l("provq.descendants_s") = c.median("descendants")
    l("provq.value_table_s") = c.median("value_table")
    l("provq.task_graph_s") = c.median("task_graph")
    l("provq.graph_summary_s") = c.median("graph_summary")
    l("provq.json_graph_s") = c.median("json_graph")
    val lc = c.countersOf("lineage")
    l("provq.jobs_per_lineage") = lc.jobs.toDouble / c.count("lineage")
    l("provq.hops_per_lineage") = hops.toDouble
    l("provq.bytes_read_per_row_returned") = lc.input.toDouble / c.count("lineage") / math.max(1L, lineageRows)
  }
}
