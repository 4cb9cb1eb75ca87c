package graft.prov

import java.io.CharArrayWriter

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.core.JsonFactory

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.FileStatus
import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.storage.StorageLevel
import org.apache.spark.unsafe.types.UTF8String

import ProvenanceHtml.jstr

/** The reference's query surface (SURVEY §3.3 — the Kotlin/Spring web
  * app's endpoints over Cassandra, DataElementAPICtrl.kt /
  * TaskAPICtrl.kt / ExecutionAPICtrl.kt) re-expressed as plain Spark SQL
  * over the parquet provenance store. Each method returns a DataFrame —
  * 1-hop graph expansions are joins. Multi-hop lineage and the JSON
  * graph are read on the driver from the execution's element files
  * ([[ElementReader]]) when those hold at most
  * `spark.graft.maxExportGraphRows` rows (see [[exportMax]]); above it,
  * lineage is a co-partitioned BFS, one Spark job per hop.
  *
  * A query runs only the Spark jobs its own joins and aggregates need:
  * every table is read with its declared schema (no footer-inference
  * job), one execution's task, transformation-group and
  * file-group-reference rows are read on the driver into local frames
  * ([[MetaParquet.read]]), and element ids are unique within an
  * execution at write time, so [[elements]] is a plain pruned scan.
  */
final class ProvenanceQueries(spark: SparkSession, storeDir: String) {
  import MetaParquet.{Executions, FileGroupReferences, Tasks, TransformationGroups}
  import ProvenanceQueries._

  private def table(name: String, schema: StructType): DataFrame =
    spark.read.schema(schema).parquet(s"$storeDir/$name")

  def executions: DataFrame = table(Executions.name, Executions.schema)

  /** The execution's task rows: a local frame read on the driver, so
    * collecting, filtering or broadcasting it runs no Spark job.
    */
  def tasks(executionId: String): DataFrame =
    MetaParquet.read(spark, storeDir, Tasks, executionId)

  /** Element rows: a pruned scan of the execution's partition. Element
    * ids are unique within an execution when written — random ids for
    * typed records, (execution, task, key)-scoped ids for file and
    * streaming elements, a replayed streaming micro-batch REPLACES its
    * committed files (StreamingProvenance), and relational frames key
    * their ids on the caller's unique key columns — so no read-side
    * dedup runs here. A store written before element ids were kept
    * unique may still hold streaming-replay duplicates, and this shows
    * them.
    */
  def elements(executionId: String): DataFrame =
    table(ElementsTable, ElementSchema).filter(col("execution_id") === executionId)

  /** (task, parent) pairs of the execution's task DAG, from its local
    * task rows.
    */
  private def taskEdges(executionId: String): Seq[(String, String)] =
    tasks(executionId).select(col("task_id"), col("dependencies")).collect()
      .toSeq.flatMap(r =>
        Option(r.getSeq[String](1)).getOrElse(Nil).map(r.getString(0) -> _))

  /** Task-level dependency edges — the reference's `DependenciesOfTask`
    * table as a view over tasks.dependencies
    * (CassandraDatabaseScript.cql:49-54). A local frame, built on the
    * driver.
    */
  def taskDependencies(executionId: String): DataFrame = {
    import spark.implicits._
    taskEdges(executionId).toDF("target", "source")
  }

  /** Record-level lineage edges — the reference's
    * `DependenciesOfDataElement` (cql:56-62) as a view.
    */
  def elementDependencies(executionId: String): DataFrame =
    elements(executionId)
      .select(col("task_id"), col("element_id").as("target"),
              explode(col("deps")).as("source"))

  /** Prospective (task) dataflow graph: nodes + edges
    * (reference: TaskAPICtrl.kt:22-36). A local frame, built on the
    * driver from the execution's task rows.
    */
  def taskGraph(executionId: String): DataFrame = {
    val nodes = tasks(executionId)
      .select(col("task_id"), col("description"), col("transformation_type"))
      .collect().toSeq
      .map(r => Row(r.getString(0), r.getString(1), r.getString(2), "task", null))
    val edges = taskEdges(executionId)
      .map { case (target, source) => Row(target, null, null, "edge", source) }
    spark.createDataFrame((nodes ++ edges).asJava, TaskGraphSchema)
  }

  /** Full retrospective graph: every data element (colored per task) +
    * record-level edges (reference: DataElementAPICtrl.kt:41-103).
    */
  def fullGraph(executionId: String): DataFrame = {
    val nodes = elements(executionId)
      .select(col("element_id").as("id"), col("task_id"),
              to_json(col("values")).as("label"), lit("element").as("kind"),
              lit(null: String).as("source"))
    val edges = elementDependencies(executionId)
      .select(col("target").as("id"), col("task_id"),
              lit(null: String).as("label"), lit("edge").as("kind"), col("source"))
    nodes.unionByName(edges)
  }

  /** ID-FREE summary of [[fullGraph]] — element-node counts per
    * producing task DESCRIPTION and lineage-edge counts per
    * (target task, source task) description pair: the projection a
    * dashboard or a cross-run diff wants (internal element/task ids
    * differ between runs of the same pipeline; descriptions and
    * counts do not). Output: (kind, dst, src, n) ordered — `src` is
    * empty for element rows. Rows whose task has no task row are
    * dropped, as an inner join would, and so are edges to elements the
    * execution does not hold.
    *
    * When the execution's element files hold at most
    * `spark.graft.maxExportGraphRows` rows, `(task_id, element_id,
    * deps)` is read ONCE on the driver ([[ElementReader]]) and counted
    * in memory into a local frame: no Spark job. Above the fence, one
    * scan of the element table per side (nodes; edges and their source
    * elements); the task descriptions are a literal map looked up per
    * row (a broadcast, even of a local frame, runs a job), and counts
    * aggregate map-side.
    * Gate: `prov_full_graph` calls this facade and checks it against
    * a DuckDB derivation from the tracked pipeline's inputs.
    */
  def graphSummary(executionId: String): DataFrame = {
    val descs = tasks(executionId)
      .select(col("task_id"), col("description")).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    val conf = spark.sparkContext.hadoopConfiguration
    ElementReader.underFence(conf, storeDir, executionId, exportMax) match {
      case Some(files) => localGraphSummary(conf, files, executionId, descs)
      case None =>
        val els = elements(executionId)
        val desc = typedLit(descs)
        def known(task: String) = map_contains_key(desc, col(task))
        val nodes = els.select(col("task_id")).filter(known("task_id"))
          .groupBy(desc(col("task_id")).as("dst"))
          .agg(count(lit(1)).as("n"))
          .select(lit("element").as("kind"), col("dst"), lit("").as("src"), col("n"))
        val edges = els.select(col("task_id"), explode(col("deps")).as("source"))
          .join(els.select(col("element_id").as("source"), col("task_id").as("src_tid")),
            "source")
          .filter(known("task_id") && known("src_tid"))
          .groupBy(desc(col("task_id")).as("dst"), desc(col("src_tid")).as("src"))
          .agg(count(lit(1)).as("n"))
          .select(lit("edge").as("kind"), col("dst"), col("src"), col("n"))
        nodes.unionByName(edges).orderBy(col("kind"), col("dst"), col("src"))
    }
  }

  /** [[graphSummary]] of an execution under the fence, counted on the
    * driver: the Spark path's inner join becomes a lookup of each dep in
    * an element id → producing tasks map (all of them, so a store
    * holding duplicate ids counts them as the join would), and rows sort
    * in Spark's string order (UTF-8 bytes, nulls first).
    */
  private def localGraphSummary(conf: Configuration, files: Seq[FileStatus],
                                executionId: String,
                                descs: Map[String, String]): DataFrame = {
    val els = mutable.ArrayBuffer.empty[(String, String, Seq[String])]
    ElementReader.foreach(conf, files, executionId, Seq("task_id", "element_id", "deps")) {
      e => els += ((e.task_id, e.element_id, Option(e.deps).getOrElse(Nil)))
    }
    val producers = els.groupMap(_._2)(_._1)
    def counts[K](keys: Iterable[K]) = keys.groupMapReduce(identity)(_ => 1L)(_ + _).toSeq
    val nodes = counts(els.flatMap(e => descs.get(e._1)))
    val edges = counts(for {
      (task, _, deps) <- els; dst <- descs.get(task).toSeq; dep <- deps if dep != null
      src <- producers.getOrElse(dep, Nil).flatMap(descs.get)
    } yield (dst, src))
    val utf8: Ordering[String] = Ordering.by((s: String) => Option(s).map(UTF8String.fromString))(
      Ordering.Option(Ordering.fromLessThan[UTF8String](_.compareTo(_) < 0)))
    // "edge" sorts before "element"
    val rows = edges.sortBy(_._1)(Ordering.Tuple2(utf8, utf8))
      .map { case ((d, s), n) => Row("edge", d, s, n) } ++
      nodes.sortBy(_._1)(utf8).map { case (d, n) => Row("element", d, "", n) }
    spark.createDataFrame(rows.asJava, GraphSummarySchema)
  }

  /** Elements produced by one task, optionally with their consumed
    * sources (reference: DataElementAPICtrl.kt:105-179). Pass-through
    * tasks (UNION etc.) own no elements; like the reference's
    * "UNION tasks expanded to parents", expandPassThrough walks up the
    * task DAG (its local task rows: no Spark job) until tasks with
    * elements are found.
    */
  def producedBy(executionId: String, taskId: String,
                 expandPassThrough: Boolean = false): DataFrame = {
    def direct(tid: String) =
      elements(executionId).filter(col("task_id") === tid)
        .select(col("element_id"), col("values"), col("deps"))
    if (!expandPassThrough) direct(taskId)
    else {
      val taskRows = tasks(executionId)
        .select(col("task_id"), col("dependencies")).collect()
        .map(r => r.getString(0) -> r.getSeq[String](1)).toMap
      val withElements = elements(executionId)
        .select(col("task_id")).distinct().collect().map(_.getString(0)).toSet
      // memoized across branches: path-local `seen` alone re-traverses
      // shared ancestors exponentially on diamond-shaped DAGs
      val memo = scala.collection.mutable.Map[String, Seq[String]]()
      def expand(tid: String, seen: Set[String]): Seq[String] =
        memo.getOrElseUpdate(tid,
          if (withElements.contains(tid)) Seq(tid)
          else taskRows.getOrElse(tid, Seq.empty)
            .filterNot(seen).flatMap(p => expand(p, seen + tid)).distinct)
      expand(taskId, Set.empty) match {
        case Seq() => direct(taskId)
        case tids  => tids.map(direct).reduce(_ unionByName _)
      }
    }
  }

  /** Record value table: header from Task.schema_fields + the value
    * grid (reference: DataElementAPICtrl.kt:181-233). The header rows
    * are read on the driver and exploded from a literal — joining them,
    * even as a broadcast local frame, would run a job — so a task
    * without a task row yields no rows, as an inner join would.
    */
  def valueTable(executionId: String, taskId: String): DataFrame = {
    val header = tasks(executionId).filter(col("task_id") === taskId)
      .select(col("schema_fields")).collect().map(_.getSeq[String](0)).toSeq
    producedBy(executionId, taskId)
      .select(col("element_id"), explode(typedLit(header)).as("schema_fields"),
              col("values"))
      .select(col("element_id"), col("schema_fields"),
              explode(col("values")).as("row_values"))
  }

  /** Multi-hop lineage closure of one element (ancestors): `(id, hop)`
    * with `hop` the minimum distance, up to `maxHops`. Computed by
    * [[closure]]; the result is a checkpointed frame, never a local one.
    */
  def lineageOf(executionId: String, elementId: String, maxHops: Int = 20): DataFrame =
    closure(executionId, elementId, maxHops, backward = true)

  /** Forward closure: everything derived from one element (impact
    * analysis — the symmetric query to lineageOf).
    */
  def descendantsOf(executionId: String, elementId: String, maxHops: Int = 20): DataFrame =
    closure(executionId, elementId, maxHops, backward = false)

  /** Minimum-hop BFS from `elementId` over the execution's
    * `(element_id, deps)` adjacency; the first hop always runs, and
    * duplicate element rows (a store written before element ids were
    * kept unique at write time may hold streaming replays) are absorbed.
    *
    * When the execution's element files hold at most
    * `spark.graft.maxExportGraphRows` rows (footer counts), the
    * adjacency is read ONCE on the driver ([[ElementReader]], no Spark
    * job) and the BFS runs in memory; the result is parallelized into
    * one partition and `localCheckpoint`ed — one job in all. Above the
    * fence, [[distributedClosure]] runs.
    */
  private def closure(executionId: String, elementId: String, maxHops: Int,
                      backward: Boolean): DataFrame = {
    import spark.implicits._
    val conf = spark.sparkContext.hadoopConfiguration
    ElementReader.underFence(conf, storeDir, executionId, exportMax) match {
      case None => distributedClosure(executionId, elementId, maxHops, backward)
      case Some(files) =>
        val adjacency = mutable.HashMap.empty[String, mutable.ArrayBuffer[String]]
        ElementReader.foreach(conf, files, executionId, Seq("element_id", "deps")) { e =>
          Option(e.deps).getOrElse(Nil).foreach { d =>
            val (from, to) = if (backward) (e.element_id, d) else (d, e.element_id)
            adjacency.getOrElseUpdate(from, mutable.ArrayBuffer.empty) += to
          }
        }
        val reached = mutable.LinkedHashMap.empty[String, Int]
        var frontier = Seq(elementId)
        var hop = 0
        while (frontier.nonEmpty && hop < math.max(maxHops, 1)) {
          hop += 1
          frontier = frontier.flatMap(adjacency.getOrElse(_, Nil)).distinct
            .filterNot(reached.contains)
          frontier.foreach(reached(_) = hop)
        }
        spark.sparkContext.parallelize(reached.toSeq, 1).toDF("id", "hop")
          .localCheckpoint()
    }
  }

  /** Co-partitioned BFS (the SparkTC / Pregel pattern), for executions
    * above the driver fence. The execution's
    * `(element_id, deps)` rows are read once and turned into
    * `(start, follow)` adjacency pairs, hash-partitioned and persisted.
    * The frontier carries the same partitioner, so each hop is a
    * narrow join with the adjacency followed by one shuffle
    * (`reduceByKey(min hop)`) and a narrow `subtractByKey` of the ids
    * already visited — one Spark job (the frontier's `count`) per hop.
    * The frontier dedup also absorbs duplicate element rows, which a
    * store written before element ids were kept unique at write time
    * may hold (streaming replays appended a second copy).
    *
    * The union of the hop frontiers is `localCheckpoint`ed
    * EXECUTOR-side before the caches drop: the returned frame never
    * replays the iteration and never funnels the closure through the
    * driver (a full-corpus impact analysis can be millions of rows).
    * Every intermediate cache is released even when a hop fails.
    */
  private def distributedClosure(executionId: String, elementId: String,
                                 maxHops: Int, backward: Boolean): DataFrame = {
    import spark.implicits._
    val sc = spark.sparkContext
    val part = new HashPartitioner(sc.defaultParallelism)
    val cached = scala.collection.mutable.ArrayBuffer.empty[RDD[_]]
    def keep[R <: RDD[_]](r: R): R = {
      cached += r.persist(StorageLevel.MEMORY_AND_DISK); r
    }
    val debug = sys.env.contains("GRAFT_PROV_DEBUG")
    try {
      val adjacency = keep(
        elements(executionId)
          .select(col("element_id"), col("deps")).as[(String, Seq[String])]
          .rdd.flatMap { case (id, deps) =>
            Option(deps).getOrElse(Nil).map(d =>
              if (backward) (id, d) else (d, id))
          }
          .partitionBy(part))
      val levels = scala.collection.mutable.ArrayBuffer.empty[RDD[(String, Int)]]
      var frontier: RDD[(String, Int)] =
        sc.parallelize(Seq(elementId -> 0), 1).partitionBy(part)
      var hop = 0
      var more = true
      // maxHops < 1 still runs the first hop
      while (more && hop < math.max(maxHops, 1)) {
        hop += 1
        val t0 = System.nanoTime()
        val reached = frontier.join(adjacency, part)
          .map { case (_, (h, next)) => (next, h + 1) }
          .reduceByKey(part, math.min(_, _))
        val fresh = keep(
          if (levels.isEmpty) reached
          else reached.subtractByKey(sc.union(levels.toSeq), part))
        val n = fresh.count()
        if (debug)
          System.err.println(f"[provq] hop $hop: $n new ids in ${(System.nanoTime() - t0) / 1e6}%.0f ms")
        more = n > 0
        if (more) { levels += fresh; frontier = fresh }
      }
      val all =
        if (levels.isEmpty) sc.emptyRDD[(String, Int)] else sc.union(levels.toSeq)
      all.toDF("id", "hop").localCheckpoint()
    } finally cached.foreach(_.unpersist())
  }

  /** Task detail + 1-hop neighborhood: the task row plus its parents and
    * children (reference: TaskAPICtrl.kt:38-61), joined over the local
    * task frame.
    */
  def taskDetail(executionId: String, taskId: String): DataFrame = {
    val all = tasks(executionId)
    val self = all.filter(col("task_id") === taskId)
      .withColumn("relation", lit("self"))
    val parents = all.alias("t")
      .join(self.select(explode(col("dependencies")).as("pid")),
        col("t.task_id") === col("pid"))
      .select(col("t.*")).withColumn("relation", lit("parent"))
    val children = all.filter(array_contains(col("dependencies"), taskId))
      .withColumn("relation", lit("child"))
    self.unionByName(parents).unionByName(children)
      .select(col("relation"), col("task_id"), col("description"),
        col("transformation_type"))
  }

  /** Files belonging to one data element's FileGroup, resolved through
    * its FileGroupReference folder in the artifact repository
    * (reference: DataElementAPICtrl.kt:235-277,316-320). The reference
    * rows are read on the driver.
    */
  def fileTreeOf(executionId: String, elementId: String,
                 repoTree: Seq[String]): Seq[String] = {
    val folder = MetaParquet.read(spark, storeDir, FileGroupReferences, executionId)
      .filter(col("element_id") === elementId)
      .select(col("folder_path")).collect().headOption
      .map(_.getString(0))
      .getOrElse(return Seq.empty)
    repoTree.filter(_.startsWith(folder + "/"))
  }

  /** Transformation groups (reference: TransformationGroup queries): a
    * local frame read on the driver.
    */
  def transformationGroups(executionId: String): DataFrame =
    MetaParquet.read(spark, storeDir, TransformationGroups, executionId)

  /** Retention: remove one execution from the store — the append-only
    * partition layout otherwise accumulates forever. Deletes the
    * execution's `execution_id=<id>` partition under every provenance
    * table (via the Hadoop FileSystem of the store path, so local dirs
    * and cluster stores behave alike), then optionally its artifacts in
    * a content-addressed store: manifests dropped, followed by a sweep
    * reclaiming objects no remaining manifest references (shared
    * objects survive — that sharing is the point of the CAS). After the
    * drop the id is invisible to every §3.3 query; other executions are
    * untouched. Dropping the LAST execution of a table removes the
    * table directory itself, returning the store to its pre-first-write
    * state.
    *
    * Drop-while-live is FORBIDDEN: a session writes its `executions`
    * row only at close(), so element partitions without an executions
    * row mean the session is (or may be) still open — a later flush
    * would silently resurrect a half-dropped partition. Such a drop
    * throws IllegalStateException. A crashed run leaves the same
    * signature and is legitimate to clean up: pass `force = true`
    * once you know no live session holds the id.
    */
  def dropExecution(executionId: String,
      artifacts: Option[graft.prov.filegroup.ContentAddressedStore] = None,
      sweepGraceMillis: Long =
        graft.prov.filegroup.ContentAddressedStore.DefaultSweepGraceMillis,
      force: Boolean = false): Unit = {
    val tables = Seq(Executions.name, Tasks.name, ElementsTable,
      TransformationGroups.name, FileGroupReferences.name)
    val conf = spark.sparkContext.hadoopConfiguration
    if (!force) {
      def partExists(t: String): Boolean = {
        val p = new org.apache.hadoop.fs.Path(
          s"$storeDir/$t/execution_id=$executionId")
        p.getFileSystem(conf).exists(p)
      }
      if (!partExists("executions") && tables.exists(partExists))
        throw new IllegalStateException(
          s"execution $executionId has provenance data but no executions " +
            "row — its session is still open (or crashed before close()). " +
            "close() the session first, or pass force = true to drop a " +
            "crashed run's leftovers.")
    }
    tables.foreach { t =>
      val part = new org.apache.hadoop.fs.Path(
        s"$storeDir/$t/execution_id=$executionId")
      val fs = part.getFileSystem(conf)
      fs.delete(part, true)
      // "empty" = no partition dirs left (writer markers like _SUCCESS
      // don't count); then remove the table dir, markers and all
      val tableDir = part.getParent
      if (fs.exists(tableDir) &&
          !fs.listStatus(tableDir).exists(st =>
            st.isDirectory && st.getPath.getName.startsWith("execution_id=")))
        fs.delete(tableDir, true)
    }
    artifacts.foreach { cas =>
      cas.dropExecution(executionId)
      cas.sweepUnreferencedObjects(sweepGraceMillis)
    }
  }

  /** JSON graph `{nodes, links}` as a string — the machine format behind
    * [[exportJson]] and the live server's `/api/graph` endpoint. A
    * DRIVER-side materialization of the full element graph by design
    * (parity with the reference's exportFile): the element files are
    * read once on the driver ([[ElementReader]], no Spark job), nodes
    * and links in file-name order. Both are fenced at [[exportMax]]: the
    * element count from footer row counts before any data page is read,
    * the element-dependency count while reading. Labels are
    * `to_json(values)`, written by the Jackson generator Spark's
    * `to_json` uses, so they are byte-identical to it.
    */
  def jsonGraph(executionId: String): String = {
    val max = exportMax
    val conf = spark.sparkContext.hadoopConfiguration
    val files = ElementReader.underFence(conf, storeDir, executionId, max)
      .getOrElse(throw overFence(executionId, "element count", max))
    val label = new CharArrayWriter
    val gen = new JsonFactory().createGenerator(label).setRootValueSeparator(null)
    def strings(xs: Seq[String]): Unit =
      if (xs == null) gen.writeNull()
      else {
        gen.writeStartArray()
        xs.foreach(x => if (x == null) gen.writeNull() else gen.writeString(x))
        gen.writeEndArray()
      }
    val nodes = new StringBuilder
    val links = new StringBuilder
    var nLinks = 0L
    ElementReader.foreach(conf, files, executionId,
        Seq("task_id", "element_id", "values", "deps")) { e =>
      val json =
        if (e.values == null) null
        else {
          gen.writeStartArray(); e.values.foreach(strings); gen.writeEndArray()
          gen.flush()
          try label.toString finally label.reset()
        }
      if (nodes.nonEmpty) nodes += ','
      nodes ++= s"""{"id":${jstr(e.element_id)},"group":${jstr(e.task_id)},"label":${jstr(json)}}"""
      Option(e.deps).getOrElse(Nil).foreach { d =>
        nLinks += 1
        if (nLinks > max) throw overFence(executionId, "element-dependency count", max)
        if (links.nonEmpty) links += ','
        links ++= s"""{"source":${jstr(d)},"target":${jstr(e.element_id)}}"""
      }
    }
    s"""{"nodes":[$nodes],"links":[$links]}"""
  }

  /** `spark.graft.maxExportGraphRows` (default 1M): the bound on every
    * driver-side read of an execution's element graph. It fences the
    * pulls behind the JSON exports ([[jsonGraph]], the live server's
    * `/api/lineage` via [[fenced]]), and it selects the driver-side
    * [[closure]] for executions whose element files hold at most this
    * many rows. Capture over a large corpus otherwise OOMs the driver
    * with no warning.
    */
  private def exportMax: Int =
    graft.FenceConf.read(spark, "spark.graft.maxExportGraphRows", 1000000L)

  private def overFence(executionId: String, what: String,
                        max: Int): IllegalStateException =
    new IllegalStateException(
      s"execution $executionId: $what exceeds " +
        s"spark.graft.maxExportGraphRows=$max — the JSON export " +
        "materializes it on the driver. Use exportHtml's capped lens, " +
        "query the tables relationally (ProvenanceQueries / relational " +
        "provenance), or raise the conf if the driver can hold more.")

  /** Driver-side pull of a Spark-computed frame (the live server's
    * `/api/lineage`), FENCED at `spark.graft.maxExportGraphRows`
    * ([[exportMax]]; `limit(max+1)` one-pass — never
    * count-then-collect). The remedies are in the error text. The pull
    * reads through ONE partition, so the limit stops a single scan job
    * instead of growing the scan over several (the driver serializes
    * the rows anyway).
    */
  private[prov] def fenced[T](executionId: String, ds: Dataset[T],
                              what: String): Array[T] = {
    val max = exportMax
    val pulled = ds.coalesce(1).limit(max + 1).collect()
    if (pulled.length > max) throw overFence(executionId, what, max)
    pulled
  }

  /** JSON graph export `{nodes, links}` — parity with the reference's
    * driver-side exportFile (DataflowProvenance.scala:106-132).
    */
  def exportJson(executionId: String, file: String): Unit =
    java.nio.file.Files.writeString(java.nio.file.Paths.get(file),
      jsonGraph(executionId))

  /** Self-contained interactive graph page — the rendering half of the
    * reference's web UI (PagesCtrl.kt:13-73 serves dataflow/task/element
    * pages from a Spring app + Cassandra). Here the same two graphs —
    * the task DAG and the element lineage graph — render in ONE static
    * HTML file with zero external dependencies (inline vanilla-JS layered
    * DAG layout, canvas, hover tooltips, pan/zoom, task legend), so it works
    * from a file:// URL on an air-gapped cluster edge node. Element
    * count is capped (`maxElements`, breadth-stable via ordered take) —
    * the page is a lens, not a data export; [[exportJson]] remains the
    * full-fidelity machine format.
    */
  def exportHtml(executionId: String, file: String, maxElements: Int = 2000): Unit =
    java.nio.file.Files.writeString(java.nio.file.Paths.get(file),
      htmlPage(executionId, maxElements))

  /** The page string behind [[exportHtml]] and the live server's
    * `/execution/<id>` endpoint.
    */
  def htmlPage(executionId: String, maxElements: Int = 2000): String = {
    val taskRows = tasks(executionId)
      .select(col("task_id"), col("description"),
        col("transformation_type"), col("dependencies")).collect()
    val taskNodes = taskRows.map { r =>
      s"""{"id":${jstr(r.getString(0))},"label":${jstr(r.getString(1))},"type":${jstr(r.getString(2))}}"""
    }
    val taskLinks = taskRows.flatMap { r =>
      r.getSeq[String](3).map(p =>
        s"""{"source":${jstr(p)},"target":${jstr(r.getString(0))}}""")
    }
    val elRows = elements(executionId)
      .select(col("element_id"), col("task_id"), to_json(col("values")))
      .orderBy(col("task_id"), col("element_id"))
      .limit(maxElements).collect()
    val elNodes = elRows.map { r =>
      s"""{"id":${jstr(r.getString(0))},"group":${jstr(r.getString(1))},"label":${jstr(r.getString(2))}}"""
    }
    // the kept-node filter runs IN SPARK (two broadcast semi-joins
    // against the ≤ maxElements kept ids) so the edge pull is bounded
    // by the page's own cap — the pre-round-16 code collected the
    // FULL edge set and filtered driver-side, the exact unbounded
    // pull the element cap exists to prevent (round-16 prov audit)
    val keptDf = {
      import spark.implicits._
      elRows.map(_.getString(0)).toSeq.toDF("kept_id")
    }
    val elLinks = elementDependencies(executionId)
      .join(broadcast(keptDf.select(col("kept_id").as("source"))),
        Seq("source"), "left_semi")
      .join(broadcast(keptDf.select(col("kept_id").as("target"))),
        Seq("target"), "left_semi")
      .select(col("source"), col("target")).collect()
      .map(r => s"""{"source":${jstr(r.getString(0))},"target":${jstr(r.getString(1))}}""")
    val total = elements(executionId).count()
    ProvenanceHtml.page(
      executionId,
      s"""{"nodes":[${taskNodes.mkString(",")}],"links":[${taskLinks.mkString(",")}]}""",
      s"""{"nodes":[${elNodes.mkString(",")}],"links":[${elLinks.mkString(",")}]}""",
      shown = elRows.length, total = total)
  }
}

private[prov] object ProvenanceQueries {

  val ElementsTable = "data_elements"

  /** `data_elements`: [[ElementRow]]'s columns in file order, then the
    * path-embedded `execution_id` — the schema every element writer
    * produces and partition discovery infers.
    */
  val ElementSchema: StructType = MetaParquet.partitioned(
    Encoders.product[ElementRow].schema.filterNot(_.name == "execution_id"))

  private val TaskGraphSchema: StructType = StructType(Seq(
    StructField("id", StringType), StructField("description", StringType),
    StructField("transformation_type", StringType),
    StructField("kind", StringType, nullable = false),
    StructField("source", StringType)))

  private val GraphSummarySchema: StructType = StructType(Seq(
    StructField("kind", StringType, nullable = false), StructField("dst", StringType),
    StructField("src", StringType), StructField("n", LongType, nullable = false)))
}
