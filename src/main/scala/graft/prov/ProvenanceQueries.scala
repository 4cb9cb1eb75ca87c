package graft.prov

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** The reference's query surface (SURVEY §3.3 — the Kotlin/Spring web
  * app's endpoints over Cassandra, DataElementAPICtrl.kt /
  * TaskAPICtrl.kt / ExecutionAPICtrl.kt) re-expressed as plain Spark SQL
  * over the parquet provenance store. Each method returns a DataFrame —
  * 1-hop graph expansions are joins; multi-hop lineage is a
  * co-partitioned BFS over the execution's adjacency, one Spark job
  * per hop.
  */
final class ProvenanceQueries(spark: SparkSession, storeDir: String) {

  private def table(name: String): DataFrame =
    spark.read.parquet(s"$storeDir/$name")

  def executions: DataFrame = table("executions")

  def tasks(executionId: String): DataFrame =
    table("tasks").filter(col("execution_id") === executionId)

  /** Element rows. The store is append-only and streaming capture is
    * at-least-once (a replayed micro-batch re-appends byte-identical
    * rows with deterministic ids — StreamingProvenance), so duplicates
    * collapse here at read time on element_id; batch-captured ids are
    * unique, for which this is a no-op.
    */
  def elements(executionId: String): DataFrame =
    table("data_elements").filter(col("execution_id") === executionId)
      .dropDuplicates("element_id")

  /** Task-level dependency edges — the reference's `DependenciesOfTask`
    * table as a view over tasks.dependencies
    * (CassandraDatabaseScript.cql:49-54).
    */
  def taskDependencies(executionId: String): DataFrame =
    tasks(executionId)
      .select(col("task_id").as("target"), explode(col("dependencies")).as("source"))

  /** Record-level lineage edges — the reference's
    * `DependenciesOfDataElement` (cql:56-62) as a view.
    */
  def elementDependencies(executionId: String): DataFrame =
    elements(executionId)
      .select(col("task_id"), col("element_id").as("target"),
              explode(col("deps")).as("source"))

  /** Prospective (task) dataflow graph: nodes + edges
    * (reference: TaskAPICtrl.kt:22-36).
    */
  def taskGraph(executionId: String): DataFrame = {
    val nodes = tasks(executionId)
      .select(col("task_id").as("id"), col("description"),
              col("transformation_type"), lit("task").as("kind"),
              lit(null: String).as("source"))
    val edges = taskDependencies(executionId)
      .select(col("target").as("id"), lit(null: String).as("description"),
              lit(null: String).as("transformation_type"), lit("edge").as("kind"),
              col("source"))
    nodes.unionByName(edges)
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
    * empty for element rows. Scale: counts aggregate map-side over
    * the element/edge tables; the only joins are against the
    * O(#tasks) description table (broadcast-sized by construction).
    * Gate: `prov_full_graph` calls this facade and checks it against
    * a DuckDB derivation from the tracked pipeline's inputs.
    */
  def graphSummary(executionId: String): DataFrame = {
    val g = fullGraph(executionId)
    val desc = tasks(executionId)
      .select(col("task_id"), col("description"))
    val srcTask = elements(executionId)
      .select(col("element_id").as("source"),
        col("task_id").as("src_tid"))
    val nodes = g.filter(col("kind") === "element")
      .join(desc, "task_id")
      .groupBy(col("kind"), col("description").as("dst"))
      .agg(count(lit(1)).as("n"))
      .withColumn("src", lit(""))
    val edges = g.filter(col("kind") === "edge")
      .join(desc, "task_id")
      .join(srcTask, "source")
      .join(desc.select(col("task_id").as("src_tid"),
        col("description").as("src")), "src_tid")
      .groupBy(col("kind"), col("description").as("dst"), col("src"))
      .agg(count(lit(1)).as("n"))
    nodes.select(col("kind"), col("dst"), col("src"), col("n"))
      .unionByName(edges.select(col("kind"), col("dst"), col("src"),
        col("n")))
      .orderBy(col("kind"), col("dst"), col("src"))
  }

  /** Elements produced by one task, optionally with their consumed
    * sources (reference: DataElementAPICtrl.kt:105-179). Pass-through
    * tasks (UNION etc.) own no elements; like the reference's
    * "UNION tasks expanded to parents", expandPassThrough walks up the
    * task DAG until tasks with elements are found.
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

  /** Record value table: header from Task.schema_fields + the value grid
    * (reference: DataElementAPICtrl.kt:181-233).
    */
  def valueTable(executionId: String, taskId: String): DataFrame = {
    val header = tasks(executionId).filter(col("task_id") === taskId)
      .select(col("task_id"), col("schema_fields"))
    producedBy(executionId, taskId)
      .select(lit(taskId).as("task_id"), col("element_id"),
              explode(col("values")).as("row_values"))
      .join(broadcast(header), "task_id")
      .select(col("element_id"), col("schema_fields"), col("row_values"))
  }

  /** Multi-hop lineage closure of one element (ancestors): `(id, hop)`
    * with `hop` the minimum distance, up to `maxHops`. Computed by the
    * co-partitioned BFS of [[closure]]; the result is distributed.
    */
  def lineageOf(executionId: String, elementId: String, maxHops: Int = 20): DataFrame =
    closure(executionId, elementId, maxHops, backward = true)

  /** Forward closure: everything derived from one element (impact
    * analysis — the symmetric query to lineageOf).
    */
  def descendantsOf(executionId: String, elementId: String, maxHops: Int = 20): DataFrame =
    closure(executionId, elementId, maxHops, backward = false)

  /** Co-partitioned BFS (the SparkTC / Pregel pattern). The execution's
    * `(element_id, deps)` rows are read once and turned into
    * `(start, follow)` adjacency pairs, hash-partitioned and persisted.
    * The frontier carries the same partitioner, so each hop is a
    * narrow join with the adjacency followed by one shuffle
    * (`reduceByKey(min hop)`) and a narrow `subtractByKey` of the ids
    * already visited — one Spark job (the frontier's `count`) per hop.
    * The frontier dedup also absorbs the duplicate element rows an
    * at-least-once streaming replay leaves in the store, so the
    * whole-row [[elements]] dedup is not needed here.
    *
    * The union of the hop frontiers is `localCheckpoint`ed
    * EXECUTOR-side before the caches drop: the returned frame never
    * replays the iteration and never funnels the closure through the
    * driver (a full-corpus impact analysis can be millions of rows).
    * Every intermediate cache is released even when a hop fails.
    */
  private def closure(executionId: String, elementId: String, maxHops: Int,
                      backward: Boolean): DataFrame = {
    import spark.implicits._
    val sc = spark.sparkContext
    val part = new HashPartitioner(sc.defaultParallelism)
    val cached = scala.collection.mutable.ArrayBuffer.empty[RDD[_]]
    def keep[R <: RDD[_]](r: R): R = {
      cached += r.persist(StorageLevel.MEMORY_AND_DISK); r
    }
    val debug = sys.env.contains("GRAFT_PROV_DEBUG")
    try {
      // the declared read schema skips the Spark job that infers the
      // schema from parquet footers
      val adjacency = keep(
        spark.read.schema("element_id STRING, deps ARRAY<STRING>, execution_id STRING")
          .parquet(s"$storeDir/data_elements")
          .filter(col("execution_id") === executionId)
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
    * children (reference: TaskAPICtrl.kt:38-61).
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
    * (reference: DataElementAPICtrl.kt:235-277,316-320).
    */
  def fileTreeOf(executionId: String, elementId: String,
                 repoTree: Seq[String]): Seq[String] = {
    val folder = table("file_group_references")
      .filter(col("execution_id") === executionId &&
        col("element_id") === elementId)
      .select(col("folder_path")).collect().headOption
      .map(_.getString(0))
      .getOrElse(return Seq.empty)
    repoTree.filter(_.startsWith(folder + "/"))
  }

  /** Transformation groups (reference: TransformationGroup queries). */
  def transformationGroups(executionId: String): DataFrame =
    table("transformation_groups").filter(col("execution_id") === executionId)

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
    val tables = Seq("executions", "tasks", "data_elements",
      "transformation_groups", "file_group_references")
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
    * (parity with the reference's exportFile), so both pulls are
    * [[fenced]].
    */
  def jsonGraph(executionId: String): String = {
    val nodes = fenced(executionId, elements(executionId)
      .select(col("element_id").as("id"), col("task_id").as("group"),
              to_json(col("values")).as("label")), "element count")
      .map(r => s"""{"id":${jstr(r.getString(0))},"group":${jstr(r.getString(1))},"label":${jstr(r.getString(2))}}""")
    val links = fenced(executionId, elementDependencies(executionId)
      .select(col("source"), col("target")), "element-dependency count")
      .map(r => s"""{"source":${jstr(r.getString(0))},"target":${jstr(r.getString(1))}}""")
    s"""{"nodes":[${nodes.mkString(",")}],"links":[${links.mkString(",")}]}"""
  }

  /** Driver-side pull behind every JSON export ([[jsonGraph]], the live
    * server's `/api/lineage`), FENCED at a named boundary
    * (`spark.graft.maxExportGraphRows`, default 1M rows per pull,
    * `limit(max+1)` one-pass — never count-then-collect): capture over
    * a large corpus otherwise OOMs the driver here with no warning.
    * The remedies are in the error text.
    */
  private[prov] def fenced[T](executionId: String, ds: Dataset[T],
                              what: String): Array[T] = {
    val max = {
      val v = spark.conf.getOption("spark.graft.maxExportGraphRows")
        .map(_.toLong).getOrElse(1000000L)
      require(v >= 1,
        s"spark.graft.maxExportGraphRows must be >= 1, got $v")
      math.min(v, Int.MaxValue.toLong - 1).toInt
    }
    val pulled = ds.limit(max + 1).collect()
    if (pulled.length > max)
      throw new IllegalStateException(
        s"execution $executionId: $what exceeds " +
          s"spark.graft.maxExportGraphRows=$max — the JSON export " +
          "materializes it on the driver. Use exportHtml's capped lens, " +
          "query the tables relationally (ProvenanceQueries / relational " +
          "provenance), or raise the conf if the driver can hold more.")
    pulled
  }

  /** JSON graph export `{nodes, links}` — parity with the reference's
    * driver-side exportFile (DataflowProvenance.scala:106-132).
    */
  def exportJson(executionId: String, file: String): Unit =
    java.nio.file.Files.writeString(java.nio.file.Paths.get(file),
      jsonGraph(executionId))

  private def jstr(s: String): String =
    "\"" + Option(s).getOrElse("").flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '<' => "\\u003c" // keeps embedded JSON </script>-safe
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

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
