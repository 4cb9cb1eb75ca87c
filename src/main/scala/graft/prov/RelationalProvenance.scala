package graft.prov

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, Dataset, GraftSqlBridge}
import org.apache.spark.sql.catalyst.expressions.Cast
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType
import org.apache.spark.storage.StorageLevel

/** Per-record provenance for the RELATIONAL surface — beyond reference
  * parity: the reference's SQL layer gains no provenance at all (its
  * `sql/` tree is only mechanically adapted; SparkPlan/codegen contain
  * zero DataElement references — SURVEY §1.3). Here a DataFrame pipeline
  * declared through [[ProvFrame]] combinators carries two extra columns,
  * `_prov_id` and `_prov_deps`, through the ordinary Catalyst plan:
  *
  *  - element ids are DETERMINISTIC — `md5(execution | task | key)` —
  *    not random UUIDs, so a recomputed partition mints identical ids
  *    and NOTHING needs to be cached for lineage consistency. The typed
  *    [[ProvDataset]] persists every stage because its ids are random
  *    (reference semantics, DataElement.scala:78-86); at 100 TB that
  *    cache pressure is the difference between lineage being free and
  *    lineage pinning the working set. Call [[ProvFrame.materialize]]
  *    only to avoid recomputing a long chain several actions re-read.
  *  - element rows are captured INSIDE the action, like the typed
  *    layer's: [[ProvFrame.result]] puts an [[ElementTee]] over every
  *    unflushed element-creating frame of the chain, which stages the
  *    frame's rows into [[ElementSideWriter]] as they pass, and flush
  *    commits the staged files. The tees record every column of their
  *    frames, so the action reads the rows and columns the elements
  *    hold, not only those the result needs — one scan of the source
  *    serves both the result and the capture. A frame no action
  *    fully computed (never acted on, `take`, `limit`) is completed at
  *    flush by one pass over its teed plan.
  *  - provenance columns are ordinary projections, so Catalyst still
  *    pushes user predicates into the scan and prunes unread columns
  *    (asserted in RelationalProvenanceSpec) — the SURVEY §4.2 concern
  *    ("keep `_prov` from blocking pushdown") holds by construction
  *    because `_prov_id` references only the declared key columns.
  *
  * Lineage conventions match the typed layer: element-creating ops mint
  * one element per output row with the input element ids in `deps`;
  * union/sort/limit pass through (reference: UnionRDD.scala:108);
  * `ignoreIt()` splices children through to the nearest non-ignored
  * ancestors (reference: DataElement.scala:34-46). Flushing reuses the
  * same [[ProvSession]] store, so every SURVEY §3.3 query
  * ([[ProvenanceQueries]]: fullGraph, lineageOf, valueTable, …) works
  * unchanged over relational lineage.
  */
object RelationalProvenance {

  private[prov] val ID = "_prov_id"
  private[prov] val DEPS = "_prov_deps"

  /** Capture granularity for a relational pipeline — the scale lever
    * for wide frames, chosen at [[table]] and inherited by every
    * derived frame.
    *
    *  - [[Granularity.Element]] (default): one element per output row,
    *    full record-level lineage. Capture writes O(rows) element rows
    *    inside the action, which at 20M+ rows still dwarfs a codegen'd
    *    uncaptured aggregate (PARITY, ScaleBench `prov_frame`).
    *  - [[Granularity.Task]]: counts + boundaries only. The task
    *    graph (nodes, edges, schemas, descriptions) is captured
    *    exactly as before, and each element-creating task flushes ONE
    *    stats element carrying its output row count, dep-linked to
    *    its parents' stats elements — so §3.3 queries (taskGraph,
    *    taskDetail, valueTable, lineageOf/fullGraph over stats
    *    elements) still answer at task granularity. No per-row
    *    elements exist, and the per-row id/dep arithmetic collapses
    *    to constants Catalyst folds away — capture cost becomes a
    *    handful of count aggregates at flush, independent of row
    *    width and near-independent of row count. No tee is placed.
    */
  sealed trait Granularity
  object Granularity {
    case object Element extends Granularity
    case object Task extends Granularity
  }

  /** Root frame over a source DataFrame. `keyCols` must uniquely identify
    * a row (primary key); the element id derives from them, so lineage
    * survives recomputation without caching. Keys beyond the projected
    * columns cost nothing extra: they are read anyway or pruned together.
    * Rows sharing a key value mint the SAME element id (their deps merge
    * downstream) — verifying uniqueness is a full shuffle, so it is the
    * caller's contract, not a runtime check.
    */
  def table(session: ProvSession, df: DataFrame, name: String,
            keyCols: Seq[String],
            granularity: Granularity = Granularity.Element): ProvFrame = {
    require(keyCols.nonEmpty, "keyCols must name a unique row key")
    val taskLevel = granularity == Granularity.Task
    val task = session.newTask(TransformationType.MAP, Nil, s"table: $name")
    val out = df
      .withColumn(ID,
        if (taskLevel) lit("")
        else mintId(session.executionId, task.id, keyCols.map(col)))
      .withColumn(DEPS, array().cast("array<string>"))
    attach(session, task, out, Nil, taskLevel = taskLevel)
  }

  /** Deterministic element id: md5 over execution, task, and the id
    * parts. Each part is hashed FIRST — parts become fixed-width tokens
    * in the outer digest, so a NULL part (mapped to a non-hex sentinel
    * no md5 can produce), an empty string, and any re-bracketing of
    * neighboring parts all mint distinct ids.
    */
  private[prov] def mintId(executionId: String, taskId: String,
                           parts: Seq[Column]): Column =
    md5(concat_ws("",
      (lit(executionId) +: lit(taskId) +: parts.map(p =>
        when(p.isNull, lit("<null>")).otherwise(md5(p.cast("string"))))): _*))

  private[prov] def attach(session: ProvSession, task: TaskState,
                           df: DataFrame,
                           parents: Seq[ProvFrame],
                           createsElements: Boolean = true,
                           spliced: Boolean = false,
                           taskLevel: Boolean = false): ProvFrame = {
    val userCols = df.columns.filterNot(Set(ID, DEPS)).toSeq
    task.schemaFields = userCols
    task.usingDefaultSchema = false
    val frame = new ProvFrame(df, task, session, parents, spliced, taskLevel)
    if (session.captureEnabled && createsElements && !task.ignored)
      task.elements =
        // task mode: no per-row elements — a stats count is a codegen'd
        // columnar aggregate over the (constant-folded) chain, cheaper to
        // recompute per branch than to transiently cache multi-million-row
        // frames whose rows the flush never writes (measured at 20M rows:
        // caching 6.7 s vs chain-replay counts ~1.5 s)
        if (taskLevel) Elements.Stats(() => frame.statsRows())
        // element mode: the tee in `result` stages the rows inside the
        // action; flush runs the teed plan only if no action completed it
        else Elements.SideCaptured(ids => frame.teed(t => ids(t.id)))
    frame
  }

  /** Deterministic id of a task's stats element (task granularity). */
  private[prov] def statsId(executionId: String, taskId: String): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    md.update(s"$executionId${taskId}__task_stats__"
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    md.digest().map("%02x".format(_)).mkString
  }

  /** Nearest ancestors that emit a stats element, splicing through
    * pass-through, ignored, and element-granularity tasks — the dep
    * targets for a stats element's task-level lineage.
    */
  private[prov] def nearestStatsAncestors(session: ProvSession,
                                          task: TaskState): Seq[String] = {
    val seen = scala.collection.mutable.LinkedHashSet[String]()
    def walk(ids: Seq[String]): Unit = ids.foreach { id =>
      session.taskById(id).foreach { t =>
        t.elements match {
          case _: Elements.Stats => seen += t.id
          case _                 => walk(t.parents)
        }
      }
    }
    walk(task.parents)
    seen.toSeq
  }
}

/** A DataFrame with per-row provenance columns. Obtain via
  * [[RelationalProvenance.table]]; read results via [[result]].
  */
final class ProvFrame private[prov] (
    private[prov] val df: DataFrame,
    private[prov] val task: TaskState,
    val session: ProvSession,
    /** The frames this one was derived from: the chain [[result]] tees. */
    private[prov] val parents: Seq[ProvFrame],
    /** true for pass-through results: their ID/DEPS columns are already
      * normalized to child-consumable form (DEPS = real parent element
      * ids, ID = id-part token), row-wise — so a union mixing an ignored
      * and a non-ignored input stays correct per row.
      */
    private[prov] val spliced: Boolean = false,
    /** true under [[RelationalProvenance.Granularity.Task]]: no per-row
      * elements; ID/DEPS are constant placeholders (Catalyst folds the
      * arithmetic away) and flush emits one stats element per task.
      */
    private[prov] val taskLevel: Boolean = false) {

  import RelationalProvenance._

  def taskId: String = task.id
  private def spark = df.sparkSession
  private def execId = session.executionId

  /** Element id under the granularity knob: blank constant in task
    * mode (the withColumn keeps every combinator's shape uniform while
    * Catalyst constant-folds the whole minting tree away).
    */
  private def mintOrBlank(taskId: String, parts: Seq[Column]): Column =
    if (taskLevel) lit("") else mintId(execId, taskId, parts)

  /** Dep array under the knob: empty constant in task mode, so any
    * collect_set/collect_list feeding it is pruned or degenerates to a
    * one-value set.
    */
  private def depsOrBlank(deps: Column): Column =
    if (taskLevel) array().cast("array<string>") else deps

  /** User-visible columns (provenance columns stripped), over this
    * frame's plan with an [[ElementTee]] on every frame of its chain
    * whose elements are not yet flushed: the action that computes the
    * result stages those elements in its own pass. The tees record
    * every column of their frames, so the action reads the rows and
    * columns the elements hold (not only those the result needs);
    * with capture off, or once the chain is flushed, no tee is placed.
    */
  def result: DataFrame =
    teed(t => !t.flushed && t.elements.isInstanceOf[Elements.SideCaptured])
      .drop(ID, DEPS)

  private def userCols: Seq[String] = df.columns.filterNot(Set(ID, DEPS)).toSeq

  private def plan: LogicalPlan = df.queryExecution.analyzed

  /** `df` with an [[ElementTee]] over the plan of every frame of this
    * chain (this one and its transitive parents) whose task `tee`
    * selects. Children build on their parents' `df`, so each parent's
    * analyzed plan is a subtree of this one's; the tee goes over each
    * occurrence. A parent whose subtree the analyzer rewrote (the
    * right side of a self-join) gets no tee here, and neither do the
    * parents of a materialized frame, whose cache replaces its subtree
    * only while that subtree is unchanged; flush completes them from
    * their own plans.
    */
  private[prov] def teed(tee: TaskState => Boolean): DataFrame = {
    val tees = mutable.HashMap[LogicalPlan, ProvFrame]()
    val seen = mutable.Set[ProvFrame]()
    def walk(f: ProvFrame): Unit = if (seen.add(f)) {
      if (tee(f.task)) tees(f.plan) = f
      if (f.df.storageLevel == StorageLevel.NONE) f.parents.foreach(walk)
    }
    walk(this)
    if (tees.isEmpty) df
    else {
      if (!spark.experimental.extraStrategies.contains(ElementTeeStrategy))
        spark.experimental.extraStrategies =
          spark.experimental.extraStrategies :+ ElementTeeStrategy
      def rewrite(p: LogicalPlan): LogicalPlan = {
        val q = p.mapChildren(rewrite)
        tees.get(p).fold(q)(_.teeOver(q))
      }
      GraftSqlBridge.ofRows(spark, rewrite(plan))
    }
  }

  /** This frame's tee over `child` (its plan, possibly with tees
    * inside): the element id, the deps and the user columns cast to
    * strings — one row of the values grid, the shape the reference
    * stores (DataElement.scala:146-155).
    */
  private def teeOver(child: LogicalPlan): LogicalPlan = {
    val (prov, user) = child.output.partition(a => a.name == ID || a.name == DEPS)
    def attr(n: String) = prov.find(_.name == n).get
    val tz = Some(spark.conf.get("spark.sql.session.timeZone"))
    ElementTee(attr(ID), attr(DEPS), user.map(Cast(_, StringType, tz)),
      session.sink(task.id), child)
  }

  /** The single task-granularity element: `[["__n_rows__", count]]`,
    * id = md5(execution | task | "__task_stats__") (deterministic, so
    * recomputation and flush retries mint the same id), deps = the
    * stats elements of the nearest element-creating, non-ignored
    * ancestor tasks — so fullGraph/lineageOf render the task-level DAG
    * through ordinary element dependencies. One tiny aggregate per
    * task, computed by the flush append job.
    */
  private[prov] def statsRows(): Dataset[ElementRow] = {
    val deps = RelationalProvenance
      .nearestStatsAncestors(session, task)
      .map(tid => RelationalProvenance.statsId(execId, tid))
    df.groupBy().agg(count(lit(1)).as("n")).select(
      lit(execId).as("execution_id"),
      lit(task.id).as("task_id"),
      lit(RelationalProvenance.statsId(execId, task.id))
        .as("element_id"),
      array(array(lit("__n_rows__"), col("n").cast("string"))).as("values"),
      (if (deps.isEmpty) array().cast("array<string>")
       else array(deps.map(lit): _*)).as("deps")
    ).as[ElementRow](ProvSession.elementRowEnc)
  }

  /** (dep-array contribution, id-part) of this frame as a parent: an
    * ignored parent contributes its own deps (splice-through) and a
    * deterministic digest of them for child id minting.
    */
  private def asParent: (Column, Column) =
    if (task.ignored)
      (col(DEPS), array_join(array_sort(col(DEPS)), "\u0003"))
    else if (spliced) (col(DEPS), col(ID)) // pre-normalized per row
    else (array(col(ID)), col(ID))

  /** This frame's rows normalized to child-consumable provenance form:
    * DEPS := what a child must depend on (the parent's element ids - or,
    * when this frame is ignored/spliced, the nearest non-ignored
    * ancestors' ids), ID := the id-part token for child id minting.
    * Pass-through ops route through this so an ignored input's
    * never-flushed ids are spliced out INSIDE the pass-through instead
    * of leaking to a downstream element-creating child.
    */
  private def passThroughDf: DataFrame = {
    val (pdeps, pid) = asParent
    df.select(userCols.map(col) :+ pdeps.as(DEPS) :+ pid.as(ID): _*)
  }

  /** Exclude this frame from provenance; declare BEFORE children (same
    * contract as [[ProvDataset.ignoreIt]]).
    */
  def ignoreIt(): this.type = {
    task.ignored = true
    task.elements = Elements.NoElements
    task.extraThunk = None
    this
  }

  /** Persist the provenance-carrying plan. Never needed for lineage
    * correctness (ids are deterministic) and not for capture (the action
    * on [[result]] stages the elements) — only to avoid recomputing a
    * long chain that several actions or derived frames re-read. The
    * cache is filled from the plan without tees, so this frame's
    * parents are completed by one more pass at flush.
    */
  def materialize(): this.type = { session.track(df); this }

  // ---- element-creating ops -----------------------------------------

  /** Projection (1→1 lineage). */
  def select(description: String)(cols: Column*): ProvFrame = {
    val t = session.newTask(TransformationType.MAP, Seq(task.id), description)
    val (pdeps, pid) = asParent
    val out = df
      .withColumn("_prov_pd", pdeps).withColumn("_prov_pi", pid)
      .select(cols :+ col("_prov_pd") :+ col("_prov_pi"): _*)
      .withColumn(ID, mintOrBlank(t.id, Seq(col("_prov_pi"))))
      .withColumn(DEPS, depsOrBlank(col("_prov_pd")))
      .drop("_prov_pd", "_prov_pi")
    attach(session, t, out, Seq(this), taskLevel = taskLevel)
  }

  /** Explode an array column into one row per element — flatMap-style
    * 1→N lineage on the relational surface (the typed layer's flatMap
    * convention, reference MapPartitionsRDD 1→N deps). Every output row
    * is a NEW element depending on its input row's element; the
    * within-row position is folded into the id, so the N children of
    * one parent mint N DISTINCT deterministic ids even when array
    * values repeat (two equal tokens in one document stay two
    * elements). The exploded column lands as `outputCol` next to the
    * untouched user columns; at scale this is the same generator Spark
    * plans for any explode — provenance adds two projected columns,
    * no extra shuffle.
    */
  def explodeCol(arrayCol: Column, outputCol: String,
                 description: String = "explode"): ProvFrame = {
    require(!userCols.contains(outputCol) && !outputCol.startsWith("_prov_"),
      s"explodeCol output '$outputCol' collides with an existing column; " +
        "pick a fresh name (the source columns stay in the output)")
    val t = session.newTask(TransformationType.FLAT_MAP, Seq(task.id),
      description)
    val (pdeps, pid) = asParent
    val out = df
      .withColumn("_prov_pd", pdeps).withColumn("_prov_pi", pid)
      .select(userCols.map(col) ++ Seq(col("_prov_pd"), col("_prov_pi"),
        posexplode(arrayCol).as(Seq("_prov_pos", outputCol))): _*)
      .withColumn(ID, mintOrBlank(t.id,
        Seq(col("_prov_pi"), col("_prov_pos").cast("string"))))
      .withColumn(DEPS, depsOrBlank(col("_prov_pd")))
      .drop("_prov_pd", "_prov_pi", "_prov_pos")
    attach(session, t, out, Seq(this), taskLevel = taskLevel)
  }

  /** Filter. With `ProvSession.captureDropped`, rejected rows feed
    * synthetic per-partition "don't-pass" elements exactly like the
    * typed layer (reference: MapPartitionsRDD.scala:102-125) — their
    * ids are a digest of the sorted dropped ids, so they too are
    * deterministic. A NULL predicate counts as dropped (SQL filter
    * semantics).
    */
  def filter(cond: Column, description: String = "filter"): ProvFrame = {
    val t = session.newTask(TransformationType.FILTER, Seq(task.id),
      s"$description: $cond")
    val (pdeps, pid) = asParent
    val out = df.filter(cond)
      .withColumn("_prov_pd", pdeps).withColumn("_prov_pi", pid)
      .withColumn(ID, mintOrBlank(t.id, Seq(col("_prov_pi"))))
      .withColumn(DEPS, depsOrBlank(col("_prov_pd")))
      .drop("_prov_pd", "_prov_pi")
    val frame = attach(session, t, out, Seq(this), taskLevel = taskLevel)
    if (session.captureEnabled && session.captureDropped && !taskLevel) {
      val eid = execId
      val tid = t.id
      val desc = description
      val droppedDeps = df.filter(!coalesce(cond, lit(false)))
        .select(pdeps.as("_prov_pd"), spark_partition_id().as("_prov_part"))
      t.extraThunk = Some(() =>
        droppedDeps
          .groupBy(col("_prov_part"))
          .agg(array_sort(flatten(collect_list(col("_prov_pd")))).as("deps"))
          .select(
            lit(eid).as("execution_id"),
            lit(tid).as("task_id"),
            md5(concat_ws("", lit(tid),
              array_join(col("deps"), ""))).as("element_id"),
            array(array(lit(s"don't-pass: $desc"))).as("values"),
            col("deps"))
          .as[ElementRow](ProvSession.elementRowEnc))
    }
    frame
  }

  /** distinct: one element per surviving row whose deps are ALL input
    * elements carrying that value (same dep-merging semantics as the
    * typed layer's distinct — reference: RDD.scala:534-550).
    */
  def distinct(description: String = "distinct"): ProvFrame = {
    val t = session.newTask(TransformationType.DISTINCT, Seq(task.id),
      description)
    val (pdeps, pid) = asParent
    val cols = userCols
    val base = df.withColumn("_prov_pd", pdeps).withColumn("_prov_pi", pid)
    val depAgg =
      if (task.ignored) array_distinct(flatten(collect_list(col("_prov_pd"))))
      else collect_set(col("_prov_pi"))
    val out = base.groupBy(cols.map(col): _*)
      .agg(depAgg.as(DEPS))
      .withColumn(DEPS, depsOrBlank(col(DEPS)))
      .withColumn(ID, mintOrBlank(t.id, cols.map(col)))
    attach(session, t, out, Seq(this), taskLevel = taskLevel)
  }

  /** Equi-join on shared column names; each output row depends on both
    * input rows (outer-side NULLs contribute no dep).
    */
  def join(other: ProvFrame, usingColumns: Seq[String],
           joinType: String = "inner",
           description: String = "join"): ProvFrame =
    joinInternal(other, Left(usingColumns), joinType, description)

  /** General-condition join (condition over the two frames' columns). */
  def join(other: ProvFrame, cond: Column, joinType: String,
           description: String): ProvFrame =
    joinInternal(other, Right(cond), joinType, description)

  private def joinInternal(other: ProvFrame,
                           on: Either[Seq[String], Column],
                           joinType: String,
                           description: String): ProvFrame = {
    require(taskLevel == other.taskLevel,
      "cannot join frames of different capture granularity")
    val ttype = joinType.toLowerCase.replace("_", "") match {
      case "inner"               => TransformationType.JOIN
      case "left" | "leftouter"  => TransformationType.LEFT_OUTER_JOIN
      case "right" | "rightouter" => TransformationType.RIGHT_OUTER_JOIN
      case "full" | "fullouter" | "outer" => TransformationType.FULL_OUTER_JOIN
      case "cross"               => TransformationType.CARTESIAN
      case _                     => TransformationType.JOIN
    }
    val t = session.newTask(ttype, Seq(task.id, other.task.id), description)
    val (ldeps, lid) = asParent
    val (rdeps, rid) = other.asParent
    val l = df.withColumn("_prov_ld", ldeps).withColumn("_prov_li", lid)
      .drop(ID, DEPS)
    val r = other.df.withColumn("_prov_rd", rdeps).withColumn("_prov_ri", rid)
      .drop(ID, DEPS)
    val joined = on match {
      case Left(cols) => l.join(r, cols, joinType)
      case Right(c)   => l.join(r, c, joinType)
    }
    val out = joined
      .withColumn(ID, mintOrBlank(t.id,
        Seq(col("_prov_li"), col("_prov_ri"))))
      .withColumn(DEPS, depsOrBlank(flatten(
        org.apache.spark.sql.functions.filter(
          array(col("_prov_ld"), col("_prov_rd")), _.isNotNull))))
      .drop("_prov_ld", "_prov_li", "_prov_rd", "_prov_ri")
    attach(session, t, out, Seq(this, other), taskLevel = taskLevel)
  }

  /** Grouped aggregation: one element per group whose deps are ALL
    * contributing input elements — the dep-unioning combiner semantics
    * of the reference's shuffle path (ExternalSorter.scala:400-475)
    * expressed as `collect_set` riding the SAME shuffle as the user
    * aggregates (partial aggregation applies; no insert-then-delete).
    * At extreme group sizes the dep set is the scale cost — groups are
    * derivable from the group key, so wide pipelines can `ignoreIt()`
    * upstream or aggregate from a keyed source instead.
    */
  def groupByAgg(keys: Seq[Column], aggs: Seq[Column],
                 description: String = "groupByAgg"): ProvFrame = {
    val t = session.newTask(TransformationType.AGGREGATE_BY_KEY,
      Seq(task.id), description)
    val (pdeps, pid) = asParent
    val base = df.withColumn("_prov_pd", pdeps).withColumn("_prov_pi", pid)
    val depAgg =
      if (task.ignored) array_distinct(flatten(collect_list(col("_prov_pd"))))
      else collect_set(col("_prov_pi"))
    val grouped = base.groupBy(keys: _*)
      .agg(aggs.head, (aggs.tail :+ depAgg.as(DEPS)): _*)
    val keyNames = grouped.columns.take(keys.length).toSeq
    val out = grouped
      .withColumn(DEPS, depsOrBlank(col(DEPS)))
      .withColumn(ID, mintOrBlank(t.id, keyNames.map(col)))
    attach(session, t, out, Seq(this), taskLevel = taskLevel)
  }

  /** Windowed running aggregates with EXACT frame lineage — a surface
    * neither the reference nor its typed mirror has (SURVEY §2.10: the
    * reference has no window functions at all). Each output row is its
    * input row extended with `aggs` evaluated over the frame
    * [unbounded preceding, current row] of (partitionBy, orderBy); its
    * deps are ALL frame rows' elements, captured by a
    * `collect_list(_prov_id)` window riding the SAME sort — lineage
    * costs no extra shuffle, exactly like the groupByAgg convention.
    * Frame lineage grows linearly with frame length; for long frames
    * `ignoreIt()` upstream bounds it the usual way.
    */
  def windowed(partitionBy: Seq[Column], orderBy: Seq[Column],
               aggs: Seq[(String, Column)],
               description: String = "windowed"): ProvFrame = {
    require(aggs.nonEmpty, "windowed needs at least one (name, aggregate)")
    val t = session.newTask(TransformationType.SHUFFLED, Seq(task.id),
      description)
    val (pdeps, pid) = asParent
    // deterministic-recomputation invariant: with duplicate
    // (partitionBy, orderBy) keys a ROWS frame depends on tie order, so
    // recomputation (e.g. at flush) could pair different deps with the
    // collected aggregates. `_prov_pi` (itself deterministic) is
    // appended as the final sort key so the frame assignment is total —
    // no uniqueness contract needed from the caller's orderBy.
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(partitionBy: _*).orderBy(orderBy :+ col("_prov_pi"): _*)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val frameDeps =
      if (task.ignored) array_distinct(flatten(collect_list(pdeps).over(w)))
      else collect_list(pid).over(w)
    val base = df.withColumn("_prov_pi", pid)
    val withAggs = aggs.foldLeft(base) { case (acc, (n, a)) =>
      acc.withColumn(n, a.over(w))
    }
    val out = withAggs
      .withColumn(ID, mintOrBlank(t.id, Seq(col("_prov_pi"))))
      .withColumn(DEPS, depsOrBlank(frameDeps))
      .drop("_prov_pi")
    attach(session, t, out, Seq(this), taskLevel = taskLevel)
  }

  // ---- pass-through ops (no elements; reference: UnionRDD.scala:108) --

  def union(other: ProvFrame, description: String = "union"): ProvFrame = {
    require(taskLevel == other.taskLevel,
      "cannot union frames of different capture granularity")
    val t = session.newTask(TransformationType.UNION,
      Seq(task.id, other.task.id), description)
    attach(session, t, passThroughDf.unionByName(other.passThroughDf),
      Seq(this, other), createsElements = false, spliced = true, taskLevel = taskLevel)
  }

  def orderBy(cols: Column*): ProvFrame = {
    val t = session.newTask(TransformationType.SORT_BY_KEY, Seq(task.id), "orderBy")
    attach(session, t, passThroughDf.orderBy(cols: _*), Seq(this),
      createsElements = false, spliced = true, taskLevel = taskLevel)
  }

  def limit(n: Int): ProvFrame = {
    val t = session.newTask(TransformationType.COALESCED, Seq(task.id), s"limit($n)")
    attach(session, t, passThroughDf.limit(n), Seq(this),
      createsElements = false, spliced = true, taskLevel = taskLevel)
  }
}
