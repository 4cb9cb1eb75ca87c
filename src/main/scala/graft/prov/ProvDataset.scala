package graft.prov

import scala.reflect.ClassTag

import org.apache.parquet.io.api.Binary
import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.lit

/** A provenance-tracked typed dataset — the Spark-native replacement for
  * the reference's forked `RDD[DataElement[T]]` surface (SURVEY §2).
  *
  * Design: records flow as `ProvRecord(id, deps, value)` rows inside a
  * stock `Dataset` (Tungsten-encoded, codegen-friendly); the task DAG
  * lives on the driver; element/edge persistence happens in batched
  * parquet appends at flush (see [[ProvSession]]). No Spark internals are
  * touched.
  *
  * Lineage conventions:
  *  - element-creating ops mint a fresh id per output record and record
  *    the input element ids in `deps`;
  *  - pass-through ops (union/sort/repartition/sample) create no elements
  *    (reference: UnionRDD.scala:108);
  *  - `ignoreIt()` rewrites records to `id=""` so downstream deps splice
  *    through to the nearest non-ignored ancestors (reference:
  *    DataElement.scala:34-46, Task.scala:34-43) — see
  *    [[ProvDataset.depsOf]].
  */
final class ProvDataset[T] private[prov] (
    private[prov] var ds: Dataset[ProvRecord[T]],
    private[prov] val task: TaskState,
    val session: ProvSession,
    private[prov] val createsElements: Boolean = true) {

  import ProvDataset._

  /** Side-capture knobs shared with the in-plan wrapper (None when
    * capture is off or the task is pass-through/ignored at creation).
    */
  private[prov] var captureCfg: Option[CaptureConfig] = None

  private def spark = session.spark

  /** Stable id of this dataset's provenance task node. */
  def taskId: String = task.id

  // ---- provenance-control API (reference: RDD.scala:233-285) ---------

  /** Exclude this dataset from provenance; children splice through
    * (reference: RDD.scala:238-241). Call immediately after the
    * transformation, before declaring children.
    */
  def ignoreIt(): this.type = {
    task.ignored = true
    task.elements = Elements.NoElements
    task.extraThunk = None
    captureCfg.foreach(_.ignored = true)
    if (createsElements) {
      implicit val e: Encoder[ProvRecord[T]] = ds.encoder
      ds = ds.map(r => ProvRecord("", r.deps, r.value))
    }
    this
  }

  /** Attach a user record schema (reference: RDD.scala:271-275). */
  def setSchema(s: DataElementSchema[T]): this.type = {
    captureCfg.foreach(_.schema = s)
    task.schemaFields = s.fieldNames
    task.usingDefaultSchema = false
    this
  }

  /** Task description (reference: RDD.scala:281-285). */
  def setName(name: String): this.type = { task.description = name; this }

  def setTransformationType(t: String): this.type = { task.ttype = t; this }

  /** Open a composite-operator bracket on this task
    * (reference: RDD.scala:250-264; invariants of
    * TransformationGroupManager.scala:15-70).
    */
  def initTransformationGroup(g: GroupState): this.type = {
    require(g.isOpen, s"group ${g.name} is already finished")
    require(task.group.isEmpty || task.group.contains(g),
      "task already belongs to another transformation group")
    task.group = Some(g)
    g.initTasks += task.id
    g.intermediaryTasks -= task.id
    this
  }

  def finishTransformationGroup(g: GroupState): this.type = {
    require(g.isOpen, s"group ${g.name} is already finished")
    require(task.group.contains(g),
      "finishTransformationGroup must be called on a task inside the group")
    g.finishTask = Some(task.id)
    g.intermediaryTasks -= task.id
    this
  }

  // ---- element-wise transforms (SURVEY §2.3) -------------------------

  def map[U](f: T => U, description: String = "map")(
      implicit e: Encoder[ProvRecord[U]]): ProvDataset[U] = {
    val t = session.newTask(TransformationType.MAP, Seq(task.id), description)
    val out = ds.map(r => ProvRecord(ProvIds.newId(), depsOf(r), f(r.value)))
    create(out, t, session)
  }

  def flatMap[U](f: T => IterableOnce[U], description: String = "flatMap")(
      implicit e: Encoder[ProvRecord[U]]): ProvDataset[U] = {
    val t = session.newTask(TransformationType.FLAT_MAP, Seq(task.id), description)
    val out = ds.flatMap { r =>
      val deps = depsOf(r)
      f(r.value).iterator.map(u => ProvRecord(ProvIds.newId(), deps, u))
    }
    create(out, t, session)
  }

  /** filter: kept records become new elements depending on their input;
    * dropped records (opt-in via ProvSession.captureDropped) feed
    * synthetic per-partition "don't-pass" elements (reference:
    * FilterMapPartitionsRDD, MapPartitionsRDD.scala:76-127). Per
    * partition, not per task, so no single provenance row accumulates an
    * unbounded deps array at scale.
    */
  def filter(p: T => Boolean, description: String = "filter"): ProvDataset[T] = {
    val t = session.newTask(TransformationType.FILTER, Seq(task.id), description)
    implicit val e: Encoder[ProvRecord[T]] = ds.encoder
    val kept = ds.filter(r => p(r.value))
      .map(r => ProvRecord(ProvIds.newId(), depsOf(r), r.value))
    val pd = create(kept, t, session)
    if (session.captureEnabled && session.captureDropped) {
      val execId = session.executionId
      val tid = t.id
      val desc = description
      val dropped = ds.filter(r => !p(r.value))
      // dropped-record markers replay the PARENT's persisted cache with
      // the inverted predicate — deps reference existing parent ids, and
      // the marker's own random id is never referenced downstream, so
      // off-thread recompute is safe (no divergence surface)
      t.extraThunk = Some(() =>
        dropped.mapPartitions { it =>
          val ids = it.flatMap(depsOf(_)).toVector.distinct
          if (ids.isEmpty) Iterator.empty
          else Iterator(ElementRow(execId, tid, ProvIds.newId(),
            Seq(Seq(s"don't-pass: $desc")), ids))
        }(ProvSession.elementRowEnc))
    }
    pd
  }

  /** mapPartitions: outputs depend on ALL partition inputs — the same
    * all-to-all wiring the reference applies to opaque per-partition
    * functions (PipedRDD.scala:205-235 buffers likewise).
    */
  def mapPartitions[U](f: Iterator[T] => Iterator[U],
                       description: String = "mapPartitions")(
      implicit e: Encoder[ProvRecord[U]]): ProvDataset[U] = {
    val t = session.newTask(TransformationType.MAP_PARTITIONS_WITH_INDEX,
      Seq(task.id), description)
    val out = ds.mapPartitions { it =>
      val recs = it.toVector
      val ids = recs.flatMap(depsOf(_)).distinct
      f(recs.iterator.map(_.value)).map(u => ProvRecord(ProvIds.newId(), ids, u))
    }
    create(out, t, session)
  }

  def mapPartitionsWithIndex[U](f: (Int, Iterator[T]) => Iterator[U],
                                description: String = "mapPartitionsWithIndex")(
      implicit e: Encoder[ProvRecord[U]]): ProvDataset[U] = {
    val t = session.newTask(TransformationType.MAP_PARTITIONS_WITH_INDEX,
      Seq(task.id), description)
    val out = ds.mapPartitions { it =>
      val pid = org.apache.spark.TaskContext.getPartitionId()
      val recs = it.toVector
      val ids = recs.flatMap(depsOf(_)).distinct
      f(pid, recs.iterator.map(_.value)).map(u => ProvRecord(ProvIds.newId(), ids, u))
    }
    create(out, t, session)
  }

  /** glom: one array element per partition, depending on every record of
    * the partition (reference: RDD.scala:826-831).
    */
  def glom(description: String = "glom")(
      implicit e: Encoder[ProvRecord[Seq[T]]]): ProvDataset[Seq[T]] = {
    val t = session.newTask(TransformationType.GLOM, Seq(task.id), description)
    val out = ds.mapPartitions { it =>
      // one array per partition, INCLUDING empty ones (RDD.glom parity:
      // callers may count partitions or index positionally)
      val recs = it.toVector
      Iterator(ProvRecord[Seq[T]](ProvIds.newId(),
        recs.flatMap(depsOf(_)).distinct, recs.map(_.value)))
    }
    create(out, t, session)
  }

  /** pipe: run an external command per partition; every output line
    * depends on all input elements of the partition (reference:
    * RDD.scala:887-946; PipedRDD.scala:70-250).
    */
  def pipe(command: Seq[String], description: String = "pipe")(
      implicit e: Encoder[ProvRecord[String]]): ProvDataset[String] = {
    val t = session.newTask(TransformationType.PIPE, Seq(task.id),
      s"$description: ${command.mkString(" ")}")
    val cmd = command
    val out = ds.mapPartitions { it =>
      val recs = it.toVector
      val ids = recs.flatMap(depsOf(_)).distinct
      val proc = new ProcessBuilder(cmd: _*).start()
      val writer = new Thread(() => {
        val os = new java.io.PrintWriter(proc.getOutputStream)
        recs.foreach(r => os.println(String.valueOf(r.value)))
        os.close()
      })
      writer.start()
      // drain stderr concurrently (full pipe buffer would deadlock the
      // child), keeping a bounded tail for the failure message
      val errTail = new java.util.concurrent.ConcurrentLinkedDeque[String]()
      val errDrain = graft.prov.filegroup.FileGroupOps.pump(
        proc.getErrorStream, { line =>
          errTail.addLast(line)
          while (errTail.size > 20) errTail.pollFirst()
        })
      val lines = scala.io.Source.fromInputStream(proc.getInputStream)
        .getLines().toVector
      writer.join()
      val code = proc.waitFor()
      errDrain.join()
      if (code != 0) {
        import scala.jdk.CollectionConverters._
        throw new RuntimeException(
          s"pipe command exited with $code: ${cmd.mkString(" ")}\n" +
            s"stderr (last ${errTail.size} lines):\n${errTail.asScala.mkString("\n")}")
      }
      lines.iterator.map(l => ProvRecord(ProvIds.newId(), ids, l))
    }
    create(out, t, session)
  }

  def keyBy[K](f: T => K, description: String = "keyBy")(
      implicit e: Encoder[ProvRecord[(K, T)]]): ProvDataset[(K, T)] = {
    val t = session.newTask(TransformationType.MAP_TO_PAIR, Seq(task.id), description)
    t.schemaFields = DefaultSchemas.pairFieldNames
    val out = ds.map(r => ProvRecord(ProvIds.newId(), depsOf(r), (f(r.value), r.value)))
    create(out, t, session)
  }

  // ---- set / multi-input (SURVEY §2.4) -------------------------------

  /** union: no new elements; the task DAG records both parents
    * (reference: RDD.scala:752-762, UnionRDD.scala:108).
    */
  def union(other: ProvDataset[T]): ProvDataset[T] = {
    val t = session.newTask(TransformationType.UNION,
      Seq(task.id, other.task.id), "union")
    passThrough(ds.unionByName(other.ds), t, session)
  }

  def intersection(other: ProvDataset[T], description: String = "intersection")(
      implicit ek: Encoder[T]): ProvDataset[T] = {
    val t = session.newTask(TransformationType.INTERSECTION,
      Seq(task.id, other.task.id), description)
    implicit val e: Encoder[ProvRecord[T]] = ds.encoder
    val lg = ds.groupByKey(_.value)
    val rg = other.ds.groupByKey(_.value)
    val out = lg.cogroup(rg) { (v, ls, rs) =>
      val lv = ls.toVector
      if (lv.nonEmpty && rs.hasNext) {
        val rv = rs.toVector
        Iterator(ProvRecord(ProvIds.newId(),
          (lv.flatMap(depsOf(_)) ++ rv.flatMap(depsOf(_))).distinct, v))
      } else Iterator.empty
    }
    create(out, t, session)
  }

  /** subtract: left elements whose value has no match on the right;
    * duplicates on the left are preserved (reference: RDD.scala:1179-1213).
    */
  def subtract(other: ProvDataset[T], description: String = "subtract")(
      implicit ek: Encoder[T]): ProvDataset[T] = {
    val t = session.newTask(TransformationType.SUBTRACT,
      Seq(task.id, other.task.id), description)
    implicit val e: Encoder[ProvRecord[T]] = ds.encoder
    val lg = ds.groupByKey(_.value)
    val rg = other.ds.groupByKey(_.value)
    val out = lg.cogroup(rg) { (_, ls, rs) =>
      if (rs.hasNext) Iterator.empty
      else ls.map(r => ProvRecord(ProvIds.newId(), depsOf(r), r.value))
    }
    create(out, t, session)
  }

  /** cartesian: each (a, b) depends on both a and b
    * (reference: CartesianRDD.scala:78-81).
    */
  def cartesian[U](other: ProvDataset[U], description: String = "cartesian")(
      implicit e: Encoder[ProvRecord[(T, U)]]): ProvDataset[(T, U)] = {
    val t = session.newTask(TransformationType.CARTESIAN,
      Seq(task.id, other.task.id), description)
    val joined = ds.joinWith(other.ds, lit(true), "inner")
    val out = joined.map { case (a, b) =>
      ProvRecord(ProvIds.newId(), depsOf(a) ++ depsOf(b), (a.value, b.value))
    }
    create(out, t, session)
  }

  /** zip: positional pairing via zipWithIndex + co-partitioned join
    * (reference: RDD.scala:1053-1111). Scales as one extra count job +
    * a shuffle on the index — no single-partition bottleneck.
    */
  def zip[U](other: ProvDataset[U], description: String = "zip")(
      implicit e: Encoder[ProvRecord[(T, U)]]): ProvDataset[(T, U)] = {
    val t = session.newTask(TransformationType.ZIP,
      Seq(task.id, other.task.id), description)
    implicit val ctL: ClassTag[ProvRecord[T]] = anyRefTag
    implicit val ctR: ClassTag[ProvRecord[U]] = anyRefTag
    val l = ds.rdd.zipWithIndex().map(_.swap)
    val r = other.ds.rdd.zipWithIndex().map(_.swap)
    // full outer join so a length mismatch FAILS like RDD.zip does,
    // instead of silently truncating to the shorter side
    val joined = l.fullOuterJoin(r).values.map {
      case (Some(a), Some(b)) =>
        ProvRecord(ProvIds.newId(), depsOf(a) ++ depsOf(b), (a.value, b.value))
      case _ =>
        throw new org.apache.spark.SparkException(
          "Can only zip datasets with the same number of elements")
    }
    create(spark.createDataset(joined)(e), t, session)
  }

  def zipWithIndex(description: String = "zipWithIndex")(
      implicit e: Encoder[ProvRecord[(T, Long)]]): ProvDataset[(T, Long)] = {
    val t = session.newTask(TransformationType.ZIP, Seq(task.id), description)
    implicit val ct: ClassTag[ProvRecord[T]] = anyRefTag
    val out = ds.rdd.zipWithIndex().map { case (r, i) =>
      ProvRecord(ProvIds.newId(), depsOf(r), (r.value, i))
    }
    create(spark.createDataset(out)(e), t, session)
  }

  /** zipWithUniqueId: k-th item of partition p gets id k·numPartitions+p
    * — no count job, ids not contiguous (reference: RDD.scala:1519).
    */
  def zipWithUniqueId(description: String = "zipWithUniqueId")(
      implicit e: Encoder[ProvRecord[(T, Long)]]): ProvDataset[(T, Long)] = {
    val t = session.newTask(TransformationType.ZIP, Seq(task.id), description)
    implicit val ct: ClassTag[ProvRecord[T]] = anyRefTag
    val out = ds.rdd.zipWithUniqueId().map { case (r, i) =>
      ProvRecord(ProvIds.newId(), depsOf(r), (r.value, i))
    }
    create(spark.createDataset(out)(e), t, session)
  }

  /** zipPartitions: f sees both partitions' value iterators; every output
    * depends on ALL inputs of both zipped partitions — the same
    * all-to-all wiring as mapPartitions (reference: RDD.scala:1053-1111,
    * ZippedPartitionsRDD.scala).
    */
  def zipPartitions[U, V](other: ProvDataset[U],
                          description: String = "zipPartitions")(
      f: (Iterator[T], Iterator[U]) => Iterator[V])(
      implicit e: Encoder[ProvRecord[V]]): ProvDataset[V] = {
    val t = session.newTask(TransformationType.ZIPPED_PARTITIONS_BASE_RDD,
      Seq(task.id, other.task.id), description)
    implicit val ctT: ClassTag[ProvRecord[T]] = anyRefTag
    implicit val ctU: ClassTag[ProvRecord[U]] = anyRefTag
    implicit val ctV: ClassTag[ProvRecord[V]] = anyRefTag
    val out = ds.rdd.zipPartitions(other.ds.rdd) { (ita, itb) =>
      val ra = ita.toVector
      val rb = itb.toVector
      val ids = (ra.flatMap(depsOf(_)) ++ rb.flatMap(depsOf(_))).distinct
      f(ra.iterator.map(_.value), rb.iterator.map(_.value))
        .map(v => ProvRecord(ProvIds.newId(), ids, v))
    }
    create(spark.createDataset(out)(e), t, session)
  }

  /** distinct: duplicates merge; the surviving element depends on every
    * duplicate (reference: RDD.scala:534-550 — dep-union inside
    * ExternalAppendOnlyMap).
    */
  def distinct(description: String = "distinct")(
      implicit ek: Encoder[T]): ProvDataset[T] = {
    val t = session.newTask(TransformationType.DISTINCT, Seq(task.id), description)
    implicit val e: Encoder[ProvRecord[T]] = ds.encoder
    val out = ds.groupByKey(_.value)
      .mapGroups { (v, it) =>
        ProvRecord(ProvIds.newId(), it.flatMap(depsOf(_)).toVector.distinct, v)
      }
    create(out, t, session)
  }

  // ---- partitioning / ordering (pass-through: no new elements) -------

  /** persist/cache/checkpoint passthroughs (reference: RDD.scala:457-480
    * — cached blocks hold the wrapped records; same here, the cached
    * Dataset rows carry ProvRecord columns).
    */
  def persist(): this.type = { ds.persist(); this }
  def cache(): this.type = persist()
  def unpersist(): this.type = { ds.unpersist(); this }
  def localCheckpoint(): this.type = { ds = ds.localCheckpoint(); this }

  def repartition(n: Int): ProvDataset[T] = {
    val t = session.newTask(TransformationType.SHUFFLED, Seq(task.id), s"repartition($n)")
    passThrough(ds.repartition(n), t, session)
  }

  def coalesce(n: Int): ProvDataset[T] = {
    val t = session.newTask(TransformationType.COALESCED, Seq(task.id), s"coalesce($n)")
    passThrough(ds.coalesce(n), t, session)
  }

  def sortBy[S](f: T => S, ascending: Boolean = true,
                description: String = "sortBy")(
      implicit ord: Ordering[S], cts: ClassTag[S]): ProvDataset[T] = {
    val t = session.newTask(TransformationType.SORT_BY_KEY, Seq(task.id), description)
    implicit val ct: ClassTag[ProvRecord[T]] = anyRefTag
    val sorted = ds.rdd.sortBy(r => f(r.value), ascending)
    passThrough(spark.createDataset(sorted)(ds.encoder), t, session)
  }

  /** sample: provenance-ignored, like the reference (RDD.scala:638-669). */
  def sample(fraction: Double, seed: Long = 42L): ProvDataset[T] = {
    val t = session.newTask(TransformationType.UNKNOWN, Seq(task.id),
      s"sample($fraction)")
    t.ignored = true
    passThrough(ds.sample(fraction, seed), t, session)
  }

  /** randomSplit: weighted disjoint samples, each provenance-ignored
    * (reference: RDD.scala:659-669).
    */
  def randomSplit(weights: Seq[Double], seed: Long = 42L): Seq[ProvDataset[T]] =
    ds.randomSplit(weights.toArray, seed).toSeq.zipWithIndex.map { case (part, i) =>
      val t = session.newTask(TransformationType.UNKNOWN, Seq(task.id),
        s"randomSplit[$i]")
      t.ignored = true
      passThrough(part, t, session)
    }

  /** takeSample action (reference: RDD.scala:708). */
  def takeSample(withReplacement: Boolean, num: Int, seed: Long = 42L): Seq[T] = {
    implicit val ct: ClassTag[ProvRecord[T]] = anyRefTag
    onAction(ds.rdd.takeSample(withReplacement, num, seed).toSeq.map(_.value))
  }

  /** repartitionAndSortWithinPartitions-shaped operator: range-partition
    * by a key then sort inside partitions — pass-through, no new elements
    * (reference: OrderedRDDFunctions.scala:76). Spark-native this is
    * repartitionByRange + sortWithinPartitions, which Catalyst fuses into
    * one range-shuffle.
    */
  def repartitionAndSortWithinPartitions(n: Int, keyCol: String = "value"): ProvDataset[T] = {
    val t = session.newTask(TransformationType.SHUFFLED, Seq(task.id),
      s"repartitionAndSortWithinPartitions($n)")
    passThrough(
      ds.repartitionByRange(n, org.apache.spark.sql.functions.col(keyCol))
        .sortWithinPartitions(keyCol), t, session)
  }

  /** filterByRange on the record value (reference:
    * OrderedRDDFunctions.scala:86 — partition pruning on the range
    * partitioner; Catalyst prunes via the pushed predicate instead).
    */
  def filterByRange(lower: T, upper: T)(implicit ord: Ordering[T]): ProvDataset[T] =
    filter(v => ord.gteq(v, lower) && ord.lteq(v, upper),
      s"filterByRange($lower, $upper)")

  /** countApprox: timeout-bounded approximate count
    * (reference: RDD.scala:1386).
    */
  def countApprox(timeoutMs: Long, confidence: Double = 0.95): Double = {
    implicit val ct: ClassTag[ProvRecord[T]] = anyRefTag
    onAction(ds.rdd.countApprox(timeoutMs, confidence).initialValue.mean)
  }

  /** countApproxDistinct via HyperLogLog++ (reference: RDD.scala:1460-1486). */
  def countApproxDistinct(rsd: Double = 0.05): Long =
    onAction(ds.select(org.apache.spark.sql.functions
        .approx_count_distinct(org.apache.spark.sql.functions.col("value"), rsd))
      .head().getLong(0))

  // ---- actions (SURVEY §2.8) ----------------------------------------

  /** Flush on action (reference: checkAndPersistProvenance,
    * RDD.scala:1143-1147). The action runs FIRST: its own pass streams
    * each stage's element rows to staged parquet via the in-plan
    * side-capture wrapper (and populates the stage caches), so the
    * flush that follows just commits files — no replay job. For stages
    * the action didn't fully compute (take/isEmpty), the flush
    * materializes the gap synchronously on this thread. Record elements
    * are readable when this returns; extras (file elements,
    * dropped-record markers) may still be in the async queue until
    * close()/awaitFlushes().
    */
  private def onAction[A](action: => A): A = {
    val r = action
    session.flush()
    r
  }

  def collect(): Seq[T] = onAction(ds.collect().toSeq.map(_.value))

  /** Action exposing the provenance wrapper (reference NEW surface
    * `foreachWithDataElement`, RDD.scala:1124-1127).
    */
  def collectWithProv(): Seq[ProvRecord[T]] = onAction(ds.collect().toSeq)

  def count(): Long = onAction(ds.count())
  def take(n: Int): Seq[T] = onAction(ds.take(n).toSeq.map(_.value))
  def first(): T = take(1).head
  def isEmpty: Boolean = onAction(ds.isEmpty)
  def foreach(f: T => Unit): Unit = onAction(ds.foreach(r => f(r.value)))
  def foreachWithDataElement(f: ProvRecord[T] => Unit): Unit =
    onAction(ds.foreach(f))

  def reduce(f: (T, T) => T): T =
    onAction(ds.rdd.map(_.value)(anyRefTag[T]).reduce(f))

  def top(n: Int)(implicit ord: Ordering[T], ct: ClassTag[T]): Seq[T] =
    onAction(ds.rdd.map(_.value).top(n).toSeq)

  def takeOrdered(n: Int)(implicit ord: Ordering[T], ct: ClassTag[T]): Seq[T] =
    onAction(ds.rdd.map(_.value).takeOrdered(n).toSeq)

  def countByValue()(implicit ek: Encoder[T]): Map[T, Long] =
    onAction(ds.groupByKey(_.value).count().collect().toMap)

  def toLocalIterator(): Iterator[T] = {
    import scala.jdk.CollectionConverters._
    // flush before handing out the lazy iterator — there is no "after"
    session.flush()
    ds.toLocalIterator().asScala.map(_.value)
  }

  def saveAsTextFile(path: String): Unit =
    onAction(ds.map(r => String.valueOf(r.value))(Encoders.STRING).write.text(path))

  /** saveAsObjectFile: Hadoop SequenceFile of java-serialized 10-element
    * batches — the stock RDD format (reference: RDD.scala:1729), readable
    * back with [[ProvSession.objectFile]] (which restores per-file
    * lineage) or stock `sc.objectFile`.
    */
  def saveAsObjectFile(path: String): Unit =
    onAction(ds.rdd.map(_.value)(anyRefTag[T]).saveAsObjectFile(path))

  /** Escape hatch to the stock typed Dataset of values. */
  def values(implicit e: Encoder[T]): Dataset[T] = ds.map(_.value)
}

object ProvDataset {

  /** Dep contribution of a record to a child element: its own id, or —
    * when it was produced by an ignored task (id == "") — its spliced
    * upstream deps (reference: DataElement.scala:34-46).
    */
  def depsOf[T](r: ProvRecord[T]): Seq[String] =
    if (r.id.isEmpty) r.deps else Seq(r.id)

  private[prov] def anyRefTag[A]: ClassTag[A] =
    ClassTag.AnyRef.asInstanceOf[ClassTag[A]]

  private[prov] def create[T](ds0: Dataset[ProvRecord[T]], task: TaskState,
                              session: ProvSession): ProvDataset[T] = {
    // default-schema dispatch by static value type (reference dispatches
    // by runtime ClassTag, RDD.scala:179-191): a tuple-shaped value gets
    // the pair header so valueTable headers match the projected grid
    if (task.usingDefaultSchema && task.schemaFields == Seq("Value")) {
      ds0.schema.find(_.name == "value").map(_.dataType) match {
        case Some(st: org.apache.spark.sql.types.StructType)
            if st.fieldNames.take(2).sameElements(Array("_1", "_2")) =>
          task.schemaFields = DefaultSchemas.pairFieldNames
        case _ =>
      }
    }
    // side capture: element rows stream to staged parquet INSIDE the
    // persisted plan, so the action that first computes each partition
    // also writes its elements — flush then commits files instead of
    // replaying the stage (see ElementSideWriter). The wrapper sits
    // beneath persist(): a cache hit never re-captures, and the staged
    // ids are exactly the cached (downstream-consumed) ids.
    val capture = session.captureEnabled && !task.ignored
    val cfg =
      if (capture) Some(new CaptureConfig(DefaultSchemas.forValue[T])) else None
    val ds = cfg match {
      case Some(c) =>
        val sink = session.sink(task.id)
        // RDD-level wrap: mapPartitionsWithIndex hands the wrapper ITS
        // OWN partition index (TaskContext.partitionId is the running
        // task's — wrong whenever a cartesian/union/zip child stage
        // computes this stage's partitions), and the true partition
        // count is closed over from the driver. One RDD, so one run:
        // every job that computes this stage stages into it
        implicit val ct: ClassTag[ProvRecord[T]] = anyRefTag
        val rdd0 = ds0.rdd
        val n = rdd0.getNumPartitions
        val run = ElementSideWriter.newRun(sink, n)
        val captured = rdd0.mapPartitionsWithIndex(
          (pid, it) =>
            // the wrapper honors an ignoreIt declared after this dataset
            if (c.ignored) it
            else {
              val sch = c.schema.asInstanceOf[DataElementSchema[T]]
              ElementSideWriter.capturing(sink, run, pid, n, it) { r =>
                ElementSideWriter.StagedRow(Binary.fromString(r.id),
                  sch.project(r.value).map(_.map(v => Binary.fromString(String.valueOf(v)))),
                  r.deps.map(Binary.fromString))
              }
            },
          preservesPartitioning = true)
        session.spark.createDataset(captured)(ds0.encoder)
      case None => ds0
    }
    val pd = new ProvDataset(ds, task, session)
    pd.captureCfg = cfg
    session.track(ds)
    // session-persisted above — the flush sync phase materializes it
    // (via the wrapper) if no action did, and never releases it (random
    // ids need the cache until close)
    if (capture) task.elements = Elements.SideCaptured(_ => ds)
    pd
  }

  private[prov] def passThrough[T](ds: Dataset[ProvRecord[T]], task: TaskState,
                                   session: ProvSession): ProvDataset[T] =
    new ProvDataset(ds, task, session, createsElements = false)

  // ---- pair operations (SURVEY §2.5-2.6) ----------------------------

  implicit final class ProvPairOps[K, V](private val self: ProvDataset[(K, V)]) {

    import self.{session, task}

    private def spark = session.spark

    /** Shared engine for the combineByKey family: a typed Aggregator
      * whose buffer is (user combiner, accumulated deps) — partial
      * (map-side) aggregation unions dependency sets exactly where the
      * reference's ExternalSorter did (ExternalSorter.scala:400-475),
      * but without its insert-then-delete round trips: partial elements
      * are simply never emitted (SURVEY §7 M4).
      */
    private def keyedAgg[C](ttype: String, description: String,
                            init: V => C, seqOp: (C, V) => C, combOp: (C, C) => C)(
        implicit ek: Encoder[K],
        ebuf: Encoder[(Option[C], Seq[String])],
        eout: Encoder[ProvRecord[(K, C)]]): ProvDataset[(K, C)] = {
      val t = session.newTask(ttype, Seq(task.id), description)
      t.schemaFields = DefaultSchemas.pairFieldNames
      val agg = new Aggregator[ProvRecord[(K, V)], (Option[C], Seq[String]), (Option[C], Seq[String])] {
        def zero: (Option[C], Seq[String]) = (None, Vector.empty)
        def reduce(b: (Option[C], Seq[String]), r: ProvRecord[(K, V)]) = {
          val c = b._1 match {
            case None    => init(r.value._2)
            case Some(c0) => seqOp(c0, r.value._2)
          }
          (Some(c), b._2 ++ depsOf(r))
        }
        def merge(a: (Option[C], Seq[String]), b: (Option[C], Seq[String])) = {
          val c = (a._1, b._1) match {
            case (Some(x), Some(y)) => Some(combOp(x, y))
            case (x, None)          => x
            case (None, y)          => y
          }
          (c, a._2 ++ b._2)
        }
        def finish(b: (Option[C], Seq[String])) = b
        def bufferEncoder: Encoder[(Option[C], Seq[String])] = ebuf
        def outputEncoder: Encoder[(Option[C], Seq[String])] = ebuf
      }
      val out = self.ds.groupByKey(_.value._1)
        .agg(agg.toColumn)
        .map { case (k, (c, deps)) =>
          ProvRecord(ProvIds.newId(), deps, (k, c.get))
        }
      create(out, t, session)
    }

    def reduceByKey(f: (V, V) => V, description: String = "reduceByKey")(
        implicit ek: Encoder[K],
        ebuf: Encoder[(Option[V], Seq[String])],
        eout: Encoder[ProvRecord[(K, V)]]): ProvDataset[(K, V)] =
      keyedAgg[V](TransformationType.REDUCE_BY_KEY, description,
        identity, f, f)

    def aggregateByKey[C](zero: C)(seqOp: (C, V) => C, combOp: (C, C) => C,
                                   description: String = "aggregateByKey")(
        implicit ek: Encoder[K],
        ebuf: Encoder[(Option[C], Seq[String])],
        eout: Encoder[ProvRecord[(K, C)]]): ProvDataset[(K, C)] =
      keyedAgg[C](TransformationType.AGGREGATE_BY_KEY, description,
        v => seqOp(zero, v), seqOp, combOp)

    def foldByKey(zero: V)(f: (V, V) => V, description: String = "foldByKey")(
        implicit ek: Encoder[K],
        ebuf: Encoder[(Option[V], Seq[String])],
        eout: Encoder[ProvRecord[(K, V)]]): ProvDataset[(K, V)] =
      keyedAgg[V](TransformationType.AGGREGATE_BY_KEY, description,
        v => f(zero, v), f, f)

    def combineByKey[C](createCombiner: V => C, mergeValue: (C, V) => C,
                        mergeCombiners: (C, C) => C,
                        description: String = "combineByKey")(
        implicit ek: Encoder[K],
        ebuf: Encoder[(Option[C], Seq[String])],
        eout: Encoder[ProvRecord[(K, C)]]): ProvDataset[(K, C)] =
      keyedAgg[C](TransformationType.AGGREGATE_BY_KEY, description,
        createCombiner, mergeValue, mergeCombiners)

    def groupByKey(description: String = "groupByKey")(
        implicit ek: Encoder[K],
        ebuf: Encoder[(Option[Seq[V]], Seq[String])],
        eout: Encoder[ProvRecord[(K, Seq[V])]]): ProvDataset[(K, Seq[V])] =
      keyedAgg[Seq[V]](TransformationType.GROUP_BY_KEY, description,
        v => Vector(v), (c, v) => c :+ v, (a, b) => a ++ b)

    def mapValues[W](f: V => W, description: String = "mapValues")(
        implicit e: Encoder[ProvRecord[(K, W)]]): ProvDataset[(K, W)] = {
      val t = session.newTask(TransformationType.MAP_VALUES, Seq(task.id), description)
      t.schemaFields = DefaultSchemas.pairFieldNames
      val out = self.ds.map(r =>
        ProvRecord(ProvIds.newId(), depsOf(r), (r.value._1, f(r.value._2))))
      create(out, t, session)
    }

    def flatMapValues[W](f: V => IterableOnce[W],
                         description: String = "flatMapValues")(
        implicit e: Encoder[ProvRecord[(K, W)]]): ProvDataset[(K, W)] = {
      val t = session.newTask(TransformationType.FLAT_MAP, Seq(task.id), description)
      t.schemaFields = DefaultSchemas.pairFieldNames
      val out = self.ds.flatMap { r =>
        val deps = depsOf(r)
        f(r.value._2).iterator.map(w =>
          ProvRecord(ProvIds.newId(), deps, (r.value._1, w)))
      }
      create(out, t, session)
    }

    def keys(implicit e: Encoder[ProvRecord[K]]): ProvDataset[K] =
      self.map(_._1, "keys")

    def valuesDs(implicit e: Encoder[ProvRecord[V]]): ProvDataset[V] =
      self.map(_._2, "values")

    /** Inner join via Catalyst joinWith — deps are the precise pair
      * (left element, right element), tighter than the reference's
      * per-key cogroup lineage (PairRDDFunctions.scala:545-548) and
      * broadcast/SMJ-plannable at scale.
      */
    def join[W](other: ProvDataset[(K, W)], description: String = "join")(
        implicit e: Encoder[ProvRecord[(K, (V, W))]]): ProvDataset[(K, (V, W))] = {
      val t = session.newTask(TransformationType.JOIN,
        Seq(task.id, other.task.id), description)
      t.schemaFields = DefaultSchemas.pairFieldNames
      val l = self.ds
      val r = other.ds
      val out = l.joinWith(r, l("value._1") === r("value._1"), "inner")
        .map { case (a, b) =>
          ProvRecord(ProvIds.newId(), depsOf(a) ++ depsOf(b),
            (a.value._1, (a.value._2, b.value._2)))
        }
      create(out, t, session)
    }

    def leftOuterJoin[W](other: ProvDataset[(K, W)],
                         description: String = "leftOuterJoin")(
        implicit e: Encoder[ProvRecord[(K, (V, Option[W]))]]): ProvDataset[(K, (V, Option[W]))] = {
      val t = session.newTask(TransformationType.LEFT_OUTER_JOIN,
        Seq(task.id, other.task.id), description)
      t.schemaFields = DefaultSchemas.pairFieldNames
      val l = self.ds
      val r = other.ds
      val out = l.joinWith(r, l("value._1") === r("value._1"), "left_outer")
        .map { case (a, b) =>
          val bo = Option(b)
          ProvRecord(ProvIds.newId(), depsOf(a) ++ bo.toSeq.flatMap(depsOf(_)),
            (a.value._1, (a.value._2, bo.map(_.value._2))))
        }
      create(out, t, session)
    }

    def rightOuterJoin[W](other: ProvDataset[(K, W)],
                          description: String = "rightOuterJoin")(
        implicit e: Encoder[ProvRecord[(K, (Option[V], W))]]): ProvDataset[(K, (Option[V], W))] = {
      val t = session.newTask(TransformationType.RIGHT_OUTER_JOIN,
        Seq(task.id, other.task.id), description)
      t.schemaFields = DefaultSchemas.pairFieldNames
      val l = self.ds
      val r = other.ds
      val out = l.joinWith(r, l("value._1") === r("value._1"), "right_outer")
        .map { case (a, b) =>
          val ao = Option(a)
          ProvRecord(ProvIds.newId(), ao.toSeq.flatMap(depsOf(_)) ++ depsOf(b),
            (b.value._1, (ao.map(_.value._2), b.value._2)))
        }
      create(out, t, session)
    }

    def fullOuterJoin[W](other: ProvDataset[(K, W)],
                         description: String = "fullOuterJoin")(
        implicit e: Encoder[ProvRecord[(K, (Option[V], Option[W]))]]): ProvDataset[(K, (Option[V], Option[W]))] = {
      val t = session.newTask(TransformationType.FULL_OUTER_JOIN,
        Seq(task.id, other.task.id), description)
      t.schemaFields = DefaultSchemas.pairFieldNames
      val l = self.ds
      val r = other.ds
      val out = l.joinWith(r, l("value._1") === r("value._1"), "full_outer")
        .map { case (a, b) =>
          val ao = Option(a)
          val bo = Option(b)
          val k = ao.map(_.value._1).getOrElse(bo.get.value._1)
          ProvRecord(ProvIds.newId(),
            ao.toSeq.flatMap(depsOf(_)) ++ bo.toSeq.flatMap(depsOf(_)),
            (k, (ao.map(_.value._2), bo.map(_.value._2))))
        }
      create(out, t, session)
    }

    /** cogroup: one element per key, depending on every grouped input
      * from both sides (reference: CoGroupedRDD.scala:138-169).
      */
    def cogroup[W](other: ProvDataset[(K, W)], description: String = "cogroup")(
        implicit ek: Encoder[K],
        eout: Encoder[ProvRecord[(K, (Seq[V], Seq[W]))]]): ProvDataset[(K, (Seq[V], Seq[W]))] = {
      val t = session.newTask(TransformationType.CO_GROUPED,
        Seq(task.id, other.task.id), description)
      t.schemaFields = DefaultSchemas.pairFieldNames
      val lg = self.ds.groupByKey(_.value._1)
      val rg = other.ds.groupByKey(_.value._1)
      val out = lg.cogroup(rg) { (k, ls, rs) =>
        val lv = ls.toVector
        val rv = rs.toVector
        Iterator(ProvRecord[(K, (Seq[V], Seq[W]))](ProvIds.newId(),
          lv.flatMap(depsOf(_)) ++ rv.flatMap(depsOf(_)),
          (k, (lv.map(_.value._2), rv.map(_.value._2)))))
      }
      create(out, t, session)
    }

    /** subtractByKey: left pairs whose key is absent on the right
      * (reference: PairRDDFunctions.scala:916-936).
      */
    def subtractByKey[W](other: ProvDataset[(K, W)],
                         description: String = "subtractByKey")(
        implicit ek: Encoder[K]): ProvDataset[(K, V)] = {
      val t = session.newTask(TransformationType.SUBTRACT,
        Seq(task.id, other.task.id), description)
      implicit val e: Encoder[ProvRecord[(K, V)]] = self.ds.encoder
      val lg = self.ds.groupByKey(_.value._1)
      val rg = other.ds.groupByKey(_.value._1)
      val out = lg.cogroup(rg) { (_, ls, rs) =>
        if (rs.hasNext) Iterator.empty
        else ls.map(r => ProvRecord(ProvIds.newId(), depsOf(r), r.value))
      }
      create(out, t, session)
    }

    /** partitionBy parity (PairRDDFunctions.scala:529): hash-partition by
      * key; pass-through (no new elements, SHUFFLED task node).
      */
    def partitionByKey(n: Int): ProvDataset[(K, V)] = {
      val t = session.newTask(TransformationType.SHUFFLED, Seq(task.id),
        s"partitionBy($n)")
      passThrough(self.ds.repartition(n,
        org.apache.spark.sql.functions.col("value._1")), t, session)
    }

    def sortByKey(ascending: Boolean = true)(
        implicit ord: Ordering[K], ctk: ClassTag[K]): ProvDataset[(K, V)] = {
      val t = session.newTask(TransformationType.SORT_BY_KEY, Seq(task.id), "sortByKey")
      implicit val ct: ClassTag[ProvRecord[(K, V)]] = anyRefTag
      val sorted = self.ds.rdd.sortBy(_.value._1, ascending)
      passThrough(spark.createDataset(sorted)(self.ds.encoder), t, session)
    }

    // actions (flush first — see ProvDataset.onAction)
    private def withFlush[A](a: => A): A = { session.flush(); a }

    def countByKey()(implicit ek: Encoder[K]): Map[K, Long] =
      withFlush(self.ds.groupByKey(_.value._1).count().collect().toMap)

    /** countByKeyApprox (reference: PairRDDFunctions.scala:389). */
    def countByKeyApprox(timeoutMs: Long, confidence: Double = 0.95): Map[K, Long] = {
      implicit val ct: ClassTag[(K, ProvRecord[(K, V)])] = anyRefTag
      implicit val ctk: ClassTag[K] = anyRefTag
      withFlush(self.ds.rdd.map(r => (r.value._1, r))
        .countByKeyApprox(timeoutMs, confidence)
        .initialValue.map { case (k, b) => k -> math.round(b.mean) }.toMap)
    }

    def collectAsMap(): Map[K, V] =
      withFlush(self.ds.collect().map(r => r.value._1 -> r.value._2).toMap)

    /** reduceByKeyLocally: distributed partial reduce, driver-side final
      * merge into a Map (reference: PairRDDFunctions.scala:341-348 —
      * an action over ignored intermediates, so no elements are minted).
      */
    def reduceByKeyLocally(f: (V, V) => V): Map[K, V] = {
      implicit val ctk: ClassTag[K] = anyRefTag
      implicit val ctv: ClassTag[V] = anyRefTag
      withFlush(self.ds.rdd.map(r => r.value).reduceByKey(f).collect().toMap)
    }

    def lookup(key: K): Seq[V] =
      withFlush(lookupFrame(key).collect().toSeq.map(_.value._2))

    /** lookup's filtered frame as a COLUMN predicate on `value._1`, so
      * Catalyst pushes the key comparison into the scan (parquet
      * row-group skipping / partition pruning) instead of running a
      * full-scan lambda — the DataFrame-world analogue of the
      * reference's single-partition prune when a partitioner is known
      * (PairRDDFunctions.scala:940-957). Keys with no literal form
      * (arbitrary case classes) fall back to the typed filter.
      */
    private[graft] def lookupFrame(key: K): Dataset[ProvRecord[(K, V)]] = {
      import org.apache.spark.sql.{functions => F}
      try self.ds.filter(F.col("value._1") === F.lit(key))
      catch {
        case _: RuntimeException => self.ds.filter(r => r.value._1 == key)
      }
    }
  }

  /** Double-stats actions (reference: DoubleRDDFunctions.scala:44-133). */
  final case class StatSummary(count: Long, mean: Double, stdev: Double,
                               variance: Double, min: Double, max: Double,
                               sum: Double)

  implicit final class ProvDoubleOps(private val self: ProvDataset[Double]) {
    import org.apache.spark.sql.{functions => F}
    import F.col

    private def withFlush[A](a: => A): A = { self.session.flush(); a }

    def stats(): StatSummary = {
      val r = withFlush(self.ds.select(
        F.count(F.lit(1)), F.avg(col("value")), F.stddev_samp(col("value")),
        F.var_samp(col("value")), F.min(col("value")), F.max(col("value")),
        F.sum(col("value"))).head())
      // empty dataset: SQL aggregates yield NULL — return StatCounter
      // parity (count 0, NaN moments, +/-Inf bounds, sum 0) instead of
      // an NPE from getDouble on a null cell. Single-row datasets yield
      // NULL sample stddev/variance -> NaN likewise.
      def d(i: Int, empty: Double) = if (r.isNullAt(i)) empty else r.getDouble(i)
      StatSummary(r.getLong(0), d(1, Double.NaN), d(2, Double.NaN),
        d(3, Double.NaN), d(4, Double.PositiveInfinity),
        d(5, Double.NegativeInfinity), d(6, 0.0))
    }

    def sum(): Double = stats().sum
    def mean(): Double = stats().mean
    def variance(): Double = stats().variance
    def stdev(): Double = stats().stdev

    /** Fixed-bucket histogram over [min, max] (reference:
      * DoubleRDDFunctions.scala:100-133): one agg for bounds + one
      * map-side-combined groupBy on the bucket expression.
      */
    def histogram(buckets: Int): (Seq[Double], Seq[Long]) = {
      val b = withFlush(
        self.ds.select(F.min(col("value")), F.max(col("value"))).head())
      require(!b.isNullAt(0), "histogram of an empty dataset")
      val (lo, hi) = (b.getDouble(0), b.getDouble(1))
      val width = (hi - lo) / buckets
      // the last edge is EXACTLY hi: accumulating lo + i*width can land
      // below hi (FP), which would silently drop the max value from the
      // final bucket (stock RDD.histogram clamps the same way)
      val edges = (0 until buckets).map(i => lo + i * width) :+ hi
      (edges, histogram(edges))
    }

    /** Custom-edge histogram (reference: DoubleRDDFunctions.histogram
      * (buckets: Array[Double])): counts per [edge_i, edge_i+1) interval,
      * last interval closed.
      */
    def histogram(edges: Seq[Double]): Seq[Long] = {
      require(edges.length >= 2 && edges == edges.sorted,
        "edges must be sorted with at least two bounds")
      val buckets = edges.length - 1
      val cond = (0 until buckets).foldRight(F.lit(-1)) { (i, acc) =>
        val upperOk =
          if (i == buckets - 1) col("value") <= edges(i + 1)
          else col("value") < edges(i + 1)
        F.when(col("value") >= edges(i) && upperOk, F.lit(i)).otherwise(acc)
      }
      val counts = self.ds.select(cond.as("bucket"))
        .filter(col("bucket") >= 0)
        .groupBy(col("bucket")).count().collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
      (0 until buckets).map(i => counts.getOrElse(i, 0L))
    }

    /** meanApprox / sumApprox: timeout-bounded approximations
      * (reference: DoubleRDDFunctions.scala:44-133).
      */
    def meanApprox(timeoutMs: Long, confidence: Double = 0.95): Double = {
      implicit val ct: ClassTag[ProvRecord[Double]] = anyRefTag
      withFlush(self.ds.rdd.map(_.value).meanApprox(timeoutMs, confidence)
        .initialValue.mean)
    }

    def sumApprox(timeoutMs: Long, confidence: Double = 0.95): Double = {
      implicit val ct: ClassTag[ProvRecord[Double]] = anyRefTag
      withFlush(self.ds.rdd.map(_.value).sumApprox(timeoutMs, confidence)
        .initialValue.mean)
    }
  }
}
