package graft.prov

import java.sql.Timestamp
import scala.collection.mutable

import org.apache.spark.sql.{Dataset, Encoder, Encoders, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Driver-side mutable state for one provenance task node
  * (reference: Task.scala:12-53 + RDD.scala:157-197). Tasks are created
  * eagerly when a transformation is declared (lazy execution, eager DAG —
  * same as the reference) and persisted at flush.
  */
final class TaskState(
    val id: String,
    var ttype: String,
    var description: String,
    val parents: Seq[String],
    var schemaFields: Seq[String] = Seq("Value"),
    var usingDefaultSchema: Boolean = true,
    var ignored: Boolean = false,
    var hasDataInRepository: Boolean = false,
    var group: Option[GroupState] = None,
    var flushed: Boolean = false,
    /** Extra element rows beyond the per-record ones — source-FILE
      * elements (textFile/hadoopFile/fileGroup) and dropped-record
      * markers. Small datasets, written by the flush batch's append job.
      */
    var extraThunk: Option[() => Dataset[ElementRow]] = None) {

  /** How this task's element rows reach the store — see [[Elements]]. */
  private[prov] var elements: Elements = Elements.NoElements
}

/** The element path of one task: the single decision the flush batch
  * dispatches on.
  */
private[prov] sealed trait Elements

private[prov] object Elements {

  /** No element rows: pass-through (union/sort/repartition — reference:
    * UnionRDD.scala:108), ignored and streaming tasks (the latter append
    * per micro-batch themselves).
    */
  case object NoElements extends Elements

  /** Element rows written by the in-plan capture ([[ElementSideWriter]])
    * during the action itself; flush COMMITS the staged files.
    * `plan(ids)` is what flush runs if no action fully computed the
    * task: the typed layer's session-persisted stage, or a relational
    * frame's plan teed for the incomplete tasks `ids` — one pass over a
    * frame's plan stages every selected frame beneath it.
    */
  final case class SideCaptured(plan: Set[String] => Dataset[_]) extends Elements

  /** Relational task granularity: `rows` is the task's single stats
    * element; children dep-link to its deterministic id.
    */
  final case class Stats(rows: () => Dataset[ElementRow]) extends Elements
}

/** Open transformation group (reference: TransformationGroup.scala:6-33,
  * TransformationGroupManager.scala:5-74). Invariants enforced: a task
  * joins at most one group; a group is finished exactly once.
  */
final class GroupState(val id: String, val name: String) {
  val initTasks: mutable.LinkedHashSet[String] = mutable.LinkedHashSet()
  val intermediaryTasks: mutable.LinkedHashSet[String] = mutable.LinkedHashSet()
  var finishTask: Option[String] = None
  def isOpen: Boolean = finishTask.isEmpty
}

object ProvSession {
  implicit val elementRowEnc: Encoder[ElementRow] = Encoders.product[ElementRow]

  /** Resolve a boolean toggle with the reference's precedence (env var
    * beats Spark conf beats the constructor flag — SparkConf.scala:
    * 661-670 honors ENABLE_PROVENANCE/ENABLE_VCS the same way), so ops
    * workflows can flip capture without touching code. Pure and
    * injectable for the spec.
    */
  private[prov] def resolveToggle(env: Map[String, String], envKey: String,
                                  conf: String => Option[String],
                                  confKey: String,
                                  default: Boolean): Boolean =
    env.get(envKey).orElse(conf(confKey)) match {
      case None => default
      case Some(v) => v.trim.toLowerCase match {
        case "true" | "1"  => true
        case "false" | "0" => false
        // fail loudly like the reference's String.toBoolean
        // (SparkConf.scala:661-670): a typo ("ture", "yes") must not
        // silently flip capture off when the constructor asked for it
        case other => throw new IllegalArgumentException(
          s"$envKey/$confKey must be true/false/1/0, got '$other'")
      }
    }

  /** Open a provenance session over a stock SparkSession — the analogue of
    * `new SparkContext(conf)` with provenance enabled (reference:
    * SparkContext.scala:382-390). Nothing is forked: this is a library
    * object holding a task DAG + a parquet sink location.
    *
    * Toggle overrides (reference: SparkConf.scala:661-670): env
    * `GRAFT_ENABLE_PROVENANCE` > conf `spark.graft.enableProvenance` >
    * the `captureEnabled` flag; env `GRAFT_ENABLE_VCS` > conf
    * `spark.graft.enableVersionControl` > whether `versionControl` was
    * passed. Unrecognized values throw — a typo must not silently
    * disable capture.
    *
    * Read-after-action contract (asyncFlush = true, the default):
    * record elements of both layers are readable in the store as soon
    * as the flush after the triggering action returns (they are
    * captured inside the action's own job and committed synchronously),
    * but relational task-granularity stats elements, file elements, and
    * dropped-record markers land on a background
    * thread — the store is guaranteed COMPLETE only after
    * [[ProvSession.awaitFlushes]] or [[ProvSession.close]]. Pass
    * `asyncFlush = false` for a store that is fully readable after
    * every action.
    */
  def create(spark: SparkSession, appName: String, storeDir: String,
             captureEnabled: Boolean = true,
             captureDropped: Boolean = false,
             versionControl: Option[graft.prov.filegroup.GitVersionControl] = None,
             asyncFlush: Boolean = true): ProvSession = {
    val conf = (k: String) => spark.conf.getOption(k)
    val capture = resolveToggle(sys.env, "GRAFT_ENABLE_PROVENANCE",
      conf, "spark.graft.enableProvenance", captureEnabled)
    val vcs =
      if (resolveToggle(sys.env, "GRAFT_ENABLE_VCS",
        conf, "spark.graft.enableVersionControl", versionControl.nonEmpty))
        versionControl
      else None
    val s = new ProvSession(spark, appName, storeDir, capture,
      captureDropped, vcs, asyncFlush)
    // reference lifecycle: execution branch created at context init
    // (SparkContext.scala:389-390, GitServerManager.scala:90-128)
    vcs.foreach(_.initExecution(s.executionId))
    s
  }
}

/** One provenance-tracked execution (reference: Execution.scala +
  * DataflowProvenance.scala lifecycle).
  *
  * Scale design (SURVEY §7): provenance rows are written THROUGH Spark as
  * batched parquet appends partitioned by execution_id — there is no
  * executor-side connection to any store (the reference async-inserts to
  * Cassandra from every executor thread, DataSource.scala:28-45). Each
  * tracked Dataset is persisted (MEMORY_AND_DISK) so the lineage dump
  * computes every stage once, not O(n²).
  */
final class ProvSession private[prov] (
    val spark: SparkSession,
    val appName: String,
    val storeDir: String,
    val captureEnabled: Boolean,
    val captureDropped: Boolean,
    val versionControl: Option[graft.prov.filegroup.GitVersionControl] = None,
    /** When true (the DEFAULT — the reference likewise writes provenance
      * asynchronously, DataSource.scala:28-45), the flush batch's APPEND
      * job (relational stats elements + file-element/dropped-marker
      * extras) runs on a background thread. Only deterministic-id rows
      * ever run off-thread: record elements of both layers are
      * side-captured inside the action's own pass and committed
      * synchronously at flush, and any stage or frame the actions never
      * computed is materialized on the
      * flush CALLER's thread — so no random-id stage is ever computed
      * concurrently by a background job and a user action (which could
      * mint divergent element ids across executors).
      *
      * Read-after-action contract: record elements are readable as soon
      * as the triggering action's flush returns; the async extras land
      * by the next [[awaitFlushes]]/[[close]], and the store is
      * guaranteed COMPLETE only after [[close]]. Writes chain
      * sequentially off-thread, so appends never interleave, and the
      * queue is BOUNDED at [[maxPendingFlushes]] batches — a flush
      * beyond the bound blocks the caller (backpressure), so driver
      * memory holds a bounded number of un-written batches no matter
      * how fast actions fire.
      */
    val asyncFlush: Boolean = true,
    /** Bound on queued+running async flush batches (backpressure point). */
    val maxPendingFlushes: Int = 2) {

  import ProvSession._

  val executionId: String = ProvIds.newId()
  private val startTime = new Timestamp(System.currentTimeMillis())
  private var endTime: Option[Timestamp] = None
  private val tasks = mutable.LinkedHashMap[String, TaskState]()
  private val groups = mutable.ListBuffer[GroupState]()
  private val cached = mutable.ListBuffer[Dataset[_]]()
  private val fileGroupRefs = mutable.ListBuffer[FileGroupReferenceRow]()

  // All task-DAG mutations and flush run under `this`-lock: actions may
  // fire from concurrent driver threads (saveFilesAtAsync, parallel job
  // submission), and LinkedHashMap iteration during an unsynchronized
  // flush would race task registration (CME / double-append).
  private[prov] def newTask(ttype: String, parents: Seq[String],
                            description: String): TaskState = synchronized {
    val t = new TaskState(ProvIds.newId(), ttype, description, parents)
    tasks(t.id) = t
    // group propagation (reference: TransformationGroupManager.scala:50-70):
    // a child of a task inside an open group joins that group as an
    // intermediary unless it explicitly finishes it.
    val parentGroups = parents.flatMap(p => tasks.get(p)).flatMap(_.group)
      .filter(_.isOpen).distinct
    require(parentGroups.size <= 1,
      s"task has parents in ${parentGroups.size} distinct open groups; " +
        "a lineage can have at most one open transformation group")
    parentGroups.headOption.foreach { g =>
      t.group = Some(g)
      g.intermediaryTasks += t.id
    }
    t
  }

  private[prov] def track(ds: Dataset[_]): Unit = if (captureEnabled) synchronized {
    ds.persist(StorageLevel.MEMORY_AND_DISK)
    cached += ds
  }

  private[prov] def newGroup(name: String): GroupState = synchronized {
    val g = new GroupState(ProvIds.newId(), name)
    groups += g
    g
  }

  private[prov] def addFileGroupRef(elementId: String, folder: String): Unit = synchronized {
    fileGroupRefs += FileGroupReferenceRow(executionId, elementId, folder)
  }

  def taskById(id: String): Option[TaskState] = synchronized { tasks.get(id) }
  def allTasks: Seq[TaskState] = synchronized { tasks.values.toSeq }

  // ---- sources ------------------------------------------------------

  /** parallelize: each element becomes a fresh root DataElement
    * (reference: SparkContext.scala:737; ParallelCollectionRDD.scala:40-46).
    */
  def parallelize[T](data: Seq[T], description: String = "parallelize")(
      implicit et: Encoder[T], ep: Encoder[ProvRecord[T]]): ProvDataset[T] = {
    val task = newTask(TransformationType.RANGE, Nil, description)
    // distribute via sc.parallelize: createDataset(Seq) builds a
    // LocalRelation that executes on a single thread, serializing every
    // downstream stage of the pipeline
    implicit val ct: scala.reflect.ClassTag[T] = ProvDataset.anyRefTag
    val rdd = spark.sparkContext.parallelize(data,
      spark.sparkContext.defaultParallelism)
    val ds = spark.createDataset(rdd)
      .map(v => ProvRecord(ProvIds.newId(), Seq.empty[String], v))
    ProvDataset.create(ds, task, this)
  }

  /** range: generated-source parity (reference: SparkContext.range via
    * ParallelCollectionRDD). Uses spark.range — rows are generated inside
    * executors, nothing materializes on the driver.
    */
  def range(n: Long, description: String = "range")(
      implicit ep: Encoder[ProvRecord[Long]]): ProvDataset[Long] = {
    val task = newTask(TransformationType.RANGE, Nil, s"$description($n)")
    val ds = spark.range(n)
      .map((v: java.lang.Long) =>
        ProvRecord(ProvIds.newId(), Seq.empty[String], v.longValue()))(ep)
    ProvDataset.create(ds, task, this)
  }

  /** textFile with source-file lineage: each input FILE is itself a data
    * element, and every record depends on its file (reference:
    * HadoopRDD.scala:223-227,318). File element ids are deterministic
    * (name-UUID of execution, task and path) so no join is needed to wire
    * record→file edges — each record computes its file's id locally — and
    * two tasks reading one path own one file element each.
    */
  def textFile(path: String, description: String = "textFile"): ProvDataset[String] = {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, input_file_name}
    val task = newTask(TransformationType.MAP, Nil, s"$description: $path")
    val execId = executionId
    val tid = task.id
    val ds = spark.read.textFile(path)
      .select(col("value"), input_file_name().as("_file"))
      .as[(String, String)]
      .map { case (line, file) =>
        ProvRecord(ProvIds.newId(), Seq(ProvSinkUtil.elementId(execId, tid, file)), line)
      }
    val pd = ProvDataset.create(ds, task, this)
    attachFileElements(task, () =>
      spark.read.textFile(path).select(input_file_name()).as[String])
    pd
  }

  /** objectFile: read SequenceFiles of java-serialized batches (the
    * stock `saveAsObjectFile` format) with the same source-file lineage
    * as textFile — each record depends on its file's element (reference:
    * SparkContext.scala:1325 via HadoopRDD semantics).
    */
  def objectFile[T](path: String, description: String = "objectFile")(
      implicit ep: Encoder[ProvRecord[T]]): ProvDataset[T] = {
    import org.apache.hadoop.io.{BytesWritable, NullWritable}
    hadoopFileFlat(path,
      classOf[org.apache.hadoop.mapred.SequenceFileInputFormat[NullWritable, BytesWritable]],
      classOf[NullWritable], classOf[BytesWritable], description) {
      (_: NullWritable, bw: BytesWritable) =>
        val ois = new java.io.ObjectInputStream(
          new java.io.ByteArrayInputStream(bw.copyBytes()))
        try ois.readObject().asInstanceOf[Array[_]].iterator
          .map(_.asInstanceOf[T]).toVector.iterator
        finally ois.close()
    }
  }

  /** binaryRecords: fixed-length records over the binaryFile reader with
    * textFile-style per-file lineage (reference: SparkContext.scala:976 —
    * FixedLengthBinaryInputFormat). Each file yields
    * floor(length / recordLength) records of exactly `recordLength`
    * bytes; a trailing partial record is dropped, matching the
    * fixed-length reader's whole-records-only contract. Parallelism is
    * per FILE (the binaryFile family's contract here) — fixed-length
    * archives are many small shards in practice, and per-file splitting
    * keeps the record→file edge computable without a join.
    */
  def binaryRecords(path: String, recordLength: Int,
                    description: String = "binaryRecords")(
      implicit ep: Encoder[ProvRecord[Array[Byte]]]): ProvDataset[Array[Byte]] = {
    require(recordLength > 0, s"recordLength must be positive: $recordLength")
    val task = newTask(TransformationType.MAP, Nil,
      s"$description($recordLength): $path")
    val execId = executionId
    val tid = task.id
    def files = spark.read.format("binaryFile").load(path)
    val recs = files
      .select(org.apache.spark.sql.functions.col("path"),
              org.apache.spark.sql.functions.col("content"))
      .as[(String, Array[Byte])](
        Encoders.tuple(Encoders.STRING, Encoders.BINARY))
      .flatMap { case (file, content) =>
        val fid = ProvSinkUtil.elementId(execId, tid, file)
        val n = content.length / recordLength
        (0 until n).iterator.map { i =>
          ProvRecord(ProvIds.newId(), Seq(fid),
            java.util.Arrays.copyOfRange(
              content, i * recordLength, (i + 1) * recordLength))
        }
      }(ep)
    val pd = ProvDataset.create(recs, task, this)
    attachFileElements(task, () =>
      files.select("path").as[String](Encoders.STRING))
    pd
  }

  /** Flush the distinct source FILES `paths` lists as elements of
    * `task` (one per file, id = [[ProvSinkUtil.elementId]], values =
    * [[path]]) — the file-element half of per-file lineage (reference:
    * HadoopRDD.scala:223-227,318), shared by every file reader and
    * `FileGroupOps.fileGroup`.
    */
  private[prov] def attachFileElements(task: TaskState,
      paths: () => Dataset[String]): Unit =
    if (captureEnabled) {
      val tid = task.id
      val execId = executionId
      task.extraThunk = Some(() =>
        paths().distinct()
          .map(f => ElementRow(execId, tid,
            ProvSinkUtil.elementId(execId, tid, f),
            Seq(Seq(f)), Seq.empty[String]))(elementRowEnc))
    }

  /** hadoopFile (old `mapred` API) with per-file lineage for ANY
    * InputFormat: each record depends on its source file's element, and
    * the file elements flush alongside (reference:
    * HadoopRDD.scala:223-227,318 attaches the source-file element for
    * every InputFormat, not just text). `conv` maps each (key, value)
    * to the record type INSIDE the split iterator — record readers
    * reuse Writable instances, so `conv` must copy anything it keeps
    * (the same contract as stock `sc.hadoopFile`).
    */
  def hadoopFile[K, V, T](path: String,
      inputFormatClass: Class[_ <: org.apache.hadoop.mapred.InputFormat[K, V]],
      keyClass: Class[K], valueClass: Class[V],
      description: String = "hadoopFile")(conv: (K, V) => T)(
      implicit ep: Encoder[ProvRecord[T]]): ProvDataset[T] =
    hadoopFileFlat(path, inputFormatClass, keyClass, valueClass,
      description)((k: K, v: V) => Iterator.single(conv(k, v)))

  /** [[hadoopFile]]'s reader with a 1→N `conv`: every record `conv`
    * yields depends on its split's file element. Uses
    * HadoopRDD.mapPartitionsWithInputSplit, so the file path is known
    * per record without a join.
    */
  private def hadoopFileFlat[K, V, T](path: String,
      inputFormatClass: Class[_ <: org.apache.hadoop.mapred.InputFormat[K, V]],
      keyClass: Class[K], valueClass: Class[V],
      description: String)(conv: (K, V) => Iterator[T])(
      implicit ep: Encoder[ProvRecord[T]]): ProvDataset[T] =
    splitReader(path, description, new SplitPaths[K, V] {
      def map[U: scala.reflect.ClassTag](
          f: (String, Iterator[(K, V)]) => Iterator[U]): org.apache.spark.rdd.RDD[U] =
        spark.sparkContext.hadoopFile(path, inputFormatClass, keyClass,
            valueClass, spark.sparkContext.defaultParallelism)
          .asInstanceOf[org.apache.spark.rdd.HadoopRDD[K, V]]
          .mapPartitionsWithInputSplit((split, it) => f(split
            .asInstanceOf[org.apache.hadoop.mapred.FileSplit].getPath.toString, it))
    })(conv)

  /** The split-aware reader behind both Hadoop APIs: each record `conv`
    * yields depends on its split's file element, and the split paths
    * flush as the task's file elements (one pass over the splits that
    * reads no records).
    */
  private def splitReader[K, V, T](path: String, description: String,
      splits: SplitPaths[K, V])(conv: (K, V) => Iterator[T])(
      implicit ep: Encoder[ProvRecord[T]]): ProvDataset[T] = {
    val task = newTask(TransformationType.MAP, Nil, s"$description: $path")
    val execId = executionId
    val tid = task.id
    implicit val ct: scala.reflect.ClassTag[ProvRecord[T]] = ProvDataset.anyRefTag
    val recs = splits.map { (file, it) =>
      val fid = ProvSinkUtil.elementId(execId, tid, file)
      it.flatMap { case (k, v) =>
        conv(k, v).map(t => ProvRecord(ProvIds.newId(), Seq(fid), t))
      }
    }
    val pd = ProvDataset.create(spark.createDataset(recs)(ep), task, this)
    attachFileElements(task, () => spark.createDataset(
      splits.map((file, _) => Iterator(file)))(Encoders.STRING))
    pd
  }

  /** sequenceFile with per-file lineage (reference:
    * SparkContext.scala sequenceFile → HadoopRDD semantics). Same
    * Writable-reuse contract on `conv` as [[hadoopFile]].
    */
  def sequenceFile[K, V, T](path: String, keyClass: Class[K],
      valueClass: Class[V], description: String = "sequenceFile")(
      conv: (K, V) => T)(
      implicit ep: Encoder[ProvRecord[T]]): ProvDataset[T] =
    hadoopFile(path,
      classOf[org.apache.hadoop.mapred.SequenceFileInputFormat[K, V]],
      keyClass, valueClass, description)(conv)

  /** newAPIHadoopFile (`mapreduce` API) with per-file lineage — the
    * NewHadoopRDD mirror of [[hadoopFile]].
    */
  def newAPIHadoopFile[K, V, T](path: String,
      inputFormatClass: Class[_ <: org.apache.hadoop.mapreduce.InputFormat[K, V]],
      keyClass: Class[K], valueClass: Class[V],
      description: String = "newAPIHadoopFile")(conv: (K, V) => T)(
      implicit ep: Encoder[ProvRecord[T]]): ProvDataset[T] =
    splitReader(path, description, new SplitPaths[K, V] {
      def map[U: scala.reflect.ClassTag](
          f: (String, Iterator[(K, V)]) => Iterator[U]): org.apache.spark.rdd.RDD[U] =
        spark.sparkContext.newAPIHadoopFile(path,
            inputFormatClass.asInstanceOf[Class[org.apache.hadoop.mapreduce.InputFormat[K, V]]],
            keyClass, valueClass)
          .asInstanceOf[org.apache.spark.rdd.NewHadoopRDD[K, V]]
          .mapPartitionsWithInputSplit((split, it) => f(split
            .asInstanceOf[org.apache.hadoop.mapreduce.lib.input.FileSplit].getPath.toString, it))
    })((k: K, v: V) => Iterator.single(conv(k, v)))

  /** Bridge any stock RDD — custom receivers, computed sources — into
    * the provenance surface: each record becomes a fresh root element.
    * For file-based sources prefer [[textFile]]/[[objectFile]]/
    * [[sequenceFile]]/[[hadoopFile]]/[[newAPIHadoopFile]], which carry
    * per-file lineage; this bridge is for RDDs with no file identity.
    */
  def fromRDD[T](rdd: org.apache.spark.rdd.RDD[T],
                 description: String = "fromRDD")(
      implicit ep: Encoder[ProvRecord[T]]): ProvDataset[T] = {
    val task = newTask(TransformationType.MAP, Nil, description)
    implicit val ct: scala.reflect.ClassTag[ProvRecord[T]] = ProvDataset.anyRefTag
    val ds = spark.createDataset(
      rdd.map(v => ProvRecord(ProvIds.newId(), Seq.empty[String], v)))(ep)
    ProvDataset.create(ds, task, this)
  }

  // ---- lifecycle ----------------------------------------------------

  /** Persist all pending provenance (tasks + element rows) — the analogue
    * of checkAndPersistProvenance on action (reference: RDD.scala:1143-1147),
    * but batched: one distributed parquet append for all unflushed tasks.
    */
  // in-flight async element writes, chained so appends to the store
  // directory never interleave
  private var flushChain: scala.concurrent.Future[Unit] =
    scala.concurrent.Future.unit

  private val flushFailures = mutable.ListBuffer[Throwable]()

  // Bounded async queue: one permit per queued-or-running flush batch.
  // flush() past the bound BLOCKS the caller (backpressure), so a driver
  // firing actions faster than the store can absorb holds at most
  // `maxPendingFlushes` un-written batches — bounded memory, no lost
  // rows (close() still awaits everything).
  private val flushPermits =
    new java.util.concurrent.Semaphore(math.max(1, maxPendingFlushes))
  private val flushDepth = new java.util.concurrent.atomic.AtomicInteger(0)
  @volatile private var maxFlushDepth = 0

  /** Queued+running async flush batches right now (≤ maxPendingFlushes). */
  def pendingFlushBatches: Int = flushDepth.get

  /** High-water mark of the async queue depth — the boundedness witness
    * asserted by ProvSpec.
    */
  def maxObservedFlushDepth: Int = maxFlushDepth

  /** Where a task's side-captured element files go, with the driver's
    * Hadoop conf to ship into the capturing closures.
    */
  private[prov] def sink(taskId: String): ElementSideWriter.Sink =
    ElementSideWriter.Sink(storeDir, executionId, taskId, serializableHadoopConf)

  private lazy val serializableHadoopConf =
    new SerializableHadoopConf(spark.sparkContext.hadoopConfiguration)

  /** `ids` plus every transitive ancestor task id (call under the lock). */
  private def ancestorIds(ids: Seq[String]): Set[String] = {
    val seen = mutable.Set[String]()
    var frontier = ids
    while (frontier.nonEmpty) {
      val next = frontier.filterNot(seen)
      seen ++= next
      frontier = next.flatMap(id => tasks.get(id)).flatMap(_.parents)
    }
    seen.toSet
  }

  private def debug(msg: => String): Unit =
    if (sys.env.contains("GRAFT_PROV_DEBUG")) System.err.println(msg)

  private def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def flush(): Unit = if (captureEnabled) {
    import Elements._
    // Plan construction + flushed-marking run under the lock: a
    // concurrent second flush sees flushed=true and appends nothing —
    // concurrent actions are idempotent. Marking is optimistic: a failed
    // phase UN-marks its batch's tasks so a later flush retries them
    // (side-capture commits are idempotent, so a retry never duplicates
    // already-committed rows).
    //
    // Two phases:
    //  1. SYNC (caller thread): SideCaptured tasks' record elements, for
    //     both layers. Tasks an action fully computed just get their
    //     staged files committed (renames, no Spark job). The rest are
    //     completed HERE, one pass per MAXIMAL incomplete task — it
    //     stages every incomplete task beneath it — synchronously, so a
    //     random-id stage is never computed concurrently by the flush
    //     and a user action (which could mint divergent ids across
    //     executors). After this phase the record elements are READABLE.
    //  2. ASYNC-able: one append job for Stats tasks + extras (file
    //     elements, dropped-record markers) — all safe to recompute
    //     off-thread because their ids are deterministic.
    val planned = synchronized {
      val pending = tasks.values
        .filter(t => !t.flushed && !t.ignored &&
          (t.elements != NoElements || t.extraThunk.nonEmpty)).toSeq
      if (pending.isEmpty) None
      else {
        val side = pending.flatMap(t => t.elements match {
          case SideCaptured(plan) => Some(t -> plan)
          case _                  => None
        })
        val unions = (pending.map(_.elements).collect { case Stats(rows) => rows } ++
          pending.flatMap(_.extraThunk)).map(_.apply())
        pending.foreach(_.flushed = true)
        Some((pending, side, unions))
      }
    }
    planned.foreach { case (pending, side, unions) =>
      val unmarkAll = () => synchronized { pending.foreach(_.flushed = false) }
      // ---- phase 1: complete and commit side-captured elements (sync) ----
      try {
        val s0 = System.nanoTime()
        def incomplete(ts: Seq[(TaskState, Set[String] => Dataset[_])]) =
          ts.filterNot { case (t, _) => ElementSideWriter.complete(sink(t.id)) }
        var todo = incomplete(side)
        // first the maximal incomplete tasks; then, if a count missed a
        // task beneath it (a frame whose subtree the analyzer rewrote),
        // that task's own plan
        Seq(true, false).foreach { maximalOnly =>
          if (todo.nonEmpty) {
            val ids = todo.map(_._1.id).toSet
            val beneath =
              if (maximalOnly) synchronized(ancestorIds(todo.flatMap(_._1.parents)))
              else Set.empty[String]
            todo.foreach { case (t, plan) =>
              if (!beneath(t.id)) {
                val c0 = System.nanoTime()
                // one pass over the rows: a count would add an aggregate
                // stage, and under AQE a second job
                plan(ids).queryExecution.toRdd.foreach(_ => ())
                debug(f"[prov]   complete ${t.ttype}: ${secondsSince(c0)}%.2fs")
              }
            }
            todo = incomplete(todo)
          }
        }
        require(todo.isEmpty,
          s"side capture incomplete after materialize: ${todo.map(_._1.id).mkString(", ")}")
        side.foreach { case (t, _) => ElementSideWriter.commit(sink(t.id)) }
        debug(f"[prov]   commit ${side.size} tasks: ${secondsSince(s0)}%.2fs")
      } catch { case e: Throwable => unmarkAll(); throw e }
      // ---- phase 2: stats + extras append (async-able) ----
      val job: Option[() => Unit] =
        if (unions.isEmpty) None
        else {
          val all = unions.reduce(_ unionByName _)
          val para = spark.sparkContext.defaultParallelism
          Some(() => {
            val t0 = System.nanoTime()
            // ANY failure before the append lands un-marks the whole
            // batch, so a later flush retries it instead of silently
            // dropping it (side tasks re-commit idempotently)
            try {
              // write straight into this execution's partition
              // directory: the dynamic-partition writer (partitionBy)
              // sorts every task's rows by a column that is constant
              // here — path-embedding the single partition value skips
              // that; readers see the same execution_id=... layout via
              // partition discovery. coalesce bounds the commit to
              // defaultParallelism files instead of (branches ×
              // partitions). Element ids / deps / values are
              // near-unique strings: dictionary pages only get built and
              // abandoned (same rationale as ElementSideWriter's
              // per-column setting)
              all.drop("execution_id").coalesce(para).write.mode("append")
                .option("parquet.enable.dictionary", "false")
                .parquet(s"$storeDir/data_elements/execution_id=$executionId")
            } catch {
              case e: Throwable =>
                unmarkAll()
                throw e
            }
            debug(f"[prov] append batch (${unions.size} stats/extras) in ${secondsSince(t0)}%.2fs")
          })
        }
      job.foreach { j =>
        if (asyncFlush) {
          flushPermits.acquire() // backpressure: block past the bound
          val d = flushDepth.incrementAndGet()
          synchronized { if (d > maxFlushDepth) maxFlushDepth = d }
          synchronized {
            implicit val ec: scala.concurrent.ExecutionContext =
              scala.concurrent.ExecutionContext.global
            // recover first: a failed earlier write must not skip THIS
            // write (map on a failed Future never runs) — each job records
            // its own failure and un-marks its tasks, so later flushes
            // still happen and awaitFlushes/close still surface every error
            flushChain = flushChain.recover { case _ => () }.map { _ =>
              try j() catch {
                case e: Throwable =>
                  synchronized { flushFailures += e }
                  throw e
              } finally {
                flushDepth.decrementAndGet()
                flushPermits.release()
              }
            }
          }
        } else j()
      }
    }
  }

  /** Await all in-flight async element writes; rethrows their failures
    * (all async write errors are preserved, not just the first).
    */
  def awaitFlushes(): Unit = {
    val f = synchronized(flushChain)
    scala.util.Try(
      scala.concurrent.Await.result(f, scala.concurrent.duration.Duration.Inf))
    val failures = synchronized(flushFailures.toList)
    failures.headOption.foreach { first =>
      failures.drop(1).foreach(first.addSuppressed)
      synchronized(flushFailures.clear())
      throw first
    }
  }

  /** Finish the execution: flush elements, write the driver-side tables
    * (executions, tasks, transformation_groups, file_group_references),
    * release caches (reference: SparkContext.scala:1975-1976 →
    * DataflowProvenance.finish).
    */
  def close(): Unit = {
    flush()
    awaitFlushes() // surface any async write failure before finishing
    closeInternal()
  }

  private def closeInternal(): Unit = synchronized {
    val close0 = System.nanoTime()
    endTime = Some(new Timestamp(System.currentTimeMillis()))
    if (captureEnabled) {
      // driver-side parquet writes (MetaParquet): these tables hold a
      // handful of rows, and a Spark write job costs ~0.3s of fixed
      // scheduler/commit overhead per close. Layout matches the former
      // partitionBy("execution_id") output byte-for-byte in structure:
      // partition value path-embedded, data columns in the same order.
      import MetaParquet._
      val hconf = spark.sparkContext.hadoopConfiguration
      def write(t: Table, rows: Seq[Seq[Any]]): Unit =
        append(hconf, t.dir(storeDir, executionId), t.fields, rows)
      write(Executions, Seq(Seq(appName, startTime, endTime)))
      write(Tasks, tasks.values.toSeq.map(t => Seq(
        t.id, t.description, t.ttype, t.usingDefaultSchema,
        t.schemaFields, t.hasDataInRepository, t.ignored, t.parents)))
      if (groups.nonEmpty)
        write(TransformationGroups, groups.toSeq.map(g => Seq(g.id, g.name,
          g.initTasks.toSeq, g.intermediaryTasks.toSeq, g.finishTask.getOrElse(""))))
      if (fileGroupRefs.nonEmpty)
        write(FileGroupReferences,
          fileGroupRefs.toSeq.map(r => Seq(r.element_id, r.folder_path)))
    }
    // reference: VersionControl.finish on sc.stop
    // (SparkContext.scala:1975-1976, VersionControl.scala:134-157)
    versionControl.foreach(_.finish(executionId))
    // orphaned side-capture attempts (ignored tasks, post-flush
    // recomputes, superseded attempts) — committed files are untouched
    if (captureEnabled)
      try ElementSideWriter.cleanupStaging(storeDir, executionId,
        spark.sparkContext.hadoopConfiguration)
      catch { case scala.util.control.NonFatal(_) => () }
    cached.foreach(_.unpersist())
    cached.clear()
    debug(f"[prov] close tables+cleanup: ${secondsSince(close0)}%.2fs")
  }
}

/** One Hadoop input API's splits: maps each split's records together
  * with the split's file path (both APIs expose
  * `mapPartitionsWithInputSplit`, over different split classes).
  */
private[prov] trait SplitPaths[K, V] {
  def map[U: scala.reflect.ClassTag](
      f: (String, Iterator[(K, V)]) => Iterator[U]): org.apache.spark.rdd.RDD[U]
}

private[prov] object ProvSinkUtil {
  /** Deterministic v3-style id of an element a task mints from a key (a
    * source file's path, a streaming batch or record): unique per
    * (execution, task, key), so a replay re-mints it and no two tasks
    * share one.
    */
  def elementId(executionId: String, taskId: String, key: String): String =
    java.util.UUID.nameUUIDFromBytes(
      s"$executionId|$taskId|$key".getBytes("UTF-8")).toString
}
