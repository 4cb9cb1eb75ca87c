package graft.prov

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.hadoop.ParquetWriter
import org.apache.parquet.hadoop.api.WriteSupport
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.io.api.{Binary, RecordConsumer}
import org.apache.parquet.schema.{MessageType, MessageTypeParser}
import org.apache.spark.TaskContext

/** Hadoop `Configuration` is not `Serializable`; this wrapper ships the
  * driver's conf into capture closures via its own writable protocol
  * (the same trick Spark uses internally), so side writers resolve the
  * store filesystem with the driver's settings/credentials.
  */
final class SerializableHadoopConf(@transient var value: Configuration)
    extends Serializable {
  private def writeObject(out: java.io.ObjectOutputStream): Unit = {
    out.defaultWriteObject()
    value.write(out)
  }
  private def readObject(in: java.io.ObjectInputStream): Unit = {
    in.defaultReadObject()
    value = new Configuration(false)
    value.readFields(in)
  }
}

/** Mutable driver-side knobs a capture closure reads at job-submission
  * time: `setSchema`/`ignoreIt` may be called after the dataset (and its
  * capture wrapper) was declared, and the wrapper must honor the final
  * setting. Serialized with each job's closure, so executors see the
  * value current when the job was submitted.
  */
final class CaptureConfig(@volatile var schema: DataElementSchema[_],
                          @volatile var ignored: Boolean = false)
    extends Serializable

/** Single-pass element capture: a `mapPartitions` wrapper placed INSIDE
  * each tracked dataset's persisted plan streams that stage's element
  * rows straight to parquet while the triggering action computes the
  * stage — so flush commits files instead of replaying stage caches
  * through a second Spark job (the reference pays this differently:
  * per-record async Cassandra inserts from every executor thread,
  * DataSource.scala:28-45).
  *
  * Protocol (correct under task retries and partial computation):
  *  - each task attempt writes `p<pid>of<n>-t<attemptId>.parquet` under
  *    `_element_staging/<execId>/<taskId>/`, via a `.inprogress` name
  *    renamed only when the partition iterator is EXHAUSTED — a partial
  *    file from a failed/interrupted attempt is never visible;
  *  - the wrapper sits directly beneath `persist`, so a partition is
  *    captured at most once per materialization; recomputes after
  *    eviction stage a second attempt and commit keeps the newest;
  *  - commit moves, per partition, the newest staged attempt to the
  *    execution's `data_elements` partition directory under the
  *    DETERMINISTIC name `side-<taskId>-p<pid>of<n>.parquet` — commit is
  *    idempotent (an already-committed partition just drops its staged
  *    leftovers), so a failed batch can re-flush without duplicating
  *    rows.
  *
  * File columns are (task_id, element_id, values, deps) with standard
  * 3-level LIST structure — byte-compatible with the Spark-written
  * appends that share the directory (execution_id stays path-embedded).
  */
object ElementSideWriter {

  /** ElementRow minus execution_id, in Spark's own parquet LIST layout. */
  private[prov] val schemaText: String =
    """message spark_schema {
      |  optional binary task_id (UTF8);
      |  optional binary element_id (UTF8);
      |  optional group values (LIST) {
      |    repeated group list {
      |      optional group element (LIST) {
      |        repeated group list {
      |          optional binary element (UTF8);
      |        }
      |      }
      |    }
      |  }
      |  optional group deps (LIST) {
      |    repeated group list {
      |      optional binary element (UTF8);
      |    }
      |  }
      |}""".stripMargin

  private[prov] lazy val messageType: MessageType =
    MessageTypeParser.parseMessageType(schemaText)

  private def stagingRoot(storeDir: String, execId: String) =
    s"$storeDir/_element_staging/$execId"

  private[prov] def stagingDir(storeDir: String, execId: String,
                               taskId: String): String =
    s"${stagingRoot(storeDir, execId)}/$taskId"

  private[prov] def destDir(storeDir: String, execId: String): String =
    s"$storeDir/data_elements/execution_id=$execId"

  private val StagedName = """p(\d+)of(\d+)-t(\d+)\.parquet""".r
  private def committedName(taskId: String, pid: Int, n: Int) =
    s"side-$taskId-p${pid}of$n.parquet"
  private def CommittedNameRe(taskId: String) =
    (java.util.regex.Pattern.quote(s"side-$taskId-p") + """(\d+)of(\d+)\.parquet""").r

  /** One staged element record, streamed straight to the
    * `RecordConsumer` by [[ElementRowWriteSupport]] — no per-row Group
    * tree, the hot path is a handful of `Binary` wrappers per record.
    */
  private[prov] final case class StagedRow(
      elementId: String, values: Seq[Seq[String]], deps: Seq[String])

  /** Streams (task_id, element_id, values, deps) in Spark's 3-level
    * LIST layout. `task_id` is constant per file (one dictionary-coded
    * Binary reused for every row).
    */
  private[prov] final class ElementRowWriteSupport(taskId: String)
      extends WriteSupport[StagedRow] {
    private var rc: RecordConsumer = _
    private val taskIdBin = Binary.fromString(taskId)
    override def init(conf: Configuration): WriteSupport.WriteContext =
      new WriteSupport.WriteContext(
        messageType, java.util.Collections.emptyMap[String, String]())
    override def prepareForWrite(r: RecordConsumer): Unit = rc = r
    override def getName: String = "graft-element-side"
    // LIST protocol: one startField per list, one startGroup per
    // repetition; an empty list is startGroup/endGroup with no "list"
    // field, which readers surface as [] (never null)
    private def writeStringList(field: String, idx: Int, xs: Seq[String]): Unit = {
      rc.startField(field, idx)
      rc.startGroup()
      if (xs.nonEmpty) {
        rc.startField("list", 0)
        xs.foreach { s =>
          rc.startGroup()
          rc.startField("element", 0)
          rc.addBinary(Binary.fromString(String.valueOf(s)))
          rc.endField("element", 0)
          rc.endGroup()
        }
        rc.endField("list", 0)
      }
      rc.endGroup()
      rc.endField(field, idx)
    }
    override def write(row: StagedRow): Unit = {
      rc.startMessage()
      rc.startField("task_id", 0)
      rc.addBinary(taskIdBin)
      rc.endField("task_id", 0)
      rc.startField("element_id", 1)
      rc.addBinary(Binary.fromString(row.elementId))
      rc.endField("element_id", 1)
      rc.startField("values", 2)
      rc.startGroup()
      if (row.values.nonEmpty) {
        rc.startField("list", 0)
        row.values.foreach { inner =>
          rc.startGroup()
          writeStringList("element", 0, inner)
          rc.endGroup()
        }
        rc.endField("list", 0)
      }
      rc.endGroup()
      rc.endField("values", 2)
      writeStringList("deps", 3, row.deps)
      rc.endMessage()
    }
  }

  private[prov] final class StagedRowWriterBuilder(
      out: HadoopOutputFile, taskId: String)
      extends ParquetWriter.Builder[StagedRow, StagedRowWriterBuilder](out) {
    override def self(): StagedRowWriterBuilder = this
    override def getWriteSupport(conf: Configuration): WriteSupport[StagedRow] =
      new ElementRowWriteSupport(taskId)
  }

  /** Wrap a partition iterator with a streaming element writer. `pid`
    * and `n` are the wrapped RDD's OWN partition index and count (passed
    * from `mapPartitionsWithIndex` at wrap time) — NOT the running
    * task's: when a stage like cartesian computes a parent partition
    * inside a child task, `TaskContext.partitionId` is the child's, and
    * naming files by it would scatter one logical partition across
    * arbitrary child ids. Pass-through when there is no task context
    * (driver-local evaluation) or the task was `ignoreIt`-ed by the time
    * the job was submitted.
    */
  def capturing[T](storeDir: String, execId: String, taskId: String,
                   cfg: CaptureConfig, conf: SerializableHadoopConf,
                   pid: Int, n: Int,
                   it: Iterator[ProvRecord[T]]): Iterator[ProvRecord[T]] = {
    val ctx = TaskContext.get()
    if (ctx == null || cfg.ignored) return it
    val dir = new Path(stagingDir(storeDir, execId, taskId))
    val fs = dir.getFileSystem(conf.value)
    fs.mkdirs(dir)
    val base = s"p${pid}of$n-t${ctx.taskAttemptId()}.parquet"
    val tmp = new Path(dir, base + ".inprogress")
    val fin = new Path(dir, base)
    val writer = new StagedRowWriterBuilder(
        HadoopOutputFile.fromPath(tmp, conf.value), taskId)
      .withConf(conf.value)
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      // bound per-writer buffering well below the 128 MiB default: element
      // rows are small and many writers run concurrently per executor
      .withRowGroupSize(32L * 1024 * 1024)
      // element ids (and most values/deps) are unique per row — building
      // dictionaries only to abandon them at the fallback threshold is
      // pure hot-path waste; task_id is constant per file and keeps its
      // dictionary. Page checksums are off: a torn staged file is already
      // rejected by the .inprogress rename protocol.
      .withDictionaryEncoding(false)
      .withDictionaryEncoding("task_id", true)
      .withPageWriteChecksumEnabled(false)
      .build()
    val sch = cfg.schema.asInstanceOf[DataElementSchema[T]]
    var open = true
    // a failed/interrupted attempt must leave no visible file: the
    // completion listener (fires on success and failure alike) discards
    // anything not yet finalized by iterator exhaustion
    ctx.addTaskCompletionListener { _ =>
      if (open) {
        open = false
        try writer.close() catch { case _: Throwable => () }
        try fs.delete(tmp, false) catch { case _: Throwable => () }
      }
    }
    new Iterator[ProvRecord[T]] {
      def hasNext: Boolean = {
        val h = it.hasNext
        if (!h && open) {
          open = false
          writer.close()
          if (!fs.rename(tmp, fin))
            throw new java.io.IOException(s"side-capture finalize failed: $tmp -> $fin")
        }
        h
      }
      def next(): ProvRecord[T] = {
        val r = it.next()
        writer.write(StagedRow(r.id, sch.project(r.value), r.deps))
        r
      }
    }
  }

  /** (covered partition ids, declared partition count) from staged +
    * committed files; (empty, None) when the stage never ran. Throws on
    * inconsistent partition counts across files — that would mean the
    * same plan materialized under two different partitionings, which the
    * cached-plan contract rules out, so it must surface loudly.
    */
  private[prov] def coverage(storeDir: String, execId: String, taskId: String,
                             conf: Configuration): (Set[Int], Option[Int]) = {
    val staged = new Path(stagingDir(storeDir, execId, taskId))
    val dest = new Path(destDir(storeDir, execId))
    val fs = staged.getFileSystem(conf)
    val committedRe = CommittedNameRe(taskId)
    val found = scala.collection.mutable.Map[Int, Int]() // pid -> n
    def scan(dir: Path, pf: PartialFunction[String, (Int, Int)]): Unit =
      if (fs.exists(dir)) fs.listStatus(dir).foreach { st =>
        pf.lift(st.getPath.getName).foreach { case (pid, n) =>
          found.get(pid).foreach(prev => require(prev == n,
            s"inconsistent partition counts for task $taskId: $prev vs $n"))
          found(pid) = n
        }
      }
    scan(staged, { case StagedName(p, n, _) => (p.toInt, n.toInt) })
    scan(dest, { case committedRe(p, n) => (p.toInt, n.toInt) })
    val ns = found.values.toSet
    require(ns.size <= 1,
      s"inconsistent partition counts for task $taskId: $ns")
    (found.keySet.toSet, ns.headOption)
  }

  /** Move, per partition, the newest staged attempt into the execution's
    * element directory under its deterministic name; drop older attempts
    * and anything already committed. Idempotent; returns the set of
    * partition ids now committed for this task.
    */
  private[prov] def commit(storeDir: String, execId: String, taskId: String,
                           conf: Configuration): Set[Int] = {
    val staged = new Path(stagingDir(storeDir, execId, taskId))
    val dest = new Path(destDir(storeDir, execId))
    val fs = staged.getFileSystem(conf)
    val committed = scala.collection.mutable.Set[Int]()
    val committedRe = CommittedNameRe(taskId)
    if (fs.exists(dest)) fs.listStatus(dest).foreach { st =>
      st.getPath.getName match {
        case committedRe(p, _) => committed += p.toInt
        case _ => ()
      }
    }
    if (fs.exists(staged)) {
      val attempts = fs.listStatus(staged).toSeq
        .flatMap(st => st.getPath.getName match {
          case StagedName(p, n, t) => Some((p.toInt, n.toInt, t.toLong, st.getPath))
          case _ => None // .inprogress leftovers — cleaned with the staging dir
        })
      attempts.groupBy(_._1).foreach { case (pid, files) =>
        val newestFirst = files.sortBy(-_._3)
        val keep = newestFirst.head
        if (!committed.contains(pid)) {
          fs.mkdirs(dest)
          if (!fs.rename(keep._4, new Path(dest, committedName(taskId, pid, keep._2))))
            throw new java.io.IOException(
              s"side-capture commit failed for task $taskId partition $pid")
          committed += pid
          newestFirst.tail.foreach(f => fs.delete(f._4, false))
        } else {
          newestFirst.foreach(f => fs.delete(f._4, false))
        }
      }
    }
    committed.toSet
  }

  /** Staging directory of one streaming micro-batch's element files. */
  private[prov] def batchStagingDir(storeDir: String, execId: String,
                                    taskId: String, batchId: Long): String =
    s"${stagingDir(storeDir, execId, taskId)}/b$batchId"

  /** Commit one streaming micro-batch staged under [[batchStagingDir]]:
    * delete the batch's previously committed files, then move each
    * staged part file into the execution's element directory as
    * `stream-<taskId>-b<batchId>-<i>.parquet`. A replayed batch thus
    * REPLACES its rows instead of adding a second copy. A crash between
    * the delete and the renames is healed by the replay itself: the
    * stream has not logged the batch as committed, so foreachBatch runs
    * it again.
    */
  private[prov] def commitBatch(storeDir: String, execId: String,
                                taskId: String, batchId: Long,
                                conf: Configuration): Unit = {
    val staged = new Path(batchStagingDir(storeDir, execId, taskId, batchId))
    val dest = new Path(destDir(storeDir, execId))
    val fs = staged.getFileSystem(conf)
    val parts = fs.listStatus(staged).map(_.getPath)
      .filter(p => p.getName.startsWith("part-") && p.getName.endsWith(".parquet"))
      .sortBy(_.getName)
    val prefix = s"stream-$taskId-b$batchId-"
    val committedRe = (java.util.regex.Pattern.quote(prefix) + """\d+\.parquet""").r
    fs.mkdirs(dest)
    fs.listStatus(dest).foreach { st =>
      if (committedRe.matches(st.getPath.getName)) fs.delete(st.getPath, false)
    }
    parts.zipWithIndex.foreach { case (p, i) =>
      if (!fs.rename(p, new Path(dest, s"$prefix$i.parquet")))
        throw new java.io.IOException(
          s"streaming element commit failed for task $taskId batch $batchId: $p")
    }
    fs.delete(staged, true)
  }

  /** Remove the execution's staging directory (orphaned attempts from
    * ignored tasks, post-flush recomputes, duplicate attempts).
    */
  private[prov] def cleanupStaging(storeDir: String, execId: String,
                                   conf: Configuration): Unit = {
    val root = new Path(stagingRoot(storeDir, execId))
    val fs = root.getFileSystem(conf)
    if (fs.exists(root)) { fs.delete(root, true); () }
  }
}
