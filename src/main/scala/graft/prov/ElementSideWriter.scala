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

/** Single-pass element capture for both layers: the typed layer's
  * `mapPartitions` wrapper beneath each tracked dataset's `persist`
  * ([[ProvDataset]]) and the relational layer's [[ElementTeeExec]]
  * stream each partition's element rows straight to parquet while the
  * triggering action computes them, so flush commits files instead of
  * replaying plans through a second Spark job (the reference pays this
  * differently: per-record async Cassandra inserts from every executor
  * thread, DataSource.scala:28-45).
  *
  * Protocol (correct under task retries, partial computation and
  * re-planned partitionings):
  *  - every capturing RDD mints a RUN id when it is built; each task
  *    attempt writes `r<run>-p<pid>of<n>-t<attemptId>.parquet` under
  *    `_element_staging/<execId>/<taskId>/`, via a `.inprogress` name
  *    renamed only when the partition iterator is EXHAUSTED — a partial
  *    file from a failed, interrupted or `take`-truncated attempt is
  *    never visible. A run over zero partitions leaves an
  *    `r<run>-empty` marker instead;
  *  - a run is complete when every pid of its `n` has a file. Under AQE
  *    two actions may coalesce one plan differently, so runs of one task
  *    need not share `n`; commit takes exactly ONE complete run — typed
  *    ids come from the one cached run, relational ids are
  *    deterministic, so any complete run is equivalent;
  *  - commit moves, per partition, the run's newest attempt to the
  *    execution's `data_elements` partition directory under the
  *    DETERMINISTIC name `side-<taskId>-r<run>-p<pid>of<n>.parquet`. It is
  *    idempotent: a re-flush after a failure finishes the run already
  *    (partly) committed and never adds a second copy.
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

  private val StagedName = """r(\w+)-p(\d+)of(\d+)-t(\d+)\.parquet""".r
  private val EmptyRun = """r(\w+)-empty""".r
  private def committedName(taskId: String, run: String, pid: Int, n: Int) =
    s"side-$taskId-r$run-p${pid}of$n.parquet"
  private def CommittedNameRe(taskId: String) =
    (java.util.regex.Pattern.quote(s"side-$taskId-r") +
      """(\w+)-p(\d+)of(\d+)\.parquet""").r

  /** Where one task's element files are staged and committed, shipped
    * with each capturing closure.
    */
  private[prov] final case class Sink(storeDir: String, execId: String,
                                      taskId: String, conf: SerializableHadoopConf) {
    def dir: Path = new Path(stagingDir(storeDir, execId, taskId))
  }

  /** Mint the run id of a capturing RDD over `n` partitions; a run with
    * no partitions runs no task, so its completeness is marked here.
    */
  private[prov] def newRun(sink: Sink, n: Int): String = {
    val run = f"${java.util.concurrent.ThreadLocalRandom.current().nextLong()}%016x"
    if (n == 0) {
      val fs = sink.dir.getFileSystem(sink.conf.value)
      fs.create(new Path(sink.dir, s"r$run-empty"), true).close()
    }
    run
  }

  /** One staged element record, streamed straight to the
    * `RecordConsumer` by [[ElementRowWriteSupport]] — no per-row Group
    * tree. A null value is written as a null list element.
    */
  private[prov] final case class StagedRow(
      elementId: Binary, values: Seq[Seq[Binary]], deps: Seq[Binary])

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
    // field, which readers surface as [] (never null), and a null
    // element is a repetition group with no "element" field
    private def writeStringList(field: String, idx: Int, xs: Seq[Binary]): Unit = {
      rc.startField(field, idx)
      rc.startGroup()
      if (xs.nonEmpty) {
        rc.startField("list", 0)
        xs.foreach { b =>
          rc.startGroup()
          if (b != null) {
            rc.startField("element", 0)
            rc.addBinary(b)
            rc.endField("element", 0)
          }
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
      rc.addBinary(row.elementId)
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

  /** Wrap a partition iterator with a streaming element writer that
    * stages `row(x)` for every `x` passing through. `pid` and `n` are
    * the capturing RDD's OWN partition index and count (from
    * `mapPartitionsWithIndex`) — NOT the running task's: when a stage
    * like cartesian computes a parent partition inside a child task,
    * `TaskContext.partitionId` is the child's, and naming files by it
    * would scatter one logical partition across arbitrary child ids.
    * Pass-through when there is no task context (driver-local
    * evaluation).
    */
  def capturing[A](sink: Sink, run: String, pid: Int, n: Int,
                   it: Iterator[A])(row: A => StagedRow): Iterator[A] = {
    val ctx = TaskContext.get()
    if (ctx == null) return it
    val conf = sink.conf.value
    val dir = sink.dir
    val fs = dir.getFileSystem(conf)
    fs.mkdirs(dir)
    val base = s"r$run-p${pid}of$n-t${ctx.taskAttemptId()}.parquet"
    val tmp = new Path(dir, base + ".inprogress")
    val fin = new Path(dir, base)
    val writer = new StagedRowWriterBuilder(
        HadoopOutputFile.fromPath(tmp, conf), sink.taskId)
      .withConf(conf)
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
    new Iterator[A] {
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
      def next(): A = {
        val x = it.next()
        writer.write(row(x))
        x
      }
    }
  }

  /** One element file of a task: a staged attempt, a committed
    * partition (`committed`, attempt = Long.MaxValue) or a run's empty
    * marker (pid = -1).
    */
  private final case class Part(run: String, n: Int, pid: Int, attempt: Long,
                                path: Path, committed: Boolean)

  private def parts(fs: FileSystem, sink: Sink): Seq[Part] = {
    def list(dir: Path) = if (fs.exists(dir)) fs.listStatus(dir).toSeq.map(_.getPath) else Nil
    val committedRe = CommittedNameRe(sink.taskId)
    list(new Path(destDir(sink.storeDir, sink.execId))).flatMap(p => p.getName match {
      case committedRe(r, i, n) => Some(Part(r, n.toInt, i.toInt, Long.MaxValue, p, committed = true))
      case _ => None
    }) ++ list(sink.dir).flatMap(p => p.getName match {
      case StagedName(r, i, n, t) => Some(Part(r, n.toInt, i.toInt, t.toLong, p, committed = false))
      case EmptyRun(r) => Some(Part(r, 0, -1, 0L, p, committed = false))
      case _ => None // .inprogress leftovers — cleaned with the staging dir
    })
  }

  /** The run commit takes: the one already (partly) committed, else any
    * complete one; None while no such run is complete.
    */
  private def chosen(ps: Seq[Part]): Option[Seq[Part]] = {
    val runs = ps.groupBy(_.run).values.toSeq
    val committed = runs.filter(_.exists(_.committed))
    require(committed.size <= 1, s"more than one committed run: ${committed.map(_.head.run)}")
    (if (committed.nonEmpty) committed else runs)
      .find(r => r.map(_.pid).filter(_ >= 0).distinct.size == r.head.n)
  }

  /** Whether one complete run of the task is staged or committed. */
  private[prov] def complete(sink: Sink): Boolean =
    chosen(parts(sink.dir.getFileSystem(sink.conf.value), sink)).nonEmpty

  /** Move, per partition, the chosen run's newest staged attempt into
    * the execution's element directory under its deterministic name,
    * and drop the run's older attempts; other runs are left to
    * [[cleanupStaging]]. Idempotent. Throws when no run is complete.
    */
  private[prov] def commit(sink: Sink): Unit = {
    val fs = sink.dir.getFileSystem(sink.conf.value)
    val run = chosen(parts(fs, sink)).getOrElse(throw new IllegalStateException(
      s"side capture incomplete for task ${sink.taskId}"))
    val dest = new Path(destDir(sink.storeDir, sink.execId))
    run.filter(_.pid >= 0).groupBy(_.pid).values.foreach { attempts =>
      val newest = attempts.maxBy(_.attempt)
      if (!newest.committed) {
        fs.mkdirs(dest)
        if (!fs.rename(newest.path,
              new Path(dest, committedName(sink.taskId, newest.run, newest.pid, newest.n))))
          throw new java.io.IOException(
            s"side-capture commit failed for task ${sink.taskId} partition ${newest.pid}")
      }
      attempts.filterNot(a => a.committed || (a eq newest)).foreach(a => fs.delete(a.path, false))
    }
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
