package graft.prov.filegroup

import java.nio.file.{Files, Path, Paths}
import java.util.Comparator

import org.apache.spark.sql.{Encoder, Encoders}

import graft.prov._

/** Black-box execution over FileGroup datasets — the Spark-native rebuild
  * of the reference's FUSE-mounted pipeline (SURVEY §3.2):
  * fileGroup → runScientificApplication/runCommand → saveFilesAt.
  * The FUSE in-memory FS (vfs/MemoryFS.java) is replaced by a plain temp
  * directory: write files, exec, diff the directory (content compare) to
  * set `modified` — identical capability, no native mounts.
  */
object FileGroupOps {

  implicit val fileGroupEnc: Encoder[FileGroup] = Encoders.product[FileGroup]
  implicit val provFgEnc: Encoder[ProvRecord[FileGroup]] =
    Encoders.product[ProvRecord[FileGroup]]

  /** Load FileGroups, one per template, with per-file lineage: the group
    * element depends on one element per source file (reference:
    * SparkContext.scala:1339-1358 — binaryFiles → coalesce(1) → one
    * FileGroup per template, tagged FILE_GROUP).
    */
  /** Normalize a Hadoop file URI (file:/x, file:///x) to a plain
    * absolute path so element ids are stable across read paths.
    */
  private def normalizePath(uri: String): String =
    uri.replaceFirst("^file:/+", "/")

  def fileGroup(session: ProvSession, templates: FileGroupTemplate*): ProvDataset[FileGroup] = {
    val spark = session.spark
    import org.apache.spark.sql.functions.col
    val task = session.newTask(TransformationType.FILE_GROUP, Nil,
      s"fileGroup(${templates.map(_.name).mkString(", ")})")
    task.schemaFields = Seq("Name", "Path", "Size")
    val execId = session.executionId
    val tid = task.id

    // Fully distributed load: one binaryFile scan over every template's
    // paths; contents never touch the driver (the reference likewise
    // builds groups inside executors, SparkContext.scala:1339-1358).
    // Only the path→template index (small) is captured in the closure.
    // Directory paths expand to their files HERE (driver, names only) —
    // binaryFile would expand them executor-side and the path→template
    // index would then miss every expanded file. Globs are rejected
    // up-front for the same reason, with an actionable message.
    // Expansion and path canonicalization go through Hadoop FileSystem,
    // not java.io.File: scheme-qualified paths (hdfs://, s3a://, file:)
    // resolve to their own filesystem, so remote directories expand the
    // same way local ones do instead of passing through unexpanded.
    val hadoopConf = spark.sparkContext.hadoopConfiguration
    def canon(p: String): String = {
      val hp = new org.apache.hadoop.fs.Path(p)
      normalizePath(hp.getFileSystem(hadoopConf).makeQualified(hp).toString)
    }
    val temps = templates.toSeq.map { t =>
      val expanded = t.paths.flatMap { p =>
        require(!p.exists(c => c == '*' || c == '?' || c == '['),
          s"glob patterns are not supported in FileGroupTemplate paths ($p); " +
            "list the files explicitly or use FileGroupTemplate.ofDirectory")
        val hp = new org.apache.hadoop.fs.Path(p)
        val fs = hp.getFileSystem(hadoopConf)
        val status =
          try Some(fs.getFileStatus(hp))
          catch { case _: java.io.FileNotFoundException => None }
        status match {
          case Some(st) if st.isDirectory =>
            fs.listStatus(hp).filter(_.isFile)
              .map(_.getPath.toString).sorted.toSeq
          case _ => Seq(p) // missing: binaryFile raises its own error
        }
      }
      t.copy(paths = expanded)
    }
    val templateNames = temps.map(_.name)
    val templateExtras = temps.map(_.extraInfo)
    // a path may belong to SEVERAL templates — map to all of them
    val byPath: Map[String, Seq[Int]] = temps.zipWithIndex
      .flatMap { case (t, i) => t.paths.map(p => canon(p) -> i) }
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val allPaths = temps.flatMap(_.paths).distinct

    val raw = spark.read.format("binaryFile").load(allPaths: _*)
      .select(col("path"), col("content"))
      .as[(String, Array[Byte])](
        Encoders.tuple(Encoders.STRING, Encoders.BINARY))
    val ds = raw
      .flatMap { case (uri, content) =>
        val p = normalizePath(uri)
        byPath.getOrElse(p, throw new IllegalStateException(
          s"file $p read by binaryFile matches no template path"))
          .map(ti => (ti, uri, content))
      }(Encoders.tuple(Encoders.scalaInt, Encoders.STRING, Encoders.BINARY))
      .groupByKey(_._1)(Encoders.scalaInt)
      .mapGroups { (ti: Int, rows: Iterator[(Int, String, Array[Byte])]) =>
        val it = rows.map(r => (r._2, r._3))
        val files = it.toVector.sortBy(_._1)
        // relative paths strip the files' common directory prefix, NOT
        // the whole directory: two template files named x.txt in
        // different directories keep distinct relative paths (a bare-
        // basename scheme would silently overwrite one with the other in
        // the black-box scratch dir)
        val paths = files.map { case (uri, _) => normalizePath(uri) }
        val dirs = paths.map(p => p.substring(0, p.lastIndexOf('/') + 1))
        val prefix = dirs.reduce { (a, b) =>
          val n = math.min(a.length, b.length)
          var i = 0; var lastSlash = 0
          while (i < n && a(i) == b(i)) { if (a(i) == '/') lastSlash = i + 1; i += 1 }
          a.substring(0, lastSlash)
        }
        val els = files.zip(paths).map { case ((_, content), p) =>
          val rel = p.substring(prefix.length)
          val slash = rel.lastIndexOf('/')
          val (dirPart, namePart) =
            if (slash >= 0) (rel.substring(0, slash), rel.substring(slash + 1))
            else ("", rel)
          FileElement(dirPart, namePart, modified = false, content)
        }
        val deps = files.map { case (uri, _) =>
          ProvSinkUtil.elementId(execId, tid, normalizePath(uri))
        }
        ProvRecord(ProvIds.newId(), deps,
          FileGroup(templateNames(ti), templateExtras(ti), els))
      }(provFgEnc)

    val pd = ProvDataset.create(ds, task, session)
    pd.setSchema(new FileGroupSchema)
    task.usingDefaultSchema = true // FileGroupSchema IS the default for this type
    // per-file source elements accompany the group elements at flush;
    // only paths are scanned (content column pruned by the reader)
    session.attachFileElements(task, () =>
      spark.read.format("binaryFile").load(allPaths: _*)
        .select(col("path")).as[String](Encoders.STRING)
        .map(normalizePath)(Encoders.STRING))
    pd
  }

  /** Ops over a provenance-tracked FileGroup dataset. */
  implicit final class FileGroupDatasetOps(private val self: ProvDataset[FileGroup]) {

    /** runCommand — execute a native command against each FileGroup's
      * files in a scratch directory (reference:
      * rdd/FileGroupRDDFunctions.scala:31-71; AdvancedPipeRDD.scala:30-121).
      * Output = files kept by the planning filter; `modified` = created or
      * content-changed; nonzero exit ⇒ exception. 1→1 lineage.
      */
    def runCommand(command: Seq[String],
                   planning: ExecutionPlanning = ExecutionPlanning(),
                   description: String = "runCommand"): ProvDataset[FileGroup] =
      runInternal(_ => command, planning, s"$description: ${command.mkString(" ")}")

    /** Convenience form: NAIVE whitespace tokenization (same contract as
      * the reference's command strings) — quoted arguments and paths
      * containing spaces need the `Seq[String]` overload.
      */
    def runCommand(command: String): ProvDataset[FileGroup] =
      runCommand(command.trim.split("\\s+").toSeq)

    def runCommand(command: String, planning: ExecutionPlanning): ProvDataset[FileGroup] =
      runCommand(command.trim.split("\\s+").toSeq, planning)

    /** runScientificApplication — `{{VAR}}`-template the command line from
      * the group's extraInfo, resolving the executable under `scriptDir`
      * (reference: FileGroupRDDFunctions.scala:18-29, Jtwig templating,
      * spark.sciSpark.internalScriptDir).
      */
    def runScientificApplication(commandTemplate: String,
                                 scriptDir: String = "",
                                 planning: ExecutionPlanning = ExecutionPlanning()): ProvDataset[FileGroup] = {
      val dir = if (scriptDir.nonEmpty) scriptDir
        else self.session.spark.conf.get("spark.graft.scriptDir", "")
      runInternal({ g =>
        val rendered = Templating.render(commandTemplate, g.extraInfo)
        val tokens = rendered.trim.split("\\s+").toSeq
        if (dir.nonEmpty) (s"$dir/${tokens.head}") +: tokens.tail else tokens
      }, planning, s"runScientificApplication: $commandTemplate")
    }

    private def runInternal(mkCommand: FileGroup => Seq[String],
                            planning: ExecutionPlanning,
                            description: String): ProvDataset[FileGroup] =
      self.map({ g =>
        val work = Files.createTempDirectory("graft-blackbox")
        try {
          // keep the input bytes (already in memory via g.files) for an
          // exact content diff — a 32-bit hash could collide and silently
          // mark a changed output as unmodified
          val inputContent: Map[String, Array[Byte]] = g.files.map { f =>
            val p = work.resolve(f.relativePath)
            Option(p.getParent).foreach(Files.createDirectories(_))
            Files.write(p, f.content)
            f.relativePath -> f.content
          }.toMap

          val cmd = mkCommand(g)
          val pb = new ProcessBuilder(cmd: _*)
          pb.directory(work.toFile)
          val proc = pb.start()
          val outPump = pump(proc.getInputStream, planning.onReadLine)
          val errPump = pump(proc.getErrorStream, planning.onReadErrorLine)
          val code = proc.waitFor()
          outPump.join(); errPump.join()
          if (code != 0)
            throw new RuntimeException(
              s"black-box command exited with $code: ${cmd.mkString(" ")}")

          // diff the scratch dir: anything created or content-changed is
          // modified (reference: MemoryFS.toFileElementList, :265-287)
          val outFiles = collectFiles(work).map { p =>
            val rel = work.relativize(p).toString
            val content = Files.readAllBytes(p)
            val slash = rel.lastIndexOf('/')
            val (dirPart, namePart) =
              if (slash >= 0) (rel.substring(0, slash), rel.substring(slash + 1))
              else ("", rel)
            val modified = inputContent.get(rel) match {
              case Some(in) => !java.util.Arrays.equals(in, content)
              case None     => true
            }
            FileElement(dirPart, namePart, modified, content)
          }.filter(planning.filterFilesForGeneratedRDD)

          val extra = planning.getExtrasInfoForGeneratedRDD
            .map(f => f(g)).getOrElse(g.extraInfo)
          FileGroup(g.name, extra, outFiles)
        } finally {
          deleteRecursively(work)
        }
      }, description)(provFgEnc)
        .setSchema(new FileGroupSchema)
        .setTransformationType(TransformationType.PIPE)

    /** Materialize each FileGroup's files under `dir/<elementUUID>/`
      * (reference: rdd/FileGroupRDDFunctions.scala:73-87).
      */
    def saveFilesAt(dir: String): Unit = {
      val base = dir
      self.foreachWithDataElement { r =>
        val root = Paths.get(base, r.id)
        r.value.files.foreach { f =>
          val p = root.resolve(f.relativePath)
          Files.createDirectories(p.getParent)
          Files.write(p, f.content)
        }
      }
    }

    /** Async variant (reference: FileGroupRDDFunctions.saveFilesAtAsync,
      * :80-87): fire the materialization on a background thread and
      * return a Future the caller can await.
      */
    def saveFilesAtAsync(dir: String): scala.concurrent.Future[Unit] = {
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.global
      scala.concurrent.Future(saveFilesAt(dir))
    }

    /** Commit this dataset's FileGroups to the execution's branch in the
      * session's git artifact repository; records FileGroupReference rows
      * and marks the task (reference: RDD.scala:206-230,
      * VersionControl.scala:85-129).
      */
    def persistFileGroupInGit(vc: GitVersionControl): ProvDataset[FileGroup] = {
      val sess = self.session
      val taskDesc = sess.taskById(self.taskId)
        .map(_.description.replaceAll("[^A-Za-z0-9._-]+", "_").take(60))
        .getOrElse("task")
      val groups = self.collectWithProv()
      groups.foreach { r =>
        val folder = vc.writeFileGroup(sess.executionId, taskDesc, r.id, r.value)
        sess.addFileGroupRef(r.id, folder)
      }
      sess.taskById(self.taskId).foreach(_.hasDataInRepository = true)
      self
    }
  }

  /** Drain a child-process stream line-by-line on a daemon thread (a
    * full pipe buffer would deadlock the child). Shared with
    * [[graft.prov.ProvDataset.pipe]].
    */
  private[graft] def pump(in: java.io.InputStream, f: String => Unit): Thread = {
    val t = new Thread(() =>
      scala.io.Source.fromInputStream(in).getLines().foreach(f))
    t.setDaemon(true)
    t.start()
    t
  }

  private def collectFiles(root: Path): Seq[Path] = {
    val s = Files.walk(root)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.filter(Files.isRegularFile(_)).toVector.sortBy(_.toString)
    } finally s.close()
  }

  private def deleteRecursively(root: Path): Unit = {
    val s = Files.walk(root)
    try {
      import scala.jdk.CollectionConverters._
      s.sorted(Comparator.reverseOrder[Path]()).iterator().asScala
        .foreach(p => Files.deleteIfExists(p))
    } finally s.close()
  }
}

/** Minimal `{{VAR}}` substitutor — the reference used Jtwig
  * (FileGroupRDDFunctions.scala:18-29); only variable interpolation is
  * exercised by its workloads.
  */
object Templating {
  private val Var = "\\{\\{\\s*([A-Za-z0-9_]+)\\s*\\}\\}".r
  def render(template: String, vars: Map[String, String]): String =
    Var.replaceAllIn(template, m =>
      scala.util.matching.Regex.quoteReplacement(
        vars.getOrElse(m.group(1),
          throw new IllegalArgumentException(
            s"template variable ${m.group(1)} not found in extraInfo"))))
}
