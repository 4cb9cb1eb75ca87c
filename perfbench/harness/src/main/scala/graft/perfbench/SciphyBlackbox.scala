package graft.perfbench

import java.nio.charset.StandardCharsets.US_ASCII
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import graft.prov._
import graft.prov.filegroup._
import graft.prov.filegroup.ContentAddressedStore._
import graft.prov.filegroup.FileGroupOps._

/** The reference's SciPhy validation workflow, capture on: fileGroup →
  * 4 × runScientificApplication (coreutils stub scripts from
  * perfbench/sciphy) → persistFileGroupInGit → saveFilesAt →
  * persistFileGroupInStore. Each write iteration is one round: a fresh
  * provenance session over all generated fasta inputs; the git
  * repository and the content-addressed store are shared by the rounds.
  * No read phase: the round's own checks read the artifacts back.
  */
object SciphyBlackbox {
  val Steps = Seq("align.cmd", "convert.cmd", "model.cmd", "tree.cmd")

  /** What the stub scripts produce, recomputed here byte for byte. */
  def expected(name: String, fasta: String): Map[String, String] = {
    val aln = fasta.map { case 'A' => 'T'; case 'C' => 'G'; case 'G' => 'C'; case 'T' => 'A'; case x => x }
    val phy = aln.split("\n", -1).dropRight(1).map(l => l.reverse + "\n").mkString
    val mg = phy.map { case 'A' => 'a'; case 'C' => 'c'; case 'G' => 'g'; case 'T' => 't'; case x => x }
    Map(s"$name.fasta" -> fasta, s"$name.aln" -> aln, s"$name.phy" -> phy,
      s"$name.mg" -> mg, s"$name.tree" -> s"${mg.length}\n")
  }
}

final class SciphyBlackbox(c: Ctx) extends Component {
  import SciphyBlackbox._
  private val spark = c.spark
  private val inputs: Seq[Path] = Files.list(Paths.get(c.inputDir)).iterator().asScala
    .filter(_.toString.endsWith(".fasta")).toVector.sortBy(_.toString)
  private val names = inputs.map(_.getFileName.toString.stripSuffix(".fasta"))
  private val expect: Map[String, Map[String, String]] = inputs.zip(names).map { case (p, n) =>
    n -> expected(n, Files.readString(p, US_ASCII))
  }.toMap
  private val distinctContents = expect.values.flatMap(_.values).toSet.size
  private val artifactBytes = expect.values.flatMap(_.values).map(_.length.toLong).sum
  c.info("groups") = names.size.toString

  private val scripts = Files.createDirectories(Paths.get(c.workDir, "scripts"))
  Steps.foreach { s =>
    val dst = scripts.resolve(s)
    Files.copy(Paths.get(c.input(s)), dst, StandardCopyOption.REPLACE_EXISTING)
    dst.toFile.setExecutable(true)
  }
  private val calls = scripts.resolve("calls")
  private def processes(): Long = if (Files.exists(calls)) Files.size(calls) else 0L
  private val vc = new GitVersionControl(Paths.get(c.workDir, "artifacts.git").toString)
  private val cas = new ContentAddressedStore(Paths.get(c.workDir, "cas").toString)

  /** One round; returns (executionId, output dir). */
  private def round(tag: String): (String, String) = {
    spark.conf.set("spark.graft.scriptDir", scripts.toString)
    val session = ProvSession.create(spark, "SciPhy",
      Paths.get(c.workDir, s"prov-$tag").toString, versionControl = Some(vc))
    val templates = names.map(n =>
      FileGroupTemplate.ofFile(c.input(s"$n.fasta"), Map("NAME" -> n)))
    val loaded = fileGroup(session, templates: _*).setName("load fasta inputs")
    val chain = c.op("filegroup", "chain") {
      val out = Steps.foldLeft(loaded)((ds, s) =>
        ds.runScientificApplication(s"$s {{NAME}}").setName(s.stripSuffix(".cmd")))
      out.count() // the chain runs here; the persists below reuse it
      out
    }
    c.op("vcs", "git_persist")(chain.persistFileGroupInGit(vc))
    val outDir = Paths.get(c.workDir, s"out-$tag").toString
    c.op("filegroup", "save_files")(chain.saveFilesAt(outDir))
    c.op("vcs", "cas_persist")(chain.persistFileGroupInStore(cas))
    c.op("prov_capture", "sciphy_close")(session.close())
    (session.executionId, outDir)
  }

  def warm(): Unit = ()

  private var proc0 = -1L
  private var rounds = 0
  private var commits = 0

  def write(i: Int): Unit = {
    if (proc0 < 0) proc0 = processes()
    val (exec, outDir) = round(s"r$i")
    rounds += 1
    if (i == 0) {
      val saved = Files2.walk(outDir)
      val byName = saved.map(p => p.getFileName.toString -> p).toMap
      commits = vc.log(exec).count(_.startsWith("FileGroup "))
      c.check("saveFilesAt wrote every group's 5 files")(
        saved.size == names.size * 5 && byName.size == saved.size)
      c.check("every produced file is byte-equal to the stub's output")(
        expect.forall { case (_, files) => files.forall { case (f, body) =>
          byName.get(f).exists(p => Files.readString(p, US_ASCII) == body) } })
      c.check("git commits = groups")(commits == names.size)
      c.check("CAS objects = distinct contents")(cas.objectCount == distinctContents)
      c.check("CAS read-back matches")(names.forall { n =>
        val manifests = Files.list(Paths.get(cas.rootDir, "manifests", exec)).iterator().asScala.toVector
        manifests.exists { m =>
          scala.util.Try(new String(cas.readFile(exec, m.getFileName.toString, s"$n.tree"), US_ASCII))
            .toOption.contains(expect(n)(s"$n.tree"))
        }
      })
    }
    Files2.rmrf(outDir)
  }

  def read(i: Int): Unit = ()

  def finish(): Unit = if (c.tracer.enabled) {
    val spawned = processes() - proc0
    val l = c.layer
    val roundS = Seq("chain", "git_persist", "save_files", "cas_persist", "sciphy_close").map(c.median).sum
    l("filegroup.groups_per_s") = names.size / roundS
    l("filegroup.chain_s") = c.median("chain")
    l("filegroup.processes") = spawned.toDouble / rounds
    l("filegroup.process_reuse_ratio") = rounds.toDouble * names.size * Steps.size / math.max(1L, spawned)
    l("filegroup.task_s_per_process") = c.countersOf("chain").taskNs / 1e9 / math.max(1L, spawned)
    l("filegroup.save_files_s") = c.median("save_files")
    l("vcs.git_persist_s") = c.median("git_persist")
    l("vcs.git_commits") = commits.toDouble
    l("vcs.git_bytes_per_artifact_byte") =
      Files2.bytes(Paths.get(vc.repoDir, ".git").toString).toDouble / (artifactBytes * rounds)
    l("vcs.cas_persist_s") = c.median("cas_persist")
    l("vcs.cas_objects") = cas.objectCount.toDouble
    l("vcs.cas_dedup_ratio") = expect.values.map(_.size).sum.toDouble / cas.objectCount
  }
}
