package graft.examples

import java.nio.file.Files

import graft.LocalSpark
import graft.prov._
import graft.prov.filegroup._
import graft.prov.filegroup.FileGroupOps._

/** End-to-end demo of the reference's canonical usage (examples/sciphy/
  * Source Code/Main.scala:32-47 — fileGroup → runScientificApplication
  * chain → saveFilesAt, inspected through provenance queries), with stub
  * shell scripts standing in for mafft/readseq/modelgenerator/raxml.
  *
  * Run: sbt "runMain graft.examples.SciPhyDemo"
  * Everything (inputs, scripts, provenance store, git repo, outputs) is
  * created under a fresh temp directory, printed at the end.
  */
object SciPhyDemo {
  def main(args: Array[String]): Unit = {
    val spark = LocalSpark.session(4, "sciphy-demo")

    val root = Files.createTempDirectory("sciphy-demo")
    val inputs = Files.createDirectory(root.resolve("inputs"))
    val scripts = Files.createDirectory(root.resolve("scripts"))
    val outputs = root.resolve("outputs").toString
    val store = root.resolve("prov").toString
    val gitRepo = root.resolve("artifacts.git").toString

    // inputs: two multi-fasta stand-ins (reference: examples/sciphy/inputs/)
    Files.writeString(inputs.resolve("ORTHOMCL256.fasta"), ">g1\nACGTACGTAA\n>g2\nTTGGCCAA\n")
    Files.writeString(inputs.resolve("ORTHOMCL371.fasta"), ">g3\nGGCCGGTT\n>g4\nAATTCCGG\n")
    // stub pipeline scripts (reference: examples/sciphy/scripts/*.cmd)
    def script(name: String, body: String): Unit = {
      val p = scripts.resolve(name)
      Files.writeString(p, s"#!/bin/sh\n$body\n")
      p.toFile.setExecutable(true)
    }
    script("mafft.cmd", """tr 'ACGT' 'TGCA' < "$1.fasta" > "$1.aln"""")
    script("readseq.cmd", """tr 'a-z' 'A-Z' < "$1.aln" > "$1.phylip"""")
    script("raxml.cmd", """wc -c < "$1.phylip" > "$1.tree"""")

    val vc = new GitVersionControl(gitRepo)
    val session = ProvSession.create(spark, "SciPhy", store,
      versionControl = Some(vc))
    spark.conf.set("spark.graft.scriptDir", scripts.toString)

    val result = fileGroup(session,
      FileGroupTemplate.ofFile(inputs.resolve("ORTHOMCL256.fasta").toString,
        Map("NAME" -> "ORTHOMCL256")),
      FileGroupTemplate.ofFile(inputs.resolve("ORTHOMCL371.fasta").toString,
        Map("NAME" -> "ORTHOMCL371")))
      .setName("load fasta inputs")
      .runScientificApplication("mafft.cmd {{NAME}}")
      .setName("align (mafft)")
      .runScientificApplication("readseq.cmd {{NAME}}")
      .setName("convert (readseq)")
      .runScientificApplication("raxml.cmd {{NAME}}")
      .setName("tree (raxml)")
      .persistFileGroupInGit(vc)

    result.saveFilesAt(outputs)
    session.close()

    // provenance queries (reference entry point C, SURVEY §3.3)
    val q = new ProvenanceQueries(spark, store)
    println(s"\n=== execution ${session.executionId} ===")
    println(s"tasks: ${q.tasks(session.executionId).count()}, " +
      s"elements: ${q.elements(session.executionId).count()}, " +
      s"record edges: ${q.elementDependencies(session.executionId).count()}")
    q.taskGraph(session.executionId)
      .filter(org.apache.spark.sql.functions.col("kind") === "task")
      .select("description", "transformation_type").show(false)
    val treeEl = q.producedBy(session.executionId, result.taskId)
      .select("element_id").head().getString(0)
    println(s"lineage of one tree artifact ($treeEl):")
    q.lineageOf(session.executionId, treeEl).show(false)
    println(s"git artifacts on branch exec_${session.executionId}:")
    vc.fileTree(session.executionId).foreach(f => println(s"  $f"))
    println(s"\ndemo root: $root")
    spark.stop()
  }
}
