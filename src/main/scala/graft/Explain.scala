package graft

/** Plan-inspection helper: prints the formatted physical plan of named
  * queries so pushdown/broadcast/codegen can be audited.
  * Usage: runMain graft.Explain <sfDir> <query1> [query2 ...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = if (args.length > 1) args.tail.toSeq else SparkEntry.queries.keys.toSeq.sorted
    val spark = LocalSpark.session(4, "graft-explain")
    names.foreach { n =>
      println(s"\n===== $n =====")
      try SparkEntry.queries(n)(spark, sfDir).explain("formatted")
      catch { case e: Throwable => println(s"explain failed: ${e.getMessage}") }
    }
    spark.stop()
  }
}
