package graft.perfbench

import java.nio.file.{Files, Paths}

import graft.{Bench, SparkEntry}

/** Headline queries over the generated tables, capture off, through the
  * noop sink.
  *
  * Set-up runs every query once writing parquet, with the oracle SQL
  * beside it, for the DuckDB compare run.py makes after the JVM exits;
  * that pass is also the warm-up. Each read iteration is one pass over
  * the queries, in an order the seed permutes per pass.
  */
object Headline {
  /** The `Bench.defaultHeadline` queries one run can afford on 4 cores:
    * a join, an as-of event join, brute-force kNN and the IVF append path.
    */
  val Queries: Seq[String] = Seq(
    "q03_join_agg", "q56_asof_attribution", "e01_knn_bruteforce", "e26_ivf_append")
  require(Queries.forall(Bench.defaultHeadline.contains))
}

final class Headline(c: Ctx) extends Component {
  import Headline._
  private val spark = c.spark
  private val dir = c.inputDir

  def warm(): Unit = {
    val outDir = Paths.get(c.workDir, "verify")
    Queries.foreach { q =>
      SparkEntry.queries(q)(spark, dir).coalesce(1).write.mode("overwrite")
        .parquet(outDir.resolve(q).toString)
      spark.catalog.clearCache()
    }
    val oracle = SparkEntry.oracleSql
    val sql = Queries.filter(oracle.contains).map(q => q -> Json.str(oracle(q)))
    Files.writeString(outDir.resolve("oracle_sql.json"), Json.obj(sql: _*))
    c.check("every headline query has an oracle")(sql.size == Queries.size)
  }

  def write(i: Int): Unit = ()

  def read(i: Int): Unit =
    c.rng.shuffle(Queries).foreach { q =>
      c.op("query", q) {
        SparkEntry.queries(q)(spark, dir).write.mode("overwrite").format("noop").save()
      }
      spark.catalog.clearCache()
    }

  def finish(): Unit = if (c.tracer.enabled) {
    val perQuery = Queries.map(q => c.median(q))
    Queries.zip(perQuery).foreach { case (q, s) => c.layer(s"query.${q}_s") = s }
    c.layer("query.headline_pass_s") = perQuery.sum
    c.layer("query.headline_geomean_s") = Stats.geomean(perQuery)
  }
}
