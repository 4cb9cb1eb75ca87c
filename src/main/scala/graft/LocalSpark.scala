package graft

import org.apache.spark.sql.SparkSession

/** The one local session builder every main uses, so the oracle gate
  * (Verify), the plan audit (Explain), the benches and the demos all
  * plan and run under the SQL confs `graft.Bench` times.
  */
object LocalSpark {

  /** The session confs for `cpus` local cores, readable without
    * starting a session.
    */
  def confs(cpus: Int): Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.sql.adaptive.enabled" -> "true",
    // wide multi-agg plans (d04's 64 minhash columns) pay quadratic
    // planning in constraint propagation; correctness is unaffected
    "spark.sql.constraintPropagation.enabled" -> "false",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false")

  def session(cpus: Int, appName: String): SparkSession = {
    val spark = confs(cpus)
      .foldLeft(SparkSession.builder().master(s"local[$cpus]").appName(appName)) {
        case (b, (k, v)) => b.config(k, v)
      }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** `SPARK_GRAFT_CPUS`, or `default` when unset. */
  def envCpus(default: Int): Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(default)
}
