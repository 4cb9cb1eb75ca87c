package graft

import org.apache.spark.sql.SparkSession

/** The reader of the default-on size fences (`spark.graft.max*`): a
  * Long conf that must be >= 1, clamped below `Int.MaxValue` so a huge
  * override degrades to the largest enforceable bound instead of an
  * integer overflow turning the guard's `limit(max + 1)` into a
  * confusing failure.
  */
private[graft] object FenceConf {
  def read(spark: SparkSession, key: String, default: Long): Int = {
    val v = spark.conf.getOption(key).map(_.toLong).getOrElse(default)
    require(v >= 1, s"$key must be >= 1, got $v")
    math.min(v, Int.MaxValue.toLong - 1).toInt
  }
}
