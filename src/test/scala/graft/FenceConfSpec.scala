package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.api.Graft

/** The size fences' one conf reader ([[FenceConf]]): unset reads the
  * default, a value below 1 fails naming its conf key, a huge value
  * clamps below `Int.MaxValue` — and `mmrRerank`'s shortlist fence,
  * which once skipped the ≥ 1 check (a negative value reached
  * `limit(-n)` and failed inside the analyzer without naming the
  * conf), now fails at the named boundary like the others.
  */
class FenceConfSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val dir = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .appName("graft-fence-conf-spec")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val key = "spark.graft.fenceConfSpecProbe"

  private def withConf[T](k: String, v: String)(body: => T): T = {
    spark.conf.set(k, v)
    try body finally spark.conf.unset(k)
  }

  test("FenceConf.read: default when unset, the value when set, huge values clamp below Int.MaxValue") {
    assert(FenceConf.read(spark, key, 7L) == 7)
    withConf(key, "42")(assert(FenceConf.read(spark, key, 7L) == 42))
    withConf(key, Long.MaxValue.toString)(
      assert(FenceConf.read(spark, key, 7L) == Int.MaxValue - 1))
  }

  test("FenceConf.read: a value below 1 fails naming the conf") {
    Seq("0", "-1", "-5").foreach { v =>
      withConf(key, v) {
        val e = intercept[IllegalArgumentException](
          FenceConf.read(spark, key, 7L))
        assert(e.getMessage.contains(s"$key must be >= 1, got $v"))
      }
    }
  }

  test("mmrRerank: a negative maxMmrDriverRows fails with a message naming the conf") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val q = emb.filter(col("vec_id") < 2)
    Seq("-1", "-5").foreach { v =>
      withConf("spark.graft.maxMmrDriverRows", v) {
        val e = intercept[IllegalArgumentException](
          Graft.mmrRerank(emb, q).collect())
        assert(e.getMessage.contains(
          s"spark.graft.maxMmrDriverRows must be >= 1, got $v"),
          e.getMessage)
      }
    }
  }
}
