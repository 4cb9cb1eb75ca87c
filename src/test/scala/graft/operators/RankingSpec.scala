package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** The retrieval ranking core on hand-built frames: the cases no
  * oracle gate reaches (k above a group's size, score ties, a query
  * the exact side never lists, the unordered shortlist form), the
  * stream group ranker against the window form, and the RRF fuse.
  */
class RankingSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .appName("graft-ranking-spec")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def scored = {
    val spark2 = spark
    import spark2.implicits._
    Seq((1L, 7L, 0.5), (1L, 3L, 0.5), (1L, 9L, 0.9), (2L, 4L, 0.1234565),
      (2L, 5L, 0.2))
      .toDF("query_id", "neighbor_id", "cos")
  }

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.collect().toSeq.map(_.toSeq)

  test("k larger than a group keeps the whole group, ranked from 1") {
    val got = rows(Ranking.topKRounded(scored, "cos", "neighbor_id", k = 10))
    assert(got == Seq[Seq[Any]](
      Seq(1L, 1L, 9L, 0.9), Seq(1L, 2L, 3L, 0.5), Seq(1L, 3L, 7L, 0.5),
      Seq(2L, 1L, 5L, 0.2), Seq(2L, 2L, 4L, 0.123457)))
  }

  test("a tie on score resolves to the lower id") {
    val got = rows(Ranking.topK(scored.filter(col("query_id") === 1L),
        "query_id", "cos", "neighbor_id", k = 2)
      .select(col("neighbor_id"), col("rank")).orderBy(col("rank")))
    assert(got == Seq[Seq[Any]](Seq(9L, 1L), Seq(3L, 2L)))
    // ascending scores (distances) break ties the same way
    val asc = rows(Ranking.topK(scored.filter(col("query_id") === 1L),
        "query_id", "cos", "neighbor_id", k = 1, asLong = false,
        ascending = true)
      .select(col("neighbor_id"), col("rank")))
    assert(asc == Seq[Seq[Any]](Seq(3L, 1)))
  }

  test("the rank column is a long unless asLong = false") {
    def rankType(asLong: Boolean) = Ranking.topK(scored, "query_id", "cos",
      "neighbor_id", 3, asLong = asLong).schema("rank").dataType.typeName
    assert(rankType(asLong = true) == "long")
    assert(rankType(asLong = false) == "integer")
  }

  test("recall3: a query the exact side never lists yields 0 matches, not a missing row") {
    val spark2 = spark
    import spark2.implicits._
    val approx = Seq((1L, 9L), (1L, 3L), (1L, 7L), (2L, 5L), (2L, 4L))
      .toDF("query_id", "neighbor_id")
    val exact = Seq((1L, 9L), (1L, 3L), (1L, 8L)).toDF("query_id", "neighbor_id")
    val got = rows(Ranking.recall3(approx, exact))
    assert(got == Seq[Seq[Any]](Seq(1L, 2L, 0.6667), Seq(2L, 0L, 0.0)))
    // and with no exact rows at all
    val none = rows(Ranking.recall3(approx, exact.filter(lit(false))))
    assert(none == Seq[Seq[Any]](Seq(1L, 0L, 0.0), Seq(2L, 0L, 0.0)))
  }

  test("ordered = false adds no range exchange") {
    def plan(ordered: Boolean) = Ranking.topKRounded(scored, "cos",
      "neighbor_id", 2, ordered = ordered).queryExecution.executedPlan.toString
    assert(plan(ordered = true).contains("rangepartitioning"))
    assert(!plan(ordered = false).contains("rangepartitioning"),
      plan(ordered = false))
    assert(rows(Ranking.topKRounded(scored, "cos", "neighbor_id", 2,
        ordered = false)).toSet ==
      rows(Ranking.topKRounded(scored, "cos", "neighbor_id", 2)).toSet)
  }

  test("the stream group ranker equals the window form per query") {
    val batch = rows(Ranking.topKRounded(scored, "cos", "neighbor_id", 2))
    val grouped = scored.collect().toSeq
      .groupBy(_.getLong(0)).toSeq.sortBy(_._1).flatMap { case (q, rs) =>
        Ranking.topKOfGroup(rs.iterator.map(r => (r.getLong(1), r.getDouble(2))), 2)
          .map { case (rank, id, s) => Seq[Any](q, rank, id, s) }
      }
    assert(grouped == batch)
  }

  test("rrfFuse: an absent list adds 0, ties go to the lower doc id") {
    val spark2 = spark
    import spark2.implicits._
    val lexical = Seq((1L, 10L, 2), (1L, 11L, 1)).toDF("qid", "did", "r_bm25")
    val dense = Seq((1L, 11L, 1), (1L, 12L, 2)).toDF("qid", "did", "r_cos")
    val got = rows(Ranking.rrfFuse(lexical, dense, "qid", k = 2))
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // doc 11 is in both lists; 10 (lexical only) and 12 (dense only)
    // tie on 1/62, and the lower doc id wins the last slot
    assert(got == Seq[Seq[Any]](
      Seq(1L, 1L, 11L, r6(1.0 / 61 + 1.0 / 61)),
      Seq(1L, 2L, 10L, r6(1.0 / 62))))
  }
}
