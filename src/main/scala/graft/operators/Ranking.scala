package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The ranking core of the retrieval family. Every search ranks its
  * candidates by one rule — per query key, score first, ties to the
  * LOWER id, keep the top k, round the score to 6 dp — and every ANN
  * quality gate scores a top-3 against an exact top-3 by one rule.
  * Both rules, and their DuckDB mirrors, are defined here once:
  *   - [[topK]] / [[topKRounded]]: the per-key window ranking;
  *   - [[rrfFuse]]: reciprocal-rank fusion of a lexical and a dense
  *     rank list (e22 and the hybrid facade);
  *   - [[recall3]]: recall@3 of an approximate top-3 against an exact
  *     top-3, one row per query even when nothing matches;
  *   - [[topKOfGroup]] / [[round6]]: the same rule over one group's
  *     rows in Scala, for the stateful stream servers where windows
  *     cannot run;
  *   - [[topKSql]], [[top3CteSql]] and [[recallSql]]: the oracle text.
  */
private[graft] object Ranking {

  /** Rows of `scored` ranked by `row_number()` over `key`, ordered by
    * `score` (DESC, or ASC for distances) then `id`, kept where the
    * rank is at most `k`. The rank column `rank` is a `long` when
    * `asLong`, else the window's `int`. Columns are otherwise kept.
    */
  def topK(scored: DataFrame, key: String, score: String, id: String,
           k: Int, rank: String = "rank", asLong: Boolean = true,
           ascending: Boolean = false): DataFrame = {
    val w = Window.partitionBy(col(key))
      .orderBy(if (ascending) col(score) else col(score).desc, col(id))
    val rn = row_number().over(w)
    scored.withColumn(rank, if (asLong) rn.cast("long") else rn)
      .filter(col(rank) <= k)
  }

  /** The search result shape over [[topK]]: (key, rank, id, score
    * rounded to 6 dp), sorted by (key, rank). `ordered = false` is for
    * internal consumers (shortlist feeds, recall joins) that destroy
    * order anyway: a global sort is a range exchange plus its sampling
    * job that no downstream operator keeps.
    */
  def topKRounded(scored: DataFrame, score: String, id: String, k: Int,
                  rank: String = "rank", key: String = "query_id",
                  ordered: Boolean = true): DataFrame = {
    val top = topK(scored, key, score, id, k, rank)
      .select(col(key), col(rank), col(id), round(col(score), 6).as(score))
    if (ordered) top.orderBy(col(key), col(rank)) else top
  }

  /** Reciprocal-rank fusion (Cormack et al. 2009): `lexical` (key, did,
    * r_bm25) and `dense` (key, did, r_cos) rank lists meet in a full
    * outer join, score Σ 1/(60 + rank) with an absent list adding 0,
    * rounded to 6 dp (rational in integer ranks, so exact-input), and
    * the top `k` per key come out as (query_id, rank, doc_id, rrf)
    * sorted, ties to the lower doc id.
    */
  def rrfFuse(lexical: DataFrame, dense: DataFrame, key: String,
              k: Int): DataFrame =
    topK(lexical.join(dense, Seq(key, "did"), "full_outer")
        .withColumn("rrf", round(
          coalesce(lit(1.0) / (col("r_bm25") + 60), lit(0.0)) +
            coalesce(lit(1.0) / (col("r_cos") + 60), lit(0.0)), 6)),
      key, "rrf", "did", k)
      .select(col(key).as("query_id"), col("rank"), col("did").as("doc_id"),
        col("rrf"))
      .orderBy(col("query_id"), col("rank"))

  /** recall@3 per query: `approx` (keys…, query_id, neighbor_id) —
    * an approximate top-3 — left-joined to `exact` (query_id,
    * neighbor_id), grouped by `keys` into (keys…, n_matched, recall3 =
    * n_matched / 3 at 4 dp). A query the exact side does not list
    * still yields its row, with 0 matches. Sorted by `keys` unless
    * `ordered = false`.
    */
  def recall3(approx: DataFrame, exact: DataFrame,
              keys: Seq[String] = Seq("query_id"),
              ordered: Boolean = true): DataFrame = {
    val r = approx.join(
        exact.select(col("query_id").as("eq"), col("neighbor_id").as("en")),
        col("query_id") === col("eq") && col("neighbor_id") === col("en"),
        "left")
      .groupBy(keys.map(col): _*)
      .agg(count(col("en")).as("n_matched"),
        round(count(col("en")) / 3.0, 4).as("recall3"))
    if (ordered) r.orderBy(keys.map(col): _*) else r
  }

  /** [[topKRounded]] over one group's (id, score) rows, in Scala:
    * order by (−score, id), take `k`, rank from 1, [[round6]].
    * Returns (rank, id, rounded score).
    */
  def topKOfGroup(rows: Iterator[(Long, Double)],
                  k: Int): Iterator[(Long, Long, Double)] =
    rows.toSeq.sortBy { case (id, s) => (-s, id) }.take(k)
      .iterator.zipWithIndex.map { case ((id, s), i) => (i + 1L, id, round6(s)) }

  /** Spark's `round(x, 6)` on a double, in Scala: HALF_UP over the
    * double's decimal representation (Round's DoubleType path).
    */
  def round6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** DuckDB mirror of [[topKRounded]] over a `scored` CTE of
    * (query_id, `id`, `score`): the `ranked` CTE and the final
    * select. `wrap` breaks the window clause before ORDER BY — the
    * layout some oracles have always had, kept so their text stays
    * byte-identical.
    */
  def topKSql(score: String, id: String, rank: String, k: Int,
              wrap: Boolean): String = {
    val window = (if (wrap) "row_number() OVER (PARTITION BY query_id\n      "
      else "row_number() OVER (PARTITION BY query_id ") +
      s"ORDER BY $score DESC, $id) AS $rank"
    s"""ranked AS (
       |  SELECT query_id, $id, $score,
       |    $window
       |  FROM scored)
       |SELECT query_id, $rank, $id, round($score, 6) AS $score
       |FROM ranked WHERE $rank <= $k ORDER BY query_id, $rank""".stripMargin
  }

  /** DuckDB mirror of [[topK]] as one CTE `name` of (query_id,
    * neighbor_id): the top 3 of `from` by `order` (e.g. "cos DESC"),
    * ties to the lower neighbor_id.
    */
  def top3CteSql(name: String, from: String, order: String): String =
    s"""$name AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id,
       |      row_number() OVER (PARTITION BY query_id
       |        ORDER BY $order, neighbor_id) AS rank
       |    FROM $from) WHERE rank <= 3)""".stripMargin

  /** DuckDB mirror of [[recall3]]: CTE `approx` (keys…, query_id,
    * neighbor_id) left-joined to CTE `exact` (query_id, neighbor_id).
    * `extraKey` is a sweep key grouped before query_id.
    */
  def recallSql(approx: String, exact: String,
                extraKey: Option[String] = None,
                ordered: Boolean = true): String = {
    val keys = (extraKey.toSeq :+ "query_id").map(c => s"$approx.$c")
      .mkString(", ")
    s"""SELECT $keys, count($exact.neighbor_id) AS n_matched,
       |  round(count($exact.neighbor_id) / 3.0, 4) AS recall3
       |FROM $approx LEFT JOIN $exact
       |  ON $approx.query_id = $exact.query_id AND $approx.neighbor_id = $exact.neighbor_id
       |GROUP BY $keys""".stripMargin + (if (ordered) s" ORDER BY $keys" else "")
  }
}
