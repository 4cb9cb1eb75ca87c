package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The candidate-pair core of the dedup family. Each near-dup operator
  * derives its own keys — LSH band keys, word shingles, pHash band
  * chunks, IVF cells — and generates, prunes and verifies candidate
  * pairs through the steps here, each defined once:
  *   - [[capHot]]: the hot-key population cap;
  *   - [[selfPairs]]: the keyed self-join, left id below right;
  *   - [[jaccardCounted]] / [[jaccardArrays]]: exact Jaccard from
  *     shingle counts or from shingle arrays;
  *   - [[hammingWithin]]: the exact 64-bit Hamming verify;
  *   - [[bloomKeep]] / [[pruneToBuckets]]: the two store-probe steps of
  *     a screen against a persisted index.
  *
  * Join strategy for a cool-key set: broadcast where the key domain is
  * bounded (IVF cells, pHash chunks: the set can never outgrow the
  * domain), a shuffle join where it is unbounded (LSH band keys,
  * shingles: the set grows with the data). The site decides, through
  * [[capHot]]'s `broadcastCool`, and the plan carries the choice as a
  * hint — a runtime switch to a broadcast join would still shuffle the
  * big side first.
  */
private[operators] object PairCandidates {

  /** The population cap: rows of `t` whose `keys` value occurs at most
    * `cap` times, by one map-side-combined count per key joined back,
    * so a hot key (boilerplate band bucket, stop-phrase shingle,
    * crowded cell) never reaches the self-join — per-key fan-out is
    * bounded at (cap choose 2) pairs. `None` returns `t` unchanged.
    * `broadcastCool` broadcasts the cool-key set (bounded key domain);
    * otherwise it joins back through a shuffle.
    */
  def capHot(t: DataFrame, keys: Seq[String], cap: Option[Long],
             broadcastCool: Boolean): DataFrame =
    cap.fold(t) { c =>
      val cool = t.groupBy(keys.map(col): _*)
        .agg(count(lit(1)).as("bn")).filter(col("bn") <= c)
        .select(keys.map(col): _*)
      t.join(if (broadcastCool) broadcast(cool) else cool, keys)
    }

  /** The keyed self-join: every pair of `t` rows sharing `key` with the
    * left `id` below the right, once per shared key value (callers
    * `distinct` or count). Output: the left and right ids named
    * `ids`, then for each `carry` column `c` the left value as `a<c>`
    * and the right as `b<c>`.
    */
  def selfPairs(t: DataFrame, key: String, id: String,
                ids: (String, String), carry: String*): DataFrame =
    t.alias("x")
      .join(t.alias("y"), col(s"x.$key") === col(s"y.$key") &&
        col(s"x.$id") < col(s"y.$id"))
      .select(Seq(col(s"x.$id").as(ids._1), col(s"y.$id").as(ids._2)) ++
        carry.flatMap(c => Seq(col(s"x.$c").as(s"a$c"),
          col(s"y.$c").as(s"b$c"))): _*)

  /** Exact Jaccard, count form, over an exploded (doc_id, s) shingle
    * table: the inverted-index self-join counts each pair's common
    * shingles c, the per-doc row counts give the set sizes. Output
    * (da, db, jaccard), da < db, jaccard = round(c / (na + nb − c), 4)
    * ≥ `threshold`.
    */
  def jaccardCounted(sh: DataFrame, threshold: Double): DataFrame = {
    val cnt = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    selfPairs(sh, "s", "doc_id", ("da", "db"))
      .groupBy(col("da"), col("db")).agg(count(lit(1)).as("c"))
      .join(cnt.select(col("doc_id").as("da"), col("n").as("na")), Seq("da"))
      .join(cnt.select(col("doc_id").as("db"), col("n").as("nb")), Seq("db"))
      .withColumn("jaccard",
        round(col("c") / (col("na") + col("nb") - col("c")), 4))
      .filter(col("jaccard") >= threshold)
      .select(col("da"), col("db"), col("jaccard"))
  }

  /** Exact Jaccard, array form, of candidate pairs: `cand` carries the
    * two ids named `ids`; each side fetches its (doc_id, sh, n) row
    * from `a` / `b` and c = size(array_intersect). Output (ids,
    * jaccard) at jaccard ≥ `threshold`. Pass `broadcast(frame)` as a
    * side to broadcast it.
    */
  def jaccardArrays(cand: DataFrame, a: DataFrame, b: DataFrame,
                    ids: (String, String), threshold: Double): DataFrame = {
    val (ia, ib) = ids
    cand
      .join(a.select(col("doc_id").as(ia), col("sh").as("sha"),
        col("n").as("na")), Seq(ia))
      .join(b.select(col("doc_id").as(ib), col("sh").as("shb"),
        col("n").as("nb")), Seq(ib))
      .withColumn("c", size(array_intersect(col("sha"), col("shb"))))
      .withColumn("jaccard",
        round(col("c") / (col("na") + col("nb") - col("c")), 4))
      .filter(col("jaccard") >= threshold)
      .select(col(ia), col(ib), col("jaccard"))
  }

  /** Exact 64-bit Hamming verify of candidate pairs (ma, mb) carrying
    * two-word hashes (alo, ahi) and (blo, bhi): the popcount of both
    * words' xor. Output (ma, mb, hamming), each pair once, at
    * hamming ≤ `maxHamming`.
    */
  def hammingWithin(cand: DataFrame, maxHamming: Int): DataFrame =
    cand.select(col("ma"), col("mb"),
        expr("CAST(bit_count(alo ^ blo) + bit_count(ahi ^ bhi) AS BIGINT)")
          .as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)

  /** Bloom prefilter of a screen batch's band rows: keep the rows whose
    * (`id`, `key`) string key the stored sketch (`words` over `mBits`
    * bits) may hold. A key the sketch rejects matches no stored bucket
    * (no false negatives), so its rows drop before any store I/O;
    * false positives only add probes, never change a verdict.
    */
  def bloomKeep(t: DataFrame, id: String, key: String, words: DataFrame,
                mBits: Int): DataFrame = {
    val keep = DedupQueries.BloomSketch.probe(
        t.select(col(id).as("doc_id"), col(key).as("h")).distinct(),
        words, mBits)
      .filter(col("bloom_hit"))
      .select(col("doc_id").as(id), col("h").as(key))
    t.join(broadcast(keep), Seq(id, key))
  }

  /** The distinct int bucket values `bucketOf` derives over a (small)
    * screen batch, pulled to the driver.
    */
  def batchBuckets(batch: DataFrame, bucketOf: Column): Seq[Int] =
    batch.select(bucketOf).distinct().collect().map(_.getInt(0)).toSeq

  /** A stored table pruned to a literal bucket set on its partition
    * column `part`: Catalyst pushes the filter to the scan as a
    * partition filter, so only those buckets' files are read; an empty
    * set reads nothing.
    */
  def pruneToBuckets(stored: DataFrame, part: String,
                     buckets: Seq[Int]): DataFrame =
    if (buckets.isEmpty) stored.filter(lit(false))
    else stored.filter(col(part).isInCollection(buckets))
}
