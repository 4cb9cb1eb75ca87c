package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.GraftFunctions.cosine_similarity

/** Approximate-nearest-neighbor / similarity search over the
  * `embeddings` table (Array[Float], 64-dim). Cosine uses the native
  * codegen'd CosineSimilarity expression (graft.functions) — double
  * precision, single-pass, no intermediate arrays, no UDFs.
  */
object SimilarityQueries {

  /** Per-dimension sum aggregates (shared by e04/e05/e06). */
  private def dimSums(dim: Int) = (0 until dim).map(i =>
    sum(col("embedding").getItem(i).cast("double")).as(s"s$i"))

  /** THE DuckDB cosine protocol — explicit DOUBLE casts so the oracle
    * matches the native expression bit-for-bit (DuckDB's own
    * list_cosine_similarity works in float32 and disagrees at the 6th
    * decimal). One definition for every similarity oracle (e01/e02/e03/
    * e05/e06), mirroring how the Spark side shares cosine_similarity.
    */
  private def cosSql(a: String, b: String, dim: Int = 64): String =
    s"(list_aggregate([CAST($a[i] AS DOUBLE)*CAST($b[i] AS DOUBLE) for i in generate_series(1,$dim)],'sum')" +
      s" / (sqrt(list_aggregate([CAST($a[i] AS DOUBLE)*CAST($a[i] AS DOUBLE) for i in generate_series(1,$dim)],'sum'))" +
      s" * sqrt(list_aggregate([CAST($b[i] AS DOUBLE)*CAST($b[i] AS DOUBLE) for i in generate_series(1,$dim)],'sum'))))"

  /** The assign CTE alone — every corpus vector to its nearest
    * centroid cell, the SQL mirror of [[assignCellsPulled]]; shared by
    * [[ivfSearchSql]] and the e28 drift report so the assignment text
    * cannot drift between searching and monitoring.
    */
  private def ivfAssignSql(centArr: String): String =
    s"""assign AS (
       |  SELECT vec_id, embedding, cell FROM (
       |    SELECT e.vec_id, e.embedding, c.cell,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${cosSql("e.embedding", "c.centroid")} DESC, c.cell) AS rn
       |    FROM embeddings e CROSS JOIN $centArr c)
       |  WHERE rn = 1)""".stripMargin

  /** Shared oracle tail for the IVF variants: final assignment against
    * `centArr`, 2-probe per query (tie-break direction differs between
    * e05 and e06), exact in-cell ranking — the SQL mirror of
    * [[probeAndRank]], shared for the same no-drift reason.
    */
  private def ivfSearchSql(centArr: String, probeCellTieBreak: String,
                           scoredExtra: String = "",
                           probes: Int = 2): String =
    s"""${ivfAssignSql(centArr)},
       |probes AS (
       |  SELECT vec_id AS query_id, embedding AS q_emb, cell FROM (
       |    SELECT e.vec_id, e.embedding, c.cell,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${cosSql("e.embedding", "c.centroid")} DESC, c.cell $probeCellTieBreak) AS rn
       |    FROM embeddings e CROSS JOIN $centArr c WHERE e.vec_id < 5)
       |  WHERE rn <= $probes),
       |scored AS (
       |  SELECT a.query_id, b.vec_id AS neighbor_id,
       |    ${cosSql("a.q_emb", "b.embedding")} AS cos
       |  FROM probes a JOIN assign b ON a.cell = b.cell AND a.query_id <> b.vec_id$scoredExtra),
       |${cosTopKSql(3)}""".stripMargin

  /** A probe side made OPAQUE to dynamic partition pruning by a LAZY
    * checkpoint (tiny: queries × nprobe rows, materialized inside the
    * consuming job). With a selective literal probe side
    * ([[probeCells]]) DPP otherwise injects an IN-subquery filter on
    * the cell-partitioned side and pushes a clone into non-scan union
    * branches (a loaded store + appended arrivals), where Spark 4.1
    * never prepares the InSubqueryExec — "dynamicpruning#N has not
    * finished" at execution. No plan in this repo ever benefited from
    * DPP here (r16 plans carry zero dynamicpruning nodes), so opacity
    * costs nothing at any scale. The IVF and IVF-PQ searches both
    * broadcast their probes through it.
    */
  private def dppOpaque(probes: DataFrame): DataFrame =
    probes.localCheckpoint(eager = false)

  /** Shared probe search: exact cosine rank of `assigned` corpus rows
    * inside each query's probed cells, top-k per query (used by e05/e06
    * so rank/tie-break/rounding semantics cannot drift between them).
    */
  private[graft] def probeAndRank(assigned: DataFrame, probes: DataFrame,
                                  k: Int): DataFrame =
    knnOf(assigned, dppOpaque(probes), k, within = Some("cell"))

  /** The oracle tail of every exact-cosine top-k over a `scored` CTE of
    * (query_id, neighbor_id, cos): e01, e03 and the IVF searches.
    */
  private def cosTopKSql(k: Int): String =
    Ranking.topKSql("cos", "neighbor_id", "rank", k, wrap = false)

  /** e01's body over arbitrary corpus/query frames — the
    * [[graft.api.Graft.knn]] facade path: exact cosine top-k of
    * `corpus` (vec_id, embedding) against the broadcast `queries`
    * (query_id, q_emb), self excluded; with `within`, a query meets
    * only the rows sharing its value of that column (the LSH bucket of
    * e03, the probed IVF cell of [[probeAndRank]]). Output (query_id,
    * rank, neighbor_id, cos) sorted unless `ordered = false`.
    */
  private[graft] def knnOf(corpus: DataFrame, queries: DataFrame,
                           k: Int, ordered: Boolean = true,
                           within: Option[String] = None): DataFrame = {
    val notSelf = col("a.query_id") =!= col("b.vec_id")
    Ranking.topKRounded(
      corpus.alias("b").join(broadcast(queries.alias("a")),
          within.fold(notSelf)(c => col(s"a.$c") === col(s"b.$c") && notSelf))
        .select(col("a.query_id"), col("b.vec_id").as("neighbor_id"),
          cosine_similarity(col("a.q_emb"), col("b.embedding")).as("cos")),
      "cos", "neighbor_id", k, ordered = ordered)
  }

  /** Brute-force cosine top-k (k=10) for 5 query vectors — the exact
    * baseline. The query side is tiny and broadcast; at scale this is one
    * pass over the corpus per query batch (no shuffle of the corpus).
    */
  val e01KnnBruteForce = QueryDef(
    "e01_knn_bruteforce",
    (s, d) => {
      val e = Tables.embeddings(s, d)
      graft.api.Graft.knn(e, e.filter(col("vec_id") < 5), k = 10)
    },
    // cosine via the shared cosSql protocol (explicit DOUBLE — DuckDB's
    // list_cosine_similarity works in float32 and disagrees at the 6th
    // decimal)
    Some(s"""WITH scored AS (
            |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
            |    ${cosSql("a.embedding", "b.embedding")} AS cos
            |  FROM embeddings a JOIN embeddings b ON a.vec_id < 5 AND a.vec_id <> b.vec_id),
            |${cosTopKSql(10)}""".stripMargin))

  /** The exact side of the recall gates: e01's top 3. */
  private def exactTop3(s: SparkSession, d: String): DataFrame =
    e01KnnBruteForce.fn(s, d).filter(col("rank") <= 3)

  /** Cosine near-duplicate pairs (threshold 0.4) — embedding-space
    * near-dup detection. All-pairs at sf scale; the LSH variant (e03) is
    * the 100 TB path. Guarded: inputs above
    * `spark.graft.quadraticMaxRows` throw unless
    * `spark.graft.allowQuadratic=true` (see
    * [[QueryDef.requireQuadraticOptIn]]).
    */
  val e02CosineNearDup = QueryDef(
    "e02_cosine_neardup",
    (s, d) => {
      val e = QueryDef.requireQuadraticOptIn(
        Tables.embeddings(s, d), "e02_cosine_neardup", "e03/e05/e07/e09")
      e.alias("a").join(e.alias("b"), col("a.vec_id") < col("b.vec_id"))
        .select(col("a.vec_id").as("va"), col("b.vec_id").as("vb"),
          cosine_similarity(col("a.embedding"), col("b.embedding")).as("cos"))
        .filter(col("cos") >= 0.4)
        .select(col("va"), col("vb"), round(col("cos"), 6).as("cos"))
        .orderBy(col("va"), col("vb"))
    },
    Some(s"""SELECT a.vec_id AS va, b.vec_id AS vb,
            |  round(${cosSql("a.embedding", "b.embedding")}, 6) AS cos
            |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
            |WHERE ${cosSql("a.embedding", "b.embedding")} >= 0.4
            |ORDER BY va, vb""".stripMargin))

  /** Rademacher (±1) hyperplane entries derived from md5 of a seed
    * string — the SAME constants are inlined as literals into the Spark
    * plan and the generated oracle SQL, so the bucketing (and therefore
    * the whole ANN output) is engine-independent and fully gated.
    * ±1 entries lose nothing vs Gaussian for sign-hash LSH (the sign of
    * Σ±x_i is as good a random projection for cosine as a Gaussian one).
    */
  private val lshPlanes = 6
  private val lshDim = 64
  private lazy val lshSigns: Array[Array[Double]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(lshPlanes, lshDim) { (p, i) =>
      val h = md.digest(s"graft-lsh-$p-$i".getBytes("UTF-8"))
      if ((h(0) & 1) == 1) 1.0 else -1.0
    }
  }

  /** LSH-bucketed ANN: 6 random-hyperplane sign bits (fixed seed) →
    * bucket; candidates meet only inside their bucket, then exact cosine
    * ranks the top-3 per query. Approximate by construction → rows-only
    * check. At 100 TB the corpus is hashed once and bucketed; queries
    * probe one bucket each.
    */
  val e03AnnLsh = QueryDef(
    "e03_ann_lsh",
    (s, d) => {
      // 6 planes → 64 buckets: sized so buckets hold ~n/64 candidates;
      // at larger corpora raise planes to keep bucket size ~constant
      val planeLits = (0 until lshPlanes).map { p =>
        val terms = (0 until lshDim).map(i =>
          col("embedding").getItem(i).cast("double") * lshSigns(p)(i))
        when(terms.reduce(_ + _) >= 0, 1L << p).otherwise(0L)
      }
      val e = Tables.embeddings(s, d)
        .withColumn("bucket", planeLits.reduce(_ bitwiseOR _))
      val q = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
          col("bucket"))
      knnOf(e, q, 3, within = Some("bucket"))
    },
    // the oracle replays the identical ±1 projections (same literals,
    // same add order, DOUBLE arithmetic) so buckets match bit-for-bit,
    // then ranks exactly like e01's gated oracle
    Some {
      val bucketSql = (0 until lshPlanes).map { p =>
        val terms = (0 until lshDim).map(i =>
          s"CAST(embedding[${i + 1}] AS DOUBLE)*${lshSigns(p)(i)}")
          .mkString(" + ")
        s"(CASE WHEN ($terms) >= 0 THEN ${1L << p} ELSE 0 END)"
      }.mkString(" + ")
      s"""WITH bk AS (
         |  SELECT vec_id, embedding, $bucketSql AS bucket FROM embeddings),
         |scored AS (
         |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, ${cosSql("a.embedding", "b.embedding")} AS cos
         |  FROM bk a JOIN bk b
         |    ON a.vec_id < 5 AND a.bucket = b.bucket AND a.vec_id <> b.vec_id),
         |${cosTopKSql(3)}""".stripMargin
    })

  /** Centroid stats per label — the IVF building block (coarse quantizer
    * assignment reduces to this aggregation shape at scale).
    */
  val e04LabelCentroids = QueryDef(
    "e04_label_centroids",
    (s, d) => {
      val dim = 64
      val e = Tables.embeddings(s, d)
      e.groupBy(col("label"))
        .agg(count(lit(1)).as("n"), dimSums(dim): _*)
        .select(col("label"), col("n"), round(expr(
          (0 until dim).map(i => s"pow(round(s$i / n, 6), 2)")
            .mkString("sqrt(", " + ", ")")), 6).as("centroid_norm"))
        .orderBy(col("label"))
    },
    Some("SELECT label, count(*) AS n, round(sqrt(" +
      (0 until 64).map(i =>
        s"pow(round(sum(embedding[${i + 1}]) / count(*), 6), 2)").mkString(" + ") +
      "), 6) AS centroid_norm FROM embeddings GROUP BY label ORDER BY label"))

  /** Label-mean centroids (float-cast components — the cross-engine
    * rounding protocol) as `(cell, centroid)` — the deterministic coarse
    * quantizer shared by e05 and e07.
    */
  private[graft] def labelCentroids(e: DataFrame): DataFrame = {
    val dim = 64
    e.groupBy(col("label")).agg(count(lit(1)).as("n"), dimSums(dim): _*)
      .select(col("label").as("cell"),
        array((0 until dim).map(i => (col(s"s$i") / col("n")).cast("float")): _*)
          .as("centroid"))
  }

  /** Every vector assigned to its nearest centroid cell by a broadcast
    * join + per-vec_id window (cosine DESC, ties → lowest cell). No
    * production path calls it: every IVF handle holds the pulled
    * centroid snapshot and assigns through [[assignCellsPulled]]. It
    * stays as the specs' INDEPENDENT reference for that projection —
    * a different plan shape computing the same pick.
    */
  private[graft] def assignCells(e: DataFrame, centroids: DataFrame): DataFrame = {
    val wAssign = org.apache.spark.sql.expressions.Window
      .partitionBy(col("vec_id"))
      .orderBy(col("cs").desc, col("cell"))
    e.join(broadcast(centroids))
      .withColumn("cs", cosine_similarity(col("embedding"), col("centroid")))
      .withColumn("rn", row_number().over(wAssign))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("embedding"), col("cell"))
  }

  /** The tiny (cell, centroid) table pulled driver-side — an IVF
    * handle's ONE centroid snapshot (bounded: ≤ #cells × 64 floats),
    * and the only pull point. Sorted by cell so the literal ranking in
    * [[rankedCells]] is order-deterministic. An index without
    * centroids (trained on an empty corpus) fails here, by name.
    */
  private[graft] def pullCentroids(centroids: DataFrame)
      : Seq[(Int, Array[Float])] = {
    val pulled = centroids.select(col("cell"), col("centroid")).collect()
      .map(r => r.getInt(0) -> r.getSeq[Float](1).toArray)
      .sortBy(_._1).toSeq
    require(pulled.nonEmpty,
      "IVF index has no centroids: it was trained on an empty corpus")
    pulled
  }

  /** The pulled centroids as a LOCAL (cell, centroid) frame — the
    * broadcast side of residual/centroid joins and what a handle
    * exposes and saves as its centroid table: a LocalRelation of the
    * collected floats verbatim, so it never re-runs the centroid
    * aggregation subtree and always equals the snapshot.
    */
  private[graft] def centroidsLocal(spark: SparkSession,
      pulled: Seq[(Int, Array[Float])]): DataFrame = {
    import spark.implicits._
    pulled.map { case (c, arr) => (c, arr.toSeq) }.toDF("cell", "centroid")
  }

  /** THE cell ranking of IVF/IVF-PQ: every cell of the pulled snapshot
    * ordered by the centroid cosine of `emb`, DESC, ties → LOWEST cell
    * (the reversed ascending sort of literal (cs, −cell, cell)
    * structs). Assignment takes element 0, probing explodes
    * `slice(_, 1, probes)` — batch, stream and IVF-PQ route through
    * this one column, so they cannot disagree on a tie. Stateless
    * (streams run it), no join, no window; its generated code grows
    * with #cells × dim (the literal centroids).
    */
  private[graft] def rankedCells(pulled: Seq[(Int, Array[Float])],
                                 emb: Column): Column = {
    val cellStructs = pulled.map { case (cell, c) =>
      struct(
        cosine_similarity(emb,
          array(c.map(v => lit(v)): _*).cast("array<float>")).as("cs"),
        lit(-cell).as("negcell"),
        lit(cell).as("cell"))
    }
    reverse(array_sort(array(cellStructs: _*))).getField("cell")
  }

  /** Cell assignment as a PURE PROJECTION over the pulled snapshot —
    * no broadcast join, no corpus × #cells row blow-up, no per-vec_id
    * Exchange + Window: a 100 TB corpus is assigned in one map pass
    * with ZERO shuffles. Same pick as [[assignCells]] (the oracle
    * gates + EmbStreamsSpec pin it).
    */
  private[graft] def assignCellsPulled(e: DataFrame,
      pulled: Seq[(Int, Array[Float])]): DataFrame =
    e.select(col("vec_id"), col("embedding"),
      rankedCells(pulled, col("embedding")).getItem(0).as("cell"))

  /** (query_id, q_emb) queries → (query_id, q_emb, cell), one row per
    * probed cell: the top-`probes` of [[rankedCells]]. The one probe
    * of IVF search, IVF-PQ search and every streaming server.
    */
  private[graft] def probeCells(queries: DataFrame,
      pulled: Seq[(Int, Array[Float])], probes: Int): DataFrame =
    queries.select(col("query_id"), col("q_emb"),
      explode(slice(rankedCells(pulled, col("q_emb")), 1, probes))
        .as("cell"))

  /** The e05 IVF index as a servable artifact: the cell-assigned corpus
    * (one batch pass; cache it for repeated probes) plus the tiny
    * centroid table pulled driver-side — the e06/e09-style bounded
    * aggregate pull (≤ #cells × 64 floats) that lets a STREAM of
    * queries probe cells in a pure projection
    * ([[graft.streaming.EmbStreams.ivfServe]]). Built from the same
    * [[labelCentroids]]/[[assignCellsPulled]] the e05 gate verifies, so
    * the served index is the gated index.
    */
  private[graft] def ivfIndex(s: SparkSession, d: String)
      : (DataFrame, Seq[(Int, Array[Float])]) = {
    val e = Tables.embeddings(s, d)
    val pulled = pullCentroids(labelCentroids(e))
    (assignCellsPulled(e, pulled), pulled)
  }

  /** Oracle mirror of [[labelCentroids]] + the assign step — shared CTE
    * text so e05/e07/e26 cannot drift. `where` restricts the TRAINING
    * corpus (e26 trains on the pre-append snapshot); empty = all rows.
    */
  private def centArrSqlOver(where: String): String =
    s"""cent AS (
       |  SELECT label AS cell, i,
       |    CAST(sum(CAST(embedding[i] AS DOUBLE)) / count(*) AS FLOAT) AS c
       |  FROM embeddings, LATERAL unnest(generate_series(1, 64)) t(i)
       |  $where
       |  GROUP BY label, i),
       |cent_arr AS (
       |  SELECT cell, list(c ORDER BY i) AS centroid FROM cent GROUP BY cell)""".stripMargin

  private val centArrSql: String = centArrSqlOver("")

  /** IVF-style ANN: coarse centroids (label means — a deterministic
    * stand-in for k-means training), every vector assigned to its
    * nearest centroid cell, queries probe their 2 nearest cells, exact
    * cosine ranks top-3 inside the probed cells. At 100 TB: centroids
    * broadcast, the corpus partitions by cell once, and each query
    * touches ~nprobe/ncells of the data. Approximate → rows-only check.
    */
  val e05AnnIvf = QueryDef(
    "e05_ann_ivf",
    // train (label centroids) + assign + 2-probe search, routed through
    // the Graft.annIndex facade so the gate covers the servable-index
    // path a real pipeline calls
    (s, d) => {
      val e = Tables.embeddings(s, d)
      graft.api.Graft.annIndex(e)
        .search(e.filter(col("vec_id") < 5), probes = 2, k = 3)
    },
    // the float cast on each centroid component absorbs double-sum
    // ordering noise (a double sum differs across engines/partitionings
    // by ~1 ulp; rounding to 24-bit float mantissa collapses both to the
    // same value except vanishingly close to a float boundary), so the
    // whole IVF pipeline — train, assign, probe, rank — gates exactly
    Some(
      s"""WITH $centArrSql,
         |${ivfSearchSql("cent_arr", "ASC")}""".stripMargin))

  /** IVF with TRUE k-means training: deterministic farthest-spread init
    * (every 50th vector), 3 Lloyd iterations run as DataFrame jobs
    * (assign = argmax cosine against broadcast centroid literals;
    * recompute = 64-column mean agg collected to the driver — centroids
    * are tiny, the corpus never leaves executors). Then 2-probe ANN as
    * in e05. Approximate → rows-only check.
    */
  val e06AnnIvfKmeans = QueryDef(
    "e06_ann_ivf_kmeans",
    (s, d) => {
      val dim = 64
      val k = 10
      val iters = 3
      val e = Tables.embeddings(s, d).cache()

      // the cache serves the training collects only; released in the
      // finally so a failed collect can't strand it (the search job
      // below runs after plan-build time and reads the source directly)
      def centroidLit(c: Array[Double]) =
        array(c.map(v => lit(v.toFloat)): _*).cast("array<float>")
      def cellOf(centroids: Array[Array[Double]]) = {
        val cosines = centroids.map(c =>
          cosine_similarity(col("embedding"), centroidLit(c)))
        val arr = array(cosines: _*)
        (array_position(arr, array_max(arr)) - 1).cast("int").as("cell")
      }

      val centroids: Array[Array[Double]] =
        try {
          // deterministic init: spread over vec_id space
          var cents: Array[Array[Double]] = e
            .filter(pmod(col("vec_id"), lit(50)) === 0).orderBy(col("vec_id"))
            .limit(k).select(col("embedding")).collect()
            .map(_.getSeq[Float](0).map(_.toDouble).toArray)

          // Lloyd iterations: assign + recompute means
          for (_ <- 1 to iters) {
            val rows = e.select(col("embedding"), cellOf(cents))
              .groupBy(col("cell")).agg(count(lit(1)).as("n"), dimSums(dim): _*)
              .collect()
            val updated = cents.clone()
            rows.foreach { r =>
              val cell = r.getInt(0)
              val n = r.getLong(1).toDouble
              updated(cell) = (0 until dim).map(i => r.getDouble(i + 2) / n).toArray
            }
            cents = updated
          }
          cents
        } finally e.unpersist()
      def cellExpr = cellOf(centroids)

      // final assignment + 2-probe search for queries
      val assigned = e.select(col("vec_id"), col("embedding"), cellExpr)
      val queries = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
      val probeCos = centroids.zipWithIndex.map { case (c, i) =>
        struct(cosine_similarity(col("q_emb"), centroidLit(c)).as("cs"),
          lit(i).as("cell"))
      }
      val probes = queries
        .select(col("query_id"), col("q_emb"),
          explode(slice(reverse(array_sort(array(probeCos: _*))), 1, 2)).as("p"))
        .select(col("query_id"), col("q_emb"), col("p.cell").as("cell"))
      probeAndRank(assigned, probes, k = 3)
    },
    // full k-means replay in chained CTEs: the three Lloyd iterations
    // unroll (assign → per-cell float-rounded means → coalesce empty
    // cells), with the SAME float casts the Spark side applies each
    // round — float rounding absorbs double-sum ordering noise, so even
    // the trained-centroid pipeline gates exactly. Tie-break mirrors:
    // assignment = first max cell (cell ASC), probe top-2 = reversed
    // struct sort (cell DESC on cosine ties).
    Some {
      def iteration(prev: String, n: Int): String =
        s"""a$n AS (
           |  SELECT vec_id, embedding, cell FROM (
           |    SELECT e.vec_id, e.embedding, c.cell,
           |      row_number() OVER (PARTITION BY e.vec_id
           |        ORDER BY ${cosSql("e.embedding", "c.centroid")} DESC, c.cell) AS rn
           |    FROM embeddings e CROSS JOIN $prev c)
           |  WHERE rn = 1),
           |u$n AS (
           |  SELECT cell, list(c ORDER BY i) AS centroid FROM (
           |    SELECT cell, i, CAST(sum(CAST(embedding[i] AS DOUBLE)) / count(*) AS FLOAT) AS c
           |    FROM a$n, LATERAL unnest(generate_series(1, 64)) t(i)
           |    GROUP BY cell, i)
           |  GROUP BY cell),
           |c${n}_arr AS (
           |  SELECT p.cell, coalesce(u.centroid, p.centroid) AS centroid
           |  FROM $prev p LEFT JOIN u$n u ON p.cell = u.cell)""".stripMargin
      s"""WITH c0_arr AS (
         |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, embedding AS centroid
         |  FROM (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 50 = 0
         |        ORDER BY vec_id LIMIT 10)),
         |${iteration("c0_arr", 1)},
         |${iteration("c1_arr", 2)},
         |${iteration("c2_arr", 3)},
         |${ivfSearchSql("c3_arr", "DESC")}""".stripMargin
    })

  /** Memoized cell-assigned corpus per (session, dir) — the d06-style
    * bounded LRU: the e07 verdict core references the assignment
    * subtree four times (cell count, both self-join sides, final left
    * join) and the assign step is the expensive part, so the handle is
    * materialized ONCE (localCheckpoint — blocks die with the handle
    * via the ContextCleaner, no session-lifetime CacheManager entry)
    * and reused across invocations (bench ×5, spec reruns).
    *
    * Invalidation: the memo is generation-checked exactly like d06's
    * cluster memo — [[invalidateAssigned]] drops the entry and bumps
    * the (session, dir) generation, so a rewritten corpus dir never
    * serves a stale assignment within a session, and a compute that
    * was already in flight when the invalidation arrived is DISCARDED
    * rather than cached (it may have read the old data). The compute
    * runs OUTSIDE the monitor (the assignment is a real Spark job;
    * holding the lock through it would serialize unrelated dirs and
    * block invalidation); a concurrent duplicate compute for the same
    * dir is possible and harmless — identical labels, last put wins.
    */
  private val assignedMemo =
    new java.util.LinkedHashMap[(SparkSession, String), DataFrame](
      16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(SparkSession, String), DataFrame]): Boolean =
        size() > 16
    }
  private val assignedGen =
    new java.util.HashMap[(SparkSession, String), java.lang.Long]()
  private def assignedGenOf(key: (SparkSession, String)): Long =
    Option(assignedGen.get(key)).map(_.longValue).getOrElse(0L)

  /** Observe the current generation for (s, d) — pair with
    * [[putAssignedIfCurrent]]; package-private so ClusterMemoSpec can
    * exercise the invalidate-during-compute race deterministically.
    */
  private[operators] def assignedGeneration(s: SparkSession,
                                            d: String): Long =
    assignedMemo.synchronized(assignedGenOf((s, d)))

  /** Insert a computed assignment only if no invalidation happened
    * since `startGen` was observed; returns whether the put happened.
    */
  private[operators] def putAssignedIfCurrent(s: SparkSession, d: String,
                                              startGen: Long,
                                              a: DataFrame): Boolean =
    assignedMemo.synchronized {
      val key = (s, d)
      val ok = assignedGenOf(key) == startGen
      if (ok) assignedMemo.put(key, a)
      ok
    }

  /** Drop the memoized cell assignment for `d` (e.g. after rewriting
    * its embeddings); the next e07 call recomputes from the current
    * data. Any assignment in flight at the moment of invalidation is
    * discarded rather than cached.
    */
  def invalidateAssigned(s: SparkSession, d: String): Unit =
    assignedMemo.synchronized {
      val key = (s, d)
      assignedMemo.remove(key)
      assignedGen.put(key, java.lang.Long.valueOf(assignedGenOf(key) + 1L))
      ()
    }

  private def assignedOf(s: SparkSession, d: String): DataFrame = {
    val key = (s, d)
    val (cached, startGen) = assignedMemo.synchronized(
      (Option(assignedMemo.get(key)), assignedGenOf(key)))
    cached.getOrElse {
      val e = Tables.embeddings(s, d)
      // pull-once + projection (round 17): one bounded centroid-agg
      // job, then the checkpointed assignment pass is shuffle-free
      val a = assignCellsPulled(e, pullCentroids(labelCentroids(e)))
        .localCheckpoint()
      putAssignedIfCurrent(s, d, startGen, a)
      a
    }
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): cluster the corpus with a coarse quantizer, then
    * deduplicate ONLY within each cluster — pairwise cosine stays
    * O(Σ cell²) ≈ O(n²/k) instead of O(n²), and every cell's pair join
    * is an independent partition-local task. A vector is dropped when a
    * lower-id vector in the SAME cell sits within the similarity
    * threshold (the min-id representative survives — the deterministic
    * analogue of the paper's keep-one-per-group rule). At 100 TB: the
    * corpus partitions by cell once (one shuffle), each cell joins
    * against itself locally; k scales with corpus size to bound cell
    * width, and a degenerate cell (all-near-identical embeddings) is
    * bounded the same way d09 caps band buckets: cells whose population
    * exceeds `cap` are EXCLUDED from the pairwise join (their members
    * are kept — a boilerplate mega-cluster is d01/d02 exact-hash
    * territory, not pairwise-cosine territory), so per-cell work is
    * bounded at (cap choose 2). Fully gated INCLUDING the cap (the
    * oracle replays it, so a cap regression flips the hash), with the
    * float-cast centroid protocol (e05) making cells engine-exact; the
    * verdict per vector is a deterministic anti-join.
    */
  val e07SemanticDedup = QueryDef(
    "e07_semantic_dedup",
    (s, d) => {
      val tau = 0.4 // same near-dup bar as e02, now per-cell
      semanticDedupVerdicts(assignedOf(s, d), tau, cap = 1000)
        .orderBy(col("vec_id"))
    },
    Some(
      s"""WITH $centArrSql,
         |assign AS (
         |  SELECT vec_id, embedding, cell FROM (
         |    SELECT e.vec_id, e.embedding, c.cell,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${cosSql("e.embedding", "c.centroid")} DESC, c.cell) AS rn
         |    FROM embeddings e CROSS JOIN cent_arr c)
         |  WHERE rn = 1),
         |cool AS (
         |  SELECT cell FROM assign GROUP BY cell HAVING count(*) <= 1000),
         |ac AS (
         |  SELECT a.vec_id, a.embedding, a.cell FROM assign a JOIN cool USING (cell)),
         |dropped AS (
         |  SELECT DISTINCT b.vec_id
         |  FROM ac a JOIN ac b
         |    ON a.cell = b.cell AND a.vec_id < b.vec_id
         |  WHERE ${cosSql("a.embedding", "b.embedding")} >= 0.4)
         |SELECT s.vec_id, s.cell, d.vec_id IS NULL AS keep
         |FROM assign s LEFT JOIN dropped d ON s.vec_id = d.vec_id
         |ORDER BY s.vec_id""".stripMargin))

  /** e07's verdict core, factored for direct testing: within-cell
    * near-dup drops with the cell-population cap applied BEFORE the
    * self-join. `assigned` is (vec_id, embedding, cell); output is
    * (vec_id, cell, keep) for every input vector. Cells with more than
    * `cap` members contribute no pairs — all their vectors keep=true —
    * so the worst cell costs (cap choose 2) comparisons, never n².
    * The cool-cell list is one map-side-combined count per cell,
    * broadcast back (cells ≪ vectors by construction).
    */
  private[operators] def semanticDedupVerdicts(
      assigned: DataFrame, tau: Double, cap: Int): DataFrame = {
    val inCool = PairCandidates.capHot(assigned, Seq("cell"),
      Some(cap.toLong), broadcastCool = true)
    val dropped = PairCandidates.selfPairs(inCool, "cell", "vec_id",
        ("va", "vb"), "embedding")
      .filter(cosine_similarity(col("aembedding"), col("bembedding")) >= tau)
      .select(col("vb").as("vec_id")).distinct()
      .withColumn("is_dropped", lit(true))
    assigned.join(dropped, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"),
        not(coalesce(col("is_dropped"), lit(false))).as("keep"))
  }

  /** Int8 scalar quantization of the embedding corpus — the standard
    * 4× vector-store compression. Per-dimension [min, max] ranges are a
    * tiny 64-row aggregate broadcast back over the corpus; each value
    * quantizes to an 8-bit code and the per-vector output reports code
    * extremes plus reconstruction RMSE. All math in double with the
    * final RMSE float-cast before rounding (the e06 trick) so avg()
    * summation order can't move the 4th decimal. Scale: one map-side
    * combinable agg + one broadcast join — a linear pass, and the codes
    * (not materialized here) would shrink a 100 TB float corpus to 25 TB.
    */
  val e08Int8Quant = QueryDef(
    "e08_int8_quant",
    (s, d) => {
      val dims = Tables.embeddings(s, d)
        .select(col("vec_id"),
          posexplode(col("embedding")).as(Seq("dim", "vf")))
        .withColumn("v", col("vf").cast("double"))
      val ranges = dims.groupBy(col("dim"))
        .agg(min(col("v")).as("lo"), max(col("v")).as("hi"))
      dims.join(broadcast(ranges), "dim")
        .withColumn("code",
          when(col("hi") === col("lo"), 0L)
            .otherwise(round((col("v") - col("lo"))
              / (col("hi") - col("lo")) * 255).cast("long")))
        .withColumn("recon",
          col("lo") + col("code") * (col("hi") - col("lo")) / 255.0)
        .withColumn("err2",
          (col("v") - col("recon")) * (col("v") - col("recon")))
        .groupBy(col("vec_id"))
        .agg(min(col("code")).as("min_code"), max(col("code")).as("max_code"),
          round(sqrt(avg(col("err2")).cast("float")), 6).as("rmse"))
        .orderBy(col("vec_id"))
    },
    Some("""WITH dims AS (
           |  SELECT vec_id, i AS dim, CAST(embedding[i] AS DOUBLE) AS v
           |  FROM embeddings, LATERAL unnest(generate_series(1, 64)) AS t(i)),
           |ranges AS (
           |  SELECT dim, min(v) AS lo, max(v) AS hi FROM dims GROUP BY dim),
           |coded AS (
           |  SELECT vec_id, v, lo, hi,
           |    CASE WHEN hi = lo THEN 0
           |         ELSE CAST(round((v - lo) / (hi - lo) * 255, 0) AS BIGINT)
           |    END AS code
           |  FROM dims JOIN ranges USING (dim)),
           |recon AS (
           |  SELECT vec_id, code,
           |    (v - (lo + code * (hi - lo) / 255.0))
           |      * (v - (lo + code * (hi - lo) / 255.0)) AS err2
           |  FROM coded)
           |SELECT vec_id, min(code) AS min_code, max(code) AS max_code,
           |  round(sqrt(CAST(avg(err2) AS FLOAT)), 6) AS rmse
           |FROM recon GROUP BY vec_id ORDER BY vec_id""".stripMargin))

  /** The full PQ pipeline (train → encode → ADC rank), parameterized by
    * shortlist depth `m` — e09 is `m = 3`; e16 re-ranks the `m = 10`
    * shortlist. One definition so the re-rank stage provably searches
    * the exact index it claims to (any drift flips both gates).
    * Frame-parameterized (corpus and queries in, not (session, dir)) so
    * [[graft.api.Graft.pqIndex]] exposes the identical path on a user's
    * own frames — and the gates route THROUGH the facade.
    */
  private val pqSubDim = 16
  private def pqSubCol(c: Column, mi: Int): Column =
    slice(c, mi * pqSubDim + 1, pqSubDim)
  private def pqCentroidLit(c: Array[Double]): Column =
    array(c.map(v => lit(v.toFloat)): _*).cast("array<float>")
  /** Native codegen'd subspace kernels ([[graft.functions.PqSubL2]] /
    * [[PqSubDot]]): the HOF `aggregate(zip_with(slice(...)))` forms
    * evaluated interpreted per row (lambda + sliced temp array per
    * call, 16 calls per encoded row); the native expressions run one
    * compiled loop each, read the full array at an offset (no slice
    * temp), and keep the plan tree one node per kernel. Bit-identical
    * accumulation (left fold from 0.0 over float-rounded centroid
    * components) — PqKernelsSpec pins native ≡ HOF on every shape,
    * and the 22 PQ-family oracle gates pin the pipelines end-to-end.
    */
  private def pqL2(a: Column, off: Int, cent: Array[Double]): Column =
    graft.functions.PqKernels.pq_sub_l2(a, off, cent)
  private def pqDot(a: Column, off: Int, cent: Array[Double]): Column =
    graft.functions.PqKernels.pq_sub_dot(a, off, cent)

  /** The deterministic codebook seed of [[pqTrain]] and
    * [[ivfPqTrainEncode]]: the `vecCol` subvectors of the first `k`
    * vectors (by vec_id) whose vec_id is a multiple of 125, one
    * codebook per subspace. A corpus with no such vector would train
    * EMPTY codebooks that fail later at analysis, so it fails here,
    * naming the rule.
    */
  private def pqSeedCodebooks(frame: DataFrame, vecCol: String, k: Int,
                              m: Int): Array[Array[Array[Double]]] = {
    val initRows = frame.filter(pmod(col("vec_id"), lit(125)) === 0)
      .orderBy(col("vec_id")).limit(k)
      .select(col(vecCol)).collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)
    require(initRows.nonEmpty,
      "PQ codebooks seed from the training vectors whose vec_id is a " +
        "multiple of 125, and this training corpus has none")
    Array.tabulate(m) { mi =>
      initRows.map(_.slice(mi * pqSubDim, (mi + 1) * pqSubDim))
    }
  }

  /** Train the 4-subspace × 16-dim PQ codebooks on a (vec_id,
    * embedding) corpus frame: deterministic every-125th init + 2
    * batched Lloyd iterations over the `vecCol` column. Driver pulls
    * are BOUNDED — k init vectors plus m×k×16 doubles per iteration —
    * never the corpus; the corpus is cached only for the duration of
    * training (try/finally) and touched 2+1 times total.
    */
  private[graft] def pqTrain(corpus: DataFrame,
                             vecCol: String = "embedding",
                             k: Int = 4)
      : Array[Array[Array[Double]]] = {
    val m = 4 // subspaces
    val iters = 2
    val e = corpus.cache()
    try {
      val cbs = pqSeedCodebooks(e, vecCol, k, m)

      // per-subspace Lloyd: assign by L2, recompute means (float-cast
      // on use — the cross-engine rounding protocol). Subspaces are
      // independent, so each iteration batches ALL m assignments
      // into ONE job — 2 driver round-trips instead of m×iters —
      // keyed by (mi, cell): a union of m branches over the cached
      // corpus, one shuffle of m×k tiny aggregate rows. Identical
      // math to the sequential per-subspace loop the oracle replays.
      for (_ <- 1 to iters) {
        val perSub = (0 until m).map { mi =>
          val dists = array(cbs(mi).map(c =>
            pqL2(col(vecCol), mi * pqSubDim, c)): _*)
          val cell = (array_position(dists, array_min(dists)) - 1).cast("int")
          e.select(lit(mi).as("mi"), cell.as("cell"), col(vecCol).as("v"))
        }.reduce(_ unionByName _)
        val subSums = (0 until pqSubDim).map(i =>
          sum(element_at(col("v"),
            col("mi") * pqSubDim + i + 1).cast("double")).as(s"s$i"))
        val rows = perSub.groupBy(col("mi"), col("cell"))
          .agg(count(lit(1)).as("n"), subSums: _*)
          .collect()
        rows.foreach { r =>
          val mi = r.getInt(0)
          val n = r.getLong(2).toDouble
          cbs(mi)(r.getInt(1)) =
            (0 until pqSubDim).map(i => r.getDouble(i + 3) / n).toArray
        }
      }
      cbs
    } finally e.unpersist()
  }

  /** Encode each corpus vector as 4 one-byte codes — the 16×-compressed
    * representation the index stores. One uncached linear pass.
    */
  private[graft] def pqEncode(corpus: DataFrame,
                              codebooks: Array[Array[Array[Double]]],
                              vecCol: String = "embedding"): DataFrame =
    corpus.select(Seq(col("vec_id")) ++ codebooks.indices.map { mi =>
      val dists = array(codebooks(mi).map(c =>
        pqL2(col(vecCol), mi * pqSubDim, c)): _*)
      (array_position(dists, array_min(dists)) - 1).cast("int")
        .as(s"code_$mi")
    }: _*)

  /** Per-query ADC lookup tables (query·centroid per subspace) over a
    * (query_id, q_emb) frame — ONE definition shared by the batch rank
    * and the streaming server ([[graft.streaming.EmbStreams.pqServe]]),
    * so stream and batch score identically by construction.
    */
  private[graft] def pqLuts(queries: DataFrame,
                            codebooks: Array[Array[Array[Double]]])
      : DataFrame =
    queries.select(Seq(col("query_id")) ++ codebooks.indices.map { mi =>
      array(codebooks(mi).map(c =>
        pqDot(col("q_emb"), mi * pqSubDim, c)): _*).as(s"ip_$mi")
    }: _*)

  /** The ADC score over joined LUT + code columns — the left-assoc
    * element_at chain both the batch rank and the stream server apply.
    */
  private[graft] def pqAdcScore(m: Int): Column =
    expr((0 until m)
      .map(mi => s"element_at(ip_$mi, code_$mi + 1)").mkString(" + "))

  /** ADC rank: (query_id, q_emb) queries against the encoded codes.
    * Per-query LOOKUP TABLES (query·centroid per subspace) are computed
    * ONCE on the tiny query side and broadcast — the joined corpus pass
    * does 4 `element_at`s per (query, vector) pair, never a 64-dim dot:
    * the asymmetric-distance shape that makes PQ serving read codes,
    * not vectors. Self-matches are included (the e09 protocol — e12's
    * recall is measured against the same convention).
    */
  private[graft] def pqAdcRank(encoded: DataFrame,
                               codebooks: Array[Array[Array[Double]]],
                               queries: DataFrame, topM: Int,
                               ordered: Boolean = true): DataFrame =
    Ranking.topKRounded(
      encoded.join(broadcast(pqLuts(queries, codebooks)))
        .withColumn("approx_ip", pqAdcScore(codebooks.length)),
      "approx_ip", "vec_id", topM, rank = "rnk", ordered = ordered)

  /** Exact-cosine re-rank of an ADC shortlist (the e16 two-stage shape):
    * fetch raw vectors for shortlist members and query points via
    * broadcast joins — the corpus side streams, nothing shuffles, and
    * the exact math costs O(queries × fetch), not O(queries × corpus).
    */
  private[graft] def pqRerankStage(corpus: DataFrame, shortlist: DataFrame,
                                   queries: DataFrame, k: Int): DataFrame =
    Ranking.topKRounded(
      corpus.alias("b")
        .join(broadcast(shortlist.alias("sl")),
          col("sl.vec_id") === col("b.vec_id"))
        .join(broadcast(queries.alias("a")),
          col("a.query_id") === col("sl.query_id"))
        .select(col("a.query_id"), col("b.vec_id").as("neighbor_id"),
          cosine_similarity(col("a.q_emb"), col("b.embedding")).as("cos")),
      "cos", "neighbor_id", k)

  /** Oracle mirror of [[pqRerankStage]]: exact cosine of the
    * `shortlistSql` entries (named `name`), top 3 — e16 over the PQ
    * shortlist, e43 over the IVF-PQ one, e38 at each fetch depth.
    */
  private def rerankSql(name: String, shortlistSql: String): String =
    s"""WITH $name AS ($shortlistSql),
       |scored AS (
       |  SELECT sl.query_id, b.vec_id AS neighbor_id,
       |    ${cosSql("q.embedding", "b.embedding")} AS cos
       |  FROM $name sl
       |  JOIN embeddings b ON b.vec_id = sl.vec_id
       |  JOIN embeddings q ON q.vec_id = sl.query_id),
       |${Ranking.topKSql("cos", "neighbor_id", "rank", 3, wrap = true)}""".stripMargin

  /** The training + encoding prefix of [[pqSql]] — every CTE through
    * `enc` (vec_id, code0..code3) — extracted so drift-shaped oracles
    * (e31) can aggregate the codes without duplicating the Lloyd
    * replay. Text is byte-identical to what [[pqSql]] always embedded.
    */
  private def pqEncCtes(trainPred: Option[String] = None): String = {
      val subDim = 16
      def off(mi: Int) = mi * subDim
      def l2Sql(mi: Int): String =
        s"list_aggregate([(CAST(e.embedding[${off(mi)} + i] AS DOUBLE) - CAST(c.centroid[i] AS DOUBLE))" +
          s" * (CAST(e.embedding[${off(mi)} + i] AS DOUBLE) - CAST(c.centroid[i] AS DOUBLE))" +
          s" for i in generate_series(1, $subDim)], 'sum')"
      val trainJoinWhere = trainPred.map(p => s" WHERE e.$p").getOrElse("")
      def iteration(mi: Int, n: Int): String =
        s"""pqa${n}_m$mi AS (
           |  SELECT vec_id, embedding, k FROM (
           |    SELECT e.vec_id, e.embedding, c.k,
           |      row_number() OVER (PARTITION BY e.vec_id
           |        ORDER BY ${l2Sql(mi)} ASC, c.k) AS rn
           |    FROM embeddings e CROSS JOIN pq${n - 1}_m$mi c$trainJoinWhere)
           |  WHERE rn = 1),
           |pqu${n}_m$mi AS (
           |  SELECT k, list(c ORDER BY i) AS centroid FROM (
           |    SELECT k, i,
           |      CAST(sum(CAST(embedding[${off(mi)} + i] AS DOUBLE)) / count(*) AS FLOAT) AS c
           |    FROM pqa${n}_m$mi, LATERAL unnest(generate_series(1, $subDim)) t(i)
           |    GROUP BY k, i)
           |  GROUP BY k),
           |pq${n}_m$mi AS (
           |  SELECT p.k, coalesce(u.centroid, p.centroid) AS centroid
           |  FROM pq${n - 1}_m$mi p LEFT JOIN pqu${n}_m$mi u ON p.k = u.k)""".stripMargin
      def subspace(mi: Int): String =
        s"""pq0_m$mi AS (
           |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS k,
           |    embedding[${off(mi) + 1}:${off(mi) + subDim}] AS centroid
           |  FROM (SELECT vec_id, embedding FROM embeddings
           |        WHERE vec_id % 125 = 0${trainPred.map(p => s" AND $p").getOrElse("")} ORDER BY vec_id LIMIT 4)),
           |${iteration(mi, 1)},
           |${iteration(mi, 2)},
           |codes_m$mi AS (
           |  SELECT vec_id, k AS code$mi FROM (
           |    SELECT e.vec_id, c.k,
           |      row_number() OVER (PARTITION BY e.vec_id
           |        ORDER BY ${l2Sql(mi)} ASC, c.k) AS rn
           |    FROM embeddings e CROSS JOIN pq2_m$mi c)
           |  WHERE rn = 1)""".stripMargin
      s"""${(0 until 4).map(subspace).mkString(",\n")},
         |enc AS (
         |  SELECT vec_id, code0, code1, code2, code3
         |  FROM codes_m0 JOIN codes_m1 USING (vec_id)
         |    JOIN codes_m2 USING (vec_id) JOIN codes_m3 USING (vec_id))""".stripMargin
  }

  /** Oracle mirror of the PQ search ([[pqTrain]], [[pqEncode]],
    * [[pqAdcRank]]) — the full unrolled per-subspace Lloyd replay,
    * parameterized by the same shortlist depth.
    * `trainPred` restricts the TRAINING corpus (init picks + Lloyd
    * assignments/means — e27 trains on the pre-append snapshot);
    * encoding and scoring always cover all rows.
    */
  private def pqSql(topM: Int, trainPred: Option[String] = None,
                    scoredExtra: String = ""): String = {
      val subDim = 16
      def off(mi: Int) = mi * subDim
      def dotSql(mi: Int): String =
        s"list_aggregate([CAST(q.q_emb[${off(mi)} + i] AS DOUBLE) * CAST(c$mi.centroid[i] AS DOUBLE)" +
          s" for i in generate_series(1, $subDim)], 'sum')"
      s"""WITH ${pqEncCtes(trainPred)},
         |q AS (SELECT vec_id AS query_id, embedding AS q_emb
         |      FROM embeddings WHERE vec_id < 5),
         |scored AS (
         |  SELECT q.query_id, enc.vec_id,
         |    ${(0 until 4).map(dotSql).mkString(" + ")} AS approx_ip
         |  FROM q CROSS JOIN enc
         |    JOIN pq2_m0 c0 ON c0.k = enc.code0
         |    JOIN pq2_m1 c1 ON c1.k = enc.code1
         |    JOIN pq2_m2 c2 ON c2.k = enc.code2
         |    JOIN pq2_m3 c3 ON c3.k = enc.code3$scoredExtra),
         |${Ranking.topKSql("approx_ip", "vec_id", "rnk", topM, wrap = true)}""".stripMargin
  }

  /** Product-quantization ANN (Jégou et al. 2011): 64 dims → 4
    * subspaces × 16 dims, each with its own 4-centroid codebook trained
    * by 2 Lloyd iterations (L2, deterministic every-125th init — the
    * e06 recipe per subspace); every vector compresses to 4 one-byte
    * codes, and queries rank by the ADC approximation — the inner
    * product against each vector's RECONSTRUCTION, computed as 4
    * table lookups (query·centroid per subspace) instead of a 64-dim
    * dot per pair. At 100 TB: codebooks are 4×4×16 floats broadcast
    * everywhere, the corpus is stored as 4 bytes/vector (16× smaller
    * than float32), training touches the corpus 2× with only
    * 4×4×16-double centroid pulls to the driver, and search reads
    * codes, never raw vectors. Fully gated: per-subspace k-means
    * replayed in chained CTEs with the e06 float-cast protocol, codes
    * and ADC scores bit-exact across engines.
    */
  val e09AnnPq = QueryDef(
    "e09_ann_pq",
    // routed through the user-facing facade (train + encode + ADC all
    // behind Graft.pqIndex) so the DuckDB gate re-certifies the public
    // PQ path every round — the annIndex/e05 pattern
    (s, d) => {
      // scaleOut scoped to the COMPUTE branch (train + encode): the
      // query batch reads the raw scan — widening a frame that ends
      // under a BroadcastExchange is pure overhead (round-17 fix of
      // the r16 misplacement)
      val raw = Tables.embeddings(s, d)
      val e = QueryDef.scaleOut(raw)
      graft.api.Graft.pqIndex(e).search(raw.filter(col("vec_id") < 5), k = 3)
    },
    Some(pqSql(topM = 3)))

  /** ANN quality evaluation: recall@3 of the IVF index (e05) against
    * the exact brute-force top-3 (e01), per query — THE metric an ANN
    * deployment is judged by, expressed as a composition of the two
    * existing gated pipelines (both the Spark plans and the oracle SQL
    * compose verbatim, so the recall gate inherits their determinism
    * end-to-end: if either pipeline drifts, this hash flips too). At
    * scale this is an evaluation harness run on a sampled query set —
    * the expensive exact side only ever runs over the sample.
    */
  val e10AnnRecall = QueryDef(
    "e10_ann_recall",
    (s, d) => recallOfTop3(e05AnnIvf.fn(s, d), "rank", "neighbor_id",
      exactTop3(s, d)),
    Some(recallOfSql("ivf", e05AnnIvf.oracle.get)))

  /** The recall gates' approximate side: the top 3 of a search result
    * ranked by `rank` with ids in `id`, as (query_id, neighbor_id),
    * scored by [[Ranking.recall3]] against `exact`.
    */
  private def recallOfTop3(search: DataFrame, rank: String, id: String,
                           exact: DataFrame): DataFrame =
    Ranking.recall3(top3Ids(search, rank, id), exact)

  private def top3Ids(search: DataFrame, rank: String, id: String)
      : DataFrame =
    search.filter(col(rank) <= 3)
      .select(col("query_id"), col(id).as("neighbor_id"))

  /** Oracle of a composed recall gate: the approximate search's full
    * oracle as CTE `<name>_full`, its top 3 (ranked by `rank`, ids
    * projected by `ids`) against e01's exact top 3.
    */
  private def recallOfSql(name: String, fullSql: String,
                          rank: String = "rank",
                          ids: String = "neighbor_id"): String =
    s"""WITH ${name}_full AS ($fullSql),
       |exact_full AS (${e01KnnBruteForce.oracle.get}),
       |i AS (SELECT query_id, $ids FROM ${name}_full WHERE $rank <= 3),
       |e AS (SELECT query_id, neighbor_id FROM exact_full WHERE rank <= 3)
       |${Ranking.recallSql("i", "e")}""".stripMargin

  /** Oracle of a recall gate whose approximate side is ranked inline:
    * `prefix` holds the CTEs through a `scored` (query_id, neighbor_id,
    * score) CTE, ranked by `order` against e01's exact top 3.
    */
  private def recallOfScoredSql(prefix: String, order: String): String =
    s"""WITH $prefix,
       |${Ranking.top3CteSql("i", "scored", order)},
       |exact_full AS (${e01KnnBruteForce.oracle.get}),
       |e AS (SELECT query_id, neighbor_id FROM exact_full WHERE rank <= 3)
       |${Ranking.recallSql("i", "e")}""".stripMargin

  /** recall@3 of the LSH index (e03) against the exact top-3 (e01) —
    * e10's composition pattern applied to the second ANN family: both
    * the Spark plans and the oracle SQL compose verbatim, so any drift
    * in either underlying pipeline flips this hash too.
    */
  val e11AnnRecallLsh = QueryDef(
    "e11_ann_recall_lsh",
    (s, d) => recallOfTop3(e03AnnLsh.fn(s, d), "rank", "neighbor_id",
      exactTop3(s, d)),
    Some(recallOfSql("lsh", e03AnnLsh.oracle.get)))

  /** recall@3 of the PQ-ADC index (e09) against the exact top-3 (e01).
    * e09 ranks by the asymmetric-distance APPROXIMATION (codebook inner
    * products), so unlike e05/e03 — which rank true cosine inside their
    * candidate sets — its recall genuinely measures quantization loss,
    * not just routing loss.
    */
  val e12AnnRecallPq = QueryDef(
    "e12_ann_recall_pq",
    (s, d) => recallOfTop3(e09AnnPq.fn(s, d), "rnk", "vec_id",
      exactTop3(s, d)),
    Some(recallOfSql("pq", e09AnnPq.oracle.get, "rnk",
      "vec_id AS neighbor_id")))

  /** recall@3 of the TRAINED IVF index (e06, k-means cells) against the
    * exact top-3 — completes the recall harness over all four ANN
    * variants (e10: fixed-grid IVF, e11: LSH, e12: PQ, e13: k-means
    * IVF). The oracle composes e06's full unrolled-Lloyd SQL, so the
    * recall gate replays the training too.
    */
  val e13AnnRecallKmeans = QueryDef(
    "e13_ann_recall_kmeans",
    (s, d) => recallOfTop3(e06AnnIvfKmeans.fn(s, d), "rank", "neighbor_id",
      exactTop3(s, d)),
    Some(recallOfSql("km", e06AnnIvfKmeans.oracle.get)))

  /** recall@3 of brute-force search in INT8-QUANTIZED space (e08's
    * per-dimension min/max codes, with BOTH query and corpus vectors
    * reconstructed from their codes) against the exact float search
    * (e01) — quantifying what the 4× compression costs in ranking
    * quality, the way e10–e13 quantify each index family's pruning.
    * Reconstructions are float-cast on both engines before the cosine
    * so the two sides rank identical float32 inputs; the cosine itself
    * runs the shared in-order double protocol (cosine_similarity /
    * cosSql). At 100 TB the quantized corpus is what search actually
    * reads (16 B/dim → 1 B/dim + 2 floats per dim global), so recall
    * must be measured in that space, not the float original.
    */
  val e14AnnRecallInt8 = QueryDef(
    "e14_ann_recall_int8",
    (s, d) => {
      val dims = Tables.embeddings(s, d)
        .select(col("vec_id"),
          posexplode(col("embedding")).as(Seq("dim", "vf")))
        .withColumn("v", col("vf").cast("double"))
      val ranges = dims.groupBy(col("dim"))
        .agg(min(col("v")).as("lo"), max(col("v")).as("hi"))
      val recon = dims.join(broadcast(ranges), "dim")
        .withColumn("code",
          when(col("hi") === col("lo"), 0L)
            .otherwise(round((col("v") - col("lo"))
              / (col("hi") - col("lo")) * 255).cast("long")))
        .withColumn("recon",
          (col("lo") + col("code") * (col("hi") - col("lo")) / 255.0)
            .cast("float"))
        .groupBy(col("vec_id"))
        .agg(transform(array_sort(collect_list(struct(col("dim"), col("recon")))),
          x => x.getField("recon")).as("rvec"))
      val q = recon.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("rvec").as("q_rvec"))
      Ranking.recall3(top3Unranked(recon.alias("b").join(broadcast(q.alias("a")),
          col("a.query_id") =!= col("b.vec_id"))
        .select(col("a.query_id"), col("b.vec_id").as("neighbor_id"),
          cosine_similarity(col("a.q_rvec"), col("b.rvec")).as("cos")),
        "cos"), exactTop3(s, d))
    },
    Some(recallOfScoredSql(
      s"""dims AS (
         |  SELECT vec_id, i AS dim, CAST(embedding[i] AS DOUBLE) AS v
         |  FROM embeddings, LATERAL unnest(generate_series(1, 64)) AS t(i)),
         |ranges AS (
         |  SELECT dim, min(v) AS lo, max(v) AS hi FROM dims GROUP BY dim),
         |recon AS (
         |  SELECT vec_id,
         |    list(CAST(lo + (CASE WHEN hi = lo THEN 0
         |           ELSE CAST(round((v - lo) / (hi - lo) * 255, 0) AS BIGINT)
         |         END) * (hi - lo) / 255.0 AS FLOAT) ORDER BY dim) AS rvec
         |  FROM dims JOIN ranges USING (dim) GROUP BY vec_id),
         |scored AS (
         |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         |    ${cosSql("a.rvec", "b.rvec")} AS cos
         |  FROM recon a JOIN recon b ON a.vec_id < 5 AND a.vec_id <> b.vec_id)""".stripMargin,
      "cos DESC")))

  /** The approximate side of the recall gates that rank inline:
    * (query_id, neighbor_id) of the top 3 of `scored` by `score`
    * (DESC, or ASC for a distance), ties to the lower neighbor_id.
    */
  private def top3Unranked(scored: DataFrame, score: String,
                           ascending: Boolean = false): DataFrame =
    Ranking.topK(scored, "query_id", score, "neighbor_id", 3,
        asLong = false, ascending = ascending)
      .select(col("query_id"), col("neighbor_id"))

  /** recall@3 of brute-force search over the first 48 of 64 dimensions
    * (Matryoshka-style prefix truncation) against the exact full-dim
    * top-3 (e01) — the dimension-reduction compression family, closing
    * the recall harness's coverage alongside index pruning (e10–e13) and
    * scalar quantization (e14). Prefix truncation is what MRL-trained
    * embedding deployments ship (the prefix is trained to be a usable
    * embedding); the synthetic isotropic test vectors are the WORST case
    * for it — no training concentrates variance in the prefix, so the
    * measured recall (~0.3 at 48/64 here, vs 0.93 for int8 in e14) is a
    * floor, and what the harness certifies is the measurement itself,
    * cross-engine. Truncated cosine is the same shared protocol on both
    * engines: Spark slices the array before the codegen'd
    * cosine_similarity; DuckDB bounds the same in-order double sums at
    * dim 48.
    */
  val e15AnnRecallTrunc = QueryDef(
    "e15_ann_recall_trunc",
    (s, d) => {
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), slice(col("embedding"), 1, 48).as("tvec"))
      val q = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("tvec").as("q_tvec"))
      Ranking.recall3(top3Unranked(e.alias("b").join(broadcast(q.alias("a")),
          col("a.query_id") =!= col("b.vec_id"))
        .select(col("a.query_id"), col("b.vec_id").as("neighbor_id"),
          cosine_similarity(col("a.q_tvec"), col("b.tvec")).as("cos")),
        "cos"), exactTop3(s, d))
    },
    Some(recallOfScoredSql(
      s"""scored AS (
         |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         |    ${cosSql("a.embedding", "b.embedding", dim = 48)} AS cos
         |  FROM embeddings a JOIN embeddings b ON a.vec_id < 5 AND a.vec_id <> b.vec_id)""".stripMargin,
      "cos DESC")))

  /** Two-stage ANN: PQ-ADC shortlist (top-10 by the compressed-domain
    * approximation) → EXACT cosine re-rank of just those 10 → top-3.
    * This is the standard recall-recovery pattern every production PQ
    * deployment runs (Jégou et al. 2011 §V.D call it re-ranking with
    * source coding): the index prunes 99.99% of the corpus in the
    * compressed domain, then the final ordering is computed against the
    * handful of RAW vectors the shortlist names. At 100 TB: stage 1
    * reads 4-byte codes only; stage 2 fetches m raw vectors per query
    * via a broadcast semi-join on the tiny shortlist — the corpus is
    * never rescanned, so the exact math costs O(queries × m), not
    * O(queries × corpus). Shares [[pqSearch]]/[[pqSql]] with e09, so
    * the re-rank provably searches the same index e09/e12 measure;
    * candidate semantics (self included) are kept identical to e09 so
    * e17's recall is directly comparable to e12's.
    */
  val e16AnnPqRerank = QueryDef(
    "e16_ann_pq_rerank",
    // routed through Graft.pqIndex(...).rerank — the facade's two-stage
    // path IS the gate path, so the oracle certifies it every round
    (s, d) => {
      // scaleOut scoped to the compute branch — the e09 note; the
      // query batch (broadcast side of the rerank fetch) reads raw
      val raw = Tables.embeddings(s, d)
      val e = QueryDef.scaleOut(raw)
      graft.api.Graft.pqIndex(e)
        .rerank(raw.filter(col("vec_id") < 5), fetch = 10, k = 3)
    },
    Some(rerankSql("pq_full", pqSql(topM = 10))))

  /** recall@3 of the re-ranked PQ index (e16) against the exact top-3
    * (e01) — the payoff measurement for the two-stage pattern: e12
    * scores the RAW ADC ranking (quantization loss visible), e17 scores
    * the same index after the exact re-rank, and the difference is what
    * re-ranking buys. Composes both gated pipelines verbatim, so the
    * number inherits their determinism end-to-end.
    */
  val e17AnnRecallRerank = QueryDef(
    "e17_ann_recall_rerank",
    (s, d) => recallOfTop3(e16AnnPqRerank.fn(s, d), "rank", "neighbor_id",
      exactTop3(s, d)),
    Some(recallOfSql("rr", e16AnnPqRerank.oracle.get)))

  /** The coarse-assign + residual-train + encode prefix of
    * [[ivfPqSql]] — every CTE through `enc` (vec_id, cell,
    * code0..code3) — extracted so drift-shaped oracles (e34) can
    * aggregate the composite codes without duplicating the replay.
    * Text is byte-identical to what [[ivfPqSql]] always embedded.
    */
  private def ivfPqEncCtes(trainPred: Option[String] = None): String = {
    val subDim = 16
    val trainJoinWhere = trainPred.map(p => s" WHERE e.$p").getOrElse("")
    def off(mi: Int) = mi * subDim
    def l2Sql(mi: Int): String =
      s"list_aggregate([(CAST(e.res[${off(mi)} + i] AS DOUBLE) - CAST(c.centroid[i] AS DOUBLE))" +
        s" * (CAST(e.res[${off(mi)} + i] AS DOUBLE) - CAST(c.centroid[i] AS DOUBLE))" +
        s" for i in generate_series(1, $subDim)], 'sum')"
    def iteration(mi: Int, n: Int): String =
      s"""rqa${n}_m$mi AS (
         |  SELECT vec_id, res, k FROM (
         |    SELECT e.vec_id, e.res, c.k,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${l2Sql(mi)} ASC, c.k) AS rn
         |    FROM ares e CROSS JOIN rq${n - 1}_m$mi c$trainJoinWhere)
         |  WHERE rn = 1),
         |rqu${n}_m$mi AS (
         |  SELECT k, list(c ORDER BY i) AS centroid FROM (
         |    SELECT k, i,
         |      CAST(sum(CAST(res[${off(mi)} + i] AS DOUBLE)) / count(*) AS FLOAT) AS c
         |    FROM rqa${n}_m$mi, LATERAL unnest(generate_series(1, $subDim)) t(i)
         |    GROUP BY k, i)
         |  GROUP BY k),
         |rq${n}_m$mi AS (
         |  SELECT p.k, coalesce(u.centroid, p.centroid) AS centroid
         |  FROM rq${n - 1}_m$mi p LEFT JOIN rqu${n}_m$mi u ON p.k = u.k)""".stripMargin
    def subspace(mi: Int): String =
      s"""rq0_m$mi AS (
         |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS k,
         |    res[${off(mi) + 1}:${off(mi) + subDim}] AS centroid
         |  FROM (SELECT vec_id, res FROM ares
         |        WHERE vec_id % 125 = 0${trainPred.map(p => s" AND $p").getOrElse("")} ORDER BY vec_id LIMIT 16)),
         |${iteration(mi, 1)},
         |${iteration(mi, 2)},
         |rcodes_m$mi AS (
         |  SELECT vec_id, k AS code$mi FROM (
         |    SELECT e.vec_id, c.k,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${l2Sql(mi)} ASC, c.k) AS rn
         |    FROM ares e CROSS JOIN rq2_m$mi c)
         |  WHERE rn = 1)""".stripMargin
    s"""${trainPred.map(p => centArrSqlOver(s"WHERE $p")).getOrElse(centArrSql)},
       |assign AS (
       |  SELECT vec_id, embedding, cell FROM (
       |    SELECT e.vec_id, e.embedding, c.cell,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${cosSql("e.embedding", "c.centroid")} DESC, c.cell) AS rn
       |    FROM embeddings e CROSS JOIN cent_arr c)
       |  WHERE rn = 1),
       |ares AS (
       |  SELECT a.vec_id, a.cell,
       |    [CAST(CAST(a.embedding[i] AS DOUBLE) - CAST(c.centroid[i] AS DOUBLE) AS FLOAT)
       |     for i in generate_series(1, 64)] AS res
       |  FROM assign a JOIN cent_arr c USING (cell)),
       |${(0 until 4).map(subspace).mkString(",\n")},
       |enc AS (
       |  SELECT a.vec_id, a.cell, code0, code1, code2, code3
       |  FROM ares a JOIN rcodes_m0 USING (vec_id)
       |    JOIN rcodes_m1 USING (vec_id) JOIN rcodes_m2 USING (vec_id)
       |    JOIN rcodes_m3 USING (vec_id))""".stripMargin
  }

  /** Oracle for e18: the full IVF-PQ replay — coarse assignment
    * (shared centArrSql + the e07 assign shape), float-exact residuals,
    * per-subspace Lloyd on residuals (the e09 iteration pattern over an
    * `ares` CTE), codes, and ADC with the q·c correction term. All
    * sums in-order double; all stored vectors float-cast.
    * `trainPred` restricts the TRAINING corpus — coarse centroids,
    * residual init picks, and both Lloyd iterations (e29 trains on the
    * pre-append snapshot); residual derivation, encoding, and scoring
    * always cover all rows.
    */
  private def ivfPqSql(trainPred: Option[String] = None,
                       scoredExtra: String = "",
                       topM: Int = 3): String = {
    val subDim = 16
    def off(mi: Int) = mi * subDim
    def lutSql(mi: Int): String =
      s"list_aggregate([CAST(s.qres[${off(mi)} + i] AS DOUBLE) * CAST(c$mi.centroid[i] AS DOUBLE)" +
        s" for i in generate_series(1, $subDim)], 'sum')"
    // mirror of the Spark encode-time stored norm: per-subspace in-order
    // Σ (c_i + r̂_i)², chained left-assoc across subspaces by the caller
    def recon2Sql(mi: Int): String =
      s"list_aggregate([(CAST(cc.centroid[${off(mi)} + i] AS DOUBLE) + CAST(c$mi.centroid[i] AS DOUBLE))" +
        s" * (CAST(cc.centroid[${off(mi)} + i] AS DOUBLE) + CAST(c$mi.centroid[i] AS DOUBLE))" +
        s" for i in generate_series(1, $subDim)], 'sum')"
    s"""WITH ${ivfPqEncCtes(trainPred)},
       |q AS (SELECT vec_id AS query_id, embedding AS q_emb
       |      FROM embeddings WHERE vec_id < 5),
       |probes AS (
       |  SELECT query_id, q_emb, cell FROM (
       |    SELECT q.query_id, q.q_emb, c.cell,
       |      row_number() OVER (PARTITION BY q.query_id
       |        ORDER BY ${cosSql("q.q_emb", "c.centroid")} DESC, c.cell) AS rn
       |    FROM q CROSS JOIN cent_arr c)
       |  WHERE rn <= 2),
       |qres AS (
       |  SELECT p.query_id, p.cell,
       |    list_aggregate([CAST(p.q_emb[i] AS DOUBLE) * CAST(c.centroid[i] AS DOUBLE)
       |                    for i in generate_series(1, 64)], 'sum') AS qc,
       |    list_aggregate([CAST(p.q_emb[i] AS DOUBLE) * CAST(p.q_emb[i] AS DOUBLE)
       |                    for i in generate_series(1, 64)], 'sum') AS qn2,
       |    [CAST(CAST(p.q_emb[i] AS DOUBLE) - CAST(c.centroid[i] AS DOUBLE) AS FLOAT)
       |     for i in generate_series(1, 64)] AS qres
       |  FROM probes p JOIN cent_arr c USING (cell)),
       |scored AS (
       |  SELECT s.query_id, e.vec_id,
       |    (s.qc + ${(0 until 4).map(lutSql).mkString(" + ")})
       |      / (sqrt(s.qn2) * sqrt(${(0 until 4).map(recon2Sql).mkString(" + ")}))
       |      AS approx_cos
       |  FROM qres s JOIN enc e USING (cell)
       |    JOIN cent_arr cc ON cc.cell = e.cell
       |    JOIN rq2_m0 c0 ON c0.k = e.code0
       |    JOIN rq2_m1 c1 ON c1.k = e.code1
       |    JOIN rq2_m2 c2 ON c2.k = e.code2
       |    JOIN rq2_m3 c3 ON c3.k = e.code3$scoredExtra
       |  WHERE s.query_id <> e.vec_id),
       |${Ranking.topKSql("approx_cos", "vec_id", "rnk", topM, wrap = true)}""".stripMargin
  }

  /** Residual of `vec` from the joined `centroid` column — float-exact
    * cross-engine (float − float in double, cast back to float).
    */
  private def ivfPqResOf(vec: Column): Column =
    // native codegen'd residual (one compiled loop per row) — replaces
    // the interpreted zip_with((x.double − y.double).float) HOF;
    // IvfPqKernelsSpec pins native ≡ HOF bit-for-bit incl. null edges
    graft.functions.PqKernels.arr_float_sub(vec, col("centroid"))

  /** The (vec_id, cell, centroid, res) residual frame — assign to the
    * nearest cell of the pulled snapshot (a pure projection), subtract
    * its centroid (broadcast LocalRelation side — the consuming job
    * never re-runs the centroid aggregation subtree). The shared first
    * step of training (over the snapshot) and encoding (over anything,
    * including e29's appended arrivals).
    */
  private def ivfPqResiduals(vecs: DataFrame,
                             pulled: Seq[(Int, Array[Float])]): DataFrame =
    assignCellsPulled(vecs, pulled)
      .join(broadcast(centroidsLocal(vecs.sparkSession, pulled)),
        Seq("cell"))
      .select(col("vec_id"), col("cell"), col("centroid"),
        ivfPqResOf(col("embedding")).as("res"))

  /** Train + encode the IVF-PQ composite on a (vec_id, embedding,
    * label) corpus frame: coarse label centroids (e05's), per-subspace
    * Lloyd on RESIDUALS (16 centroids × 4 subspaces, 2 iterations),
    * then each vector stored as cell + 4 codes + the per-subspace
    * reconstruction-norm pieces ‖c + r̂‖² (what lets ADC rank by
    * approximate COSINE at serve time). Returns (encoded, codebooks,
    * pulled centroid snapshot). Driver pulls are bounded (init + per-iteration
    * centroid aggregates); the residual frame is cached only for the
    * duration of training.
    */
  private[graft] def ivfPqTrainEncode(corpus: DataFrame)
      : (DataFrame, Array[Array[Array[Double]]], Seq[(Int, Array[Float])]) = {
    val m = 4
    val iters = 2
    // one bounded pull (≤ #cells × 64 floats) up front; training,
    // encoding and the handle's searches all project against it
    val pulled = pullCentroids(labelCentroids(corpus))

    val ares = ivfPqResiduals(corpus, pulled).drop("centroid").cache()

    // per-subspace Lloyd on residuals — the e09 recipe, trained on
    // `res`; the cache serves init + iters bounded pulls, released
    // before the search job (which re-derives ares from the source)
    val codebooks: Array[Array[Array[Double]]] =
      try {
        val cbs = pqSeedCodebooks(ares, "res", 16, m)
        for (_ <- 1 to iters) {
          val perSub = (0 until m).map { mi =>
            val dists = array(cbs(mi).map(c =>
              pqL2(col("res"), mi * pqSubDim, c)): _*)
            val cell = (array_position(dists, array_min(dists)) - 1).cast("int")
            ares.select(lit(mi).as("mi"), cell.as("pk"), col("res"))
          }.reduce(_ unionByName _)
          val subSums = (0 until pqSubDim).map(i =>
            sum(element_at(col("res"),
              col("mi") * pqSubDim + i + 1).cast("double")).as(s"s$i"))
          val rows = perSub.groupBy(col("mi"), col("pk"))
            .agg(count(lit(1)).as("n"), subSums: _*)
            .collect()
          rows.foreach { r =>
            val mi = r.getInt(0)
            val n = r.getLong(2).toDouble
            cbs(mi)(r.getInt(1)) =
              (0 until pqSubDim).map(i => r.getDouble(i + 3) / n).toArray
          }
        }
        cbs
      } finally ares.unpersist()

    (ivfPqEncode(corpus, pulled, codebooks), codebooks, pulled)
  }

  /** Encode vectors against FROZEN coarse centroids + residual
    * codebooks: cell + 4 residual codes per vector, PLUS the stored
    * reconstruction norm ‖c + r̂‖ — the per-vector scalar every
    * cosine-serving PQ deployment keeps beside the codes so ADC can
    * rank by approximate COSINE (a raw inner-product rank is
    * norm-dominated and useless against a cosine ground truth). One
    * linear pass; shared by the [[ivfPqTrainEncode]] build and e29's
    * [[graft.api.Graft.IvfPqIndex.append]] so append-time encoding
    * cannot drift from build-time encoding.
    */
  private[graft] def ivfPqEncode(vecs: DataFrame,
                                 pulled: Seq[(Int, Array[Float])],
                                 codebooks: Array[Array[Array[Double]]])
      : DataFrame = {
    val m = codebooks.length
    ivfPqResiduals(vecs, pulled)
      .select(Seq(col("vec_id"), col("cell")) ++
        (0 until m).map { mi =>
          val dists = array(codebooks(mi).map(c =>
            pqL2(col("res"), mi * pqSubDim, c)): _*)
          (array_position(dists, array_min(dists)) - 1).cast("int")
            .as(s"code_$mi")
        } :+ col("centroid"): _*)
      .select(Seq(col("vec_id"), col("cell")) ++
        (0 until m).map(mi => col(s"code_$mi")) ++
        (0 until m).map { mi =>
          // native codegen'd ‖c + r̂‖² with the per-row code picking
          // the codebook row (dynamic-index shape) — replaces the
          // interpreted aggregate(zip_with(slice, element_at)) chain;
          // IvfPqKernelsSpec pins native ≡ HOF bit-for-bit
          graft.functions.PqKernels.pq_recon_norm(col("centroid"),
            col(s"code_$mi"), mi * pqSubDim, codebooks(mi))
            .as(s"recon2_$mi")
        }: _*)
  }

  /** IVF-PQ ADC search over [[ivfPqTrainEncode]] output: queries probe
    * their `probes` nearest cells ([[probeCells]], e05's tie-break),
    * carrying the correction term q·c and the residual query q − c; candidates
    * in the probed cells score by
    * (q·c + Σ_m q_m·r̂_m) / (‖q‖ · ‖c + r̂‖) — 4 lookups per pair into
    * per-(query, cell) tables, never a raw-vector read. Self is
    * excluded (the e01/e05 protocol). Left-assoc double chains mirror
    * the oracle text (addition is order-sensitive at the last ulp).
    */
  private[graft] def ivfPqSearch(encoded: DataFrame,
                                 pulled: Seq[(Int, Array[Float])],
                                 codebooks: Array[Array[Array[Double]]],
                                 queries: DataFrame,
                                 probes: Int, k: Int,
                                 ordered: Boolean = true): DataFrame = {
    val m = codebooks.length
    // the probed cells' centroids come from a LocalRelation of the
    // snapshot — the search job never re-runs the centroid aggregation
    val probed = probeCells(queries, pulled, probes)
      .join(broadcast(centroidsLocal(queries.sparkSession, pulled)),
        Seq("cell"))
      .select(col("query_id"), col("cell"),
        // native dot kernels (qn2 = dot(q, q): identical term order
        // and fold to the aggregate(transform(x²)) it replaces)
        graft.functions.PqKernels.arr_float_dot(col("q_emb"),
          col("centroid")).as("qc"),
        graft.functions.PqKernels.arr_float_dot(col("q_emb"),
          col("q_emb")).as("qn2"),
        ivfPqResOf(col("q_emb")).as("qres"))

    val scored = encoded.join(broadcast(dppOpaque(probed)), Seq("cell"))
      .where(col("query_id") =!= col("vec_id"))
      .select(Seq(col("query_id"), col("vec_id"), col("qc"), col("qn2")) ++
        (0 until m).map { mi =>
          array(codebooks(mi).map(c =>
            pqDot(col("qres"), mi * pqSubDim, c)): _*).as(s"ip_$mi")
        } ++ (0 until m).map(mi => col(s"code_$mi")) ++
        (0 until m).map(mi => col(s"recon2_$mi")): _*)
      .withColumn("approx_cos",
        expr("(qc + " + (0 until m)
          .map(mi => s"element_at(ip_$mi, code_$mi + 1)").mkString(" + ") +
          ") / (sqrt(qn2) * sqrt(" + (0 until m)
          .map(mi => s"recon2_$mi").mkString(" + ") + "))"))
    Ranking.topKRounded(scored, "approx_cos", "vec_id", k, rank = "rnk",
      ordered = ordered)
  }

  /** IVF-PQ composite index (Jégou et al. 2011 §IV — the full
    * production vector-index stack in one gated operator): the corpus
    * routes to coarse cells (e05's float-cast label centroids), each
    * vector's RESIDUAL from its cell centroid is product-quantized
    * (4 subspaces × 16 dims, 16-centroid codebooks, 2 Lloyd iterations
    * on residuals — quantizing residuals instead of raw vectors is
    * what makes the composite beat flat PQ: residual energy is a
    * fraction of vector energy, so the same code budget spends on a
    * smaller signal), and queries score candidates in their 2 probed
    * cells by approximate COSINE:
    * (q·c + Σ_m q_m·r̂_m) / (‖q‖·‖c + r̂‖) — the numerator is one
    * exact query-centroid dot (the correction term) plus 4 lookups
    * into per-(query, cell) tables built from the RESIDUAL query
    * q − c, and ‖c + r̂‖ is the per-vector reconstruction norm
    * STORED beside the codes at encode time, what cosine-serving PQ
    * deployments keep (a raw inner-product rank is norm-dominated and
    * meaningless against a cosine ground truth — the first cut of
    * this operator measured exactly that: recall identically 0 with
    * inflated-norm winners). Self is excluded (the e01/e05 protocol)
    * so e19 measures real retrieval. At 100 TB: the corpus stores
    * cell id + 4 bytes + one float per vector, cell routing bounds
    * each query to ~nprobe/#cells of the codes, codebooks and
    * centroids broadcast everywhere, and training touches the corpus
    * twice with only k×16-double pulls per subspace. Fully gated:
    * coarse assign, residuals, per-subspace Lloyd on residuals, codes,
    * stored norms, correction term and ADC cosines all replayed in
    * chained CTEs under the established float-cast / in-order-double
    * protocol.
    */
  val e18AnnIvfPq = QueryDef(
    "e18_ann_ivfpq",
    // routed through Graft.ivfPqIndex — the facade's composite-index
    // path IS the gate path, so the oracle certifies it every round
    (s, d) => {
      val e = Tables.embeddings(s, d)
      graft.api.Graft.ivfPqIndex(e)
        .search(e.filter(col("vec_id") < 5), probes = 2, k = 3)
    },
    Some(ivfPqSql()))

  /** Loss decomposition of the IVF-PQ composite (e18), per query: its
    * top-3 scored against the GLOBAL exact top-3 (e01 → `recall3`,
    * end-to-end: routing loss × quantization loss) AND against the
    * exact-in-probed-cells top-3 (e05, which shares e18's routing →
    * `n_kept_ivf`, quantization loss alone). The two columns separate
    * what the coarse quantizer lost from what the residual codes lost
    * — on these synthetic isotropic vectors both are near the floor
    * (label centroids of isotropic data ≈ 0, so residual ≈ full vector
    * and ~0.5 bit/dim must separate cosine gaps of ~0.05 — the e15
    * situation: the worst case for the method, where what the harness
    * certifies cross-engine is the MEASUREMENT; e17 shows the
    * production remedy, exact re-rank of the shortlist).
    */
  val e19AnnRecallIvfPq = QueryDef(
    "e19_ann_recall_ivfpq",
    (s, d) => {
      val pq3 = top3Ids(e18AnnIvfPq.fn(s, d), "rnk", "vec_id")
      val keptIvf = Ranking.recall3(pq3,
          e05AnnIvf.fn(s, d).filter(col("rank") <= 3), ordered = false)
        .select(col("query_id"), col("n_matched").as("n_kept_ivf"))
      Ranking.recall3(pq3, exactTop3(s, d), ordered = false)
        .join(keptIvf, Seq("query_id"))
        .select(col("query_id"), col("n_matched"), col("recall3"),
          col("n_kept_ivf"))
        .orderBy(col("query_id"))
    },
    Some(
      s"""WITH ivfpq_full AS (${ivfPqSql()}),
         |exact_full AS (${e01KnnBruteForce.oracle.get}),
         |ivf_full AS (${e05AnnIvf.oracle.get}),
         |i AS (SELECT query_id, vec_id AS neighbor_id FROM ivfpq_full WHERE rnk <= 3),
         |e AS (SELECT query_id, neighbor_id FROM exact_full WHERE rank <= 3),
         |v AS (SELECT query_id, neighbor_id FROM ivf_full WHERE rank <= 3),
         |a1 AS (${Ranking.recallSql("i", "e", ordered = false)}),
         |a2 AS (${Ranking.recallSql("i", "v", ordered = false)})
         |SELECT a1.query_id, a1.n_matched, a1.recall3, a2.n_matched AS n_kept_ivf
         |FROM a1 JOIN a2 USING (query_id) ORDER BY a1.query_id""".stripMargin))

  /** The shared binarization (e20 corpus dump / e21 recall measurement):
    * per-dimension MIDRANGE threshold ((min+max)/2 — order-independent,
    * so bit-exact across engines, unlike a mean whose summation order
    * could flip a borderline bit), one sign bit per dimension, packed
    * into two BIGINT halves (`lo` = dims 0–31, `hi` = dims 32–63; a
    * single 64-bit word would overflow DuckDB's signed sum at bit 63).
    */
  private val binPackSql: String =
    """dims AS (
      |  SELECT vec_id, i - 1 AS dim, CAST(embedding[i] AS DOUBLE) AS v
      |  FROM embeddings, LATERAL unnest(generate_series(1, 64)) AS t(i)),
      |mids AS (
      |  SELECT dim, (min(v) + max(v)) / 2.0 AS mid FROM dims GROUP BY dim),
      |packed AS (
      |  SELECT vec_id,
      |    CAST(sum(CASE WHEN dim < 32 AND v > mid
      |                  THEN CAST(1 AS BIGINT) << dim ELSE 0 END) AS BIGINT) AS lo,
      |    CAST(sum(CASE WHEN dim >= 32 AND v > mid
      |                  THEN CAST(1 AS BIGINT) << (dim - 32) ELSE 0 END) AS BIGINT) AS hi
      |  FROM dims JOIN mids USING (dim) GROUP BY vec_id)""".stripMargin

  private def binPacked(s: SparkSession, d: String): DataFrame = {
    val dims = Tables.embeddings(s, d)
      .select(col("vec_id"),
        posexplode(col("embedding")).as(Seq("dim", "vf")))
      .withColumn("v", col("vf").cast("double"))
    val mids = dims.groupBy(col("dim"))
      .agg(((min(col("v")) + max(col("v"))) / 2.0).as("mid"))
    dims.join(broadcast(mids), "dim")
      .withColumn("bit", col("v") > col("mid"))
      .groupBy(col("vec_id"))
      .agg(
        sum(when(col("bit") && col("dim") < 32,
          expr("shiftleft(CAST(1 AS BIGINT), dim)")).otherwise(0L)).as("lo"),
        sum(when(col("bit") && col("dim") >= 32,
          expr("shiftleft(CAST(1 AS BIGINT), dim - 32)")).otherwise(0L)).as("hi"))
  }

  /** Binary (1-bit) quantization of the embedding corpus — the extreme
    * end of the compression ladder (float32 → int8 in e08, → 1 bit/dim
    * here: 256× smaller, 8 bytes/vector). Search in this space is
    * Hamming distance, two xor+popcount instructions per pair — the
    * reason binary codes are the standard first-stage filter in
    * billion-vector deployments. At 100 TB: the threshold table is 64
    * doubles (one tiny order-independent agg, broadcast), packing is a
    * map-side-combinable per-vector agg, and the packed corpus (8 B ×
    * N) is small enough to BROADCAST for corpora that would need a
    * shuffle join in float space.
    */
  val e20BinaryQuant = QueryDef(
    "e20_binary_quant",
    (s, d) => binPacked(s, d)
      .select(col("vec_id"), col("lo"), col("hi"),
        expr("CAST(bit_count(lo) + bit_count(hi) AS BIGINT)").as("n_set"))
      .orderBy(col("vec_id")),
    Some(
      s"""WITH $binPackSql
         |SELECT vec_id, lo, hi,
         |  CAST(bit_count(lo) + bit_count(hi) AS BIGINT) AS n_set
         |FROM packed ORDER BY vec_id""".stripMargin))

  /** recall@3 of Hamming-ranked search in the BINARY space (e20's
    * packed codes, both query and corpus binarized) against the exact
    * float top-3 (e01) — closing the recall harness over the last
    * compression family (e10–e13 index pruning, e14 int8, e15
    * truncation, e19 IVF-PQ). Hamming ties are common at 64 bits and
    * break deterministically toward the lower neighbor_id on both
    * engines. The synthetic isotropic vectors are again the worst case
    * (no training aligns the hyperplanes with the data); the harness
    * certifies the measurement, and e16's exact re-rank is the
    * production remedy for whatever the filter stage loses.
    */
  val e21AnnRecallBinary = QueryDef(
    "e21_ann_recall_binary",
    (s, d) => {
      // eager localCheckpoint: `packed` feeds BOTH sides of the join
      // below, and without materialization the 64×N posexplode +
      // midrange agg + packing agg would execute twice per run; unlike
      // cache() this leaves no CacheManager entry to leak across
      // invocations (blocks are reclaimed when the handle is GC'd)
      val packed = binPacked(s, d).localCheckpoint()
      val q = packed.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"),
          col("lo").as("qlo"), col("hi").as("qhi"))
      Ranking.recall3(top3Unranked(packed.alias("b").join(broadcast(q.alias("a")),
          col("a.query_id") =!= col("b.vec_id"))
        .select(col("a.query_id"), col("b.vec_id").as("neighbor_id"),
          expr("CAST(bit_count(qlo ^ lo) + bit_count(qhi ^ hi) AS BIGINT)")
            .as("hamming")),
        "hamming", ascending = true), exactTop3(s, d))
    },
    Some(recallOfScoredSql(
      s"""$binPackSql,
         |scored AS (
         |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         |    CAST(bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi)) AS BIGINT) AS hamming
         |  FROM packed a JOIN packed b ON a.vec_id < 5 AND a.vec_id <> b.vec_id)""".stripMargin,
      "hamming")))

  /** The BM25 index artifacts over a documents frame — `postings` =
    * (vec_id, tok, tf), `doclen` = (vec_id, dl), `df` = (tok, df) —
    * the id column named `vec_id` so the durable store's shared
    * tombstone machinery applies unchanged. Shared by e22's lexical
    * side and [[graft.api.Graft.bm25Index]], so the gated scoring and
    * the persisted index cannot drift.
    */
  private[graft] def bm25Build(docs: DataFrame)
      : (DataFrame, DataFrame, DataFrame) = {
    // ONE tokenize and ONE wide (vec_id, tok) shuffle: doclen is the
    // per-doc tf-sum and df the per-term row count, both derived FROM
    // the postings (map-side-combinable aggs over far fewer rows than
    // the raw token stream) — the postings subtree is lazily
    // checkpointed so the three artifacts share its blocks instead of
    // re-tokenizing the corpus per artifact (blocks die with the
    // handle via the ContextCleaner)
    // MEASURED AND REJECTED (round 17, the "fold df out of the tf
    // shuffle" idea): keying the tf exchange by tok alone
    // (`.repartition(col("tok"))` before the groupBy, so the df
    // aggregation could reuse the partitioning exchange-free) forces
    // the (vec_id, tok) aggregate into complete mode — the RAW token
    // stream crosses the exchange with NO map-side partial
    // aggregation. e22 regressed 1.23 → 1.50 s at sf0.1, and at
    // 100 TB the trade is strictly worse (tokens ≫ postings by the
    // average tf). The present shape shuffles partially-aggregated
    // (vec_id, tok, tf) once; df's second exchange then carries only
    // per-map-partition (tok, partial-count) rows — near-free.
    val postings = docs.select(col("doc_id").as("vec_id"),
        explode(split(col("text"), " ")).as("tok"))
      .groupBy(col("vec_id"), col("tok"))
      .agg(count(lit(1)).as("tf"))
      .localCheckpoint(eager = false)
    val doclen = postings.groupBy(col("vec_id"))
      .agg(sum(col("tf")).as("dl"))
    val df = postings.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    (postings, doclen, df)
  }

  /** BM25 ranking of `queries` = (query_id, terms) — `terms` is the
    * DISTINCT (query_id, tok) pair frame (query-side term frequency
    * is ignored, the e22 convention) — against the index artifacts:
    * the per-term idf folds into the BROADCAST query-term side first,
    * so the corpus-sized postings table is touched by exactly ONE
    * token-keyed equi-join with a broadcast build side (e22's
    * scale-critical shape, shared code). Determinism protocol: the
    * term-sum is float-cast before 4dp rounding; ranks tie-break on
    * doc id. Output: (query_id, did, s_bm25, r_bm25) for ranks ≤ k.
    */
  private[graft] def bm25Rank(postings: DataFrame, doclen: DataFrame,
                              dfTable: DataFrame, terms: DataFrame,
                              k: Int, k1: Double = 1.2,
                              b: Double = 0.75,
                              excludeSelf: Boolean = false,
                              dlOnPostings: Boolean = false,
                              corpusStats: Option[(Long, Double)] = None)
      : DataFrame = {
    // (N, avgdl) are corpus CONSTANTS per handle — a serving loop that
    // recomputed them per search would scan the doc-count-sized doclen
    // table once per query batch for two scalars (billions of rows at
    // 100 TB). Callers that search repeatedly (the Bm25Index handle)
    // pull them ONCE and pass literals; the types match the in-plan
    // aggregate exactly (count → long, avg → double), so scores are
    // bit-identical either way.
    val stats = corpusStats match {
      case Some((n, avgdl)) =>
        val spark = doclen.sparkSession
        import spark.implicits._
        Seq((n, avgdl)).toDF("n", "avgdl")
      case None =>
        doclen.agg(count(lit(1)).as("n"), avg(col("dl")).as("avgdl"))
    }
    val qterms = broadcast(terms.select(col("query_id").as("qid"),
        col("tok")))
      .join(dfTable, Seq("tok"))
      .crossJoin(broadcast(stats))
      .withColumn("idf",
        log((col("n") - col("df") + 0.5) / (col("df") + 0.5) + 1.0))
      .select(col("qid"), col("tok"), col("idf"), col("avgdl"))
    val scored0 = broadcast(qterms)
      .join(postings.withColumnRenamed("vec_id", "did"), Seq("tok"))
    val scoredQ = (if (excludeSelf) scored0.filter(col("qid") =!= col("did"))
      else scored0)
    // dlOnPostings: a denormalized store carries each doc's length on
    // its postings rows, so the candidates↔doclen shuffle join
    // disappears from the search plan — and with handle-cached
    // corpusStats the plan reads doclen ZERO times (ProbePruningSpec
    // pins both counts)
    val scored = (if (dlOnPostings) scoredQ
      else scoredQ
        .join(doclen.withColumnRenamed("vec_id", "did"), Seq("did")))
      .withColumn("term_score",
        col("idf") * col("tf") / (col("tf")
          + (col("dl") / col("avgdl") * b + (1.0 - b)) * k1))
      .groupBy(col("qid"), col("did"))
      .agg(round(sum(col("term_score")).cast("float"), 4).as("s_bm25"))
    Ranking.topK(scored, "qid", "s_bm25", "did", k, rank = "r_bm25",
        asLong = false)
      .select(col("qid").as("query_id"), col("did"), col("s_bm25"),
        col("r_bm25"))
  }

  /** Hybrid retrieval with reciprocal-rank fusion — the RAG-stack
    * search shape: a lexical BM25 ranking (Lucene idf form, k1=1.2,
    * b=0.75, over the documents table) and a dense cosine ranking
    * (over the embeddings joined on doc_id = vec_id) are each cut to
    * top-20 per query, then fused by RRF (Cormack et al. 2009):
    * score = Σ 1/(60 + rank), a list absent from one side contributes
    * 0. Queries are the five documents with doc_id < 5, querying with
    * their own text and their own embedding; self-matches excluded
    * (the e01 convention). Determinism protocol: the BM25 term-sum is
    * float-cast before 4dp rounding (summation order differs between
    * engines — t17's protocol), ranks break ties on doc_id, RRF is
    * rational in integer ranks so its 6dp rounding is exact-input.
    * Scale: term postings and query terms meet in ONE token-keyed
    * equi-join (the query side is 5 docs — broadcast); the dense side
    * is e01's broadcast-query scan; fusion joins two ≤(20 × #queries)
    * rank lists — trivially small at any corpus size. The real
    * deployment swaps the scans for an inverted index and an ANN index
    * (e05/e18), which share exactly this fusion step.
    */
  val e22HybridRrf = QueryDef(
    "e22_hybrid_rrf",
    (s, d) => {
      // scaleOut scoped to the compute branch (tokenize feeds
      // bm25Build); the dense side's doc-id semi-join reads the raw
      // scan — widening a broadcast-side frame is pure overhead
      val docsRaw = Tables.documents(s, d)
      val docs = QueryDef.scaleOut(docsRaw)
      // the scale-critical lexical shape lives in the shared kernels
      // (see bm25Rank's scaladoc): idf folds into the broadcast
      // query-term side FIRST, postings meet exactly one token-keyed
      // equi-join with a broadcast build side — shared with the
      // durable bm25 store so the gate covers the persisted path's
      // scoring byte-for-byte
      val (postings, doclen, df_) = bm25Build(docs)
      val terms = postings.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("tok"))
      val bmTop = bm25Rank(postings, doclen, df_, terms, k = 20,
          excludeSelf = true)
        .select(col("query_id").as("qid"), col("did"), col("r_bm25"))
      val emb = Tables.embeddings(s, d)
        .join(docsRaw.select(col("doc_id")),
          col("vec_id") === col("doc_id"))
        .select(col("vec_id"), col("embedding"))
      val qv = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("q_emb"))
      val cosTop = Ranking.topK(
          emb.alias("b").join(broadcast(qv.alias("a")),
              col("a.qid") =!= col("b.vec_id"))
            .select(col("a.qid"), col("b.vec_id").as("did"),
              cosine_similarity(col("a.q_emb"), col("b.embedding")).as("cos")),
          "qid", "cos", "did", 20, rank = "r_cos", asLong = false)
        .select(col("qid"), col("did"), col("r_cos"))
      Ranking.rrfFuse(bmTop, cosTop, "qid", 5)
    },
    Some(s"""WITH toks AS (
            |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok
            |  FROM documents),
            |tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY 1, 2),
            |dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
            |stats AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM dl),
            |df AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
            |qterms AS (SELECT doc_id AS qid, tok FROM tf WHERE doc_id < 5),
            |bm AS (
            |  SELECT qid, t.doc_id AS did,
            |    round(CAST(sum(
            |      ln((n - df + 0.5) / (df + 0.5) + 1.0)
            |        * t.tf / (t.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))
            |    ) AS FLOAT), 4) AS s_bm25
            |  FROM qterms q JOIN tf t USING (tok)
            |    JOIN df USING (tok) JOIN dl ON t.doc_id = dl.doc_id, stats
            |  WHERE t.doc_id <> qid
            |  GROUP BY qid, t.doc_id),
            |bm_top AS (
            |  SELECT qid, did, r_bm25 FROM (
            |    SELECT qid, did, row_number() OVER (PARTITION BY qid
            |      ORDER BY s_bm25 DESC, did) AS r_bm25 FROM bm)
            |  WHERE r_bm25 <= 20),
            |emb AS (
            |  SELECT vec_id, embedding FROM embeddings
            |  JOIN (SELECT doc_id FROM documents) ON vec_id = doc_id),
            |cos_top AS (
            |  SELECT qid, did, r_cos FROM (
            |    SELECT a.vec_id AS qid, b.vec_id AS did,
            |      row_number() OVER (PARTITION BY a.vec_id
            |        ORDER BY ${cosSql("a.embedding", "b.embedding")} DESC,
            |          b.vec_id) AS r_cos
            |    FROM emb a JOIN emb b ON a.vec_id < 5 AND a.vec_id <> b.vec_id)
            |  WHERE r_cos <= 20),
            |fused AS (
            |  SELECT coalesce(b.qid, c.qid) AS query_id,
            |    coalesce(b.did, c.did) AS doc_id,
            |    round(coalesce(1.0 / (r_bm25 + 60), 0.0)
            |      + coalesce(1.0 / (r_cos + 60), 0.0), 6) AS rrf
            |  FROM bm_top b FULL OUTER JOIN cos_top c
            |    ON b.qid = c.qid AND b.did = c.did)
            |SELECT query_id, rank, doc_id, rrf FROM (
            |  SELECT query_id, doc_id, rrf,
            |    CAST(row_number() OVER (PARTITION BY query_id
            |      ORDER BY rrf DESC, doc_id) AS BIGINT) AS rank
            |  FROM fused)
            |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin))

  /** The filtered gates' allowed-id set: documents of sources src0–4. */
  private def keepIds(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .filter(col("source")
        .isin("src0", "src1", "src2", "src3", "src4"))
      .select(col("doc_id").as("vec_id"))

  /** The filtered recall gates' exact side: e01's top 3 over the
    * corpus restricted to [[keepIds]].
    */
  private def filteredExact3(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
    knnOf(e.join(keepIds(s, d), Seq("vec_id"), "left_semi"),
      e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("q_emb")),
      3)
  }

  /** Oracle of a filtered recall gate: the filtered search's full
    * oracle as CTE `<name>_full`, its top 3 (ranked by `rank`, ids
    * projected by `ids`) against the exact top 3 over the keep-set.
    */
  private def filteredRecallSql(name: String, fullSql: String, rank: String,
                                ids: String): String =
    s"""WITH ${name}_full AS ($fullSql),
       |keep AS (
       |  SELECT doc_id AS vec_id FROM documents
       |  WHERE source IN ('src0', 'src1', 'src2', 'src3', 'src4')),
       |fscored AS (
       |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
       |    ${cosSql("a.embedding", "b.embedding")} AS cos
       |  FROM embeddings a JOIN embeddings b
       |    ON a.vec_id < 5 AND a.vec_id <> b.vec_id
       |  JOIN keep k ON b.vec_id = k.vec_id),
       |${Ranking.top3CteSql("e", "fscored", "cos DESC")},
       |i AS (SELECT query_id, $ids FROM ${name}_full WHERE $rank <= 3)
       |${Ranking.recallSql("i", "e")}""".stripMargin

  /** e24: FILTERED vector search — ANN with a metadata predicate, the
    * shape every production vector store ships ("nearest neighbors
    * WHERE source IN (...)"): the IVF index is built ONCE over the full
    * corpus (rebuilding per predicate would be absurd), and the filter
    * applies at SEARCH time as a semi-join against the allowed-id set
    * before in-cell ranking — so a query pays the same 2-probe cell
    * scan, just over fewer candidates. Routed through
    * [[graft.api.Graft.IvfIndex.searchWhere]]. At 100 TB the keep-set
    * is a broadcast semi-join (or a pre-joined boolean column on the
    * index when the predicate is hot); candidate count only shrinks,
    * never grows. Fewer than k survivors in the probed cells yields
    * fewer than k rows — the honest filtered-ANN semantic (a fallback
    * widen-probe is a serving-layer policy, not an index property).
    */
  val e24FilteredIvf = QueryDef(
    "e24_filtered_ivf",
    (s, d) => {
      val e = Tables.embeddings(s, d)
      graft.api.Graft.annIndex(e)
        .searchWhere(e.filter(col("vec_id") < 5), keepIds(s, d))
    },
    Some(
      s"""WITH $centArrSql,
         |${ivfSearchSql("cent_arr", "ASC",
        " JOIN documents d ON d.doc_id = b.vec_id AND d.source IN " +
          "('src0', 'src1', 'src2', 'src3', 'src4')")}""".stripMargin))

  /** recall@3 of FILTERED IVF search (e24) against the filtered exact
    * ground truth — e10's composition pattern applied to the filtered
    * family. The ground truth for a predicate-constrained search is
    * the exact top-3 over the PREDICATE-PASSING corpus (post-filter
    * exactness), not the unfiltered top-3: a filtered index should be
    * judged on what it was allowed to return.
    */
  val e25AnnRecallFiltered = QueryDef(
    "e25_ann_recall_filtered",
    (s, d) => recallOfTop3(e24FilteredIvf.fn(s, d), "rank", "neighbor_id",
      filteredExact3(s, d)),
    Some(filteredRecallSql("fivf", e24FilteredIvf.oracle.get, "rank",
      "neighbor_id")))

  /** ANN index maintenance — append WITHOUT retraining: the IVF index
    * is trained on a snapshot (here vec_id % 5 ≠ 0), then the arrivals
    * (vec_id % 5 = 0) are assigned into the EXISTING cells in one
    * broadcast pass ([[graft.api.Graft.IvfIndex.append]]) and searched
    * alongside the original corpus — the index-freshness operation a
    * production vector store runs between periodic re-trains (training
    * is the expensive global step; assignment is an embarrassingly
    * parallel scan). Appended vectors land in their honest nearest
    * trained cell, so correctness never degrades — only cell BALANCE
    * drifts as the live distribution departs the training snapshot,
    * which is exactly the production trade-off this operator makes.
    * At 100 TB: centroids broadcast, the append touches only the new
    * rows, the stored corpus is never rescanned. The streaming
    * analogue ([[graft.streaming.EmbStreams.ivfAppend]]) assigns each
    * micro-batch with the same shared kernel.
    *
    * Oracle: e05's shared centroid/search CTEs with the training CTE
    * restricted to the snapshot — assignment is centroid-pure, so
    * assigning base and arrivals separately (gate) equals assigning
    * everything at once (oracle).
    */
  val e26IvfAppend = QueryDef(
    "e26_ivf_append",
    (s, d) => {
      val e = Tables.embeddings(s, d)
      graft.api.Graft.annIndex(e.filter(col("vec_id") % 5 =!= 0))
        .append(e.filter(col("vec_id") % 5 === 0))
        .search(e.filter(col("vec_id") < 5), probes = 2, k = 3)
    },
    Some(
      s"""WITH ${centArrSqlOver("WHERE vec_id % 5 <> 0")},
         |${ivfSearchSql("cent_arr", "ASC")}""".stripMargin))

  /** PQ index maintenance — e26's contract for the compressed family:
    * codebooks trained on a snapshot (vec_id % 7 ≠ 0; the split avoids
    * % 5, which would empty the every-125th init) stay FROZEN; the
    * arrivals (vec_id % 7 = 0) are encoded against them in one linear
    * pass ([[graft.api.Graft.PqIndex.append]] — training, the
    * two-Lloyd-job global step, never re-runs) and the merged 4-byte
    * code table is ADC-searched as one. Appended vectors get their
    * honest nearest FROZEN centroids per subspace, so quantization
    * error only grows as the live distribution drifts from the
    * training snapshot — the re-train trigger a production PQ store
    * watches. Oracle: the shared Lloyd replay with its training CTEs
    * restricted to the snapshot — encoding is codebook-pure, so
    * train-then-append must equal encode-all-at-once exactly.
    */
  val e27PqAppend = QueryDef(
    "e27_pq_append",
    (s, d) => {
      val e = Tables.embeddings(s, d)
      graft.api.Graft.pqIndex(e.filter(col("vec_id") % 7 =!= 0))
        .append(e.filter(col("vec_id") % 7 === 0))
        .search(e.filter(col("vec_id") < 5), k = 3)
    },
    Some(pqSql(topM = 3, trainPred = Some("vec_id % 7 <> 0"))))

  /** The RE-TRAIN TRIGGER e26/e27 watch, as an operator: assign an
    * arrival `sample` to the index's pulled centroid snapshot (the
    * shared [[assignCellsPulled]] projection) and compare per-cell
    * occupancy shares against the stored corpus. All-integer output —
    * counts plus parts-per-million shares via integer division — so
    * the report is bit-exact cross-engine with no float rounding
    * protocol at all.
    * One row per trained cell: (cell, n_base, n_new, ppm_base,
    * ppm_new, drift_ppm = |ppm_base − ppm_new|); summing drift_ppm/2
    * gives the total-variation distance in ppm, but the per-cell rows
    * also name WHICH cells drifted (the skew that degrades probe
    * latency). At 100 TB: two map-side-combinable counts + a
    * cells-sized join; the sample never meets the corpus rows.
    * Precondition: `sample` is non-empty (shares of nothing are
    * undefined).
    */
  private[graft] def cellDrift(assigned: DataFrame,
                               pulled: Seq[(Int, Array[Float])],
                               sample: DataFrame): DataFrame = {
    val spark = sample.sparkSession
    import spark.implicits._
    // Option keeps the report's `cell` nullable, as it has always been
    cellDriftFromCounts(assigned, pulled.map(p => Option(p._1)).toDF("cell"),
      assignCellsPulled(sample, pulled)
        .groupBy(col("cell")).agg(count(lit(1)).as("n_new")))
  }

  /** [[cellDrift]] with the sample's per-cell counts already in hand —
    * the seam the STREAMING monitor shares
    * ([[graft.streaming.EmbStreams.driftMonitor]] maintains running
    * arrival counts as streaming state and reports through this exact
    * code each trigger, so stream and batch reports cannot drift).
    * `cells`: one `cell` row per trained cell; `newCounts`:
    * (cell, n_new).
    */
  private[graft] def cellDriftFromCounts(assigned: DataFrame,
                                         cells: DataFrame,
                                         newCounts: DataFrame): DataFrame = {
    val base = assigned.groupBy(col("cell")).agg(count(lit(1)).as("n_base"))
    val joined = cells
      .join(base, Seq("cell"), "left")
      .join(newCounts, Seq("cell"), "left")
      .na.fill(0L, Seq("n_base", "n_new"))
    val totals = joined.agg(sum(col("n_base")).as("t_base"),
      sum(col("n_new")).as("t_new"))
    // loud failure on the documented precondition: an empty base or
    // sample would otherwise emit null ppm columns that a monitoring
    // consumer comparing drift_ppm to a threshold silently ignores.
    // The guard lives INSIDE the ppm expressions (not a droppable
    // assert column), so column pruning cannot optimize it away.
    joined.crossJoin(broadcast(totals))
      .select(col("cell"), col("n_base"), col("n_new"),
        expr("(n_base * 1000000) div coalesce(nullif(t_base, 0), " +
          "raise_error('cellDrift: empty base corpus'))").as("ppm_base"),
        expr("(n_new * 1000000) div coalesce(nullif(t_new, 0), " +
          "raise_error('cellDrift: empty arrival sample'))").as("ppm_new"))
      .withColumn("drift_ppm", abs(col("ppm_base") - col("ppm_new")))
  }

  /** [[cellDrift]]'s contract for the COMPRESSED family — the re-train
    * trigger a frozen-codebook PQ store actually watches: encode the
    * arrival `sample` against the frozen `codebooks` (the shared
    * [[pqEncode]] kernel — drift monitoring cannot diverge from what
    * append stores) and compare per-(subspace, code) occupancy shares
    * against the stored code table. Quantization error under frozen
    * codebooks grows exactly as live code usage drifts from the
    * training distribution, and the per-subspace rows name WHICH
    * subspace degraded. All-integer output (e28's ppm protocol — no
    * float rounding protocol at all): one row per (m, code) of the
    * codebook grid, ppm shares normalized PER SUBSPACE (each vector
    * contributes one code to every subspace, so each subspace's total
    * is the corpus size). At 100 TB: two map-side-combinable unpivoted
    * counts over 4-byte codes + a grid-sized join; the sample never
    * meets the stored rows. Precondition: non-empty base and sample.
    */
  private[graft] def pqCodeDrift(codes: DataFrame,
                                 codebooks: Array[Array[Array[Double]]],
                                 sample: DataFrame): DataFrame =
    pqCodeDriftFromCounts(codes, codebooks,
      pqCodeUnpivot(pqEncode(sample, codebooks), codebooks.length)
        .groupBy(col("m"), col("code")).agg(count(lit(1)).as("n_new")))

  /** (m, code) unpivot of a code table — one row per (vector,
    * subspace). Shared by [[pqCodeDrift]]'s both sides and the
    * streaming monitor's count projection.
    */
  private[graft] def pqCodeUnpivot(c: DataFrame, m: Int): DataFrame =
    c.select(expr(
      s"stack($m, ${(0 until m)
        .map(mi => s"$mi, code_$mi").mkString(", ")}) AS (m, code)"))

  /** [[pqCodeDrift]] with the sample's per-(subspace, code) counts
    * already in hand — the seam the STREAMING monitor shares
    * ([[graft.streaming.EmbStreams.pqDriftMonitor]] maintains running
    * arrival counts as streaming state and reports through this exact
    * code each trigger). `newCounts`: (m, code, n_new).
    */
  private[graft] def pqCodeDriftFromCounts(codes: DataFrame,
                                           codebooks: Array[Array[Array[Double]]],
                                           newCounts: DataFrame): DataFrame = {
    val m = codebooks.length
    val k = codebooks(0).length
    val spark = codes.sparkSession
    import spark.implicits._
    val base = pqCodeUnpivot(codes, m)
      .groupBy(col("m"), col("code")).agg(count(lit(1)).as("n_base"))
    val nw = newCounts
    val grid = (for { mi <- 0 until m; c <- 0 until k } yield (mi, c))
      .toDF("m", "code")
    val joined = grid
      .join(base, Seq("m", "code"), "left")
      .join(nw, Seq("m", "code"), "left")
      .na.fill(0L, Seq("n_base", "n_new"))
    // per-subspace totals (all equal to the corpus/sample sizes, but
    // computed per m so the shape generalizes to ragged codebooks)
    val totals = joined.groupBy(col("m"))
      .agg(sum(col("n_base")).as("t_base"), sum(col("n_new")).as("t_new"))
    joined.join(broadcast(totals), Seq("m"))
      .select(col("m"), col("code"), col("n_base"), col("n_new"),
        expr("(n_base * 1000000) div coalesce(nullif(t_base, 0), " +
          "raise_error('pqCodeDrift: empty base corpus'))").as("ppm_base"),
        expr("(n_new * 1000000) div coalesce(nullif(t_new, 0), " +
          "raise_error('pqCodeDrift: empty arrival sample'))").as("ppm_new"))
      .withColumn("drift_ppm", abs(col("ppm_base") - col("ppm_new")))
  }

  /** Index drift report gate — e26's split monitored: the snapshot
    * index (vec_id % 5 ≠ 0) vs the arrival sample (vec_id % 5 = 0).
    * Oracle: the shared assign CTE over everything, split by the same
    * predicate into base/new per-cell counts, ppm via DuckDB's `//`
    * (both engines floor positive integer division identically).
    */
  val e28IndexDrift = QueryDef(
    "e28_index_drift",
    (s, d) => {
      val e = Tables.embeddings(s, d)
      graft.api.Graft.annIndex(e.filter(col("vec_id") % 5 =!= 0))
        .drift(e.filter(col("vec_id") % 5 === 0))
        .orderBy(col("cell"))
    },
    Some(
      s"""WITH ${centArrSqlOver("WHERE vec_id % 5 <> 0")},
         |${ivfAssignSql("cent_arr")},
         |base AS (
         |  SELECT cell, count(*) AS n_base FROM assign
         |  WHERE vec_id % 5 <> 0 GROUP BY cell),
         |nw AS (
         |  SELECT cell, count(*) AS n_new FROM assign
         |  WHERE vec_id % 5 = 0 GROUP BY cell),
         |tot AS (
         |  SELECT (SELECT count(*) FROM embeddings WHERE vec_id % 5 <> 0) AS t_base,
         |         (SELECT count(*) FROM embeddings WHERE vec_id % 5 = 0) AS t_new),
         |rep AS (
         |  SELECT c.cell,
         |    coalesce(b.n_base, 0) AS n_base, coalesce(n.n_new, 0) AS n_new,
         |    (coalesce(b.n_base, 0) * 1000000) // t.t_base AS ppm_base,
         |    (coalesce(n.n_new, 0) * 1000000) // t.t_new AS ppm_new
         |  FROM cent_arr c LEFT JOIN base b USING (cell)
         |    LEFT JOIN nw n USING (cell) CROSS JOIN tot t)
         |SELECT cell, n_base, n_new, ppm_base, ppm_new,
         |  abs(ppm_base - ppm_new) AS drift_ppm
         |FROM rep ORDER BY cell""".stripMargin))

  /** IVF-PQ append — the third index family under e26's contract:
    * coarse centroids AND residual codebooks trained on the snapshot
    * (vec_id % 7 ≠ 0) stay frozen; arrivals are assigned to their
    * nearest frozen cell, their residuals encoded against the frozen
    * codebooks in one linear pass ([[graft.api.Graft.IvfPqIndex
    * .append]], sharing [[ivfPqEncode]] with the build so append-time
    * encoding cannot drift), and the merged code table is ADC-searched
    * as one. Oracle: the shared IVF-PQ replay with coarse training,
    * residual init, and both Lloyd iterations restricted to the
    * snapshot — encoding is pure in (centroids, codebooks), so
    * train-then-append must equal encode-all-at-once exactly.
    */
  val e29IvfPqAppend = QueryDef(
    "e29_ivfpq_append",
    (s, d) => {
      val e = Tables.embeddings(s, d)
      graft.api.Graft.ivfPqIndex(e.filter(col("vec_id") % 7 =!= 0))
        .append(e.filter(col("vec_id") % 7 === 0))
        .search(e.filter(col("vec_id") < 5))
    },
    Some(ivfPqSql(trainPred = Some("vec_id % 7 <> 0"))))

  /** DURABLE lifecycle gate — e27 with a JVM-restart seam in the
    * middle: train the PQ index on the snapshot (vec_id % 7 ≠ 0),
    * [[graft.api.Graft.PqIndex.save]] the frozen artifacts to disk,
    * reopen a FRESH handle with [[graft.api.Graft.loadPqIndex]] (no
    * retraining — the handle under test shares nothing in-memory with
    * the trained one), append the arrivals against the loaded frozen
    * codebooks, and search. Oracle: e27's byte-identical SQL — the
    * round-trip is correct iff it is LOSSLESS (one ulp lost on a
    * codebook double or one flipped code flips the hash), which is
    * exactly the property parquet guarantees for every stored type.
    * At 100 TB the save is one partitioned write; the load is
    * metadata-only until the search action runs.
    */
  val e30IndexPersistence = QueryDef(
    "e30_index_persistence",
    (s, d) => {
      val e = Tables.embeddings(s, d)
      val dir = java.nio.file.Files
        .createTempDirectory("graft_e30_pq").toString
      graft.api.Graft.pqIndex(e.filter(col("vec_id") % 7 =!= 0)).save(dir)
      graft.api.Graft.loadPqIndex(s, dir)
        .append(e.filter(col("vec_id") % 7 === 0))
        .search(e.filter(col("vec_id") < 5), k = 3)
    },
    Some(pqSql(topM = 3, trainPred = Some("vec_id % 7 <> 0"))))

  /** Durable-append gate — e30's restart seam EXTENDED through the
    * WRITE path: train on the snapshot, save, reopen a fresh handle,
    * append the arrivals INTO the saved layout
    * ([[graft.api.Graft.PqIndex.appendDurable]] — parquet append, the
    * stored rows are never rewritten), then search through a SECOND
    * completely fresh handle that shares nothing in-memory with
    * either predecessor. Oracle: e27's byte-identical SQL — durable
    * append is correct iff the on-disk union equals
    * encode-all-at-once, which holds exactly because encoding is pure
    * in the frozen codebooks and parquet append is lossless.
    */
  val e33DurableAppend = QueryDef(
    "e33_durable_append",
    (s, d) => {
      val e = Tables.embeddings(s, d)
      val dir = java.nio.file.Files
        .createTempDirectory("graft_e33_pq").toString
      graft.api.Graft.pqIndex(e.filter(col("vec_id") % 7 =!= 0)).save(dir)
      graft.api.Graft.loadPqIndex(s, dir)
        .appendDurable(dir, e.filter(col("vec_id") % 7 === 0))
      graft.api.Graft.loadPqIndex(s, dir)
        .search(e.filter(col("vec_id") < 5), k = 3)
    },
    Some(pqSql(topM = 3, trainPred = Some("vec_id % 7 <> 0"))))

  /** PQ code-occupancy drift gate — e28's monitoring contract for the
    * compressed family, on e27's split: codebooks train on the
    * snapshot (vec_id % 7 ≠ 0), the arrivals (% 7 = 0) are encoded
    * against the frozen codebooks, and per-(subspace, code) occupancy
    * shares are compared in ppm. Oracle: the shared Lloyd-replay
    * encoding CTEs ([[pqEncCtes]] — the exact text inside e09/e27/e30's
    * oracles), unpivoted and split by the same predicate, with DuckDB's
    * `//` integer division (both engines floor positive division
    * identically — the e28 all-integer protocol).
    */
  val e31PqCodeDrift = QueryDef(
    "e31_pq_code_drift",
    (s, d) => {
      val e = Tables.embeddings(s, d)
      graft.api.Graft.pqIndex(e.filter(col("vec_id") % 7 =!= 0))
        .drift(e.filter(col("vec_id") % 7 === 0))
        .orderBy(col("m"), col("code"))
    },
    Some(
      s"""WITH ${pqEncCtes(trainPred = Some("vec_id % 7 <> 0"))},
         |unp AS (
         |  SELECT 0 AS m, code0 AS code, vec_id FROM enc
         |  UNION ALL SELECT 1, code1, vec_id FROM enc
         |  UNION ALL SELECT 2, code2, vec_id FROM enc
         |  UNION ALL SELECT 3, code3, vec_id FROM enc),
         |grid AS (
         |  -- the trained codebook grid itself (k per subspace is the
         |  -- init-pick count, which the snapshot size determines)
         |  SELECT 0 AS m, k AS code FROM pq2_m0
         |  UNION ALL SELECT 1, k FROM pq2_m1
         |  UNION ALL SELECT 2, k FROM pq2_m2
         |  UNION ALL SELECT 3, k FROM pq2_m3),
         |base AS (
         |  SELECT m, code, count(*) AS n_base FROM unp
         |  WHERE vec_id % 7 <> 0 GROUP BY m, code),
         |nw AS (
         |  SELECT m, code, count(*) AS n_new FROM unp
         |  WHERE vec_id % 7 = 0 GROUP BY m, code),
         |tot AS (
         |  SELECT (SELECT count(*) FROM embeddings WHERE vec_id % 7 <> 0) AS t_base,
         |         (SELECT count(*) FROM embeddings WHERE vec_id % 7 = 0) AS t_new),
         |rep AS (
         |  SELECT g.m, g.code,
         |    coalesce(b.n_base, 0) AS n_base, coalesce(n.n_new, 0) AS n_new,
         |    (coalesce(b.n_base, 0) * 1000000) // t.t_base AS ppm_base,
         |    (coalesce(n.n_new, 0) * 1000000) // t.t_new AS ppm_new
         |  FROM grid g LEFT JOIN base b USING (m, code)
         |    LEFT JOIN nw n USING (m, code) CROSS JOIN tot t)
         |SELECT m, code, n_base, n_new, ppm_base, ppm_new,
         |  abs(ppm_base - ppm_new) AS drift_ppm
         |FROM rep ORDER BY m, code""".stripMargin))

  /** IVF-PQ RESIDUAL-code drift gate — the composite family's second
    * drift axis (e32 watches the coarse cells; this watches the
    * residual code usage the frozen codebooks quantize): the arrival
    * sample encodes through the shared [[ivfPqEncode]] kernel (cell
    * assign → residual → per-subspace argmin — exactly what
    * [[graft.api.Graft.IvfPqIndex.append]] stores) and per-(subspace,
    * code) occupancy shares compare in ppm against the stored
    * composite code table, through the exact e31-gated
    * [[pqCodeDriftFromCounts]] seam. Oracle: the shared composite
    * replay ([[ivfPqEncCtes]] — the text inside e18/e19/e29's
    * oracles), unpivoted and split by the e29 predicate, grid from
    * the trained residual-codebook CTEs.
    */
  val e34IvfPqResidualDrift = QueryDef(
    "e34_ivfpq_residual_drift",
    (s, d) => {
      val e = Tables.embeddings(s, d)
      graft.api.Graft.ivfPqIndex(e.filter(col("vec_id") % 7 =!= 0))
        .residualDrift(e.filter(col("vec_id") % 7 === 0))
        .orderBy(col("m"), col("code"))
    },
    Some(
      s"""WITH ${ivfPqEncCtes(trainPred = Some("vec_id % 7 <> 0"))},
         |unp AS (
         |  SELECT 0 AS m, code0 AS code, vec_id FROM enc
         |  UNION ALL SELECT 1, code1, vec_id FROM enc
         |  UNION ALL SELECT 2, code2, vec_id FROM enc
         |  UNION ALL SELECT 3, code3, vec_id FROM enc),
         |grid AS (
         |  SELECT 0 AS m, k AS code FROM rq2_m0
         |  UNION ALL SELECT 1, k FROM rq2_m1
         |  UNION ALL SELECT 2, k FROM rq2_m2
         |  UNION ALL SELECT 3, k FROM rq2_m3),
         |base AS (
         |  SELECT m, code, count(*) AS n_base FROM unp
         |  WHERE vec_id % 7 <> 0 GROUP BY m, code),
         |nw AS (
         |  SELECT m, code, count(*) AS n_new FROM unp
         |  WHERE vec_id % 7 = 0 GROUP BY m, code),
         |tot AS (
         |  SELECT (SELECT count(*) FROM embeddings WHERE vec_id % 7 <> 0) AS t_base,
         |         (SELECT count(*) FROM embeddings WHERE vec_id % 7 = 0) AS t_new),
         |rep AS (
         |  SELECT g.m, g.code,
         |    coalesce(b.n_base, 0) AS n_base, coalesce(n.n_new, 0) AS n_new,
         |    (coalesce(b.n_base, 0) * 1000000) // t.t_base AS ppm_base,
         |    (coalesce(n.n_new, 0) * 1000000) // t.t_new AS ppm_new
         |  FROM grid g LEFT JOIN base b USING (m, code)
         |    LEFT JOIN nw n USING (m, code) CROSS JOIN tot t)
         |SELECT m, code, n_base, n_new, ppm_base, ppm_new,
         |  abs(ppm_base - ppm_new) AS drift_ppm
         |FROM rep ORDER BY m, code""".stripMargin))

  /** Append-epoch AUDIT gate — the durable store's bookkeeping axis:
    * run a full save → durable-append → compact lifecycle on an IVF
    * index (e26's % 5 split) and read back the
    * [[graft.sources.IndexStore]] epoch log. The deterministic
    * projection (seq, op, n_rows) is gated — `n_rows` is counted FROM
    * THE WRITTEN FILES, so the gate proves the audit records what
    * actually landed: the save's total is the snapshot count, the
    * append's DELTA is the arrival count, the compact's total is the
    * whole corpus — all three derivable by DuckDB from the source
    * table alone (timestamps are wall-clock and excluded). At 100 TB
    * every count is a parquet-footer metadata read.
    */
  val e35IndexEpochs = QueryDef(
    "e35_index_epochs",
    (s, d) => {
      val e = Tables.embeddings(s, d)
      val dir = java.nio.file.Files
        .createTempDirectory("graft_e35_ivf").toString
      graft.api.Graft.annIndex(e.filter(col("vec_id") % 5 =!= 0)).save(dir)
      graft.api.Graft.loadAnnIndex(s, dir)
        .appendDurable(dir, e.filter(col("vec_id") % 5 === 0))
      graft.api.Graft.compactIndex(s, dir)
      graft.api.Graft.indexEpochs(s, dir)
        .select(col("seq"), col("op"), col("n_rows"))
        .orderBy(col("seq"))
    },
    Some(
      """SELECT seq, op, n_rows FROM (
        |  SELECT 1 AS seq, 'save' AS op,
        |    (SELECT count(*) FROM embeddings WHERE vec_id % 5 <> 0) AS n_rows
        |  UNION ALL SELECT 2, 'append',
        |    (SELECT count(*) FROM embeddings WHERE vec_id % 5 = 0)
        |  UNION ALL SELECT 3, 'compact',
        |    (SELECT count(*) FROM embeddings)
        |) ORDER BY seq""".stripMargin))

  /** Parallel shard-build gate — the distributed index-construction
    * pattern at 100 TB: train the artifacts ONCE on a snapshot
    * (vec_id % 5 ≠ 0), export the arrivals as TWO independent shard
    * directories ([[graft.api.Graft.IvfIndex.shard]] — each encodes
    * its slice with the frozen centroids, the exact e26 append
    * kernel, and writes a self-contained index dir: no write
    * contention between shard jobs), then fold both into the serving
    * directory with [[graft.api.Graft.mergeIndex]] — file RENAMES,
    * value-checked artifacts — and search through a fresh handle.
    * Assignment is centroid-pure and merge moves files verbatim, so
    * shard-and-merge must equal assign-all-at-once exactly: the
    * oracle is e26's text, byte-identical.
    */
  val e36ShardMerge = QueryDef(
    "e36_shard_merge",
    (s, d) => {
      val e = Tables.embeddings(s, d)
      val root = java.nio.file.Files
        .createTempDirectory("graft_e36_shards").toString
      val idx = graft.api.Graft.annIndex(e.filter(col("vec_id") % 5 =!= 0))
      idx.save(s"$root/main")
      idx.shard(s"$root/s1",
        e.filter(col("vec_id") % 5 === 0 && col("vec_id") % 2 === 0))
      idx.shard(s"$root/s2",
        e.filter(col("vec_id") % 5 === 0 && col("vec_id") % 2 === 1))
      graft.api.Graft.mergeIndex(s, s"$root/main", s"$root/s1")
      graft.api.Graft.mergeIndex(s, s"$root/main", s"$root/s2")
      graft.api.Graft.loadAnnIndex(s, s"$root/main")
        .search(e.filter(col("vec_id") < 5), probes = 2, k = 3)
    },
    Some(
      s"""WITH ${centArrSqlOver("WHERE vec_id % 5 <> 0")},
         |${ivfSearchSql("cent_arr", "ASC")}""".stripMargin))

  /** Index DELETE gate — the lifecycle's REMOVE path: build + save the
    * IVF index over the whole corpus, tombstone every vec_id % 11 = 3
    * ([[graft.api.Graft.deleteFromIndex]] — one small parquet append,
    * the stored rows never touched), and search through a FRESH loaded
    * handle. The load's broadcast anti-join must make the deleted
    * vectors unreachable as neighbors while leaving everything else —
    * centroids, assignment, ranking — bit-identical, so the oracle is
    * e05's exact text with only the candidate predicate injected
    * (queries still include a deleted id: deleting a vector revokes it
    * as a NEIGHBOR, not as a query).
    */
  val e45IndexDelete = QueryDef(
    "e45_index_delete",
    (s, d) => {
      val e = Tables.embeddings(s, d)
      val dir = java.nio.file.Files
        .createTempDirectory("graft_e45_ivf").toString
      graft.api.Graft.annIndex(e).save(dir)
      graft.api.Graft.deleteFromIndex(s, dir,
        e.filter(col("vec_id") % 11 === 3).select(col("vec_id")))
      graft.api.Graft.loadAnnIndex(s, dir)
        .search(e.filter(col("vec_id") < 5), probes = 2, k = 3)
    },
    Some(
      s"""WITH $centArrSql,
         |${ivfSearchSql("cent_arr", "ASC",
        scoredExtra = " AND b.vec_id % 11 <> 3")}""".stripMargin))

  /** Delete-then-COMPACT gate — e45 with the tombstones APPLIED: after
    * [[graft.api.Graft.compactIndex]] the deleted rows are physically
    * rewritten out of the cell-partitioned table and the tombstone
    * side table is cleared, so the same search answer must now come
    * from the data files alone (same oracle text as e45 — the delete
    * surviving compaction IS the gated property; IndexStoreSpec
    * additionally proves the tombstone table is gone and re-ingest
    * becomes visible).
    */
  val e46DeleteCompact = QueryDef(
    "e46_delete_compact",
    (s, d) => {
      val e = Tables.embeddings(s, d)
      val dir = java.nio.file.Files
        .createTempDirectory("graft_e46_ivf").toString
      graft.api.Graft.annIndex(e).save(dir)
      graft.api.Graft.deleteFromIndex(s, dir,
        e.filter(col("vec_id") % 11 === 3).select(col("vec_id")))
      graft.api.Graft.compactIndex(s, dir)
      graft.api.Graft.loadAnnIndex(s, dir)
        .search(e.filter(col("vec_id") < 5), probes = 2, k = 3)
    },
    Some(
      s"""WITH $centArrSql,
         |${ivfSearchSql("cent_arr", "ASC",
        scoredExtra = " AND b.vec_id % 11 <> 3")}""".stripMargin))

  /** DRIFT-TRIGGERED RETRAIN gate — the monitor → action closure: an
    * IVF index trained on the snapshot (vec_id % 7 ≠ 0) receives the
    * arrivals (% 7 = 0) through
    * [[graft.api.Graft.IvfIndex.retrainIf]] with a forcing threshold,
    * so the coarse centroids RETRAIN on stored ∪ arrivals via the
    * warm-started Lloyd step (labels := serving cells under the OLD
    * centroids) and everything re-cells. The oracle replays the whole
    * loop: old centroids from the snapshot (e05's shared CTE text),
    * the union assigned under them (the shared assign text), per-cell
    * float-cast means as the NEW centroids, then the e05 search tail
    * against those — so the gate pins training, re-assignment, and
    * search of the retrained index cross-engine. The no-op side (at
    * or below threshold returns `this` unchanged) is spec-pinned
    * (GraftApiSpec).
    */
  val e47IvfRetrain = QueryDef(
    "e47_ivf_retrain",
    (s, d) => {
      val e = Tables.embeddings(s, d)
      graft.api.Graft.annIndex(e.filter(col("vec_id") % 7 =!= 0))
        .retrainIf(e.filter(col("vec_id") % 7 === 0), maxDriftPpm = -1L)
        .search(e.filter(col("vec_id") < 5), probes = 2, k = 3)
    },
    Some(
      s"""WITH ${centArrSqlOver("WHERE vec_id % 7 <> 0")},
         |assign0 AS (
         |  SELECT vec_id, embedding, cell FROM (
         |    SELECT e.vec_id, e.embedding, c.cell,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${cosSql("e.embedding", "c.centroid")} DESC, c.cell) AS rn
         |    FROM embeddings e CROSS JOIN cent_arr c)
         |  WHERE rn = 1),
         |cent2 AS (
         |  SELECT a.cell, i,
         |    CAST(sum(CAST(a.embedding[i] AS DOUBLE)) / count(*) AS FLOAT) AS c
         |  FROM assign0 a, LATERAL unnest(generate_series(1, 64)) t(i)
         |  GROUP BY a.cell, i),
         |cent2_arr AS (
         |  SELECT cell, list(c ORDER BY i) AS centroid FROM cent2 GROUP BY cell),
         |${ivfSearchSql("cent2_arr", "ASC")}""".stripMargin))

  /** Durable BM25 store gate — e30's restart seam for LEXICAL
    * retrieval: build the postings/doclen/df artifacts over the whole
    * corpus, save as store kind `bm25`, reopen a FRESH handle, and
    * rank the five query docs' text through the shared
    * [[bm25Rank]] kernel (self included — a stored doc queried with
    * its own text legitimately tops its own list). Oracle: e22's
    * lexical CTEs verbatim minus the self-exclusion, rank ≤ 5 — the
    * round-trip is correct iff lossless (Long tfs, Long dls, Long
    * dfs — parquet-exact), and the scoring carries the float-cast
    * 4dp protocol that already gates e22. The score column is
    * deliberately NOT in the gate projection: ranks pin it through
    * the deterministic tie-break.
    */
  val e48Bm25Store = QueryDef(
    "e48_bm25_store",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val dir = java.nio.file.Files
        .createTempDirectory("graft_e48_bm25").toString
      graft.api.Graft.bm25Index(docs).save(dir)
      graft.api.Graft.loadBm25Index(s, dir)
        .searchText(docs.filter(col("doc_id") < 5)
          .select(col("doc_id").as("query_id"), col("text")), k = 5)
        .select(col("query_id"), col("rank"), col("doc_id"))
    },
    Some(
      s"""WITH toks AS (
         |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok
         |  FROM documents),
         |tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY 1, 2),
         |dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
         |stats AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM dl),
         |df AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
         |qterms AS (SELECT doc_id AS qid, tok FROM tf WHERE doc_id < 5),
         |bm AS (
         |  SELECT qid, t.doc_id AS did,
         |    round(CAST(sum(
         |      ln((n - df + 0.5) / (df + 0.5) + 1.0)
         |        * t.tf / (t.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))
         |    ) AS FLOAT), 4) AS s_bm25
         |  FROM qterms q JOIN tf t USING (tok)
         |    JOIN df USING (tok) JOIN dl ON t.doc_id = dl.doc_id, stats
         |  GROUP BY qid, t.doc_id)
         |SELECT query_id, rank, doc_id FROM (
         |  SELECT qid AS query_id, did AS doc_id,
         |    CAST(row_number() OVER (PARTITION BY qid
         |      ORDER BY s_bm25 DESC, did) AS BIGINT) AS rank
         |  FROM bm)
         |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin))

  /** NORMALIZED BM25 store gate — e48 with `denormDl = false`. Since
    * the round-14 default flip (the PARITY round-13 store_mb data
    * settled denormalized-dl as the save default), e48's default save
    * covers the denormalized layout and THIS gate pins the conf-
    * selected write-optimized NORMALIZED one: postings carry no `dl`,
    * search joins `doclen` (the append commit point), and the layout
    * must be invisible to the ranking — same oracle text as e48.
    * (Pre-flip this gate was `e49_bm25_denorm_search`, pinning the
    * then-non-default denorm side; the two gates swapped roles with
    * the default.)
    */
  val e49Bm25NormalizedSearch = QueryDef(
    "e49_bm25_normalized_search",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val dir = java.nio.file.Files
        .createTempDirectory("graft_e49_bm25n").toString
      graft.api.Graft.bm25Index(docs).save(dir, denormDl = false)
      graft.api.Graft.loadBm25Index(s, dir)
        .searchText(docs.filter(col("doc_id") < 5)
          .select(col("doc_id").as("query_id"), col("text")), k = 5)
        .select(col("query_id"), col("rank"), col("doc_id"))
    },
    e48Bm25Store.oracle)

  /** Blue/green publish gate — the retrain lifecycle END-TO-END
    * through the generation pointer: build over the base corpus,
    * save + publish as generation 1, force a retrain over the
    * arrivals ([[graft.api.Graft.IvfIndex.retrainIf]], e47's exact
    * kernel), save + publish as generation 2, then search THROUGH THE
    * RESOLVED CURRENT generation ([[graft.api.Graft
    * .loadCurrentAnnIndex]]). Oracle: e47's full retrain replay —
    * identical text, because the publish seam must be invisible to
    * the search (one rename + one marker; no data transformation).
    */
  val e50PublishedRetrainSearch = QueryDef(
    "e50_published_retrain_search",
    (s, d) => {
      val e = Tables.embeddings(s, d)
      val root = java.nio.file.Files
        .createTempDirectory("graft_e50_gens").toString + "/gens"
      val b1 = java.nio.file.Files
        .createTempDirectory("graft_e50_b1").toString + "/idx"
      graft.api.Graft.annIndex(e.filter(col("vec_id") % 7 =!= 0)).save(b1)
      graft.api.Graft.publishIndex(s, root, b1)
      val b2 = java.nio.file.Files
        .createTempDirectory("graft_e50_b2").toString + "/idx"
      graft.api.Graft.loadCurrentAnnIndex(s, root)
        .retrainIf(e.filter(col("vec_id") % 7 === 0), maxDriftPpm = -1L)
        .save(b2)
      graft.api.Graft.publishIndex(s, root, b2)
      graft.api.Graft.loadCurrentAnnIndex(s, root)
        .search(e.filter(col("vec_id") < 5), probes = 2, k = 3)
    },
    e47IvfRetrain.oracle)

  /** Blue/green publish gate for the LEXICAL kind — e50's seam on the
    * BM25 store: publish a stale index (the even half of the corpus)
    * as generation 1, the full corpus as generation 2, then search
    * THROUGH the resolved current generation
    * ([[graft.api.Graft.loadCurrentBm25Index]]). Oracle: e48's text
    * verbatim — the publish must be invisible to the ranking, and the
    * stale generation 1 must NOT leak (its missing documents and
    * halved dfs would shift the scores, failing the hash compare).
    */
  val e51Bm25PublishedSearch = QueryDef(
    "e51_bm25_published_search",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val root = java.nio.file.Files
        .createTempDirectory("graft_e51_root").toString + "/gens"
      val b1 = java.nio.file.Files
        .createTempDirectory("graft_e51_b1").toString + "/idx"
      graft.api.Graft.bm25Index(docs.filter(col("doc_id") % 2 === 0))
        .save(b1)
      graft.api.Graft.publishIndex(s, root, b1)
      val b2 = java.nio.file.Files
        .createTempDirectory("graft_e51_b2").toString + "/idx"
      graft.api.Graft.bm25Index(docs).save(b2)
      graft.api.Graft.publishIndex(s, root, b2)
      graft.api.Graft.loadCurrentBm25Index(s, root)
        .searchText(docs.filter(col("doc_id") < 5)
          .select(col("doc_id").as("query_id"), col("text")), k = 5)
        .select(col("query_id"), col("rank"), col("doc_id"))
    },
    e48Bm25Store.oracle)

  /** Layout-migration gate — [[graft.api.Graft.rewriteBm25Layout]]
    * replayed in the oracle surface: save the (now conf-selected)
    * NORMALIZED layout explicitly, migrate IN PLACE to
    * denormalized-dl — exactly the upgrade path a pre-flip store
    * takes — reopen, search. Oracle: e48's text verbatim — a layout
    * rewrite that changed any score or rank would fail the hash
    * compare (e48's default save pins denorm-at-save; this pins the
    * migration path, which rewrites stored rows rather than
    * re-deriving them from source text).
    */
  val e52Bm25RewriteSearch = QueryDef(
    "e52_bm25_rewrite_search",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val dir = java.nio.file.Files
        .createTempDirectory("graft_e52_bm25rw").toString
      graft.api.Graft.bm25Index(docs).save(dir, denormDl = false)
      graft.api.Graft.rewriteBm25Layout(s, dir, denormDl = true)
      graft.api.Graft.loadBm25Index(s, dir)
        .searchText(docs.filter(col("doc_id") < 5)
          .select(col("doc_id").as("query_id"), col("text")), k = 5)
        .select(col("query_id"), col("rank"), col("doc_id"))
    },
    e48Bm25Store.oracle)

  /** Crash-REPAIR gate — [[graft.api.Graft.repairIndex]] must restore
    * the exact never-crashed ranking: save the store, inject the
    * crashed-append signature (a duplicate of doc 0's text whose
    * postings landed — store layout, dl and tb included — but whose
    * doclen commit never did; on the denormalized default layout
    * those orphaned rows REALLY score, the silent-corruption case),
    * repair, reopen, search. Oracle: e48's text verbatim — any
    * surviving orphan row, any df or stats drift the heal leaves
    * behind shifts a score and fails the hash compare.
    */
  val e53Bm25RepairSearch = QueryDef(
    "e53_bm25_repair_search",
    (s, d) => {
      import s.implicits._
      val docs = Tables.documents(s, d)
      val dir = java.nio.file.Files
        .createTempDirectory("graft_e53_bm25rp").toString
      graft.api.Graft.bm25Index(docs).save(dir)
      val nb = s.read.parquet(s"$dir/manifest")
        .select(col("n_buckets")).head().getLong(0).toInt
      val doc0 = docs.filter(col("doc_id") === 0)
        .select(col("text")).head().getString(0)
      val crashed = graft.api.Graft.bm25Index(
        Seq((900000000L, doc0)).toDF("doc_id", "text"))
      crashed.postings.join(crashed.doclen, Seq("vec_id"))
        .select(col("vec_id"), col("tok"), col("tf"), col("dl"),
          pmod(hash(col("tok")), lit(nb)).as("tb"))
        .write.mode("append").partitionBy("tb").parquet(s"$dir/postings")
      graft.api.Graft.repairIndex(s, dir)
      graft.api.Graft.loadBm25Index(s, dir)
        .searchText(docs.filter(col("doc_id") < 5)
          .select(col("doc_id").as("query_id"), col("text")), k = 5)
        .select(col("query_id"), col("rank"), col("doc_id"))
    },
    e48Bm25Store.oracle)

  /** Crash-REPAIR gate for the COMPRESSED family — e53's pattern on
    * the PQ store: save the snapshot store, inject `appendPq`'s exact
    * crash signature (the arrivals' raw vectors land in `corpus/`,
    * their code rows never do — stranded vectors silently absent from
    * every ADC shortlist, the missed-result class), repair (which
    * re-encodes the stragglers from the frozen codebooks — a pure
    * function, so healed ≡ a never-crashed [[e33DurableAppend]]),
    * reopen, search. Oracle: e27/e33's byte-identical SQL — any
    * vector the heal leaves stranded, duplicates, or encodes
    * differently shifts a rank and fails the hash compare.
    */
  val e54PqRepairSearch = QueryDef(
    "e54_pq_repair_search",
    (s, d) => {
      val e = Tables.embeddings(s, d)
      val dir = java.nio.file.Files
        .createTempDirectory("graft_e54_pqrp").toString
      graft.api.Graft.pqIndex(e.filter(col("vec_id") % 7 =!= 0)).save(dir)
      e.filter(col("vec_id") % 7 === 0)
        .select(col("vec_id"), col("embedding"))
        .write.mode("append").parquet(s"$dir/corpus")
      graft.api.Graft.repairIndex(s, dir)
      graft.api.Graft.loadPqIndex(s, dir)
        .search(e.filter(col("vec_id") < 5), k = 3)
    },
    Some(pqSql(topM = 3, trainPred = Some("vec_id % 7 <> 0"))))

  /** FILTERED search for the compressed family — e24's contract on
    * the PQ index: the code table stays as built; `keepIds` restricts
    * candidates via a semi-join BEFORE ADC ranking, so a metadata
    * predicate ("nearest neighbors WHERE source ∈ …") costs one
    * semi-join over 4-byte codes, never a raw-vector read or an index
    * rebuild. Self included (the e09 protocol); fewer than k
    * predicate-passing candidates yield fewer than k rows. Oracle:
    * e09's shared Lloyd-replay text with the keep join injected into
    * the scored stage (the e24 injection pattern — the default path
    * stays byte-identical).
    */
  val e39FilteredPq = QueryDef(
    "e39_filtered_pq",
    (s, d) => {
      val e = Tables.embeddings(s, d)
      graft.api.Graft.pqIndex(e)
        .searchWhere(e.filter(col("vec_id") < 5), keepIds(s, d), k = 3)
    },
    Some(pqSql(topM = 3, scoredExtra =
      "\n    JOIN documents d ON d.doc_id = enc.vec_id AND d.source IN " +
        "('src0', 'src1', 'src2', 'src3', 'src4')")))

  /** FILTERED search for the composite family — e24's contract on the
    * IVF-PQ index: the predicate semi-join lands on the
    * cell-partitioned code table BEFORE probing and ADC-cosine
    * ranking. Self excluded (the e18 protocol). Oracle: e18's shared
    * composite replay with the keep join injected into the scored
    * stage. With e24 this gives all three index families the filtered
    * surface.
    */
  val e40FilteredIvfPq = QueryDef(
    "e40_filtered_ivfpq",
    (s, d) => {
      val e = Tables.embeddings(s, d)
      graft.api.Graft.ivfPqIndex(e)
        .searchWhere(e.filter(col("vec_id") < 5), keepIds(s, d))
    },
    Some(ivfPqSql(scoredExtra =
      "\n    JOIN documents d ON d.doc_id = e.vec_id AND d.source IN " +
        "('src0', 'src1', 'src2', 'src3', 'src4')")))

  /** recall@3 of FILTERED PQ search (e39) against the post-filter
    * exact ground truth — e25's contract for the compressed family:
    * a predicate-constrained search is judged on what it was allowed
    * to return (exact top-3 over the predicate-PASSING corpus), and
    * like e12 the comparison carries the e09 self-included protocol
    * on the ADC side vs self-excluded exact, so the number measures
    * quantization loss under the filter. With e25 both filtered
    * surfaces carry a recall yardstick.
    */
  val e41FilteredPqRecall = QueryDef(
    "e41_filtered_pq_recall",
    (s, d) => recallOfTop3(e39FilteredPq.fn(s, d), "rnk", "vec_id",
      filteredExact3(s, d)),
    Some(filteredRecallSql("fpq", e39FilteredPq.oracle.get, "rnk",
      "vec_id AS neighbor_id")))

  /** recall@3 of FILTERED IVF-PQ search (e40) against the post-filter
    * exact ground truth — the e25/e41 yardstick on the COMPOSITE
    * family, closing the 3×3 filtered matrix (search + recall on IVF,
    * PQ, IVF-PQ). Here both sides are self-EXCLUDED (the e18
    * protocol matches knnOf), so unlike e41 the number is pure loss:
    * routing loss (probed cells may miss a predicate-passing true
    * neighbor) × residual quantization loss, under the filter. The
    * ground truth is exact top-3 over the predicate-PASSING corpus —
    * a filtered search is judged on what it was allowed to return.
    */
  val e42FilteredIvfPqRecall = QueryDef(
    "e42_filtered_ivfpq_recall",
    (s, d) => recallOfTop3(e40FilteredIvfPq.fn(s, d), "rnk", "vec_id",
      filteredExact3(s, d)),
    Some(filteredRecallSql("fivfpq", e40FilteredIvfPq.oracle.get, "rnk",
      "vec_id AS neighbor_id")))

  /** Two-stage composite ANN — e16's re-ranking pattern on the IVF-PQ
    * index (Jégou et al. 2011 §V.D applied to the full stack): probe +
    * ADC shortlist of 10 in the compressed domain, then EXACT cosine
    * over just those 10 raw vectors → top-3. The composite handle
    * stores NO raw vectors (its footprint is cell + 4 bytes + one
    * float per vector), so stage 2 fetches the shortlist's vectors
    * from the SOURCE table by broadcast semi-join — O(queries × 10)
    * rows, the corpus never rescanned, and a LOADED index reranks
    * identically since rerank adds nothing to the stored layout.
    * Self excluded end-to-end (the e18 protocol; unlike e16, both
    * this and the e01 ground truth exclude self, so e44's recall is
    * the pure payoff number). Oracle: e18's replay at shortlist depth
    * 10 (the new topM parameter — default path byte-identical) with
    * e16's exact-rescore tail.
    */
  val e43IvfPqRerank = QueryDef(
    "e43_ivfpq_rerank",
    // routed through Graft.ivfPqIndex(...).rerank — the facade's
    // two-stage composite path IS the gate path
    (s, d) => {
      val e = Tables.embeddings(s, d)
      graft.api.Graft.ivfPqIndex(e)
        .rerank(e.filter(col("vec_id") < 5), e, fetch = 10, k = 3)
    },
    Some(rerankSql("sl_full", ivfPqSql(topM = 10))))

  /** recall@3 of the re-ranked composite (e43) against the exact top-3
    * (e01) — the payoff measurement for two-stage IVF-PQ: e19 scores
    * the raw ADC composite (routing × quantization loss), e44 scores
    * the same index after the exact re-rank, and the difference is
    * what re-ranking buys back. Both sides self-excluded, so this is
    * the clean number (e17 carries a protocol asymmetry; e44 doesn't).
    * What re-rank CANNOT recover is routing loss — a true neighbor
    * outside the probed cells never reaches the shortlist — so
    * e44 ≤ e37's recall ceiling at the same probe count, per query.
    */
  val e44RecallIvfPqRerank = QueryDef(
    "e44_ivfpq_rerank_recall",
    (s, d) => recallOfTop3(e43IvfPqRerank.fn(s, d), "rank", "neighbor_id",
      exactTop3(s, d)),
    Some(recallOfSql("rr", e43IvfPqRerank.oracle.get)))

  /** Recall-vs-nprobe SWEEP — the tuning artifact an ANN deployment
    * actually reads before picking its probe count: recall@3 of the
    * same built IVF index at probes ∈ {1, 2, 3}, one row per
    * (probes, query). The index is built ONCE and the exact ground
    * truth (e01) computed ONCE; each sweep point re-probes the same
    * broadcast structures, so sweeping costs probes × the search
    * stage, never probes × (train + exact). Recall is monotone
    * non-decreasing in probes by construction (a superset of cells
    * can only add candidates) — the gate certifies the whole
    * latency/recall trade-off curve, not one chosen point. Oracle:
    * three nested copies of the e05 replay text at rn ≤ 1/2/3 (the
    * shared [[ivfSearchSql]] with its new probes parameter — the
    * default path stays byte-identical, e05/e24/e26 re-gate green)
    * unioned and recall-joined against e01's text, the e10 pattern.
    */
  val e37RecallSweep = QueryDef(
    "e37_recall_sweep",
    (s, d) => {
      val e = Tables.embeddings(s, d)
      val idx = graft.api.Graft.annIndex(e)
      val q = e.filter(col("vec_id") < 5)
      Ranking.recall3((1 to 3).map { p =>
          idx.search(q, probes = p, k = 3)
            .select(lit(p).as("probes"), col("query_id"), col("neighbor_id"))
        }.reduce(_ unionByName _),
        exactTop3(s, d), Seq("probes", "query_id"))
    },
    Some {
      def ivfAt(p: Int) =
        s"""WITH $centArrSql,
           |${ivfSearchSql("cent_arr", "ASC", probes = p)}""".stripMargin
      s"""WITH x1 AS (${ivfAt(1)}),
         |x2 AS (${ivfAt(2)}),
         |x3 AS (${ivfAt(3)}),
         |exact_full AS (${e01KnnBruteForce.oracle.get}),
         |ex AS (SELECT query_id, neighbor_id FROM exact_full WHERE rank <= 3),
         |u AS (
         |  SELECT 1 AS probes, query_id, neighbor_id FROM x1
         |  UNION ALL SELECT 2, query_id, neighbor_id FROM x2
         |  UNION ALL SELECT 3, query_id, neighbor_id FROM x3)
         |${Ranking.recallSql("u", "ex", Some("probes"))}""".stripMargin
    })

  /** Rerank fetch-size SWEEP — [[e37RecallSweep]]'s contract for the
    * two-stage PQ family, the OTHER tuning knob a deployment sets:
    * recall@3 of [[graft.api.Graft.PqIndex.rerank]] at fetch ∈
    * {5, 10, 20} (the ADC shortlist size stage 2's exact math pays
    * for), one row per (fetch, query). The index trains ONCE and the
    * exact ground truth (e01) computes ONCE; each sweep point re-ranks
    * a different-size prefix of the same ADC ordering, so recall is
    * monotone non-decreasing in fetch (a shortlist prefix's exact
    * top-3 can only improve as the prefix grows — spec-asserted) and
    * the curve prices exactly what buying more stage-2 fetches
    * returns. Oracle: three copies of e16's rerank text at
    * `pqSql(topM = fetch)` recall-joined against e01, the e37 shape.
    */
  val e38RerankSweep = QueryDef(
    "e38_rerank_sweep",
    (s, d) => {
      val e = Tables.embeddings(s, d)
      val idx = graft.api.Graft.pqIndex(e)
      val q = e.filter(col("vec_id") < 5)
      Ranking.recall3(Seq(5, 10, 20).map { f =>
          idx.rerank(q, fetch = f, k = 3)
            .select(lit(f).as("fetch"), col("query_id"), col("neighbor_id"))
        }.reduce(_ unionByName _),
        exactTop3(s, d), Seq("fetch", "query_id"))
    },
    Some {
      def rerankAt(f: Int) = rerankSql("pq_full", pqSql(topM = f))
      s"""WITH r5 AS (${rerankAt(5)}),
         |r10 AS (${rerankAt(10)}),
         |r20 AS (${rerankAt(20)}),
         |exact_full AS (${e01KnnBruteForce.oracle.get}),
         |ex AS (SELECT query_id, neighbor_id FROM exact_full WHERE rank <= 3),
         |u AS (
         |  SELECT 5 AS fetch, query_id, neighbor_id FROM r5
         |  UNION ALL SELECT 10, query_id, neighbor_id FROM r10
         |  UNION ALL SELECT 20, query_id, neighbor_id FROM r20)
         |${Ranking.recallSql("u", "ex", Some("fetch"))}""".stripMargin
    })

  /** IVF-PQ coarse-cell drift gate — e28's monitoring contract for the
    * composite family: the coarse quantizer IS an IVF structure (both
    * families share [[labelCentroids]]/[[assignCellsPulled]]), so
    * `IvfPqIndex.drift` delegates to the exact e28-gated [[cellDrift]]
    * kernel with the stored code table (which carries `cell`) as the
    * base — cell-balance drift is what degrades IVF-PQ probe latency,
    * and residual-code drift is e31's separate axis. Split on % 7 (the
    * PQ-family convention). Oracle: e28's text with the % 7 predicate.
    */
  val e32IvfPqDrift = QueryDef(
    "e32_ivfpq_drift",
    (s, d) => {
      val e = Tables.embeddings(s, d)
      graft.api.Graft.ivfPqIndex(e.filter(col("vec_id") % 7 =!= 0))
        .drift(e.filter(col("vec_id") % 7 === 0))
        .orderBy(col("cell"))
    },
    Some(
      s"""WITH ${centArrSqlOver("WHERE vec_id % 7 <> 0")},
         |${ivfAssignSql("cent_arr")},
         |base AS (
         |  SELECT cell, count(*) AS n_base FROM assign
         |  WHERE vec_id % 7 <> 0 GROUP BY cell),
         |nw AS (
         |  SELECT cell, count(*) AS n_new FROM assign
         |  WHERE vec_id % 7 = 0 GROUP BY cell),
         |tot AS (
         |  SELECT (SELECT count(*) FROM embeddings WHERE vec_id % 7 <> 0) AS t_base,
         |         (SELECT count(*) FROM embeddings WHERE vec_id % 7 = 0) AS t_new),
         |rep AS (
         |  SELECT c.cell,
         |    coalesce(b.n_base, 0) AS n_base, coalesce(n.n_new, 0) AS n_new,
         |    (coalesce(b.n_base, 0) * 1000000) // t.t_base AS ppm_base,
         |    (coalesce(n.n_new, 0) * 1000000) // t.t_new AS ppm_new
         |  FROM cent_arr c LEFT JOIN base b USING (cell)
         |    LEFT JOIN nw n USING (cell) CROSS JOIN tot t)
         |SELECT cell, n_base, n_new, ppm_base, ppm_new,
         |  abs(ppm_base - ppm_new) AS drift_ppm
         |FROM rep ORDER BY cell""".stripMargin))

  /** e23's body — the [[graft.api.Graft.mmrRerank]] facade path:
    * Maximal Marginal Relevance diversification (Carbonell & Goldstein
    * 1998) of a relevance shortlist. Stage 1 fetches each query's
    * top-`fetch` by exact cosine (e01's broadcast-query scan); stage 2
    * greedily picks `k` results, each maximizing
    * `relWeight·rel − divWeight·max(sim to already-picked)` — the
    * standard redundancy-penalized re-rank a RAG stack runs after
    * retrieval (e22 fuses rankings; this diversifies one).
    *
    * Scale shape: the corpus is scanned exactly twice (relevance scan +
    * a broadcast-shortlist embedding fetch — e16's pattern); everything
    * after operates on fetch×#queries rows (pairwise sims are
    * fetch²/query, bounded), and the k−1 greedy steps are unrolled as
    * bounded joins over those tiny frames with a localCheckpoint per
    * step so plans don't nest. Determinism protocol: rel and pairwise
    * sims are 6dp-rounded before any scoring, the MMR score combines
    * them with EXPLICIT double weights (callers pass relWeight and
    * divWeight separately — deriving one from the other via `1 − λ`
    * would produce 0.30000000000000004 in Scala vs DuckDB's 0.3 and
    * flip near-tie argmaxes), ties break to the lower candidate id.
    */
  private[graft] def mmrRerankOf(corpus: DataFrame, queries: DataFrame,
                                 k: Int = 5, fetch: Int = 10,
                                 relWeight: Double = 0.7,
                                 divWeight: Double = 0.3): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val cands = knnOf(corpus,
        queries.select(col("vec_id").as("query_id"),
          col("embedding").as("q_emb")), fetch, ordered = false)
      .select(col("query_id"), col("neighbor_id").as("cand"),
        col("cos").as("rel"))
    // BOUNDED driver pull — fetch × |queries| rows by construction,
    // the exact frame the previous implementation already collected
    // via broadcast(). Fenced (the tombstone-snapshot pattern): fail
    // loudly past the conf rather than silently grow the driver.
    // default fence 500k rows (round 17, was 4M): each shortlist row
    // later carries a 64-float embedding in a driver-side Map — ~300+
    // bytes with boxing/Map overhead — so 500k rows is ~150–300 MB,
    // inside a stock 1–4 GB driver heap, where 4M rows (multiple GB)
    // could OOM the driver BEFORE the fence fired. Raise the conf only
    // with driver memory to match.
    val maxRows =
      graft.FenceConf.read(spark, "spark.graft.maxMmrDriverRows", 500000L)
    val candRows = cands.limit(maxRows + 1).collect()
    require(candRows.length <= maxRows,
      s"mmrRerank: shortlist exceeds spark.graft.maxMmrDriverRows=" +
        s"$maxRows rows (fetch x |queries|) — the greedy re-rank holds " +
        "the shortlist on the driver; lower fetch / batch the queries, " +
        "or raise the conf if the driver can hold more")
    val shortlist = candRows.map(r => (r.getLong(0), r.getLong(1),
      r.getDouble(2)))
    // candidate embeddings: broadcast the tiny shortlist id set into
    // ONE corpus scan (the corpus is never shuffled or rescanned —
    // e16's fetch pattern), pull the fetch×Q embedding rows
    val idsDf = shortlist.toSeq.map { case (q, c, _) => (q, c) }
      .toDF("query_id", "cand")
    val emb: Map[(Long, Long), Array[Float]] =
      corpus.select(col("vec_id").as("cand"), col("embedding"))
        .join(broadcast(idsDf), Seq("cand"))
        .select(col("query_id"), col("cand"), col("embedding"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1)) ->
          r.getSeq[Float](2).toArray).toMap

    // Driver-side replicas of the two gated kernels, bit-for-bit:
    // the sequential double-precision loop of
    // [[graft.functions.CosineSimilarity]] (same op order, same
    // float→double casts) and Spark's round(x, 6) (Ranking.round6).
    def cosD(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        val x = a(i).toDouble; val y = b(i).toDouble
        dot += x * y; na += x * x; nb += y * y; i += 1
      }
      if (na == 0.0 || nb == 0.0) 0.0
      else dot / (math.sqrt(na) * math.sqrt(nb))
    }

    // The greedy selection itself is SEQUENTIAL over a driver-bounded
    // frame — running it as k−1 cluster jobs over ≤ fetch×Q-row frames
    // (the previous shape: 49 scheduler round-trips at k=5) buys no
    // parallelism at any scale; the corpus-sized stages above stay
    // distributed. Semantics unchanged: rel and pairwise sims
    // 6dp-rounded before scoring, explicit double weights, ties to the
    // lower candidate id, score = rel·w_r − max(sim to picked)·w_d.
    val out = scala.collection.mutable.ArrayBuffer[(Long, Long, Long, Double)]()
    shortlist.groupBy(_._1).toSeq.sortBy(_._1).foreach { case (q, cs0) =>
      val cs = cs0.map { case (_, c, rel) => (c, rel) }
      val sims = scala.collection.mutable.HashMap[(Long, Long), Double]()
      for ((a, _) <- cs; (b, _) <- cs if a != b)
        sims((a, b)) = Ranking.round6(cosD(emb((q, a)), emb((q, b))))
      if (cs.nonEmpty) {
        val first = cs.minBy { case (c, rel) => (-rel, c) }
        var picked = List(first._1)
        out += ((q, 1L, first._1, first._2))
        for (i <- 2 to k) {
          val remaining = cs.filter { case (c, _) => !picked.contains(c) }
          if (remaining.nonEmpty) {
            val best = remaining.map { case (c, rel) =>
              val maxsim = picked.map(b => sims((c, b))).max
              (c, rel * relWeight - maxsim * divWeight)
            }.minBy { case (c, s) => (-s, c) }
            out += ((q, i.toLong, best._1, Ranking.round6(best._2)))
            picked = picked :+ best._1
          }
        }
      }
    }
    out.toSeq.toDF("query_id", "pick", "cand_id", "mmr_score")
  }

  val e23MmrRerank = QueryDef(
    "e23_mmr_rerank",
    (s, d) => {
      val e = Tables.embeddings(s, d)
      graft.api.Graft.mmrRerank(e, e.filter(col("vec_id") < 5))
        .orderBy(col("query_id"), col("pick"))
    },
    // the greedy loop unrolled as chained CTEs (the e18 pattern):
    // cum{i} carries the picks so far, sc{i} scores the remainder
    Some {
      val steps = (2 to 5).map { i =>
        s"""sc$i AS (
           |  SELECT c.query_id, c.cand,
           |    c.rel * 0.7 - m.maxsim * 0.3 AS s
           |  FROM cands c
           |  JOIN (SELECT p.query_id, p.a AS cand, max(p.sim) AS maxsim
           |        FROM pairs p JOIN cum${i - 1} s
           |          ON p.query_id = s.query_id AND p.b = s.cand_id
           |        GROUP BY p.query_id, p.a) m
           |    ON c.query_id = m.query_id AND c.cand = m.cand
           |  WHERE NOT EXISTS (SELECT 1 FROM cum${i - 1} s2
           |    WHERE s2.query_id = c.query_id AND s2.cand_id = c.cand)),
           |sel$i AS (
           |  SELECT query_id, CAST($i AS BIGINT) AS pick, cand AS cand_id,
           |    round(s, 6) AS mmr_score
           |  FROM (SELECT query_id, cand, s, row_number() OVER (
           |          PARTITION BY query_id ORDER BY s DESC, cand) AS rn
           |        FROM sc$i) WHERE rn = 1),
           |cum$i AS (SELECT * FROM cum${i - 1} UNION ALL SELECT * FROM sel$i)"""
          .stripMargin
      }.mkString(",\n")
      s"""WITH knn_full AS (${e01KnnBruteForce.oracle.get}),
         |cands AS (
         |  SELECT query_id, neighbor_id AS cand, cos AS rel FROM knn_full),
         |pairs AS (
         |  SELECT c1.query_id, c1.cand AS a, c2.cand AS b,
         |    round(${cosSql("e1.embedding", "e2.embedding")}, 6) AS sim
         |  FROM cands c1 JOIN cands c2
         |    ON c1.query_id = c2.query_id AND c1.cand <> c2.cand
         |  JOIN embeddings e1 ON e1.vec_id = c1.cand
         |  JOIN embeddings e2 ON e2.vec_id = c2.cand),
         |cum1 AS (
         |  SELECT query_id, CAST(1 AS BIGINT) AS pick, cand AS cand_id,
         |    rel AS mmr_score
         |  FROM (SELECT query_id, cand, rel, row_number() OVER (
         |          PARTITION BY query_id ORDER BY rel DESC, cand) AS rn
         |        FROM cands) WHERE rn = 1),
         |$steps
         |SELECT query_id, pick, cand_id, mmr_score FROM cum5
         |ORDER BY query_id, pick""".stripMargin
    })

  def all: Seq[QueryDef] = Seq(
    e01KnnBruteForce, e02CosineNearDup, e03AnnLsh, e04LabelCentroids,
    e05AnnIvf, e06AnnIvfKmeans, e07SemanticDedup, e08Int8Quant, e09AnnPq,
    e10AnnRecall, e11AnnRecallLsh, e12AnnRecallPq, e13AnnRecallKmeans,
    e14AnnRecallInt8, e15AnnRecallTrunc, e16AnnPqRerank, e17AnnRecallRerank,
    e18AnnIvfPq, e19AnnRecallIvfPq, e20BinaryQuant, e21AnnRecallBinary,
    e22HybridRrf, e23MmrRerank, e24FilteredIvf, e25AnnRecallFiltered,
    e26IvfAppend, e27PqAppend, e28IndexDrift, e29IvfPqAppend,
    e30IndexPersistence, e31PqCodeDrift, e32IvfPqDrift, e33DurableAppend,
    e34IvfPqResidualDrift, e35IndexEpochs, e36ShardMerge, e37RecallSweep,
    e38RerankSweep, e39FilteredPq, e40FilteredIvfPq, e41FilteredPqRecall,
    e42FilteredIvfPqRecall, e43IvfPqRerank, e44RecallIvfPqRerank,
    e45IndexDelete, e46DeleteCompact, e47IvfRetrain, e48Bm25Store,
    e49Bm25NormalizedSearch, e50PublishedRetrainSearch,
    e51Bm25PublishedSearch, e52Bm25RewriteSearch, e53Bm25RepairSearch,
    e54PqRepairSearch)
}
