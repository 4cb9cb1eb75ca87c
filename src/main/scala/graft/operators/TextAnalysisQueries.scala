package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

import graft.Tables

/** Text-analysis operators over `documents`: token statistics, quality
  * scoring, language ID (stopword-profile heuristic), document
  * fingerprinting. All closed-form DataFrame expressions (codegen'd), all
  * one-pass over the corpus at scale.
  */
object TextAnalysisQueries {

  /** Uniform 60-bit hash of doc_id — top 60 bits of md5, the one
    * deterministic-sampling primitive shared by t12/t14/t16 (and
    * mirrored by [[hash60Sql]] in their oracles). 60 bits keeps the
    * value positive in a signed BIGINT in both engines.
    */
  private[graft] def hash60(c: Column): Column =
    conv(substring(md5(c.cast("string")), 1, 15), 16, 10).cast("long")

  /** DuckDB mirror of [[hash60]]. */
  private def hash60Sql(expr: String): String =
    s"('0x' || substr(md5(cast($expr AS VARCHAR)), 1, 15))::BIGINT"

  /** Token counting: whitespace tokens + distinct counts. */
  /** t01's body over any documents frame — [[graft.api.Graft.tokenStats]]. */
  private[graft] def tokenStatsOf(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    docs.select(col("doc_id"),
      size(split(col("text"), " ")).cast("long").as("n_tokens"),
      size(array_distinct(split(col("text"), " "))).cast("long").as("n_distinct"),
      length(col("text")).cast("long").as("n_chars"))

  val t01TokenStats = QueryDef(
    "t01_token_stats",
    (s, d) => graft.api.Graft.tokenStats(Tables.documents(s, d))
      .orderBy(col("doc_id")),
    Some("""SELECT doc_id,
           |  len(string_split(text, ' ')) AS n_tokens,
           |  len(list_distinct(string_split(text, ' '))) AS n_distinct,
           |  length(text) AS n_chars
           |FROM documents ORDER BY doc_id""".stripMargin))

  /** Quality scoring: mean token length, repetition ratio (1 - distinct/
    * total), and a composite score — the usual cheap pre-training
    * filters.
    */
  /** t02's body over any documents frame —
    * [[graft.api.Graft.heuristicQuality]].
    */
  private[graft] def heuristicQualityOf(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val toks = size(split(col("text"), " ")).cast("double")
    val dist = size(array_distinct(split(col("text"), " "))).cast("double")
    val meanLen = (length(col("text")).cast("double") - toks + 1) / toks
    val repetition = lit(1.0) - dist / toks
    docs.select(col("doc_id"),
      round(meanLen, 4).as("mean_token_len"),
      round(repetition, 4).as("repetition"),
      round(meanLen * 0.2 + (lit(1.0) - repetition) * 0.8, 4).as("quality"))
  }

  val t02QualityScore = QueryDef(
    "t02_quality_score",
    (s, d) => graft.api.Graft.heuristicQuality(Tables.documents(s, d))
      .orderBy(col("doc_id")),
    Some("""SELECT doc_id,
           |  round((length(text) - len(string_split(text, ' ')) + 1.0)
           |        / len(string_split(text, ' ')), 4) AS mean_token_len,
           |  round(1.0 - len(list_distinct(string_split(text, ' ')))
           |        * 1.0 / len(string_split(text, ' ')), 4) AS repetition,
           |  round(((length(text) - len(string_split(text, ' ')) + 1.0)
           |         / len(string_split(text, ' '))) * 0.2 +
           |        (len(list_distinct(string_split(text, ' ')))
           |         * 1.0 / len(string_split(text, ' '))) * 0.8, 4) AS quality
           |FROM documents ORDER BY doc_id""".stripMargin))

  /** The default language profiles: the gate's test-corpus stopword
    * sets; a production caller passes real per-language profiles.
    */
  private[graft] val defaultLangProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "order", "group"),
    "de" -> Seq("der", "die", "das", "und", "customer", "hash"),
    "es" -> Seq("el", "la", "de", "y", "slow", "agg"),
    "fr" -> Seq("le", "la", "de", "et", "scan", "data"),
    "zh" -> Seq("de", "shi", "le", "join", "small", "column"))

  /** t03's body over any documents frame — [[graft.api.Graft.languageId]]. */
  private[graft] def langIdOf(docs: org.apache.spark.sql.DataFrame,
                              langProfiles: Seq[(String, Seq[String])])
      : org.apache.spark.sql.DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val profiles = langProfiles
      .flatMap { case (l, ws) => ws.map(w => (l, w)) }
      .toDF("cand_lang", "tok")
    val toks = docs
      .select(col("doc_id"), size(split(col("text"), " ")).as("n_tokens"),
        explode(split(col("text"), " ")).as("tok"))
    val hits = toks.join(broadcast(profiles), Seq("tok"))
      .groupBy(col("doc_id"), col("n_tokens"), col("cand_lang"))
      .agg(count(lit(1)).as("hits"))
      .withColumn("score", round(col("hits") / col("n_tokens"), 6))
    Ranking.topK(hits, "doc_id", "score", "cand_lang", 1, rank = "rn",
        asLong = false)
      .select(col("doc_id"), col("cand_lang").as("predicted_lang"), col("score"))
  }

  /** Language ID via stopword-profile hit ratios: per language, the
    * fraction of the doc's tokens found in that language's profile;
    * prediction = argmax (ties → lexicographically first). Pure
    * relational logic — one explode + broadcast join + argmax at scale.
    */
  val t03LangId = QueryDef(
    "t03_langid",
    (s, d) => graft.api.Graft.languageId(Tables.documents(s, d))
      .orderBy(col("doc_id")),
    Some("""WITH profiles(cand_lang, tok) AS (VALUES
           |  ('en','the'),('en','a'),('en','of'),('en','and'),('en','order'),('en','group'),
           |  ('de','der'),('de','die'),('de','das'),('de','und'),('de','customer'),('de','hash'),
           |  ('es','el'),('es','la'),('es','de'),('es','y'),('es','slow'),('es','agg'),
           |  ('fr','le'),('fr','la'),('fr','de'),('fr','et'),('fr','scan'),('fr','data'),
           |  ('zh','de'),('zh','shi'),('zh','le'),('zh','join'),('zh','small'),('zh','column')),
           |toks AS (
           |  SELECT doc_id, len(string_split(text, ' ')) AS n_tokens,
           |    unnest(string_split(text, ' ')) AS tok
           |  FROM documents),
           |hits AS (
           |  SELECT doc_id, n_tokens, cand_lang, count(*) AS hits
           |  FROM toks JOIN profiles USING (tok)
           |  GROUP BY 1, 2, 3),
           |ranked AS (
           |  SELECT doc_id, cand_lang, round(hits * 1.0 / n_tokens, 6) AS score,
           |    row_number() OVER (PARTITION BY doc_id
           |      ORDER BY round(hits * 1.0 / n_tokens, 6) DESC, cand_lang) AS rn
           |  FROM hits)
           |SELECT doc_id, cand_lang AS predicted_lang, score
           |FROM ranked WHERE rn = 1 ORDER BY doc_id""".stripMargin))

  /** Document fingerprint: md5 over the sorted distinct token set —
    * a canonical content signature robust to word order.
    */
  val t04Fingerprint = QueryDef(
    "t04_fingerprint",
    (s, d) => {
      Tables.documents(s, d)
        .select(col("doc_id"),
          md5(array_join(array_sort(array_distinct(split(col("text"), " "))), " "))
            .as("fingerprint"))
        .orderBy(col("doc_id"))
    },
    Some("""SELECT doc_id,
           |  md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' '))
           |    AS fingerprint
           |FROM documents ORDER BY doc_id""".stripMargin))

  /** Per-language corpus rollup joining text stats — the "corpus report"
    * shape (group counts + quality aggregates).
    */
  val t05CorpusReport = QueryDef(
    "t05_corpus_report",
    (s, d) => {
      Tables.documents(s, d)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("total_chars"),
          round(avg(size(split(col("text"), " "))), 4).as("avg_tokens"))
        .orderBy(col("lang"))
    },
    Some("""SELECT lang, count(*) AS n_docs,
           |  cast(sum(n_chars) AS BIGINT) AS total_chars,
           |  round(avg(len(string_split(text, ' '))), 4) AS avg_tokens
           |FROM documents GROUP BY lang ORDER BY lang""".stripMargin))

  /** Winnowing fingerprint (rolling-hash document fingerprinting, as in
    * MOSS): character 8-gram hashes, sliding window of 4 positions keeps
    * the window minimum, the distinct kept hashes are the document's
    * fingerprint set. Portable across engines because the "hash" is the
    * md5 hex string and the window minimum is lexicographic. One window
    * pass per doc — scales as a partition-local windowed scan.
    */
  val t06Winnowing = QueryDef(
    "t06_winnowing",
    (s, d) => {
      val g = 8 // shingle length
      val win = 4 // winnowing window
      val grams = Tables.documents(s, d)
        .filter(length(col("text")) >= g)
        .select(col("doc_id"),
          explode(expr(s"transform(sequence(1, length(text) - ${g - 1}), " +
            s"i -> struct(i AS pos, md5(substring(text, i, $g)) AS h))")).as("x"))
        .select(col("doc_id"), col("x.pos").as("pos"), col("x.h").as("h"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id")).orderBy(col("pos"))
        .rowsBetween(-(win - 1), 0)
      grams
        .withColumn("wmin", min(col("h")).over(w))
        .filter(col("pos") >= win) // only full windows
        .groupBy(col("doc_id"))
        .agg(countDistinct(col("wmin")).as("n_fingerprints"),
          min(col("wmin")).as("min_fp"), max(col("wmin")).as("max_fp"))
        .orderBy(col("doc_id"))
    },
    Some(s"""WITH grams AS (
            |  SELECT doc_id, unnest(generate_series(1, length(text) - 7)) AS pos,
            |    text FROM documents WHERE length(text) >= 8),
            |hashed AS (
            |  SELECT doc_id, pos, md5(substr(text, pos, 8)) AS h FROM grams),
            |winmin AS (
            |  SELECT doc_id, pos, min(h) OVER (PARTITION BY doc_id ORDER BY pos
            |    ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS wmin
            |  FROM hashed)
            |SELECT doc_id, count(DISTINCT wmin) AS n_fingerprints,
            |  min(wmin) AS min_fp, max(wmin) AS max_fp
            |FROM winmin WHERE pos >= 4
            |GROUP BY doc_id ORDER BY doc_id""".stripMargin))

  /** BPE-ish subword token counting: a GPT-2-style pre-tokenizer regex
    * (letter runs | digit runs | single non-alphanumeric) counted per
    * doc — the cheap token-budget estimator for training pipelines.
    * Plain character classes keep Java-regex (Spark) and RE2-ish
    * (DuckDB) semantics identical.
    */
  val t07BpeTokenCount = QueryDef(
    "t07_bpe_token_count",
    (s, d) => {
      Tables.documents(s, d)
        .select(col("doc_id"),
          size(expr("regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)"))
            .cast("long").as("n_bpe_tokens"),
          (length(col("text")).cast("double") /
            greatest(size(expr("regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)")),
              lit(1))).cast("double").as("chars_per_token"))
        .select(col("doc_id"), col("n_bpe_tokens"),
          round(col("chars_per_token"), 4).as("chars_per_token"))
        .orderBy(col("doc_id"))
    },
    Some("""SELECT doc_id,
           |  len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS n_bpe_tokens,
           |  round(length(text) * 1.0 /
           |    greatest(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')), 1), 4)
           |    AS chars_per_token
           |FROM documents ORDER BY doc_id""".stripMargin))

  /** Benchmark-contamination screening: training documents sharing ≥5
    * word 3-grams with any held-out ("benchmark") document — here src0
    * stands in for the eval set (1/20 of this corpus, far bigger than a
    * real eval set). The join strategy is left to the planner: a real
    * benchmark index fits a broadcast and the corpus streams past it;
    * when it does not (as here at scale), the shingle equi-join shuffles
    * both sides — forcing a broadcast would OOM instead. Exact matching
    * throughout: contamination screening cannot tolerate false
    * negatives, so the q59-style bloom trick applies only as a
    * pre-filter, never as the verdict.
    */
  val t08Contamination = QueryDef(
    "t08_contamination",
    (s, d) => {
      val sh = DedupQueries.shingleArrays(s, d)
        .join(Tables.documents(s, d).select(col("doc_id"), col("source")),
          "doc_id")
        .select(col("doc_id"), col("source"), explode(col("sh")).as("s"))
      val bench = sh.filter(col("source") === "src0")
        .select(col("doc_id").as("bench_doc"), col("s"))
      val train = sh.filter(col("source") =!= "src0")
        .select(col("doc_id").as("train_doc"), col("s"))
      train.join(bench, Seq("s"))
        .groupBy(col("train_doc"), col("bench_doc"))
        .agg(count(lit(1)).as("n_shared"))
        .filter(col("n_shared") >= 5)
        .orderBy(col("train_doc"), col("bench_doc"))
    },
    Some(s"""WITH ${DedupQueries.shinglesSql},
            |tagged AS (
            |  SELECT sh.doc_id, d.source, sh.s
            |  FROM sh JOIN documents d ON sh.doc_id = d.doc_id),
            |bench AS (
            |  SELECT doc_id AS bench_doc, s FROM tagged WHERE source = 'src0'),
            |train AS (
            |  SELECT doc_id AS train_doc, s FROM tagged WHERE source <> 'src0')
            |SELECT train_doc, bench_doc, count(*) AS n_shared
            |FROM train JOIN bench USING (s)
            |GROUP BY train_doc, bench_doc
            |HAVING count(*) >= 5
            |ORDER BY train_doc, bench_doc""".stripMargin))

  /** Gopher-style repetition signals (Rae et al. 2021, arXiv:2112.11446
    * §A1.1): fraction of tokens taken by the most frequent unigram /
    * bigram, and the fraction of trigram positions whose trigram occurs
    * more than once — the standard "excess repetition" pre-training
    * filters. Each signal is one explode + count + per-doc max, i.e.
    * map-side-combinable aggregations that scale as a linear pass; no
    * joins between documents.
    */
  val t09RepetitionSignals = QueryDef(
    "t09_repetition_signals",
    (s, d) => {
      val base = Tables.documents(s, d)
        .select(col("doc_id"), split(col("text"), " ").as("toks"))
        .withColumn("n", size(col("toks")))
      // n-gram position arrays; sequence(1, n-k+1) is guarded because
      // Spark's sequence DESCENDS when stop < start (DuckDB's
      // generate_series is empty instead)
      def grams(k: Int) =
        when(col("n") >= k, expr(
          s"transform(sequence(1, n - ${k - 1}), i -> " +
            (0 until k).map(j => s"element_at(toks, i + $j)")
              .mkString("concat_ws(' ', ", ", ", "))")))
          .otherwise(array())
      def counts(k: Int) = base
        .select(col("doc_id"), col("n"), explode(grams(k)).as("g"))
        .groupBy(col("doc_id"), col("n"), col("g"))
        .agg(count(lit(1)).as("c"))
      val uni = counts(1).groupBy(col("doc_id"))
        .agg(round(max(col("c")) / max(col("n")).cast("double"), 4)
          .as("top_unigram_frac"))
      val bi = counts(2).groupBy(col("doc_id"))
        .agg(round(max(col("c")) /
          greatest(max(col("n")) - 1, lit(1)).cast("double"), 4)
          .as("top_bigram_frac"))
      val tri = counts(3).groupBy(col("doc_id"))
        .agg(round(
          sum(when(col("c") > 1, col("c")).otherwise(lit(0))) /
            greatest(max(col("n")) - 2, lit(1)).cast("double"), 4)
          .as("dup_trigram_frac"))
      uni.join(bi, "doc_id").join(tri, "doc_id").orderBy(col("doc_id"))
    },
    Some("""WITH base AS (
           |  SELECT doc_id, string_split(text, ' ') AS toks,
           |    len(string_split(text, ' ')) AS n
           |  FROM documents),
           |uc AS (
           |  SELECT doc_id, n, g, count(*) AS c FROM (
           |    SELECT doc_id, n, unnest(toks) AS g FROM base)
           |  GROUP BY 1, 2, 3),
           |u AS (SELECT doc_id, round(max(c) / (n * 1.0), 4)
           |        AS top_unigram_frac FROM uc GROUP BY doc_id, n),
           |bc AS (
           |  SELECT doc_id, n, g, count(*) AS c FROM (
           |    SELECT doc_id, n,
           |      unnest([toks[i] || ' ' || toks[i+1]
           |              for i in generate_series(1, n - 1)]) AS g
           |    FROM base)
           |  GROUP BY 1, 2, 3),
           |b AS (SELECT doc_id, round(max(c) / (greatest(n - 1, 1) * 1.0), 4)
           |        AS top_bigram_frac FROM bc GROUP BY doc_id, n),
           |tc AS (
           |  SELECT doc_id, n, g, count(*) AS c FROM (
           |    SELECT doc_id, n,
           |      unnest([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
           |              for i in generate_series(1, n - 2)]) AS g
           |    FROM base)
           |  GROUP BY 1, 2, 3),
           |t AS (SELECT doc_id,
           |        round(sum(CASE WHEN c > 1 THEN c ELSE 0 END)
           |              / (greatest(n - 2, 1) * 1.0), 4)
           |        AS dup_trigram_frac FROM tc GROUP BY doc_id, n)
           |SELECT u.doc_id, top_unigram_frac, top_bigram_frac, dup_trigram_frac
           |FROM u JOIN b ON u.doc_id = b.doc_id JOIN t ON u.doc_id = t.doc_id
           |ORDER BY u.doc_id""".stripMargin))

  /** PII screening + redaction: regex detection of emails, US-style
    * phone numbers, and IPv4 addresses, with the redacted text gated via
    * its md5. The corpus is synthetic token soup, so deterministic fake
    * PII is injected IN THE QUERY PREAMBLE (mirrored verbatim in the
    * oracle) — the detection/redaction machinery is exercised with real
    * hits while both engines see identical input. Patterns use [.]
    * instead of backslash escapes so Java regex (Spark) and RE2 (DuckDB)
    * parse them identically. One projection pass — no shuffle, scales
    * linearly; redaction order (email → phone → ip) is part of the
    * contract since replacement tokens must not re-match later patterns.
    */
  val t10PiiScrub = QueryDef(
    "t10_pii_scrub",
    (s, d) => {
      val emailRe = "[a-z0-9]+@[a-z0-9.]+[a-z]"
      val phoneRe = "[0-9]{3}-[0-9]{3}-[0-9]{4}"
      val ipRe = "[0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}"
      val pii = concat(col("text"),
        when(pmod(col("doc_id"), lit(7)) === 0,
          concat(lit(" contact user"), col("doc_id").cast("string"),
            lit("@mail.example.com now")))
        .when(pmod(col("doc_id"), lit(11)) === 3,
          concat(lit(" call 555-867-5309 or ping 10.0."),
            pmod(col("doc_id"), lit(256)).cast("string"), lit(".1 now")))
        .otherwise(lit("")))
      Tables.documents(s, d)
        .withColumn("pii", pii)
        .select(col("doc_id"),
          size(expr(s"regexp_extract_all(pii, '$emailRe', 0)"))
            .cast("long").as("n_emails"),
          size(expr(s"regexp_extract_all(pii, '$phoneRe', 0)"))
            .cast("long").as("n_phones"),
          size(expr(s"regexp_extract_all(pii, '$ipRe', 0)"))
            .cast("long").as("n_ips"),
          md5(regexp_replace(regexp_replace(regexp_replace(col("pii"),
            lit(emailRe), lit("<EMAIL>")),
            lit(phoneRe), lit("<PHONE>")),
            lit(ipRe), lit("<IP>"))).as("redacted_md5"))
        .withColumn("has_pii",
          (col("n_emails") + col("n_phones") + col("n_ips")) > 0)
        .orderBy(col("doc_id"))
    },
    Some("""WITH pii_docs AS (
           |  SELECT doc_id, text ||
           |    CASE WHEN doc_id % 7 = 0
           |           THEN ' contact user' || doc_id || '@mail.example.com now'
           |         WHEN doc_id % 11 = 3
           |           THEN ' call 555-867-5309 or ping 10.0.' || (doc_id % 256) || '.1 now'
           |         ELSE '' END AS pii
           |  FROM documents),
           |scored AS (
           |  SELECT doc_id,
           |    len(regexp_extract_all(pii, '[a-z0-9]+@[a-z0-9.]+[a-z]')) AS n_emails,
           |    len(regexp_extract_all(pii, '[0-9]{3}-[0-9]{3}-[0-9]{4}')) AS n_phones,
           |    len(regexp_extract_all(pii, '[0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}')) AS n_ips,
           |    md5(regexp_replace(regexp_replace(regexp_replace(pii,
           |      '[a-z0-9]+@[a-z0-9.]+[a-z]', '<EMAIL>', 'g'),
           |      '[0-9]{3}-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g'),
           |      '[0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}', '<IP>', 'g')) AS redacted_md5
           |  FROM pii_docs)
           |SELECT doc_id, n_emails, n_phones, n_ips, redacted_md5,
           |  (n_emails + n_phones + n_ips) > 0 AS has_pii
           |FROM scored ORDER BY doc_id""".stripMargin))

  /** Sequence packing for training: concatenate the corpus in doc_id
    * order and cut fixed 2048-token sequences; each document lands in the
    * sequence holding its first token (the standard concat-and-chunk
    * batching of GPT-style pipelines). The global token offset is a
    * prefix sum — computed SCALABLY as range-partition → per-partition
    * cumsum → broadcast join of per-partition offsets (one tiny
    * #partitions-row window), never a single global window sort. The
    * result is invariant to where the range boundaries fall, so the plan
    * stays deterministic while every partition works independently.
    * Output is the per-sequence manifest (docs, tokens, doc range).
    */
  /** t11's body over any documents frame —
    * [[graft.api.Graft.packSequences]]: deterministic greedy packing of
    * documents into fixed-`budget` token sequences via a global running
    * offset (per-partition prefix sums + broadcast partition offsets —
    * no single-partition sort). Unsorted.
    */
  private[graft] def packSequencesOf(docsRaw: org.apache.spark.sql.DataFrame,
                                     budget: Int = 2048)
      : org.apache.spark.sql.DataFrame = {
      val docs = docsRaw
        .select(col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("n_tokens"))
      // partition count DERIVED from the input (QueryDef.scaleOut's
      // rule — round 17): a narrow bench-scale scan widens to the
      // machine, a 100 TB scan keeps its own split count instead of
      // funneling the corpus through a hard-coded 32 range partitions.
      // The packed result is partition-count-INVARIANT by construction
      // (per-partition prefix sums + the broadcast offset join), so
      // the gate hash cannot move with the machine.
      val nParts = math.max(
        docsRaw.sparkSession.sparkContext.defaultParallelism,
        docs.rdd.getNumPartitions)
      val parted = docs.repartitionByRange(nParts, col("doc_id"))
        .withColumn("pid", spark_partition_id())
      val wLocal = org.apache.spark.sql.expressions.Window
        .partitionBy(col("pid")).orderBy(col("doc_id"))
      val local = parted
        .withColumn("local_cum", sum(col("n_tokens")).over(wLocal))
      val wOff = org.apache.spark.sql.expressions.Window
        .orderBy(col("pid"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
      val offsets = local.groupBy(col("pid"))
        .agg(sum(col("n_tokens")).as("psum"))
        .withColumn("offset", coalesce(sum(col("psum")).over(wOff), lit(0L)))
        .select(col("pid"), col("offset"))
      local.join(broadcast(offsets), "pid")
        .withColumn("start_tok",
          col("offset") + col("local_cum") - col("n_tokens"))
        .withColumn("seq_id", floor(col("start_tok") / lit(budget)))
        .groupBy(col("seq_id"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("n_tokens"),
          min(col("doc_id")).as("first_doc"),
          max(col("doc_id")).as("last_doc"))
  }

  val t11SequencePacking = QueryDef(
    "t11_sequence_packing",
    (s, d) => graft.api.Graft.packSequences(Tables.documents(s, d))
      .orderBy(col("seq_id")),
    Some("""WITH c AS (
           |  SELECT doc_id, len(string_split(text, ' ')) AS n_tokens,
           |    sum(len(string_split(text, ' '))) OVER (ORDER BY doc_id) AS cum
           |  FROM documents)
           |SELECT cast(floor((cum - n_tokens) / 2048.0) AS BIGINT) AS seq_id,
           |  count(*) AS n_docs,
           |  cast(sum(n_tokens) AS BIGINT) AS n_tokens,
           |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
           |FROM c GROUP BY 1 ORDER BY 1""".stripMargin))

  /** Domain-mixture (temperature) sampling: per-source weights
    * proportional to count^0.5 (the multilingual-sampling temperature
    * trick), a keep-rate that retargets the corpus to half its size, and
    * a DETERMINISTIC per-doc sampling decision from the top 60 bits of
    * md5(doc_id) — so both engines agree doc-by-doc without any RNG.
    * Keep comparisons happen in float so double summation-order noise in
    * the weight normalizer can never flip a decision. Per-source summary
    * out; the doc-level keep column is the same expression un-aggregated.
    * Scale: one count per source (tiny), broadcast rates back over the
    * corpus — a linear pass.
    */
  val t12DomainMixture = QueryDef(
    "t12_domain_mixture",
    (s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"), col("source"))
      val counts = docs.groupBy(col("source")).agg(count(lit(1)).as("c"))
      val tot = counts.agg(sum(sqrt(col("c"))).as("z"), sum(col("c")).as("n"))
      val rates = counts.crossJoin(broadcast(tot))
        .withColumn("weight", sqrt(col("c")) / col("z"))
        .withColumn("rate",
          least(lit(1.0), lit(0.5) * col("n") * col("weight") / col("c")))
      val u = docs.withColumn("u",
        hash60(col("doc_id")) / lit(1152921504606846976.0))
      u.join(broadcast(rates), "source")
        .groupBy(col("source"))
        .agg(first(col("c")).as("n_docs"),
          round(first(col("weight")).cast("float"), 6).as("weight"),
          round(first(col("rate")).cast("float"), 6).as("rate"),
          sum(when(col("u").cast("float") < col("rate").cast("float"), 1L)
            .otherwise(0L)).as("n_kept"))
        .orderBy(col("source"))
    },
    Some(s"""WITH counts AS (
            |  SELECT source, count(*) AS c FROM documents GROUP BY source),
            |tot AS (SELECT sum(sqrt(c)) AS z, sum(c) AS n FROM counts),
            |rates AS (
            |  SELECT source, c, sqrt(c) / z AS weight,
            |    least(1.0, 0.5 * n * (sqrt(c) / z) / c) AS rate
            |  FROM counts, tot),
            |u AS (
            |  SELECT doc_id, source,
            |    ${hash60Sql("doc_id")} / 1152921504606846976.0 AS u
            |  FROM documents)
            |SELECT r.source, r.c AS n_docs,
            |  round(cast(r.weight AS FLOAT), 6) AS weight,
            |  round(cast(r.rate AS FLOAT), 6) AS rate,
            |  cast(sum(CASE WHEN cast(u.u AS FLOAT) < cast(r.rate AS FLOAT)
            |                THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
            |FROM u JOIN rates r USING (source)
            |GROUP BY 1, 2, 3, 4 ORDER BY r.source""".stripMargin))

  /** TF-IDF top terms: classic tf·ln((N+1)/(df+1)) scoring with the top
    * 3 terms per document. The tf·ln product is float-cast BEFORE
    * rounding (the t17/e06 protocol — JVM Math.log and DuckDB's libm ln
    * can differ in the last ulp, and a double landing within an ulp of a
    * 0.5e-6 boundary would flip the rounded score), and ranking happens
    * on that same rounded-cast score (ties → term asc) so rank and
    * output agree across engines. Scale: explode + two
    * map-side-combinable aggregations + a per-doc window — the
    * document-frequency table shuffles once on term.
    */
  val t13TfidfTopTerms = QueryDef(
    "t13_tfidf_top_terms",
    (s, d) => {
      val toks = Tables.documents(s, d)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      val tf = toks.groupBy(col("doc_id"), col("term"))
        .agg(count(lit(1)).as("tf"))
      val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      val n = Tables.documents(s, d).agg(count(lit(1)).as("n_docs"))
      val scored = tf.join(dfreq, "term").crossJoin(broadcast(n))
        .withColumn("tfidf",
          round((col("tf") * log((col("n_docs") + 1.0) / (col("df") + 1.0)))
            .cast("float"), 6))
      Ranking.topK(scored, "doc_id", "tfidf", "term", 3, rank = "rnk")
        .select(col("doc_id"), col("rnk"), col("term"), col("tfidf"))
        .orderBy(col("doc_id"), col("rnk"))
    },
    Some("""WITH toks AS (
           |  SELECT doc_id, unnest(string_split(text, ' ')) AS term
           |  FROM documents),
           |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
           |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
           |n AS (SELECT count(*) AS n_docs FROM documents),
           |scored AS (
           |  SELECT doc_id, term,
           |    round(CAST(tf * ln((n_docs + 1.0) / (df + 1.0)) AS FLOAT), 6) AS tfidf
           |  FROM tf JOIN df USING (term), n),
           |ranked AS (
           |  SELECT doc_id, term, tfidf,
           |    row_number() OVER (PARTITION BY doc_id
           |      ORDER BY tfidf DESC, term) AS rnk
           |  FROM scored)
           |SELECT doc_id, rnk, term, tfidf FROM ranked
           |WHERE rnk <= 3 ORDER BY doc_id, rnk""".stripMargin))

  /** Deterministic corpus shuffle + sharding: the training-order shuffle
    * done as a pure function of the data — shard = md5(doc_id) mod 32,
    * within-shard order = (md5, doc_id) — so any re-run of the pipeline
    * (or a resumed job) produces the identical example order without
    * coordinating an RNG across executors. Emits the per-shard manifest
    * with the first three docs in shuffled order (pinning the order
    * itself under the gate, not just the membership). Scale: one shuffle
    * on the shard key; shard count is the knob that matches output files
    * to downstream reader parallelism.
    */
  val t14ShardManifest = QueryDef(
    "t14_shard_manifest",
    (s, d) => {
      val nShards = 32
      Tables.documents(s, d)
        .select(col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("n_tokens"))
        .withColumn("h", hash60(col("doc_id")))
        .withColumn("shard", pmod(col("h"), lit(nShards.toLong)))
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("n_tokens"),
          concat_ws(",", slice(transform(
            array_sort(collect_list(struct(col("h"), col("doc_id")))),
            x => x.getField("doc_id")), 1, 3)).as("head3"))
        .orderBy(col("shard"))
    },
    Some(s"""WITH hashed AS (
            |  SELECT doc_id, len(string_split(text, ' ')) AS n_tokens,
            |    ${hash60Sql("doc_id")} AS h
            |  FROM documents)
            |SELECT h % 32 AS shard, count(*) AS n_docs,
            |  cast(sum(n_tokens) AS BIGINT) AS n_tokens,
            |  array_to_string((list(doc_id ORDER BY h, doc_id))[1:3], ',') AS head3
            |FROM hashed GROUP BY 1 ORDER BY shard""".stripMargin))

  /** C4-style composite quality filter (Raffel et al. 2020 §2.2 family):
    * five document-local rules — minimum length, sane mean token length,
    * low symbol ratio, bounded top-unigram repetition, contains an
    * English stopword — combined into a bitmask plus the final keep
    * verdict. Every rule INCLUDING the top-unigram count evaluates
    * per-row with higher-order array functions (the d11 technique:
    * `array_max(transform(array_distinct(toks), t -> size(filter(toks,
    * x -> x = t))))`), so the whole filter is ONE zero-shuffle
    * projection over one scan — no explode, no doc_id shuffle; the only
    * exchange is the gate's output sort. The filter composition a real
    * pipeline runs FIRST, before any pairwise dedup.
    */
  /** t15's body over any documents frame — [[graft.api.Graft.c4Filter]]. */
  private[graft] def c4FilterOf(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
      val toks = size(split(col("text"), " ")).cast("double")
      val meanLen = (length(col("text")).cast("double") - toks + 1) / toks
      val symbolRatio =
        (length(col("text")) -
          length(regexp_replace(col("text"), lit("[^a-z0-9 ]"), lit(""))))
          .cast("double") / length(col("text"))
      docs
        .withColumn("toksArr", split(col("text"), " "))
        // max multiplicity = longest run in the SORTED token array: one
        // O(n log n) sort + one linear aggregate pass, instead of the
        // O(distinct·n) filter-per-distinct-token form whose nested
        // lambdas allocate a fresh array per token (higher-order
        // functions don't codegen, so allocation count is the cost
        // driver)
        .withColumn("top_uni",
          expr("aggregate(array_sort(toksArr), " +
            "struct('' AS prev, 0 AS run, 0 AS best), " +
            "(acc, x) -> struct(x AS prev, " +
            "  IF(x = acc.prev, acc.run + 1, 1) AS run, " +
            "  GREATEST(acc.best, IF(x = acc.prev, acc.run + 1, 1)) AS best), " +
            "acc -> acc.best)").cast("double")
            / size(col("toksArr")))
        .withColumn("r_len", toks >= 50)
        .withColumn("r_mean", meanLen >= 3 && meanLen <= 10)
        .withColumn("r_sym", symbolRatio < 0.1)
        .withColumn("r_stop",
          col("text").rlike("(^| )(the|and|of|a)( |$)"))
        .withColumn("r_rep", col("top_uni") < 0.2)
        .select(col("doc_id"),
          (when(col("r_len"), 1).otherwise(0) +
            when(col("r_mean"), 2).otherwise(0) +
            when(col("r_sym"), 4).otherwise(0) +
            when(col("r_stop"), 8).otherwise(0) +
            when(col("r_rep"), 16).otherwise(0)).cast("long").as("rule_mask"),
          (col("r_len") && col("r_mean") && col("r_sym") &&
            col("r_stop") && col("r_rep")).as("keep"))
  }

  val t15C4Filter = QueryDef(
    "t15_c4_filter",
    (s, d) => graft.api.Graft.c4Filter(
      QueryDef.scaleOut(Tables.documents(s, d)))
      .orderBy(col("doc_id")),
    Some("""WITH uni AS (
           |  SELECT doc_id, max(c) / (max(n) * 1.0) AS top_uni FROM (
           |    SELECT doc_id, n, tok, count(*) AS c FROM (
           |      SELECT doc_id, len(string_split(text, ' ')) AS n,
           |        unnest(string_split(text, ' ')) AS tok
           |      FROM documents)
           |    GROUP BY 1, 2, 3)
           |  GROUP BY doc_id),
           |rules AS (
           |  SELECT d.doc_id,
           |    len(string_split(text, ' ')) >= 50 AS r_len,
           |    ((length(text) - len(string_split(text, ' ')) + 1.0)
           |      / len(string_split(text, ' '))) BETWEEN 3 AND 10 AS r_mean,
           |    (length(text) - length(regexp_replace(text, '[^a-z0-9 ]', '', 'g')))
           |      * 1.0 / length(text) < 0.1 AS r_sym,
           |    regexp_matches(text, '(^| )(the|and|of|a)( |$)') AS r_stop,
           |    u.top_uni < 0.2 AS r_rep
           |  FROM documents d JOIN uni u ON d.doc_id = u.doc_id)
           |SELECT doc_id,
           |  cast((CASE WHEN r_len THEN 1 ELSE 0 END) +
           |       (CASE WHEN r_mean THEN 2 ELSE 0 END) +
           |       (CASE WHEN r_sym THEN 4 ELSE 0 END) +
           |       (CASE WHEN r_stop THEN 8 ELSE 0 END) +
           |       (CASE WHEN r_rep THEN 16 ELSE 0 END) AS BIGINT) AS rule_mask,
           |  (r_len AND r_mean AND r_sym AND r_stop AND r_rep) AS keep
           |FROM rules ORDER BY doc_id""".stripMargin))

  /** Stratified train/val/test split: WITHIN each source, docs split
    * 80/10/10 by md5(doc_id) bucket — deterministic (re-runs and
    * late-arriving partitions agree), leakage-free (the hash ignores
    * every feature), and stratified (each source keeps the same
    * proportions, so no domain drifts between splits). Emits the
    * (source, split) contingency table. One linear pass + a tiny agg.
    */
  /** The per-doc deterministic 80/10/10 split assignment — what a user
    * actually joins into a pipeline ([[graft.api.Graft.assignSplits]]);
    * the t16 gate aggregates it into the contingency table.
    */
  private[graft] def splitAssigned(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val bucket = pmod(hash60(col("doc_id")), lit(10L))
    docs.withColumn("split",
      when(bucket <= 7, "train").when(bucket === 8, "val")
        .otherwise("test"))
  }

  val t16StratifiedSplit = QueryDef(
    "t16_stratified_split",
    (s, d) => graft.api.Graft.assignSplits(Tables.documents(s, d))
      .groupBy(col("source"), col("split"))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(split(col("text"), " "))).cast("long").as("n_tokens"))
      .orderBy(col("source"), col("split")),
    Some(s"""WITH bucketed AS (
            |  SELECT source, text,
            |    ${hash60Sql("doc_id")} % 10 AS b
            |  FROM documents)
           |SELECT source,
           |  CASE WHEN b <= 7 THEN 'train' WHEN b = 8 THEN 'val'
           |       ELSE 'test' END AS split,
           |  count(*) AS n_docs,
           |  cast(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
           |FROM bucketed GROUP BY 1, 2 ORDER BY source, split""".stripMargin))

  /** Unigram-LM perplexity proxy (the CCNet quality signal, with the
    * corpus's own unigram distribution standing in for the external
    * KenLM): p(tok) = corpus frequency, per-doc score = avg -ln p over
    * its tokens — low = in-distribution text, high = unusual. The
    * per-doc sum is float-cast before rounding: Math.log (JVM) and libm
    * log (DuckDB) may differ in the last ulp and token order differs
    * per engine, so the double sum is only float-stable, same protocol
    * as e06. Scale: one global count (map-side combinable), broadcast-
    * or shuffle-joined back to the exploded tokens, one per-doc agg.
    */
  val t17UnigramPerplexity = QueryDef(
    "t17_unigram_perplexity",
    (s, d) => {
      val toks = Tables.documents(s, d)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      val freqs = toks.groupBy(col("tok")).agg(count(lit(1)).as("c"))
      val total = freqs.agg(sum(col("c")).as("total"))
      toks.join(freqs, "tok").crossJoin(broadcast(total))
        .withColumn("neglogp", -log(col("c") / col("total").cast("double")))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_tokens"),
          round((sum(col("neglogp")) / count(lit(1))).cast("float"), 4)
            .as("avg_neglogp"))
        .orderBy(col("doc_id"))
    },
    Some("""WITH toks AS (
           |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok
           |  FROM documents),
           |freqs AS (SELECT tok, count(*) AS c FROM toks GROUP BY tok),
           |total AS (SELECT sum(c) AS total FROM freqs)
           |SELECT doc_id, count(*) AS n_tokens,
           |  round(CAST(sum(-ln(c / CAST(total AS DOUBLE))) / count(*) AS FLOAT), 4)
           |    AS avg_neglogp
           |FROM toks JOIN freqs USING (tok), total
           |GROUP BY doc_id ORDER BY doc_id""".stripMargin))

  /** Per-source domain divergence: KL(source ‖ corpus) over unigram
    * distributions — the standard "how far is this domain from the
    * mixture" diagnostic when weighting pre-training sources. Computed
    * as Σ p_s(t)·ln(p_s(t)/p(t)) over the source's tokens; float-cast
    * before rounding for the same summation-order reasons as t17.
    * Scale: two shuffles on token (per-source and global counts), then
    * a join between two token-keyed aggregates.
    */
  val t18DomainDivergence = QueryDef(
    "t18_domain_divergence",
    (s, d) => {
      val toks = Tables.documents(s, d)
        .select(col("source"), explode(split(col("text"), " ")).as("tok"))
      val bySrc = toks.groupBy(col("source"), col("tok"))
        .agg(count(lit(1)).as("cs"))
      val srcTotals = bySrc.groupBy(col("source"))
        .agg(sum(col("cs")).as("ns"))
      val global = toks.groupBy(col("tok")).agg(count(lit(1)).as("c"))
      val globalTotal = global.agg(sum(col("c")).as("n"))
      bySrc.join(srcTotals, "source").join(global, "tok")
        .crossJoin(broadcast(globalTotal))
        .withColumn("term",
          (col("cs") / col("ns").cast("double")) *
            log((col("cs") / col("ns").cast("double")) /
              (col("c") / col("n").cast("double"))))
        .groupBy(col("source"))
        .agg(round(sum(col("term")).cast("float"), 4).as("kl_divergence"))
        .orderBy(col("source"))
    },
    Some("""WITH toks AS (
           |  SELECT source, unnest(string_split(text, ' ')) AS tok
           |  FROM documents),
           |by_src AS (
           |  SELECT source, tok, count(*) AS cs FROM toks GROUP BY 1, 2),
           |src_totals AS (
           |  SELECT source, sum(cs) AS ns FROM by_src GROUP BY source),
           |global AS (SELECT tok, count(*) AS c FROM toks GROUP BY tok),
           |gt AS (SELECT sum(c) AS n FROM global)
           |SELECT b.source,
           |  round(CAST(sum((cs / CAST(ns AS DOUBLE))
           |    * ln((cs / CAST(ns AS DOUBLE)) / (c / CAST(n AS DOUBLE)))) AS FLOAT), 4)
           |    AS kl_divergence
           |FROM by_src b JOIN src_totals USING (source)
           |  JOIN global USING (tok), gt
           |GROUP BY b.source ORDER BY b.source""".stripMargin))

  /** Heavy hitters via a native Count-Min Sketch
    * ([[graft.functions.CountMinAgg]], a TypedImperativeAggregate):
    * the whole token stream reduces to ONE 4×16-counter buffer
    * (map-side combined, O(1) memory regardless of corpus size), then
    * the top-20 exact tokens are compared against their sketch
    * estimates — est ≥ exact always, overestimate bounded by the
    * sketch's collisions. Both the exact counts AND every sketch cell
    * are deterministic: token hashes are the shared md5-derived
    * [[hash60]] reduced into [0, prime), the universal-hash
    * coefficients are inlined as literals into the oracle (the d09
    * technique), and DuckDB rebuilds the ENTIRE sketch with plain
    * GROUP BYs — so the gate checks the sketch mechanics themselves,
    * not just the exact side. At 100 TB the exact groupBy here exists
    * only to verify the sketch; the sketch alone is the production
    * path (one tiny aggregate, no token-keyed shuffle).
    */
  val t19HeavyHittersCms = QueryDef(
    "t19_heavy_hitters_cms",
    (s, d) => {
      val depth = 4
      val width = 16
      val seed = 7L
      val prime = 2038074743L
      val (a, b) = graft.functions.MinHashArray.coefficients(depth, seed)
      val toks = Tables.documents(s, d)
        .select(explode(split(col("text"), " ")).as("tok"))
        .withColumn("hp", pmod(hash60(col("tok")), lit(prime)))
      val cms = toks.agg(graft.functions.CountMinAgg
        .count_min(col("hp"), depth, width, seed, prime).as("cms"))
      val top = toks.groupBy(col("tok"), col("hp"))
        .agg(count(lit(1)).as("exact_n"))
        .orderBy(col("exact_n").desc, col("tok")).limit(20)
      val estCells = (0 until depth).map { i =>
        element_at(col("cms"),
          (pmod(col("hp") * a(i) + b(i), lit(prime)) % width).cast("int")
            + lit(i * width) + lit(1))
      }
      top.crossJoin(broadcast(cms))
        .withColumn("est_n", least(estCells: _*))
        .select(col("tok"), col("exact_n"), col("est_n"),
          (col("est_n") - col("exact_n")).as("overestimate"))
        .orderBy(col("exact_n").desc, col("tok"))
    },
    Some {
      val (a, b) = graft.functions.MinHashArray.coefficients(4, 7L)
      val prime = 2038074743L
      val coeffRows = (0 until 4)
        .map(i => s"(${i}, ${a(i)}, ${b(i)})").mkString(", ")
      s"""WITH toks AS (
         |  SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
         |h AS (
         |  SELECT tok, ${hash60Sql("tok")} % $prime AS hp FROM toks),
         |coeffs(i, a, b) AS (VALUES $coeffRows),
         |cells AS (
         |  SELECT i, ((hp * a + b) % $prime) % 16 AS idx, count(*) AS c
         |  FROM h CROSS JOIN coeffs GROUP BY 1, 2),
         |top AS (
         |  SELECT tok, hp, count(*) AS exact_n FROM h GROUP BY 1, 2
         |  ORDER BY exact_n DESC, tok LIMIT 20),
         |est AS (
         |  SELECT t.tok, t.exact_n, min(c.c) AS est_n
         |  FROM top t CROSS JOIN coeffs co
         |  JOIN cells c ON c.i = co.i
         |    AND c.idx = ((t.hp * co.a + co.b) % $prime) % 16
         |  GROUP BY t.tok, t.exact_n)
         |SELECT tok, exact_n, est_n, est_n - exact_n AS overestimate
         |FROM est ORDER BY exact_n DESC, tok""".stripMargin
    })

  /** DSIR-style importance weights (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling"): score every doc
    * by log(p_target/p_raw) under hashed-unigram bag models — the
    * standard way to upsample corpus documents that look like a target
    * domain without training a classifier. Target = the `lang='en'`
    * slice; features = tokens hashed into 1024 buckets (the same
    * md5-derived [[hash60]] primitive as t12/t14/t16, so the oracle
    * replays the hashing exactly); both distributions add-1 smoothed
    * over the bucket vocabulary. A doc's weight is the sum of its
    * tokens' bucket log-ratios; resampling then keeps docs
    * proportionally to exp(weight).
    *
    * Scale shape: two token-bucket aggregates (map-side combined) build
    * the 1024-row models, which broadcast back onto one pass over the
    * token stream — no joins between big tables, no driver loops. The
    * per-doc sum is float-cast before rounding (t17's protocol) to
    * absorb summation-order ulps. Both engines evaluate the log-ratio
    * with identical operand order, so pre-rounding values are
    * bit-identical IEEE.
    */
  /** Bucket count of the DSIR hashed-unigram models (t20 + the
    * streaming scorer share it).
    */
  private[graft] val dsirBuckets = 1024

  /** Bucketed token hash shared by t20's two model aggregates and its
    * scoring pass.
    */
  private def dsirToks(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), col("lang"),
        explode(split(col("text"), " ")).as("tok"))
      .withColumn("b", pmod(hash60(col("tok")), lit(dsirBuckets.toLong)))

  /** t20's (bucket, log-ratio) model table — 1024 rows, the thing a
    * deployment builds once per (target, corpus) pair and then applies
    * to any number of documents (batch via t20's join, streams via
    * [[graft.streaming.DocStreams.dsirScore]]).
    */
  private[graft] def dsirLogRatio(s: SparkSession, d: String): DataFrame = {
    val toks = dsirToks(s, d)
    val tgt = toks.filter(col("lang") === "en")
      .groupBy(col("b")).agg(count(lit(1)).as("ct"))
    val raw = toks.groupBy(col("b")).agg(count(lit(1)).as("cr"))
    val nt = tgt.agg(sum(col("ct")).as("nt"))
    val nr = raw.agg(sum(col("cr")).as("nr"))
    raw.join(tgt, Seq("b"), "left")
      .crossJoin(broadcast(nt)).crossJoin(broadcast(nr))
      .select(col("b"),
        log(((coalesce(col("ct"), lit(0L)) + 1.0) / (col("nt") + dsirBuckets)) /
            ((col("cr") + 1.0) / (col("nr") + dsirBuckets))).as("lr"))
  }

  /** Driver-side form of the models for broadcast-literal application:
    * the ≤1024-row log-ratio map (a bounded aggregate pull, like the
    * e06/e09 centroid pulls) plus the smoothed log-ratio of a bucket
    * never seen in the corpus, ln((nr+B)/(nt+B)) — what add-1 smoothing
    * assigns when ct = cr = 0 (only reachable by out-of-corpus data,
    * e.g. a scored stream).
    */
  private[graft] def dsirModels(s: SparkSession, d: String): (Map[Long, Double], Double) = {
    val lrMap = dsirLogRatio(s, d).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val counts = Tables.documents(s, d)
      .agg(
        sum(when(col("lang") === "en", size(split(col("text"), " ")))
          .otherwise(0)).as("nt"),
        sum(size(split(col("text"), " "))).as("nr"))
      .head()
    val unseen = math.log((counts.getLong(1).toDouble + dsirBuckets) /
      (counts.getLong(0).toDouble + dsirBuckets))
    (lrMap, unseen)
  }

  val t20DsirWeights = QueryDef(
    "t20_dsir_weights",
    (s, d) => {
      dsirToks(s, d).join(broadcast(dsirLogRatio(s, d)), Seq("b"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_tokens"),
          round(sum(col("lr")).cast("float"), 4).as("dsir_logweight"))
        .orderBy(col("doc_id"))
    },
    Some(s"""WITH toks AS (
            |  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok
            |  FROM documents),
            |bt AS (SELECT doc_id, lang,
            |         ${hash60Sql("tok")} % 1024 AS b FROM toks),
            |tgt AS (SELECT b, count(*) AS ct FROM bt WHERE lang = 'en' GROUP BY b),
            |raw AS (SELECT b, count(*) AS cr FROM bt GROUP BY b),
            |nt AS (SELECT sum(ct) AS nt FROM tgt),
            |nr AS (SELECT sum(cr) AS nr FROM raw),
            |lr AS (
            |  SELECT raw.b,
            |    ln(((coalesce(ct, 0) + 1.0) / (nt + 1024))
            |       / ((cr + 1.0) / (nr + 1024))) AS lr
            |  FROM raw LEFT JOIN tgt USING (b), nt, nr)
            |SELECT doc_id, count(*) AS n_tokens,
            |  round(CAST(sum(lr) AS FLOAT), 4) AS dsir_logweight
            |FROM bt JOIN lr USING (b)
            |GROUP BY doc_id ORDER BY doc_id""".stripMargin))

  /** Classifier-style quality scoring: inference of a hashed linear
    * model (fastText-bag-of-hashed-ngrams shape, Joulin et al. 2017) —
    * each token hashes to one of 1024 weight buckets, the document's
    * logit is the MEAN bucket weight, and the keep decision thresholds
    * the sigmoid at 0.5. The weights here are a deterministic stand-in
    * for trained parameters (derived arithmetically from the bucket id,
    * identically on both engines), because what this operator certifies
    * is the INFERENCE plan, not a particular model: a 1024-row weight
    * table broadcast onto one linear token pass, one map-side-combined
    * aggregate per document — the exact shape a real quality classifier
    * (trained elsewhere) runs over a 100 TB corpus, and the shape t12's
    * mixture sampling consumes downstream. Cross-engine protocol: the
    * shared md5 hash60 bucketing, double mean, float cast before the
    * 4-decimal round (absorbing summation-order ulps), and `keep`
    * computed FROM the rounded value so the gate covers the decision
    * too.
    */
  /** t21's per-bucket weight, a pure function of the bucket id — shared
    * with the streaming scorer ([[graft.streaming.DocStreams.qualityScore]])
    * so the two surfaces cannot drift, and mirrored literally in t21's
    * oracle SQL.
    */
  private[graft] def classifierWeight(b: Column): Column =
    (b * 2654435761L) % 1999L / 999.0 - 1.0

  /** t21's body over an arbitrary documents frame (doc_id, text) — the
    * [[graft.api.Graft.qualityClassify]] facade path. Unsorted; the
    * gate adds its output sort.
    */
  private[graft] def classifierScores(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val buckets = 1024L
    val weights = docs.sparkSession.range(buckets)
      .select(col("id").as("b"), classifierWeight(col("id")).as("w"))
    val toks = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .withColumn("b", pmod(hash60(col("tok")), lit(buckets)))
    toks.join(broadcast(weights), Seq("b"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("w")).as("sw"))
      .select(col("doc_id"), col("n_tokens"),
        round((lit(1.0) / (lit(1.0) + exp(-col("sw") / col("n_tokens"))))
          .cast("float"), 4).as("quality_prob"))
      .withColumn("keep", col("quality_prob") >= 0.5)
  }

  val t21QualityClassifier = QueryDef(
    "t21_quality_classifier",
    (s, d) => graft.api.Graft.qualityClassify(Tables.documents(s, d))
      .orderBy(col("doc_id")),
    Some(s"""WITH toks AS (
            |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok
            |  FROM documents),
            |bt AS (SELECT doc_id,
            |         ${hash60Sql("tok")} % 1024 AS b FROM toks),
            |wt AS (SELECT i AS b, (i * 2654435761) % 1999 / 999.0 - 1.0 AS w
            |       FROM generate_series(0, 1023) t(i)),
            |agg AS (
            |  SELECT doc_id, count(*) AS n_tokens, sum(w) AS sw
            |  FROM bt JOIN wt USING (b) GROUP BY doc_id)
            |SELECT doc_id, n_tokens,
            |  round(CAST(1.0 / (1.0 + exp(-sw / n_tokens)) AS FLOAT), 4)
            |    AS quality_prob,
            |  round(CAST(1.0 / (1.0 + exp(-sw / n_tokens)) AS FLOAT), 4) >= 0.5
            |    AS keep
            |FROM agg ORDER BY doc_id""".stripMargin))

  /** Bigram-LM perplexity proxy with add-one smoothing — one order up
    * from t17's unigram signal and the shape of the CCNet/KenLM filter
    * (a real deployment loads a pre-trained n-gram model; here the
    * corpus's own bigram table stands in, which is exactly how one
    * scores a candidate corpus against a trusted one): p(tok|prev) =
    * (c(prev,tok) + 1) / (c(prev) + V), per-doc score = avg −ln p over
    * positions 2..n. The per-doc sum is float-cast before rounding
    * (t17's cross-engine log/summation-order protocol). Scale: two
    * token-keyed map-side-combinable aggregates (bigram + unigram
    * counts), one broadcast vocab scalar, then a join back onto the
    * bigram stream and a per-doc agg — all linear passes; the model
    * tables are vocabulary-sized, not corpus-sized, so at 100 TB they
    * behave like t20's broadcast models.
    */
  val t22BigramPerplexity = QueryDef(
    "t22_bigram_perplexity",
    (s, d) => {
      val arr = Tables.documents(s, d)
        .select(col("doc_id"), split(col("text"), " ").as("ts"))
      // pos is 0-based; element_at is 1-based, so ts[pos] is the PREVIOUS
      // token of the one exploded at pos
      val pairs = arr
        .select(col("doc_id"), col("ts"),
          posexplode(col("ts")).as(Seq("pos", "tok")))
        .filter(col("pos") >= 1)
        .select(col("doc_id"), element_at(col("ts"), col("pos")).as("prev"),
          col("tok"))
      val uni = arr.select(explode(col("ts")).as("tok"))
        .groupBy(col("tok")).agg(count(lit(1)).as("c1"))
      val big = pairs.groupBy(col("prev"), col("tok"))
        .agg(count(lit(1)).as("c2"))
      val vocab = uni.agg(count(lit(1)).as("vc"))
      pairs.join(big, Seq("prev", "tok"))
        .join(uni.withColumnRenamed("tok", "prev"), Seq("prev"))
        .crossJoin(broadcast(vocab))
        .withColumn("neglogp",
          -log((col("c2") + lit(1.0)) / (col("c1") + col("vc"))))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_bigrams"),
          round((sum(col("neglogp")) / count(lit(1))).cast("float"), 4)
            .as("avg_neglogp"))
        .orderBy(col("doc_id"))
    },
    Some("""WITH toks AS (
           |  SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
           |pairs AS (
           |  SELECT doc_id, ts[i - 1] AS prev, ts[i] AS tok
           |  FROM toks, LATERAL unnest(generate_series(2, len(ts))) AS t(i)),
           |uni AS (
           |  SELECT tok, count(*) AS c1
           |  FROM (SELECT unnest(ts) AS tok FROM toks) GROUP BY tok),
           |big AS (SELECT prev, tok, count(*) AS c2 FROM pairs GROUP BY 1, 2),
           |v AS (SELECT count(*) AS vc FROM uni)
           |SELECT p.doc_id, count(*) AS n_bigrams,
           |  round(CAST(sum(-ln((c2 + 1.0) / (c1 + vc))) / count(*) AS FLOAT), 4)
           |    AS avg_neglogp
           |FROM pairs p JOIN big USING (prev, tok)
           |  JOIN uni u ON p.prev = u.tok, v
           |GROUP BY p.doc_id ORDER BY p.doc_id""".stripMargin))

  /** Quality-decile binning — the data-scheduling stage that follows
    * scoring (train on the top deciles, downsample the rest — the
    * FineWeb/DataComp "quality annealing" shape): documents rank by
    * t02's rounded quality score (ties to the lower doc_id — a unique
    * total order, so ntile is deterministic on both engines; the 4dp
    * rounding is t02's own gated cross-engine protocol), split into 10
    * ntile buckets, and each bin reports its doc/token mass and score
    * range — the table a mixture scheduler consumes. Scale note: the
    * exact global ntile needs a total sort; the 100 TB variant computes
    * decile BOUNDARIES from an approxQuantile sketch, broadcasts 9
    * doubles, and bins in a projection — same output table, no global
    * sort. The gate certifies the exact form.
    */
  /** t23's exact body over an arbitrary documents frame (doc_id, text)
    * — the [[graft.api.Graft.qualityBins]] facade path. Carries the
    * deliberate single-partition ntile sort; the approx variant below
    * is the scale path.
    */
  private[graft] def qualityBinsOf(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val toks = size(split(col("text"), " ")).cast("double")
    val dist = size(array_distinct(split(col("text"), " "))).cast("double")
    val meanLen = (length(col("text")).cast("double") - toks + 1) / toks
    val scored = docs
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_toks"),
        round(meanLen * 0.2 + dist / toks * 0.8, 4).as("q"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("q").desc, col("doc_id"))
    scored.withColumn("decile", ntile(10).over(w).cast("long"))
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("n_tokens"),
        min(col("q")).as("q_min"), max(col("q")).as("q_max"))
      .orderBy(col("decile"))
  }

  val t23QualityBins = QueryDef(
    "t23_quality_bins",
    (s, d) => graft.api.Graft.qualityBins(Tables.documents(s, d)),
    Some("""WITH scored AS (
           |  SELECT doc_id, len(string_split(text, ' ')) AS n_toks,
           |    round(((length(text) - len(string_split(text, ' ')) + 1.0)
           |           / len(string_split(text, ' '))) * 0.2 +
           |          (len(list_distinct(string_split(text, ' ')))
           |           * 1.0 / len(string_split(text, ' '))) * 0.8, 4) AS q
           |  FROM documents),
           |binned AS (
           |  SELECT n_toks, q,
           |    CAST(ntile(10) OVER (ORDER BY q DESC, doc_id) AS BIGINT) AS decile
           |  FROM scored)
           |SELECT decile, count(*) AS n_docs,
           |  CAST(sum(n_toks) AS BIGINT) AS n_tokens,
           |  min(q) AS q_min, max(q) AS q_max
           |FROM binned GROUP BY decile ORDER BY decile""".stripMargin))

  /** The 100 TB form of [[t23QualityBins]]: decile BOUNDARIES from an
    * approxQuantile sketch (9 doubles pulled to the driver), then the
    * binning is a pure projection over literal boundaries — no global
    * sort, no window, no shuffle beyond the 10-row output agg. Bin
    * membership at exactly-tied boundary scores differs from the exact
    * ntile's doc_id tie-split (a sketch cannot split a tie), which is
    * why the exact form remains the gate; TextBinsApproxSpec bounds the
    * drift instead.
    */
  private[graft] def qualityBinsApprox(s: SparkSession, d: String)
      : org.apache.spark.sql.DataFrame = {
    val toks = size(split(col("text"), " ")).cast("double")
    val dist = size(array_distinct(split(col("text"), " "))).cast("double")
    val meanLen = (length(col("text")).cast("double") - toks + 1) / toks
    val scored = Tables.documents(s, d)
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_toks"),
        round(meanLen * 0.2 + dist / toks * 0.8, 4).as("q"))
    val bounds = scored.stat
      .approxQuantile("q", (1 to 9).map(_ / 10.0).toArray, 0.001)
    // ascending p10..p90 boundaries; decile 1 = top scores
    val boundsCol = array(bounds.map(lit(_)): _*)
    scored
      .withColumn("decile",
        (lit(10) - aggregate(boundsCol, lit(0),
          (acc, b) => acc + when(col("q") > b, 1).otherwise(0))).cast("long"))
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("n_tokens"),
        min(col("q")).as("q_min"), max(col("q")).as("q_max"))
      .orderBy(col("decile"))
  }

  /** Per-source distinct-token cardinality via a KMV (bottom-k /
    * k-minimum-values) sketch, checked against the exact count — the
    * deterministic cousin of HyperLogLog and the second sketch family
    * after t19's Count-Min: vocabulary sizes per source are what
    * mixture weighting and dedup-rate estimation consume, and at
    * 100 TB nobody counts them exactly. KMV estimate = (k−1)·2^60 /
    * kth-smallest distinct hash (k = 64, the shared md5 [[hash60]], so
    * the whole sketch — including which hashes it retains — replays in
    * SQL). A source with < k distinct hashes reports its exact count
    * (the sketch isn't full). Like t19, the exact side here exists to
    * verify the sketch; production keeps only the k smallest hashes
    * per source — 512 bytes, mergeable by union-then-retain-k, which
    * is what makes it a sketch and not a sample. Scale: one
    * token-keyed distinct shuffle, then a per-source bottom-k (the
    * TopKPerKey custom operator's shape); everything after is
    * per-source arithmetic on 64 longs.
    */
  /** (source, h) distinct token hashes — the KMV input, shared by the
    * t24 gate and the [[graft.api.Graft.distinctTokenSketch]] facade.
    */
  private[graft] def tokenHashes(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    docs.select(col("source"), explode(split(col("text"), " ")).as("tok"))
      .select(col("source"), hash60(col("tok")).as("h"))
      .distinct()

  /** The KMV sketch proper over a (source, h) frame: bottom-k per
    * source via the TopKPerKey custom operator — a bounded k-entry
    * heap per key on both the partial (map) and final sides, vs a
    * row_number window that would SORT every distinct hash per source
    * just to keep k (no tiebreak needed: h is distinct within source).
    * Returns (source, n_in_sketch, kth_min).
    */
  private[graft] def kmvParts(hashed: org.apache.spark.sql.DataFrame,
                              k: Int): org.apache.spark.sql.DataFrame =
    graft.plans.TopK
      .perKey(hashed, Seq("source"), col("h"), k)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_in_sketch"), max(col("h")).as("kth_min"))

  /** The KMV cardinality estimate over [[kmvParts]] columns — THE one
    * formula site (the facade and the t24 gate both read it): a
    * not-full sketch reports its exact size (it holds every distinct
    * hash), a full one reports (k−1)·2⁶⁰/kth_min.
    */
  private[graft] def kmvEstimate(k: Int): org.apache.spark.sql.Column =
    when(col("n_in_sketch") < k, col("n_in_sketch").cast("double"))
      .otherwise(lit((k - 1).toDouble * 1152921504606846976.0)
        / col("kth_min"))

  /** The [[graft.api.Graft.distinctTokenSketch]] body: sketch +
    * estimate, no exact side (production never has one).
    */
  private[graft] def distinctTokenSketchOf(
      docs: org.apache.spark.sql.DataFrame, k: Int)
      : org.apache.spark.sql.DataFrame =
    kmvParts(tokenHashes(docs), k)
      .select(col("source"), col("n_in_sketch"), col("kth_min"),
        round(kmvEstimate(k), 4).as("kmv_estimate"))

  val t24DistinctKmv = QueryDef(
    "t24_distinct_kmv",
    (s, d) => {
      val k = 64
      val hashed = tokenHashes(Tables.documents(s, d))
      val sketch = kmvParts(hashed, k)
      val exact = hashed.groupBy(col("source"))
        .agg(count(lit(1)).as("n_exact"))
      // kmvEstimate's not-full branch reads n_in_sketch where the
      // oracle text reads n_exact — value-identical (a not-full sketch
      // contains every distinct hash, so the two counts are equal)
      exact.join(sketch, "source")
        .withColumn("est", kmvEstimate(k))
        .select(col("source"), col("n_exact"), col("kth_min"),
          round(col("est"), 4).as("kmv_estimate"),
          round(abs(col("est") - col("n_exact")) / col("n_exact"), 4)
            .as("rel_err"))
        .orderBy(col("source"))
    },
    Some(s"""WITH toks AS (
            |  SELECT source, unnest(string_split(text, ' ')) AS tok
            |  FROM documents),
            |hashed AS (
            |  SELECT DISTINCT source, ${hash60Sql("tok")} AS h FROM toks),
            |ranked AS (
            |  SELECT source, h,
            |    row_number() OVER (PARTITION BY source ORDER BY h) AS rn
            |  FROM hashed),
            |sketch AS (
            |  SELECT source, count(*) AS n_in_sketch, max(h) AS kth_min
            |  FROM ranked WHERE rn <= 64 GROUP BY source),
            |exact AS (
            |  SELECT source, count(*) AS n_exact FROM hashed GROUP BY source),
            |sel AS (
            |  SELECT e.source, n_exact, kth_min,
            |    CASE WHEN n_in_sketch < 64 THEN CAST(n_exact AS DOUBLE)
            |         ELSE 63.0 * 1152921504606846976.0 / kth_min END AS est
            |  FROM exact e JOIN sketch USING (source))
            |SELECT source, n_exact, kth_min, round(est, 4) AS kmv_estimate,
            |  round(abs(est - n_exact) / n_exact, 4) AS rel_err
            |FROM sel ORDER BY source""".stripMargin))

  /** Per-document n-gram NOVELTY — the memorization/diversity metric
    * the dedup literature reports (Lee et al. 2022 measure the drop in
    * duplicated n-grams after dedup; novelty is its complement): the
    * fraction of a document's DISTINCT word 5-grams that occur in no
    * other document. Low novelty = boilerplate/template/near-dup
    * content even when no single pair crosses a dedup threshold —
    * the corpus-level signal d04/d12 decisions get audited against.
    * Same gram definition as d12 (shared W=5, md5 of the joined
    * window) so the two read on the same corpus property. Scale: one
    * map-side-combinable shuffle on the gram hash (the d12 shape) and
    * a per-doc agg; the df table is bounded by distinct grams, and a
    * d08-style df-cap applies if boilerplate explodes.
    */
  val t25NgramNovelty: QueryDef = {
    val W = 5
    QueryDef(
      "t25_ngram_novelty",
      (s, d) => {
        val toks = Tables.documents(s, d)
          .select(col("doc_id"), split(col("text"), " ").as("toks"))
          .withColumn("n", size(col("toks")))
        val grams = toks.filter(col("n") >= W)
          .select(col("doc_id"), col("toks"),
            explode(expr(s"sequence(1, n - ${W - 1})")).as("st"))
          .select(col("doc_id"),
            expr(s"md5(concat_ws(' ', slice(toks, st, $W)))").as("h"))
          .distinct()
        val df_ = grams.groupBy(col("h")).agg(count(lit(1)).as("df"))
        grams.join(df_, "h")
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_grams"),
            sum(when(col("df") === 1, 1L).otherwise(0L)).as("n_novel"))
          .withColumn("novelty_frac",
            round(col("n_novel") / col("n_grams").cast("double"), 4))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH toks AS (
              |  SELECT doc_id, string_split(text, ' ') AS toks,
              |    len(string_split(text, ' ')) AS n
              |  FROM documents),
              |grams AS (
              |  SELECT DISTINCT doc_id,
              |    md5(array_to_string(toks[st:(st + ${W - 1})], ' ')) AS h
              |  FROM toks, unnest(generate_series(1, n - ${W - 1})) AS u(st)
              |  WHERE n >= $W),
              |df AS (SELECT h, count(*) AS df FROM grams GROUP BY h)
              |SELECT doc_id, count(*) AS n_grams,
              |  CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
              |  round(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END)
              |    / CAST(count(*) AS DOUBLE), 4) AS novelty_frac
              |FROM grams JOIN df USING (h)
              |GROUP BY doc_id ORDER BY doc_id""".stripMargin))
  }

  /** t26's body over any documents frame —
    * [[graft.api.Graft.chunkDocuments]]: overlapping fixed-size token
    * chunks, the retrieval/RAG indexing primitive (and the context-
    * window packer's sibling: t11 packs documents INTO sequences, this
    * splits documents into them). Chunk starts stride by
    * `chunkSize - overlap`; every token is covered, consecutive chunks
    * share `overlap` tokens, and the last chunk of a document may be
    * short. Emits the chunk's md5 (not its text — the gate stays
    * narrow; callers re-slice by (doc_id, start_tok) when they need
    * the text). Pure per-row explode: zero shuffle at any corpus size.
    * Unsorted.
    */
  private[graft] def chunkDocumentsOf(docs: org.apache.spark.sql.DataFrame,
                                      chunkSize: Int = 64,
                                      overlap: Int = 16)
      : org.apache.spark.sql.DataFrame = {
    require(chunkSize > overlap && overlap >= 0,
      s"need chunkSize > overlap >= 0, got $chunkSize/$overlap")
    val stride = chunkSize - overlap
    docs
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .withColumn("n", size(col("toks")))
      .select(col("doc_id"), col("toks"), col("n"),
        posexplode(expr(s"sequence(1, n, $stride)"))
          .as(Seq("chunk_idx", "start_tok")))
      .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
        col("start_tok").cast("long").as("start_tok"),
        least(lit(chunkSize), col("n") - col("start_tok") + 1).cast("long")
          .as("n_chunk_tokens"),
        expr(s"md5(concat_ws(' ', slice(toks, start_tok, $chunkSize)))")
          .as("chunk_md5"))
  }

  val t26DocChunks = QueryDef(
    "t26_doc_chunks",
    (s, d) => graft.api.Graft.chunkDocuments(Tables.documents(s, d))
      .orderBy(col("doc_id"), col("chunk_idx")),
    Some("""WITH base AS (
           |  SELECT doc_id, string_split(text, ' ') AS toks,
           |    len(string_split(text, ' ')) AS n
           |  FROM documents),
           |starts AS (
           |  SELECT doc_id, toks, n,
           |    unnest(generate_series(1, n, 48)) AS start_tok
           |  FROM base)
           |SELECT doc_id,
           |  CAST(row_number() OVER (PARTITION BY doc_id ORDER BY start_tok)
           |       - 1 AS BIGINT) AS chunk_idx,
           |  CAST(start_tok AS BIGINT) AS start_tok,
           |  CAST(least(64, n - start_tok + 1) AS BIGINT) AS n_chunk_tokens,
           |  md5(array_to_string(toks[start_tok:(start_tok + 63)], ' '))
           |    AS chunk_md5
           |FROM starts ORDER BY doc_id, chunk_idx""".stripMargin))

  /** Deterministic per-source MIXTURE SAMPLING — the data-mixing step
    * that turns per-domain weights (t12's report, t20's DSIR weights)
    * into an actual training set: keep a document iff its md5-derived
    * uniform hash (over doc_id + a salt) falls under its source's
    * rate, truncated to ppm. Per-row independent and seed-stable: the
    * same (doc, salt) keeps or drops identically on every run, any
    * engine, any partitioning — reproducible mixtures with zero
    * shuffles (the rate table broadcasts, the corpus streams through
    * one linear pass). Different salts give independent resamples.
    * Sources absent from `rates` are dropped (rate 0). The md5
    * protocol is the d05/d09 one, so DuckDB replays the keep/drop
    * decision bit-for-bit.
    */
  private[graft] def sampleMixtureOf(docs: DataFrame,
                                     rates: Map[String, Double],
                                     salt: Long = 0L,
                                     sourceCol: String = "source")
      : DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val rdf = rates.toSeq.toDF(sourceCol, "rate")
      .withColumn("keep_ppm",
        round(col("rate") * 1000000, 0).cast("long"))
      .select(col(sourceCol), col("keep_ppm"))
    docs.join(broadcast(rdf), Seq(sourceCol))
      .filter(expr(("cast(conv(substr(md5(concat(cast(doc_id as " +
        s"string), ':mix:$salt')), 1, 15), 16, 10) as bigint)")) %
        1000000L < col("keep_ppm"))
      .drop("keep_ppm")
  }

  val t27MixtureSample = QueryDef(
    "t27_mixture_sample",
    (s, d) => graft.api.Graft.sampleMixture(Tables.documents(s, d),
        Map("src0" -> 1.0, "src1" -> 0.5, "src2" -> 0.25,
          "src3" -> 0.1))
      .select(col("doc_id"), col("source"))
      .orderBy(col("doc_id")),
    Some(
      """SELECT doc_id, source FROM documents
        |WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':mix:0'), 1, 15))::BIGINT % 1000000
        |  < CASE source WHEN 'src0' THEN 1000000 WHEN 'src1' THEN 500000
        |      WHEN 'src2' THEN 250000 WHEN 'src3' THEN 100000 ELSE 0 END
        |ORDER BY doc_id""".stripMargin))

  def all: Seq[QueryDef] = Seq(
    t01TokenStats, t02QualityScore, t03LangId, t04Fingerprint,
    t05CorpusReport, t06Winnowing, t07BpeTokenCount, t08Contamination,
    t09RepetitionSignals, t10PiiScrub, t11SequencePacking,
    t12DomainMixture, t13TfidfTopTerms, t14ShardManifest, t15C4Filter,
    t16StratifiedSplit, t17UnigramPerplexity, t18DomainDivergence,
    t19HeavyHittersCms, t20DsirWeights, t21QualityClassifier,
    t22BigramPerplexity, t23QualityBins, t24DistinctKmv, t25NgramNovelty,
    t26DocChunks, t27MixtureSample)
}
