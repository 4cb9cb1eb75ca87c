package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Add, BitwiseAnd, Cast, Conv, CreateArray, CreateNamedStruct, Expression, ExpressionInfo, Literal, Md5, Multiply, ShiftRight, Substring}
import org.apache.spark.sql.types.{LongType, StringType}

/** SparkSessionExtensions entry point — the standard deployment hook
  * for the engine's Catalyst extensions, so a cluster can enable them
  * with configuration alone (no code changes):
  *
  * {{{
  *   spark.sql.extensions=graft.GraftExtensions
  * }}}
  *
  * Injects the TopKPerKey planner strategy (the bounded-heap per-key
  * top-k physical operator — [[graft.plans.TopK.perKey]] also
  * self-registers via `experimental.extraStrategies` for programmatic
  * use; double registration is harmless, the planner just sees the
  * same candidate twice) and the relational provenance tee's
  * ([[graft.prov.ElementTeeStrategy]], self-registered the same way by
  * `ProvFrame.result`), and registers the engine's shared primitives
  * as SQL functions — `cosine_similarity`, `minhash_array`,
  * `minhash_agg`, `count_min`, `hash60`, `phash_bands`,
  * `gif_frame_hashes` — making the
  * dedup/similarity/multimodal families first-class in pure-SQL
  * pipelines: the
  * same codegen'd expressions (or spec-pinned-equal trees) the
  * DataFrame API uses, so SQL callers get identical semantics and
  * performance.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def litNum(e: Expression, what: String): Long = e match {
    case Literal(v: Number, _) => v.longValue()
    case other =>
      throw new IllegalArgumentException(
        s"$what must be a literal number, got $other")
  }

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectPlannerStrategy(_ => graft.plans.TopKStrategy)
    ext.injectPlannerStrategy(_ => graft.prov.ElementTeeStrategy)

    ext.injectFunction((
      FunctionIdentifier("cosine_similarity"),
      new ExpressionInfo(classOf[graft.functions.CosineSimilarity].getName,
        "cosine_similarity"),
      (args: Seq[Expression]) => {
        require(args.length == 2,
          s"cosine_similarity(a, b) takes 2 arguments, got ${args.length}")
        graft.functions.CosineSimilarity(args(0), args(1))
      }))

    ext.injectFunction((
      FunctionIdentifier("count_min"),
      new ExpressionInfo(classOf[graft.functions.CountMinAgg].getName,
        "count_min"),
      (args: Seq[Expression]) => {
        require(args.length == 5,
          "count_min(hashes, depth, width, seed, prime) takes 5 arguments, " +
            s"got ${args.length}")
        graft.functions.CountMinAgg(args(0),
          litNum(args(1), "depth").toInt,
          litNum(args(2), "width").toInt,
          litNum(args(3), "seed"),
          litNum(args(4), "prime")).toAggregateExpression()
      }))

    ext.injectFunction((
      FunctionIdentifier("minhash_array"),
      new ExpressionInfo(classOf[graft.functions.MinHashArray].getName,
        "minhash_array"),
      (args: Seq[Expression]) => {
        require(args.length == 4,
          "minhash_array(hashes, numHashes, seed, prime) takes 4 arguments, " +
            s"got ${args.length}")
        graft.functions.MinHashArray(args(0),
          litNum(args(1), "numHashes").toInt,
          litNum(args(2), "seed"),
          litNum(args(3), "prime"))
      }))

    ext.injectFunction((
      FunctionIdentifier("minhash_agg"),
      new ExpressionInfo(classOf[graft.functions.MinHashAgg].getName,
        "minhash_agg"),
      (args: Seq[Expression]) => {
        require(args.length == 4,
          "minhash_agg(hash, numHashes, seed, prime) takes 4 arguments, " +
            s"got ${args.length}")
        graft.functions.MinHashAgg(args(0),
          litNum(args(1), "numHashes").toInt,
          litNum(args(2), "seed"),
          litNum(args(3), "prime")).toAggregateExpression()
      }))

    // The composite-Column workhorses (hash60, the 5-band hash banding).
    // These cannot round-trip through the Column bridge inside a
    // function builder (a `functions._`-built Column is an unresolved
    // ColumnNode here, which the analyzer won't resolve mid-injection),
    // so the same trees are spelled in raw Catalyst — and
    // GraftExtensionsSpec pins SQL ≡ DataFrame-builder equality, so the
    // two spellings cannot drift unnoticed.
    ext.injectFunction((
      FunctionIdentifier("hash60"),
      new ExpressionInfo(
        graft.operators.TextAnalysisQueries.getClass.getName, "hash60"),
      (args: Seq[Expression]) => {
        require(args.length == 1,
          s"hash60(x) takes 1 argument, got ${args.length}")
        // top 60 bits of md5 — TextAnalysisQueries.hash60's tree
        Cast(Conv(Substring(Md5(Cast(args(0), StringType)),
          Literal(1), Literal(15)), Literal(16), Literal(10)), LongType)
      }))

    ext.injectFunction((
      FunctionIdentifier("phash_bands"),
      new ExpressionInfo(
        graft.operators.MultimodalQueries.getClass.getName, "phash_bands"),
      (args: Seq[Expression]) => {
        require(args.length == 2,
          s"phash_bands(lo, hi) takes 2 arguments, got ${args.length}")
        val Seq(lo, hi) = args.map(Cast(_, LongType))
        // MultimodalQueries.phashBandChunks's tree: 5 disjoint bands of
        // 13/13/13/13/12 bits (pigeonhole-complete for Hamming <= 4;
        // band 2 straddles the two 32-bit words)
        def entry(b: Int, chunk: Expression) =
          CreateNamedStruct(Seq(
            Literal("band"), Literal(b), Literal("chunk"), chunk))
        CreateArray(Seq(
          entry(0, BitwiseAnd(lo, Literal(8191L))),
          entry(1, BitwiseAnd(ShiftRight(lo, Literal(13)), Literal(8191L))),
          entry(2, Add(
            BitwiseAnd(ShiftRight(lo, Literal(26)), Literal(63L)),
            Multiply(BitwiseAnd(hi, Literal(127L)), Literal(64L)))),
          entry(3, BitwiseAnd(ShiftRight(hi, Literal(7)), Literal(8191L))),
          entry(4, BitwiseAnd(ShiftRight(hi, Literal(20)), Literal(4095L)))))
      }))

    ext.injectFunction((
      FunctionIdentifier("gif_frame_hashes"),
      new ExpressionInfo(classOf[graft.functions.GifFrameHashes].getName,
        "gif_frame_hashes"),
      (args: Seq[Expression]) => {
        require(args.length == 1,
          s"gif_frame_hashes(payload) takes 1 argument, got ${args.length}")
        graft.functions.GifFrameHashes(args(0))
      }))
  }
}
