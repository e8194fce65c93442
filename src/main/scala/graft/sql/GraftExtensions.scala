package graft.sql

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Engine SQL extensions — registered with
  * `spark.sql.extensions=graft.sql.GraftExtensions` (or
  * `withExtensions` on a session builder). Injects the custom codegen'd /
  * single-pass expressions used by the similarity and dedup operators.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(extensions: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach { case (name, info, builder) =>
      extensions.injectFunction((FunctionIdentifier(name), info, builder))
    }
}

object GraftExtensions {
  val functions: Seq[(String, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    ("vec_dot", VecDot.info, VecDot.builder),
    ("vec_top_lists", VecTopLists.info, VecTopLists.builder),
    ("minhash_sig", MinHashSig.info, MinHashSig.builder),
    ("minhash_sig_oph", MinHashSigOPH.info, MinHashSigOPH.builder),
    ("simhash64", SimHash64.info, SimHash64.builder),
    ("jaccard_sim", JaccardSim.info, JaccardSim.builder),
    ("word_shingles", WordShingles.info, WordShingles.builder),
    ("deflate_len", DeflateLen.info, DeflateLen.builder),
    ("nfc", UnicodeNormalize.nfcInfo, UnicodeNormalize.nfcBuilder),
    ("nfkc", UnicodeNormalize.nfkcInfo, UnicodeNormalize.nfkcBuilder),
    // Iceberg's bucket[N] partition transform (canonical murmur3_x86_32,
    // seed 0, spec byte encodings) — the engine's table bucket function,
    // so the Iceberg export's published partition spec is truthful.
    ("iceberg_bucket", IcebergBucket.info, IcebergBucket.builder),
    // Spark's internal runtime-filter expressions, surfaced as engine
    // functions for the explicit bloom-pre-filter join pattern
    // (org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    // blooms xxhash64'd longs; BloomFilterMightContain probes the binary).
    ("bloom_agg",
      new ExpressionInfo(
        "org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate", "bloom_agg"),
      (args: Seq[Expression]) =>
        new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
          args(0), args(1), args(2))),
    ("bloom_might_contain",
      new ExpressionInfo(
        "org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain", "bloom_might_contain"),
      (args: Seq[Expression]) =>
        org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(args(0), args(1))),
    // Spark's internal bounded-heap top-k collector (the partial-ORDER BY
    // -LIMIT machinery), surfaced for grouped top-k WITHOUT the
    // sort-every-row window: the agg buffer holds at most k values per
    // group, map-side combine included. top_k_agg(value, k, reverse) —
    // reverse=false collects the k LARGEST (natural ordering);
    // reverse=true flips to the k smallest (pinned by CoreOpsSpec's
    // largest-first assertion on TopK.topKPerGroup).
    ("top_k_agg",
      new ExpressionInfo(
        "org.apache.spark.sql.catalyst.expressions.aggregate.CollectTopK", "top_k_agg"),
      (args: Seq[Expression]) => {
        // k and reverse must be literals (they size the agg buffer at plan
        // time); the companion's extractors are package-private, so fold
        // them here with the same contract
        def asInt(e: Expression): Int = e.eval() match {
          case n: Number => n.intValue
          case other => throw new IllegalArgumentException(s"top_k_agg k must be an int literal, got $other")
        }
        def asBool(e: Expression): Boolean = e.eval() match {
          case b: java.lang.Boolean => b
          case other => throw new IllegalArgumentException(s"top_k_agg reverse must be a boolean literal, got $other")
        }
        new org.apache.spark.sql.catalyst.expressions.aggregate.CollectTopK(
          args(0), asInt(args(1)), asBool(args(2)), 0, 0)
      }),
    // Per-group KMV distinct sketch (k smallest distinct hashes): dedups
    // AND trims inside the agg buffer, so the shuffle carries ≤ k longs
    // per group per partition — see KmvAgg's scaladoc for why CollectTopK
    // can't express this (its heap keeps duplicates).
    ("kmv_agg", KmvAgg.info, KmvAgg.builder),
    // One-pass exact fixed-point vector moments (PCA fit): the whole
    // d·(d+1)/2 second-moment triangle accumulates inside the agg buffer
    // — no posexplode row expansion, one Exchange.
    ("vec_moments_fp", VecMomentsFp.info, VecMomentsFp.builder)
  )

  /** Idempotently register every engine function on an existing session
    * (for sessions not built with the extensions config).
    * `SparkSession.sessionState` is `private[sql]`, so this goes through
    * the public-at-bytecode accessor reflectively.
    */
  def ensureRegistered(spark: SparkSession): Unit =
    if (!spark.catalog.functionExists(functions.head._1)) {
      val ss = spark.getClass.getMethod("sessionState").invoke(spark)
      val fr = ss.getClass.getMethod("functionRegistry").invoke(ss)
        .asInstanceOf[FunctionRegistry]
      functions.foreach { case (name, info, builder) =>
        fr.registerFunction(FunctionIdentifier(name), info, builder)
      }
    }
}
