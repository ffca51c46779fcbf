package graft

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.functions.call_function

/** Column-level API for graft's custom expressions.
  *
  * Wrappers register the expression builders in the session's
  * FunctionRegistry (idempotent) and build columns via
  * `call_function`, so the same kernels are reachable from both the
  * DataFrame API and SQL text.
  */
package object functions {

  private def intArg(e: Expression, what: String): Int = e match {
    case Literal(v: Int, _) => v
    case Literal(v: Long, _) => v.toInt
    case other => throw new IllegalArgumentException(s"$what must be an integer literal, got $other")
  }

  private def longArg(e: Expression, what: String): Long = e match {
    case Literal(v: Int, _) => v.toLong
    case Literal(v: Long, _) => v
    case other => throw new IllegalArgumentException(s"$what must be a long literal, got $other")
  }

  private def doubleArg(e: Expression, what: String): Double = e match {
    case Literal(v: Double, _) => v
    case Literal(v: Int, _) => v.toDouble
    case other => throw new IllegalArgumentException(s"$what must be a double literal, got $other")
  }

  /** (name, builder) for every graft SQL function. */
  val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "cosine_sim" -> (es => CosineSim(es(0), es(1))),
    "dot_product" -> (es => DotProduct(es(0), es(1))),
    "minhash_sig" -> (es => MinHashSig(es(0), intArg(es(1), "k"), intArg(es(2), "n"))),
    "simhash64" -> (es => SimHash64(es(0))),
    "ngram_jaccard" -> (es => NgramJaccard(es(0), es(1), intArg(es(2), "n"))),
    "winnow_fingerprint" -> (es => WinnowFingerprint(es(0), intArg(es(1), "k"), intArg(es(2), "w"))),
    "hyperplane_sig" -> (es => HyperplaneSig(es(0), intArg(es(1), "nPlanes"), longArg(es(2), "seed"))),
    "hyperplane_bands" -> (es => HyperplaneBands(es(0), intArg(es(1), "bands"),
      intArg(es(2), "bits"), longArg(es(3), "seed"))),
    "window_hashes" -> (es => WindowHashes(es(0), intArg(es(1), "w"))),
    "top_k_by_score" -> (es => TopKByScore(es(0), es(1), intArg(es(2), "k"))),
    "pair_moments" -> (es => PairMoments(es(0))),
    "sorted_jaccard_ge" -> (es => SortedJaccardGe(es(0), es(1), doubleArg(es(2), "t"))),
    "shingle_hash_set" -> (es => ShingleHashSet(es(0), intArg(es(1), "n"))),
    "sorted_containment" -> (es => SortedContainment(es(0), es(1))),
    "als_serve_topk" -> (es => AlsServeTopK(es(0), es(1), intArg(es(2), "k"))),
    "item_knn_serve" -> (es => ItemKnnServe(es(0), es(1), intArg(es(2), "k"))),
    "word_grams" -> (es => WordGrams(es(0), intArg(es(1), "n"))),
    "repetition_top" -> (es => RepetitionTop(es(0), intArg(es(1), "n"))),
    "langid_top" -> (es => LangidTop(es(0))),
    "stopword_hits" -> (es => StopwordHits(es(0))),
    "ngram_containment" -> (es => NgramContainment(es(0), es(1), intArg(es(2), "n"))),
    "char_entropy" -> (es => CharEntropy(es(0))),
    "l2_sq" -> (es => L2Sq(es(0), es(1))),
    "int8_pack" -> (es => Int8Pack(es(0))),
    "int8_unpack" -> (es => Int8Unpack(es(0))),
    // Spark's own bloom-filter expressions (the machinery behind AQE
    // runtime row-group filtering) exposed by name: bloom_filter_agg
    // is registry-internal and might_contain is not registered at all,
    // but both classes are public catalyst API. bloom_agg(xxhash64(x),
    // estItems, numBits) -> binary sketch; bloom_contains(sketch,
    // xxhash64(x)) -> boolean (sketch must be a literal or scalar
    // subquery — Spark's own analysis rule enforces it).
    "bloom_agg" -> (es =>
      new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
        es(0), es(1), es(2))),
    "bloom_contains" -> (es =>
      new org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
        es(0), es(1))),
  )

  /** Register every graft function the session does not already
    * hold. Idempotent: a name whose registry entry is already graft's
    * own builder (injected by [[graft.plans.GraftExtensions]] or
    * registered by an earlier call) is skipped, so repeated calls
    * replace nothing and Spark logs no "function replaced" WARN.
    */
  def registerAll(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    builders.foreach { case (name, b) =>
      if (!registry.lookupFunctionBuilder(FunctionIdentifier(name)).exists(_ eq b))
        registry.createOrReplaceTempFunction(name, b, "built-in")
    }
  }

  def cosine_sim(a: Column, b: Column)(implicit spark: SparkSession): Column =
    { registerAll(spark); call_function("cosine_sim", a, b) }

  def dot_product(a: Column, b: Column)(implicit spark: SparkSession): Column =
    { registerAll(spark); call_function("dot_product", a, b) }

  def minhash_sig(text: Column, k: Int, n: Int)(implicit spark: SparkSession): Column = {
    registerAll(spark)
    call_function("minhash_sig", text,
      org.apache.spark.sql.functions.lit(k), org.apache.spark.sql.functions.lit(n))
  }

  def simhash64(text: Column)(implicit spark: SparkSession): Column =
    { registerAll(spark); call_function("simhash64", text) }

  def ngram_jaccard(a: Column, b: Column, n: Int)(implicit spark: SparkSession): Column = {
    registerAll(spark)
    call_function("ngram_jaccard", a, b, org.apache.spark.sql.functions.lit(n))
  }

  def winnow_fingerprint(text: Column, k: Int, w: Int)(implicit spark: SparkSession): Column = {
    registerAll(spark)
    call_function("winnow_fingerprint", text,
      org.apache.spark.sql.functions.lit(k), org.apache.spark.sql.functions.lit(w))
  }

  def hyperplane_sig(vec: Column, nPlanes: Int, seed: Long)(implicit spark: SparkSession): Column = {
    registerAll(spark)
    call_function("hyperplane_sig", vec,
      org.apache.spark.sql.functions.lit(nPlanes), org.apache.spark.sql.functions.lit(seed))
  }
}
