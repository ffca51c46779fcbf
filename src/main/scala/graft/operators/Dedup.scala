package graft.operators

import graft.Ckpt._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.registerAll

/** Document deduplication for LLM-scale corpora (SURVEY §2).
  *
  * Scale design: every near-dup path is candidate-generation first —
  * LSH banding (MinHash) or bit-banding (SimHash) or hyperplane
  * buckets (embeddings) — so the pairwise-verify step touches only
  * same-bucket pairs, never the O(N²) cross product. At 100 TB the
  * bucket join shuffles on (band, hash) with near-uniform key
  * distribution (hash-generated keys), and the verify kernels run
  * codegen'd per pair.
  */
object Dedup {

  /** d01: exact dedup — content-hash groupBy, min doc_id survives.
    * One shuffle on the 128-bit content hash; at 100 TB, hash first so
    * the shuffle carries 16 bytes per doc, not the document text.
    */
  def d01DedupExact(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .groupBy(md5(col("text")).as("text_hash"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .orderBy(col("text_hash"))

  private val MinhashK = 128

  /** Choose the (bands, rows) split of a k-hash MinHash signature for
    * a target Jaccard threshold: over all exact divisors b·r = k, the
    * split whose s-curve midpoint s* = (1/b)^(1/r) lands closest to
    * the target (ties to more bands — recall over cost). This makes
    * every banding constant in this file a COMPUTED decision, not a
    * magic number: the shipped splits are exactly
    * `minhashBandingFor(0.7, 128) = (16, 8)` (d02's near-dup bar) and
    * `minhashBandingFor(0.5, 128) = (32, 4)` (d04's broader bar,
    * s* ≈ 0.42 — the closest reachable midpoint below 0.5, chosen so
    * ≥ 0.5 pairs sit on the high-recall side of the curve) — both
    * pinned in the spec, so a retune is a one-line threshold edit
    * whose consequences the s-curve makes explicit.
    */
  private[graft] def minhashBandingFor(threshold: Double, k: Int = MinhashK): (Int, Int) = {
    require(threshold > 0.0 && threshold < 1.0 && k >= 2,
      s"need 0 < threshold < 1 and k >= 2, got $threshold, $k")
    val splits = (1 to k).filter(k % _ == 0).map(b => (b, k / b))
      .filter { case (b, r) => b >= 2 && r >= 1 }
    splits.minBy { case (b, r) =>
      (math.abs(math.pow(1.0 / b, 1.0 / r) - threshold), -b)
    }
  }

  /** MinHash signatures + banded bucket ids for a document set.
    * `shingleN` is the word-n-gram order; `bands` × `rows` (≤
    * [[MinhashK]]) sets the LSH s-curve threshold ≈ (1/bands)^(1/rows).
    *
    * Band expansion explodes a FOLDABLE `sequence(0, bands-1)` and
    * derives each band hash from the materialized sig attribute — a
    * `posexplode(array(hash(slice(sig…))×bands))` formulation lets
    * InferFiltersFromGenerate push a `size(…)>0` predicate that
    * re-inlines the minhash kernel `bands` times per row (measured 6×
    * the signature cost at sf0.1); the foldable sequence's inferred
    * filter constant-folds away instead.
    */
  private[graft] def bandedSignatures(
      docs: DataFrame, shingleN: Int, bands: Int, rows: Int,
      keep: Seq[String] = Nil): DataFrame = {
    require(bands * rows <= MinhashK, s"bands*rows must be <= $MinhashK")
    registerAll(docs.sparkSession)
    val keepCols = keep.map(col)
    docs
      .withColumn("sig", call_function("minhash_sig", col("text"), lit(MinhashK), lit(shingleN)))
      .select(col("doc_id") +: col("sig") +: keepCols :+
        explode(sequence(lit(0), lit(bands - 1))).as("band_id"): _*)
      .select(col("doc_id") +: col("band_id") +:
        hash(slice(col("sig"), col("band_id") * rows + 1, lit(rows)), col("band_id"))
          .as("band_hash") +: keepCols: _*)
  }

  /** Largest bucket expanded to pairs: caps the quadratic blow-up of a
    * degenerate bucket (e.g. a corpus of empty documents) at scale; a
    * documented recall trade never hit by real near-dup buckets.
    */
  private[graft] val MaxBucket = 10000

  /** Above this bucket size, pairs STREAM out of a bucket self-join
    * instead of materializing as one in-memory pair array per bucket:
    * a bucket just under [[MaxBucket]] holds ~5×10⁷ pair structs —
    * gigabytes in a single task via the array path, but a plain
    * streamed join output via the self-join path.
    */
  private[graft] val PairStreamBucket = 1000

  /** Expand (id, payload?) rows sharing a bucket key into ordered
    * within-bucket pairs (`a < b`), sized in three tiers so no task
    * ever holds a quadratic pair set in memory:
    *
    *  1. count per bucket (map-side partial agg; the shuffle carries
    *     (key, count) only), `ckpt`ed so the expensive
    *     banded scan behind it runs ONCE for all tier filters;
    *  2. buckets over `maxBucket` are dropped entirely BEFORE any row
    *     set materializes (degenerate 10⁷-identical-doc buckets —
    *     documented recall trade);
    *  3. buckets over `pairStream` stream their pairs through a
    *     semi-join + bucket self-join (`a < b`) — pair rows flow out
    *     of the join iterator, never an array. This path is only
    *     planned when such buckets EXIST (a 1-row count over the
    *     checkpointed counts frame), so the common case pays no extra
    *     scan;
    *  4. buckets ≤ `pairStream` expand via collect_set + in-array pair
    *     enumeration — every aggregation buffer and pair array is
    *     bounded by `pairStream` items by construction.
    *
    * Both paths emit pairs under the same Spark ordering (array_sort
    * and `<` share the struct/array comparator), so the union is
    * consistent and `distinct` collapses cross-bucket repeats.
    *
    * The banded frame is NOT persisted here: the count pass recomputes
    * it (signatures are one cheap scan since band expansion reuses the
    * materialized sig), and a library-held persist with no unpersist
    * hook would pin every query's cache for the session lifetime. A
    * caller batching many dedup passes should persist its OWN banded
    * input and drop it when done.
    */
  private[graft] def bucketPairs(
      banded: DataFrame, bucketCols: Seq[String], item: Column,
      maxBucket: Int = MaxBucket, pairStream: Int = PairStreamBucket): DataFrame = {
    require(pairStream <= maxBucket, "pairStream threshold must be <= maxBucket")
    val keys = bucketCols.map(col)
    // (key, count) per bucket — tiny rows; checkpointed so the banded
    // scan below it is not re-run per tier filter.
    val counts = banded.groupBy(keys: _*)
      .agg(count(lit(1)).as("bucket_n"))
      .ckpt(true)
    val overStream = counts.filter(col("bucket_n") > pairStream)
    val streamKeys = overStream.filter(col("bucket_n") <= maxBucket).select(keys: _*)
    val sorted = array_sort(collect_set(item))
    // Explicit pre-expansion spread (r17): the per-bucket item frame
    // is BYTE-tiny (one row per bucket), so AQE's byte-driven
    // coalescing parks it on ~1 post-shuffle partition — and the
    // C(n,2) pair EXPLOSION below it (30 000× the rows) then runs
    // single-task (probe-measured: the s05 memo build spent its
    // whole pair expansion + distinct on 1 of 32 cores). AQE cannot
    // see a generator's fan-out; a deterministic hash repartition on
    // the bucket key, sized from the session's parallelism, spreads
    // the expansion (per-bucket work stays bounded by `pairStream`,
    // so per-task skew is capped by construction).
    // the repartition key must DIFFER from the groupBy keys (a
    // same-key repartition is already satisfied by the aggregation's
    // exchange and gets elided — leaving the coalesced 1-partition
    // read in place); a deterministic hash of the bucket key gives
    // the planner a distinct, explicit-width distribution it must
    // honor
    val spread = banded.sparkSession.sparkContext.defaultParallelism
    val smallPairs = banded
      .join(broadcast(overStream.select(keys: _*)), bucketCols, "left_anti")
      .groupBy(keys: _*)
      .agg(sorted.as("items"))
      .filter(size(col("items")) >= 2)
      .repartition(spread, pmod(xxhash64(keys: _*), lit(spread * 64)))
      .select(explode(flatten(transform(col("items"), (x, i) =>
        transform(slice(col("items"), i + lit(2), size(col("items"))), y =>
          struct(x.as("a"), y.as("b")))))).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
    val pairs =
      if (streamKeys.isEmpty) smallPairs
      else {
        val inStream = banded.join(broadcast(streamKeys), bucketCols, "left_semi")
        // same spread rationale: the streamed self-join's input is
        // small by the tier's definition but its output is quadratic
        // per bucket
        val left = inStream.select(keys :+ item.as("a"): _*)
          .repartition(spread, keys: _*)
        val right = inStream.select(keys :+ item.as("b"): _*)
        val streamedPairs = left.join(right, bucketCols)
          .filter(col("a") < col("b"))
          .select(col("a"), col("b"))
        smallPairs.union(streamedPairs)
      }
    pairs.distinct()
  }

  /** Candidate pairs from LSH buckets: docs sharing any band bucket. */
  private[operators] def lshCandidates(
      spark: SparkSession, sfDir: String,
      shingleN: Int, bands: Int, rows: Int): DataFrame = {
    val docs = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    val banded = bandedSignatures(docs, shingleN, bands, rows)
    bucketPairs(banded, Seq("band_id", "band_hash"), col("doc_id"))
      .select(col("a").as("doc_a"), col("b").as("doc_b"))
  }

  /** Verified MinHash near-dup pairs (word-3gram Jaccard ≥ 0.7 over
    * LSH candidates) — the shared edge set behind d02 (pair listing)
    * and d07 (cluster assembly).
    */
  private[operators] def minhashPairs(spark: SparkSession, sfDir: String): DataFrame = {
    registerAll(spark)
    val docs = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    val ta = docs.select(col("doc_id").as("doc_a"), col("text").as("text_a"))
    val tb = docs.select(col("doc_id").as("doc_b"), col("text").as("text_b"))
    lshCandidates(spark, sfDir, shingleN = 3, bands = 16, rows = 8)
      .join(ta, "doc_a").join(tb, "doc_b")
      .withColumn("jaccard", call_function("ngram_jaccard", col("text_a"), col("text_b"), lit(3)))
      .filter(col("jaccard") >= 0.7)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** d02: MinHash+LSH near-dup pairs, exact-verified with word-3gram
    * Jaccard ≥ 0.7. Banding 16×8: s-curve threshold (1/16)^(1/8) ≈
    * 0.71, matched to the verify threshold. The reference ships the
    * transformer form (reference: /root/reference/mllib/src/main/
    * scala/org/apache/spark/ml/feature/MinHashLSH.scala:1 —
    * signatures as vector columns, pairs via approxSimilarityJoin);
    * here the signature is one codegen'd kernel call and the banding
    * is md5-derived so the DuckDB oracle rebuilds identical buckets.
    */
  def d02DedupMinhash(spark: SparkSession, sfDir: String): DataFrame =
    minhashPairs(spark, sfDir)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 4).as("jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))

  /** d03: SimHash near-dup — 64-bit signatures, 4 bands of 16 bits as
    * candidate buckets, Hamming distance ≤ 3 verified via xor+bit_count.
    */
  def d03DedupSimhash(spark: SparkSession, sfDir: String): DataFrame = {
    registerAll(spark)
    val sigs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), call_function("simhash64", col("text")).as("sig"))
    // foldable-sequence band expansion — see bandedSignatures
    val banded = sigs
      .select(col("doc_id"), col("sig"), explode(sequence(lit(0), lit(3))).as("band_id"))
      .withColumn("band_val",
        expr("shiftright(sig, band_id * 16)").bitwiseAND(lit(0xFFFFL)))
    bucketPairs(banded, Seq("band_id", "band_val"),
        struct(col("doc_id"), col("sig")))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        bit_count(col("a.sig").bitwiseXOR(col("b.sig"))).cast("long").as("hamming"))
      .filter(col("hamming") <= 3)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** d04: exact n-gram Jaccard dedup at a looser threshold (word
    * 2-grams ≥ 0.5) over a DEDICATED candidate set: 2-gram shingles
    * banded 32×4, s-curve threshold (1/32)^(1/4) ≈ 0.42 — below the
    * 0.5 verify threshold, so recall at the claimed threshold is
    * ~1 (round-1 reused d02's 3-gram/0.71 banding, silently missing
    * pairs with 2-gram sim in [0.5, 0.7)).
    */
  def d04DedupNgram(spark: SparkSession, sfDir: String): DataFrame = {
    registerAll(spark)
    val docs = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    val ta = docs.select(col("doc_id").as("doc_a"), col("text").as("text_a"))
    val tb = docs.select(col("doc_id").as("doc_b"), col("text").as("text_b"))
    lshCandidates(spark, sfDir, shingleN = 2, bands = 32, rows = 4)
      .join(ta, "doc_a").join(tb, "doc_b")
      .withColumn("jaccard2", call_function("ngram_jaccard", col("text_a"), col("text_b"), lit(2)))
      .filter(col("jaccard2") >= 0.5)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard2"), 4).as("jaccard2"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** d05: embedding cosine near-dup — random-hyperplane LSH (12 bands
    * of 4 bits, 48 planes) generates candidates; codegen'd cosine
    * verifies ≥ 0.4. Banding trades recall for never materializing
    * the N² cross product: per-pair candidate probability at the
    * threshold is 1-(1-p^4)^12 ≈ 0.88 (p = 1-acos(0.4)/π ≈ 0.63),
    * rising steeply with similarity. The weights are md5-derived
    * ([[graft.functions.Kernels.hyperplanes]]) so the DuckDB oracle
    * replicates candidates AND verification exactly.
    */
  def d05DedupEmbedding(spark: SparkSession, sfDir: String): DataFrame = {
    registerAll(spark)
    val emb = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding"),
        call_function("hyperplane_sig", col("embedding"), lit(48), lit(42L)).as("sig"))
    // foldable-sequence band expansion — see bandedSignatures
    val banded = emb
      .select(col("vec_id"), col("embedding"), col("sig"),
        explode(sequence(lit(0), lit(11))).as("band_id"))
      .withColumn("band_val",
        expr("shiftright(sig, band_id * 4)").bitwiseAND(lit(0xFL)))
    bucketPairs(banded, Seq("band_id", "band_val"),
        struct(col("vec_id"), col("embedding")))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        call_function("cosine_sim", col("a.embedding"), col("b.embedding")).as("cos"))
      .filter(col("cos") >= 0.4)
      .select(col("vec_a"), col("vec_b"), round(col("cos"), 4).as("cos"))
      .orderBy(col("vec_a"), col("vec_b"))
  }

  /** d06: benchmark-contamination detection — for each corpus
    * document, the fraction of its distinct word 3-gram shingles that
    * appear anywhere in the "benchmark" slice (source = 'src0'), the
    * standard test-set-overlap check before training. Scale shape:
    * the benchmark shingle set is distinct-reduced then broadcast
    * (benchmarks are small by definition); the corpus side streams
    * through a semi-join + count — one scan, one small shuffle on
    * doc_id for the per-doc count.
    */
  private val BenchSource = "src0"
  private val ContaminationBar = 0.5

  /** Per-doc distinct word-3-gram shingles, split into the benchmark
    * slice's distinct shingle set and the corpus side — shared by d06
    * and d12.
    */
  private[graft] def contaminationFrames(spark: SparkSession, sfDir: String)
      : (DataFrame, DataFrame) = {
    val docs = Tables.documents(spark, sfDir)
    val withSh = docs.select(col("doc_id"), col("source"),
      array_distinct(call_function("word_grams", col("text"), lit(3))).as("sh"))
    val bench = withSh.filter(col("source") === BenchSource)
      .select(explode(col("sh")).as("sh")).distinct()
    (bench, withSh.filter(col("source") =!= BenchSource))
  }

  /** Per-doc containment report from the corpus side + matched-shingle
    * counts — the shared d06/d12 tail.
    */
  private def contaminationReport(corp: DataFrame, matched: DataFrame): DataFrame =
    corp.select(col("doc_id"), size(col("sh")).cast("long").as("n_sh"))
      .join(matched, Seq("doc_id"), "left")
      .withColumn("n_matched", coalesce(col("n_matched"), lit(0L)))
      .withColumn("containment",
        round(col("n_matched").cast("double") / greatest(col("n_sh"), lit(1L)).cast("double"), 4))
      .withColumn("contaminated",
        (col("n_matched").cast("double") / greatest(col("n_sh"), lit(1L)).cast("double"))
          >= ContaminationBar)
      .orderBy(col("doc_id"))

  def d06Contamination(spark: SparkSession, sfDir: String): DataFrame = {
    val (bench, corp) = contaminationFrames(spark, sfDir)
    val matched = corp.select(col("doc_id"), explode(col("sh")).as("sh"))
      .join(broadcast(bench), Seq("sh"), "left_semi")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_matched"))
    contaminationReport(corp, matched)
  }

  /** d12: bloom-prefiltered contamination — SAME semantics and output
    * as [[d06Contamination]] (the oracle is shared), different
    * physical path for the scale regime where the benchmark shingle
    * set is too large to broadcast as an exact hash set: a FIXED-SIZE
    * bloom sketch of the benchmark shingles (built distributively via
    * Spark's own `BloomFilterAggregate`, collected as one binary
    * scalar — the same driver-side sketch pattern as
    * `df.stat.bloomFilter` and AQE's injected runtime filters) is
    * embedded as a literal and prefilters the corpus shingle stream
    * with the codegen'd `BloomFilterMightContain` before the exact
    * semi-join. Blooms have no false negatives, so the exact verify
    * on the survivors reproduces d06 bit-for-bit; false positives
    * only cost verify work (2^20 bits / ~5·10^4 benchmark shingles at
    * sf0.1 ⇒ fp ≪ 1e-3). At 100 TB the verify join sees only the
    * decimated stream — if the benchmark outgrows broadcast entirely,
    * it becomes a shuffle join whose probe side the bloom already cut
    * by ~the contamination rate.
    *
    * SIZE THE SKETCH TO THE SET, never "comfortably large": every
    * partial-aggregation buffer is one full-size sketch, so an
    * oversized bloom multiplies across map tasks — measured here, an
    * 8 MiB-bits sketch (1 MiB buffers × 32 tasks, merged pairwise)
    * left enough old-gen churn in a shared JVM to slow UNRELATED
    * downstream queries 4-6×; at 2^20 bits the effect vanishes. In
    * production derive `estItems` from an approx_count_distinct
    * pre-pass instead of hard-coding.
    */
  /** The benchmark shingle set as a bloom sketch (one distributed
    * aggregation, one binary scalar) — d12's prefilter, also reusable
    * as a stream-plan literal ([[graft.streaming.StreamOps]]). Null
    * when `bench` is empty.
    */
  private[graft] def benchmarkBloom(bench: DataFrame): Array[Byte] = {
    registerAll(bench.sparkSession)
    bench
      .agg(call_function("bloom_agg", xxhash64(col("sh")),
        lit(1L << 17), lit(1L << 20)).as("bf"))
      .head().getAs[Array[Byte]](0)
  }

  def d12ContaminationBloom(spark: SparkSession, sfDir: String): DataFrame = {
    val (bench, corp) = contaminationFrames(spark, sfDir)
    val bloomBytes = benchmarkBloom(bench)
    val shingled = corp.select(col("doc_id"), explode(col("sh")).as("sh"))
    // bloom_agg over an EMPTY benchmark returns null — nothing can match
    val prefiltered =
      if (bloomBytes == null) shingled.filter(lit(false))
      else shingled.filter(
        call_function("bloom_contains", lit(bloomBytes), xxhash64(col("sh"))))
    val matched = prefiltered
      .join(broadcast(bench), Seq("sh"), "left_semi")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_matched"))
    contaminationReport(corp, matched)
  }

  /** Chunk width (words) for [[d13ChunkDedup]] — small enough to
    * catch template paragraphs, large enough that coincidental
    * n-gram overlap doesn't fire.
    */
  private val ChunkWords = 32

  /** d13: sub-document (chunk-level) exact dedup — split every doc
    * into fixed [[ChunkWords]]-word windows, hash each, and report
    * chunks appearing in ≥2 documents: boilerplate/template passages
    * that whole-document dedup (d01) can't see because the documents
    * AROUND them differ (the C4 line-dedup recipe at word-window
    * granularity, since this corpus has no newlines). Downstream, a
    * pipeline drops or collapses the flagged chunks.
    *
    * Only FULL windows are hashed: a short tail chunk (down to one
    * word) would flag every common trailing word as cross-document
    * "boilerplate" — a false positive a chunk-dropping pipeline turns
    * into deleted text. The tail (< [[ChunkWords]] words) is covered
    * by d01 (whole doc) and d02 (near-dup), not by this operator.
    *
    * Scale shape: the shuffle carries (16-byte md5, doc_id) pairs —
    * never chunk text (d01's trick at chunk granularity); counting is
    * partial-agg'd and the distinct-doc count rides the two-phase
    * rewrite. Output is only the duplicated chunks (the report, not
    * the corpus).
    */
  def d13ChunkDedup(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), split(trim(col("text")), " ").as("toks"))
    docs
      .withColumn("n_chunks",
        floor(size(col("toks")).cast("double") / ChunkWords).cast("int"))
      // docs shorter than one window yield no chunks; the filter also
      // keeps sequence() bounds ordered (sequence(0, -1) is [0, -1])
      .filter(col("n_chunks") >= 1)
      .select(col("doc_id"), col("toks"),
        explode(sequence(lit(0), col("n_chunks") - 1)).as("chunk_idx"))
      .withColumn("chunk_hash",
        md5(concat_ws(" ",
          slice(col("toks"), col("chunk_idx") * ChunkWords + 1, lit(ChunkWords)))))
      .groupBy(col("chunk_hash"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_occurrences"),
        min(col("doc_id")).as("first_doc"))
      .filter(col("n_docs") >= 2)
      .orderBy(col("chunk_hash"))
  }

  /** d17: cross-source duplication matrix — d02's verified near-dup
    * pairs rolled up to one count per UNORDERED source pair: the
    * provenance report that tells you which corpora copy from which
    * (mirror sites, syndication, benchmark leakage between
    * collections), with the diagonal (source_a == source_b) counting
    * intra-source duplication. This is the step AFTER dedup says
    * "duplicates exist" — it says where they come from. Shape: two
    * broadcast-sized joins of the (small) pair list against
    * (doc_id, source), matrix aggregation partial-agg'd; all the
    * heavy lifting is d02's candidate pipeline, reused as a frame.
    */
  def d17CrossSourceDups(spark: SparkSession, sfDir: String): DataFrame = {
    val src = Tables.documents(spark, sfDir).select(col("doc_id"), col("source"))
    d02DedupMinhash(spark, sfDir)
      .join(src.select(col("doc_id").as("doc_a"), col("source").as("sa")), "doc_a")
      .join(src.select(col("doc_id").as("doc_b"), col("source").as("sb")), "doc_b")
      .groupBy(least(col("sa"), col("sb")).as("source_a"),
        greatest(col("sa"), col("sb")).as("source_b"))
      .agg(count(lit(1)).as("n_shared_pairs"))
      .orderBy(col("source_a"), col("source_b"))
  }

  /** Shingles reported per pair by [[d18MatchForensics]]. */
  private val ForensicsTopK = 3

  /** d18: near-dup match forensics — for every verified d02 pair,
    * the [[ForensicsTopK]] RAREST shingles the two documents share
    * (ascending corpus document frequency): the "why did these
    * match" report an operator reads before trusting or tuning a
    * dedup run (rare shared shingles = genuine shared content;
    * only-common shared shingles = boilerplate driving false
    * merges). Shape: the pair list is small (dedup output), so the
    * shingle-array joins against it are broadcast-sized; the corpus
    * df table is the d15 regime (shuffle-join on the shingle,
    * broadcast when the vocab fits); the per-pair top-k window is
    * bounded by a document's shingle count.
    */
  def d18MatchForensics(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    registerAll(spark)
    val toks = Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        array_distinct(call_function("word_grams", col("text"), lit(3))).as("s"))
    val dfreq = toks.select(explode(col("s")).as("sh"))
      .groupBy(col("sh")).agg(count(lit(1)).as("df"))
    val shared = d02DedupMinhash(spark, sfDir)
      .join(toks.select(col("doc_id").as("doc_a"), col("s").as("sa")), "doc_a")
      .join(toks.select(col("doc_id").as("doc_b"), col("s").as("sb")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        explode(array_intersect(col("sa"), col("sb"))).as("sh"))
    val byRarity = Window.partitionBy(col("doc_a"), col("doc_b"))
      .orderBy(col("df"), col("sh"))
    shared.join(dfreq, "sh")
      .withColumn("rank", row_number().over(byRarity))
      .filter(col("rank") <= ForensicsTopK)
      .select(col("doc_a"), col("doc_b"), col("rank").cast("long").as("rank"),
        col("sh").as("shingle"), col("df"))
      .orderBy(col("doc_a"), col("doc_b"), col("rank"))
  }

  /** Permutations in [[d22MinhashEstimate]]'s signature. */
  private[graft] val EstPerms = 64

  /** Error-contract bound for d22 in 2²⁰ ticks of Jaccard.
    * EMPIRICAL CONTRACT (the q34/s31 posture): at k = 64 the
    * per-pair standard error is √(j(1−j)/k) ≤ 0.0573 for j ≥ 0.7;
    * the bound covers the observed max with ≥ 2× margin and shrinks
    * as 1/√k — production doubles k, not the bound.
    */
  private[graft] val EstBoundTicks = 250000L

  /** d22: the MinHash ESTIMATE-vs-EXACT contract — the sketch
    * family's q34/s31 posture applied to dedup (reference: /root/
    * reference/mllib/src/main/scala/org/apache/spark/ml/feature/
    * MinHashLSH.scala:1, whose keyDistance IS this signature-
    * agreement estimate of Jaccard distance): for every d02
    * near-dup pair, the exact 3-gram Jaccard (ticked), the
    * [[EstPerms]]-permutation signature-agreement estimate, the
    * error, and the [[EstBoundTicks]] boolean. The signature here is
    * an AFFINE (2-universal) family over one 48-bit md5 base per
    * shingle — h_i(g) = ((2i+1)·H(g) + FNV·i) mod 2⁴⁸ — one md5 per
    * (doc, shingle) then k integer multiply-adds, so BOTH the
    * signature and the estimate are exact integers either engine
    * rebuilds natively (d02's codegen'd kernel signature keeps
    * serving the banding; this family serves the replicable
    * contract — same MinHash mathematics, E[agreement] = J). Docs
    * with no shingles fill component i with i (deterministic; two
    * empty docs estimate 1.0 = their exact Jaccard).
    *
    * Scale shape: signatures are one projection over the shingle
    * lists (k-bounded per row); the pair frame is d02's verified
    * output joined to two broadcast-small signature columns. At
    * corpus scale the estimate REPLACES the exact verify (that is
    * its purpose — keyDistance without re-reading texts); the exact
    * column here is the test-harness truth, the s31 framing.
    */
  def d22MinhashEstimate(spark: SparkSession, sfDir: String): DataFrame = {
    registerAll(spark)
    val pairs = minhashPairs(spark, sfDir).ckpt(true)
    // signatures ONLY for docs appearing in a candidate pair — the
    // k-permutation HOF runs interpreted (no codegen for lambda
    // bodies), so building it corpus-wide cost 20+ s at sf0.1 where
    // the pair-docs slice costs ~2 s; the md5 base is also hoisted
    // out of the per-permutation lambda (it re-ran k times inside)
    val inPairs = pairs.select(col("doc_a").as("doc_id"))
      .union(pairs.select(col("doc_b").as("doc_id"))).distinct()
    val sg = Tables.documents(spark, sfDir)
      .join(inPairs, Seq("doc_id"), "left_semi")
      .select(col("doc_id"),
        array_distinct(call_function("word_grams", col("text"), lit(3))).as("s"))
      .withColumn("hs", expr(
        "transform(s, g -> CAST(conv(substring(md5(g), 1, 12), 16, 10) AS BIGINT))"))
      .select(col("doc_id"), expr(
        s"""transform(sequence(0, ${EstPerms - 1}), i -> coalesce(
           |array_min(transform(hs, h ->
           |  (CAST(2 * i + 1 AS BIGINT) * h
           |   + CAST(1099511628211 AS BIGINT) * CAST(i AS BIGINT))
           |  % CAST(281474976710656 AS BIGINT))),
           |CAST(i AS BIGINT)))""".stripMargin).as("sig"))
      .ckpt(true)
    pairs
      .join(sg.select(col("doc_id").as("doc_a"), col("sig").as("sa")), "doc_a")
      .join(sg.select(col("doc_id").as("doc_b"), col("sig").as("sb")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        floor(col("jaccard") * lit(1048576.0) + lit(0.5)).cast("long")
          .as("exact_jac_ticks"),
        expr(s"(CAST(size(filter(zip_with(sa, sb, (x, y) -> x = y), " +
          s"b -> b)) AS BIGINT) * 1048576) div $EstPerms").as("est_jac_ticks"))
      .withColumn("err_ticks", abs(col("est_jac_ticks") - col("exact_jac_ticks")))
      .withColumn("within_bound", col("err_ticks") <= EstBoundTicks)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** d16: dedup threshold-sweep report — the candidate pairs of
    * d04's 2-gram pipeline bucketed into Jaccard deciles [0.5, 1.0]:
    * the calibration curve an operator reads before PICKING a dedup
    * threshold (how many pairs does each 0.1 of threshold add?).
    * Pure reuse: d04's banding covers ≥ 0.5 (s-curve 0.42), so every
    * decile of the report is complete; one extra tiny aggregation
    * over the verified pairs. The decile key is computed from the
    * 4dp-ROUNDED similarity so bucket edges are engine-exact.
    */
  def d16DedupSweep(spark: SparkSession, sfDir: String): DataFrame =
    d04DedupNgram(spark, sfDir)
      .withColumn("decile",
        least(lit(9), floor(col("jaccard2") * 10).cast("int")))
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n_pairs"),
        round(min(col("jaccard2")), 4).as("min_jac"),
        round(max(col("jaccard2")), 4).as("max_jac"))
      .orderBy(col("decile"))

  /** Shingle-set Jaccard threshold for [[d15DedupPrefix]] — d02's
    * verify bar, so d15 is d02's exact-recall twin.
    */
  private val PrefixJaccardBar = 0.7

  /** d15: EXACT-recall near-dup via prefix filtering (the
    * AllPairs/PPJoin family — Bayardo et al., "Scaling Up All Pairs
    * Similarity Search", WWW '07) over the same similarity d02
    * computes probabilistically: distinct word 3-gram shingle sets,
    * Jaccard ≥ 0.7. Each document's shingles are ordered by ascending
    * global document frequency (rarest first, ties lexicographic) and
    * only the first n − ⌈t·n⌉ + 1 — the *prefix* — are indexed. Two
    * sets with Jaccard ≥ t must share a prefix element (if they
    * shared none, their overlap is confined to the ⌈t·n⌉ − 1 suffix
    * elements of each side — too few to reach the threshold), so an
    * equi-join on prefix shingles yields EVERY qualifying pair:
    * recall is 1 by THEOREM, where d02's MinHash banding trades
    * recall on an s-curve. The price is threshold sensitivity
    * (prefixes grow to whole documents as t falls): prefix filtering
    * is the high-threshold exact tool, LSH the low-threshold
    * probabilistic one — a complete dedup engine carries both.
    *
    * Scale shape: df ordering puts each document's RAREST shingles in
    * its prefix, so prefix postings are short and the self-join
    * avoids the hot-token quadratic blowup a naive shingle-join hits
    * (the ordering is the entire point of the algorithm — boilerplate
    * shingles shared by millions of docs land in suffixes and are
    * never joined on). The lossless length filter
    * (⌈t·max(na,nb)⌉ ≤ min(na,nb)) prunes candidates before the
    * verify; the df table is shingle-vocabulary-sized (shuffle-join
    * here; broadcast when it fits); the per-doc rank window
    * partitions on doc_id with partitions bounded by document length.
    * Verification re-reads only candidate docs' shingle arrays and
    * computes exact set Jaccard.
    */
  def d15DedupPrefix(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    registerAll(spark)
    // checkpointed: four branches consume this frame (df counts,
    // prefix ranking, and both verify sides) and Spark has no
    // cross-branch reuse — unmaterialized, the corpus tokenizes 4×
    // (the p06/t10 lesson)
    val toks = Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        array_distinct(call_function("word_grams", col("text"), lit(3))).as("s"))
      .filter(size(col("s")) > 0)
      // hs: the shingle HASH SET, sorted — computed once per doc and
      // carried through the checkpoint; feeds both the candidate
      // explode and the r17 verify pre-filter below
      .withColumn("hs",
        expr("array_sort(array_distinct(transform(s, x -> xxhash64(x))))"))
      .ckpt(true)
    // candidate generation runs on 64-bit shingle hashes (the hs
    // column — hashed once per doc, NOT per exploded row), so every
    // shuffle from here to the verify carries longs, never shingle
    // text. Collisions cannot lose pairs: merging elements only
    // RAISES set Jaccard (|∩| grows, |∪| shrinks), so hashed
    // candidates are a superset of string candidates and the exact
    // string verify restores precision. (n = |hs| keeps the prefix
    // theorem exact over the hash sets the join actually runs on.)
    val exploded = toks
      .select(col("doc_id"), size(col("hs")).as("n"), explode(col("hs")).as("sh"))
    val dfreq = exploded.groupBy(col("sh")).agg(count(lit(1)).as("df"))
    val byRarity = Window.partitionBy(col("doc_id")).orderBy(col("df"), col("sh"))
    val prefix = exploded.join(dfreq, "sh")
      .withColumn("r", row_number().over(byRarity))
      .filter(col("r") <= col("n") - ceil(col("n") * lit(PrefixJaccardBar)) + 1)
      // df = 1 prefix shingles appear in ONE document — they cannot
      // produce a candidate pair, and by construction (rarest-first
      // order) they dominate prefixes; dropping them AFTER ranking is
      // lossless and empties most postings before the self-join
      .filter(col("df") >= 2)
      .select(col("sh"), col("doc_id"), col("n"))
    val cand = prefix.as("a").join(prefix.as("b"),
        col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
      .filter(least(col("a.n"), col("b.n")) >=
        ceil(greatest(col("a.n"), col("b.n")) * lit(PrefixJaccardBar)))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    // r17 two-stage verify: the old single stage ran the string-set
    // intersect kernel on EVERY length-qualified candidate pair
    // (~208 k pairs, 8.2 s of the key's 13 s CPU at sf0.1 — node
    // metrics). Stage 1 merges the per-doc sorted hash sets with the
    // early-exit sorted_jaccard_ge kernel (~long compares instead of
    // per-pair string hashing); by the superset theorem above a true
    // ≥ t pair can never be rejected, so stage 2's EXACT string
    // intersect — unchanged, the output the oracle hashes — runs on
    // the tiny plausible set only.
    val ha = toks.select(col("doc_id").as("doc_a"), col("hs").as("hsa"))
    val hb = toks.select(col("doc_id").as("doc_b"), col("hs").as("hsb"))
    val plausible = cand.join(ha, "doc_a").join(hb, "doc_b")
      .filter(call_function("sorted_jaccard_ge",
        col("hsa"), col("hsb"), lit(PrefixJaccardBar)))
      .select(col("doc_a"), col("doc_b"))
    val sa = toks.select(col("doc_id").as("doc_a"), col("s").as("sa"))
    val sb = toks.select(col("doc_id").as("doc_b"), col("s").as("sb"))
    plausible.join(sa, "doc_a").join(sb, "doc_b")
      .withColumn("i", size(array_intersect(col("sa"), col("sb"))))
      .withColumn("jac", col("i").cast("double") /
        (size(col("sa")) + size(col("sb")) - col("i")).cast("double"))
      .filter(col("jac") >= PrefixJaccardBar)
      .select(col("doc_a"), col("doc_b"), round(col("jac"), 4).as("jaccard3"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Connected components by iterative min-label propagation
    * ("hash-to-min"): label(v) ← min(label(v), min over neighbors),
    * repeated until a fixpoint. Each round is one shuffle join + one
    * partial-agg'd min — fully distributed, no driver-side graph.
    * Rounds needed = component diameter; near-dup components are
    * near-cliques (high-Jaccard similarity is almost transitive), so
    * 2–3 rounds in practice, `maxIters` as a runaway bound. If the
    * bound is hit (adversarial long-chain graphs), the default is to
    * fall back to [[connectedComponentsStar]], whose round count is
    * polylog in n regardless of diameter; `starFallback = false`
    * restores the fail-loud contract for callers that would rather
    * abort than change algorithm mid-query.
    *
    * Each round's label frame is `ckpt`ed: a plain persist would NOT
    * truncate the logical plan, and with the previous frame
    * referenced twice per round the un-truncated plan DOUBLES in size
    * every iteration — exponential analysis cost and a driver OOM
    * near 30 rounds (measured). Checkpointing pins the materialized
    * rows (two longs per node) and resets lineage to a leaf; the
    * round's label-sum digest is the job that materializes it, and
    * blocks of dropped rounds are freed by Spark's ContextCleaner once
    * unreferenced. The initial labels frame is NOT checkpointed: it
    * is a projection of `nodes`, with no lineage to truncate, and one
    * aggregate over it yields both the node count and the first label
    * sum, so the loop starts with a single job.
    *
    * @param nodes single column `id`
    * @param edges columns `src`, `dst` (undirected; any orientation)
    * @return columns `id`, `label` (= min node id in the component)
    */
  private[graft] def connectedComponents(
      nodes: DataFrame, edges: DataFrame, maxIters: Int = 50,
      starFallback: Boolean = true): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    val sym = edges.select(col("src"), col("dst"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    var labels = nodes.select(col("id"), col("id").as("label"))
    // fixpoint test: per-node labels are monotonically non-increasing
    // (min over self ∪ neighbors), so the label SUM strictly decreases
    // iff any label changed — one partial-agg'd scan of the round's
    // frame, no comparison join. Decimal(38,0) keeps the sum exact at
    // any node count (1e11 ids of ~1e11 overflow a long). sum() over
    // zero rows is SQL NULL — map it to 0 so an empty nodes frame
    // converges to an empty result instead of NPE-ing
    val labelSumCol = sum(col("label").cast("decimal(38,0)"))
    def sumOf(r: org.apache.spark.sql.Row, i: Int): BigDecimal =
      Option(r.getDecimal(i)).map(BigDecimal(_)).getOrElse(BigDecimal(0))
    // the loop's one driver-side read site: a 1-row aggregate
    def aggRow(df: DataFrame, c: Column*): org.apache.spark.sql.Row =
      df.agg(c.head, c.tail: _*).collect()(0)
    // node count (for the r16 scale-adaptive broadcast of the
    // node-sized round-invariant label state, [[graft.Engine.hintSmall]]:
    // the symmetrized edge frame then never re-shuffles per round) and
    // the first label sum, in one job
    val start = aggRow(labels, count(lit(1)), labelSumCol)
    val nNodes = start.getLong(0)
    var prevSum = sumOf(start, 1)
    var iter = 0
    var converged = false
    while (!converged && iter < maxIters) {
      val viaEdges = sym.join(graft.Engine.hintSmall(
          labels.withColumnRenamed("id", "dst"), nNodes), "dst")
        .select(col("src").as("id"), col("label"))
      val next = labels.select(col("id"), col("label")).union(viaEdges)
        .groupBy(col("id")).agg(min(col("label")).as("label"))
        .ckpt(false) // lazy: the sum digest materializes it (one job, not two)
      val nextSum = sumOf(aggRow(next, labelSumCol), 0)
      labels = next
      converged = nextSum == prevSum
      prevSum = nextSum
      iter += 1
    }
    sym.unpersist(blocking = false)
    if (!converged && starFallback)
      // diameter exceeded the bound: restart with the diameter-
      // independent algorithm rather than abort (the wasted min-label
      // rounds are bounded by maxIters; star converges in polylog
      // rounds from scratch)
      return connectedComponentsStar(nodes, edges)
    // an unconverged result is NOT connected components — fail loudly
    // rather than hand back labels that look plausible
    require(converged,
      s"connectedComponents did not converge in $maxIters rounds " +
        "(component diameter exceeds the bound; raise maxIters or use " +
        "connectedComponentsStar)")
    labels
  }

  /** Connected components by alternating large-star / small-star
    * contraction (Kiveris et al., "Connected Components in MapReduce
    * and Beyond", SoCC '14): round count is polylog in n REGARDLESS
    * of component diameter, vs min-label propagation's O(diameter) —
    * the algorithm of record for adversarial long-chain graphs
    * (boilerplate dup chains at corpus scale). Same distributed
    * primitives as [[connectedComponents]]: each half-round is one
    * partial-agg'd groupBy-min plus one shuffle join, no driver-side
    * graph state.
    *
    * large-star hooks every node's LARGER neighbors directly onto the
    * minimum of its closed neighborhood — long chains halve per round.
    * small-star re-hooks the smaller neighbors (and the node itself)
    * onto that minimum — partial stars flatten. The only states fixed
    * under both steps are forests of stars rooted at component minima
    * (Kiveris et al., Thm 1-2), so at the fixpoint every non-root
    * carries exactly the edge (v, component-min) and labels read off
    * with one groupBy.
    *
    * The edge set is kept canonically oriented (u > v) and deduped;
    * the fixpoint test compares a multiset digest of that canonical
    * set — row count plus an exact decimal sum of a 60-bit md5 prefix
    * per edge — one partial-agg'd scan per round, no comparison join
    * (same digest trick as the Verify oracle hashes). Each round is
    * eagerly `ckpt`ed for the same lineage-doubling reason
    * documented on [[connectedComponents]].
    *
    * @param nodes single column `id`
    * @param edges columns `src`, `dst` (undirected; any orientation)
    * @return columns `id`, `label` (= min node id in the component)
    */
  private[graft] def connectedComponentsStar(
      nodes: DataFrame, edges: DataFrame, maxIters: Int = 32): DataFrame = {
    // canonical form: u > v, self-loops dropped, deduped — makes the
    // digest representation-independent and bounds edge growth
    def canon(e: DataFrame): DataFrame =
      e.filter(col("u") =!= col("v"))
        .select(greatest(col("u"), col("v")).as("u"),
          least(col("u"), col("v")).as("v"))
        .distinct()
    def digest(e: DataFrame): (Long, BigDecimal) = {
      val r = e.agg(count(lit(1)).as("n"),
        sum(conv(substring(md5(concat_ws(":", col("u"), col("v"))), 1, 15), 16, 10)
          .cast("decimal(38,0)")).as("h")).collect()(0)
      (r.getLong(0),
        Option(r.getDecimal(1)).map(BigDecimal(_)).getOrElse(BigDecimal(0)))
    }
    // for each u over BOTH edge directions: m = min(closed nbhd);
    // emit (v, m) for every strictly-larger neighbor v
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.union(e.select(col("v").as("u"), col("u").as("v")))
      val mins = sym.groupBy(col("u")).agg(min(col("v")).as("mn"))
        .select(col("u"), least(col("u"), col("mn")).as("m"))
      canon(sym.join(mins, "u").filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v")))
    }
    // canonical input (u > v): every v-side neighbor is smaller, so
    // m = min neighbor; re-hook each smaller neighbor and u onto m
    def smallStar(e: DataFrame): DataFrame = {
      val mins = e.groupBy(col("u")).agg(min(col("v")).as("m"))
      val attach = e.join(mins, "u").filter(col("v") =!= col("m"))
        .select(col("v").as("u"), col("m").as("v"))
      canon(attach.union(mins.select(col("u"), col("m").as("v"))))
    }
    var e = canon(edges.select(col("src").as("u"), col("dst").as("v")))
      .ckpt(true)
    var prev = digest(e)
    var iter = 0
    var converged = false
    while (!converged && iter < maxIters) {
      val next = smallStar(largeStar(e)).ckpt(false) // lazy: digest materializes
      val d = digest(next)
      converged = d == prev
      prev = d
      e = next
      iter += 1
    }
    require(converged,
      s"connectedComponentsStar did not converge in $maxIters rounds")
    // fixpoint = star forest: every non-root has exactly (v, root);
    // roots and isolated nodes label themselves
    val lbl = e.groupBy(col("u")).agg(min(col("v")).as("label"))
      .withColumnRenamed("u", "lid")
    nodes.join(lbl, col("id") === col("lid"), "left")
      .select(col("id"), coalesce(col("label"), col("id")).as("label"))
  }

  /** Materialize-once cluster labels per (session, sfDir): d07 and
    * d08 both derive from the same connected-components labels, and
    * the driver contract evaluates each operator standalone — without
    * this memo d08 re-runs the whole candidate→verify→CC pipeline.
    * [[connectedComponents]] already `ckpt`s its result;
    * the memo keeps that reference so the second caller reads the
    * materialized blocks (the production "materialize labels once"
    * pattern, previously only documented). Bounded by construction:
    * a SINGLE (session, sfDir) entry — d07/d08 over the same input
    * hit it back-to-back, any other (session, sfDir) evicts the old
    * entry, so the memo can never accumulate frames across sessions
    * or inputs. (A WeakHashMap keyed by session would NOT collect:
    * the cached DataFrame strongly references its session, pinning
    * the weak key — the classic WeakHashMap value→key pitfall.)
    *
    * Staleness: the key includes a cheap fingerprint of the documents
    * table (file count + total bytes + max mtime, one driver-side FS
    * listing) so a rewrite of the data under `sfDir` mid-session
    * invalidates the entry instead of serving labels for data that no
    * longer exists. The fingerprint is layout-level, not content-level
    * — an exotic same-size-same-mtime in-place rewrite would still hit
    * the memo; that is the documented contract.
    */
  private val labelsMemo = new graft.FrameMemo[org.apache.spark.sql.DataFrame]

  private def docsFingerprint(spark: SparkSession, sfDir: String): String =
    Tables.fingerprint(spark, sfDir, "documents")

  private def clusterLabels(spark: SparkSession, sfDir: String): DataFrame =
    labelsMemo.getOrCompute(spark, sfDir, docsFingerprint(spark, sfDir)) {
      val docs = Tables.documents(spark, sfDir).select(col("doc_id").as("id"))
      val pairs = minhashPairs(spark, sfDir)
        .select(col("doc_a").as("src"), col("doc_b").as("dst"))
      connectedComponents(docs, pairs)
    }

  /** Persistent-RDD ids backing the live labels memo — see
    * [[graft.FrameMemo]] for the bench-harness cleanup contract.
    */
  private[graft] def memoRetainedIds: Set[Int] = labelsMemo.retainedIds

  /** Drop the labels memo and unpersist its blocks. */
  private[graft] def clearMemos(): Unit = labelsMemo.clear()

  /** d08: dedup application — the corpus AFTER near-dup removal: one
    * canonical survivor (the min-id member, = the d07 cluster id) per
    * cluster, with how many documents it absorbed and its token
    * count. This is the operator a pipeline actually materializes;
    * d02/d07 are its evidence trail. Survivor selection is a filter
    * on the cluster labels (doc_id == cluster_id), then one join back
    * to the corpus for payload columns. Labels come from the shared
    * [[clusterLabels]] materialization (computed once per session,
    * reused across d07/d08).
    */
  def d08DedupApply(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"),
        size(split(trim(col("text")), " ")).cast("long").as("n_tokens"))
    d07DedupClusters(spark, sfDir)
      .filter(col("doc_id") === col("cluster_id"))
      .join(docs, "doc_id")
      .select(col("doc_id"), col("source"), col("n_tokens"),
        col("cluster_size").as("n_merged"))
      .orderBy(col("doc_id"))
  }

  /** d14: dedup report — the cluster-size distribution of the d07
    * closure: how many clusters of each size, how many documents they
    * hold. The number every dedup run publishes (dup rate, largest
    * template family) before anyone trusts the deduped corpus.
    * Reads the memoized cluster labels (shared with d07/d08), so
    * standalone evaluation costs one tiny aggregation over k rows.
    */
  def d14DedupReport(spark: SparkSession, sfDir: String): DataFrame =
    d07DedupClusters(spark, sfDir)
      .select(col("cluster_id"), col("cluster_size")).distinct()
      .groupBy(col("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"))
      .select(col("cluster_size"),
        col("n_clusters"),
        (col("cluster_size") * col("n_clusters")).as("n_docs"))
      .orderBy(col("cluster_size"))

  /** Candidate shingles for containment detection keep document
    * frequency in [2, [[ContainDfMax]]]: df = 1 can't witness a pair,
    * and ubiquitous boilerplate shingles (df above the cap) would
    * explode the inverted index quadratically — the standard
    * df-bounded inverted-index candidate scheme. The cap is a
    * documented recall bound: a pair is missed only if EVERY shared
    * shingle appears in more than [[ContainDfMax]] documents.
    */
  private val ContainDfMax = 20
  private val ContainBar = 0.8

  /** Minimum shared rare shingles before a pair is verified. One
    * shared rare shingle admits ~10% of ALL pairs on a dup-heavy
    * corpus (measured 1.12M of 12.8M at sf0.1) — the count filter
    * cuts that to ~10k while true ≥0.8-containment pairs share ≥8
    * rare shingles there. Recall bound: a true pair is missed only
    * if fewer than 3 of its shared shingles are rare — i.e. the doc
    * has < 3 shingles total, or its overlap is almost entirely
    * boilerplate (df > [[ContainDfMax]]), which the df cap already
    * excluded.
    */
  private val ContainMinShared = 3

  /** d09: containment dedup — ordered pairs where ≥ 80% of doc_a's
    * word 3-gram shingles appear in doc_b (near-superset detection:
    * quoting, boilerplate wrapping, partial copies). Jaccard-based
    * dedup (d02) misses these by construction — a small doc inside a
    * big one has low Jaccard but containment ≈ 1 — and MinHash LSH
    * can't band for an asymmetric measure, so candidates come from a
    * rare-shingle INVERTED INDEX instead: explode distinct shingles,
    * keep df ∈ [2, 20], self-join on the shingle, then require
    * [[ContainMinShared]] shared rare shingles per pair (a partial-
    * agg'd count — measured 112× candidate cut at sf0.1 with zero
    * recall loss). At 100 TB the shuffle carries (shingle, doc) pairs
    * for RARE shingles only, and the df cap bounds every per-shingle
    * pair fan-out quadratically.
    * The codegen `ngram_containment` kernel verifies exactly; both
    * directions are evaluated per unordered candidate pair.
    */
  def d09DedupContainment(spark: SparkSession, sfDir: String): DataFrame = {
    registerAll(spark)
    val docs = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    // the full index feeds BOTH the df pass and the rare semi-join,
    // and is deliberately RECOMPUTED for each (not persisted): the
    // exploded index is ~10× the corpus (one row per distinct shingle
    // per doc), so storing it costs more than a second codegen'd
    // scan+explode — measured at sf0.1: persist(MEMORY_AND_DISK) made
    // d09 15% slower; at 100 TB it would mean petabyte-scale spill
    val inv = docs
      .select(col("doc_id"),
        explode(array_distinct(call_function("word_grams", col("text"), lit(3)))).as("sh"))
    val rare = inv.groupBy(col("sh")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2 && col("df") <= ContainDfMax)
      .select(col("sh"))
    // checkpointed: the rare index is read by BOTH sides of the
    // self-join — without it each side re-runs the shingle explode
    // and df pass (df ≤ 20 bounds its size to a sliver of the corpus)
    val rareInv = inv.join(rare, Seq("sh"), "left_semi").ckpt(true)
    val cands = rareInv
      .join(rareInv.select(col("sh"), col("doc_id").as("doc_b")), Seq("sh"))
      .filter(col("doc_id") < col("doc_b"))
      .select(col("doc_id").as("doc_a"), col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= ContainMinShared)
      .select(col("doc_a"), col("doc_b"))
    // r17 verify: ngram_containment re-tokenized and re-hashed BOTH
    // texts on every candidate pair (twice — once per direction), and
    // a doc pays that again for every pair it appears in. The kernel
    // already counts over fnv64/mix64 shingle-hash SETS, so
    // materializing each doc's sorted hash set once and merging per
    // pair (sorted_containment) is bit-identical — the verify drops
    // from ~30-60 µs per pair to a ~|set| long-merge.
    val hsets = docs.select(col("doc_id"),
      call_function("shingle_hash_set", col("text"), lit(3)).as("hs"))
      .ckpt(true)
    val ta = hsets.select(col("doc_id").as("doc_a"), col("hs").as("hsa"))
    val tb = hsets.select(col("doc_id").as("doc_b"), col("hs").as("hsb"))
    val scored = cands.join(ta, "doc_a").join(tb, "doc_b")
      .select(col("doc_a"), col("doc_b"),
        call_function("sorted_containment", col("hsa"), col("hsb")).as("ab"),
        call_function("sorted_containment", col("hsb"), col("hsa")).as("ba"))
    // one row per DIRECTED containment: contained -> container.
    // Both directions in ONE pass (r16): the old two-branch
    // self-union planned the un-checkpointed `scored` subtree TWICE —
    // candidate build, text joins, and the ngram_containment kernel
    // all ran double; exploding a 2-element struct array emits both
    // directed rows from a single verification pass.
    scored.select(explode(array(
        struct(col("doc_a").as("contained_id"),
          col("doc_b").as("container_id"), col("ab").as("cont")),
        struct(col("doc_b").as("contained_id"),
          col("doc_a").as("container_id"), col("ba").as("cont")))).as("x"))
      .filter(col("x.cont") >= ContainBar)
      .select(col("x.contained_id").as("contained_id"),
        col("x.container_id").as("container_id"),
        round(col("x.cont"), 4).as("containment"))
      .orderBy(col("contained_id"), col("container_id"))
  }

  /** d10: incremental dedup — a NEW ingest batch probed against the
    * already-indexed corpus, the shape a production pipeline runs
    * daily: never re-dedup the whole corpus, only the delta. The
    * batch here is `doc_id % 10 == 7` (a deterministic ~10% slice);
    * output is every (new doc, corpus doc) pair with word-3gram
    * Jaccard ≥ 0.7, i.e. the new documents the corpus already has.
    *
    * Scale design: the corpus side is the SAME banded MinHash index
    * d02 builds — in production it is materialized once and written
    * bucketed by (band_id, band_hash) (`Sources.writeBucketed`), so
    * the daily probe join is shuffle-free on the corpus side and
    * only the delta's bands (16 small rows per new doc) move; here
    * both sides are computed inline because the driver contract
    * evaluates the operator standalone. Degenerate corpus buckets
    * are dropped at [[MaxBucket]] before the probe join (the same
    * documented recall trade as [[bucketPairs]] tier 2), so a
    * boilerplate bucket can never quadratically explode a probe.
    * Candidates stream out of the band join (no per-bucket arrays),
    * are `distinct`-ed to one per pair, then exact-verified with the
    * codegen Jaccard kernel.
    */
  /** The probe-able corpus band index behind [[d10DedupIncremental]]
    * and its streaming twin: the d02 MinHash banding with degenerate
    * buckets dropped at [[MaxBucket]]. In production this frame is
    * materialized once and written bucketed by (band_id, band_hash).
    *
    * The cap counts CORPUS rows only — the index is built before any
    * delta exists, so it cannot count probe docs. d02's [[bucketPairs]]
    * cap counts the whole bucket; the two can therefore disagree only
    * on a bucket whose corpus side is ≤ [[MaxBucket]] but whose
    * corpus+delta total exceeds it (d02 drops, d10 probes) — a
    * boundary band of width |delta∩bucket| around the cap, empty at
    * the test SFs and vanishingly rare outside degenerate corpora.
    *
    * The drop is not silent: the hot-bucket frame carries an
    * `observe` metric (`dropped_hot_buckets`) that every execution of
    * the index reports through `QueryExecution.observedMetrics` /
    * any registered `QueryExecutionListener` — a degenerate corpus
    * that actually hits the cap is visible in ops telemetry instead
    * of quietly losing recall. Costs nothing extra: `CollectMetrics`
    * rides the aggregation that computes the hot set anyway. One AQE
    * caveat consumers must know: when the hot set is EMPTY, adaptive
    * empty-relation propagation removes the anti-join build side —
    * CollectMetrics included — so the metric is simply absent; absent
    * and 0 both mean "no buckets dropped", and any actual drop always
    * reports (a non-empty build side is never propagated away).
    */
  private[graft] val DroppedBucketsMetric = "dropped_hot_buckets"

  private[graft] def corpusBandIndex(corpus: DataFrame): DataFrame = {
    val corpusBands = bandedSignatures(corpus, shingleN = 3, bands = 16, rows = 8)
    val hot = corpusBands.groupBy(col("band_id"), col("band_hash"))
      .agg(count(lit(1)).as("n")).filter(col("n") > MaxBucket)
      .select(col("band_id"), col("band_hash"))
      .observe(DroppedBucketsMetric, count(lit(1)).as("n_dropped"))
    corpusBands
      .join(broadcast(hot), Seq("band_id", "band_hash"), "left_anti")
      .select(col("band_id"), col("band_hash"), col("doc_id").as("corpus_id"))
  }

  def d10DedupIncremental(spark: SparkSession, sfDir: String): DataFrame = {
    registerAll(spark)
    val docs = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    val isNew = pmod(col("doc_id"), lit(10)) === 7
    val corpus = docs.filter(!isNew)
    val delta = docs.filter(isNew)
    val index = corpusBandIndex(corpus)
    val probe = bandedSignatures(delta, shingleN = 3, bands = 16, rows = 8)
      .select(col("band_id"), col("band_hash"), col("doc_id").as("new_id"))
    val cands = probe.join(index, Seq("band_id", "band_hash"))
      .select(col("new_id"), col("corpus_id")).distinct()
    val tn = delta.select(col("doc_id").as("new_id"), col("text").as("text_n"))
    val tc = corpus.select(col("doc_id").as("corpus_id"), col("text").as("text_c"))
    cands.join(tn, "new_id").join(tc, "corpus_id")
      .withColumn("jaccard",
        call_function("ngram_jaccard", col("text_n"), col("text_c"), lit(3)))
      .filter(col("jaccard") >= 0.7)
      .select(col("new_id"), col("corpus_id"), round(col("jaccard"), 4).as("jaccard"))
      .orderBy(col("new_id"), col("corpus_id"))
  }

  /** d07: duplicate-cluster assembly — connected components over the
    * verified MinHash near-dup pairs ([[minhashPairs]]), the step a
    * real dedup pipeline needs after pair generation: "keep one doc
    * per cluster" is only well-defined on components, not pairs
    * (A~B, B~C must collapse to ONE survivor even when A~C wasn't
    * directly detected). Every document gets a row; singletons are
    * their own cluster. cluster_id = min doc_id in the component =
    * the canonical survivor.
    */
  def d07DedupClusters(spark: SparkSession, sfDir: String): DataFrame = {
    val labels = clusterLabels(spark, sfDir)
    val sizes = labels.groupBy(col("label")).agg(count(lit(1)).as("cluster_size"))
    labels.join(sizes, "label")
      .select(col("id").as("doc_id"), col("label").as("cluster_id"),
        col("cluster_size"))
      .orderBy(col("doc_id"))
  }

  /** Window width (tokens) for [[d19SpanDedup]]: long enough that a
    * repeat is memorization-grade boilerplate, not idiom.
    */
  private[graft] val SpanW = 8

  /** d19: SPAN-level duplication profile — for each document, how
    * much of it consists of [[SpanW]]-token windows that also occur
    * in ANOTHER document: the substring-dedup signal (boilerplate
    * headers, license blocks, templated passages) that document-level
    * dedup (d01-d18) cannot see, because two documents sharing a
    * paragraph are far below any whole-document similarity bar. The
    * literature operator this re-expresses is exact-substring
    * training-data dedup; a pipeline uses the per-doc `dup_fraction`
    * to strip or down-weight boilerplate-heavy documents.
    *
    * Shape: windows are rolling 48-bit md5 hashes (one codegen kernel
    * call per document, n-w+1 longs out — never the token strings);
    * the cross-doc test is a two-level aggregation (distinct
    * (hash, doc) → hashes with ≥ 2 docs), and per-doc counts come
    * from ONE windows frame consumed by both sides. At 100 TB the
    * shuffle carries (hash, doc_id) longs — linear in corpus tokens,
    * same order as the corpus scan itself — and the repeated-hash set
    * (boilerplate is rare relative to all windows) semi-joins back
    * small. 48-bit collisions over-flag ~n²/2^49 windows — at 1e12
    * windows that is a measurable false-dup floor, so production at
    * that scale widens the hash; documented trade for the exact
    * DuckDB replication.
    */
  def d19SpanDedup(spark: SparkSession, sfDir: String): DataFrame =
    spanProfileFor(Tables.documents(spark, sfDir))

  /** The d19 core over any (doc_id, text) frame — extracted so the
    * spec can pin the flagging semantics on synthetic documents with
    * a known shared span.
    */
  private[graft] def spanProfileFor(docs: DataFrame): DataFrame = {
    registerAll(docs.sparkSession)
    val wins = docs
      .select(col("doc_id"),
        explode(call_function("window_hashes",
          call_function("word_grams", lower(col("text")), lit(1)),
          lit(SpanW))).as("wh"))
      .ckpt(true) // read by tot, dup, AND the repeat set
    val rep = wins.select(col("wh"), col("doc_id")).distinct()
      .groupBy(col("wh")).agg(count(lit(1)).as("nd"))
      .filter(col("nd") >= 2).select(col("wh"))
    val tot = wins.groupBy(col("doc_id")).agg(count(lit(1)).as("n_windows"))
    val dup = wins.join(rep, Seq("wh"), "left_semi")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_dup_windows"))
    docs.select(col("doc_id"))
      .join(tot, Seq("doc_id"), "left")
      .join(dup, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_windows"), lit(0L)).as("n_windows"),
        coalesce(col("n_dup_windows"), lit(0L)).as("n_dup_windows"))
      .withColumn("dup_fraction",
        when(col("n_windows") > 0,
          round(col("n_dup_windows") / col("n_windows"), 4)).otherwise(lit(0.0)))
      .orderBy(col("doc_id"))
  }

  /** Tick scale for [[d20SoftDedup]] weights: 2^20 per unit. */
  private val SoftDedupScale = 1048576L

  /** d20: SOFT dedup — keep every duplicate but sample it down so a
    * cluster of k near-copies contributes ~one document's worth of
    * data in expectation: weight = 1/cluster_size over d07's
    * transitive-closure clusters, materialized by a deterministic
    * salted-md5 bucket draw (p01/p03's reproducibility pattern — the
    * kept set is a pure function of doc_id, stable across runs,
    * engines, and cluster sizes). The standard alternative to hard
    * dedup when duplicates carry signal (popularity weighting) or
    * deletion is too aggressive at the fuzzy-match boundary.
    *
    * Integer contract: weights are `2^20 div cluster_size` ticks
    * (positive floor-div, engine-agreeing), the draw compares a
    * 20-bit md5 prefix (first 5 hex chars — exactly 2^20 buckets)
    * strictly below the tick weight, so singletons (weight = 2^20,
    * bucket < 2^20 always) are ALWAYS kept — hard-dedup semantics
    * degrade gracefully to the identity on unique documents.
    * Shape: d07's labels (memoized) + one broadcast-joined size
    * frame + a per-row hash — no new shuffle beyond d07's own.
    */
  def d20SoftDedup(spark: SparkSession, sfDir: String): DataFrame =
    d07DedupClusters(spark, sfDir)
      .withColumn("weight_ticks",
        expr(s"$SoftDedupScale div cluster_size"))
      .withColumn("bucket",
        conv(substring(md5(concat(lit("softdedup:"),
          col("doc_id").cast("string"))), 1, 5), 16, 10).cast("long"))
      .withColumn("kept", col("bucket") < col("weight_ticks"))
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"),
        col("weight_ticks"), col("kept"))
      .orderBy(col("doc_id"))

  /** d21's requested Jaccard bar — the ONLY knob; everything else is
    * derived. 0.35 is the loose boilerplate tier below d04's 0.5.
    */
  private[graft] val TunedBar = 0.35

  /** d21: threshold-tuned near-dup pairs — [[minhashBandingFor]] as a
    * RUNTIME surface, not just a spec-pinned derivation: the operator
    * takes [[TunedBar]] and computes its own (bands, rows) split
    * (= (32, 4) at 0.35, s* ≈ 0.42), then runs the d02
    * candidates-then-verify pipeline at that banding. The output
    * carries the derived `bands`/`rows` as columns and the oracle
    * hard-codes the expected split — so a planner change that moves
    * the choice FAILS the hash gate instead of silently retuning
    * recall. Recall contract: the corpus pair-similarity distribution
    * is bimodal (nothing between ~0.1 and ~0.9 — measured, see
    * d16's sweep), so every ≥ 0.35 pair sits far up the 0.42-midpoint
    * s-curve where candidate probability is ~1; the all-pairs oracle
    * proves it exactly at both gate SFs.
    */
  def d21DedupTuned(spark: SparkSession, sfDir: String): DataFrame = {
    val (bands, rows) = minhashBandingFor(TunedBar)
    registerAll(spark)
    val docs = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    val ta = docs.select(col("doc_id").as("doc_a"), col("text").as("text_a"))
    val tb = docs.select(col("doc_id").as("doc_b"), col("text").as("text_b"))
    lshCandidates(spark, sfDir, shingleN = 3, bands = bands, rows = rows)
      .join(ta, "doc_a").join(tb, "doc_b")
      .withColumn("jaccard",
        call_function("ngram_jaccard", col("text_a"), col("text_b"), lit(3)))
      .filter(col("jaccard") >= TunedBar)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 4).as("jaccard"),
        lit(bands.toLong).as("lsh_bands"), lit(rows.toLong).as("lsh_rows"))
      .orderBy(col("doc_a"), col("doc_b"))
  }
}
