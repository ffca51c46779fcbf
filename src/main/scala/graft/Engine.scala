package graft

import org.apache.spark.sql.SparkSession

/** Session factory for the graft engine.
  *
  * Encodes the OPS insight (minimize + pre-combine shuffled data;
  * reference: /root/reference/core/src/main/scala/org/apache/spark/
  * shuffle/OpsShuffleReader.scala) at the conf level where modern
  * Spark exposes it: AQE (runtime coalescing + skew-join splitting),
  * broadcast-join conversion, and right-sized shuffle partitions.
  */
object Engine {
  /** Tune an externally-built session (Verify/Bench create their own). */
  def configure(spark: SparkSession): SparkSession = {
    val c = spark.conf
    c.set("spark.sql.adaptive.enabled", "true")
    c.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    c.set("spark.sql.adaptive.skewJoin.enabled", "true")
    c.set("spark.sql.session.timeZone", "UTC")
    tuneSql(spark)
    graft.functions.registerAll(spark)
    spark
  }

  /** Execution tuning every session the library drives shares —
    * runtime SQL confs, so callable on an externally-built session
    * (guide §3.1/§9; r16, measured on the s32 node metrics):
    *
    *  - ObjectHashAggregate's sort-based fallback threshold defaults
    *    to 128 distinct keys per task, so EVERY bounded-heap top-k
    *    aggregation (top_k_by_score — per-item neighbor lists,
    *    per-user serve cuts) over more than 128 groups fell back to
    *    sort-based aggregation, which serializes the typed buffer per
    *    update row — measured 68 s in ONE s32 aggregation at sf0.1
    *    (numTasksFallBacked=32). 512k keys/task bounds worst-case
    *    fallback-free memory at ~200 MB/task for the library's
    *    k-heaps; aggregates with unbounded per-group state
    *    (collect_list) still fall back past it — that is the knob's
    *    job, not a regression. Scope note (r17, the r16-advice item):
    *    the conf is global by Spark's design (a per-task threshold
    *    with no per-query override surface on a shared session), and
    *    the in-tree object aggs are all bounded-state —
    *    top_k_by_score (fixed 2k-word buffer), pair_moments (fixed
    *    ≤ 17 KB buffer) — while the collect_list-class calls run on
    *    vocabulary- or pair-bounded groups (serve catalog rows,
    *    neighbor models, per-vector rank rows). An operator that ever
    *    aggregates unbounded per-group state on high-cardinality keys
    *    should set this conf lower around that query; none exists
    *    today.
    *  - AQE's SMJ→shuffled-hash rewrite is OFF by default
    *    (threshold 0). Checkpointed frames plan from
    *    defaultSizeInBytes, so the STATIC planner can never pick the
    *    hash join for them; the runtime rewrite sees the true
    *    post-shuffle sizes and drops the sort on both sides
    *    (measured: a single 30.8 s sort under s32's dots self-join).
    *    128 MB per-partition build cap = the advisory partition size;
    *    at any scale AQE only converts partitions that genuinely fit.
    */
  def tuneSql(spark: SparkSession): Unit = {
    val c = spark.conf
    c.set("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
      "524288")
    c.set("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
      (128L << 20).toString)
  }

  /** Default post-shuffle partition target. 128 MiB ≈ one HDFS/object
    * block: big enough to amortize task overhead, small enough to fit
    * an executor core's working memory with room for hash tables.
    */
  val TargetPartitionBytes: Long = 128L << 20

  /** Hard cap on computed shuffle partitions — past ~1M partitions the
    * scheduler/shuffle-index overhead dominates any skew benefit.
    */
  private val MaxShufflePartitions = 1 << 20

  /** Size shuffle partitions from the INPUT footprint instead of
    * shipping a constant: enough partitions that a post-shuffle
    * partition targets [[TargetPartitionBytes]], floored at the total
    * core count so every slot has work. AQE's partition coalescing
    * then shrinks cheap stages at runtime — this sets the UPPER bound
    * AQE coalesces from (too low a static value is the one mistake
    * AQE cannot fix, since it only merges, never splits, non-skewed
    * partitions). 32 is the right answer for this sandbox's sf0.1 on
    * local[32]; a 100 TB input on 1000×4 cores computes ~800k.
    */
  def shufflePartitionsFor(inputBytes: Long, totalCores: Int,
      targetPartitionBytes: Long = TargetPartitionBytes): Int = {
    require(inputBytes >= 0, s"inputBytes must be >= 0, got $inputBytes")
    require(totalCores >= 1, s"totalCores must be >= 1, got $totalCores")
    require(targetPartitionBytes >= 1, s"targetPartitionBytes must be >= 1")
    val bySize = (inputBytes + targetPartitionBytes - 1) / targetPartitionBytes
    math.max(totalCores, math.min(bySize, MaxShufflePartitions.toLong).toInt)
  }

  /** Total bytes under a local data directory — the input-footprint
    * probe for [[shufflePartitionsFor]] in local/test runs (a cluster
    * deployment asks its FileSystem the same question).
    */
  def dirBytes(dir: String): Long = {
    val root = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(root)) 0L
    else {
      val s = java.nio.file.Files.walk(root)
      try s.filter(java.nio.file.Files.isRegularFile(_))
        .mapToLong(java.nio.file.Files.size(_)).sum()
      finally s.close()
    }
  }

  def build(master: String = "local[*]", shufflePartitions: Int = 32): SparkSession = {
    val spark = SparkSession.builder()
      .master(master)
      .appName("graft")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .getOrCreate()
    configure(spark)
  }

  /** Build a session whose shuffle partitioning is derived from the
    * data directory it will read — the production entry point;
    * [[build]]'s constant default exists for the sandbox's fixed SF.
    */
  def buildFor(dataDir: String, master: String = "local[*]",
      totalCores: Int = Runtime.getRuntime.availableProcessors()): SparkSession =
    build(master, shufflePartitionsFor(dirBytes(dataDir), totalCores))

  /** Session conf key for [[hintSmall]]'s row threshold — a
    * scale-dependent knob, parameterized per the optimization-round
    * contract (local default below; a cluster sizes it to executor
    * memory headroom).
    */
  val BroadcastMaxRowsConf = "graft.broadcast.maxRows"

  /** Default [[hintSmall]] threshold: 1M rows of per-entity state
    * (≤ ~50 B/row) is a ≤ ~50 MB broadcast — inside the "few hundred
    * MB is fine" band of the optimization guide (§3.1), far under the
    * 8 GB / 512M-row hard cap. Width note (r17, the r16-advice item):
    * the WIDEST frames any caller hints are the ALS/SVD++ factor and
    * model frames at 9–17 narrow integer columns ≈ ≤ ~100 B/row, so
    * the worst case at the default is ~100 MB built — still inside
    * the band; a deployment hinting genuinely wide state should lower
    * this conf rather than rely on the row count alone (rows × width
    * is the real bound, and width is the caller's to know).
    */
  private val BroadcastMaxRowsDefault = 1000000L

  private[graft] def broadcastMaxRows(
      spark: SparkSession): Long =
    spark.conf.getOption(BroadcastMaxRowsConf).map(_.toLong)
      .getOrElse(BroadcastMaxRowsDefault)

  /** Scale-adaptive build-side choice for the iterative operators'
    * per-round state joins (guide §3.1 "pick the join strategy
    * deliberately"). A checkpointed frame loses its size estimate —
    * LogicalRDD plans with `spark.sql.defaultSizeInBytes`, so
    * auto-broadcast NEVER fires on one: measured SortMergeJoins with
    * exchanges on BOTH sides for 25-row vocabulary frames (f01) and
    * node-sized rank states (g01). AQE's runtime SMJ→BHJ conversion
    * only halves the damage: both exchanges still WRITE before the
    * conversion reads one of them locally.
    *
    * The operators hold a real row count of the state's key domain
    * anyway (their convergence digests / require guards), so they
    * decide: under the threshold the state frame broadcasts and the
    * corpus-sized side never shuffles; past it the hint switches off
    * and the shuffle join stands — the plan adapts to scale instead
    * of hard-coding either strategy.
    */
  private[graft] def hintSmall(
      df: org.apache.spark.sql.DataFrame,
      rows: Long): org.apache.spark.sql.DataFrame =
    if (rows >= 0 && rows <= broadcastMaxRows(df.sparkSession))
      org.apache.spark.sql.functions.broadcast(df)
    else df

  /** Pack a key pair into ONE long for aggregation/join keys — the
    * s32/g04 narrow-key treatment (guide §2.3 "narrower types") with
    * the r16-advice guard: the packing is injective ONLY for
    * 0 ≤ hi < 2³¹ and 0 ≤ lo < 2³²; past the bound distinct pairs
    * would silently merge (e.g. custkeys cross 2³¹ near SF 14k), so
    * the expression fails LOUDLY instead — the documented retune is
    * the two-column key. The check is two shifts per row (arithmetic
    * shift maps negatives to -1, so it also rejects them), noise
    * next to the shuffle the narrow key exists to shrink. Both inputs
    * are cast to long first: on an int column Spark masks the shift
    * count to 5 bits, so `shiftleft(hi, 32)` would be a no-op and the
    * `lo` guard would reject every non-zero value.
    */
  private[graft] def packPair(hiIn: org.apache.spark.sql.Column,
      loIn: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    val hi = hiIn.cast("long")
    val lo = loIn.cast("long")
    when(shiftright(hi, 31) === 0 && shiftright(lo, 32) === 0,
      shiftleft(hi, 32) + lo)
      .otherwise(raise_error(lit(
        "packed pair key out of range (hi >= 2^31, lo >= 2^32, or negative):" +
          " retune to the two-column key")).cast("long"))
  }
}
