package graft.operators

import graft.Ckpt._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** f01/f02: frequent-itemset mining + association rules over the
  * order×brand market baskets — the reference's mllib/fpm surface
  * (reference: /root/reference/mllib/src/main/scala/org/apache/spark/
  * mllib/fpm/FPGrowth.scala:1 and AssociationRules.scala:1),
  * re-expressed as Apriori-style relational passes instead of an
  * FP-tree: at the 2-itemset level the FP-tree's conditional-base
  * compression IS a partial-agg'd pair count, and the join-based form
  * gets Catalyst's pruning/partial-agg machinery for free.
  *
  * Contract points:
  *  - Baskets are (order, DISTINCT part brand) — the itemset universe
  *    is the 25-brand vocabulary, so per-basket fan-out is inherently
  *    bounded; the general-corpus guard ([[BasketCap]], the m06
  *    bucket-cap pattern) still drops degenerate baskets BEFORE any
  *    pair expansion, and must NOT bind at test SFs (spec'd).
  *  - The support floor is DATA-DERIVED: σ = (nb + 49) div 50 —
  *    ceil(2%) of the basket count in pure integer arithmetic (no
  *    float ceil edge), computed as a 1-row broadcast, never a driver
  *    fetch (the q48 split pattern).
  *  - Apriori pruning is structural: pair candidates draw only from
  *    L1-frequent items (semi-join), so the pair shuffle is bounded
  *    by frequent-item baskets even on corpora where most items are
  *    rare.
  *
  * Scale shape: ONE per-order shuffle builds the capped basket frame
  * (groupBy collect_set + size filter + explode — checkpointed,
  * shared by all levels); L1 is one partial-agg'd count; L2
  * self-joins baskets on the order key — per-basket C(k≤cap, 2)
  * expansion — then one partial-agg'd pair count. Rules (f02) join
  * the TINY L2/L1 result frames only. At 10¹² baskets nothing
  * changes shape: the frequent frames stay vocabulary-sized.
  */
object Itemsets {

  /** Degenerate-basket guard: baskets with more distinct items than
    * this are dropped before pair expansion (C(d,2) blow-up — the
    * m06/g04 cap lesson). The brand vocabulary is 25, so the cap
    * cannot bind on this corpus (spec'd); it exists for corpora with
    * unbounded item vocabularies.
    */
  private[graft] val BasketCap = 64

  /** Memo for the capped basket frame — f01 and f02 both consume it,
    * and the lineitem⋈part distinct shuffle behind it dominates both
    * keys' cost (measured ~3 s each in-sweep).
    */
  private val basketMemo = new graft.FrameMemo[org.apache.spark.sql.DataFrame]

  /** Persistent-RDD ids backing the live basket memo — the
    * [[graft.FrameMemo]] bench-harness cleanup contract.
    */
  private[graft] def memoRetainedIds: Set[Int] = basketMemo.retainedIds

  /** Drop the basket memo and unpersist its blocks. */
  private[graft] def clearMemos(): Unit = basketMemo.clear()

  /** The (o, it) distinct basket frame with the cap applied
    * (memoized), plus the 1-row (nb, sigma) support frame — shared
    * by f01 and f02.
    */
  private def basketsAndSupport(
      spark: SparkSession, sfDir: String): (DataFrame, DataFrame) = {
    val baskets = basketMemo.getOrCompute(spark, sfDir,
      graft.Tables.fingerprint(spark, sfDir, "lineitem") + "|" +
        graft.Tables.fingerprint(spark, sfDir, "part") + "|baskets") {
      // ONE shuffle builds the capped basket frame (r16): collect_set
      // per order subsumes the old distinct, and the size filter IS
      // the cap — replacing distinct-ckpt + count-groupBy + join
      // (3 shuffles, 2 materializations) with groupBy + explode
      // (1 shuffle, 1 materialization). Row set identical: distinct
      // (o, it) pairs of baskets with <= BasketCap distinct items.
      Tables.lineitem(spark, sfDir)
        .select(col("l_orderkey").as("o"), col("l_partkey"))
        .join(Tables.part(spark, sfDir)
          .select(col("p_partkey").as("l_partkey"), col("p_brand").as("it")),
          "l_partkey")
        .groupBy(col("o")).agg(collect_set(col("it")).as("its"))
        .filter(size(col("its")) <= BasketCap)
        .select(col("o"), explode(col("its")).as("it"))
        .ckpt(true)
    }
    val support = baskets.agg(countDistinct(col("o")).as("nb"))
      .withColumn("sigma", expr("(nb + 49) div 50"))
    (baskets, support)
  }

  /** Frequent 1- and 2-itemsets at the derived 2% floor
    * (selective at sf0.01: 215 of the 300 possible pairs clear it). Output:
    * (k, item_a, item_b NULL for k=1, support).
    */
  def f01FreqItemsets(spark: SparkSession, sfDir: String): DataFrame = {
    val (baskets, support) = basketsAndSupport(spark, sfDir)
    val l1 = baskets.groupBy(col("it")).agg(count(lit(1)).as("support"))
      .crossJoin(broadcast(support))
      .filter(col("support") >= col("sigma"))
      .ckpt(true)
    // Apriori prune: only L1-frequent items enter the pair expansion.
    // Explicit broadcast (r16): l1 is vocabulary-sized (<= 25 rows)
    // but checkpointed — the planner's LogicalRDD default stats made
    // this a SortMergeJoin with two exchanges of the basket frame.
    val fb = baskets.join(broadcast(l1.select(col("it"))), "it")
    // SHUFFLE_HASH on every per-order expansion self-join (r16): the
    // checkpointed basket frame plans SMJ from default stats, paying
    // two corpus-sized sorts per level; the per-partition build side
    // is basket-frame/partitions — exactly a hash map's size (guide
    // §3.1). Applied family-wide (f01/f02/f03/f05).
    val l2 = fb.select(col("o"), col("it").as("ia"))
      .join(fb.select(col("o"), col("it").as("ib")).hint("shuffle_hash"), "o")
      .filter(col("ia") < col("ib"))
      .groupBy(col("ia"), col("ib")).agg(count(lit(1)).as("support"))
      .crossJoin(broadcast(support))
      .filter(col("support") >= col("sigma"))
    l1.select(lit(1L).as("k"), col("it").as("item_a"),
        lit(null).cast("string").as("item_b"), col("support"))
      .unionByName(l2.select(lit(2L).as("k"), col("ia").as("item_a"),
        col("ib").as("item_b"), col("support")))
      .orderBy(col("k"), col("item_a"), col("item_b"))
  }

  /** Ticks per unit for f02's confidence/lift (2²⁰ — the t09 scale). */
  private[graft] val RuleScale = 1048576L

  /** f02: association rules from the frequent pairs — both directions
    * of every L2 itemset, with integer-tick confidence and lift:
    * conf(i→j) = sup(ij)·2²⁰ div sup(i); lift scales by nb over
    * sup(i)·sup(j). All-positive integer division (engines agree);
    * the largest tick product, sup·nb·2²⁰, is ~10⁵·1.5·10⁵·2²⁰ ≈
    * 1.6·10¹⁶ < 2⁶³ at sf0.1 — at 10¹² baskets the numerator
    * overflows and the documented retune drops RuleScale to 2¹⁰.
    * Output: (antecedent, consequent, support, conf_ticks, lift_ticks).
    */
  def f02AssocRules(spark: SparkSession, sfDir: String): DataFrame = {
    val (baskets, support) = basketsAndSupport(spark, sfDir)
    val l1 = baskets.groupBy(col("it")).agg(count(lit(1)).as("sup1"))
      .crossJoin(broadcast(support))
      .filter(col("sup1") >= col("sigma"))
      .select(col("it"), col("sup1"))
      .ckpt(true)
    val fb = baskets.join(broadcast(l1.select(col("it"))), "it")
    val l2 = fb.select(col("o"), col("it").as("ia"))
      .join(fb.select(col("o"), col("it").as("ib")).hint("shuffle_hash"), "o")
      .filter(col("ia") < col("ib"))
      .groupBy(col("ia"), col("ib")).agg(count(lit(1)).as("support"))
      .crossJoin(broadcast(support))
      .filter(col("support") >= col("sigma"))
    // both directions in ONE pass (r16): the old self-union planned
    // the un-checkpointed l2 subtree — the full pair expansion —
    // TWICE; exploding a 2-element struct array emits the same two
    // rows per itemset from a single computation.
    val both = l2.select(explode(array(
        struct(col("ia").as("antecedent"), col("ib").as("consequent"),
          col("support"), col("nb")),
        struct(col("ib").as("antecedent"), col("ia").as("consequent"),
          col("support"), col("nb")))).as("x"))
      .select(col("x.antecedent").as("antecedent"),
        col("x.consequent").as("consequent"),
        col("x.support").as("support"), col("x.nb").as("nb"))
    both
      .join(broadcast(l1.select(col("it").as("antecedent"),
        col("sup1").as("sup_a"))), "antecedent")
      .join(broadcast(l1.select(col("it").as("consequent"),
        col("sup1").as("sup_c"))), "consequent")
      .select(col("antecedent"), col("consequent"), col("support"),
        expr(s"(support * $RuleScale) div sup_a").as("conf_ticks"),
        expr(s"(support * nb * $RuleScale) div (sup_a * sup_c)")
          .as("lift_ticks"))
      .orderBy(col("antecedent"), col("consequent"))
  }

  /** DuckDB twins: the same derived-σ CTE chain with `//` where the
    * engine runs `div` (all-positive operands).
    */
  private[graft] def basketsOracleCtes: String =
    """bk AS (
      |  SELECT DISTINCT l_orderkey AS o, p_brand AS it
      |  FROM lineitem JOIN part ON l_partkey = p_partkey),
      |keep AS (SELECT o FROM bk GROUP BY o HAVING count(*) <= 64),
      |b AS (SELECT bk.o, bk.it FROM bk JOIN keep ON bk.o = keep.o),
      |n AS (SELECT count(DISTINCT o) AS nb,
      |        (count(DISTINCT o) + 49) // 50 AS sigma FROM b),
      |l1 AS (SELECT it, CAST(count(*) AS BIGINT) AS sup1
      |       FROM b GROUP BY it HAVING count(*) >= (SELECT sigma FROM n)),
      |fb AS (SELECT b.o, b.it FROM b JOIN l1 ON b.it = l1.it),
      |l2 AS (SELECT x.it AS ia, y.it AS ib, CAST(count(*) AS BIGINT) AS support
      |       FROM fb x JOIN fb y ON x.o = y.o AND x.it < y.it
      |       GROUP BY 1, 2 HAVING count(*) >= (SELECT sigma FROM n))""".stripMargin

  private[graft] def f01OracleSql: String =
    s"""WITH $basketsOracleCtes
       |SELECT CAST(1 AS BIGINT) AS k, it AS item_a,
       |  CAST(NULL AS VARCHAR) AS item_b, sup1 AS support
       |FROM l1
       |UNION ALL
       |SELECT CAST(2 AS BIGINT), ia, ib, support FROM l2
       |ORDER BY k, item_a, item_b""".stripMargin

  /** Triples reported by [[f03FreqTriples]]. */
  private[graft] val TriplesTopK = 20

  /** f03: top 3-itemsets — Apriori level 3 over the same basket
    * frame, the claim f01's FP-tree-equivalence note makes at the
    * next level, executable: triple candidates expand ONLY from
    * in-basket frequent PAIRS (the L2 semi-join runs before the
    * third-item join), and full Apriori pruning holds — a triple
    * reaches the count only if all three of its sub-pairs are
    * L2-frequent ((ia,ib) by construction; (ia,ic) and (ib,ic) by
    * broadcast semi-joins against the tiny L2 frame). The expansion
    * is bounded per basket by C(cap, 3) via [[BasketCap]] and in
    * practice by the frequent-pair occurrences; the candidate
    * universe is vocabulary-cubed at worst, broadcast-size.
    *
    * Reporting floor: the f01 2% σ prunes the CANDIDATES (the
    * Apriori guarantee), but no triple reaches 2% on this corpus at
    * any SF (measured: max 597 of 147k baskets at sf0.1) — the
    * honest L3 surface is the bounded TOP-[[TriplesTopK]] by
    * (support desc, items asc), a TakeOrdered global top-k (no full
    * sort). Output: (item_a, item_b, item_c, support).
    */
  def f03FreqTriples(spark: SparkSession, sfDir: String): DataFrame = {
    val (baskets, support) = basketsAndSupport(spark, sfDir)
    val l1 = baskets.groupBy(col("it")).agg(count(lit(1)).as("sup1"))
      .crossJoin(broadcast(support))
      .filter(col("sup1") >= col("sigma"))
      .select(col("it"))
      .ckpt(true)
    val fb = baskets.join(broadcast(l1), "it").ckpt(true)
    val l2k = fb.select(col("o"), col("it").as("ia"))
      .join(fb.select(col("o"), col("it").as("ib")).hint("shuffle_hash"), "o")
      .filter(col("ia") < col("ib"))
      .groupBy(col("ia"), col("ib")).agg(count(lit(1)).as("s2"))
      .crossJoin(broadcast(support))
      .filter(col("s2") >= col("sigma"))
      .select(col("ia"), col("ib"))
      .ckpt(true)
    val basketPairs = fb.select(col("o"), col("it").as("ia"))
      .join(fb.select(col("o"), col("it").as("ib")).hint("shuffle_hash"), "o")
      .filter(col("ia") < col("ib"))
      .join(broadcast(l2k), Seq("ia", "ib"), "left_semi")
    val tri = basketPairs
      .join(fb.select(col("o"), col("it").as("ic")).hint("shuffle_hash"), "o")
      .filter(col("ic") > col("ib"))
      .join(broadcast(l2k.select(col("ia"), col("ib").as("ic"))),
        Seq("ia", "ic"), "left_semi")
      .join(broadcast(l2k.select(col("ia").as("ib"), col("ib").as("ic"))),
        Seq("ib", "ic"), "left_semi")
      .groupBy(col("ia"), col("ib"), col("ic"))
      .agg(count(lit(1)).as("support"))
    tri.select(col("ia").as("item_a"), col("ib").as("item_b"),
        col("ic").as("item_c"), col("support"))
      .orderBy(col("support").desc, col("item_a"), col("item_b"),
        col("item_c"))
      .limit(TriplesTopK)
  }

  /** The DuckDB twin of [[f03FreqTriples]]. */
  private[graft] def f03OracleSql: String =
    s"""WITH $basketsOracleCtes,
       |l2k AS (SELECT ia, ib FROM l2),
       |bp AS (
       |  SELECT x.o, x.it AS ia, y.it AS ib
       |  FROM fb x JOIN fb y ON x.o = y.o AND x.it < y.it
       |  JOIN l2k k ON k.ia = x.it AND k.ib = y.it),
       |tr AS (
       |  SELECT bp.ia, bp.ib, z.it AS ic, CAST(count(*) AS BIGINT) AS support
       |  FROM bp JOIN fb z ON bp.o = z.o AND z.it > bp.ib
       |  JOIN l2k k2 ON k2.ia = bp.ia AND k2.ib = z.it
       |  JOIN l2k k3 ON k3.ia = bp.ib AND k3.ib = z.it
       |  GROUP BY 1, 2, 3)
       |SELECT ia AS item_a, ib AS item_b, ic AS item_c, support
       |FROM tr
       |ORDER BY support DESC, item_a, item_b, item_c
       |LIMIT $TriplesTopK""".stripMargin

  /** f04: sequential-pattern mining over per-user event streams —
    * the reference's mllib/fpm sequence surface (reference:
    * /root/reference/mllib/src/main/scala/org/apache/spark/mllib/fpm/
    * PrefixSpan.scala:1), re-expressed as bounded first-occurrence
    * joins instead of projected-database recursion: a user supports
    * ⟨a,b⟩ iff an a-event precedes a b-event, and ⟨a,b,c⟩ iff a
    * c-event follows the EARLIEST b after the EARLIEST a — the
    * classic greedy-matching lemma (earliest prefix occurrences never
    * exclude a continuation), so first-occurrence frames decide
    * containment exactly.
    *
    * Contract points:
    *  - Event order is (ts, event_id) — total, engine-agreed; the
    *    per-user `pos` is a row_number over that order (the q31
    *    sessionize window posture: bounded by per-user activity).
    *  - Support floor σ = ceil(2% of users), data-derived as a 1-row
    *    broadcast (the f01 posture); Apriori pruning is structural —
    *    pairs draw only from frequent singletons, triples extend
    *    only frequent pairs (semi-joins).
    *
    * Scale shape: first-occurrence frames are partial-agg'd mins of
    * at most |users|·|vocab| (resp. ·|vocab|²) rows; the extension
    * joins expand each event by at most |vocab| (resp. |vocab|²)
    * first-occurrence rows of its own user — vocabulary-bounded
    * fan-out, the f01/f03 budget. The pattern universe is |vocab|³
    * at worst: the result frame is broadcast-sized at any corpus
    * size. Output: (k, e1, e2, e3 — NULL-padded, support) with
    * support = distinct supporting users.
    */
  def f04SeqPatterns(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.events(spark, sfDir)
      .select(col("user_id").as("u"), col("event_type").as("t"),
        col("ts"), col("event_id"))
      .withColumn("pos", row_number().over(
        Window.partitionBy(col("u")).orderBy(col("ts"), col("event_id"))))
      .select(col("u"), col("t"), col("pos"))
      .ckpt(true)
    val users = ev.agg(countDistinct(col("u")).as("nu"))
      .withColumn("sigma", expr("(nu + 49) div 50"))
    // L1: users containing each type at least once
    val l1 = ev.groupBy(col("t")).agg(countDistinct(col("u")).as("support"))
      .crossJoin(broadcast(users))
      .filter(col("support") >= col("sigma"))
      .select(col("t"), col("support"))
      .ckpt(true)
    // first occurrence of each frequent type per user
    val fa = ev.join(broadcast(l1.select(col("t"))), "t")
      .groupBy(col("u"), col("t").as("e1")).agg(min(col("pos")).as("p1"))
    // earliest b strictly after the earliest a → one row per (u,a,b)
    val fab = ev.join(broadcast(l1.select(col("t"))), "t")
      .join(fa, "u")
      .filter(col("pos") > col("p1"))
      .groupBy(col("u"), col("e1"), col("t").as("e2"))
      .agg(min(col("pos")).as("p2"))
      .ckpt(true)
    val l2 = fab.groupBy(col("e1"), col("e2"))
      .agg(count(lit(1)).as("support"))
      .crossJoin(broadcast(users))
      .filter(col("support") >= col("sigma"))
      .select(col("e1"), col("e2"), col("support"))
      .ckpt(true)
    // Apriori prune: extend only σ-frequent pairs
    val fabk = fab.join(broadcast(l2.select(col("e1"), col("e2"))),
      Seq("e1", "e2"), "left_semi")
    val l3 = ev.join(fabk, "u")
      .filter(col("pos") > col("p2"))
      .groupBy(col("e1"), col("e2"), col("t").as("e3"))
      .agg(countDistinct(col("u")).as("support"))
      .crossJoin(broadcast(users))
      .filter(col("support") >= col("sigma"))
    l1.select(lit(1L).as("k"), col("t").as("e1"),
        lit(null).cast("string").as("e2"), lit(null).cast("string").as("e3"),
        col("support"))
      .unionByName(l2.select(lit(2L).as("k"), col("e1"), col("e2"),
        lit(null).cast("string").as("e3"), col("support")))
      .unionByName(l3.select(lit(3L).as("k"), col("e1"), col("e2"),
        col("e3"), col("support")))
      .orderBy(col("k"), col("e1"), col("e2"), col("e3"))
  }

  /** The DuckDB twin of [[f04SeqPatterns]]. */
  private[graft] def f04OracleSql: String =
    """WITH ev AS MATERIALIZED (
      |  SELECT user_id AS u, event_type AS t,
      |    CAST(row_number() OVER (PARTITION BY user_id
      |      ORDER BY ts, event_id) AS BIGINT) AS pos
      |  FROM events),
      |nu AS (SELECT count(DISTINCT u) AS nu,
      |        (count(DISTINCT u) + 49) // 50 AS sigma FROM ev),
      |l1 AS MATERIALIZED (
      |  SELECT t, CAST(count(DISTINCT u) AS BIGINT) AS support
      |  FROM ev GROUP BY t
      |  HAVING count(DISTINCT u) >= (SELECT sigma FROM nu)),
      |fa AS (SELECT ev.u, ev.t AS e1, min(ev.pos) AS p1
      |       FROM ev JOIN l1 ON ev.t = l1.t GROUP BY 1, 2),
      |fab AS MATERIALIZED (
      |  SELECT ev.u, fa.e1, ev.t AS e2, min(ev.pos) AS p2
      |  FROM ev JOIN l1 ON ev.t = l1.t
      |  JOIN fa ON fa.u = ev.u AND ev.pos > fa.p1
      |  GROUP BY 1, 2, 3),
      |l2 AS MATERIALIZED (
      |  SELECT e1, e2, CAST(count(*) AS BIGINT) AS support
      |  FROM fab GROUP BY 1, 2
      |  HAVING count(*) >= (SELECT sigma FROM nu)),
      |l3 AS (
      |  SELECT fab.e1, fab.e2, ev.t AS e3,
      |    CAST(count(DISTINCT ev.u) AS BIGINT) AS support
      |  FROM ev
      |  JOIN fab ON fab.u = ev.u AND ev.pos > fab.p2
      |  JOIN l2 ON l2.e1 = fab.e1 AND l2.e2 = fab.e2
      |  GROUP BY 1, 2, 3
      |  HAVING count(DISTINCT ev.u) >= (SELECT sigma FROM nu))
      |SELECT CAST(1 AS BIGINT) AS k, t AS e1, CAST(NULL AS VARCHAR) AS e2,
      |  CAST(NULL AS VARCHAR) AS e3, support FROM l1
      |UNION ALL
      |SELECT CAST(2 AS BIGINT), e1, e2, CAST(NULL AS VARCHAR), support FROM l2
      |UNION ALL
      |SELECT CAST(3 AS BIGINT), e1, e2, e3, support FROM l3
      |ORDER BY k, e1, e2, e3""".stripMargin

  /** Depth mined by the public f05 key. */
  private[graft] val ItemsetDepth = 4

  /** f05's support-floor denominator: σ = ceil(nb / 2000) = 0.05%.
    * f01–f03's 2% floor is honest for pairs but vacuous past L3 on
    * this corpus — the reference's FPGrowth takes minSupport as a
    * free parameter for exactly this reason (reference:
    * /root/reference/mllib/src/main/scala/org/apache/spark/mllib/
    * fpm/FPGrowth.scala:1). Measured max 4-set support: 0.41% of
    * baskets at sf0.001, 0.156% at sf0.01, 0.079% at sf0.1 — brand
    * co-occurrence is near-random, so the RELATIVE max decays toward
    * the most-likely-quad probability as the corpus grows; 0.05%
    * sits under it at every test SF (L4 non-vacuous), and the
    * per-level [[LevelTopK]] cut keeps the REPORT bounded where the
    * low floor stops binding (σ = 1 at sf0.001).
    */
  private[graft] val DepthFloorDenom = 2000L

  /** Per-level report cap for f05 — the f03 top-k posture applied at
    * every level: report the top-[[LevelTopK]] σ-frequent sets by
    * (support desc, items asc). Candidate GENERATION gates on the
    * full σ-frequent level (downward closure stays exact); only the
    * report is cut, deterministically, in both engines.
    */
  private[graft] val LevelTopK = 50

  /** f05: the parameterized depth-L frequent-itemset miner — f03's
    * L3 claim generalized (the t33 depth-parameterization precedent
    * applied to Apriori): candidate (k)-sets are generated by the
    * classic prefix join of the frequent (k−1)-level with itself
    * (two sets sharing their first k−2 items), pruned by the FULL
    * downward-closure check (every drop-one subset must be
    * (k−1)-frequent — an explode + array_remove + broadcast
    * semi-count, no driver loop), and counted by extending the
    * (k−1)-level OCCURRENCE frame one item per basket — so the only
    * corpus-sized frames ever shuffled are the basket frame (once,
    * memoized) and the occurrence frames, each semi-joined down to
    * candidate support before it grows. All levels 1..[[ItemsetDepth]]
    * report at the [[DepthFloorDenom]] floor, cut to the
    * deterministic per-level top-[[LevelTopK]].
    *
    * Scale shape: per level ONE equi-join of the occurrence frame
    * with the basket frame on the basket key (co-partitioned — the
    * f01 posture), one broadcast semi-join against the
    * vocabulary-bounded candidate frame, one partial-agg'd count.
    * Candidate and level frames are ≤ C(|vocab|, k) rows —
    * broadcast-sized at any corpus scale; nothing quadratic in
    * baskets anywhere. [[BasketCap]] bounds per-basket expansion
    * exactly as in f01/f03.
    *
    * Output: (k, item_1..item_4 NULL-padded, support), ordered by
    * (k, items) — `element_at` past the set size pads NULL in both
    * engines.
    */
  def f05ItemsetsDepth(spark: SparkSession, sfDir: String): DataFrame =
    itemsetsToDepth(spark, sfDir, ItemsetDepth)

  /** [[f05ItemsetsDepth]] at an explicit depth — package-private so
    * the spec can brute-force-check L = 4 and probe other depths.
    */
  /** Bits per item slot in the r17 packed-key representation: a
    * k-itemset packs into ONE long, 16 bits per item id (ids 1..m in
    * LEXICOGRAPHIC brand order, 0 = empty slot) — so every level
    * aggregation groups on a primitive long (codegen fast-map
    * HashAggregate instead of UnsafeRow array keys), the occurrence
    * shuffles carry 16 B rows instead of string arrays, and all the
    * prefix/extend/drop-one set algebra is integer arithmetic. Ids
    * are order-preserving, so id comparisons ARE the string
    * comparisons the oracle ranks by. Bound: 4 slots × 16 bits with
    * the top bit clear ⇒ up to 32 767 frequent items — guarded
    * where the id dictionary is built; the documented retune past it
    * is an array<int>-keyed level (this corpus: 25 brands).
    */
  private val SlotBits = 16
  private val SlotBase = 1L << SlotBits
  private val MaxDictId = 32767L

  private[graft] def itemsetsToDepth(
      spark: SparkSession, sfDir: String, depth: Int): DataFrame = {
    require(depth >= 1 && depth <= ItemsetDepth,
      s"depth must be in [1, $ItemsetDepth]")
    val (baskets, support0) = basketsAndSupport(spark, sfDir)
    val support = support0.select(col("nb"),
      expr(s"(nb + ${DepthFloorDenom - 1}) div $DepthFloorDenom").as("sigma"))
    val l1s = baskets.groupBy(col("it")).agg(count(lit(1)).as("support"))
      .crossJoin(broadcast(support))
      .filter(col("support") >= col("sigma"))
      .select(col("it"), col("support"))
      .ckpt(true)
    // the id dictionary: dense lexicographic ranks over the FREQUENT
    // vocabulary (items only ever enter levels through l1, so the
    // dictionary covers every id the loop can see); the global window
    // runs over a vocabulary-sized frame, never data rows. Loud guard
    // on the 16-bit slot bound (the packPair posture), here where the
    // ids are made so every depth is covered: past MaxDictId the
    // packing would silently merge sets and unpack wrong ids
    val dict = l1s.select(col("it"))
      .withColumn("id", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy(col("it")))
        .cast("long"))
      .withColumn("id", when(col("id") <= MaxDictId, col("id"))
        .otherwise(expr(
          s"raise_error('f05: frequent vocabulary exceeds $MaxDictId" +
            " ids - retune to array<int> level keys')").cast("long")))
      .ckpt(true)
    val fb = baskets.join(broadcast(dict), "it").select(col("o"), col("id"))
    var occ = fb.select(col("o"), col("id").as("p"))
    var lk = l1s.join(broadcast(dict), "it")
      .select(col("id").as("p"), col("support"))
      .ckpt(true)
    var out = lk.withColumn("k", lit(1L))
    for (k <- 2 to depth) {
      // prefix join: two (k-1)-sets sharing their first k-2 items ≡
      // equal packed keys above the last slot; the extension item is
      // the low slot. At k = 2 the shared prefix is empty (p div base
      // = 0 on both sides) — same expression, degenerate equi-key.
      val a = lk.select(col("p").as("pa"))
      val b = lk.select(col("p").as("pb"))
      val joined =
        if (k == 2) a.crossJoin(b)
        else a.join(b, expr(s"pa div $SlotBase") === expr(s"pb div $SlotBase"))
      val cand0 = joined
        .filter(expr(s"pa % $SlotBase") < expr(s"pb % $SlotBase"))
        .select((col("pa") * SlotBase + expr(s"pb % $SlotBase")).as("p"))
      // downward closure: all k drop-one subsets must be frequent —
      // dropping slot i of a packed key is two shifts and an add
      val cands =
        if (k == 2) cand0
        else {
          val subs = (1 to k).map { i =>
            val keep = k - i // low slots kept verbatim
            if (i == 1) expr(s"p % ${1L << (SlotBits * keep)}") // drop the top slot
            else expr(s"(p div ${1L << (SlotBits * (keep + 1))})" +
              s" * ${1L << (SlotBits * keep)} + (p % ${1L << (SlotBits * keep)})")
          }
          cand0.withColumn("sub", explode(array(subs: _*)))
            .join(broadcast(lk.select(col("p").as("sub"))), "sub")
            .groupBy(col("p")).agg(count(lit(1)).as("nsub"))
            .filter(col("nsub") === k)
            .select(col("p"))
        }
      // ONE materialization per level (r16): the extension join is
      // checkpointed once and BOTH the level counts and the next
      // level's occurrence frame read the blocks. All keys here are
      // packed longs — the groupBy below is a codegen fast-map agg.
      val occExp = occ.join(fb.hint("shuffle_hash"), "o")
        .filter(col("id") > expr(s"p % $SlotBase"))
        .select(col("o"), (col("p") * SlotBase + col("id")).as("p"))
        .join(broadcast(cands), Seq("p"), "left_semi")
        .ckpt(true)
      lk = occExp.groupBy(col("p")).agg(count(lit(1)).as("support"))
        .crossJoin(broadcast(support))
        .filter(col("support") >= col("sigma"))
        .select(col("p"), col("support"))
        .ckpt(true)
      // keep only frequent occurrences for the next extension; lazy —
      // a cheap semi-join over the checkpointed occExp blocks, and
      // skipped entirely after the last level (nothing extends it)
      if (k < depth)
        occ = occExp
          .join(broadcast(lk.select(col("p"))), Seq("p"), "left_semi")
      out = out.unionByName(lk.withColumn("k", lit(k.toLong)))
    }
    // unpack ids back to brands for the report: slot i of a level-k
    // key is a shift/mask, then one broadcast dictionary join per
    // report column — all over ≤ C(|vocab|, k)-row level frames
    var full = out.select(Seq(col("k")) ++
      (1 to ItemsetDepth).map(i =>
        when(col("k") >= i, expr(
          s"shiftright(p, CAST($SlotBits * (k - $i) AS INT)) % $SlotBase"))
          .as(s"id_$i")) :+
      col("support"): _*)
    for (i <- 1 to ItemsetDepth)
      full = full.join(
        broadcast(dict.select(col("id").as(s"id_$i"), col("it").as(s"item_$i"))),
        Seq(s"id_$i"), "left")
    full = full.select(Seq(col("k")) ++
      (1 to ItemsetDepth).map(i => col(s"item_$i")) :+ col("support"): _*)
    // per-level top-K report cut — the window runs over the tiny
    // (≤ C(|vocab|, k)-row) level frames, never over data rows
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("k"))
      .orderBy(Seq(col("support").desc) ++
        (1 to ItemsetDepth).map(i => col(s"item_$i")): _*)
    full.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= LevelTopK)
      .drop("rn")
      .orderBy(Seq(col("k")) ++
        (1 to ItemsetDepth).map(i => col(s"item_$i")): _*)
  }

  /** The DuckDB twin of [[f05ItemsetsDepth]]: Apriori is exact, so
    * the oracle just ENUMERATES every k-subset per basket by k-way
    * self-join and applies the same σ floor + per-level top-K cut —
    * the brute-force form whose parity with the pruned engine plan
    * is the point of the check. Own MATERIALIZED basket CTE (the b5
    * chain) with CHAINED o-keys (x=y, y=z, z=w): the star form
    * (x=y, x=z, x=w) drove DuckDB's join order pathological
    * (measured minutes vs 0.2 s at sf0.01).
    */
  private[graft] def f05OracleSql: String =
    s"""WITH bk5 AS (
       |  SELECT DISTINCT l_orderkey AS o, p_brand AS it
       |  FROM lineitem JOIN part ON l_partkey = p_partkey),
       |keep5 AS (SELECT o FROM bk5 GROUP BY o HAVING count(*) <= $BasketCap),
       |b5 AS MATERIALIZED (
       |  SELECT bk5.o, bk5.it FROM bk5 JOIN keep5 ON bk5.o = keep5.o),
       |n5 AS (SELECT count(DISTINCT o) AS nb,
       |        (count(DISTINCT o) + ${DepthFloorDenom - 1})
       |          // $DepthFloorDenom AS sigma FROM b5),
       |g1 AS (SELECT it AS i1, CAST(count(*) AS BIGINT) AS support
       |       FROM b5 GROUP BY 1
       |       HAVING count(*) >= (SELECT sigma FROM n5)),
       |g2 AS (SELECT x.it AS i1, y.it AS i2, CAST(count(*) AS BIGINT) AS support
       |       FROM b5 x JOIN b5 y ON x.o = y.o AND x.it < y.it
       |       GROUP BY 1, 2 HAVING count(*) >= (SELECT sigma FROM n5)),
       |g3 AS (SELECT x.it AS i1, y.it AS i2, z.it AS i3,
       |         CAST(count(*) AS BIGINT) AS support
       |       FROM b5 x JOIN b5 y ON x.o = y.o AND x.it < y.it
       |       JOIN b5 z ON y.o = z.o AND z.it > y.it
       |       GROUP BY 1, 2, 3 HAVING count(*) >= (SELECT sigma FROM n5)),
       |g4 AS (SELECT x.it AS i1, y.it AS i2, z.it AS i3, w.it AS i4,
       |         CAST(count(*) AS BIGINT) AS support
       |       FROM b5 x JOIN b5 y ON x.o = y.o AND x.it < y.it
       |       JOIN b5 z ON y.o = z.o AND z.it > y.it
       |       JOIN b5 w ON z.o = w.o AND w.it > z.it
       |       GROUP BY 1, 2, 3, 4 HAVING count(*) >= (SELECT sigma FROM n5)),
       |lv AS (
       |  SELECT CAST(1 AS BIGINT) AS k, i1 AS item_1,
       |    CAST(NULL AS VARCHAR) AS item_2, CAST(NULL AS VARCHAR) AS item_3,
       |    CAST(NULL AS VARCHAR) AS item_4, support FROM g1
       |  UNION ALL
       |  SELECT CAST(2 AS BIGINT), i1, i2, CAST(NULL AS VARCHAR),
       |    CAST(NULL AS VARCHAR), support FROM g2
       |  UNION ALL
       |  SELECT CAST(3 AS BIGINT), i1, i2, i3, CAST(NULL AS VARCHAR),
       |    support FROM g3
       |  UNION ALL
       |  SELECT CAST(4 AS BIGINT), i1, i2, i3, i4, support FROM g4)
       |SELECT k, item_1, item_2, item_3, item_4, support FROM (
       |  SELECT *, row_number() OVER (PARTITION BY k
       |    ORDER BY support DESC, item_1, item_2, item_3, item_4) AS rn
       |  FROM lv) x
       |WHERE rn <= $LevelTopK
       |ORDER BY k, item_1, item_2, item_3, item_4""".stripMargin

  private[graft] def f02OracleSql: String =
    s"""WITH $basketsOracleCtes,
       |r AS (SELECT ia AS antecedent, ib AS consequent, support FROM l2
       |      UNION ALL
       |      SELECT ib, ia, support FROM l2)
       |SELECT r.antecedent, r.consequent, r.support,
       |  CAST((r.support * $RuleScale) // a.sup1 AS BIGINT) AS conf_ticks,
       |  CAST((r.support * (SELECT nb FROM n) * $RuleScale)
       |       // (a.sup1 * c.sup1) AS BIGINT) AS lift_ticks
       |FROM r
       |JOIN l1 a ON r.antecedent = a.it
       |JOIN l1 c ON r.consequent = c.it
       |ORDER BY r.antecedent, r.consequent""".stripMargin
}
