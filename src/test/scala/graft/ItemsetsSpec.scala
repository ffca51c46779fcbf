package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Itemsets

/** Value-level checks for the f01/f02 itemset surface: brute-force
  * parity on the small corpus, the basket-cap headroom contract, and
  * the rule-metric identities the oracle's hash can't explain on its
  * own.
  */
class ItemsetsSpec extends AnyFunSuite {
  private val sfDir = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = TestSpark.spark

  /** In-test brute force: baskets, sigma, L1, L2 in plain Scala. */
  private def truth(): (Long, Long, Map[String, Long], Map[(String, String), Long]) = {
    val baskets = Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_partkey"))
      .join(Tables.part(spark, sfDir), col("l_partkey") === col("p_partkey"))
      .select(col("l_orderkey"), col("p_brand")).distinct().collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val byBasket = baskets.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val nb = byBasket.size.toLong
    val sigma = (nb + 49) / 50
    val l1 = baskets.groupBy(_._2).view.mapValues(_.length.toLong).toMap
      .filter(_._2 >= sigma)
    val l2 = byBasket.values.toSeq
      .flatMap(items => items.toSeq.sorted.combinations(2).map(p => (p(0), p(1))))
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
      .filter(_._2 >= sigma)
    (nb, sigma, l1, l2)
  }

  test("f01 equals brute-force Apriori at sf0.001; cap has headroom") {
    val (nb, sigma, l1, l2) = truth()
    assert(sigma >= 2, "derived floor should exceed a single basket")
    val out = Itemsets.f01FreqItemsets(spark, sfDir).collect()
    val gotL1 = out.filter(_.getLong(0) == 1L)
      .map(r => r.getString(1) -> r.getLong(3)).toMap
    val gotL2 = out.filter(_.getLong(0) == 2L)
      .map(r => (r.getString(1), r.getString(2)) -> r.getLong(3)).toMap
    assert(gotL1 == l1, s"L1 drift: $gotL1 vs $l1")
    assert(gotL2 == l2, s"L2 drift: ${gotL2.size} vs ${l2.size}")
    assert(gotL2.nonEmpty, "no frequent pairs — floor miscalibrated")
    // the degenerate-basket cap must not bind on this corpus
    val maxBasket = Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_partkey"))
      .join(Tables.part(spark, sfDir), col("l_partkey") === col("p_partkey"))
      .select(col("l_orderkey"), col("p_brand")).distinct()
      .groupBy(col("l_orderkey")).count().agg(max(col("count"))).head().getLong(0)
    assert(maxBasket <= Itemsets.BasketCap,
      s"basket fan-out $maxBasket would bind the cap")
  }

  test("f02 rule metrics: confidence/lift identities and symmetry") {
    val (nb, _, l1, l2) = truth()
    val rules = Itemsets.f02AssocRules(spark, sfDir).collect()
      .map(r => ((r.getString(0), r.getString(1)),
        (r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(rules.size == 2 * l2.size, "every frequent pair rules both ways")
    rules.foreach { case ((a, c), (sup, conf, lift)) =>
      val key = if (a < c) (a, c) else (c, a)
      assert(l2(key) == sup)
      assert(conf == sup * Itemsets.RuleScale / l1(a), s"conf identity for $a->$c")
      assert(lift == sup * nb * Itemsets.RuleScale / (l1(a) * l1(c)))
      assert(conf <= Itemsets.RuleScale, "confidence cannot exceed 1")
    }
    // lift is symmetric by construction: both directions carry it
    rules.foreach { case ((a, c), (_, _, lift)) =>
      assert(rules((c, a))._3 == lift, "lift must be direction-independent")
    }
  }
  test("f03 top triples: brute-force parity and Apriori prune at sf0.001") {
    // in-test brute force: all-pairs-frequent-pruned triples, ranked
    val (_, sigma, _, l2) = truth()
    val byBasket = Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_partkey"))
      .join(Tables.part(spark, sfDir), col("l_partkey") === col("p_partkey"))
      .select(col("l_orderkey"), col("p_brand")).distinct().collect()
      .map(r => r.getLong(0) -> r.getString(1))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val l2k = l2.keySet
    val triples = byBasket.values.toSeq
      .flatMap(items => items.toSeq.sorted.combinations(3)
        .map(t => (t(0), t(1), t(2)))
        .filter { case (a, b, c) =>
          l2k((a, b)) && l2k((a, c)) && l2k((b, c)) })
      .groupBy(identity).view.mapValues(_.length.toLong).toSeq
      .map { case ((a, b, c), s) => (a, b, c, s) }
      .sortBy { case (a, b, c, s) => (-s, a, b, c) }
      .take(Itemsets.TriplesTopK)
    val got = Itemsets.f03FreqTriples(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getLong(3)))
      .toSeq
    assert(got == triples, s"L3 drift: ${got.size} vs ${triples.size}")
    assert(got.nonEmpty && got.map(_._4).sliding(2)
      .forall(p => p.head >= p.last), "support must be non-increasing")
    // Apriori prune is live: every reported triple's sub-pairs are
    // L2-frequent (follows from the truth filter matching exactly)
    assert(got.forall { case (a, b, c, _) =>
      l2k((a, b)) && l2k((a, c)) && l2k((b, c)) })
    assert(sigma >= 2)
  }

  test("f05 depth-4 itemsets equal brute-force enumeration at sf0.001; " +
    "downward closure holds; every level non-vacuous") {
    val byBasket = Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_partkey"))
      .join(Tables.part(spark, sfDir), col("l_partkey") === col("p_partkey"))
      .select(col("l_orderkey"), col("p_brand")).distinct().collect()
      .map(r => r.getLong(0) -> r.getString(1))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val nb = byBasket.size.toLong
    val sigma = (nb + Itemsets.DepthFloorDenom - 1) / Itemsets.DepthFloorDenom
    // brute force: every k-subset of every basket, sigma floor,
    // per-level (support desc, items asc) top-K cut
    def level(k: Int): Seq[(Seq[String], Long)] = byBasket.values.toSeq
      .flatMap(items => items.toSeq.sorted.combinations(k).map(_.toSeq))
      .groupBy(identity).view.mapValues(_.length.toLong).toSeq
      .filter(_._2 >= sigma)
      .sortBy { case (is, s) => (-s, is.mkString("\u0001")) }
      .take(Itemsets.LevelTopK)
    val truth4 = (1 to Itemsets.ItemsetDepth).flatMap { k =>
      level(k).map { case (is, s) => (k.toLong, is, s) }
    }.sortBy { case (k, is, _) => (k, is.mkString("\u0001")) }
    val got = Itemsets.f05ItemsetsDepth(spark, sfDir).collect()
      .map { r =>
        val items = (1 to Itemsets.ItemsetDepth)
          .flatMap(i => Option(r.getString(i))).toSeq
        (r.getLong(0), items, r.getLong(5))
      }.toSeq
    assert(got == truth4,
      s"depth-4 drift: ${got.size} rows vs ${truth4.size}")
    // every level to depth 4 carries rows (the 0.05% floor's point)
    (1L to Itemsets.ItemsetDepth.toLong).foreach { k =>
      assert(got.exists(_._1 == k), s"level $k vacuous")
    }
    // downward closure: every reported set's drop-one subsets are
    // sigma-frequent in the brute-force truth (not necessarily in the
    // top-K REPORT - the cut is presentation, the floor is semantics)
    val freqAll: Map[Int, Set[Seq[String]]] = (1 to Itemsets.ItemsetDepth)
      .map { k =>
        k -> byBasket.values.toSeq
          .flatMap(items => items.toSeq.sorted.combinations(k).map(_.toSeq))
          .groupBy(identity).view.mapValues(_.length.toLong)
          .filter(_._2 >= sigma).keySet.toSet
      }.toMap
    got.filter(_._1 >= 2).foreach { case (k, items, _) =>
      items.indices.foreach { i =>
        val sub = items.patch(i, Nil, 1)
        assert(freqAll(k.toInt - 1)(sub), s"closure violated: $items / $sub")
      }
    }
    // deterministic
    assert(got == Itemsets.f05ItemsetsDepth(spark, sfDir).collect()
      .map { r =>
        val items = (1 to Itemsets.ItemsetDepth)
          .flatMap(i => Option(r.getString(i))).toSeq
        (r.getLong(0), items, r.getLong(5))
      }.toSeq)
  }

  test("f05 fails loudly past the 16-bit id bound even at depth 1") {
    // 600 baskets (so sigma = 1) of 60 distinct brands each: 36 000
    // frequent items, past MaxDictId = 32 767. Depth 1 builds no
    // extension level, so only a guard on the dictionary catches it.
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("graft-f05-bound").toString
    val n = 36000
    (0 until n).map(i => (i / 60 + 1, i)).toDF("l_orderkey", "l_partkey")
      .write.parquet(s"$d/lineitem.parquet")
    (0 until n).map(i => (i, f"B$i%05d")).toDF("p_partkey", "p_brand")
      .write.parquet(s"$d/part.parquet")
    val e = intercept[Exception](Itemsets.itemsetsToDepth(spark, d, 1).collect())
    val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage))
    assert(msgs.exists(_.contains("frequent vocabulary exceeds 32767")),
      s"unexpected failure: $e")
  }

  test("f04 sequential patterns equal brute-force subsequence truth") {
    // in-test truth: per-user type sequences ordered by (ts, event_id),
    // pattern support = users whose sequence CONTAINS the subsequence
    // (any gaps) — checked by the standard greedy matcher, independent
    // of the engine's first-occurrence formulation.
    val seqs = Tables.events(spark, sfDir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .collect()
      .map(r => (r.getLong(0), (r.getTimestamp(1).getTime,
        r.getLong(2)), r.getString(3)))
      .groupBy(_._1).view
      .mapValues(_.sortBy(_._2).map(_._3).toList).toMap
    @annotation.tailrec
    def contains(seq: List[String], pat: List[String]): Boolean = pat match {
      case Nil => true
      case p :: pt => seq.dropWhile(_ != p) match {
        case Nil => false
        case _ :: st => contains(st, pt)
      }
    }
    val nu = seqs.size.toLong
    val sigma = (nu + 49) / 50
    val types = seqs.values.flatten.toSet.toList.sorted
    def support(pat: List[String]): Long =
      seqs.values.count(contains(_, pat)).toLong
    val t1 = types.map(a => List(a) -> support(List(a)))
      .filter(_._2 >= sigma).toMap
    val t2 = (for (a <- types; b <- types) yield List(a, b))
      .map(p => p -> support(p)).filter(_._2 >= sigma).toMap
    val t3 = (for (a <- types; b <- types; c <- types) yield List(a, b, c))
      .filter(p => t2.contains(p.take(2)))
      .map(p => p -> support(p)).filter(_._2 >= sigma).toMap
    val out = Itemsets.f04SeqPatterns(spark, sfDir).collect()
    def gotK(k: Long, w: Int) = out.filter(_.getLong(0) == k)
      .map(r => (1 to w).map(i => r.getString(i)).toList -> r.getLong(4)).toMap
    assert(gotK(1L, 1) == t1, "L1 drift")
    assert(gotK(2L, 2) == t2, s"L2 drift: ${gotK(2L, 2).size} vs ${t2.size}")
    assert(gotK(3L, 3) == t3, s"L3 drift: ${gotK(3L, 3).size} vs ${t3.size}")
    // (sf0.001 has few distinct users, so the derived 2% floor can
    // legitimately be 1 — the pattern universe stays |vocab|³-bounded)
    assert(sigma >= 1 && t2.nonEmpty)
    // greedy-matching lemma is load-bearing: a pattern's support can
    // never exceed its prefix's (anti-monotonicity over sequences)
    t3.foreach { case (p, s) => assert(s <= t2(p.take(2))) }
  }
}
