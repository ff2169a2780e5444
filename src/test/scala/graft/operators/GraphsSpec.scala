package graft.operators

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Hand-computed and invariant gates for the graph-analytics family. */
class GraphsSpec extends SparkSpec {
  import spark.implicits._

  // A tiny graph with every structural case: a 2-cycle (a<->b), a feeder
  // (c -> a), and a dangling sink (c -> d, d has no out-edges).
  private lazy val g = Seq(
    ("a", "b"), ("b", "a"), ("c", "a"), ("c", "d"))
    .toDF("src", "dst")

  /** Plain-Scala reference replaying the exact quantized update. */
  private def refRanks(edges: Seq[(String, String)], iters: Int,
      d: Double): Map[String, Double] = {
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct.sorted
    val n = nodes.size.toDouble
    val out = edges.groupBy(_._1).map { case (s, es) => s -> es.size }
    var r = nodes.map(_ -> 1.0 / n).toMap
    for (_ <- 1 to iters) {
      val contrib = edges
        .map { case (s, t) =>
          t -> math.rint(r(s) / out(s).toDouble * 1e12 + 0.0).toLong }
        // NB: rint is half-even; quantized values here never land on .5
        .groupBy(_._1).map { case (t, cs) => t -> cs.map(_._2).sum }
      val dang = nodes.filterNot(out.contains)
        .map(v => math.rint(r(v) * 1e12).toLong).sum
      r = nodes.map { v =>
        v -> ((1.0 - d) / n + d *
          (contrib.getOrElse(v, 0L).toDouble / 1e12 +
            (dang.toDouble / 1e12) / n))
      }.toMap
    }
    r
  }

  test("pageRank ≡ hand-replayed quantized update; mass conserved; order sane") {
    val edges = Seq(("a", "b"), ("b", "a"), ("c", "a"), ("c", "d"))
    val got = Graphs.pageRank(g, iterations = 4)
      .as[(String, Double)].collect().toMap
    assert(got == refRanks(edges, 4, 0.85),
      s"diverged from the reference replay: $got")
    // dangling redistribution keeps total mass at 1 (up to quantization)
    assert(math.abs(got.values.sum - 1.0) < 1e-9)
    // the 2-cycle oscillates at small iteration counts, so order claims
    // go to the (converged) 25-round run: a receives from b AND c,
    // b everything a has, d only c's split + teleport
    val conv = Graphs.pageRank(g, iterations = 25)
      .as[(String, Double)].collect().toMap
    assert(conv == refRanks(edges, 25, 0.85))
    assert(conv("a") > conv("b") && conv("b") > conv("d") &&
      conv("d") > conv("c"), s"converged order wrong: $conv")
  }

  /** Scala replay of the personalized quantized update. */
  private def refPpr(edges: Seq[(String, String)], seeds: Set[String],
      iters: Int, d: Double): Map[String, Double] = {
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct.sorted
    val present = seeds.intersect(nodes.toSet)
    val p = nodes.map(v =>
      v -> (if (present(v)) 1.0 / present.size else 0.0)).toMap
    val out = edges.groupBy(_._1).map { case (s, es) => s -> es.size }
    var r = p
    for (_ <- 1 to iters) {
      val contrib = edges
        .map { case (s, t) =>
          t -> math.rint(r(s) / out(s).toDouble * 1e12).toLong }
        .groupBy(_._1).map { case (t, cs) => t -> cs.map(_._2).sum }
      val dang = nodes.filterNot(out.contains)
        .map(v => math.rint(r(v) * 1e12).toLong).sum
      r = nodes.map { v =>
        v -> ((1.0 - d) * p(v) + d *
          (contrib.getOrElse(v, 0L).toDouble / 1e12 +
            (dang.toDouble / 1e12) * p(v)))
      }.toMap
    }
    r
  }

  test("personalizedPageRank ≡ hand-replayed update; mass stays at the " +
      "seeds' side; unreachable nodes report exactly 0.0") {
    import spark.implicits._
    val edges = Seq(("a", "b"), ("b", "a"), ("c", "a"), ("c", "d"))
    val seeds = Seq("c").toDF("node")
    val got = Graphs.personalizedPageRank(g, seeds, iterations = 4)
      .as[(String, Double)].collect().toMap
    assert(got == refPpr(edges, Set("c"), 4, 0.85),
      s"diverged from the reference replay: $got")
    // restart + dangling both land on c, so total mass stays 1
    assert(math.abs(got.values.sum - 1.0) < 1e-9)
    // b is 2 hops from c (via a); d is 1 hop — with a 2-cycle feeding a,
    // a must outrank d, and everything reachable outranks nothing
    assert(got("a") > got("d") && got.values.forall(_ >= 0.0))
    // a seed with no edges TO it is never ranked up by others: teleport
    // keeps c alive, but nothing flows back (a->b->a cycle absorbs)
    // unreachable check: seed b in the a<->b cycle leaves c,d at 0.0
    val cyc = Graphs.personalizedPageRank(g, Seq("b").toDF("node"), 3)
      .as[(String, Double)].collect().toMap
    assert(cyc("c") == 0.0 && cyc("d") == 0.0,
      s"mass leaked to nodes unreachable from the seed: $cyc")
    // seeds absent from the graph: present subset normalizes; all-absent
    // fails loudly instead of returning the zero vector
    val mixed = Graphs.personalizedPageRank(g,
        Seq("c", "zz").toDF("node"), 2)
      .as[(String, Double)].collect().toMap
    assert(mixed == refPpr(edges, Set("c"), 2, 0.85),
      "an absent seed must not dilute the preference vector")
    intercept[IllegalArgumentException] {
      Graphs.personalizedPageRank(g, Seq("zz").toDF("node"), 2)
    }
    intercept[IllegalArgumentException] {
      Graphs.personalizedPageRank(g, seeds, 0)
    }
  }

  test("pageRank: deterministic across partitionings; parameter guards") {
    val big = (0L until 400L).map(i => (s"n$i", s"n${(i * 7) % 400}"))
      .toDF("src", "dst")
    val r1 = Graphs.pageRank(big.repartition(13), 3)
      .as[(String, Double)].collect().toMap
    val r2 = Graphs.pageRank(big.repartition(2), 3)
      .as[(String, Double)].collect().toMap
    assert(r1 == r2, "partitioning moved a rank — quantization broken")
    intercept[IllegalArgumentException] { Graphs.pageRank(g, 0) }
    intercept[IllegalArgumentException] { Graphs.pageRank(g, 2, damping = 1.0) }
  }

  test("resumePageRank: exact-resume identity; stale nodes drop and new " +
      "nodes start at 1/n (hand-replayed); duplicate stored ranks raise") {
    // exact resume: on an unchanged graph, 2 warm + 3 resumed rounds
    // reproduce the 5-round run bit for bit (shared loop body)
    val warm = Graphs.pageRank(g, iterations = 2)
    val resumed = Graphs.resumePageRank(warm, g, iterations = 3)
      .as[(String, Double)].collect().toMap
    val full = Graphs.pageRank(g, iterations = 5)
      .as[(String, Double)].collect().toMap
    assert(resumed == full,
      s"resume diverged from the single-run composition: $resumed vs $full")

    // grown graph: e joins (a new page linking in), zzz left the graph
    val grown = Seq(("a", "b"), ("b", "a"), ("c", "a"), ("c", "d"),
      ("e", "a"))
    val stored = warm.unionByName(Seq(("zzz", 0.25)).toDF("node", "rank"))
    val got = Graphs.resumePageRank(stored, grown.toDF("src", "dst"),
      iterations = 1).as[(String, Double)].collect().toMap
    assert(!got.contains("zzz"), "a node no longer in the graph must drop")
    // hand replay of the one resumed round: init = stored ranks with e
    // coalesced to 1/n over the NEW 5-node spine
    val w = Graphs.pageRank(g, iterations = 2)
      .as[(String, Double)].collect().toMap
    val init = w + ("e" -> 1.0 / 5.0)
    val out = grown.groupBy(_._1).map { case (s, es) => s -> es.size }
    val contrib = grown
      .map { case (s, t) =>
        t -> math.rint(init(s) / out(s).toDouble * 1e12).toLong }
      .groupBy(_._1).map { case (t, cs) => t -> cs.map(_._2).sum }
    val nodes5 = Seq("a", "b", "c", "d", "e")
    val dang = nodes5.filterNot(out.contains)
      .map(v => math.rint(init(v) * 1e12).toLong).sum
    val expect = nodes5.map { v =>
      v -> ((1.0 - 0.85) / 5.0 + 0.85 *
        (contrib.getOrElse(v, 0L).toDouble / 1e12 +
          (dang.toDouble / 1e12) / 5.0))
    }.toMap
    assert(got == expect, s"resumed round diverged: $got vs $expect")

    // duplicate stored ranks feed a node twice — fail loud
    val dup = warm.unionByName(warm.limit(1))
    intercept[IllegalArgumentException] {
      Graphs.resumePageRank(dup, g, iterations = 1)
    }
  }

  test("resumePageRank: warm start sits closer to the fixpoint than a " +
      "cold start after equal rounds on a grown graph") {
    // Hub-and-spoke: ranks are FAR from uniform (the hub holds a large
    // share), so a cold uniform start begins far from the fixpoint,
    // while a small spoke delta barely moves it — the nightly-crawl
    // shape warm-starting is for. (A near-regular graph is the
    // opposite regime: its fixpoint IS near uniform, and there a cold
    // start legitimately wins — measured while building this gate.)
    val base = (0 until 50).map(i => (s"s$i", "hub")) :+ (("hub", "s0"))
    val delta = (50 until 53).map(i => (s"s$i", "hub"))
    val e1 = base.toDF("src", "dst")
    val e2 = (base ++ delta).toDF("src", "dst")
    val fix = Graphs.pageRank(e2, iterations = 25)
      .as[(String, Double)].collect().toMap
    def l1(m: Map[String, Double]): Double =
      fix.map { case (k, v) => math.abs(v - m.getOrElse(k, 0.0)) }.sum
    val cold = Graphs.pageRank(e2, iterations = 3)
      .as[(String, Double)].collect().toMap
    val warmed = Graphs.resumePageRank(
        Graphs.pageRank(e1, iterations = 10), e2, iterations = 3)
      .as[(String, Double)].collect().toMap
    assert(l1(warmed) < l1(cold),
      s"warm start ${l1(warmed)} not closer than cold ${l1(cold)} — " +
        "the 10 stored rounds bought nothing")
  }

  /** Plain-Scala replay of the weighted quantized update. */
  private def refWRanks(edges: Seq[(String, String, Long)], iters: Int,
      d: Double): Map[String, Double] = {
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct.sorted
    val n = nodes.size.toDouble
    val outW = edges.groupBy(_._1).map { case (s, es) =>
      s -> es.map(_._3).sum }
    var r = nodes.map(_ -> 1.0 / n).toMap
    for (_ <- 1 to iters) {
      val contrib = edges
        .map { case (s, t, w) =>
          t -> math.rint(
            r(s) * (w.toDouble / outW(s).toDouble) * 1e12).toLong }
        .groupBy(_._1).map { case (t, cs) => t -> cs.map(_._2).sum }
      val dang = nodes.filterNot(outW.contains)
        .map(v => math.rint(r(v) * 1e12).toLong).sum
      r = nodes.map { v =>
        v -> ((1.0 - d) / n + d *
          (contrib.getOrElse(v, 0L).toDouble / 1e12 +
            (dang.toDouble / 1e12) / n))
      }.toMap
    }
    r
  }

  /** Plain-Scala replay of the weighted personalized update. */
  private def refWPpr(edges: Seq[(String, String, Long)],
      seeds: Set[String], iters: Int, d: Double): Map[String, Double] = {
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct.sorted
    val present = seeds.intersect(nodes.toSet)
    val p = nodes.map(v =>
      v -> (if (present(v)) 1.0 / present.size else 0.0)).toMap
    val outW = edges.groupBy(_._1).map { case (s, es) =>
      s -> es.map(_._3).sum }
    var r = p
    for (_ <- 1 to iters) {
      val contrib = edges
        .map { case (s, t, w) =>
          t -> math.rint(
            r(s) * (w.toDouble / outW(s).toDouble) * 1e12).toLong }
        .groupBy(_._1).map { case (t, cs) => t -> cs.map(_._2).sum }
      val dang = nodes.filterNot(outW.contains)
        .map(v => math.rint(r(v) * 1e12).toLong).sum
      r = nodes.map { v =>
        v -> ((1.0 - d) * p(v) + d *
          (contrib.getOrElse(v, 0L).toDouble / 1e12 +
            (dang.toDouble / 1e12) * p(v)))
      }.toMap
    }
    r
  }

  /** Runs `body`, which must throw, and asserts that `expected` occurs in
    * the message of the exception or of one of its causes (a
    * `raise_error` inside a job reaches the driver wrapped).
    */
  private def assertRaises(expected: String)(body: => Any): Unit = {
    val ex = intercept[Exception](body)
    val msgs = Iterator.iterate[Throwable](ex)(_.getCause)
      .takeWhile(_ != null).map(t => String.valueOf(t.getMessage)).toList
    assert(msgs.exists(_.contains(expected)),
      s"no message names '$expected': ${msgs.mkString(" / ")}")
  }

  test("weightedPersonalizedPageRank ≡ replay; unreachable zero; guards") {
    // seed a: a splits 3:1 to b and c, b feeds c, c dangles back to a's
    // preference; island x->y is unreachable from the seed
    val edges = Seq(("a", "b", 3L), ("a", "c", 1L), ("b", "c", 2L),
      ("x", "y", 5L))
    val wg = edges.toDF("src", "dst", "w")
    val got = Graphs.weightedPersonalizedPageRank(wg,
        Seq("a").toDF("node"), iterations = 4)
      .as[(String, Double)].collect().toMap
    assert(got == refWPpr(edges, Set("a"), 4, 0.85),
      s"diverged from the reference replay: $got")
    assert(got("x") == 0.0 && got("y") == 0.0,
      s"mass leaked to nodes unreachable from the seed: $got")
    // the 3:1 split is live: b takes 3/4 of the seed's mass directly
    // every round and outranks c despite c ALSO receiving b's full
    // pass-through (under uniform weights b and c would each take 1/2
    // of a's mass and c's extra inflow would win)
    assert(got("b") > got("c"), s"weight bias missing: $got")
    val uni = Graphs.weightedPersonalizedPageRank(
        edges.map { case (s, t, _) => (s, t, 1L) }.toDF("src", "dst", "w"),
        Seq("a").toDF("node"), iterations = 4)
      .as[(String, Double)].collect().toMap
    assert(uni("c") > uni("b"),
      s"uniform-weight foil must flip the b/c order: $uni")
    intercept[IllegalArgumentException] {
      Graphs.weightedPersonalizedPageRank(wg, Seq("zz").toDF("node"), 2)
    }
    // each raise names the entry point and the offending weight
    assertRaises("weightedPersonalizedPageRank requires positive " +
        "weights; got 0") {
      Graphs.weightedPersonalizedPageRank(
        Seq(("a", "b", 0L)).toDF("src", "dst", "w"),
        Seq("a").toDF("node"), 2)
    }
    assertRaises("weightedPersonalizedPageRank: weight not losslessly " +
        "castable to long (quantize first): 0.9") {
      Graphs.weightedPersonalizedPageRank(
        Seq(("a", "b", 0.9)).toDF("src", "dst", "w"),
        Seq("a").toDF("node"), 2)
    }
    // masked-negative parallel edge raises (ADVICE r18; see the
    // weightedPageRank case)
    assertRaises("weightedPersonalizedPageRank requires positive " +
        "weights; got -3") {
      Graphs.weightedPersonalizedPageRank(
        Seq(("a", "b", 5L), ("a", "b", -3L)).toDF("src", "dst", "w"),
        Seq("a").toDF("node"), 2)
    }
  }

  test("weightedPageRank ≡ hand-replayed update; parallel edges sum; guards") {
    // a splits 3:1 between b and c; b sends everything to c; c dangles
    val edges = Seq(("a", "b", 3L), ("a", "c", 1L), ("b", "c", 2L))
    val wg = edges.toDF("src", "dst", "w")
    val got = Graphs.weightedPageRank(wg, iterations = 4)
      .as[(String, Double)].collect().toMap
    assert(got == refWRanks(edges, 4, 0.85),
      s"diverged from the reference replay: $got")
    assert(math.abs(got.values.sum - 1.0) < 1e-9, "mass not conserved")
    // the 3:1 split must actually bias: c (receiving from both, plus
    // b's full mass) outranks b
    assert(got("c") > got("b"), s"weight bias missing: $got")
    // parallel edges sum to the same single edge
    val par = Seq(("a", "b", 2L), ("a", "b", 1L), ("a", "c", 1L),
      ("b", "c", 2L)).toDF("src", "dst", "w")
    assert(Graphs.weightedPageRank(par, 4)
      .as[(String, Double)].collect().toMap == got,
      "parallel-edge weights must collapse by summing")
    // guards: lossy cast, non-positive weight, bad params
    assertRaises("weightedPageRank: weight not losslessly castable to " +
        "long (quantize first): 0.9") {
      Graphs.weightedPageRank(
        Seq(("a", "b", 0.9)).toDF("src", "dst", "w"), 2)
    }
    assertRaises("weightedPageRank requires positive weights; got 0") {
      Graphs.weightedPageRank(
        Seq(("a", "b", 0L)).toDF("src", "dst", "w"), 2)
    }
    // ADVICE r18: a negative edge MASKED by a positive parallel edge
    // (+5 and -3 sum to +2) must still raise — positivity is a
    // per-edge contract, checked BEFORE the multigraph collapse
    assertRaises("weightedPageRank requires positive weights; got -3") {
      Graphs.weightedPageRank(
        Seq(("a", "b", 5L), ("a", "b", -3L), ("b", "c", 1L))
          .toDF("src", "dst", "w"), 2)
    }
    intercept[IllegalArgumentException] { Graphs.weightedPageRank(wg, 0) }
    intercept[IllegalArgumentException] {
      Graphs.weightedPageRank(wg, 2, damping = 1.0)
    }
    // uniform weights reproduce plain pageRank's ORDER on g (values may
    // differ in final ulps: w/W multiplies where pageRank divides)
    val uni = Graphs.weightedPageRank(
        g.withColumn("w", lit(1L)), 25)
      .as[(String, Double)].collect().toMap
    assert(uni("a") > uni("b") && uni("b") > uni("d") &&
      uni("d") > uni("c"), s"uniform-weight order wrong: $uni")
  }

  /** Scala replay of the quantized HITS rounds. */
  private def refHits(edges: Seq[(String, String)], iters: Int)
      : Map[String, (Double, Double)] = {
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct.sorted
    var hub = nodes.map(_ -> 1.0).toMap
    var auth = nodes.map(_ -> 1.0).toMap
    for (_ <- 1 to iters) {
      val ar = edges.groupBy(_._2).map { case (v, es) =>
        v -> es.map(e => math.rint(hub(e._1) * 1e9).toLong).sum }
      val at = ar.values.sum.toDouble
      auth = nodes.map(v => v -> ar.getOrElse(v, 0L).toDouble / at).toMap
      val hr = edges.groupBy(_._1).map { case (u, es) =>
        u -> es.map(e => math.rint(auth(e._2) * 1e9).toLong).sum }
      val ht = hr.values.sum.toDouble
      hub = nodes.map(v => v -> hr.getOrElse(v, 0L).toDouble / ht).toMap
    }
    nodes.map(v => v -> ((hub(v), auth(v)))).toMap
  }

  test("hits ≡ hand-replayed quantized rounds; bipartite roles separate") {
    val edges = Seq(("c1", "s1"), ("c1", "s2"), ("c2", "s1"))
    val got = Graphs.hits(edges.toDF("src", "dst"), iterations = 3)
      .as[(String, Double, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got == refHits(edges, 3), s"diverged from reference: $got")
    // pure roles: customers get authority 0, suppliers hub 0
    assert(got("c1")._2 == 0.0 && got("c2")._2 == 0.0)
    assert(got("s1")._1 == 0.0 && got("s2")._1 == 0.0)
    // s1 (two in-links) out-ranks s2; c1 (two out-links) out-ranks c2
    assert(got("s1")._2 > got("s2")._2)
    assert(got("c1")._1 > got("c2")._1)
    // both score vectors L1-normalize to 1 (up to quantization)
    assert(math.abs(got.values.map(_._1).sum - 1.0) < 1e-8)
    assert(math.abs(got.values.map(_._2).sum - 1.0) < 1e-8)
    intercept[IllegalArgumentException] {
      Graphs.hits(edges.toDF("src", "dst"), 0)
    }
  }

  test("pageRank: null-keyed edges dropped; isolated via self-loop ranks above pure sink") {
    val withNull = g.unionByName(
      Seq((null.asInstanceOf[String], "a"), ("a", null.asInstanceOf[String]))
        .toDF("src", "dst"))
    val clean = Graphs.pageRank(g, 3).as[(String, Double)].collect().toMap
    val dirty = Graphs.pageRank(withNull, 3)
      .as[(String, Double)].collect().toMap
    assert(clean == dirty, "null-keyed edges must not alter the graph")
  }

  test("triangleCounts: hand graph; dirty edges collapse; star has none") {
    // two triangles sharing node 3, plus a chord-free path
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L),
      (3L, 5L),
      // noise that must NOT change the graph: reversed duplicate,
      // parallel duplicate, self loop, null endpoint
      (2L, 1L), (1L, 2L), (1L, 1L)).toDF("src", "dst")
      .unionByName(Seq((null.asInstanceOf[java.lang.Long],
        java.lang.Long.valueOf(2L))).toDF("src", "dst"))
    val got = Graphs.triangleCounts(edges)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 2L, 4L -> 1L, 5L -> 1L),
      s"hand-counted triangles wrong: $got")
    // a star has C(d,2) wedges at the hub under naive counting but NO
    // triangles; degree orientation also means the hub generates zero
    // wedge rows — the count must be all zeros either way
    val star = (1L to 10L).map(i => (0L, i)).toDF("src", "dst")
    val sc = Graphs.triangleCounts(star).as[(Long, Long)].collect().toMap
    assert(sc.size == 11 && sc.values.forall(_ == 0L),
      s"star must be triangle-free: $sc")
    // complete graph K5: every node in C(4,2) = 6 triangles
    val k5 = (for (i <- 1L to 5L; j <- 1L to 5L if i < j) yield (i, j))
      .toDF("src", "dst")
    val kc = Graphs.triangleCounts(k5).as[(Long, Long)].collect().toMap
    assert(kc.size == 5 && kc.values.forall(_ == 6L),
      s"K5 per-node triangle count must be 6: $kc")
  }

  test("kCore: cascading peel, core degrees, empty core, round cap") {
    // K4 on 1-4, node 5 hanging off {1,2}, pendant 6 off 5 — peeling
    // at k=3 must CASCADE: 6 falls first, then 5 (its degree drops to
    // 2 only after 6 goes... 5's degree was already 3 with 6 attached)
    val g = (Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (5L, 1L), (5L, 2L), (6L, 5L)) ++
      Seq((2L, 1L), (1L, 1L))) // dirty: reversed dup + self loop
      .toDF("src", "dst")
    val c2 = Graphs.kCore(g, 2).as[(Long, Long)].collect().toMap
    assert(c2 == Map(1L -> 4L, 2L -> 4L, 3L -> 3L, 4L -> 3L, 5L -> 2L),
      s"2-core wrong: $c2")
    val c3 = Graphs.kCore(g, 3).as[(Long, Long)].collect().toMap
    assert(c3 == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L),
      s"3-core must peel the 5-6 tail and recompute degrees: $c3")
    assert(Graphs.kCore(g, 5).count() == 0, "no 5-core in this graph")
    intercept[IllegalStateException] {
      Graphs.kCore(g, 3, maxRounds = 1)
    }
    intercept[IllegalArgumentException] { Graphs.kCore(g, 0) }
  }

  test("adamicAdar: wedge scores, adjacency exclusion, dirty input") {
    // square 1-2-3-4 plus diagonal (1,3): the only non-adjacent pair
    // with shared neighbors is (2,4) — shared {1, 3}, both deg 3
    val g = (Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L), (1L, 3L)) ++
      Seq((2L, 1L), (2L, 2L))) // dirty: reversed dup + self loop
      .toDF("src", "dst")
    val got = Graphs.adamicAdar(g)
      .select("u", "v", "score_q").as[(Long, Long, Long)]
      .collect().map { case (u, v, s) => (u, v) -> s }.toMap
    val c3 = math.round(1e9 / math.log(3.0)) // one wedge at a deg-3 node
    assert(got == Map((2L, 4L) -> 2 * c3),
      s"expected only (2,4) at 2/ln(3): $got")
    // plain square (all deg 2): both diagonals score 2/ln(2)
    val sq = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)).toDF("src", "dst")
    val c2 = math.round(1e9 / math.log(2.0))
    val sqGot = Graphs.adamicAdar(sq)
      .select("u", "v", "score_q").as[(Long, Long, Long)]
      .collect().map { case (u, v, s) => (u, v) -> s }.toMap
    assert(sqGot == Map((1L, 3L) -> 2 * c2, (2L, 4L) -> 2 * c2), s"$sqGot")
    // score column is the quantized long divided once
    val row = Graphs.adamicAdar(sq).select("score", "score_q")
      .as[(Double, Long)].collect()
    assert(row.forall { case (d, q) => d == q.toDouble / 1e9 })
  }

  test("adamicAdar: maxDegree cap drops hub evidence; guard") {
    // star: hub 0 with leaves 1..4, plus edge (1,2). Uncapped: every
    // leaf pair shares the hub (deg 4); (1,2) also wedge at each other
    // but those pairs are adjacent or hub-involved
    val star = ((1L to 4L).map(l => (0L, l)) :+ (1L, 2L)).toDF("src", "dst")
    val un = Graphs.adamicAdar(star)
      .select("u", "v", "score_q").as[(Long, Long, Long)]
      .collect().map { case (u, v, s) => (u, v) -> s }.toMap
    val hub = math.round(1e9 / math.log(4.0))
    assert(un == Map((1L, 3L) -> hub, (1L, 4L) -> hub, (2L, 3L) -> hub,
      (2L, 4L) -> hub, (3L, 4L) -> hub), s"uncapped: $un")
    // cap 3 drops the deg-4 hub as a shared neighbor: nothing is left
    // (the only other wedges land on adjacent pairs)
    assert(Graphs.adamicAdar(star, maxDegree = Some(3)).count() == 0,
      "capped run must drop all hub-only evidence")
    // cap above every degree is a no-op
    val capped = Graphs.adamicAdar(star, maxDegree = Some(4))
      .select("u", "v", "score_q").as[(Long, Long, Long)]
      .collect().map { case (u, v, s) => (u, v) -> s }.toMap
    assert(capped == un, "cap >= max degree must change nothing")
    intercept[IllegalArgumentException] {
      Graphs.adamicAdar(star, maxDegree = Some(1))
    }
  }

  test("shortestHops: path graph distances, radius cap, seeds off-graph") {
    import spark.implicits._
    // path 1-2-3-4-5 plus isolated edge 8-9; seed 1 (and 99, which has
    // no edges — still reports hops 0)
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (8L, 9L))
      .toDF("src", "dst")
    val seeds = Seq(1L, 99L).toDF("node")
    val got = Graphs.shortestHops(edges, seeds, maxHops = 3)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 0L, 99L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 3L),
      s"got $got") // 5 is 4 hops out — beyond the radius; 8/9 unreachable
  }

  test("shortestHops: undirected default vs directed; min over multiple seeds") {
    import spark.implicits._
    val edges = Seq((2L, 1L), (2L, 3L)).toDF("src", "dst")
    val undir = Graphs.shortestHops(edges, Seq(1L).toDF("node"), 2)
      .as[(Long, Long)].collect().toMap
    assert(undir == Map(1L -> 0L, 2L -> 1L, 3L -> 2L))
    val dir = Graphs.shortestHops(edges, Seq(1L).toDF("node"), 2,
      directed = true).as[(Long, Long)].collect().toMap
    assert(dir == Map(1L -> 0L), "1 has no outgoing edges when directed")
    // two seeds: each node takes the NEAREST seed's distance
    val two = Graphs.shortestHops(edges, Seq(1L, 3L).toDF("node"), 2)
      .as[(Long, Long)].collect().toMap
    assert(two == Map(1L -> 0L, 3L -> 0L, 2L -> 1L))
  }

  test("connectedComponents: chains, isolates via self-reference, fixpoint guard") {
    import spark.implicits._
    // two components: {1,2,3,4} (a path — diameter exercises multiple
    // rounds) and {7,9}; self-loop (5,5) and null rows drop entirely
    val edges = Seq(
      (Option(4L), Option(3L)), (Option(3L), Option(2L)),
      (Option(2L), Option(1L)), (Option(9L), Option(7L)),
      (Option(5L), Option(5L)), (Option.empty[Long], Option(6L)))
      .toDF("src", "dst")
    val got = Graphs.connectedComponents(edges)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      7L -> 7L, 9L -> 7L), s"got $got")
    // a diameter too deep for maxRounds must throw, not mislabel —
    // with the round-21 double jump a round covers ~4×(reach+1) label
    // distance, so 2 rounds reach ≤ 20 hops and a 39-hop chain cannot
    // converge
    intercept[IllegalStateException] {
      Graphs.connectedComponents(
        (1L until 40L).map(i => (i, i + 1)).toDF("src", "dst"),
        maxRounds = 2).collect()
    }
    intercept[IllegalArgumentException] {
      Graphs.connectedComponents(edges, maxRounds = 0)
    }
  }

  test("appendToComponents ≡ fresh re-cluster: merges, new nodes, " +
      "chaining, no-op batches (VERDICT r18 gap #1)") {
    import spark.implicits._
    // stored graph: {1,2,3}, {10,11}, {20,21}
    val old = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L))
      .toDF("src", "dst")
    val labels = Graphs.connectedComponents(old)
    // the batch: merges {1,2,3}+{10,11} via (3,10); adds a brand-new
    // pair (30,31) and bridges it into {20,21} via (31,20); repeats an
    // intra-component edge (20,21) (a no-op); plants a self-loop and a
    // null (hygiene)
    val batch = Seq(
      (Option(3L), Option(10L)), (Option(30L), Option(31L)),
      (Option(20L), Option(21L)), (Option(31L), Option(20L)),
      (Option(8L), Option(8L)), (Option.empty[Long], Option(9L)))
      .toDF("src", "dst")
    val got = Graphs.appendToComponents(labels, batch)
      .as[(Long, Long)].collect()
    assert(got.length == got.map(_._1).distinct.length,
      "one row per node")
    val full = Graphs.connectedComponents(
        old.unionByName(batch.na.drop()
          .select(col("src").cast("long"), col("dst").cast("long"))))
      .as[(Long, Long)].collect().toMap
    assert(got.toMap == full, s"append diverged: ${got.toMap} vs $full")
    // chaining: append onto an APPENDED labeling; the new node 0 is
    // smaller than every stored id, so the merged component must take
    // ITS id — the min convention survives generations
    val got2 = Graphs.appendToComponents(
        got.toSeq.toDF("node", "component"),
        Seq((0L, 30L)).toDF("src", "dst"))
      .as[(Long, Long)].collect().toMap
    val full2 = Graphs.connectedComponents(
        old.unionByName(batch.na.drop()
          .select(col("src").cast("long"), col("dst").cast("long")))
          .unionByName(Seq((0L, 30L)).toDF("src", "dst")))
      .as[(Long, Long)].collect().toMap
    assert(got2 == full2, s"chained append diverged: $got2 vs $full2")
    assert(got2(20L) == 0L, "new minimal node must re-label the merged " +
      "component")
    // a batch of only self-loops/nulls is the identity
    val noop = Graphs.appendToComponents(labels,
        Seq((Option(5L), Option(5L)), (Option.empty[Long], Option(7L)))
          .toDF("src", "dst"))
      .as[(Long, Long)].collect().toMap
    assert(noop == labels.as[(Long, Long)].collect().toMap,
      s"no-op batch changed the labeling: $noop")
  }

  test("cheapestPaths: hop budget vs cheap detour, directed, parallel " +
      "edges, guards") {
    import spark.implicits._
    // a-b-c-d at weight 1 each vs a direct a-d shortcut at 10: within
    // 1 hop only the shortcut exists; within 3 the detour wins
    val g4 = Seq(("a", "b", 1L), ("b", "c", 1L), ("c", "d", 1L),
      ("a", "d", 10L)).toDF("src", "dst", "w")
    val seedsA = Seq("a").toDF("node")
    def run(hops: Int, directed: Boolean = false) =
      Graphs.cheapestPaths(g4, seedsA, hops, directed = directed)
        .as[(String, Long)].collect().toMap
    assert(run(1) == Map("a" -> 0L, "b" -> 1L, "d" -> 10L))
    assert(run(3) == Map("a" -> 0L, "b" -> 1L, "c" -> 2L, "d" -> 3L))
    assert(run(0) == Map("a" -> 0L), "maxHops = 0 keeps seeds only")
    // early fixpoint exit equals the full-round run
    assert(run(25) == run(3))
    // directed: nothing points at a, so from d only d itself
    assert(Graphs.cheapestPaths(g4, Seq("d").toDF("node"), 4,
        directed = true)
      .as[(String, Long)].collect().toMap == Map("d" -> 0L))
    // parallel edges collapse to the cheapest
    val par = Seq(("a", "b", 5L), ("a", "b", 2L)).toDF("src", "dst", "w")
    assert(Graphs.cheapestPaths(par, seedsA, 1)
      .as[(String, Long)].collect().toMap == Map("a" -> 0L, "b" -> 2L))
    intercept[IllegalArgumentException] {
      Graphs.cheapestPaths(
        Seq(("a", "b", -1L)).toDF("src", "dst", "w"), seedsA, 2)
    }
    intercept[IllegalArgumentException] {
      Graphs.cheapestPaths(g4, seedsA, -1)
    }
    // lossy-cast guard (ADVICE r17): fractional double weights raise
    // instead of truncating (0.9 -> 0 would corrupt costs; -0.7 -> 0
    // would also slip the negative check); integral doubles cast fine
    intercept[Exception] {
      Graphs.cheapestPaths(
        Seq(("a", "b", 0.9)).toDF("src", "dst", "w"), seedsA, 1)
    }
    intercept[Exception] {
      Graphs.cheapestPaths(
        Seq(("a", "b", -0.7)).toDF("src", "dst", "w"), seedsA, 1)
    }
    assert(Graphs.cheapestPaths(
        Seq(("a", "b", 2.0)).toDF("src", "dst", "w"), seedsA, 1)
      .as[(String, Long)].collect().toMap == Map("a" -> 0L, "b" -> 2L))
  }

  test("connectedComponents: pointer jumping converges a 199-hop path in " +
      "O(log) rounds") {
    // plain 1-hop relaxation needs 199 rounds here; the label-table
    // doubling must land the fixpoint (plus its no-change round) well
    // inside 12 — this gate is what keeps the jump LIVE (a regression
    // to hop-only relaxation throws on the round guard, not mislabels)
    val path = (1L until 200L).map(i => (i, i + 1)).toDF("src", "dst")
    val labs = Graphs.connectedComponents(path, maxRounds = 12)
    assert(labs.agg(max(col("component"))).head.getLong(0) == 1L &&
      labs.count() == 200L)
  }

  test("labelPropagation: hand-replayed rounds; fixed-round oscillation semantics") {
    import spark.implicits._
    // two triangles bridged at (3,4): hand-replayed synchronous rounds
    val bar = Seq((1L, 2L), (2L, 3L), (3L, 1L), (4L, 5L), (5L, 6L),
      (6L, 4L), (3L, 4L)).toDF("src", "dst")
    val r1 = Graphs.labelPropagation(bar, rounds = 1)
      .as[(Long, Long)].collect().toMap
    assert(r1 == Map(1L -> 2L, 2L -> 1L, 3L -> 1L, 4L -> 3L,
      5L -> 4L, 6L -> 4L), s"round 1: $r1")
    val r2 = Graphs.labelPropagation(bar, rounds = 2)
      .as[(Long, Long)].collect().toMap
    assert(r2 == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L,
      5L -> 3L, 6L -> 3L), s"round 2: $r2")
    // path 1-2-3 demonstrates the documented oscillation — labels are
    // a pure function of the ROUND COUNT, not a fixpoint
    val path = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val p1 = Graphs.labelPropagation(path, 1).as[(Long, Long)]
      .collect().toMap
    val p2 = Graphs.labelPropagation(path, 2).as[(Long, Long)]
      .collect().toMap
    assert(p1 == Map(1L -> 2L, 2L -> 1L, 3L -> 2L))
    assert(p2 == Map(1L -> 1L, 2L -> 2L, 3L -> 1L))
    intercept[IllegalArgumentException](Graphs.labelPropagation(path, 0))
  }

  test("degreeAssortativity: path graph r = -1 exactly; cycle has no variance") {
    import spark.implicits._
    // path 1-2-3: every edge joins a deg-1 leaf to the deg-2 middle —
    // perfectly disassortative. Hand sums: n=4 ends, Σx=Σy=6, Σxy=8,
    // Σx²=Σy²=10 → r = (32-36)/√(4·4) = -1.
    val path = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val row = Graphs.degreeAssortativity(path)
      .select("n_edges", "sum_x", "sum_xy", "sum_x2", "r")
      .as[(Long, Long, Long, Long, Option[Double])].collect().head
    assert(row == ((4L, 6L, 8L, 10L, Some(-1.0))), s"got $row")
    // triangle: all degrees equal — zero variance — r is NULL not NaN
    val cyc = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
    val r2 = Graphs.degreeAssortativity(cyc)
      .select("r").as[Option[Double]].collect().head
    assert(r2.isEmpty)
  }

  test("modularity: two-triangle hand value; unlabeled nodes are singletons") {
    import spark.implicits._
    // two triangles bridged by (3,4): m=7, Σe_c=6, d_A=d_B=7 →
    // Q = (4·7·6 − 98)/196 = 70/196
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (4L, 5L), (5L, 6L),
      (6L, 4L), (3L, 4L)).toDF("src", "dst")
    val labels = Seq((1L, "A"), (2L, "A"), (3L, "A"), (4L, "B"),
      (5L, "B"), (6L, "B")).toDF("node", "community")
    val row = Graphs.modularity(edges, labels)
      .select("m", "intra_edges", "q_num", "q_den", "modularity")
      .as[(Long, Long, Long, Long, Double)].collect().head
    assert(row == ((7L, 6L, 70L, 196L, 70.0 / 196.0)), s"got $row")
    // node 2 unlabeled → its own singleton: edge (1,2) no longer
    // intra; m=1, d = {x:1, __node:2:1} → Q = (0 - 2)/4
    val partial = Graphs.modularity(Seq((1L, 2L)).toDF("src", "dst"),
      Seq((1L, "x")).toDF("node", "community"))
      .select("q_num", "q_den").as[(Long, Long)].collect().head
    assert(partial == ((-2L, 4L)), s"got $partial")
    intercept[IllegalArgumentException] {
      Graphs.modularity(Seq((1L, 1L)).toDF("src", "dst"), labels)
    }
  }

  test("shortestHops: maxHops 0 returns just the seeds; guard on negative") {
    import spark.implicits._
    val edges = Seq((1L, 2L)).toDF("src", "dst")
    val got = Graphs.shortestHops(edges, Seq(1L).toDF("node"), 0)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 0L))
    intercept[IllegalArgumentException] {
      Graphs.shortestHops(edges, Seq(1L).toDF("node"), -1)
    }
  }

  /** The six round-loop entry points on the fixture graphs, by name,
    * as functions of the iteration count.
    */
  private def roundLoops: Seq[(String, Int => DataFrame)] = {
    val wg = Seq(("a", "b", 3L), ("a", "c", 1L), ("b", "c", 2L))
      .toDF("src", "dst", "w")
    val stored = Seq(("a", 0.4), ("b", 0.3), ("c", 0.2), ("d", 0.1))
      .toDF("node", "rank")
    Seq(
      "pageRank" -> (k => Graphs.pageRank(g, k)),
      "resumePageRank" -> (k => Graphs.resumePageRank(stored, g, k)),
      "weightedPageRank" -> (k => Graphs.weightedPageRank(wg, k)),
      "personalizedPageRank" ->
        (k => Graphs.personalizedPageRank(g, Seq("c").toDF("node"), k)),
      "weightedPersonalizedPageRank" -> (k =>
        Graphs.weightedPersonalizedPageRank(wg, Seq("a").toDF("node"), k)),
      "hits" -> (k => Graphs.hits(g, k)))
  }

  private def jobsDuring(body: => Any): Int =
    graft.SparkJobs.during(spark)(body)

  test("round loops: Spark jobs per call pinned at 2 and 5 iterations") {
    // Measured on the fixtures with the local[4] test session. Each
    // round stages its frames through Persist.round, and under adaptive
    // execution one staging action runs as several jobs (one per
    // shuffle stage and broadcast), so the pins are jobs, not actions.
    // A per-round count or collect shows up as a moved pin.
    val pinned = Map(
      "pageRank" -> ((23, 47)),
      "resumePageRank" -> ((28, 52)),
      "weightedPageRank" -> ((28, 55)),
      "personalizedPageRank" -> ((27, 51)),
      "weightedPersonalizedPageRank" -> ((32, 59)),
      "hits" -> ((38, 92)))
    val got = roundLoops.map { case (name, run) =>
      name -> ((jobsDuring(run(2)), jobsDuring(run(5))))
    }.toMap
    assert(got == pinned, s"jobs per call moved: $got")
  }

  test("round loops on the reliable checkpoint backend: bit-identical " +
      "to the local backend, staged files under the checkpoint dir") {
    def bits(df: DataFrame): Set[Seq[Any]] = df.collect().map(_.toSeq.map {
      case d: Double => java.lang.Double.doubleToRawLongBits(d)
      case v => v
    }).toSet
    val local = roundLoops.map { case (name, run) => name -> bits(run(3)) }
    val dir = Files.createTempDirectory("graft_graphs_ckpt")
    try {
      spark.conf.set(Persist.CheckpointDirKey, dir.toString)
      roundLoops.zip(local).foreach { case ((name, run), (_, want)) =>
        assert(bits(run(3)) == want, s"$name moved on the reliable backend")
      }
      val staged = Files.walk(dir).filter(Files.isRegularFile(_)).count()
      assert(staged > 0L, s"no checkpoint files under $dir")
    } finally {
      spark.conf.unset(Persist.CheckpointDirKey)
    }
  }
}

/** Incremental triangle maintenance (round 20, VERDICT r19 #5). */
class TriangleAppendSpec extends graft.SparkSpec {
  import spark.implicits._

  private def tc(edges: org.apache.spark.sql.DataFrame) =
    Graphs.triangleCounts(edges)

  private def asMap(df: org.apache.spark.sql.DataFrame) =
    df.as[(Long, Long)].collect().toMap

  test("appendToTriangleCounts ≡ recompute on a random-ish split graph") {
    val all = (0L until 240L).map(i => (i % 40, (i * 7 + 3) % 40))
      .filter { case (a, b) => a != b }.toDF("src", "dst")
    val old = all.filter(col("src") % 5 < 4)
    val batch = all.filter(col("src") % 5 === 4)
    val appended = asMap(Graphs.appendToTriangleCounts(tc(old), old, batch))
    val fresh = asMap(tc(all))
    assert(appended == fresh,
      s"append diverged from recompute: ${appended.toSeq.sorted
        .zip(fresh.toSeq.sorted).filter(p => p._1 != p._2).take(5)}")
  }

  test("triangles with 2 and 3 batch edges count once; duplicate batch " +
      "edges are no-ops; batch-only nodes appear with zeros") {
    // old: a-b plus an isolated edge x-y; batch closes triangle abc with
    // TWO new edges, adds triangle def with THREE new edges, repeats the
    // stored a-b (both orientations), and adds a triangle-free edge y-z
    val old = Seq((1L, 2L), (8L, 9L)).toDF("src", "dst")
    val batch = Seq(
      (2L, 3L), (3L, 1L),            // 2-batch-edge triangle 1-2-3
      (4L, 5L), (5L, 6L), (6L, 4L),  // 3-batch-edge triangle 4-5-6
      (1L, 2L), (2L, 1L),            // already stored, either orientation
      (9L, 10L)                      // new node 10, no triangle
    ).toDF("src", "dst")
    val got = asMap(Graphs.appendToTriangleCounts(tc(old), old, batch))
    assert(got == Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L,
      4L -> 1L, 5L -> 1L, 6L -> 1L,
      8L -> 0L, 9L -> 0L, 10L -> 0L), s"got $got")
    // and it matches the fresh recount exactly
    assert(got == asMap(tc(old.unionByName(batch))))
  }

  test("appends chain: two generations of batches stay ≡ recompute") {
    val all = (0L until 150L).map(i => (i % 25, (i * 11 + 2) % 25))
      .filter { case (a, b) => a != b }.toDF("src", "dst")
    val g0 = all.filter(col("src") % 3 === 0)
    val g1 = all.filter(col("src") % 3 === 1)
    val g2 = all.filter(col("src") % 3 === 2)
    val c1 = Graphs.appendToTriangleCounts(tc(g0), g0, g1)
    val c2 = Graphs.appendToTriangleCounts(c1, g0.unionByName(g1), g2)
    assert(asMap(c2) == asMap(tc(all)), "second-generation append diverged")
  }
}
