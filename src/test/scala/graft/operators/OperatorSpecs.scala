package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

class PivotSpec extends SparkSpec {
  import spark.implicits._

  test("longToWide: explicit vocabulary, missing cells null, extra dropped") {
    val df = Seq(
      ("d1", "TMAX", 10.0), ("d1", "TMIN", 2.0),
      ("d2", "TMAX", 8.0), ("d2", "ZZZ", 99.0))
      .toDF("k", "dt", "v")
    val out = Pivot.longToWide(df, Seq("k"), "dt", Seq("TMAX", "TMIN"), "v")
      .orderBy("k").collect()
    assert(out.map(_.getString(0)).toSeq == Seq("d1", "d2"))
    assert(out(0).getDouble(1) == 10.0 && out(0).getDouble(2) == 2.0)
    assert(out(1).getDouble(1) == 8.0 && out(1).isNullAt(2))
    // vocabulary defines the schema — ZZZ never becomes a column
    assert(out(0).schema.fieldNames.toSeq == Seq("k", "TMAX", "TMIN"))
  }

  test("longToWide: custom cell aggregate") {
    val df = Seq(("d1", "A", 1.0), ("d1", "A", 2.0)).toDF("k", "dt", "v")
    val out = Pivot.longToWide(df, Seq("k"), "dt", Seq("A"), "v",
      c => sum(c)).collect()
    assert(out(0).getDouble(1) == 3.0)
  }
}

class GoldSpec extends SparkSpec {
  import spark.implicits._

  test("remap: mapped values replaced, unmapped take the default") {
    val df = Seq("click", "view", "other_thing").toDF("e")
    val out = Gold.remap(df, "e", Map("click" -> "Click", "view" -> "View"),
      lit("Other")).orderBy("e").as[String].collect()
    assert(out.toSeq == Seq("Click", "Other", "View"))
  }

  test("monthYearSummary: empty valueCols is rejected, not a runtime crash") {
    val df = Seq(("a", java.sql.Timestamp.valueOf("2024-01-01 00:00:00")))
      .toDF("k", "ts")
    intercept[IllegalArgumentException] {
      Gold.monthYearSummary(df, "k", "ts", Seq.empty)
    }
  }

  test("monthYearSummary: yyyy-MM buckets, multi-column averages") {
    val ts = (s: String) => java.sql.Timestamp.valueOf(s)
    val df = Seq(
      ("a", ts("2024-01-05 00:00:00"), 1.0, 10.0),
      ("a", ts("2024-01-25 00:00:00"), 3.0, 30.0),
      ("a", ts("2024-02-01 00:00:00"), 5.0, 50.0))
      .toDF("k", "ts", "x", "y")
    val out = Gold.monthYearSummary(df, "k", "ts", Seq("x", "y"))
      .orderBy("month_year").collect()
    assert(out.map(r => (r.getString(1), r.getDouble(2), r.getDouble(3))).toSeq
      == Seq(("2024-01", 2.0, 20.0), ("2024-02", 5.0, 50.0)))
  }

  test("yearlyTrend: exact slope/intercept on a perfect line") {
    val ts = (y: Int) => java.sql.Timestamp.valueOf(s"$y-06-01 00:00:00")
    // y = 2x - 3000 on yearly averages
    val df = (2000 to 2010).flatMap(y =>
      Seq((ts(y), 2.0 * y - 3000 - 5), (ts(y), 2.0 * y - 3000 + 5)))
      .toDF("ts", "v")
    val r = Gold.yearlyTrend(df, "ts", "v").collect()(0)
    assert(math.abs(r.getDouble(0) - 2.0) < 1e-9)
    assert(math.abs(r.getDouble(1) + 3000.0) < 1e-6)
  }

  test("topK: deterministic under ties via tie-break ordering") {
    val df = Seq((1L, 5.0), (2L, 5.0), (3L, 5.0), (4L, 1.0))
      .toDF("id", "v")
    val out = Gold.topK(df, 2, $"v".desc, $"id".asc).as[(Long, Double)].collect()
    assert(out.toSeq == Seq((1L, 5.0), (2L, 5.0)))
  }
}

class TextAnalysisSpec extends SparkSpec {
  import spark.implicits._

  test("calibrateThresholds: hand-checked confusion cells, null-safe metrics") {
    val df = Seq((0.9, true), (0.8, false), (0.4, true), (0.2, false),
      (0.1, false)).toDF("s", "y")
    val out = TextAnalysis.calibrateThresholds(df, $"s", $"y", Seq(0.5, 0.95))
      .orderBy("threshold").collect()
    // th 0.5: tp=1 (0.9), fp=1 (0.8), fn=1 (0.4), tn=2
    val r0 = out(0)
    assert((r0.getLong(1), r0.getLong(2), r0.getLong(3), r0.getLong(4)) ==
      ((1L, 1L, 1L, 2L)))
    assert(r0.getDouble(5) == 0.5 && r0.getDouble(6) == 0.5 &&
      r0.getDouble(7) == 0.5)
    // th 0.95: no positive predictions → precision/f1 NULL (not fake 0),
    // recall a real 0
    val r1 = out(1)
    assert(r1.getLong(1) == 0L && r1.getLong(2) == 0L)
    assert(r1.isNullAt(5) && r1.getDouble(6) == 0.0 && r1.isNullAt(7))
    // null score/label rows belong in NO confusion cell
    val withNulls = Seq((Option(0.9), Option(true)),
      (None: Option[Double], Option(true)), (Option(0.5), None: Option[Boolean]))
      .toDF("s", "y")
    val counts = TextAnalysis
      .calibrateThresholds(withNulls, $"s", $"y", Seq(0.5)).collect()(0)
    assert((counts.getLong(1), counts.getLong(2), counts.getLong(3),
      counts.getLong(4)) == ((1L, 0L, 0L, 0L)))
  }

  test("fitQualityLogit: one GD round matches the hand-computed " +
      "quantized gradient exactly") {
    // two one-token docs: features are hand-computable. 'the' is a
    // stopword -> x1=1; all-alpha -> x2=1; x3=ln 2; x4=|3-5|=2 for
    // 'the', |5-5|=0 for 'xyzzy' (x1=0 there)
    val docs = Seq((1L, "the"), (2L, "xyzzy")).toDF("doc_id", "text")
    val out = TextAnalysis.fitQualityLogit(docs, lit(true),
      iterations = 1, learningRate = 0.5).collect()(0)
    val ln2 = math.log(2.0)
    // w=0 -> sigmoid(0)=0.5, err=-0.5 for both docs (label true)
    def q(x: Double) = math.round(x * 1e9)
    val g = Array(
      q(-0.5) + q(-0.5),                 // intercept
      q(-0.5 * 1.0) + q(-0.5 * 0.0),     // stopword ratio
      q(-0.5 * 1.0) + q(-0.5 * 1.0),     // alpha ratio
      q(-0.5 * ln2) + q(-0.5 * ln2),     // ln(1+tokens)
      q(-0.5 * 2.0) + q(-0.5 * 0.0))     // |atl-5|
    val expect = g.map(s => -0.5 * ((s.toDouble / 1e9) / 2)).map(x =>
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    assert(out.getInt(0) == 1)
    assert((1 to 5).map(out.getDouble).toSeq == expect.toSeq,
      s"got ${(1 to 5).map(out.getDouble)} want ${expect.toSeq}")
  }

  test("fitQualityLogit -> qualityLogitWith -> calibrateThresholds: the " +
      "fit/score/calibrate composition closes (VERDICT r16 #5)") {
    // separable teacher: long stopword-rich prose (all 4 rule checks
    // pass) vs short digit noise (all 4 fail -> teacher false)
    val good = (1 to 60).map(i => s"the word$i").mkString(" ")
    val docs = (1 to 10).map(i => (i.toLong, good + s" tail$i")) ++
      (11 to 20).map(i => (i.toLong, s"$i 9 9 9 9 9"))
    val df = docs.toDF("doc_id", "text")
    val label = TextAnalysis.qualityScore(col("text")) >= 0.5
    val fit = TextAnalysis.fitQualityLogit(df, label, iterations = 12)
      .orderBy("iter").collect()
    assert(fit.length == 12)
    val w = (1 to 5).map(fit.last.getDouble).toSeq
    // fitted weights must separate the classes the teacher separates
    val scored = df.select(col("doc_id"),
      TextAnalysis.qualityLogitWith(w)(col("text")).as("s"), label.as("y"))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getBoolean(2)))
    val minGood = scored.filter(_._3).map(_._2).min
    val maxNoise = scored.filterNot(_._3).map(_._2).max
    assert(minGood > maxNoise,
      s"12 GD rounds separate the separable fixture: min-good $minGood " +
        s"vs max-noise $maxNoise")
    // ...and calibrating at the separating threshold yields the perfect
    // confusion matrix (the q129 composition the weights feed)
    val cal = TextAnalysis.calibrateThresholds(
      df.select(TextAnalysis.qualityLogitWith(w)(col("text")).as("s"),
        label.as("y")),
      col("s"), col("y"), Seq((minGood + maxNoise) / 2)).collect()(0)
    val (tp, fp, fn, tn) =
      (cal.getLong(1), cal.getLong(2), cal.getLong(3), cal.getLong(4))
    assert((tp, fp, fn, tn) == ((10L, 0L, 0L, 10L)),
      s"confusion at the separating threshold: $tp/$fp/$fn/$tn")
    // default weights = qualityLogitWith(DefaultLogitWeights), bit-exact
    val a = df.select(TextAnalysis.qualityLogit(col("text")))
      .as[Double].collect().toSeq
    val b = df.select(TextAnalysis.qualityLogitWith(
      TextAnalysis.DefaultLogitWeights)(col("text")))
      .as[Double].collect().toSeq
    assert(a == b)
  }

  test("dedupDocLines: normalized repeats drop, blanks always survive, " +
      "first occurrence keeps its original rendering") {
    val doc = "Menu A\nbody one\n\n  menu   a\nbody two\n\nMenu A\nfooter"
    val out = TextAnalysis.dedupDocLines(Seq((1L, doc)).toDF("doc_id", "text"))
      .as[(Long, String, Int, Int)].collect().head
    // lines 4 ("  menu   a" — re-indented, multi-space) and 7 ("Menu A")
    // normalize to line 1's key and drop; both blank lines survive
    assert(out == ((1L, "Menu A\nbody one\n\nbody two\n\nfooter", 8, 2)),
      s"got $out")
    val clean = TextAnalysis.dedupDocLines(
      Seq((2L, "a\nb\nc")).toDF("doc_id", "text"))
      .as[(Long, String, Int, Int)].collect().head
    assert(clean == ((2L, "a\nb\nc", 3, 0)))
  }

  test("reliabilityBins: hand-checked bins, exact gap/brier, right-edge " +
      "clamp, null exclusion") {
    val df = Seq(
      (Option(0.95), Option(true)),   // bin 9
      (Option(1.0), Option(true)),    // s=1.0 clamps into bin 9
      (Option(0.85), Option(false)),  // bin 8
      (Option(0.05), Option(false)),  // bin 0
      (Option(0.15), Option(true)),   // bin 1
      (None: Option[Double], Option(true)),      // excluded
      (Option(0.5), None: Option[Boolean]))      // excluded
      .toDF("s", "y")
    val out = TextAnalysis.reliabilityBins(df, $"s", $"y")
      .orderBy("bin")
      .as[(Int, Long, Double, Double, Double, Double)].collect().toSeq
    assert(out.map(r => (r._1, r._2)) ==
      Seq(0 -> 1L, 1 -> 1L, 8 -> 1L, 9 -> 2L), s"bins/counts: $out")
    // bin 9: scores (0.95, 1.0), both positive -> mean 0.975, frac 1.0,
    // gap 0.025, brier = ((0.05)^2 + 0^2)/2 = 0.00125
    val expect = Seq(
      (0.05, 0.0, 0.05, 0.0025),
      (0.15, 1.0, 0.85, 0.7225),
      (0.85, 0.0, 0.85, 0.7225),
      (0.975, 1.0, 0.025, 0.00125))
    out.zip(expect).foreach { case (r, (m, f, g, b)) =>
      assert(math.abs(r._3 - m) < 1e-12 && math.abs(r._4 - f) < 1e-12 &&
        math.abs(r._5 - g) < 1e-12 && math.abs(r._6 - b) < 1e-12,
        s"bin ${r._1}: got $r want ($m,$f,$g,$b)")
    }
  }

  test("rocAuc: brute-force pair count with ties, groups, degenerate slices") {
    // hand fixture: ties across labels at 0.5, a perfect group, a
    // degenerate (all-positive) group, and null rows to exclude
    val rows = Seq(
      ("a", 0.9, true), ("a", 0.5, true), ("a", 0.5, false),
      ("a", 0.3, false), ("a", 0.1, false),
      ("b", 0.8, true), ("b", 0.2, false),
      ("c", 0.7, true), ("c", 0.6, true))
    val withNulls = rows.map { case (g, s, y) => (g, Option(s), Option(y)) } ++
      Seq(("a", None: Option[Double], Option(true)),
        ("b", Option(0.4), None: Option[Boolean]))
    val df = withNulls.toDF("g", "s", "y")
    val got = TextAnalysis.rocAuc(df, $"s", $"y", Seq("g")).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toMap
    // brute force: mean over pos×neg pairs of [s+ > s-] + 0.5[s+ = s-]
    def brute(g: String): Option[Double] = {
      val rs = rows.filter(_._1 == g)
      val (pos, neg) = (rs.filter(_._3).map(_._2), rs.filterNot(_._3).map(_._2))
      if (pos.isEmpty || neg.isEmpty) None
      else Some((for (p <- pos; n <- neg)
        yield if (p > n) 1.0 else if (p == n) 0.5 else 0.0)
        .sum / (pos.size * neg.size))
    }
    assert(got("a") == ((2L, 3L, brute("a"))) && brute("a").get == (5.5 / 6))
    assert(got("b") == ((1L, 1L, Some(1.0))))
    assert(got("c") == ((2L, 0L, None)), "no negatives -> NULL auc")
    // ungrouped form: one global row over the same (non-null) rows
    val globalRow = TextAnalysis.rocAuc(df, $"s", $"y").collect()(0)
    val (pos, neg) = (rows.filter(_._3).map(_._2), rows.filterNot(_._3).map(_._2))
    val g0 = (for (p <- pos; n <- neg)
      yield if (p > n) 1.0 else if (p == n) 0.5 else 0.0)
      .sum / (pos.size * neg.size)
    assert(globalRow.getLong(0) == pos.size && globalRow.getLong(1) == neg.size)
    assert(globalRow.getDouble(2) == g0)
  }

  test("tokens: whitespace runs collapse, empties dropped") {
    val out = Seq("  a  b\tc ").toDF("t")
      .select(TextAnalysis.tokens($"t")).as[Seq[String]].collect()(0)
    assert(out == Seq("a", "b", "c"))
  }

  test("langId: marker heuristics on natural snippets") {
    val cases = Seq(
      "the cat sat on the mat and the dog is here" -> "en",
      "el perro y la casa que es de los gatos" -> "es",
      "le chien et les maisons des chats est une" -> "fr",
      "der hund und die katze ist von den bäumen" -> "de",
      "这是一段中文文本没有空格" -> "zh",
      "zzz qqq xxx" -> "und")
    val df = cases.map(_._1).toDF("t")
      .select($"t", TextAnalysis.langId($"t").as("p"))
    val got = df.as[(String, String)].collect().toMap
    cases.foreach { case (t, want) => assert(got(t) == want, s"for: $t") }
  }

  test("langId: case-insensitive markers (headlines don't fall out as und)") {
    val got = Seq("THE CAT AND THE DOG IS IN THE HOUSE",
      "The Cat And The Dog Is In The House").toDF("t")
      .select(TextAnalysis.langId($"t")).as[String].collect()
    assert(got.toSeq == Seq("en", "en"))
  }

  test("fingerprint: whitespace/case normalization collapses variants") {
    val df = Seq("Hello  World", "hello world", "hello  WORLD ", "other")
      .toDF("t").select(TextAnalysis.fingerprint($"t").as("f"))
    val fps = df.as[String].collect()
    assert(fps(0) == fps(1) && fps(1) == fps(2) && fps(0) != fps(3))
  }

  test("qualityScore: bounded [0,1], sensible ordering") {
    val good = ("the quick brown fox jumps over the lazy dog and keeps " +
      "running through the field with steady pace for a while longer") // >100 chars, stopwords, alpha
    val bad = "1234 5678 !!!"
    val out = Seq(good, bad).toDF("t")
      .select(TextAnalysis.qualityScore($"t")).as[Double].collect()
    assert(out.forall(q => q >= 0.0 && q <= 1.0))
    assert(out(0) > out(1))
    assert(out(0) == 1.0)
  }

  test("token counts: subtokens split punctuation and digits apart") {
    val out = Seq("ab12cd, efg!").toDF("t")
      .select(TextAnalysis.tokenCount($"t"), TextAnalysis.subtokenCount($"t"))
      .as[(Int, Int)].collect()(0)
    // tokens: [ab12cd,] [efg!]  subtokens: ab|1|2|cd|,|efg|!
    assert(out == ((2, 7)))
  }

  test("gopherRules: each rule flips on its own trigger; empty text fails") {
    // 120 tokens, mean length (60*3 + 531-180)/120 = 4.4, 60 stopwords
    val passing = (1 to 60).map(i => s"the word$i").mkString(" ")
    val docs = Seq(
      (1L, passing),                            // all five rules pass
      (2L, "The " + ("word " * 60).trim),       // case-insensitive stops: 1 'the'
                                                //   only -> stopword_ok false
      (3L, ("xx " * 30) + passing),             // 2-char noise keeps mean in band
      (4L, passing + " " + ("#" * 999)),        // symbol run: 999 hashes / 121 toks
      (5L, passing.replace("word1 ", "... ")),  // one ellipsis: 1/120 <= 0.1 ok
      (6L, (1 to 120).map(i => s"$i").mkString(" ")), // digits: alpha_ratio 0
      (7L, "the of to"),                        // 3 words < 50
      (8L, ""))                                 // token-free: ratios all false
      .toDF("doc_id", "text")
    val rows = docs.select($"doc_id",
        TextAnalysis.gopherRules($"text").as("g"))
      .select($"doc_id", $"g.word_count_ok", $"g.mean_word_len_ok",
        $"g.symbol_ratio_ok", $"g.alpha_ratio_ok", $"g.stopword_ok",
        $"g.pass")
      .as[(Long, Boolean, Boolean, Boolean, Boolean, Boolean, Boolean)]
      .collect().sortBy(_._1)
    assert(rows(0) == ((1L, true, true, true, true, true, true)))
    assert(!rows(1)._6 && !rows(1)._7, s"one stopword must fail: ${rows(1)}")
    assert(rows(2)._7, s"2-char tokens keep mean len in band: ${rows(2)}")
    assert(!rows(3)._4 && !rows(3)._7, s"hash flood must fail: ${rows(3)}")
    assert(rows(4)._7, s"one ellipsis in 120 tokens passes: ${rows(4)}")
    assert(!rows(5)._5 && !rows(5)._7, s"all-digit doc fails alpha: ${rows(5)}")
    assert(!rows(6)._2 && !rows(6)._7, s"3 words under min count: ${rows(6)}")
    assert(rows(7) == ((8L, false, false, false, false, false, false)))
  }

  test("gopherRules line-level: bullet-start and ellipsis-end fractions") {
    val docs = Seq(
      (1L, "• a\n- b\n* c\nplain d"),        // 3/4 bulleted <= 0.9 ok
      (2L, "• a\n  - b\n\t* c\n‣ d"),        // 4/4 (indent counts) fail
      (3L, "x...\ny\nz\nw"),                 // 1/4 = 0.25 <= 0.3 ok
      (4L, "x...\ny…\nz... \nw"),            // 3/4 (unicode + trail ws) fail
      (5L, "ends mid... sentence"),          // ellipsis not at line end: ok
      (6L, "one line trailing off..."))      // single line 1/1 fail
      .toDF("doc_id", "text")
    val rows = docs.select($"doc_id",
        TextAnalysis.gopherRules($"text").as("g"))
      .select($"doc_id", $"g.bullet_ratio_ok", $"g.ellipsis_ratio_ok")
      .as[(Long, Boolean, Boolean)].collect().sortBy(_._1)
    assert(rows(0) == ((1L, true, true)))
    assert(rows(1) == ((2L, false, true)))
    assert(rows(2) == ((3L, true, true)))
    assert(rows(3) == ((4L, true, false)))
    assert(rows(4) == ((5L, true, true)))
    assert(rows(5) == ((6L, true, false)))
  }

  test("repetitionStats: hand-checked fractions, edge lengths null out") {
    val docs = Seq(
      (1L, "a a a b"),      // top a=3/4; 2grams: aa,aa,ab→2 distinct of 3;
                            // 3grams: aaa,aab→2 distinct of 2
      (2L, "w x y z"),      // no repetition anywhere
      (3L, "solo"),         // 1 token: no n-grams
      (4L, ""))             // empty: all null
      .toDF("doc_id", "text")
    val out = TextAnalysis.repetitionStats(docs).orderBy("doc_id").collect()
    def d(r: org.apache.spark.sql.Row, i: Int): Option[Double] =
      if (r.isNullAt(i)) None else Some(r.getDouble(i))
    assert(out(0).getInt(1) == 4 && d(out(0), 2).contains(0.75))
    assert(math.abs(d(out(0), 3).get - (1.0 - 2.0 / 3)) < 1e-3)
    assert(d(out(0), 4).contains(0.0))
    assert(d(out(1), 2).contains(0.25) && d(out(1), 3).contains(0.0)
      && d(out(1), 4).contains(0.0))
    assert(out(2).getInt(1) == 1 && d(out(2), 2).contains(1.0)
      && d(out(2), 3).isEmpty && d(out(2), 4).isEmpty)
    assert(out(3).getInt(1) == 0 && d(out(3), 2).isEmpty)
  }

  test("repetitionStats: per-row plan (no exchange) and top-count ≡ explode/groupBy") {
    val docs = (0L until 50L)
      .map(i => (i, s"w${i % 7} x y w${i % 7} z " * ((i % 4) + 1).toInt))
      .toDF("doc_id", "text")
    val out = TextAnalysis.repetitionStats(docs)
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"repetitionStats must fuse into the scan stage:\n$plan")
    // the codegen'd top-token kernel ≡ the shuffling textbook form
    val viaExpr = out.select($"doc_id",
      round($"top_word_frac" * $"n_tokens").cast("int").as("mx"))
      .as[(Long, Int)].collect().toMap
    val viaAgg = docs
      .select($"doc_id", explode(TextAnalysis.tokens($"text")).as("t"))
      .groupBy($"doc_id", $"t").agg(count(lit(1)).as("c"))
      .groupBy($"doc_id").agg(max($"c").cast("int").as("mx"))
      .as[(Long, Int)].collect().toMap
    assert(viaExpr == viaAgg)
  }

  test("repetitionCharStats: hand-checked char fractions (Gopher A1.1 semantics)") {
    val docs = Seq(
      (1L, "aa aa aa bb"),             // tc=8; "aa aa"×2 → top2 = 2·4/8
      (2L, "p q r s t p q r s t u"),   // tc=11; 5-gram repeats once
      (3L, "one two three"),           // tc=11; no repetition, short
      (4L, ""))                        // token-free: all null
      .toDF("doc_id", "text")
    val out = TextAnalysis.repetitionCharStats(docs).orderBy("doc_id").collect()
    def d(r: org.apache.spark.sql.Row, i: Int): Option[Double] =
      if (r.isNullAt(i)) None else Some(r.getDouble(i))
    // doc 1: top2 = 2 occurrences × 4 chars / 8; top3 ties at count 1 →
    // max char mass 6/8; top4 = whole doc; no 5-grams
    assert(out(0).getInt(1) == 4)
    assert(d(out(0), 2).contains(1.0))
    assert(d(out(0), 3).contains(0.75))
    assert(d(out(0), 4).contains(1.0))
    assert(d(out(0), 5).isEmpty && d(out(0), 6).isEmpty)
    // doc 2: "p q r s t" occurs twice → marks 10 of 11 positions once
    // (overlap-free coverage), top2 = 2·2/11, 10-grams all distinct → 0
    assert(d(out(1), 2).contains(math.rint(4.0 / 11 * 1e4) / 1e4))
    assert(d(out(1), 5).contains(math.rint(10.0 / 11 * 1e4) / 1e4))
    assert(d(out(1), 6).contains(0.0))
    // doc 3: count-1 ties break to the LARGEST char mass ("two three"=8)
    assert(d(out(2), 2).contains(math.rint(8.0 / 11 * 1e4) / 1e4))
    assert(d(out(2), 3).contains(1.0))
    assert(d(out(2), 4).isEmpty)
    // doc 4: token-free
    assert(out(3).getInt(1) == 0 && (2 to 6).forall(out(3).isNullAt))
  }

  test("repetitionCharStats: per-row plan, no exchange") {
    val docs = (0L until 40L)
      .map(i => (i, s"w${i % 5} x y w${i % 5} z " * ((i % 3) + 2).toInt))
      .toDF("doc_id", "text")
    val plan = TextAnalysis.repetitionCharStats(docs)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"repetitionCharStats must fuse into the scan stage:\n$plan")
  }

  test("tokenDivergence: zero for a lone group, ln(n/ng) for disjoint vocabularies") {
    // one group ⇒ group distribution IS the corpus distribution ⇒ KL 0
    val lone = TextAnalysis.tokenDivergence(
        Seq((1L, "a", "x y z x"), (2L, "a", "y z")).toDF("doc_id", "source", "text"),
        "source")
      .select("kl_vs_corpus").as[Double].collect()
    assert(lone.toSeq == Seq(0.0))
    // disjoint vocabularies: every group token has q = p·(ng/n), so
    // KL(g‖corpus) = ln(n/ng) exactly — 6 tokens total, 2 vs 4
    val disj = TextAnalysis.tokenDivergence(
        Seq((1L, "a", "x y"), (2L, "b", "p q r s")).toDF("doc_id", "source", "text"),
        "source")
      .select("source", "kl_vs_corpus").as[(String, Double)].collect().toMap
    assert(math.abs(disj("a") - math.log(6.0 / 2)) < 1e-3, disj.toString)
    assert(math.abs(disj("b") - math.log(6.0 / 4)) < 1e-3, disj.toString)
  }

  test("c4Filter: line keep-rules and page rules trigger independently") {
    val goodLine = "Here is a perfectly ordinary sentence with enough words."
    val docs = Seq(
      // all lines survive, 3 sentences → pass
      (1L, s"$goodLine\n$goodLine\n$goodLine"),
      // javascript line + short line + unpunctuated tail dropped
      (2L, s"Please enable javascript to view this site properly now.\n$goodLine\ntiny line\nNo terminal punctuation in this final line at all"),
      // lorem ipsum page fails even though its lines are well-formed
      (3L, s"Lorem ipsum dolor sit amet consectetur adipiscing elit now.\n$goodLine\n$goodLine"),
      // brace page (code) fails
      (4L, s"$goodLine\nif (x) { y(); }\n$goodLine\n$goodLine"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.c4Filter(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(out(1L).getAs[Boolean]("pass"))
    assert(out(1L).getAs[Int]("n_kept_lines") == 3)
    val d2 = out(2L)
    assert(d2.getAs[Int]("n_lines") == 4 && d2.getAs[Int]("n_kept_lines") == 1)
    assert(!d2.getAs[Boolean]("min_sentences_ok") && !d2.getAs[Boolean]("pass"))
    assert(d2.getAs[String]("clean_text") == goodLine)
    assert(!out(3L).getAs[Boolean]("no_lorem_ipsum") && !out(3L).getAs[Boolean]("pass"))
    assert(out(3L).getAs[Boolean]("no_curly_brace"))
    assert(!out(4L).getAs[Boolean]("no_curly_brace") && !out(4L).getAs[Boolean]("pass"))
    // brace LINE also fails the keep-predicate (ends in ')' ... no
    // terminal punct? it ends in '}' — dropped): 3 of 4 lines kept
    assert(out(4L).getAs[Int]("n_kept_lines") == 3)
  }

  test("bigramPerplexity: hand-computed add-1 probabilities, unseen " +
      "backstop, word-order sensitivity, short-doc convention") {
    // self-trained corpus: tokens a b / a b / a c -> c1: a:3 b:2 c:1,
    // V=3; bigrams: (a,b):2, (a,c):1
    val df = Seq((1L, "a b"), (2L, "a b"), (3L, "a c")).toDF("doc_id", "text")
    val out = TextAnalysis.bigramPerplexity(df)
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    // p(b|a) = (2+1)/(3+3) = 1/2; p(c|a) = (1+1)/(3+3) = 1/3
    assert(math.abs(out(1L).getAs[Double]("log_ppl") - (-math.log(0.5))) < 1e-3)
    assert(math.abs(out(3L).getAs[Double]("log_ppl") - (-math.log(1.0 / 3))) < 1e-3)
    assert(out.values.forall(_.getAs[Double]("unseen_frac") == 0.0))
    // unseen bigram against a fixed train corpus: (b,c) never seen ->
    // p = (0+1)/(c1(b)=2 + 3) = 0.2, unseen_frac = 1
    val scored = TextAnalysis.bigramPerplexity(
        Seq((9L, "b c")).toDF("doc_id", "text"), train = df)
      .collect()(0)
    assert(math.abs(scored.getAs[Double]("log_ppl") - (-math.log(0.2))) < 1e-3)
    assert(scored.getAs[Double]("unseen_frac") == 1.0)
    // the discriminative property the unigram screen lacks: scrambled
    // text keeps its unigram score but loses its bigram score
    val phrase = "the quick brown fox jumps over the lazy dog"
    val train = (0L until 20L).map(i => (i, phrase)).toDF("doc_id", "text")
    val probe = Seq((100L, phrase),
      (101L, "dog the over quick lazy brown the jumps fox"))
      .toDF("doc_id", "text")
    val bg = TextAnalysis.bigramPerplexity(probe, train = train)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("log_ppl")).toMap
    val ug = TextAnalysis.unigramPerplexity(probe, train = train)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("log_ppl")).toMap
    assert(ug(100L) == ug(101L), "unigram is order-blind by construction")
    assert(bg(101L) > bg(100L) + 1.0,
      s"scrambled text must lose its bigram score: ${bg(100L)} vs ${bg(101L)}")
    // < 2 tokens: n_bigrams 0, null scores (the q95 convention)
    val short = TextAnalysis.bigramPerplexity(
        Seq((1L, "a b"), (2L, "solo"), (3L, " ")).toDF("doc_id", "text"))
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(short(2L).getAs[Long]("n_bigrams") == 0L && short(2L).isNullAt(2))
    assert(short(3L).getAs[Long]("n_bigrams") == 0L && short(3L).isNullAt(2))
  }

  test("knBigramPerplexity: hand-computed interpolated-KN probabilities, " +
      "history backoff, continuation completion, order sensitivity") {
    // self-trained: bigrams (a,b):2 (a,c):1; hist a: c1=3, n1f=2;
    // cont b:1 c:1; T=2 types, V=3; pcont(x) = (n1b+1)/(T+V+1) = (n+1)/6
    val df = Seq((1L, "a b"), (2L, "a b"), (3L, "a c")).toDF("doc_id", "text")
    val out = TextAnalysis.knBigramPerplexity(df)
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    // p(b|a) = (2-.75)/3 + .75*2/3 * 2/6 = 0.58333...
    val pba = 1.25 / 3 + 0.75 * 2 / 3.0 * (2.0 / 6)
    val pca = 0.25 / 3 + 0.75 * 2 / 3.0 * (2.0 / 6)
    assert(math.abs(out(1L).getAs[Double]("log_ppl") - (-math.log(pba))) < 1e-3)
    assert(math.abs(out(3L).getAs[Double]("log_ppl") - (-math.log(pca))) < 1e-3)
    // unseen bigram, SEEN history: discounted mass * completed pcont(a)
    val seenHist = TextAnalysis.knBigramPerplexity(
        Seq((9L, "a a")).toDF("doc_id", "text"), train = df).collect()(0)
    val paa = 0.75 * 2 / 3.0 * (1.0 / 6)
    assert(math.abs(seenHist.getAs[Double]("log_ppl") - (-math.log(paa))) < 1e-3)
    assert(seenHist.getAs[Double]("unseen_frac") == 1.0)
    // unseen HISTORY: full backoff to the continuation distribution
    val oovHist = TextAnalysis.knBigramPerplexity(
        Seq((10L, "b a")).toDF("doc_id", "text"), train = df).collect()(0)
    assert(math.abs(oovHist.getAs[Double]("log_ppl")
      - (-math.log(1.0 / 6))) < 1e-3)
    // KN keeps the order-sensitivity property
    val phrase = "the quick brown fox jumps over the lazy dog"
    val train = (0L until 20L).map(i => (i, phrase)).toDF("doc_id", "text")
    val kn = TextAnalysis.knBigramPerplexity(
        Seq((100L, phrase),
          (101L, "dog the over quick lazy brown the jumps fox"))
          .toDF("doc_id", "text"), train = train)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("log_ppl")).toMap
    assert(kn(101L) > kn(100L) + 1.0,
      s"scrambled text must lose its KN score: ${kn(100L)} vs ${kn(101L)}")
    // < 2 tokens: n_bigrams 0, null scores
    val short = TextAnalysis.knBigramPerplexity(
        Seq((1L, "a b"), (2L, "solo")).toDF("doc_id", "text"))
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(short(2L).getAs[Long]("n_bigrams") == 0L && short(2L).isNullAt(2))
  }

  test("unigramPerplexity: frequent vocabulary scores lower; OOV floors at 1/N") {
    val df = Seq(
      (1L, "common common common common"),
      (2L, "common common rare1 rare2")).toDF("doc_id", "text")
    val out = TextAnalysis.unigramPerplexity(df)
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    // N=8: common 6/8, rare 1/8 each
    val pplAllCommon = -math.log(6.0 / 8)
    val pplMixed = (2 * -math.log(6.0 / 8) + 2 * -math.log(1.0 / 8)) / 4
    assert(math.abs(out(1L).getAs[Double]("log_ppl") - pplAllCommon) < 1e-3)
    assert(math.abs(out(2L).getAs[Double]("log_ppl") - pplMixed) < 1e-3)
    assert(out(1L).getAs[Double]("log_ppl") < out(2L).getAs[Double]("log_ppl"))
    assert(out(1L).getAs[Double]("oov_frac") == 0.0)
    // scoring against a FIXED reference corpus: unseen tokens hit the
    // 1/N floor and are counted as OOV
    val ref = Seq((9L, "common common common common common common")).toDF("doc_id", "text")
    val scored = TextAnalysis.unigramPerplexity(df, train = ref)
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(scored(2L).getAs[Double]("oov_frac") == 0.5)
    assert(math.abs(scored(2L).getAs[Double]("log_ppl") -
      (2 * -math.log(6.0 / 6) + 2 * -math.log(1.0 / 6)) / 4) < 1e-3)
    // token-free doc survives with 0 tokens and null score
    val empty = TextAnalysis.unigramPerplexity(
      Seq((1L, "a b"), (2L, "  ")).toDF("doc_id", "text"))
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(empty(2L).getAs[Long]("n_tokens") == 0L && empty(2L).isNullAt(2))
    // the vocabulary joins in as a BROADCAST (the corpus-sized exploded
    // side must never shuffle for the scoring join)
    val plan = TextAnalysis.unigramPerplexity(df)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"vocab must broadcast:\n$plan")
  }

  test("redactPii: emails, IPs, phone runs replaced; clean text untouched") {
    val cases = Seq(
      "mail me at jane.doe+x@sub.example.org today" ->
        "mail me at <EMAIL> today",
      "server 192.168.0.1 responded" -> "server <IP> responded",
      "call 555-123-4567 or +1 555 123 4567" ->
        "call <PHONE> or +1 <PHONE>",
      "no pii in this sentence at all" -> "no pii in this sentence at all")
    val got = cases.map(_._1).toDF("t")
      .select(TextAnalysis.redactPii($"t")).as[String].collect()
    cases.map(_._2).zip(got).foreach { case (want, g) =>
      assert(g == want, s"got: $g") }
  }
}

class CurationSpec extends SparkSpec {
  import spark.implicits._

  test("curate: every reason branch fires; precedence and keep flags exact") {
    // passing doc: 120 tokens, 60 stopwords, mean len 4.4, quality 1.0,
    // top-word frac exactly 0.5 (<= threshold)
    val good = (1 to 60).map(i => s"the word$i").mkString(" ")
    // gopher-green but low quality: huge (nChars > 10000), 2 absolute
    // stopword hits (ratio ~0), 75%-digit tokens (alpha-char ratio low)
    // -> only the token-length quality check passes (0.25 < 0.5)
    val lowQ = "the the " + Seq.fill(2998)("a111").mkString(" ")
    // gopher- and quality-green, but one token is 58% of the stream
    val repet = (Seq.fill(70)("the") ++ (1 to 50).map(i => s"tok$i"))
      .mkString(" ")
    // distinct filler everywhere (every 8-token window of `leaky`
    // contains an itemN token, so no window overlaps `good`'s stream)
    val leaky = (1 to 60).map(i => s"the item$i").mkString(" ")
    val docs = Seq(
      (1L, good),
      (2L, "  " + good + "  "),   // normalized-exact dup of 1
      (3L, leaky),                // shares 8-token shingles with bench
      (4L, "too short"),
      (5L, lowQ),
      (6L, repet))
      .toDF("doc_id", "text")
    val bench = Seq(leaky.take(200)).toDF("text")
    val out = Curation.curate(docs, bench)
      .as[(Long, Boolean, Option[String])].collect().sortBy(_._1)
    assert(out(0) == ((1L, true, None)), out(0).toString)
    assert(out(1) == ((2L, false, Some("duplicate"))))
    assert(out(2) == ((3L, false, Some("contaminated"))))
    assert(out(3) == ((4L, false, Some("gopher"))))
    assert(out(4) == ((5L, false, Some("low_quality"))))
    assert(out(5) == ((6L, false, Some("repetitive"))))
  }

  test("curate: duplicate wins over contamination for the non-canonical copy") {
    val text = (1 to 60).map(i => s"the word$i").mkString(" ")
    val docs = Seq((1L, text), (2L, text)).toDF("doc_id", "text")
    val bench = Seq(text.take(200)).toDF("text")
    val out = Curation.curate(docs, bench)
      .as[(Long, Boolean, Option[String])].collect().sortBy(_._1)
    // both are contaminated; only the non-canonical reports duplicate
    assert(out(0) == ((1L, false, Some("contaminated"))))
    assert(out(1) == ((2L, false, Some("duplicate"))))
  }

  test("curateWeb plan: no cartesian product anywhere; the blocklist " +
      "rides a broadcast") {
    val good = (1 to 60).map(i => s"the word$i").mkString(" ")
    val docs = Seq((1L, good, "https://ok.com/a"),
      (2L, good + " x", "https://ok.com/b")).toDF("doc_id", "text", "url")
    val plan = Curation.curateWeb(docs,
        Seq("nothing here").toDF("text"), Seq("bad.com").toDF("domain"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      "the web verdict must never plan a cartesian join")
    assert(plan.contains("BroadcastExchange"),
      "the blocklist must ship as a broadcast, not a shuffle side")
  }

  test("curateAndExcise: leak cut and doc rescued; gutted doc re-rejected " +
      "as gopher; unlocalizable contamination stays rejected") {
    val good = (1 to 60).map(i => s"the word$i").mkString(" ")
    val good2 = (1 to 60).map(i => s"the item$i").mkString(" ")
    val good3 = (1 to 60).map(i => s"the thing$i").mkString(" ")
    val leak = (1 to 20).map(i => s"zqleak$i").mkString(" ")
    // 35 tokens (stopword-laced so gopher's stop check passes on the
    // FIRST pass) + the 20-token leak = 55 >= 50; after excision ~35
    val short35 = (1 to 35)
      .map(i => if (i % 2 == 0) "the" else s"w2x$i").mkString(" ")
    val docs = Seq(
      (1L, good + " " + leak),              // leak cut -> RESCUED
      (2L, short35 + " " + leak),           // cut guts it under 50 tokens
      (3L, good2 + " a b c d e f g h"),     // 8-token/15-char leak: the
                                            // shingle screen fires, the
                                            // 16-char-gram span screen
                                            // CANNOT localize -> stays
      (4L, good3))                          // clean control
      .toDF("doc_id", "text")
    val bench = Seq((10L, leak), (11L, "a b c d e f g h"))
      .toDF("bench_id", "text")
    val out = Curation.curateAndExcise(docs, bench)
      .collect().map(r => r.getLong(0) ->
        ((r.getBoolean(1), Option(r.getString(2)), r.getBoolean(3),
          r.getInt(4), r.getString(5)))).toMap
    val (k1, r1, e1, n1, t1) = out(1L)
    assert(k1 && r1.isEmpty && e1 && n1 > 100, s"doc 1 rescued: ${out(1L)}")
    assert(!t1.contains("zqleak5") && t1.contains("word60"),
      "doc 1: leak gone, original text intact")
    val (k2, r2, e2, n2, _) = out(2L)
    assert(!k2 && r2.contains("gopher") && e2 && n2 > 100,
      s"doc 2 gutted below the token floor: ${out(2L)}")
    val (k3, r3, e3, n3, t3) = out(3L)
    assert(!k3 && r3.contains("contaminated") && e3 && n3 == 0 &&
      t3 == good2 + " a b c d e f g h",
      s"doc 3: unlocalizable leak survives the span screen: ${out(3L)}")
    assert(out(4L) == ((true, None, false, 0, good3)), s"doc 4: ${out(4L)}")
  }

  test("curateWeb: URL stages precede content stages in exactly WebReasons order") {
    val good = (1 to 60).map(i => s"the word$i").mkString(" ")
    val docs = Seq(
      // 1: clean on every axis
      (1L, good, "https://ok.com/a"),
      // 2: blocked host AND url-dup of 3 AND content-dup of 3 -> blocked_host
      (2L, good + " x", "https://bad.com/p?utm_q=1"),
      // 3: canonical on bad.com -> still blocked_host
      (3L, good + " x", "HTTPS://BAD.COM/p"),
      // 4/5: url twins on a clean host, same text -> canonical keeps,
      // twin reports url_duplicate (beating content duplicate)
      (4L, good + " y", "https://ok.com/b"),
      (5L, good + " y", "https://ok.com/b#frag"),
      // 6: content-dup of 4 under a DIFFERENT url -> content duplicate
      (6L, good + " y", "https://ok.com/c"),
      // 7/8/9: a session-id-mill host — 8 and 9 are cosmetic URL variants
      // of 7, so trap.net's dup_frac is 2/3 > 0.5 and the host is spam.
      // The VARIANTS fall to url_duplicate (stricter screen first); the
      // canonical 7 is caught ONLY by the host verdict -> spam_host
      // (which in turn beats its content-duplicate reason)
      (7L, good + " z", "https://trap.net/p"),
      (8L, good + " z", "https://trap.net/p?utm_q=2"),
      (9L, good + " z", "https://trap.net/p#s"))
      .toDF("doc_id", "text", "url")
    val bench = Seq("nothing matches this benchmark").toDF("text")
    val block = Seq("bad.com").toDF("domain")
    val out = Curation.curateWeb(docs, bench, block)
      .as[(Long, Boolean, Option[String])].collect().sortBy(_._1).toSeq
    assert(out == Seq(
      (1L, true, None),
      (2L, false, Some("blocked_host")),
      (3L, false, Some("blocked_host")),
      (4L, true, None),
      (5L, false, Some("url_duplicate")),
      (6L, false, Some("duplicate")),
      (7L, false, Some("spam_host")),
      (8L, false, Some("url_duplicate")),
      (9L, false, Some("url_duplicate"))))
    assert(Curation.WebReasons ==
      Seq("blocked_host", "url_duplicate", "spam_host") ++ Curation.Reasons)
  }
}

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val base = Seq(
    (0L, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (1L, "the quick brown fox jumps over the lazy dog near the river bank now"),
    (2L, "completely different content about spark distributed execution engines"),
    (3L, "the quick brown fox jumps over the lazy dog near the river bank today"))

  test("exactDedup: canonical = min id per normalized content") {
    val out = Dedup.exactDedup(base.toDF("doc_id", "text"), "text", "doc_id")
      .orderBy("doc_id")
      .as[(Long, Long, Boolean)].collect()
    assert(out.toSeq == Seq((0L, 0L, false), (1L, 1L, false),
      (2L, 2L, false), (3L, 0L, true)))
  }

  test("exactDedup plan: one source scan, one fingerprint evaluation") {
    // Regression for the agg+join-back shape that rescanned the corpus
    // 4× and re-evaluated normalize+md5 up to 8×/doc (14.4 s at sf0.1):
    // the window-min form must read the source once and compute the
    // fingerprint in one projection.
    val dir = java.nio.file.Files.createTempDirectory("graft_dedup").toString + "/d"
    base.toDF("doc_id", "text").write.parquet(dir)
    val out = Dedup.exactDedup(spark.read.parquet(dir), "text", "doc_id")
    // AQE wraps the plan (AdaptiveSparkPlan), so assert on the plan text
    val plan = out.queryExecution.executedPlan.toString
    val scanCount = "FileScan".r.findAllIn(plan).length
    assert(scanCount == 1, s"expected ONE scan, got $scanCount:\n$plan")
    val md5Count = "md5\\(".r.findAllIn(plan).length
    assert(md5Count == 1, s"fingerprint must be computed once, got $md5Count:\n$plan")
  }

  test("exactDedup aggForm ≡ window form, incl. a pathologically hot fingerprint") {
    // one page duplicated 5000× (the window form's straggler scenario)
    // plus the base docs: both forms must emit identical rows
    val hot = (100L until 5100L).map(i =>
      (i, "boilerplate cookie banner text repeated on every single page"))
    val df = (base ++ hot).toDF("doc_id", "text")
    val window = Dedup.exactDedup(df, "text", "doc_id")
      .as[(Long, Long, Boolean)].collect().toSet
    val agg = Dedup.exactDedup(df, "text", "doc_id", aggForm = true)
      .as[(Long, Long, Boolean)].collect().toSet
    assert(agg == window)
    assert(agg.count(_._3) == 5000) // 4999 hot dups + base's planted dup
    // the agg form's shape: a partial_min before the shuffle (the
    // hot-key collapse) and no window anywhere
    val plan = Dedup.exactDedup(df, "text", "doc_id", aggForm = true)
      .queryExecution.executedPlan.toString
    assert(plan.contains("partial_min") && !plan.contains("Window"),
      s"aggForm must map-side-combine min(id):\n$plan")
  }

  test("aggressiveNormalize: punct strip, digit fold, case/whitespace collapse") {
    val out = Seq(
      "  Hello,\tWorld — 2024!!  ",
      "hello world 2023",
      "¿Qué? ¡básico!").toDF("t")
      .select(Dedup.aggressiveNormalize($"t")).as[String].collect()
    assert(out(0) == "hello world 0000")
    assert(out(1) == "hello world 0000") // different digits, same class
    assert(out(2) == "qué básico") // non-ASCII letters survive the strip
  }

  test("exactDedup aggressive class merges variants the plain class keeps apart") {
    val docs = Seq(
      (0L, "Spark shuffles 100 partitions."),
      (1L, "spark shuffles 999 partitions"), // digits fold → same class
      (2L, "*** Spark shuffles 100 partitions. ???"), // punct wrapper
      (3L, "unrelated content entirely")).toDF("doc_id", "text")
    val plain = Dedup.exactDedup(docs, "text", "doc_id")
      .filter($"is_dup").as[(Long, Long, Boolean)].collect()
    assert(plain.isEmpty, "the plain class must NOT merge these")
    val agg = Dedup.exactDedup(docs, "text", "doc_id",
        fingerprinter = t => md5(Dedup.aggressiveNormalize(t)))
      .orderBy("doc_id").as[(Long, Long, Boolean)].collect()
    assert(agg.toSeq == Seq((0L, 0L, false), (1L, 0L, true),
      (2L, 0L, true), (3L, 3L, false)))
  }

  test("incrementalExactDedup: batch dups and corpus membership flagged exactly") {
    // corpus knows doc 0's content; the batch contains that same content
    // twice (docs 0 and 3), a near-dup that is NOT an exact dup (1), and
    // a fresh doc (2)
    val corpus = Seq("the quick brown fox jumps over the lazy dog near the river bank today")
      .toDF("t").select(TextAnalysis.fingerprint($"t").as("fp"))
    val out = Dedup.incrementalExactDedup(
        base.toDF("doc_id", "text"), corpus, "text", "doc_id")
      .orderBy("doc_id")
      .as[(Long, Long, Boolean, Boolean)].collect().toSeq
    assert(out == Seq(
      (0L, 0L, false, true),   // canonical in batch, already in corpus
      (1L, 1L, false, false),  // near-dup text ≠ exact dup → fresh
      (2L, 2L, false, false),  // fresh
      (3L, 0L, true, true)))   // batch-internal dup of 0, also known
  }

  test("incrementalExactDedup: pluggable class (round 16) — a fullwidth " +
      "re-encoded re-crawl is known under the unicode fold, novel under " +
      "the default class") {
    // corpus stored its fingerprints under the unicode class; the batch
    // re-delivers doc 0's content re-encoded fullwidth
    val content = "the quick brown fox jumps over the lazy dog near the river"
    val uni: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
      t => md5(Dedup.unicodeNormalize(t))
    val corpus = Seq(content).toDF("t").select(uni($"t").as("fp"))
    val batch = Seq((0L, content
      .map(c => if (c >= 'a' && c <= 'z') (c + 0xFEE0).toChar else c)))
      .toDF("doc_id", "text")
    val known = Dedup.incrementalExactDedup(batch, corpus, "text", "doc_id",
        fingerprinter = uni)
      .as[(Long, Long, Boolean, Boolean)].collect()(0)
    assert(known == ((0L, 0L, false, true)),
      "fullwidth mirror must be recognized under the unicode class")
    val missed = Dedup.incrementalExactDedup(batch, corpus, "text", "doc_id")
      .as[(Long, Long, Boolean, Boolean)].collect()(0)
    assert(!missed._4,
      "byte-level class must miss it — the class-mismatch hazard the " +
        "scaladoc documents")
  }

  test("duplicatedChunkStats: shared spans flagged on both sides, hand-checked") {
    // chunk size 3: doc 10 = [A B C][D E F][G]; doc 11 reuses chunks 1-2
    // with a unique tail; doc 12 repeats one chunk content INSIDE itself;
    // doc 13 is unrelated; doc 14 is empty
    val docs = Seq(
      (10L, "A B C D E F G"),
      (11L, "A B C D E F unique tail here"),
      (12L, "x y z x y z"),
      (13L, "p q r"),
      (14L, ""))
      .toDF("doc_id", "text")
    val out = Dedup.duplicatedChunkStats(docs, "text", "doc_id", 3)
      .orderBy("doc_id").as[(Long, Long, Long)].collect().toSeq
    assert(out == Seq(
      (10L, 3L, 2L),  // [A B C] and [D E F] also appear in doc 11
      (11L, 3L, 2L),  // same two; the tail chunk is unique
      (12L, 2L, 2L),  // within-doc repetition counts as duplication
      (13L, 1L, 0L),
      (14L, 0L, 0L)), out.toString)
  }

  test("incrementalMinhashDedup: batch near-dup matched to corpus, fresh doc passes") {
    val corpus = Seq(
      (0L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"),
      (1L, "one two three four five six seven eight nine ten eleven twelve"),
      (2L, "completely different text about query engines and shuffles here now"))
      .toDF("doc_id", "text")
    val idx = Dedup.minhashCorpusIndex(corpus, "text", "doc_id")
    val batch = Seq(
      // 0's text + one token: J = 10/11 ≈ 0.909 on trigram shingles
      (10L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu"),
      (11L, "fresh content with no relation to anything stored whatsoever at all"))
      .toDF("doc_id", "text")
    val out = Dedup.incrementalMinhashDedup(batch, idx, "text", "doc_id", 0.8)
      .as[(Long, Long, Double)].collect()
    assert(out.map(r => (r._1, r._2)).toSet == Set((10L, 0L)))
    assert(math.abs(out.head._3 - 0.9091) < 1e-9)
    // the novel-content composition: anti-join admits only the fresh doc
    val novel = batch.join(
      Dedup.incrementalMinhashDedup(batch, idx, "text", "doc_id", 0.8)
        .select("doc_id"), Seq("doc_id"), "left_anti")
    assert(novel.select("doc_id").as[Long].collect().toSeq == Seq(11L))
  }

  test("incrementalMinhashDedup: k mismatch vs the stored index fails loudly") {
    // an index built with a different k used to band-slice truncated keys
    // and silently MISS near-dups (ADVICE r8) — now it's a job failure
    val corpus = Seq(
      (0L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"))
      .toDF("doc_id", "text")
    val idx16 = Dedup.minhashCorpusIndex(corpus, "text", "doc_id", k = 16)
    val batch = Seq(
      (10L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu"))
      .toDF("doc_id", "text")
    val e = intercept[Exception] {
      Dedup.incrementalMinhashDedup(batch, idx16, "text", "doc_id", 0.8,
        k = 32).collect()
    }
    assert(e.getMessage.contains("built with a different k"),
      s"unexpected failure: ${e.getMessage}")
  }

  test("minhash LSH: catches the near-dup pair, skips unrelated docs") {
    val pairs = Dedup.minhashNearDupPairs(
        base.toDF("doc_id", "text"), "text", "doc_id", threshold = 0.5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 1L))) // one-word difference
    assert(pairs.contains((0L, 3L))) // identical
    assert(!pairs.exists(p => p._1 == 2L || p._2 == 2L))
  }

  test("simhash: identical texts hash equal; near-dups within small hamming") {
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    val h = Dedup.withSimhash(base.toDF("doc_id", "text"), "text")
      .orderBy("doc_id").select("simhash").as[Long].collect()
    assert(h(0) == h(3))
    assert(hamming(h(0), h(1)) < 15)
    assert(hamming(h(0), h(2)) > 15)
  }

  test("nearDupClusters: throws rather than returning split components at the cap") {
    // chain of diameter 12 > maxIterations 3: silent partial labels
    // would be wrong clusters — the operator must fail loudly
    val chain = (1L until 13L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    intercept[IllegalStateException] {
      Dedup.nearDupClusters(chain, maxIterations = 3).collect()
    }
    // and a sufficient cap resolves the same chain to one component
    val ok = Dedup.nearDupClusters(chain, maxIterations = 15)
      .as[(Long, Long)].collect().toMap
    assert(ok.values.toSet == Set(1L))
  }

  test("nearDupClusters: chained pairs converge to min-label components") {
    // component {1,2,3,4} via a chain (diameter 3) + pair {10,11}
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L))
      .toDF("doc_a", "doc_b")
    val out = Dedup.nearDupClusters(pairs).as[(Long, Long)].collect().toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L))
  }

  test("minhash LSH maxBucket: hot buckets capped, true-pair recall unchanged") {
    // A 30-doc boilerplate cluster: shared template + a one-token unique
    // tail gives pairwise Jaccard ≈ 0.88 — high enough that the cluster
    // floods its band buckets (18+ docs per key, over the cap), but
    // UNDER the 0.9 near-dup threshold, so every boilerplate candidate
    // is verify-rejected dead weight. The planted identical pair (0, 3)
    // collides in all 8 bands, so losing hot buckets can't lose it: the
    // capped output must EQUAL the uncapped output.
    val template = "all rights reserved contact us terms of service " +
      "privacy policy cookies settings navigation home about"
    val boiler = (100L until 130L).map(i => (i, s"$template page number $i"))
    val df = (base ++ boiler).toDF("doc_id", "text")
    val uncapped = Dedup.minhashNearDupPairs(df, "text", "doc_id", 0.9)
      .as[(Long, Long, Double)].collect().toSet
    val capped = Dedup.minhashNearDupPairs(df, "text", "doc_id", 0.9,
        maxBucket = 10)
      .as[(Long, Long, Double)].collect().toSet
    assert(uncapped.exists(p => p._1 == 0L && p._2 == 3L))
    assert(capped == uncapped, "cap must not change the verified pairs")
    // the cluster really does share buckets (the cap fires, it isn't
    // vacuous): at a threshold below its similarity the pairs surface
    val loose = Dedup.minhashNearDupPairs(df, "text", "doc_id", 0.85)
      .as[(Long, Long, Double)].collect()
    assert(loose.count(p => p._1 >= 100L) > 100,
      "boilerplate cluster must collide in LSH buckets")
  }

  test("prefix-filtered ngram near-dup ≡ blocked all-pairs (lossless filter)") {
    // blockless prefix variant vs single-block all-pairs over the same
    // corpus (base + a boilerplate cluster at ~0.88 similarity): the
    // prefix filter must lose NOTHING at any threshold above 0.5
    val template = "all rights reserved contact us terms of service " +
      "privacy policy cookies settings navigation home about"
    val boiler = (100L until 115L).map(i => (i, s"$template page number $i"))
    val df = (base ++ boiler).toDF("doc_id", "text")
    for (t <- Seq(0.6, 0.8, 0.9); freqOrdered <- Seq(true, false)) {
      val full = Dedup.ngramNearDupPairs(
          df.withColumn("blk", lit("b0")), "text", "doc_id", Seq("blk"), t)
        .as[(Long, Long, Double)].collect().toSet
      val prefix = Dedup.ngramNearDupPairsPrefix(df, "text", "doc_id",
          Nil, t, frequencyOrdered = freqOrdered)
        .as[(Long, Long, Double)].collect().toSet
      assert(prefix == full, s"at threshold $t, freqOrdered=$freqOrdered")
      assert(full.nonEmpty, s"vacuous at threshold $t")
    }
  }

  test("prefix variant keeps EXACT-threshold pairs (ceil boundary regression)") {
    // 37 distinct chars → every char-3-gram distinct; A = B's first 30
    // chars, so A's 28 grams ⊂ B's 35 grams and J = 28/35 = 0.8 EXACTLY.
    // With naive double ceil, α = ceil(63·0.8/1.8) over-rounds 28 → 29
    // and the positional filter silently drops the pair; the prefix-len
    // ceil has the same failure mode at other (t, size) pairs.
    val b = ('a' to 'z').mkString + "0123456789~"
    assert(b.length == 37)
    val df = Seq((1L, b.substring(0, 30)), (2L, b))
      .toDF("doc_id", "text").withColumn("blk", lit("x"))
    val full = Dedup.ngramNearDupPairs(df, "text", "doc_id", Seq("blk"), 0.8)
      .as[(Long, Long, Double)].collect().toSet
    assert(full == Set((1L, 2L, 0.8)), s"exact-threshold pair: $full")
    for (freqOrdered <- Seq(true, false)) {
      val pruned = Dedup.ngramNearDupPairsPrefix(df, "text", "doc_id",
          Nil, 0.8, frequencyOrdered = freqOrdered)
        .as[(Long, Long, Double)].collect().toSet
      assert(pruned == full, s"freqOrdered=$freqOrdered lost the boundary pair")
    }
  }

  test("ngram near-dup: blocked pairs above threshold only") {
    val df = base.toDF("doc_id", "text").withColumn("blk", lit("b0"))
    val pairs = Dedup.ngramNearDupPairs(df, "text", "doc_id", Seq("blk"),
        threshold = 0.8)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 3L)) && pairs.contains((0L, 1L)))
    assert(!pairs.exists(p => p._1 == 2L || p._2 == 2L))
  }
}

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  test("cosine: identity, orthogonality, scale invariance") {
    val df = Seq(
      (Seq(1f, 0f, 2f), Seq(1f, 0f, 2f)),
      (Seq(1f, 0f, 0f), Seq(0f, 3f, 0f)),
      (Seq(1f, 2f, 3f), Seq(2f, 4f, 6f)))
      .toDF("a", "b")
    val out = df.select(Similarity.cosine($"a", $"b")).as[Double].collect()
    assert(math.abs(out(0) - 1.0) < 1e-12)
    assert(out(1) == 0.0)
    assert(math.abs(out(2) - 1.0) < 1e-12)
  }

  test("bruteForceTopK: finds the planted nearest neighbor first") {
    val emb = Seq(
      (0L, Seq(1f, 0f, 0f)),
      (1L, Seq(0.99f, 0.1f, 0f)), // nearest to 0
      (2L, Seq(0f, 1f, 0f)),
      (3L, Seq(0f, 0f, 1f)))
      .toDF("vec_id", "embedding")
    val out = Similarity.bruteForceTopK(emb, emb.filter($"vec_id" === 0L), 2)
      .orderBy("rank").select("neighbor_id").as[Long].collect()
    assert(out(0) == 1L)
    assert(out.length == 2)
  }

  test("hardNegatives: same-label near-dup excluded, different-label " +
      "near-miss ranks first, null labels drop out") {
    val emb = Seq(
      (0L, Seq(1f, 0f, 0f), "A"),
      (1L, Seq(0.999f, 0.01f, 0f), "A"), // near-dup, SAME label: not a negative
      (2L, Seq(0.95f, 0.3f, 0f), "B"),   // the hard negative
      (3L, Seq(0f, 1f, 0f), "B"),        // an easy negative
      (4L, Seq(0.99f, 0.05f, 0f), null)  // unlabeled: excluded
    ).toDF("vec_id", "embedding", "label")
    val out = Similarity.hardNegatives(emb, emb.filter($"vec_id" === 0L), 3)
      .orderBy("rank")
      .select("neighbor_id").as[Long].collect()
    assert(out.toSeq == Seq(2L, 3L),
      s"expected the two B-labeled rows by similarity, got ${out.toSeq}")
  }

  test("labelPurity: planted mislabel scores 0, clean rows score high, " +
      "and the purity arithmetic composes with the IVF path unchanged") {
    // two tight orthogonal clusters (even ids on dim 0, odd ids on
    // dim 2), labels follow the cluster — EXCEPT vec 4, which sits in
    // the even cluster but carries the odd cluster's label: the
    // label-error the operator exists to surface
    val rows = (0L until 10L).map { i =>
      val axis = (i % 2).toInt
      val v = Seq.tabulate(4)(j =>
        (if (j == axis * 2) 10f else 0f) + ((i * 7 + j) % 3) * 0.1f)
      val lab = if (i == 4L) "B" else if (axis == 0) "A" else "B"
      (i, v, lab)
    }
    val emb = rows.toDF("vec_id", "embedding", "label")
    val exact = Similarity.labelPurity(
      Similarity.bruteForceTopK(emb, emb, 3), emb)
    val byId = exact.collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3), r.getDouble(4)))
      .toMap
    assert(byId.size == 10)
    // the mislabeled row: all 3 neighbors are even-cluster rows labeled
    // A, its own label is B -> purity exactly 0
    assert(byId(4L) == ((0L, 3L, 0.0)), s"planted mislabel: ${byId(4L)}")
    // odd-cluster rows: 3-NN all odd-cluster, all labeled B -> purity 1
    (1L until 10L by 2).foreach { id =>
      assert(byId(id) == ((3L, 3L, 1.0)), s"clean vec $id: ${byId(id)}") }
    // clean even rows: neighborhood is even-cluster; at most one of the
    // 3 neighbors is the mislabeled vec 4 -> purity >= 2/3
    (0L until 10L by 2).filter(_ != 4L).foreach { id =>
      assert(byId(id)._3 >= 0.6666, s"clean vec $id: ${byId(id)}") }
    // the IVF-fed composition reproduces the exact purity on the
    // clustered fixture (nprobe=1 full recall, the q91-verified regime)
    val approx = Similarity.labelPurity(
      Similarity.ivfTopK(emb, emb, 3,
        numCentroids = 2, nprobe = 1, kmeansIterations = 3), emb)
    val a = approx.collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3), r.getDouble(4)))
      .toMap
    assert(a == byId, "IVF-fed purity diverged from exact on full recall")
  }

  test("kmeans-refined IVF recovers planted clusters (nprobe=1, full recall)") {
    // 4 tight clusters around orthogonal axes; k-means must pull the
    // centroids onto them, after which probing ONE list suffices.
    val emb = (0L until 40L).map { i =>
      val axis = (i % 4).toInt
      val v = Array.tabulate(8)(j =>
        (if (j == axis * 2) 10f else 0f) + ((i * 13 + j) % 5) * 0.1f)
      (i, v.toSeq)
    }.toDF("vec_id", "embedding")
    val out = Similarity.ivfTopK(emb, emb.filter($"vec_id" < 4), 5,
        numCentroids = 4, nprobe = 1, kmeansIterations = 3)
      .as[(Long, Long, Int, Double)].collect()
    val byQ = out.groupBy(_._1)
    assert(byQ.keySet == Set(0L, 1L, 2L, 3L))
    // every neighbor comes from the query's own cluster (i % 4 matches)
    out.foreach { case (q, n, _, _) => assert(n % 4 == q % 4,
      s"neighbor $n not in query $q's cluster") }
    byQ.values.foreach(rows => assert(rows.length == 5))
  }

  test("kmeansCentroids: per-sweep materialization keeps lineage flat at 5 iterations") {
    // Regression: without per-sweep materialization, sweep i's lazy
    // plan re-executes all sweeps < i (re-scanning emb each time) —
    // plan size grows superlinearly in iterations. With each sweep
    // collected to a LocalRelation, the returned frame's plan is a
    // constant-size local build, independent of the iteration count.
    val emb = (0L until 24L).map(i =>
      (i, Seq.tabulate(4)(j => ((i * 5 + j) % 7).toFloat)))
      .toDF("vec_id", "embedding")
    val init = emb.orderBy($"vec_id".asc).limit(3)
      .select($"vec_id".as("cid"), $"embedding".as("__cv"))
    def planSize(n: Int): Int =
      Similarity.kmeansCentroids(emb, init, n)
        .queryExecution.optimizedPlan.toString.linesIterator.length
    val p2 = planSize(2)
    val p5 = planSize(5)
    assert(p5 == p2,
      s"plan must not grow with iterations: 2 sweeps -> $p2 lines, " +
        s"5 sweeps -> $p5 lines")
    assert(p5 <= 10, s"returned plan must be a local build, got $p5 lines")
    // and the refinement still yields one centroid row per init row
    assert(Similarity.kmeansCentroids(emb, init, 5).count() == 3)
  }

  test("kmeansCentroids: Byte cids assign like Long cids and keep their type") {
    val emb = (0L until 24L).map(i =>
      (i, Seq.tabulate(4)(j => ((i * 5 + j) % 7).toFloat)))
      .toDF("vec_id", "embedding")
    val init = emb.orderBy($"vec_id".asc).limit(3)
      .select($"vec_id".as("cid"), $"embedding".as("__cv"))
    val byteInit = init.select($"cid".cast("byte").as("cid"), $"__cv")
    val asLong = Similarity.kmeansCentroids(emb, init, 2)
      .select($"cid".cast("long"), $"__cv").collect().toSet
    val asByte = Similarity.kmeansCentroids(emb, byteInit, 2)
    assert(asByte.schema("cid").dataType == org.apache.spark.sql.types.ByteType)
    assert(asByte.select($"cid".cast("long"), $"__cv").collect().toSet == asLong)
  }

  test("kmeansCentroids: a null cid is rejected by name") {
    val emb = (0L until 8L).map(i => (i, Seq(1f + i, 2f)))
      .toDF("vec_id", "embedding")
    val init = Seq((Some(1L), Seq(1f, 0f)), (None, Seq(0f, 1f)))
      .toDF("cid", "__cv")
    val e = intercept[IllegalArgumentException] {
      Similarity.kmeansCentroids(emb, init, 1)
    }
    assert(e.getMessage.contains("null cid"), e.getMessage)
  }

  test("hyperplaneNearDupPairs ≡ exact cosineNearDupPairs on planted dups") {
    // Deterministic random base vectors (seeded PRNG per id — background
    // pair sims stay well under the threshold, like the gate corpus) + a
    // +0.005f-shifted copy of every 5th (cosine ≈ 0.9999): at the gated
    // parameters (r=12, b=8) the LSH output must EQUAL the exact
    // all-pairs ground truth — the q60 full-recall contract, exercised
    // here without the harness.
    val base = (0L until 60L).map { i =>
      val rnd = new java.util.Random(i * 12345L + 6789L)
      (i, Seq.fill(16)(rnd.nextFloat() - 0.5f))
    }
    val planted = base.filter(_._1 % 5 == 0).map { case (i, v) =>
      (i + 1000L, v.map(_ + 0.005f)) }
    val emb = (base ++ planted).toDF("vec_id", "embedding")
    val exact = Similarity.cosineNearDupPairs(emb, 0.9)
      .as[(Long, Long, Double)].collect().toSet
    val lsh = Similarity.hyperplaneNearDupPairs(emb, 0.9)
      .as[(Long, Long, Double)].collect().toSet
    assert(exact.nonEmpty, "planted dups must clear the threshold")
    assert(lsh == exact, s"LSH missed ${(exact -- lsh).mkString(",")}")
  }

  test("semanticDedup: transitive groups get one kept representative") {
    // group A = {0, 1000, 2000} (two shifted copies of vec 0 — 1000 and
    // 2000 are near-dups of 0 and, transitively, of each other), group
    // B = {5, 1005}; everything else singleton
    val base = (0L until 40L).map { i =>
      val rnd = new java.util.Random(i * 977L + 13L)
      (i, Seq.fill(16)(rnd.nextFloat() - 0.5f))
    }
    val shifted = Seq(
      (1000L, base(0)._2.map(_ + 0.004f)),
      (2000L, base(0)._2.map(_ + 0.008f)),
      (1005L, base(5)._2.map(_ + 0.004f)))
    val emb = (base ++ shifted).toDF("vec_id", "embedding")
    val out = Similarity.semanticDedup(emb, 0.9)
      .as[(Long, Long, Boolean)].collect()
    val canon = out.map(t => t._1 -> t._2).toMap
    assert(canon(0L) == 0L && canon(1000L) == 0L && canon(2000L) == 0L)
    assert(canon(5L) == 5L && canon(1005L) == 5L)
    // singletons map to themselves and are kept
    assert(canon(7L) == 7L)
    assert(out.count(!_._3) == 3, s"exactly the 3 shifted copies drop: " +
      out.filterNot(_._3).mkString(","))
    assert(out.length == 43)
  }

  test("ivfTopK: k rows per query, ranks contiguous, no self-matches") {
    val emb = (0L until 40L).map(i =>
      (i, Seq.tabulate(8)(j => ((i * 7 + j * 3) % 11).toFloat / 11f)))
      .toDF("vec_id", "embedding")
    val out = Similarity.ivfTopK(emb, emb.filter($"vec_id" < 3), 4,
        numCentroids = 8, nprobe = 3)
      .select("query_id", "neighbor_id", "rank")
      .as[(Long, Long, Int)].collect()
    val byQ = out.groupBy(_._1)
    assert(byQ.keySet == Set(0L, 1L, 2L))
    byQ.values.foreach { rows =>
      assert(rows.map(_._3).sorted.toSeq == (1 to rows.length))
      assert(rows.length == 4)
    }
    assert(out.forall(r => r._1 != r._2))
  }

  test("ivfTopK at the q41 gate parameters: recall@5 >= 0.9, and the " +
      "measurement trips on corrupted results") {
    // Unclustered (worst-case) deterministic vectors at the gate's exact
    // parameters (C=16, nprobe=6, 2 Lloyd sweeps, k=5, 10 queries):
    // deterministic data + deterministic algorithm = a fixed recall.
    // This is the approximate family's correctness tripwire — the
    // driver gate only checks rows/schema for q41, so a silent recall
    // collapse (bad refinement, wrong probe ranking) MUST fail here.
    val emb = (0L until 200L).map(i =>
      (i, Seq.tabulate(16)(j => (((i * 37 + j * 13) % 991).toFloat / 991f) - 0.5f)))
      .toDF("vec_id", "embedding")
    val queries = emb.filter($"vec_id" < 10)
    val exact = Similarity.bruteForceTopK(emb, queries, 5)
    val approx = Similarity.ivfTopK(emb, queries, 5,
      numCentroids = 16, nprobe = 6, kmeansIterations = 2)
    val recall = Similarity.recallAtK(approx, exact)
      .agg(avg($"recall")).as[Double].collect()(0)
    assert(recall >= 0.9,
      s"mean recall $recall under the 0.9 contract at gate parameters")
    // negative control: a broken retriever (every neighbor id off by
    // one — the shape survives, the content is garbage) must be CAUGHT
    // by the same measurement, not sail through like a rows-only check
    val broken = approx.withColumn("neighbor_id", $"neighbor_id" + 1000000L)
    val brokenRecall = Similarity.recallAtK(broken, exact)
      .agg(avg($"recall")).as[Double].collect()(0)
    assert(brokenRecall == 0.0,
      s"corrupted results scored $brokenRecall — the tripwire is dead")
    // per-query frame shape: one row per query, k = 5 everywhere
    val perQ = Similarity.recallAtK(approx, exact).collect()
    assert(perQ.length == 10 && perQ.forall(_.getAs[Long]("k") == 5L))
  }

  test("quantizeInt8: codes bounded, reconstruction error <= scale/2, zero vector safe") {
    val df = Seq(
      (0L, Seq(0.5f, -1.0f, 0.25f, 0f)),
      (1L, Seq(0f, 0f, 0f, 0f))).toDF("vec_id", "embedding")
    val rows = Similarity.quantizeInt8(df).orderBy("vec_id")
      .as[(Long, Double, Seq[Int])].collect()
    val (_, s0, c0) = rows(0)
    assert(math.abs(s0 - 1.0 / 127.0) < 1e-15)
    // 0.5/scale = 63.5 → half-up 64; −1.0 → −127; 0.25 → 31.75 → 32
    assert(c0 == Seq(64, -127, 32, 0))
    assert(c0.forall(c => c >= -127 && c <= 127))
    // reconstruction bound: |code·scale − v| ≤ scale/2 (+1 ulp headroom)
    Seq(0.5, -1.0, 0.25, 0.0).zip(c0).foreach { case (v, c) =>
      assert(math.abs(c * s0 - v) <= s0 / 2 + 1e-12) }
    // zero vector: scale 0, all-zero codes — no division blowup
    assert(rows(1)._2 == 0.0 && rows(1)._3 == Seq(0, 0, 0, 0))
  }

  test("quantizedTopK recall vs exact float top-k (the q127 tripwire)") {
    // the q91-pattern gate for the quantized path: deterministic vectors,
    // fixed recall; a silent quantization/ranking collapse fails here
    val emb = (0L until 200L).map(i =>
      (i, Seq.tabulate(16)(j => (((i * 37 + j * 13) % 991).toFloat / 991f) - 0.5f)))
      .toDF("vec_id", "embedding")
    val queries = emb.filter($"vec_id" < 10)
    val exact = Similarity.bruteForceTopK(emb, queries, 5)
    val quant = Similarity.quantizedTopK(emb, queries, 5)
    val recall = Similarity.recallAtK(quant, exact)
      .agg(avg($"recall")).as[Double].collect()(0)
    assert(recall >= 0.9,
      s"quantized recall $recall under the 0.9 contract")
    // negative control: garbage neighbors must score 0, not pass
    val broken = quant.withColumn("neighbor_id", $"neighbor_id" + 1000000L)
    val brokenRecall = Similarity.recallAtK(broken, exact)
      .agg(avg($"recall")).as[Double].collect()(0)
    assert(brokenRecall == 0.0)
  }

  test("ivfTopKQuantized at the q136 gate parameters: recall@5 >= 0.9, " +
      "negative control trips") {
    // The quantized-IVF composition loses recall through BOTH the probe
    // miss and code-rounding rank noise; this pins the compounded loss
    // at the gate's exact configuration (C=16, nprobe=6, 2 Lloyd
    // sweeps, k=5) against the exact FLOAT brute force — the strictest
    // available ground truth.  Deterministic data + deterministic
    // algorithm = a fixed recall; a silent collapse in either stage
    // fails here, not at the rows-only driver gate.
    val emb = (0L until 200L).map(i =>
      (i, Seq.tabulate(16)(j => (((i * 37 + j * 13) % 991).toFloat / 991f) - 0.5f)))
      .toDF("vec_id", "embedding")
    val queries = emb.filter($"vec_id" < 10)
    val exact = Similarity.bruteForceTopK(emb, queries, 5)
    val approx = Similarity.ivfTopKQuantized(emb, queries, 5,
      numCentroids = 16, nprobe = 6, kmeansIterations = 2)
    val recall = Similarity.recallAtK(approx, exact)
      .agg(avg($"recall")).as[Double].collect()(0)
    assert(recall >= 0.9,
      s"quantized-IVF mean recall $recall under the 0.9 contract")
    val broken = approx.withColumn("neighbor_id", $"neighbor_id" + 1000000L)
    val brokenRecall = Similarity.recallAtK(broken, exact)
      .agg(avg($"recall")).as[Double].collect()(0)
    assert(brokenRecall == 0.0,
      s"corrupted results scored $brokenRecall — the tripwire is dead")
  }

  test("ivfTopKQuantized: shape contract and zero-norm exclusion") {
    val emb = ((0L until 40L).map(i =>
        (i, Seq.tabulate(8)(j => (((i * 31 + j * 7) % 97).toFloat / 97f) - 0.4f))) :+
      (99L, Seq.fill(8)(0f))).toDF("vec_id", "embedding")
    val queries = emb.filter($"vec_id" < 3 || $"vec_id" === 99L)
    val out = Similarity.ivfTopKQuantized(emb, queries, 4,
        numCentroids = 8, nprobe = 8)
      .select("query_id", "neighbor_id", "rank")
      .as[(Long, Long, Int)].collect()
    val byQ = out.groupBy(_._1)
    // zero-norm query returns no rows; zero-norm corpus row never a
    // neighbor (quantizedTopK's contract, inherited)
    assert(byQ.keySet == Set(0L, 1L, 2L))
    assert(!out.exists(_._2 == 99L), "zero vector ranked as a neighbor")
    byQ.values.foreach { rows =>
      assert(rows.map(_._3).sorted.toSeq == (1 to rows.length))
      assert(rows.length == 4)
    }
    assert(out.forall(r => r._1 != r._2))
  }

  test("quantizedTopK: zero-norm vectors are excluded, not NaN-ranked first") {
    // ADVICE r8: a zero vector quantizes to (scale 0, all-zero codes),
    // its cosine is 0/0 = NaN, and the heap ranks NaN first — it must
    // never appear as a neighbor, and a zero-norm query yields no rows
    val emb = ((0L until 20L).map(i =>
        (i, Seq.tabulate(8)(j => (((i * 31 + j * 7) % 97).toFloat / 97f) - 0.4f))) :+
      (99L, Seq.fill(8)(0f))).toDF("vec_id", "embedding")
    val queries = emb.filter($"vec_id" < 2 || $"vec_id" === 99L)
    val out = Similarity.quantizedTopK(emb, queries, 3)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
    assert(!out.exists(_._2 == 99L), "zero vector ranked as a neighbor")
    assert(!out.exists(_._1 == 99L), "zero-norm query must return no rows")
    assert(out.count(_._1 == 0L) == 3 && out.count(_._1 == 1L) == 3)
  }

  test("centroid init excludes zero-norm vectors (ADVICE r13): a zero vector " +
      "among the lowest ids must not collapse the inverted lists") {
    // Before the fix, id 0's zero vector became a centroid, its cosine
    // to everything was NaN, NaN sorted first under desc, and EVERY
    // vector was assigned to that one list — the index silently
    // degenerated to a brute-force scan. The planted-cluster recovery
    // below fails in that world (one list, nprobe=1 still works — so
    // the sharper assertion is on the index shape itself).
    val emb = ((0L, Seq.fill(8)(0f)) +: (1L to 40L).map { i =>
      val axis = (i % 4).toInt
      (i, Seq.tabulate(8)(j =>
        (if (j == axis * 2) 10f else 0f) + ((i * 13 + j) % 5) * 0.1f))
    }).toDF("vec_id", "embedding")
    val index = Similarity.buildIvfIndex(emb, numCentroids = 4,
      kmeansIterations = 3)
    // no centroid is the zero vector, and the lists did not collapse
    val cents = index.centroids.collect()
    assert(cents.length == 4)
    // after Lloyd refinement centroid vectors are array<double>
    cents.foreach { r =>
      assert(r.getSeq[Double](1).exists(_ != 0.0),
        s"zero-vector centroid: $r") }
    val listSizes = index.lists.groupBy($"cid").count()
      .as[(Long, Long)].collect().toMap
    assert(listSizes.size == 4,
      s"lists collapsed: ${listSizes.size} non-empty of 4")
    // and cluster recovery still holds end-to-end at nprobe=1
    val out = Similarity.ivfTopK(emb, emb.filter($"vec_id".between(1, 4)), 5,
        numCentroids = 4, nprobe = 1, kmeansIterations = 3)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
    out.foreach { case (q, n) => assert(n % 4 == q % 4 && n != 0L,
      s"neighbor $n not in query $q's cluster") }
  }

  test("stored IVF index: write/read round-trip probes identically and " +
      "prunes to exactly the probed cid partitions") {
    val emb = (0L until 60L).map(i =>
      (i, Seq.tabulate(8)(j => (((i * 31 + j * 7) % 97).toFloat / 97f) - 0.4f)))
      .toDF("vec_id", "embedding")
    val queries = emb.filter($"vec_id" < 3)
    val index = Similarity.buildIvfIndex(emb, numCentroids = 8,
      kmeansIterations = 1)
    val inMem = Similarity.probeIvfQuantized(index, queries, 4, nprobe = 2)
      .as[(Long, Long, Int, Double)].collect().toSet
    assert(inMem.nonEmpty)

    val dir = java.nio.file.Files.createTempDirectory("graft_ivf").toString
    Similarity.writeIvfIndex(index, dir)
    val stored = Similarity.readIvfIndex(spark, dir)
    // AQE wraps the executed plan in AdaptiveSparkPlanExec and hides the
    // scans from collect (LayoutSpec's known caveat) — disable it here;
    // the STATIC partition pruning under test doesn't depend on it.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
    val probed = Similarity.probeIvfQuantized(stored, queries, 4, nprobe = 2)
    assert(probed.as[(Long, Long, Int, Double)].collect().toSet == inMem,
      "stored-index probe must reproduce the in-memory probe exactly")

    // The production claim, asserted on the PLAN: the lists scan carries
    // a partition filter and reads only the probed cid directories —
    // unprobed lists cost zero I/O.
    val totalCids = stored.lists.select($"cid").distinct().count()
    val scans = probed.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec
          if s.metadata("Location").contains("/lists") => s
    }
    assert(scans.nonEmpty, "expected a FileSourceScan over the lists table")
    val scan = scans.head
    assert(scan.partitionFilters.exists(_.toString.contains("cid")),
      s"lists scan must carry a cid partition filter: ${scan.partitionFilters}")
    assert(totalCids >= 7, s"fixture sanity: $totalCids non-empty lists")
    val readPartitions = scan.selectedPartitions.partitionCount
    assert(readPartitions < totalCids,
      s"probe read $readPartitions of $totalCids partitions — no pruning")
    // 3 queries × nprobe 2 touch at most 6 distinct lists (dedup'd)
    assert(readPartitions <= 6 && readPartitions >= 1,
      s"probe read $readPartitions partitions")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("probeIvfQuantized: an empty effective query set (all zero-norm) " +
      "returns an empty frame, not a crash on the empty cid filter") {
    val emb = (0L until 20L).map(i =>
      (i, Seq.tabulate(8)(j => (((i * 31 + j * 7) % 97).toFloat / 97f) - 0.4f)))
      .toDF("vec_id", "embedding")
    val index = Similarity.buildIvfIndex(emb, numCentroids = 4)
    val zeroQueries = Seq((99L, Seq.fill(8)(0f))).toDF("vec_id", "embedding")
    assert(Similarity.probeIvfQuantized(index, zeroQueries, 3).count() == 0)
    assert(Similarity.probeIvfQuantized(index,
      emb.filter($"vec_id" < 0), 3).count() == 0)
  }

  test("q137's recall-gate artifact is identical over a stored index " +
      "(build-once/probe-many re-expression of the q136 configuration)") {
    // The q136 gate fixture and parameters (C=16, nprobe=6, 2 Lloyd
    // sweeps, k=5, 10 queries), probed twice: in-memory composition vs
    // written-and-reopened index. The per-query recall frames must be
    // IDENTICAL — the production split changes storage, not retrieval.
    val emb = (0L until 200L).map(i =>
      (i, Seq.tabulate(16)(j => (((i * 37 + j * 13) % 991).toFloat / 991f) - 0.5f)))
      .toDF("vec_id", "embedding")
    val queries = emb.filter($"vec_id" < 10)
    val exact = Similarity.bruteForceTopK(emb, queries, 5)
    val index = Similarity.buildIvfIndex(emb, numCentroids = 16,
      kmeansIterations = 2)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_gate").toString
    Similarity.writeIvfIndex(index, dir)
    val stored = Similarity.readIvfIndex(spark, dir)
    val inMemRecall = Similarity.recallAtK(
        Similarity.probeIvfQuantized(index, queries, 5, nprobe = 6), exact)
      .as[(Long, Long, Long, Double)].collect().toSet
    val storedRecall = Similarity.recallAtK(
        Similarity.probeIvfQuantized(stored, queries, 5, nprobe = 6), exact)
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(storedRecall == inMemRecall,
      "stored-index recall artifact must equal the in-memory one")
    val mean = storedRecall.toSeq.map(_._4).sum / storedRecall.size
    assert(mean >= 0.9, s"stored-index mean recall $mean under the contract")
  }

  test("mediaNearDupPairs ≡ exact all-pairs on planted synthetic media " +
      "(full recall), and the recall gate trips on corrupted pairs") {
    // The q138/q139 contract without the harness: diverse synthetic
    // payloads (id-specific byte distributions), every 10th planted
    // again with 2 bytes appended (centered cosine >= ~0.998 measured;
    // background tops out ~0.5 at dims=64) — at these margins the LSH
    // output must EQUAL the exact all-pairs ground truth.
    val ids = (0L until 200L).toDF("doc_id")
    val base = Multimodal.syntheticMedia(ids)
    val planted = base.filter($"doc_id" % 10 === 0)
      .select(($"doc_id" + 300000).as("doc_id"),
        concat($"media", lit(Array(0x41.toByte, 0x41.toByte))).as("media"),
        $"format")
    val all = base.unionByName(planted)
    val exact = Similarity.mediaNearDupExact(all, 0.9)
      .as[(Long, Long, Double)].collect().toSet
    val lsh = Similarity.mediaNearDupPairs(all, 0.9)
    val lshSet = lsh.as[(Long, Long, Double)].collect().toSet
    assert(exact.size >= 20, s"planted pairs must clear the threshold")
    assert(lshSet == exact, s"LSH missed ${(exact -- lshSet).mkString(",")}")
    // every planted (base, base+300000) pair is found
    (0L until 200L by 10).foreach { i =>
      assert(lshSet.exists(p => p._1 == i && p._2 == i + 300000),
        s"planted pair ($i, ${i + 300000}) missed") }
    // the q139 artifact on the same frames: full recall, and the
    // measurement is alive (corrupted pairs score 0)
    val gate = Similarity.pairRecall(lsh, Similarity.mediaNearDupExact(all, 0.9))
      .as[(Long, Long, Long, Double)].collect()(0)
    assert(gate._1 == exact.size && gate._3 == exact.size && gate._4 == 1.0)
    val corrupt = lsh.withColumn("doc_b", $"doc_b" + 9999999L)
    val broken = Similarity.pairRecall(corrupt,
        Similarity.mediaNearDupExact(all, 0.9))
      .as[(Long, Long, Long, Double)].collect()(0)
    assert(broken._4 == 0.0,
      s"corrupted pairs scored ${broken._4} — the tripwire is dead")
  }

  test("appendToIvfIndex: old lists untouched, batch assigned as a " +
      "fixed-centroid rebuild would, q140 gate recall >= 0.9") {
    val emb = (0L until 200L).map(i =>
      (i, Seq.tabulate(16)(j => (((i * 37 + j * 13) % 991).toFloat / 991f) - 0.5f)))
      .toDF("vec_id", "embedding")
    val base = emb.filter($"vec_id" % 5 =!= 4)
    val batch = emb.filter($"vec_id" % 5 === 4)
    val index = Similarity.buildIvfIndex(base, numCentroids = 16,
      kmeansIterations = 2)
    val appended = Similarity.appendToIvfIndex(index, batch)
    // centroids frozen
    assert(appended.centroids.collect().toSet == index.centroids.collect().toSet)
    def entries(df: org.apache.spark.sql.DataFrame)
        : Set[(Long, Long, Double, Seq[Int], Double)] =
      df.select($"cid", $"neighbor_id", $"scale", $"codes", $"norm")
        .as[(Long, Long, Double, Seq[Int], Double)].collect().toSet
    val old = entries(index.lists)
    val app = entries(appended.lists)
    // every old entry survives bit-identically; the new entries are
    // exactly the batch, and their count matches (no drops, no dups)
    assert(old.subsetOf(app), "append must not touch existing lists")
    val newIds = (app -- old).map(_._2)
    assert(newIds == batch.select($"vec_id").as[Long].collect().toSet)
    // equivalence: an append is a fixed-centroid rebuild of the union —
    // independently reconstructed by re-assigning the UNION under the
    // frozen centroid set via a second append onto an empty-list index
    val emptyIndex = graft.operators.IvfIndex(index.centroids,
      index.lists.filter(lit(false)))
    assert(entries(Similarity.appendToIvfIndex(emptyIndex, emb).lists) == app,
      "append must equal the fixed-centroid assignment of the union")
    // and the q140 artifact holds its contract on the appended index
    val q = emb.filter($"vec_id" < 10)
    // nprobe = 10, the q140 gate's operating point (frozen centroids
    // cost probe width — see the query comment)
    val recall = Similarity.recallAtK(
        Similarity.probeIvfQuantized(appended, q, 5, nprobe = 10),
        Similarity.bruteForceTopK(emb, q, 5))
      .agg(avg($"recall")).as[Double].collect()(0)
    assert(recall >= 0.9,
      s"appended-index mean recall $recall under the 0.9 contract")
    // negative control: probing an index that never saw the batch must
    // lose the planted batch neighbors the full probe finds
    val staleRecall = Similarity.recallAtK(
        Similarity.probeIvfQuantized(index, q, 5, nprobe = 10),
        Similarity.bruteForceTopK(emb, q, 5))
      .agg(avg($"recall")).as[Double].collect()(0)
    assert(staleRecall < recall,
      s"stale index scored $staleRecall >= appended $recall — the batch " +
        "vectors are not reachable, so the measurement should see the gap")
  }

  test("compactIvfIndex: build -> append x3 -> compact recovers fresh-build " +
      "recall; skip-compact negative control strictly lower; stored round-trip") {
    // The decay geometry the frozen quantizer cannot see: base = 8 axis
    // clusters; the appends deliver a dense 120-vector blob at the
    // MIDPOINT of clusters 0 and 1 — a new mode sitting exactly on a
    // frozen decision boundary, so its members split between the two
    // lists by jitter and a blob query at nprobe=1 misses the neighbors
    // across the split (drifted recall 0.927, measured). Compaction
    // re-Lloyds from the stored lists alone (no corpus re-read), the
    // heavy blob pulls centroids onto itself, and recall recovers to
    // the fresh-build value (0.953). Deterministic end to end.
    def jit(i: Long, j: Int, s: Double) =
      ((((i * 37 + j * 13) % 991) / 991.0 - 0.5) * s).toFloat
    val baseRows = (0L until 96L).map { i =>
      val axis = (i % 8).toInt
      (i, Seq.tabulate(16)(j =>
        (if (j == axis * 2) 10f else 0f) + jit(i, j, 1.0)))
    }
    val blobRows = (100L until 220L).map { i =>
      (i, Seq.tabulate(16)(j =>
        (if (j == 0 || j == 2) 5f else 0f) + jit(i, j, 1.5)))
    }
    val emb = (baseRows ++ blobRows).toDF("vec_id", "embedding")
    val baseDf = emb.filter($"vec_id" < 96)
    val batches = Seq(
      emb.filter($"vec_id" >= 100 && $"vec_id" < 140),
      emb.filter($"vec_id" >= 140 && $"vec_id" < 180),
      emb.filter($"vec_id" >= 180))
    val drifted = batches.foldLeft(
      Similarity.buildIvfIndex(baseDf, numCentroids = 8, kmeansIterations = 2))(
      (ix, b) => Similarity.appendToIvfIndex(ix, b))
    val compacted = Similarity.compactIvfIndex(drifted, iterations = 2)
    val q = emb.filter($"vec_id" >= 100 && $"vec_id" < 130)
    val exact = Similarity.bruteForceTopK(emb, q, 5)
    def recall(ix: graft.operators.IvfIndex, nprobe: Int): Double =
      Similarity.recallAtK(Similarity.probeIvfQuantized(ix, q, 5, nprobe), exact)
        .agg(avg($"recall")).as[Double].collect()(0)
    val fresh = recall(Similarity.buildIvfIndex(emb, numCentroids = 8,
      kmeansIterations = 2), 1)
    val driftedR = recall(drifted, 1)
    val compactR = recall(compacted, 1)
    assert(compactR >= fresh,
      s"compacted recall $compactR under fresh-build recall $fresh")
    assert(driftedR < compactR,
      s"skip-compact control: drifted $driftedR not strictly below " +
        s"compacted $compactR — compaction bought nothing on this fixture")
    // entries move between lists but are never re-quantized: the
    // (id, scale, codes, norm) payload survives bit-identically
    def payloads(ix: graft.operators.IvfIndex) =
      ix.lists.select($"neighbor_id", $"scale", $"codes", $"norm")
        .as[(Long, Double, Seq[Int], Double)].collect().toSet
    assert(payloads(compacted) == payloads(drifted),
      "compaction must relabel, not requantize")
    // stored round-trip: the compacted index probes identically after
    // write/read (the established stored-index contract)
    val dir = java.nio.file.Files.createTempDirectory("graft_compact").toString
    Similarity.writeIvfIndex(compacted, dir)
    val inMem = Similarity.probeIvfQuantized(compacted, q, 5, nprobe = 4)
      .as[(Long, Long, Int, Double)].collect().toSet
    val stored = Similarity.probeIvfQuantized(
        Similarity.readIvfIndex(spark, dir), q, 5, nprobe = 4)
      .as[(Long, Long, Int, Double)].collect().toSet
    assert(stored == inMem)
  }

  test("maintainIvfIndex (VERDICT r15 #7): the decayed fixture triggers " +
      "compaction and recovers past the floor; the fresh fixture appends " +
      "without compacting") {
    // the compact test's decay geometry: 8 axis clusters + a dense blob
    // on a frozen decision boundary, delivered as an append
    def jit(i: Long, j: Int, s: Double) =
      ((((i * 37 + j * 13) % 991) / 991.0 - 0.5) * s).toFloat
    val baseRows = (0L until 96L).map { i =>
      val axis = (i % 8).toInt
      (i, Seq.tabulate(16)(j =>
        (if (j == axis * 2) 10f else 0f) + jit(i, j, 1.0)))
    }
    val blobRows = (100L until 220L).map { i =>
      (i, Seq.tabulate(16)(j =>
        (if (j == 0 || j == 2) 5f else 0f) + jit(i, j, 1.5)))
    }
    val baseDf = baseRows.toDF("vec_id", "embedding")
    val blob = blobRows.toDF("vec_id", "embedding")
    val blobProbes = blob.filter($"vec_id" < 130)

    // decayed path: base index + the whole blob arrives as one batch;
    // probing the blob at nprobe=1 must fall under the floor -> compact
    val dir1 = java.nio.file.Files.createTempDirectory("graft_maint1").toString
    Similarity.writeIvfIndex(Similarity.buildIvfIndex(baseDf,
      numCentroids = 8, kmeansIterations = 2), dir1)
    val decayed = Similarity.maintainIvfIndex(spark, dir1, blob, blobProbes,
      recallFloor = 0.95)
    assert(decayed.appended == 120L)
    assert(decayed.compacted,
      s"recall ${decayed.recallBefore} should be under the 0.95 floor")
    assert(decayed.recallAfter > decayed.recallBefore &&
      decayed.recallAfter >= 0.95,
      s"post-maintenance recall ${decayed.recallAfter} must clear the floor")
    // and the compacted index is what is now STORED
    val storedRecall = {
      val ix = Similarity.readIvfIndex(spark, dir1)
      val recon = ix.lists.select($"neighbor_id".as("vec_id"),
        transform($"codes", c => c.cast("double") * $"scale").as("embedding"))
      Similarity.recallAtK(
          Similarity.probeIvfQuantized(ix, blobProbes, 5, nprobe = 1),
          Similarity.bruteForceTopK(recon, blobProbes, 5))
        .agg(avg($"recall")).as[Double].collect()(0)
    }
    assert(math.abs(storedRecall - decayed.recallAfter) < 1e-9,
      "report.recallAfter must describe the stored index")

    // fresh path: an append that matches the frozen cluster structure
    // (more axis members) decays nothing -> no compaction, report echoes
    // the measured recall on both sides
    val dir2 = java.nio.file.Files.createTempDirectory("graft_maint2").toString
    Similarity.writeIvfIndex(Similarity.buildIvfIndex(baseDf,
      numCentroids = 8, kmeansIterations = 2), dir2)
    val moreAxis = (300L until 340L).map { i =>
      val axis = (i % 8).toInt
      (i, Seq.tabulate(16)(j =>
        (if (j == axis * 2) 10f else 0f) + jit(i, j, 1.0)))
    }.toDF("vec_id", "embedding")
    val axisProbes = baseDf.filter($"vec_id" < 20)
    val fresh = Similarity.maintainIvfIndex(spark, dir2, moreAxis, axisProbes,
      recallFloor = 0.95)
    assert(!fresh.compacted,
      s"fresh-append recall ${fresh.recallBefore} wrongly triggered compaction")
    assert(fresh.recallAfter == fresh.recallBefore)
  }

  test("compactIvfIndex: duplicate list ids (double-append) fail loudly " +
      "instead of silently collapsing (ADVICE r15)") {
    val emb = (0L until 40L).map(i =>
      (i, Seq.tabulate(8)(j => (((i * 31 + j * 7) % 97).toFloat / 97f) - 0.4f)))
      .toDF("vec_id", "embedding")
    val base = emb.filter($"vec_id" < 30)
    val batch = emb.filter($"vec_id" >= 30)
    val index = Similarity.buildIvfIndex(base, numCentroids = 4,
      kmeansIterations = 1)
    // the un-guarded hazard: the same batch appended twice
    val doubled = Similarity.appendToIvfIndex(
      Similarity.appendToIvfIndex(index, batch), batch)
    val e = intercept[Exception] {
      Similarity.compactIvfIndex(doubled, iterations = 1).lists
        .write.format("noop").mode("overwrite").save()
    }
    val messages = Iterator.iterate(e: Throwable)(_.getCause)
      .takeWhile(_ != null).map(t => Option(t.getMessage).getOrElse(""))
      .mkString(" | ")
    assert(messages.contains("duplicate neighbor_id"),
      s"expected the duplicate-id guard, got: $messages")
    // and the clean single-append index compacts fine through the guard
    Similarity.compactIvfIndex(Similarity.appendToIvfIndex(index, batch),
      iterations = 1).lists.write.format("noop").mode("overwrite").save()
  }

  test("appendToStoredIvfIndex: hive-appends only the batch; read-back " +
      "probes like the in-memory append") {
    val emb = (0L until 100L).map(i =>
      (i, Seq.tabulate(8)(j => (((i * 31 + j * 7) % 97).toFloat / 97f) - 0.4f)))
      .toDF("vec_id", "embedding")
    val base = emb.filter($"vec_id" % 5 =!= 4)
    val batch = emb.filter($"vec_id" % 5 === 4)
    val index = Similarity.buildIvfIndex(base, numCentroids = 8,
      kmeansIterations = 1)
    val dir = java.nio.file.Files.createTempDirectory("graft_sappend").toString
    Similarity.writeIvfIndex(index, dir)
    val before = new java.io.File(s"$dir/lists").listFiles()
      .filter(_.getName.startsWith("cid=")).flatMap(_.listFiles()).map(_.getPath).toSet
    Similarity.appendToStoredIvfIndex(spark, dir, batch)
    val after = new java.io.File(s"$dir/lists").listFiles()
      .filter(_.getName.startsWith("cid=")).flatMap(_.listFiles()).map(_.getPath).toSet
    // append-mode: every pre-existing list file is still there untouched
    assert(before.subsetOf(after), "stored append rewrote existing list files")
    assert(after.size > before.size, "stored append wrote no new files")
    val q = emb.filter($"vec_id" < 5)
    val viaStore = Similarity.probeIvfQuantized(
        Similarity.readIvfIndex(spark, dir), q, 4, nprobe = 3)
      .as[(Long, Long, Int, Double)].collect().toSet
    val viaMem = Similarity.probeIvfQuantized(
        Similarity.appendToIvfIndex(index, batch), q, 4, nprobe = 3)
      .as[(Long, Long, Int, Double)].collect().toSet
    assert(viaStore == viaMem,
      "stored-append probe must reproduce the in-memory append probe")
  }

  test("mediaDedup: transitive payload groups collapse to one kept representative") {
    // group A = {0, 1000, 2000} (payload 0 with 2 and 4 bytes appended —
    // 1000/2000 are near-dups of 0 and of each other), group B =
    // {7, 1007}; everything else singleton — the semanticDedup spec's
    // shape, media edition.
    val ids = (0L until 60L).toDF("doc_id")
    val base = Multimodal.syntheticMedia(ids)
    def shifted(src: Long, newId: Long, extra: Int) =
      base.filter($"doc_id" === src)
        .select(lit(newId).as("doc_id"),
          concat($"media", lit(Array.fill(extra)(0x41.toByte))).as("media"),
          $"format")
    val all = base.unionByName(shifted(0L, 1000L, 2))
      .unionByName(shifted(0L, 2000L, 4))
      .unionByName(shifted(7L, 1007L, 2))
    val out = Similarity.mediaDedup(all, 0.9)
      .as[(Long, Long, Boolean)].collect()
    val canon = out.map(t => t._1 -> t._2).toMap
    assert(canon(0L) == 0L && canon(1000L) == 0L && canon(2000L) == 0L)
    assert(canon(7L) == 7L && canon(1007L) == 7L)
    assert(canon(13L) == 13L, "singletons map to themselves")
    assert(out.count(!_._3) == 3,
      s"exactly the 3 shifted payloads drop: ${out.filterNot(_._3).mkString(",")}")
    assert(out.length == 63)
  }

  test("pairRecall: counts, partial overlap, and the empty-exact convention") {
    val exact = Seq((1L, 2L), (3L, 4L), (5L, 6L)).toDF("doc_a", "doc_b")
    val approx = Seq((1L, 2L), (5L, 6L), (7L, 8L)).toDF("doc_a", "doc_b")
    val r = Similarity.pairRecall(approx, exact)
      .as[(Long, Long, Long, Double)].collect()(0)
    assert(r == ((3L, 3L, 2L, 0.6667)))
    val empty = Similarity.pairRecall(approx, exact.filter($"doc_a" < 0))
      .as[(Long, Long, Long, Double)].collect()(0)
    assert(empty._1 == 0L && empty._4 == 1.0,
      "empty exact set means nothing to find -> recall 1.0")
  }
}

class AsOfJoinSpec extends SparkSpec {
  import spark.implicits._

  test("asOfBackward: most recent build row, inclusive boundary, null when none") {
    val probe = Seq((1L, 10L, "p10"), (1L, 20L, "p20"), (1L, 4L, "p4"),
      (2L, 50L, "q50")).toDF("k", "t", "tag")
    val build = Seq((1L, 5L, "b5"), (1L, 20L, "b20"), (3L, 1L, "b1"))
      .toDF("k", "t", "v")
    val out = AsOfJoin.asOfBackward(probe, build, "k", "t", Seq("v"))
      .select("tag", "v").as[(String, Option[String])].collect().toMap
    assert(out("p4").isEmpty)          // no build row at or before t=4
    assert(out("p10").contains("b5"))  // 5 <= 10, most recent
    assert(out("p20").contains("b20")) // equal time is INCLUSIVE
    assert(out("q50").isEmpty)         // key 2 has no build rows at all
  }

  test("asOfBackwardWithin: stale matches null out; MaxValue tolerance ≡ asOfBackward") {
    val probe = Seq((1L, 90L, "early"), (1L, 150L, "fresh"), (1L, 200L, "stale"),
      (2L, 50L, "nokey")).toDF("k", "t", "tag")
    val build = Seq((1L, 100L, "b100"), (3L, 1L, "b1")).toDF("k", "t", "v")
    val out = AsOfJoin.asOfBackwardWithin(probe, build, "k", "t", Seq("v"),
        tolerance = 60L)
      .select("tag", "v").as[(String, Option[String])].collect().toMap
    assert(out("early").isEmpty)           // no prior build row
    assert(out("fresh").contains("b100"))  // 150-100 = 50 <= 60
    assert(out("stale").isEmpty)           // 200-100 = 100 > 60 -> nulled
    assert(out("nokey").isEmpty)
    // unbounded tolerance degenerates to the plain backward as-of
    val unbounded = AsOfJoin.asOfBackwardWithin(probe, build, "k", "t",
        Seq("v"), tolerance = Long.MaxValue)
      .select("tag", "v").as[(String, Option[String])].collect().toSet
    val plain = AsOfJoin.asOfBackward(probe, build, "k", "t", Seq("v"))
      .select("tag", "v").as[(String, Option[String])].collect().toSet
    assert(unbounded == plain)
    // same single-shuffle, join-free plan as the plain form
    val plan = AsOfJoin.asOfBackwardWithin(probe, build, "k", "t", Seq("v"), 60L)
      .queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(plan).length == 1)
    assert(!plan.contains("Join"))
  }

  test("asOfBackward plan: ONE shuffle, no join") {
    // the whole point vs the range-join/correlated formulations: union +
    // one keyed window — a single hashpartitioning exchange, no
    // BroadcastNestedLoop/Cartesian anywhere
    val probe = Seq((1L, 10L, "p")).toDF("k", "t", "tag")
    val build = Seq((1L, 5L, "b")).toDF("k", "t", "v")
    val plan = AsOfJoin.asOfBackward(probe, build, "k", "t", Seq("v"))
      .queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(plan).length == 1,
      s"expected exactly one shuffle:\n$plan")
    assert(!plan.contains("Join"), s"as-of must not plan a join:\n$plan")
  }

  test("asOfBackward: null build times never fabricate a match") {
    // a null-time build row sorts first ascending — unfiltered it would
    // attach its payload to EVERY probe row of the key
    val probe = Seq((1L, 10L, "p10")).toDF("k", "t", "tag")
    val build = Seq((1L, Option.empty[Long], "poison"),
      (1L, Some(4L), "b4")).toDF("k", "t", "v")
    val out = AsOfJoin.asOfBackward(probe, build, "k", "t", Seq("v"))
      .select("tag", "v").as[(String, Option[String])].collect().toMap
    assert(out("p10").contains("b4"))
    // and with ONLY the null-time row, the probe gets no match at all
    val onlyNull = Seq((1L, Option.empty[Long], "poison")).toDF("k", "t", "v")
    val out2 = AsOfJoin.asOfBackward(probe, onlyNull, "k", "t", Seq("v"))
      .select("tag", "v").as[(String, Option[String])].collect().toMap
    assert(out2("p10").isEmpty)
  }

  test("asOfBackward: payload name collision rejected") {
    val df = Seq((1L, 1L, "x")).toDF("k", "t", "v")
    intercept[IllegalArgumentException] {
      AsOfJoin.asOfBackward(df, df, "k", "t", Seq("v"))
    }
  }
}

class RangeJoinSpec extends SparkSpec {
  import spark.implicits._

  test("pointInInterval: containment-exact, boundaries inclusive, multi-bucket intervals") {
    val points = Seq((1L, 5L), (2L, 10L), (3L, 25L), (4L, 31L), (5L, 99L))
      .toDF("pid", "p")
    // iv1 [0,10] spans buckets 0-1 at bucketSize=10; iv2 [10,30] buckets
    // 1-3; iv3 [50,60] matches nothing
    val intervals = Seq((10L, 0L, 10L), (20L, 10L, 30L), (30L, 50L, 60L))
      .toDF("iid", "s", "e")
    val out = RangeJoin.pointInInterval(points, intervals, "p", "s", "e", 10L)
      .select("pid", "iid").as[(Long, Long)].collect().toSet
    assert(out == Set(
      (1L, 10L),            // 5 in [0,10]
      (2L, 10L), (2L, 20L), // 10 = both ends — inclusive both sides
      (3L, 20L)))           // 25 in [10,30]; 31 and 99 match nothing
  }

  test("pointInInterval: exact at nanosecond magnitudes (beyond double's 2^53)") {
    // ~1.7e18 axis values: double bucket division rounds by ~hundreds,
    // which can misplace a point's bucket relative to its interval's
    // replication range — integer floor-div must keep this exact
    val base = 1700000000000000000L
    val points = Seq((1L, base + 999L), (2L, base + 1000L), (3L, base - 1L))
      .toDF("pid", "p")
    val intervals = Seq((10L, base, base + 999L)).toDF("iid", "s", "e")
    val out = RangeJoin
      .pointInInterval(points, intervals, "p", "s", "e", 1000L)
      .select("pid", "iid").as[(Long, Long)].collect().toSet
    assert(out == Set((1L, 10L)),
      s"inclusive [base, base+999] must catch exactly pid=1, got $out")
  }

  test("pointInInterval ≡ brute-force inequality join on random data") {
    val rnd = new java.util.Random(7L)
    val points = (0L until 300L).map(i => (i, rnd.nextInt(1000).toLong))
      .toDF("pid", "p")
    val intervals = (0L until 80L).map { i =>
      val s = rnd.nextInt(950).toLong
      (i, s, s + rnd.nextInt(120).toLong)
    }.toDF("iid", "s", "e")
    val bucketed = RangeJoin
      .pointInInterval(points, intervals, "p", "s", "e", 64L)
      .select("pid", "iid").as[(Long, Long)].collect().toSet
    val brute = points.join(intervals, $"p" >= $"s" && $"p" <= $"e")
      .select("pid", "iid").as[(Long, Long)].collect().toSet
    assert(bucketed == brute)
  }
}

class SamplingSpec extends SparkSpec {
  import spark.implicits._

  test("deterministicSplit: exhaustive, reproducible, append-stable, ~proportional") {
    val ids = (0L until 2000L).toDF("id")
    val once = Sampling.deterministicSplit(ids, "id")
      .select("id", "split").as[(Long, String)].collect().toMap
    assert(once.size == 2000)
    // reproducible: a second run and a half-corpus run agree row-by-row
    val again = Sampling.deterministicSplit(ids.filter($"id" < 1000L), "id")
      .select("id", "split").as[(Long, String)].collect().toMap
    again.foreach { case (id, s) => assert(once(id) == s) }
    // roughly proportional (md5 is uniform; 2000 draws, generous bounds)
    val frac = once.values.groupBy(identity).view.mapValues(_.size / 2000.0)
    assert(frac("train") > 0.85 && frac("train") < 0.95)
    assert(frac("val") > 0.02 && frac("val") < 0.08)
    assert(frac("test") > 0.02 && frac("test") < 0.08)
  }

  test("deterministicSplit: percents must sum to 100") {
    intercept[IllegalArgumentException] {
      Sampling.deterministicSplit(Seq(1L).toDF("id"),
        "id", Seq("a" -> 50, "b" -> 40))
    }
  }

  test("bucketBatches: bucket bound caps pad waste, batches bounded and " +
      "contiguous, reproducible, null/negative excluded") {
    // lengths spread over many buckets + a planted null and negative
    val docs = ((0L until 900L).map(i => (i, Some(((i * 131) % 700).toInt)))
      ++ Seq((990L, None: Option[Int]), (991L, Some(-3)))).toDF("doc_id", "n")
    val out = Sampling.bucketBatches(docs, "n", bucketWidth = 64,
        batchSize = 8, shards = 4)
      .select("doc_id", "n_tokens", "bucket", "shard", "batch_idx",
        "pos_in_batch", "padded_to", "pad_waste")
      .as[(Long, Long, Long, Int, Int, Int, Long, Long)].collect()
    assert(out.length == 900, "null/negative token rows must be excluded")
    // the whole point: padding waste is bounded by the bucket width,
    // never by the corpus max length (which is ~700 here)
    assert(out.forall(_._8 < 64), s"pad_waste >= bucketWidth: ${
      out.filter(_._8 >= 64).take(3).toSeq}")
    out.foreach { r =>
      // bucket = ceil(n / 64); padded_to is the batch max
      assert(r._3 == (r._2 + 63) / 64, r.toString)
      assert(r._7 >= r._2 && r._8 == r._7 - r._2, r.toString)
    }
    // batches: <= batchSize members, pos contiguous from 0, one padded_to
    out.groupBy(r => (r._3, r._4, r._5)).foreach { case (cell, rows) =>
      assert(rows.length <= 8, s"batch $cell oversize")
      assert(rows.map(_._6).sorted.toSeq == (0 until rows.length),
        s"batch $cell pos not contiguous")
      assert(rows.map(_._7).distinct.length == 1)
      assert(rows.map(_._7).head == rows.map(_._2).max)
    }
    // reproducible: batch coordinates are a pure function of the ids
    val again = Sampling.bucketBatches(docs, "n", 64, 8, 4)
      .select("doc_id", "bucket", "shard", "batch_idx", "pos_in_batch")
      .as[(Long, Long, Int, Int, Int)].collect().toSet
    assert(again == out.map(r => (r._1, r._3, r._4, r._5, r._6)).toSet)
  }

  test("sampleByStrata: per-stratum rates, deterministic, append-stable") {
    val docs = (0L until 3000L).map(i => (i, if (i % 3 == 0) "en" else "de"))
      .toDF("id", "lang")
    val rates = Map("en" -> 0.5)
    val once = Sampling.sampleByStrata(docs, "lang", rates, 0.1, "id")
      .select("id", "lang").as[(Long, String)].collect()
    val byLang = once.groupBy(_._2).view.mapValues(_.length).toMap
    // 1000 en draws at 0.5, 2000 de draws at 0.1 (md5-uniform, generous)
    assert(byLang("en") > 400 && byLang("en") < 600, byLang.toString)
    assert(byLang("de") > 120 && byLang("de") < 280, byLang.toString)
    // append-stable: the half-corpus sample is exactly the full-corpus
    // sample restricted to the half
    val half = Sampling.sampleByStrata(docs.filter($"id" < 1500L),
        "lang", rates, 0.1, "id")
      .select("id").as[Long].collect().toSet
    assert(half == once.map(_._1).filter(_ < 1500L).toSet)
    // rate 1.0 keeps every row of its stratum, rate 0.0 keeps none
    val extremes = Sampling.sampleByStrata(docs, "lang",
      Map("en" -> 1.0, "de" -> 0.0), 0.5, "id")
    assert(extremes.count() == 1000L)
    intercept[IllegalArgumentException] {
      Sampling.sampleByStrata(docs, "lang", Map("en" -> 1.5), 0.1, "id")
    }
  }

  test("deterministicShuffle: dense per-shard ranks, brute-force hash order") {
    val ids = (0L until 500L).toDF("id")
    val out = Sampling.deterministicShuffle(ids, "id", shards = 4)
      .select("id", "shard", "pos").as[(Long, Int, Long)].collect()
    assert(out.length == 500)
    // every shard's positions are exactly 0..n-1
    out.groupBy(_._2).values.foreach { rows =>
      assert(rows.map(_._3).sorted.toSeq == (0L until rows.length))
    }
    // order within a shard is ascending md5-hash order (brute force)
    def h(i: Long): Long = java.lang.Long.parseLong(
      java.security.MessageDigest.getInstance("MD5")
        .digest(i.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(15), 16)
    out.groupBy(_._2).values.foreach { rows =>
      val byPos = rows.sortBy(_._3).map(r => h(r._1))
      assert(byPos.toSeq == byPos.sorted.toSeq, "pos must follow hash order")
    }
    // shard = hash mod shards, and a rerun reproduces the layout
    assert(out.forall { case (i, s, _) => s == (h(i) % 4).toInt })
    val again = Sampling.deterministicShuffle(ids, "id", 4)
      .select("id", "shard", "pos").as[(Long, Int, Long)].collect()
    assert(again.sortBy(_._1).toSeq == out.sortBy(_._1).toSeq)
  }

  test("epochOrder: (id, epoch)-keyed hash order scatters epoch copies") {
    val mix = (for (id <- 0L until 200L; e <- 1 to 3) yield (id, e))
      .toDF("id", "epoch")
    val out = Sampling.epochOrder(mix, "id", "epoch", shards = 4)
      .select("id", "epoch", "shard", "pos")
      .as[(Long, Int, Int, Long)].collect()
    assert(out.length == 600)
    // the operator's own key, recomputed independently
    def h(id: Long, e: Int): Long = java.lang.Long.parseLong(
      java.security.MessageDigest.getInstance("MD5")
        .digest(s"$id:$e".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(15), 16)
    // shard = hash mod shards; dense 0..n-1 ranks in hash order per shard
    assert(out.forall { case (i, e, s, _) => s == (h(i, e) % 4).toInt })
    out.groupBy(_._3).values.foreach { rows =>
      assert(rows.map(_._4).sorted.toSeq == (0L until rows.length))
      val byPos = rows.sortBy(_._4).map(r => h(r._1, r._2))
      assert(byPos.toSeq == byPos.sorted.toSeq, "pos must follow hash order")
    }
    // the epoch key scatters: a doc's epoch copies do NOT all share a
    // shard (deterministicShuffle replayed per epoch would clump them)
    val scattered = out.groupBy(_._1).values
      .count(_.map(_._3).distinct.length > 1)
    assert(scattered > 150, s"only $scattered/200 docs spread over shards")
    // and epochs disagree on document order (different per-epoch passes):
    // compare each epoch's global (shard, pos) document sequence
    val orderOf = (e: Int) => out.filter(_._2 == e)
      .sortBy(r => (r._3, r._4)).map(_._1).toSeq
    assert(orderOf(1) != orderOf(2) && orderOf(2) != orderOf(3))
    // rerun reproduces the layout bit-for-bit
    val again = Sampling.epochOrder(mix, "id", "epoch", 4)
      .select("id", "epoch", "shard", "pos")
      .as[(Long, Int, Int, Long)].collect()
    assert(again.sortBy(r => (r._1, r._2)).toSeq ==
      out.sortBy(r => (r._1, r._2)).toSeq)
  }

  test("packSequences: concat-and-chunk brute-force equivalence per shard") {
    // shard A: token counts 5,5,5,5 at budget 8 → firsts 0,5,10,15 →
    // packs 0,0,1,1; a 20-token doc then spans packs (first=20 → pack 2)
    val docs = Seq(
      (1L, "a", 5), (2L, "a", 5), (3L, "a", 5), (4L, "a", 5), (5L, "a", 20),
      (6L, "b", 3), (7L, "b", 9))
      .toDF("doc_id", "shard", "n_tokens")
    val got = Sampling.packSequences(docs, "n_tokens", 8L, Seq("shard"), "doc_id")
      .select("doc_id", "pack_id", "pack_offset")
      .as[(Long, Long, Long)].collect()
      .map(t => t._1 -> (t._2, t._3)).toMap
    assert(got == Map(
      1L -> (0L, 0L), 2L -> (0L, 5L), 3L -> (1L, 2L), 4L -> (1L, 7L),
      5L -> (2L, 4L), // first token position 20 → pack 2, offset 4
      6L -> (0L, 0L), 7L -> (0L, 3L)))
  }

  test("packSequences: duplicate ids get non-overlapping slots (ROWS frame)") {
    // two rows share id 1 — the default RANGE frame would give both
    // __first = 5 (double-booked pack space); ROWS hands out {0, 5}
    val docs = Seq((1L, "a", 5), (1L, "a", 5), (2L, "a", 3))
      .toDF("doc_id", "shard", "n_tokens")
    val offs = Sampling.packSequences(docs, "n_tokens", 8L, Seq("shard"), "doc_id")
      .select("pack_id", "pack_offset").as[(Long, Long)].collect().toSeq.sorted
    assert(offs == Seq((0L, 0L), (0L, 5L), (1L, 2L)), offs.toString)
  }

  test("deterministicGroupSample: int ids widen, non-integral ids rejected") {
    val ints = Sampling.deterministicGroupSample(
      (0 until 40).map(i => (i, (i % 2).toString)).toDF("id", "g"),
      Seq("g"), 3, "id")
    assert(ints.count() == 6)
    intercept[IllegalArgumentException] {
      Sampling.deterministicGroupSample(
        Seq(("x", "g1")).toDF("id", "g"), Seq("g"), 3, "id")
    }
  }

  test("deterministicGroupSample: k smallest hashes per group, append-stable") {
    val docs = (0L until 300L).map(i => (i, (i % 3).toString))
      .toDF("doc_id", "grp")
    val out = Sampling.deterministicGroupSample(docs, Seq("grp"), 5, "doc_id")
      .as[(String, Long, Int)].collect()
    assert(out.length == 15)
    out.groupBy(_._1).foreach { case (_, rows) =>
      assert(rows.map(_._3).sorted.toSeq == (1 to 5)) }
    // brute-force: the chosen ids really are the k hash-smallest per group
    def h(id: Long): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(15)
      java.lang.Long.parseLong(hex, 16)
    }
    val expect = (0L until 300L).groupBy(_ % 3).map { case (g, ids) =>
      g.toString -> ids.sortBy(i => (h(i), i)).take(5).toSet }
    out.groupBy(_._1).foreach { case (g, rows) =>
      assert(rows.map(_._2).toSet == expect(g), s"group $g") }
    // append-stable: a member of the sample stays while its hash ranks
    val fewer = Sampling.deterministicGroupSample(
        docs.filter($"doc_id" < 150L), Seq("grp"), 5, "doc_id")
      .as[(String, Long, Int)].collect()
    assert(fewer.length == 15)
  }

  test("weightedGroupSample: matches an independent replay of the A-ES keys") {
    val rows = (0L until 300L).map(i => (i, "g" + (i % 2), (i % 7 + 1)))
    val out = Sampling.weightedGroupSample(
        rows.toDF("doc_id", "grp", "w"), Seq("grp"), 5, "doc_id", $"w")
      .select("grp", "doc_id", "rank").as[(String, Long, Int)].collect().toSet
    // independent implementation: java MessageDigest md5, 60-bit prefix,
    // same (h+1)-as-long-then-convert rounding, StrictMath-free ln
    def key(id: Long, w: Long): Double = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(15)
      val h = java.lang.Long.parseLong(hex, 16)
      math.log((h + 1L).toDouble / math.pow(2, 60)) / w
    }
    val expected = rows.groupBy(_._2).flatMap { case (g, rs) =>
      rs.map(r => (r._1, key(r._1, r._3))).sortBy(t => (-t._2, t._1))
        .take(5).zipWithIndex.map { case ((id, _), i) => (g, id, i + 1) }
    }.toSet
    assert(out == expected)
  }

  test("weightedGroupSample: zero/null/negative weights cannot be drawn") {
    val df = (0L until 100L).map { i =>
      val w: java.lang.Long =
        if (i % 3 == 0) null
        else if (i % 3 == 1) 0L
        else 7L
      (i, "g", w)
    }.toDF("doc_id", "grp", "w")
    val out = Sampling.weightedGroupSample(df, Seq("grp"), 10, "doc_id", $"w")
      .select("doc_id").as[Long].collect()
    assert(out.length == 10)
    assert(out.forall(_ % 3 == 2), "only positive-weight rows may appear")
  }

  test("leakageSafeSplit: every near-dup cluster lands wholly in one split") {
    // payload column rides through (ADVICE r8: the output is df + the
    // split columns, not an id→split mapping)
    val docs = (0L until 400L).map(i => (i, s"t$i")).toDF("doc_id", "text")
    val clusters = ((0L until 10L).map(i => (i, 0L)) ++
      (100L to 104L).map(i => (i, 100L))).toDF("id", "cluster")
    val withPayload = Sampling.leakageSafeSplit(docs, clusters, "doc_id")
    assert(withPayload.columns.toSeq ==
      Seq("doc_id", "text", "split_key", "bucket", "split"))
    assert(withPayload.filter($"text" =!= concat(lit("t"), $"doc_id"))
      .count() == 0)
    val out = withPayload
      .select("doc_id", "split_key", "split")
      .as[(Long, Long, String)].collect()
    assert(out.length == 400)
    val c0 = out.filter(_._2 == 0L)
    assert(c0.map(_._1).toSet == (0L until 10L).toSet)
    assert(c0.map(_._3).toSet.size == 1, "cluster 0 must not straddle splits")
    assert(out.filter(_._2 == 100L).map(_._3).toSet.size == 1)
    // outside the clusters this IS deterministicSplit
    val plain = Sampling.deterministicSplit(
        (10L until 100L).toDF("doc_id"), "doc_id")
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    out.filter(r => r._1 >= 10 && r._1 < 100)
      .foreach(r => assert(r._3 == plain(r._1)))
  }

  test("splitLeakage: straddling clusters flagged, pure clusters and " +
      "singletons never, payload rides") {
    val docs = (0L until 400L).map(i => (i, s"t$i")).toDF("doc_id", "text")
    val split = Sampling.deterministicSplit(docs, "doc_id")
    // build clusters from the ACTUAL split draw so the straddle is
    // certain: A = two train docs + one non-train doc (leaked),
    // B = two train docs (pure)
    val byName = split.select("doc_id", "split")
      .as[(Long, String)].collect().toMap
    val tr = byName.filter(_._2 == "train").keys.toSeq.sorted
    val ev = byName.filter(_._2 != "train").keys.toSeq.sorted
    val cA = Seq(tr(0), tr(1), ev(0)).map(i => (i, tr(0)))
    val cB = Seq(tr(2), tr(3)).map(i => (i, tr(2)))
    val clusters = (cA ++ cB).toDF("id", "cluster")
    val audited = Sampling.splitLeakage(split, clusters, "doc_id")
    assert(audited.columns.toSeq == Seq("doc_id", "text", "bucket",
      "split", "cluster", "n_cluster_splits", "is_leaked"))
    val m = audited
      .select("doc_id", "cluster", "n_cluster_splits", "is_leaked")
      .as[(Long, Long, Long, Boolean)].collect()
      .map(r => r._1 -> r).toMap
    assert(m.size == 400, "every corpus doc is audited")
    cA.foreach { case (i, _) =>
      assert(m(i)._3 == 2L && m(i)._4, s"cluster-A doc $i must be leaked") }
    cB.foreach { case (i, _) =>
      assert(m(i)._3 == 1L && !m(i)._4, s"cluster-B doc $i is pure") }
    val lone = m(ev(1)) // unclustered: own-id cluster, never leaked
    assert(lone._2 == ev(1) && lone._3 == 1L && !lone._4)
    intercept[IllegalArgumentException] { // no split column yet
      Sampling.splitLeakage(docs, clusters, "doc_id")
    }
    intercept[IllegalArgumentException] { // output-name collision guard
      Sampling.splitLeakage(split.withColumn("is_leaked", lit(true)),
        clusters, "doc_id")
    }
  }

  test("deterministicSplit: rejects frames already carrying an added column") {
    // ADVICE r10: the collision guard must protect the DIRECT entry
    // point, not only leakageSafeSplit — 'bucket' and the out column
    // would otherwise be silently clobbered by withColumn.
    val hasBucket = Seq((1L, 7)).toDF("doc_id", "bucket")
    val e1 = intercept[IllegalArgumentException] {
      Sampling.deterministicSplit(hasBucket, "doc_id")
    }
    assert(e1.getMessage.contains("bucket"))
    val hasSplit = Seq((1L, "x")).toDF("doc_id", "split")
    val e2 = intercept[IllegalArgumentException] {
      Sampling.deterministicSplit(hasSplit, "doc_id")
    }
    assert(e2.getMessage.contains("split"))
    // a custom out name dodges the 'split' collision — and is guarded itself
    assert(Sampling.deterministicSplit(hasSplit, "doc_id", out = "fold")
      .columns.contains("fold"))
  }

  test("filterTopQuantileByGroup: per-group cutpoint, ties kept, fraction >= keepFrac") {
    val df = ((1 to 10).map(i => ("a", i.toLong, i.toDouble)) ++
      (1 to 6).map(i => ("b", 100L + i, 2.0)) ++ // all tied
      Seq(("c", 200L, 9.0))) // singleton group
      .toDF("grp", "id", "s")
    val out = Sampling.filterTopQuantileByGroup(df, "grp", $"s", 0.3)
      .select("grp", "id", "score", "cutpoint")
      .as[(String, Long, Double, Double)].collect()
    val byG = out.groupBy(_._1)
    // a: percentile_disc(0.7) of 1..10 = 7 → keep {7,8,9,10} (≥ 30%)
    assert(byG("a").map(_._2).toSet == Set(7L, 8L, 9L, 10L))
    assert(byG("a").forall(_._4 == 7.0))
    // b: every score ties the cutpoint → ALL kept, never a partial tie-split
    assert(byG("b").map(_._2).toSet == (101L to 106L).toSet)
    // c: a singleton group keeps its row
    assert(byG("c").map(_._2).toSeq == Seq(200L))
    intercept[IllegalArgumentException] {
      Sampling.filterTopQuantileByGroup(df, "grp", $"s", 0.0)
    }
  }

  test("quantilePartition: per-group tercile bands, ties land LOW, nulls surfaced") {
    val df = ((1 to 9).map(i => ("a", i.toLong, i.toDouble)) ++
      Seq(("a", 10L, 3.0), // a second 3.0 — ties the c0 cut
        ("b", 20L, 5.0), ("b", 21L, 5.0), ("b", 22L, 5.0), // all tied
        ("c", 30L, 1.0)) :+ // singleton
      (("d", 40L, -1.0)))
      .toDF("grp", "id", "s")
      // group e: every score NULL → no cut row; rows must survive
      .unionByName(Seq(("e", 50L)).toDF("grp", "id")
        .withColumn("s", lit(null).cast("double")))
    val out = Sampling.quantilePartition(df, "grp", $"s",
        Seq(1.0 / 3, 2.0 / 3), Seq("head", "middle", "tail"))
      .select($"grp", $"id", $"band").as[(String, Long, Option[String])]
      .collect().map(r => (r._1, r._2) -> r._3).toMap
    // a: 10 values [1..9, 3] → disc cuts c0=3 (cume 4/10 ≥ 1/3),
    // c1=6 (cume 7/10 ≥ 2/3); both 3.0 rows land in head (ties LOW)
    assert(out(("a", 3L)).contains("head") && out(("a", 10L)).contains("head"))
    assert(out(("a", 4L)).contains("middle") && out(("a", 6L)).contains("middle"))
    assert(out(("a", 7L)).contains("tail") && out(("a", 9L)).contains("tail"))
    // b: all tied → every row <= c0 → all head, never a tie-split
    assert(Seq(20L, 21L, 22L).forall(i => out(("b", i)).contains("head")))
    // singleton: its own cutpoint → head
    assert(out(("c", 30L)).contains("head"))
    assert(out(("d", 40L)).contains("head"))
    // all-null group: rows kept, band NULL
    assert(out(("e", 50L)).isEmpty)
    intercept[IllegalArgumentException] { // non-increasing fractions
      Sampling.quantilePartition(df, "grp", $"s", Seq(0.5, 0.5),
        Seq("x", "y", "z"))
    }
    intercept[IllegalArgumentException] { // label arity
      Sampling.quantilePartition(df, "grp", $"s", Seq(0.5), Seq("x"))
    }
  }
}

class DecontaminateSpec extends SparkSpec {
  import spark.implicits._

  test("semanticDecontaminate: paraphrased eval vectors flagged with " +
      "lowest-id tie-broken attribution; near-misses keep their audit row") {
    val emb = (0L until 40L).map { i =>
      val rnd = new java.util.Random(i * 4271L + 17L)
      (i, Seq.fill(16)(rnd.nextFloat() - 0.5f))
    }.toDF("vec_id", "embedding")
    // bench: shifted copies of vectors 0 and 5 (the paraphrase stand-in,
    // cosine ≈ 0.9999), an EXACT duplicate pair (ids 100/101, same
    // vector — the tie case), and one unrelated vector
    val shift = udf((v: Seq[Float]) => v.map(_ + 0.004f))
    val b0 = emb.filter($"vec_id" === 0L)
      .select(lit(100L).as("bench_id"), shift($"embedding").as("embedding"))
    val b0b = b0.select(lit(101L).as("bench_id"), $"embedding")
    val b5 = emb.filter($"vec_id" === 5L)
      .select(lit(105L).as("bench_id"), shift($"embedding").as("embedding"))
    val rnd = new java.util.Random(991L)
    val bx = Seq((999L, Seq.fill(16)(rnd.nextFloat() - 0.5f)))
      .toDF("bench_id", "embedding")
    val bench = b0.unionByName(b0b).unionByName(b5).unionByName(bx)
    val out = graft.operators.Decontaminate
      .semanticDecontaminate(emb, bench, threshold = 0.9)
      .as[(Long, Long, Double, Boolean)].collect()
    assert(out.length == 40, "one audit row per corpus vector")
    val flagged = out.filter(_._4).map(r => r._1 -> r._2).toMap
    assert(flagged.keySet == Set(0L, 5L),
      s"exactly the planted sources flag: $flagged")
    // vector 0 ties exactly between bench 100 and 101 -> lowest id wins
    assert(flagged(0L) == 100L && flagged(5L) == 105L)
    // near-misses carry best match + sim, not nothing
    val unflagged = out.filterNot(_._4)
    assert(unflagged.forall(r => r._3 < 0.9 && r._2 > 0))
  }

  private val corpus = Seq(
    (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (2L, "completely different material about distributed query engines and optimizers"),
    (3L, "prefix words then the quick brown fox jumps over the lazy dog appears here too"),
    (4L, "short doc"))
  private val bench = Seq(
    Tuple1("exam question the quick brown fox jumps over the lazy dog answer below"))

  test("flagContaminated: shared n-gram flags the doc, others stay clean") {
    val flags = graft.operators.Decontaminate.flagContaminated(
        corpus.toDF("doc_id", "text"), bench.toDF("text"), n = 8)
      .as[(Long, Boolean)].collect().toMap
    // docs 1 and 3 contain the benchmark's 9-token run → share an
    // 8-token shingle; 2 shares nothing; 4 is shorter than n (whole-text
    // shingle, no match)
    assert(flags == Map(1L -> true, 2L -> false, 3L -> true, 4L -> false))
  }

  test("removeContaminated is the anti-join complement of the flag") {
    val kept = graft.operators.Decontaminate.removeContaminated(
        corpus.toDF("doc_id", "text"), bench.toDF("text"), n = 8)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(2L, 4L))
  }

  test("attributeContamination: names the matched benchmark doc, broadcast join") {
    val twoBench = Seq(
      (100L, "exam question the quick brown fox jumps over the lazy dog answer below"),
      (200L, "totally unrelated benchmark prompt about medieval castle construction methods"))
    val out = graft.operators.Decontaminate.attributeContamination(
        corpus.toDF("doc_id", "text"), twoBench.toDF("bench_id", "text"),
        n = 8)
    val pairs = out.as[(Long, Long)].collect().toSet
    // docs 1 and 3 share the fox run with benchmark 100 only; nothing
    // touches benchmark 200
    assert(pairs == Set((1L, 100L), (3L, 100L)))
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"benchmark (shingle, id) pairs must broadcast:\n$plan")
  }

  test("flagContaminated: corpus side joins the benchmark via broadcast") {
    val plan = graft.operators.Decontaminate.flagContaminated(
        corpus.toDF("doc_id", "text"), bench.toDF("text"), n = 8)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftSemi"),
      s"benchmark shingles must broadcast:\n$plan")
  }

  test("fuzzyDecontaminate: edited near-verbatim leak flagged where the " +
      "exact shingle screen misses it; heavy edits stay clean") {
    // 14-token doc; the "leak" changes one token in the middle — every
    // 13-shingle is broken (flagContaminated at n=13 sees nothing) but
    // word-3-shingle Jaccard stays high: 12 shingles each, 9 shared,
    // J = 9/15 = 0.6.
    val docText = "alpha bravo charlie delta echo foxtrot golf hotel " +
      "india juliett kilo lima mike november"
    val docs = Seq(
      (1L, docText),
      (2L, "completely unrelated material about distributed query engines"))
      .toDF("doc_id", "text")
    val bench = Seq(
      (10L, docText.replace("golf", "ZZZZ")),
      (20L, "totally disjoint benchmark prompt about castle construction"))
      .toDF("bench_id", "text")
    val exact = graft.operators.Decontaminate.flagContaminated(
        docs, bench, n = 13)
      .as[(Long, Boolean)].collect().toMap
    assert(exact == Map(1L -> false, 2L -> false),
      "one mid-document edit defeats the exact 13-shingle screen")
    val fuzzy = graft.operators.Decontaminate.fuzzyDecontaminate(
        docs, bench, threshold = 0.6)
      .as[(Long, Option[Long], Option[Double], Boolean)]
      .collect().sortBy(_._1).toSeq
    assert(fuzzy == Seq(
      (1L, Some(10L), Some(0.6), true),
      (2L, None, None, false)))
  }

  test("fuzzyDecontaminate: best match is (jaccard desc, lowest bench id); " +
      "below-threshold docs get the null audit row") {
    val docs = Seq((1L, "a b c d e f g h")).toDF("doc_id", "text")
    // bench 30/31: exact copies (J = 1, tie -> lowest id 30); bench 40:
    // lower-J match (appended token, J = 6/7 ≈ 0.857).
    val bench = Seq(
      (31L, "a b c d e f g h"), (30L, "a b c d e f g h"),
      (40L, "a b c d e f g h zz")).toDF("bench_id", "text")
    val out = graft.operators.Decontaminate.fuzzyDecontaminate(
        docs, bench, threshold = 0.8)
      .as[(Long, Option[Long], Option[Double], Boolean)].collect().toSeq
    assert(out == Seq((1L, Some(30L), Some(1.0), true)))
  }

  test("broadcast size gate (round 21): an oversized benchmark falls " +
      "back to a shuffle join with byte-identical output") {
    val docs = corpus.toDF("doc_id", "text")
    val bdf = bench.toDF("text")
    val bid = Seq((7L, bench.head._1)).toDF("bench_id", "text")
    def plans(df: org.apache.spark.sql.DataFrame): String =
      df.queryExecution.executedPlan.toString
    val key = graft.operators.Decontaminate.BroadcastThresholdKey
    // broadcast path (default): benchmark-side hint present
    val b = graft.operators.Decontaminate.flagContaminated(docs, bdf, n = 8)
    assert(plans(b).contains("BroadcastExchange"),
      "default (small benchmark) keeps the broadcast plan")
    val bRows = b.as[(Long, Boolean)].collect().toMap
    val sRows =
      try {
        spark.conf.set(key, "0") // force every benchmark "oversized"
        // a hinted broadcast ignores autoBroadcastJoinThreshold, so
        // disabling the AUTO threshold isolates exactly what the gate
        // controls: with the hint gone, no broadcast join may remain
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        val s = graft.operators.Decontaminate
          .flagContaminated(docs, bdf, n = 8)
        assert(!plans(s).contains("BroadcastHashJoin"),
          s"benchmark join still hint-broadcast under $key=0:\n${plans(s)}")
        val es = graft.operators.Decontaminate.exactSubstrContamination(
          docs, bid, minTokens = 5)
        assert(!plans(es).contains("BroadcastHashJoin"),
          "exactSubstr window join still hint-broadcast under the gate")
        assert(es.count() >= 1, "the shuffle path still finds the leak")
        s.as[(Long, Boolean)].collect().toMap
      } finally {
        spark.conf.unset(key)
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      }
    assert(sRows == bRows, "shuffle path must be byte-identical")
  }
}

class QualityCanonicalSpec extends SparkSpec {
  import spark.implicits._

  test("qualityCanonicalDedup: best member wins the cluster, ties to " +
      "lowest id, singletons map to themselves") {
    val docs = Seq(
      (1L, 10), (2L, 30), (3L, 20), // cluster {1,2,3}: 2 scores highest
      (4L, 7), (5L, 7),             // cluster {4,5}: tie -> lowest id 4
      (9L, 99))                     // singleton
      .toDF("doc_id", "score")
    val pairs = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("doc_a", "doc_b")
    val out = graft.operators.Dedup.qualityCanonicalDedup(
        docs, pairs, col("score"))
      .as[(Long, Long, Long, Boolean)].collect().sortBy(_._1).toSeq
    assert(out == Seq(
      (1L, 1L, 2L, true), (2L, 1L, 2L, false), (3L, 1L, 2L, true),
      (4L, 4L, 4L, false), (5L, 4L, 4L, true),
      (9L, 9L, 9L, false)))
  }

  test("qualityCanonicalDedup: STRING doc ids tie-break deterministically " +
      "to the lowest id (ADVICE r16: -id cast string ids to null)") {
    val docs = Seq(
      ("docB", 7), ("docA", 7), ("docC", 5), // tie 7 -> docA wins
      ("solo", 9))
      .toDF("doc_id", "score")
    val pairs = Seq(("docA", "docB"), ("docB", "docC"))
      .toDF("doc_a", "doc_b")
    val out = graft.operators.Dedup.qualityCanonicalDedup(
        docs, pairs, col("score"))
      .as[(String, String, String, Boolean)].collect().sortBy(_._1).toSeq
    assert(out == Seq(
      ("docA", "docA", "docA", false), ("docB", "docA", "docA", true),
      ("docC", "docA", "docA", true), ("solo", "solo", "solo", false)))
  }
}

class SpanDecontaminateSpec extends SparkSpec {
  import spark.implicits._
  import graft.operators.Decontaminate.{exciseSpans, spanDecontaminate}

  // per-doc unique vocabulary -> no accidental cross-doc spans
  private def docText(d: Int): String =
    (0 until 60).map(j => f"w$d%02dx$j%02d").mkString(" ")

  test("spanDecontaminate: offset-shifted benchmark excerpt found with " +
      "span attribution; disjoint docs silent") {
    val docs = Seq((1L, docText(1)), (2L, docText(2))).toDF("doc_id", "text")
    // bench = 'zq ' head + 200 chars of doc 1 starting at char 41:
    // the head shifts every position, only same-OFFSET runs merge
    val bench = Seq((10L, "zq " + docText(1).substring(40, 240)))
      .toDF("bench_id", "text")
    val out = spanDecontaminate(docs, bench)
      .as[(Long, Long, Int, Int, Int)].collect().toSeq
    assert(out.size == 1, s"exactly one span: $out")
    val (d, b, ds, bs, chars) = out.head
    assert(d == 1L && b == 10L)
    // conservative span sits inside the true 200-char excerpt
    assert(ds >= 41 && ds + chars <= 41 + 200 + 1, s"doc span [$ds, +$chars)")
    assert(bs >= 4 && chars >= 160, s"bench span [$bs, +$chars)")
    assert(ds - bs == 41 - 4, "offset = head shift")
  }

  test("exciseSpans: single span cut, 1-based [start, start+chars)") {
    val docs = Seq((1L, "0123456789abcdefghij")).toDF("doc_id", "text")
    val spans = Seq((1L, 3, 4)).toDF("doc_id", "doc_start", "span_chars")
    val out = exciseSpans(docs, spans).as[(Long, String, Int)].collect()
    assert(out.toSeq == Seq((1L, "016789abcdefghij", 4)))
  }

  test("exciseSpans: overlapping spans merge before cutting (no double cut)") {
    val docs = Seq((1L, "0123456789abcdefghij")).toDF("doc_id", "text")
    val spans = Seq((1L, 3, 4), (1L, 5, 4), (1L, 3, 2))
      .toDF("doc_id", "doc_start", "span_chars")
    val out = exciseSpans(docs, spans).as[(Long, String, Int)].collect()
    assert(out.toSeq == Seq((1L, "0189abcdefghij", 6)))
  }

  test("exciseSpans: disjoint spans cut independently; clean docs untouched") {
    val docs = Seq((1L, "0123456789abcdefghij"), (2L, "keep me whole"))
      .toDF("doc_id", "text")
    val spans = Seq((1L, 1, 2), (1L, 11, 4))
      .toDF("doc_id", "doc_start", "span_chars")
    val out = exciseSpans(docs, spans).as[(Long, String, Int)]
      .collect().sortBy(_._1)
    assert(out.toSeq == Seq((1L, "23456789efghij", 6),
      (2L, "keep me whole", 0)))
  }

  test("excision closes the loop: re-screening the excised corpus is clean") {
    val docs = Seq((1L, docText(1)), (2L, docText(2))).toDF("doc_id", "text")
    val bench = Seq((10L, "zq " + docText(1).substring(40, 240)))
      .toDF("bench_id", "text")
    val spans = spanDecontaminate(docs, bench)
    val clean = exciseSpans(docs, spans)
    val again = spanDecontaminate(clean, bench).count()
    assert(again == 0L, "no spans survive excision")
    val d1 = clean.filter($"doc_id" === 1L)
      .as[(Long, String, Int)].head()
    assert(d1._3 > 0 && d1._2.length == docText(1).length - d1._3)
  }
}

class UrlsSpec extends SparkSpec {
  import spark.implicits._
  import graft.operators.Urls

  private def norm(s: String): String =
    Seq(Tuple1(s)).toDF("u").select(Urls.normalizeUrl($"u").as("n"))
      .as[String].head()

  test("normalizeUrl: each cosmetic axis folds independently") {
    val canon = "https://h1.example.com/docs/5"
    assert(norm("https://h1.example.com/docs/5") == canon)
    assert(norm("HTTPS://H1.EXAMPLE.COM/docs/5") == canon, "scheme+host case")
    assert(norm("https://h1.example.com:443/docs/5") == canon, "default port")
    assert(norm("http://h1.example.com:80/x")
      == "http://h1.example.com/x", "http default port")
    assert(norm("https://h1.example.com:8443/docs/5")
      == "https://h1.example.com:8443/docs/5", "non-default port kept")
    assert(norm("https://h1.example.com/docs/5/") == canon, "trailing slash")
    assert(norm("https://h1.example.com/docs/5#frag") == canon, "fragment")
    assert(norm("https://h1.example.com/docs/5?utm_source=x&utm_q=1")
      == canon, "tracking-only query drops its ?")
    assert(norm("https://h1.example.com/docs/5?b=2&gclid=9&a=1")
      == canon + "?a=1&b=2", "params filtered + sorted")
  }

  test("normalizeUrl: path and query case is significant; root path survives") {
    assert(norm("https://h.com/Docs/A") == "https://h.com/Docs/A")
    assert(norm("https://h.com/x?A=1") == "https://h.com/x?A=1")
    assert(norm("https://h.com") == "https://h.com/", "empty path -> /")
    assert(norm("https://h.com/") == "https://h.com/", "root slash kept")
  }

  test("normalizeUrl: non-URL strings pass through trimmed, not corrupted") {
    assert(norm("  not a url at all  ") == "not a url at all")
    assert(norm("h.com/no-scheme") == "h.com/no-scheme")
  }

  test("hostOf: lowercased authority without port; null when unparseable") {
    val out = Seq("https://WWW.H2.Example.COM:443/x", "nope", "http://a.b/c")
      .toDF("u").select(Urls.hostOf($"u")).as[Option[String]].collect().toSeq
    assert(out == Seq(Some("www.h2.example.com"), None, Some("a.b")))
  }

  test("urlDedup: variants of one resource collapse to the lowest id") {
    val out = Urls.urlDedup(Seq(
        (1L, "https://h.com/p?a=1&utm_source=x"),
        (2L, "HTTPS://H.COM:443/p/?a=1#f"),
        (3L, "https://h.com/other")).toDF("doc_id", "url"))
      .as[(Long, Long, Boolean)].collect().sortBy(_._1).toSeq
    assert(out == Seq((1L, 1L, false), (2L, 1L, true), (3L, 3L, false)))
  }

  test("hostBlocklistFilter: suffix rule blocks subdomains, not lookalikes") {
    val docs = Seq(
      (1L, "https://example.com/x"), (2L, "https://a.b.example.com/x"),
      (3L, "https://notexample.com/x"), (4L, "https://example.com.evil.io/x"),
      (5L, "no-scheme")).toDF("doc_id", "url")
    val block = Seq("example.com").toDF("domain")
    val out = Urls.hostBlocklistFilter(docs, block)
      .as[(Long, Option[String], Boolean)].collect().sortBy(_._1).map(r => r._1 -> r._3)
    // 3: suffix must align on a label boundary; 4: entry is a suffix of
    // the REGISTRABLE side only, example.com.evil.io is a different host
    assert(out.toSeq == Seq(1L -> true, 2L -> true, 3L -> false,
      4L -> false, 5L -> false))
  }

  test("hostReputation: dup-mill host flagged, clean host not, null host never") {
    val docs = Seq(
      (1L, "https://mill.com/a"), (2L, "https://mill.com/a?utm_q=1"),
      (3L, "https://mill.com/a#x"), (4L, "https://mill.com/b"),
      (5L, "https://clean.com/a"), (6L, "https://clean.com/b"),
      (7L, "garbage-no-scheme")).toDF("doc_id", "url")
    val out = graft.operators.Urls.hostReputation(docs, maxDupFrac = 0.3)
      .as[(Long, Option[String], Boolean, Option[Long], Option[Long],
        Option[Double], Boolean)].collect().sortBy(_._1).toSeq
    // mill.com: 4 docs, 2 dups (ids 2,3 of /a) -> 0.5 > 0.3 -> spam
    assert(out.filter(_._2.contains("mill.com")).forall(r =>
      r._4.contains(4L) && r._5.contains(2L) && r._6.contains(0.5) && r._7))
    // per-doc is_dup rides the output (round 17): ids 2,3 are the /a dups
    assert(out.map(r => r._1 -> r._3) == Seq(1L -> false, 2L -> true,
      3L -> true, 4L -> false, 5L -> false, 6L -> false, 7L -> false))
    assert(out.filter(_._2.contains("clean.com")).forall(r =>
      r._5.contains(0L) && !r._7))
    val noHost = out.find(_._1 == 7L).get
    assert(noHost._2.isEmpty && noHost._4.isEmpty && !noHost._7)
  }

  test("urlDedup + hostReputation: null urls are their own canonical, " +
    "never duplicates, never spam evidence") {
    val docs = Seq((1L, Option("https://h.com/p")),
      (2L, Option("https://h.com/p#f")), (3L, None), (4L, None), (5L, None))
      .toDF("doc_id", "url")
    val dd = Urls.urlDedup(docs)
      .as[(Long, Long, Boolean)].collect().sortBy(_._1).toSeq
    // without the urlFingerprint coalesce, 4 and 5 would collapse onto 3
    assert(dd == Seq((1L, 1L, false), (2L, 1L, true), (3L, 3L, false),
      (4L, 4L, false), (5L, 5L, false)))
    val rep = graft.operators.Urls.hostReputation(docs, maxDupFrac = 0.3)
      .as[(Long, Option[String], Boolean, Option[Long], Option[Long],
        Option[Double], Boolean)].collect().sortBy(_._1).toSeq
    assert(rep.filter(_._1 >= 3L).forall(r =>
      r._2.isEmpty && !r._3 && !r._7))
  }

  test("hostBlocklistFilter: messy blocklist entries (case, padding, " +
    "trailing dot) still match") {
    val docs = Seq(
      (1L, "https://spam.example.com/x"), (2L, "https://other.net/x"),
      (3L, "https://sub.dotted.org/x")).toDF("doc_id", "url")
    val block = Seq("  SPAM.Example.COM  ", "dotted.org.").toDF("domain")
    val out = Urls.hostBlocklistFilter(docs, block)
      .as[(Long, Option[String], Boolean)].collect().sortBy(_._1)
      .map(r => r._1 -> r._3).toSeq
    assert(out == Seq(1L -> true, 2L -> false, 3L -> true))
  }
}

class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  test("decodeMeta: deterministic stub metadata from payload bytes") {
    val text = "some payload text for media"
    val out = Multimodal.decodeMeta(
        Multimodal.attachBlob(Seq((1L, text)).toDF("doc_id", "text")))
      .as[MediaMeta].collect()(0)
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(text.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(out.n_bytes == text.length)
    assert(out.content_md5 == hex)
    assert(out.width >= 320 && out.width < 1920)
    assert(out.height >= 180 && out.height < 1080)
    assert(out.n_frames == 1 + text.length % 30)
  }

  test("syntheticMedia: deterministic, id-diverse payloads") {
    val ids = Seq(0L, 1L, 7L).toDF("doc_id")
    val a = Multimodal.syntheticMedia(ids).as[MediaBlob].collect()
      .map(b => b.doc_id -> b.media.toSeq).toMap
    val b = Multimodal.syntheticMedia(ids).as[MediaBlob].collect()
      .map(b => b.doc_id -> b.media.toSeq).toMap
    assert(a == b, "same (id, seed) must regenerate identical payloads")
    assert(a.values.forall(_.length == 512))
    assert(a(0L) != a(1L) && a(1L) != a(7L),
      "different ids must draw different payloads")
    // a different seed changes the corpus
    val c = Multimodal.syntheticMedia(ids, seed = 99L).as[MediaBlob].collect()
      .map(b => b.doc_id -> b.media.toSeq).toMap
    assert(c != a)
  }

  test("extractFeatures: L1-normalized byte histogram, ANN-composable shape") {
    val out = Multimodal.extractFeatures(
        Multimodal.attachBlob(Seq((1L, "aaaabbbb")).toDF("doc_id", "text")), 16)
      .as[MediaFeature].collect()(0)
    assert(out.feature.length == 16)
    assert(math.abs(out.feature.sum - 1.0f) < 1e-6)
    // 'a'(97) and 'b'(98) both land in bin (97*16)>>8 = 6
    assert(out.feature(6) == 1.0f)
  }

  test("resample: stride subsampling bounds size, short payloads untouched") {
    val df = Multimodal.attachBlob(
      Seq((1L, "abcdefghij"), (2L, "xy")).toDF("doc_id", "text"))
    val out = Multimodal.resample(df, targetBytes = 4)
      .as[MediaBlob].collect().sortBy(_.doc_id)
    assert(out(0).media.toSeq == "adgj".getBytes("UTF-8").toSeq) // stride 3
    assert(out(0).format == "raw;resampled=3")
    assert(out(1).media.toSeq == "xy".getBytes("UTF-8").toSeq) // unchanged
    // composes with the decoder
    assert(Multimodal.decodeMeta(Multimodal.resample(df, 4)).count() == 2)
  }

  test("sampleFrames: evenly-strided slices, fingerprints match slices") {
    val text = "abcdefghijklmnopqrstuvwxyz0123456789" // 36 bytes → stride 9
    val out = Multimodal.sampleFrames(
        Multimodal.attachBlob(Seq((1L, text)).toDF("doc_id", "text")))
      .orderBy("frame_idx").as[MediaFrame].collect()
    assert(out.length == 4)
    assert(out.forall(_.frame_len == 9))
    val md = java.security.MessageDigest.getInstance("MD5")
    val want = md.digest(text.substring(9, 18).getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    assert(out(1).frame_md5 == want)
  }

  test("decodeMeta is BYTE-semantic: multibyte text reports UTF-8 byte length") {
    // the q42/q43 gate scopes to ASCII (DuckDB can't slice blobs);
    // byte semantics for multibyte payloads are pinned here instead
    val text = "héllo 世界" // 8 chars, 13 UTF-8 bytes (é=2, CJK=3 each)
    val out = Multimodal.decodeMeta(
        Multimodal.attachBlob(Seq((1L, text)).toDF("doc_id", "text")))
      .as[MediaMeta].collect()(0)
    assert(out.n_bytes == text.getBytes("UTF-8").length)
    assert(out.n_bytes == 13 && text.length == 8)
    assert(out.n_frames == 1 + 13 % 30)
  }

  test("sampleFrames: short and empty payloads clamp instead of degenerating") {
    // 2-byte payload at frames=4: one frame per byte, never zero-length
    // duplicate slices; empty payload emits no rows; frames=0 rejected
    val out = Multimodal.sampleFrames(
        Multimodal.attachBlob(Seq((1L, "ab"), (2L, "")).toDF("doc_id", "text")))
      .as[MediaFrame].collect()
    val byDoc = out.groupBy(_.doc_id)
    assert(byDoc(1L).length == 2 && byDoc(1L).forall(_.frame_len == 1))
    assert(byDoc(1L).map(_.frame_md5).distinct.length == 2)
    assert(!byDoc.contains(2L))
    intercept[IllegalArgumentException] {
      Multimodal.sampleFrames(
        Multimodal.attachBlob(Seq((1L, "x")).toDF("doc_id", "text")), 0)
    }
  }
}

class LineDedupSpec extends SparkSpec {
  import spark.implicits._

  test("lineDedup: first occurrence survives, later copies deleted, " +
    "short lines exempt, within-doc repeats collapse") {
    val footer = "all rights reserved by the publisher"
    val df = Seq(
      (1L, s"unique first body line of doc one\n$footer\nok"),
      (2L, s"unique body line of doc two\n$footer"),
      // within-doc repeat: second copy of its own line 0 is deleted
      (3L, "repeated inside this one document\n" +
        "repeated inside this one document"),
      // short line "ok" repeats across docs 1 and 4 — exempt, both kept
      (4L, "ok"))
      .toDF("doc_id", "text")
    val out = Dedup.lineDedup(df).as[(Long, String, Int)]
      .collect().sortBy(_._1)
    assert(out(0) == ((1L,
      s"unique first body line of doc one\n$footer\nok", 0)))
    assert(out(1) == ((2L, "unique body line of doc two", 1)))
    assert(out(2) == ((3L, "repeated inside this one document", 1)))
    assert(out(3) == ((4L, "ok", 0)))
  }

  test("lineDedup: a doc losing every eligible line reassembles to ''") {
    val df = Seq(
      (1L, "only one shared boilerplate line"),
      (2L, "only one shared boilerplate line"))
      .toDF("doc_id", "text")
    val out = Dedup.lineDedup(df).as[(Long, String, Int)]
      .collect().sortBy(_._1)
    assert(out(0) == ((1L, "only one shared boilerplate line", 0)))
    assert(out(1) == ((2L, "", 1)))
  }

  test("lineDedup plan: document text never shuffles") {
    // every Exchange carries fp/pos/id projections — the text column
    // appears only in scans and in the final id-keyed join's probe side.
    // AQE off for the assertion: its wrapper node hides the exchanges
    // from collect() until execution.
    val df = Seq((1L, "a line long enough to be eligible"))
      .toDF("doc_id", "text")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = Dedup.lineDedup(df).queryExecution.executedPlan
      val exchanges = plan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      assert(exchanges.nonEmpty)
      exchanges.foreach { e =>
        val carried = e.child.output.map(_.name)
        assert(!carried.contains("text"),
          s"text must not shuffle, but an Exchange carries $carried")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }
}

class StridedChunksSpec extends SparkSpec {
  import spark.implicits._

  test("stridedChunks: overlap windows, short tail kept, empty doc dropped") {
    // 10 tokens, seqLen=4, stride=3 -> starts 0,3,6,9
    val toks = (0 until 10).map(i => s"t$i")
    val df = Seq((1L, toks.mkString(" ")), (2L, ""), (3L, "solo"))
      .toDF("doc_id", "text")
    val out = Sampling.stridedChunks(df, seqLen = 4, stride = 3)
      .as[(Long, Int, Int, Int, String)].collect().sortBy(r => (r._1, r._2))
    val one = out.filter(_._1 == 1L)
    assert(one.map(_._3).toSeq == Seq(0, 3, 6, 9))
    assert(one.map(_._4).toSeq == Seq(4, 4, 4, 1))
    assert(one.head._5 == "t0 t1 t2 t3" && one.last._5 == "t9")
    // every token appears in at least one chunk
    assert(one.flatMap(_._5.split(" ")).distinct.length == 10)
    assert(!out.exists(_._1 == 2L), "token-free doc emits no chunks")
    assert(out.filter(_._1 == 3L).toSeq == Seq((3L, 0, 0, 1, "solo")))
  }

  test("stridedChunks: disjoint blocks at stride == seqLen; bad strides rejected") {
    val df = Seq((1L, (0 until 7).map(i => s"t$i").mkString(" ")))
      .toDF("doc_id", "text")
    val out = Sampling.stridedChunks(df, seqLen = 3, stride = 3)
      .as[(Long, Int, Int, Int, String)].collect().sortBy(_._2)
    assert(out.map(_._5).toSeq == Seq("t0 t1 t2", "t3 t4 t5", "t6"))
    intercept[IllegalArgumentException] {
      Sampling.stridedChunks(df, seqLen = 2, stride = 3) // drops tokens
    }
    intercept[IllegalArgumentException] {
      Sampling.stridedChunks(df, seqLen = 4, stride = 0)
    }
  }

  test("stridedChunks plan: no shuffle — a pure generator projection") {
    val df = Seq((1L, "a b c")).toDF("doc_id", "text")
    val plan = Sampling.stridedChunks(df).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"expected no shuffle:\n$plan")
  }
}

class HistogramSpec extends SparkSpec {
  import spark.implicits._

  test("histogram: half-open fixed-width bins, NULL bin surfaced") {
    val df = Seq(Some(0.0), Some(199.0), Some(200.0), Some(350.0),
      Some(-1.0), None).toDF("v")
    val out = Sketches.histogram(df, "v", 200.0)
      .as[(Option[Double], Option[Double], Long)].collect()
      .map(r => (r._1, r._3)).toMap
    // 200.0 sits on an edge -> higher bin; -1 -> [-200, 0); null -> null
    assert(out == Map(Some(0.0) -> 2L, Some(200.0) -> 2L,
      Some(-200.0) -> 1L, None -> 1L))
  }

  test("histogram: bin width must be positive") {
    intercept[IllegalArgumentException] {
      Sketches.histogram(Seq(1.0).toDF("v"), "v", 0.0)
    }
  }
}

class VocabCoverageSpec extends SparkSpec {
  import spark.implicits._

  test("vocabCoverage: multiplicity counts, case-sensitive, empty text null") {
    val v = Seq("the", "cat")
    val df = Seq(
      (1L, "the cat the dog"), // 3 of 4 in vocab (the ×2 + cat)
      (2L, "The CAT"),         // case-sensitive: 0 hits
      (3L, ""))
      .toDF("doc_id", "text")
    val out = df.select($"doc_id",
        TextAnalysis.vocabCoverage($"text", v).as("c"))
      .select($"doc_id", $"c.n_tokens", $"c.in_vocab", $"c.coverage")
      .as[(Long, Int, Int, Option[Double])].collect().sortBy(_._1)
    assert(out(0) == ((1L, 4, 3, Some(0.75))))
    assert(out(1) == ((2L, 2, 0, Some(0.0))))
    assert(out(2) == ((3L, 0, 0, None)))
  }

  test("vocabCoverage: empty vocabulary rejected") {
    intercept[IllegalArgumentException] {
      TextAnalysis.vocabCoverage(col("text"), Seq.empty)
    }
  }

  test("vocabCoverage: 10k-entry vocabulary — hash-set membership hits across the set") {
    // Planted tokens probe the head, middle, and tail of a 10k synthetic
    // vocab plus misses just outside it — the q113 gate shape, with
    // membership correctness asserted (fixture text never hits fillers).
    val vocab = Seq("the", "cat") ++ (0 until 9998).map(i => f"w$i%05d")
    val df = Seq(
      (1L, "the w00000 w04999 w09997 cat"), // all 5 in vocab
      (2L, "w09998 w10000 W00001 dog"))     // all 4 out (tail edge, case)
      .toDF("doc_id", "text")
    val out = df.select($"doc_id",
        TextAnalysis.vocabCoverage($"text", vocab).as("c"))
      .select($"doc_id", $"c.n_tokens", $"c.in_vocab", $"c.coverage")
      .as[(Long, Int, Int, Option[Double])].collect().sortBy(_._1)
    assert(out(0) == ((1L, 5, 5, Some(1.0))))
    assert(out(1) == ((2L, 4, 0, Some(0.0))))
  }

  test("vocabCoverage: interpreted eval matches codegen") {
    // Force the interpreted path (nullSafeEval) by evaluating the
    // expression directly and compare with the codegen'd query result.
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.unsafe.types.UTF8String
    val vocab = Seq("alpha", "beta") ++ (0 until 100).map(i => f"w$i%05d")
    val set = graft.functions.InVocabCountExpr.buildSet(vocab)
    val arr = ArrayData.toArrayData(Array(
      UTF8String.fromString("alpha"), UTF8String.fromString("w00042"),
      UTF8String.fromString("gamma")))
    assert(graft.functions.InVocabCountExpr.count(arr, set) == 2)
    val viaQuery = Seq(("alpha w00042 gamma"))
      .toDF("text")
      .select(TextAnalysis.vocabCoverage($"text", vocab)
        .getField("in_vocab"))
      .as[Int].collect().head
    assert(viaQuery == 2)
  }
}

class SubwordStatsSpec extends SparkSpec {
  import spark.implicits._

  test("subwordStats: greedy longest-match, unk fallback, empty/null text") {
    val v = Seq("cust", "omer", "sma", "a", "aa")
    val df = Seq(
      (1L, Some("customer")),  // cust + omer
      (2L, Some("small")),     // sma + l + l (2 unk)
      (3L, Some("aaa")),       // aa + a (longest-first, not a+a+a)
      (4L, Some("")),          // no tokens
      (5L, None: Option[String]))
      .toDF("doc_id", "text")
    val out = df.select($"doc_id",
        TextAnalysis.subwordStats($"text", v).as("s"))
      .select($"doc_id", $"s.n_words", $"s.n_pieces", $"s.n_unk")
      .as[(Long, Option[Int], Option[Int], Option[Int])]
      .collect().sortBy(_._1)
    assert(out(0) == ((1L, Some(1), Some(2), Some(0))))
    assert(out(1) == ((2L, Some(1), Some(3), Some(2))))
    assert(out(2) == ((3L, Some(1), Some(2), Some(0))))
    assert(out(3) == ((4L, Some(0), Some(0), Some(0))))
    assert(out(4) == ((5L, None, None, None)))
  }

  test("subwordStats: trie backtracks past a longer non-terminal path") {
    // Walking "abcde": the trie path continues a-b-c-d-e toward
    // "abcdef" (never terminal on this word), so the match must fall
    // back to the deepest TERMINAL seen ("abc"), not fail or take "ab".
    val v = Seq("ab", "abc", "abcdef")
    val out = Seq("abcde").toDF("text")
      .select(TextAnalysis.subwordStats($"text", v).as("s"))
      .select($"s.n_pieces", $"s.n_unk").as[(Int, Int)].collect().head
    assert(out == ((3, 2))) // abc + d(unk) + e(unk)
  }

  test("subwordStats: unknown advances one full UTF-8 code point") {
    // "héllo": h(unk) + é(unk, 2 bytes = ONE piece) + "llo"(match);
    // byte-wise unk stepping would count é as two pieces.
    val v = Seq("llo")
    val out = Seq("héllo").toDF("text")
      .select(TextAnalysis.subwordStats($"text", v).as("s"))
      .select($"s.n_pieces", $"s.n_unk").as[(Int, Int)].collect().head
    assert(out == ((3, 2)))
  }

  test("subwordStats: 10k-entry vocabulary probes head/tail, multi-word") {
    val vocab = Seq("cat") ++ (0 until 9999).map(i => f"w$i%05d")
    val out = Seq("w00000cat w09998 xyz").toDF("text")
      .select(TextAnalysis.subwordStats($"text", vocab).as("s"))
      .select($"s.n_words", $"s.n_pieces", $"s.n_unk")
      .as[(Int, Int, Int)].collect().head
    // w00000cat = w00000 + cat; w09998 = one piece; xyz = 3 unk
    assert(out == ((3, 6, 3)))
  }

  test("subwordStats: trie kernel matches a naive reference on random input") {
    import graft.functions.{SubwordStatsExpr, SubwordTrie}
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.unsafe.types.UTF8String
    // Naive greedy longest-match: probe lengths descending via substring
    // equality — O(|vocab|) per position but obviously correct.
    def naive(word: String, vocab: Seq[String]): (Int, Int) = {
      var p = 0; var pieces = 0; var unk = 0
      while (p < word.length) {
        val m = vocab.filter(v => word.startsWith(v, p))
          .map(_.length).sorted.lastOption
        m match {
          case Some(l) => pieces += 1; p += l
          case None    => pieces += 1; unk += 1; p += 1
        }
      }
      (pieces, unk)
    }
    val rnd = new scala.util.Random(42)
    val alphabet = "abcd"
    def randStr(n: Int) =
      (0 until n).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
    for (_ <- 0 until 200) {
      val vocab = (0 until (1 + rnd.nextInt(8)))
        .map(_ => randStr(1 + rnd.nextInt(4))).distinct
      val words = (0 until (1 + rnd.nextInt(5)))
        .map(_ => randStr(1 + rnd.nextInt(10)))
      val trie = SubwordTrie.build(vocab)
      val arr = ArrayData.toArrayData(
        words.map(w => UTF8String.fromString(w)).toArray)
      val row = SubwordStatsExpr.stats(arr, trie)
      val exp = words.map(w => naive(w, vocab))
      assert(row.getInt(0) == words.length)
      assert(row.getInt(1) == exp.map(_._1).sum,
        s"pieces mismatch: vocab=$vocab words=$words")
      assert(row.getInt(2) == exp.map(_._2).sum,
        s"unk mismatch: vocab=$vocab words=$words")
      // the pieces kernel must agree with the stats kernel (separate
      // loops over the shared trie — drift here would silently break
      // the q119 <-> q133 reconciliation) and reassemble each word
      val pcs = graft.functions.SubwordPiecesExpr.pieces(arr, trie)
      assert(pcs.numElements() == words.length)
      var tot = 0
      words.indices.foreach { i =>
        val ps = pcs.getArray(i)
        tot += ps.numElements()
        val joined = (0 until ps.numElements())
          .map(j => ps.getUTF8String(j).toString).mkString
        assert(joined == words(i),
          s"pieces must concatenate to the word: vocab=$vocab word=${words(i)}")
      }
      assert(tot == row.getInt(1),
        s"stats/pieces piece-count drift: vocab=$vocab words=$words")
    }
  }

  test("subwordStats: per-row plan — no exchange, fuses into the scan stage") {
    val docs = (0L until 20L).map(i => (i, s"customer small w$i"))
      .toDF("doc_id", "text")
    val plan = docs.select($"doc_id",
        TextAnalysis.subwordStats($"text", Seq("cust", "omer", "sma"))
          .as("s"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"subwordStats must fuse into the scan stage:\n$plan")
  }

  test("subwordStats: empty or blank vocabulary rejected") {
    intercept[IllegalArgumentException] {
      TextAnalysis.subwordStats(col("text"), Seq.empty)
    }
    intercept[IllegalArgumentException] {
      TextAnalysis.subwordStats(col("text"), Seq("ok", ""))
    }
  }

  test("subwordPieces: piece sequences, unk code points, empty words") {
    import graft.functions.SubwordFunctions
    val v = Seq("cust", "omer", "sma", "a", "aa", "llo")
    val out = Seq("customer small", "aaa héllo", "")
      .toDF("text")
      .select(SubwordFunctions.subwordPieces(
        TextAnalysis.tokens($"text"), v).as("p"))
      .as[Seq[Seq[String]]].collect()
    assert(out(0) == Seq(Seq("cust", "omer"), Seq("sma", "l", "l")))
    assert(out(1) == Seq(Seq("aa", "a"), Seq("h", "é", "llo")))
    assert(out(2) == Seq.empty, "no tokens -> empty outer array")
    // concatenating pieces reproduces each word (the unk-identity)
    out(1).zip(Seq("aaa", "héllo")).foreach { case (ps, w) =>
      assert(ps.mkString == w)
    }
  }

  test("bpePairStats: brute-force pair counts, within-word only, tie rank") {
    // vocab segments: "customer" -> cust|omer, "custcust" -> cust|cust,
    // "xy" -> x|y (unk pairs count too, as in real BPE over raw bytes)
    val v = Seq("cust", "omer")
    val docs = Seq("customer custcust", "customer xy", "custcust")
      .toDF("text")
    val got = TextAnalysis.bpePairStats(docs, $"text", v, k = 10)
      .as[(String, String, Long, Int)].collect().sortBy(_._4)
    // pairs: (cust,omer) x2, (cust,cust) x2, (x,y) x1 — single-piece or
    // cross-word adjacencies must NOT appear
    assert(got.map(r => (r._1, r._2, r._3)).toSeq == Seq(
      ("cust", "cust", 2L), ("cust", "omer", 2L), ("x", "y", 1L)),
      s"got: ${got.toSeq}")
    assert(got.map(_._4).toSeq == Seq(1, 2, 3), "dense rank, ties on (p1,p2)")
  }
}

class TokenBudgetSpec extends SparkSpec {
  import spark.implicits._
  import graft.operators.Sampling.selectByTokenBudget

  private val docs = Seq(
    (1L, Some(0.9), Some(10L)),
    (2L, Some(0.9), Some(10L)),
    (3L, Some(0.9), Some(10L)),
    (4L, Some(0.8), Some(5L)),
    (5L, Some(0.7), Some(100L)),
    (6L, None: Option[Double], Some(10L)),  // unrankable
    (7L, Some(1.0), None: Option[Long]))    // unbudgetable
    .toDF("doc_id", "score", "n_tokens")

  private def kept(budget: Long): Set[Long] =
    selectByTokenBudget(docs, $"score", $"n_tokens", budget)
      .select("doc_id").as[Long].collect().toSet

  test("selectByTokenBudget: boundary bucket partially kept in id order") {
    assert(kept(25L) == Set(1L, 2L))         // 10+10, doc 3 would hit 30
    assert(kept(35L) == Set(1L, 2L, 3L, 4L)) // 0.9 bucket + the 0.8 doc
    assert(kept(30L) == Set(1L, 2L, 3L))     // inclusive <= semantics
  }

  test("selectByTokenBudget: no-overflow, zero-budget, null exclusion") {
    assert(kept(1000L) == Set(1L, 2L, 3L, 4L, 5L)) // boundary frame empty
    assert(kept(0L) == Set.empty)
    assert(kept(Long.MaxValue).intersect(Set(6L, 7L)) == Set.empty)
    intercept[IllegalArgumentException] {
      selectByTokenBudget(docs, $"score", $"n_tokens", -1L)
    }
  }

  test("selectByTokenBudget: equivalence with the naive global running sum") {
    val rnd = new scala.util.Random(7)
    val rows = (1L to 400L).map { id =>
      (id, math.round(rnd.nextInt(20) / 20.0 * 1e4) / 1e4,
        rnd.nextInt(50).toLong)
    }
    val df = rows.toDF("doc_id", "score", "n_tokens")
    def naive(budget: Long): Set[Long] = {
      var run = 0L
      rows.sortBy { case (id, s, _) => (-s, id) }
        .takeWhile { case (_, _, t) => { run += t; run <= budget } }
        .map(_._1).toSet
    }
    for (budget <- Seq(0L, 500L, 2000L, 5000L, 100000L)) {
      val got = selectByTokenBudget(df, $"score", $"n_tokens", budget)
        .select("doc_id").as[Long].collect().toSet
      assert(got == naive(budget), s"budget=$budget")
    }
  }
}

class MaterializeMixSpec extends SparkSpec {
  import spark.implicits._
  import graft.operators.Sampling.materializeMix

  // The operator's own hash convention, recomputed independently: 60-bit
  // prefix of md5(id || ':epoch') mod 10000.
  private def bucket(id: Long): Long = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$id:epoch".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.substring(0, 15)
    java.lang.Long.parseLong(hex, 16) % 10000L
  }

  test("materializeMix: epoch replication, fractional draw, zero-weight drop") {
    val docs = (1L to 300L).map(i =>
      (i, if (i <= 100) "a" else if (i <= 200) "b" else "c"))
      .toDF("doc_id", "source")
    val plan = Seq(("a", 2.5), ("b", 0.8)).toDF("source", "sampling_weight")
    val out = materializeMix(docs, "source", plan, "doc_id")
      .as[(Long, String, Int)].collect()

    val perDoc = out.groupBy(_._1).view
      .mapValues(_.map(_._3).sorted.toSeq).toMap
    // domain c: no plan row -> nothing materialized
    assert(out.forall(_._2 != "c"))
    (1L to 100L).foreach { id => // a: 2 copies + hash draw at 50%
      val expected = 2 + (if (bucket(id) < 5000L) 1 else 0)
      assert(perDoc.getOrElse(id, Seq.empty[Int]) == (1 to expected).toSeq,
        s"doc $id (a): got ${perDoc.get(id)}, want 1..$expected")
    }
    (101L to 200L).foreach { id => // b: 0 copies + hash draw at 80%
      val expected = if (bucket(id) < 8000L) 1 else 0
      assert(perDoc.getOrElse(id, Seq.empty[Int]) == (1 to expected).toSeq,
        s"doc $id (b): got ${perDoc.get(id)}, want 1..$expected")
    }
    // both fractional branches actually fired
    assert((1L to 100L).exists(id => bucket(id) < 5000L))
    assert((1L to 100L).exists(id => bucket(id) >= 5000L))
  }

  test("materializeMix: integer weight is exact epoch multiplication") {
    val docs = Seq((1L, "a"), (2L, "a")).toDF("doc_id", "source")
    val plan = Seq(("a", 3.0)).toDF("source", "sampling_weight")
    val out = materializeMix(docs, "source", plan, "doc_id")
      .as[(Long, String, Int)].collect().toSet
    assert(out == (for (id <- Set(1L, 2L); e <- 1 to 3)
      yield (id, "a", e)))
  }
}

class BpeLearnSpec extends SparkSpec {
  import spark.implicits._
  import graft.operators.TextAnalysis.learnBpeMerges

  private def learn(texts: Seq[String], base: Seq[String], rounds: Int) =
    learnBpeMerges(texts.toDF("text"), $"text", base, rounds)
      .as[(Int, String, String, String, Long)].collect().sortBy(_._1).toSeq

  test("learnBpeMerges: hand-computed two-round vocabulary on a planted corpus") {
    // Sennrich et al. 2016 §3.2 worked shape: char-level base, corpus
    // "ab ab ab cd" — round 1 merges (a,b) cnt 3; the merged symbol then
    // leaves only (c,d) cnt 1 for round 2.
    val out = learn(Seq("ab ab", "ab cd"), Seq("a", "b", "c", "d"), 2)
    assert(out == Seq((1, "a", "b", "ab", 3L), (2, "c", "d", "cd", 1L)))
  }

  test("learnBpeMerges: left-to-right non-overlapping merge application") {
    // "aaa" under merge (a,a): [aa, a], NOT [a, aa] and NOT a double
    // count — so round 1 counts (a,a) twice per word, and round 2 sees
    // the residual (aa, a) pair.
    val out = learn(Seq("aaa aaa"), Seq("a"), 2)
    assert(out == Seq((1, "a", "a", "aa", 4L), (2, "aa", "a", "aaa", 2L)))
  }

  test("learnBpeMerges: learned symbol participates in later rounds") {
    // "abab": r1 (a,b) cnt 2 -> [ab, ab]; r2 (ab, ab) -> abab.
    val out = learn(Seq("abab abab"), Seq("a", "b"), 2)
    assert(out == Seq((1, "a", "b", "ab", 4L), (2, "ab", "ab", "abab", 2L)))
  }

  test("learnBpeMerges: count ties break (p1 asc, p2 asc), q133 convention") {
    // (x,y) and (p,q) both count 1 -> (p,q) wins round 1.
    val out = learn(Seq("xy pq"), Seq("x", "y", "p", "q"), 1)
    assert(out == Seq((1, "p", "q", "pq", 1L)))
  }

  test("learnBpeMerges: stops early when the corpus runs out of pairs") {
    // Single-char words have no adjacent pairs after round 1's merge.
    val out = learn(Seq("ab ab"), Seq("a", "b"), 5)
    assert(out == Seq((1, "a", "b", "ab", 2L)))
  }

  test("learnBpeMerges: pair counts are word-frequency weighted") {
    // The dictionary collapse must weight pairs by word count, not by
    // distinct word: "ab" x3 beats "cd" x1 + "cde" x1 distinct words.
    val out = learn(Seq("ab ab ab cd cde"), Seq("a", "b", "c", "d", "e"), 1)
    assert(out == Seq((1, "a", "b", "ab", 3L)))
  }

  test("learnBpeMerges: base segmentation is the greedy trie (unknowns fall through)") {
    // 'z' is not in the base vocab: it segments as a single unknown code
    // point and still participates in pair statistics.
    val out = learn(Seq("za za"), Seq("a"), 1)
    assert(out == Seq((1, "z", "a", "za", 2L)))
  }
}

class BpeEncodeSpec extends SparkSpec {
  import spark.implicits._
  import graft.operators.TextAnalysis.{encodeBpe, learnBpeMerges}

  private def encode(docs: Seq[(Long, String)], base: Seq[String],
      merges: Seq[(String, String)]) =
    encodeBpe(docs.toDF("doc_id", "text"), $"text", base, merges)
      .as[(Long, Long, Long, String)].collect().sortBy(_._1).toSeq

  test("encodeBpe: hand-computed encoding, words joined in document order") {
    // merge (a,b): "ab" -> one piece; "cd" stays c+d under the char base.
    val out = encode(Seq((1L, "ab cd"), (2L, "cd ab ab")),
      Seq("a", "b", "c", "d"), Seq(("a", "b")))
    assert(out == Seq(
      (1L, 2L, 3L, "ab c+d"),
      (2L, 3L, 4L, "c+d ab ab")))
  }

  test("encodeBpe: merges apply in training order (learned symbol feeds the next)") {
    // (a,b) then (ab,c): "abc" collapses fully only if round 2 sees
    // round 1's merged symbol.
    val out = encode(Seq((1L, "abc")), Seq("a", "b", "c"),
      Seq(("a", "b"), ("ab", "c")))
    assert(out == Seq((1L, 1L, 1L, "abc")))
  }

  test("encodeBpe: zero merges is the plain greedy segmentation") {
    val out = encode(Seq((1L, "ab")), Seq("a", "b"), Seq.empty)
    assert(out == Seq((1L, 1L, 2L, "a+b")))
  }

  test("encodeBpe: empty and null text encode to the empty document") {
    val docs = Seq((1L, ""), (2L, null: String), (3L, "a"))
    val out = encode(docs, Seq("a"), Seq.empty)
    assert(out == Seq((1L, 0L, 0L, ""), (2L, 0L, 0L, ""), (3L, 1L, 1L, "a")))
  }

  test("encodeBpe: piece concatenation reproduces the word (lossless contract)") {
    // Learn real merges on a corpus, encode it, strip the separators:
    // every document must reconstruct its whitespace-normalized text.
    val docs = Seq((1L, "the cat sat"), (2L, "the bat"), (3L, "cat cat sat"))
    val df = docs.toDF("doc_id", "text")
    val base = ('a' to 'z').map(_.toString)
    val merges = learnBpeMerges(df, $"text", base, rounds = 3)
      .orderBy($"round").select($"p1", $"p2")
      .as[(String, String)].collect().toSeq
    assert(merges.size == 3)
    val out = encodeBpe(df, $"text", base, merges)
      .as[(Long, Long, Long, String)].collect().sortBy(_._1)
    for (((id, text), (oid, _, _, enc)) <- docs.sortBy(_._1).zip(out)) {
      assert(oid == id)
      assert(enc.replace("+", "") == text)
    }
  }

  test("encodeBpe: long merge lists cross the checkpoint cadence intact") {
    // 18 merges (> EncodeCheckpointEvery = 16): merge i fuses the
    // accumulated prefix of "abcdefghijklmnopqrs" with its next letter,
    // so only a chain applied fully IN ORDER yields the single piece.
    val word = ('a' to 's').mkString
    val merges = (2 to 19).map(i => (word.take(i - 1), word.substring(i - 1, i)))
    val out = encode(Seq((1L, word)), ('a' to 's').map(_.toString), merges)
    assert(out == Seq((1L, 1L, 1L, word)))
  }
}

class WinnowSpanSpec extends SparkSpec {
  import spark.implicits._
  import graft.operators.TextAnalysis.winnowSharedSpans

  // ~300 chars of 31-token-style prose, no internal repeats long enough
  // to matter.
  private val SrcText = "the quick brown fox jumps over the lazy dog " +
    "while seventeen astronomers catalog distant quasars behind the " +
    "observatory ridge and a cold wind carries the smell of rain across " +
    "the empty parking lot where two students argue about compiler " +
    "internals until midnight closes the library doors firmly"

  test("winnowSharedSpans: recovers an offset-shifted copy that aligned chunk dedup misses") {
    // The q135 planting: one head token + the source's first 240 chars.
    val shifted = "zq " + SrcText.take(240) + " winnow span tail 1"
    val df = Seq((1L, SrcText), (700001L, shifted)).toDF("doc_id", "text")

    // q86's operator on the same pair: the head token shifts every
    // 20-token chunk boundary -> ZERO duplicated chunks (the structural
    // miss this operator exists to close).
    val chunks = graft.operators.Dedup
      .duplicatedChunkStats(df, "text", "doc_id", chunkTokens = 20)
      .as[(Long, Long, Long)].collect()
    assert(chunks.forall(_._3 == 0L),
      s"aligned chunks unexpectedly matched: ${chunks.mkString(",")}")

    // maxDocFreq relaxed: a 2-doc corpus makes every fp df<=2 anyway.
    val spans = winnowSharedSpans(df, "text", "doc_id")
      .as[(Long, Long, Int, Int, Int)].collect()
    assert(spans.nonEmpty, "shared span not recovered")
    // one dominant span covering most of the 240 shared chars, at the
    // +3 offset of the 'zq ' head
    val main = spans.maxBy(_._5)
    assert(main._1 == 1L && main._2 == 700001L)
    assert(main._5 >= 180 && main._5 <= 240,
      s"span_chars ${main._5} outside the shared-run band")
    assert(main._3 - main._4 == -3,
      s"offset ${main._3 - main._4} != -3 (a starts 3 chars before b)")
  }

  test("winnowSharedSpans: two distant shared runs yield two spans, not one") {
    val runA = SrcText.take(120)
    val runB = SrcText.takeRight(120)
    val docA = runA + " xxxx unrelated middle padding one " + runB
    val docB = "completely different head material here " + runA +
      " qqqq other filler of a different length entirely " + runB
    val df = Seq((1L, docA), (2L, docB)).toDF("doc_id", "text")
    val spans = winnowSharedSpans(df, "text", "doc_id")
      .as[(Long, Long, Int, Int, Int)].collect()
    // the two runs sit at DIFFERENT offsets -> distinct (pair, offset)
    // chains -> >= 2 spans of >= ~80 chars each
    assert(spans.count(_._5 >= 80) >= 2,
      s"expected two >=80-char spans, got ${spans.mkString(";")}")
  }

  test("winnowSharedSpans: corpus-hot fingerprints are dropped (boilerplate guard)") {
    // The same 150-char template in 25 docs (> maxDocFreq 20): every
    // span fingerprint is hot -> no spans, by design.
    val tmpl = SrcText.take(150)
    val df = (1L to 25L).map(i => (i, tmpl + s" unique tail $i"))
      .toDF("doc_id", "text")
    val spans = winnowSharedSpans(df, "text", "doc_id").collect()
    assert(spans.isEmpty,
      s"hot boilerplate produced ${spans.length} spans")
    // control: under a raised cap the template pairs DO span
    val open = winnowSharedSpans(df, "text", "doc_id", maxDocFreq = 100)
    assert(open.count() > 0)
  }

  test("winnowFingerprintPositions: value set equals the gated SET kernel's") {
    val texts = Seq(SrcText, "ab", "", "aaaaaaaaaaaaaaaa",
      SrcText.take(40))
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val both = df.select($"doc_id",
        graft.functions.WinnowFunctions.winnowFingerprints($"text").as("s"),
        transform(graft.functions.WinnowFunctions
          .winnowFingerprintPositions($"text"), e => e.getField("fp"))
          .as("p"))
      .as[(Long, Seq[Long], Seq[Long])].collect()
    both.foreach { case (id, set, pos) =>
      assert(pos.distinct.sorted == set.sorted,
        s"doc $id: position-form fps ${pos} != set-form ${set}")
    }
  }

  test("winnowFingerprintPositions: rightmost minimal hash per window, ascending positions") {
    val out = Seq(("abcabc")).toDF("text")
      .select(graft.functions.WinnowFunctions
        .winnowFingerprintPositions($"text", 3, 2).as("e"))
      .select(explode($"e").as("x"))
      .select($"x.fp", $"x.pos").as[(Long, Int)].collect()
    // grams: abc bca cab abc (hashes h1 h2 h3 h1). windows (1,2),(2,3),
    // (3,4): "abc" < "bca","cab" lexic-hash? compute directly instead:
    val h = (g: String) => g.foldLeft(0L)((a, c) => (a * 257 + c) % 2147483647L)
    val hs = Seq("abc", "bca", "cab", "abc").map(h)
    // replay robust winnowing by hand
    val expect = (0 to 2).map { p =>
      val win = hs.slice(p, p + 2)
      val m = win.min
      val arg = (p until p + 2).filter(i => hs(i) == m).max
      (m, arg + 1)
    }.distinct
    assert(out.sortBy(_._2).toSeq == expect.sortBy(_._2))
    assert(out.map(_._2).sorted.sameElements(out.map(_._2)),
      "positions must ascend")
  }

  test("winnowSharedSpans: parameter guards") {
    val df = Seq((1L, "x")).toDF("doc_id", "text")
    intercept[IllegalArgumentException] {
      winnowSharedSpans(df, "text", "doc_id", minSpanChars = 4)
    }
    intercept[IllegalArgumentException] {
      winnowSharedSpans(df, "text", "doc_id", maxGapGrams = 2)
    }
  }
}

class PqSpec extends SparkSpec {
  import spark.implicits._

  // 8-dim vectors assembled from per-subspace PROTOTYPES (subDim=4):
  // each subspace sees only 3 distinct subvectors, so K=4 codebooks can
  // represent the corpus EXACTLY — reconstruction error 0 and ADC ≡
  // exact brute force, a value gate, not just a recall bound. Values
  // are 0.5-step dyadics: dots are exact in double arithmetic, so the
  // per-subspace partial-dot sum equals the whole-vector kernel dot
  // bit for bit.
  private val protos = Seq(
    Seq(1.0f, 0f, 0.5f, 0f), Seq(0f, 1.5f, 0f, 0.5f),
    Seq(0.5f, 0.5f, 1.0f, 0f))
  private lazy val exactCorpus = (0L until 30L).map { i =>
    (i, protos((i % 3).toInt) ++ protos(((i / 3) % 3).toInt))
  }.toDF("vec_id", "embedding")

  test("exactly-encodable corpus: zero reconstruction error, ADC ≡ brute force") {
    val cb = Similarity.pqTrainCodebooks(exactCorpus, dim = 8,
      numSubspaces = 2, codebookSize = 4, iterations = 2)
    val codes = Similarity.pqEncode(exactCorpus, cb, dim = 8)
    assert(codes.count() == 30L)
    // 32x-class compression on this shape: 8 floats -> 2 small ints
    assert(codes.select(size($"codes")).distinct().as[Int].collect()
      .toSeq == Seq(2))
    val queries = exactCorpus.filter($"vec_id" < 5)
    val adc = Similarity.pqAdcTopK(codes, queries, cb, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getInt(2), r.getDouble(3))).toMap
    val exact = Similarity.bruteForceTopK(exactCorpus, queries, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getInt(2), r.getDouble(3))).toMap
    assert(adc == exact,
      s"ADC diverged on an exactly-encodable corpus: " +
        s"adc-only=${(adc.toSet -- exact.toSet).take(3)}, " +
        s"exact-only=${(exact.toSet -- adc.toSet).take(3)}")
  }

  test("pqEncode: deterministic re-encode; Lloyd sweeps do not increase reconstruction error") {
    // noisy two-cluster corpus: prototypes + per-vector jitter
    val rnd = new java.util.Random(7L)
    val emb = (0L until 60L).map { i =>
      val base = if (i % 2 == 0) Seq(5f, 0f, 0f, 0f, 0f, 5f, 0f, 0f)
        else Seq(0f, 0f, 5f, 0f, 0f, 0f, 0f, 5f)
      (i, base.map(_ + rnd.nextFloat() * 0.3f))
    }.toDF("vec_id", "embedding")
    def reconErr(iters: Int): Double = {
      val cb = Similarity.pqTrainCodebooks(emb, dim = 8,
        numSubspaces = 2, codebookSize = 4, iterations = iters)
      val cbMap = cb.collect()
        .map(r => (r.getInt(0), r.getInt(1)) ->
          r.getSeq[Double](2).toArray).toMap
      val vecs = emb.as[(Long, Seq[Float])].collect()
      val codes = Similarity.pqEncode(emb, cb, dim = 8)
        .as[(Long, Seq[Int])].collect().toMap
      vecs.map { case (id, v) =>
        val rec = codes(id).zipWithIndex
          .flatMap { case (c, m) => cbMap((m, c)) }
        v.zip(rec).map { case (a, b) => (a - b) * (a - b) }.sum
      }.sum / vecs.length
    }
    val e0 = reconErr(0)
    val e3 = reconErr(3)
    assert(e3 <= e0 + 1e-9, s"Lloyd increased reconstruction error: $e0 -> $e3")
    assert(e3 < 0.1, s"refined codebooks should fit the jittered clusters: $e3")
    // deterministic re-encode: same codebooks, same codes, twice
    val cb = Similarity.pqTrainCodebooks(emb, dim = 8,
      numSubspaces = 2, codebookSize = 4, iterations = 2)
    val c1 = Similarity.pqEncode(emb, cb, dim = 8)
      .as[(Long, Seq[Int])].collect().toMap
    val c2 = Similarity.pqEncode(emb, cb, dim = 8)
      .as[(Long, Seq[Int])].collect().toMap
    assert(c1 == c2)
  }

  test("PQ recall at the q177/q178 gate parameters; corrupted control trips") {
    // The synthetic embeddings are near-isotropic — PQ's worst case —
    // so the gates encode the published two-stage contract: the ADC
    // shortlist is a coarse ranker (well above the 1% chance floor, far
    // below exact), and the float re-rank recovers the recall the
    // quantization spent. Deterministic end to end: these floors are
    // exact re-runs, not noise bounds.
    val dir = "/root/testdata/sf0.001"
    assume(new java.io.File(s"$dir/embeddings.parquet").exists())
    val emb = graft.sources.Tables.embeddings(spark, dir)
    val queries = emb.filter($"vec_id" < 10)
    val exact = Similarity.bruteForceTopK(emb, queries, 5)
    val cb = Similarity.pqTrainCodebooks(emb, dim = 64,
      numSubspaces = 16, codebookSize = 32, iterations = 3)
    val codes = Similarity.pqEncode(emb, cb, dim = 64)
    def rec(approx: org.apache.spark.sql.DataFrame) =
      Similarity.recallAtK(approx, exact)
        .agg(avg($"recall"), min($"recall")).as[(Double, Double)]
        .collect().head
    val adc = rec(Similarity.pqAdcTopK(codes, queries, cb, 5))
    assert(adc._1 >= 0.3, s"pure-ADC avg recall@5 ${adc._1}: codes carry " +
      "no signal (chance on this fixture is 0.01)")
    val rr50 = rec(Similarity.pqAdcRerankTopK(emb, codes, queries, cb, 5,
      shortlist = 50))
    assert(rr50._1 >= 0.9 && rr50._2 >= 0.6,
      s"re-rank@50 recall collapsed: $rr50")
    val rr100 = rec(Similarity.pqAdcRerankTopK(emb, codes, queries, cb, 5,
      shortlist = 100))
    assert(rr100 == ((1.0, 1.0)),
      s"re-rank@100 must recover the exact top-5 on this fixture: $rr100")
    // control: a corrupted approx frame must trip the same measurement
    val corrupt = Similarity.pqAdcTopK(codes, queries, cb, 5)
      .withColumn("neighbor_id", col("neighbor_id") + lit(100000L))
    val bad = Similarity.recallAtK(corrupt, exact)
      .agg(avg($"recall")).as[Double].collect().head
    assert(bad == 0.0, "the recall measurement failed to trip on garbage")
  }

  test("IVFADC: single-list exactly-encodable corpus ≡ brute force") {
    // numCentroids=1 -> one inverted list, residuals = vector - the one
    // centroid, still assembled from 3 distinct residual prototypes per
    // subspace -> K=4 residual codebooks encode EXACTLY; nprobe=1 covers
    // the whole corpus. Reconstructed cosine must equal the true cosine
    // bit for bit (dyadic values, exact double dots) — a value gate on
    // the centroid+residual reconstruction algebra, not a recall bound.
    val idx = Similarity.buildIvfPqIndex(exactCorpus, dim = 8,
      numCentroids = 1, numSubspaces = 2, codebookSize = 4,
      iterations = 2)
    val queries = exactCorpus.filter($"vec_id" < 5)
    val got = Similarity.probeIvfPq(idx, queries, k = 5, nprobe = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getInt(2), r.getDouble(3))).toMap
    val exact = Similarity.bruteForceTopK(exactCorpus, queries, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getInt(2), r.getDouble(3))).toMap
    assert(got == exact,
      s"IVFADC diverged on an exactly-encodable single-list corpus: " +
        s"got-only=${(got.toSet -- exact.toSet).take(3)}, " +
        s"exact-only=${(exact.toSet -- got.toSet).take(3)}")
    // probe determinism: an identical probe returns identical rows
    val again = Similarity.probeIvfPq(idx, queries, k = 5, nprobe = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getInt(2), r.getDouble(3))).toMap
    assert(again == got)
  }

  test("IVFADC recall at the q220/q221 gate parameters; store round-trip; " +
      "corrupted control trips") {
    val dir = "/root/testdata/sf0.001"
    assume(new java.io.File(s"$dir/embeddings.parquet").exists())
    val emb = graft.sources.Tables.embeddings(spark, dir)
    val queries = emb.filter($"vec_id" < 10)
    val exact = Similarity.bruteForceTopK(emb, queries, 5)
    val idx = Similarity.buildIvfPqIndex(emb, dim = 64,
      numCentroids = 8, numSubspaces = 16, codebookSize = 32,
      iterations = 3)
    def rec(approx: org.apache.spark.sql.DataFrame) =
      Similarity.recallAtK(approx, exact)
        .agg(avg($"recall"), min($"recall")).as[(Double, Double)]
        .collect().head
    // probing ALL lists isolates pure residual-PQ ranking noise: the
    // residual codes must carry real signal (chance floor is 0.01)
    val full = rec(Similarity.probeIvfPq(idx, queries, 5, nprobe = 8))
    assert(full._1 >= 0.3, s"full-probe IVFADC avg recall@5 ${full._1}: " +
      "residual codes carry no signal")
    // the production composition: half the lists + float re-rank
    val rr = rec(Similarity.ivfPqRerankTopK(emb, idx, queries, 5,
      shortlist = 100, nprobe = 4))
    assert(rr._1 >= 0.5, s"IVFADC+R avg recall collapsed: $rr")
    // re-rank cannot recover an IVF probe miss: nprobe=8 (all lists) at
    // the same shortlist strictly dominates or ties
    val rr8 = rec(Similarity.ivfPqRerankTopK(emb, idx, queries, 5,
      shortlist = 100, nprobe = 8))
    assert(rr8._1 >= rr._1 - 1e-12,
      s"probing more lists must not lose recall: $rr vs $rr8")
    assert(rr8 == ((1.0, 1.0)),
      s"all-list shortlist=100 re-rank must recover exact top-5: $rr8")
    // store round-trip: the stored index probes identically, and the
    // probed-lists-ONLY claim holds on the PLAN — the lists scan
    // carries a cid partition filter and reads a strict subset of the
    // list directories (the probeIvfQuantized pruning gate at the
    // IVFADC rung; AQE off so the scans stay visible to collect)
    val path = java.nio.file.Files
      .createTempDirectory("ivfpq").toString
    Similarity.writeIvfPqIndex(idx, path)
    val stored = Similarity.readIvfPqIndex(spark, path)
    val mem = Similarity.probeIvfPq(idx, queries, 5, nprobe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val disk = Similarity.probeIvfPq(stored, queries, 5, nprobe = 4)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(mem == disk, "stored IVFADC index diverged from in-memory")
      // narrow probe (2 queries × nprobe 1 → ≤ 2 lists) for the plan
      // assert: broad probes can legitimately cover all 8 lists
      val narrow = Similarity.probeIvfPq(stored,
        queries.filter($"vec_id" < 2), 5, nprobe = 1)
      narrow.collect()
      val totalCids = stored.lists.select($"cid").distinct().count()
      val scans = narrow.queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec
            if s.metadata("Location").contains("/lists") => s
      }
      assert(scans.nonEmpty, "expected a FileSourceScan over the lists")
      val scan = scans.head
      assert(scan.partitionFilters.exists(_.toString.contains("cid")),
        s"lists scan must carry a cid partition filter: " +
          s"${scan.partitionFilters}")
      val readPartitions = scan.selectedPartitions.partitionCount
      assert(readPartitions <= 2 && readPartitions < totalCids,
        s"probe read $readPartitions of $totalCids partitions — " +
          "ADC ran outside the probed lists")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    // corrupted control: the measurement itself must trip on garbage
    val corrupt = Similarity.probeIvfPq(idx, queries, 5, nprobe = 8)
      .withColumn("neighbor_id", col("neighbor_id") + lit(100000L))
    assert(Similarity.recallAtK(corrupt, exact)
      .agg(avg($"recall")).as[Double].collect().head == 0.0)
  }

  test("pq guards: ragged vectors fail loud, bad shapes rejected, zero-norm queries drop") {
    val ragged = Seq((0L, Seq(1f, 2f, 3f, 4f)), (1L, Seq(1f, 2f)))
      .toDF("vec_id", "embedding")
    val e = intercept[Exception] {
      Similarity.pqTrainCodebooks(ragged, dim = 4, numSubspaces = 2,
        codebookSize = 2, iterations = 1).collect()
    }
    assert(e.getMessage.contains("pq: expected dim"))
    intercept[IllegalArgumentException] {
      Similarity.pqTrainCodebooks(exactCorpus, dim = 8, numSubspaces = 3)
    }
    val cb = Similarity.pqTrainCodebooks(exactCorpus, dim = 8,
      numSubspaces = 2, codebookSize = 4, iterations = 1)
    intercept[IllegalArgumentException] {
      Similarity.pqEncode(exactCorpus, cb, dim = 12)
    }
    // zero-norm query: no direction, no rows — never k garbage ones
    val codes = Similarity.pqEncode(exactCorpus, cb, dim = 8)
    val zq = Seq((99L, Seq.fill(8)(0f))).toDF("vec_id", "embedding")
    assert(Similarity.pqAdcTopK(codes, zq, cb, k = 3).count() == 0L)
  }

  test("appendToIvfPqIndex: old entries bit-identical, new entries are the " +
      "batch, equals the frozen-quantizer encode of the union") {
    val emb = (0L until 100L).map(i =>
      (i, Seq.tabulate(8)(j => (((i * 31 + j * 7) % 97).toFloat / 97f) - 0.4f)))
      .toDF("vec_id", "embedding")
    val base = emb.filter($"vec_id" % 5 =!= 4)
    val batch = emb.filter($"vec_id" % 5 === 4)
    val index = Similarity.buildIvfPqIndex(base, dim = 8, numCentroids = 4,
      numSubspaces = 2, codebookSize = 4, iterations = 2)
    val appended = Similarity.appendToIvfPqIndex(index, batch)
    def entries(l: org.apache.spark.sql.DataFrame) =
      l.select($"cid", $"neighbor_id", $"codes")
        .as[(Long, Long, Seq[Int])].collect().toSet
    val old = entries(index.lists)
    val app = entries(appended.lists)
    assert(old.subsetOf(app), "append must not touch existing lists")
    assert((app -- old).map(_._2) ==
      batch.select($"vec_id").as[Long].collect().toSet,
      "new entries must be exactly the batch")
    // frozen-quantizer equivalence: appending the UNION onto an
    // empty-list clone reproduces the appended lists bit for bit —
    // appends are a fixed-quantizer rebuild, never a drifted one
    val emptyIndex = graft.operators.IvfPqIndex(index.centroids,
      index.codebooks, index.lists.filter(lit(false)))
    assert(entries(Similarity.appendToIvfPqIndex(emptyIndex, emb).lists)
      == app, "append must equal the frozen-quantizer encode of the union")
    // both quantizers ride through untouched
    assert(appended.centroids eq index.centroids)
    assert(appended.codebooks eq index.codebooks)
  }

  test("appendToStoredIvfPqIndex: hive-appends only the batch; read-back " +
      "probes like the in-memory append") {
    val emb = (0L until 100L).map(i =>
      (i, Seq.tabulate(8)(j => (((i * 31 + j * 7) % 97).toFloat / 97f) - 0.4f)))
      .toDF("vec_id", "embedding")
    val base = emb.filter($"vec_id" % 5 =!= 4)
    val batch = emb.filter($"vec_id" % 5 === 4)
    val index = Similarity.buildIvfPqIndex(base, dim = 8, numCentroids = 4,
      numSubspaces = 2, codebookSize = 4, iterations = 2)
    val dir = java.nio.file.Files.createTempDirectory("graft_pqappend").toString
    Similarity.writeIvfPqIndex(index, dir)
    def listFiles() = new java.io.File(s"$dir/lists").listFiles()
      .filter(_.getName.startsWith("cid="))
      .flatMap(_.listFiles()).map(_.getPath).toSet
    val before = listFiles()
    Similarity.appendToStoredIvfPqIndex(spark, dir, batch)
    val after = listFiles()
    assert(before.subsetOf(after), "stored append rewrote existing list files")
    assert(after.size > before.size, "stored append wrote no new files")
    val q = emb.filter($"vec_id" < 5)
    val viaStore = Similarity.probeIvfPq(
        Similarity.readIvfPqIndex(spark, dir), q, 4, nprobe = 3)
      .as[(Long, Long, Int, Double)].collect().toSet
    val viaMem = Similarity.probeIvfPq(
        Similarity.appendToIvfPqIndex(index, batch), q, 4, nprobe = 3)
      .as[(Long, Long, Int, Double)].collect().toSet
    assert(viaStore == viaMem,
      "stored-append probe must reproduce the in-memory append probe")
  }

  test("compactIvfPqIndex: duplicate list ids (double-append) fail loudly " +
      "instead of silently interleaving codewords") {
    val emb = (0L until 40L).map(i =>
      (i, Seq.tabulate(8)(j => (((i * 31 + j * 7) % 97).toFloat / 97f) - 0.4f)))
      .toDF("vec_id", "embedding")
    val base = emb.filter($"vec_id" < 30)
    val batch = emb.filter($"vec_id" >= 30)
    val index = Similarity.buildIvfPqIndex(base, dim = 8, numCentroids = 4,
      numSubspaces = 2, codebookSize = 4, iterations = 1)
    val doubled = Similarity.appendToIvfPqIndex(
      Similarity.appendToIvfPqIndex(index, batch), batch)
    val e = intercept[Exception] {
      Similarity.compactIvfPqIndex(doubled, iterations = 1,
        kmeansIterations = 1)
    }
    val messages = Iterator.iterate(e: Throwable)(_.getCause)
      .takeWhile(_ != null).map(t => Option(t.getMessage).getOrElse(""))
      .mkString(" | ")
    assert(messages.contains("duplicate neighbor_id"),
      s"expected the duplicate-id guard, got: $messages")
    // and the clean single-append index compacts fine through the guard
    Similarity.compactIvfPqIndex(Similarity.appendToIvfPqIndex(index, batch),
      iterations = 1, kmeansIterations = 1).lists
      .write.format("noop").mode("overwrite").save()
  }

  // The int8 compact test's decay geometry at the PQ rung: 8 axis
  // clusters (16-dim), appends deliver a dense blob at the MIDPOINT of
  // clusters 0 and 1 — a new mode on a frozen decision boundary. Under
  // this jitter the blob splits 116/4 between the two boundary lists
  // (minority ids 107, 160, 187, 214 — computed from the formula), so
  // minority-side queries at nprobe=1 miss their cross-list neighbors.
  private def pqJit(i: Long, j: Int, s: Double) =
    ((((i * 37 + j * 13) % 991) / 991.0 - 0.5) * s).toFloat
  private lazy val pqBase = (0L until 96L).map { i =>
    val axis = (i % 8).toInt
    (i, Seq.tabulate(16)(j =>
      (if (j == axis * 2) 10f else 0f) + pqJit(i, j, 1.0)))
  }.toDF("vec_id", "embedding")
  private lazy val pqBlob = (100L until 220L).map { i =>
    (i, Seq.tabulate(16)(j =>
      (if (j == 0 || j == 2) 5f else 0f) + pqJit(i, j, 1.5)))
  }.toDF("vec_id", "embedding")
  // probe set weighted toward the minority list, where the miss lives
  private lazy val pqProbes = pqBlob.filter($"vec_id" < 116 ||
    $"vec_id".isin(160L, 187L, 214L))
  // recall of what the index COULD return (ground truth = brute force
  // over its own reconstruction — maintainIvfPqIndex's gate-2
  // quantity): within probed lists ADC ranks reconstructions exactly,
  // so the loss isolated here is the coarse probe miss compaction
  // repairs. Valid only when the codes are faithful (fixture B's
  // seeded codebooks) — fixture A is exactly the case where this
  // metric goes blind and the error gate must act instead.
  private def pqReconRecall(ix: graft.operators.IvfPqIndex): Double =
    Similarity.recallAtK(
        Similarity.probeIvfPq(ix, pqProbes, 5, nprobe = 1),
        Similarity.bruteForceTopK(Similarity.reconstructPq(ix), pqProbes, 5))
      .agg(avg($"recall")).as[Double].collect()(0)

  test("pqBatchError: a distribution-shifted batch reads ~0.8 against " +
      "frozen codebooks (fixture A); a force-append collapses its " +
      "reconstructions — the silent loss the maintenance gate refuses") {
    val ix = Similarity.buildIvfPqIndex(pqBase, dim = 16, numCentroids = 8,
      numSubspaces = 4, codebookSize = 16, iterations = 2,
      kmeansIterations = 2)
    // the blob's residuals were never seen by the codebooks: most of
    // their energy is unencodable (0.80 measured)
    val blobErr = Similarity.pqBatchError(pqBlob, ix.centroids, ix.codebooks)
    assert(blobErr > 0.5, s"shifted-batch error $blobErr should be high")
    // self-control: the build corpus re-encodes almost losslessly
    val baseErr = Similarity.pqBatchError(pqBase, ix.centroids, ix.codebooks)
    assert(baseErr < 0.1, s"build-corpus self error $baseErr should be low")
    // the counterfactual behind the gate: force the append anyway and
    // the blob's reconstructions collapse toward the coarse centroids
    // (mean cosine vs truth 0.74 measured, vs 0.99 for a seeded encode
    // in the compact test below) — every stored byte still parses, the
    // vectors are just gone. No lists-only operation can undo this.
    val forced = Similarity.appendToIvfPqIndex(ix, pqBlob)
    val fid = Similarity.reconstructPq(forced)
      .filter($"vec_id" >= 100)
      .join(pqBlob.select($"vec_id", $"embedding".as("__true")), Seq("vec_id"))
      .agg(avg(Similarity.cosine($"embedding", $"__true")))
      .as[Double].collect()(0)
    assert(fid < 0.9,
      s"forced-append recon fidelity $fid — expected visible collapse")
    // empty batch: no residual energy, error 0 by definition
    assert(Similarity.pqBatchError(pqBase.filter(lit(false)),
      ix.centroids, ix.codebooks) == 0.0)
  }

  test("compactIvfPqIndex: seeded build -> append -> compact recovers the " +
      "coarse probe miss (fixture B); skip-compact control strictly lower") {
    // fixture B — coarse decay WITHOUT codebook decay: the build corpus
    // includes a 20-member blob seed (kmeansIterations = 0 keeps the 8
    // coarse centroids pure axis vectors, so the seed's purpose is only
    // to teach the CODEBOOKS the blob's residual patterns). The 100
    // appended members then encode faithfully (batch error 0.038,
    // recon cosine vs truth 0.987 measured) but split across the two
    // frozen boundary lists — exactly the decay mode compaction CAN
    // repair, isolated from the one it can't (fixture A).
    val seed = pqBlob.filter($"vec_id" < 120)
    val rest = pqBlob.filter($"vec_id" >= 120)
    val built = Similarity.buildIvfPqIndex(pqBase.unionByName(seed),
      dim = 16, numCentroids = 8, numSubspaces = 4, codebookSize = 16,
      iterations = 2, kmeansIterations = 0)
    // gate 1 would admit this batch: the seeded codebooks encode it
    assert(Similarity.pqBatchError(rest, built.centroids,
      built.codebooks) < 0.1)
    val drifted = Similarity.appendToIvfPqIndex(built, rest)
    val compacted = Similarity.compactIvfPqIndex(drifted,
      iterations = 2, kmeansIterations = 2)
    val driftedR = pqReconRecall(drifted)
    val compactR = pqReconRecall(compacted)
    assert(driftedR < compactR,
      s"skip-compact control: drifted $driftedR not strictly below " +
        s"compacted $compactR — compaction bought nothing on this fixture")
    assert(driftedR <= 0.85,
      s"drifted recall $driftedR — the fixture should show a real miss " +
        "(0.789 measured)")
    assert(compactR >= 0.95,
      s"compacted recall $compactR under the fixture's 0.95 contract")
  }

  test("maintainIvfPqIndex: gate 1 refuses a codebook-decayed batch " +
      "(rebuild, nothing written); gate 2 compacts coarse decay past the " +
      "floor; a fresh append does neither") {
    // gate 1 (fixture A): the unseeded blob cannot be encoded by the
    // stored codebooks -> REFUSED, lists bit-untouched on disk
    val dir1 = java.nio.file.Files.createTempDirectory("graft_pqmaint1").toString
    Similarity.writeIvfPqIndex(Similarity.buildIvfPqIndex(pqBase, dim = 16,
      numCentroids = 8, numSubspaces = 4, codebookSize = 16,
      iterations = 2, kmeansIterations = 2), dir1)
    def listFiles(d: String) = new java.io.File(s"$d/lists").listFiles()
      .filter(_.getName.startsWith("cid="))
      .flatMap(_.listFiles()).map(_.getPath).toSet
    val filesBefore = listFiles(dir1)
    val refused = Similarity.maintainIvfPqIndex(spark, dir1, pqBlob,
      pqProbes, recallFloor = 0.95)
    assert(refused.rebuildNeeded,
      s"batch error ${refused.batchError} should trip the 0.5 ceiling")
    assert(refused.batchError > 0.5 && refused.appended == 0L &&
      !refused.compacted)
    assert(listFiles(dir1) == filesBefore,
      "a refused batch must leave the stored lists bit-untouched")
    assert(refused.recallAfter == refused.recallBefore)

    // gate 2 (fixture B): the seeded index absorbs the batch (error
    // under the ceiling), the split blob drops probed recall under the
    // floor, compaction recovers past it and is what gets STORED
    val seed = pqBlob.filter($"vec_id" < 120)
    val rest = pqBlob.filter($"vec_id" >= 120)
    val dir2 = java.nio.file.Files.createTempDirectory("graft_pqmaint2").toString
    Similarity.writeIvfPqIndex(Similarity.buildIvfPqIndex(
      pqBase.unionByName(seed), dim = 16, numCentroids = 8,
      numSubspaces = 4, codebookSize = 16, iterations = 2,
      kmeansIterations = 0), dir2)
    val decayed = Similarity.maintainIvfPqIndex(spark, dir2, rest,
      pqProbes, recallFloor = 0.95)
    assert(!decayed.rebuildNeeded && decayed.batchError < 0.1,
      s"seeded codebooks should admit the batch: ${decayed.batchError}")
    assert(decayed.appended == 100L)
    assert(decayed.compacted,
      s"recall ${decayed.recallBefore} should be under the 0.95 floor")
    assert(decayed.recallAfter > decayed.recallBefore &&
      decayed.recallAfter >= 0.95,
      s"post-maintenance recall ${decayed.recallAfter} must clear the floor")
    // the compacted index is what is now stored: re-measuring the
    // report's own quantity on a fresh read reproduces recallAfter
    assert(math.abs(
      pqReconRecall(Similarity.readIvfPqIndex(spark, dir2)) -
        decayed.recallAfter) < 1e-9,
      "report.recallAfter must describe the stored index")

    // fresh path: an append matching the frozen structure decays
    // nothing -> admitted, no compaction, report echoes both sides
    val dir3 = java.nio.file.Files.createTempDirectory("graft_pqmaint3").toString
    Similarity.writeIvfPqIndex(Similarity.buildIvfPqIndex(pqBase, dim = 16,
      numCentroids = 8, numSubspaces = 4, codebookSize = 16,
      iterations = 2, kmeansIterations = 2), dir3)
    val moreAxis = (300L until 340L).map { i =>
      val axis = (i % 8).toInt
      (i, Seq.tabulate(16)(j =>
        (if (j == axis * 2) 10f else 0f) + pqJit(i, j, 1.0)))
    }.toDF("vec_id", "embedding")
    val axisProbes = pqBase.filter($"vec_id" < 20)
    val fresh = Similarity.maintainIvfPqIndex(spark, dir3, moreAxis,
      axisProbes, recallFloor = 0.8)
    assert(!fresh.rebuildNeeded && fresh.appended == 40L)
    assert(!fresh.compacted,
      s"fresh-append recall ${fresh.recallBefore} wrongly triggered compaction")
    assert(fresh.recallAfter == fresh.recallBefore)
  }
}

/** DSIR importance resampling (round 20, VERDICT r19 #1 — Xie et al.,
  * NeurIPS 2023): hand-computed hashed-n-gram weights and the
  * deterministic Gumbel-top-k selection.
  */
class DsirSpec extends SparkSpec {
  import spark.implicits._

  /** Independent md5-bucket reimplementation (java MessageDigest, not
    * Spark) so the hand computation shares NO code with the operator.
    */
  private def bucketOf(s: String, buckets: Long): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    java.lang.Long.parseLong(hex.substring(0, 15), 16) % buckets
  }

  /** Spark's round() is HALF_UP (away from zero) — math.round is not,
    * for negatives.
    */
  private def q6(x: Double): Long =
    BigDecimal(x * 1e6)
      .setScale(0, scala.math.BigDecimal.RoundingMode.HALF_UP).toLong

  private def grams(text: String): Seq[String] = {
    val t = text.split("\\s+").filter(_.nonEmpty).toSeq
    t ++ t.sliding(2).filter(_.size == 2).map(_.mkString(" "))
  }

  test("dsirWeights: hand-computed add-1 log-ratios, exact integer " +
      "per-doc sums, zero-token pass-through") {
    val corpus = Seq(
      (1L, "aa bb aa"), (2L, "cc dd"), (3L, "aa bb"),
      (4L, "  "), // zero tokens -> (0, 0, 0.0)
      (5L, "bb cc")).toDF("doc_id", "text")
    val target = corpus.filter(col("doc_id") === 1L)
    val B = 64
    // hand model: corpus/target bucket counts over unigrams + bigrams
    val docGrams = Map(
      1L -> grams("aa bb aa"), 2L -> grams("cc dd"),
      3L -> grams("aa bb"), 4L -> Seq.empty[String],
      5L -> grams("bb cc"))
    val qc = docGrams.values.flatten.toSeq
      .groupBy(bucketOf(_, B)).view.mapValues(_.size.toLong).toMap
    val pc = docGrams(1L).groupBy(bucketOf(_, B))
      .view.mapValues(_.size.toLong).toMap
    val qTot = qc.values.sum
    val pTot = pc.values.sum
    def qlr(b: Long): Long = q6(
      math.log(pc.getOrElse(b, 0L) + 1.0) - math.log(pTot + 64.0) -
        math.log(qc(b) + 1.0) + math.log(qTot + 64.0))
    val expected = docGrams.map { case (id, gs) =>
      id -> gs.groupBy(bucketOf(_, B)).map { case (b, g) =>
        g.size.toLong * qlr(b)
      }.sum
    }
    val out = Sampling.dsirWeights(corpus, target, buckets = B)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(out.keySet == Set(1L, 2L, 3L, 4L, 5L))
    for ((id, gs) <- docGrams) {
      assert(out(id)._1 == gs.size.toLong,
        s"doc $id n_features ${out(id)._1} != ${gs.size}")
      assert(out(id)._2 == expected(id),
        s"doc $id log_weight_q ${out(id)._2} != hand ${expected(id)}")
      assert(out(id)._3 == expected(id).toDouble / 1e6)
    }
    // the target-resembling docs score ABOVE the unlike ones: doc 3 is
    // a sub-bag of the target, doc 2 is disjoint from it
    assert(out(3L)._2 > out(2L)._2,
      "a target-like document must outweigh a disjoint one")
    assert(out(4L) == ((0L, 0L, 0.0)))
  }

  test("dsirWeights: fail-loud contract on degenerate inputs") {
    val corpus = Seq((1L, "aa bb")).toDF("doc_id", "text")
    val empty = corpus.filter(col("doc_id") === 99L)
    val e1 = intercept[IllegalArgumentException] {
      Sampling.dsirWeights(corpus, empty)
    }
    assert(e1.getMessage.contains("target has no tokens"))
    val e2 = intercept[IllegalArgumentException] {
      Sampling.dsirWeights(empty, corpus)
    }
    assert(e2.getMessage.contains("corpus has no tokens"))
    val e3 = intercept[IllegalArgumentException] {
      Sampling.dsirWeights(corpus, corpus, smoothing = 0.0)
    }
    assert(e3.getMessage.contains("ln(0)"))
  }

  test("dsirResample: hand-computed Gumbel keys, exact top-k, " +
      "reproducible across runs") {
    val corpus = Seq(
      (1L, "aa bb aa bb"), (2L, "aa bb"), (3L, "cc dd"),
      (4L, "dd ee"), (5L, "ee ff"), (6L, "ff aa")).toDF("doc_id", "text")
    val target = corpus.filter(col("doc_id") <= 2L)
    val w = Sampling.dsirWeights(corpus, target, buckets = 64)
    val lwq = w.collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    // hand keys: u = (md5-bucket(id:dsir) + 0.5)/1e4, key =
    // round((lw/1e6 - ln(-ln u)) * 1e6)
    val handKeys = lwq.map { case (id, lq) =>
      val u = (bucketOf(s"$id:dsir", 10000L) + 0.5) / 10000.0
      id -> q6(lq.toDouble / 1e6 + -math.log(-math.log(u)))
    }
    val handTop = handKeys.toSeq
      .sortBy { case (id, k) => (-k, id) }.take(3)
    val out = Sampling.dsirResample(w, n = 3)
      .select("doc_id", "key_q", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      .sortBy(_._3)
    assert(out.map(_._1).toSeq == handTop.map(_._1),
      s"selection ${out.toSeq} != hand ${handTop}")
    assert(out.map(_._2).toSeq == handTop.map(_._2), "key mismatch")
    assert(out.map(_._3).toSeq == Seq(1, 2, 3))
    // reproducible: the draw is a pure function of the ids
    val again = Sampling.dsirResample(w, n = 3)
      .select("doc_id", "key_q", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sortBy(_._3)
    assert(again.toSeq == out.toSeq, "resample not deterministic")
  }
}

/** ExactSubstr dedup (round 20, VERDICT r19 #2 — Lee et al. 2021 §4.1):
  * hand-checked window islands, the canonical-keep excision, and the
  * winnowing-miss-band catch that motivates the operator.
  */
class ExactSubstrSpec extends SparkSpec {
  import spark.implicits._

  private val fixture = Seq(
    (1L, "aa bb cc dd p q r"),            // shares [aa bb cc dd] with 2
    (2L, "u v aa bb cc dd"),
    (3L, "m xx yy zz xx yy zz n"),        // self-repeat, windows 2 and 5
    (4L, "totally unique words here"))

  test("repeatedSpans: hand-checked cross-doc and self-repeat islands") {
    val out = Dedup.repeatedSpans(fixture.toDF("doc_id", "text"),
        minTokens = 3).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3),
        r.getLong(4))).toSet
    // doc 1: windows 1,2 flagged -> span tokens 1..4; doc 2: windows
    // 3,4 -> 3..6; doc 3: [xx yy zz] at 2 and 5, gap 3 <= L -> ONE
    // island 2..7 (the self-repeat merge); doc 4: nothing
    assert(out == Set(
      (1L, 1, 4, 4, 2L), (2L, 3, 6, 4, 2L), (3L, 2, 7, 6, 2L)),
      s"got $out")
  }

  test("exciseRepeatedSpans: canonical min-(id,pos) survives, other " +
      "occurrences excised, untouched docs byte-exact") {
    val out = Dedup.exciseRepeatedSpans(fixture.toDF("doc_id", "text"),
        minTokens = 3).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getInt(2))).toMap
    // doc 1 holds every canonical -> byte-exact pass-through
    assert(out(1L) == (("aa bb cc dd p q r", 0)))
    // doc 2's copies excised: tokens 3..6 go
    assert(out(2L) == (("u v", 4)))
    // doc 3 keeps the FIRST phrase (canonical window 2), loses the
    // second occurrence's island (window 5 -> tokens 5..7)
    assert(out(3L) == (("m xx yy zz n", 3)))
    assert(out(4L) == (("totally unique words here", 0)))
  }

  test("repeatedSpans: short docs emit nothing; 1-token threshold " +
      "rejected loud") {
    val df = Seq((1L, "one two"), (2L, "one two")).toDF("doc_id", "text")
    assert(Dedup.repeatedSpans(df, minTokens = 3).count() == 0L)
    // at L=2 the shared 2-gram IS a span
    assert(Dedup.repeatedSpans(df, minTokens = 2).count() == 2L)
    val e = intercept[IllegalArgumentException] {
      Dedup.repeatedSpans(df, minTokens = 1)
    }
    assert(e.getMessage.contains("repeated word"))
  }

  test("repeatedSpans catches the winnowing miss band (shared spans in " +
      "[k, w+k-2] chars) and agrees with winnowing on guaranteed spans") {
    val shared = "quick brown foxes" // 17 chars: inside [16, 22] at k=16,w=8
    val longShared =
      "zebra yankee xray whiskey victor uniform tango sierra" // 54 >= 23
    val df = Seq(
      (1L, s"the first document context $shared more words following"),
      (2L, s"another unrelated opening $shared trailing content lines"),
      (3L, s"left context $longShared right side text"),
      (4L, s"different beginning $longShared other ending")
    ).toDF("doc_id", "text")
    val winnow = TextAnalysis.winnowSharedSpans(df, "text", "doc_id",
        minSpanChars = 16, maxDocFreq = 20, maxGapGrams = 16, k = 16, w = 8)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val flaggedDocs = Dedup.repeatedSpans(df, minTokens = 3)
      .select("doc_id").as[Long].collect().toSet
    // the documented winnowing miss: a 17-char shared span sits below
    // the w+k-1 = 23 char guarantee and the sampled fingerprints skip it
    assert(!winnow.contains((1L, 2L)),
      "fixture no longer demonstrates the miss band — winnow caught it")
    // ...while the full-guarantee operator flags it in both documents
    assert(Set(1L, 2L).subsetOf(flaggedDocs),
      s"ExactSubstr missed the planted short span: $flaggedDocs")
    // and on a span above the winnowing guarantee both operators agree
    assert(winnow.contains((3L, 4L)))
    assert(Set(3L, 4L).subsetOf(flaggedDocs))
  }
}

/** OPQ rotation (round 20, VERDICT r19 #7 — Ge et al., CVPR 2013):
  * orthogonality and the quantization-error win on planted anisotropic
  * embeddings; rows-only q239 carries the recall artifact.
  */
class OpqSpec extends SparkSpec {
  import spark.implicits._

  // adversarial grouping: subspace 1 holds BOTH σ=10 coordinates,
  // subspace 2 both σ=0.1 — by AM-GM, re-pairing big with small beats
  // this, which is exactly the rebalancing OPQ exists to find
  private def planted = {
    val rnd = new scala.util.Random(42)
    (0 until 300).map { i =>
      (i.toLong, Seq(10.0 * rnd.nextGaussian(), 10.0 * rnd.nextGaussian(),
        0.1 * rnd.nextGaussian(), 0.1 * rnd.nextGaussian()))
    }.toDF("vec_id", "embedding")
  }

  test("opqRotation: RᵀR = I to 1e-8, and beats identity PQ on " +
      "variance-imbalanced subspaces") {
    val df = planted
    val rot = Similarity.opqRotation(df, dim = 4, numSubspaces = 2,
      codebookSize = 8, iterations = 4, pqIterations = 3)
    val n = rot.size
    for (i <- 0 until n; j <- 0 until n) {
      val v = (0 until n).map(k => rot(k)(i) * rot(k)(j)).sum
      val expect = if (i == j) 1.0 else 0.0
      assert(math.abs(v - expect) < 1e-8, s"RᵀR($i,$j) = $v")
    }
    val errId = Similarity.pqReconstructionError(df,
      Similarity.pqTrainCodebooks(df, 4, 2, 8, 3))
    val rotated = Similarity.applyRotation(df, rot)
    val errOpq = Similarity.pqReconstructionError(rotated,
      Similarity.pqTrainCodebooks(rotated, 4, 2, 8, 3))
    assert(errOpq < errId * 0.9,
      s"OPQ must beat the adversarial grouping: opq $errOpq vs " +
        s"identity $errId")
  }

  test("applyRotation: identity no-op, learned rotation preserves norms") {
    val df = planted
    val id4 = Seq.tabulate(4, 4)((i, j) => if (i == j) 1.0 else 0.0)
    val same = Similarity.applyRotation(df, id4)
      .select($"vec_id", $"embedding").as[(Long, Seq[Double])]
      .collect().toMap
    val orig = df.as[(Long, Seq[Double])].collect().toMap
    orig.foreach { case (id, v) =>
      v.zip(same(id)).foreach { case (a, b) =>
        assert(math.abs(a - b) < 1e-12, s"identity rotation moved $id")
      }
    }
    val rot = Similarity.opqRotation(df, dim = 4, numSubspaces = 2,
      codebookSize = 4, iterations = 2, pqIterations = 2)
    val rotated = Similarity.applyRotation(df, rot)
      .as[(Long, Seq[Double])].collect().toMap
    orig.foreach { case (id, v) =>
      val n0 = v.map(x => x * x).sum
      val n1 = rotated(id).map(x => x * x).sum
      assert(math.abs(n0 - n1) < 1e-6 * (1.0 + n0),
        s"rotation not isometric on $id: $n0 vs $n1")
    }
  }
}

/** ExactSubstr decontamination (round 20): hand positions, the
  * full-guarantee complement of the winnowing span decontaminator.
  */
class ExactDecontaminateSpec extends SparkSpec {
  import spark.implicits._

  test("exactSubstrContamination: hand-checked excerpt positions") {
    val docs = Seq(
      (1L, "w1 w2 aa bb cc dd ee ff w3"),
      (2L, "nothing shared at all right here")).toDF("doc_id", "text")
    val bench = Seq((10L, "zz aa bb cc dd ee ff")).toDF("bench_id", "text")
    val out = Decontaminate.exactSubstrContamination(docs, bench,
        minTokens = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3),
        r.getInt(4), r.getLong(5))).toSet
    // shared run "aa bb cc dd ee ff": doc tokens 3..8, bench 2..7 —
    // 4 aligned L=3 windows at one offset merge into one span
    assert(out == Set((1L, 10L, 3, 2, 6, 4L)), s"got $out")
  }

  test("exactSubstrContamination catches a 3-token leak below the " +
      "winnowing guarantee; clean docs report nothing") {
    val docs = Seq(
      (1L, "some document text quick brown foxes and other words"),
      (2L, "completely clean content")).toDF("doc_id", "text")
    val bench = Seq((9L, "eval item mentioning quick brown foxes only"))
      .toDF("bench_id", "text")
    val out = Decontaminate.exactSubstrContamination(docs, bench,
        minTokens = 3)
      .select("doc_id", "span_tokens").as[(Long, Int)].collect().toSet
    assert(out == Set((1L, 3)), s"got $out")
  }
}
