package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Custom-expression correctness: interpreted eval vs codegen, SQL
  * registration via GraftExtensions, and parity with the built-in HOF
  * formulations they replace.
  */
class VectorFunctionsSpec extends SparkSpec {
  import spark.implicits._

  test("dotProduct ≡ zip_with+aggregate, bit-for-bit") {
    val df = Seq((Seq(1.5f, -2f, 3f), Seq(0.5f, 4f, -1f))).toDF("a", "b")
    val hof = df.select(aggregate(
      zip_with($"a", $"b", (p, q) => p.cast("double") * q.cast("double")),
      lit(0.0), (acc, v) => acc + v)).as[Double].collect()(0)
    val custom = df.select(VectorFunctions.dotProduct($"a", $"b"))
      .as[Double].collect()(0)
    assert(custom == hof)
    assert(custom == 1.5 * 0.5 + (-2.0) * 4.0 + 3.0 * (-1.0))
  }

  test("minhashSignature: k mins, stable, permutation-invariant") {
    val df = Seq(Seq("aa", "bb", "cc"), Seq("cc", "aa", "bb")).toDF("sh")
    val sigs = df.select(VectorFunctions.minhashSignature($"sh", 8))
      .as[Seq[Long]].collect()
    assert(sigs(0).length == 8)
    assert(sigs(0) == sigs(1)) // set semantics: order must not matter
  }

  test("sortedIntersectCount: merge semantics") {
    val df = Seq(
      (Seq(1L, 3L, 5L, 9L), Seq(2L, 3L, 9L, 11L)),
      (Seq.empty[Long], Seq(1L))).toDF("a", "b")
    val out = df.select(VectorFunctions.sortedIntersectCount($"a", $"b"))
      .as[Int].collect()
    assert(out.toSeq == Seq(2, 0))
  }

  test("simhash60 matches the md5-hex definition the oracle uses") {
    // independent recomputation of the 60-bit md5 hash for one token
    def hash60(s: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.substring(0, 15), 16)
    }
    val h = Seq(Seq("tok")).toDF("t")
      .select(VectorFunctions.simhash60($"t")).as[Long].collect()(0)
    // single token: simhash = the token's own bit pattern (every bit
    // votes +1 where set, -1 where clear)
    assert(h == hash60("tok"))
  }

  test("multiple dot_products in one codegen stage compile cleanly") {
    // Regression: the codegen accumulator local must be freshName'd —
    // with NON-NULLABLE children nullSafeCodeGen emits the block without
    // enclosing braces, so a hardcoded `double acc` would be redeclared
    // by the second dot in the same stage (generated-code compile error →
    // silent interpreted fallback). fallback=false turns that into a
    // test failure; non-foldable non-nullable inputs (range id) keep the
    // optimizer from constant-folding the dots away.
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val a = array(($"id" + 1).cast("float"), lit(2.0f))
      val b = array(lit(3.0f), lit(4.0f))
      val row = spark.range(1).select(
        VectorFunctions.dotProduct(a, b).as("ab"),
        VectorFunctions.dotProduct(a, a).as("aa"),
        VectorFunctions.dotProduct(b, b).as("bb")).collect()(0)
      assert(row.getDouble(0) == 11.0)
      assert(row.getDouble(1) == 5.0)
      assert(row.getDouble(2) == 25.0)
    } finally spark.conf.unset("spark.sql.codegen.fallback")
  }

  test("token_stats ≡ split/filter/aggregate HOF formulation") {
    val df = Seq(
      Some("the quick brown fox"),
      Some("  leading and trailing  "),
      Some("tabs\tand\nnewlines\r\nmixedvtab\ffeed"),
      Some(""), Some(" \t "), Some("single"),
      Some("unicode: héllo wörld 中文字 🦀 a"),
      Some("the the the"),
      Some("With Upper THE case on with"),
      None).toDF("t")
    val toks = filter(split($"t", "\\s+"), x => x =!= "")
    val hof = df.select(
      size(toks).as("n"),
      aggregate(toks, lit(0L), (acc, x) => acc + length(x)).as("c"),
      size(filter(toks,
        x => x.isin(TokenStatsExpr.DefaultStopwords: _*))).as("s"),
      size(filter(toks, x => x.rlike("[A-Za-z]"))).as("al"))
      .collect()
    val kernel = df.select(TextStatsFunctions.tokenStats($"t").as("st"))
      .select($"st.n_tokens", $"st.token_chars", $"st.stopword_hits",
        $"st.alpha_tokens")
      .collect()
    hof.zip(kernel).foreach { case (h, k) =>
      assert(h.isNullAt(0) == k.isNullAt(0))
      if (!h.isNullAt(0)) {
        assert(k.getInt(0) == h.getInt(0), s"n_tokens: $k vs $h")
        assert(k.getLong(1) == h.getLong(1), s"token_chars: $k vs $h")
        assert(k.getInt(2) == h.getInt(2), s"stopword_hits: $k vs $h")
        assert(k.getInt(3) == h.getInt(3), s"alpha_tokens: $k vs $h")
      }
    }
  }

  test("winnow fingerprints: shared run guarantees a shared fingerprint") {
    // guarantee: any common character run of length >= w+k-1 (= 11 at
    // k=8, w=4) yields at least one common fingerprint
    val shared = "thequickbrownfoxjumpedoverthelazydog" // 36-char run
    val df = Seq(
      "AAAA " + shared + " BBBB",
      "xyzzy 12345 " + shared,
      "completely unrelated content with nothing in common at all here")
      .toDF("t")
      .select(WinnowFunctions.winnowFingerprints($"t").as("fp"))
    val fps = df.as[Seq[Long]].collect()
    assert((fps(0).toSet & fps(1).toSet).nonEmpty,
      "docs sharing a long run must share a fingerprint")
    assert((fps(0).toSet & fps(2).toSet).isEmpty,
      "unrelated docs should not collide at these sizes")
    // deterministic, sorted, distinct
    assert(fps(0) == fps(0).distinct.sorted)
  }

  test("winnowOverlapPairs: excerpt attributed to its source, nothing else") {
    // doc 3 is mostly a verbatim excerpt of doc 1 → high CONTAINMENT
    // even though its global Jaccard vs doc 1 is mediocre
    val src = "the quick brown fox jumps over the lazy dog while the " +
      "rain falls steadily on the quiet village rooftops all night long"
    val docs = Seq(
      (1L, src),
      (2L, "totally different material about distributed query engines " +
        "and their optimizers running on large clusters of machines"),
      (3L, src.substring(20, 90) + " tail"))
      .toDF("doc_id", "text")
    val pairs = graft.operators.TextAnalysis
      .winnowOverlapPairs(docs, "text", "doc_id", minContainment = 0.5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 3L)),
      s"excerpt must pair with its source only, got $pairs")
  }

  test("winnowOverlapPairs: df-cap drops boilerplate via broadcast HOT anti-join") {
    // 25 docs share a boilerplate header (df = 25 > maxDocFreq = 20);
    // docs 100/101 additionally share a genuine long excerpt. With the
    // cap on, boilerplate fingerprints are anti-joined away, so ONLY
    // the genuine pair survives; with the cap effectively off, the
    // boilerplate alone links every header-carrying pair.
    val header = "this message and any attachments are confidential and " +
      "intended solely for the use of the individual addressed herein"
    val excerpt = "meanwhile the migration of the wildebeest across the " +
      "serengeti follows the seasonal rains in a great clockwise loop"
    val boiler = (1L to 25L).map { i =>
      // per-doc body is a run of one UNIQUE letter — no cross-doc runs
      val c = ('a' + i.toInt).toChar.toString
      (i, header + " " + c * 30)
    }
    val docs = (boiler ++ Seq(
      (100L, "intro words first " + excerpt),
      (101L, excerpt + " trailing commentary afterwards")))
      .toDF("doc_id", "text")

    val capped = graft.operators.TextAnalysis
      .winnowOverlapPairs(docs, "text", "doc_id",
        minContainment = 0.5, maxDocFreq = 20)
    // the hot list rides a broadcast LEFT ANTI join (never a
    // corpus-sized broadcast of the rare-fingerprint complement)
    val plan = capped.queryExecution.executedPlan.toString
    assert(plan.contains("LeftAnti"), s"expected broadcast anti-join:\n$plan")
    val cappedPairs =
      capped.select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(cappedPairs == Set((100L, 101L)),
      s"df-cap must keep only the genuine excerpt pair, got $cappedPairs")

    val uncapped = graft.operators.TextAnalysis
      .winnowOverlapPairs(docs, "text", "doc_id",
        minContainment = 0.5, maxDocFreq = 1000)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(uncapped.contains((100L, 101L)) && uncapped.size > 1,
      s"without the cap boilerplate must link header pairs, got $uncapped")
  }

  test("topKBy: NaN scores rank first deterministically (match sort semantics)") {
    // IEEE comparisons are all false vs NaN — the buffer previously let
    // a tail NaN block every later insert, making results depend on
    // arrival order. Double.compare orders NaN largest, like ORDER BY
    // score DESC. Run the same data through both row orders.
    import graft.functions.TopKAggregate
    for (rows <- Seq(
      Seq((2L, 0.9), (1L, Double.NaN), (3L, 0.95)),
      Seq((3L, 0.95), (2L, 0.9), (1L, Double.NaN)))) {
      val got = rows.toDF("id", "s").repartition(1)
        .agg(TopKAggregate.topKBy($"id", $"s", 2).as("t"))
        .select(expr("transform(t, x -> x.id)")).as[Seq[Long]].collect()(0)
      assert(got == Seq(1L, 3L), s"order $rows gave $got")
    }
  }

  test("custom expressions reject wrong input types at analysis time") {
    // every SQL-registered kernel must fail with a message naming the
    // function, not a ClassCastException inside eval/codegen
    val bad = Seq(
      "dot_product(1, 2)" -> "dot_product",
      "simhash60('x')" -> "simhash60",
      "sorted_intersect_count(array('a'), array('b'))" -> "sorted_intersect_count",
      "minhash_signature(7, 4)" -> "minhash_signature",
      "token_stats(array('x'))" -> "token_stats",
      "top_token_count('x')" -> "top_token_count",
      "winnow_fingerprints(array(1L), 8, 4)" -> "winnow_fingerprints",
      "word_shingles(5, 3)" -> "word_shingles",
      "token_chunks(5, 3)" -> "token_chunks")
    bad.foreach { case (sql, name) =>
      val e = intercept[Exception](spark.sql(s"SELECT $sql").collect())
      assert(e.getMessage.contains(name) ||
        e.getMessage.toLowerCase.contains("requires"),
        s"$sql: ${e.getMessage.take(200)}")
    }
    // and invalid scalar parameters are rejected with a clear require
    intercept[Exception](
      spark.sql("SELECT winnow_fingerprints('abc', 8, 0)").collect())
    intercept[Exception](
      spark.sql("SELECT hyperplane_bands(array(1.0), 4, 72)").collect())
  }

  test("newly registered SQL surface: shingles, grams, band rows, topk_by") {
    val row = spark.sql(
      """SELECT size(word_shingles('a b c d', 3)) AS ws,
        |       size(hashed_char_grams('abcd', 3)) AS hg""".stripMargin)
      .collect()(0)
    assert(row.getInt(0) == 2 && row.getInt(1) == 2)
    // multiplicity form: "x y x y" 2-shingles = [x y, y x, x y] — kept
    val all = spark.sql("SELECT word_shingles_all('x y x y', 2)")
      .as[Seq[String]].collect()(0)
    assert(all == Seq("x y", "y x", "x y"))
    val bands = spark.sql(
      """SELECT hyperplane_band_rows(array(CAST(1.0 AS FLOAT),
        |  CAST(0.5 AS FLOAT)), 4, 8)""".stripMargin).collect()
    assert(bands.length == 4)
    val topk = spark.sql(
      """SELECT topk_by(id, s, 2) AS t FROM VALUES
        |  (1L, 0.5D), (2L, 0.9D), (3L, 0.7D) AS v(id, s)""".stripMargin)
      .selectExpr("transform(t, x -> x.id)").as[Seq[Long]].collect()(0)
    assert(topk == Seq(2L, 3L))
    val chunks = spark.sql("SELECT token_chunks('a b c d e', 2)")
      .as[Seq[String]].collect()(0)
    assert(chunks == Seq("a b", "c d", "e"))
    val mink = spark.sql(
      """SELECT min_k_distinct(v, 3) FROM VALUES
        |  (9L), (1L), (5L), (1L), (7L), (2L) AS t(v)""".stripMargin)
      .as[Seq[Long]].collect()(0)
    assert(mink == Seq(1L, 2L, 5L), "ascending distinct bottom-k")
  }

  test("token_chunks: exact cover, partial tail, whitespace runs, empty") {
    val out = Seq(
      "a b c d",          // exact multiple: 2 chunks
      "a b c d e",        // partial tail chunk
      "  a \t b  ",       // whitespace runs and padding collapse
      "solo",             // shorter than one chunk
      "")                 // token-free: empty array
      .toDF("t").select(ShingleFunctions.tokenChunks($"t", 2))
      .as[Seq[String]].collect()
    assert(out(0) == Seq("a b", "c d"))
    assert(out(1) == Seq("a b", "c d", "e"))
    assert(out(2) == Seq("a b"))
    assert(out(3) == Seq("solo"))
    assert(out(4) == Seq())
    // concatenating the chunks reproduces the token stream exactly
    val round = Seq("x1 x2 x3 x4 x5 x6 x7").toDF("t")
      .select(array_join(ShingleFunctions.tokenChunks($"t", 3), " "))
      .as[String].collect()(0)
    assert(round == "x1 x2 x3 x4 x5 x6 x7")
  }

  test("SQL registration via GraftExtensions") {
    val out = spark.sql(
      """SELECT dot_product(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)),
        |                   array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT))) AS d,
        |       simhash60(array('tok')) AS s,
        |       sorted_intersect_count(array(1L, 2L), array(2L, 3L)) AS c,
        |       size(minhash_signature(array('aa'), 4)) AS m""".stripMargin)
      .collect()(0)
    assert(out.getDouble(0) == 11.0)
    assert(out.getLong(1) != 0L)
    assert(out.getInt(2) == 1)
    assert(out.getInt(3) == 4)
  }

  test("vocab SQL surface: in_vocab_count, subword_stats, constant-only vocab") {
    val row = spark.sql(
      """SELECT in_vocab_count(array('the', 'cat', 'dog'),
        |         array('the', 'dog')) AS hits,
        |       subword_stats(array('customer', 'small'),
        |         array('cust', 'omer', 'sma')) AS s""".stripMargin)
      .selectExpr("hits", "s.n_words", "s.n_pieces", "s.n_unk")
      .collect()(0)
    assert(row.getInt(0) == 2)
    assert(row.getInt(1) == 2)  // customer, small
    assert(row.getInt(2) == 5)  // cust+omer, sma+l+l
    assert(row.getInt(3) == 2)  // the two unknown l's
    val pieces = spark.sql(
      """SELECT subword_pieces(array('customer', 'small'),
        |         array('cust', 'omer', 'sma')) AS p""".stripMargin)
      .collect()(0).getSeq[Seq[String]](0)
    assert(pieces == Seq(Seq("cust", "omer"), Seq("sma", "l", "l")))
    // a column-valued vocabulary is a usage error, not a silent fallback
    val e = intercept[Exception] {
      spark.sql(
        """SELECT in_vocab_count(array(t), array(t))
          |FROM VALUES ('x') AS v(t)""".stripMargin).collect()
    }
    assert(e.getMessage.contains("constant string array"))
  }

  test("int8_quantize SQL surface: struct(scale, codes), int codes dot") {
    val row = spark.sql(
      """SELECT int8_quantize(array(CAST(0.5 AS FLOAT),
        |         CAST(-1.0 AS FLOAT))) AS q""".stripMargin)
      .selectExpr("q.scale", "q.codes",
        "dot_product(q.codes, q.codes) AS sumsq")
      .collect()(0)
    assert(math.abs(row.getDouble(0) - 1.0 / 127.0) < 1e-15)
    assert(row.getSeq[Int](1) == Seq(64, -127))
    assert(row.getDouble(2) == 64.0 * 64 + 127.0 * 127)
  }

  test("nearestCentroidId ≡ array_max(struct(cosine, -cid)) HOF form") {
    // the exact round-21 HOF formulation the round-22 kernel replaces:
    // parity must hold bit-for-bit, including the lowest-cid tie-break;
    // the zero-norm-centroid degenerate must keep the ANSI fail-loud
    val cids = Seq(7L, 3L, 11L)
    val cents = Seq(Seq(1.0, 0.0), Seq(0.0, 1.0), Seq(1.0, 1.0))
    def hof(v: org.apache.spark.sql.Column, cs: Seq[Long],
        vs: Seq[Seq[Double]]) = {
      val arr = array(cs.zip(vs).map { case (c, cv) =>
        struct(lit(c).as("cid"), typedLit(cv).as("__cv"))
      }: _*)
      array_max(transform(arr, e =>
        struct((VectorFunctions.dotProduct(v, e.getField("__cv")) /
          (sqrt(VectorFunctions.dotProduct(v, v)) *
            sqrt(VectorFunctions.dotProduct(e.getField("__cv"),
              e.getField("__cv"))))).as("s"),
          (e.getField("cid") * lit(-1)).as("nc")))).getField("nc") * lit(-1)
    }
    val df = Seq(
      Seq(2.0f, 0.1f),   // nearest: (1,0) -> cid 7
      Seq(0.1f, 2.0f),   // nearest: (0,1) -> cid 3
      Seq(3.0f, 3.0f),   // nearest: (1,1) -> cid 11
      Seq(1.0f, -1.0f)). // same |cos| to 7 and 3: exercises comparisons
      toDF("v")
    val both = df.select(
      PqFunctions.nearestCentroidId($"v", cids, cents).as("k"),
      hof($"v", cids, cents).as("h")).collect()
    both.foreach { r =>
      assert(r.getLong(0) == r.getLong(1), s"kernel vs HOF: $r")
    }
    assert(both.map(_.getLong(0)).toSeq == Seq(7L, 3L, 11L, 7L))
    // exact-tie tie-break: two IDENTICAL centroids -> lowest cid wins,
    // matching max_by(struct(cosine, -cid))
    val tie = df.limit(1).select(PqFunctions.nearestCentroidId($"v",
      Seq(9L, 4L), Seq(Seq(1.0, 0.5), Seq(1.0, 0.5))).as("t")).collect()
    assert(tie(0).getLong(0) == 4L)
    // zero-norm centroid: ANSI division-by-zero stays fail-loud (the
    // HOF form threw SparkArithmeticException under ANSI)
    val e = intercept[Exception] {
      df.select(PqFunctions.nearestCentroidId($"v",
        Seq(1L, 2L), Seq(Seq(1.0, 0.0), Seq(0.0, 0.0)))).collect()
    }
    assert(e.getMessage.toLowerCase.contains("zero"))
  }

  test("nearestCentroidId rejects a vector of the wrong dimension") {
    // a dot truncated to the shorter length would pick a centroid
    // (cid 1 here) instead of failing; both the interpreted path (a
    // local relation folds at planning) and the generated one must throw
    val cids = Seq(1L, 2L)
    val cents = Seq(Seq(1.0, 0.0, 0.0), Seq(0.0, 1.0, 0.0))
    for (v <- Seq(Seq(1.0f, 0.0f), Seq(1.0f, 0.0f, 0.0f, 5.0f))) {
      val df = Seq(v).toDF("v")
      for (in <- Seq(df, df.repartition(1))) {
        val e = intercept[Exception] {
          in.select(PqFunctions.nearestCentroidId($"v", cids, cents)).collect()
        }
        assert(e.getMessage.contains(s"vector dim ${v.length}, centroid dim 3"),
          e.getMessage)
      }
    }
    // the matching dimension still assigns
    assert(Seq(Seq(1.0f, 0.0f, 0.0f)).toDF("v").repartition(1)
      .select(PqFunctions.nearestCentroidId($"v", cids, cents))
      .collect()(0).getLong(0) == 1L)
  }

  test("pq/centroid kernels compare structurally (ADVICE r21 equals)") {
    // Seq-backed fields: two independently built but identical
    // expressions must be semantically equal, so subexpression
    // elimination and exchange reuse can fire
    import org.apache.spark.sql.catalyst.expressions.AttributeReference
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    val attr = AttributeReference("v", ArrayType(DoubleType, false))()
    def cb() = PqFunctions.deep(
      Array(Array(Array(1.0, 2.0), Array(3.0, 4.0))))
    val a = PqCodesExpr(attr, cb())
    val b = PqCodesExpr(attr, cb())
    assert(a == b)
    assert(a.semanticEquals(b))
    val c = NearestCentroidExpr(attr, Seq(1L), Seq(Seq(1.0)))
    val d = NearestCentroidExpr(attr, Seq(1L), Seq(Seq(1.0)))
    assert(c == d && c.semanticEquals(d))
  }
}
