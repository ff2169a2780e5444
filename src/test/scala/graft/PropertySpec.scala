package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.operators.{Dedup, Imputation, Pivot}
import graft.weather.{Bronze, WeatherSchemas}

/** Property tests (SURVEY.md §5 item 3), driven by raw scalacheck
  * generators with deterministic seeds (the scalatest bridge artifact is
  * not in the offline cache). Generators stay small — each case runs a
  * real local Spark job.
  */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private def samples[A](g: Gen[A], n: Int = 10): Seq[A] =
    (0 until n).flatMap(i =>
      g.apply(Gen.Parameters.default.withSize(12), Seed(42L + i)))

  private val rowsGen =
    Gen.nonEmptyListOf(Gen.zip(Gen.choose(0, 3), Gen.option(Gen.choose(-5.0, 5.0))))

  test("property: dropDuplicates is idempotent") {
    samples(rowsGen).foreach { rows =>
      val once = rows.toDF("k", "v").dropDuplicates()
      assert(once.dropDuplicates().count() == once.count())
    }
  }

  test("property: tokenChunks partitions the token stream losslessly") {
    // for ANY text and chunk size: concatenating the chunks reproduces
    // the normalized token stream, every chunk except the last has
    // exactly `size` tokens, and the last has 1..size
    val g = Gen.zip(
      Gen.listOf(Gen.oneOf(Gen.alphaNumStr.map(_.take(5)),
        Gen.oneOf(" ", "\t", "\n", "  "))).map(_.mkString(" ")),
      Gen.choose(1, 5))
    samples(g, 15).foreach { case (text, size) =>
      val toks = text.split("\\s+").filter(_.nonEmpty).toSeq
      val chunks = Seq(text).toDF("t")
        .select(graft.functions.ShingleFunctions.tokenChunks($"t", size))
        .as[Seq[String]].collect()(0)
      assert(chunks.flatMap(_.split(" ").filter(_.nonEmpty)) == toks,
        s"size=$size text=${text.take(40)}")
      if (chunks.nonEmpty) {
        chunks.init.foreach(c => assert(c.split(" ").length == size))
        val last = chunks.last.split(" ").filter(_.nonEmpty).length
        assert(last >= 1 && last <= size)
      } else assert(toks.isEmpty)
    }
  }

  test("property: coalesce-chain ≡ when-chain (I2 equivalence)") {
    // The reference expresses imputation as chained when(isNotNull);
    // ours as coalesce. They must agree on every null pattern.
    val g = Gen.nonEmptyListOf(Gen.zip(Gen.option(Gen.choose(-5.0, 5.0)),
      Gen.option(Gen.choose(-5.0, 5.0))))
    samples(g).foreach { rows =>
      val df = rows.toDF("a", "b")
      val viaCoalesce = df.select(
        coalesce($"a", $"b" * 2, lit(0.0)).as("x")).as[Double].collect()
      val viaWhen = df.select(
        when($"a".isNotNull, $"a")
          .when(($"b" * 2).isNotNull, $"b" * 2)
          .otherwise(lit(0.0)).as("x")).as[Double].collect()
      assert(viaCoalesce.toSeq == viaWhen.toSeq)
    }
  }

  test("property: group-avg imputation preserves row count, kills nulls, keeps values") {
    samples(rowsGen).foreach { rows =>
      val df = rows.toDF("k", "v")
      val out = Imputation.imputeByGroupAvg(df, "v", Seq("k"))
      assert(out.filter($"v".isNull).count() == 0)
      assert(out.count() == rows.length)
      val got = out.as[(Int, Double)].collect().map(_._2).toSet
      assert(rows.flatMap(_._2).forall(got.contains))
    }
  }

  test("property: exact-dedup canonicals are min-id fixpoints") {
    val g = Gen.nonEmptyListOf(Gen.oneOf("aa bb cc", "dd ee ff", "gg hh ii"))
    samples(g).foreach { texts =>
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val out = Dedup.exactDedup(df, "text", "doc_id")
        .as[(Long, Long, Boolean)].collect()
      val canonOf = out.map(r => r._1 -> r._2).toMap
      out.foreach { case (_, canon, _) =>
        assert(canonOf(canon) == canon) // canonical rows map to themselves
      }
      out.groupBy(_._2).foreach { case (c, members) =>
        assert(members.map(_._1).min == c) // canonical is the class min id
      }
      assert(out.length == texts.length)
    }
  }

  test("property: PPJoin prefix+positional filter is lossless on random corpora") {
    // Random word-soup docs from a tiny vocabulary (maximizes gram
    // collisions — the adversarial case for candidate pruning), random
    // threshold: the filtered variant must reproduce blocked all-pairs
    // EXACTLY, in both prefix orders.
    val word = Gen.oneOf("aab", "abb", "bba", "bab", "abc", "cab")
    val docGen = Gen.nonEmptyListOf(word).map(_.mkString(" "))
    val corpusGen = for {
      docs <- Gen.listOfN(12, docGen)
      t <- Gen.choose(0.55, 0.95)
    } yield (docs, t)
    samples(corpusGen, n = 6).foreach { case (docs, t) =>
      val df = docs.zipWithIndex
        .map { case (txt, i) => (i.toLong, txt) }
        .toDF("doc_id", "text").withColumn("blk", lit("b"))
      val full = Dedup.ngramNearDupPairs(df, "text", "doc_id", Seq("blk"), t)
        .as[(Long, Long, Double)].collect().toSet
      for (freqOrdered <- Seq(true, false)) {
        val pruned = Dedup.ngramNearDupPairsPrefix(df, "text", "doc_id",
            Nil, t, frequencyOrdered = freqOrdered)
          .as[(Long, Long, Double)].collect().toSet
        assert(pruned == full,
          s"threshold $t freqOrdered=$freqOrdered: " +
            s"missing=${full -- pruned} extra=${pruned -- full}")
      }
    }
  }

  test("property: lineDedup on all-unique lines is the identity; always idempotent") {
    // random multi-line docs built from per-doc-unique eligible lines:
    // nothing repeats corpus-wide, so the rebuild must be byte-identical
    // with n_removed = 0 — the reassembly path can't lose or reorder
    // lines. And for ANY corpus (here: with planted repeats), running
    // lineDedup twice equals running it once (first occurrences are
    // already unique).
    val lineGen = Gen.choose(0, 7).map(i => s"distinct payload line number $i")
    val docGen = Gen.nonEmptyListOf(lineGen).map(_.distinct.mkString("\n"))
    samples(Gen.nonEmptyListOf(docGen), 8).foreach { docs =>
      val tagged = docs.zipWithIndex.map { case (t, i) =>
        (i.toLong, t.linesIterator.zipWithIndex
          .map { case (l, j) => s"$l of doc $i pos $j" }.mkString("\n"))
      }
      val out = Dedup.lineDedup(tagged.toDF("doc_id", "text"))
        .as[(Long, String, Int)].collect().sortBy(_._1)
      assert(out.map(r => (r._1, r._2)).toSeq == tagged)
      assert(out.forall(_._3 == 0))
    }
    samples(Gen.nonEmptyListOf(docGen), 5).foreach { docs =>
      val df = docs.zipWithIndex
        .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val once = Dedup.lineDedup(df).select("doc_id", "text")
      val twice = Dedup.lineDedup(once).select("doc_id", "text")
      assert(twice.exceptAll(once).isEmpty && once.exceptAll(twice).isEmpty)
    }
  }

  test("property: nfkcFold is idempotent and the identity on ASCII; " +
      "unicodeNormalize ≡ aggressiveNormalize on ASCII") {
    // arbitrary strings mixing ASCII with the fold's target classes
    val unicodeChar = Gen.oneOf(
      Gen.choose('a', 'z'), Gen.choose('A', 'Z'), Gen.choose('0', '9'),
      Gen.oneOf(' ', '.', ',', '!'),
      Gen.oneOf('é', 'ö', 'ñ', 'ï'),                 // composed accents
      Gen.choose('ａ', 'ｚ'),                          // fullwidth a-z
      Gen.oneOf('ﬁ', 'ﬂ', '　'))                      // ligatures, ideo space
    val strGen = Gen.listOf(unicodeChar).map(_.mkString)
    samples(strGen, 15).foreach { s =>
      val df = Seq(s).toDF("t")
      val once = df.select(graft.functions.UnicodeFunctions.nfkcFold($"t"))
        .as[String].collect()(0)
      val twice = Seq(once).toDF("t")
        .select(graft.functions.UnicodeFunctions.nfkcFold($"t"))
        .as[String].collect()(0)
      assert(twice == once, s"fold not idempotent on ${s.take(30)}")
      if (s.forall(_ < 0x80))
        assert(once == s, "fold must be the identity on pure ASCII")
      if (s.forall(_ < 0x80)) {
        val Seq(u, a) = df.select(Dedup.unicodeNormalize($"t"),
          Dedup.aggressiveNormalize($"t")).as[(String, String)]
          .collect()(0).productIterator.map(_.asInstanceOf[String]).toSeq
        assert(u == a, "unicode class must equal the CCNet class on ASCII")
      }
    }
  }

  test("property: normalizeUrl is IDEMPOTENT and host-preserving over " +
      "generated URL shapes (a canonical form must be a fixed point)") {
    val gUrl = for {
      scheme <- Gen.oneOf("http", "HTTPS", "https", "ftp", "")
      www <- Gen.oneOf("", "www.", "WWW.")
      host <- Gen.oneOf("Example.COM", "h7.example.com", "a.b.C.io")
      port <- Gen.oneOf("", ":80", ":443", ":8080")
      path <- Gen.oneOf("", "/", "/Docs/X", "/p/1/", "/a/b")
      params <- Gen.someOf(Seq("b=2", "a=1", "utm_source=x", "ref",
        "gclid=9", "z="))
      frag <- Gen.oneOf("", "#f", "#frag/with/slash")
      sep = if (scheme.isEmpty) "" else "://"
    } yield {
      val q = if (params.isEmpty) "" else params.mkString("?", "&", "")
      s"$scheme$sep$www$host$port$path$q$frag"
    }
    val gGarbage = Gen.alphaNumStr.map(_.take(20))
    samples(Gen.oneOf(gUrl, gGarbage), 40).foreach { u =>
      val df = Seq(u).toDF("u")
      val Seq((once, twice)) = df.select(
        graft.operators.Urls.normalizeUrl($"u"),
        graft.operators.Urls.normalizeUrl(
          graft.operators.Urls.normalizeUrl($"u")))
        .as[(String, String)].collect().toSeq
      assert(once == twice, s"not idempotent on '$u': '$once' -> '$twice'")
      val Seq((h1, h2)) = df.select(
        graft.operators.Urls.hostOf($"u"),
        graft.operators.Urls.hostOf(graft.operators.Urls.normalizeUrl($"u")))
        .as[(Option[String], Option[String])].collect().toSeq
      assert(h1 == h2, s"host not preserved on '$u': $h1 -> $h2")
    }
  }

  test("property: pivot output has one row per distinct key") {
    val g = Gen.nonEmptyListOf(Gen.zip(Gen.choose(0, 5),
      Gen.oneOf("A", "B"), Gen.choose(-5.0, 5.0)))
    samples(g).foreach { rows =>
      val df = rows.toDF("k", "dt", "v")
      val out = graft.operators.Pivot.longToWide(
        df, Seq("k"), "dt", Seq("A", "B"), "v")
      assert(out.count() == rows.map(_._1).distinct.length)
    }
  }

  /** Reference for [[Bronze.pivotToWide]], composed from separate
    * operators: exact dedup, Spark's pivot, a min-coordinate aggregate
    * and the join of the two.
    */
  private def pivotToWideComposed(raw: DataFrame): DataFrame = {
    val deduped = raw
      .dropDuplicates()
      .filter(col("datatype").isin(WeatherSchemas.datatypeVocabulary: _*))
      .filter(col("date").isNotNull && col("station").isNotNull)
    val wide = Pivot.longToWide(
      deduped.select("date", "station", "datatype", "value"),
      Seq("date", "station"), "datatype",
      WeatherSchemas.datatypeVocabulary, "value")
    val coords = deduped.groupBy("date", "station")
      .agg(min("latitude").as("latitude"), min("longitude").as("longitude"))
    val renamed = WeatherSchemas.columnsMapping.foldLeft(wide) {
      case (df, (dt, name)) => df.withColumnRenamed(dt, name)
    }
    renamed.join(coords, Seq("date", "station"))
      .select(WeatherSchemas.observationsWide.fieldNames.map(col): _*)
  }

  test("property: one-aggregate Bronze pivot ≡ dedup + pivot + coords join") {
    // small key/code domains force several values per (date, station,
    // datatype) cell and conflicting coordinates per (date, station);
    // FOO is out of vocabulary; every column can be null; values and
    // coordinates can be NaN; a random subset of rows is repeated
    // verbatim so exact duplicates are always in play
    def orNull[A](g: Gen[A]): Gen[Option[A]] =
      Gen.frequency(1 -> Gen.const(None), 5 -> g.map(Some(_)))
    val num = Gen.frequency(1 -> Gen.const(Double.NaN),
      6 -> Gen.choose(-3, 3).map(_.toDouble / 2))
    val row = for {
      date <- orNull(Gen.oneOf("2024-01-01", "2024-01-02"))
      station <- orNull(Gen.oneOf("S1", "S2"))
      lat <- orNull(num)
      lon <- orNull(num)
      dt <- orNull(Gen.oneOf("PRCP", "TMAX", "WT01", "FOO"))
      v <- orNull(num)
    } yield (date, station, lat, lon, dt, v)
    val g = for {
      n <- Gen.choose(6, 24)
      rs <- Gen.listOfN(n, row)
      dups <- Gen.someOf(rs)
      keys <- Gen.listOfN(rs.size + dups.size, Gen.choose(0, 1 << 20))
    } yield (rs ++ dups).zip(keys).sortBy(_._2).map(_._1)
    var multiValued, conflictingCoords = 0
    samples(g, 12).foreach { rows =>
      val raw = rows.toDF(WeatherSchemas.noaaLong.fieldNames: _*)
      val got = Bronze.pivotToWide(raw)
      val want = pivotToWideComposed(raw)
      assert(got.schema == want.schema)
      assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
        s"rows=$rows\ngot=${got.collect().toSeq}\nwant=${want.collect().toSeq}")
      val kept = rows.filter { case (d, s, _, _, dt, _) =>
        d.isDefined && s.isDefined && dt.exists(_ != "FOO") }
      def distinctNumbers(xs: Seq[Option[Double]]) =
        xs.flatten.filterNot(_.isNaN).distinct.size
      if (kept.groupBy(r => (r._1, r._2, r._5))
          .exists(c => distinctNumbers(c._2.map(_._6)) > 1)) multiValued += 1
      if (kept.groupBy(r => (r._1, r._2))
          .exists(c => distinctNumbers(c._2.map(_._3)) > 1)) {
        conflictingCoords += 1
      }
    }
    // the generator really exercises cells holding several values and
    // groups with conflicting coordinates
    assert(multiValued > 0 && conflictingCoords > 0,
      s"multiValued=$multiValued conflictingCoords=$conflictingCoords")
  }
}
