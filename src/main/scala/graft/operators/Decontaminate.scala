package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Benchmark decontamination — the pre-training curation step that
  * screens the corpus against evaluation sets: a training document is
  * CONTAMINATED when it shares any length-`n` token shingle with a
  * benchmark document (the n-gram-overlap definition used by the GPT-3
  * appendix-C / PaLM decontamination procedures; n = 13 is the
  * published default, configurable because short-document corpora need
  * smaller windows to overlap at all).
  *
  * Scale shape: the benchmark side is small BY DEFINITION (eval sets
  * are thousands of documents, the corpus is billions), so its distinct
  * shingle set broadcasts, and the 100 TB side is one scan + explode +
  * broadcast left_semi — the corpus never shuffles document content.
  * The only shuffled rows are the matched doc ids (contamination-sized)
  * for the distinct, and the id-only flag join back. Shingling rides
  * the codegen'd [[graft.functions.ShingleFunctions.wordShingles]]
  * kernel (one pass per row, no interpreted HOF).
  */
object Decontaminate {

  /** Conf key for the benchmark-side broadcast gate (bytes). */
  val BroadcastThresholdKey = "spark.graft.decontaminate.broadcastThresholdBytes"

  /** Size-gated broadcast hint for the benchmark side (round 21,
    * VERDICT r20 #2): every screen here force-broadcast its benchmark
    * derivation, which is right for eval sets ("small BY DEFINITION")
    * but OOMs the broadcast against a multi-GB eval-suite union — worst
    * at [[exactSubstrContamination]], whose window frame is one row per
    * benchmark TOKEN (~10–20× benchmark bytes). The hint now applies
    * only when Catalyst's size estimate for the benchmark subplan sits
    * under `spark.graft.decontaminate.broadcastThresholdBytes` (default
    * 512 MB — inside every executor-memory posture this library
    * documents); above it the join runs as a plain shuffle join on the
    * same keys — identical rows, no 8 GB broadcast wall. The estimate
    * is driver-side metadata (no job); fixtures sit far below the
    * default, so gate-scale plans are unchanged.
    */
  private[operators] def maybeBroadcast(df: DataFrame): DataFrame = {
    val threshold = df.sparkSession.conf
      .getOption(BroadcastThresholdKey).map(_.toLong)
      .getOrElse(512L * 1024 * 1024)
    val est = df.queryExecution.optimizedPlan.stats.sizeInBytes
    if (est <= threshold) broadcast(df) else df
  }

  /** Ids of documents sharing ≥ 1 shingle with the benchmark — the
    * contamination-sized frame both public forms (and
    * [[Curation.curate]]'s broadcast-side flag) build on.
    */
  private[operators] def contaminatedIds(docs: DataFrame, benchmark: DataFrame,
      textCol: String, idCol: String, n: Int): DataFrame = {
    require(n >= 1, s"shingle length must be >= 1, got $n")
    val bench = benchmark
      .select(explode(graft.functions.ShingleFunctions
        .wordShingles(col(textCol), n)).as("__g"))
      .distinct()
    docs
      .select(col(idCol), explode(graft.functions.ShingleFunctions
        .wordShingles(col(textCol), n)).as("__g"))
      .join(maybeBroadcast(bench), Seq("__g"), "left_semi")
      .select(col(idCol)).distinct()
  }

  /** Every document id with a `contaminated` flag. */
  def flagContaminated(docs: DataFrame, benchmark: DataFrame,
      textCol: String = "text", idCol: String = "doc_id",
      n: Int = 13): DataFrame = {
    val hits = contaminatedIds(docs, benchmark, textCol, idCol, n)
      .withColumn("__c", lit(true))
    docs.select(col(idCol))
      .join(hits, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("__c"), lit(false)).as("contaminated"))
  }

  /** Contamination ATTRIBUTION — (doc id, benchmark id) match pairs,
    * for debugging an eval-leak report: not just "this document is
    * contaminated" but WHICH benchmark document it shares a shingle
    * with. The same broadcast shape as [[contaminatedIds]] with the
    * benchmark id carried through the shingle join: the broadcast side
    * is (shingle, bench id) distinct pairs — still benchmark-sized —
    * and the output is one row per (doc, benchmark) match, bounded by
    * contaminated-docs × benchmark size. The corpus text never
    * shuffles.
    */
  def attributeContamination(docs: DataFrame, benchmark: DataFrame,
      textCol: String = "text", idCol: String = "doc_id",
      benchIdCol: String = "bench_id", n: Int = 13): DataFrame = {
    require(n >= 1, s"shingle length must be >= 1, got $n")
    val bench = benchmark
      .select(col(benchIdCol), explode(graft.functions.ShingleFunctions
        .wordShingles(col(textCol), n)).as("__g"))
      .distinct()
    docs
      .select(col(idCol), explode(graft.functions.ShingleFunctions
        .wordShingles(col(textCol), n)).as("__g"))
      .join(maybeBroadcast(bench), Seq("__g"))
      .select(col(idCol), col(benchIdCol)).distinct()
  }

  /** SEMANTIC decontamination — the embedding-space complement of the
    * shingle screens ([[flagContaminated]] catches verbatim excerpts;
    * this catches PARAPHRASED eval leakage, which re-wording defeats
    * but an embedding model does not): every corpus vector is scored
    * against the full eval set on exact cosine and flagged when its
    * best match reaches `threshold`. Output one row per corpus vector:
    * (idCol, bench_id, max_sim, contaminated) — `bench_id` is the
    * best-matching eval doc (ties: lowest id), carried always so the
    * audit trail exists for near-misses too.
    *
    * Exact by design, not LSH: an eval set is metadata-sized
    * (thousands), so the scan is O(corpus × |bench|) with a broadcast
    * bench side — one corpus pass, no candidate-miss risk on the
    * operator whose false negatives ARE the incident. The corpus side
    * shuffles only (id, sim, bench_id) triples into the per-vector
    * max_by aggregate (map-side combined — one partial row per vector
    * per task); at a truly large eval set, fall back to
    * [[Similarity.hyperplaneNearDupPairs]]' banded path.
    *
    * `max_by(struct(sim, -bench_id))` ranking keeps determinism
    * engine-exact: sims are bit-identical double arithmetic over the
    * stored floats (the dot kernel's sequential accumulation = the
    * oracle's list_sum order), rounded only at the output edge.
    *
    * Zero-norm contract (shared with the streaming twin, ADVICE r14 —
    * NaN sims previously ranked ABOVE every real match and flagged the
    * row contaminated): a zero-norm corpus vector has no cosine
    * direction, so its row is the defined audit row (bench_id null,
    * max_sim null, contaminated false); zero-norm eval vectors
    * contribute null sims and are thereby ignored (an eval set that is
    * ALL zero-norm therefore yields one all-null audit row — bench_id
    * null, max_sim null, contaminated false — per corpus id, exactly
    * like a zero-norm corpus row; the stream twin instead fails loudly
    * up front, the one place the twins must differ because a lazy plan
    * cannot validate eagerly — ADVICE r15).
    */
  def semanticDecontaminate(
      emb: DataFrame,
      benchEmb: DataFrame,
      threshold: Double,
      idCol: String = "vec_id",
      benchIdCol: String = "bench_id",
      vecCol: String = "embedding"): DataFrame = {
    val dot = Similarity.dot _
    val corpus = emb.select(col(idCol), col(vecCol).as("__v"),
      sqrt(dot(col(vecCol), col(vecCol))).as("__vn"))
    val bench = maybeBroadcast(benchEmb.select(col(benchIdCol),
      col(vecCol).as("__bv"),
      sqrt(dot(col(vecCol), col(vecCol))).as("__bn")))
    corpus.join(bench)
      .withColumn("__sim",
        when(col("__vn") > 0 && col("__bn") > 0,
          dot(col("__v"), col("__bv")) / (col("__vn") * col("__bn"))))
      .groupBy(col(idCol))
      .agg(
        max_by(col(benchIdCol),
          struct(col("__sim"), -col(benchIdCol))).as(benchIdCol),
        max(col("__sim")).as("__ms"))
      .select(col(idCol),
        when(col("__ms").isNotNull, col(benchIdCol)).as(benchIdCol),
        round(col("__ms"), 4).as("max_sim"),
        coalesce(col("__ms") >= threshold, lit(false)).as("contaminated"))
  }

  /** The corpus with contaminated documents REMOVED (all original
    * columns kept) — the anti-join form for pipelines that drop rather
    * than label. Joins `docs` against the contamination-sized id frame
    * directly (no flag-then-filter round trip through a second
    * corpus-wide join).
    */
  def removeContaminated(docs: DataFrame, benchmark: DataFrame,
      textCol: String = "text", idCol: String = "doc_id",
      n: Int = 13): DataFrame =
    docs.join(contaminatedIds(docs, benchmark, textCol, idCol, n),
      Seq(idCol), "left_anti")

  /** SPAN decontamination — the exact-substring class (Lee et al. 2021's
    * ExactSubstr applied corpus-vs-eval, the form the Llama/PaLM reports
    * describe as "remove overlapping portions"): maximal shared
    * character runs between a training document and a benchmark
    * document, found at winnowing guarantees ([[TextAnalysis
    * .winnowSharedSpans]]'s machinery pointed ACROSS frames) and
    * reported as (doc, bench, doc_start, bench_start, span_chars) span
    * rows. [[flagContaminated]] answers "is this document contaminated";
    * this answers WHERE — the attribution a surgical pipeline needs,
    * because the published remedy is to EXCISE the span
    * ([[exciseSpans]]), not to drop a document that is 99% original.
    *
    * Exact by design like [[semanticDecontaminate]] — NO corpus-hot
    * fingerprint drop (contrast `winnowSharedSpans`' `maxDocFreq`): a
    * fingerprint shared by the benchmark and a million training docs is
    * exactly the mass-leak this operator exists to find, and dropping it
    * would be a silent false-negative class. The join fan-out is
    * bench-occurrences × corpus-occurrences per fingerprint — bounded in
    * practice by the eval set's size, and boilerplate runs shorter than
    * `minSpanChars` die at the span-length gate; a boilerplate-heavy
    * corpus should line-dedup ([[Dedup.lineDedup]]) BEFORE
    * decontamination, which is the pipeline order [[Curation.curate]]
    * establishes anyway.
    *
    * Scale shape: the benchmark's (fp, pos) index broadcasts (eval-sized
    * × ~2/w selections per char); the corpus side is one scan projecting
    * (id, fp, pos) — text never shuffles — and the island windows
    * partition by (doc, bench, offset), group size = one pair's matched
    * selections. Span semantics (offset grouping, gaps-and-islands,
    * conservative `span_chars` = run + k) are exactly
    * `winnowSharedSpans`' — see its scaladoc for the guarantees.
    */
  def spanDecontaminate(docs: DataFrame, benchmark: DataFrame,
      textCol: String = "text", idCol: String = "doc_id",
      benchIdCol: String = "bench_id", minSpanChars: Int = 64,
      maxGapGrams: Int = 16, k: Int = 16, w: Int = 8): DataFrame = {
    require(minSpanChars >= k,
      s"minSpanChars ($minSpanChars) below k ($k) would report " +
        "single-gram noise as spans")
    require(maxGapGrams >= w,
      s"maxGapGrams ($maxGapGrams) below w ($w) would split every run " +
        "(winnowing selects at most every w-th gram)")
    def fps(df: DataFrame, id: String, p: String) = df.select(col(id),
        explode(graft.functions.WinnowFunctions
          .winnowFingerprintPositions(col(textCol), k, w)).as("e"))
      .select(col(id), col("e.fp").as("f"), col("e.pos").as(p))
    val matches = fps(docs, idCol, "pa")
      .join(maybeBroadcast(fps(benchmark, benchIdCol, "pb")), Seq("f"))
      .select(col(idCol), col(benchIdCol), col("pa"), col("pb"),
        (col("pa") - col("pb")).as("__off"))
    val wOrd = Window
      .partitionBy(col(idCol), col(benchIdCol), col("__off"))
      .orderBy(col("pa").asc)
    matches
      .withColumn("__brk",
        when(col("pa") - lag(col("pa"), 1).over(wOrd) <= maxGapGrams, 0)
          .otherwise(1))
      .withColumn("__g", sum(col("__brk")).over(
        wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col(idCol), col(benchIdCol), col("__off"), col("__g"))
      .agg(min(col("pa")).as("doc_start"), min(col("pb")).as("bench_start"),
        (max(col("pa")) - min(col("pa")) + k).as("span_chars"))
      .filter(col("span_chars") >= minSpanChars)
      .select(col(idCol), col(benchIdCol), col("doc_start"),
        col("bench_start"), col("span_chars"))
  }

  /** Span EXCISION — the remedy attached to [[spanDecontaminate]]'s
    * findings: cut every reported span out of its document and stitch
    * the remainder, so the 99%-original document stays in the corpus
    * minus the leaked run. Returns one row per input document:
    * (idCol, text — stitched, original when no spans — n_excised_chars).
    *
    * Per document: span [start, start+chars) intervals are merged into
    * disjoint intervals FIRST (overlapping reports of one leak — e.g.
    * the same span matched by two benchmark docs — must not excise
    * twice), via a sort + fold over the document's own span list
    * (bounded by its reported spans, never corpus-sized); the stitch is
    * one more fold concatenating the inter-interval substrings. Both
    * folds are interpreted HOFs but run over span-count-sized arrays on
    * the contaminated-docs-only frame (the spans join is an id-keyed
    * LEFT join; clean documents — the overwhelming mass — carry a null
    * span list and pass through with text untouched).
    */
  def exciseSpans(docs: DataFrame, spans: DataFrame,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val ivals = spans.groupBy(col(idCol)).agg(
      array_sort(collect_list(struct(col("doc_start").as("s"),
        (col("doc_start") + col("span_chars")).as("e")))).as("__iv"))
    // merge sorted intervals: fold carrying (merged list, current lo/hi)
    val merged = aggregate(
      col("__iv"),
      struct(slice(col("__iv"), 1, 0).as("out"),
        lit(null).cast("struct<s:int,e:int>").as("cur")),
      (acc, x) => {
        val cur = acc.getField("cur")
        val out = acc.getField("out")
        when(cur.isNull, struct(out.as("out"), x.as("cur")))
          .when(x.getField("s") <= cur.getField("e"),
            struct(out.as("out"),
              struct(cur.getField("s").as("s"),
                greatest(cur.getField("e"), x.getField("e")).as("e"))
                .as("cur")))
          .otherwise(struct(concat(out, array(cur)).as("out"), x.as("cur")))
      },
      acc => when(acc.getField("cur").isNotNull,
        concat(acc.getField("out"), array(acc.getField("cur"))))
        .otherwise(acc.getField("out")))
    docs.join(ivals, Seq(idCol), "left")
      .withColumn("__m", when(col("__iv").isNotNull, merged))
      .select(col(idCol),
        when(col("__m").isNull, col(textCol)).otherwise(concat(
          aggregate(col("__m"),
            struct(lit("").as("acc"), lit(1).as("from")),
            (st, iv) => struct(
              concat(st.getField("acc"),
                col(textCol).substr(st.getField("from"),
                  iv.getField("s") - st.getField("from"))).as("acc"),
              iv.getField("e").as("from")),
            st => st.getField("acc")),
          col(textCol).substr(
            element_at(col("__m"), -1).getField("e"), lit(1000000000))))
          .as(textCol),
        coalesce(aggregate(col("__m"), lit(0),
          (n, iv) => n + iv.getField("e") - iv.getField("s")), lit(0))
          .as("n_excised_chars"))
  }

  /** Composed decontamination REPORT — every text-side screen this
    * object implements, run against ONE benchmark and folded into a
    * per-document verdict frame (the [[Curation.curate]] idea applied to
    * the leakage stack): `exact` ([[flagContaminated]] — any shared
    * `shingleTokens`-token run), (`fuzzy_bench`, `fuzzy_jaccard`)
    * ([[fuzzyDecontaminate]] — the edited near-verbatim class),
    * (`n_spans`, `span_chars_total`) ([[spanDecontaminate]] — where and
    * how much leaked), and `contaminated` = any screen fired. The three
    * classes fail differently by construction — an excerpt benchmark
    * trips exact+span but not fuzzy (whole-doc Jaccard stays low), an
    * edited near-copy trips all three — so the report is the audit
    * artifact a release review actually reads: not "is it leaked" but
    * "which way, against what, and how much".
    *
    * Scale shape: three corpus scans (one per screen — each is
    * individually text-shuffle-free, so the corpus moves zero times and
    * is read three times; cache/materialize the curated corpus when the
    * three-scan cost dominates), all merge joins are id-keyed
    * projections. The embedding-space screen
    * ([[semanticDecontaminate]]) stays separate — it keys on vectors,
    * not text.
    */
  def decontaminationReport(docs: DataFrame, benchmark: DataFrame,
      textCol: String = "text", idCol: String = "doc_id",
      benchIdCol: String = "bench_id", shingleTokens: Int = 13,
      jaccardThreshold: Double = 0.8, minSpanChars: Int = 64): DataFrame = {
    val exact = flagContaminated(docs, benchmark, textCol, idCol,
        n = shingleTokens)
      .withColumnRenamed("contaminated", "exact")
    val fuzzy = fuzzyDecontaminate(docs, benchmark, textCol, idCol,
        benchIdCol, jaccardThreshold)
      .select(col(idCol), col(benchIdCol).as("fuzzy_bench"),
        col("jaccard").as("fuzzy_jaccard"),
        col("contaminated").as("__fz"))
    val spans = spanDecontaminate(docs, benchmark, textCol, idCol,
        benchIdCol, minSpanChars)
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_spans"),
        sum(col("span_chars")).cast("long").as("span_chars_total"))
    exact
      .join(fuzzy, Seq(idCol), "left")
      .join(spans, Seq(idCol), "left")
      .select(col(idCol), col("exact"), col("fuzzy_bench"),
        col("fuzzy_jaccard"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("span_chars_total"), lit(0L)).as("span_chars_total"),
        (col("exact") || coalesce(col("__fz"), lit(false)) ||
          coalesce(col("n_spans"), lit(0L)) > 0).as("contaminated"))
  }

  /** FUZZY decontamination — the third published decontamination class,
    * between the other two: [[flagContaminated]] catches VERBATIM
    * excerpts (any shared 13-shingle) but a single edit every dozen
    * tokens breaks every long shingle; [[semanticDecontaminate]] catches
    * PARAPHRASES but needs an embedding model. This is the
    * Jaccard-similarity screen (the Llama-2 §A.6 / Dolma "fuzzy dedup
    * against eval" shape): a corpus document is contaminated when its
    * word-shingle Jaccard against some benchmark document reaches
    * `threshold` — the lightly-EDITED near-verbatim leak, which defeats
    * the exact screen and needs no model to catch.
    *
    * Built by composition, not re-implementation: the benchmark becomes
    * a [[Dedup.minhashCorpusIndex]] and the corpus screens against it
    * through [[Dedup.incrementalMinhashDedup]] — the same banded-LSH
    * candidate join + exact-Jaccard verify (and the same k-mismatch
    * guard), with the index side broadcast because an eval set is
    * metadata-sized. At r = 2 per band a true J ≥ 0.8 pair is missed
    * with p ≤ (1 − 0.64)¹⁶ ≈ 4·10⁻⁸ — the full-recall contract the
    * exact-Jaccard oracle checks. The corpus side shuffles only band-key
    * projections and candidate ids; document text never moves.
    *
    * Output one row per corpus document, [[semanticDecontaminate]]'s
    * audit shape: (idCol, benchIdCol, jaccard, contaminated) with the
    * best match (ties: lowest benchmark id) when one exists at
    * threshold, and (null, null, false) otherwise. Unlike the semantic
    * screen, near-MISS audit rows are deliberately absent: a candidate
    * pair below threshold exists only if its band keys collided, so
    * emitting it would make the output nondeterministic in exactly the
    * rows that don't matter — the contract stops at the threshold.
    */
  def fuzzyDecontaminate(docs: DataFrame, benchmark: DataFrame,
      textCol: String = "text", idCol: String = "doc_id",
      benchIdCol: String = "bench_id", threshold: Double = 0.8,
      k: Int = 32, bands: Int = 16): DataFrame = {
    val index = maybeBroadcast(
      Dedup.minhashCorpusIndex(benchmark, textCol, benchIdCol, k))
    val pairs = Dedup.incrementalMinhashDedup(docs, index, textCol, idCol,
      threshold, k, bands)
    // Tie order: min over (-jaccard, bench id) = best jaccard, ties to the
    // LOWEST bench id. Negation rides the always-numeric jaccard, never the
    // id (ADVICE r16: -id on a string-typed id silently casts to double —
    // null — and the documented tie-break becomes nondeterministic).
    val best = pairs.groupBy(col(idCol)).agg(
      min_by(col("corpus_id"),
        struct(-col("jaccard"), col("corpus_id"))).as(benchIdCol),
      max(col("jaccard")).as("__mj"))
    docs.select(col(idCol))
      .join(best, Seq(idCol), "left")
      .select(col(idCol), col(benchIdCol),
        col("__mj").as("jaccard"),
        col("__mj").isNotNull.as("contaminated"))
  }

  /** ExactSubstr decontamination (round 20 — the Lee et al. 2021 §4.1
    * matcher pointed at eval-set leakage, the FULL-guarantee sibling of
    * [[spanDecontaminate]]'s winnowing form): report every maximal
    * token span a corpus document shares with a benchmark document, by
    * joining ALL aligned L-token window keys instead of winnowing's
    * sampled fingerprints — so a leak of ≥ L tokens is caught exactly,
    * including spans inside the winnowing miss band (shorter than
    * w+k−1 chars). Same-offset matched windows merge into maximal
    * spans ([[Dedup.repeatedSpans]]'s island rule: equal window
    * lengths make coverage ends monotone, so windows chain iff the
    * start gap is ≤ L).
    *
    * Output: (idCol, benchIdCol, doc_start_tok, bench_start_tok,
    * span_tokens, n_windows), token positions 1-based.
    *
    * Scale shape: the benchmark side is eval-set-bounded — its window
    * frame broadcasts; the corpus explodes hashed 60-bit keys once
    * (window strings never shuffle) and the candidate frame is bounded
    * by true key overlap with the benchmark, never all-pairs. Island
    * windows partition by (doc, bench, offset) — group size is the
    * pair's matched windows.
    */
  def exactSubstrContamination(docs: DataFrame, benchmark: DataFrame,
      minTokens: Int = 8, textCol: String = "text",
      idCol: String = "doc_id", benchIdCol: String = "bench_id")
      : DataFrame = {
    require(minTokens >= 2,
      s"a 1-token threshold reports every shared word, got $minTokens")
    val cw = Dedup.tokenWindows(docs, minTokens, textCol, idCol)
      .select(col("__id").as("__did"), col("__p").as("__pd"), col("__key"))
    val bw = maybeBroadcast(
      Dedup.tokenWindows(benchmark, minTokens, textCol, benchIdCol)
        .select(col("__id").as("__bid"), col("__p").as("__pb"),
          col("__key")))
    val matches = cw.join(bw, Seq("__key"))
      .select(col("__did"), col("__bid"), col("__pd"), col("__pb"),
        (col("__pd") - col("__pb")).as("__off"))
    val w = Window.partitionBy(col("__did"), col("__bid"), col("__off"))
      .orderBy(col("__pd").asc)
    matches
      .withColumn("__brk",
        when(col("__pd") - lag(col("__pd"), 1).over(w) <= minTokens, 0)
          .otherwise(1))
      .withColumn("__g", sum(col("__brk")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("__did"), col("__bid"), col("__off"), col("__g"))
      .agg(min(col("__pd")).as("doc_start_tok"),
        min(col("__pb")).as("bench_start_tok"),
        (max(col("__pd")) - min(col("__pd")) + minTokens)
          .as("span_tokens"),
        count(lit(1)).as("n_windows"))
      .select(col("__did").as(idCol), col("__bid").as(benchIdCol),
        col("doc_start_tok"), col("bench_start_tok"), col("span_tokens"),
        col("n_windows"))
  }
}
