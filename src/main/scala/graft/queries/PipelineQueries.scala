package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Decontaminate, Dedup, Multimodal, Sampling, Similarity, TextAnalysis, Urls}
import graft.sources.Tables

/** LLM-training-data pipeline queries (builder brief: dedup, similarity
  * search, multimodal columns, text analysis) over the harness
  * `documents` / `embeddings` tables — the beyond-reference extension
  * surface (SURVEY.md §7.1 item 6), oracle-gated like everything else.
  *
  * Oracle-parity conventions on top of CoreQueries':
  *  - all content hashing is md5-derived (both engines compute identical
  *    bytes); the 60-bit integer hash is conv(md5[0,15), 16, 10), which
  *    DuckDB reproduces as ('0x' || substr(md5(s),1,15))::BIGINT;
  *  - Jaccard values are ratios of ints (engine-exact doubles);
  *  - cosine similarities accumulate left-to-right in double on both
  *    sides and are rounded to 4 decimals;
  *  - q41 (IVF ANN) is approximate by construction → no value oracle
  *    (driver records the weaker rows/schema check).
  */
object PipelineQueries {
  type Q = (SparkSession, String) => DataFrame

  /** Documents plus planted exact duplicates (doc_id+100000 for every
    * 10th doc) — the base table has no exact dups, so dedup queries plant
    * their own, deterministically.
    */
  private def docsWithDups(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    docs.unionByName(
      docs.filter(col("doc_id") % 10 === 0)
        .withColumn("doc_id", col("doc_id") + 100000))
  }

  /** Customer records plus planted noisy re-entries for the record-
    * linkage gates (q185/q187): a 1-substitution name twin for every
    * 20th key (+1,000,000), a 2-substitution twin for every 40th
    * (+2,000,000), and a 4-substitution DECOY for every 50th
    * (+3,000,000) that must STAY its own entity — edit distance 4 is
    * past the verify cap of 2. Variants copy every reliable attribute
    * (nation, segment, acctbal); the modulus classes are pairwise
    * disjoint, so no record carries two variants.
    */
  private def linkageRecords(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d)
      .select(col("c_custkey"), col("c_name"), col("c_nationkey"),
        col("c_mktsegment"), col("c_acctbal"))
    def variant(mod: Int, rem: Int, off: Long, tail: String) =
      c.filter(col("c_custkey") % mod === rem)
        .select((col("c_custkey") + off).as("c_custkey"),
          concat(expr(
            s"substring(c_name, 1, length(c_name) - ${tail.length})"),
            lit(tail)).as("c_name"),
          col("c_nationkey"), col("c_mktsegment"), col("c_acctbal"))
    c.unionByName(variant(20, 3, 1000000L, "X"))
      .unionByName(variant(40, 7, 2000000L, "XY"))
      .unionByName(variant(50, 11, 3000000L, "WXYZ"))
  }

  /** Embeddings plus planted near-duplicates (vec_id+100000, elements
    * shifted by +0.01f, cosine ≈ 0.997 to the original) for every 20th
    * vector — the base table's pair similarities top out at ~0.51, so
    * near-dup queries plant their own dups, deterministically (the same
    * convention as [[docsWithDups]]). Float arithmetic is IEEE-single on
    * both engines (DuckDB's double-add of two floats rounds to the same
    * float), so the planted vectors are bit-identical to the oracle's.
    */
  private def embWithDups(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
    emb.unionByName(
      emb.filter(col("vec_id") % 20 === 0)
        .select((col("vec_id") + 100000).as("vec_id"),
          transform(col("embedding"), x => x + lit(0.01f)).as("embedding")))
  }

  /** Synthetic media corpus + planted near-identical payloads for the
    * multimodal near-dup gates (q138/q139): diverse payloads from
    * [[Multimodal.syntheticMedia]] (id-specific byte distributions —
    * see its scaladoc for why text payloads can't play this role),
    * capped at 1000 ids so the exact all-pairs ground truth (q139)
    * stays fixture-sized at sf0.1; every 10th payload re-appears
    * (doc_id+300000) with 2 bytes appended — a ≈0.4% histogram shift,
    * centered cosine ≥ 0.998 vs its original (measured), while
    * background pairs top out at ≈0.51 at dims=64. The q60 margin
    * discipline, media edition.
    */
  private def mediaWithDups(s: SparkSession, d: String): DataFrame = {
    val base = Multimodal.syntheticMedia(
      Tables.documents(s, d).select(col("doc_id"))
        .filter(col("doc_id") < 1000))
    base.unionByName(
      base.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 300000).as("doc_id"),
          concat(col("media"),
            lit(Array(0x41.toByte, 0x41.toByte))).as("media"),
          col("format")))
  }

  /** Documents plus planted char-n-gram NEAR-duplicates (doc_id+200000,
    * a ~40-char boilerplate suffix appended) for every 15th doc of ≥300
    * chars: the suffix adds ≤ ~42 new distinct 3-grams, so the planted
    * pair's gram Jaccard lands at ~0.82–0.98 — above the q38/q67
    * threshold — while same-lang/source strangers stay far below it.
    * Keeps (lang, source) so the pair shares its block.
    */
  private def docsWithNgramDups(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    docs.unionByName(
      docs.filter(col("doc_id") % 15 === 0 && length(col("text")) >= 300)
        .withColumn("doc_id", col("doc_id") + 200000)
        .withColumn("text",
          concat(col("text"), lit(" shared boilerplate footer appended here"))),
      allowMissingColumns = false)
  }

  /** Documents plus planted chunk-level partial copies (doc_id+600000,
    * the first 40 tokens of every 12th >= 40-token doc + a unique tail):
    * the planted doc shares its first two 20-token chunks with its source
    * but is NOT a whole-document duplicate — the fixture chunk-level
    * dedup (q86) exists to catch and whole-doc dedup misses.
    */
  private def docsWithChunkDups(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val toks = TextAnalysis.tokens(col("text"))
    val planted = docs
      .filter(col("doc_id") % 12 === 0 && size(toks) >= 40)
      .select((col("doc_id") + 600000).as("doc_id"),
        concat(array_join(slice(toks, 1, 40), " "),
          lit(" planted unique chunk tail marker "),
          col("doc_id").cast("string")).as("text"))
    docs.unionByName(planted)
  }

  /** Documents + exact dups + a 60-doc boilerplate cluster (shared
    * template, one-token unique tail → pairwise shingle-Jaccard ≈ 0.88)
    * — the hot-bucket fixture for [[Dedup.minhashNearDupPairs]]'s
    * `maxBucket` guard (q73). Deterministic on both engines.
    */
  private val ClusterTemplate = "all rights reserved contact us terms of " +
    "service privacy policy cookies settings navigation home about page number "

  /** 87 distinct lowercase words, no repeated trigram — the shared
    * template of [[docsWithDupsAndBoilerplate]]'s planted cluster.
    * Engineered to SURVIVE the q90 curation battery (≥50 tokens, mean
    * word length 3–10, all-alpha, 6 Gopher stopwords, quality 4/4,
    * max token frequency 1/100) so the cluster reaches the LSH stage,
    * where the real gate lives.
    */
  private val BoilerplateTemplate: String =
    "the website terms of service and privacy policy apply to every " +
    "visitor with general conditions that govern all access for content " +
    "shared on this platform including cookie settings data retention " +
    "account registration newsletter subscription contact details support " +
    "center legal notice copyright information trademark ownership " +
    "liability disclaimer warranty limits arbitration clauses governing " +
    "law jurisdiction venue severability waiver amendments notices " +
    "assignment headings definitions interpretation precedence entire " +
    "agreement between parties concerning usage rights granted herein " +
    "subject always first when users browse pages or download files from " +
    "servers hosted under managed"

  /** 13 per-doc-unique suffix stems: doc i appends "sector{i} docket{i}
    * …" — 13 unique tokens against the 85 shared template trigrams, so
    * any two cluster members sit at Jaccard 85/111 ≈ 0.766: BELOW the
    * 0.8 verify threshold (every hot-bucket candidate is verify-rejected
    * → the cap provably cannot change the output) while ~86% of each
    * doc's shingles are template-shared, so each LSH band has a bucket
    * holding ~half the cluster (≈30 docs ≫ maxBucket 20 — the anti-join
    * path actually fires; hotness is asserted in TrainingPipelineSpec).
    */
  private val BoilerplateSuffixStems: Seq[String] = Seq(
    "sector", "docket", "ledger", "marker", "packet", "roster", "binder",
    "folio", "module", "tablet", "beacon", "cipher", "anchor")

  /** The q147 composed-chain fixture (VERDICT r15 #2): [[docsWithDups]]
    * narrowed to the pipeline's three columns, plus a planted 60-doc
    * boilerplate cluster (doc_id 500000+i, source src0) that floods its
    * LSH band buckets far past the cap — the skew profile real crawls
    * have — while staying under the near-dup verify threshold, so the
    * capped and uncapped compositions must agree exactly and the exact
    * ground-truth oracle gates both.
    */
  private def docsWithDupsAndBoilerplate(s: SparkSession, d: String)
      : DataFrame = {
    val base = docsWithDups(s, d)
      .select(col("doc_id"), col("text"), col("source"))
    val suffix = BoilerplateSuffixStems.map(w =>
      concat(lit(w), col("id").cast("string")))
    val cluster = s.range(60).select(
      (col("id") + 500000).as("doc_id"),
      concat_ws(" ", lit(BoilerplateTemplate) +: suffix: _*).as("text"),
      lit("src0").as("source"))
    base.unionByName(cluster)
  }

  private def docsWithHotCluster(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val dups = docs.filter(col("doc_id") % 10 === 0)
      .withColumn("doc_id", col("doc_id") + 100000)
    val cluster = s.range(60).select(
      (col("id") + 500000).as("doc_id"),
      concat(lit(ClusterTemplate), col("id").cast("string")).as("text"))
    docs.unionByName(dups).unionByName(cluster)
  }

  val queries: Map[String, Q] = Map[String, Q](
    // ── Text analysis ────────────────────────────────────────────────
    "q30_text_stats" -> ((s, d) =>
      TextAnalysis.textStats(Tables.documents(s, d))),

    "q31_langid" -> ((s, d) =>
      Tables.documents(s, d).select(col("doc_id"), col("lang"),
        TextAnalysis.langId(col("text")).as("lang_pred"))),

    "q32_quality_score" -> ((s, d) =>
      Tables.documents(s, d).select(col("doc_id"),
        TextAnalysis.qualityScore(col("text")).as("quality"))),

    // Gopher rule battery (Rae et al. 2021 A1.1): per-rule booleans +
    // the conjunction, all projected off one token-kernel walk. The
    // fixture docs are single-line, so the line-level rules are
    // exercised by planted multi-line docs: a bullet-list page (4/4
    // lines bulleted > 0.9) and a teaser page (2/4 lines ellipsis-ended
    // > 0.3), per every 40th doc — both engines plant identically.
    "q84_gopher_rules" -> ((s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val every40 = docs.filter(col("doc_id") % 40 === 0)
      val base = docs
        .unionByName(every40.select(
          (col("doc_id") + 400000).as("doc_id"),
          concat(lit("• the first thing\n• the second thing\n" +
            "• the third thing\n• the fourth thing "),
            col("doc_id").cast("string")).as("text")))
        .unionByName(every40.select(
          (col("doc_id") + 450000).as("doc_id"),
          concat(lit("the story begins...\nthe middle part holds\n" +
            "the ending trails off...\nthe final line "),
            col("doc_id").cast("string")).as("text")))
      val g = TextAnalysis.gopherRules(col("text"))
      val fields = Seq("word_count_ok", "mean_word_len_ok",
        "symbol_ratio_ok", "alpha_ratio_ok", "stopword_ok",
        "bullet_ratio_ok", "ellipsis_ratio_ok", "pass")
      base.select(col("doc_id") +: fields.map(f => g.getField(f).as(f)): _*)
    }),

    // C4 battery (Raffel et al. 2020 §2.2): line-level filtering + page
    // rules. Planted fixtures per every 40th doc: a cookie-notice page
    // (javascript line + short line + no-punct tail dropped → 2/5 kept,
    // only 2 sentences survive → page fails min_sentences) and a
    // lorem-ipsum/code page (brace line dropped; page fails both
    // content screens) — both engines plant identically.
    "q94_c4_rules" -> ((s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val every40 = docs.filter(col("doc_id") % 40 === 0)
      val base = docs
        .unionByName(every40.select(
          (col("doc_id") + 500000).as("doc_id"),
          concat(lit("This website uses javascript for tracking purposes everywhere.\n" +
            "The main article text continues with several useful sentences here.\n" +
            "Short line\n" +
            "Another proper sentence that carries actual content for readers today.\n" +
            "Document tail marker number "),
            col("doc_id").cast("string")).as("text")))
        .unionByName(every40.select(
          (col("doc_id") + 550000).as("doc_id"),
          concat(lit("Lorem ipsum dolor sit amet, consectetur adipiscing elit sed tempor.\n" +
            "function main() { return 42; }\n" +
            "A perfectly reasonable closing sentence appears at the very end.\n" +
            "id "), col("doc_id").cast("string")).as("text")))
      TextAnalysis.c4Filter(base)
    }),

    // Unigram-LM self-perplexity (CCNet's filter shape, model-free):
    // corpus-trained token probabilities, per-doc mean -ln p.
    "q95_unigram_ppl" -> ((s, d) =>
      TextAnalysis.unigramPerplexity(Tables.documents(s, d))),

    // Per-user EWMA of event values at α=0.2 — the recursive smoother a
    // window can't express; the fold runs the recurrence sequentially
    // in (ts_ns, event_id) order, bit-identical to the oracle's
    // recursive CTE (no summation-order residual).
    "q145_ewma" -> ((s, d) =>
      graft.operators.TimeSeries.ewma(
        Tables.events(s, d).select(col("user_id"), col("ts_ns"),
          col("event_id"), col("value")),
        "user_id", Seq("ts_ns", "event_id"), "value", alpha = 0.2)),

    // Holt level+trend smoothing (q145's two-state sibling) at
    // α=0.2, β=0.1 — same fold, same bit-exact recursive-CTE oracle
    // discipline; emits level/trend/one-step forecast per event.
    "q146_holt_smooth" -> ((s, d) =>
      graft.operators.TimeSeries.holtSmooth(
        Tables.events(s, d).select(col("user_id"), col("ts_ns"),
          col("event_id"), col("value")),
        "user_id", Seq("ts_ns", "event_id"), "value",
        alpha = 0.2, beta = 0.1)),

    // Bigram-LM perplexity, trained on the EVEN half of the corpus and
    // scoring everything — odd docs carry genuinely unseen bigrams, so
    // both the smoothing backstop and the unseen fraction are exercised
    // (self-training would pin unseen_frac at 0 corpus-wide).
    "q143_bigram_ppl" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      TextAnalysis.bigramPerplexity(docs,
        train = docs.filter(col("doc_id") % 2 === 0))
    }),

    // Interpolated Kneser–Ney bigram perplexity, same even-half training
    // split as q143 — the discounted/continuation arithmetic replayed
    // literally in SQL; odd docs exercise both the unseen-history
    // backoff and the +1-completed continuation tail.
    "q161_kn_bigram_ppl" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      TextAnalysis.knBigramPerplexity(docs,
        train = docs.filter(col("doc_id") % 2 === 0))
    }),

    "q33_fingerprint" -> ((s, d) =>
      Tables.documents(s, d).select(col("doc_id"),
        TextAnalysis.fingerprint(col("text")).as("fp"))),

    // Winnowing (rolling-hash) fingerprints: the PARTIAL-overlap
    // primitive — a shared character run of >= w+k-1 chars guarantees a
    // shared fingerprint, which whole-doc hashing (q33) cannot see. The
    // fingerprint set is serialized to a CSV scalar at the boundary
    // (q52 convention); cast-then-join, never transform(__fp, ...) —
    // CollapseProject would inline the kernel per element.
    "q69_winnow_fingerprints" -> ((s, d) =>
      Tables.documents(s, d).select(col("doc_id"),
          graft.functions.WinnowFunctions.winnowFingerprints(col("text"))
            .as("__fp"))
        .select(col("doc_id"), size(col("__fp")).as("n_fps"),
          array_join(col("__fp").cast("array<string>"), ",").as("fps"))),

    "q34_token_stats_by_lang" -> ((s, d) =>
      Tables.documents(s, d)
        .groupBy("lang")
        .agg(count(lit(1)).as("docs"),
          sum(TextAnalysis.tokenCount(col("text"))).as("total_tokens"),
          round(avg(length(col("text"))), 4).as("avg_chars"))),

    // Composite curation report — the end-user shape these operators
    // exist for: per-source corpus health in one grouped pass.
    "q50_curation_report" -> ((s, d) => {
      val t = Tables.documents(s, d)
      val enriched = t.select(col("source"), col("lang"),
        TextAnalysis.qualityScore(col("text")).as("q"),
        TextAnalysis.tokenCount(col("text")).as("nt"))
      enriched.groupBy("source").agg(
        count(lit(1)).as("docs"),
        round(avg(col("q")), 4).as("avg_quality"),
        sum(when(col("q") >= 0.75, 1L).otherwise(0L)).as("high_quality_docs"),
        countDistinct(col("lang")).as("langs"),
        round(avg(col("nt")), 4).as("avg_tokens"))
    }),

    // Exact heavy-hitter tokens (> 1% of all token occurrences) via the
    // bounded-memory two-pass sketch: candidate superset from freqItems,
    // then exact counts for candidates only.
    "q71_heavy_hitters" -> ((s, d) =>
      graft.operators.Sketches.exactHeavyHitters(
        Tables.documents(s, d)
          .select(explode(TextAnalysis.tokens(col("text"))).as("tok")),
        "tok", support = 0.01)),

    // Partial-overlap detection over planted 200-char excerpts: every
    // eligible 25th doc contributes an excerpt copy; the overlap query
    // must attribute each excerpt to its source — whole-doc similarity
    // (q35-q38) structurally misses these (global Jaccard ~0.2).
    "q70_winnow_overlap" -> ((s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val planted = docs
        .filter(col("doc_id") % 25 === 0 && length(col("text")) >= 300)
        .select((col("doc_id") + 300000).as("doc_id"),
          substring(col("text"), 41, 200).as("text"))
      TextAnalysis.winnowOverlapPairs(docs.unionByName(planted),
        "text", "doc_id")
    }),

    // Exact-substring shared spans (Lee et al. 2021's dedup class at
    // winnowing guarantees) over planted OFFSET-SHIFTED copies: a 'zq '
    // head token + the source's first 240 chars + a unique tail. The
    // one-token head shifts every aligned 20-token chunk boundary, so
    // q86's chunk fingerprints all differ (proven in WinnowSpanSpec) —
    // same-offset fingerprint runs still merge into the shared span.
    "q135_winnow_spans" -> ((s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val planted = docs
        .filter(col("doc_id") % 18 === 0 && length(col("text")) >= 300)
        .select((col("doc_id") + 700000).as("doc_id"),
          concat(lit("zq "), substring(col("text"), 1, 240),
            lit(" winnow span tail "), col("doc_id").cast("string"))
            .as("text"))
      TextAnalysis.winnowSharedSpans(docs.unionByName(planted),
        "text", "doc_id")
    }),

    // Corpus vocabulary: top tokens per language — heavy stage is the
    // map-side-combined token count; the rank window only sees the
    // vocabulary-sized aggregate.
    "q61_top_tokens" -> ((s, d) =>
      TextAnalysis.topTokens(Tables.documents(s, d), "lang", 5)),

    // Characteristic terms per document (TF-IDF top-3): rank window is
    // rounded-value-ordered with a term tie-break, so ranks are
    // deterministic cross-engine.
    "q66_tfidf_terms" -> ((s, d) =>
      TextAnalysis.tfidfTopTerms(Tables.documents(s, d), 3)),

    // Deterministic hash train/val/test split — reproducible, shuffle-
    // free, append-stable (a row's split never changes as the corpus
    // grows); md5 bucket convention shared with the oracle.
    "q62_deterministic_split" -> ((s, d) =>
      Sampling.deterministicSplit(Tables.documents(s, d), "doc_id")
        .select("doc_id", "bucket", "split")),

    // Per-source unigram KL divergence vs the corpus — domain-shift
    // diagnostics; vocabulary-sized aggregates only.
    "q83_token_divergence" -> ((s, d) =>
      TextAnalysis.tokenDivergence(Tables.documents(s, d), "source")),

    // Gopher/FineWeb repetition quality signals: per-row distinct-
    // shingle arithmetic + one map-side-combined top-word aggregate.
    "q81_repetition_stats" -> ((s, d) =>
      TextAnalysis.repetitionStats(Tables.documents(s, d))),

    // Publish-exact Gopher repetition semantics (char fractions of top /
    // duplicated n-grams) — q81's occurrence form is the fast screen;
    // this is the form the paper's thresholds are stated over.
    "q85_repetition_exact" -> ((s, d) =>
      TextAnalysis.repetitionCharStats(Tables.documents(s, d))),

    // PII redaction over planted PII (every 10th doc gets an email, an
    // IPv4, and a phone number appended on BOTH engines): output is the
    // md5 of the redacted text — character-exact parity or nothing.
    "q82_redact_pii" -> ((s, d) => {
      val base = Tables.documents(s, d).select(col("doc_id"),
        when(col("doc_id") % 10 === 0,
          concat(col("text"), lit(" contact user"),
            col("doc_id").cast("string"),
            lit("@example.com from 10.0.0.77 call 555-123-4567")))
          .otherwise(col("text")).as("text"))
      base.select(col("doc_id"),
        (TextAnalysis.redactPii(col("text")) =!= col("text")).as("has_pii"),
        md5(TextAnalysis.redactPii(col("text"))).as("red_fp"))
    }),

    // Benchmark decontamination: the corpus screened against an eval
    // set (here: planted 200-char excerpts of every 25th doc, the q70
    // planting convention) — excerpt SOURCES share 8-token shingles
    // with the benchmark and must flag contaminated.
    "q80_decontaminate" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val bench = docs
        .filter(col("doc_id") % 25 === 0 && length(col("text")) >= 300)
        .select(substring(col("text"), 41, 200).as("text"))
      graft.operators.Decontaminate.flagContaminated(docs, bench, n = 8)
    }),

    // Contamination attribution over the same planted excerpt benchmark
    // as q80: WHICH benchmark doc each contaminated doc matched —
    // (doc_id, bench_id) pairs, benchmark-bounded output.
    "q92_decontaminate_attrib" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val bench = docs
        .filter(col("doc_id") % 25 === 0 && length(col("text")) >= 300)
        .select(col("doc_id").as("bench_id"),
          substring(col("text"), 41, 200).as("text"))
      graft.operators.Decontaminate.attributeContamination(docs, bench, n = 8)
    }),

    // Sequence-packing planner: concat-and-chunk layout per language
    // shard, 2048-token packs — pure window arithmetic, engine-exact.
    "q78_pack_sequences" -> ((s, d) =>
      Sampling.packSequences(
        Tables.documents(s, d).select(col("doc_id"), col("lang"),
          TextAnalysis.tokenCount(col("text")).as("n_tokens")),
        "n_tokens", budget = 2048L, Seq("lang"), "doc_id")),

    // Training-shard layout plan: deterministicShuffle (q89) composed
    // with packSequences (q78) in shuffled-pos order — the coordinates
    // writeTrainingShards materializes. Pure hash + window arithmetic,
    // engine-exact.
    "q93_training_shards" -> ((s, d) =>
      graft.sources.Layout.planTrainingShards(
        Tables.documents(s, d).select(col("doc_id"),
          TextAnalysis.tokenCount(col("text")).as("n_tokens")),
        "n_tokens", "doc_id", shards = 8, budget = 2048L)),

    // Deterministic k-per-group sample via the bounded-heap aggregate
    // (no per-group sort); md5-hash order, engine-exact.
    "q79_group_sample" -> ((s, d) =>
      Sampling.deterministicGroupSample(
        Tables.documents(s, d), Seq("lang"), k = 8, "doc_id")),

    // The composed curation pipeline over planted exact dups + the q80
    // excerpt benchmark: per-doc keep/reject with reason attribution.
    // Every stage is an already-oracled piece (q35/q80/q84/q32/q81), so
    // the composition gets a full value oracle too.
    "q90_curation_pipeline" -> ((s, d) => {
      val bench = Tables.documents(s, d)
        .filter(col("doc_id") % 25 === 0 && length(col("text")) >= 300)
        .select(substring(col("text"), 41, 200).as("text"))
      graft.operators.Curation.curate(docsWithDups(s, d), bench)
    }),

    // ── Deduplication ────────────────────────────────────────────────
    "q35_exact_dedup" -> ((s, d) =>
      Dedup.exactDedup(docsWithDups(s, d), "text", "doc_id")),

    "q36_minhash_neardup" -> ((s, d) =>
      Dedup.minhashNearDupPairs(Tables.documents(s, d), "text", "doc_id",
        threshold = 0.8)),

    "q37_simhash" -> ((s, d) =>
      Dedup.withSimhash(Tables.documents(s, d), "text")
        .select("doc_id", "simhash")),

    "q38_ngram_neardup" -> ((s, d) =>
      Dedup.ngramNearDupPairs(docsWithNgramDups(s, d), "text", "doc_id",
        Seq("lang", "source"), threshold = 0.8)),

    // Prefix-filtered variant — EXACT same contract as q38 (identical
    // oracle), near-linear candidates instead of block-quadratic.
    "q67_ngram_prefix_neardup" -> ((s, d) =>
      Dedup.ngramNearDupPairsPrefix(docsWithNgramDups(s, d), "text", "doc_id",
        Seq("lang", "source"), threshold = 0.8)),

    // The hot-bucket cap under the oracle: a planted 60-doc boilerplate
    // cluster (pairwise shingle-Jaccard ≈ 0.88 — floods its LSH band
    // buckets far past maxBucket = 20, but sits UNDER the 0.9 verify
    // threshold, so every cluster candidate is verify-rejected dead
    // weight either way) + exact dups (Jaccard 1.0, all 8 bands collide
    // pairwise → cap-immune). Full-recall contract ⇒ the oracle is the
    // same exact ground truth as q36's, over the planted base — the
    // gate now exercises the hot-bucket anti-join path end-to-end.
    "q73_minhash_capped" -> ((s, d) =>
      Dedup.minhashNearDupPairs(docsWithHotCluster(s, d), "text", "doc_id",
        threshold = 0.9, maxBucket = 20)),

    // Incremental ingest dedup: the batch (documents + planted exact
    // dups) against a stored-fingerprint corpus covering every 3rd base
    // doc. Exact by construction → full value oracle.
    "q74_incremental_dedup" -> ((s, d) => {
      val corpusFps = Tables.documents(s, d)
        .filter(col("doc_id") % 3 === 0)
        .select(TextAnalysis.fingerprint(col("text")).as("fp"))
      Dedup.incrementalExactDedup(docsWithDups(s, d), corpusFps,
        "text", "doc_id")
    }),

    // Near-dup pairs → connected components → full-corpus canonical map.
    "q45_neardup_clusters" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val pairs = Dedup.minhashNearDupPairs(docs, "text", "doc_id", 0.8)
      val clusters = Dedup.nearDupClusters(pairs)
      docs.select(col("doc_id"))
        .join(clusters, docs("doc_id") === clusters("id"), "left")
        .select(docs("doc_id"),
          coalesce(col("cluster"), docs("doc_id")).as("cluster"))
    }),

    // Quality-aware canonical selection: every 10th long doc re-surfaces
    // (id + 200000) with one MORE token — the more-complete copy. Under
    // min-id dedup the original wins; under completeness (text length)
    // the HIGHER-id twin must win its cluster — the q45 closure with the
    // argmax flipped from "first" to "best".
    "q164_best_canonical" -> ((s, d) => {
      val base = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val planted = base
        .filter(col("doc_id") % 10 === 0 && length(col("text")) >= 300)
        .select((col("doc_id") + 200000).as("doc_id"),
          concat(col("text"), lit(" zq8k")).as("text"))
      val all = base.unionByName(planted)
      val pairs = Dedup.minhashNearDupPairs(all, "text", "doc_id", 0.8)
      Dedup.qualityCanonicalDedup(all, pairs, length(col("text")))
    }),

    // Trainable quality classifier (VERDICT r16 #5): 8 rounds of
    // deterministic quantized-gradient descent against a rule-battery
    // teacher label (qualityScore >= 0.5), one audit row per round.
    // The oracle replays every round as an unrolled CTE pair (the q134
    // discipline) — quantized-long gradient sums make the only
    // corpus-wide aggregate an exact integer sum, so both engines walk
    // the identical weight trajectory.
    "q167_fit_quality_logit" -> ((s, d) =>
      TextAnalysis.fitQualityLogit(
        Tables.documents(s, d).select(col("doc_id"), col("text")),
        TextAnalysis.qualityScore(col("text")) >= 0.5)),

    // Calibration audit (round 17): is the SHIPPED logit's score value
    // honest against the rule-battery teacher? Reliability bins + Brier
    // in exact quantized-long arithmetic — q129 (where to cut) and q132
    // (does it rank) get their third leg (does 0.8 mean 80%).
    "q169_reliability_bins" -> ((s, d) =>
      TextAnalysis.reliabilityBins(
        Tables.documents(s, d).select(col("text")),
        TextAnalysis.qualityLogit(col("text")),
        TextAnalysis.qualityScore(col("text")) >= 0.5)),

    // Chunk-level exact dedup over planted partial copies: the planted
    // doc shares exactly its first two 20-token chunks with its source.
    "q86_chunk_dedup" -> ((s, d) =>
      Dedup.duplicatedChunkStats(docsWithChunkDups(s, d), "text", "doc_id",
        chunkTokens = 20)),

    // Deterministic corpus shuffle: (shard, pos) training-order
    // coordinates — pure hash order, engine-exact.
    "q89_corpus_shuffle" -> ((s, d) =>
      Sampling.deterministicShuffle(
        Tables.documents(s, d).select(col("doc_id")), "doc_id", shards = 8)),

    // Per-stratum-rate sampling (data mixing): en halved, fr quartered,
    // zh at 5%, everything else 10% — deterministic md5-bucket keep.
    "q87_stratified_sample" -> ((s, d) =>
      Sampling.sampleByStrata(
        Tables.documents(s, d).select(col("doc_id"), col("lang")),
        "lang", Map("en" -> 0.5, "fr" -> 0.25, "zh" -> 0.05),
        defaultRate = 0.1, idCol = "doc_id")),

    // ── Similarity search ────────────────────────────────────────────
    "q39_embed_neardup" -> ((s, d) =>
      Similarity.cosineNearDupPairs(Tables.embeddings(s, d), 0.4)),

    // LSH-bucketed near-dup — the scale path for q39's exact all-pairs.
    // Oracle = the exact all-pairs ground truth over the same planted
    // table: the banded hyperplane signatures must catch every ≥0.9 pair
    // (q36's full-recall contract, cosine edition; miss p ≈ 2.5e-5 per
    // pair at the planted ~0.997 similarity, deterministic seed).
    "q60_hyperplane_neardup" -> ((s, d) =>
      Similarity.hyperplaneNearDupPairs(embWithDups(s, d), 0.9)),

    // Semantic dedup end-to-end: q60's pairs -> connected components ->
    // one kept representative per embedding-space group. Oracle = exact
    // all-pairs ground truth + recursive closure (q45's convention),
    // under q60's full-recall contract at the planted ~0.997 similarity.
    "q88_semantic_dedup" -> ((s, d) =>
      Similarity.semanticDedup(embWithDups(s, d), 0.9)),

    "q40_cosine_topk" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 10), 5)
    }),

    // Approximate (recall < 1): rows/schema check only — no oracleSql;
    // the retrieval-quality contract is q91 + SimilaritySpec's >= 0.9
    // recall assertion at THIS configuration. kmeansIterations = 2
    // exercises the Lloyd refinement path (kmeansCentroids) at the
    // gate, not just in unit tests; nprobe = 6 of 16 lists is the
    // measured-recall operating point on the unclustered fixture
    // (avg 0.96 / min 0.8 at both sf0.001 and sf0.01 — random vectors
    // are IVF's worst case; clustered corpora reach 1.0 at nprobe 1).
    "q41_ann_ivf" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 10), 5,
        nprobe = 6, kmeansIterations = 2)
    }),

    // The recall gate artifact: per-query recall@5 of the q41 IVF
    // configuration against the gated-green exact brute force, computed
    // in-Spark on the same fixture. Values are IVF-config-specific →
    // rows-only at the driver gate; the >= 0.9 CONTRACT is asserted in
    // SimilaritySpec (and a corrupted-result control proves the
    // measurement trips).
    "q91_ann_recall" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val q = emb.filter(col("vec_id") < 10)
      Similarity.recallAtK(
        Similarity.ivfTopK(emb, q, 5, nprobe = 6, kmeansIterations = 2),
        Similarity.bruteForceTopK(emb, q, 5))
    }),

    // Quantized IVF (the production ANN memory shape: int8 lists probed
    // by the int-dot kernel). Approximate through two compounded stages
    // (probe miss + code rounding) → rows/schema check only; the >= 0.9
    // recall contract vs the exact FLOAT brute force at THESE parameters
    // is asserted in SimilaritySpec with a negative control. Measured on
    // the sf0.01 fixture: avg recall@5 0.94 / min 0.8 — the same class
    // as the float IVF path (q41: 0.96/0.8); quantization costs ~0.02.
    "q136_ann_ivf_quant" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.ivfTopKQuantized(emb, emb.filter(col("vec_id") < 10), 5,
        nprobe = 6, kmeansIterations = 2)
    }),

    // The quantized-IVF recall gate artifact (q91's pattern for the
    // composed path): per-query recall@5 of the q136 configuration
    // against the gated-green exact float brute force, in-Spark on the
    // same fixture. Rows-only at the driver gate; the contract lives in
    // SimilaritySpec.
    "q137_ann_ivf_quant_recall" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val q = emb.filter(col("vec_id") < 10)
      Similarity.recallAtK(
        Similarity.ivfTopKQuantized(emb, q, 5, nprobe = 6,
          kmeansIterations = 2),
        Similarity.bruteForceTopK(emb, q, 5))
    }),

    // Incremental index maintenance for ANN (the q74/q128 discipline):
    // the index is built over the first 80% of the corpus, the rest
    // arrives as a batch and is assigned to the FROZEN centroids at
    // batch cost (appendToIvfIndex — old lists untouched); the artifact
    // is the recall of probing the appended index against the exact
    // brute force over the FULL corpus. Rows-only (approximate by
    // construction); the >= 0.9 contract and the
    // append ≡ fixed-centroid-rebuild equivalence live in
    // SimilaritySpec. nprobe = 10 of 16: centroids frozen at 80% of
    // the corpus cost probe width — 6 lists (q136's operating point on
    // fresh centroids) measures 0.82 avg at sf0.01, 10 restores the
    // q136 recall class (0.94 avg / 0.8 min measured) — exactly the
    // drift signal the scaladoc says should trigger a rebuild cadence.
    "q140_ann_ivf_append_recall" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val q = emb.filter(col("vec_id") < 10)
      // scale-free 80/20 split: every 5th vector is the "new" batch
      val appended = Similarity.appendToIvfIndex(
        Similarity.buildIvfIndex(emb.filter(col("vec_id") % 5 =!= 4),
          numCentroids = 16, kmeansIterations = 2),
        emb.filter(col("vec_id") % 5 === 4))
      Similarity.recallAtK(
        Similarity.probeIvfQuantized(appended, q, 5, nprobe = 10),
        Similarity.bruteForceTopK(emb, q, 5))
    }),


    // SEMANTIC decontamination (embedding-space eval-leakage screen —
    // the paraphrase-robust complement of q80/q92's verbatim shingle
    // screens): every corpus vector scored on exact cosine against a
    // broadcast eval set (planted: every 50th vector, +0.01f-shifted —
    // the embWithDups convention, sim ≈ 0.997 to its source while
    // background best-matches stay ≤ ~0.6), flagged at 0.9 with
    // best-match attribution. FULL value oracle — the float arithmetic
    // is the engine-exact q39 dot convention, so unlike the LSH/IVF
    // family this similarity query hash-matches.
    "q142_semantic_decontaminate" -> ((s, d) => {
      val emb = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
      val bench = emb.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("bench_id"),
          transform(col("embedding"), x => x + lit(0.01f)).as("embedding"))
      graft.operators.Decontaminate.semanticDecontaminate(
        emb, bench, threshold = 0.9)
    }),

    // Media GROUP dedup (q88's composition for payloads): q138's pairs
    // -> connected components -> one kept representative per
    // embedding-space media group. Rows-only (float-feature pipeline);
    // at the measured margins the groups are exactly the planted
    // (base, base+300000) pairs, so kept == doc_id < 300000 — asserted
    // with the transitive three-member case in SimilaritySpec.
    "q141_media_dedup" -> ((s, d) =>
      Similarity.mediaDedup(mediaWithDups(s, d), 0.9)),

    // Multimodal near-dup pairs (the r8 ask #4 composition): histogram
    // features → mean-centering → hyperplane-LSH candidates → exact
    // centered-cosine verify, over the planted synthetic-media fixture.
    // Float-feature pipeline with no portable SQL rendering (the
    // q76/q136 convention) → rows-only at the driver gate; the recall
    // CONTRACT is q139 + SimilaritySpec's full-recall assertion with a
    // corrupted-result negative control. Margins are measured, not
    // hoped: planted ≥ 0.998, background ≤ 0.51, threshold 0.9.
    "q138_media_neardup" -> ((s, d) =>
      Similarity.mediaNearDupPairs(mediaWithDups(s, d), 0.9)),

    // The media near-dup recall-gate artifact (q137's pattern for pair
    // output): pair-set recall of the LSH path vs the exact all-pairs
    // ground truth on the same fixture, in-Spark. One row; rows-only at
    // the driver gate; SimilaritySpec asserts recall == 1.0 (full
    // recall at the measured margins) and that the measurement trips on
    // corrupted pairs.
    "q139_media_neardup_recall" -> ((s, d) =>
      Similarity.pairRecall(
        Similarity.mediaNearDupPairs(mediaWithDups(s, d), 0.9),
        Similarity.mediaNearDupExact(mediaWithDups(s, d), 0.9))),

    // ── Multimodal columns ───────────────────────────────────────────
    // The operators are BYTE-semantic (media = UTF-8 bytes; multibyte
    // behavior unit-tested in MultimodalSpec), but DuckDB cannot slice
    // BLOBs, so the gate scopes both engines to the byte/char-identical
    // subset (octet_length = char length ⟺ pure ASCII — currently the
    // whole fixture) where char-based oracle SQL is byte-exact. q43
    // additionally guards length ≥ frames so the oracle's fixed
    // 4-rows-per-doc shape matches the operator's short-payload clamp.
    "q42_multimodal_meta" -> ((s, d) =>
      Multimodal.decodeMeta(Multimodal.attachBlob(Tables.documents(s, d)
        .filter(octet_length(col("text")) === length(col("text")))))),

    "q43_frame_sample" -> ((s, d) =>
      Multimodal.sampleFrames(Multimodal.attachBlob(Tables.documents(s, d)
        .filter(octet_length(col("text")) === length(col("text")) &&
          length(col("text")) >= 4)))),

    // Quantile bucketing, gated in EXACT-cutpoint mode: percentile_disc
    // (SQL-standard "smallest value with cume_dist >= p") is computed
    // identically by DuckDB's quantile_disc, so the bucket-assignment
    // logic gets full hash-match protection. Production keeps the
    // one-pass percentile_approx sketch (the 100 TB path — exercised by
    // the q46 gate row and SketchesSpec's error-bound test).
    "q75_quantile_buckets" -> ((s, d) =>
      graft.operators.Sketches.approxQuantileBuckets(
        Tables.documents(s, d)
          .select(col("doc_id"), length(col("text")).as("n_chars")),
        "n_chars", buckets = 10, exact = true)),

    // Multimodal feature extraction / resample: float-vector and binary
    // outputs have no portable SQL rendering → rows/schema check only;
    // value semantics are unit-tested (MultimodalSpec). The gate projects
    // the vector to scalars (dims + L1 peak) — the driver's comparator
    // sorts rows in pandas and chokes on array cells (r4: q76 err'd on
    // "unhashable type: numpy.ndarray" before even counting rows).
    "q76_media_features" -> ((s, d) =>
      Multimodal.extractFeatures(
          Multimodal.attachBlob(Tables.documents(s, d)))
        .select(col("doc_id"), size(col("feature")).as("dims"),
          round(array_max(col("feature")).cast("double"), 4)
            .as("peak_bucket_share"))),

    "q77_media_resample" -> ((s, d) =>
      Multimodal.resample(
          Multimodal.attachBlob(Tables.documents(s, d)), targetBytes = 64)
        .select(col("doc_id"), length(col("media")).as("n_bytes"),
          col("format"))),

    // Distance-to-centroid outliers: 1.006 sits at the ~p90 of the
    // fixture's distance distribution (distances cluster tightly around
    // 1.0 — near-unit vectors around a near-zero mean), so the flag path
    // is exercised by ~10% of rows, not vacuously false.
    "q99_embed_outliers" -> ((s, d) =>
      Similarity.centroidOutliers(Tables.embeddings(s, d),
        threshold = 1.006)),

    // Learned-filter stage (fixed-weight logistic over kernel features);
    // keep at 0.5 — the classifier complement of the q84/q94 rule
    // batteries.
    "q100_quality_logit" -> ((s, d) =>
      Tables.documents(s, d).select(col("doc_id"),
          round(TextAnalysis.qualityLogit(col("text")), 4).as("q_score"))
        .withColumn("keep", col("q_score") >= 0.5)),

    // Domain-mixing plan over the 20 uniform fixture sources: src0/src1
    // demand far more than their observed ~5% share (src0's 30% target
    // caps at maxEpochs=4), src2..src11 split the rest, src12+ are
    // deliberately absent → target 0 → weight 0 (the visible-drop path).
    "q101_domain_mix" -> ((s, d) =>
      Sampling.domainMixPlan(Tables.documents(s, d), "source",
        TextAnalysis.tokenCount(col("text")).cast("long"),
        targets = Map("src0" -> 0.3, "src1" -> 0.2) ++
          (2 to 11).map(i => s"src$i" -> 0.05).toMap)),

    // Upsert compaction: newest event per (user, type) — the events
    // table standing in for a crawl-refresh feed; (ts_ns, event_id) is
    // the total version order. max_by aggregate (map-side combinable),
    // not a row_number window. Output carries the µs `ts` (ts_ns has
    // sub-µs digits DuckDB's TIMESTAMP read truncates — q63 orders by
    // ts_ns but never emits it, same convention here).
    "q103_latest_version" -> ((s, d) =>
      Dedup.latestVersion(
        Tables.events(s, d)
          .select("user_id", "event_type", "ts_ns", "ts", "event_id",
            "value"),
        keys = Seq("user_id", "event_type"),
        versionCols = Seq("ts_ns", "event_id"),
        payloadCols = Seq("ts", "value"))
        .drop("ts_ns")),

    // Corpus-wide line-level dedup (C4's line-granular rule): every 7th
    // doc gets the same two boilerplate footer lines — the first
    // occurrence (lowest (doc_id, pos)) survives, every other copy is
    // deleted from its reassembled document; the unique body lines pass
    // through untouched. Short lines (< 10 chars) are exempt by
    // contract.
    "q104_line_dedup" -> ((s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val base = docs.withColumn("text",
        when(col("doc_id") % 7 === 0,
          concat(col("text"),
            lit("\nsubscribe to our newsletter for updates" +
              "\nall rights reserved worldwide")))
          .otherwise(col("text")))
      Dedup.lineDedup(base)
    }),

    // Strided 64-token context windows every 48 tokens (overlap 16):
    // the LM-training chunk materialization. Pure projection + bounded
    // generator — no shuffle; output grows by the overlap factor by
    // design.
    "q108_strided_chunks" -> ((s, d) =>
      Sampling.stridedChunks(Tables.documents(s, d), seqLen = 64,
        stride = 48)),

    // Fixed-width document-length histogram: one scan, bin-cardinality
    // shuffle.
    "q112_length_histogram" -> ((s, d) =>
      graft.operators.Sketches.histogram(
        Tables.documents(s, d)
          .select(col("doc_id"), length(col("text")).as("n_chars")),
        "n_chars", binWidth = 200.0)),

    // Tokenizer-fit coverage vs a fixed reference vocabulary (a
    // plan-side literal — no join, no shuffle; membership is the
    // codegen'd O(1) hash-set kernel). Gated at a realistic 10k-entry
    // vocabulary so the gate exercises the shape a real BPE vocab has.
    "q113_vocab_coverage" -> ((s, d) => {
      val v = TextAnalysis.vocabCoverage(col("text"), GateVocab10k)
      Tables.documents(s, d).select(col("doc_id"),
        v.getField("n_tokens").as("n_tokens"),
        v.getField("in_vocab").as("in_vocab"),
        v.getField("coverage").as("coverage"))
    }),

    // Subword segmentation counts — greedy longest-match (WordPiece
    // inference rule) over a fixed 10k-entry piece vocabulary, compiled
    // to a byte-trie probed per-row inside codegen: what an LM loader's
    // tokenizer would emit, reconciled with the whitespace-token
    // operators (q108/q113). The DuckDB oracle replays the identical
    // greedy loop with a recursive CTE.
    "q119_subword_stats" -> ((s, d) => {
      val v = TextAnalysis.subwordStats(col("text"), SubwordVocab10k)
      Tables.documents(s, d).select(col("doc_id"),
        v.getField("n_words").as("n_words"),
        v.getField("n_pieces").as("n_pieces"),
        v.getField("n_unk").as("n_unk"))
    }),

    // One BPE merge round's counting step over the corpus: top-50
    // adjacent piece pairs (within-word, consumption order) under the
    // same 10k vocabulary and greedy trie kernel as q119 — the ranking
    // Sennrich et al. 2016's merge rule maximizes, produced distributed
    // (pair generator is scan-sized, the count map-side combined, the
    // rank window over the pair-vocabulary aggregate only).
    "q133_bpe_pairs" -> ((s, d) =>
      TextAnalysis.bpePairStats(Tables.documents(s, d), col("text"),
        SubwordVocab10k, k = 50)),

    // The iterated BPE TRAINING loop (q133 is one round's counting step;
    // this learns a vocabulary): 3 rounds of count → argmax merge →
    // re-segment over the word-frequency dictionary, corpus scanned
    // once. The DuckDB oracle replays the identical loop — the q133
    // recursive-CTE segmentation, then per round a weighted pair count,
    // the same (cnt desc, p1, p2) argmax, and a recursive merge walk.
    "q134_bpe_learn" -> ((s, d) =>
      TextAnalysis.learnBpeMerges(Tables.documents(s, d), col("text"),
        SubwordVocab10k, rounds = 3)),

    // Token-budget corpus selection: greedy best-quality prefix under a
    // 15k-token budget (~55% of the sf0.01 corpus, ~5% at sf0.1 — both
    // scales exercise the boundary-bucket partial keep). Score is the
    // 4-dp quality logit (bounded-cardinality, per the operator's
    // contract); no global sort — per-score aggregation + a metadata
    // cumsum pick the cut, only the boundary tie-class ranks per-doc.
    "q120_token_budget" -> ((s, d) =>
      Sampling.selectByTokenBudget(
        Tables.documents(s, d),
        round(TextAnalysis.qualityLogit(col("text")), 4),
        graft.functions.TextStatsFunctions.tokenStats(col("text"))
          .getField("n_tokens"),
        budget = 15000L)),

    // Sequence packing by SUBWORD pieces (q119 ∘ q78): the pack budget
    // counts what the LM loader actually packs — whitespace-token
    // budgets under-fill packs by the piece expansion factor (~1.34× on
    // this corpus). Same single-shuffle pack arithmetic, piece counts
    // from the per-row trie kernel.
    "q123_subword_pack" -> ((s, d) =>
      Sampling.packSequences(
        Tables.documents(s, d).select(col("doc_id"), col("lang"),
          TextAnalysis.subwordStats(col("text"), SubwordVocab10k)
            .getField("n_pieces").as("n_pieces")),
        "n_pieces", budget = 2048L, Seq("lang"), "doc_id")),

    // Mix materialization: q101's plan EXECUTED — src0/src1 at the
    // 4-epoch cap yield four copies of every doc, the ~1.0-weight
    // domains exercise the fractional extra-copy hash draw, src12+
    // (weight 0) vanish. Composes plan → materialize end-to-end under
    // one oracle.
    "q121_materialize_mix" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val plan = Sampling.domainMixPlan(docs, "source",
        TextAnalysis.tokenCount(col("text")).cast("long"),
        targets = Map("src0" -> 0.3, "src1" -> 0.2) ++
          (2 to 11).map(i => s"src$i" -> 0.05).toMap)
      Sampling.materializeMix(docs.select(col("doc_id"), col("source")),
        "source", plan, "doc_id")
    }),

    // FineWeb-style per-domain quality gate: keep each language's top
    // 30% by an exact-arithmetic score (the q32 rule battery + a
    // stopword-ratio tie-break — int/int double divisions, bit-identical
    // cross-engine). percentile_disc cutpoint; ties AT the cut all kept,
    // so the kept fraction is ≥ 30% per group, deterministically.
    "q124_quantile_filter" -> ((s, d) => {
      val score = TextAnalysis.qualityScore(col("text")) +
        coalesce(TextAnalysis.stopwordRatio(col("text")), lit(0.0)) /
          lit(8.0)
      Sampling.filterTopQuantileByGroup(
          Tables.documents(s, d)
            .select(col("doc_id"), col("lang"), col("text")),
          "lang", score, keepFrac = 0.3)
        .select(col("doc_id"), col("lang"), col("score"), col("cutpoint"))
    }),

    // CCNet-class exact dedup: every 10th doc gets a planted twin
    // (doc_id+200000) wrapped in punctuation — NOT an exact dup under
    // q35's whitespace/case class, but identical after aggressive
    // normalization (punct strip + digit fold), so the twin must resolve
    // to its original as canonical.
    "q125_normalized_dedup" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val planted = docs.filter(col("doc_id") % 10 === 0)
        .withColumn("doc_id", col("doc_id") + 200000)
        .withColumn("text", concat(lit("*** "), col("text"), lit(" ???")))
      Dedup.exactDedup(docs.unionByName(planted), "text", "doc_id",
        fingerprinter = t => md5(Dedup.aggressiveNormalize(t)))
    }),

    // Weighted k-per-group sample (Efraimidis–Spirakis on md5 uniforms):
    // 20 docs per language, drawn proportional to n_chars without
    // replacement — long documents represent the corpus by mass.
    "q126_weighted_sample" -> ((s, d) =>
      Sampling.weightedGroupSample(
        Tables.documents(s, d)
          .select(col("doc_id"), col("lang"), col("n_chars")),
        Seq("lang"), k = 20, "doc_id", col("n_chars"))),

    // Incremental near-dup (the daily-crawl composition): every 20th
    // corpus doc arrives again as a batch doc (id+300000) with one
    // appended sentinel token — J = n/(n+1) ≥ 8/9 against its original.
    // At r=2/b=16 a J ≥ 0.8 pair is missed with p ≤ (1−0.64)¹⁶ ≈ 4e-8,
    // so the LSH path must reproduce the oracle's exact inverted-index
    // ground truth between batch and corpus.
    "q128_incremental_minhash" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val corpus = Dedup.minhashCorpusIndex(docs, "text", "doc_id")
      val batch = docs.filter(col("doc_id") % 20 === 0)
        .select((col("doc_id") + 300000).as("doc_id"),
          concat(col("text"), lit(" zq9x")).as("text"))
      Dedup.incrementalMinhashDedup(batch, corpus, "text", "doc_id",
        threshold = 0.8)
    }),

    // Epoch training order: q121's materialized mix through the
    // (id, epoch)-keyed shuffle — each epoch visits its docs in a
    // different reproducible order and a doc's epoch copies scatter
    // across shards (no repeat-exposure adjacency).
    "q131_epoch_order" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val plan = Sampling.domainMixPlan(docs, "source",
        TextAnalysis.tokenCount(col("text")).cast("long"),
        targets = Map("src0" -> 0.3, "src1" -> 0.2) ++
          (2 to 11).map(i => s"src$i" -> 0.05).toMap)
      val mix = Sampling.materializeMix(
        docs.select(col("doc_id"), col("source")), "source", plan, "doc_id")
      Sampling.epochOrder(mix, "doc_id", "epoch", shards = 8)
    }),

    // Threshold calibration for the learned quality filter: q100's
    // rounded logit scored against the q32 rule battery as labels
    // (pass = ≥ 3 of 4 rules), swept over 19 thresholds. Confusion
    // counts are exact integers; precision/recall/f1 are int/int double
    // divisions — engine-identical.
    "q129_threshold_calibration" -> ((s, d) =>
      TextAnalysis.calibrateThresholds(
        Tables.documents(s, d),
        round(TextAnalysis.qualityLogit(col("text")), 4),
        TextAnalysis.qualityScore(col("text")) >= 0.75,
        (1 to 19).map(_ / 20.0))),

    // Per-language ROC-AUC of the same score/label pair as q129 — the
    // threshold-free ranking quality of the learned filter, per slice
    // (a filter can rank well in en and at chance in zh; the aggregate
    // sweep hides that). Exact Mann–Whitney with tie correction; the
    // long pair-count numerator makes the one final division
    // engine-identical.
    "q132_quality_auc" -> ((s, d) =>
      TextAnalysis.rocAuc(
        Tables.documents(s, d),
        round(TextAnalysis.qualityLogit(col("text")), 4),
        TextAnalysis.qualityScore(col("text")) >= 0.75,
        groupCols = Seq("lang"))),

    // Leakage-safe split: q45's near-dup clusters (planted + organic)
    // key the md5 draw, so every component lands wholly in one split —
    // the eval-leak guard a dedup'd training run still needs at split
    // time.
    "q130_leakage_safe_split" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val pairs = Dedup.minhashNearDupPairs(docs, "text", "doc_id", 0.8)
      val clusters = Dedup.nearDupClusters(pairs)
      Sampling.leakageSafeSplit(docs.select(col("doc_id")), clusters,
        "doc_id")
    }),

    // Int8 embedding quantization, value-gated on scalar projections of
    // the code vectors (the q76 convention — the driver's comparator
    // can't hash array cells): per-vector scale, code count/extrema, and
    // two exact integer checksums (sum of squares + position-weighted
    // sum, both through the int-array dot kernel — any code or position
    // flip changes one of them). Recall of quantized cosine top-k vs the
    // exact float path is spec-gated in SimilaritySpec (q91 pattern).
    "q127_quantize_int8" -> ((s, d) => {
      val q = Similarity.quantizeInt8(Tables.embeddings(s, d))
      q.select(col("vec_id"), col("scale"),
        size(col("codes")).as("n_codes"),
        array_min(col("codes")).as("code_min"),
        array_max(col("codes")).as("code_max"),
        Similarity.dot(col("codes"), col("codes")).cast("long").as("sumsq"),
        Similarity.dot(col("codes"),
            sequence(lit(1), size(col("codes"))))
          .cast("long").as("poschk"))
    }),

    // Length-bucketed dynamic batching: similar-length docs batched
    // together so a padding loader wastes ~bucketWidth, not ~max-doc;
    // batches form within (bucket, id-hash shard) so no bucket funnels
    // the corpus through one task's sort. Engine-exact integer/window
    // arithmetic → full value oracle.
    "q148_bucket_batches" -> ((s, d) =>
      Sampling.bucketBatches(
        Tables.documents(s, d).select(col("doc_id"),
          TextAnalysis.tokenCount(col("text")).as("n_tokens")),
        "n_tokens", bucketWidth = 64, batchSize = 8, shards = 4)),

    // The end-to-end corpus→training-shards composition (VERDICT r14
    // #1): curate (q90) → leakage-safe split (q130) → mix plan +
    // materialize (q101/q121) → epoch order (q131) → pack (q78) in one
    // chain, full value oracle on the final (doc, epoch, shard, pos,
    // pack) coordinates — each stage's oracle CTE chained verbatim.
    // Round 16 (VERDICT r15 #2): the fixture plants a 60-doc
    // boilerplate cluster whose band buckets exceed maxBucket = 20, so
    // the composition runs the q73 capped-LSH path end-to-end; the
    // cluster's pairwise Jaccard (0.766) sits under the 0.8 verify
    // threshold, so the exact ground-truth oracle is unchanged by the
    // cap — full recall, gated.
    "q147_training_pipeline" -> ((s, d) => {
      val bench = Tables.documents(s, d)
        .filter(col("doc_id") % 25 === 0 && length(col("text")) >= 300)
        .select(substring(col("text"), 41, 200).as("text"))
      graft.operators.TrainingPipeline.corpusToShards(
        docsWithDupsAndBoilerplate(s, d), bench,
        targets = Map("src0" -> 0.3, "src1" -> 0.2) ++
          (2 to 11).map(i => s"src$i" -> 0.05).toMap,
        maxBucket = 20)
    }),

    // The composition's fine-tuning sibling (VERDICT r15 #3): the SAME
    // curated → leakage-safe-split → mixed corpus (q147's stages 1–3,
    // same fixture, same cap), laid out as q148's length-bucketed
    // padded batches instead of q78's concat packs — batch membership
    // keyed on the (id:epoch) composite so epoch copies scatter.
    // Chained value oracle: q147's CTE blocks through the mix, then
    // q148's batch arithmetic on the (id:epoch) hash.
    "q149_batch_pipeline" -> ((s, d) => {
      val bench = Tables.documents(s, d)
        .filter(col("doc_id") % 25 === 0 && length(col("text")) >= 300)
        .select(substring(col("text"), 41, 200).as("text"))
      graft.operators.TrainingPipeline.corpusToBatches(
        docsWithDupsAndBoilerplate(s, d), bench,
        targets = Map("src0" -> 0.3, "src1" -> 0.2) ++
          (2 to 11).map(i => s"src$i" -> 0.05).toMap,
        maxBucket = 20)
    }),

    // Unicode-compatibility dedup (VERDICT r15 #5): planted re-encoded
    // mirrors — composed-accent twins (a→á, e→é, +600000) and
    // fullwidth twins (a-z→ａ-ｚ, +700000) — must land in their
    // original's equivalence class under the NFKC fold; the q125
    // byte-level class provably misses both (its regexes never touch
    // the code points). The corpus is pure ASCII (checked), so the
    // oracle expresses the fold as the literal inverse translate of
    // exactly the planted characters — identity on organic docs —
    // then reuses q125's aggressive-normalize chain verbatim.
    "q150_unicode_dedup" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val accent = docs.filter(col("doc_id") % 10 === 0)
        .withColumn("doc_id", col("doc_id") + 600000)
        .withColumn("text", translate(col("text"), "ae", "áé"))
      val fullwidth = docs.filter(col("doc_id") % 10 === 5)
        .withColumn("doc_id", col("doc_id") + 700000)
        .withColumn("text", translate(col("text"),
          "abcdefghijklmnopqrstuvwxyz",
          "ａｂｃｄｅｆｇｈｉｊｋｌｍｎｏｐｑｒｓｔｕｖｗｘｙｚ"))
      Dedup.exactDedup(docs.unionByName(accent).unionByName(fullwidth),
        "text", "doc_id",
        fingerprinter = t => md5(Dedup.unicodeNormalize(t)))
    }),

    // Temperature-scaled mix plan at the XLM-R-ish α = 0.5 (the
    // correctly-rounded sqrt path of the determinism contract): the 20
    // near-uniform fixture sources flatten toward uniform — every
    // target lands between its obs share and 1/20, upweighting the
    // small sources — with NO hand-written target map (contrast q101).
    "q151_temperature_mix" -> ((s, d) =>
      Sampling.temperatureMixPlan(Tables.documents(s, d), "source",
        TextAnalysis.tokenCount(col("text")).cast("long"), alpha = 0.5)),

    // Hard-negative mining: q40's anchors/k with the label-mismatch
    // predicate pushed into the broadcast join — for each anchor the 5
    // most-similar DIFFERENT-label vectors, the contrastive-training
    // negatives that matter.
    "q152_hard_negatives" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.hardNegatives(emb, emb.filter(col("vec_id") < 10), 5)
    }),

    // Neighborhood label purity over the EXACT 5-NN of every vector
    // (all-pairs ground truth, q39's scale class) — the mislabel signal;
    // the corpus-scale path feeds ivfTopK output into the same purity
    // arithmetic (composition spec-gated in SimilaritySpec).
    "q153_knn_purity" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.labelPurity(Similarity.bruteForceTopK(emb, emb, 5), emb)
    }),

    // BPE ENCODE composed over BPE LEARN (q134's loop, then its merges
    // APPLIED corpus-wide): the full tokenizer round trip — learn 3
    // merges, encode every document to its piece sequence. The merge
    // table collect is 3 rows (the Lloyd/argmax metadata shape); the
    // encode itself is the Sennrich dictionary join, corpus touched
    // twice, no interpreted fold ever sees a corpus row.
    "q154_bpe_encode" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val merges = TextAnalysis.learnBpeMerges(docs, col("text"),
          SubwordVocab10k, rounds = 3)
        .orderBy(col("round"))
        .select(col("p1"), col("p2")).collect()
        .map(r => (r.getString(0), r.getString(1))).toSeq
      TextAnalysis.encodeBpe(docs, col("text"), SubwordVocab10k, merges)
    }),

    // Fuzzy decontamination (the near-verbatim class between q80's exact
    // shingles and q142's semantic screen): benchmark = every 25th doc
    // with one appended token — J = (T−2)/(T−1) against its original,
    // above 0.8 for any doc of ≥ 7 tokens, yet sharing NO 13-shingle run
    // boundary-to-boundary edits couldn't break. Full-recall contract:
    // the LSH candidates must reproduce the oracle's exact all-pairs
    // Jaccard screen (q128's bound: miss p ≤ 4e-8 at J = 0.8).
    "q155_fuzzy_decontaminate" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val bench = docs.filter(col("doc_id") % 25 === 0)
        .select(col("doc_id").as("bench_id"),
          concat(col("text"), lit(" zq7f")).as("text"))
      Decontaminate.fuzzyDecontaminate(docs, bench)
    }),

    // Span decontamination (the exact-substring class, Lee et al. 2021
    // corpus-vs-eval): benchmark = 'zq '-headed 220-char excerpts of
    // every 22nd long doc — the head shifts every aligned boundary, so
    // only same-OFFSET winnow runs recover the span. Exact both sides
    // (no hot-fingerprint drop): the oracle replays the full q135 gram-
    // hash/winnow/island chain pointed across frames.
    "q158_span_decontaminate" -> ((s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      Decontaminate.spanDecontaminate(docs, spanBenchFixture(docs))
    }),

    // Span EXCISION composed over q158's findings: the published remedy
    // — cut the leaked run, keep the 99%-original document. Interval
    // merge + stitch replayed in SQL over the same span CTE.
    "q159_span_excise" -> ((s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      Decontaminate.exciseSpans(docs,
        Decontaminate.spanDecontaminate(docs, spanBenchFixture(docs)))
    }),

    // Intra-document line dedup (round 17): planted pages carry a nav
    // menu three times (once re-indented — the normalization must merge
    // it) and a footer twice; first occurrences survive, repeats drop,
    // stitch string-exact. Organic docs pass through untouched.
    "q171_line_dedup" -> ((s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val nav = lit("Home | About | Contact | Privacy | Terms")
      val foot = lit("Copyright 2024 Example Site All Rights Reserved")
      val planted = docs.filter(col("doc_id") % 30 === 0)
        .select((col("doc_id") + 950000).as("doc_id"),
          concat(nav, lit("\n"), col("text"), lit("\n"), nav,
            lit("\n  "), nav, lit("\n"), foot, lit("\n"), foot).as("text"))
      TextAnalysis.dedupDocLines(docs.unionByName(planted))
    }),

    // Curation with span excision instead of drop (round 17): pass-1
    // contaminated docs get their leaked runs cut and the verdict
    // recomputes over the patched corpus — rescue only if the patched
    // text survives the FULL battery (residual shingles, fingerprint
    // splits, and gutted-below-the-floors docs all stay rejected).
    // Output carries the patched text, so the oracle is string-exact.
    "q170_curate_excise" -> ((s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      graft.operators.Curation.curateAndExcise(docs, spanBenchFixture(docs))
    }),

    // The composed decontamination REPORT: one benchmark carrying BOTH
    // leak classes — offset-shifted excerpts (+1000000, every 22nd long
    // doc) and one-token-edited near-copies (+2000000, every 25th) —
    // screened by all three text-side classes at once. Discrimination is
    // the point of the fixture: excerpt sources trip exact+span but NOT
    // fuzzy (whole-doc Jaccard ~0.2); edited near-copies trip all three.
    "q162_decontamination_report" -> ((s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      Decontaminate.decontaminationReport(docs, reportBenchFixture(docs))
    }),

    // WEB curation: the q90 content pipeline with the URL stages composed
    // in front, over the urlFixture crawl frame (twins keep their
    // source's text, so they are URL-dups AND content-dups —
    // url_duplicate must win by precedence; h7/h13 docs are blocked
    // hosts and blocked_host beats everything).
    "q163_web_curation" -> ((s, d) => {
      import s.implicits._
      val docs = Tables.documents(s, d)
      val bench = docs
        .filter(col("doc_id") % 25 === 0 && length(col("text")) >= 300)
        .select(substring(col("text"), 41, 200).as("text"))
      val block = Seq("h7.example.com", "h13.example.com", "example.org")
        .toDF("domain")
      graft.operators.Curation.curateWeb(webFixture(docs), bench, block)
    }),

    // Crawl-level URL dedup: every 10th doc's URL re-surfaces (id +
    // 800000) under the full cosmetic-variant battery — uppercased
    // scheme/host, default :443 port vs none, trailing slash vs none,
    // reordered + tracking-decorated query, fragment — and must resolve
    // to its original as canonical; the 90% organic rows (unique paths)
    // must NOT merge. Oracle replays normalizeUrl step for step.
    "q156_url_dedup" -> ((s, d) =>
      Urls.urlDedup(urlFixture(Tables.documents(s, d)))),

    // Domain-blocklist screen over the same fixture: blocking
    // h7.example.com must catch BOTH h7.example.com and
    // www.h7.example.com (the suffix rule), h13 likewise;
    // example.org is the never-matching negative control.
    "q160_host_blocklist" -> ((s, d) => {
      import s.implicits._
      val block = Seq("h7.example.com", "h13.example.com", "example.org")
        .toDF("domain")
      Urls.hostBlocklistFilter(urlFixture(Tables.documents(s, d)), block)
    }),

    // Host-level reputation over the same fixture: hosts h{0,10,20,30}
    // (www and bare variants) carry all the planted URL-dups (every
    // tenth id lands on them) at dup_frac exactly 0.5 — flagged at the
    // 0.3 gate — while the other 36 host classes stay clean.
    "q157_host_reputation" -> ((s, d) =>
      Urls.hostReputation(urlFixture(Tables.documents(s, d)),
        maxDupFrac = 0.3)),

    // q163 + the spam_host stage (VERDICT r16 #2): the q165 fixture adds
    // a session-id-mill host — every 20th doc contributes THREE
    // mill.example.net rows, two of them cosmetic variants of the first,
    // so the host's dup_frac is exactly 2/3 > 0.5 and the host is spam.
    // The variant rows still fall to url_duplicate (stricter screen
    // first); the mill CANONICALS are caught only by the host verdict —
    // spam_host — which in turn beats their content-duplicate reason.
    // Organic hosts top out at dup_frac 0.5 (the q157 twins), NOT > 0.5,
    // so the spam screen provably never leaks onto them.
    "q165_web_curation_spam" -> ((s, d) => {
      import s.implicits._
      val docs = Tables.documents(s, d)
      val bench = docs
        .filter(col("doc_id") % 25 === 0 && length(col("text")) >= 300)
        .select(substring(col("text"), 41, 200).as("text"))
      val block = Seq("h7.example.com", "h13.example.com", "example.org")
        .toDF("domain")
      graft.operators.Curation.curateWeb(webSpamFixture(docs), bench, block)
    }),

    // Per-host crawl-ops report (round 17): q165's verdicts aggregated
    // by host with the reason mix attributed — the mill host must show
    // 1/3 spam_host + 2/3 url_duplicate and keep_frac 0, blocked hosts
    // all-blocked, the null-host bucket reported (none in this fixture).
    "q172_web_curation_report" -> ((s, d) => {
      import s.implicits._
      val docs = Tables.documents(s, d)
      val bench = docs
        .filter(col("doc_id") % 25 === 0 && length(col("text")) >= 300)
        .select(substring(col("text"), 41, 200).as("text"))
      val block = Seq("h7.example.com", "h13.example.com", "example.org")
        .toDF("domain")
      graft.operators.Curation.webCurationReport(webSpamFixture(docs),
        bench, block)
    }),

    // The CRAWL→training-shards composition (VERDICT r16 #5): curateWeb
    // (q165's full verdict chain — blocklist, URL dedup, spam host,
    // content stages) in front of corpusToShards' split/mix/order/pack
    // stages, over the mill crawl frame WITH source carried. Every
    // planted row falls to a URL screen, so the layout is built from
    // organically-kept docs only — and the oracle chains q165's web
    // verdict CTEs into q147's split/mix/shard arithmetic verbatim.
    "q166_crawl_shards" -> ((s, d) => {
      import s.implicits._
      val docs = Tables.documents(s, d)
      val bench = docs
        .filter(col("doc_id") % 25 === 0 && length(col("text")) >= 300)
        .select(substring(col("text"), 41, 200).as("text"))
      val block = Seq("h7.example.com", "h13.example.com", "example.org")
        .toDF("domain")
      graft.operators.TrainingPipeline.crawlToShards(
        webSpamFixture(docs, Seq("source")), bench, block,
        targets = Map("src0" -> 0.3, "src1" -> 0.2) ++
          (2 to 11).map(i => s"src$i" -> 0.05).toMap)
    }),

    // The fourth corner of the composition matrix (round 17): curateWeb
    // front door × padded-batch layout, same crawl fixture and targets
    // as q166 — the chained oracle swaps only the layout suffix.
    "q168_crawl_batches" -> ((s, d) => {
      import s.implicits._
      val docs = Tables.documents(s, d)
      val bench = docs
        .filter(col("doc_id") % 25 === 0 && length(col("text")) >= 300)
        .select(substring(col("text"), 41, 200).as("text"))
      val block = Seq("h7.example.com", "h13.example.com", "example.org")
        .toDF("domain")
      graft.operators.TrainingPipeline.crawlToBatches(
        webSpamFixture(docs, Seq("source")), bench, block,
        targets = Map("src0" -> 0.3, "src1" -> 0.2) ++
          (2 to 11).map(i => s"src$i" -> 0.05).toMap)
    }),

    // Mergeable HLL distinct sketch (round 17): per-event-type distinct
    // users at p=10 (1024 registers). The sketch rides the repo's md5
    // 60-bit hash so every register is integer-exact in the oracle;
    // buckets_set / zero_buckets / s_scaled are hash-exact gate columns
    // and est_distinct is the one mirrored double expression.
    "q173_hll_distinct" -> ((s, d) =>
      graft.operators.Sketches.hllDistinct(Tables.events(s, d),
        Seq("event_type"), col("user_id"), p = 10)),

    // Sketch-merge ≡ recompute (round 17): per-source distinct TEXTS of
    // the documents table, sketched as two ingest batches (even/odd
    // doc_id) and hllMerge'd — the oracle sketches the WHOLE table in
    // one pass, so the gate proves max-register merge is exactly the
    // union's sketch (the store-KBs-and-never-rescan discipline).
    "q174_hll_merge" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val a = graft.operators.Sketches.hllRegisters(
        docs.filter(col("doc_id") % 2 === 0), Seq("source"),
        col("text"), p = 10)
      val b = graft.operators.Sketches.hllRegisters(
        docs.filter(col("doc_id") % 2 =!= 0), Seq("source"),
        col("text"), p = 10)
      graft.operators.Sketches.hllEstimate(
        graft.operators.Sketches.hllMerge(a, b, Seq("source")),
        Seq("source"), p = 10)
    }),

    // Rolling 7-day distinct users per (event_type, day) off per-day
    // HLL sketches (round 17): distinct counts don't sum across days,
    // so the register fan-out merge replaces re-scanning 7 days of raw
    // events per output day — work after the base sketch is
    // sketch-cardinality × 7, never events × 7.
    "q176_rolling_distinct" -> ((s, d) =>
      graft.operators.Sketches.hllRollingDistinct(Tables.events(s, d),
        Seq("event_type"), col("user_id"),
        expr("ts_ns div 86400000000000"), window = 7, p = 10,
        out = "day")),

    // Count-min token frequencies (round 17): the open-vocabulary
    // frequency sketch — depth 4 × width 512 counters over every token
    // of the corpus, point estimates for the exact top-30 tokens
    // (ties by token). Counters are exact integer sums, so the whole
    // pipeline — sketch, probe hashing, min-of-counters — is fully
    // value-oracled; est_cnt ≥ true_cnt by construction.
    "q182_cms_freq" -> ((s, d) => {
      val toks = Tables.documents(s, d)
        .select(explode(graft.operators.TextAnalysis.tokens(col("text")))
          .as("tok"))
      val sketch = graft.operators.Sketches.cmsSketch(toks, Nil,
        col("tok"), depth = 4, width = 512)
      val top = toks.groupBy(col("tok"))
        .agg(count(lit(1)).as("true_cnt"))
        .orderBy(col("true_cnt").desc, col("tok").asc).limit(30)
      graft.operators.Sketches.cmsEstimate(sketch, top, "tok",
        depth = 4, width = 512)
    }),

    // Damped PageRank over the customer→supplier purchase graph
    // (round 17): 1,600 nodes (keys prefixed — custkey 5 is not
    // suppkey 5), every supplier a dangling node so the uniform
    // redistribution term is live corpus-wide; 5 iterations of the
    // quantized-contribution update, oracle-replayed round for round
    // (the q134/q167 unrolled-CTE discipline). No output rounding —
    // every rank is built from exact integer sums and mirrored literals.
    "q181_pagerank" -> ((s, d) => {
      val edges = Tables.lineitem(s, d)
        .join(Tables.orders(s, d),
          col("l_orderkey") === col("o_orderkey"))
        .select(concat(lit("c"), col("o_custkey")).as("src"),
          concat(lit("s"), col("l_suppkey")).as("dst"))
        .distinct()
      graft.operators.Graphs.pageRank(edges, iterations = 5,
        damping = 0.85)
    }),

    // Data-contract expectations report (round 17): four rules over
    // lineitem in ONE scan — two passing, one threshold breach
    // (discount cap), and one whose predicate goes NULL on
    // zero-discount rows (2,941 at sf0.01) — the three-valued-logic
    // case where NULL must count as a violation, not a silent pass.
    "q184_expectations" -> ((s, d) =>
      graft.operators.Expectations.check(Tables.lineitem(s, d), Seq(
        graft.operators.Expectations.Rule("quantity_positive",
          "l_quantity > 0"),
        graft.operators.Expectations.Rule("discount_cap",
          "l_discount <= 0.08"),
        graft.operators.Expectations.Rule("shipdate_present",
          "l_shipdate IS NOT NULL"),
        graft.operators.Expectations.Rule("tax_ratio_sane",
          "l_tax / nullif(l_discount, 0) <= 2")))),

    // HITS hubs & authorities over the same purchase graph (round 17):
    // the two-role centrality PageRank conflates — customers are pure
    // hubs (authority 0: nothing points at them), suppliers pure
    // authorities; 4 quantized+L1-normalized rounds, oracle-replayed
    // exactly with no output rounding.
    "q183_hits" -> ((s, d) => {
      val edges = Tables.lineitem(s, d)
        .join(Tables.orders(s, d),
          col("l_orderkey") === col("o_orderkey"))
        .select(concat(lit("c"), col("o_custkey")).as("src"),
          concat(lit("s"), col("l_suppkey")).as("dst"))
        .distinct()
      graft.operators.Graphs.hits(edges, iterations = 4)
    }),

    // KMV bottom-k distinct sketch (round 17): per-event-type distinct
    // users at k=64 < the true cardinality, so the (k−1)·2⁶⁰/U₍k₎
    // estimator branch is live corpus-wide; n_hashes/kth_hash are
    // hash-exact gate columns (the custom bounded minKDistinct
    // aggregate — map-side ≤ k longs per group per task).
    "q179_kmv_distinct" -> ((s, d) =>
      graft.operators.Sketches.kmvEstimate(
        graft.operators.Sketches.kmvSketch(Tables.events(s, d),
          Seq("event_type"), col("user_id"), k = 64),
        Seq("event_type"), k = 64)),

    // KMV audience overlap (round 17): per user-cohort, how many users
    // both clicked AND purchased — the set-operation query HLL cannot
    // answer, computed entirely from two stored bottom-k sketch tables
    // (union sketch → Jaccard over common samples → |A∩B| estimate).
    "q180_kmv_overlap" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .withColumn("cohort", col("user_id") % 3)
      def sk(t: String) = graft.operators.Sketches.kmvSketch(
        ev.filter(col("event_type") === t), Seq("cohort"),
        col("user_id"), k = 32)
      graft.operators.Sketches.kmvOverlap(sk("click"), sk("purchase"),
        Seq("cohort"), k = 32)
    }),

    // Product-quantization ADC top-k (round 17): the 32×-class
    // compression rung above q136's int8 scalar quantization — 64 float
    // dims → 16 codes, ranked by per-subspace lookup tables without
    // touching a float corpus vector. Codebook values are float-kmeans
    // specific → rows-only at the driver gate (the q76/q136 convention);
    // the recall contract lives in PqSpec and q178.
    "q177_pq_adc" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.pqTopK(emb, emb.filter(col("vec_id") < 10), 5, dim = 64,
        numSubspaces = 16, codebookSize = 32, iterations = 3)
    }),

    // The PQ recall-gate artifact (q91's pattern at the PQ rung):
    // per-query recall@5 of the ADC-shortlist + float-re-rank pipeline
    // (Jégou's IVFADC+R shape, shortlist=50 of 500) against the exact
    // brute force, computed in-Spark on the same fixture. Rows-only at
    // the driver gate; the ≥ 0.9-avg contract is asserted in PqSpec
    // with a corrupted-result control.
    "q178_pq_rerank_recall" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val queries = emb.filter(col("vec_id") < 10)
      val cb = Similarity.pqTrainCodebooks(emb, dim = 64,
        numSubspaces = 16, codebookSize = 32, iterations = 3)
      val codes = Similarity.pqEncode(emb, cb, dim = 64)
      Similarity.recallAtK(
        Similarity.pqAdcRerankTopK(emb, codes, queries, cb, 5,
          shortlist = 50),
        Similarity.bruteForceTopK(emb, queries, 5))
    }),

    // IVFADC proper (round 18, VERDICT r17 gap #1): PQ codes stored
    // INSIDE the IVF inverted lists — residual-encoded at build, ADC
    // run only over each query's nprobe probed lists (q177's exhaustive
    // ADC scan was "the bill at 100 TB"). Kmeans-valued → rows-only at
    // the driver gate; the exactness gate (single-list dyadic corpus ≡
    // brute force bit-for-bit) and recall contract live in PqSpec.
    "q220_ivfpq" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.ivfPqTopK(emb, emb.filter(col("vec_id") < 10), 5,
        dim = 64, numCentroids = 8, nprobe = 4, numSubspaces = 16,
        codebookSize = 32, iterations = 3)
    }),

    // The IVFADC+R recall artifact (q178's pattern at the full
    // composition): per-query recall@5 of probed-list ADC shortlist +
    // float re-rank against the exact brute force — both the IVF probe
    // miss and the PQ ranking noise measured in one artifact. Rows-only
    // at the driver gate; floors asserted in PqSpec with a corrupted-
    // result control.
    "q221_ivfpq_rerank_recall" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val queries = emb.filter(col("vec_id") < 10)
      val idx = Similarity.buildIvfPqIndex(emb, dim = 64,
        numCentroids = 8, numSubspaces = 16, codebookSize = 32,
        iterations = 3)
      Similarity.recallAtK(
        Similarity.ivfPqRerankTopK(emb, idx, queries, 5,
          shortlist = 100, nprobe = 4),
        Similarity.bruteForceTopK(emb, queries, 5))
    }),

    // IVFADC index maintenance (round 19, VERDICT r18 gap #2 — q140's
    // discipline at the PQ rung): the index is built over the first
    // 80% of the corpus, the rest arrives as a batch, passes the
    // pqBatchError admission gate (the codebook-decay guard — a batch
    // the frozen codebooks can't encode is REFUSED for rebuild, since
    // appending it would silently collapse its reconstructions;
    // measured 0.80 error on the shifted-mode fixture vs 0.04 here),
    // and is residual-encoded against the frozen quantizers at batch
    // cost. Artifact: per-query recall@5 of the appended index's
    // probed-list ADC + float re-rank vs exact brute force over the
    // FULL corpus, with the admitted batch's error as evidence column.
    // Rows-only (kmeans-valued); the append ≡ frozen-quantizer-encode
    // equivalence, the refusal path, and the compaction loop are gated
    // in PqSpec.
    "q231_ivfpq_maintain_recall" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val queries = emb.filter(col("vec_id") < 10)
      val base = emb.filter(col("vec_id") % 5 =!= 4)
      val batch = emb.filter(col("vec_id") % 5 === 4)
      val built = Similarity.buildIvfPqIndex(base, dim = 64,
        numCentroids = 8, numSubspaces = 16, codebookSize = 32,
        iterations = 3)
      val err = Similarity.pqBatchError(batch, built.centroids,
        built.codebooks)
      require(err <= 0.5,
        s"embeddings batch tripped the admission gate: $err")
      val appended = Similarity.appendToIvfPqIndex(built, batch)
      Similarity.recallAtK(
          Similarity.ivfPqRerankTopK(emb, appended, queries, 5,
            shortlist = 100, nprobe = 4),
          Similarity.bruteForceTopK(emb, queries, 5))
        .withColumn("batch_error", round(lit(err), 4))
    }),

    // Warm-start PageRank maintenance (round 19): q181's purchase
    // graph grows — the warm phase runs 3 quantized rounds over the
    // ~75% old subgraph (orders with o_orderkey % 4 <> 3), then
    // resumePageRank continues 2 rounds over the FULL graph from those
    // stored ranks, with the delta's new nodes starting at 1/n over
    // the new node set. FULL value oracle: both phases and the bridge
    // replayed round for round in one chained CTE (no output rounding
    // — exact integer sums and mirrored literals, the q181
    // discipline). The exact-resume identity (resume(pr(e,k), e, m) ≡
    // pr(e, k+m) on an unchanged graph) and the warm-beats-cold
    // convergence contract live in GraphsSpec.
    "q232_resume_pagerank" -> ((s, d) => {
      def graph(filtered: Boolean) = {
        val joined = Tables.lineitem(s, d)
          .join(Tables.orders(s, d),
            col("l_orderkey") === col("o_orderkey"))
        (if (filtered) joined.filter(col("o_orderkey") % 4 =!= 3)
         else joined)
          .select(concat(lit("c"), col("o_custkey")).as("src"),
            concat(lit("s"), col("l_suppkey")).as("dst"))
          .distinct()
      }
      val warm = graft.operators.Graphs.pageRank(graph(filtered = true),
        iterations = 3, damping = 0.85)
      graft.operators.Graphs.resumePageRank(warm, graph(filtered = false),
        iterations = 2, damping = 0.85)
    }),

    // k-dimensional Z-order key (round 19 — q122's 2-D Morton spread
    // generalized): MSB-first bit interleave of THREE dimensions into
    // one 63-bit sort key (21 bits each), the layout behind
    // multi-column data skipping when tables are filtered on more than
    // two columns. Dims folded mod 2048 so the gate is sf-independent
    // (the operator's 21-bit bound holds at any scale factor);
    // value-gated bit for bit — the oracle replays the identical
    // 63-step shift-or fold.
    "q233_zorder3_key" -> ((s, d) =>
      Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_partkey"), col("l_linenumber"),
          col("l_suppkey"),
          graft.sources.Layout.zorderKeyN(Seq(
            col("l_orderkey") % 2048, col("l_partkey") % 2048,
            col("l_suppkey") % 2048)).as("z_key"))),

    // CCNet's head/middle/tail split (round 17): per-LANGUAGE unigram-
    // perplexity terciles over the corpus — head = the lowest-perplexity
    // third of each language (CCNet keeps head+middle). Cutpoints are
    // exact percentile_disc values over q95's oracled log_ppl, so the
    // whole partition is value-oracle-able.
    "q175_ppl_partition" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val ppl = graft.operators.TextAnalysis.unigramPerplexity(docs)
        .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
      graft.operators.Sampling.quantilePartition(ppl, "lang",
        col("log_ppl"), Seq(1.0 / 3, 2.0 / 3),
        Seq("head", "middle", "tail"), out = "ppl_band")
        .select(col("doc_id"), col("lang"), col("log_ppl"),
          col("ppl_band"))
    }),

    // Record linkage / entity resolution (round 17): equality blocking
    // on (nation, segment, name length) + Fellegi–Sunter-style
    // verification (levenshtein <= 2 on the fuzzy field, exact
    // agreement on acctbal) + transitive clustering. The fixture plants
    // a 1-substitution twin per 20th customer, a 2-substitution twin
    // per 40th, and a 4-substitution DECOY per 50th that must stay its
    // own entity; the acctbal agreement is what keeps the near-identical
    // synthetic names ('Customer#000000003' vs '#000000004' are edit
    // distance 1!) from collapsing into one mega-entity.
    "q185_entity_resolution" -> ((s, d) => {
      val recs = linkageRecords(s, d)
        .withColumn("bkv_len", length(col("c_name")))
      val pairs = graft.operators.Linkage.matchPairs(recs, "c_custkey",
        Seq("c_nationkey", "c_mktsegment", "bkv_len"),
        verify = levenshtein(col("a.c_name"), col("b.c_name"), 2) >= 0 &&
          col("a.c_acctbal") === col("b.c_acctbal"))
      graft.operators.Linkage.resolveEntities(recs, "c_custkey", pairs)
    }),

    // Per-node triangle counts (round 17) over the co-ordered-parts
    // graph (parts appearing in the same order are linked — the
    // market-basket projection): degree-ordered orientation makes the
    // count exact with wedge work bounded at O(m^1.5) regardless of hot
    // nodes. Pair generation is per-order and TPC-H orders carry <= 7
    // lines, so the projection is bounded by construction. The gate
    // restricts to high-quantity lines: the unfiltered projection is a
    // 1.2M-edge graph whose 41M wedges measure the machine, not the
    // plan (same operator, same oracle, kept gate-sized — the q139
    // fixture-cap discipline).
    "q186_triangle_count" -> ((s, d) => {
      // li materialized once (round 21): the co-order self-join reads
      // it on both sides — one lineitem scan instead of two
      val li = Tables.lineitem(s, d)
        .filter(col("l_quantity") >= 25)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .distinct()
        .transform(graft.operators.Persist.round)
      val co = li.alias("x").join(li.alias("y"),
          col("x.ok") === col("y.ok") && col("x.pk") < col("y.pk"))
        .select(col("x.pk").as("src"), col("y.pk").as("dst"))
      graft.operators.Graphs.triangleCounts(co)
    }),

    // Sorted-neighborhood linkage (round 17): q185's verification and
    // clustering, but candidates come from a rank window of 8 over the
    // name sort order (Hernández–Stolfo) instead of equality blocks.
    // The gate encodes the method's textbook recall trade: every
    // 1-substitution twin sits exactly 7 ranks from its original
    // (6 originals sort between them) and IS recovered; the
    // 2-substitution twins sort far away and are MISSED — singletons
    // here, pairs in q185.
    "q187_sorted_neighborhood" -> ((s, d) => {
      val recs = linkageRecords(s, d)
      val pairs = graft.operators.Linkage.sortedNeighborhoodPairs(recs,
        "c_custkey", col("c_name"), window = 8,
        verify = levenshtein(col("a.c_name"), col("b.c_name"), 2) >= 0 &&
          col("a.c_acctbal") === col("b.c_acctbal"))
      graft.operators.Linkage.resolveEntities(recs, "c_custkey", pairs)
    }),

    // Candidate-generation quality report (round 17; Christen, "Data
    // Matching" ch. 7): REDUCTION RATIO (how much of the n² comparison
    // space blocking avoided — computed from block-SIZE aggregates, the
    // candidates themselves are never materialized for the metric) and
    // PAIRS COMPLETENESS (recovered / planted truth pairs) for both
    // candidate generators over the same fixture. Encodes the families'
    // contract in one frame: blocking recovers ALL planted twins,
    // sorted neighborhood trades the 2-substitution ones away for a
    // higher reduction ratio. All counts exact longs; the two ratios
    // are single IEEE divisions of exact ints (no rounding needed).
    "q188_linkage_quality" -> ((s, d) => {
      val Linkage = graft.operators.Linkage
      val recs = linkageRecords(s, d)
        .withColumn("bkv_len", length(col("c_name")))
        .localCheckpoint() // feeds counts + both candidate generators
      val verify = levenshtein(col("a.c_name"), col("b.c_name"), 2) >= 0 &&
        col("a.c_acctbal") === col("b.c_acctbal")
      val cust = Tables.customer(s, d)
      val truth = cust.filter(col("c_custkey") % 20 === 3)
        .select(col("c_custkey").as("pa"),
          (col("c_custkey") + 1000000L).as("pb"))
        .unionByName(cust.filter(col("c_custkey") % 40 === 7)
          .select(col("c_custkey").as("pa"),
            (col("c_custkey") + 2000000L).as("pb")))
        .localCheckpoint() // n_true + one semi join per method
      val nRec = recs.agg(count(lit(1)).as("n_records"))
      val nTrue = truth.agg(count(lit(1)).as("n_true"))
      // matched pairs normalized to id order before the truth join —
      // sorted neighborhood emits (doc_a, doc_b) in RANK order
      def row(name: String, cand: DataFrame, matched: DataFrame) = {
        val m = matched.select(least(col("doc_a"), col("doc_b")).as("pa"),
          greatest(col("doc_a"), col("doc_b")).as("pb"))
          .localCheckpoint() // count + semi join
        val nm = m.agg(count(lit(1)).as("n_matched"))
        val rec = m.join(truth, Seq("pa", "pb"), "left_semi")
          .agg(count(lit(1)).as("true_recovered"))
        nRec.crossJoin(cand).crossJoin(nm).crossJoin(nTrue).crossJoin(rec)
          .select(lit(name).as("method"), col("n_records"),
            col("n_candidates"), col("n_matched"), col("n_true"),
            col("true_recovered"),
            (col("true_recovered").cast("double") /
              col("n_true").cast("double")).as("pairs_completeness"),
            (lit(1.0) - col("n_candidates").cast("double") /
              (col("n_records").cast("double") *
                (col("n_records") - 1L).cast("double") / lit(2.0)))
              .as("reduction_ratio"))
      }
      val blockCand = recs
        .groupBy(col("c_nationkey"), col("c_mktsegment"), col("bkv_len"))
        .agg(count(lit(1)).as("__n"))
        .agg(coalesce(sum((col("__n") * (col("__n") - 1L) / lit(2L))
          .cast("long")), lit(0L)).as("n_candidates"))
      // closed form for a rank window of 8 over n unique keys:
      // 7n - C(8,2) candidate pairs
      val snCand = nRec
        .select((lit(7L) * col("n_records") - lit(28L))
          .as("n_candidates"))
      row("blocking", blockCand,
        Linkage.matchPairs(recs, "c_custkey",
          Seq("c_nationkey", "c_mktsegment", "bkv_len"), verify))
        .unionByName(row("sorted_neighborhood", snCand,
          Linkage.sortedNeighborhoodPairs(recs, "c_custkey",
            col("c_name"), window = 8, verify = verify)))
    }),

    // Jaro–Winkler scored linkage (round 17): the Census-Bureau string
    // comparator as a codegen'd expression (Spark has levenshtein but
    // no jaro_winkler), scoring q185's blocked candidates. The
    // similarity ships UNROUNDED: the kernel mirrors DuckDB's
    // (RapidFuzz-convention) arithmetic — greedy window matching,
    // half-counted transpositions, boost iff jaro > 0.7 — so the driver
    // hash compare doubles as a bit-exactness gate over every candidate
    // pair. Threshold 0.95 keeps the 1-sub (0.9778) and 2-sub (0.9556)
    // planted twins and rejects the 4-sub decoys (0.9111) — the
    // graded-similarity separation levenshtein's unit costs flatten.
    "q189_jw_linkage" -> ((s, d) => {
      val recs = linkageRecords(s, d)
        .withColumn("bkv_len", length(col("c_name")))
      graft.operators.Linkage.scoredMatchPairs(recs, "c_custkey",
          Seq("c_nationkey", "c_mktsegment", "bkv_len"),
          score = graft.functions.StringSimilarityFunctions.jaroWinkler(
            col("a.c_name"), col("b.c_name")),
          threshold = 0.95,
          agree = col("a.c_acctbal") === col("b.c_acctbal"))
        .withColumnRenamed("score", "jw_sim")
    }),

    // Incremental entity resolution (round 17): a NEW batch resolved
    // against the q185 entity table without re-clustering — three
    // planted classes exercise each rule: 1-sub re-entries (%30==17)
    // join their stored entity; 4-sub strangers (%60==29) become new
    // singleton entities; twin re-entries of an unseen variant
    // (%70==33, identical names, acctbal shifted +50000 so the stored
    // original can't match) cluster with each other and take ONE new
    // entity labeled by the lower new id.
    "q190_incremental_resolve" -> ((s, d) => {
      val Linkage = graft.operators.Linkage
      val recs = linkageRecords(s, d)
        .withColumn("bkv_len", length(col("c_name")))
      val verify = levenshtein(col("a.c_name"), col("b.c_name"), 2) >= 0 &&
        col("a.c_acctbal") === col("b.c_acctbal")
      val blocks = Seq("c_nationkey", "c_mktsegment", "bkv_len")
      val ents = Linkage.resolveEntities(recs, "c_custkey",
        Linkage.matchPairs(recs, "c_custkey", blocks, verify))
      val stored = recs.join(
        ents.select(col("rec_id"), col("entity_id")),
        recs("c_custkey") === col("rec_id")).drop("rec_id")
      val cust = Tables.customer(s, d)
      def nv(mod: Int, rem: Int, off: Long, tail: String,
          balShift: Double) =
        cust.filter(col("c_custkey") % mod === rem)
          .select((col("c_custkey") + off).as("c_custkey"),
            concat(expr(
              s"substring(c_name, 1, length(c_name) - ${tail.length})"),
              lit(tail)).as("c_name"),
            col("c_nationkey"), col("c_mktsegment"),
            (if (balShift == 0.0) col("c_acctbal")
             else col("c_acctbal") + lit(balShift)).as("c_acctbal"))
      val newRecs = nv(30, 17, 4000000L, "Q", 0.0)
        .unionByName(nv(60, 29, 5000000L, "QRST", 0.0))
        .unionByName(nv(70, 33, 6000000L, "ZZ", 50000.0))
        .unionByName(nv(70, 33, 6500000L, "ZZ", 50000.0))
        .withColumn("bkv_len", length(col("c_name")))
      Linkage.incrementalResolve(stored, newRecs, "c_custkey",
        "entity_id", blocks, verify)
    }),

    // Multi-pass sorted neighborhood (round 17): the standard remedy
    // for q187's recall trade — a second pass over a DIFFERENT sort
    // key (here (acctbal, name): records agreeing on the reliable
    // field sort adjacent regardless of how far the name typo moved
    // them). Pass 1 recovers the 1-sub twins, pass 2 the 2-sub twins
    // pass 1 provably missed; the union reaches blocking-equal recall
    // without any equality blocks.
    "q191_sn_multipass" -> ((s, d) => {
      val Linkage = graft.operators.Linkage
      val recs = linkageRecords(s, d)
      val verify = levenshtein(col("a.c_name"), col("b.c_name"), 2) >= 0 &&
        col("a.c_acctbal") === col("b.c_acctbal")
      val p1 = Linkage.sortedNeighborhoodPairs(recs, "c_custkey",
        col("c_name"), window = 8, verify = verify)
      val p2 = Linkage.sortedNeighborhoodPairs(recs, "c_custkey",
        struct(col("c_acctbal"), col("c_name")), window = 8,
        verify = verify)
      Linkage.resolveEntities(recs, "c_custkey",
        p1.unionByName(p2).distinct())
    }),

    // Local clustering coefficient (round 17; Watts & Strogatz 1998):
    // 2·triangles / (deg·(deg−1)) per node over q186's co-ordered-
    // parts graph — how close each part's co-purchase neighborhood is
    // to a clique. Exact int/int IEEE division; degree-1 nodes have an
    // undefined coefficient → NULL, the three-valued contract q184
    // would flag, made explicit here.
    "q192_clustering_coeff" -> ((s, d) => {
      // li materialized once (round 21; the q186 move)
      val li = Tables.lineitem(s, d)
        .filter(col("l_quantity") >= 25)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .distinct()
        .transform(graft.operators.Persist.round)
      val co = li.alias("x").join(li.alias("y"),
          col("x.ok") === col("y.ok") && col("x.pk") < col("y.pk"))
        .select(col("x.pk").as("src"), col("y.pk").as("dst"))
        .localCheckpoint() // feeds triangleCounts AND the degree agg
      val tri = graft.operators.Graphs.triangleCounts(co)
      val e = co.select(least(col("src"), col("dst")).as("u"),
          greatest(col("src"), col("dst")).as("v")).distinct()
      val deg = e.select(col("u").as("node"))
        .unionByName(e.select(col("v").as("node")))
        .groupBy(col("node")).agg(count(lit(1)).as("degree"))
      tri.join(deg, Seq("node"))
        .select(col("node"), col("degree"), col("triangles"),
          when(col("degree") >= 2,
            lit(2.0) * col("triangles").cast("double") /
              (col("degree").cast("double") *
                (col("degree") - 1L).cast("double")))
            .as("clustering_coeff"))
    }),

    // Fellegi–Sunter weighted decision bands (round 17): three fields
    // (name levenshtein<=2, m=.95/u=.01; acctbal equality, m=.9/
    // u=.0001; segment equality, m=.95/u=.2) over coarser blocks than
    // q185 (nation + name length only — segment is now EVIDENCE, not a
    // block). The fixture separates the bands cleanly: planted twins
    // agree everywhere (≈ +21.95 → match), the 4-sub decoys disagree
    // only on name (≈ +11.07 → possible — the clerical-review queue,
    // exactly where a name-mangled re-entry with matching balance
    // belongs), and name-neighbor coincidences cap at ≈ +5.50 →
    // non_match, filtered. Weight output rounds to 4: the band cuts
    // (18/8) sit mid-gap, so a final-ulp log2 difference between
    // engines can't move a band.
    "q193_fs_weights" -> ((s, d) => {
      // three nations keep the gate plan-sized (the q186 discipline:
      // (nation, length) blocks over ALL 25 nations cost 4.5M
      // levenshtein candidate pairs at sf0.1 — 55 s measuring the
      // comparator, not the plan); twins preserve nationkey, so the
      // restriction drops no planted evidence class
      val recs = linkageRecords(s, d)
        .filter(col("c_nationkey") < 3)
        .withColumn("bkv_len", length(col("c_name")))
      graft.operators.Linkage.fsWeightedPairs(recs, "c_custkey",
          Seq("c_nationkey", "bkv_len"),
          fields = Seq(
            (levenshtein(col("a.c_name"), col("b.c_name"), 2) >= 0,
              0.95, 0.01),
            (col("a.c_acctbal") === col("b.c_acctbal"), 0.9, 0.0001),
            (col("a.c_mktsegment") === col("b.c_mktsegment"),
              0.95, 0.2)),
          upper = 18.0, lower = 8.0)
        .filter(col("band") =!= "non_match")
        .select(col("doc_a"), col("doc_b"),
          round(col("weight"), 4).as("fs_weight"), col("band"))
    }),

    // k-core decomposition (round 17): the 20-core of the co-ordered-
    // parts graph — iterative peeling until every survivor keeps >= 20
    // in-core neighbors (8 peel rounds at sf0.01 / 10 at sf0.1, live
    // cascades at both scales; 272 / 2425 nodes peeled). The density
    // membership a hub can't fake with bought degree.
    "q194_kcore" -> ((s, d) => {
      // li materialized once (round 21; the q186 move)
      val li = Tables.lineitem(s, d)
        .filter(col("l_quantity") >= 25)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .distinct()
        .transform(graft.operators.Persist.round)
      val co = li.alias("x").join(li.alias("y"),
          col("x.ok") === col("y.ok") && col("x.pk") < col("y.pk"))
        .select(col("x.pk").as("src"), col("y.pk").as("dst"))
      graft.operators.Graphs.kCore(co, k = 20, maxRounds = 14)
    }),

    // Seasonal-naive anomaly flags (round 17): per-user season-7
    // residuals, flagged against 3× the trailing-28 mean absolute
    // residual — with the whole decision in exact integers (quantized
    // residuals, cross-multiplied threshold), so the flag is
    // hash-comparable with no float boundary anywhere. Rows with under
    // 14 trailing residuals get NULL flags, not silent passes.
    "q195_seasonal_anomaly" -> ((s, d) =>
      graft.operators.TimeSeries.seasonalAnomaly(
        Tables.events(s, d).select(col("user_id"), col("ts_ns"),
          col("event_id"), col("value")),
        "user_id", Seq(col("ts_ns"), col("event_id")), "value",
        season = 7, window = 28, minObs = 14, k = 3)
        .select(col("user_id"), col("event_id"), col("residual_q"),
          col("window_abs_sum"), col("window_n"), col("is_anomaly")))
  ) ++ wave4Queries

  /** BM25 gate queries (q196): three multi-term queries over the
    * documents vocabulary — a selective pair, a common-term query
    * (positive-idf even above 50% df, the Lucene +1 branch live), and
    * one carrying a term absent from the corpus (contributes nothing;
    * the query still ranks on its other term). Literal in both engines.
    */
  private val Bm25Queries: Seq[(Long, String)] = Seq(
    (1L, "hash merge batch"),
    (2L, "table value"),
    (3L, "quantum scan"))

  private def wave4Queries: Map[String, Q] = Map[String, Q](
    // BM25 lexical retrieval (round 17): stored inverted index + Okapi
    // scoring, top-5 per query. Scores quantized to 1e-9 longs before
    // the per-(query, doc) sum and RANKED on the long, so no float
    // boundary decides the order; the shipped double is one long/1e9
    // division (hash-exact both engines).
    "q196_bm25_search" -> ((s, d) => {
      import s.implicits._
      // inline-built index materialized once (round 22, the q203 move):
      // bm25TopK reads it ~4× (stats, df table, postings, query terms)
      val idx = graft.operators.Search.textIndex(Tables.documents(s, d))
        .transform(graft.operators.Persist.round)
      val qs = Bm25Queries.toDF("query_id", "query_text")
      graft.operators.Search.bm25TopK(idx, qs, k = 5)
        .select(col("query_id"), col("doc_id"), col("score_q"),
          col("score"), col("rank"))
    }),

    // Retention cohorts (round 17): daily first-activity cohorts over
    // the events month — the product-analytics staple. All-integer
    // counts; retention is one long/long double division.
    "q197_retention_cohorts" -> ((s, d) =>
      graft.operators.TimeSeries.retentionCohorts(
        Tables.events(s, d), "user_id", "ts", bucket = "day")),

    // CUSUM mean-shift flags (round 17): per-user two-sided CUSUM with
    // slack 10 / threshold 200 (866 positive + 285 negative flags at
    // sf0.01 — both branches live). The recursion runs in closed form
    // (prefix sum − running min), and the whole decision is exact
    // cross-multiplied integers — no float boundary anywhere.
    "q198_cusum" -> ((s, d) =>
      graft.operators.TimeSeries.cusum(
        Tables.events(s, d).select(col("user_id"), col("ts_ns"),
          col("event_id"), col("value")),
        "user_id", Seq(col("ts_ns"), col("event_id")), "value",
        slack = 10.0, h = 200.0)
        .select(col("user_id"), col("event_id"), col("value_q"),
          col("s_pos"), col("s_neg"), col("threshold_q"),
          col("is_shift"), col("n"))),

    // Adamic-Adar link prediction (round 17): non-adjacent part pairs
    // of the high-quantity co-order graph scored by shared-neighbor
    // evidence (2,982 / 30,711 candidate links at sf0.01 / sf0.1).
    // Wedge contributions quantize to 1e-9 longs before the pair sum.
    "q199_adamic_adar" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
        .filter(col("l_quantity") >= 45)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .distinct()
      val co = li.alias("x").join(li.alias("y"),
          col("x.ok") === col("y.ok") && col("x.pk") < col("y.pk"))
        .select(col("x.pk").as("src"), col("y.pk").as("dst"))
      graft.operators.Graphs.adamicAdar(co)
    }),

    // HDR log-linear quantile sketch (round 17): p50/p90/p99 of value
    // per event_type from the stored sketch — bucket ids, counts, and
    // the estimator walk are ALL exact integers, so even this
    // "approximate" operator is value-oracled (the sketch-family
    // convention).
    "q200_hdr_quantile" -> ((s, d) => {
      val sk = graft.operators.Sketches.hdrSketch(
        Tables.events(s, d).select(col("event_type"), col("value")),
        Seq("event_type"), "value")
      graft.operators.Sketches.hdrQuantiles(sk, Seq("event_type"),
        Seq(0.5, 0.9, 0.99))
    }),

    // Sketch-merge ≡ recompute, cross-engine (the q174 pattern): Spark
    // merges the sketches of two ingest halves; the oracle sketches the
    // whole table in one pass. Identical quantiles prove the merge.
    "q201_hdr_merge" -> ((s, d) => {
      val ev = Tables.events(s, d).select(col("event_id"),
        col("event_type"), col("value"))
      val a = graft.operators.Sketches.hdrSketch(
        ev.filter(col("event_id") % 2 === 0), Seq("event_type"), "value")
      val b = graft.operators.Sketches.hdrSketch(
        ev.filter(col("event_id") % 2 =!= 0), Seq("event_type"), "value")
      val merged = graft.operators.Sketches.hdrMerge(a, b,
        Seq("event_type"))
      graft.operators.Sketches.hdrQuantiles(merged, Seq("event_type"),
        Seq(0.25, 0.75, 0.999))
    }),

    // Exact set-similarity self-join (round 17): every shingle-Jaccard
    // ≥ 0.5 pair via prefix filtering — the full-recall complement of
    // q36's MinHash-LSH (25 / 256 pairs at sf0.01 / sf0.1). The oracle
    // generates candidates from ANY shared shingle — deliberately
    // independent of the prefix-filter choice, so a filter bug that
    // lost a pair would hash-mismatch, not silently agree.
    "q202_set_similarity_join" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val sets = docs.select(col("doc_id"),
        graft.operators.Dedup.wordShingles(col("text")).as("sh"))
      graft.operators.SimilarityJoin.setSimilarityJoin(
        sets, "doc_id", "sh", 0.5)
    }),

    // Tf-idf cosine pairs (round 17): the WEIGHTED near-dup join over
    // the multiplicity-keeping shingle index — idf quantized to 1e-3
    // longs before the multiply, so norms and dots are exact integer
    // sums and cosine is one cross-engine-identical double expression.
    "q203_tfidf_cosine" -> ((s, d) => {
      // inline-built index materialized once (round 22): the pair op
      // reads its index 3× (N, df table, weighted postings) — each read
      // previously re-ran the shingling + (term, doc) shuffle
      val idx = graft.operators.Search.shingleIndex(Tables.documents(s, d))
        .transform(graft.operators.Persist.round)
      graft.operators.Search.tfidfCosinePairs(idx, 0.3)
    }),

    // Market-basket pair rules (round 17): parts co-ordered ≥ 2 times
    // with support/confidence/lift/PMI — all counts exact longs, each
    // derived stat ONE division/log of exact integers.
    "q204_pair_rules" -> ((s, d) =>
      graft.operators.Associations.pairRules(
        Tables.lineitem(s, d).select(col("l_orderkey"), col("l_partkey")),
        "l_orderkey", "l_partkey", minCount = 2L)),

    // RFM segmentation (round 17): quartile scores from broadcast
    // percentile_disc cutpoints — no global ntile window; monetary in
    // exact cents.
    "q205_rfm" -> ((s, d) =>
      graft.operators.Segmentation.rfmSegments(Tables.orders(s, d),
        "o_custkey", "o_orderdate", "o_totalprice", lit("2001-12-31"))),

    // Markov transition matrix (round 17): per-user next-event-type
    // probabilities with the __end__ absorbing state; counts exact,
    // p one long/long division.
    "q206_transitions" -> ((s, d) =>
      graft.operators.TimeSeries.transitionMatrix(
        Tables.events(s, d), "user_id",
        Seq(col("ts_ns"), col("event_id")), "event_type")),

    // Multi-source BFS (round 17): minimal hop counts from the pk%97
    // seed parts over the high-quantity co-order graph, radius 4 —
    // exact integer distances, frontier-expansion iterations.
    "q207_shortest_hops" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
        .filter(col("l_quantity") >= 45)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .distinct()
      val edges = li.alias("x").join(li.alias("y"),
          col("x.ok") === col("y.ok") && col("x.pk") < col("y.pk"))
        .select(col("x.pk").as("src"), col("y.pk").as("dst"))
      val seeds = li.filter(col("pk") % 97 === 0)
        .select(col("pk").as("node")).distinct()
      graft.operators.Graphs.shortestHops(edges, seeds, maxHops = 4)
    }),

    // Connected components (round 17): min-label propagation to
    // fixpoint over the co-order graph — component id = min reachable
    // node, the canonical engine-independent labeling.
    "q208_connected_components" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
        .filter(col("l_quantity") >= 45)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .distinct()
      val edges = li.alias("x").join(li.alias("y"),
          col("x.ok") === col("y.ok") && col("x.pk") < col("y.pk"))
        .select(col("x.pk").as("src"), col("y.pk").as("dst"))
      graft.operators.Graphs.connectedComponents(edges, maxRounds = 40)
    }),

    // Tf-idf keyword extraction (round 17): each document's 5
    // heaviest shingles — integer-ranked (w_q longs), ties to the
    // lexicographically first term.
    "q209_keywords" -> ((s, d) => {
      // inline-built index materialized once (round 22, the q203 move):
      // topKeywords reads it 3× (N, df table, the ranked join)
      val idx = graft.operators.Search.shingleIndex(Tables.documents(s, d))
        .transform(graft.operators.Persist.round)
      graft.operators.Search.topKeywords(idx, k = 5)
    }),

    // Also-bought serving table (round 17): both directions of the
    // q204 rules, top-3 partners per part by quantized pmi.
    "q210_top_affinities" -> ((s, d) => {
      val rules = graft.operators.Associations.pairRules(
        Tables.lineitem(s, d).select(col("l_orderkey"), col("l_partkey")),
        "l_orderkey", "l_partkey", minCount = 2L)
      graft.operators.Associations.topAffinities(rules, k = 3)
    }),

    // Degree assortativity (round 17): one-row Pearson-of-degrees over
    // the co-order graph — all seven sums exact longs, r one double
    // expression.
    "q211_assortativity" -> ((s, d) =>
      graft.operators.Graphs.degreeAssortativity(coOrderEdges(s, d))),

    // Modularity of the brand partition (round 17): does the co-order
    // graph cluster by p_brand? Exact long numerator/denominator, the
    // double is one division.
    "q212_modularity" -> ((s, d) => {
      val labels = Tables.part(s, d)
        .select(col("p_partkey").as("node"), col("p_brand").as("community"))
      graft.operators.Graphs.modularity(coOrderEdges(s, d), labels)
    }),

    // Label-propagation communities (round 17): 4 deterministic
    // synchronous rounds, min-label ties — the dense-region sibling of
    // q208's reachability labels.
    "q214_label_propagation" -> ((s, d) =>
      graft.operators.Graphs.labelPropagation(coOrderEdges(s, d),
        rounds = 4)),

    // Component census (round 17): q208's labels joined back to the
    // edge list — nodes, edges, and exact-ratio density per component.
    "q213_component_stats" -> ((s, d) => {
      // edges feed the component fixpoint AND the per-component edge
      // count — materialized once (round 21)
      val edges = coOrderEdges(s, d)
        .transform(graft.operators.Persist.round)
      val comp = graft.operators.Graphs.connectedComponents(edges,
        maxRounds = 40)
      val nodes = comp.groupBy(col("component"))
        .agg(count(lit(1)).as("n_nodes"))
      val eTagged = edges
        .join(comp.withColumnRenamed("node", "src")
          .withColumnRenamed("component", "__c"), Seq("src"))
      val edgeCnt = eTagged.groupBy(col("__c").as("component"))
        .agg(count(lit(1)).as("n_edges"))
      nodes.join(edgeCnt, Seq("component"), "left")
        .select(col("component"), col("n_nodes"),
          coalesce(col("n_edges"), lit(0L)).as("n_edges"),
          ((lit(2L) * coalesce(col("n_edges"), lit(0L))).cast("double") /
            (col("n_nodes") * (col("n_nodes") - 1L)).cast("double"))
            .as("density"))
    })
  ) ++ wave7Queries

  /** Round-17 wave 7: hybrid-retrieval fusion and the split-leakage
    * audit — the two composition gaps a RAG/training stack hits after
    * everything else here is in place.
    */
  private def wave7Queries: Map[String, Q] = Map[String, Q](
    // Reciprocal-rank fusion (round 17): THREE-system hybrid retrieval
    // — for each of 8 query documents, fuse the BM25 unigram top-10
    // (self-excluded, re-ranked), the tf-idf 3-shingle cosine list at
    // threshold 0.5, and the exact dense cosine top-10, under RRF
    // k0=60; emit the fused top-5. Each query doc gets a PLANTED
    // near-dup twin (id + 700000, one appended token) in the indexed
    // corpus: the twin provably tops both lexical systems (all unigrams
    // and nearly all 3-shingles shared) while being absent from the
    // dense corpus, so the multi-system sum path is live BY
    // CONSTRUCTION at every scale — the organic corpus shares too few
    // exact 3-grams for cross-system overlap to happen on its own.
    // Contributions quantize to 1e-9 longs before the per-(query, doc)
    // sum, so the fused order is integer-decided.
    "q215_rrf_fusion" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("query_id"))
        .orderBy(col("score_q").desc, col("doc_id").asc)
      val docs = Tables.documents(s, d)
      val base = docs.select(col("doc_id"), col("text"))
      val twins = base.filter(col("doc_id") < 8)
        .select((col("doc_id") + 700000).as("doc_id"),
          concat(col("text"), lit(" zz9")).as("text"))
      val corpus = base.unionByName(twins)
      // both inline-built indexes materialized once (round 22): bm25
      // reads its index ~4× (corpus stats, df table, postings, query
      // terms) and the pair op 3× — the before plan carried 57 parquet
      // scans of the documents table, each re-running tokenization or
      // shingling + the (term, doc) shuffle
      val idx = graft.operators.Search.textIndex(corpus)
        .transform(graft.operators.Persist.round)
      val qdocs = base.filter(col("doc_id") < 8)
        .select(col("doc_id").as("query_id"), col("text").as("query_text"))
      val lex = graft.operators.Search.bm25TopK(idx, qdocs, k = 10)
        .filter(col("doc_id") =!= col("query_id"))
        .withColumn("rank", row_number().over(w))
        .select(col("query_id"), col("doc_id"), col("rank"))
      val sidx = graft.operators.Search.shingleIndex(corpus)
        .transform(graft.operators.Persist.round)
      val spairs = graft.operators.Search.tfidfCosinePairs(sidx, 0.5)
      val ssym = spairs
        .select(col("doc_a").as("query_id"), col("doc_b").as("doc_id"),
          col("cosine"))
        .unionByName(spairs.select(col("doc_b").as("query_id"),
          col("doc_a").as("doc_id"), col("cosine")))
        .filter(col("query_id") < 8)
      val ws = org.apache.spark.sql.expressions.Window
        .partitionBy(col("query_id"))
        .orderBy(col("cosine").desc, col("doc_id").asc)
      val shing = ssym.withColumn("rank", row_number().over(ws))
        .filter(col("rank") <= 10)
        .select(col("query_id"), col("doc_id"), col("rank"))
      val emb = Tables.embeddings(s, d)
      val dense = graft.operators.Similarity
        .bruteForceTopK(emb, emb.filter(col("vec_id") < 8), 10)
        .select(col("query_id"), col("neighbor_id").as("doc_id"),
          col("rank"))
      graft.operators.Search.rrfFuse(Seq(lex, shing, dense), k = 5)
    }),

    // Split-leakage audit (round 17): an id-keyed deterministic split
    // over the documents corpus — which by construction CAN strand a
    // near-dup cluster across boundaries — audited against q45's
    // near-dup clusters. The planted near-dup families make straddling
    // clusters a certainty; every doc ships its cluster's distinct-split
    // count and leak flag.
    "q216_split_leakage" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val pairs = Dedup.minhashNearDupPairs(docs, "text", "doc_id", 0.8)
      val clusters = Dedup.nearDupClusters(pairs)
      val split = Sampling.deterministicSplit(
        docs.select(col("doc_id")), "doc_id")
      Sampling.splitLeakage(split, clusters, "doc_id")
    }),

    // Personalized PageRank (round 17): q181's purchase graph with the
    // teleport restricted to the three lowest-custkey buyers — ranks
    // become proximity to THOSE customers (their suppliers first, then
    // second-order neighbors), the "related to these accounts" serving
    // primitive. Same quantized-round replay discipline as q181;
    // unreachable nodes report exactly 0.0, no output rounding.
    "q217_personalized_pagerank" -> ((s, d) => {
      val edges = Tables.lineitem(s, d)
        .join(Tables.orders(s, d),
          col("l_orderkey") === col("o_orderkey"))
        .select(concat(lit("c"), col("o_custkey")).as("src"),
          concat(lit("s"), col("l_suppkey")).as("dst"))
        .distinct()
      val seeds = Tables.orders(s, d)
        .select(col("o_custkey")).distinct()
        .orderBy(col("o_custkey")).limit(3)
        .select(concat(lit("c"), col("o_custkey")).as("node"))
      graft.operators.Graphs.personalizedPageRank(edges, seeds,
        iterations = 5, damping = 0.85)
    }),

    // Weighted shortest paths (round 17): q207's seeds and radius over
    // the co-order graph with AFFINITY-derived integer costs — edge
    // weight 101 − min(co-order count, 100), so strongly co-ordered
    // parts are "closer" and the 4-hop cheapest cost is a proximity
    // ranking, not just reachability. All relaxations exact long sums.
    "q218_cheapest_paths" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
        .filter(col("l_quantity") >= 45)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .distinct()
      val edges = li.alias("x").join(li.alias("y"),
          col("x.ok") === col("y.ok") && col("x.pk") < col("y.pk"))
        .groupBy(col("x.pk").as("src"), col("y.pk").as("dst"))
        .agg((lit(101L) - least(count(lit(1)), lit(100L))).as("w"))
      val seeds = li.filter(col("pk") % 97 === 0)
        .select(col("pk").as("node")).distinct()
      graft.operators.Graphs.cheapestPaths(edges, seeds, maxHops = 4)
    }),

    // Edge-weighted PageRank (round 18, VERDICT r17 gap #4): q181's
    // purchase graph with weight = lineitem count per (customer,
    // supplier) pair, so rank flows in proportion to actual purchase
    // volume instead of flattened 0/1 adjacency. 5 rounds of the
    // quantized rank·(w/W) update, oracle-replayed round for round;
    // no output rounding.
    "q219_weighted_pagerank" -> ((s, d) => {
      val edges = Tables.lineitem(s, d)
        .join(Tables.orders(s, d),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(concat(lit("c"), col("o_custkey")).as("src"),
          concat(lit("s"), col("l_suppkey")).as("dst"))
        .agg(count(lit(1)).as("w"))
      graft.operators.Graphs.weightedPageRank(edges, iterations = 5,
        damping = 0.85)
    }),

    // HTML text extraction (round 18, VERDICT r17 gap #2): the crawl
    // pipeline's step ZERO. The fixture wraps every document's text in
    // a realistic page — nav/share/footer link blocks, a script, a
    // comment, entity-encoded headline, paragraphs split at a fixed
    // token — built by the SAME expression in both engines; the
    // operator's whole regex pipeline (invisible-content drop, block
    // segmentation, tag strip, entity decode, link-density measurement)
    // is replayed literally by the oracle. q222 = the per-block audit
    // table; q223 = the reassembled per-document text + block census.
    "q222_html_blocks" -> ((s, d) =>
      graft.operators.Html.htmlBlocks(
        htmlFixture(Tables.documents(s, d)), "doc_id", "html")),

    "q223_html_extract" -> ((s, d) =>
      graft.operators.Html.extractHtmlText(
        htmlFixture(Tables.documents(s, d)), "doc_id", "html")),

    // Unigram-LM tokenizer (round 18, VERDICT r17 gap #3 — the third
    // major tokenizer family next to BPE q134/q154 and the greedy
    // WordPiece kernel): substring-frequency seed (top 40 + all single
    // chars), then 2 hard-EM rounds — Viterbi re-segmentation of the
    // word dictionary under quantized −ln p costs, usage recount,
    // prune-unused M-step. The oracle replays EVERYTHING: the seed
    // ranking, each round's min-cost DP (unrolled over the fixture's
    // ≤ 8 positions with the same smallest-start tie-break), the
    // backtrace, and the exact-long cost updates.
    "q224_unigram_learn" -> ((s, d) =>
      TextAnalysis.learnUnigramVocab(Tables.documents(s, d), col("text"),
        seedSize = 40, rounds = 2, maxPieceLen = 4)),

    // Unigram ENCODE composed over the learned vocabulary (q154's shape
    // at the Viterbi rung): per-document piece encoding, words
    // '+'-joined in document order — chained full value oracle.
    "q225_unigram_encode" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val vocab = TextAnalysis.learnUnigramVocab(docs, col("text"),
          seedSize = 40, rounds = 2, maxPieceLen = 4)
        .collect().map(r => (r.getString(0), r.getLong(2))).toSeq
      TextAnalysis.encodeUnigram(docs, col("text"), vocab)
    }),

    // The crawl front door END-TO-END (round 18): raw HTML pages →
    // extractHtmlText (step zero) → curateWeb's full verdict chain —
    // blocklist, URL dedup, then the content battery over the
    // EXTRACTED text. The page fixture preserves the token stream
    // through extraction (paragraph splits keep the split token), so
    // fingerprint dedup and 8-shingle contamination stay live; twins
    // render identical pages and must fall to url_duplicate, blocked
    // hosts beat everything. One chained full value oracle replays
    // extraction AND curation.
    "q226_crawl_extract_curate" -> ((s, d) => {
      import s.implicits._
      val docs = Tables.documents(s, d)
      val pages = htmlCrawlFixture(docs)
      val frame = graft.operators.Html
        .extractHtmlText(pages, "doc_id", "html")
        .select(col("doc_id"), col("text"))
        .join(pages.select(col("doc_id"), col("url")), Seq("doc_id"))
      val bench = docs
        .filter(col("doc_id") % 25 === 0 && length(col("text")) >= 300)
        .select(substring(col("text"), 41, 200).as("text"))
      val block = Seq("h7.example.com", "h13.example.com", "example.org")
        .toDF("domain")
      graft.operators.Curation.curateWeb(frame, bench, block)
    }),

    // Outlink extraction (round 18): every <a href> of the VISIBLE
    // document in document order — the crawl-frontier / link-graph edge
    // source. The fixture plants script- and comment-embedded URLs that
    // must NOT extract, relative nav links that must pass through raw,
    // and three absolute cross-host links per page.
    "q227_html_outlinks" -> ((s, d) =>
      graft.operators.Html.htmlOutlinks(
        htmlLinkFixture(Tables.documents(s, d)), "doc_id", "html")),

    // The crawl→graph composition (round 18): pages → outlinks → host
    // edge list (hostOf both sides; relative targets drop out null) →
    // link-count weights → 3 rounds of weighted PageRank. The planted
    // h0 hub link on every page must emerge as the top authority. One
    // chained oracle: the extraction subquery feeds q219's unrolled
    // weighted update directly.
    "q228_link_graph_rank" -> ((s, d) => {
      val pages = htmlLinkFixture(Tables.documents(s, d))
      val edges = graft.operators.Html
        .htmlOutlinks(pages, "doc_id", "html")
        .join(pages.select(col("doc_id"), col("url")), Seq("doc_id"))
        .select(Urls.hostOf(col("url")).as("src"),
          Urls.hostOf(col("href")).as("dst"))
        .where(col("dst").isNotNull)
        .groupBy(col("src"), col("dst"))
        .agg(count(lit(1)).as("w"))
      graft.operators.Graphs.weightedPageRank(edges, iterations = 3)
    }),

    // Weighted PERSONALIZED PageRank (round 18): the full matrix corner
    // — q219's purchase-count weights with q217's three-lowest-custkey
    // teleport, so ranks measure volume-weighted proximity to those
    // buyers. 5 quantized rounds, unrolled-CTE oracle, unreachable
    // nodes exactly 0.0, no output rounding.
    "q229_weighted_ppr" -> ((s, d) => {
      val edges = Tables.lineitem(s, d)
        .join(Tables.orders(s, d),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(concat(lit("c"), col("o_custkey")).as("src"),
          concat(lit("s"), col("l_suppkey")).as("dst"))
        .agg(count(lit(1)).as("w"))
      val seeds = Tables.orders(s, d)
        .select(col("o_custkey")).distinct()
        .orderBy(col("o_custkey")).limit(3)
        .select(concat(lit("c"), col("o_custkey")).as("node"))
      graft.operators.Graphs.weightedPersonalizedPageRank(edges, seeds,
        iterations = 5, damping = 0.85)
    }),

    // Incremental connected components (round 19, VERDICT r18 gap #1):
    // the q208 co-order graph split by orderkey into a stored 80% and
    // a 20% ingest batch — labels = cc(old), result =
    // appendToComponents(labels, batch). Every edge lives inside one
    // order, so old ∪ batch = the FULL q208 edge set and the oracle is
    // the full-graph reachability closure: the gate asserts the append
    // is bit-identical to a fresh re-cluster.
    "q230_incremental_components" -> ((s, d) => {
      // one lineitem scan (round 22): the stored 80% graph and the 20%
      // ingest batch both derive from the SAME persisted (ok, pk) base
      // — coOrderEdges(filter) ran the scan + distinct once per side
      val li = Tables.lineitem(s, d)
        .filter(col("l_quantity") >= 45)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .distinct()
        .transform(graft.operators.Persist.round)
      def edges(f: org.apache.spark.sql.Column) = {
        val side = li.filter(f)
        side.alias("x").join(side.alias("y"),
            col("x.ok") === col("y.ok") && col("x.pk") < col("y.pk"))
          .select(col("x.pk").as("src"), col("y.pk").as("dst"))
          .distinct()
      }
      val labels = graft.operators.Graphs.connectedComponents(
        edges(col("ok") % 10 < 8), maxRounds = 40)
      graft.operators.Graphs.appendToComponents(labels,
        edges(col("ok") % 10 >= 8), maxRounds = 40)
    }),

    // DSIR importance weights (round 20, VERDICT r18 #7 / r19 #1 —
    // Xie et al., NeurIPS 2023): every document scored by how much its
    // hashed unigram+bigram distribution resembles the src0/src1 target
    // slice vs the raw corpus. FULL value oracle: hashed features and
    // per-doc weights are exact integer arithmetic over 10⁻⁶-quantized
    // log-ratios; the oracle derives target counts by restricting the
    // shared per-doc feature frame (target ⊆ corpus, same hashing).
    "q234_dsir_weights" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Sampling.dsirWeights(docs,
        docs.filter(col("source").isin("src0", "src1")), buckets = 256)
    }),

    // DSIR's materialization half chained on top (Gumbel-top-k, Kool
    // 2019): deterministic md5 uniforms under the ':dsir' salt, top-100
    // by quantized key — the whole features → log-ratios → weights →
    // resample path replays in ONE chained oracle.
    "q235_dsir_resample" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Sampling.dsirResample(
        Sampling.dsirWeights(docs,
          docs.filter(col("source").isin("src0", "src1")), buckets = 256),
        n = 100)
    }),

    // The DSIR mixing loop END TO END (round 20 — the verdict's literal
    // "plan → weights → materialized mix" phrasing): DSIR-select the
    // 150 most target-like documents, re-plan the q101 domain mix over
    // THAT selection, and materialize its epoch copies — one chained
    // value oracle covering features → log-ratios → weights → Gumbel
    // top-k → mix plan → epoch materialization.
    "q241_dsir_mix" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val sel = Sampling.dsirResample(
        Sampling.dsirWeights(docs,
          docs.filter(col("source").isin("src0", "src1")), buckets = 256),
        n = 150)
      val selected = docs.join(sel.select(col("doc_id")), Seq("doc_id"),
        "semi")
      val plan = Sampling.domainMixPlan(selected, "source",
        TextAnalysis.tokenCount(col("text")).cast("long"),
        targets = Map("src0" -> 0.3, "src1" -> 0.2) ++
          (2 to 11).map(i => s"src$i" -> 0.05).toMap)
      Sampling.materializeMix(selected.select(col("doc_id"),
        col("source")), "source", plan, "doc_id")
    }),

    // ExactSubstr repeated spans (round 20, VERDICT r19 #2 — Lee et al.
    // 2021 §4.1, the full-guarantee class winnowing only samples):
    // every 9th doc carries a shared 12-token boilerplate tail, every
    // 50th-mod-3 doc a SELF-repeated 8-token phrase (two aligned
    // occurrences merging into one 16-token span). Full value oracle —
    // window keys, dup counts, and island merges are exact integer/hash
    // arithmetic in both engines.
    "q236_repeated_spans" -> ((s, d) =>
      Dedup.repeatedSpans(repeatFixture(Tables.documents(s, d)),
        minTokens = 8)),

    // ExactSubstr dedup proper chained on the same fixture: canonical
    // min-(id,pos) occurrence kept, every other flagged span excised
    // from the rebuilt text; untouched docs pass through byte-exact.
    "q237_excise_repeats" -> ((s, d) =>
      Dedup.exciseRepeatedSpans(repeatFixture(Tables.documents(s, d)),
        minTokens = 8)),

    // OPQ rotation (round 20, VERDICT r19 #7 — Ge 2013): rotation
    // trained on a 20% sample (parametric PCA+allocation init, one
    // Procrustes alternation), PQ on the rotated corpus, ADC recall@5
    // vs brute force over the ORIGINAL vectors (orthogonal rotations
    // preserve exact-NN, so the ground truth needs no rotation).
    // Rows-only (kmeans/eigen-valued); orthogonality + the anisotropic
    // quantization-error win are spec-gated in OpqSpec.
    "q239_opq_recall" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val queries = emb.filter(col("vec_id") < 10)
      val rot = graft.operators.Similarity.opqRotation(
        emb.filter(col("vec_id") % 5 === 0), dim = 64,
        numSubspaces = 16, codebookSize = 32, iterations = 1,
        pqIterations = 2)
      // NOT checkpointed — round 22 measured materializing the rotated
      // corpus (it is scanned ~5×) and REVERTED it: q239 ran 1.7-3.5×
      // slower with the checkpoint (interleaved A/B) — re-applying the
      // codegen'd rotation at scan speed beats staging + re-reading the
      // rotated arrays at this scale
      val rotEmb = graft.operators.Similarity.applyRotation(emb, rot)
      val cb = graft.operators.Similarity.pqTrainCodebooks(rotEmb, 64,
        numSubspaces = 16, codebookSize = 32, iterations = 2)
      val err = graft.operators.Similarity
        .pqReconstructionError(rotEmb, cb)
      // evidence: the same PQ budget WITHOUT the rotation — the
      // artifact carries both errors so the win (or its absence on
      // isotropic data) is visible, not asserted
      val errId = graft.operators.Similarity.pqReconstructionError(emb,
        graft.operators.Similarity.pqTrainCodebooks(emb, 64,
          numSubspaces = 16, codebookSize = 32, iterations = 2))
      graft.operators.Similarity.recallAtK(
          graft.operators.Similarity.pqAdcTopK(
            graft.operators.Similarity.pqEncode(rotEmb, cb, 64),
            graft.operators.Similarity.applyRotation(queries, rot),
            cb, 5),
          graft.operators.Similarity.bruteForceTopK(emb, queries, 5))
        .withColumn("opq_error", round(lit(err), 4))
        .withColumn("identity_error", round(lit(errId), 4))
    }),

    // ExactSubstr decontamination (round 20 — Lee et al. 2021 §4.1
    // pointed at eval leakage, the full-guarantee sibling of q158's
    // winnowing spans): every maximal ≥8-token span a corpus document
    // shares with the q158 benchmark excerpts, from ALL aligned window
    // keys instead of sampled fingerprints. FULL value oracle.
    "q240_exact_decontaminate" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      graft.operators.Decontaminate.exactSubstrContamination(
        docs, spanBenchFixture(docs), minTokens = 8)
    }),

    // Incremental triangle maintenance (round 20, VERDICT r19 #5):
    // q186's co-order graph split 80/20 by orderkey — stored counts
    // over the 80%, the 20% merged as a batch (pairs co-ordered in
    // both halves exercise the already-present anti-join). Oracle =
    // the FULL-graph q186 recount, so the gate is literally
    // "append ≡ recompute".
    "q238_incremental_triangles" -> ((s, d) => {
      // the (ok, pk) base is materialized ONCE (round 21): `old` feeds
      // both the stored recount and the append's anti-join side, and
      // each edgesOf half re-ran the lineitem scan + distinct — four
      // lineitem passes collapse to one
      val li = Tables.lineitem(s, d)
        .filter(col("l_quantity") >= 25)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .distinct()
        .transform(graft.operators.Persist.round)
      def edgesOf(filter: Column): DataFrame = {
        val h = li.filter(filter)
        h.alias("x").join(h.alias("y"),
            col("x.ok") === col("y.ok") && col("x.pk") < col("y.pk"))
          .select(col("x.pk").as("src"), col("y.pk").as("dst"))
      }
      val old = edgesOf(col("ok") % 10 < 8)
      val counts = graft.operators.Graphs.triangleCounts(old)
      graft.operators.Graphs.appendToTriangleCounts(counts, old,
        edgesOf(col("ok") % 10 >= 8))
    })
  )

  /** q236/q237's planted-repeat fixture: a cross-document boilerplate
    * tail on every 9th doc and a within-document doubled phrase on the
    * doc_id % 50 == 3 docs (the q165 fixture discipline — derived from
    * driver tables, mirrored literally by the oracle CTE).
    */
  private def repeatFixture(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      when(col("doc_id") % 9 === 0, concat(col("text"),
        lit(" subscribe to the channel and hit the bell icon for more" +
          " updates")))
        .when(col("doc_id") % 50 === 3, concat(col("text"),
          lit(" alpha beta gamma delta epsilon zeta eta theta" +
            " alpha beta gamma delta epsilon zeta eta theta")))
        .otherwise(col("text")).as("text"))

  /** q222/q223's synthetic page: deterministic HTML assembled from the
    * documents table (the q165 mill-host fixture discipline — fixtures
    * derive from driver tables, never invented data), mirrored
    * literally by [[htmlFixtureSql]]. Paragraphs split at the token
    * " table " so every document yields a multi-block body.
    */
  private def htmlFixture(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), concat(
      lit("<html><head><title>Doc "), col("doc_id").cast("string"),
      lit("</title><style>p{margin:0}</style></head><body>"),
      lit("<div class=\"nav\"><a href=\"/\">Home</a> " +
        "<a href=\"/about\">About</a> <a href=\"/contact\">Contact</a>" +
        "</div>"),
      lit("<h1>Quarterly engineering report &amp; notes &lt;"),
      col("lang"), lit("&gt;</h1>"),
      lit("<p>"),
      replace(col("text"), lit(" table "), lit(" </p><p> ")),
      lit("</p>"),
      lit("<div class=\"share\">Share: <a href=\"/tw\">Twitter</a> " +
        "<a href=\"/fb\">Facebook</a></div>"),
      lit("<script>track()</script><!-- id="),
      col("doc_id").cast("string"), lit(" -->"),
      lit("<footer><a href=\"/privacy\">Privacy</a> &middot; " +
        "<a href=\"/terms\">Terms</a></footer></body></html>"))
      .as("html"))

  /** The high-quantity co-order part graph every round-17 graph gate
    * shares (q199/q207/q208/q211/q212/q213): distinct part pairs that
    * appear on the same order with l_quantity ≥ 45.
    */
  private def coOrderEdges(s: org.apache.spark.sql.SparkSession,
      d: String,
      okFilter: Column = lit(true)): org.apache.spark.sql.DataFrame = {
    val li = Tables.lineitem(s, d)
      .filter(col("l_quantity") >= 45)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .distinct()
      .filter(okFilter) // q230/q236's 80/20 orderkey split rides here
      // materialized once (round 21): the self-join below reads it on
      // BOTH sides — without this every edges materialization ran the
      // lineitem scan + distinct twice
      .transform(graft.operators.Persist.round)
    li.alias("x").join(li.alias("y"),
        col("x.ok") === col("y.ok") && col("x.pk") < col("y.pk"))
      .select(col("x.pk").as("src"), col("y.pk").as("dst"))
      .distinct() // a pair co-ordered on TWO orders is still one edge
  }

  /** q158/q159's benchmark: offset-shifted excerpts of every 22nd long
    * document — the q135 fixture shape pointed at decontamination.
    */
  private def spanBenchFixture(docs: DataFrame): DataFrame =
    docs.filter(col("doc_id") % 22 === 0 && length(col("text")) >= 300)
      .select(col("doc_id").as("bench_id"),
        concat(lit("zq "), substring(col("text"), 31, 220)).as("text"))

  /** q162's two-class benchmark: excerpt leaks (+1000000) and edited
    * near-copy leaks (+2000000) in one eval set.
    */
  private def reportBenchFixture(docs: DataFrame): DataFrame =
    docs.filter(col("doc_id") % 22 === 0 && length(col("text")) >= 300)
      .select((col("doc_id") + 1000000).as("bench_id"),
        concat(lit("zq "), substring(col("text"), 31, 220)).as("text"))
      .unionByName(docs.filter(col("doc_id") % 25 === 0)
        .select((col("doc_id") + 2000000).as("bench_id"),
          concat(col("text"), lit(" zq7f")).as("text")))

  /** Deterministic (doc_id, url) crawl fixture for q156/q157: the
    * original URL exercises mixed-case www prefixes, default ports,
    * trailing slashes, tracking-decorated and clean queries, fragments;
    * the planted twin (id + 800000, every 10th doc) is the SAME resource
    * under a different cosmetic rendering of every one of those axes.
    * Both engines generate the strings from doc_id arithmetic (dbgen
    * convention).
    */
  private def origUrlExpr(id: Column): Column = concat(
    lit("https://"),
    when(id % 7 === 0, lit("www.")).otherwise(lit("")),
    lit("h"), (id % 40).cast("string"), lit(".example.com"),
    when(id % 3 === 0, lit(":443")).otherwise(lit("")),
    lit("/docs/"), id.cast("string"),
    when(id % 5 === 0, lit("/")).otherwise(lit("")),
    when(id % 4 === 0, lit("?b=2&a=1&utm_source=feed"))
      .when(id % 4 === 1, lit("?a=1&b=2")).otherwise(lit("")),
    when(id % 6 === 0, lit("#frag")).otherwise(lit("")))

  private def twinUrlExpr(id: Column): Column = concat(
    lit("HTTPS://"),
    when(id % 7 === 0, lit("WWW.")).otherwise(lit("")),
    lit("H"), (id % 40).cast("string"), lit(".EXAMPLE.COM"),
    lit("/docs/"), id.cast("string"),
    when(id % 4 === 0, lit("?a=1&utm_q=9&b=2"))
      .when(id % 4 === 1, lit("?b=2&a=1"))
      .otherwise(lit("?utm_only=1")),
    lit("#twin"))

  private def urlFixture(docs: DataFrame): DataFrame = {
    val id = col("doc_id")
    docs.select(id, origUrlExpr(id).as("url"))
      .unionByName(docs.filter(id % 10 === 0)
        .select((id + 800000).as("doc_id"), twinUrlExpr(id).as("url")))
  }

  /** q226's raw-crawl page: the q222 fixture reduced to text-only
    * content (no id/lang interpolation — twins must render the SAME
    * page as their source) with the paragraph split KEEPING the split
    * token (' table ' → ' table</p><p> '), so extraction preserves the
    * source token stream and the downstream content screens
    * (fingerprint dedup, 8-shingle contamination) stay live on the
    * extracted text. Mirrored literally by [[htmlPageSqlExpr]].
    */
  private def htmlPageExpr(text: Column): Column = concat(
    lit("<html><head><title>T</title><style>p{margin:0}</style>" +
      "</head><body>"),
    lit("<div class=\"nav\"><a href=\"/\">Home</a> " +
      "<a href=\"/about\">About</a> <a href=\"/contact\">Contact</a>" +
      "</div>"),
    lit("<p>"), replace(text, lit(" table "), lit(" table</p><p> ")),
    lit("</p>"),
    lit("<div class=\"share\">Share: <a href=\"/tw\">Twitter</a> " +
      "<a href=\"/fb\">Facebook</a></div>"),
    lit("<script>track()</script><!-- c -->"),
    lit("<footer><a href=\"/privacy\">Privacy</a> " +
      "<a href=\"/terms\">Terms</a></footer></body></html>"))

  private def htmlPageSqlExpr: String =
    "'<html><head><title>T</title><style>p{margin:0}</style>" +
      "</head><body>' || " +
      "'<div class=\"nav\"><a href=\"/\">Home</a> " +
      "<a href=\"/about\">About</a> <a href=\"/contact\">Contact</a>" +
      "</div>' || " +
      "'<p>' || replace(text, ' table ', ' table</p><p> ') || '</p>' || " +
      "'<div class=\"share\">Share: <a href=\"/tw\">Twitter</a> " +
      "<a href=\"/fb\">Facebook</a></div>' || " +
      "'<script>track()</script><!-- c -->' || " +
      "'<footer><a href=\"/privacy\">Privacy</a> " +
      "<a href=\"/terms\">Terms</a></footer></body></html>'"

  /** q226's crawl frame: the urlFixture twins carrying raw HTML pages
    * instead of clean text — what a crawler actually hands the
    * pipeline.
    */
  private def htmlCrawlFixture(docs: DataFrame): DataFrame = {
    val id = col("doc_id")
    docs.select(id, htmlPageExpr(col("text")).as("html"),
        origUrlExpr(id).as("url"))
      .unionByName(docs.filter(id % 10 === 0)
        .select((id + 800000).as("doc_id"),
          htmlPageExpr(col("text")).as("html"),
          twinUrlExpr(id).as("url")))
  }

  /** q227/q228's linked pages: each document's page carries relative
    * nav links (no host — must drop out of the host graph), a
    * "related" div with three ABSOLUTE cross-host links from doc_id
    * arithmetic (two modular neighbors + the fixed h0 hub, which must
    * emerge as the authority), and two invisible-content traps — a
    * script-embedded and a comment-embedded absolute URL that MUST NOT
    * be extracted. Mirrored literally by [[htmlLinkFixtureSql]].
    */
  private def htmlLinkFixture(docs: DataFrame): DataFrame = {
    val id = col("doc_id")
    def h(e: Column): Column =
      concat(lit("https://h"), e.cast("string"), lit(".example.com"))
    docs.select(id,
      concat(h(id % 40), lit("/docs/"), id.cast("string")).as("url"),
      concat(
        lit("<html><body><div class=\"nav\"><a href=\"/\">Home</a> " +
          "<a href=\"/about\">About</a></div><p>"),
        replace(col("text"), lit(" table "), lit(" table</p><p> ")),
        lit("</p><div class=\"rel\">"),
        lit("<a href=\""), h((id + 1) % 40), lit("/d/"),
        id.cast("string"), lit("\">next</a> "),
        lit("<a href=\""), h((id * 7 + 3) % 40), lit("/d/"),
        id.cast("string"), lit("\">rel</a> "),
        lit("<a href=\"https://h0.example.com/\">hub</a></div>"),
        lit("<script>track(\"<a href='https://fake.example.net/x'>" +
          "x</a>\")</script>"),
        lit("<!-- <a href=\"https://comment.example.net/\">dead</a> " +
          "-->"),
        lit("</body></html>")).as("html"))
  }

  private def htmlLinkFixtureSql: String =
    """SELECT doc_id,
      |  'https://h' || (doc_id % 40)::VARCHAR || '.example.com/docs/' ||
      |    doc_id::VARCHAR AS url,
      |  '<html><body><div class="nav"><a href="/">Home</a> ' ||
      |  '<a href="/about">About</a></div><p>' ||
      |  replace(text, ' table ', ' table</p><p> ') ||
      |  '</p><div class="rel">' ||
      |  '<a href="https://h' || ((doc_id + 1) % 40)::VARCHAR ||
      |    '.example.com/d/' || doc_id::VARCHAR || '">next</a> ' ||
      |  '<a href="https://h' || ((doc_id * 7 + 3) % 40)::VARCHAR ||
      |    '.example.com/d/' || doc_id::VARCHAR || '">rel</a> ' ||
      |  '<a href="https://h0.example.com/">hub</a></div>' ||
      |  '<script>track("<a href=''https://fake.example.net/x''>' ||
      |    'x</a>")</script>' ||
      |  '<!-- <a href="https://comment.example.net/">dead</a> -->' ||
      |  '</body></html>' AS html
      |FROM documents""".stripMargin

  /** q163's crawl frame: urlFixture WITH the document text carried —
    * twins keep their ORIGINAL text, so they are simultaneously URL-dups
    * and exact content-dups (and `url_duplicate` must win by
    * precedence).
    */
  private def webFixture(docs: DataFrame): DataFrame = {
    val id = col("doc_id")
    docs.select(id, col("text"), origUrlExpr(id).as("url"))
      .unionByName(docs.filter(id % 10 === 0)
        .select((id + 800000).as("doc_id"), col("text"),
          twinUrlExpr(id).as("url")))
  }

  /** q165/q166's crawl frame: [[webFixture]] + a session-id-mill host —
    * every 20th doc plants three mill.example.net rows (+900000 the
    * canonical, +910000/+920000 cosmetic variants of it), giving the
    * mill host dup_frac 2/3 > 0.5 while every organic host stays ≤ 0.5.
    * Mill rows carry their source's text, so the canonical's content
    * reason (duplicate) is provably BEATEN by spam_host.
    */
  private def millUrl(id: Column, suffix: String): Column =
    concat(lit("https://mill.example.net/p/"), id.cast("string"),
      lit(suffix))

  /** `extraCols` (q166: source) ride every fixture row so the crawl
    * frame can feed the mix planner's domain column; planted rows
    * inherit their source doc's values.
    */
  private def webSpamFixture(docs: DataFrame,
      extraCols: Seq[String] = Nil): DataFrame = {
    val id = col("doc_id")
    val ex = extraCols.map(col)
    def sel(src: DataFrame, newId: Column, url: Column): DataFrame =
      src.select(newId.as("doc_id") +: ex :+ col("text") :+
        url.as("url"): _*)
    val every20 = docs.filter(id % 20 === 0)
    sel(docs, id, origUrlExpr(id))
      .unionByName(sel(docs.filter(id % 10 === 0), id + 800000,
        twinUrlExpr(id)))
      .unionByName(sel(every20, id + 900000, millUrl(id, "")))
      .unionByName(sel(every20, id + 910000, millUrl(id, "?utm_x=1")))
      .unionByName(sel(every20, id + 920000, millUrl(id, "#m")))
  }

  /** Fixed gate vocabulary for q113 — stands in for a tokenizer vocab
    * (the fixture corpus is synthetic data-engine prose, so these hit a
    * informative mid-range coverage).
    */
  private val GateVocab: Seq[String] = Seq(
    "the", "a", "table", "row", "key", "value", "scan", "sort", "join",
    "group", "window", "spark", "fast", "slow", "agg", "hash", "merge",
    "part", "line", "batch")

  /** 10,000-entry gate vocabulary: the 20 corpus words above plus 9,980
    * deterministic filler entries (w00000..w09979) that both engines
    * generate programmatically. The fixture corpus has only 31 distinct
    * tokens, so the fillers never hit — the VALUES equal the 20-word
    * gate's — but the Spark side now probes a genuinely 10k-entry set,
    * which is the plan shape the operator exists for (membership
    * correctness at 10k is additionally unit-tested with planted filler
    * tokens in TextAnalysisSpec).
    */
  private val GateVocab10k: Seq[String] =
    GateVocab ++ (0 until 9980).map(i => f"w$i%05d")

  /** 10,000-entry subword gate vocabulary for q119: the 20 whole gate
    * words, 19 sub-word pieces chosen so the fixture corpus exercises
    * every segmentation path — multi-piece splits (customer → cust+omer),
    * trie backtracking past a longer non-terminal path ("orders" makes
    * the walk over "order" descend to depth 5 before falling back to the
    * terminal "ord"), and the unknown fallback (small → sma+l+l, two unk
    * code points) — plus deterministic filler to 10k so the trie has a
    * realistic BPE-vocabulary shape. Max piece length 6 (the oracle's
    * six probe joins mirror exactly that bound).
    */
  private val SubwordPieces: Seq[String] = Seq(
    "cust", "omer", "col", "umn", "fil", "ter", "sma", "ord", "er",
    "vec", "tor", "dat", "str", "eam", "que", "ry", "big", "du",
    "orders")

  private val SubwordVocab10k: Seq[String] =
    GateVocab ++ SubwordPieces ++ (0 until 9961).map(i => f"w$i%05d")

  /** DuckDB replay of [[TextAnalysis.learnBpeMerges]] (q134): the q133
    * recursive-CTE greedy segmentation, collapsed to the word-frequency
    * dictionary (same pair totals, |vocab|-sized state — the oracle
    * mirrors the Spark side's Sennrich dictionary trick so it stays
    * tractable at sf0.1), then per merge round i: a frequency-weighted
    * pair count (c_i), the same (cnt desc, p1, p2) argmax (m_i), and a
    * recursive left-to-right merge walk (r_i) emitting round i+1's piece
    * sequences. Round blocks are generated programmatically — the SQL is
    * identical per round except for CTE numbering.
    */
  private def bpeLearnOracle(rounds: Int): String =
    bpeDictSql(rounds, applyLast = false) + "\n" +
      (1 to rounds).map(i =>
        s"SELECT CAST($i AS INT) AS round, p1, p2, p1 || p2 AS merged, " +
          s"cnt FROM m$i").mkString("\nUNION ALL\n")

  /** DuckDB replay of [[TextAnalysis.encodeBpe]] ∘ [[TextAnalysis
    * .learnBpeMerges]] (q154): the q134 dictionary loop with the LAST
    * round's merge also applied (the learn oracle stops at the argmax —
    * the encoder needs the post-merge piece sequences), then the corpus
    * re-assembled: each document's (pos, word) projection joins the
    * finished word→pieces table and string_aggs back in document order —
    * the same dictionary-join shape as the Spark side.
    */
  private def bpeEncodeOracle(rounds: Int): String =
    bpeDictSql(rounds, applyLast = true) +
      s""",
         |ct AS (
         |  SELECT doc_id, list_filter(string_split_regex(
         |    coalesce(text, ''), '\\s+'), x -> x <> '') AS t
         |  FROM documents),
         |dw AS (
         |  SELECT doc_id, unnest(list_transform(range(1, len(t) + 1),
         |    i -> {'pos': i, 'word': t[i]})) AS u
         |  FROM ct),
         |dw2 AS (SELECT doc_id, u.pos AS pos, u.word AS word FROM dw),
         |wp AS (
         |  SELECT word, string_agg(piece, '+' ORDER BY idx) AS w_enc,
         |    count(*)::BIGINT AS np
         |  FROM p$rounds GROUP BY word)
         |SELECT c.doc_id,
         |  count(w.word)::BIGINT AS n_words,
         |  coalesce(sum(wp.np), 0)::BIGINT AS n_pieces,
         |  coalesce(string_agg(wp.w_enc, ' ' ORDER BY w.pos), '')
         |    AS encoded
         |FROM ct c
         |LEFT JOIN dw2 w ON w.doc_id = c.doc_id
         |LEFT JOIN wp ON wp.word = w.word
         |GROUP BY c.doc_id""".stripMargin

  /** Shared dictionary-loop CTE prefix for [[bpeLearnOracle]] (q134) and
    * [[bpeEncodeOracle]] (q154): greedy segmentation over the
    * word-frequency dictionary, then per round a weighted pair count, the
    * (cnt desc, p1, p2) argmax, and — for every round but optionally the
    * last — the recursive merge walk emitting the next round's pieces.
    */
  private def bpeDictSql(rounds: Int, applyLast: Boolean): String = {
    def roundCtes(i: Int): String = {
      val prev = if (i == 1) "p0" else s"p${i - 1}"
      val count =
        s"""c$i AS MATERIALIZED (
           |  SELECT a.piece AS p1, b.piece AS p2, sum(w.n)::BIGINT AS cnt
           |  FROM $prev a JOIN $prev b ON a.word = b.word
           |    AND b.idx = a.idx + 1
           |  JOIN words w ON w.word = a.word GROUP BY 1, 2),
           |m$i AS (SELECT p1, p2, cnt FROM c$i
           |  ORDER BY cnt DESC, p1 ASC, p2 ASC LIMIT 1)""".stripMargin
      val apply =
        s""",
           |l$i AS (SELECT word, max(idx) AS m FROM $prev GROUP BY word),
           |r$i AS MATERIALIZED (
           |  SELECT word, 1 AS pos, 0 AS idx, CAST(NULL AS VARCHAR) AS piece
           |  FROM words
           |  UNION ALL
           |  SELECT r.word,
           |    CASE WHEN a.piece = m.p1 AND b.piece = m.p2
           |      THEN r.pos + 2 ELSE r.pos + 1 END AS pos,
           |    r.idx + 1 AS idx,
           |    CASE WHEN a.piece = m.p1 AND b.piece = m.p2
           |      THEN a.piece || b.piece ELSE a.piece END AS piece
           |  FROM r$i r
           |  JOIN l$i l ON l.word = r.word
           |  JOIN $prev a ON a.word = r.word AND a.idx = r.pos
           |  LEFT JOIN $prev b ON b.word = r.word AND b.idx = r.pos + 1
           |  CROSS JOIN m$i m
           |  WHERE r.pos <= l.m),
           |p$i AS (SELECT word, idx, piece FROM r$i WHERE idx >= 1)"""
          .stripMargin
      if (i < rounds || applyLast) count + apply else count
    }
    """WITH RECURSIVE
      |words AS (
      |  SELECT word, count(*) AS n FROM (
      |    SELECT unnest(list_filter(string_split_regex(text, '\s+'),
      |      x -> x <> '')) AS word
      |    FROM documents WHERE text IS NOT NULL) GROUP BY word),
      |v AS (
      |  SELECT unnest(['the','a','table','row','key','value','scan',
      |    'sort','join','group','window','spark','fast','slow','agg',
      |    'hash','merge','part','line','batch','cust','omer','col',
      |    'umn','fil','ter','sma','ord','er','vec','tor','dat','str',
      |    'eam','que','ry','big','du','orders']) AS piece
      |  UNION ALL
      |  SELECT printf('w%05d', i) FROM range(9961) r(i)),
      |seg AS (
      |  SELECT word, 1 AS pos, 0 AS idx, CAST(NULL AS VARCHAR) AS piece
      |  FROM words
      |  UNION ALL
      |  SELECT r.word,
      |    r.pos + coalesce(greatest(
      |      CASE WHEN v6.piece IS NOT NULL THEN 6 END,
      |      CASE WHEN v5.piece IS NOT NULL THEN 5 END,
      |      CASE WHEN v4.piece IS NOT NULL THEN 4 END,
      |      CASE WHEN v3.piece IS NOT NULL THEN 3 END,
      |      CASE WHEN v2.piece IS NOT NULL THEN 2 END,
      |      CASE WHEN v1.piece IS NOT NULL THEN 1 END), 1) AS pos,
      |    r.idx + 1 AS idx,
      |    coalesce(v6.piece, v5.piece, v4.piece, v3.piece, v2.piece,
      |      v1.piece, substr(r.word, r.pos, 1)) AS piece
      |  FROM seg r
      |  LEFT JOIN v v1 ON v1.piece = substr(r.word, r.pos, 1)
      |    AND length(v1.piece) = 1
      |  LEFT JOIN v v2 ON v2.piece = substr(r.word, r.pos, 2)
      |    AND length(v2.piece) = 2
      |  LEFT JOIN v v3 ON v3.piece = substr(r.word, r.pos, 3)
      |    AND length(v3.piece) = 3
      |  LEFT JOIN v v4 ON v4.piece = substr(r.word, r.pos, 4)
      |    AND length(v4.piece) = 4
      |  LEFT JOIN v v5 ON v5.piece = substr(r.word, r.pos, 5)
      |    AND length(v5.piece) = 5
      |  LEFT JOIN v v6 ON v6.piece = substr(r.word, r.pos, 6)
      |    AND length(v6.piece) = 6
      |  WHERE r.pos <= length(r.word)),
      |p0 AS (SELECT word, idx, piece FROM seg WHERE idx >= 1),
      |""".stripMargin +
      (1 to rounds).map(roundCtes).mkString(",\n")
  }

  /** q158/q159's shared prefix: the q135 gram-hash / robust-winnowing /
    * offset-island chain pointed ACROSS frames (corpus side 'c' vs the
    * spanBenchFixture excerpts 'b'), WITHOUT the hot-fingerprint drop —
    * [[graft.operators.Decontaminate.spanDecontaminate]] is exact by
    * design. Ends at `sp` = (doc_id, bench_id, doc_start, bench_start,
    * span_chars), unfiltered by minSpanChars.
    */
  private val SpanDecontCte = spanCteCore(
    """SELECT doc_id, 'b', 'zq ' || substr(text, 31, 220)
      |  FROM documents WHERE doc_id % 22 = 0 AND length(text) >= 300"""
      .stripMargin)

  /** The span chain with a pluggable benchmark SELECT (id, 'b', text) —
    * q158/q159 use the excerpt fixture, q162 a two-class benchmark.
    */
  private def spanCteCore(benchSelect: String): String =
    s"""WITH base AS (
      |  SELECT doc_id AS id, 'c' AS side, text FROM documents
      |  UNION ALL
      |  $benchSelect),
      |c AS (""".stripMargin +
    """
      |  SELECT id, side, text AS s,
      |    least(16, length(text)) AS kk, length(text) AS n
      |  FROM base WHERE length(text) > 0),
      |h AS (
      |  SELECT id, side, kk,
      |    list_transform(range(1, n - kk + 2), j ->
      |      list_sum(list_transform(range(0, kk), t ->
      |        (unicode(substr(s, (j + t)::INT, 1))::BIGINT *
      |         ([1, 257, 66049, 16974593, 67503107, 168429323,
      |           336663071, 623063367, 1213495441, 483199522,
      |           1775709275, 1090750511, 1150007217, 1346595130,
      |           330081243, 1079017218])[(kk - t)::INT]) % 2147483647))
      |      % 2147483647) AS hl
      |  FROM c),
      |m AS (
      |  SELECT id, side,
      |    CASE WHEN len(hl) <= 8 THEN [list_min(hl)]
      |         ELSE list_transform(range(1, len(hl) - 6), j ->
      |           list_min(list_slice(hl, j, j + 7)))
      |    END AS fl,
      |    CASE WHEN len(hl) <= 8 THEN
      |           [len(hl) + 1 -
      |            list_position(list_reverse(hl), list_min(hl))]
      |         ELSE list_transform(range(1, len(hl) - 6), j ->
      |           j + 8 - list_position(
      |             list_reverse(list_slice(hl, j, j + 7)),
      |             list_min(list_slice(hl, j, j + 7))))
      |    END AS pl
      |  FROM h),
      |f0 AS (SELECT DISTINCT id, side, f, p FROM (
      |  SELECT id, side, unnest(fl) AS f, unnest(pl) AS p FROM m)),
      |mt AS (
      |  SELECT a.id AS da, b.id AS db, a.p AS pa, b.p AS pb,
      |    a.p - b.p AS off
      |  FROM f0 a JOIN f0 b ON a.f = b.f
      |    AND a.side = 'c' AND b.side = 'b'),
      |isl AS (
      |  SELECT da, db, off, pa, pb,
      |    CASE WHEN pa - lag(pa) OVER (
      |      PARTITION BY da, db, off ORDER BY pa) <= 16
      |      THEN 0 ELSE 1 END AS brk
      |  FROM mt),
      |g AS (
      |  SELECT da, db, off, pa, pb,
      |    sum(brk) OVER (PARTITION BY da, db, off ORDER BY pa
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS gid
      |  FROM isl),
      |sp AS (
      |  SELECT da AS doc_id, db AS bench_id, min(pa) AS doc_start,
      |    min(pb) AS bench_start, max(pa) - min(pa) + 16 AS span_chars
      |  FROM g GROUP BY da, db, off, gid)""".stripMargin

  /** q90's full content-curation CTE chain over a pluggable `base`
    * (doc_id, text) - fingerprint canon, 8-shingle contamination vs the
    * %25-excerpt benchmark, gopher battery, quality score, repetition -
    * ending at v(doc_id, reason). Shared by q90 and q163.
    */
  private def curateCtes(baseBody: String): String =
    s"""base AS (
      |  $baseBody),
      |fp AS (""".stripMargin +
    """
      |  SELECT doc_id,
      |    md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS f
      |  FROM base),
        |canon AS (SELECT f, min(doc_id) AS canon FROM fp GROUP BY f),
        |bt AS (
        |  SELECT list_filter(string_split_regex(substr(text, 41, 200),
        |    '\s+'), x -> x <> '') AS t
        |  FROM documents WHERE doc_id % 25 = 0 AND length(text) >= 300),
        |bg AS (
        |  SELECT DISTINCT unnest(CASE WHEN len(t) >= 8 THEN
        |      list_distinct(list_transform(range(1, len(t) - 6), i ->
        |        array_to_string(list_slice(t, i, i + 7), ' ')))
        |    ELSE [array_to_string(t, ' ')] END) AS g
        |  FROM bt),
        |dt AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS t
        |  FROM base),
        |dg AS (
        |  SELECT doc_id, unnest(CASE WHEN len(t) >= 8 THEN
        |      list_distinct(list_transform(range(1, len(t) - 6), i ->
        |        array_to_string(list_slice(t, i, i + 7), ' ')))
        |    ELSE [array_to_string(t, ' ')] END) AS g
        |  FROM dt),
        |hit AS (SELECT DISTINCT doc_id FROM dg JOIN bg USING (g)),
        |lt AS (
        |  SELECT doc_id, lower(text) AS lt,
        |    list_filter(string_split_regex(lower(text), '\s+'),
        |      x -> x <> '') AS tk
        |  FROM base),
        |gs AS (
        |  SELECT doc_id, len(tk) AS n,
        |    coalesce(list_sum(list_transform(tk, x -> length(x))), 0)
        |      AS chars,
        |    len(list_filter(tk, x -> list_contains(
        |      ['the','be','to','of','and','that','have','with'], x)))
        |      AS stops,
        |    len(list_filter(tk, x -> regexp_matches(x, '[A-Za-z]')))
        |      AS alpha,
        |    length(lt) - length(replace(lt, '#', ''))
        |      + len(regexp_extract_all(lt, '\.{3}')) AS sym,
        |    len(string_split(lt, chr(10))) AS nl,
        |    len(regexp_extract_all(lt, '(?m)^[ \t]*[•‣▪*-]')) AS bl,
        |    len(regexp_extract_all(lt, '(?m)(\.\.\.|…)[ \t]*$')) AS el
        |  FROM lt),
        |gp AS (
        |  SELECT doc_id,
        |    (n >= 50 AND n <= 100000)
        |    AND coalesce(CASE WHEN n > 0 THEN chars::DOUBLE / n >= 3.0
        |      AND chars::DOUBLE / n <= 10.0 END, FALSE)
        |    AND coalesce(CASE WHEN n > 0 THEN sym::DOUBLE / n <= 0.1 END,
        |      FALSE)
        |    AND coalesce(CASE WHEN n > 0 THEN alpha::DOUBLE / n >= 0.8 END,
        |      FALSE)
        |    AND stops >= 2
        |    AND bl::DOUBLE / nl <= 0.9
        |    AND el::DOUBLE / nl <= 0.3 AS pass
        |  FROM gs),
        |qm AS (
        |  SELECT doc_id, length(text) AS nch,
        |    CASE WHEN len(t) > 0 THEN
        |      list_sum(list_transform(t, x -> length(x)))::DOUBLE / len(t)
        |      END AS atl,
        |    CASE WHEN len(t) > 0 THEN
        |      len(list_filter(t, x -> list_contains(
        |        ['the','a','an','and','of','to','in','is','for','on','with'],
        |        x)))::DOUBLE / len(t) END AS swr,
        |    CASE WHEN length(text) > 0 THEN
        |      length(regexp_replace(text, '[^A-Za-z]', '', 'g'))::DOUBLE
        |      / length(text) END AS ar
        |  FROM base JOIN dt USING (doc_id)),
        |q AS (
        |  SELECT doc_id, 0.25::DOUBLE * (
        |    coalesce(nch BETWEEN 100 AND 10000, false)::INT +
        |    coalesce(atl >= 3.0 AND atl <= 10.0, false)::INT +
        |    coalesce(swr >= 0.03, false)::INT +
        |    coalesce(ar >= 0.6, false)::INT) AS quality
        |  FROM qm),
        |tc AS (
        |  SELECT doc_id, tok, count(*) AS cnt
        |  FROM (SELECT doc_id, unnest(t) AS tok FROM dt) GROUP BY 1, 2),
        |tm AS (SELECT doc_id, max(cnt) AS mx FROM tc GROUP BY 1),
        |r AS (
        |  SELECT dt.doc_id,
        |    coalesce(CASE WHEN len(dt.t) > 0 THEN
        |      tm.mx::DOUBLE / len(dt.t) <= 0.5 END, FALSE) AS calm
        |  FROM dt LEFT JOIN tm USING (doc_id)),
        |v AS (
        |  SELECT fp.doc_id,
        |    CASE WHEN fp.doc_id <> canon.canon THEN 'duplicate'
        |         WHEN hit.doc_id IS NOT NULL THEN 'contaminated'
        |         WHEN NOT gp.pass THEN 'gopher'
        |         WHEN q.quality < 0.5 THEN 'low_quality'
        |         WHEN NOT r.calm THEN 'repetitive'
        |    END AS reason
        |  FROM fp JOIN canon USING (f)
        |  LEFT JOIN hit ON hit.doc_id = fp.doc_id
        |  JOIN gp ON gp.doc_id = fp.doc_id
        |  JOIN q ON q.doc_id = fp.doc_id
        |  JOIN r ON r.doc_id = fp.doc_id)""".stripMargin

  /** [[curateCtes]] with PREFIXED CTE names and a pluggable benchmark
    * tokenizer body — q170 runs the chain TWICE in one statement (first
    * verdict over raw text, second over the excision-patched corpus),
    * so the two instances need disjoint names. Kept separate from
    * [[curateCtes]] so the long-green q90/q163/q165-family oracles stay
    * byte-identical; the chains are the same SQL modulo names and the
    * bench tokenizer.
    */
  private def curateCtesPrefixed(p: String, baseBody: String,
      btBody: String): String =
    raw"""${p}base AS (
      |  $baseBody),
      |${p}fp AS (
      |  SELECT doc_id,
      |    md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS f
      |  FROM ${p}base),
      |${p}canon AS (SELECT f, min(doc_id) AS canon FROM ${p}fp
      |  GROUP BY f),
      |${p}bt AS (
      |  $btBody),
      |${p}bg AS (
      |  SELECT DISTINCT unnest(CASE WHEN len(t) >= 8 THEN
      |      list_distinct(list_transform(range(1, len(t) - 6), i ->
      |        array_to_string(list_slice(t, i, i + 7), ' ')))
      |    ELSE [array_to_string(t, ' ')] END) AS g
      |  FROM ${p}bt),
      |${p}dt AS (
      |  SELECT doc_id,
      |    list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS t
      |  FROM ${p}base),
      |${p}dg AS (
      |  SELECT doc_id, unnest(CASE WHEN len(t) >= 8 THEN
      |      list_distinct(list_transform(range(1, len(t) - 6), i ->
      |        array_to_string(list_slice(t, i, i + 7), ' ')))
      |    ELSE [array_to_string(t, ' ')] END) AS g
      |  FROM ${p}dt),
      |${p}hit AS (SELECT DISTINCT doc_id FROM ${p}dg
      |  JOIN ${p}bg USING (g)),
      |${p}lt AS (
      |  SELECT doc_id, lower(text) AS lt,
      |    list_filter(string_split_regex(lower(text), '\s+'),
      |      x -> x <> '') AS tk
      |  FROM ${p}base),
      |${p}gs AS (
      |  SELECT doc_id, len(tk) AS n,
      |    coalesce(list_sum(list_transform(tk, x -> length(x))), 0)
      |      AS chars,
      |    len(list_filter(tk, x -> list_contains(
      |      ['the','be','to','of','and','that','have','with'], x)))
      |      AS stops,
      |    len(list_filter(tk, x -> regexp_matches(x, '[A-Za-z]')))
      |      AS alpha,
      |    length(lt) - length(replace(lt, '#', ''))
      |      + len(regexp_extract_all(lt, '\.{3}')) AS sym,
      |    len(string_split(lt, chr(10))) AS nl,
      |    len(regexp_extract_all(lt, '(?m)^[ \t]*[•‣▪*-]')) AS bl,
      |    len(regexp_extract_all(lt, '(?m)(\.\.\.|…)[ \t]*$$')) AS el
      |  FROM ${p}lt),
      |${p}gp AS (
      |  SELECT doc_id,
      |    (n >= 50 AND n <= 100000)
      |    AND coalesce(CASE WHEN n > 0 THEN chars::DOUBLE / n >= 3.0
      |      AND chars::DOUBLE / n <= 10.0 END, FALSE)
      |    AND coalesce(CASE WHEN n > 0 THEN sym::DOUBLE / n <= 0.1 END,
      |      FALSE)
      |    AND coalesce(CASE WHEN n > 0 THEN alpha::DOUBLE / n >= 0.8 END,
      |      FALSE)
      |    AND stops >= 2
      |    AND bl::DOUBLE / nl <= 0.9
      |    AND el::DOUBLE / nl <= 0.3 AS pass
      |  FROM ${p}gs),
      |${p}qm AS (
      |  SELECT doc_id, length(text) AS nch,
      |    CASE WHEN len(t) > 0 THEN
      |      list_sum(list_transform(t, x -> length(x)))::DOUBLE / len(t)
      |      END AS atl,
      |    CASE WHEN len(t) > 0 THEN
      |      len(list_filter(t, x -> list_contains(
      |        ['the','a','an','and','of','to','in','is','for','on','with'],
      |        x)))::DOUBLE / len(t) END AS swr,
      |    CASE WHEN length(text) > 0 THEN
      |      length(regexp_replace(text, '[^A-Za-z]', '', 'g'))::DOUBLE
      |      / length(text) END AS ar
      |  FROM ${p}base JOIN ${p}dt USING (doc_id)),
      |${p}q AS (
      |  SELECT doc_id, 0.25::DOUBLE * (
      |    coalesce(nch BETWEEN 100 AND 10000, false)::INT +
      |    coalesce(atl >= 3.0 AND atl <= 10.0, false)::INT +
      |    coalesce(swr >= 0.03, false)::INT +
      |    coalesce(ar >= 0.6, false)::INT) AS quality
      |  FROM ${p}qm),
      |${p}tc AS (
      |  SELECT doc_id, tok, count(*) AS cnt
      |  FROM (SELECT doc_id, unnest(t) AS tok FROM ${p}dt)
      |  GROUP BY 1, 2),
      |${p}tm AS (SELECT doc_id, max(cnt) AS mx FROM ${p}tc GROUP BY 1),
      |${p}r AS (
      |  SELECT ${p}dt.doc_id,
      |    coalesce(CASE WHEN len(${p}dt.t) > 0 THEN
      |      ${p}tm.mx::DOUBLE / len(${p}dt.t) <= 0.5 END, FALSE) AS calm
      |  FROM ${p}dt LEFT JOIN ${p}tm USING (doc_id)),
      |${p}v AS (
      |  SELECT ${p}fp.doc_id,
      |    CASE WHEN ${p}fp.doc_id <> ${p}canon.canon THEN 'duplicate'
      |         WHEN ${p}hit.doc_id IS NOT NULL THEN 'contaminated'
      |         WHEN NOT ${p}gp.pass THEN 'gopher'
      |         WHEN ${p}q.quality < 0.5 THEN 'low_quality'
      |         WHEN NOT ${p}r.calm THEN 'repetitive'
      |    END AS reason
      |  FROM ${p}fp JOIN ${p}canon USING (f)
      |  LEFT JOIN ${p}hit ON ${p}hit.doc_id = ${p}fp.doc_id
      |  JOIN ${p}gp ON ${p}gp.doc_id = ${p}fp.doc_id
      |  JOIN ${p}q ON ${p}q.doc_id = ${p}fp.doc_id
      |  JOIN ${p}r ON ${p}r.doc_id = ${p}fp.doc_id)""".stripMargin

  /** q170's benchmark tokenizer body — the spanBenchFixture texts
    * ('zq ' + offset excerpt of every 22nd long doc), tokenized for the
    * 8-shingle contamination screen: the SAME benchmark drives both the
    * shingle flag and the span localization, so excision provably
    * removes what the flag fired on.
    */
  private val SpanBenchBtBody: String =
    raw"""SELECT list_filter(string_split_regex(
      |    'zq ' || substr(text, 31, 220), '\s+'), x -> x <> '') AS t
      |  FROM documents WHERE doc_id % 22 = 0 AND length(text) >= 300"""
      .stripMargin

  /** The urlFixture SQL twins, parameterized over the projected columns
    * (q156/q157/q160 need (doc_id, url); q163 carries text through).
    */
  private def urlFixtureSql(extraCols: String): String =
    s"""SELECT doc_id,$extraCols
      |    'https://' ||
      |    CASE WHEN doc_id % 7 = 0 THEN 'www.' ELSE '' END ||
      |    'h' || (doc_id % 40)::VARCHAR || '.example.com' ||
      |    CASE WHEN doc_id % 3 = 0 THEN ':443' ELSE '' END ||
      |    '/docs/' || doc_id::VARCHAR ||
      |    CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END ||
      |    CASE WHEN doc_id % 4 = 0 THEN '?b=2&a=1&utm_source=feed'
      |         WHEN doc_id % 4 = 1 THEN '?a=1&b=2' ELSE '' END ||
      |    CASE WHEN doc_id % 6 = 0 THEN '#frag' ELSE '' END AS url
      |  FROM documents
      |  UNION ALL
      |  SELECT doc_id + 800000,$extraCols
      |    'HTTPS://' ||
      |    CASE WHEN doc_id % 7 = 0 THEN 'WWW.' ELSE '' END ||
      |    'H' || (doc_id % 40)::VARCHAR || '.EXAMPLE.COM' ||
      |    '/docs/' || doc_id::VARCHAR ||
      |    CASE WHEN doc_id % 4 = 0 THEN '?a=1&utm_q=9&b=2'
      |         WHEN doc_id % 4 = 1 THEN '?b=2&a=1'
      |         ELSE '?utm_only=1' END ||
      |    '#twin' AS url
      |  FROM documents WHERE doc_id % 10 = 0""".stripMargin

  /** q156/q157's shared prefix: the urlFixture strings from doc_id
    * arithmetic, then [[graft.operators.Urls.normalizeUrl]] and
    * [[graft.operators.Urls.hostOf]] replayed literally — `norm` ends as
    * (doc_id, url, nurl, host).
    */
  private val UrlNormCte = urlNormCtes(urlFixtureSql(""))

  /** webSpamFixture's SQL twin: the text-carrying urlFixture plus the
    * three mill.example.net rows per every-20th doc.
    */
  private val WebSpamFixtureSql: String =
    urlFixtureSql(" text,") +
      """
        |  UNION ALL
        |  SELECT doc_id + 900000, text,
        |    'https://mill.example.net/p/' || doc_id::VARCHAR AS url
        |  FROM documents WHERE doc_id % 20 = 0
        |  UNION ALL
        |  SELECT doc_id + 910000, text,
        |    'https://mill.example.net/p/' || doc_id::VARCHAR || '?utm_x=1'
        |    AS url
        |  FROM documents WHERE doc_id % 20 = 0
        |  UNION ALL
        |  SELECT doc_id + 920000, text,
        |    'https://mill.example.net/p/' || doc_id::VARCHAR || '#m' AS url
        |  FROM documents WHERE doc_id % 20 = 0""".stripMargin

  /** The normalizeUrl/hostOf replay chain over a pluggable `urls` CTE
    * body — ends at norm(doc_id, url, nurl, host); extra columns on
    * `urls` (q163's text) stay reachable from `urls` itself.
    */
  private def urlNormCtes(urlsBody: String,
      withPrefix: String = "WITH "): String =
    s"""${withPrefix}urls AS (
      |  $urlsBody),
      |n1 AS (""".stripMargin +
    """
      |  SELECT doc_id, url,
      |    regexp_replace(trim(url), '#.*$', '') AS u
      |  FROM urls),
      |n2 AS (
      |  SELECT doc_id, url, u,
      |    lower(regexp_extract(u,
      |      '^([A-Za-z][A-Za-z0-9+.-]*)://.*$', 1)) AS sch,
      |    lower(regexp_extract(u,
      |      '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*).*$', 1)) AS hp,
      |    regexp_extract(u,
      |      '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*(.*)$', 1) AS rest
      |  FROM n1),
      |n3 AS (
      |  SELECT *,
      |    CASE WHEN sch = 'http' THEN regexp_replace(hp, ':80$', '')
      |         WHEN sch = 'https' THEN regexp_replace(hp, ':443$', '')
      |         ELSE hp END AS hst,
      |    regexp_extract(rest, '^([^?]*)', 1) AS rawpath,
      |    regexp_extract(rest, '^[^?]*\?(.*)$', 1) AS q
      |  FROM n2),
      |n4 AS (
      |  SELECT *,
      |    array_to_string(list_sort(list_filter(string_split(q, '&'),
      |      p -> p <> '' AND NOT regexp_matches(p,
      |        '^(utm_[A-Za-z0-9_]*|gclid|fbclid|ref|mc_eid)(=|$)'))),
      |      '&') AS qn,
      |    CASE WHEN rawpath = '' THEN '/'
      |         ELSE regexp_replace(rawpath, '^(.+?)/$', '\1') END AS pth
      |  FROM n3),
      |norm AS (
      |  SELECT doc_id, url,
      |    CASE WHEN regexp_matches(u, '^[A-Za-z][A-Za-z0-9+.-]*://')
      |      THEN sch || '://' || hst || pth ||
      |        CASE WHEN qn <> '' THEN '?' || qn ELSE '' END
      |      ELSE u END AS nurl,
      |    nullif(lower(regexp_extract(trim(url),
      |      '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#:]*).*$', 1)), '') AS host
      |  FROM n4)""".stripMargin

  /** Exact blocked char-3-gram Jaccard ground truth — shared by q38 (the
    * block-local all-pairs operator) and q67 (the prefix-filtered
    * operator): the filter is lossless, so both must match it exactly.
    */
  private val NgramOracle =
    """WITH base AS (
      |  SELECT doc_id, lang, source, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 200000, lang, source,
      |         text || ' shared boilerplate footer appended here'
      |  FROM documents WHERE doc_id % 15 = 0 AND length(text) >= 300),
      |norm AS (
      |  SELECT doc_id, lang, source,
      |    lower(regexp_replace(trim(text), '\s+', ' ', 'g')) AS s
      |  FROM base),
      |g AS (
      |  SELECT doc_id, lang, source, unnest(CASE WHEN length(s) >= 3 THEN
      |      list_distinct(list_transform(range(1, length(s) - 1),
      |        i -> substr(s, i, 3)))
      |    ELSE [s] END) AS gr
      |  FROM norm),
      |sz AS (SELECT doc_id, count(*) AS n FROM g GROUP BY doc_id),
      |ix AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
      |  FROM g a JOIN g b ON a.gr = b.gr AND a.lang = b.lang
      |    AND a.source = b.source AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)
      |SELECT doc_a, doc_b,
      |       round(i::DOUBLE / (sa.n + sb.n - i), 4) AS jaccard
      |FROM ix
      |JOIN sz sa ON doc_a = sa.doc_id
      |JOIN sz sb ON doc_b = sb.doc_id
      |WHERE i::DOUBLE / (sa.n + sb.n - i) >= 0.8""".stripMargin

  private val ToksCte =
    """WITH t AS (
      |  SELECT doc_id, text,
      |    list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks
      |  FROM documents)""".stripMargin

  /** The linkage fixture (mirror of `linkageRecords`): customers plus
    * the planted 1-sub / 2-sub twins and the 4-sub decoys.
    */
  private val LinkageBaseCte =
    """base AS (
      |  SELECT c_custkey, c_name, c_nationkey, c_mktsegment, c_acctbal
      |  FROM customer
      |  UNION ALL SELECT c_custkey + 1000000,
      |    substr(c_name, 1, length(c_name) - 1) || 'X',
      |    c_nationkey, c_mktsegment, c_acctbal
      |  FROM customer WHERE c_custkey % 20 = 3
      |  UNION ALL SELECT c_custkey + 2000000,
      |    substr(c_name, 1, length(c_name) - 2) || 'XY',
      |    c_nationkey, c_mktsegment, c_acctbal
      |  FROM customer WHERE c_custkey % 40 = 7
      |  UNION ALL SELECT c_custkey + 3000000,
      |    substr(c_name, 1, length(c_name) - 4) || 'WXYZ',
      |    c_nationkey, c_mktsegment, c_acctbal
      |  FROM customer WHERE c_custkey % 50 = 11)""".stripMargin

  /** Transitive closure over a `pairs(pa, pb)` CTE + the full-record
    * entity mapping with sizes — the q45 recursive-reach discipline
    * applied to linkage (expects `base` from [[LinkageBaseCte]]).
    */
  private val LinkageClosureCte =
    """edges AS (
      |  SELECT pa AS s, pb AS t FROM pairs
      |  UNION ALL SELECT pb, pa FROM pairs),
      |reach(s, t) AS (
      |  SELECT s, t FROM edges
      |  UNION
      |  SELECT r.s, e.t FROM reach r JOIN edges e ON r.t = e.s),
      |lbl AS (
      |  SELECT s, least(s, min(t)) AS entity_id FROM reach GROUP BY s),
      |m AS (
      |  SELECT b.c_custkey AS rec_id,
      |    coalesce(l.entity_id, b.c_custkey) AS entity_id
      |  FROM base b LEFT JOIN lbl l ON l.s = b.c_custkey),
      |sz AS (
      |  SELECT entity_id, count(*)::BIGINT AS n_members
      |  FROM m GROUP BY entity_id)""".stripMargin

  /** DuckDB replay of [[graft.operators.Graphs.kCore]] — `rounds`
    * unrolled peel rounds (degree-filter + two endpoint semi joins per
    * round, all MATERIALIZED); peeling is idempotent past the
    * fixpoint, so unrolling a fixed count ≥ the cascade depth replays
    * the operator's converged answer exactly. `edgesCte` must yield
    * (src, dst); canonicalization mirrors the operator.
    */
  private def kCoreOracle(edgesCte: String, k: Int, rounds: Int): String = {
    def round(i: Int): String = {
      val p = s"c${i - 1}"
      s"""d$i AS MATERIALIZED (
         |  SELECT node, count(*)::BIGINT AS dg FROM (
         |    SELECT u AS node FROM $p UNION ALL SELECT v FROM $p)
         |  GROUP BY node HAVING count(*) >= $k),
         |c$i AS MATERIALIZED (
         |  SELECT e.u, e.v FROM $p e
         |  JOIN d$i a ON e.u = a.node JOIN d$i b ON e.v = b.node)"""
        .stripMargin
    }
    s"""WITH raw AS MATERIALIZED ($edgesCte),
       |c0 AS MATERIALIZED (
       |  SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
       |  FROM raw WHERE src IS NOT NULL AND dst IS NOT NULL
       |    AND src <> dst),
       |${(1 to rounds).map(round).mkString(",\n")}
       |SELECT node, dg AS core_degree FROM d$rounds""".stripMargin
  }

  /** DuckDB replay of [[graft.operators.Graphs.personalizedPageRank]]:
    * the q181 unrolled-round discipline with the preference vector p
    * (1/|S∩V| on seeds, 0.0 elsewhere) replacing the uniform teleport
    * in BOTH the restart and the dangling term, every literal and
    * association mirrored.
    */
  private def pprOracle(edgesCte: String, seedsCte: String,
      iterations: Int, damping: Double): String = {
    val S = "1000000000000.0::DOUBLE"
    def iter(i: Int): String = {
      val p = s"r${i - 1}"
      s"""c$i AS MATERIALIZED (
         |  SELECT e.dst AS node,
         |    sum(round(r.rank / d.outdeg::DOUBLE * $S)::BIGINT) AS cs
         |  FROM $p r JOIN deg d ON d.node = r.node JOIN e ON e.src = r.node
         |  GROUP BY e.dst),
         |d$i AS MATERIALIZED (
         |  SELECT coalesce(sum(round(r.rank * $S)::BIGINT), 0) AS dm
         |  FROM $p r LEFT JOIN deg d ON d.node = r.node
         |  WHERE d.node IS NULL),
         |r$i AS MATERIALIZED (
         |  SELECT pref.node,
         |    (1.0::DOUBLE - $damping::DOUBLE) * pref.p + $damping::DOUBLE *
         |      (coalesce(c$i.cs, 0)::DOUBLE / $S +
         |        (d$i.dm::DOUBLE / $S) * pref.p) AS rank
         |  FROM pref CROSS JOIN d$i
         |  LEFT JOIN c$i ON c$i.node = pref.node)""".stripMargin
    }
    s"""WITH e AS MATERIALIZED ($edgesCte),
       |nodes AS MATERIALIZED (
       |  SELECT src AS node FROM e UNION SELECT dst FROM e),
       |sd AS MATERIALIZED ($seedsCte),
       |ns AS MATERIALIZED (
       |  SELECT count(*)::DOUBLE AS n FROM nodes
       |  WHERE node IN (SELECT node FROM sd)),
       |deg AS MATERIALIZED (
       |  SELECT src AS node, count(*)::BIGINT AS outdeg
       |  FROM e GROUP BY src),
       |pref AS MATERIALIZED (
       |  SELECT nodes.node,
       |    CASE WHEN nodes.node IN (SELECT node FROM sd)
       |      THEN 1.0::DOUBLE / ns.n ELSE 0.0::DOUBLE END AS p
       |  FROM nodes CROSS JOIN ns),
       |r0 AS MATERIALIZED (SELECT node, p AS rank FROM pref),
       |${(1 to iterations).map(iter).mkString(",\n")}
       |SELECT node, rank FROM r$iterations""".stripMargin
  }

  /** DuckDB replay of [[graft.operators.Graphs.weightedPageRank]] —
    * [[pageRankOracle]] with the uniform 1/outdeg split replaced by the
    * weighted rank·(w/W) split, association order mirrored exactly;
    * `edgesCte` must yield (src, dst, w) with parallel edges already
    * collapsed (the gates aggregate at build time).
    */
  private def weightedPageRankOracle(edgesCte: String, iterations: Int,
      damping: Double): String = {
    val S = "1000000000000.0::DOUBLE"
    def iter(i: Int): String = {
      val p = s"r${i - 1}"
      s"""c$i AS MATERIALIZED (
         |  SELECT e.dst AS node,
         |    sum(round(r.rank * (e.w::DOUBLE / d.outw::DOUBLE) * $S)
         |      ::BIGINT) AS cs
         |  FROM $p r JOIN outw d ON d.node = r.node JOIN e ON e.src = r.node
         |  GROUP BY e.dst),
         |d$i AS MATERIALIZED (
         |  SELECT coalesce(sum(round(r.rank * $S)::BIGINT), 0) AS dm
         |  FROM $p r LEFT JOIN outw d ON d.node = r.node
         |  WHERE d.node IS NULL),
         |r$i AS MATERIALIZED (
         |  SELECT nodes.node,
         |    (1.0::DOUBLE - $damping::DOUBLE) / nn.n + $damping::DOUBLE *
         |      (coalesce(c$i.cs, 0)::DOUBLE / $S +
         |        (d$i.dm::DOUBLE / $S) / nn.n) AS rank
         |  FROM nodes CROSS JOIN nn CROSS JOIN d$i
         |  LEFT JOIN c$i ON c$i.node = nodes.node)""".stripMargin
    }
    s"""WITH e AS MATERIALIZED ($edgesCte),
       |nodes AS MATERIALIZED (
       |  SELECT src AS node FROM e UNION SELECT dst FROM e),
       |nn AS MATERIALIZED (SELECT count(*)::DOUBLE AS n FROM nodes),
       |outw AS MATERIALIZED (
       |  SELECT src AS node, sum(w)::BIGINT AS outw
       |  FROM e GROUP BY src),
       |r0 AS MATERIALIZED (SELECT node, 1.0::DOUBLE / nn.n AS rank
       |  FROM nodes CROSS JOIN nn),
       |${(1 to iterations).map(iter).mkString(",\n")}
       |SELECT node, rank FROM r$iterations""".stripMargin
  }

  /** DuckDB replay of
    * [[graft.operators.Graphs.weightedPersonalizedPageRank]] —
    * [[pprOracle]] with the weighted rank·(w/W) split, every literal
    * and association mirrored; `edgesCte` yields (src, dst, w).
    */
  private def weightedPprOracle(edgesCte: String, seedsCte: String,
      iterations: Int, damping: Double): String = {
    val S = "1000000000000.0::DOUBLE"
    def iter(i: Int): String = {
      val p = s"r${i - 1}"
      s"""c$i AS MATERIALIZED (
         |  SELECT e.dst AS node,
         |    sum(round(r.rank * (e.w::DOUBLE / d.outw::DOUBLE) * $S)
         |      ::BIGINT) AS cs
         |  FROM $p r JOIN outw d ON d.node = r.node JOIN e ON e.src = r.node
         |  GROUP BY e.dst),
         |d$i AS MATERIALIZED (
         |  SELECT coalesce(sum(round(r.rank * $S)::BIGINT), 0) AS dm
         |  FROM $p r LEFT JOIN outw d ON d.node = r.node
         |  WHERE d.node IS NULL),
         |r$i AS MATERIALIZED (
         |  SELECT pref.node,
         |    (1.0::DOUBLE - $damping::DOUBLE) * pref.p + $damping::DOUBLE *
         |      (coalesce(c$i.cs, 0)::DOUBLE / $S +
         |        (d$i.dm::DOUBLE / $S) * pref.p) AS rank
         |  FROM pref CROSS JOIN d$i
         |  LEFT JOIN c$i ON c$i.node = pref.node)""".stripMargin
    }
    s"""WITH e AS MATERIALIZED ($edgesCte),
       |nodes AS MATERIALIZED (
       |  SELECT src AS node FROM e UNION SELECT dst FROM e),
       |sd AS MATERIALIZED ($seedsCte),
       |ns AS MATERIALIZED (
       |  SELECT count(*)::DOUBLE AS n FROM nodes
       |  WHERE node IN (SELECT node FROM sd)),
       |outw AS MATERIALIZED (
       |  SELECT src AS node, sum(w)::BIGINT AS outw
       |  FROM e GROUP BY src),
       |pref AS MATERIALIZED (
       |  SELECT nodes.node,
       |    CASE WHEN nodes.node IN (SELECT node FROM sd)
       |      THEN 1.0::DOUBLE / ns.n ELSE 0.0::DOUBLE END AS p
       |  FROM nodes CROSS JOIN ns),
       |r0 AS MATERIALIZED (SELECT node, p AS rank FROM pref),
       |${(1 to iterations).map(iter).mkString(",\n")}
       |SELECT node, rank FROM r$iterations""".stripMargin
  }

  /** DuckDB replay of [[graft.operators.Graphs.resumePageRank]]'s
    * two-phase composition (q232): the warm phase unrolls
    * `warmRounds` of the quantized update over the OLD edge list from
    * the uniform start, the bridge CTE maps the warm ranks onto the
    * NEW node spine (absent nodes coalesce to 1/n over the new count —
    * the operator's new-page init, replayed literally), and the resume
    * phase unrolls `resumeRounds` over the NEW edge list from that
    * bridge. Every literal and association order mirrors
    * [[pageRankOracle]]'s iteration body.
    */
  private def resumePageRankOracle(oldEdgesCte: String,
      newEdgesCte: String, warmRounds: Int, resumeRounds: Int,
      damping: Double): String = {
    val S = "1000000000000.0::DOUBLE"
    // one phase's iteration CTEs, all names prefixed so the two phases
    // coexist in a single WITH
    def iter(px: String, i: Int): String = {
      val p = s"${px}r${i - 1}"
      s"""${px}c$i AS MATERIALIZED (
         |  SELECT e.dst AS node,
         |    sum(round(r.rank / d.outdeg::DOUBLE * $S)::BIGINT) AS cs
         |  FROM $p r JOIN ${px}deg d ON d.node = r.node
         |  JOIN ${px}e e ON e.src = r.node
         |  GROUP BY e.dst),
         |${px}d$i AS MATERIALIZED (
         |  SELECT coalesce(sum(round(r.rank * $S)::BIGINT), 0) AS dm
         |  FROM $p r LEFT JOIN ${px}deg d ON d.node = r.node
         |  WHERE d.node IS NULL),
         |${px}r$i AS MATERIALIZED (
         |  SELECT nodes.node,
         |    (1.0::DOUBLE - $damping::DOUBLE) / nn.n + $damping::DOUBLE *
         |      (coalesce(c.cs, 0)::DOUBLE / $S +
         |        (d.dm::DOUBLE / $S) / nn.n) AS rank
         |  FROM ${px}nodes nodes CROSS JOIN ${px}nn nn
         |  CROSS JOIN ${px}d$i d
         |  LEFT JOIN ${px}c$i c ON c.node = nodes.node)""".stripMargin
    }
    def phaseHead(px: String, edgesCte: String): String =
      s"""${px}e AS MATERIALIZED ($edgesCte),
         |${px}nodes AS MATERIALIZED (
         |  SELECT src AS node FROM ${px}e UNION SELECT dst FROM ${px}e),
         |${px}nn AS MATERIALIZED (
         |  SELECT count(*)::DOUBLE AS n FROM ${px}nodes),
         |${px}deg AS MATERIALIZED (
         |  SELECT src AS node, count(*)::BIGINT AS outdeg
         |  FROM ${px}e GROUP BY src)""".stripMargin
    s"""WITH ${phaseHead("o", oldEdgesCte)},
       |or0 AS MATERIALIZED (SELECT node, 1.0::DOUBLE / nn.n AS rank
       |  FROM onodes CROSS JOIN onn nn),
       |${(1 to warmRounds).map(iter("o", _)).mkString(",\n")},
       |${phaseHead("w", newEdgesCte)},
       |wr0 AS MATERIALIZED (
       |  SELECT nodes.node,
       |    coalesce(o.rank, 1.0::DOUBLE / nn.n) AS rank
       |  FROM wnodes nodes CROSS JOIN wnn nn
       |  LEFT JOIN or$warmRounds o ON o.node = nodes.node),
       |${(1 to resumeRounds).map(iter("w", _)).mkString(",\n")}
       |SELECT node, rank FROM wr$resumeRounds""".stripMargin
  }

  /** DuckDB replay of [[graft.operators.Graphs.pageRank]] — the
    * q134/q167 unrolled-round discipline: per iteration one quantized
    * per-destination contribution CTE (integer sum), one 1-row dangling
    * aggregate, one rank-update CTE with every literal and association
    * order mirrored against the Spark side. `edgesCte` must yield
    * (src, dst).
    */
  private def pageRankOracle(edgesCte: String, iterations: Int,
      damping: Double): String = {
    val S = "1000000000000.0::DOUBLE"
    def iter(i: Int): String = {
      val p = s"r${i - 1}"
      s"""c$i AS MATERIALIZED (
         |  SELECT e.dst AS node,
         |    sum(round(r.rank / d.outdeg::DOUBLE * $S)::BIGINT) AS cs
         |  FROM $p r JOIN deg d ON d.node = r.node JOIN e ON e.src = r.node
         |  GROUP BY e.dst),
         |d$i AS MATERIALIZED (
         |  SELECT coalesce(sum(round(r.rank * $S)::BIGINT), 0) AS dm
         |  FROM $p r LEFT JOIN deg d ON d.node = r.node
         |  WHERE d.node IS NULL),
         |r$i AS MATERIALIZED (
         |  SELECT nodes.node,
         |    (1.0::DOUBLE - $damping::DOUBLE) / nn.n + $damping::DOUBLE *
         |      (coalesce(c$i.cs, 0)::DOUBLE / $S +
         |        (d$i.dm::DOUBLE / $S) / nn.n) AS rank
         |  FROM nodes CROSS JOIN nn CROSS JOIN d$i
         |  LEFT JOIN c$i ON c$i.node = nodes.node)""".stripMargin
    }
    s"""WITH e AS MATERIALIZED ($edgesCte),
       |nodes AS MATERIALIZED (
       |  SELECT src AS node FROM e UNION SELECT dst FROM e),
       |nn AS MATERIALIZED (SELECT count(*)::DOUBLE AS n FROM nodes),
       |deg AS MATERIALIZED (
       |  SELECT src AS node, count(*)::BIGINT AS outdeg
       |  FROM e GROUP BY src),
       |r0 AS MATERIALIZED (SELECT node, 1.0::DOUBLE / nn.n AS rank
       |  FROM nodes CROSS JOIN nn),
       |${(1 to iterations).map(iter).mkString(",\n")}
       |SELECT node, rank FROM r$iterations""".stripMargin
  }

  /** DuckDB replay of [[graft.operators.Graphs.hits]] — per iteration:
    * quantized authority sums + 1-row L1 normalizer + normalize, then
    * the same for hubs, every literal and association mirrored.
    */
  private def hitsOracle(edgesCte: String, iterations: Int): String = {
    val S = "1000000000.0::DOUBLE"
    def iter(i: Int): String = {
      val p = if (i == 1) "s0" else s"s${i - 1}"
      s"""a${i}r AS MATERIALIZED (
         |  SELECT e.dst AS node,
         |    sum(round(s.hub * $S)::BIGINT) AS ar
         |  FROM $p s JOIN e ON e.src = s.node GROUP BY e.dst),
         |a${i}t AS MATERIALIZED (SELECT sum(ar)::BIGINT AS t FROM a${i}r),
         |sa$i AS MATERIALIZED (
         |  SELECT s.node, s.hub,
         |    coalesce(r.ar, 0)::DOUBLE / t.t::DOUBLE AS auth
         |  FROM $p s LEFT JOIN a${i}r r ON r.node = s.node
         |  CROSS JOIN a${i}t t),
         |h${i}r AS MATERIALIZED (
         |  SELECT e.src AS node,
         |    sum(round(sa.auth * $S)::BIGINT) AS hr
         |  FROM sa$i sa JOIN e ON e.dst = sa.node GROUP BY e.src),
         |h${i}t AS MATERIALIZED (SELECT sum(hr)::BIGINT AS t FROM h${i}r),
         |s$i AS MATERIALIZED (
         |  SELECT sa.node,
         |    coalesce(r.hr, 0)::DOUBLE / t.t::DOUBLE AS hub, sa.auth
         |  FROM sa$i sa LEFT JOIN h${i}r r ON r.node = sa.node
         |  CROSS JOIN h${i}t t)""".stripMargin
    }
    s"""WITH e AS MATERIALIZED ($edgesCte),
       |nodes AS MATERIALIZED (
       |  SELECT src AS node FROM e UNION SELECT dst FROM e),
       |s0 AS MATERIALIZED (
       |  SELECT node, 1.0::DOUBLE AS hub, 1.0::DOUBLE AS auth
       |  FROM nodes),
       |${(1 to iterations).map(iter).mkString(",\n")}
       |SELECT node, hub, auth FROM s$iterations""".stripMargin
  }

  /** rho of the 50-bit tail (p=10) — length(bin(tail)) = bit length,
    * exact integer/string arithmetic; all-zero tail reads 51, capped 50.
    */
  private val HllRhoSql =
    """CASE WHEN (hv & ((1::BIGINT << 50) - 1)) = 0 THEN 50
      |         ELSE least(51 - length(bin(hv & ((1::BIGINT << 50) - 1))),
      |           50) END""".stripMargin

  /** Estimate chain over a CTE named `reg($gCols, bucket, register)` —
    * the scaled harmonic sum as exact longs, the one double expression
    * mirrored association for association against the Spark side's
    * `lit`s (2^50 = 1125899906842624), ln's final ulp absorbed by the
    * 4-decimal round.
    */
  private def hllEstimateTail(gCols: String): String =
    s"""e AS (
       |  SELECT $gCols, count(*)::BIGINT AS buckets_set,
       |    sum(1::BIGINT << (50 - register))::BIGINT AS s_present
       |  FROM reg GROUP BY $gCols),
       |x AS (
       |  SELECT $gCols, buckets_set,
       |    (1024::BIGINT - buckets_set) AS zero_buckets,
       |    (s_present + (1024::BIGINT - buckets_set) * (1::BIGINT << 50))
       |      AS s_scaled
       |  FROM e),
       |y AS (
       |  SELECT *,
       |    0.7213::DOUBLE / (1.0::DOUBLE + 1.079::DOUBLE / 1024.0::DOUBLE)
       |      * 1024.0::DOUBLE * 1024.0::DOUBLE
       |      * 1125899906842624.0::DOUBLE / s_scaled::DOUBLE AS raw
       |  FROM x)
       |SELECT $gCols, 1024 AS m, buckets_set, zero_buckets,
       |  s_scaled,
       |  round(CASE WHEN raw <= 2.5::DOUBLE * 1024.0::DOUBLE
       |      AND zero_buckets > 0
       |    THEN 1024.0::DOUBLE * ln(1024.0::DOUBLE / zero_buckets::DOUBLE)
       |    ELSE raw END, 4) AS est_distinct
       |FROM y""".stripMargin

  /** DuckDB replay of [[graft.operators.Sketches.hllDistinct]] at p=10:
    * md5 60-bit hash → top-10-bit bucket → max rho per bucket →
    * [[hllEstimateTail]].
    */
  private def hllOracleSql(src: String, groupCol: String,
      keyExpr: String): String =
    s"""WITH h AS (
       |  SELECT $groupCol,
       |    ('0x' || substr(md5($keyExpr), 1, 15))::BIGINT AS hv
       |  FROM $src WHERE $keyExpr IS NOT NULL),
       |reg AS (
       |  SELECT $groupCol, hv >> 50 AS bucket,
       |    max($HllRhoSql) AS register
       |  FROM h GROUP BY $groupCol, hv >> 50),
       |""".stripMargin + hllEstimateTail(groupCol)

  /** DuckDB replay of [[graft.operators.TextAnalysis.fitQualityLogit]]
    * (q167) — the q134 unrolled-round discipline: per GD iteration one
    * quantized-long gradient aggregate CTE (g_i) and one single-row
    * weight-update CTE (w_ic), weights carried UNROUNDED across rounds
    * and rounded at 6 only in the final audit select. The feature CTE
    * mirrors q100's kernel expressions token for token; the teacher
    * label replays q32's quality score.
    */
  private def fitLogitOracle(iterations: Int, lr: Double): String = {
    val sig = "1.0/(1.0+exp(-(a0 + a1*x1 + a2*x2 + a3*x3 + a4*x4)))"
    def g(i: Int): String = {
      val sums = (0 to 4).map { j =>
        val xj = if (j == 0) "" else s" * x$j"
        s"    sum(round(($sig - y)$xj * 1000000000.0)::BIGINT) AS s$j,"
      }.mkString("\n")
      s"""g$i AS (
         |  SELECT
         |$sums
         |    count(*) AS n
         |  FROM f, w${i - 1}c),
         |w${i}c AS (
         |  SELECT
         |${(0 to 4).map(j =>
              s"    a$j - $lr * ((s$j::DOUBLE / 1000000000.0) / n) AS a$j")
              .mkString(",\n")}
         |  FROM w${i - 1}c, g$i)""".stripMargin
    }
    val rounds = (1 to iterations).map(g).mkString(",\n")
    val audit = (1 to iterations).map(i =>
      s"SELECT $i::INT AS iter, round(a0, 6) AS w0, " +
        "round(a1, 6) AS w_stop, round(a2, 6) AS w_alpha, " +
        s"round(a3, 6) AS w_logtok, round(a4, 6) AS w_atl FROM w${i}c")
      .mkString("\nUNION ALL\n")
    ToksCte +
      """
        |, m AS (
        |  SELECT doc_id, length(text) AS nch, len(toks) AS nt,
        |    CASE WHEN len(toks) > 0 THEN
        |      list_sum(list_transform(toks, x -> length(x)))::DOUBLE
        |      / len(toks) END AS atl,
        |    CASE WHEN len(toks) > 0 THEN
        |      len(list_filter(toks, x -> list_contains(
        |        ['the','a','an','and','of','to','in','is','for','on','with'],
        |        x)))::DOUBLE / len(toks) END AS swr,
        |    CASE WHEN length(text) > 0 THEN
        |      length(regexp_replace(text, '[^A-Za-z]', '', 'g'))::DOUBLE
        |      / length(text) END AS ar
        |  FROM t),
        |f AS (
        |  SELECT
        |    CASE WHEN 0.25::DOUBLE * (
        |      coalesce(nch BETWEEN 100 AND 10000, false)::INT +
        |      coalesce(atl >= 3.0 AND atl <= 10.0, false)::INT +
        |      coalesce(swr >= 0.03, false)::INT +
        |      coalesce(ar >= 0.6, false)::INT) >= 0.5
        |      THEN 1.0 ELSE 0.0 END AS y,
        |    coalesce(swr, 0.0) AS x1,
        |    coalesce(ar, 0.0) AS x2,
        |    coalesce(ln(1.0 + nt), 0.0) AS x3,
        |    abs(coalesce(atl, 0.0) - 5.0) AS x4
        |  FROM m),
        |w0c AS (SELECT 0.0::DOUBLE AS a0, 0.0::DOUBLE AS a1,
        |  0.0::DOUBLE AS a2, 0.0::DOUBLE AS a3, 0.0::DOUBLE AS a4),
        |""".stripMargin + rounds + "\n" + audit
  }

  /** Stages 2–3 of the composed-pipeline oracles, shared verbatim by
    * q147/q149 (curate keep-list) and q166 (curateWeb keep-list): the
    * q130 shingle/closure/split CTEs restricted to `kept`, then q121's
    * mix CTEs over train-token shares, ending at `mixr`. Requires `kept`
    * (the caller's keep-list CTE), `dt` (tokenized base), and the
    * `documents` table (source lookup) to be in scope.
    */
  private val SplitMixSql: String =
    """ksh AS (
        |  SELECT dt.doc_id, unnest(CASE WHEN len(t) >= 3 THEN
        |      list_distinct(list_transform(range(1, len(t) - 1),
        |        i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
        |    ELSE [array_to_string(t, ' ')] END) AS s
        |  FROM dt JOIN kept USING (doc_id)),
        |ksz AS (SELECT doc_id, count(*) AS n FROM ksh GROUP BY doc_id),
        |kix AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
        |  FROM ksh a JOIN ksh b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |kpairs AS (
        |  SELECT doc_a, doc_b FROM kix
        |  JOIN ksz sa ON doc_a = sa.doc_id
        |  JOIN ksz sb ON doc_b = sb.doc_id
        |  WHERE i::DOUBLE / (sa.n + sb.n - i) >= 0.8),
        |kedges AS (
        |  SELECT doc_a AS s, doc_b AS t FROM kpairs
        |  UNION ALL SELECT doc_b, doc_a FROM kpairs),
        |reach(s, t) AS (
        |  SELECT s, t FROM kedges
        |  UNION
        |  SELECT r.s, e.t FROM reach r JOIN kedges e ON r.t = e.s),
        |lbl AS (
        |  SELECT s AS doc_id, least(s, min(t)) AS cluster
        |  FROM reach GROUP BY s),
        |train AS (
        |  SELECT k.doc_id FROM kept k LEFT JOIN lbl l USING (doc_id)
        |  WHERE ('0x' || substr(md5(coalesce(l.cluster, k.doc_id)::VARCHAR),
        |    1, 15))::BIGINT % 100 < 90),
        |tn AS (
        |  SELECT dt.doc_id, coalesce(d.source, 'src0') AS source,
        |    len(dt.t)::BIGINT AS n_tokens
        |  FROM dt JOIN train USING (doc_id)
        |  LEFT JOIN documents d USING (doc_id)),
        |perdom AS (
        |  SELECT source, sum(n_tokens)::BIGINT AS tokens FROM tn
        |  GROUP BY source),
        |tot AS (SELECT sum(tokens)::BIGINT AS total FROM perdom),
        |wt AS (
        |  SELECT source,
        |    round(least(
        |      (CASE source WHEN 'src0' THEN 0.3 WHEN 'src1' THEN 0.2
        |        WHEN 'src2' THEN 0.05 WHEN 'src3' THEN 0.05
        |        WHEN 'src4' THEN 0.05 WHEN 'src5' THEN 0.05
        |        WHEN 'src6' THEN 0.05 WHEN 'src7' THEN 0.05
        |        WHEN 'src8' THEN 0.05 WHEN 'src9' THEN 0.05
        |        WHEN 'src10' THEN 0.05 WHEN 'src11' THEN 0.05
        |        ELSE 0.0 END::DOUBLE)
        |      / (tokens::DOUBLE / total::DOUBLE), 4.0), 6) AS sw
        |  FROM perdom, tot),
        |cps AS (
        |  SELECT tn.doc_id, tn.source, tn.n_tokens,
        |    (floor(sw)::INT + CASE WHEN
        |      (('0x' || substr(md5(tn.doc_id::VARCHAR || ':epoch'), 1, 15))
        |        ::BIGINT % 10000)::DOUBLE < (sw - floor(sw)) * 10000
        |      THEN 1 ELSE 0 END) AS copies
        |  FROM tn JOIN wt USING (source)),
        |mixr AS (
        |  SELECT doc_id, source, n_tokens,
        |    unnest(range(1, copies + 1))::INT AS epoch
        |  FROM cps WHERE copies > 0),""".stripMargin

  /** q131 + q78's shard/pos/pack arithmetic over `mixr` — q147's layout
    * suffix, shared with q166.
    */
  private val ShardLayoutSql: String =
    """hh AS (
      |  SELECT doc_id, source, n_tokens, epoch,
      |    ('0x' || substr(md5(doc_id::VARCHAR || ':' || epoch::VARCHAR),
      |      1, 15))::BIGINT AS hv
      |  FROM mixr),
      |ord AS (
      |  SELECT doc_id, source, n_tokens, epoch, (hv % 8)::INT AS shard,
      |    row_number() OVER (PARTITION BY hv % 8
      |      ORDER BY hv ASC, doc_id ASC, epoch ASC) - 1 AS pos
      |  FROM hh),
      |pk AS (
      |  SELECT doc_id, source, epoch, shard, pos, n_tokens,
      |    (sum(n_tokens) OVER (PARTITION BY shard ORDER BY pos
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |      - n_tokens)::BIGINT AS f
      |  FROM ord)
      |SELECT doc_id, source, epoch, shard, pos, n_tokens,
      |  f // 2048 AS pack_id, f % 2048 AS pack_offset
      |FROM pk""".stripMargin

  /** q148's padded-batch arithmetic over `mixr` — q149's layout suffix,
    * shared with q168.
    */
  private val BatchLayoutSql: String =
    """hb AS (
      |  SELECT doc_id, source, n_tokens, epoch,
      |    (n_tokens + 63) // 64 AS bucket,
      |    ('0x' || substr(md5(doc_id::VARCHAR || ':' || epoch::VARCHAR),
      |      1, 15))::BIGINT AS hv,
      |    doc_id::VARCHAR || ':' || epoch::VARCHAR AS bk
      |  FROM mixr WHERE n_tokens IS NOT NULL AND n_tokens >= 0),
      |rr AS (
      |  SELECT doc_id, source, n_tokens, epoch, bucket,
      |    (hv % 4)::INT AS shard,
      |    row_number() OVER (PARTITION BY bucket, hv % 4
      |      ORDER BY hv ASC, bk ASC) - 1 AS rn
      |  FROM hb),
      |cc AS (
      |  SELECT doc_id, source, n_tokens, epoch, bucket, shard,
      |    (rn // 8)::INT AS batch_idx, (rn % 8)::INT AS pos_in_batch
      |  FROM rr)
      |SELECT doc_id, source, epoch, n_tokens, bucket, shard, batch_idx,
      |  pos_in_batch,
      |  max(n_tokens) OVER (PARTITION BY bucket, shard, batch_idx)
      |    AS padded_to,
      |  max(n_tokens) OVER (PARTITION BY bucket, shard, batch_idx)
      |    - n_tokens AS pad_waste
      |FROM cc""".stripMargin

  /** The q163/q165 web verdict chain over the `norm` CTE — blocklist
    * suffix screen, per-doc URL-dup flags, hostReputation's host
    * aggregate (dup_frac > 0.5 = spam), the q90 content chain, and the
    * WebReasons precedence fold — ending at w(doc_id, reason). Shared
    * by q165 (verdict output) and the q166/q168 compositions (keep-list
    * input).
    */
  private lazy val WebVerdictCtes: String =
    """
      |sfx AS (
      |  SELECT doc_id,
      |    unnest(list_transform(
      |      range(1, len(string_split(host, '.')) + 1),
      |      i -> array_to_string(list_slice(string_split(host, '.'),
      |        i, len(string_split(host, '.'))), '.'))) AS dom
      |  FROM norm WHERE host IS NOT NULL),
      |blk AS (SELECT DISTINCT doc_id FROM sfx
      |  WHERE dom IN ('h7.example.com', 'h13.example.com',
      |    'example.org')),
      |ud AS (
      |  SELECT doc_id, host,
      |    doc_id <> min(doc_id) OVER (PARTITION BY nurl) AS isdup
      |  FROM norm),
      |ha AS (
      |  SELECT host, count(*) AS hd, sum(isdup::INT) AS hdup
      |  FROM ud WHERE host IS NOT NULL GROUP BY host),
      |spam AS (SELECT host FROM ha
      |  WHERE hdup::DOUBLE / hd::DOUBLE > 0.5),
      |""".stripMargin +
    curateCtes("SELECT doc_id, text FROM urls") +
    """,
      |w AS (
      |  SELECT v.doc_id,
      |    CASE WHEN blk.doc_id IS NOT NULL THEN 'blocked_host'
      |         WHEN ud.isdup THEN 'url_duplicate'
      |         WHEN sp.host IS NOT NULL THEN 'spam_host'
      |         ELSE v.reason END AS reason
      |  FROM v
      |  LEFT JOIN blk ON blk.doc_id = v.doc_id
      |  JOIN ud ON ud.doc_id = v.doc_id
      |  LEFT JOIN spam sp ON sp.host = ud.host)""".stripMargin

  /** Web twin of [[MixPrefixSql]]: the web verdict chain provides the
    * keep-list, then the SAME split/mix CTEs — shared by q166 (shard
    * layout) and q168 (batch layout).
    */
  private lazy val WebMixPrefixSql: String =
    urlNormCtes(WebSpamFixtureSql, "WITH RECURSIVE ") + "," +
      WebVerdictCtes + """,
      |kept AS (SELECT doc_id FROM w WHERE reason IS NULL),""".stripMargin +
      "\n" + SplitMixSql

  /** Shared oracle prefix of the composed pipelines (q147/q149):
    * q90's verdict CTEs -> kept set -> q130's shingle/closure/split
    * CTEs restricted to kept -> train -> q121's mix CTEs over
    * train-token shares, ending at `mixr` - one row per (doc, epoch)
    * with (doc_id, source, n_tokens, epoch). The two compositions
    * append their own layout arithmetic: q131+q78 (shards/packs) for
    * q147, q148 (length-bucketed padded batches) for q149.
    */
  private val MixPrefixSql: String =
    """WITH RECURSIVE base AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000, text FROM documents WHERE doc_id % 10 = 0
        |  UNION ALL
        |  SELECT i + 500000,
        |    'the website terms of service and privacy policy apply to ' ||
        |    'every visitor with general conditions that govern all access ' ||
        |    'for content shared on this platform including cookie settings ' ||
        |    'data retention account registration newsletter subscription ' ||
        |    'contact details support center legal notice copyright ' ||
        |    'information trademark ownership liability disclaimer warranty ' ||
        |    'limits arbitration clauses governing law jurisdiction venue ' ||
        |    'severability waiver amendments notices assignment headings ' ||
        |    'definitions interpretation precedence entire agreement between ' ||
        |    'parties concerning usage rights granted herein subject always ' ||
        |    'first when users browse pages or download files from servers ' ||
        |    'hosted under managed' ||
        |    ' sector' || i || ' docket' || i || ' ledger' || i ||
        |    ' marker' || i || ' packet' || i || ' roster' || i ||
        |    ' binder' || i || ' folio' || i || ' module' || i ||
        |    ' tablet' || i || ' beacon' || i || ' cipher' || i ||
        |    ' anchor' || i
        |  FROM (SELECT unnest(range(60)) AS i)),
        |fp AS (
        |  SELECT doc_id,
        |    md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS f
        |  FROM base),
        |canon AS (SELECT f, min(doc_id) AS canon FROM fp GROUP BY f),
        |bt AS (
        |  SELECT list_filter(string_split_regex(substr(text, 41, 200),
        |    '\s+'), x -> x <> '') AS t
        |  FROM documents WHERE doc_id % 25 = 0 AND length(text) >= 300),
        |bg AS (
        |  SELECT DISTINCT unnest(CASE WHEN len(t) >= 8 THEN
        |      list_distinct(list_transform(range(1, len(t) - 6), i ->
        |        array_to_string(list_slice(t, i, i + 7), ' ')))
        |    ELSE [array_to_string(t, ' ')] END) AS g
        |  FROM bt),
        |dt AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS t
        |  FROM base),
        |dg AS (
        |  SELECT doc_id, unnest(CASE WHEN len(t) >= 8 THEN
        |      list_distinct(list_transform(range(1, len(t) - 6), i ->
        |        array_to_string(list_slice(t, i, i + 7), ' ')))
        |    ELSE [array_to_string(t, ' ')] END) AS g
        |  FROM dt),
        |hit AS (SELECT DISTINCT doc_id FROM dg JOIN bg USING (g)),
        |lt AS (
        |  SELECT doc_id, lower(text) AS lt,
        |    list_filter(string_split_regex(lower(text), '\s+'),
        |      x -> x <> '') AS tk
        |  FROM base),
        |gs AS (
        |  SELECT doc_id, len(tk) AS n,
        |    coalesce(list_sum(list_transform(tk, x -> length(x))), 0)
        |      AS chars,
        |    len(list_filter(tk, x -> list_contains(
        |      ['the','be','to','of','and','that','have','with'], x)))
        |      AS stops,
        |    len(list_filter(tk, x -> regexp_matches(x, '[A-Za-z]')))
        |      AS alpha,
        |    length(lt) - length(replace(lt, '#', ''))
        |      + len(regexp_extract_all(lt, '\.{3}')) AS sym,
        |    len(string_split(lt, chr(10))) AS nl,
        |    len(regexp_extract_all(lt, '(?m)^[ \t]*[•‣▪*-]')) AS bl,
        |    len(regexp_extract_all(lt, '(?m)(\.\.\.|…)[ \t]*$')) AS el
        |  FROM lt),
        |gp AS (
        |  SELECT doc_id,
        |    (n >= 50 AND n <= 100000)
        |    AND coalesce(CASE WHEN n > 0 THEN chars::DOUBLE / n >= 3.0
        |      AND chars::DOUBLE / n <= 10.0 END, FALSE)
        |    AND coalesce(CASE WHEN n > 0 THEN sym::DOUBLE / n <= 0.1 END,
        |      FALSE)
        |    AND coalesce(CASE WHEN n > 0 THEN alpha::DOUBLE / n >= 0.8 END,
        |      FALSE)
        |    AND stops >= 2
        |    AND bl::DOUBLE / nl <= 0.9
        |    AND el::DOUBLE / nl <= 0.3 AS pass
        |  FROM gs),
        |qm AS (
        |  SELECT doc_id, length(text) AS nch,
        |    CASE WHEN len(t) > 0 THEN
        |      list_sum(list_transform(t, x -> length(x)))::DOUBLE / len(t)
        |      END AS atl,
        |    CASE WHEN len(t) > 0 THEN
        |      len(list_filter(t, x -> list_contains(
        |        ['the','a','an','and','of','to','in','is','for','on','with'],
        |        x)))::DOUBLE / len(t) END AS swr,
        |    CASE WHEN length(text) > 0 THEN
        |      length(regexp_replace(text, '[^A-Za-z]', '', 'g'))::DOUBLE
        |      / length(text) END AS ar
        |  FROM base JOIN dt USING (doc_id)),
        |q AS (
        |  SELECT doc_id, 0.25::DOUBLE * (
        |    coalesce(nch BETWEEN 100 AND 10000, false)::INT +
        |    coalesce(atl >= 3.0 AND atl <= 10.0, false)::INT +
        |    coalesce(swr >= 0.03, false)::INT +
        |    coalesce(ar >= 0.6, false)::INT) AS quality
        |  FROM qm),
        |tc AS (
        |  SELECT doc_id, tok, count(*) AS cnt
        |  FROM (SELECT doc_id, unnest(t) AS tok FROM dt) GROUP BY 1, 2),
        |tm AS (SELECT doc_id, max(cnt) AS mx FROM tc GROUP BY 1),
        |calm AS (
        |  SELECT dt.doc_id,
        |    coalesce(CASE WHEN len(dt.t) > 0 THEN
        |      tm.mx::DOUBLE / len(dt.t) <= 0.5 END, FALSE) AS calm
        |  FROM dt LEFT JOIN tm USING (doc_id)),
        |v AS (
        |  SELECT fp.doc_id,
        |    CASE WHEN fp.doc_id <> canon.canon THEN 'duplicate'
        |         WHEN hit.doc_id IS NOT NULL THEN 'contaminated'
        |         WHEN NOT gp.pass THEN 'gopher'
        |         WHEN q.quality < 0.5 THEN 'low_quality'
        |         WHEN NOT calm.calm THEN 'repetitive'
        |    END AS reason
        |  FROM fp JOIN canon USING (f)
        |  LEFT JOIN hit ON hit.doc_id = fp.doc_id
        |  JOIN gp ON gp.doc_id = fp.doc_id
        |  JOIN q ON q.doc_id = fp.doc_id
        |  JOIN calm ON calm.doc_id = fp.doc_id),
        |kept AS (SELECT doc_id FROM v WHERE reason IS NULL),""".stripMargin +
      "\n" + SplitMixSql

  val oracle: Map[String, String] = Map(
    "q30_text_stats" -> (ToksCte +
      """
        |SELECT doc_id,
        | length(text) AS n_chars,
        | len(toks) AS n_tokens,
        | len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]+')) AS n_subtokens,
        | round(CASE WHEN len(toks) > 0 THEN
        |   list_sum(list_transform(toks, x -> length(x)))::DOUBLE / len(toks) END, 4)
        |   AS avg_token_len,
        | round(CASE WHEN length(text) > 0 THEN
        |   (length(text) - length(regexp_replace(text, '[^\w\s]', '', 'g')))::DOUBLE
        |   / length(text) END, 4) AS punct_ratio,
        | round(CASE WHEN length(text) > 0 THEN
        |   (length(text) - length(regexp_replace(text, '[0-9]', '', 'g')))::DOUBLE
        |   / length(text) END, 4) AS digit_ratio,
        | round(CASE WHEN len(toks) > 0 THEN
        |   len(list_filter(toks, x -> list_contains(
        |     ['the','a','an','and','of','to','in','is','for','on','with'], x)))::DOUBLE
        |   / len(toks) END, 4) AS stopword_ratio
        |FROM t""".stripMargin),
    "q31_langid" ->
      """WITH s AS (
        |  SELECT doc_id, lang,
        |    len(regexp_extract_all(lower(text), '\b(the|and|of|to|in|is|that|for)\b')) AS s_en,
        |    len(regexp_extract_all(lower(text), '\b(el|la|de|que|y|en|los|las|una)\b')) AS s_es,
        |    len(regexp_extract_all(lower(text), '\b(le|la|de|et|les|des|une|est)\b')) AS s_fr,
        |    len(regexp_extract_all(lower(text), '\b(der|die|und|das|ist|von|den|ein)\b')) AS s_de,
        |    len(regexp_extract_all(text, '[\x{4e00}-\x{9fff}]')) AS s_zh
        |  FROM documents)
        |SELECT doc_id, lang,
        |  CASE WHEN greatest(s_en, s_es, s_fr, s_de, s_zh) = 0 THEN 'und'
        |       WHEN s_en = greatest(s_en, s_es, s_fr, s_de, s_zh) THEN 'en'
        |       WHEN s_es = greatest(s_en, s_es, s_fr, s_de, s_zh) THEN 'es'
        |       WHEN s_fr = greatest(s_en, s_es, s_fr, s_de, s_zh) THEN 'fr'
        |       WHEN s_de = greatest(s_en, s_es, s_fr, s_de, s_zh) THEN 'de'
        |       ELSE 'zh' END AS lang_pred
        |FROM s""".stripMargin,
    "q32_quality_score" -> (ToksCte +
      """
        |, m AS (
        |  SELECT doc_id, length(text) AS n,
        |    CASE WHEN len(toks) > 0 THEN
        |      list_sum(list_transform(toks, x -> length(x)))::DOUBLE / len(toks) END AS atl,
        |    CASE WHEN len(toks) > 0 THEN
        |      len(list_filter(toks, x -> list_contains(
        |        ['the','a','an','and','of','to','in','is','for','on','with'], x)))::DOUBLE
        |      / len(toks) END AS swr,
        |    CASE WHEN length(text) > 0 THEN
        |      length(regexp_replace(text, '[^A-Za-z]', '', 'g'))::DOUBLE
        |      / length(text) END AS ar
        |  FROM t)
        |SELECT doc_id, 0.25::DOUBLE * (
        |  coalesce(n BETWEEN 100 AND 10000, false)::INT +
        |  coalesce(atl >= 3.0 AND atl <= 10.0, false)::INT +
        |  coalesce(swr >= 0.03, false)::INT +
        |  coalesce(ar >= 0.6, false)::INT) AS quality
        |FROM m""".stripMargin),
    // Mirrors gopherRules exactly: lowercased tokenization, Gopher stop
    // list, ASCII-letter alpha flag, '#'-char + '...'-run symbol count,
    // and the line-level bullet/ellipsis fractions via the same (?m)
    // multiline regexes over \n-split lines; every ratio is an int/int
    // double division (engine-exact), and token-free text nulls to
    // FALSE on both sides.
    "q84_gopher_rules" ->
      """WITH base AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 400000,
        |    '• the first thing' || chr(10) || '• the second thing' ||
        |    chr(10) || '• the third thing' || chr(10) ||
        |    '• the fourth thing ' || doc_id
        |  FROM documents WHERE doc_id % 40 = 0
        |  UNION ALL
        |  SELECT doc_id + 450000,
        |    'the story begins...' || chr(10) || 'the middle part holds' ||
        |    chr(10) || 'the ending trails off...' || chr(10) ||
        |    'the final line ' || doc_id
        |  FROM documents WHERE doc_id % 40 = 0),
        |t AS (
        |  SELECT doc_id, lower(text) AS lt,
        |    list_filter(string_split_regex(lower(text), '\s+'),
        |      x -> x <> '') AS tk
        |  FROM base),
        |s AS (
        |  SELECT doc_id, len(tk) AS n,
        |    coalesce(list_sum(list_transform(tk, x -> length(x))), 0)
        |      AS chars,
        |    len(list_filter(tk, x -> list_contains(
        |      ['the','be','to','of','and','that','have','with'], x)))
        |      AS stops,
        |    len(list_filter(tk, x -> regexp_matches(x, '[A-Za-z]')))
        |      AS alpha,
        |    length(lt) - length(replace(lt, '#', ''))
        |      + len(regexp_extract_all(lt, '\.{3}')) AS sym,
        |    len(string_split(lt, chr(10))) AS nl,
        |    len(regexp_extract_all(lt, '(?m)^[ \t]*[•‣▪*-]')) AS bl,
        |    len(regexp_extract_all(lt, '(?m)(\.\.\.|…)[ \t]*$')) AS el
        |  FROM t),
        |r AS (
        |  SELECT doc_id,
        |    n >= 50 AND n <= 100000 AS word_count_ok,
        |    coalesce(CASE WHEN n > 0 THEN chars::DOUBLE / n >= 3.0
        |      AND chars::DOUBLE / n <= 10.0 END, FALSE)
        |      AS mean_word_len_ok,
        |    coalesce(CASE WHEN n > 0 THEN sym::DOUBLE / n <= 0.1 END,
        |      FALSE) AS symbol_ratio_ok,
        |    coalesce(CASE WHEN n > 0 THEN alpha::DOUBLE / n >= 0.8 END,
        |      FALSE) AS alpha_ratio_ok,
        |    stops >= 2 AS stopword_ok,
        |    bl::DOUBLE / nl <= 0.9 AS bullet_ratio_ok,
        |    el::DOUBLE / nl <= 0.3 AS ellipsis_ratio_ok
        |  FROM s)
        |SELECT doc_id, word_count_ok, mean_word_len_ok, symbol_ratio_ok,
        |  alpha_ratio_ok, stopword_ok, bullet_ratio_ok, ellipsis_ratio_ok,
        |  word_count_ok AND mean_word_len_ok AND symbol_ratio_ok
        |    AND alpha_ratio_ok AND stopword_ok AND bullet_ratio_ok
        |    AND ellipsis_ratio_ok AS pass
        |FROM r""".stripMargin,

    "q50_curation_report" ->
      """WITH t AS (
        |  SELECT source, lang, length(text) AS n,
        |    list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks,
        |    text
        |  FROM documents),
        |m AS (
        |  SELECT source, lang, len(toks) AS nt,
        |    0.25::DOUBLE * (
        |      coalesce(n BETWEEN 100 AND 10000, false)::INT +
        |      coalesce((CASE WHEN len(toks) > 0 THEN
        |          list_sum(list_transform(toks, x -> length(x)))::DOUBLE / len(toks) END)
        |        BETWEEN 3.0 AND 10.0, false)::INT +
        |      coalesce((CASE WHEN len(toks) > 0 THEN
        |          len(list_filter(toks, x -> list_contains(
        |            ['the','a','an','and','of','to','in','is','for','on','with'], x)))::DOUBLE
        |          / len(toks) END) >= 0.03, false)::INT +
        |      coalesce((CASE WHEN n > 0 THEN
        |          length(regexp_replace(text, '[^A-Za-z]', '', 'g'))::DOUBLE / n END)
        |        >= 0.6, false)::INT) AS q
        |  FROM t)
        |SELECT source, count(*) AS docs,
        | round(avg(q), 4) AS avg_quality,
        | sum(CASE WHEN q >= 0.75 THEN 1 ELSE 0 END)::BIGINT AS high_quality_docs,
        | count(DISTINCT lang) AS langs,
        | round(avg(nt), 4) AS avg_tokens
        |FROM m GROUP BY source""".stripMargin,
    // Threshold arithmetic is 0.01 * N in IEEE double on BOTH engines
    // (same parse, same product), so the strict > is cross-engine exact.
    "q71_heavy_hitters" ->
      """WITH tok AS (
        |  SELECT unnest(list_filter(
        |    string_split_regex(text, '\s+'), x -> x <> '')) AS tok
        |  FROM documents),
        |t AS (SELECT count(*) AS n FROM tok)
        |SELECT tok, count(*) AS cnt
        |FROM tok CROSS JOIN t
        |GROUP BY tok, t.n
        |HAVING count(*) > 0.01 * t.n""".stripMargin,
    "q61_top_tokens" ->
      """WITH tok AS (
        |  SELECT lang, unnest(list_filter(
        |    string_split_regex(text, '\s+'), x -> x <> '')) AS tok
        |  FROM documents),
        |c AS (SELECT lang, tok, count(*) AS cnt FROM tok GROUP BY 1, 2),
        |r AS (SELECT lang, tok, cnt,
        |  row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, tok)
        |    AS rank
        |  FROM c)
        |SELECT lang, tok, cnt, rank FROM r WHERE rank <= 5""".stripMargin,
    "q66_tfidf_terms" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(list_filter(
        |    string_split_regex(text, '\s+'), x -> x <> '')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
        |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT count(*) AS n FROM documents),
        |s AS (
        |  SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
        |    round(tf.tf * ln(n.n::DOUBLE / dfreq.df::DOUBLE), 4) AS tfidf
        |  FROM tf JOIN dfreq USING (term) CROSS JOIN n),
        |r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
        |        ORDER BY tfidf DESC, term) AS rank
        |      FROM s)
        |SELECT doc_id, term, tf, df, tfidf, rank FROM r WHERE rank <= 3""".stripMargin,
    "q62_deterministic_split" ->
      """WITH b AS (
        |  SELECT doc_id,
        |    ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT % 100
        |      AS bucket
        |  FROM documents)
        |SELECT doc_id, bucket,
        |  CASE WHEN bucket < 90 THEN 'train'
        |       WHEN bucket < 95 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM b""".stripMargin,
    "q83_token_divergence" ->
      """WITH tok AS (
        |  SELECT source, unnest(list_filter(
        |    string_split_regex(text, '\s+'), x -> x <> '')) AS t
        |  FROM documents),
        |gc AS (SELECT source, t, count(*) AS cnt FROM tok GROUP BY 1, 2),
        |gn AS (SELECT source, sum(cnt) AS ng FROM gc GROUP BY 1),
        |ct AS (SELECT t, sum(cnt) AS c FROM gc GROUP BY 1),
        |n AS (SELECT sum(c) AS n FROM ct)
        |SELECT source,
        |  sum(cnt)::BIGINT AS n_tokens,
        |  count(*) AS distinct_tokens,
        |  round(sum((cnt::DOUBLE / ng) *
        |    ln((cnt::DOUBLE / ng) / (c::DOUBLE / n.n))), 4) AS kl_vs_corpus
        |FROM gc JOIN gn USING (source) JOIN ct USING (t) CROSS JOIN n
        |GROUP BY source""".stripMargin,
    "q81_repetition_stats" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(text, '\s+'), x -> x <> '')
        |      AS toks
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, tok, count(*) AS cnt
        |  FROM (SELECT doc_id, unnest(toks) AS tok FROM t) GROUP BY 1, 2),
        |m AS (SELECT doc_id, max(cnt) AS mx FROM c GROUP BY 1),
        |g AS (
        |  SELECT doc_id, len(toks) AS n,
        |    len(list_distinct(list_transform(range(1, len(toks)),
        |      i -> toks[i] || ' ' || toks[i+1]))) AS d2,
        |    len(list_distinct(list_transform(range(1, len(toks) - 1),
        |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS d3
        |  FROM t)
        |SELECT g.doc_id, g.n AS n_tokens,
        |  CASE WHEN g.n > 0 THEN round(m.mx::DOUBLE / g.n, 4) END
        |    AS top_word_frac,
        |  CASE WHEN g.n > 1 THEN round(1.0 - d2::DOUBLE / (g.n - 1), 4) END
        |    AS dup_2gram_frac,
        |  CASE WHEN g.n > 2 THEN round(1.0 - d3::DOUBLE / (g.n - 2), 4) END
        |    AS dup_3gram_frac
        |FROM g LEFT JOIN m USING (doc_id)""".stripMargin,
    // Mirrors repetitionCharStats exactly: grams are space-joined token
    // slices, so a gram's token-char mass is length(gram) - (n-1); top
    // mass = max count x max char mass among max-count grams (the
    // kernel's deterministic tie-break); dup mass marks covered token
    // POSITIONS once via the range expansion + DISTINCT. All fractions
    // are int/int double divisions — engine-exact.
    "q85_repetition_exact" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(text, '\s+'), x -> x <> '')
        |      AS toks
        |  FROM documents),
        |d AS (
        |  SELECT doc_id, len(toks) AS n,
        |    coalesce(list_sum(list_transform(toks, x -> length(x))), 0)
        |      AS tc
        |  FROM t),
        |p2 AS (SELECT doc_id, toks, unnest(range(1, len(toks))) AS i
        |       FROM t WHERE len(toks) >= 2),
        |c2 AS (SELECT doc_id,
        |         array_to_string(list_slice(toks, i, i + 1), ' ') AS gr,
        |         count(*) AS c
        |       FROM p2 GROUP BY 1, 2),
        |m2 AS (SELECT doc_id, max(c) AS mc FROM c2 GROUP BY 1),
        |t2 AS (SELECT c2.doc_id, max(c * (length(gr) - 1)) AS topc
        |       FROM c2 JOIN m2 USING (doc_id) WHERE c = mc GROUP BY 1),
        |p3 AS (SELECT doc_id, toks, unnest(range(1, len(toks) - 1)) AS i
        |       FROM t WHERE len(toks) >= 3),
        |c3 AS (SELECT doc_id,
        |         array_to_string(list_slice(toks, i, i + 2), ' ') AS gr,
        |         count(*) AS c
        |       FROM p3 GROUP BY 1, 2),
        |m3 AS (SELECT doc_id, max(c) AS mc FROM c3 GROUP BY 1),
        |t3 AS (SELECT c3.doc_id, max(c * (length(gr) - 2)) AS topc
        |       FROM c3 JOIN m3 USING (doc_id) WHERE c = mc GROUP BY 1),
        |p4 AS (SELECT doc_id, toks, unnest(range(1, len(toks) - 2)) AS i
        |       FROM t WHERE len(toks) >= 4),
        |c4 AS (SELECT doc_id,
        |         array_to_string(list_slice(toks, i, i + 3), ' ') AS gr,
        |         count(*) AS c
        |       FROM p4 GROUP BY 1, 2),
        |m4 AS (SELECT doc_id, max(c) AS mc FROM c4 GROUP BY 1),
        |t4 AS (SELECT c4.doc_id, max(c * (length(gr) - 3)) AS topc
        |       FROM c4 JOIN m4 USING (doc_id) WHERE c = mc GROUP BY 1),
        |g5 AS (SELECT doc_id, i,
        |         array_to_string(list_slice(toks, i, i + 4), ' ') AS gr
        |       FROM (SELECT doc_id, toks,
        |               unnest(range(1, len(toks) - 3)) AS i
        |             FROM t WHERE len(toks) >= 5)),
        |r5 AS (SELECT doc_id, gr FROM g5
        |       GROUP BY doc_id, gr HAVING count(*) > 1),
        |mp5 AS (SELECT DISTINCT g5.doc_id, g5.i + o.o AS p
        |        FROM g5 JOIN r5 USING (doc_id, gr)
        |        CROSS JOIN (SELECT unnest(range(5)) AS o) o),
        |d5 AS (SELECT mp5.doc_id, sum(length(t.toks[p::INT])) AS dupc
        |       FROM mp5 JOIN t USING (doc_id) GROUP BY 1),
        |g10 AS (SELECT doc_id, i,
        |          array_to_string(list_slice(toks, i, i + 9), ' ') AS gr
        |        FROM (SELECT doc_id, toks,
        |                unnest(range(1, len(toks) - 8)) AS i
        |              FROM t WHERE len(toks) >= 10)),
        |r10 AS (SELECT doc_id, gr FROM g10
        |        GROUP BY doc_id, gr HAVING count(*) > 1),
        |mp10 AS (SELECT DISTINCT g10.doc_id, g10.i + o.o AS p
        |         FROM g10 JOIN r10 USING (doc_id, gr)
        |         CROSS JOIN (SELECT unnest(range(10)) AS o) o),
        |d10 AS (SELECT mp10.doc_id, sum(length(t.toks[p::INT])) AS dupc
        |        FROM mp10 JOIN t USING (doc_id) GROUP BY 1)
        |SELECT d.doc_id, d.n AS n_tokens,
        |  CASE WHEN d.n >= 2 AND d.tc > 0
        |    THEN round(t2.topc::DOUBLE / d.tc, 4) END AS top_2gram_frac,
        |  CASE WHEN d.n >= 3 AND d.tc > 0
        |    THEN round(t3.topc::DOUBLE / d.tc, 4) END AS top_3gram_frac,
        |  CASE WHEN d.n >= 4 AND d.tc > 0
        |    THEN round(t4.topc::DOUBLE / d.tc, 4) END AS top_4gram_frac,
        |  CASE WHEN d.n >= 5 AND d.tc > 0
        |    THEN round(coalesce(d5.dupc, 0)::DOUBLE / d.tc, 4) END
        |    AS dup_5gram_frac,
        |  CASE WHEN d.n >= 10 AND d.tc > 0
        |    THEN round(coalesce(d10.dupc, 0)::DOUBLE / d.tc, 4) END
        |    AS dup_10gram_frac
        |FROM d
        |LEFT JOIN t2 USING (doc_id) LEFT JOIN t3 USING (doc_id)
        |LEFT JOIN t4 USING (doc_id) LEFT JOIN d5 USING (doc_id)
        |LEFT JOIN d10 USING (doc_id)""".stripMargin,
    "q82_redact_pii" ->
      """WITH base AS (
        |  SELECT doc_id, CASE WHEN doc_id % 10 = 0 THEN
        |      text || ' contact user' || doc_id ||
        |      '@example.com from 10.0.0.77 call 555-123-4567'
        |    ELSE text END AS text
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, text,
        |    regexp_replace(regexp_replace(regexp_replace(text,
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |      '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
        |      '\+?\d{3}[- ]\d{3}[- ]\d{4}\b', '<PHONE>', 'g') AS red
        |  FROM base)
        |SELECT doc_id, red <> text AS has_pii, md5(red) AS red_fp
        |FROM r""".stripMargin,
    "q80_decontaminate" ->
      """WITH bench AS (
        |  SELECT substr(text, 41, 200) AS text FROM documents
        |  WHERE doc_id % 25 = 0 AND length(text) >= 300),
        |bt AS (
        |  SELECT list_filter(string_split_regex(text, '\s+'), x -> x <> '')
        |    AS t FROM bench),
        |bg AS (
        |  SELECT DISTINCT unnest(CASE WHEN len(t) >= 8 THEN
        |      list_distinct(list_transform(range(1, len(t) - 6), i ->
        |        array_to_string(list_slice(t, i, i + 7), ' ')))
        |    ELSE [array_to_string(t, ' ')] END) AS g
        |  FROM bt),
        |dt AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS t
        |  FROM documents),
        |dg AS (
        |  SELECT doc_id, unnest(CASE WHEN len(t) >= 8 THEN
        |      list_distinct(list_transform(range(1, len(t) - 6), i ->
        |        array_to_string(list_slice(t, i, i + 7), ' ')))
        |    ELSE [array_to_string(t, ' ')] END) AS g
        |  FROM dt),
        |hit AS (SELECT DISTINCT doc_id FROM dg JOIN bg USING (g))
        |SELECT d.doc_id, hit.doc_id IS NOT NULL AS contaminated
        |FROM documents d LEFT JOIN hit USING (doc_id)""".stripMargin,
    // q80's shingle CTEs with the benchmark id carried through the join.
    "q92_decontaminate_attrib" ->
      """WITH bench AS (
        |  SELECT doc_id AS bench_id, substr(text, 41, 200) AS text
        |  FROM documents
        |  WHERE doc_id % 25 = 0 AND length(text) >= 300),
        |bt AS (
        |  SELECT bench_id,
        |    list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS t
        |  FROM bench),
        |bg AS (
        |  SELECT DISTINCT bench_id, unnest(CASE WHEN len(t) >= 8 THEN
        |      list_distinct(list_transform(range(1, len(t) - 6), i ->
        |        array_to_string(list_slice(t, i, i + 7), ' ')))
        |    ELSE [array_to_string(t, ' ')] END) AS g
        |  FROM bt),
        |dt AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS t
        |  FROM documents),
        |dg AS (
        |  SELECT doc_id, unnest(CASE WHEN len(t) >= 8 THEN
        |      list_distinct(list_transform(range(1, len(t) - 6), i ->
        |        array_to_string(list_slice(t, i, i + 7), ' ')))
        |    ELSE [array_to_string(t, ' ')] END) AS g
        |  FROM dt),
        |dg2 AS (SELECT DISTINCT doc_id, g FROM dg)
        |SELECT DISTINCT doc_id, bench_id FROM dg2 JOIN bg USING (g)""".stripMargin,
    // The running sum is HUGEINT in DuckDB (sum over BIGINT) — without
    // the ::BIGINT casts pandas renders pack_id/pack_offset as float64
    // and the driver's value hash diverges from Spark's int64 (r4 gate
    // red row; values were cell-identical).
    "q78_pack_sequences" ->
      """WITH t AS (
        |  SELECT doc_id, lang,
        |    len(list_filter(string_split_regex(text, '\s+'), x -> x <> ''))
        |      AS n_tokens
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, lang, n_tokens,
        |    (sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      - n_tokens)::BIGINT AS f
        |  FROM t)
        |SELECT doc_id, lang, n_tokens,
        |       f // 2048 AS pack_id, f % 2048 AS pack_offset
        |FROM c""".stripMargin,
    // q89's (shard, pos) CTEs feeding q78's pack arithmetic in pos
    // order; same HUGEINT→BIGINT casts as q78.
    "q93_training_shards" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    len(list_filter(string_split_regex(text, '\s+'), x -> x <> ''))
        |      AS n_tokens
        |  FROM documents),
        |h AS (
        |  SELECT doc_id, n_tokens,
        |    ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT AS hv
        |  FROM t),
        |sh AS (
        |  SELECT doc_id, n_tokens, (hv % 8)::INT AS shard,
        |    row_number() OVER (PARTITION BY hv % 8
        |      ORDER BY hv ASC, doc_id ASC) - 1 AS pos
        |  FROM h),
        |c AS (
        |  SELECT doc_id, n_tokens, shard, pos,
        |    (sum(n_tokens) OVER (PARTITION BY shard ORDER BY pos
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      - n_tokens)::BIGINT AS f
        |  FROM sh)
        |SELECT doc_id, n_tokens, shard, pos,
        |       f // 2048 AS pack_id, f % 2048 AS pack_offset
        |FROM c""".stripMargin,
    // ORDER BY the DOUBLE cast of the hash (then id) mirrors the Spark
    // side's TopKAggregate score exactly, including any 2^53 rounding.
    "q79_group_sample" ->
      """WITH h AS (
        |  SELECT lang, doc_id,
        |    ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT AS hv
        |  FROM documents),
        |r AS (
        |  SELECT lang, doc_id,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY CAST(hv AS DOUBLE) ASC, doc_id ASC) AS rank
        |  FROM h)
        |SELECT lang, doc_id, rank FROM r WHERE rank <= 8""".stripMargin,
    "q33_fingerprint" ->
      """SELECT doc_id,
        | md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp
        |FROM documents""".stripMargin,
    // Mirrors c4Filter: same \n split (trailing empties kept by both
    // engines), same lookaround-free keep-predicate per line, page
    // rules on the retained text (sentences) / raw text (lorem, brace).
    "q94_c4_rules" ->
      """WITH base AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 500000,
        |    'This website uses javascript for tracking purposes everywhere.'
        |    || chr(10) ||
        |    'The main article text continues with several useful sentences here.'
        |    || chr(10) || 'Short line' || chr(10) ||
        |    'Another proper sentence that carries actual content for readers today.'
        |    || chr(10) || 'Document tail marker number ' || doc_id
        |  FROM documents WHERE doc_id % 40 = 0
        |  UNION ALL
        |  SELECT doc_id + 550000,
        |    'Lorem ipsum dolor sit amet, consectetur adipiscing elit sed tempor.'
        |    || chr(10) || 'function main() { return 42; }' || chr(10) ||
        |    'A perfectly reasonable closing sentence appears at the very end.'
        |    || chr(10) || 'id ' || doc_id
        |  FROM documents WHERE doc_id % 40 = 0),
        |k AS (
        |  SELECT doc_id, text,
        |    len(string_split(text, chr(10))) AS n_lines,
        |    list_filter(string_split(text, chr(10)), x ->
        |      len(list_filter(string_split_regex(x, '\s+'), w -> w <> '')) >= 5
        |      AND regexp_matches(x, '[.!?"][ \t]*$')
        |      AND NOT contains(lower(x), 'javascript')) AS kept
        |  FROM base),
        |c AS (
        |  SELECT doc_id, text, n_lines, len(kept) AS n_kept_lines,
        |    -- array_to_string([]) is NULL in DuckDB; Spark's array_join
        |    -- gives '' — coalesce to match
        |    coalesce(array_to_string(kept, chr(10)), '') AS clean_text
        |  FROM k)
        |SELECT doc_id, n_lines, n_kept_lines,
        |  round(n_kept_lines::DOUBLE / n_lines, 4) AS kept_line_frac,
        |  clean_text,
        |  len(regexp_extract_all(clean_text, '[.!?]')) >= 3
        |    AS min_sentences_ok,
        |  NOT contains(lower(text), 'lorem ipsum') AS no_lorem_ipsum,
        |  NOT contains(text, '{') AS no_curly_brace,
        |  (len(regexp_extract_all(clean_text, '[.!?]')) >= 3
        |   AND NOT contains(lower(text), 'lorem ipsum')
        |   AND NOT contains(text, '{')) AS pass
        |FROM c""".stripMargin,
    // Mirrors unigramPerplexity (train = score corpus, minCount = 1):
    // p = count/N over the corpus unigram table; LEFT JOIN + coalesce-
    // to-1 mirrors the OOV floor (vacuous here — self-trained), and the
    // per-doc mean -ln p rounds to 4 like every order-dependent sum.
    "q95_unigram_ppl" ->
      """WITH dt AS (
        |  SELECT doc_id,
        |    unnest(list_filter(string_split_regex(text, '\s+'),
        |      x -> x <> '')) AS tok
        |  FROM documents),
        |c AS (SELECT tok, count(*) AS c FROM dt GROUP BY tok),
        |n AS (SELECT sum(c)::DOUBLE AS n FROM c),
        |s AS (
        |  SELECT doc_id, count(*) AS n_tokens,
        |    round(sum(-ln(coalesce(c.c::DOUBLE, 1.0) / n.n)) / count(*), 4)
        |      AS log_ppl,
        |    round(sum((c.c IS NULL)::INT)::DOUBLE / count(*), 4) AS oov_frac
        |  FROM dt LEFT JOIN c USING (tok) CROSS JOIN n
        |  GROUP BY doc_id)
        |SELECT d.doc_id, coalesce(s.n_tokens, 0) AS n_tokens,
        |  s.log_ppl, s.oov_frac
        |FROM documents d LEFT JOIN s USING (doc_id)""".stripMargin,
    // The recursive CTE replays the fold step for step. Coefficients are
    // written (1.0::DOUBLE - 0.2::DOUBLE) — explicit casts force DuckDB
    // into the same IEEE double subtraction Spark constant-folds, rather
    // than DECIMAL-exact 0.8 cast after the fact (measured: both routes
    // land on 0x3FE999999999999A here, but the cast removes the literal-
    // typing bet — ADVICE r14). epoch_ns(ts) is the q63 ts_ns convention.
    "q145_ewma" ->
      """WITH RECURSIVE x AS (
        |  SELECT user_id, epoch_ns(ts) AS ts_ns, event_id,
        |    value::DOUBLE AS value,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY epoch_ns(ts), event_id) AS rn
        |  FROM events),
        |r AS (
        |  SELECT user_id, ts_ns, event_id, value, rn, value AS s
        |  FROM x WHERE rn = 1
        |  UNION ALL
        |  SELECT x.user_id, x.ts_ns, x.event_id, x.value, x.rn,
        |    0.2::DOUBLE * x.value + (1.0::DOUBLE - 0.2::DOUBLE) * r.s
        |  FROM r JOIN x ON x.user_id = r.user_id AND x.rn = r.rn + 1)
        |SELECT user_id, ts_ns, event_id, value, round(s, 4) AS ewma
        |FROM r""".stripMargin,
    // q145's replay discipline with two state columns; the trend row
    // recomputes the new level expression inline (SQL cannot reference
    // a sibling alias) — identical double arithmetic either way.
    "q146_holt_smooth" ->
      """WITH RECURSIVE x AS (
        |  SELECT user_id, epoch_ns(ts) AS ts_ns, event_id,
        |    value::DOUBLE AS value,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY epoch_ns(ts), event_id) AS rn
        |  FROM events),
        |r AS (
        |  SELECT user_id, ts_ns, event_id, value, rn,
        |    value AS l, 0.0::DOUBLE AS b
        |  FROM x WHERE rn = 1
        |  UNION ALL
        |  SELECT x.user_id, x.ts_ns, x.event_id, x.value, x.rn,
        |    0.2::DOUBLE * x.value
        |      + (1.0::DOUBLE - 0.2::DOUBLE) * (r.l + r.b) AS l,
        |    0.1::DOUBLE * ((0.2::DOUBLE * x.value
        |        + (1.0::DOUBLE - 0.2::DOUBLE) * (r.l + r.b)) - r.l)
        |      + (1.0::DOUBLE - 0.1::DOUBLE) * r.b AS b
        |  FROM r JOIN x ON x.user_id = r.user_id AND x.rn = r.rn + 1)
        |SELECT user_id, ts_ns, event_id, value, round(l, 4) AS level,
        |  round(b, 4) AS trend, round(l + b, 4) AS forecast
        |FROM r""".stripMargin,
    // q95's conventions one n-gram up: the LM counts come from the even
    // half only; per-doc sums differ across engines by ~1 ulp (absorbed
    // by the 4-decimal round, q95's precedent); probabilities are exact
    // int-count arithmetic in double, identical both engines.
    "q143_bigram_ppl" ->
      """WITH tk AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS t
        |  FROM documents),
        |db AS (
        |  SELECT doc_id, b.w1 AS w1, b.w2 AS w2 FROM (
        |    SELECT doc_id, unnest(list_transform(range(1, len(t)), i ->
        |      struct_pack(w1 := t[i], w2 := t[i + 1]))) AS b
        |    FROM tk WHERE len(t) >= 2)),
        |c12 AS (
        |  SELECT w1, w2, count(*) AS c12 FROM db
        |  WHERE doc_id % 2 = 0 GROUP BY w1, w2),
        |c1 AS (SELECT unnest(t) AS w1 FROM tk WHERE doc_id % 2 = 0),
        |c1c AS (SELECT w1, count(*) AS c1 FROM c1 GROUP BY w1),
        |v AS (SELECT count(*)::DOUBLE AS v FROM c1c),
        |s AS (
        |  SELECT db.doc_id, count(*) AS n_bigrams,
        |    round(sum(-ln((coalesce(c12.c12, 0)::DOUBLE + 1.0) /
        |      (coalesce(c1c.c1, 0)::DOUBLE + v.v))) / count(*), 4)
        |      AS log_ppl,
        |    round(sum((c12.c12 IS NULL)::INT)::DOUBLE / count(*), 4)
        |      AS unseen_frac
        |  FROM db LEFT JOIN c12 USING (w1, w2) LEFT JOIN c1c USING (w1)
        |    CROSS JOIN v
        |  GROUP BY db.doc_id)
        |SELECT d.doc_id, coalesce(s.n_bigrams, 0) AS n_bigrams,
        |  s.log_ppl, s.unseen_frac
        |FROM documents d LEFT JOIN s USING (doc_id)""".stripMargin,
    // q161 = q143's CTE scaffold with the interpolated-KN arithmetic:
    // history table (c1 = sum of successor counts, n1f = distinct
    // continuations) and continuation table both project off the bigram
    // counts; the per-row expression tree mirrors the Scala operator
    // token for token so every division rounds identically.
    "q161_kn_bigram_ppl" ->
      """WITH tk AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS t
        |  FROM documents),
        |db AS (
        |  SELECT doc_id, b.w1 AS w1, b.w2 AS w2 FROM (
        |    SELECT doc_id, unnest(list_transform(range(1, len(t)), i ->
        |      struct_pack(w1 := t[i], w2 := t[i + 1]))) AS b
        |    FROM tk WHERE len(t) >= 2)),
        |c12 AS (
        |  SELECT w1, w2, count(*) AS c12 FROM db
        |  WHERE doc_id % 2 = 0 GROUP BY w1, w2),
        |hist AS (SELECT w1, sum(c12)::BIGINT AS c1, count(*) AS n1f
        |  FROM c12 GROUP BY w1),
        |cont AS (SELECT w2, count(*) AS n1b FROM c12 GROUP BY w2),
        |tot AS (SELECT
        |  (SELECT count(*) FROM c12)::DOUBLE AS tt,
        |  (SELECT count(DISTINCT w) FROM (
        |    SELECT unnest(t) AS w FROM tk WHERE doc_id % 2 = 0))::DOUBLE
        |    AS v),
        |s AS (
        |  SELECT db.doc_id, count(*) AS n_bigrams,
        |    round(sum(-ln(CASE WHEN hist.c1 IS NULL
        |      THEN (coalesce(cont.n1b, 0)::DOUBLE + 1.0)
        |        / (tot.tt + tot.v + 1.0)
        |      ELSE greatest(coalesce(c12.c12, 0)::DOUBLE - 0.75, 0.0)
        |          / hist.c1::DOUBLE
        |        + 0.75 * hist.n1f::DOUBLE / hist.c1::DOUBLE *
        |          ((coalesce(cont.n1b, 0)::DOUBLE + 1.0)
        |            / (tot.tt + tot.v + 1.0))
        |      END)) / count(*), 4) AS log_ppl,
        |    round(sum((c12.c12 IS NULL)::INT)::DOUBLE / count(*), 4)
        |      AS unseen_frac
        |  FROM db LEFT JOIN c12 USING (w1, w2) LEFT JOIN hist USING (w1)
        |    LEFT JOIN cont USING (w2) CROSS JOIN tot
        |  GROUP BY db.doc_id)
        |SELECT d.doc_id, coalesce(s.n_bigrams, 0) AS n_bigrams,
        |  s.log_ppl, s.unseen_frac
        |FROM documents d LEFT JOIN s USING (doc_id)""".stripMargin,
    // Same rolling polynomial hash (B=257, M=2^31-1) via explicit power
    // weights — all intermediates < 2^55, safe in DuckDB's checked
    // BIGINT arithmetic. Spark computes it Horner-style; identical mod M.
    "q69_winnow_fingerprints" ->
      """WITH c AS (
        |  SELECT doc_id, text AS s,
        |    least(8, length(text)) AS kk, length(text) AS n
        |  FROM documents WHERE length(text) > 0),
        |h AS (
        |  SELECT doc_id, kk,
        |    list_transform(range(1, n - kk + 2), j ->
        |      list_sum(list_transform(range(0, kk), t ->
        |        (unicode(substr(s, (j + t)::INT, 1))::BIGINT *
        |         ([1, 257, 66049, 16974593, 67503107, 168429323,
        |           336663071, 623063367])[(kk - t)::INT]) % 2147483647))
        |      % 2147483647) AS hl
        |  FROM c),
        |m AS (
        |  SELECT doc_id,
        |    CASE WHEN len(hl) <= 4 THEN [list_min(hl)]
        |         ELSE list_transform(range(1, len(hl) - 2), j ->
        |           list_min(list_slice(hl, j, j + 3)))
        |    END AS mins
        |  FROM h)
        |, f AS (SELECT doc_id, list_sort(list_distinct(mins)) AS fps FROM m)
        |SELECT d.doc_id, coalesce(len(f.fps), 0) AS n_fps,
        |       coalesce(array_to_string(f.fps, ','), '') AS fps
        |FROM documents d LEFT JOIN f USING (doc_id)""".stripMargin,
    "q70_winnow_overlap" ->
      """WITH base AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 300000, substr(text, 41, 200) FROM documents
        |  WHERE doc_id % 25 = 0 AND length(text) >= 300),
        |c AS (
        |  SELECT doc_id, text AS s,
        |    least(8, length(text)) AS kk, length(text) AS n
        |  FROM base WHERE length(text) > 0),
        |h AS (
        |  SELECT doc_id, kk,
        |    list_transform(range(1, n - kk + 2), j ->
        |      list_sum(list_transform(range(0, kk), t ->
        |        (unicode(substr(s, (j + t)::INT, 1))::BIGINT *
        |         ([1, 257, 66049, 16974593, 67503107, 168429323,
        |           336663071, 623063367])[(kk - t)::INT]) % 2147483647))
        |      % 2147483647) AS hl
        |  FROM c),
        |m AS (
        |  SELECT doc_id,
        |    CASE WHEN len(hl) <= 4 THEN [list_min(hl)]
        |         ELSE list_transform(range(1, len(hl) - 2), j ->
        |           list_min(list_slice(hl, j, j + 3)))
        |    END AS mins
        |  FROM h),
        |f0 AS (SELECT doc_id, unnest(list_distinct(mins)) AS f FROM m),
        |fdf AS (SELECT f, count(*) AS c FROM f0 GROUP BY f),
        |f AS (SELECT f0.doc_id, f0.f FROM f0 JOIN fdf USING (f)
        |      WHERE c <= 20),
        |sz AS (SELECT doc_id, count(*) AS n FROM f GROUP BY doc_id),
        |p AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
        |  FROM f a JOIN f b ON a.f = b.f AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT doc_a, doc_b, i AS shared_fps,
        |       round(i::DOUBLE / least(sa.n, sb.n), 4) AS containment
        |FROM p
        |JOIN sz sa ON doc_a = sa.doc_id
        |JOIN sz sb ON doc_b = sb.doc_id
        |WHERE i::DOUBLE / least(sa.n, sb.n) >= 0.8""".stripMargin,
    // q69/q70's gram-hash CTE at the span operator's k=16/w=8 (powers
    // array extended to 257^15 mod 2^31−1), extended with the robust-
    // winnowing position rule (rightmost minimal hash per window,
    // recovered via list_position on the reversed window), then the
    // span merge: same-offset matches, gaps-and-islands at maxGap 16
    // grams, span length = last − first + k.
    "q135_winnow_spans" ->
      """WITH base AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 700000,
        |    'zq ' || substr(text, 1, 240) || ' winnow span tail ' || doc_id
        |  FROM documents WHERE doc_id % 18 = 0 AND length(text) >= 300),
        |c AS (
        |  SELECT doc_id, text AS s,
        |    least(16, length(text)) AS kk, length(text) AS n
        |  FROM base WHERE length(text) > 0),
        |h AS (
        |  SELECT doc_id, kk,
        |    list_transform(range(1, n - kk + 2), j ->
        |      list_sum(list_transform(range(0, kk), t ->
        |        (unicode(substr(s, (j + t)::INT, 1))::BIGINT *
        |         ([1, 257, 66049, 16974593, 67503107, 168429323,
        |           336663071, 623063367, 1213495441, 483199522,
        |           1775709275, 1090750511, 1150007217, 1346595130,
        |           330081243, 1079017218])[(kk - t)::INT]) % 2147483647))
        |      % 2147483647) AS hl
        |  FROM c),
        |m AS (
        |  SELECT doc_id,
        |    CASE WHEN len(hl) <= 8 THEN [list_min(hl)]
        |         ELSE list_transform(range(1, len(hl) - 6), j ->
        |           list_min(list_slice(hl, j, j + 7)))
        |    END AS fl,
        |    CASE WHEN len(hl) <= 8 THEN
        |           [len(hl) + 1 -
        |            list_position(list_reverse(hl), list_min(hl))]
        |         ELSE list_transform(range(1, len(hl) - 6), j ->
        |           j + 8 - list_position(
        |             list_reverse(list_slice(hl, j, j + 7)),
        |             list_min(list_slice(hl, j, j + 7))))
        |    END AS pl
        |  FROM h),
        |f0 AS (SELECT DISTINCT doc_id, f, p FROM (
        |  SELECT doc_id, unnest(fl) AS f, unnest(pl) AS p FROM m)),
        |fd AS (SELECT f FROM (
        |  SELECT f, count(DISTINCT doc_id) AS c FROM f0 GROUP BY f)
        |  WHERE c > 20),
        |fk AS (SELECT f0.doc_id, f0.f, f0.p FROM f0
        |  LEFT JOIN fd ON f0.f = fd.f WHERE fd.f IS NULL),
        |mt AS (
        |  SELECT a.doc_id AS da, b.doc_id AS db, a.p AS pa, b.p AS pb,
        |    a.p - b.p AS off
        |  FROM fk a JOIN fk b ON a.f = b.f AND a.doc_id < b.doc_id),
        |isl AS (
        |  SELECT da, db, off, pa, pb,
        |    CASE WHEN pa - lag(pa) OVER (
        |      PARTITION BY da, db, off ORDER BY pa) <= 16
        |      THEN 0 ELSE 1 END AS brk
        |  FROM mt),
        |g AS (
        |  SELECT da, db, off, pa, pb,
        |    sum(brk) OVER (PARTITION BY da, db, off ORDER BY pa
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS gid
        |  FROM isl),
        |sp AS (
        |  SELECT da AS doc_a, db AS doc_b, min(pa) AS a_start,
        |    min(pb) AS b_start, max(pa) - min(pa) + 16 AS span_chars
        |  FROM g GROUP BY da, db, off, gid)
        |SELECT doc_a, doc_b, a_start, b_start, span_chars
        |FROM sp WHERE span_chars >= 64""".stripMargin,
    "q34_token_stats_by_lang" ->
      """WITH t AS (
        |  SELECT lang, length(text) AS n,
        |    len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS nt
        |  FROM documents)
        |SELECT lang, count(*) AS docs, sum(nt)::BIGINT AS total_tokens,
        | round(avg(n), 4) AS avg_chars
        |FROM t GROUP BY lang""".stripMargin,
    "q35_exact_dedup" ->
      """WITH base AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000, text FROM documents WHERE doc_id % 10 = 0),
        |fp AS (
        |  SELECT doc_id,
        |    md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS f
        |  FROM base),
        |c AS (SELECT f, min(doc_id) AS canonical_id FROM fp GROUP BY f)
        |SELECT fp.doc_id, c.canonical_id,
        |       fp.doc_id <> c.canonical_id AS is_dup
        |FROM fp JOIN c USING (f)""".stripMargin,
    // Oracle = exact all-pairs ground truth via a shingle inverted index
    // (pairs sharing ≥1 shingle — complete at any threshold > 0). The
    // Spark side must find every pair ≥ 0.8 through LSH for the hashes to
    // match: with k=32, b=8, r=4 a 0.96-similar pair is missed with
    // p < 1e-7 (see Dedup scaladoc) — deterministic in practice.
    "q36_minhash_neardup" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS t
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, unnest(CASE WHEN len(t) >= 3 THEN
        |      list_distinct(list_transform(range(1, len(t) - 1),
        |        i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
        |    ELSE [array_to_string(t, ' ')] END) AS s
        |  FROM toks),
        |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        |ix AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT doc_a, doc_b,
        |       round(i::DOUBLE / (sa.n + sb.n - i), 4) AS jaccard
        |FROM ix
        |JOIN sz sa ON doc_a = sa.doc_id
        |JOIN sz sb ON doc_b = sb.doc_id
        |WHERE i::DOUBLE / (sa.n + sb.n - i) >= 0.8""".stripMargin,
    // q73 = q36's exact shingle ground truth over the planted base
    // (docs + exact dups + boilerplate cluster) at threshold 0.9: the
    // cap has full recall, so the oracle ignores it entirely.
    "q73_minhash_capped" ->
      """WITH base AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000, text FROM documents WHERE doc_id % 10 = 0
        |  UNION ALL
        |  SELECT i + 500000,
        |    'all rights reserved contact us terms of service privacy ' ||
        |    'policy cookies settings navigation home about page number ' || i
        |  FROM (SELECT unnest(range(60)) AS i)),
        |toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS t
        |  FROM base),
        |sh AS (
        |  SELECT doc_id, unnest(CASE WHEN len(t) >= 3 THEN
        |      list_distinct(list_transform(range(1, len(t) - 1),
        |        i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
        |    ELSE [array_to_string(t, ' ')] END) AS s
        |  FROM toks),
        |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        |ix AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT doc_a, doc_b,
        |       round(i::DOUBLE / (sa.n + sb.n - i), 4) AS jaccard
        |FROM ix
        |JOIN sz sa ON doc_a = sa.doc_id
        |JOIN sz sb ON doc_b = sb.doc_id
        |WHERE i::DOUBLE / (sa.n + sb.n - i) >= 0.9""".stripMargin,
    "q74_incremental_dedup" ->
      """WITH base AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000, text FROM documents WHERE doc_id % 10 = 0),
        |fp AS (
        |  SELECT doc_id,
        |    md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS f
        |  FROM base),
        |corpus AS (
        |  SELECT DISTINCT
        |    md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS f
        |  FROM documents WHERE doc_id % 3 = 0),
        |c AS (SELECT f, min(doc_id) AS canonical_id FROM fp GROUP BY f)
        |SELECT fp.doc_id, c.canonical_id,
        |       fp.doc_id <> c.canonical_id AS is_dup,
        |       corpus.f IS NOT NULL AS is_known
        |FROM fp JOIN c USING (f) LEFT JOIN corpus USING (f)""".stripMargin,
    "q37_simhash" ->
      """WITH toks AS (
        |  SELECT doc_id, list_distinct(
        |    list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS t
        |  FROM documents),
        |th AS (
        |  SELECT doc_id,
        |    unnest(list_transform(t,
        |      s -> ('0x' || substr(md5(s), 1, 15))::BIGINT)) AS h
        |  FROM toks),
        |votes AS (
        |  SELECT doc_id, bits.b AS b,
        |    sum(CASE WHEN (h >> bits.b) & 1 = 1 THEN 1 ELSE -1 END) AS v
        |  FROM th CROSS JOIN (SELECT unnest(range(60)) AS b) bits
        |  GROUP BY 1, 2)
        |SELECT doc_id,
        |  sum(CASE WHEN v > 0 THEN (1::BIGINT << b) ELSE 0 END)::BIGINT AS simhash
        |FROM votes GROUP BY doc_id""".stripMargin,
    "q38_ngram_neardup" -> NgramOracle,
    // The prefix filter is lossless, so q67 must reproduce q38's exact
    // ground truth — same oracle.
    "q67_ngram_prefix_neardup" -> NgramOracle,
    // Oracle: exact connected components over the exact pair list, via a
    // recursive transitive-closure CTE (tiny components; closure is fine
    // at oracle scale). Spark's label propagation must converge to the
    // same min-label per component.
    "q45_neardup_clusters" ->
      """WITH RECURSIVE toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS t
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, unnest(CASE WHEN len(t) >= 3 THEN
        |      list_distinct(list_transform(range(1, len(t) - 1),
        |        i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
        |    ELSE [array_to_string(t, ' ')] END) AS s
        |  FROM toks),
        |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        |ix AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |pairs AS (
        |  SELECT doc_a, doc_b FROM ix
        |  JOIN sz sa ON doc_a = sa.doc_id
        |  JOIN sz sb ON doc_b = sb.doc_id
        |  WHERE i::DOUBLE / (sa.n + sb.n - i) >= 0.8),
        |edges AS (
        |  SELECT doc_a AS s, doc_b AS t FROM pairs
        |  UNION ALL SELECT doc_b, doc_a FROM pairs),
        |reach(s, t) AS (
        |  SELECT s, t FROM edges
        |  UNION
        |  SELECT r.s, e.t FROM reach r JOIN edges e ON r.t = e.s),
        |lbl AS (
        |  SELECT s AS doc_id, least(s, min(t)) AS cluster
        |  FROM reach GROUP BY s)
        |SELECT d.doc_id, coalesce(l.cluster, d.doc_id) AS cluster
        |FROM documents d LEFT JOIN lbl l USING (doc_id)""".stripMargin,
    // q164 = q45's exact-pairs + recursive closure over the planted
    // more-complete twins, argmax per cluster by (length desc, id asc).
    "q164_best_canonical" ->
      """WITH RECURSIVE base AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 200000, text || ' zq8k'
        |  FROM documents WHERE doc_id % 10 = 0 AND length(text) >= 300),
        |toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS t
        |  FROM base),
        |sh AS (
        |  SELECT doc_id, unnest(CASE WHEN len(t) >= 3 THEN
        |      list_distinct(list_transform(range(1, len(t) - 1),
        |        i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
        |    ELSE [array_to_string(t, ' ')] END) AS s
        |  FROM toks),
        |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        |ix AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |pairs AS (
        |  SELECT doc_a, doc_b FROM ix
        |  JOIN sz sa ON doc_a = sa.doc_id
        |  JOIN sz sb ON doc_b = sb.doc_id
        |  WHERE i::DOUBLE / (sa.n + sb.n - i) >= 0.8),
        |edges AS (
        |  SELECT doc_a AS s, doc_b AS t FROM pairs
        |  UNION ALL SELECT doc_b, doc_a FROM pairs),
        |reach(s, t) AS (
        |  SELECT s, t FROM edges
        |  UNION
        |  SELECT r.s, e.t FROM reach r JOIN edges e ON r.t = e.s),
        |lbl AS (
        |  SELECT s AS doc_id, least(s, min(t)) AS cluster
        |  FROM reach GROUP BY s),
        |fl AS (
        |  SELECT b.doc_id, coalesce(l.cluster, b.doc_id) AS cluster,
        |    length(b.text) AS sc
        |  FROM base b LEFT JOIN lbl l USING (doc_id)),
        |best AS (
        |  SELECT cluster, doc_id AS canonical_id FROM (
        |    SELECT cluster, doc_id, row_number() OVER (
        |      PARTITION BY cluster ORDER BY sc DESC, doc_id ASC) AS rn
        |    FROM fl) WHERE rn = 1)
        |SELECT f.doc_id, f.cluster, b.canonical_id,
        |  b.canonical_id <> f.doc_id AS is_dup
        |FROM fl f JOIN best b USING (cluster)""".stripMargin,

    "q167_fit_quality_logit" -> fitLogitOracle(8, 0.5),

    // q169 = q100's z replay quantized to 1e-6 longs, the q32 teacher as
    // the label, and the per-bin exact-integer aggregates divided once.
    "q169_reliability_bins" -> (ToksCte +
      """
        |, m AS (
        |  SELECT doc_id, length(text) AS nch, len(toks) AS nt,
        |    CASE WHEN len(toks) > 0 THEN
        |      list_sum(list_transform(toks, x -> length(x)))::DOUBLE
        |      / len(toks) END AS atl,
        |    CASE WHEN len(toks) > 0 THEN
        |      len(list_filter(toks, x -> list_contains(
        |        ['the','a','an','and','of','to','in','is','for','on','with'],
        |        x)))::DOUBLE / len(toks) END AS swr,
        |    CASE WHEN length(text) > 0 THEN
        |      length(regexp_replace(text, '[^A-Za-z]', '', 'g'))::DOUBLE
        |      / length(text) END AS ar
        |  FROM t),
        |z AS (
        |  SELECT doc_id, nch, nt, atl, swr, ar,
        |    -4.0 + 6.0 * coalesce(swr, 0) +
        |    3.0 * coalesce(ar, 0) + 0.3 * ln(1.0 + nt) -
        |    0.2 * abs(coalesce(atl, 0) - 5.0) AS zz
        |  FROM m),
        |q AS (
        |  SELECT doc_id,
        |    round((1.0 / (1.0 + exp(-zz))) * 1000000.0)::BIGINT AS s6,
        |    CASE WHEN 0.25::DOUBLE * (
        |      coalesce(nch BETWEEN 100 AND 10000, false)::INT +
        |      coalesce(atl >= 3.0 AND atl <= 10.0, false)::INT +
        |      coalesce(swr >= 0.03, false)::INT +
        |      coalesce(ar >= 0.6, false)::INT) >= 0.5
        |      THEN 1000000 ELSE 0 END::BIGINT AS y6
        |  FROM z),
        |b AS (
        |  SELECT least(floor((s6 * 10) / 1000000.0), 9)::INT AS bin,
        |    count(*)::BIGINT AS n, sum(s6)::BIGINT AS ss,
        |    (sum(y6) / 1000000)::BIGINT AS pos,
        |    sum((s6 - y6) * (s6 - y6))::BIGINT AS sq
        |  FROM q GROUP BY 1)
        |SELECT bin, n,
        |  ss::DOUBLE / 1000000.0 / n AS mean_score,
        |  pos::DOUBLE / n AS frac_pos,
        |  abs(ss::DOUBLE / 1000000.0 / n - pos::DOUBLE / n) AS abs_gap,
        |  sq::DOUBLE / 1000000000000.0 / n AS brier
        |FROM b""".stripMargin),

    "q39_embed_neardup" ->
      """WITH p AS (
        |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
        |    list_sum(list_transform(range(1, len(a.embedding) + 1),
        |      i -> a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE)) /
        |    (sqrt(list_sum(list_transform(range(1, len(a.embedding) + 1),
        |      i -> a.embedding[i]::DOUBLE * a.embedding[i]::DOUBLE))) *
        |     sqrt(list_sum(list_transform(range(1, len(b.embedding) + 1),
        |      i -> b.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE)))) AS sim
        |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id)
        |SELECT vec_a, vec_b, round(sim, 4) AS sim FROM p WHERE sim >= 0.4""".stripMargin,
    "q60_hyperplane_neardup" ->
      """WITH dup AS (
        |  SELECT vec_id + 100000 AS vec_id,
        |    list_transform(embedding, x -> (x + 0.01::FLOAT)::FLOAT)
        |      AS embedding
        |  FROM embeddings WHERE vec_id % 20 = 0),
        |u AS (
        |  SELECT vec_id, embedding FROM embeddings
        |  UNION ALL SELECT vec_id, embedding FROM dup),
        |p AS (
        |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
        |    list_sum(list_transform(range(1, len(a.embedding) + 1),
        |      i -> a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE)) /
        |    (sqrt(list_sum(list_transform(range(1, len(a.embedding) + 1),
        |      i -> a.embedding[i]::DOUBLE * a.embedding[i]::DOUBLE))) *
        |     sqrt(list_sum(list_transform(range(1, len(b.embedding) + 1),
        |      i -> b.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE)))) AS sim
        |  FROM u a JOIN u b ON a.vec_id < b.vec_id)
        |SELECT vec_a, vec_b, round(sim, 4) AS sim FROM p WHERE sim >= 0.9""".stripMargin,
    // The q39 dot convention (sequential list_sum ≡ the dot kernel's
    // accumulation order — sims bit-identical before the edge round);
    // attribution ties resolved as min(bench_id) among exact-max rows,
    // mirroring max_by(struct(sim, -bench_id)). Exact double equality
    // p.sim = m.ms is engine-internal, so it is safe.
    "q142_semantic_decontaminate" ->
      """WITH bench AS (
        |  SELECT vec_id AS bench_id,
        |    list_transform(embedding, x -> (x + 0.01::FLOAT)::FLOAT)
        |      AS embedding
        |  FROM embeddings WHERE vec_id % 50 = 0),
        |p AS (
        |  SELECT c.vec_id, b.bench_id,
        |    list_sum(list_transform(range(1, len(c.embedding) + 1),
        |      i -> c.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE)) /
        |    (sqrt(list_sum(list_transform(range(1, len(c.embedding) + 1),
        |      i -> c.embedding[i]::DOUBLE * c.embedding[i]::DOUBLE))) *
        |     sqrt(list_sum(list_transform(range(1, len(b.embedding) + 1),
        |      i -> b.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE)))) AS sim
        |  FROM embeddings c CROSS JOIN bench b),
        |m AS (SELECT vec_id, max(sim) AS ms FROM p GROUP BY vec_id),
        |a AS (
        |  SELECT p.vec_id, min(p.bench_id) AS bench_id
        |  FROM p JOIN m ON p.vec_id = m.vec_id AND p.sim = m.ms
        |  GROUP BY p.vec_id)
        |SELECT m.vec_id, a.bench_id, round(m.ms, 4) AS max_sim,
        |  m.ms >= 0.9 AS contaminated
        |FROM m JOIN a USING (vec_id)""".stripMargin,
    // q60's exact pair ground truth + q45's recursive-closure convention
    // + min-id canonical per component, over every vector in the planted
    // union. count casts: see q78 (HUGEINT -> float64 in pandas).
    "q88_semantic_dedup" ->
      """WITH RECURSIVE dup AS (
        |  SELECT vec_id + 100000 AS vec_id,
        |    list_transform(embedding, x -> (x + 0.01::FLOAT)::FLOAT)
        |      AS embedding
        |  FROM embeddings WHERE vec_id % 20 = 0),
        |u AS (
        |  SELECT vec_id, embedding FROM embeddings
        |  UNION ALL SELECT vec_id, embedding FROM dup),
        |p AS (
        |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
        |    list_sum(list_transform(range(1, len(a.embedding) + 1),
        |      i -> a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE)) /
        |    (sqrt(list_sum(list_transform(range(1, len(a.embedding) + 1),
        |      i -> a.embedding[i]::DOUBLE * a.embedding[i]::DOUBLE))) *
        |     sqrt(list_sum(list_transform(range(1, len(b.embedding) + 1),
        |      i -> b.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE)))) AS sim
        |  FROM u a JOIN u b ON a.vec_id < b.vec_id),
        |pairs AS (SELECT vec_a, vec_b FROM p WHERE sim >= 0.9),
        |edges AS (
        |  SELECT vec_a AS s, vec_b AS t FROM pairs
        |  UNION ALL SELECT vec_b, vec_a FROM pairs),
        |reach(s, t) AS (
        |  SELECT s, t FROM edges
        |  UNION
        |  SELECT r.s, e.t FROM reach r JOIN edges e ON r.t = e.s),
        |lbl AS (
        |  SELECT s AS vec_id, least(s, min(t)) AS canonical
        |  FROM reach GROUP BY s)
        |SELECT u.vec_id,
        |  coalesce(l.canonical, u.vec_id) AS canonical,
        |  u.vec_id = coalesce(l.canonical, u.vec_id) AS kept
        |FROM u LEFT JOIN lbl l USING (vec_id)""".stripMargin,
    // Chunk fingerprints mirror token_chunks exactly: ceil(n/20) slices,
    // space-joined, md5'd; "duplicated" = corpus-wide occurrence > 1.
    "q86_chunk_dedup" ->
      """WITH tk0 AS (
        |  SELECT doc_id, text,
        |    list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS t
        |  FROM documents),
        |base AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 600000,
        |    array_to_string(list_slice(t, 1, 40), ' ')
        |      || ' planted unique chunk tail marker ' || doc_id
        |  FROM tk0 WHERE doc_id % 12 = 0 AND len(t) >= 40),
        |t AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS t
        |  FROM base),
        |ch AS (
        |  SELECT doc_id,
        |    unnest(list_transform(range(0, (len(t) + 19) // 20), i ->
        |      md5(array_to_string(list_slice(t, i*20 + 1, i*20 + 20), ' '))))
        |      AS fp
        |  FROM t),
        |occ AS (SELECT fp, count(*) AS occ FROM ch GROUP BY fp),
        |per AS (
        |  SELECT ch.doc_id, count(*) AS n_chunks,
        |    sum(CASE WHEN occ.occ > 1 THEN 1 ELSE 0 END) AS n_dup_chunks
        |  FROM ch JOIN occ USING (fp) GROUP BY ch.doc_id)
        |SELECT b.doc_id,
        |  coalesce(per.n_chunks, 0)::BIGINT AS n_chunks,
        |  coalesce(per.n_dup_chunks, 0)::BIGINT AS n_dup_chunks
        |FROM base b LEFT JOIN per USING (doc_id)""".stripMargin,
    // Assembled verbatim from the green per-stage oracles: q35's
    // fp/canonical, q80's shingle contamination, q84's gopher battery,
    // q32's quality score, q81's top-word fraction — with the operator's
    // documented reason precedence as one CASE.
    "q90_curation_pipeline" -> ("WITH " + curateCtes(
      """SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000, text FROM documents WHERE doc_id % 10 = 0"""
        .stripMargin) +
      "\nSELECT doc_id, reason IS NULL AS keep, reason FROM v"),

    // q163 = the urlFixture chain WITH text (twins keep their source's
    // text), the q160 blocklist + q156 url-dup screens off `norm`, and
    // q90's full content chain over the same frame — folded under the
    // WebReasons precedence.
    "q163_web_curation" -> (urlNormCtes(urlFixtureSql(" text,")) + "," +
      """
        |sfx AS (
        |  SELECT doc_id,
        |    unnest(list_transform(
        |      range(1, len(string_split(host, '.')) + 1),
        |      i -> array_to_string(list_slice(string_split(host, '.'),
        |        i, len(string_split(host, '.'))), '.'))) AS dom
        |  FROM norm WHERE host IS NOT NULL),
        |blk AS (SELECT DISTINCT doc_id FROM sfx
        |  WHERE dom IN ('h7.example.com', 'h13.example.com',
        |    'example.org')),
        |ud AS (
        |  SELECT doc_id,
        |    doc_id <> min(doc_id) OVER (PARTITION BY nurl) AS isdup
        |  FROM norm),
        |""".stripMargin +
      curateCtes("SELECT doc_id, text FROM urls") +
      """,
        |w AS (
        |  SELECT v.doc_id,
        |    CASE WHEN blk.doc_id IS NOT NULL THEN 'blocked_host'
        |         WHEN ud.isdup THEN 'url_duplicate'
        |         ELSE v.reason END AS reason
        |  FROM v
        |  LEFT JOIN blk ON blk.doc_id = v.doc_id
        |  JOIN ud ON ud.doc_id = v.doc_id)
        |SELECT doc_id, reason IS NULL AS keep, reason FROM w"""
        .stripMargin),

    // q165 = q163's web verdict chain over the mill fixture with the
    // spam_host stage between url_duplicate and the content reasons:
    // ha/spam replay hostReputation's host aggregate (dup_frac > 0.5)
    // off the SAME per-doc url-dup flags the ud CTE computes.
    "q165_web_curation_spam" -> (urlNormCtes(WebSpamFixtureSql,
        "WITH RECURSIVE ") + "," + WebVerdictCtes +
      "\nSELECT doc_id, reason IS NULL AS keep, reason FROM w"),


    // Mirrors deterministicShuffle: 60-bit md5 hash, shard = hash mod 8,
    // pos = 0-based hash-order rank (id tie-break) within the shard.
    "q89_corpus_shuffle" ->
      """WITH h AS (
        |  SELECT doc_id,
        |    ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT AS hv
        |  FROM documents)
        |SELECT doc_id, (hv % 8)::INT AS shard,
        |  row_number() OVER (PARTITION BY hv % 8
        |    ORDER BY hv ASC, doc_id ASC) - 1 AS pos
        |FROM h""".stripMargin,

    // Mirrors approxQuantileBuckets' exact mode: quantile_disc computes
    // the SQL-standard percentile_disc element (smallest value with
    // cume_dist >= p — verified identical to Spark's), and the
    // first-cut-with-v<=c when-chain is equivalent to
    // 1 + |{cuts strictly below v}|.
    "q75_quantile_buckets" ->
      """WITH v AS (
        |  SELECT doc_id, length(text)::INT AS n_chars FROM documents),
        |c AS (
        |  SELECT unnest(quantile_disc(n_chars::DOUBLE,
        |    [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9])) AS cut
        |  FROM v)
        |SELECT v.doc_id, v.n_chars,
        |  (CASE WHEN v.n_chars IS NULL THEN NULL
        |        ELSE 1 + (SELECT count(*) FROM c WHERE c.cut < v.n_chars)
        |   END)::INT AS bucket
        |FROM v""".stripMargin,

    // Mirrors sampleByStrata: md5-bucket mod 10000 under a per-stratum
    // basis-point threshold.
    "q87_stratified_sample" ->
      """SELECT doc_id, lang FROM (
        |  SELECT doc_id, lang,
        |    ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT % 10000
        |      AS b,
        |    CASE lang WHEN 'en' THEN 5000 WHEN 'fr' THEN 2500
        |      WHEN 'zh' THEN 500 ELSE 1000 END AS thr
        |  FROM documents)
        |WHERE b < thr""".stripMargin,
    "q40_cosine_topk" ->
      """WITH q AS (
        |  SELECT vec_id AS query_id, embedding AS qe FROM embeddings
        |  WHERE vec_id < 10),
        |sims AS (
        |  SELECT q.query_id, e.vec_id AS neighbor_id,
        |    list_sum(list_transform(range(1, len(q.qe) + 1),
        |      i -> q.qe[i]::DOUBLE * e.embedding[i]::DOUBLE)) /
        |    (sqrt(list_sum(list_transform(range(1, len(q.qe) + 1),
        |      i -> q.qe[i]::DOUBLE * q.qe[i]::DOUBLE))) *
        |     sqrt(list_sum(list_transform(range(1, len(e.embedding) + 1),
        |      i -> e.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE)))) AS sim
        |  FROM q, embeddings e WHERE e.vec_id <> q.query_id),
        |ranked AS (
        |  SELECT query_id, neighbor_id, sim,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY sim DESC, neighbor_id) AS rank
        |  FROM sims)
        |SELECT query_id, neighbor_id, rank, round(sim, 4) AS sim
        |FROM ranked WHERE rank <= 5""".stripMargin,
    "q42_multimodal_meta" ->
      """SELECT doc_id, 'raw' AS format,
        | length(text) AS n_bytes,
        | md5(text) AS content_md5,
        | 320 + ('0x' || substr(md5(text), 1, 7))::BIGINT % 1600 AS width,
        | 180 + ('0x' || substr(md5(text), 8, 7))::BIGINT % 900 AS height,
        | 1 + length(text) % 30 AS n_frames
        |FROM documents
        |WHERE octet_length(encode(text)) = length(text)""".stripMargin,
    "q43_frame_sample" ->
      """SELECT doc_id, f.f AS frame_idx,
        | length(text) // 4 AS frame_len,
        | md5(substr(text, f.f * (length(text) // 4) + 1,
        |            length(text) // 4)) AS frame_md5
        |FROM documents CROSS JOIN (SELECT unnest(range(4)) AS f) f
        |WHERE octet_length(encode(text)) = length(text)
        |  AND length(text) >= 4""".stripMargin,
    // Centroid coordinates round at 6 BEFORE the distance arithmetic, so
    // the two engines' float-summation orders in avg() cannot leak into
    // the distances; the distance itself is the v·v − 2·v·c + c·c
    // expansion, accumulated left-to-right (list_sum order = the Spark
    // kernel's order).
    "q99_embed_outliers" ->
      """WITH e AS (
        |  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
        |  FROM embeddings),
        |x AS (
        |  SELECT vec_id, unnest(v) AS val,
        |    generate_subscripts(v, 1) AS pos
        |  FROM e),
        |c AS (SELECT pos, round(avg(val), 6) AS cv FROM x GROUP BY pos),
        |cl AS (SELECT list(cv ORDER BY pos) AS cent FROM c),
        |d AS (
        |  SELECT vec_id,
        |    round(sqrt(greatest(
        |      list_sum(list_transform(v, y -> y * y))
        |      - 2 * list_sum(list_transform(range(1, len(v) + 1),
        |          i -> v[i] * cent[i]))
        |      + list_sum(list_transform(cent, y -> y * y)), 0)), 4) AS dist
        |  FROM e, cl)
        |SELECT vec_id, dist, dist >= 1.006 AS is_outlier FROM d""".stripMargin,
    "q100_quality_logit" -> (ToksCte +
      """
        |, m AS (
        |  SELECT doc_id, len(toks) AS nt,
        |    CASE WHEN len(toks) > 0 THEN
        |      list_sum(list_transform(toks, x -> length(x)))::DOUBLE
        |      / len(toks) END AS atl,
        |    CASE WHEN len(toks) > 0 THEN
        |      len(list_filter(toks, x -> list_contains(
        |        ['the','a','an','and','of','to','in','is','for','on','with'],
        |        x)))::DOUBLE / len(toks) END AS swr,
        |    CASE WHEN length(text) > 0 THEN
        |      length(regexp_replace(text, '[^A-Za-z]', '', 'g'))::DOUBLE
        |      / length(text) END AS ar
        |  FROM t),
        |z AS (
        |  SELECT doc_id, -4.0 + 6.0 * coalesce(swr, 0) +
        |    3.0 * coalesce(ar, 0) + 0.3 * ln(1.0 + nt) -
        |    0.2 * abs(coalesce(atl, 0) - 5.0) AS zz
        |  FROM m)
        |SELECT doc_id, round(1.0 / (1.0 + exp(-zz)), 4) AS q_score,
        |  round(1.0 / (1.0 + exp(-zz)), 4) >= 0.5 AS keep
        |FROM z""".stripMargin),
    "q101_domain_mix" -> (ToksCte +
      """
        |, perdom AS (
        |  SELECT d.source, count(*) AS docs, sum(len(toks))::BIGINT AS tokens
        |  FROM t JOIN documents d USING (doc_id) GROUP BY d.source),
        |tot AS (SELECT sum(tokens)::BIGINT AS total FROM perdom),
        |w AS (
        |  SELECT source, docs, tokens,
        |    tokens::DOUBLE / total::DOUBLE AS obs,
        |    CASE source WHEN 'src0' THEN 0.3 WHEN 'src1' THEN 0.2
        |      WHEN 'src2' THEN 0.05 WHEN 'src3' THEN 0.05
        |      WHEN 'src4' THEN 0.05 WHEN 'src5' THEN 0.05
        |      WHEN 'src6' THEN 0.05 WHEN 'src7' THEN 0.05
        |      WHEN 'src8' THEN 0.05 WHEN 'src9' THEN 0.05
        |      WHEN 'src10' THEN 0.05 WHEN 'src11' THEN 0.05
        |      ELSE 0.0 END::DOUBLE AS target_share
        |  FROM perdom, tot)
        |SELECT source, docs, tokens, round(obs, 6) AS obs_share,
        |  target_share,
        |  round(least(target_share / obs, 4.0), 6) AS sampling_weight
        |FROM w""".stripMargin),
    "q103_latest_version" ->
      """SELECT user_id, event_type, ts, event_id, value
        |FROM (
        |  SELECT user_id, event_type, ts, event_id, value,
        |    row_number() OVER (PARTITION BY user_id, event_type
        |      ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events)
        |WHERE rn = 1""".stripMargin,
    // Mirrors lineDedup: same \n split (trailing empties kept by both
    // engines), same >= 10-char eligibility, first occurrence =
    // row_number over (doc_id, pos) ≡ the operator's min(struct) winner;
    // string_agg skips the CASE's NULLs exactly like the index-filter
    // lambda drops removed positions, and the all-lines-removed doc
    // coalesces to '' on both sides (array_join of an empty array).
    // The final LEFT JOIN back to base keeps NULL-text documents (zero
    // expl rows) in the output, matching the operator's pass-through.
    "q104_line_dedup" ->
      """WITH base AS (
        |  SELECT doc_id, CASE WHEN doc_id % 7 = 0 THEN
        |      text || chr(10) || 'subscribe to our newsletter for updates'
        |        || chr(10) || 'all rights reserved worldwide'
        |    ELSE text END AS text
        |  FROM documents),
        |expl AS (
        |  SELECT doc_id, unnest(lines) AS line,
        |    CAST(unnest(range(0, len(lines))) AS INT) AS pos
        |  FROM (SELECT doc_id, string_split(text, chr(10)) AS lines
        |        FROM base)),
        |dup AS (
        |  SELECT doc_id, pos FROM (
        |    SELECT doc_id, pos,
        |      row_number() OVER (PARTITION BY line ORDER BY doc_id, pos)
        |        AS rn
        |    FROM expl WHERE length(line) >= 10)
        |  WHERE rn > 1),
        |re AS (
        |  SELECT e.doc_id,
        |    coalesce(string_agg(CASE WHEN d.pos IS NULL THEN e.line END,
        |      chr(10) ORDER BY e.pos), '') AS text,
        |    count(d.pos)::INT AS n_removed
        |  FROM expl e LEFT JOIN dup d
        |    ON e.doc_id = d.doc_id AND e.pos = d.pos
        |  GROUP BY e.doc_id)
        |SELECT b.doc_id, r.text, coalesce(r.n_removed, 0)::INT AS n_removed
        |FROM base b LEFT JOIN re r USING (doc_id)""".stripMargin,
    // list_slice's inclusive end clamps at the list tail exactly like
    // Spark's length-64 slice; range(0, n, 48) excludes n, matching
    // sequence(0, n-1, 48).
    "q108_strided_chunks" -> (ToksCte +
      """
        |, c AS (
        |  SELECT doc_id, toks,
        |    unnest(range(0, len(toks), 48)) AS s0
        |  FROM t WHERE len(toks) > 0)
        |SELECT doc_id,
        |  (s0 // 48)::INT AS chunk_id,
        |  s0::INT AS start_tok,
        |  least(64, len(toks) - s0)::INT AS chunk_tokens,
        |  array_to_string(list_slice(toks, s0 + 1, s0 + 64), ' ')
        |    AS chunk_text
        |FROM c""".stripMargin),
    "q112_length_histogram" ->
      """SELECT floor(length(text) / 200.0) * 200.0 AS bin_lo,
        |  floor(length(text) / 200.0) * 200.0 + 200.0 AS bin_hi,
        |  count(*) AS cnt
        |FROM documents GROUP BY 1, 2""".stripMargin,
    // Same 10k vocabulary as the Spark literal, generated
    // programmatically (20 corpus words + w00000..w09979); exact
    // case-sensitive membership over the shared whitespace tokenization,
    // computed as an explode + vocab join (the oracle-side equivalent of
    // the operator's hash-set probe).
    "q113_vocab_coverage" -> (ToksCte +
      """
        |, v AS (
        |  SELECT unnest(['the','a','table','row','key','value','scan',
        |    'sort','join','group','window','spark','fast','slow','agg',
        |    'hash','merge','part','line','batch']) AS w
        |  UNION ALL
        |  SELECT printf('w%05d', i) FROM range(9980) r(i)),
        |e AS (SELECT doc_id, unnest(toks) AS tok FROM t),
        |h AS (
        |  SELECT e.doc_id, count(v.w) AS hits
        |  FROM e LEFT JOIN v ON e.tok = v.w
        |  GROUP BY e.doc_id)
        |SELECT t.doc_id,
        |  len(toks)::INT AS n_tokens,
        |  coalesce(h.hits, 0)::INT AS in_vocab,
        |  round(CASE WHEN len(toks) > 0 THEN
        |    coalesce(h.hits, 0)::DOUBLE / len(toks) END, 4) AS coverage
        |FROM t LEFT JOIN h ON t.doc_id = h.doc_id""".stripMargin),
    // The same greedy longest-match loop as the byte-trie kernel,
    // replayed as a recursive CTE: each step probes the vocabulary with
    // the 1..6-char prefixes at the current position (six hash joins —
    // aggregates are not allowed in a recursive term), advances by the
    // longest hit or by one (unknown) character, and a word's final
    // state is the row that stepped exactly one past its last character.
    // Same vocabulary as the Spark literal (20 gate words + 19 pieces +
    // programmatic filler to 10k; max piece length 6 = the probe bound).
    "q119_subword_stats" ->
      """WITH RECURSIVE t AS (
        |  SELECT doc_id, text,
        |    list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks
        |  FROM documents),
        |w AS (
        |  SELECT doc_id, wid, toks[wid] AS word FROM (
        |    SELECT doc_id, toks, unnest(range(1, len(toks) + 1)) AS wid
        |    FROM t)),
        |v AS (
        |  SELECT unnest(['the','a','table','row','key','value','scan',
        |    'sort','join','group','window','spark','fast','slow','agg',
        |    'hash','merge','part','line','batch','cust','omer','col',
        |    'umn','fil','ter','sma','ord','er','vec','tor','dat','str',
        |    'eam','que','ry','big','du','orders']) AS piece
        |  UNION ALL
        |  SELECT printf('w%05d', i) FROM range(9961) r(i)),
        |rec AS (
        |  SELECT doc_id, wid, word, 1 AS pos, 0 AS pieces, 0 AS unk
        |  FROM w
        |  UNION ALL
        |  SELECT r.doc_id, r.wid, r.word,
        |    r.pos + coalesce(greatest(
        |      CASE WHEN v6.piece IS NOT NULL THEN 6 END,
        |      CASE WHEN v5.piece IS NOT NULL THEN 5 END,
        |      CASE WHEN v4.piece IS NOT NULL THEN 4 END,
        |      CASE WHEN v3.piece IS NOT NULL THEN 3 END,
        |      CASE WHEN v2.piece IS NOT NULL THEN 2 END,
        |      CASE WHEN v1.piece IS NOT NULL THEN 1 END), 1) AS pos,
        |    r.pieces + 1 AS pieces,
        |    r.unk + CASE WHEN v1.piece IS NULL AND v2.piece IS NULL
        |      AND v3.piece IS NULL AND v4.piece IS NULL
        |      AND v5.piece IS NULL AND v6.piece IS NULL
        |      THEN 1 ELSE 0 END AS unk
        |  FROM rec r
        |  LEFT JOIN v v1 ON v1.piece = substr(r.word, r.pos, 1)
        |    AND length(v1.piece) = 1
        |  LEFT JOIN v v2 ON v2.piece = substr(r.word, r.pos, 2)
        |    AND length(v2.piece) = 2
        |  LEFT JOIN v v3 ON v3.piece = substr(r.word, r.pos, 3)
        |    AND length(v3.piece) = 3
        |  LEFT JOIN v v4 ON v4.piece = substr(r.word, r.pos, 4)
        |    AND length(v4.piece) = 4
        |  LEFT JOIN v v5 ON v5.piece = substr(r.word, r.pos, 5)
        |    AND length(v5.piece) = 5
        |  LEFT JOIN v v6 ON v6.piece = substr(r.word, r.pos, 6)
        |    AND length(v6.piece) = 6
        |  WHERE r.pos <= length(r.word)),
        |fin AS (
        |  SELECT doc_id, wid, pieces, unk FROM rec
        |  WHERE pos = length(word) + 1),
        |agg AS (
        |  SELECT doc_id, count(*) AS n_words, sum(pieces) AS n_pieces,
        |    sum(unk) AS n_unk
        |  FROM fin GROUP BY doc_id)
        |SELECT t.doc_id,
        |  CASE WHEN t.text IS NULL THEN NULL
        |    ELSE coalesce(a.n_words, 0) END::INT AS n_words,
        |  CASE WHEN t.text IS NULL THEN NULL
        |    ELSE coalesce(a.n_pieces, 0) END::INT AS n_pieces,
        |  CASE WHEN t.text IS NULL THEN NULL
        |    ELSE coalesce(a.n_unk, 0) END::INT AS n_unk
        |FROM t LEFT JOIN agg a ON t.doc_id = a.doc_id""".stripMargin,
    // q119's recursive greedy loop, now carrying the CONSUMED PIECE per
    // step (coalesce over the longest-first probes; unknown = the one
    // code point), so adjacent steps of one word form the BPE pairs.
    "q133_bpe_pairs" ->
      """WITH RECURSIVE t AS (
        |  SELECT doc_id, text,
        |    list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks
        |  FROM documents),
        |w AS (
        |  SELECT doc_id, wid, toks[wid] AS word FROM (
        |    SELECT doc_id, toks, unnest(range(1, len(toks) + 1)) AS wid
        |    FROM t)),
        |v AS (
        |  SELECT unnest(['the','a','table','row','key','value','scan',
        |    'sort','join','group','window','spark','fast','slow','agg',
        |    'hash','merge','part','line','batch','cust','omer','col',
        |    'umn','fil','ter','sma','ord','er','vec','tor','dat','str',
        |    'eam','que','ry','big','du','orders']) AS piece
        |  UNION ALL
        |  SELECT printf('w%05d', i) FROM range(9961) r(i)),
        |rec AS (
        |  SELECT doc_id, wid, word, 1 AS pos, 0 AS idx,
        |    CAST(NULL AS VARCHAR) AS piece
        |  FROM w
        |  UNION ALL
        |  SELECT r.doc_id, r.wid, r.word,
        |    r.pos + coalesce(greatest(
        |      CASE WHEN v6.piece IS NOT NULL THEN 6 END,
        |      CASE WHEN v5.piece IS NOT NULL THEN 5 END,
        |      CASE WHEN v4.piece IS NOT NULL THEN 4 END,
        |      CASE WHEN v3.piece IS NOT NULL THEN 3 END,
        |      CASE WHEN v2.piece IS NOT NULL THEN 2 END,
        |      CASE WHEN v1.piece IS NOT NULL THEN 1 END), 1) AS pos,
        |    r.idx + 1 AS idx,
        |    coalesce(v6.piece, v5.piece, v4.piece, v3.piece, v2.piece,
        |      v1.piece, substr(r.word, r.pos, 1)) AS piece
        |  FROM rec r
        |  LEFT JOIN v v1 ON v1.piece = substr(r.word, r.pos, 1)
        |    AND length(v1.piece) = 1
        |  LEFT JOIN v v2 ON v2.piece = substr(r.word, r.pos, 2)
        |    AND length(v2.piece) = 2
        |  LEFT JOIN v v3 ON v3.piece = substr(r.word, r.pos, 3)
        |    AND length(v3.piece) = 3
        |  LEFT JOIN v v4 ON v4.piece = substr(r.word, r.pos, 4)
        |    AND length(v4.piece) = 4
        |  LEFT JOIN v v5 ON v5.piece = substr(r.word, r.pos, 5)
        |    AND length(v5.piece) = 5
        |  LEFT JOIN v v6 ON v6.piece = substr(r.word, r.pos, 6)
        |    AND length(v6.piece) = 6
        |  WHERE r.pos <= length(r.word)),
        |p AS (
        |  SELECT doc_id, wid, idx, piece FROM rec WHERE piece IS NOT NULL),
        |pr AS (
        |  SELECT a.piece AS p1, b.piece AS p2
        |  FROM p a JOIN p b ON a.doc_id = b.doc_id AND a.wid = b.wid
        |    AND b.idx = a.idx + 1),
        |cnt AS (SELECT p1, p2, count(*)::BIGINT AS cnt FROM pr GROUP BY 1, 2),
        |r AS (
        |  SELECT p1, p2, cnt, row_number() OVER (
        |    ORDER BY cnt DESC, p1 ASC, p2 ASC) AS rnk
        |  FROM cnt)
        |SELECT p1, p2, cnt, rnk::INT AS rank FROM r WHERE rnk <= 50""".stripMargin,
    "q134_bpe_learn" -> bpeLearnOracle(rounds = 3),
    // The selection semantics in their textbook form: inclusive running
    // token sum over (score DESC, doc_id) kept while <= budget. The
    // Spark side's bucket-cumsum + boundary-resolution plan is provably
    // the same prefix (sub-boundary docs already exceed the budget
    // through the boundary bucket's total). Score CTEs = q100's.
    "q120_token_budget" -> (ToksCte +
      """
        |, m AS (
        |  SELECT doc_id, len(toks) AS nt,
        |    CASE WHEN len(toks) > 0 THEN
        |      list_sum(list_transform(toks, x -> length(x)))::DOUBLE
        |      / len(toks) END AS atl,
        |    CASE WHEN len(toks) > 0 THEN
        |      len(list_filter(toks, x -> list_contains(
        |        ['the','a','an','and','of','to','in','is','for','on','with'],
        |        x)))::DOUBLE / len(toks) END AS swr,
        |    CASE WHEN length(text) > 0 THEN
        |      length(regexp_replace(text, '[^A-Za-z]', '', 'g'))::DOUBLE
        |      / length(text) END AS ar
        |  FROM t),
        |z AS (
        |  SELECT doc_id, -4.0 + 6.0 * coalesce(swr, 0) +
        |    3.0 * coalesce(ar, 0) + 0.3 * ln(1.0 + nt) -
        |    0.2 * abs(coalesce(atl, 0) - 5.0) AS zz
        |  FROM m),
        |sel AS (
        |  SELECT z.doc_id, round(1.0 / (1.0 + exp(-zz)), 4) AS score,
        |    len(t.toks)::BIGINT AS n_tokens
        |  FROM z JOIN t ON z.doc_id = t.doc_id
        |  WHERE len(t.toks) IS NOT NULL),
        |r AS (
        |  SELECT doc_id, score, n_tokens,
        |    sum(n_tokens) OVER (ORDER BY score DESC, doc_id) AS run
        |  FROM sel)
        |SELECT doc_id, score, n_tokens FROM r WHERE run <= 15000""".stripMargin),
    // q101's weight CTEs verbatim, then the same copy arithmetic: the
    // 60-bit md5 hash convention is the file-header one, the fractional
    // draw compares the integer bucket against the un-rounded double
    // threshold (no rounding-mode bet), epochs unnest from a scalar
    // range.
    "q121_materialize_mix" -> (ToksCte +
      """
        |, perdom AS (
        |  SELECT d.source, sum(len(toks))::BIGINT AS tokens
        |  FROM t JOIN documents d USING (doc_id) GROUP BY d.source),
        |tot AS (SELECT sum(tokens)::BIGINT AS total FROM perdom),
        |wt AS (
        |  SELECT source,
        |    round(least(
        |      (CASE source WHEN 'src0' THEN 0.3 WHEN 'src1' THEN 0.2
        |        WHEN 'src2' THEN 0.05 WHEN 'src3' THEN 0.05
        |        WHEN 'src4' THEN 0.05 WHEN 'src5' THEN 0.05
        |        WHEN 'src6' THEN 0.05 WHEN 'src7' THEN 0.05
        |        WHEN 'src8' THEN 0.05 WHEN 'src9' THEN 0.05
        |        WHEN 'src10' THEN 0.05 WHEN 'src11' THEN 0.05
        |        ELSE 0.0 END::DOUBLE)
        |      / (tokens::DOUBLE / total::DOUBLE), 4.0), 6) AS sw
        |  FROM perdom, tot),
        |c AS (
        |  SELECT d.doc_id, d.source,
        |    (floor(sw)::INT + CASE WHEN
        |      (('0x' || substr(md5(d.doc_id::VARCHAR || ':epoch'), 1, 15))
        |        ::BIGINT % 10000)::DOUBLE < (sw - floor(sw)) * 10000
        |      THEN 1 ELSE 0 END) AS copies
        |  FROM documents d JOIN wt USING (source))
        |SELECT doc_id, source, unnest(range(1, copies + 1))::INT AS epoch
        |FROM c WHERE copies > 0""".stripMargin),
    // q121's mix CTEs + the (id ':' epoch)-keyed md5 shard/rank
    // arithmetic (q89's convention, generalized to the epoch key).
    "q131_epoch_order" -> (ToksCte +
      """
        |, perdom AS (
        |  SELECT d.source, sum(len(toks))::BIGINT AS tokens
        |  FROM t JOIN documents d USING (doc_id) GROUP BY d.source),
        |tot AS (SELECT sum(tokens)::BIGINT AS total FROM perdom),
        |wt AS (
        |  SELECT source,
        |    round(least(
        |      (CASE source WHEN 'src0' THEN 0.3 WHEN 'src1' THEN 0.2
        |        WHEN 'src2' THEN 0.05 WHEN 'src3' THEN 0.05
        |        WHEN 'src4' THEN 0.05 WHEN 'src5' THEN 0.05
        |        WHEN 'src6' THEN 0.05 WHEN 'src7' THEN 0.05
        |        WHEN 'src8' THEN 0.05 WHEN 'src9' THEN 0.05
        |        WHEN 'src10' THEN 0.05 WHEN 'src11' THEN 0.05
        |        ELSE 0.0 END::DOUBLE)
        |      / (tokens::DOUBLE / total::DOUBLE), 4.0), 6) AS sw
        |  FROM perdom, tot),
        |c AS (
        |  SELECT d.doc_id, d.source,
        |    (floor(sw)::INT + CASE WHEN
        |      (('0x' || substr(md5(d.doc_id::VARCHAR || ':epoch'), 1, 15))
        |        ::BIGINT % 10000)::DOUBLE < (sw - floor(sw)) * 10000
        |      THEN 1 ELSE 0 END) AS copies
        |  FROM documents d JOIN wt USING (source)),
        |mix AS (
        |  SELECT doc_id, source, unnest(range(1, copies + 1))::INT AS epoch
        |  FROM c WHERE copies > 0),
        |h AS (
        |  SELECT doc_id, source, epoch,
        |    ('0x' || substr(md5(doc_id::VARCHAR || ':' || epoch::VARCHAR),
        |      1, 15))::BIGINT AS hv
        |  FROM mix)
        |SELECT doc_id, source, epoch, (hv % 8)::INT AS shard,
        |  row_number() OVER (PARTITION BY hv % 8
        |    ORDER BY hv ASC, doc_id ASC, epoch ASC) - 1 AS pos
        |FROM h""".stripMargin),
    // q119's recursive greedy-segmentation CTEs (plus lang) feeding
    // q78's pack arithmetic on the piece counts.
    "q123_subword_pack" ->
      """WITH RECURSIVE t AS (
        |  SELECT doc_id, lang, text,
        |    list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks
        |  FROM documents),
        |w AS (
        |  SELECT doc_id, wid, toks[wid] AS word FROM (
        |    SELECT doc_id, toks, unnest(range(1, len(toks) + 1)) AS wid
        |    FROM t)),
        |v AS (
        |  SELECT unnest(['the','a','table','row','key','value','scan',
        |    'sort','join','group','window','spark','fast','slow','agg',
        |    'hash','merge','part','line','batch','cust','omer','col',
        |    'umn','fil','ter','sma','ord','er','vec','tor','dat','str',
        |    'eam','que','ry','big','du','orders']) AS piece
        |  UNION ALL
        |  SELECT printf('w%05d', i) FROM range(9961) r(i)),
        |rec AS (
        |  SELECT doc_id, wid, word, 1 AS pos, 0 AS pieces FROM w
        |  UNION ALL
        |  SELECT r.doc_id, r.wid, r.word,
        |    r.pos + coalesce(greatest(
        |      CASE WHEN v6.piece IS NOT NULL THEN 6 END,
        |      CASE WHEN v5.piece IS NOT NULL THEN 5 END,
        |      CASE WHEN v4.piece IS NOT NULL THEN 4 END,
        |      CASE WHEN v3.piece IS NOT NULL THEN 3 END,
        |      CASE WHEN v2.piece IS NOT NULL THEN 2 END,
        |      CASE WHEN v1.piece IS NOT NULL THEN 1 END), 1) AS pos,
        |    r.pieces + 1 AS pieces
        |  FROM rec r
        |  LEFT JOIN v v1 ON v1.piece = substr(r.word, r.pos, 1)
        |    AND length(v1.piece) = 1
        |  LEFT JOIN v v2 ON v2.piece = substr(r.word, r.pos, 2)
        |    AND length(v2.piece) = 2
        |  LEFT JOIN v v3 ON v3.piece = substr(r.word, r.pos, 3)
        |    AND length(v3.piece) = 3
        |  LEFT JOIN v v4 ON v4.piece = substr(r.word, r.pos, 4)
        |    AND length(v4.piece) = 4
        |  LEFT JOIN v v5 ON v5.piece = substr(r.word, r.pos, 5)
        |    AND length(v5.piece) = 5
        |  LEFT JOIN v v6 ON v6.piece = substr(r.word, r.pos, 6)
        |    AND length(v6.piece) = 6
        |  WHERE r.pos <= length(r.word)),
        |fin AS (
        |  SELECT doc_id, wid, pieces FROM rec
        |  WHERE pos = length(word) + 1),
        |agg AS (SELECT doc_id, sum(pieces) AS np FROM fin GROUP BY doc_id),
        |p AS (
        |  SELECT t.doc_id, t.lang,
        |    CASE WHEN t.text IS NULL THEN NULL
        |      ELSE coalesce(a.np, 0) END::INT AS n_pieces
        |  FROM t LEFT JOIN agg a ON t.doc_id = a.doc_id),
        |c AS (
        |  SELECT doc_id, lang, n_pieces,
        |    (sum(n_pieces) OVER (PARTITION BY lang ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      - n_pieces)::BIGINT AS f
        |  FROM p)
        |SELECT doc_id, lang, n_pieces,
        |       f // 2048 AS pack_id, f % 2048 AS pack_offset
        |FROM c""".stripMargin,

    // Exact batch↔corpus inverted-index ground truth (q36's machinery
    // split across the two sides); the LSH path must lose nothing.
    "q128_incremental_minhash" ->
      """WITH batch AS (
        |  SELECT doc_id + 300000 AS doc_id, text || ' zq9x' AS text
        |  FROM documents WHERE doc_id % 20 = 0),
        |ct AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS t
        |  FROM documents),
        |bt AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS t
        |  FROM batch),
        |csh AS (
        |  SELECT doc_id, unnest(CASE WHEN len(t) >= 3 THEN
        |      list_distinct(list_transform(range(1, len(t) - 1),
        |        i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
        |    ELSE [array_to_string(t, ' ')] END) AS s
        |  FROM ct),
        |bsh AS (
        |  SELECT doc_id, unnest(CASE WHEN len(t) >= 3 THEN
        |      list_distinct(list_transform(range(1, len(t) - 1),
        |        i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
        |    ELSE [array_to_string(t, ' ')] END) AS s
        |  FROM bt),
        |csz AS (SELECT doc_id, count(*) AS n FROM csh GROUP BY doc_id),
        |bsz AS (SELECT doc_id, count(*) AS n FROM bsh GROUP BY doc_id),
        |ix AS (
        |  SELECT b.doc_id AS doc_id, c.doc_id AS corpus_id, count(*) AS i
        |  FROM bsh b JOIN csh c ON b.s = c.s
        |  GROUP BY 1, 2)
        |SELECT ix.doc_id, corpus_id,
        |  round(i::DOUBLE / (bs.n + cs.n - i), 4) AS jaccard
        |FROM ix
        |JOIN bsz bs ON ix.doc_id = bs.doc_id
        |JOIN csz cs ON corpus_id = cs.doc_id
        |WHERE i::DOUBLE / (bs.n + cs.n - i) >= 0.8""".stripMargin,

    // q32's rule battery + swr/8 tie-break; quantile_disc ≡ Spark's
    // percentile_disc (verified at q75); ties at the cut kept via >=.
    "q124_quantile_filter" -> (ToksCte +
      """
        |, m AS (
        |  SELECT t.doc_id, d.lang, length(t.text) AS n,
        |    CASE WHEN len(toks) > 0 THEN
        |      list_sum(list_transform(toks, x -> length(x)))::DOUBLE
        |      / len(toks) END AS atl,
        |    CASE WHEN len(toks) > 0 THEN
        |      len(list_filter(toks, x -> list_contains(
        |        ['the','a','an','and','of','to','in','is','for','on','with'],
        |        x)))::DOUBLE / len(toks) END AS swr,
        |    CASE WHEN length(t.text) > 0 THEN
        |      length(regexp_replace(t.text, '[^A-Za-z]', '', 'g'))::DOUBLE
        |      / length(t.text) END AS ar
        |  FROM t JOIN documents d USING (doc_id)),
        |sc AS (
        |  SELECT doc_id, lang, 0.25::DOUBLE * (
        |    coalesce(n BETWEEN 100 AND 10000, false)::INT +
        |    coalesce(atl >= 3.0 AND atl <= 10.0, false)::INT +
        |    coalesce(swr >= 0.03, false)::INT +
        |    coalesce(ar >= 0.6, false)::INT) + coalesce(swr, 0.0) / 8.0
        |    AS score
        |  FROM m),
        |cut AS (
        |  SELECT lang, quantile_disc(score, 0.7) AS cutpoint
        |  FROM sc GROUP BY lang)
        |SELECT sc.doc_id, sc.lang, sc.score, cut.cutpoint
        |FROM sc JOIN cut USING (lang)
        |WHERE sc.score >= cut.cutpoint""".stripMargin),

    // Aggressive (CCNet) normalization replayed literally: punct strip,
    // digit fold to 0, whitespace collapse — the planted '*** text ???'
    // twins land in their original's class.
    "q125_normalized_dedup" ->
      """WITH base AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 200000, '*** ' || text || ' ???'
        |  FROM documents WHERE doc_id % 10 = 0),
        |fp AS (
        |  SELECT doc_id, md5(trim(regexp_replace(regexp_replace(
        |    regexp_replace(lower(text), '[^\p{L}\p{N}\s]', '', 'g'),
        |    '\p{N}', '0', 'g'), '\s+', ' ', 'g'))) AS f
        |  FROM base),
        |c AS (SELECT f, min(doc_id) AS canonical_id FROM fp GROUP BY f)
        |SELECT fp.doc_id, c.canonical_id,
        |       fp.doc_id <> c.canonical_id AS is_dup
        |FROM fp JOIN c USING (f)""".stripMargin,

    // Efraimidis–Spirakis keys from the 60-bit md5 uniform: (hv+1) adds
    // as BIGINT then converts once to DOUBLE (the Spark side mirrors the
    // op order — hv exceeds 2^53, so conversion order matters).
    "q126_weighted_sample" ->
      """WITH h AS (
        |  SELECT doc_id, lang, n_chars,
        |    ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT AS hv
        |  FROM documents
        |  WHERE n_chars IS NOT NULL AND n_chars > 0),
        |k AS (
        |  SELECT doc_id, lang,
        |    ln((hv + 1) / 1152921504606846976.0) / n_chars AS key
        |  FROM h),
        |r AS (
        |  SELECT doc_id, lang, row_number() OVER (PARTITION BY lang
        |    ORDER BY key DESC, doc_id ASC) AS rnk
        |  FROM k)
        |SELECT lang, doc_id, rnk::INT AS rank FROM r WHERE rnk <= 20""".stripMargin,

    // q100's logit CTEs + q32's rule battery as the label, histogram
    // first (score × label × n), then the 19-threshold sweep over it.
    "q129_threshold_calibration" -> (ToksCte +
      """
        |, m AS (
        |  SELECT doc_id, length(text) AS n, len(toks) AS nt,
        |    CASE WHEN len(toks) > 0 THEN
        |      list_sum(list_transform(toks, x -> length(x)))::DOUBLE
        |      / len(toks) END AS atl,
        |    CASE WHEN len(toks) > 0 THEN
        |      len(list_filter(toks, x -> list_contains(
        |        ['the','a','an','and','of','to','in','is','for','on','with'],
        |        x)))::DOUBLE / len(toks) END AS swr,
        |    CASE WHEN length(text) > 0 THEN
        |      length(regexp_replace(text, '[^A-Za-z]', '', 'g'))::DOUBLE
        |      / length(text) END AS ar
        |  FROM t),
        |sc AS (
        |  SELECT doc_id,
        |    round(1.0 / (1.0 + exp(-(-4.0 + 6.0 * coalesce(swr, 0) +
        |      3.0 * coalesce(ar, 0) + 0.3 * ln(1.0 + nt) -
        |      0.2 * abs(coalesce(atl, 0) - 5.0)))), 4) AS s,
        |    0.25 * (coalesce(n BETWEEN 100 AND 10000, false)::INT +
        |      coalesce(atl >= 3.0 AND atl <= 10.0, false)::INT +
        |      coalesce(swr >= 0.03, false)::INT +
        |      coalesce(ar >= 0.6, false)::INT) >= 0.75 AS y
        |  FROM m),
        |h AS (SELECT s, y, count(*) AS cnt FROM sc GROUP BY 1, 2),
        |th AS (SELECT i / 20.0 AS threshold FROM range(1, 20) r(i)),
        |agg AS (
        |  SELECT threshold,
        |    sum(CASE WHEN s >= threshold AND y THEN cnt ELSE 0 END)::BIGINT
        |      AS tp,
        |    sum(CASE WHEN s >= threshold AND NOT y THEN cnt ELSE 0 END)::BIGINT
        |      AS fp,
        |    sum(CASE WHEN s < threshold AND y THEN cnt ELSE 0 END)::BIGINT
        |      AS fn,
        |    sum(CASE WHEN s < threshold AND NOT y THEN cnt ELSE 0 END)::BIGINT
        |      AS tn
        |  FROM h, th GROUP BY threshold)
        |SELECT threshold, tp, fp, fn, tn,
        |  CASE WHEN tp + fp > 0 THEN tp::DOUBLE / (tp + fp) END AS precision,
        |  CASE WHEN tp + fn > 0 THEN tp::DOUBLE / (tp + fn) END AS recall,
        |  CASE WHEN tp + fp > 0 AND tp + fn > 0
        |       AND tp::DOUBLE / (tp + fp) + tp::DOUBLE / (tp + fn) > 0
        |    THEN 2.0 * (tp::DOUBLE / (tp + fp)) * (tp::DOUBLE / (tp + fn))
        |      / (tp::DOUBLE / (tp + fp) + tp::DOUBLE / (tp + fn)) END AS f1
        |FROM agg""".stripMargin),

    // q129's score/label CTEs + lang, collapsed to a per-(lang, score)
    // (n_pos, n_neg) histogram, then the doubled-integer Mann–Whitney
    // rank sum over the bucket table.
    "q132_quality_auc" -> (ToksCte +
      """
        |, m AS (
        |  SELECT t.doc_id, d.lang, length(t.text) AS n, len(toks) AS nt,
        |    CASE WHEN len(toks) > 0 THEN
        |      list_sum(list_transform(toks, x -> length(x)))::DOUBLE
        |      / len(toks) END AS atl,
        |    CASE WHEN len(toks) > 0 THEN
        |      len(list_filter(toks, x -> list_contains(
        |        ['the','a','an','and','of','to','in','is','for','on','with'],
        |        x)))::DOUBLE / len(toks) END AS swr,
        |    CASE WHEN length(t.text) > 0 THEN
        |      length(regexp_replace(t.text, '[^A-Za-z]', '', 'g'))::DOUBLE
        |      / length(t.text) END AS ar
        |  FROM t JOIN documents d USING (doc_id)),
        |sc AS (
        |  SELECT lang,
        |    round(1.0 / (1.0 + exp(-(-4.0 + 6.0 * coalesce(swr, 0) +
        |      3.0 * coalesce(ar, 0) + 0.3 * ln(1.0 + nt) -
        |      0.2 * abs(coalesce(atl, 0) - 5.0)))), 4) AS s,
        |    0.25 * (coalesce(n BETWEEN 100 AND 10000, false)::INT +
        |      coalesce(atl >= 3.0 AND atl <= 10.0, false)::INT +
        |      coalesce(swr >= 0.03, false)::INT +
        |      coalesce(ar >= 0.6, false)::INT) >= 0.75 AS y
        |  FROM m),
        |b AS (
        |  SELECT lang, s,
        |    sum(CASE WHEN y THEN 1 ELSE 0 END)::BIGINT AS np,
        |    sum(CASE WHEN NOT y THEN 1 ELSE 0 END)::BIGINT AS nn
        |  FROM sc GROUP BY 1, 2),
        |c AS (
        |  SELECT lang, np, nn,
        |    coalesce(sum(nn) OVER (PARTITION BY lang ORDER BY s
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
        |      AS cumneg
        |  FROM b)
        |SELECT lang, sum(np)::BIGINT AS n_pos, sum(nn)::BIGINT AS n_neg,
        |  CASE WHEN sum(np) > 0 AND sum(nn) > 0 THEN
        |    sum(np * (2 * cumneg + nn))::DOUBLE
        |      / (2.0 * sum(np) * sum(nn)) END AS auc
        |FROM c GROUP BY lang""".stripMargin),

    // q45's recursive closure labels + q62's md5-bucket split, drawn on
    // the cluster label.
    "q130_leakage_safe_split" ->
      """WITH RECURSIVE toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS t
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, unnest(CASE WHEN len(t) >= 3 THEN
        |      list_distinct(list_transform(range(1, len(t) - 1),
        |        i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
        |    ELSE [array_to_string(t, ' ')] END) AS s
        |  FROM toks),
        |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        |ix AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |pairs AS (
        |  SELECT doc_a, doc_b FROM ix
        |  JOIN sz sa ON doc_a = sa.doc_id
        |  JOIN sz sb ON doc_b = sb.doc_id
        |  WHERE i::DOUBLE / (sa.n + sb.n - i) >= 0.8),
        |edges AS (
        |  SELECT doc_a AS s, doc_b AS t FROM pairs
        |  UNION ALL SELECT doc_b, doc_a FROM pairs),
        |reach(s, t) AS (
        |  SELECT s, t FROM edges
        |  UNION
        |  SELECT r.s, e.t FROM reach r JOIN edges e ON r.t = e.s),
        |lbl AS (
        |  SELECT s AS doc_id, least(s, min(t)) AS cluster
        |  FROM reach GROUP BY s),
        |key AS (
        |  SELECT d.doc_id, coalesce(l.cluster, d.doc_id) AS split_key
        |  FROM documents d LEFT JOIN lbl l USING (doc_id)),
        |b AS (
        |  SELECT doc_id, split_key,
        |    ('0x' || substr(md5(split_key::VARCHAR), 1, 15))::BIGINT % 100
        |      AS bucket
        |  FROM key)
        |SELECT doc_id, split_key, bucket,
        |  CASE WHEN bucket < 90 THEN 'train'
        |       WHEN bucket < 95 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM b""".stripMargin,

    // scale = list_max(|v|)/127, code = floor(v/scale + 0.5) — identical
    // IEEE arithmetic; checksums are exact integers through the double
    // accumulator (|code| <= 127, dim-bounded sums << 2^53).
    "q127_quantize_int8" ->
      """WITH b AS (
        |  SELECT vec_id, embedding,
        |    coalesce(list_max(list_transform(embedding,
        |      x -> abs(x::DOUBLE))), 0.0) / 127.0 AS scale
        |  FROM embeddings),
        |c AS (
        |  SELECT vec_id, scale,
        |    CASE WHEN scale > 0 THEN
        |      list_transform(embedding,
        |        x -> floor(x::DOUBLE / scale + 0.5)::INT)
        |    ELSE list_transform(embedding, x -> 0) END AS codes
        |  FROM b)
        |SELECT vec_id, scale, len(codes)::INT AS n_codes,
        |  list_min(codes) AS code_min, list_max(codes) AS code_max,
        |  list_sum(list_transform(codes, x -> x::BIGINT * x))::BIGINT
        |    AS sumsq,
        |  list_sum(list_transform(range(1, len(codes) + 1),
        |    i -> codes[i]::BIGINT * i))::BIGINT AS poschk
        |FROM c""".stripMargin,

    // Length-bucketed dynamic batching (round 15): the padding-
    // efficiency layout for non-concatenating (fine-tuning/seq2seq)
    // loaders — q78's packSequences is the pretraining concat shape,
    // this is its padded-batch complement. Pure hash + window integer
    // arithmetic — engine-exact, full value oracle.
    "q148_bucket_batches" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    len(list_filter(string_split_regex(text, '\s+'), x -> x <> ''))
        |      ::BIGINT AS n_tokens
        |  FROM documents),
        |b AS (
        |  SELECT doc_id, n_tokens,
        |    (n_tokens + 63) // 64 AS bucket,
        |    ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT AS hv
        |  FROM t WHERE n_tokens IS NOT NULL AND n_tokens >= 0),
        |r AS (
        |  SELECT doc_id, n_tokens, bucket, (hv % 4)::INT AS shard,
        |    row_number() OVER (PARTITION BY bucket, hv % 4
        |      ORDER BY hv ASC, doc_id ASC) - 1 AS rn
        |  FROM b),
        |c AS (
        |  SELECT doc_id, n_tokens, bucket, shard,
        |    (rn // 8)::INT AS batch_idx, (rn % 8)::INT AS pos_in_batch
        |  FROM r)
        |SELECT doc_id, n_tokens, bucket, shard, batch_idx, pos_in_batch,
        |  max(n_tokens) OVER (PARTITION BY bucket, shard, batch_idx)
        |    AS padded_to,
        |  max(n_tokens) OVER (PARTITION BY bucket, shard, batch_idx)
        |    - n_tokens AS pad_waste
        |FROM c""".stripMargin,

    // The composed pipeline: q90's verdict CTEs verbatim → kept set →
    // q130's shingle/closure/split CTEs restricted to kept → train →
    // q121's mix CTEs over train-token shares → q131's (id:epoch) hash
    // order → q78's pack arithmetic per shard in pos order. Every block
    // is an already-green oracle, chained; renames only where CTE names
    // would collide (r→calm, pairs→kpairs etc.).
    "q147_training_pipeline" -> (MixPrefixSql + "\n" + ShardLayoutSql),

    // q172 = q165's verdict chain grouped by host with exact counts.
    "q172_web_curation_report" -> (urlNormCtes(WebSpamFixtureSql,
        "WITH RECURSIVE ") + "," + WebVerdictCtes +
      """,
        |hv AS (
        |  SELECT n.host, w.reason
        |  FROM w JOIN norm n ON n.doc_id = w.doc_id)
        |SELECT host, count(*)::BIGINT AS docs,
        |  sum(CASE WHEN reason IS NULL THEN 1 ELSE 0 END)::BIGINT AS kept,
        |  sum(CASE WHEN reason = 'blocked_host' THEN 1 ELSE 0 END)::BIGINT
        |    AS n_blocked_host,
        |  sum(CASE WHEN reason = 'url_duplicate' THEN 1 ELSE 0 END)::BIGINT
        |    AS n_url_duplicate,
        |  sum(CASE WHEN reason = 'spam_host' THEN 1 ELSE 0 END)::BIGINT
        |    AS n_spam_host,
        |  sum(CASE WHEN reason IS NOT NULL AND reason NOT IN
        |    ('blocked_host', 'url_duplicate', 'spam_host')
        |    THEN 1 ELSE 0 END)::BIGINT AS n_content,
        |  sum(CASE WHEN reason IS NULL THEN 1 ELSE 0 END)::DOUBLE
        |    / count(*)::DOUBLE AS keep_frac
        |FROM hv GROUP BY host""".stripMargin),

    // q166 = q165's web verdict CTEs (keep-list = web-kept) chained into
    // the SAME split/mix + shard-layout CTE suffixes q147 uses — the
    // crawl front door swaps in, everything downstream is shared.
    "q166_crawl_shards" -> (WebMixPrefixSql + "\n" + ShardLayoutSql),

    // q168 = the same web mix prefix laid out as q149's padded batches —
    // the fourth corner of the composition matrix (curate|curateWeb ×
    // pack|batch), every CTE block shared with its three siblings.
    "q168_crawl_batches" -> (WebMixPrefixSql + "\n" + BatchLayoutSql),

    // q149 = the SAME prefix (curate -> leakage-safe split -> mix over
    // the capped-LSH fixture) laid out as q148's padded batches, keyed
    // on the (id:epoch) composite hash - engine-exact integer/window
    // arithmetic, full value oracle.
    "q149_batch_pipeline" -> (MixPrefixSql + "\n" + BatchLayoutSql),

    // q150 = q125's dedup shape with the NFKC-fold kernel: the oracle
    // folds by inverse-translating exactly the planted characters
    // (identity on the pure-ASCII organic corpus), then the q125
    // aggressive-normalize chain verbatim.
    "q150_unicode_dedup" ->
      """WITH base AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 600000, translate(text, 'ae', 'áé')
        |  FROM documents WHERE doc_id % 10 = 0
        |  UNION ALL
        |  SELECT doc_id + 700000, translate(text,
        |    'abcdefghijklmnopqrstuvwxyz',
        |    'ａｂｃｄｅｆｇｈｉｊｋｌｍｎｏｐｑｒｓｔｕｖｗｘｙｚ')
        |  FROM documents WHERE doc_id % 10 = 5),
        |folded AS (
        |  SELECT doc_id, translate(text,
        |    'áéａｂｃｄｅｆｇｈｉｊｋｌｍｎｏｐｑｒｓｔｕｖｗｘｙｚ',
        |    'aeabcdefghijklmnopqrstuvwxyz') AS ft
        |  FROM base),
        |fp AS (
        |  SELECT doc_id, md5(trim(regexp_replace(regexp_replace(
        |    regexp_replace(lower(ft), '[^\p{L}\p{N}\s]', '', 'g'),
        |    '\p{N}', '0', 'g'), '\s+', ' ', 'g'))) AS f
        |  FROM folded),
        |c AS (SELECT f, min(doc_id) AS canonical_id FROM fp GROUP BY f)
        |SELECT fp.doc_id, c.canonical_id,
        |       fp.doc_id <> c.canonical_id AS is_dup
        |FROM fp JOIN c USING (f)""".stripMargin,

    // q101's perdom/tot CTEs, then the quantized-power normalization:
    // q_i = round(sqrt(obs_i)*1e6)::BIGINT makes the denominator an
    // exact integer sum (order-free in both engines) and target_share
    // one correctly-rounded division — the operator's documented
    // 1e-6-quantization semantic, not an approximation of it.
    "q151_temperature_mix" -> (ToksCte +
      """
        |, perdom AS (
        |  SELECT d.source, count(*) AS docs, sum(len(toks))::BIGINT AS tokens
        |  FROM t JOIN documents d USING (doc_id) GROUP BY d.source),
        |tot AS (SELECT sum(tokens)::BIGINT AS total FROM perdom),
        |q AS (
        |  SELECT source, docs, tokens,
        |    tokens::DOUBLE / total::DOUBLE AS obs,
        |    round(sqrt(tokens::DOUBLE / total::DOUBLE) * 1e6)::BIGINT AS qs
        |  FROM perdom, tot),
        |den AS (SELECT sum(qs)::BIGINT AS denom FROM q)
        |SELECT source, docs, tokens, round(obs, 6) AS obs_share,
        |  round(qs::DOUBLE / denom::DOUBLE, 6) AS target_share,
        |  round(least((qs::DOUBLE / denom::DOUBLE) / obs, 4.0), 6)
        |    AS sampling_weight
        |FROM q, den""".stripMargin),

    // q40's CTEs with the label-mismatch predicate (SQL <> is
    // null-rejecting, matching the operator's =!= semantics).
    "q152_hard_negatives" ->
      """WITH q AS (
        |  SELECT vec_id AS query_id, embedding AS qe, label AS ql
        |  FROM embeddings WHERE vec_id < 10),
        |sims AS (
        |  SELECT q.query_id, e.vec_id AS neighbor_id,
        |    list_sum(list_transform(range(1, len(q.qe) + 1),
        |      i -> q.qe[i]::DOUBLE * e.embedding[i]::DOUBLE)) /
        |    (sqrt(list_sum(list_transform(range(1, len(q.qe) + 1),
        |      i -> q.qe[i]::DOUBLE * q.qe[i]::DOUBLE))) *
        |     sqrt(list_sum(list_transform(range(1, len(e.embedding) + 1),
        |      i -> e.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE)))) AS sim
        |  FROM q, embeddings e
        |  WHERE e.vec_id <> q.query_id AND e.label <> q.ql),
        |ranked AS (
        |  SELECT query_id, neighbor_id, sim,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY sim DESC, neighbor_id) AS rank
        |  FROM sims)
        |SELECT query_id, neighbor_id, rank, round(sim, 4) AS sim
        |FROM ranked WHERE rank <= 5""".stripMargin,

    // Exact all-pairs 5-NN (q39's scale class) -> label-agreement
    // aggregate; purity is an exact int/int division, ::BIGINT casts
    // align DuckDB's HUGEINT sum with Spark's long.
    "q153_knn_purity" ->
      """WITH sims AS (
        |  SELECT a.vec_id AS qid, a.label AS ql,
        |    b.vec_id AS nid, b.label AS nl,
        |    list_sum(list_transform(range(1, len(a.embedding) + 1),
        |      i -> a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE)) /
        |    (sqrt(list_sum(list_transform(range(1, len(a.embedding) + 1),
        |      i -> a.embedding[i]::DOUBLE * a.embedding[i]::DOUBLE))) *
        |     sqrt(list_sum(list_transform(range(1, len(b.embedding) + 1),
        |      i -> b.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE)))) AS sim
        |  FROM embeddings a, embeddings b WHERE a.vec_id <> b.vec_id),
        |ranked AS (
        |  SELECT qid, ql, nl, sim,
        |    row_number() OVER (PARTITION BY qid
        |      ORDER BY sim DESC, nid) AS rank
        |  FROM sims)
        |SELECT qid AS vec_id, ql AS label,
        |  sum(CASE WHEN nl = ql THEN 1 ELSE 0 END)::BIGINT AS agree,
        |  count(*)::BIGINT AS k_used,
        |  round(sum(CASE WHEN nl = ql THEN 1 ELSE 0 END)::DOUBLE
        |    / count(*)::DOUBLE, 4) AS purity
        |FROM ranked WHERE rank <= 5
        |GROUP BY qid, ql""".stripMargin,

    // q154 = q134's dictionary loop with the final merge applied, then
    // the corpus re-assembled through the word→pieces join — the same
    // two-scan shape as the operator.
    "q154_bpe_encode" -> bpeEncodeOracle(rounds = 3),

    // q155 = exact all-pairs word-3-shingle Jaccard between the corpus
    // and the planted benchmark (q128's CTE shape), aggregated to the
    // per-doc best-match audit row — the LSH path must lose nothing.
    // q162 = the span chain over the two-class benchmark, then the q80
    // 13-shingle EXISTS and the q155 exact-Jaccard best-match chains
    // against the SAME bench, folded per doc.
    "q162_decontamination_report" -> (spanCteCore(
      """SELECT doc_id + 1000000, 'b', 'zq ' || substr(text, 31, 220)
        |  FROM documents WHERE doc_id % 22 = 0 AND length(text) >= 300
        |  UNION ALL
        |  SELECT doc_id + 2000000, 'b', text || ' zq7f'
        |  FROM documents WHERE doc_id % 25 = 0""".stripMargin) +
      """,
        |spagg AS (
        |  SELECT doc_id, count(*)::BIGINT AS n_spans,
        |    sum(span_chars)::BIGINT AS span_chars_total
        |  FROM sp WHERE span_chars >= 64 GROUP BY doc_id),
        |bench AS (
        |  SELECT doc_id + 1000000 AS bench_id,
        |    'zq ' || substr(text, 31, 220) AS text
        |  FROM documents WHERE doc_id % 22 = 0 AND length(text) >= 300
        |  UNION ALL
        |  SELECT doc_id + 2000000, text || ' zq7f'
        |  FROM documents WHERE doc_id % 25 = 0),
        |bt13 AS (
        |  SELECT list_filter(string_split_regex(text, '\s+'), x -> x <> '')
        |    AS t FROM bench),
        |bg13 AS (
        |  SELECT DISTINCT unnest(CASE WHEN len(t) >= 13 THEN
        |      list_distinct(list_transform(range(1, len(t) - 11), i ->
        |        array_to_string(list_slice(t, i, i + 12), ' ')))
        |    ELSE [array_to_string(t, ' ')] END) AS g
        |  FROM bt13),
        |dt13 AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS t
        |  FROM documents),
        |dg13 AS (
        |  SELECT doc_id, unnest(CASE WHEN len(t) >= 13 THEN
        |      list_distinct(list_transform(range(1, len(t) - 11), i ->
        |        array_to_string(list_slice(t, i, i + 12), ' ')))
        |    ELSE [array_to_string(t, ' ')] END) AS g
        |  FROM dt13),
        |ex AS (SELECT DISTINCT doc_id FROM dg13 JOIN bg13 USING (g)),
        |fbt AS (
        |  SELECT bench_id,
        |    list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS t
        |  FROM bench),
        |fcsh AS (
        |  SELECT doc_id, unnest(CASE WHEN len(t) >= 3 THEN
        |      list_distinct(list_transform(range(1, len(t) - 1),
        |        i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
        |    ELSE [array_to_string(t, ' ')] END) AS s
        |  FROM dt13),
        |fbsh AS (
        |  SELECT bench_id, unnest(CASE WHEN len(t) >= 3 THEN
        |      list_distinct(list_transform(range(1, len(t) - 1),
        |        i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
        |    ELSE [array_to_string(t, ' ')] END) AS s
        |  FROM fbt),
        |fcsz AS (SELECT doc_id, count(*) AS n FROM fcsh GROUP BY doc_id),
        |fbsz AS (SELECT bench_id, count(*) AS n FROM fbsh GROUP BY bench_id),
        |fix AS (
        |  SELECT c.doc_id, b.bench_id, count(*) AS i
        |  FROM fcsh c JOIN fbsh b ON c.s = b.s
        |  GROUP BY 1, 2),
        |fpair AS (
        |  SELECT fix.doc_id, fix.bench_id,
        |    round(i::DOUBLE / (cs.n + bs.n - i), 4) AS j
        |  FROM fix
        |  JOIN fcsz cs ON fix.doc_id = cs.doc_id
        |  JOIN fbsz bs ON fix.bench_id = bs.bench_id
        |  WHERE i::DOUBLE / (cs.n + bs.n - i) >= 0.8),
        |fbest AS (
        |  SELECT doc_id, bench_id, j, row_number() OVER (
        |    PARTITION BY doc_id ORDER BY j DESC, bench_id ASC) AS rn
        |  FROM fpair)
        |SELECT d.doc_id,
        |  (ex.doc_id IS NOT NULL) AS exact,
        |  fb.bench_id AS fuzzy_bench, fb.j AS fuzzy_jaccard,
        |  coalesce(spagg.n_spans, 0) AS n_spans,
        |  coalesce(spagg.span_chars_total, 0) AS span_chars_total,
        |  ((ex.doc_id IS NOT NULL) OR fb.bench_id IS NOT NULL
        |    OR coalesce(spagg.n_spans, 0) > 0) AS contaminated
        |FROM documents d
        |LEFT JOIN ex ON ex.doc_id = d.doc_id
        |LEFT JOIN (SELECT * FROM fbest WHERE rn = 1) fb
        |  ON fb.doc_id = d.doc_id
        |LEFT JOIN spagg ON spagg.doc_id = d.doc_id""".stripMargin),

    "q158_span_decontaminate" -> (SpanDecontCte +
      """
        |SELECT doc_id, bench_id, doc_start, bench_start, span_chars
        |FROM sp WHERE span_chars >= 64""".stripMargin),

    // q159 = q158's spans interval-merged per doc (s <= running max(e)
    // islands — the windowed equivalent of the operator's sorted fold)
    // and the kept segments stitched back with substr arithmetic.
    "q159_span_excise" -> (SpanDecontCte +
      """,
        |sp2 AS (SELECT * FROM sp WHERE span_chars >= 64),
        |iv AS (
        |  SELECT doc_id, doc_start AS s, doc_start + span_chars AS e
        |  FROM sp2),
        |mk AS (
        |  SELECT doc_id, s, e,
        |    CASE WHEN s <= max(e) OVER (PARTITION BY doc_id
        |      ORDER BY s, e ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND 1 PRECEDING) THEN 0 ELSE 1 END AS brk
        |  FROM iv),
        |gi AS (
        |  SELECT doc_id, s, e,
        |    sum(brk) OVER (PARTITION BY doc_id ORDER BY s, e
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS gid2
        |  FROM mk),
        |mrg AS (SELECT doc_id, min(s) AS s, max(e) AS e
        |  FROM gi GROUP BY doc_id, gid2),
        |seg AS (
        |  SELECT doc_id, s, e,
        |    coalesce(lag(e) OVER (PARTITION BY doc_id ORDER BY s), 1)
        |      AS frm
        |  FROM mrg),
        |parts AS (
        |  SELECT seg.doc_id,
        |    string_agg(substr(d.text, seg.frm::INT,
        |      (seg.s - seg.frm)::INT), '' ORDER BY seg.s) AS head,
        |    max(seg.e)::INT AS laste,
        |    sum(seg.e - seg.s)::INT AS cut
        |  FROM seg JOIN documents d ON d.doc_id = seg.doc_id
        |  GROUP BY seg.doc_id)
        |SELECT d.doc_id,
        |  CASE WHEN p.doc_id IS NULL THEN d.text
        |       ELSE p.head || substr(d.text, p.laste) END AS text,
        |  coalesce(p.cut, 0) AS n_excised_chars
        |FROM documents d LEFT JOIN parts p ON p.doc_id = d.doc_id"""
        .stripMargin),

    // q171 = the keep-first-per-normalized-key semantics as a
    // min-ordinal window over the exploded lines (the declarative twin
    // of the Spark side's per-row fold — same semantics, different
    // mechanics, so the gate is implementation-independent).
    "q171_line_dedup" ->
      raw"""WITH base AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 950000,
        |    'Home | About | Contact | Privacy | Terms' || chr(10) ||
        |    text || chr(10) ||
        |    'Home | About | Contact | Privacy | Terms' || chr(10) ||
        |    '  ' || 'Home | About | Contact | Privacy | Terms' ||
        |    chr(10) ||
        |    'Copyright 2024 Example Site All Rights Reserved' ||
        |    chr(10) ||
        |    'Copyright 2024 Example Site All Rights Reserved'
        |  FROM documents WHERE doc_id % 30 = 0),
        |l AS (
        |  SELECT doc_id, generate_subscripts(ls, 1) AS ord,
        |    unnest(ls) AS line
        |  FROM (SELECT doc_id, string_split(text, chr(10)) AS ls
        |        FROM base)),
        |k AS (
        |  SELECT doc_id, ord, line,
        |    lower(regexp_replace(trim(line), '\s+', ' ', 'g')) AS key
        |  FROM l),
        |kept AS (
        |  SELECT doc_id, ord, line FROM (
        |    SELECT doc_id, ord, line, key,
        |      min(ord) OVER (PARTITION BY doc_id, key) AS mo
        |    FROM k) WHERE key = '' OR ord = mo),
        |agg AS (
        |  SELECT doc_id,
        |    string_agg(line, chr(10) ORDER BY ord) AS text,
        |    count(*)::BIGINT AS kept_n
        |  FROM kept GROUP BY doc_id),
        |tot AS (
        |  SELECT doc_id, len(string_split(text, chr(10)))::BIGINT
        |    AS n_lines
        |  FROM base)
        |SELECT b.doc_id, a.text, t.n_lines::INT AS n_lines,
        |  (t.n_lines - a.kept_n)::INT AS n_dropped
        |FROM base b JOIN agg a USING (doc_id) JOIN tot t USING (doc_id)"""
        .stripMargin,

    // q170 = SpanDecontCte (span localization) + the curate chain run
    // TWICE via curateCtesPrefixed (a_ = raw corpus, b_ = patched) with
    // q159's interval-merge/stitch in between, restricted to the pass-1
    // contaminated set; the bench tokenizer is the span fixture on both
    // passes so excision provably targets what the flag fired on.
    "q170_curate_excise" -> (SpanDecontCte + ",\n" +
      curateCtesPrefixed("a_", "SELECT doc_id, text FROM documents",
        SpanBenchBtBody) + ",\n" +
      """cont AS (SELECT doc_id FROM a_v WHERE reason = 'contaminated'),
        |sp2 AS (
        |  SELECT sp.* FROM sp JOIN cont USING (doc_id)
        |  WHERE span_chars >= 64),
        |iv AS (
        |  SELECT doc_id, doc_start AS s, doc_start + span_chars AS e
        |  FROM sp2),
        |mk AS (
        |  SELECT doc_id, s, e,
        |    CASE WHEN s <= max(e) OVER (PARTITION BY doc_id
        |      ORDER BY s, e ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND 1 PRECEDING) THEN 0 ELSE 1 END AS brk
        |  FROM iv),
        |gi AS (
        |  SELECT doc_id, s, e,
        |    sum(brk) OVER (PARTITION BY doc_id ORDER BY s, e
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS gid2
        |  FROM mk),
        |mrg AS (SELECT doc_id, min(s) AS s, max(e) AS e
        |  FROM gi GROUP BY doc_id, gid2),
        |seg AS (
        |  SELECT doc_id, s, e,
        |    coalesce(lag(e) OVER (PARTITION BY doc_id ORDER BY s), 1)
        |      AS frm
        |  FROM mrg),
        |parts AS (
        |  SELECT seg.doc_id,
        |    string_agg(substr(d.text, seg.frm::INT,
        |      (seg.s - seg.frm)::INT), '' ORDER BY seg.s) AS head,
        |    max(seg.e)::INT AS laste,
        |    sum(seg.e - seg.s)::INT AS cut
        |  FROM seg JOIN documents d ON d.doc_id = seg.doc_id
        |  GROUP BY seg.doc_id),
        |patched AS (
        |  SELECT d.doc_id,
        |    CASE WHEN p.doc_id IS NULL THEN d.text
        |         ELSE p.head || substr(d.text, p.laste) END AS text,
        |    ct.doc_id IS NOT NULL AS excised,
        |    coalesce(p.cut, 0) AS n_excised_chars
        |  FROM documents d
        |  LEFT JOIN cont ct ON ct.doc_id = d.doc_id
        |  LEFT JOIN parts p ON p.doc_id = d.doc_id),
        |""".stripMargin +
      curateCtesPrefixed("b_", "SELECT doc_id, text FROM patched",
        SpanBenchBtBody) +
      """
        |SELECT p.doc_id, bv.reason IS NULL AS keep, bv.reason,
        |  p.excised, p.n_excised_chars, p.text
        |FROM patched p JOIN b_v bv ON bv.doc_id = p.doc_id"""
        .stripMargin),

    // q156/q157 = the urlFixture strings regenerated from doc_id
    // arithmetic, then normalizeUrl replayed STEP FOR STEP (fragment,
    // scheme/host case, default port, tracking params + bytewise param
    // sort, trailing slash) — the same RE2∩Java regexes both engines.
    "q156_url_dedup" -> (UrlNormCte +
      """
        |SELECT doc_id,
        |  min(doc_id) OVER (PARTITION BY nurl) AS canonical_id,
        |  doc_id <> min(doc_id) OVER (PARTITION BY nurl) AS is_dup
        |FROM norm""".stripMargin),

    // q160 = the host's label-suffix chain against the literal blocklist.
    "q160_host_blocklist" -> (UrlNormCte +
      """,
        |sfx AS (
        |  SELECT doc_id,
        |    unnest(list_transform(
        |      range(1, len(string_split(host, '.')) + 1),
        |      i -> array_to_string(list_slice(string_split(host, '.'),
        |        i, len(string_split(host, '.'))), '.'))) AS dom
        |  FROM norm WHERE host IS NOT NULL),
        |blk AS (SELECT DISTINCT doc_id FROM sfx
        |  WHERE dom IN ('h7.example.com', 'h13.example.com',
        |    'example.org'))
        |SELECT n.doc_id, n.host, (b.doc_id IS NOT NULL) AS blocked
        |FROM norm n LEFT JOIN blk b ON b.doc_id = n.doc_id"""
        .stripMargin),

    "q157_host_reputation" -> (UrlNormCte +
      """,
        |dup AS (
        |  SELECT doc_id, host,
        |    doc_id <> min(doc_id) OVER (PARTITION BY nurl) AS is_dup
        |  FROM norm),
        |ha AS (
        |  SELECT host, count(*)::BIGINT AS host_docs,
        |    sum(is_dup::INT)::BIGINT AS host_dups
        |  FROM dup WHERE host IS NOT NULL GROUP BY host)
        |SELECT d.doc_id, d.host, d.is_dup, ha.host_docs, ha.host_dups,
        |  ha.host_dups::DOUBLE / ha.host_docs::DOUBLE AS dup_frac,
        |  coalesce(ha.host_dups::DOUBLE / ha.host_docs::DOUBLE > 0.3,
        |    false) AS spam_host
        |FROM dup d LEFT JOIN ha ON d.host = ha.host""".stripMargin),

    // q173/q174 = the HLL register pipeline replayed literally: md5
    // 60-bit hash, bucket = top 10 bits, register = rho of the 50-bit
    // tail via length(bin(tail)) (exact integer/string arithmetic),
    // harmonic sum as scaled longs, the one double expression mirrored
    // association for association (ln's final ulp absorbed by round 4 —
    // q95's precedent). q174's oracle sketches the WHOLE table in one
    // pass, so it additionally proves merge ≡ recompute.
    "q173_hll_distinct" ->
      hllOracleSql("events", "event_type", "user_id::VARCHAR"),
    "q174_hll_merge" ->
      hllOracleSql("documents", "source", "text"),

    // q176 = per-day registers fanned out to the 7 target days each
    // contributes to (BETWEEN join ≡ the Spark side's
    // explode(sequence)+semi-join), max-merged per target, then the
    // shared estimate tail; target days are the days observed anywhere
    // in the table. epoch_ns // 86400e9 is exact integer day indexing
    // (the q145 epoch_ns convention).
    "q176_rolling_distinct" ->
      (s"""WITH h AS (
         |  SELECT event_type, (epoch_ns(ts) // 86400000000000) AS day,
         |    ('0x' || substr(md5(user_id::VARCHAR), 1, 15))::BIGINT AS hv
         |  FROM events WHERE user_id IS NOT NULL),
         |r0 AS (
         |  SELECT event_type, day, hv >> 50 AS bucket,
         |    max($HllRhoSql) AS register
         |  FROM h GROUP BY event_type, day, hv >> 50),
         |d AS (SELECT DISTINCT (epoch_ns(ts) // 86400000000000) AS day
         |  FROM events),
         |reg AS (
         |  SELECT r0.event_type, t.day AS day, r0.bucket,
         |    max(r0.register) AS register
         |  FROM r0 JOIN d t ON t.day BETWEEN r0.day AND r0.day + 6
         |  GROUP BY r0.event_type, t.day, r0.bucket),
         |""".stripMargin + hllEstimateTail("event_type, day")),

    // q179/q180 = the KMV pipeline replayed: bottom-k DISTINCT hashes
    // per group via a row_number window over the distinct hash set
    // (≡ the Spark side's bounded minKDistinct buffer), the
    // (k−1)·2⁶⁰/U₍k₎ estimator mirrored literally (2⁶⁰ =
    // 1152921504606846976, exactly representable), the exact branch
    // when the sketch swallowed the whole set. q180 chains union /
    // common-sample counting / Jaccard / intersection off the two
    // per-set sketches, est_union reused ROUNDED exactly as the Spark
    // side does.
    // q182 = the CMS grid replayed literally: per (token, hash row) the
    // md5 column index, exact counter sums, min-of-depth-counters point
    // estimates for the exact top-30 probe set.
    "q182_cms_freq" ->
      """WITH dt AS (
        |  SELECT unnest(list_filter(string_split_regex(text, '\s+'),
        |    x -> x <> '')) AS tok
        |  FROM documents),
        |rr AS (SELECT unnest(range(0, 4)) AS r),
        |cms AS (
        |  SELECT r,
        |    ('0x' || substr(md5(tok || ':' || r::VARCHAR), 1, 15))::BIGINT
        |      % 512 AS c,
        |    count(*)::BIGINT AS cnt
        |  FROM dt CROSS JOIN rr GROUP BY 1, 2),
        |top AS (
        |  SELECT tok, count(*)::BIGINT AS true_cnt FROM dt GROUP BY tok
        |  ORDER BY true_cnt DESC, tok LIMIT 30),
        |pe AS (
        |  SELECT t.tok, t.true_cnt, rr.r,
        |    ('0x' || substr(md5(t.tok || ':' || rr.r::VARCHAR),
        |      1, 15))::BIGINT % 512 AS c
        |  FROM top t CROSS JOIN rr)
        |SELECT pe.tok, pe.true_cnt,
        |  min(coalesce(cms.cnt, 0))::BIGINT AS est_cnt
        |FROM pe LEFT JOIN cms ON cms.r = pe.r AND cms.c = pe.c
        |GROUP BY pe.tok, pe.true_cnt""".stripMargin,

    // q181 = the quantized PageRank update unrolled 5 rounds over the
    // prefixed customer→supplier edge list.
    "q181_pagerank" -> pageRankOracle(
      """SELECT DISTINCT 'c' || o_custkey AS src, 's' || l_suppkey AS dst
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey"""
        .stripMargin,
      iterations = 5, damping = 0.85),

    // q233 = the same interleave in closed form: bit b of dim i lands
    // at position b·k + (k−1−i) under the MSB-first fold, so the key is
    // the OR of 63 positioned (disjoint) bits — kept FLAT because
    // DuckDB's binder caps expression nesting at 128 and the literal
    // 63-step fold replay exceeds it (left-deep OR chains of 63 terms
    // bind fine).
    "q233_zorder3_key" -> {
      val terms = for (b <- 20 to 0 by -1; (c, i) <- Seq("a", "b", "c").zipWithIndex)
        yield s"((($c >> $b) & 1) << ${b * 3 + (2 - i)})"
      s"""WITH d AS (
         |  SELECT l_orderkey, l_partkey, l_linenumber, l_suppkey,
         |    (l_orderkey % 2048)::BIGINT AS a,
         |    (l_partkey % 2048)::BIGINT AS b,
         |    (l_suppkey % 2048)::BIGINT AS c
         |  FROM lineitem)
         |SELECT l_orderkey, l_partkey, l_linenumber, l_suppkey,
         |  ${terms.mkString(" | ")} AS z_key
         |FROM d""".stripMargin
    },

    // q232 = the warm phase over the o_orderkey%4<>3 subgraph, the
    // 1/n-coalesce bridge onto the full node spine, and the resume
    // rounds over the full graph, in one chained replay.
    "q232_resume_pagerank" -> resumePageRankOracle(
      """SELECT DISTINCT 'c' || o_custkey AS src, 's' || l_suppkey AS dst
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE o_orderkey % 4 <> 3""".stripMargin,
      """SELECT DISTINCT 'c' || o_custkey AS src, 's' || l_suppkey AS dst
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey"""
        .stripMargin,
      warmRounds = 3, resumeRounds = 2, damping = 0.85),

    // q184 = the same predicates under the same NULL-is-a-violation
    // coalesce, one aggregate row unpivoted per rule.
    "q184_expectations" ->
      """WITH a AS (
        |  SELECT count(*)::BIGINT AS n,
        |    sum(CASE WHEN coalesce(l_quantity > 0, false)
        |      THEN 0 ELSE 1 END)::BIGINT AS v0,
        |    sum(CASE WHEN coalesce(l_discount <= 0.08, false)
        |      THEN 0 ELSE 1 END)::BIGINT AS v1,
        |    sum(CASE WHEN coalesce(l_shipdate IS NOT NULL, false)
        |      THEN 0 ELSE 1 END)::BIGINT AS v2,
        |    sum(CASE WHEN coalesce(l_tax / nullif(l_discount, 0) <= 2,
        |      false) THEN 0 ELSE 1 END)::BIGINT AS v3
        |  FROM lineitem),
        |u AS (
        |  SELECT 'quantity_positive' AS rule, n, v0 AS v FROM a
        |  UNION ALL SELECT 'discount_cap', n, v1 FROM a
        |  UNION ALL SELECT 'shipdate_present', n, v2 FROM a
        |  UNION ALL SELECT 'tax_ratio_sane', n, v3 FROM a)
        |SELECT rule, n AS n_rows, v AS n_violations,
        |  CASE WHEN n > 0 THEN round(v::DOUBLE / n::DOUBLE, 6) END
        |    AS violation_frac,
        |  v = 0 AS passed
        |FROM u""".stripMargin,

    // q185 = the same blocking self-join (DuckDB's levenshtein is the
    // same unit-cost edit distance as Spark's), then the q45 recursive-
    // closure discipline over the match edges and the size join.
    "q185_entity_resolution" ->
      s"""WITH RECURSIVE $LinkageBaseCte,
         |pairs AS (
         |  SELECT a.c_custkey AS pa, b.c_custkey AS pb
         |  FROM base a JOIN base b
         |    ON a.c_nationkey = b.c_nationkey
         |   AND a.c_mktsegment = b.c_mktsegment
         |   AND length(a.c_name) = length(b.c_name)
         |   AND a.c_custkey < b.c_custkey
         |   AND a.c_acctbal = b.c_acctbal
         |  WHERE levenshtein(a.c_name, b.c_name) <= 2),
         |$LinkageClosureCte
         |SELECT m.rec_id, m.entity_id, sz.n_members
         |FROM m JOIN sz USING (entity_id)""".stripMargin,

    // q187 = q185's verification and closure, candidates from the
    // global name-rank window instead (row_number mirror of the
    // two-pass distributed rank).
    "q187_sorted_neighborhood" ->
      s"""WITH RECURSIVE $LinkageBaseCte,
         |rk AS (
         |  SELECT base.*,
         |    row_number() OVER (ORDER BY c_name, c_custkey) - 1 AS rnk
         |  FROM base),
         |pairs AS (
         |  SELECT a.c_custkey AS pa, b.c_custkey AS pb
         |  FROM rk a JOIN rk b ON b.rnk - a.rnk BETWEEN 1 AND 7
         |  WHERE levenshtein(a.c_name, b.c_name) <= 2
         |    AND a.c_acctbal = b.c_acctbal),
         |$LinkageClosureCte
         |SELECT m.rec_id, m.entity_id, sz.n_members
         |FROM m JOIN sz USING (entity_id)""".stripMargin,

    // q188 = the same block-size aggregate, window closed form, match
    // joins, and truth semi joins; the two ratios are single IEEE
    // divisions of exact ints on both sides.
    "q188_linkage_quality" ->
      s"""WITH $LinkageBaseCte,
         |truth AS (
         |  SELECT c_custkey AS pa, c_custkey + 1000000 AS pb
         |  FROM customer WHERE c_custkey % 20 = 3
         |  UNION ALL SELECT c_custkey, c_custkey + 2000000
         |  FROM customer WHERE c_custkey % 40 = 7),
         |n AS (SELECT count(*)::BIGINT AS n_records FROM base),
         |nt AS (SELECT count(*)::BIGINT AS n_true FROM truth),
         |candb AS (
         |  SELECT coalesce(sum((c * (c - 1) / 2)::BIGINT), 0)::BIGINT
         |    AS n_candidates
         |  FROM (SELECT count(*)::BIGINT AS c FROM base
         |        GROUP BY c_nationkey, c_mktsegment, length(c_name))),
         |mb AS (
         |  SELECT least(a.c_custkey, b.c_custkey) AS pa,
         |    greatest(a.c_custkey, b.c_custkey) AS pb
         |  FROM base a JOIN base b
         |    ON a.c_nationkey = b.c_nationkey
         |   AND a.c_mktsegment = b.c_mktsegment
         |   AND length(a.c_name) = length(b.c_name)
         |   AND a.c_custkey < b.c_custkey
         |   AND a.c_acctbal = b.c_acctbal
         |  WHERE levenshtein(a.c_name, b.c_name) <= 2),
         |nmb AS (SELECT count(*)::BIGINT AS n_matched FROM mb),
         |rb AS (
         |  SELECT count(*)::BIGINT AS true_recovered FROM mb
         |  WHERE EXISTS (SELECT 1 FROM truth t
         |                WHERE t.pa = mb.pa AND t.pb = mb.pb)),
         |rk AS (
         |  SELECT base.*,
         |    row_number() OVER (ORDER BY c_name, c_custkey) - 1 AS rnk
         |  FROM base),
         |ms AS (
         |  SELECT least(a.c_custkey, b.c_custkey) AS pa,
         |    greatest(a.c_custkey, b.c_custkey) AS pb
         |  FROM rk a JOIN rk b ON b.rnk - a.rnk BETWEEN 1 AND 7
         |  WHERE levenshtein(a.c_name, b.c_name) <= 2
         |    AND a.c_acctbal = b.c_acctbal),
         |nms AS (SELECT count(*)::BIGINT AS n_matched FROM ms),
         |rs AS (
         |  SELECT count(*)::BIGINT AS true_recovered FROM ms
         |  WHERE EXISTS (SELECT 1 FROM truth t
         |                WHERE t.pa = ms.pa AND t.pb = ms.pb)),
         |cands AS (
         |  SELECT (7 * n_records - 28)::BIGINT AS n_candidates FROM n)
         |SELECT 'blocking' AS method, n_records, n_candidates,
         |  n_matched, n_true, true_recovered,
         |  true_recovered::DOUBLE / n_true::DOUBLE AS pairs_completeness,
         |  1.0::DOUBLE - n_candidates::DOUBLE /
         |    (n_records::DOUBLE * (n_records - 1)::DOUBLE / 2.0::DOUBLE)
         |    AS reduction_ratio
         |FROM n, candb, nmb, nt, rb
         |UNION ALL
         |SELECT 'sorted_neighborhood', n_records, n_candidates,
         |  n_matched, n_true, true_recovered,
         |  true_recovered::DOUBLE / n_true::DOUBLE,
         |  1.0::DOUBLE - n_candidates::DOUBLE /
         |    (n_records::DOUBLE * (n_records - 1)::DOUBLE / 2.0::DOUBLE)
         |FROM n, cands, nms, nt, rs""".stripMargin,

    // q189 = the same blocked candidates scored by DuckDB's own
    // jaro_winkler_similarity, UNROUNDED — the hash compare proves the
    // custom expression reproduces the reference arithmetic bit-for-bit
    // over every candidate pair.
    "q189_jw_linkage" ->
      s"""WITH $LinkageBaseCte,
         |cand AS (
         |  SELECT a.c_custkey AS doc_a, b.c_custkey AS doc_b,
         |    jaro_winkler_similarity(a.c_name, b.c_name) AS jw_sim
         |  FROM base a JOIN base b
         |    ON a.c_nationkey = b.c_nationkey
         |   AND a.c_mktsegment = b.c_mktsegment
         |   AND length(a.c_name) = length(b.c_name)
         |   AND a.c_custkey < b.c_custkey
         |   AND a.c_acctbal = b.c_acctbal)
         |SELECT doc_a, doc_b, jw_sim FROM cand
         |WHERE jw_sim >= 0.95::DOUBLE""".stripMargin,

    // q190 = the stored mapping is q185's closure verbatim; the new
    // batch replays min-stored-entity per new record, its own recursive
    // closure over new-new matches, and the per-cluster
    // coalesce(min stored entity, min member id).
    "q190_incremental_resolve" ->
      s"""WITH RECURSIVE $LinkageBaseCte,
         |pairs AS (
         |  SELECT a.c_custkey AS pa, b.c_custkey AS pb
         |  FROM base a JOIN base b
         |    ON a.c_nationkey = b.c_nationkey
         |   AND a.c_mktsegment = b.c_mktsegment
         |   AND length(a.c_name) = length(b.c_name)
         |   AND a.c_custkey < b.c_custkey
         |   AND a.c_acctbal = b.c_acctbal
         |  WHERE levenshtein(a.c_name, b.c_name) <= 2),
         |$LinkageClosureCte,
         |st AS (
         |  SELECT b.*, m.entity_id FROM base b
         |  JOIN m ON m.rec_id = b.c_custkey),
         |newr AS (
         |  SELECT c_custkey + 4000000 AS id,
         |    substr(c_name, 1, length(c_name) - 1) || 'Q' AS name,
         |    c_nationkey, c_mktsegment, c_acctbal AS bal
         |  FROM customer WHERE c_custkey % 30 = 17
         |  UNION ALL SELECT c_custkey + 5000000,
         |    substr(c_name, 1, length(c_name) - 4) || 'QRST',
         |    c_nationkey, c_mktsegment, c_acctbal
         |  FROM customer WHERE c_custkey % 60 = 29
         |  UNION ALL SELECT c_custkey + 6000000,
         |    substr(c_name, 1, length(c_name) - 2) || 'ZZ',
         |    c_nationkey, c_mktsegment, c_acctbal + 50000.0
         |  FROM customer WHERE c_custkey % 70 = 33
         |  UNION ALL SELECT c_custkey + 6500000,
         |    substr(c_name, 1, length(c_name) - 2) || 'ZZ',
         |    c_nationkey, c_mktsegment, c_acctbal + 50000.0
         |  FROM customer WHERE c_custkey % 70 = 33),
         |ns AS (
         |  SELECT n.id, min(s.entity_id) AS se
         |  FROM newr n JOIN st s
         |    ON n.c_nationkey = s.c_nationkey
         |   AND n.c_mktsegment = s.c_mktsegment
         |   AND length(n.name) = length(s.c_name)
         |   AND n.bal = s.c_acctbal
         |  WHERE levenshtein(n.name, s.c_name) <= 2
         |  GROUP BY n.id),
         |nn AS (
         |  SELECT a.id AS pa, b.id AS pb
         |  FROM newr a JOIN newr b
         |    ON a.c_nationkey = b.c_nationkey
         |   AND a.c_mktsegment = b.c_mktsegment
         |   AND length(a.name) = length(b.name)
         |   AND a.id < b.id AND a.bal = b.bal
         |  WHERE levenshtein(a.name, b.name) <= 2),
         |nedges AS (
         |  SELECT pa AS s, pb AS t FROM nn
         |  UNION ALL SELECT pb, pa FROM nn),
         |nreach(s, t) AS (
         |  SELECT s, t FROM nedges
         |  UNION
         |  SELECT r.s, e.t FROM nreach r JOIN nedges e ON r.t = e.s),
         |nlbl AS (
         |  SELECT s, least(s, min(t)) AS c FROM nreach GROUP BY s),
         |lab AS (
         |  SELECT n.id, coalesce(nl.c, n.id) AS c
         |  FROM newr n LEFT JOIN nlbl nl ON nl.s = n.id),
         |wse AS (
         |  SELECT lab.id, lab.c, ns.se FROM lab LEFT JOIN ns USING (id)),
         |byc AS (
         |  SELECT c, min(se) AS ce, min(id) AS cm FROM wse GROUP BY c)
         |SELECT w.id AS rec_id, coalesce(b.ce, b.cm) AS entity_id,
         |  b.ce IS NOT NULL AS from_stored
         |FROM wse w JOIN byc b USING (c)""".stripMargin,

    // q191 = two rank CTEs (name order; (acctbal, name) order), the
    // union of both windows' verified pairs, then the shared closure.
    "q191_sn_multipass" ->
      s"""WITH RECURSIVE $LinkageBaseCte,
         |rk1 AS (
         |  SELECT base.*,
         |    row_number() OVER (ORDER BY c_name, c_custkey) - 1 AS rnk
         |  FROM base),
         |rk2 AS (
         |  SELECT base.*,
         |    row_number() OVER (ORDER BY c_acctbal, c_name, c_custkey)
         |      - 1 AS rnk
         |  FROM base),
         |pairs AS (
         |  SELECT DISTINCT pa, pb FROM (
         |    SELECT a.c_custkey AS pa, b.c_custkey AS pb
         |    FROM rk1 a JOIN rk1 b ON b.rnk - a.rnk BETWEEN 1 AND 7
         |    WHERE levenshtein(a.c_name, b.c_name) <= 2
         |      AND a.c_acctbal = b.c_acctbal
         |    UNION ALL
         |    SELECT a.c_custkey, b.c_custkey
         |    FROM rk2 a JOIN rk2 b ON b.rnk - a.rnk BETWEEN 1 AND 7
         |    WHERE levenshtein(a.c_name, b.c_name) <= 2
         |      AND a.c_acctbal = b.c_acctbal)),
         |$LinkageClosureCte
         |SELECT m.rec_id, m.entity_id, sz.n_members
         |FROM m JOIN sz USING (entity_id)""".stripMargin,

    // q192 = q186's triangle pipeline joined to the degree table, the
    // Watts-Strogatz ratio as one mirrored IEEE division, NULL below
    // degree 2.
    "q192_clustering_coeff" ->
      """WITH li AS (
        |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
        |  FROM lineitem WHERE l_quantity >= 25),
        |e AS (
        |  SELECT DISTINCT x.pk AS u, y.pk AS v
        |  FROM li x JOIN li y ON x.ok = y.ok AND x.pk < y.pk),
        |deg AS (
        |  SELECT node, count(*)::BIGINT AS dg FROM (
        |    SELECT u AS node FROM e UNION ALL SELECT v FROM e)
        |  GROUP BY node),
        |o AS (
        |  SELECT
        |    CASE WHEN (du.dg, e.u) < (dv.dg, e.v) THEN e.u ELSE e.v END
        |      AS s,
        |    CASE WHEN (du.dg, e.u) < (dv.dg, e.v) THEN e.v ELSE e.u END
        |      AS t,
        |    CASE WHEN (du.dg, e.u) < (dv.dg, e.v) THEN dv.dg ELSE du.dg
        |      END AS td
        |  FROM e JOIN deg du ON du.node = e.u
        |    JOIN deg dv ON dv.node = e.v),
        |w AS (
        |  SELECT o1.s, o1.t AS a, o2.t AS b
        |  FROM o o1 JOIN o o2 ON o1.s = o2.s
        |  WHERE (o1.td, o1.t) < (o2.td, o2.t)),
        |tri AS (SELECT w.s, w.a, w.b
        |  FROM w JOIN o ON o.s = w.a AND o.t = w.b),
        |cnt AS (
        |  SELECT node, count(*)::BIGINT AS triangles FROM (
        |    SELECT s AS node FROM tri
        |    UNION ALL SELECT a FROM tri
        |    UNION ALL SELECT b FROM tri)
        |  GROUP BY node)
        |SELECT deg.node, deg.dg AS degree,
        |  coalesce(cnt.triangles, 0::BIGINT) AS triangles,
        |  CASE WHEN deg.dg >= 2 THEN
        |    2.0::DOUBLE * coalesce(cnt.triangles, 0)::DOUBLE /
        |      (deg.dg::DOUBLE * (deg.dg - 1)::DOUBLE) END
        |    AS clustering_coeff
        |FROM deg LEFT JOIN cnt USING (node)""".stripMargin,

    // q193 = the same coarse-blocked candidates, the same three-term
    // log-odds sum (left-associated, constants folded by each engine's
    // own log2 — the 4-decimal round and mid-gap cuts absorb the ulp),
    // the same band CASE.
    "q193_fs_weights" ->
      s"""WITH $LinkageBaseCte,
         |cand AS (
         |  SELECT a.c_custkey AS doc_a, b.c_custkey AS doc_b,
         |    (CASE WHEN levenshtein(a.c_name, b.c_name) <= 2
         |       THEN log2(0.95 / 0.01)
         |       ELSE log2(0.050000000000000044 / 0.99) END +
         |     CASE WHEN a.c_acctbal = b.c_acctbal
         |       THEN log2(0.9 / 0.0001)
         |       ELSE log2(0.09999999999999998 / 0.9999) END +
         |     CASE WHEN a.c_mktsegment = b.c_mktsegment
         |       THEN log2(0.95 / 0.2)
         |       ELSE log2(0.050000000000000044 / 0.8) END) AS w
         |  FROM base a JOIN base b
         |    ON a.c_nationkey = b.c_nationkey
         |   AND length(a.c_name) = length(b.c_name)
         |   AND a.c_custkey < b.c_custkey
         |  WHERE a.c_nationkey < 3 AND b.c_nationkey < 3)
         |SELECT doc_a, doc_b, round(w, 4) AS fs_weight,
         |  CASE WHEN w >= 18.0 THEN 'match'
         |       WHEN w >= 8.0 THEN 'possible'
         |       ELSE 'non_match' END AS band
         |FROM cand
         |WHERE w >= 8.0""".stripMargin,

    // q194 = 14 unrolled peel rounds over the same co-order edge CTE
    // (fixpoint at 8/10 rounds — the tail rounds are idempotent).
    "q194_kcore" -> kCoreOracle(
      """SELECT x.pk AS src, y.pk AS dst
        |  FROM (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
        |        FROM lineitem WHERE l_quantity >= 25) x
        |  JOIN (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
        |        FROM lineitem WHERE l_quantity >= 25) y
        |    ON x.ok = y.ok AND x.pk < y.pk""".stripMargin,
      k = 20, rounds = 14),

    // q195 = the same quantized residual (round-half-away ×10⁴), the
    // same trailing frame, the same integer cross-multiplied flag.
    "q195_seasonal_anomaly" ->
      """WITH x AS (
        |  SELECT user_id, event_id, ts,
        |    round((value - lag(value, 7) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id)) * 10000.0)::BIGINT AS residual_q
        |  FROM events),
        |y AS (SELECT * FROM x WHERE residual_q IS NOT NULL),
        |z AS (
        |  SELECT user_id, event_id, residual_q,
        |    sum(abs(residual_q)) OVER w AS was,
        |    count(residual_q) OVER w AS wn
        |  FROM y
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN 28 PRECEDING AND 1 PRECEDING))
        |SELECT user_id, event_id, residual_q,
        |  was::BIGINT AS window_abs_sum, wn::BIGINT AS window_n,
        |  CASE WHEN wn >= 14
        |    THEN abs(residual_q) * wn > 3 * was END AS is_anomaly
        |FROM z""".stripMargin,

    // q186 = the same degree-ordered orientation as tuple CASEs, wedge
    // join, closure join, and per-corner count union.
    "q186_triangle_count" -> TriangleOracleSql,

    // q183 = 4 HITS rounds unrolled over the same edge CTE.
    "q183_hits" -> hitsOracle(
      """SELECT DISTINCT 'c' || o_custkey AS src, 's' || l_suppkey AS dst
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey"""
        .stripMargin,
      iterations = 4),

    "q179_kmv_distinct" ->
      """WITH h AS (
        |  SELECT DISTINCT event_type,
        |    ('0x' || substr(md5(user_id::VARCHAR), 1, 15))::BIGINT AS hv
        |  FROM events WHERE user_id IS NOT NULL),
        |r AS (
        |  SELECT event_type, hv,
        |    row_number() OVER (PARTITION BY event_type ORDER BY hv) AS rn
        |  FROM h),
        |a AS (
        |  SELECT event_type, count(*)::BIGINT AS n_hashes,
        |    max(hv) AS kth_hash
        |  FROM r WHERE rn <= 64 GROUP BY event_type)
        |SELECT event_type, n_hashes, kth_hash,
        |  round(CASE WHEN n_hashes < 64 THEN n_hashes::DOUBLE
        |    ELSE 63.0::DOUBLE * 1152921504606846976.0::DOUBLE
        |      / kth_hash::DOUBLE END, 4) AS est_distinct
        |FROM a""".stripMargin,

    "q180_kmv_overlap" ->
      """WITH ha AS (
        |  SELECT DISTINCT user_id % 3 AS cohort,
        |    ('0x' || substr(md5(user_id::VARCHAR), 1, 15))::BIGINT AS hv
        |  FROM events WHERE user_id IS NOT NULL AND event_type = 'click'),
        |hb AS (
        |  SELECT DISTINCT user_id % 3 AS cohort,
        |    ('0x' || substr(md5(user_id::VARCHAR), 1, 15))::BIGINT AS hv
        |  FROM events
        |  WHERE user_id IS NOT NULL AND event_type = 'purchase'),
        |sa AS (SELECT cohort, hv FROM (
        |  SELECT cohort, hv,
        |    row_number() OVER (PARTITION BY cohort ORDER BY hv) AS rn
        |  FROM ha) WHERE rn <= 32),
        |sb AS (SELECT cohort, hv FROM (
        |  SELECT cohort, hv,
        |    row_number() OVER (PARTITION BY cohort ORDER BY hv) AS rn
        |  FROM hb) WHERE rn <= 32),
        |un AS (SELECT cohort, hv FROM (
        |  SELECT cohort, hv,
        |    row_number() OVER (PARTITION BY cohort ORDER BY hv) AS rn
        |  FROM (SELECT * FROM sa UNION SELECT * FROM sb)) WHERE rn <= 32),
        |agg AS (
        |  SELECT cohort, count(*)::BIGINT AS n_union, max(hv) AS kth
        |  FROM un GROUP BY cohort),
        |cm AS (
        |  SELECT u.cohort, count(*)::BIGINT AS n_common FROM un u
        |  WHERE EXISTS (SELECT 1 FROM sa
        |      WHERE sa.cohort = u.cohort AND sa.hv = u.hv)
        |    AND EXISTS (SELECT 1 FROM sb
        |      WHERE sb.cohort = u.cohort AND sb.hv = u.hv)
        |  GROUP BY u.cohort),
        |e AS (
        |  SELECT cohort, n_union,
        |    round(CASE WHEN n_union < 32 THEN n_union::DOUBLE
        |      ELSE 31.0::DOUBLE * 1152921504606846976.0::DOUBLE
        |        / kth::DOUBLE END, 4) AS est_union
        |  FROM agg)
        |SELECT e.cohort, e.n_union,
        |  coalesce(cm.n_common, 0)::BIGINT AS n_common, e.est_union,
        |  round(coalesce(cm.n_common, 0)::DOUBLE / e.n_union::DOUBLE, 4)
        |    AS jaccard_est,
        |  round(coalesce(cm.n_common, 0)::DOUBLE / e.n_union::DOUBLE
        |    * e.est_union, 4) AS est_intersection
        |FROM e LEFT JOIN cm USING (cohort)""".stripMargin,

    // q175 = q95's oracled log_ppl fed through per-language
    // quantile_disc terciles (the percentile_disc ≡ quantile_disc
    // identity, q75/q124-verified); ties at a cut land low via <= on
    // both sides, null-ppl docs keep NULL bands.
    "q175_ppl_partition" ->
      """WITH dt AS (
        |  SELECT doc_id,
        |    unnest(list_filter(string_split_regex(text, '\s+'),
        |      x -> x <> '')) AS tok
        |  FROM documents),
        |c AS (SELECT tok, count(*) AS c FROM dt GROUP BY tok),
        |n AS (SELECT sum(c)::DOUBLE AS n FROM c),
        |s AS (
        |  SELECT doc_id,
        |    round(sum(-ln(coalesce(c.c::DOUBLE, 1.0) / n.n)) / count(*), 4)
        |      AS log_ppl
        |  FROM dt LEFT JOIN c USING (tok) CROSS JOIN n
        |  GROUP BY doc_id),
        |p AS (
        |  SELECT d.doc_id, d.lang, s.log_ppl
        |  FROM documents d LEFT JOIN s USING (doc_id)),
        |cut AS (
        |  SELECT lang,
        |    quantile_disc(log_ppl, 0.3333333333333333::DOUBLE) AS c0,
        |    quantile_disc(log_ppl, 0.6666666666666666::DOUBLE) AS c1
        |  FROM p WHERE log_ppl IS NOT NULL GROUP BY lang)
        |SELECT p.doc_id, p.lang, p.log_ppl,
        |  CASE WHEN p.log_ppl IS NULL THEN NULL
        |       WHEN p.log_ppl <= cut.c0 THEN 'head'
        |       WHEN p.log_ppl <= cut.c1 THEN 'middle'
        |       ELSE 'tail' END AS ppl_band
        |FROM p LEFT JOIN cut USING (lang)""".stripMargin,

    "q155_fuzzy_decontaminate" ->
      """WITH bench AS (
        |  SELECT doc_id AS bench_id, text || ' zq7f' AS text
        |  FROM documents WHERE doc_id % 25 = 0),
        |ct AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS t
        |  FROM documents),
        |bt AS (
        |  SELECT bench_id,
        |    list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS t
        |  FROM bench),
        |csh AS (
        |  SELECT doc_id, unnest(CASE WHEN len(t) >= 3 THEN
        |      list_distinct(list_transform(range(1, len(t) - 1),
        |        i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
        |    ELSE [array_to_string(t, ' ')] END) AS s
        |  FROM ct),
        |bsh AS (
        |  SELECT bench_id, unnest(CASE WHEN len(t) >= 3 THEN
        |      list_distinct(list_transform(range(1, len(t) - 1),
        |        i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
        |    ELSE [array_to_string(t, ' ')] END) AS s
        |  FROM bt),
        |csz AS (SELECT doc_id, count(*) AS n FROM csh GROUP BY doc_id),
        |bsz AS (SELECT bench_id, count(*) AS n FROM bsh GROUP BY bench_id),
        |ix AS (
        |  SELECT c.doc_id, b.bench_id, count(*) AS i
        |  FROM csh c JOIN bsh b ON c.s = b.s
        |  GROUP BY 1, 2),
        |p AS (
        |  SELECT ix.doc_id, ix.bench_id,
        |    round(i::DOUBLE / (cs.n + bs.n - i), 4) AS j
        |  FROM ix
        |  JOIN csz cs ON ix.doc_id = cs.doc_id
        |  JOIN bsz bs ON ix.bench_id = bs.bench_id
        |  WHERE i::DOUBLE / (cs.n + bs.n - i) >= 0.8),
        |best AS (
        |  SELECT doc_id, bench_id, j, row_number() OVER (
        |    PARTITION BY doc_id ORDER BY j DESC, bench_id ASC) AS rn
        |  FROM p)
        |SELECT d.doc_id, b.bench_id, b.j AS jaccard,
        |  (b.bench_id IS NOT NULL) AS contaminated
        |FROM documents d
        |LEFT JOIN best b ON b.doc_id = d.doc_id AND b.rn = 1""".stripMargin
  ) ++ wave4Oracle

  // q196 = the identical BM25 expression tree: same tokenization, same
  // Lucene idf (ln(1 + (N-df+.5)/(df+.5))), same k1=1.2 / b=0.75 tf
  // normalization, contributions quantized to 1e-9 longs before the
  // per-(query, doc) sum, rank on the LONG (ties doc asc).
  private def wave4Oracle: Map[String, String] = Map(
    "q196_bm25_search" ->
      s"""WITH qs(query_id, query_text) AS (VALUES
         |  ${Bm25Queries.map { case (i, t) => s"($i::BIGINT, '$t')" }
            .mkString(", ")}),
         |toks AS (
         |  SELECT doc_id,
         |    list_filter(string_split_regex(text, '\\s+'), x -> x <> '')
         |      AS t
         |  FROM documents),
         |tf AS (
         |  SELECT doc_id, dl, term, count(*)::BIGINT AS tf
         |  FROM (SELECT doc_id, len(t)::BIGINT AS dl, unnest(t) AS term
         |        FROM toks)
         |  GROUP BY 1, 2, 3),
         |df AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY 1),
         |stats AS (SELECT count(*)::BIGINT AS n,
         |    sum(dl)::BIGINT AS sumdl
         |  FROM (SELECT DISTINCT doc_id, dl FROM tf)),
         |qterms AS (
         |  SELECT DISTINCT query_id, unnest(list_filter(
         |    string_split_regex(query_text, '\\s+'), x -> x <> '')) AS term
         |  FROM qs),
         |scored AS (
         |  SELECT q.query_id, tf.doc_id,
         |    sum(round(
         |      ln(1.0 + (n::DOUBLE - df::DOUBLE + 0.5) / (df::DOUBLE + 0.5))
         |      * (tf::DOUBLE * 2.2 /
         |         (tf::DOUBLE + 1.2 * (0.25 + 0.75 * dl::DOUBLE /
         |            (sumdl::DOUBLE / n::DOUBLE))))
         |      * 1e9)::BIGINT)::BIGINT AS score_q
         |  FROM qterms q
         |  JOIN tf ON tf.term = q.term
         |  JOIN df ON df.term = q.term
         |  CROSS JOIN stats
         |  GROUP BY 1, 2),
         |ranked AS (
         |  SELECT query_id, doc_id, score_q,
         |    score_q::DOUBLE / 1e9 AS score,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY score_q DESC, doc_id ASC)::INT AS rank
         |  FROM scored)
         |SELECT query_id, doc_id, score_q, score, rank
         |FROM ranked WHERE rank <= 5""".stripMargin,

    // q197 = the same distinct-activity reduction, window cohort min,
    // count(*) cells, and offset-0 cohort size.
    "q197_retention_cohorts" ->
      """WITH act AS (
        |  SELECT DISTINCT user_id, date_trunc('day', ts)::DATE AS period
        |  FROM events),
        |coh AS (
        |  SELECT user_id, period,
        |    min(period) OVER (PARTITION BY user_id) AS cohort
        |  FROM act),
        |cell AS (
        |  SELECT cohort, date_diff('day', cohort, period)::BIGINT
        |      AS "offset",
        |    count(*)::BIGINT AS n_active
        |  FROM coh GROUP BY 1, 2),
        |sized AS (
        |  SELECT cohort, "offset", n_active,
        |    (max(CASE WHEN "offset" = 0 THEN n_active END)
        |      OVER (PARTITION BY cohort))::BIGINT AS cohort_size
        |  FROM cell)
        |SELECT cohort, "offset", n_active, cohort_size,
        |  n_active::DOUBLE / cohort_size::DOUBLE AS retention
        |FROM sized""".stripMargin,

    // q198 = the same quantization, the same cross-multiplied
    // deviations, the same closed-form prefix-sum/running-min pair.
    "q198_cusum" ->
      """WITH b AS (
        |  SELECT user_id, event_id, epoch_ns(ts) AS ts_ns,
        |    round(value * 10000.0)::BIGINT AS value_q,
        |    count(*) OVER (PARTITION BY user_id)::BIGINT AS n,
        |    (sum(round(value * 10000.0)::BIGINT)
        |      OVER (PARTITION BY user_id))::BIGINT AS s
        |  FROM events WHERE value IS NOT NULL),
        |c AS (
        |  SELECT *,
        |    sum(value_q * n - s - 100000 * n) OVER w AS sp,
        |    sum(-(value_q * n - s) - 100000 * n) OVER w AS sn
        |  FROM b WINDOW w AS (PARTITION BY user_id
        |    ORDER BY ts_ns, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |d AS (
        |  SELECT *,
        |    (sp - least(0, min(sp) OVER w))::BIGINT AS s_pos,
        |    (sn - least(0, min(sn) OVER w))::BIGINT AS s_neg
        |  FROM c WINDOW w AS (PARTITION BY user_id
        |    ORDER BY ts_ns, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT user_id, event_id, value_q, s_pos, s_neg,
        |  (2000000 * n)::BIGINT AS threshold_q,
        |  (s_pos > 2000000 * n OR s_neg > 2000000 * n) AS is_shift,
        |  n
        |FROM d""".stripMargin,

    // q199 = the same wedge enumeration at the shared neighbor, the
    // same 1e-9-quantized 1/ln(deg) contributions, existing edges out
    // via anti join.
    "q199_adamic_adar" ->
      """WITH li AS (
        |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
        |  FROM lineitem WHERE l_quantity >= 45),
        |e AS (
        |  SELECT DISTINCT x.pk AS u, y.pk AS v
        |  FROM li x JOIN li y ON x.ok = y.ok AND x.pk < y.pk),
        |adj AS (
        |  SELECT u AS w, v AS nb FROM e
        |  UNION ALL SELECT v, u FROM e),
        |deg AS (SELECT w, count(*)::BIGINT AS dg FROM adj GROUP BY 1),
        |k AS (
        |  SELECT a.w, a.nb, round(1e9 / ln(dg::DOUBLE))::BIGINT AS c
        |  FROM adj a JOIN deg d ON d.w = a.w
        |  WHERE dg >= 2),
        |p AS (
        |  SELECT x.nb AS u, y.nb AS v, sum(x.c)::BIGINT AS score_q
        |  FROM k x JOIN k y ON x.w = y.w AND x.nb < y.nb
        |  GROUP BY 1, 2)
        |SELECT p.u, p.v, score_q, score_q::DOUBLE / 1e9 AS score
        |FROM p ANTI JOIN e ON e.u = p.u AND e.v = p.v""".stripMargin,

    // q200/q201 = the identical log-linear bucket arithmetic (s = 3:
    // exact below 16, (e-3)*8 + (q >> (e-3)) above), cumulative-sum
    // walk, ppm-cross-multiplied rank test, and integer decode. q201's
    // oracle sketches the WHOLE table — equality proves merge ≡
    // recompute across engines.
    "q200_hdr_quantile" -> hdrOracleSql(Seq(500000L, 900000L, 990000L)),
    "q201_hdr_merge" -> hdrOracleSql(Seq(250000L, 750000L, 999000L)),

    // q202 = same shingles, same ppm-cross-multiplied threshold test —
    // but candidates from ANY shared shingle (complete because J ≥ t >
    // 0 needs ≥ 1 shared element), NOT from the prefix filter under
    // test.
    "q202_set_similarity_join" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS w
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, CASE WHEN len(w) >= 3 THEN
        |      list_distinct(list_transform(range(1, len(w) - 1), i ->
        |        array_to_string(list_slice(w, i, i + 2), ' ')))
        |    ELSE [array_to_string(w, ' ')] END AS t
        |  FROM toks),
        |g AS (SELECT doc_id, len(t)::BIGINT AS l, unnest(t) AS gr FROM sh),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM g a JOIN g b ON a.gr = b.gr AND a.doc_id < b.doc_id
        |    AND 500000 * a.l <= 1000000 * b.l
        |    AND 500000 * b.l <= 1000000 * a.l),
        |v AS (
        |  SELECT doc_a, doc_b,
        |    len(list_intersect(x.t, y.t))::BIGINT AS n_inter,
        |    (len(x.t) + len(y.t) - len(list_intersect(x.t, y.t)))::BIGINT
        |      AS n_union
        |  FROM cand JOIN sh x ON x.doc_id = doc_a
        |            JOIN sh y ON y.doc_id = doc_b)
        |SELECT doc_a, doc_b, n_inter, n_union,
        |  round(n_inter::DOUBLE / n_union::DOUBLE, 4) AS jaccard
        |FROM v
        |WHERE n_inter * 1500000 >= 500000 * (n_union + n_inter)""".stripMargin,

    // q203 = the identical vector space: multiplicity shingles, the
    // same 1e-3-quantized idf, exact long norms/dots, ONE double
    // cosine expression — candidates from any shared term (complete:
    // cosine > 0 needs a shared dimension).
    "q203_tfidf_cosine" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS w
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, CASE WHEN len(w) >= 3 THEN
        |      list_transform(range(1, len(w) - 1), i ->
        |        array_to_string(list_slice(w, i, i + 2), ' '))
        |    ELSE [array_to_string(w, ' ')] END AS t
        |  FROM toks),
        |idx AS (
        |  SELECT doc_id, g, count(*)::BIGINT AS tf
        |  FROM (SELECT doc_id, unnest(t) AS g FROM sh) GROUP BY 1, 2),
        |dft AS (SELECT g AS gg, count(*)::BIGINT AS df FROM idx GROUP BY 1),
        |st AS (SELECT count(DISTINCT doc_id)::BIGINT AS n FROM idx),
        |wv AS (
        |  SELECT doc_id, g,
        |    tf * round(ln(1.0 + n::DOUBLE / df::DOUBLE) * 1000.0)::BIGINT
        |      AS wq
        |  FROM idx JOIN dft ON g = gg CROSS JOIN st),
        |nrm AS (SELECT doc_id, sum(wq * wq)::BIGINT AS n2 FROM wv
        |  GROUP BY 1),
        |d AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    sum(a.wq * b.wq)::BIGINT AS dot_q
        |  FROM wv a JOIN wv b ON a.g = b.g AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |c AS (
        |  SELECT doc_a, doc_b, dot_q,
        |    dot_q::DOUBLE / sqrt(x.n2::DOUBLE * y.n2::DOUBLE) AS cosine
        |  FROM d JOIN nrm x ON x.doc_id = doc_a
        |         JOIN nrm y ON y.doc_id = doc_b)
        |SELECT doc_a, doc_b, dot_q, round(cosine, 4) AS cosine
        |FROM c WHERE cosine >= 0.3""".stripMargin,

    // q204 = the same distinct (basket, item) reduction, pair counts,
    // marginals, and one-division/one-log derived stats — lift's
    // numerator and denominator formed as exact long products first.
    "q204_pair_rules" ->
      """WITH bi AS (
        |  SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem
        |  WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL),
        |nb AS (SELECT count(DISTINCT b)::BIGINT AS n FROM bi),
        |ic AS (SELECT i, count(*)::BIGINT AS ci FROM bi GROUP BY 1),
        |p AS (
        |  SELECT x.i AS item_a, y.i AS item_b, count(*)::BIGINT AS n_pair
        |  FROM bi x JOIN bi y ON x.b = y.b AND x.i < y.i
        |  GROUP BY 1, 2 HAVING count(*) >= 2)
        |SELECT item_a, item_b, n_pair,
        |  a.ci AS n_a, b.ci AS n_b, n AS n_baskets,
        |  n_pair::DOUBLE / n::DOUBLE AS support,
        |  n_pair::DOUBLE / a.ci::DOUBLE AS conf_a_b,
        |  n_pair::DOUBLE / b.ci::DOUBLE AS conf_b_a,
        |  (n * n_pair)::DOUBLE / (a.ci * b.ci)::DOUBLE AS lift,
        |  round(ln((n * n_pair)::DOUBLE / (a.ci * b.ci)::DOUBLE) * 1e6)
        |    ::BIGINT AS pmi_q,
        |  round(ln((n * n_pair)::DOUBLE / (a.ci * b.ci)::DOUBLE) * 1e6)
        |    ::BIGINT::DOUBLE / 1e6 AS pmi
        |FROM p JOIN ic a ON a.i = item_a JOIN ic b ON b.i = item_b
        |CROSS JOIN nb""".stripMargin,

    // q205 = the same customer reduction (recency days, count, exact
    // cents), the same percentile_disc cutpoints, the same <=-banded
    // 1-4 scores (ties to the lower band).
    "q205_rfm" ->
      """WITH base AS (
        |  SELECT o_custkey AS customer,
        |    date_diff('day', max(o_orderdate)::DATE, DATE '2001-12-31')
        |      ::BIGINT AS recency_days,
        |    count(*)::BIGINT AS frequency,
        |    sum(round(o_totalprice * 100.0)::BIGINT)::BIGINT AS monetary_q
        |  FROM orders WHERE o_custkey IS NOT NULL GROUP BY 1),
        |cuts AS (
        |  SELECT
        |    percentile_disc(0.25) WITHIN GROUP (ORDER BY recency_days) r25,
        |    percentile_disc(0.50) WITHIN GROUP (ORDER BY recency_days) r50,
        |    percentile_disc(0.75) WITHIN GROUP (ORDER BY recency_days) r75,
        |    percentile_disc(0.25) WITHIN GROUP (ORDER BY frequency) f25,
        |    percentile_disc(0.50) WITHIN GROUP (ORDER BY frequency) f50,
        |    percentile_disc(0.75) WITHIN GROUP (ORDER BY frequency) f75,
        |    percentile_disc(0.25) WITHIN GROUP (ORDER BY monetary_q) m25,
        |    percentile_disc(0.50) WITHIN GROUP (ORDER BY monetary_q) m50,
        |    percentile_disc(0.75) WITHIN GROUP (ORDER BY monetary_q) m75
        |  FROM base),
        |sc AS (
        |  SELECT customer, recency_days, frequency, monetary_q,
        |    CASE WHEN recency_days IS NULL THEN 1
        |         WHEN recency_days <= r25 THEN 4
        |         WHEN recency_days <= r50 THEN 3
        |         WHEN recency_days <= r75 THEN 2 ELSE 1 END AS r_score,
        |    CASE WHEN frequency <= f25 THEN 1
        |         WHEN frequency <= f50 THEN 2
        |         WHEN frequency <= f75 THEN 3 ELSE 4 END AS f_score,
        |    CASE WHEN monetary_q IS NULL THEN 1
        |         WHEN monetary_q <= m25 THEN 1
        |         WHEN monetary_q <= m50 THEN 2
        |         WHEN monetary_q <= m75 THEN 3 ELSE 4 END AS m_score
        |  FROM base CROSS JOIN cuts)
        |SELECT customer, recency_days, frequency, monetary_q,
        |  r_score, f_score, m_score,
        |  r_score::VARCHAR || f_score::VARCHAR || m_score::VARCHAR
        |    AS segment
        |FROM sc""".stripMargin,

    // q206 = the same null-spliced lead pairing, __end__ completion,
    // exact counts, one-division p.
    "q206_transitions" ->
      """WITH seq AS (
        |  SELECT user_id, event_type AS state,
        |    lead(event_type) OVER (PARTITION BY user_id
        |      ORDER BY epoch_ns(ts), event_id) AS nx
        |  FROM events
        |  WHERE user_id IS NOT NULL AND event_type IS NOT NULL),
        |pairs AS (
        |  SELECT state, coalesce(nx, '__end__') AS next_state,
        |    count(*)::BIGINT AS n
        |  FROM seq GROUP BY 1, 2),
        |tot AS (SELECT state AS st, sum(n)::BIGINT AS n_from FROM pairs
        |  GROUP BY 1)
        |SELECT state, next_state, n, n_from,
        |  n::DOUBLE / n_from::DOUBLE AS p
        |FROM pairs JOIN tot ON st = state""".stripMargin,

    // q207 = textbook recursive-CTE BFS with the same radius; min over
    // every within-radius path = the frontier expansion's first-reach
    // distance.
    "q207_shortest_hops" ->
      """WITH RECURSIVE li AS (
        |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
        |  FROM lineitem WHERE l_quantity >= 45),
        |e AS (
        |  SELECT DISTINCT x.pk AS u, y.pk AS v
        |  FROM li x JOIN li y ON x.ok = y.ok AND x.pk < y.pk),
        |adj AS (SELECT u, v FROM e UNION ALL SELECT v, u FROM e),
        |seeds AS (SELECT DISTINCT pk FROM li WHERE pk % 97 = 0),
        |r(node, hops) AS (
        |  SELECT pk, 0 FROM seeds
        |  UNION
        |  SELECT a.v, r.hops + 1 FROM r JOIN adj a ON a.u = r.node
        |  WHERE r.hops < 4)
        |SELECT node, min(hops)::BIGINT AS hops FROM r GROUP BY 1""".stripMargin,

    // q208 = component id by definition: the minimum node reachable
    // from each node (recursive reachability closure, bounded by the
    // node count) — independent of the propagation schedule under test.
    "q208_connected_components" ->
      """WITH RECURSIVE li AS (
        |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
        |  FROM lineitem WHERE l_quantity >= 45),
        |e AS (
        |  SELECT DISTINCT x.pk AS u, y.pk AS v
        |  FROM li x JOIN li y ON x.ok = y.ok AND x.pk < y.pk),
        |adj AS (SELECT u, v FROM e UNION ALL SELECT v, u FROM e),
        |r(node, reach) AS (
        |  SELECT u, u FROM (SELECT DISTINCT u FROM adj)
        |  UNION
        |  SELECT r.node, a.v FROM r JOIN adj a ON a.u = r.reach)
        |SELECT node, min(reach)::BIGINT AS component FROM r
        |GROUP BY 1""".stripMargin,

    // q209 = the same multiplicity-shingle index, the same quantized
    // weights, rank replayed with the identical tiebreak.
    "q209_keywords" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS w
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, CASE WHEN len(w) >= 3 THEN
        |      list_transform(range(1, len(w) - 1), i ->
        |        array_to_string(list_slice(w, i, i + 2), ' '))
        |    ELSE [array_to_string(w, ' ')] END AS t
        |  FROM toks),
        |idx AS (
        |  SELECT doc_id, g, count(*)::BIGINT AS tf
        |  FROM (SELECT doc_id, unnest(t) AS g FROM sh) GROUP BY 1, 2),
        |dft AS (SELECT g AS gg, count(*)::BIGINT AS df FROM idx GROUP BY 1),
        |st AS (SELECT count(DISTINCT doc_id)::BIGINT AS n FROM idx),
        |wv AS (
        |  SELECT doc_id, g AS term, tf,
        |    tf * round(ln(1.0 + n::DOUBLE / df::DOUBLE) * 1000.0)::BIGINT
        |      AS w_q
        |  FROM idx JOIN dft ON g = gg CROSS JOIN st),
        |rk AS (
        |  SELECT doc_id, term, tf, w_q,
        |    row_number() OVER (PARTITION BY doc_id
        |      ORDER BY w_q DESC, term ASC)::INT AS rank
        |  FROM wv)
        |SELECT doc_id, term, tf, w_q, rank FROM rk WHERE rank <= 5""".stripMargin,

    // q210 = q204's rules symmetrized and re-ranked with the identical
    // integer tiebreak.
    "q210_top_affinities" ->
      """WITH bi AS (
        |  SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem
        |  WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL),
        |nb AS (SELECT count(DISTINCT b)::BIGINT AS n FROM bi),
        |ic AS (SELECT i, count(*)::BIGINT AS ci FROM bi GROUP BY 1),
        |p AS (
        |  SELECT x.i AS item_a, y.i AS item_b, count(*)::BIGINT AS n_pair
        |  FROM bi x JOIN bi y ON x.b = y.b AND x.i < y.i
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |rules AS (
        |  SELECT item_a, item_b, n_pair, a.ci AS n_a, b.ci AS n_b, n,
        |    round(ln((n * n_pair)::DOUBLE / (a.ci * b.ci)::DOUBLE) * 1e6)
        |      ::BIGINT AS pmi_q,
        |    (n * n_pair)::DOUBLE / (a.ci * b.ci)::DOUBLE AS lift
        |  FROM p JOIN ic a ON a.i = item_a JOIN ic b ON b.i = item_b
        |  CROSS JOIN nb),
        |sym AS (
        |  SELECT item_a AS item, item_b AS partner, n_pair,
        |    n_pair::DOUBLE / n_a::DOUBLE AS confidence, lift, pmi_q
        |  FROM rules
        |  UNION ALL
        |  SELECT item_b, item_a, n_pair,
        |    n_pair::DOUBLE / n_b::DOUBLE, lift, pmi_q
        |  FROM rules),
        |rk AS (
        |  SELECT *, row_number() OVER (PARTITION BY item
        |    ORDER BY pmi_q DESC, n_pair DESC, partner ASC)::INT AS rank
        |  FROM sym)
        |SELECT item, partner, n_pair, confidence, lift, pmi_q, rank
        |FROM rk WHERE rank <= 3""".stripMargin,

    // q211 = the identical seven integer sums over both edge
    // orientations and the one-expression Pearson.
    "q211_assortativity" ->
      (coOrderCtes +
        """,
          |deg AS (
          |  SELECT node, count(*)::BIGINT AS dg FROM
          |    (SELECT u AS node FROM e UNION ALL SELECT v FROM e)
          |  GROUP BY 1),
          |ends AS (
          |  SELECT x.dg AS dx, y.dg AS dy
          |  FROM (SELECT u, v FROM e UNION ALL SELECT v, u FROM e) b
          |  JOIN deg x ON x.node = b.u JOIN deg y ON y.node = b.v),
          |s AS (
          |  SELECT count(*)::BIGINT AS n_edges,
          |    sum(dx)::BIGINT AS sum_x, sum(dy)::BIGINT AS sum_y,
          |    sum(dx * dy)::BIGINT AS sum_xy,
          |    sum(dx * dx)::BIGINT AS sum_x2,
          |    sum(dy * dy)::BIGINT AS sum_y2
          |  FROM ends)
          |SELECT n_edges, sum_x, sum_y, sum_xy, sum_x2, sum_y2,
          |  CASE WHEN n_edges * sum_x2 - sum_x * sum_x > 0
          |        AND n_edges * sum_y2 - sum_y * sum_y > 0 THEN
          |    (n_edges * sum_xy - sum_x * sum_y)::DOUBLE /
          |    sqrt((n_edges * sum_x2 - sum_x * sum_x)::DOUBLE *
          |         (n_edges * sum_y2 - sum_y * sum_y)::DOUBLE)
          |  END AS r
          |FROM s""").stripMargin,

    // q212 = the same per-edge community tagging (brand labels,
    // singleton fallback unused — every part is labeled), exact
    // (4m·Σe_c − Σd_c²)/4m².
    "q212_modularity" ->
      (coOrderCtes +
        """,
          |lab AS (SELECT p_partkey AS n, p_brand AS c FROM part),
          |tagged AS (
          |  SELECT coalesce(x.c, '__node:' || e.u::VARCHAR) AS cu,
          |         coalesce(y.c, '__node:' || e.v::VARCHAR) AS cv
          |  FROM e LEFT JOIN lab x ON x.n = e.u
          |         LEFT JOIN lab y ON y.n = e.v),
          |mm AS (SELECT count(*)::BIGINT AS m FROM tagged),
          |intra AS (
          |  SELECT cu AS community, count(*)::BIGINT AS e_c
          |  FROM tagged WHERE cu = cv GROUP BY 1),
          |degc AS (
          |  SELECT community, count(*)::BIGINT AS d_c FROM
          |    (SELECT cu AS community FROM tagged
          |     UNION ALL SELECT cv FROM tagged)
          |  GROUP BY 1),
          |t AS (
          |  SELECT coalesce(sum(e_c), 0)::BIGINT AS intra_edges,
          |    sum(d_c * d_c)::BIGINT AS sumd2
          |  FROM degc LEFT JOIN intra USING (community))
          |SELECT m, intra_edges,
          |  (4 * m * intra_edges - sumd2)::BIGINT AS q_num,
          |  (4 * m * m)::BIGINT AS q_den,
          |  (4 * m * intra_edges - sumd2)::DOUBLE / (4 * m * m)::DOUBLE
          |    AS modularity
          |FROM t CROSS JOIN mm""").stripMargin,

    // q213 = q208's reachability closure labeling + per-component
    // census; density = one exact-ratio division.
    "q213_component_stats" ->
      (coOrderCtes +
        """,
          |adj AS (SELECT u, v FROM e UNION ALL SELECT v, u FROM e),
          |r(node, reach) AS (
          |  SELECT u, u FROM (SELECT DISTINCT u FROM adj)
          |  UNION
          |  SELECT r.node, a.v FROM r JOIN adj a ON a.u = r.reach),
          |comp AS (SELECT node, min(reach)::BIGINT AS component FROM r
          |  GROUP BY 1),
          |nn AS (SELECT component, count(*)::BIGINT AS n_nodes FROM comp
          |  GROUP BY 1),
          |ec AS (
          |  SELECT c.component, count(*)::BIGINT AS n_edges
          |  FROM e JOIN comp c ON c.node = e.u GROUP BY 1)
          |SELECT component, n_nodes, coalesce(n_edges, 0)::BIGINT
          |    AS n_edges,
          |  (2 * coalesce(n_edges, 0))::DOUBLE /
          |    (n_nodes * (n_nodes - 1))::DOUBLE AS density
          |FROM nn LEFT JOIN ec USING (component)""").stripMargin,

    "q214_label_propagation" -> lpaOracleSql(4)
  ) ++ wave7Oracle

  /** Wave-7 oracles: q215 replays q196's BM25 CTE chain with the query
    * docs' own text, the q152-shape exact dense top-10, and the
    * integer-quantized RRF fold; q216 replays q130's recursive closure
    * + md5-bucket split (drawn on the doc's OWN id, the leaky form) and
    * the per-cluster distinct-split audit.
    */
  private def wave7Oracle: Map[String, String] = Map(
    "q215_rrf_fusion" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 700000, text || ' zz9' FROM documents
        |  WHERE doc_id < 8),
        |toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(text, '\s+'), x -> x <> '')
        |      AS t
        |  FROM corpus),
        |tf AS (
        |  SELECT doc_id, dl, term, count(*)::BIGINT AS tf
        |  FROM (SELECT doc_id, len(t)::BIGINT AS dl, unnest(t) AS term
        |        FROM toks)
        |  GROUP BY 1, 2, 3),
        |df AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY 1),
        |stats AS (SELECT count(*)::BIGINT AS n,
        |    sum(dl)::BIGINT AS sumdl
        |  FROM (SELECT DISTINCT doc_id, dl FROM tf)),
        |qterms AS (
        |  SELECT DISTINCT doc_id AS query_id, unnest(t) AS term
        |  FROM toks WHERE doc_id < 8),
        |scored AS (
        |  SELECT q.query_id, tf.doc_id,
        |    sum(round(
        |      ln(1.0 + (n::DOUBLE - df::DOUBLE + 0.5) / (df::DOUBLE + 0.5))
        |      * (tf::DOUBLE * 2.2 /
        |         (tf::DOUBLE + 1.2 * (0.25 + 0.75 * dl::DOUBLE /
        |            (sumdl::DOUBLE / n::DOUBLE))))
        |      * 1e9)::BIGINT)::BIGINT AS score_q
        |  FROM qterms q
        |  JOIN tf ON tf.term = q.term
        |  JOIN df ON df.term = q.term
        |  CROSS JOIN stats
        |  GROUP BY 1, 2),
        |lextop AS (
        |  SELECT query_id, doc_id, score_q,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY score_q DESC, doc_id ASC) AS r0
        |  FROM scored),
        |lex AS (
        |  SELECT query_id, doc_id,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY score_q DESC, doc_id ASC)::INT AS rank
        |  FROM lextop WHERE r0 <= 10 AND doc_id <> query_id),
        |sh AS (
        |  SELECT doc_id, CASE WHEN len(t) >= 3 THEN
        |      list_transform(range(1, len(t) - 1), i ->
        |        array_to_string(list_slice(t, i, i + 2), ' '))
        |    ELSE [array_to_string(t, ' ')] END AS g
        |  FROM toks),
        |sidx AS (
        |  SELECT doc_id, g, count(*)::BIGINT AS tf
        |  FROM (SELECT doc_id, unnest(g) AS g FROM sh) GROUP BY 1, 2),
        |dft AS (SELECT g AS gg, count(*)::BIGINT AS sdf FROM sidx
        |  GROUP BY 1),
        |st AS (SELECT count(DISTINCT doc_id)::BIGINT AS sn FROM sidx),
        |wv AS (
        |  SELECT doc_id, g,
        |    tf * round(ln(1.0 + sn::DOUBLE / sdf::DOUBLE) * 1000.0)::BIGINT
        |      AS wq
        |  FROM sidx JOIN dft ON g = gg CROSS JOIN st),
        |nrm AS (SELECT doc_id, sum(wq * wq)::BIGINT AS n2 FROM wv
        |  GROUP BY 1),
        |sdot AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    sum(a.wq * b.wq)::BIGINT AS dot_q
        |  FROM wv a JOIN wv b ON a.g = b.g AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |spairs AS (
        |  SELECT doc_a, doc_b, round(dot_q::DOUBLE /
        |      sqrt(x.n2::DOUBLE * y.n2::DOUBLE), 4) AS cos
        |  FROM sdot JOIN nrm x ON x.doc_id = doc_a
        |           JOIN nrm y ON y.doc_id = doc_b
        |  WHERE dot_q::DOUBLE / sqrt(x.n2::DOUBLE * y.n2::DOUBLE) >= 0.5),
        |ssym AS (
        |  SELECT doc_a AS query_id, doc_b AS doc_id, cos FROM spairs
        |  UNION ALL SELECT doc_b, doc_a, cos FROM spairs),
        |shing AS (
        |  SELECT query_id, doc_id, rank FROM (
        |    SELECT query_id, doc_id,
        |      row_number() OVER (PARTITION BY query_id
        |        ORDER BY cos DESC, doc_id ASC)::INT AS rank
        |    FROM ssym WHERE query_id < 8)
        |  WHERE rank <= 10),
        |dsims AS (
        |  SELECT q.vec_id AS query_id, e.vec_id AS doc_id,
        |    list_sum(list_transform(range(1, len(q.embedding) + 1),
        |      i -> q.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE)) /
        |    (sqrt(list_sum(list_transform(range(1, len(q.embedding) + 1),
        |      i -> q.embedding[i]::DOUBLE * q.embedding[i]::DOUBLE))) *
        |     sqrt(list_sum(list_transform(range(1, len(e.embedding) + 1),
        |      i -> e.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE))))
        |      AS sim
        |  FROM (SELECT * FROM embeddings WHERE vec_id < 8) q,
        |    embeddings e
        |  WHERE e.vec_id <> q.vec_id),
        |dense AS (
        |  SELECT query_id, doc_id, rank FROM (
        |    SELECT query_id, doc_id,
        |      row_number() OVER (PARTITION BY query_id
        |        ORDER BY sim DESC, doc_id ASC)::INT AS rank
        |    FROM dsims)
        |  WHERE rank <= 10),
        |unioned AS (
        |  SELECT query_id, doc_id, rank FROM lex
        |  UNION ALL SELECT query_id, doc_id, rank FROM shing
        |  UNION ALL SELECT query_id, doc_id, rank FROM dense),
        |fused AS (
        |  SELECT query_id, doc_id,
        |    sum(round(1e9 / (60.0 + rank))::BIGINT)::BIGINT AS rrf_q,
        |    count(*)::BIGINT AS n_systems
        |  FROM unioned GROUP BY 1, 2),
        |franked AS (
        |  SELECT query_id, doc_id, rrf_q, n_systems,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY rrf_q DESC, doc_id ASC)::INT AS fused_rank
        |  FROM fused)
        |SELECT query_id, doc_id, rrf_q, n_systems, fused_rank,
        |  rrf_q::DOUBLE / 1e9 AS rrf
        |FROM franked WHERE fused_rank <= 5""".stripMargin,

    "q216_split_leakage" ->
      """WITH RECURSIVE toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS t
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, unnest(CASE WHEN len(t) >= 3 THEN
        |      list_distinct(list_transform(range(1, len(t) - 1),
        |        i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
        |    ELSE [array_to_string(t, ' ')] END) AS s
        |  FROM toks),
        |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        |ix AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |pairs AS (
        |  SELECT doc_a, doc_b FROM ix
        |  JOIN sz sa ON doc_a = sa.doc_id
        |  JOIN sz sb ON doc_b = sb.doc_id
        |  WHERE i::DOUBLE / (sa.n + sb.n - i) >= 0.8),
        |edges AS (
        |  SELECT doc_a AS s, doc_b AS t FROM pairs
        |  UNION ALL SELECT doc_b, doc_a FROM pairs),
        |reach(s, t) AS (
        |  SELECT s, t FROM edges
        |  UNION
        |  SELECT r.s, e.t FROM reach r JOIN edges e ON r.t = e.s),
        |lbl AS (
        |  SELECT s AS doc_id, least(s, min(t)) AS cluster
        |  FROM reach GROUP BY s),
        |sp AS (
        |  SELECT doc_id,
        |    ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT % 100
        |      AS bucket
        |  FROM documents),
        |spl AS (
        |  SELECT doc_id, bucket,
        |    CASE WHEN bucket < 90 THEN 'train'
        |         WHEN bucket < 95 THEN 'val'
        |         ELSE 'test' END AS split
        |  FROM sp),
        |agg AS (
        |  SELECT l.cluster,
        |    count(DISTINCT s.split)::BIGINT AS n_cluster_splits
        |  FROM lbl l JOIN spl s USING (doc_id) GROUP BY 1),
        |corp AS (
        |  SELECT s.doc_id, s.bucket, s.split,
        |    coalesce(l.cluster, s.doc_id) AS cluster
        |  FROM spl s LEFT JOIN lbl l USING (doc_id))
        |SELECT f.doc_id, f.bucket, f.split, f.cluster,
        |  coalesce(a.n_cluster_splits, 1)::BIGINT AS n_cluster_splits,
        |  coalesce(a.n_cluster_splits, 1) > 1 AS is_leaked
        |FROM corp f LEFT JOIN agg a USING (cluster)""".stripMargin,

    // q217 = the personalized update unrolled 5 rounds over q181's
    // prefixed purchase graph, teleport on the 3 lowest-custkey buyers.
    "q217_personalized_pagerank" -> pprOracle(
      """SELECT DISTINCT 'c' || o_custkey AS src, 's' || l_suppkey AS dst
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey"""
        .stripMargin,
      """SELECT 'c' || o_custkey AS node FROM (
        |    SELECT DISTINCT o_custkey FROM orders
        |    ORDER BY o_custkey LIMIT 3)""".stripMargin,
      iterations = 5, damping = 0.85),

    // q218 = 4 chained Bellman-Ford rounds (d_i = min cost over paths
    // of <= i edges) over the affinity-weighted co-order graph — the
    // frontier optimization under test changes the work, never the
    // fixpoint, and rounds past convergence are no-ops in both engines.
    "q218_cheapest_paths" -> {
      val rounds = (1 to 4).map { i =>
        s"""d$i AS MATERIALIZED (
           |  SELECT node, min(cost)::BIGINT AS cost FROM (
           |    SELECT node, cost FROM d${i - 1}
           |    UNION ALL
           |    SELECT a.v AS node, d.cost + a.w AS cost
           |    FROM d${i - 1} d JOIN adj a ON a.u = d.node)
           |  GROUP BY node)""".stripMargin
      }.mkString(",\n")
      s"""WITH li AS MATERIALIZED (
         |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
         |  FROM lineitem WHERE l_quantity >= 45),
         |pe AS MATERIALIZED (
         |  SELECT x.pk AS src, y.pk AS dst,
         |    (101 - least(count(*), 100))::BIGINT AS w
         |  FROM li x JOIN li y ON x.ok = y.ok AND x.pk < y.pk
         |  GROUP BY x.pk, y.pk),
         |adj AS MATERIALIZED (
         |  SELECT u, v, min(w)::BIGINT AS w FROM (
         |    SELECT src AS u, dst AS v, w FROM pe
         |    UNION ALL SELECT dst, src, w FROM pe)
         |  GROUP BY 1, 2),
         |d0 AS MATERIALIZED (
         |  SELECT DISTINCT pk AS node, 0::BIGINT AS cost
         |  FROM li WHERE pk % 97 = 0),
         |$rounds
         |SELECT node, cost FROM d4""".stripMargin
    },

    // q219 = the weighted rank·(w/W) update unrolled 5 rounds over the
    // purchase-count-weighted customer→supplier edge list.
    "q219_weighted_pagerank" -> weightedPageRankOracle(
      """SELECT 'c' || o_custkey AS src, 's' || l_suppkey AS dst,
        |    count(*)::BIGINT AS w
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  GROUP BY 1, 2""".stripMargin,
      iterations = 5, damping = 0.85),

    // q222/q223 = the identical regex pipeline replayed in RE2: same
    // invisible-content drop, same block-split tag set, same tag strip
    // + entity decode order + whitespace collapse, same exact-integer
    // link-density test (400000 ppm, min 25 chars).
    "q222_html_blocks" -> (htmlBlocksCtes() +
      """
        |SELECT doc_id, block_idx, block_text, text_chars, link_chars,
        |  (text_chars < 25 OR link_chars * 1000000 > 400000 * text_chars)
        |    AS is_boilerplate
        |FROM f""".stripMargin),

    // q226 = the extraction chain (q222's CTEs over the raw-crawl page
    // fixture) reassembled per document, fed as the TEXT side of q163's
    // web-curation chain — blocklist + URL dedup off `norm`, q90's
    // content battery over the EXTRACTED text, WebReasons fold.
    "q226_crawl_extract_curate" -> (
      urlNormCtes(
        // LEFT join + coalesce'd empty text mirrors extractHtmlText's
        // id-spine join-back (ADVICE r18): a zero-block page keeps its
        // row with text '' (none exist in this fixture — contract
        // parity, not a value change)
        """SELECT p.doc_id, p.url, coalesce(x.text, '') AS text
          |  FROM h p LEFT JOIN ex x ON x.doc_id = p.doc_id""".stripMargin,
        htmlBlocksCtes(
          urlFixtureSql(" " + htmlPageSqlExpr + " AS html,")) +
          """,
            |ex AS (
            |  SELECT doc_id,
            |    coalesce(string_agg(CASE WHEN NOT (text_chars < 25 OR
            |        link_chars * 1000000 > 400000 * text_chars)
            |      THEN block_text END, chr(10) ORDER BY block_idx), '')
            |      AS text
            |  FROM f GROUP BY doc_id),
            |""".stripMargin) + "," +
      """
        |sfx AS (
        |  SELECT doc_id,
        |    unnest(list_transform(
        |      range(1, len(string_split(host, '.')) + 1),
        |      i -> array_to_string(list_slice(string_split(host, '.'),
        |        i, len(string_split(host, '.'))), '.'))) AS dom
        |  FROM norm WHERE host IS NOT NULL),
        |blk AS (SELECT DISTINCT doc_id FROM sfx
        |  WHERE dom IN ('h7.example.com', 'h13.example.com',
        |    'example.org')),
        |ud AS (
        |  SELECT doc_id,
        |    doc_id <> min(doc_id) OVER (PARTITION BY nurl) AS isdup
        |  FROM norm),
        |""".stripMargin +
      curateCtes("SELECT doc_id, text FROM urls") +
      """,
        |w AS (
        |  SELECT v.doc_id,
        |    CASE WHEN blk.doc_id IS NOT NULL THEN 'blocked_host'
        |         WHEN ud.isdup THEN 'url_duplicate'
        |         ELSE v.reason END AS reason
        |  FROM v
        |  LEFT JOIN blk ON blk.doc_id = v.doc_id
        |  JOIN ud ON ud.doc_id = v.doc_id)
        |SELECT doc_id, reason IS NULL AS keep, reason FROM w"""
        .stripMargin),

    // q229 = the weighted rank·(w/W) split under the q217 preference
    // vector, unrolled 5 rounds.
    "q229_weighted_ppr" -> weightedPprOracle(
      """SELECT 'c' || o_custkey AS src, 's' || l_suppkey AS dst,
        |    count(*)::BIGINT AS w
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  GROUP BY 1, 2""".stripMargin,
      """SELECT 'c' || o_custkey AS node FROM (
        |    SELECT DISTINCT o_custkey FROM orders
        |    ORDER BY o_custkey LIMIT 3)""".stripMargin,
      iterations = 5, damping = 0.85),

    // q230 = the FULL q208 reachability closure: the 80/20 orderkey
    // split is internal to the operator under test (every edge lives
    // inside one order, so old ∪ batch = the whole edge set), and the
    // gate is exactly "append ≡ fresh re-cluster".
    "q230_incremental_components" ->
      """WITH RECURSIVE li AS (
        |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
        |  FROM lineitem WHERE l_quantity >= 45),
        |e AS (
        |  SELECT DISTINCT x.pk AS u, y.pk AS v
        |  FROM li x JOIN li y ON x.ok = y.ok AND x.pk < y.pk),
        |adj AS (SELECT u, v FROM e UNION ALL SELECT v, u FROM e),
        |r(node, reach) AS (
        |  SELECT u, u FROM (SELECT DISTINCT u FROM adj)
        |  UNION
        |  SELECT r.node, a.v FROM r JOIN adj a ON a.u = r.reach)
        |SELECT node, min(reach)::BIGINT AS component FROM r
        |GROUP BY 1""".stripMargin,

    // q227 = the same invisible-content drop + href extraction with
    // ordinality; q228 = that extraction (as a nested subquery) feeding
    // hostOf on both sides and q219's unrolled weighted update.
    "q227_html_outlinks" -> (
      "WITH pages AS (" + htmlLinkFixtureSql + "),\n" +
        "c AS (SELECT doc_id, regexp_replace(html, " + InvisibleSql +
        ", ' ', 'g') AS clean FROM pages),\n" +
        "l AS (SELECT doc_id, regexp_extract_all(clean, " + HrefSql +
        ", 1) AS hs FROM c)\n" +
        "SELECT doc_id, generate_subscripts(hs, 1) - 1 AS link_idx,\n" +
        "  unnest(hs) AS href FROM l"),

    "q228_link_graph_rank" -> weightedPageRankOracle(
      "SELECT src, dst, count(*)::BIGINT AS w\n" +
        "  FROM (\n" +
        "    SELECT\n" +
        "      nullif(lower(regexp_extract(trim(u.url)," +
        " '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#:]*).*$', 1)), '') AS src,\n" +
        "      nullif(lower(regexp_extract(trim(u.href)," +
        " '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#:]*).*$', 1)), '') AS dst\n" +
        "    FROM (\n" +
        "      SELECT p.url, unnest(regexp_extract_all(" +
        "regexp_replace(p.html, " + InvisibleSql + ", ' ', 'g'), " +
        HrefSql + ", 1)) AS href\n" +
        "      FROM (" + htmlLinkFixtureSql + ") p\n" +
        "    ) u) e\n" +
        "  WHERE dst IS NOT NULL GROUP BY src, dst",
      iterations = 3, damping = 0.85),

    // q224/q225 = the hard-EM unigram loop replayed in full: seed
    // ranking, per-round unrolled Viterbi DP (min cost, min(j)
    // tie-break — the kernel's smallest-start rule), recursive
    // backtrace, usage recount, and the exact-long M-step; the encode
    // runs one more DP under the final vocabulary and re-assembles
    // documents exactly like the q154 BPE encode oracle.
    "q224_unigram_learn" -> unigramLearnOracle(rounds = 2),

    "q225_unigram_encode" -> unigramEncodeOracle(rounds = 2),

    "q223_html_extract" -> (htmlBlocksCtes() +
      """,
        |g AS (
        |  SELECT doc_id, block_idx, block_text,
        |    (text_chars < 25 OR link_chars * 1000000 > 400000 * text_chars)
        |      AS bp
        |  FROM f),
        |x AS (
        |  SELECT doc_id,
        |    coalesce(string_agg(CASE WHEN NOT bp THEN block_text END,
        |      chr(10) ORDER BY block_idx), '') AS text,
        |    count(*)::BIGINT AS blocks_total,
        |    sum(CASE WHEN bp THEN 0 ELSE 1 END)::BIGINT AS blocks_kept
        |  FROM g GROUP BY doc_id)
        |SELECT h.doc_id, coalesce(x.text, '') AS text,
        |  coalesce(x.blocks_total, 0)::BIGINT AS blocks_total,
        |  coalesce(x.blocks_kept, 0)::BIGINT AS blocks_kept
        |FROM h LEFT JOIN x ON x.doc_id = h.doc_id""".stripMargin),

    // q234 = the full DSIR chain: hashed unigram+bigram features (the
    // repo's md5 60-bit convention mod 256), add-1-smoothed target and
    // corpus bucket distributions, 10⁻⁶-quantized log-ratios, and the
    // exact integer per-doc weight sum. Target counts RESTRICT the
    // shared per-doc feature frame (target ⊆ corpus, same hashing), so
    // the grams are materialized once — mirroring the operator's
    // single-feature-frame plan.
    "q234_dsir_weights" -> (DsirWeightsCtes +
      "\n" + DsirWeightsSelect),

    // q235 = q234's weights + the deterministic Gumbel-top-k: uniform
    // u = (md5-bucket(id:dsir) + 0.5)/10⁴, key = logw − ln(−ln u)
    // quantized at 10⁻⁶, top 100 by (key desc, id asc).
    "q235_dsir_resample" -> (DsirWeightsCtes +
      """,
        |wf AS (
        |""".stripMargin + DsirWeightsSelect +
      """),
        |k AS (
        |  SELECT doc_id, n_features, log_weight_q, log_weight,
        |    round((log_weight_q::DOUBLE / 1000000.0 - ln(-ln(
        |      ((('0x' || substr(md5(doc_id::VARCHAR || ':dsir'), 1, 15))
        |          ::BIGINT % 10000)::DOUBLE + 0.5) / 10000.0)))
        |      * 1000000.0)::BIGINT AS key_q
        |  FROM wf)
        |SELECT doc_id, n_features, log_weight_q, log_weight, key_q, rank
        |FROM (
        |  SELECT *, row_number() OVER (ORDER BY key_q DESC, doc_id)::INT
        |    AS rank
        |  FROM k)
        |WHERE rank <= 100""".stripMargin),

    // q241 = q235's selection chain + q101/q121's mix arithmetic over
    // the selected subset — the whole DSIR loop in one replay.
    "q241_dsir_mix" -> (DsirWeightsCtes +
      """,
        |wf AS (
        |""".stripMargin + DsirWeightsSelect +
      """),
        |kk AS (
        |  SELECT doc_id, round((log_weight_q::DOUBLE / 1000000.0
        |    - ln(-ln(((('0x' || substr(md5(doc_id::VARCHAR || ':dsir'),
        |        1, 15))::BIGINT % 10000)::DOUBLE + 0.5) / 10000.0)))
        |    * 1000000.0)::BIGINT AS key_q
        |  FROM wf),
        |sel AS (
        |  SELECT doc_id FROM (
        |    SELECT doc_id,
        |      row_number() OVER (ORDER BY key_q DESC, doc_id) AS rn
        |    FROM kk)
        |  WHERE rn <= 150),
        |st AS (
        |  SELECT d.doc_id, d.source,
        |    list_filter(string_split_regex(d.text, '\s+'), x -> x <> '')
        |      AS toks
        |  FROM documents d JOIN sel USING (doc_id)),
        |perdom AS (
        |  SELECT source, sum(len(toks))::BIGINT AS tokens
        |  FROM st GROUP BY 1),
        |tot AS (SELECT sum(tokens)::BIGINT AS total FROM perdom),
        |wt AS (
        |  SELECT source,
        |    round(least(
        |      (CASE source WHEN 'src0' THEN 0.3 WHEN 'src1' THEN 0.2
        |        WHEN 'src2' THEN 0.05 WHEN 'src3' THEN 0.05
        |        WHEN 'src4' THEN 0.05 WHEN 'src5' THEN 0.05
        |        WHEN 'src6' THEN 0.05 WHEN 'src7' THEN 0.05
        |        WHEN 'src8' THEN 0.05 WHEN 'src9' THEN 0.05
        |        WHEN 'src10' THEN 0.05 WHEN 'src11' THEN 0.05
        |        ELSE 0.0 END::DOUBLE)
        |      / (tokens::DOUBLE / total::DOUBLE), 4.0), 6) AS sw
        |  FROM perdom, tot),
        |c AS (
        |  SELECT st.doc_id, st.source,
        |    (floor(sw)::INT + CASE WHEN
        |      (('0x' || substr(md5(st.doc_id::VARCHAR || ':epoch'),
        |        1, 15))::BIGINT % 10000)::DOUBLE
        |        < (sw - floor(sw)) * 10000
        |      THEN 1 ELSE 0 END) AS copies
        |  FROM st JOIN wt USING (source))
        |SELECT doc_id, source, unnest(range(1, copies + 1))::INT AS epoch
        |FROM c WHERE copies > 0""".stripMargin),

    // q236 = the ExactSubstr window/count/island replay: 8-token window
    // keys over the planted fixture, HAVING count > 1, lag-break island
    // merge (equal window lengths make span ends monotone, so windows
    // chain iff the start gap is <= 8).
    "q236_repeated_spans" -> (RepeatedSpanCtes +
      """,
        |b AS (
        |  SELECT doc_id, p,
        |    CASE WHEN p - lag(p) OVER (PARTITION BY doc_id ORDER BY p)
        |        <= 8 THEN 0 ELSE 1 END AS brk
        |  FROM (SELECT w.doc_id, w.p FROM w
        |        JOIN (SELECT key FROM w GROUP BY key HAVING count(*) > 1)
        |          d USING (key))),
        |g AS (
        |  SELECT doc_id, p,
        |    sum(brk) OVER (PARTITION BY doc_id ORDER BY p) AS grp
        |  FROM b)
        |SELECT doc_id, min(p)::INT AS start_tok, (max(p) + 7)::INT
        |    AS end_tok,
        |  (max(p) - min(p) + 8)::INT AS span_tokens,
        |  count(*)::BIGINT AS n_windows
        |FROM g GROUP BY doc_id, grp""".stripMargin),

    // q237 = q236 plus the canonical-keep exception (min (doc, pos) per
    // duplicated key survives) and the index-filter rebuild — kept
    // tokens re-join with single spaces, untouched docs pass through
    // byte-exact via the NULL-spans CASE.
    "q237_excise_repeats" -> (RepeatedSpanCtes +
      """,
        |kp AS (
        |  SELECT key, min(struct_pack(d := doc_id, p := p)) AS wmin
        |  FROM w GROUP BY key HAVING count(*) > 1),
        |f AS (
        |  SELECT w.doc_id, w.p FROM w JOIN kp USING (key)
        |  WHERE NOT (w.doc_id = kp.wmin.d AND w.p = kp.wmin.p)),
        |b AS (
        |  SELECT doc_id, p,
        |    CASE WHEN p - lag(p) OVER (PARTITION BY doc_id ORDER BY p)
        |        <= 8 THEN 0 ELSE 1 END AS brk
        |  FROM f),
        |g AS (
        |  SELECT doc_id, p,
        |    sum(brk) OVER (PARTITION BY doc_id ORDER BY p) AS grp
        |  FROM b),
        |isl AS (
        |  SELECT doc_id, min(p) AS s, max(p) + 7 AS e
        |  FROM g GROUP BY doc_id, grp),
        |sp AS (
        |  SELECT doc_id, list(struct_pack(s := s, e := e)) AS spans
        |  FROM isl GROUP BY doc_id)
        |SELECT t.doc_id,
        |  CASE WHEN sp.spans IS NULL THEN t.text
        |    ELSE coalesce(array_to_string(list_transform(
        |      list_filter(range(1, len(t.toks) + 1),
        |        i -> len(list_filter(sp.spans,
        |          x -> i >= x.s AND i <= x.e)) = 0),
        |      i -> t.toks[i]), ' '), '')
        |  END AS text,
        |  CASE WHEN sp.spans IS NULL THEN 0
        |    ELSE list_sum(list_transform(sp.spans, x -> x.e - x.s + 1))
        |  END::INT AS n_tokens_removed
        |FROM t LEFT JOIN sp USING (doc_id)""".stripMargin),

    // q238 = the full-graph q186 recount — the append gate IS
    // equivalence with recomputation.
    "q238_incremental_triangles" -> TriangleOracleSql,

    // q240 = the q236 window/island replay joined across the corpus ×
    // q158-benchmark boundary, islands per (doc, bench, offset).
    "q240_exact_decontaminate" ->
      """WITH bench AS (
        |  SELECT doc_id AS bench_id,
        |    'zq ' || substr(text, 31, 220) AS btext
        |  FROM documents WHERE doc_id % 22 = 0 AND length(text) >= 300),
        |ct AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(text, '\s+'), x -> x <> '')
        |      AS toks
        |  FROM documents),
        |bt AS (
        |  SELECT bench_id,
        |    list_filter(string_split_regex(btext, '\s+'), x -> x <> '')
        |      AS toks
        |  FROM bench),
        |cw AS (
        |  SELECT doc_id, e.p AS pd, e.key AS key FROM (
        |    SELECT doc_id, unnest(list_transform(range(1, len(toks) - 6),
        |      i -> struct_pack(p := i,
        |        key := ('0x' || substr(md5(
        |          array_to_string(toks[i:i+7], ' ')), 1, 15))::BIGINT)))
        |      AS e
        |    FROM ct)),
        |bw AS (
        |  SELECT bench_id, e.p AS pb, e.key AS key FROM (
        |    SELECT bench_id, unnest(list_transform(range(1, len(toks) - 6),
        |      i -> struct_pack(p := i,
        |        key := ('0x' || substr(md5(
        |          array_to_string(toks[i:i+7], ' ')), 1, 15))::BIGINT)))
        |      AS e
        |    FROM bt)),
        |m AS (
        |  SELECT cw.doc_id, bw.bench_id, cw.pd, bw.pb,
        |    cw.pd - bw.pb AS offs
        |  FROM cw JOIN bw USING (key)),
        |b AS (
        |  SELECT *, CASE WHEN pd - lag(pd) OVER (
        |      PARTITION BY doc_id, bench_id, offs ORDER BY pd) <= 8
        |    THEN 0 ELSE 1 END AS brk
        |  FROM m),
        |g AS (
        |  SELECT *, sum(brk) OVER (
        |      PARTITION BY doc_id, bench_id, offs ORDER BY pd) AS grp
        |  FROM b)
        |SELECT doc_id, bench_id, min(pd)::INT AS doc_start_tok,
        |  min(pb)::INT AS bench_start_tok,
        |  (max(pd) - min(pd) + 8)::INT AS span_tokens,
        |  count(*)::BIGINT AS n_windows
        |FROM g GROUP BY doc_id, bench_id, offs, grp""".stripMargin
  )

  /** The full-graph triangle oracle (q186's degree-ordered orientation
    * as tuple CASEs, wedge join, closure join, per-corner count union)
    * — shared verbatim by q238: the incremental gate is exactly "append
    * ≡ fresh full-graph recount".
    */
  private def TriangleOracleSql: String =
    """WITH li AS (
      |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
      |  FROM lineitem WHERE l_quantity >= 25),
      |e AS (
      |  SELECT DISTINCT x.pk AS u, y.pk AS v
      |  FROM li x JOIN li y ON x.ok = y.ok AND x.pk < y.pk),
      |deg AS (
      |  SELECT node, count(*)::BIGINT AS dg FROM (
      |    SELECT u AS node FROM e UNION ALL SELECT v FROM e)
      |  GROUP BY node),
      |o AS (
      |  SELECT
      |    CASE WHEN (du.dg, e.u) < (dv.dg, e.v) THEN e.u ELSE e.v END
      |      AS s,
      |    CASE WHEN (du.dg, e.u) < (dv.dg, e.v) THEN e.v ELSE e.u END
      |      AS t,
      |    CASE WHEN (du.dg, e.u) < (dv.dg, e.v) THEN dv.dg ELSE du.dg
      |      END AS td
      |  FROM e JOIN deg du ON du.node = e.u
      |    JOIN deg dv ON dv.node = e.v),
      |w AS (
      |  SELECT o1.s, o1.t AS a, o2.t AS b
      |  FROM o o1 JOIN o o2 ON o1.s = o2.s
      |  WHERE (o1.td, o1.t) < (o2.td, o2.t)),
      |tri AS (SELECT w.s, w.a, w.b
      |  FROM w JOIN o ON o.s = w.a AND o.t = w.b),
      |cnt AS (
      |  SELECT node, count(*)::BIGINT AS triangles FROM (
      |    SELECT s AS node FROM tri
      |    UNION ALL SELECT a FROM tri
      |    UNION ALL SELECT b FROM tri)
      |  GROUP BY node)
      |SELECT deg.node, coalesce(cnt.triangles, 0::BIGINT) AS triangles
      |FROM deg LEFT JOIN cnt USING (node)""".stripMargin

  /** Shared CTE chain of the q236/q237 ExactSubstr oracle — the planted
    * fixture (mirror of `repeatFixture`), tokens, and the 8-token md5
    * window keys.
    */
  private def RepeatedSpanCtes: String =
    """WITH base AS (
      |  SELECT doc_id, CASE
      |    WHEN doc_id % 9 = 0 THEN text ||
      |      ' subscribe to the channel and hit the bell icon for more' ||
      |      ' updates'
      |    WHEN doc_id % 50 = 3 THEN text ||
      |      ' alpha beta gamma delta epsilon zeta eta theta' ||
      |      ' alpha beta gamma delta epsilon zeta eta theta'
      |    ELSE text END AS text
      |  FROM documents),
      |t AS (
      |  SELECT doc_id, text,
      |    list_filter(string_split_regex(text, '\s+'), x -> x <> '')
      |      AS toks
      |  FROM base),
      |k AS (
      |  SELECT doc_id, unnest(list_transform(range(1, len(toks) - 6),
      |    i -> struct_pack(p := i,
      |      key := ('0x' || substr(md5(array_to_string(toks[i:i+7], ' ')),
      |        1, 15))::BIGINT))) AS e
      |  FROM t),
      |w AS (SELECT doc_id, e.p AS p, e.key AS key FROM k)""".stripMargin

  /** Shared CTE chain of the q234/q235 DSIR oracle — grams, hashed
    * features, corpus/target bucket counts, quantized log-ratios.
    */
  private def DsirWeightsCtes: String =
    """WITH t AS (
      |  SELECT doc_id,
      |    list_filter(string_split_regex(text, '\s+'), x -> x <> '')
      |      AS toks
      |  FROM documents),
      |g AS (
      |  SELECT doc_id, unnest(toks) AS gram FROM t
      |  UNION ALL
      |  SELECT doc_id, unnest(list_transform(range(1, len(toks)),
      |    i -> toks[i] || ' ' || toks[i + 1])) AS gram FROM t),
      |f AS (
      |  SELECT doc_id,
      |    ('0x' || substr(md5(gram), 1, 15))::BIGINT % 256 AS bucket,
      |    count(*)::BIGINT AS cnt
      |  FROM g GROUP BY 1, 2),
      |qc AS (SELECT bucket, sum(cnt)::BIGINT AS qcnt FROM f GROUP BY 1),
      |qt AS (SELECT sum(cnt)::BIGINT AS qtot FROM f),
      |pcf AS (
      |  SELECT f.bucket, sum(f.cnt)::BIGINT AS pcnt
      |  FROM f JOIN documents dd USING (doc_id)
      |  WHERE dd.source IN ('src0', 'src1') GROUP BY 1),
      |pt AS (SELECT sum(pcnt)::BIGINT AS ptot FROM pcf),
      |r AS (
      |  SELECT qc.bucket,
      |    round((ln(coalesce(pcf.pcnt, 0) + 1.0) - ln(pt.ptot + 256.0)
      |         - ln(qc.qcnt + 1.0) + ln(qt.qtot + 256.0))
      |      * 1000000.0)::BIGINT AS qlr
      |  FROM qc LEFT JOIN pcf USING (bucket), pt, qt),
      |w AS (
      |  SELECT doc_id, sum(cnt)::BIGINT AS n_features,
      |    sum(cnt * qlr)::BIGINT AS log_weight_q
      |  FROM f JOIN r USING (bucket) GROUP BY 1)""".stripMargin

  private def DsirWeightsSelect: String =
    """SELECT d.doc_id, coalesce(w.n_features, 0)::BIGINT AS n_features,
      |  coalesce(w.log_weight_q, 0)::BIGINT AS log_weight_q,
      |  coalesce(w.log_weight_q, 0)::DOUBLE / 1000000.0 AS log_weight
      |FROM documents d LEFT JOIN w USING (doc_id)""".stripMargin

  /** One hard-EM round of the unigram oracle (q224/q225): edge table
    * (every vocabulary match at every position + the 30e9 unknown
    * edge), the Viterbi DP unrolled over `maxLen` positions — per
    * position a candidate set, the min cost, and the min(j) argmin
    * (the kernel's smallest-start tie-break) — then the recursive
    * backtrace, the frequency-weighted usage count, and the
    * prune-unused / keep-singles M-step with the exact-long cost
    * update. `vocab` names the incoming vocabulary CTE (piece, usage,
    * cost); emits `vocab$r`.
    */
  private def unigramDpBlock(r: Int, vocab: String,
      maxLen: Int = 8): String = {
    val dp = (1 to maxLen).map { i =>
      s"""c_${r}_$i AS MATERIALIZED (
         |  SELECT e.word, d.cost + e.cost AS c, d.i AS j
         |  FROM a_${r}_${i - 1} d JOIN e_$r e
         |    ON e.word = d.word AND e.j = d.i AND e.e = $i),
         |m_${r}_$i AS (SELECT word, min(c) AS cost FROM c_${r}_$i
         |  GROUP BY word),
         |d_${r}_$i AS (
         |  SELECT c.word, $i::BIGINT AS i, m.cost, min(c.j)::BIGINT AS prev
         |  FROM c_${r}_$i c JOIN m_${r}_$i m
         |    ON m.word = c.word AND c.c = m.cost
         |  GROUP BY c.word, m.cost),
         |a_${r}_$i AS MATERIALIZED (
         |  SELECT * FROM a_${r}_${i - 1} UNION ALL SELECT * FROM d_${r}_$i)"""
        .stripMargin
    }.mkString(",\n")
    s"""e_$r AS MATERIALIZED (
       |  SELECT w.word, i.i AS j, i.i + length(v.piece) AS e, v.cost
       |  FROM words w, range(0, $maxLen) i(i) JOIN $vocab v
       |    ON substr(w.word, (i.i + 1)::INT, length(v.piece)::INT) = v.piece
       |  WHERE i.i < length(w.word)
       |  UNION ALL
       |  SELECT w.word, i.i, i.i + 1, 30000000000
       |  FROM words w, range(0, $maxLen) i(i) WHERE i.i < length(w.word)),
       |a_${r}_0 AS MATERIALIZED (
       |  SELECT word, 0::BIGINT AS i, 0::BIGINT AS cost,
       |    NULL::BIGINT AS prev
       |  FROM words),
       |$dp,
       |f_$r AS (SELECT a.word, a.i, a.prev FROM a_${r}_$maxLen a
       |  WHERE a.i = length(a.word)),
       |bt_$r AS (
       |  SELECT word, i, prev FROM f_$r
       |  UNION ALL
       |  SELECT b.word, a.i, a.prev FROM bt_$r b JOIN a_${r}_$maxLen a
       |    ON a.word = b.word AND a.i = b.prev WHERE b.prev > 0),
       |use_$r AS MATERIALIZED (
       |  SELECT substr(b.word, (b.prev + 1)::INT, (b.i - b.prev)::INT)
       |      AS piece,
       |    sum(w.n)::BIGINT AS usage
       |  FROM bt_$r b JOIN words w ON w.word = b.word
       |  WHERE b.i > 0 GROUP BY 1),
       |sv_$r AS MATERIALIZED (
       |  SELECT v.piece, coalesce(u.usage, 0)::BIGINT AS usage,
       |    (CASE WHEN coalesce(u.usage, 0) > 0 THEN u.usage
       |          ELSE 1 END)::BIGINT AS eff
       |  FROM $vocab v LEFT JOIN use_$r u ON u.piece = v.piece
       |  WHERE coalesce(u.usage, 0) > 0 OR length(v.piece) = 1),
       |tt_$r AS (SELECT sum(eff)::BIGINT AS total FROM sv_$r),
       |vocab$r AS MATERIALIZED (
       |  SELECT piece, usage,
       |    round(ln(total::DOUBLE / eff::DOUBLE) * 1e9)::BIGINT AS cost
       |  FROM sv_$r CROSS JOIN tt_$r)""".stripMargin
  }

  /** The q224/q225 shared prefix: word-frequency dictionary (the
    * learnBpeMerges/tokens() whitespace semantics), the substring-
    * frequency seed (every occurrence ≤ maxPieceLen weighted by word
    * frequency), the (cnt desc, piece asc) top-`seedSize` selection +
    * single-char coverage floor, and the initial quantized −ln p costs.
    * Dedup is an explicit group-by — under WITH RECURSIVE DuckDB gives
    * a bare UNION recursive semantics, double-emitting rows.
    */
  private def unigramPrefixSql(seedSize: Int = 40, maxPieceLen: Int = 4,
      maxLen: Int = 8): String =
    s"""WITH RECURSIVE
       |words AS MATERIALIZED (
       |  SELECT word, n FROM (
       |    SELECT word, count(*)::BIGINT AS n FROM (
       |      SELECT unnest(list_filter(string_split_regex(text, '\\s+'),
       |        x -> x <> '')) AS word
       |      FROM documents WHERE text IS NOT NULL) GROUP BY word)
       |  -- fail-loud maxLen guard (ADVICE r18): the DP below unrolls
       |  -- over exactly $maxLen positions, so a dictionary word longer
       |  -- than that would silently vanish from the oracle's seed
       |  -- counts, usage, and backtrace while the Scala operator
       |  -- handles it — a fixture change must surface as an ERROR, not
       |  -- as a hash divergence.
       |  WHERE CASE WHEN length(word) > $maxLen THEN
       |    error('unigram oracle: word longer than the unrolled maxLen='
       |      || '$maxLen: ' || word)
       |    ELSE TRUE END),
       |sub AS MATERIALIZED (
       |  SELECT substr(w.word, (i.i + 1)::INT, l.l::INT) AS piece,
       |    sum(w.n)::BIGINT AS cnt
       |  FROM words w, range(0, $maxLen) i(i),
       |    range(1, ${maxPieceLen + 1}) l(l)
       |  WHERE i.i < length(w.word) AND i.i + l.l <= length(w.word)
       |  GROUP BY 1),
       |sel AS (SELECT piece, cnt FROM sub
       |  ORDER BY cnt DESC, piece ASC LIMIT $seedSize),
       |v0 AS (
       |  SELECT piece, max(cnt) AS cnt FROM (
       |    SELECT piece, cnt FROM sel
       |    UNION ALL
       |    SELECT piece, cnt FROM sub WHERE length(piece) = 1)
       |  GROUP BY piece),
       |t0 AS (SELECT sum(cnt)::BIGINT AS total FROM v0),
       |vocab0 AS MATERIALIZED (
       |  SELECT piece, cnt AS usage,
       |    round(ln(total::DOUBLE / cnt::DOUBLE) * 1e9)::BIGINT AS cost
       |  FROM v0 CROSS JOIN t0)""".stripMargin

  private def unigramLearnOracle(rounds: Int): String =
    unigramPrefixSql() + ",\n" +
      (1 to rounds).map(r => unigramDpBlock(r, s"vocab${r - 1}"))
        .mkString(",\n") +
      s"\nSELECT piece, usage, cost FROM vocab$rounds"

  /** q225: one more Viterbi DP under the FINAL vocabulary, word
    * encodings assembled from the backtrace in left-to-right order,
    * documents re-assembled exactly like [[bpeEncodeOracle]].
    */
  private def unigramEncodeOracle(rounds: Int): String =
    unigramPrefixSql() + ",\n" +
      (1 to rounds).map(r => unigramDpBlock(r, s"vocab${r - 1}"))
        .mkString(",\n") + ",\n" +
      unigramDpBlock(rounds + 1, s"vocab$rounds") +
      s""",
         |wp AS MATERIALIZED (
         |  SELECT b.word,
         |    string_agg(substr(b.word, (b.prev + 1)::INT,
         |      (b.i - b.prev)::INT), '+' ORDER BY b.i) AS w_enc,
         |    count(*)::BIGINT AS np
         |  FROM bt_${rounds + 1} b WHERE b.i > 0 GROUP BY b.word),
         |ct AS (
         |  SELECT doc_id, list_filter(string_split_regex(
         |    coalesce(text, ''), '\\s+'), x -> x <> '') AS t
         |  FROM documents),
         |dw AS (
         |  SELECT doc_id, unnest(list_transform(range(1, len(t) + 1),
         |    i -> {'pos': i, 'word': t[i]})) AS u
         |  FROM ct),
         |dw2 AS (SELECT doc_id, u.pos AS pos, u.word AS word FROM dw)
         |SELECT c.doc_id,
         |  count(w.word)::BIGINT AS n_words,
         |  coalesce(sum(wp.np), 0)::BIGINT AS n_pieces,
         |  coalesce(string_agg(wp.w_enc, ' ' ORDER BY w.pos), '')
         |    AS encoded
         |FROM ct c
         |LEFT JOIN dw2 w ON w.doc_id = c.doc_id
         |LEFT JOIN wp ON wp.word = w.word
         |GROUP BY c.doc_id""".stripMargin

  /** Invisible-content and href regexes as DuckDB literals (plain
    * triple-quoted Scala — raw, so the backslashes survive; quotes in
    * the href class are SQL-doubled). Shared by q227/q228.
    */
  private def InvisibleSql =
    """'(?is)<script\b[^>]*>.*?</script>|<style\b[^>]*>.*?</style>|<!--.*?-->'"""
  private def HrefSql =
    """'(?is)<a[ \t\r\n][^>]*?href[ \t\r\n]*=[ \t\r\n]*["'']([^"''>]*)["'']'"""

  /** The q222/q223 fixture page, mirrored from [[htmlFixture]]. */
  private def htmlFixtureSql: String =
    """SELECT doc_id,
      |  '<html><head><title>Doc ' || doc_id ||
      |  '</title><style>p{margin:0}</style></head><body>' ||
      |  '<div class="nav"><a href="/">Home</a> ' ||
      |  '<a href="/about">About</a> <a href="/contact">Contact</a>' ||
      |  '</div>' ||
      |  '<h1>Quarterly engineering report &amp; notes &lt;' || lang ||
      |  '&gt;</h1>' ||
      |  '<p>' || replace(text, ' table ', ' </p><p> ') || '</p>' ||
      |  '<div class="share">Share: <a href="/tw">Twitter</a> ' ||
      |  '<a href="/fb">Facebook</a></div>' ||
      |  '<script>track()</script><!-- id=' || doc_id || ' -->' ||
      |  '<footer><a href="/privacy">Privacy</a> &middot; ' ||
      |  '<a href="/terms">Terms</a></footer></body></html>' AS html
      |FROM documents""".stripMargin

  /** The tag-strip → entity-decode → whitespace-collapse chain of
    * [[graft.operators.Html]], as a DuckDB expression over `e`.
    */
  private def htmlToTextSql(e: String): String =
    "trim(regexp_replace(replace(replace(replace(replace(replace(" +
      s"replace(regexp_replace($e, '(?s)<[^>]*>', ' ', 'g'), " +
      "'&lt;', '<'), '&gt;', '>'), '&quot;', '\"'), " +
      "'&#39;', chr(39)), '&nbsp;', ' '), '&amp;', '&'), " +
      "'[ \\t\\r\\n]+', ' ', 'g'))"

  /** Shared q222/q223 prefix: fixture page → invisible-content drop →
    * block split (ordinality preserved) → per-block text/link
    * measurement, every stage mirroring [[graft.operators.Html]].
    * q226 re-enters with its own page fixture and WITH prefix.
    */
  private def htmlBlocksCtes(fixtureSql: String = htmlFixtureSql,
      withPrefix: String = "WITH "): String =
    s"""${withPrefix}h AS ($fixtureSql),
       |c AS (
       |  SELECT doc_id, regexp_replace(html,
       |    '(?is)<script\\b[^>]*>.*?</script>|<style\\b[^>]*>.*?</style>|<!--.*?-->',
       |    ' ', 'g') AS clean
       |  FROM h),
       |arr AS (
       |  SELECT doc_id, regexp_split_to_array(clean,
       |    '(?i)</?(?:p|div|h[1-6]|li|ul|ol|dl|dt|dd|table|thead|tbody|tr|td|th|br|hr|section|article|aside|header|footer|nav|blockquote|pre|form|title|head|body|html)(?:[ \\t\\r\\n][^>]*)?>') AS a
       |  FROM c),
       |b AS (
       |  SELECT doc_id, generate_subscripts(a, 1) - 1 AS block_idx,
       |    unnest(a) AS raw
       |  FROM arr),
       |t AS (
       |  SELECT doc_id, block_idx,
       |    ${htmlToTextSql("raw")} AS block_text,
       |    ${htmlToTextSql(
            "regexp_replace(raw, '(?is)<a\\b[^>]*>.*?</a>', ' ', 'g')")}
       |      AS noa
       |  FROM b),
       |f AS (
       |  SELECT doc_id, block_idx, block_text,
       |    length(block_text) AS text_chars,
       |    length(block_text) - length(noa) AS link_chars
       |  FROM t WHERE length(block_text) > 0)""".stripMargin

  /** q214 = the identical synchronous rounds replayed as chained CTEs
    * (the q181 pageRank replay discipline): round k's labeling is a
    * pure function of round k−1's — argmax neighbor label, count desc
    * then label asc, exactly the operator's window.
    */
  private def lpaOracleSql(rounds: Int): String = {
    val roundCtes = (1 to rounds).map { k =>
      s"""l$k AS (
         |  SELECT node, label FROM (
         |    SELECT a.v AS node, l.label, count(*) AS c,
         |      row_number() OVER (PARTITION BY a.v
         |        ORDER BY count(*) DESC, l.label ASC) AS rn
         |    FROM adj a JOIN l${k - 1} l ON l.node = a.u
         |    GROUP BY a.v, l.label)
         |  WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    coOrderCtes +
      s""",
         |adj AS (SELECT u, v FROM e UNION ALL SELECT v, u FROM e),
         |l0 AS (SELECT DISTINCT u AS node, u AS label FROM adj),
         |$roundCtes
         |SELECT node, label FROM l$rounds""".stripMargin
  }

  /** The q211/q212/q213 oracle prefix: the shared co-order edge list
    * ([[coOrderEdges]] replayed literally; q213 needs `WITH RECURSIVE`
    * so the prefix declares it for all three).
    */
  private def coOrderCtes: String =
    """WITH RECURSIVE li AS (
      |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
      |  FROM lineitem WHERE l_quantity >= 45),
      |e AS (
      |  SELECT DISTINCT x.pk AS u, y.pk AS v
      |  FROM li x JOIN li y ON x.ok = y.ok AND x.pk < y.pk)""".stripMargin

  private def hdrOracleSql(ppm: Seq[Long]): String =
    s"""WITH qv AS (
       |  SELECT event_type, round(value * 100.0)::BIGINT AS q
       |  FROM events),
       |b AS (
       |  SELECT event_type,
       |    (CASE WHEN q < 16 THEN q
       |          ELSE (length(bin(q)) - 4) * 8 +
       |               (q >> (length(bin(q)) - 4)) END)::BIGINT AS idx
       |  FROM qv),
       |sk AS (SELECT event_type, idx, count(*)::BIGINT AS n
       |  FROM b GROUP BY 1, 2),
       |c AS (
       |  SELECT event_type, idx, n,
       |    sum(n) OVER (PARTITION BY event_type ORDER BY idx
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
       |    sum(n) OVER (PARTITION BY event_type) AS tot
       |  FROM sk),
       |ps AS (SELECT unnest([${ppm.mkString(", ")}])::BIGINT AS p_ppm),
       |picked AS (
       |  SELECT event_type, p_ppm, min(idx)::BIGINT AS idx,
       |    max(tot)::BIGINT AS n_total
       |  FROM c CROSS JOIN ps
       |  WHERE cum * 1000000 >= p_ppm * tot
       |  GROUP BY 1, 2),
       |dec AS (
       |  SELECT event_type, p_ppm, idx, n_total,
       |    (CASE WHEN idx < 16 THEN idx
       |          ELSE (idx - ((idx >> 3) - 1) * 8) << ((idx >> 3) - 1)
       |     END)::BIGINT AS lo_q,
       |    (CASE WHEN idx < 16 THEN idx
       |          ELSE ((idx - ((idx >> 3) - 1) * 8 + 1)
       |            << ((idx >> 3) - 1)) - 1 END)::BIGINT AS hi_q
       |  FROM picked)
       |SELECT event_type, p_ppm::DOUBLE / 1e6 AS p, idx, lo_q, hi_q,
       |  n_total, ((lo_q + hi_q)::DOUBLE / 2.0) / 100.0 AS est
       |FROM dec""".stripMargin
}
