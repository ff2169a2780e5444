package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for large-scale training-data pipelines: exact
  * (content-hash groupBy), MinHash+LSH near-dup (banded signatures →
  * bucket join → exact-Jaccard verify), SimHash, and blocked n-gram
  * Jaccard.
  *
  * Scale design (100 TB):
  *  - Exact dedup groups by a 128-bit content fingerprint, so the shuffle
  *    carries 16 bytes + id per row, never the document body.
  *  - MinHash-LSH generates candidate pairs ONLY within LSH buckets —
  *    never an all-pairs cross join. With b bands of r rows, a pair of
  *    similarity s collides with probability 1-(1-s^r)^b: at the default
  *    b=8, r=4 a 0.9-similar pair is caught with p≈0.9997 and a
  *    0.3-similar pair almost never (p≈0.06) — the bucket join stays
  *    near-linear. Hot buckets (boilerplate docs) are the skew risk;
  *    `minhashNearDupPairs`' `maxBucket` drops oversized buckets via a
  *    broadcast anti-join (see its scaladoc for the recall argument).
  *  - All hashing is expression-level md5 (no UDFs, engine-portable);
  *    signatures are k longs per doc, so the LSH shuffle is ~256 bytes
  *    per row.
  */
object Dedup {

  /** Whitespace/case-normalized text (the exact-dedup equivalence class). */
  def normalize(text: Column): Column =
    lower(regexp_replace(trim(text), "\\s+", " "))

  /** CCNet-style AGGRESSIVE normalization (Wenzek et al. 2020 §4.1's
    * dedup preprocessing: lowercase, strip punctuation, fold digits):
    * beyond [[normalize]], every non-letter/digit/space character is
    * removed and every digit folds to 0, so "Hello, World — 2024!" and
    * "hello world 2023" land in ONE equivalence class. This is the
    * fingerprint key web-corpus dedup actually uses — raw exact dedup
    * misses the trivially-reformatted mirrors (punctuation variants,
    * dates, tracking numbers) that dominate crawl duplicates.
    *
    * \p{L}/\p{N} character classes, so non-ASCII scripts survive (only
    * symbols/punct strip). Pure regexp_replace chain — codegen'd,
    * per-row, engine-portable (DuckDB RE2 has the same classes).
    */
  def aggressiveNormalize(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(
        regexp_replace(lower(text), "[^\\p{L}\\p{N}\\s]", ""),
        "\\p{N}", "0"),
      "\\s+", " "))

  /** The Unicode-compatibility equivalence class (VERDICT r15 #5):
    * [[aggressiveNormalize]] over the NFKC-style fold of
    * [[graft.functions.UnicodeFunctions.nfkcFold]] (NFKD → strip
    * combining marks → NFC). Catches the re-encoded mirror classes the
    * byte-level classes cannot: fullwidth forms (ｈｅｌｌｏ ≡ hello),
    * composed-vs-decomposed accents (café in 5 or 6 code points ≡
    * cafe), ligatures (ﬁle ≡ file), compatibility digits. The fold runs
    * BEFORE lowercasing (NFKC of Ｈ is H; lower then folds it), and the
    * whole key stays a per-row codegen'd projection — same plan shape
    * as every fingerprint class here, only the kernel changes (q125's
    * documented contract).
    */
  def unicodeNormalize(text: Column): Column =
    aggressiveNormalize(graft.functions.UnicodeFunctions.nfkcFold(text))

  /** Distinct word n-gram shingles; whole text as one shingle when
    * shorter than n tokens. Codegen'd single pass
    * ([[graft.functions.WordShinglesExpr]]) — the declarative
    * transform-over-sequence form re-tokenized the text once per shingle
    * (see ShingleExpressions scaladoc). Shingle strings match the
    * oracle's string_split_regex + join formulation exactly.
    */
  def wordShingles(text: Column, n: Int = 3): Column =
    graft.functions.ShingleFunctions.wordShingles(text, n)

  /** Distinct character n-grams of the normalized text, xxhash64-hashed
    * and sorted (the merge-intersect-ready form; gram VALUES are
    * internal — only counts reach the oracle).
    */
  def hashedCharGrams(text: Column, n: Int = 3): Column =
    graft.functions.ShingleFunctions.hashedCharGrams(normalize(text), n)

  /** MinHash signature: k independent seeded-xxhash64 min-hashes over
    * the shingle set, via the custom codegen'd expression
    * [[graft.functions.MinHashSignatureExpr]] — one pass over the
    * shingles, no shuffle, no UDF. (A nested `transform`/`array_min`
    * formulation is interpreted AND re-evaluates the collapsed shingle
    * projection once per seed: 117 s vs <1 s for 5000 docs at sf0.1.
    * Signatures never face the value oracle — only the final verified
    * pairs do — so the hash family is free to be fast.)
    */
  def minhashSignature(shingles: Column, k: Int = 32): Column =
    graft.functions.VectorFunctions.minhashSignature(shingles, k)

  /** Exact dedup: canonical id = min(id) per normalized-content
    * fingerprint, as ONE whole-partition window aggregate over the
    * 16-byte fingerprint key. The corpus is scanned once, the fingerprint
    * computed once per row, and the single shuffle carries only
    * (fingerprint, id) pairs — the document body never moves.
    *
    * (The textbook agg + join-back formulation re-scans the input on both
    * the build and probe sides — and the join's isnotnull(fingerprint)
    * pushdown re-evaluates normalize+md5 inside every scan: 4 corpus
    * reads and up to 8 fingerprint computations per document, a measured
    * 20× slowdown at sf0.1. The window form has neither problem and
    * needs no persist.)
    *
    * Hot-fingerprint ceiling: the window funnels EVERY occurrence of one
    * fingerprint through one task. The rows are (16-byte fp, id) pairs,
    * so this survives heavy duplication — but a pathological corpus
    * where one page repeats millions of times turns that task into the
    * straggler. `aggForm = true` switches to the agg + join-back shape
    * (the same skew reasoning as [[duplicatedChunkStats]]): the min(id)
    * aggregate map-side-combines — a hot fingerprint collapses to one
    * row per map task BEFORE the shuffle — and the join back is a
    * same-key join AQE skew-splits if needed. The price is the second
    * fingerprint scan the scaladoc above quantifies; pay it only when
    * the duplication profile says so. Both forms are equivalence-tested
    * (DedupSpec).
    *
    * `fingerprinter` is the equivalence class: [[TextAnalysis.fingerprint]]
    * (whitespace/case) by default; pass
    * `md5(aggressiveNormalize(_))` for the CCNet punctuation/digit-folding
    * class (q125) — the plan shape is identical, only the per-row key
    * kernel changes.
    */
  def exactDedup(df: DataFrame, textCol: String, idCol: String,
      aggForm: Boolean = false,
      fingerprinter: Column => Column = TextAnalysis.fingerprint)
      : DataFrame = {
    val fp = df.select(col(idCol), fingerprinter(col(textCol)).as("__fp"))
    if (aggForm) {
      val canon = fp.groupBy(col("__fp"))
        .agg(min(col(idCol)).as("canonical_id"))
      fp.join(canon, Seq("__fp"))
        .select(col(idCol), col("canonical_id"),
          (col(idCol) =!= col("canonical_id")).as("is_dup"))
    } else {
      val w = Window.partitionBy(col("__fp"))
      fp.withColumn("canonical_id", min(col(idCol)).over(w))
        .select(col(idCol), col("canonical_id"),
          (col(idCol) =!= col("canonical_id")).as("is_dup"))
    }
  }

  /** Incremental exact dedup — the daily-ingest composition: dedup a NEW
    * batch internally ([[exactDedup]] semantics) and mark which of its
    * documents already exist in the corpus, where the corpus is
    * represented only by its stored fingerprint table (16 bytes/doc,
    * written once at ingest).
    *
    * Scale shape: the corpus fingerprint table (billions of rows) is
    * never shuffled — it is scanned once through a bloom prefilter built
    * from the (small) batch ([[Sketches.bloomSemiFilter]]'s
    * collect-and-broadcast move), and only the ~batch-sized survivors
    * (plus the bloom's bounded false positives) reach the exact join
    * that removes those false positives. The batch side does one
    * fingerprint window, same as [[exactDedup]].
    *
    * @param corpusFps existing corpus fingerprints, column `fpCol`
    * @param expectedBatchItems sizes the bloom prefilter — set it to the
    *                            (approximate) batch row count; an
    *                            undersized bloom saturates and the
    *                            prefilter degrades to passing the whole
    *                            corpus (correct, but the scale contract
    *                            collapses)
    * @param fingerprinter the equivalence class, pluggable like
    *                      [[exactDedup]]'s (round 16): MUST match the
    *                      class the stored `corpusFps` were written
    *                      under — a class mismatch silently reports
    *                      every batch doc as novel, the false-negative
    *                      mode this operator exists to prevent
    * @return batch rows: (idCol, canonical_id, is_dup — duplicate within
    *         the batch, is_known — fingerprint already in the corpus)
    */
  def incrementalExactDedup(newDocs: DataFrame, corpusFps: DataFrame,
      textCol: String, idCol: String, fpCol: String = "fp",
      expectedBatchItems: Long = 100000L,
      fingerprinter: Column => Column = TextAnalysis.fingerprint)
      : DataFrame = {
    val fp = newDocs.select(col(idCol),
      fingerprinter(col(textCol)).as("__fp"))
    val w = Window.partitionBy(col("__fp"))
    val batch = fp.withColumn("canonical_id", min(col(idCol)).over(w))
    val known = Sketches
      .bloomSemiFilter(corpusFps, col(fpCol), fp, col("__fp"),
        expectedBatchItems)
      .select(col(fpCol).as("__fp")).distinct()
      .withColumn("__known", lit(true))
    batch.join(known, Seq("__fp"), "left")
      .select(col(idCol), col("canonical_id"),
        (col(idCol) =!= col("canonical_id")).as("is_dup"),
        coalesce(col("__known"), lit(false)).as("is_known"))
  }

  /** Chunk-level exact dedup stats — the sub-document twin of
    * [[exactDedup]] (C4-style span dedup: boilerplate/excerpt passages
    * repeat across documents that are NOT whole-document duplicates).
    * Documents are cut into consecutive non-overlapping `chunkTokens`
    * chunks (the codegen'd
    * [[graft.functions.ShingleFunctions.tokenChunks]] kernel — the
    * declarative `transform(sequence, slice)` formulation re-splits the
    * text once per chunk under CollapseProject), each chunk keyed by its
    * md5, and a chunk is DUPLICATED when its fingerprint occurs more than
    * once corpus-wide (cross-doc or repeated within one doc).
    *
    * Returns one row per input document: (idCol, n_chunks,
    * n_dup_chunks); token-free documents report (0, 0).
    *
    * Scale shape: the shuffles carry (16-byte fp, id) pairs only — the
    * text never moves past the chunking projection. Chunk-fp occurrence
    * counts are map-side-combined (a grouped count), the dup flag joins
    * back on the SAME fp key (the aggregate's output partitioning is
    * reused; only the probe side exchanges), and the final per-doc
    * rollup shuffles one small row per chunk. The chunk projection IS
    * evaluated twice (aggregate + probe side) — deliberately NOT the
    * [[exactDedup]] single-scan window form: hot chunks are the NORM
    * here (site boilerplate repeats millions of times), partial
    * aggregation + AQE skew-join absorb that skew, while a count window
    * would funnel every occurrence of a hot fingerprint through one
    * task. No collect anywhere.
    */
  def duplicatedChunkStats(df: DataFrame, textCol: String, idCol: String,
      chunkTokens: Int = 20): DataFrame = {
    require(chunkTokens >= 1, s"chunkTokens must be >= 1, got $chunkTokens")
    val ch = df.select(col(idCol),
        explode(graft.functions.ShingleFunctions
          .tokenChunks(col(textCol), chunkTokens)).as("__chunk"))
      .select(col(idCol), md5(col("__chunk")).as("__fp"))
    val occ = ch.groupBy("__fp").agg(count(lit(1)).as("__occ"))
    val perDoc = ch.join(occ, Seq("__fp"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("__occ") > 1, 1L).otherwise(0L)).as("n_dup_chunks"))
    df.select(col(idCol)).join(perDoc, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_chunks"), lit(0L)).as("n_chunks"),
        coalesce(col("n_dup_chunks"), lit(0L)).as("n_dup_chunks"))
  }

  /** MinHash-LSH near-dup pairs with exact-Jaccard verification.
    *
    * shingle → k-minhash signature → b bands of r=k/b rows → bucket join
    * on (band index, band signature) → distinct candidate pairs → exact
    * word-shingle Jaccard ≥ `threshold`.
    *
    * `maxBucket` is the hot-bucket guard for real corpora: buckets with
    * more than `maxBucket` docs (boilerplate/templated content — the
    * quadratic skew risk in the self-join) are dropped from candidate
    * generation. The hot-bucket list is tiny by construction (few keys
    * exceed any sane cap), so it broadcasts as an anti-join — no extra
    * shuffle on the band rows. Recall impact is bounded: a true
    * near-dup pair collides in several of the b bands w.h.p., so losing
    * its hottest bucket still leaves the pair discoverable (equivalence
    * asserted in DedupSpec); pairs that existed ONLY in a hot bucket are
    * template-overlap pairs, which the exact-Jaccard verify would
    * discard anyway at near-dup thresholds.
    *
    * Returns (doc_a, doc_b, jaccard) with doc_a < doc_b, jaccard rounded
    * to 4 decimals (i/u of two ints — engine-exact).
    *
    * Cost note: the shingle kernel runs once for the banding pass and
    * once per verify side (~3 corpus passes) — the deliberate trade
    * against persisting a corpus-wide array-per-doc frame, which at the
    * operator's target scale costs more in cache/spill than the extra
    * scans (shingling is a per-row codegen'd pass at scan speed; the
    * verify sides additionally prune to candidate doc ids before the
    * arrays are compared).
    *
    * Equivalence classes compose UPSTREAM, not via a parameter: to run
    * the LSH over a folded class (CCNet [[aggressiveNormalize]] or the
    * Unicode [[unicodeNormalize]] fold — so a re-encoded mirror can
    * near-dup its original), pre-project the text
    * (`docs.withColumn(textCol, ...)`) before calling; the fold is a
    * per-row codegen'd projection that fuses into the shingle scan, so
    * the composed form costs the same as a baked-in parameter would.
    */
  def minhashNearDupPairs(
      df: DataFrame,
      textCol: String,
      idCol: String,
      threshold: Double = 0.8,
      k: Int = 32,
      bands: Int = 8,
      maxBucket: Int = Int.MaxValue): DataFrame = {
    require(k % bands == 0, s"k=$k must be divisible by bands=$bands")
    require(maxBucket >= 2, s"maxBucket must be >= 2, got $maxBucket")
    val r = k / bands
    val sh = df.select(col(idCol).as("id"),
        wordShingles(col(textCol)).as("sh"))
      .withColumn("sig", minhashSignature(col("sh"), k))

    // One row per (doc, band); the band key is the r-minhash slice
    // serialized to a string (grouping key only — never leaves the join).
    val allBandRows = sh.select(col("id"), posexplode(
      transform(sequence(lit(0), lit(bands - 1)),
        j => concat_ws(",", transform(slice(col("sig"), j * r + 1, lit(r)),
          h => h.cast("string"))))).as(Seq("band", "key")))

    val bandRows =
      if (maxBucket == Int.MaxValue) allBandRows
      else {
        val hot = allBandRows.groupBy(col("band"), col("key"))
          .agg(count(lit(1)).as("__n")).filter(col("__n") > maxBucket)
          .select(col("band"), col("key"))
        allBandRows.join(broadcast(hot), Seq("band", "key"), "left_anti")
      }

    val a = bandRows.as("a"); val b = bandRows.as("b")
    val candidates = a.join(b,
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("doc_a"), col("b.id").as("doc_b"))
      .distinct()

    val sa = sh.select(col("id").as("doc_a"), col("sh").as("sh_a"))
    val sb = sh.select(col("id").as("doc_b"), col("sh").as("sh_b"))
    val inter = size(array_intersect(col("sh_a"), col("sh_b")))
    val union = size(col("sh_a")) + size(col("sh_b")) - inter
    candidates.join(sa, "doc_a").join(sb, "doc_b")
      .withColumn("jaccard", inter.cast("double") / union.cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 4).as("jaccard"))
  }

  /** The stored half of incremental near-dup dedup: (corpus_id, sh, sig)
    * per document — minhash signatures for candidate generation, shingle
    * sets for exact verification. Written once at ingest (parquet,
    * columnar: the shingle column is read ONLY for candidate rows — see
    * [[incrementalMinhashDedup]]); appending a day's batch to it is a
    * plain append, no rebuild (minhash is per-row).
    */
  def minhashCorpusIndex(df: DataFrame, textCol: String, idCol: String,
      k: Int = 32): DataFrame =
    df.select(col(idCol).as("corpus_id"),
        wordShingles(col(textCol)).as("sh"))
      .withColumn("sig", minhashSignature(col("sh"), k))

  /** Incremental MinHash-LSH near-dup — the daily-crawl composition
    * ([[incrementalExactDedup]]'s near-dup sibling): which documents of
    * a NEW batch are near-duplicates of the stored corpus? Returns one
    * (doc, corpus_doc, jaccard) row per pair at/above `threshold`;
    * anti-join the doc ids off the batch to admit only novel content.
    *
    * Scale shape: the corpus is represented by its
    * [[minhashCorpusIndex]] table and is NEVER shuffled whole — band
    * rows project (id, 2-3 longs) off the signature column, the
    * candidate join keys on (band, key), and only CANDIDATE corpus rows
    * fetch their shingle column for the exact-Jaccard verify (a
    * same-key id join — selective, since candidates ≈ batch-sized ×
    * collision rate). Defaults run r = k/bands = 2 rows per band:
    * at the 0.8 threshold the miss probability for a true pair is
    * (1 − J²)¹⁶ ≤ 4·10⁻¹⁰ even at J = 0.8 exactly — the incremental
    * form trades more candidates (cheap: verified by intersect on two
    * bounded arrays) for not missing yesterday's mirror, where
    * [[minhashNearDupPairs]]' r = 4 within-corpus default leans the
    * other way. Hot band buckets (boilerplate) inflate candidates, not
    * correctness — cap them with the same broadcast-anti-join move as
    * `maxBucket` if the batch profile demands it.
    */
  def incrementalMinhashDedup(newDocs: DataFrame, corpusIndex: DataFrame,
      textCol: String, idCol: String, threshold: Double = 0.8,
      k: Int = 32, bands: Int = 16): DataFrame = {
    require(k % bands == 0, s"k=$k must be divisible by bands=$bands")
    val r = k / bands
    // Loud k-mismatch guard (ADVICE r8): an index built with a different
    // k would band-slice truncated/empty keys and silently MISS near-dups
    // — a false-negative class invisible to any downstream check. The
    // signature length is data, not metadata, so the guard is in-plan:
    // first mismatched row fails the job with the two lengths named.
    def bandRows(sigs: DataFrame, idName: String): DataFrame = {
      // The message names WHICH side mismatched (ADVICE r9): the batch
      // side's signature is built in-function with this k, so in practice
      // only the corpus side can fire — but the guard covers both.
      val side = if (idName == "corpus_id") "corpus index" else "batch"
      val sig = when(size(col("sig")) === k, col("sig"))
        .otherwise(raise_error(concat(
          lit("incrementalMinhashDedup: signature length "),
          size(col("sig")).cast("string"),
          lit(s" != k=$k — $side built with a different k"))))
      sigs.select(col(idName), posexplode(
        transform(sequence(lit(0), lit(bands - 1)),
          j => concat_ws(",", transform(slice(sig, j * r + 1, lit(r)),
            h => h.cast("string"))))).as(Seq("band", "key")))
    }
    val batch = newDocs.select(col(idCol).as("batch_id"),
        wordShingles(col(textCol)).as("sh"))
      .withColumn("sig", minhashSignature(col("sh"), k))
    val candidates = bandRows(batch, "batch_id")
      .join(bandRows(corpusIndex.select(col("corpus_id"), col("sig")),
        "corpus_id"), Seq("band", "key"))
      .select(col("batch_id"), col("corpus_id")).distinct()
    val inter = size(array_intersect(col("sh_b"), col("sh_c")))
    val union = size(col("sh_b")) + size(col("sh_c")) - inter
    candidates
      .join(batch.select(col("batch_id"), col("sh").as("sh_b")), "batch_id")
      .join(corpusIndex.select(col("corpus_id"), col("sh").as("sh_c")),
        "corpus_id")
      .withColumn("jaccard", inter.cast("double") / union.cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("batch_id").as(idCol), col("corpus_id"),
        round(col("jaccard"), 4).as("jaccard"))
  }

  /** 60-bit SimHash over the distinct-token set: per bit, tokens vote
    * ±1 by their hash bit; the sign becomes the output bit. Computed by
    * the codegen'd [[graft.functions.SimHash60Expr]]; the hash value is
    * md5-derived and oracle-locked (DuckDB reproduces it bit-for-bit as
    * ('0x'||substr(md5(s),1,15))::BIGINT), unlike the free-choice minhash
    * family. Per-row only — no shuffle.
    */
  def withSimhash(df: DataFrame, textCol: String, out: String = "simhash"): DataFrame =
    df.withColumn(out, graft.functions.VectorFunctions.simhash60(
      array_distinct(TextAnalysis.tokens(col(textCol)))))

  /** Near-dup CLUSTERS from a near-dup pair list: connected components
    * labeled by their minimum doc id, via label propagation iterated to
    * convergence (each sweep: every node takes the min label among
    * itself and its neighbors; terminates after `diameter` sweeps).
    *
    * Scale notes: each sweep is one shuffle join on the (small) pair
    * graph — near-dup graphs are sparse by construction (LSH emits few
    * pairs per doc). Each sweep's labels are `localCheckpoint`ed:
    * persist alone bounds RECOMPUTE but not the logical plan, which
    * references the previous labels ~3× per sweep and grows ~3^sweeps —
    * deep chains OOM the driver just RENDERING the plan around a dozen
    * iterations. Checkpointing truncates the plan to a materialized leaf
    * per sweep (constant size). The default backend (localCheckpoint)
    * trades fault tolerance for not needing a checkpoint directory — an
    * executor loss mid-run fails the job and the caller reruns; set
    * `spark.graft.checkpointDir` to a durable path and every sweep
    * stages through a reliable `checkpoint()` instead ([[Persist]] —
    * round 18, the conf-flipped 100 TB posture). The convergence check
    * is one tiny count per sweep.
    *
    * @return (id, cluster) for every node appearing in `pairs` —
    *         compose with a left join + coalesce(cluster, id) for a
    *         full-corpus canonical mapping (see q45).
    */
  def nearDupClusters(pairs: DataFrame, maxIterations: Int = 10): DataFrame = {
    // Persist the pair list BEFORE the bidirectional union: both union
    // branches reference it, and without the persist the (expensive
    // upstream, e.g. LSH) pair pipeline materializes once per branch.
    val p = pairs.persist()
    val edges = p.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .unionByName(p.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .persist()
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("cluster", col("id")).transform(Persist.round)
    var converged = false
    var i = 0
    while (!converged && i < maxIterations) {
      val nbrMin = edges.join(labels, edges("dst") === labels("id"))
        .groupBy(col("src")).agg(min(col("cluster")).as("nbr_min"))
      // Old and new labels ride in ONE materialized frame, so the
      // convergence count is a filter over it — not a second join back
      // to the previous labels (one shuffle per sweep instead of two).
      val step = labels.join(nbrMin, labels("id") === nbrMin("src"), "left")
        .select(col("id"), col("cluster").as("__old"),
          least(col("cluster"), coalesce(col("nbr_min"), col("cluster")))
            .as("cluster"))
        .transform(Persist.round) // eager: materializes AND truncates the plan
      val changed = step.filter(col("cluster") =!= col("__old")).count()
      labels = step.select(col("id"), col("cluster"))
      converged = changed == 0
      i += 1
    }
    edges.unpersist()
    p.unpersist()
    // Min-label propagation advances one hop per sweep, so a component
    // with diameter > maxIterations would exit this loop SPLIT (members
    // carrying different labels) — fail loudly instead of returning
    // silently wrong clusters. Near-dup graphs have tiny diameters in
    // practice; a legitimate long chain just needs a higher cap.
    if (!converged) {
      throw new IllegalStateException(
        s"nearDupClusters did not converge in $maxIterations sweeps — a " +
          "component's diameter exceeds the cap; raise maxIterations")
    }
    labels
  }

  /** Quality-aware group dedup — near-dup clusters keep their BEST
    * member, not their lowest id: the production canonical-selection
    * rule (FineWeb/SemDeDup keep the highest-quality or most-complete
    * copy; a min-id canonical throws away the better duplicate whenever
    * the re-crawl fixed what the first crawl truncated). `score` ranks
    * members (quality logit, completeness = text length, freshness —
    * caller's choice, but it MUST be numeric: the tie order negates it;
    * ties break to the LOWEST id, the familiar convention); documents in
    * no cluster are their own canonical. The id column's type is free —
    * the tie arithmetic never touches it (ADVICE r16: the earlier
    * `struct(score, -id)` form implicitly cast string ids to double,
    * i.e. null, making the documented tie-break nondeterministic).
    *
    * Scale shape: clusters come from [[nearDupClusters]] (dup-graph-
    * bounded); the best-member aggregate runs over the CLUSTERED docs
    * only (map-side-combined `max_by` — never a per-cluster sort, and
    * never the whole corpus), and the full-corpus mapping is two
    * id/cluster-keyed projection joins. Text never shuffles; `score`
    * evaluates once per row in the scan.
    */
  def qualityCanonicalDedup(docs: DataFrame, pairs: DataFrame,
      score: Column, idCol: String = "doc_id"): DataFrame = {
    val clusters = nearDupClusters(pairs)
    val scored = docs.select(col(idCol), score.as("__s"))
    val member = scored.join(clusters, scored(idCol) === clusters("id"))
      .select(col(idCol), col("__s"), col("cluster"))
    val best = member.groupBy(col("cluster"))
      .agg(min_by(col(idCol), struct(-col("__s"), col(idCol)))
        .as("canonical_id"))
    docs.select(col(idCol))
      .join(member.select(col(idCol), col("cluster")), Seq(idCol), "left")
      .join(best, Seq("cluster"), "left")
      .select(col(idCol),
        coalesce(col("cluster"), col(idCol)).as("cluster"),
        coalesce(col("canonical_id"), col(idCol)).as("canonical_id"),
        (coalesce(col("canonical_id"), col(idCol)) =!= col(idCol))
          .as("is_dup"))
  }

  /** Blocked character-n-gram Jaccard near-dup pairs: all pairs within a
    * block (e.g. (lang, source)), never across blocks. The block-local
    * cross join is the documented trade-off vs LSH: exact recall inside
    * blocks, quadratic in block size — use when blocks are bounded
    * (partition-date buckets, per-source shards). When they are not, use
    * [[ngramNearDupPairsPrefix]] (exact, near-linear candidates) or
    * MinHash-LSH (probabilistic).
    */
  def ngramNearDupPairs(
      df: DataFrame,
      textCol: String,
      idCol: String,
      blockCols: Seq[String],
      threshold: Double = 0.8,
      n: Int = 3): DataFrame = {
    require(threshold > 0.5 && threshold <= 1.0,
      s"ngram near-dup threshold must be in (0.5, 1], got $threshold")
    // Grams are hashed to longs and SORTED once per doc, so the pairwise
    // intersection is a codegen'd linear merge
    // ([[graft.functions.SortedIntersectCountExpr]]) instead of an
    // interpreted hash-set intersect per pair. Jaccard counts are
    // unchanged (64-bit collisions within a doc pair are ~1e-12 events).
    //
    // Size banding is part of the JOIN KEY, not just a post-filter:
    // J ≥ t forces min/max gram-count ratio ≥ t, so with log-base 1/t
    // bands an eligible pair's bands differ by at most 1. One side joins
    // on its own band; the other replicates to {β-1, β, β+1} — every
    // eligible pair matches exactly once (on the a-side band) and the
    // per-bucket fan-out drops by ~#bands/3. The exact ratio check stays
    // in the condition (banding is necessary, not sufficient).
    val logB = math.log(1.0 / threshold)
    def bandOf(sz: Column): Column =
      floor(log(sz.cast("double")) / logB).cast("long")
    val g = df.select(col(idCol).as("id"),
      struct(blockCols.map(col): _*).as("blk"),
      hashedCharGrams(col(textCol), n).as("g"))
    val a = g.select(col("blk"), col("id").as("doc_a"), col("g").as("g_a"),
      bandOf(size(col("g"))).as("band"))
    val b = g.select(col("blk"), col("id").as("doc_b"), col("g").as("g_b"),
        explode(array(lit(-1L), lit(0L), lit(1L))).as("__d"))
      .withColumn("band", bandOf(size(col("g_b"))) + col("__d"))
      .drop("__d")
    val sizeOk = least(size(col("g_a")), size(col("g_b"))).cast("double") /
      greatest(size(col("g_a")), size(col("g_b"))).cast("double") >= threshold
    val inter = graft.functions.VectorFunctions
      .sortedIntersectCount(col("g_a"), col("g_b"))
    val union = size(col("g_a")) + size(col("g_b")) - inter
    a.join(b, Seq("blk", "band")).filter(col("doc_a") < col("doc_b") && sizeOk)
      .withColumn("jaccard", inter.cast("double") / union.cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 4).as("jaccard"))
  }

  /** Prefix-filtered character-n-gram Jaccard near-dup pairs — EXACT
    * (same output as [[ngramNearDupPairs]] over the same blocks) with
    * near-linear candidate generation instead of block-quadratic: the
    * AllPairs/PPJoin prefix filter.
    *
    * Theorem (lossless): with both gram sets sorted in one global order
    * (ours: ascending 64-bit gram hash), J(A,B) ≥ t forces
    * |A∩B| ≥ ceil(t·|A|), so the smallest COMMON gram must sit among the
    * first |A| − ceil(t·|A|) + 1 grams of A — and symmetrically for B.
    * Hence only each doc's prefix enters the inverted index, and the
    * prefix-to-prefix self-join finds every qualifying pair; candidates
    * are then verified with the exact merge-intersect Jaccard.
    *
    * The POSITIONAL filter (the second half of PPJoin, Xiao et al.
    * WWW'08) prunes inside the candidate join: a shared gram at sorted
    * position i of A and j of B bounds the overlap by
    * k + min(|A|−i, |B|−j), where k counts shared grams at-or-before
    * this one. Every intersection element smaller than a shared PREFIX
    * gram is itself a shared prefix gram of both docs (positions only
    * decrease), so for a qualifying pair the k = 1 match — the
    * smallest shared gram — always satisfies
    * 1 + min(|A|−i, |B|−j) ≥ α, with α = ceil(t/(1+t)·(|A|+|B|)) the
    * overlap form of J ≥ t. Filtering every match row by that bound
    * (and by the size-ratio check, also decided by prefix-row fields
    * alone) is therefore lossless: a qualifying pair survives via its
    * smallest shared gram, while suffix-heavy coincidental matches die
    * before the DISTINCT and the verify join ever see them.
    *
    * Scale shape: index size is (1−t)·grams + 1 per doc (5× smaller at
    * t=0.8), and join fan-out is per shared PREFIX gram, not per block
    * member — no quadratic block term, `blockCols` optional (empty =
    * whole corpus). The global order is what controls the hot keys:
    * with `frequencyOrdered` (default, the PPJoin ordering) grams sort
    * by ascending document frequency, so prefixes hold each doc's
    * RAREST grams and a shared prefix gram is strong evidence of a
    * match — one extra corpus pass (gram-df aggregate + per-doc rank
    * window) buys near-match-only candidates. `frequencyOrdered=false`
    * skips that pass and uses hash order: correct but weakly selective
    * when docs share most of their vocabulary (boilerplate corpora).
    * Either order is a consistent global total order, so the filter
    * stays lossless.
    */
  def ngramNearDupPairsPrefix(
      df: DataFrame,
      textCol: String,
      idCol: String,
      blockCols: Seq[String] = Nil,
      threshold: Double = 0.8,
      n: Int = 3,
      frequencyOrdered: Boolean = true): DataFrame = {
    require(threshold > 0.5 && threshold <= 1.0,
      s"ngram near-dup threshold must be in (0.5, 1], got $threshold")
    val blkExpr =
      if (blockCols.isEmpty) lit(0) else struct(blockCols.map(col): _*)
    val g = df.select(col(idCol).as("id"), blkExpr.as("blk"),
      hashedCharGrams(col(textCol), n).as("g"))
    val sz = size(col("g"))
    // All ceils below are EPS-GUARDED: ceil of a double PRODUCT can land
    // one above the exact rational value when the product is an exact
    // integer in rationals but rounds up in binary (e.g. 63 · 0.8/1.8 =
    // 28 exactly, but doubles give 28.000000000000004 → ceil 29), which
    // would over-shorten prefixes / over-tighten the positional bound
    // and silently drop EXACT-threshold pairs — breaking the lossless
    // contract. Subtracting 1e-9 first can only under-ceil (prefix one
    // longer, bound one looser): still lossless, never lossy.
    def ceilEps(x: Column): Column = ceil(x - 1e-9)
    val prefixLen =
      (sz - ceilEps(sz.cast("double") * threshold) + 1).cast("int")
    // idx schema: (blk, id, gr, pos, sz) — pos is the gram's 1-based
    // position in the doc's gram list under the chosen global order,
    // sz the doc's total gram count; both feed the positional filter.
    val idx =
      if (!frequencyOrdered) {
        // hash order: the gram arrays are already hash-sorted
        g.select(col("blk"), col("id"), sz.as("sz"),
          posexplode(slice(col("g"), lit(1), prefixLen)))
          .select(col("blk"), col("id"), col("col").as("gr"),
            (col("pos") + 1).as("pos"), col("sz"))
      } else {
        val exploded = g.select(col("blk"), col("id"), sz.as("sz"),
          explode(col("g")).as("gr"))
        // Gram vocabularies are charset-bounded: at most |alphabet|^n
        // distinct n-grams — ~1e6 for printable-ASCII 3-grams, tens of
        // thousands in real text — so for small n the document-frequency
        // table broadcasts and the corpus-sized exploded side streams
        // through a hash join. The bound is EXPONENTIAL in n, so above
        // n = 3 the hint comes off and the join is left to the planner
        // (AQE still broadcasts if the measured vocabulary is small).
        val dfAgg = exploded.groupBy(col("gr")).agg(count(lit(1)).as("__df"))
        val gramDf =
          if (math.pow(96, n) <= 1e6) broadcast(dfAgg) else dfAgg
        val w = Window.partitionBy(col("id"))
          .orderBy(col("__df").asc, col("gr").asc)
        exploded.join(gramDf, "gr")
          .withColumn("pos", row_number().over(w))
          .filter(col("pos") <=
            (col("sz") - ceilEps(col("sz").cast("double") * threshold) + 1)
              .cast("int"))
          .select(col("blk"), col("id"), col("gr"), col("pos"), col("sz"))
      }
    val a = idx.as("a"); val b = idx.as("b")
    // overlap form of the Jaccard threshold: O(A,B) ≥ α ⟺ J ≥ t
    val alpha = ceilEps((col("a.sz") + col("b.sz")).cast("double") *
      (threshold / (1.0 + threshold)))
    val positionalOk =
      (lit(1) + least(col("a.sz") - col("a.pos"),
        col("b.sz") - col("b.pos"))) >= alpha
    val candSizeOk =
      least(col("a.sz"), col("b.sz")).cast("double") /
        greatest(col("a.sz"), col("b.sz")).cast("double") >= threshold
    val candidates = a.join(b,
        col("a.blk") === col("b.blk") && col("a.gr") === col("b.gr") &&
          col("a.id") < col("b.id") && candSizeOk && positionalOk)
      .select(col("a.id").as("doc_a"), col("b.id").as("doc_b"))
      .distinct()
    val ga = g.select(col("id").as("doc_a"), col("g").as("g_a"))
    val gb = g.select(col("id").as("doc_b"), col("g").as("g_b"))
    val sizeOk = least(size(col("g_a")), size(col("g_b"))).cast("double") /
      greatest(size(col("g_a")), size(col("g_b"))).cast("double") >= threshold
    val inter = graft.functions.VectorFunctions
      .sortedIntersectCount(col("g_a"), col("g_b"))
    val union = size(col("g_a")) + size(col("g_b")) - inter
    candidates.join(ga, "doc_a").join(gb, "doc_b").filter(sizeOk)
      .withColumn("jaccard", inter.cast("double") / union.cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 4).as("jaccard"))
  }

  /** Latest-version compaction (upsert/SCD-1 semantics): one row per key
    * — the one with the lexicographically largest `versionCols` tuple.
    * The incremental-ingest sibling of [[exactDedup]]: a crawl refresh
    * or CDC feed delivers many versions of the same URL/record, and a
    * training snapshot wants exactly the newest.
    *
    * Implemented as a `max_by` aggregate over the version-key struct, NOT
    * a per-key `row_number` window: the aggregate form combines map-side
    * (each task ships one partial row per key it saw — a key with a
    * million versions costs one row per task in the shuffle), where the
    * window form ships every version of every key to one task and sorts
    * it there. Same reasoning as `duplicatedChunkStats`' agg-over-window
    * choice: hot keys are the norm in refresh feeds. (The struct
    * ordering key does make Spark plan a SortAggregate rather than a
    * HashAggregate — that sort is task-local by GROUP key, bounded by
    * task input size, not by key hotness; the map-side partial is the
    * property that matters and is plan-asserted in spec.)
    *
    * `versionCols` must totally order each key's versions (pass a
    * tiebreak — e.g. `Seq("ts_ns", "event_id")` — or re-runs can elect
    * different winners among exact version ties).
    */
  def latestVersion(df: DataFrame, keys: Seq[String],
      versionCols: Seq[String], payloadCols: Seq[String]): DataFrame = {
    require(keys.nonEmpty && versionCols.nonEmpty,
      "latestVersion needs key and version columns")
    val carried = versionCols ++ payloadCols
    df.groupBy(keys.map(col): _*)
      .agg(max_by(struct(carried.map(col): _*),
        struct(versionCols.map(col): _*)).as("__last"))
      .select(keys.map(col) ++
        carried.map(c => col(s"__last.$c").as(c)): _*)
  }

  /** Corpus-wide line-level exact dedup: C4's line-granular "discard all
    * but one of any three-sentence span occurring more than once"
    * (Raffel et al. 2020 §2.2), at line granularity — every repeated
    * line across the WHOLE corpus keeps exactly its first occurrence
    * (smallest (id, position)) and is deleted everywhere else, including
    * repeats inside one document. Whole-document dedup ([[exactDedup]])
    * misses boilerplate that rides inside otherwise-unique pages
    * (cookie banners, nav footers, license blocks); this is the operator
    * that strips it.
    *
    * Lines shorter than `minLineChars` are ALWAYS kept: blank separators
    * and one-word headers are document structure, not boilerplate, and
    * deduping the empty string corpus-wide would delete every paragraph
    * break but one.
    *
    * Scale design — the document body never shuffles:
    *   1. one scan projects (16-byte line fp, id, pos) per eligible line;
    *   2. the first occurrence per fp is a min(struct(id, pos)) AGGREGATE
    *      (map-side combinable: a banner line repeated millions of times
    *      collapses to one partial row per map task — the same
    *      agg-over-window skew reasoning as [[duplicatedChunkStats]];
    *      repeated lines are the NORM here, so the window form's
    *      one-task-per-hot-fp funnel is the wrong default), and only
    *      fingerprints seen more than once survive into the join;
    *   3. losers = fp-keyed join of the (fp, id, pos) projection against
    *      those winners (AQE skew-splittable), reduced to
    *      (id, [removed positions]) — sized by REMOVED lines only;
    *   4. a second scan left-joins that removal list on the document's
    *      own id key and rebuilds the text with an index-filter lambda;
    *      untouched documents pass through with zero rewriting.
    *
    * Output: (id, textCol rebuilt, n_removed).
    */
  def lineDedup(df: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", minLineChars: Int = 10): DataFrame = {
    val id = col(idCol)
    val lines = df
      .select(id, posexplode(split(col(textCol), "\n")).as(Seq("__pos", "__line")))
      .filter(length(col("__line")) >= minLineChars)
      .select(id, col("__pos"), md5(col("__line")).as("__fp"))
    val winners = lines.groupBy(col("__fp"))
      .agg(min(struct(id, col("__pos"))).as("__w"),
        count(lit(1)).as("__n"))
      .filter(col("__n") > 1)
      .select(col("__fp"), col("__w"))
    val removed = lines.join(winners, "__fp")
      .filter(!(id === col(s"__w.$idCol") && col("__pos") === col("__w.__pos")))
      .groupBy(id).agg(collect_list(col("__pos")).as("__rm"))
    df.join(removed, Seq(idCol), "left")
      .select(id,
        when(col("__rm").isNull, col(textCol))
          .otherwise(array_join(
            filter(split(col(textCol), "\n"),
              (_, i) => !array_contains(col("__rm"), i)), "\n"))
          .as(textCol),
        when(col("__rm").isNull, lit(0))
          .otherwise(size(col("__rm"))).as("n_removed"))
  }

  /** All L-token windows of every document, keyed by the repo's 60-bit
    * md5 hash of the space-joined window — the shared candidate frame of
    * [[repeatedSpans]] / [[exciseRepeatedSpans]]. (id, pos 1-based,
    * key); documents shorter than L emit nothing.
    */
  private[operators] def tokenWindows(df: DataFrame, minTokens: Int,
      textCol: String, idCol: String): DataFrame =
    df.select(col(idCol).as("__id"),
        TextAnalysis.tokens(col(textCol)).as("__t"))
      .select(col("__id"), col("__t"),
        explode(when(size(col("__t")) >= minTokens,
          sequence(lit(1), size(col("__t")) - minTokens + 1))
          .otherwise(array().cast("array<int>"))).as("__p"))
      .select(col("__id"), col("__p"),
        conv(substring(md5(array_join(
          slice(col("__t"), col("__p"), lit(minTokens)), " ")), 1, 15),
          16, 10).cast("long").as("__key"))

  /** Merge a frame of flagged window positions into maximal spans per
    * document: equal-length windows make the coverage end monotone in
    * the start, so two windows chain iff the start gap is ≤ L.
    */
  private def windowIslands(flagged: DataFrame, minTokens: Int): DataFrame = {
    val w = Window.partitionBy(col("__id")).orderBy(col("__p").asc)
    flagged
      .withColumn("__brk",
        when(col("__p") - lag(col("__p"), 1).over(w) <= minTokens, 0)
          .otherwise(1)) // first row: lag null → otherwise → new island
      .withColumn("__g", sum(col("__brk")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("__id"), col("__g"))
      .agg(min(col("__p")).as("start_tok"),
        (max(col("__p")) + minTokens - 1).as("end_tok"),
        count(lit(1)).as("n_windows"))
  }

  /** ExactSubstr repeated-span detection (Lee et al. 2021 §4.1, the
    * full-guarantee class): flag EVERY maximal token span all of whose
    * aligned L-token windows occur ≥ 2 times in the corpus — so ANY
    * span of ≥ L tokens shared across documents (or self-repeated
    * within one) is caught exactly, including the winnowing miss band
    * (shared spans shorter than w+k−1 chars that
    * [[TextAnalysis.winnowSharedSpans]]'s sampled fingerprints may
    * never select). The published implementation is a suffix array
    * over the concatenated corpus; the Spark-first equivalent is
    * fixed-length window keys, which carry the same guarantee for the
    * token-span threshold: a repeated span of ≥ L tokens repeats every
    * one of its aligned L-grams, and every matched L-gram IS a
    * repeated span (md5-keyed equality, engine-portable; the 60-bit
    * truncation's collision odds are the repo's standing fingerprint
    * convention).
    *
    * Output: (idCol, start_tok, end_tok, span_tokens, n_windows), token
    * positions 1-based inclusive, one row per maximal flagged span.
    *
    * Scale shape: one corpus scan explodes ~n_tokens windows (hashed to
    * 60-bit keys per row — the window STRING never shuffles), one
    * map-side-combinable count per key, one key-shuffle join back, and
    * a per-document island window whose group is the document's flagged
    * windows. Never all-pairs, nothing corpus-sized on the driver.
    */
  def repeatedSpans(df: DataFrame, minTokens: Int = 8,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(minTokens >= 2,
      s"a 1-token repeat threshold flags every repeated word, got " +
        s"$minTokens")
    val win = tokenWindows(df, minTokens, textCol, idCol)
      .transform(Persist.round) // read twice: key counts + the join back
    val dup = win.groupBy(col("__key")).agg(count(lit(1)).as("__n"))
      .filter(col("__n") > 1).select(col("__key"))
    windowIslands(win.join(dup, Seq("__key")), minTokens)
      .select(col("__id").as(idCol), col("start_tok"), col("end_tok"),
        (col("end_tok") - col("start_tok") + 1).as("span_tokens"),
        col("n_windows"))
  }

  /** ExactSubstr dedup proper (Lee et al. 2021 §4.1: "remove all but
    * one"): every duplicated L-token window KEEPS its canonical
    * occurrence — min (id, pos), the [[lineDedup]] winner convention —
    * and every other occurrence is excised from the rebuilt text.
    * Excised documents re-join their kept tokens with single spaces
    * (the token-granularity contract; untouched documents pass through
    * with original whitespace, zero rewriting). One pass: rejoining cut
    * edges can create NEW L-grams — the published operator has the same
    * property and runs once.
    *
    * Output: (idCol, textCol rebuilt, n_tokens_removed).
    *
    * Scale shape: [[repeatedSpans]]'s frame plus one broadcast-free
    * min-struct aggregate for the canonical pick and a per-document
    * rebuild whose lambda is per-row; spans ride a collect_list bounded
    * by the document's own span count.
    */
  def exciseRepeatedSpans(df: DataFrame, minTokens: Int = 8,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(minTokens >= 2,
      s"a 1-token repeat threshold excises every repeated word, got " +
        s"$minTokens")
    val win = tokenWindows(df, minTokens, textCol, idCol)
      .transform(Persist.round)
    val keep = win.groupBy(col("__key"))
      .agg(min(struct(col("__id"), col("__p"))).as("__w"),
        count(lit(1)).as("__n"))
      .filter(col("__n") > 1)
      .select(col("__key"), col("__w"))
    val flagged = win.join(keep, Seq("__key"))
      .filter(!(col("__id") === col("__w.__id") &&
        col("__p") === col("__w.__p")))
    val spans = windowIslands(flagged, minTokens)
      .groupBy(col("__id"))
      .agg(collect_list(struct(col("start_tok").as("s"),
        col("end_tok").as("e"))).as("__spans"))
    val toks = TextAnalysis.tokens(col(textCol))
    df.join(spans, col(idCol) === col("__id"), "left")
      .select(col(idCol),
        when(col("__spans").isNull, col(textCol))
          .otherwise(array_join(filter(toks, (_, i) =>
            !exists(col("__spans"),
              sp => i + 1 >= sp.getField("s") && i + 1 <= sp.getField("e"))),
            " ")).as(textCol),
        when(col("__spans").isNull, lit(0))
          .otherwise(aggregate(col("__spans"), lit(0),
            (acc, sp) => acc + (sp.getField("e") - sp.getField("s") + 1)))
          .as("n_tokens_removed"))
  }
}
