package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic sampling / split assignment for training-data curation.
  *
  * At 100 TB a train/val/test split must be (a) reproducible across
  * reruns and engines, (b) shuffle-free — a per-row projection, never a
  * global sort or `rand()` (which changes under retries, task re-runs,
  * and partitioning), and (c) stable under corpus growth: a document's
  * split is a pure function of its id, so appending data never moves
  * existing rows between splits. The bucket is the md5 of the id (the
  * repo's portable-hash convention — DuckDB reproduces it exactly as
  * ('0x' || substr(md5(id), 1, 15))::BIGINT), reduced mod 100.
  */
object Sampling {

  /** Adds `bucket` (0-99, md5-derived) and `out` (the split name) —
    * `splits` are (name, percent) in threshold order, percents sum to
    * 100.
    */
  def deterministicSplit(df: DataFrame, idCol: String,
      splits: Seq[(String, Int)] = Seq("train" -> 90, "val" -> 5, "test" -> 5),
      out: String = "split"): DataFrame = {
    require(splits.nonEmpty && splits.map(_._2).sum == 100,
      s"split percents must sum to 100, got $splits")
    // Both added names are guarded HERE, not only in leakageSafeSplit
    // (ADVICE r10): a direct caller whose frame already carries 'bucket'
    // or the out column would otherwise have it silently clobbered by
    // withColumn — the exact hazard the r9 guard was added for.
    Seq("bucket", out).foreach(c =>
      require(!df.columns.contains(c),
        s"df already has a '$c' column — deterministicSplit would " +
          "overwrite it"))
    val bucket =
      conv(substring(md5(col(idCol).cast("string")), 1, 15), 16, 10)
        .cast("long") % 100
    val cums = splits.map(_._2).scanLeft(0)(_ + _).tail
    val assign = splits.zip(cums).init
      .foldRight(lit(splits.last._1): Column) {
        case (((name, _), cum), els) =>
          when(col("bucket") < cum, lit(name)).otherwise(els)
      }
    df.withColumn("bucket", bucket).withColumn(out, assign)
  }

  /** Leakage-safe train/val/test split: near-duplicate documents must
    * never straddle a split boundary (a val doc whose near-dup sits in
    * train is a leaked eval), so the md5 bucket is drawn on the
    * document's near-dup CLUSTER label rather than its own id — every
    * member of a component inherits one draw. `clusters` is
    * [[graft.operators.Dedup.nearDupClusters]]' (id, cluster) frame;
    * unclustered documents (the overwhelming majority) key on their own
    * id, so outside the dup components this IS [[deterministicSplit]].
    *
    * Scale shape: the cluster table is pair-derived — orders of
    * magnitude smaller than the corpus — so the join broadcasts; the
    * split itself stays a per-row projection. Append behavior: stable
    * for unclustered docs and for appends that join an EXISTING cluster;
    * an append that BRIDGES two clusters merges their labels and may
    * move the smaller component's members — which is the correct
    * outcome (the merged component must land on one side) and the one
    * a frozen-split pipeline must re-materialize for.
    */
  def leakageSafeSplit(df: DataFrame, clusters: DataFrame, idCol: String,
      splits: Seq[(String, Int)] = Seq("train" -> 90, "val" -> 5, "test" -> 5))
      : DataFrame = {
    // All of df's columns ride through (ADVICE r8): like its sibling
    // deterministicSplit, the output is the INPUT frame plus
    // (split_key, bucket, split) — not an id→split mapping that drops
    // the payload. All three added names are guarded (ADVICE r9): an
    // input that already carries bucket/split would be silently
    // clobbered by deterministicSplit's withColumn otherwise.
    Seq("split_key", "bucket", "split").foreach(c =>
      require(!df.columns.contains(c),
        s"df already has a '$c' column — leakageSafeSplit would overwrite it"))
    val c = broadcast(clusters)
    val keyed = df.join(c, df(idCol) === c("id"), "left")
      .select(df.columns.map(df(_)) :+
        coalesce(c("cluster"), df(idCol)).as("split_key"): _*)
    deterministicSplit(keyed, "split_key", splits)
  }

  /** Split-leakage AUDIT — [[leakageSafeSplit]]'s diagnostic sibling:
    * given a corpus that already carries a split column (an id-keyed
    * [[deterministicSplit]], a legacy assignment, anything external)
    * and a near-dup cluster table, report every document whose cluster
    * straddles a split boundary. A val/test doc with a train near-dup
    * is a leaked eval — the within-corpus form of benchmark
    * contamination ([[Decontaminate]] guards the benchmark boundary;
    * this guards the split boundary) — and the audit is what a
    * migration runs BEFORE adopting the safe split, and what a QA gate
    * runs after any manual split surgery.
    *
    * Scale shape: singleton documents (the overwhelming majority —
    * anything not in the pair-derived cluster table) cannot straddle,
    * so the distinct-split aggregate runs over CLUSTERED docs only (an
    * inner join against the broadcast cluster table); the verdict then
    * rides back to the full corpus as a second broadcast join of the
    * cluster-sized aggregate. The corpus streams twice, shuffles
    * never; document payloads ride untouched.
    *
    * @param clusters (id, cluster) — [[graft.operators.Dedup.nearDupClusters]]'
    *                 frame; pair-derived, broadcast-sized
    * @return the input frame plus (cluster, n_cluster_splits,
    *         is_leaked) — cluster coalesces to the doc's own id for
    *         singletons, whose n_cluster_splits is 1 by construction
    */
  def splitLeakage(df: DataFrame, clusters: DataFrame, idCol: String,
      splitCol: String = "split"): DataFrame = {
    Seq("cluster", "n_cluster_splits", "is_leaked").foreach(c =>
      require(!df.columns.contains(c),
        s"df already has a '$c' column — splitLeakage would overwrite it"))
    require(df.columns.contains(splitCol),
      s"df has no '$splitCol' column — run a split assignment first")
    val c = broadcast(clusters)
    val perCluster = df.join(c, df(idCol) === c("id"))
      .groupBy(c("cluster").as("__cl"))
      .agg(countDistinct(df(splitCol)).as("n_cluster_splits"))
    val labeled = df.join(c, df(idCol) === c("id"), "left")
      .select(df.columns.map(df(_)) :+
        coalesce(c("cluster"), df(idCol)).as("cluster"): _*)
    labeled
      .join(broadcast(perCluster), col("cluster") === col("__cl"), "left")
      .drop("__cl")
      .withColumn("n_cluster_splits",
        coalesce(col("n_cluster_splits"), lit(1L)))
      .withColumn("is_leaked", col("n_cluster_splits") > 1)
  }

  /** Per-stratum-rate sampling — the data-MIXING primitive ([[
    * deterministicSplit]]'s sibling): each stratum keeps its own fraction
    * of rows (down-weight boilerplate sources, up-weight scarce
    * languages), deterministically. Keep/drop is a pure function of the
    * id — append-stable, retry-safe, engine-reproducible — via the
    * repo's md5-bucket convention at 1/10000 granularity (rates are
    * quantized to basis points; a rate's threshold is
    * `round(rate * 10000)`).
    *
    * Scale shape: a per-row projection + filter, zero shuffle; the rate
    * map rides the plan as a literal when-chain (strata counts are
    * config-sized, not data-sized).
    */
  def sampleByStrata(df: DataFrame, strataCol: String,
      rates: Map[String, Double], defaultRate: Double,
      idCol: String): DataFrame = {
    (rates.values.toSeq :+ defaultRate).foreach(r =>
      require(r >= 0.0 && r <= 1.0, s"rates must be in [0,1], got $r"))
    def thr(r: Double): Int = math.round(r * 10000).toInt
    val bucket =
      conv(substring(md5(col(idCol).cast("string")), 1, 15), 16, 10)
        .cast("long") % 10000
    // sorted for a deterministic plan (Map iteration order is not)
    val threshold = rates.toSeq.sortBy(_._1)
      .foldRight(lit(thr(defaultRate)): Column) { case ((k, r), els) =>
        when(col(strataCol) === k, lit(thr(r))).otherwise(els)
      }
    df.filter(bucket < threshold)
  }

  /** Sequence-packing planner — concat-and-chunk semantics, the layout
    * step an LLM training pipeline runs between curation and
    * tokenization: documents are laid out end-to-end in deterministic
    * `idCol` order within each `partitionCols` shard, and the token
    * stream is chunked every `budget` tokens. Each document is assigned
    * the pack its FIRST token falls in (`pack_id`) and its offset inside
    * that pack (`pack_offset`); a document longer than the remaining
    * room simply spills into the next chunk, exactly like the standard
    * concat-then-chunk loader. Pure arithmetic on a running sum — no
    * driver state, reproducible across engines and retries.
    *
    * Scale shape: ONE shuffle (the per-shard window). `partitionCols`
    * must bound per-shard volume — shard by (split, source) or a date
    * bucket, never pack the whole corpus through one key: a window over
    * a single partition funnels 100 TB through one task's sort, the
    * same trap [[Sketches.approxQuantileBuckets]] exists to avoid.
    * Integer `div`/`%` throughout — cumulative token counts overflow
    * double's 2^53 exact range long before they overflow a long.
    */
  def packSequences(df: DataFrame, tokenCol: String, budget: Long,
      partitionCols: Seq[String], idCol: String): DataFrame = {
    require(budget >= 1, s"token budget must be >= 1, got $budget")
    require(partitionCols.nonEmpty,
      "packSequences needs at least one shard column (a global window " +
        "would single-task the corpus)")
    // explicit ROWS frame: the default RANGE frame includes ORDER-BY
    // peers, so duplicate ids in a shard would double-book pack space;
    // with ROWS, duplicate-id rows get consecutive (arbitrary-order but
    // non-overlapping) slots. Layout is fully deterministic when idCol
    // is unique per shard — the documented contract.
    val w = Window.partitionBy(partitionCols.map(col): _*)
      .orderBy(col(idCol).asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("__first",
        sum(col(tokenCol).cast("long")).over(w) - col(tokenCol))
      .withColumn("pack_id", expr(s"__first div $budget"))
      .withColumn("pack_offset", col("__first") % budget)
      .drop("__first")
  }

  /** Deterministic corpus shuffle — the training-ORDER assignment a
    * data loader consumes (decorrelate adjacent source documents before
    * packing): every row gets a (shard, pos) coordinate where `shard`
    * is the md5-bucket of the id modulo `shards` and `pos` is the
    * hash-order rank inside the shard (ties — ~impossible at 60 hash
    * bits — break to the lower id). A pure function of the ids:
    * reproducible across engines, retries, and reruns, unlike
    * `orderBy(rand())`.
    *
    * Scale shape: ONE shuffle (the per-shard rank window); `shards`
    * must grow with the corpus so a shard's rows fit one task's sort —
    * the same operator contract as [[packSequences]]'s `partitionCols`.
    * Appending data DOES shift `pos` (a rank is corpus-relative by
    * definition); `shard` membership is append-stable.
    */
  def deterministicShuffle(df: DataFrame, idCol: String,
      shards: Int): DataFrame = {
    require(shards >= 1, s"shards must be >= 1, got $shards")
    val h = conv(substring(md5(col(idCol).cast("string")), 1, 15), 16, 10)
      .cast("long")
    val w = Window.partitionBy(col("shard"))
      .orderBy(col("__h").asc, col(idCol).asc)
    df.withColumn("__h", h)
      .withColumn("shard", (col("__h") % shards).cast("int"))
      .withColumn("pos", row_number().over(w) - 1)
      .drop("__h")
  }

  /** Training order for a MULTI-EPOCH mix ([[deterministicShuffle]]
    * generalized over [[materializeMix]]'s (doc, epoch) rows): the hash
    * keys on id AND epoch, so each epoch's pass visits its documents in
    * a different — but fully reproducible — order, and a document's
    * epoch copies scatter across shards instead of clumping
    * back-to-back (repeat-exposure adjacency is the known failure mode
    * of replaying one epoch order k times). Same single-shuffle shape:
    * one per-shard rank window, nothing else.
    */
  def epochOrder(mix: DataFrame, idCol: String, epochCol: String,
      shards: Int): DataFrame = {
    require(shards >= 1, s"shards must be >= 1, got $shards")
    val h = conv(substring(md5(concat(col(idCol).cast("string"), lit(":"),
      col(epochCol).cast("string"))), 1, 15), 16, 10).cast("long")
    val w = Window.partitionBy(col("shard"))
      .orderBy(col("__h").asc, col(idCol).asc, col(epochCol).asc)
    mix.withColumn("__h", h)
      .withColumn("shard", (col("__h") % shards).cast("int"))
      .withColumn("pos", row_number().over(w) - 1)
      .drop("__h")
  }

  /** Deterministic uniform k-per-group sample (eval-set carving,
    * per-source inspection samples): rank rows by the md5-derived hash
    * of their id and keep each group's k smallest — a pure function of
    * the ids, so the sample is reproducible and append-stable the same
    * way [[deterministicSplit]] is.
    *
    * Scale shape: NO per-group window sort — the bounded-heap
    * [[graft.functions.TopKAggregate]] keeps k candidates per group per
    * map task and merges partials, so a group's cost is O(k), not
    * O(group size log group size). The hash rides the aggregate as a
    * (negated) score; ties (impossible for distinct ids at 60 hash
    * bits, but defined anyway) break to the lower id.
    */
  def deterministicGroupSample(df: DataFrame, groupCols: Seq[String],
      k: Int, idCol: String): DataFrame = {
    require(k >= 1, s"sample size must be >= 1, got $k")
    // TopKAggregate carries long ids; integral id columns are widened,
    // anything else is rejected up front (not a runtime ClassCastException)
    val idType = df.schema(idCol).dataType
    require(Seq("bigint", "int", "smallint", "tinyint")
      .contains(idType.simpleString),
      s"deterministicGroupSample needs an integral id column, " +
        s"got $idCol: ${idType.simpleString}")
    val h = conv(substring(md5(col(idCol).cast("string")), 1, 15), 16, 10)
      .cast("long")
    df.groupBy(groupCols.map(col): _*)
      .agg(graft.functions.TopKAggregate
        .topKBy(col(idCol).cast("long"), -h.cast("double"), k).as("__top"))
      .select(groupCols.map(col) :+
        posexplode(col("__top")).as(Seq("__pos", "__e")): _*)
      .select(groupCols.map(col) ++ Seq(col("__e.id").as(idCol),
        (col("__pos") + 1).as("rank")): _*)
  }

  /** Weighted k-per-group sample WITHOUT replacement, deterministic —
    * Efraimidis–Spirakis A-ES (IPL 2006): each row draws a key
    * u^(1/w) from a uniform u and its weight w, and the k largest keys
    * per group are exactly a weighted sample without replacement. Here
    * u is the md5-derived uniform (h+1)/2⁶⁰ — the repo's portable-hash
    * convention — so the "draw" is a pure function of the id:
    * reproducible across reruns, engines, and partitionings, same as
    * [[deterministicGroupSample]] (constant weights reduce to an
    * unweighted uniform draw — the top-u complement of that operator's
    * bottom-h selection). Keys are compared as ln(u)/w (monotone in
    * u^(1/w), no pow-overflow for tiny weights).
    *
    * The typical curation use: sample inspection/eval documents per
    * domain proportional to TOKEN COUNT, so long documents — most of the
    * training distribution's mass — are represented by mass, not by
    * document count.
    *
    * Scale shape: identical to [[deterministicGroupSample]] — the key
    * rides the bounded-heap [[graft.functions.TopKAggregate]] as the
    * score (O(k) state per group per map task, merged partials, no
    * per-group sort). Rows with NULL or non-positive weight cannot be
    * drawn (a zero-weight row has key 0 — strictly below any positive
    * weight's — so it is filtered, not error'd; real corpora have
    * empty documents). ln is the one libm call: Java and DuckDB both
    * evaluate it within 1 ulp, and a selection flip needs two keys
    * within that ulp — vanishing for 60-bit-hash uniforms; ties (equal
    * keys) break to the lower id inside the aggregate either way.
    */
  def weightedGroupSample(df: DataFrame, groupCols: Seq[String],
      k: Int, idCol: String, weight: Column): DataFrame = {
    require(k >= 1, s"sample size must be >= 1, got $k")
    val idType = df.schema(idCol).dataType
    require(Seq("bigint", "int", "smallint", "tinyint")
      .contains(idType.simpleString),
      s"weightedGroupSample needs an integral id column, " +
        s"got $idCol: ${idType.simpleString}")
    val h = conv(substring(md5(col(idCol).cast("string")), 1, 15), 16, 10)
      .cast("long")
    // (h+1) adds as LONG, then one long→double conversion — the same op
    // order as the oracle's (hv + 1)::DOUBLE, so the rounding (h exceeds
    // 2⁵³) is bit-identical rather than merely close
    val u = (h + lit(1L)).cast("double") / lit(math.pow(2, 60))
    val key = log(u) / weight.cast("double")
    df.where(weight.isNotNull && weight > 0)
      .groupBy(groupCols.map(col): _*)
      .agg(graft.functions.TopKAggregate
        .topKBy(col(idCol).cast("long"), key, k).as("__top"))
      .select(groupCols.map(col) :+
        posexplode(col("__top")).as(Seq("__pos", "__e")): _*)
      .select(groupCols.map(col) ++ Seq(col("__e.id").as(idCol),
        (col("__pos") + 1).as("rank")): _*)
  }

  /** Domain-mixing plan: per-domain observed token share vs a target mix,
    * and the sampling weight that moves the corpus from one to the other
    * — the PLANNING half of data mixing ([[sampleByStrata]] is the
    * execution half: feed it `least(weight, 1)` as down-sample rates;
    * weights > 1 are up-sample epoch counts for the loader). The target
    * mix is the config a The-Pile/DoReMi-style recipe publishes: a
    * static per-domain share of training tokens.
    *
    * weight = target_share / observed_share, capped at `maxEpochs`
    * (repeating a small domain beyond a few epochs degrades to
    * memorization — the cap surfaces "target unreachable" as a capped
    * weight instead of an absurd epoch count). Domains absent from
    * `targets` get target 0 → weight 0 (dropped by the plan, visibly).
    *
    * All arithmetic is exact-long counts divided as doubles, identical
    * across engines; outputs round at 6. Scale shape: one grouped
    * aggregate (map-side combined) + a 1-row grand-total broadcast —
    * domain cardinality is config-sized, so this is a metadata query no
    * matter how large the corpus.
    */
  def domainMixPlan(df: DataFrame, domainCol: String, weight: Column,
      targets: Map[String, Double], maxEpochs: Double = 4.0): DataFrame = {
    require(targets.nonEmpty, "domainMixPlan needs a non-empty target mix")
    val sum1 = math.abs(targets.values.sum - 1.0)
    require(sum1 < 1e-9, s"target shares must sum to 1, off by $sum1")
    val perDomain = df.groupBy(col(domainCol))
      .agg(count(lit(1)).as("docs"), sum(weight).as("tokens"))
    val grand = perDomain.agg(sum(col("tokens")).as("__total"))
    val target = targets.toSeq.sortBy(_._1)
      .foldRight(lit(0.0): Column) { case ((dom, share), els) =>
        when(col(domainCol) === dom, lit(share)).otherwise(els)
      }
    perDomain.crossJoin(broadcast(grand))
      .withColumn("__obs",
        col("tokens").cast("double") / col("__total").cast("double"))
      .withColumn("target_share", target)
      .select(col(domainCol), col("docs"), col("tokens"),
        round(col("__obs"), 6).as("obs_share"), col("target_share"),
        round(least(col("target_share") / col("__obs"), lit(maxEpochs)), 6)
          .as("sampling_weight"))
  }

  /** Temperature-scaled domain-mix planner — [[domainMixPlan]]'s
    * self-deriving sibling: instead of hand-written target shares, the
    * targets come from the observed token shares themselves, flattened
    * through an exponent — target_i = obs_i^α / Σ_j obs_j^α — the
    * multinomial α-sampling of multilingual/multi-domain pre-training
    * (Conneau 2019 XLM-R §5.1, Xue 2020 mT5 §3.2: α = 1 reproduces the
    * natural distribution, α → 0 approaches uniform; published defaults
    * sit at α ∈ [0.2, 0.7]). Output schema is identical to
    * [[domainMixPlan]] — (domain, docs, tokens, obs_share, target_share,
    * sampling_weight = min(target/obs, maxEpochs)) — so the plan feeds
    * [[materializeMix]] unchanged.
    *
    * Determinism contract (the cross-engine sum problem): the
    * normalizing denominator Σ_j obs_j^α is a floating sum whose value
    * depends on accumulation order, which neither Spark nor an oracle
    * engine guarantees. So powered shares are QUANTIZED first —
    * q_i = round(obs_i^α · 10⁶) as a long — and the denominator is the
    * exact integer Σ q_i: order-free in both engines, making
    * target_share = q_i / Σ q_j a single correctly-rounded division.
    * The 1e-6 quantization is the documented semantic (not an
    * implementation leak); at α = 0.5 the power rides the
    * correctly-rounded `sqrt` kernel (bit-identical across engines),
    * while other α go through libm `pow` (1-ulp licensed) — the
    * quantization absorbs a last-bit wobble except on a measure-zero
    * rounding boundary, the same discipline as the q75/materializeMix
    * threshold note.
    *
    * Scale shape: one corpus pass into a domain-cardinality aggregate;
    * the grand total and the quantized denominator are aggregates OVER
    * that config-sized frame, broadcast back — the three references to
    * `perDomain` in the final plan collapse to one scan via exchange
    * reuse (same shape [[domainMixPlan]] has carried since q101). No
    * corpus shuffle beyond the per-domain partial aggregate.
    */
  def temperatureMixPlan(df: DataFrame, domainCol: String, weight: Column,
      alpha: Double, maxEpochs: Double = 4.0): DataFrame = {
    require(alpha > 0.0 && alpha <= 1.0,
      s"temperature exponent alpha must be in (0, 1], got $alpha")
    val perDomain = df.groupBy(col(domainCol))
      .agg(count(lit(1)).as("docs"), sum(weight).as("tokens"))
    val grand = perDomain.agg(sum(col("tokens")).as("__total"))
    val obs = col("tokens").cast("double") / col("__total").cast("double")
    // α = 0.5 is the correctly-rounded path; see determinism contract.
    val powered = if (alpha == 0.5) sqrt(obs) else pow(obs, lit(alpha))
    val q = perDomain.crossJoin(broadcast(grand))
      .withColumn("__obs", obs)
      .withColumn("__q", round(powered * 1e6, 0).cast("long"))
    val den = q.agg(sum(col("__q")).as("__denom"))
    val target = col("__q").cast("double") / col("__denom").cast("double")
    q.crossJoin(broadcast(den))
      .select(col(domainCol), col("docs"), col("tokens"),
        round(col("__obs"), 6).as("obs_share"),
        round(target, 6).as("target_share"),
        round(least(target / col("__obs"), lit(maxEpochs)), 6)
          .as("sampling_weight"))
  }

  /** Executes a [[domainMixPlan]] — the materialization half of the
    * mixing loop the planner only PLANS: a sampling weight w per domain
    * becomes floor(w) deterministic epoch copies of every document plus
    * one extra copy for a document-hash fraction frac(w) of them (the
    * standard epoch-replication reading of w = 2.3: every doc twice,
    * a uniform 30% of docs a third time). Weights below 1 degenerate to
    * plain stratified sampling; domains absent from the plan (weight 0,
    * or no plan row) produce nothing.
    *
    * The extra-copy decision reuses the repo's deterministic md5-bucket
    * convention ([[sampleByStrata]]) under a distinct ':epoch' salt, so
    * composing this with a strata sample never correlates the two
    * draws. Reproducible across engines, retries, and runs; no rand().
    *
    * Output: one row per (document, epoch) — (idCol, domainCol, epoch),
    * epoch in 1..copies. Row count grows by ~Σ w·|domain| BY DESIGN
    * (that is the materialized training mix, cf. [[stridedChunks]]'s
    * overlap factor).
    *
    * Scale shape: the plan frame is domain-cardinality (config-sized) —
    * broadcast join; copies are per-row arithmetic + a ≤ceil(max w)
    * bounded generator. No shuffle of the corpus anywhere.
    */
  def materializeMix(df: DataFrame, domainCol: String, plan: DataFrame,
      idCol: String): DataFrame = {
    val weights = plan.select(col(domainCol), col("sampling_weight"))
    val bucket =
      conv(substring(md5(concat(col(idCol).cast("string"), lit(":epoch"))),
        1, 15), 16, 10).cast("long") % 10000
    val frac = col("sampling_weight") - floor(col("sampling_weight"))
    df.join(broadcast(weights), Seq(domainCol))
      .withColumn("__copies",
        (floor(col("sampling_weight")).cast("int") +
          // long bucket vs exact double threshold — deliberately NO
          // rounding step (a .5 boundary would be a cross-engine
          // rounding-mode bet, the q75 lesson); both engines compare
          // the same integer against the same IEEE product
          when(bucket.cast("double") < frac * 10000.0, 1).otherwise(0)))
      .where(col("__copies") > 0)
      .select(col(idCol), col(domainCol),
        explode(sequence(lit(1), col("__copies"))).as("epoch"))
  }

  /** Token-budget corpus selection — keep the best-scoring documents
    * until a token budget is exhausted: the data-selection step of a
    * compute-budgeted training run (rank by a quality signal, take the
    * greedy prefix). Semantics: order documents by (score DESC, id ASC)
    * and keep the maximal prefix whose INCLUSIVE running token sum stays
    * ≤ `budget`. Rows with a NULL score or NULL token count are
    * excluded (they can be neither ranked nor budgeted).
    *
    * Scale shape — the naive form is a GLOBAL sort + running-sum window
    * (the whole corpus through one task's sort: the ntile trap
    * [[Sketches.quantileBuckets]] documents). Instead:
    *   1. aggregate token sums PER SCORE VALUE (map-side-combinable; one
    *      shuffle of (score, tokens) pairs, output is score-cardinality
    *      sized);
    *   2. cumulative-sum over that bucket frame (a single-task window
    *      over metadata, not corpus — the operator's contract is a
    *      quantized, bounded-cardinality score, e.g. a 4-dp-rounded
    *      quality logit ⇒ ≤ ~10⁴ buckets);
    *   3. the highest-scoring bucket whose cumulative sum exceeds the
    *      budget is the BOUNDARY; everything above it is kept outright
    *      via a 1-row broadcast (no shuffle of the documents), and only
    *      the boundary tie-class is resolved per-document (id-ordered
    *      running sum through one task — bounded by the tie-class size,
    *      which the score quantization controls).
    * Documents below the boundary are dropped without ranking: their
    * inclusive running sum provably exceeds the budget already.
    *
    * Output: (id, score, n_tokens) of the kept documents.
    */
  def selectByTokenBudget(df: DataFrame, scoreCol: Column,
      tokensCol: Column, budget: Long,
      idCol: String = "doc_id"): DataFrame = {
    require(budget >= 0L, s"budget must be >= 0, got $budget")
    val scored = df
      .select(col(idCol), scoreCol.as("score"),
        tokensCol.cast("long").as("n_tokens"))
      .where(col("score").isNotNull && col("n_tokens").isNotNull)
    val buckets = scored.groupBy(col("score"))
      .agg(sum(col("n_tokens")).as("__btok"))
    // single-task window over the score-cardinality frame (metadata)
    val cum = buckets.withColumn("__cum",
      sum(col("__btok")).over(Window.orderBy(col("score").desc)))
    // 1-row frame: (boundary score, tokens consumed above it); NULLs
    // when no bucket overflows the budget (then everything is kept)
    val boundary = cum.where(col("__cum") > budget)
      .agg(max(col("score")).as("__bscore"),
        max_by(col("__cum") - col("__btok"), col("score")).as("__bprev"))
    val tagged = scored.crossJoin(broadcast(boundary))
    val full = tagged
      .where(col("__bscore").isNull || col("score") > col("__bscore"))
    val inner = tagged.where(col("score") === col("__bscore"))
      .withColumn("__run",
        col("__bprev") + sum(col("n_tokens")).over(Window.orderBy(col(idCol))))
      .where(col("__run") <= budget)
    full.select(col(idCol), col("score"), col("n_tokens"))
      .unionByName(inner.select(col(idCol), col("score"), col("n_tokens")))
  }

  /** Per-group quantile PARTITION — the CCNet move one step past
    * [[filterTopQuantileByGroup]]'s keep/drop: label every row with which
    * per-group score band it falls in (CCNet trains its LM filter on
    * Wikipedia, then splits each LANGUAGE's crawl into head/middle/tail
    * perplexity terciles and keeps head+middle — the bands, not a single
    * cut, are the published artifact). `fractions` are the strictly
    * increasing cut probabilities (terciles = 1/3, 2/3); `labels` has one
    * more entry than `fractions`; row label = first label whose
    * SQL-standard `percentile_disc` cutpoint (an actual data value; ties
    * at a cut land in the LOWER band via `<=`, deterministically) is ≥ the
    * row's score.
    *
    * Scale shape: cutpoints compute on the (group, score) projection —
    * the full frame (document text!) never shuffles — and come back as a
    * group-cardinality metadata table broadcast onto one scan. NULL
    * scores get a NULL label (unrankable — surfaced, never silently
    * binned); rows of groups absent from the cut table (every score NULL)
    * keep their rows with NULL labels via the left join + null guard.
    * Like [[filterTopQuantileByGroup]], exact percentiles sort each
    * group's column through one aggregate — the correctness-gate mode;
    * sketch cutpoints ([[Sketches.approxQuantileBuckets]]'s accuracy
    * trade) are the 100 TB path if group sizes outgrow it.
    */
  def quantilePartition(df: DataFrame, groupCol: String, score: Column,
      fractions: Seq[Double], labels: Seq[String],
      out: String = "band"): DataFrame = {
    require(fractions.nonEmpty && fractions.forall(f => f > 0.0 && f < 1.0),
      s"fractions must be in (0, 1), got $fractions")
    require(fractions == fractions.sorted && fractions.distinct == fractions,
      s"fractions must be strictly increasing, got $fractions")
    require(labels.size == fractions.size + 1,
      s"need ${fractions.size + 1} labels for ${fractions.size} cuts, " +
        s"got ${labels.size}")
    val aggs = fractions.zipWithIndex.map { case (f, i) =>
      expr(s"percentile_disc(CAST($f AS DOUBLE)) " +
        s"WITHIN GROUP (ORDER BY __s)").as(s"__c$i")
    }
    val cuts = df.select(col(groupCol), score.as("__s"))
      .where(col("__s").isNotNull)
      .groupBy(col(groupCol))
      .agg(aggs.head, aggs.tail: _*)
    val band = fractions.indices.foldRight(lit(labels.last): Column) {
      case (i, els) => when(score <= col(s"__c$i"), lit(labels(i)))
        .otherwise(els)
    }
    df.join(broadcast(cuts), Seq(groupCol), "left")
      .withColumn(out,
        when(score.isNull || col("__c0").isNull,
          lit(null).cast("string")).otherwise(band))
      .drop(fractions.indices.map(i => s"__c$i"): _*)
  }

  /** Per-group quality gate (the FineWeb/CCNet "keep the best p% of each
    * domain" step): keep every row whose score reaches its group's
    * `percentile_disc(1 − keepFrac)` cutpoint. A GLOBAL quantile filter
    * lets a single high-quality domain crowd out every other one; the
    * per-group form preserves domain diversity while enforcing a uniform
    * quality bar inside each domain.
    *
    * Cutpoint semantics are SQL-standard `percentile_disc` — an actual
    * score from the data (smallest value with cume_dist ≥ p), so the
    * filter is exact and engine-portable (same multiset → same cutpoint;
    * no interpolation arithmetic to drift). Ties AT the cutpoint are all
    * kept — the kept fraction is ≥ `keepFrac`, never a tie-broken
    * approximation of it (deterministic, append-order-free).
    *
    * Scale shape: cutpoints come from a grouped aggregate over the
    * (group, score) PROJECTION — two narrow columns shuffle, the
    * documents never do — and the group cardinality is domain-sized
    * (config-scale), so the cutpoint table broadcasts back as metadata.
    * `percentile_disc` is not map-side combinable (it needs the group's
    * value multiset), but the multiset it gathers is per-group scores
    * only; at 100 TB with skewed domains the score column can be
    * pre-binned (scores here are bounded rationals) — the same
    * bucket-then-rank move [[selectByTokenBudget]] makes — before
    * resorting to that, measure: a shuffle of 12 bytes/row is ~1% of a
    * document shuffle.
    */
  def filterTopQuantileByGroup(df: DataFrame, groupCol: String,
      score: Column, keepFrac: Double): DataFrame = {
    require(keepFrac > 0.0 && keepFrac <= 1.0,
      s"keepFrac must be in (0, 1], got $keepFrac")
    val p = 1.0 - keepFrac
    val cuts = df.select(col(groupCol), score.as("__s"))
      .where(col("__s").isNotNull)
      .groupBy(col(groupCol))
      .agg(expr(s"percentile_disc(CAST($p AS DOUBLE)) " +
        "WITHIN GROUP (ORDER BY __s)").as("cutpoint"))
    df.withColumn("score", score)
      .join(broadcast(cuts), Seq(groupCol))
      .where(col("score") >= col("cutpoint"))
  }

  /** Length-bucketed dynamic batching — the padding-efficiency layout
    * for pipelines that do NOT concatenate documents ([[packSequences]]
    * is the pretraining concat-and-chunk shape; fine-tuning / seq2seq
    * training pads each sequence to its batch's max, so batching
    * similar lengths together is the difference between ~0% and ~50%
    * of compute spent on pad tokens): documents are bucketed by
    * `ceil(n_tokens / bucketWidth)`, ordered inside each bucket by the
    * md5 hash of their id (decorrelated like [[deterministicShuffle]] —
    * adjacent source docs don't share a batch), and grouped into
    * `batchSize`-document batches. Every row gets its full batch
    * coordinate plus the padding audit: `padded_to` (the batch's max
    * token count — what the loader pads to) and `pad_waste`
    * (padded_to − n_tokens).
    *
    * Scale shape: a bucket holds corpus/|buckets| documents — far too
    * many for one task's window sort (the ntile trap
    * [[Sketches.quantileBuckets]] documents) — so batches are formed
    * within (bucket, shard) where shard = id-hash mod `shards`: the
    * rank window partitions on BOTH keys and every task sorts only its
    * shard of a bucket. Batch membership is still a pure function of
    * the ids (reproducible, append-moves-ranks like every rank-based
    * layout); padding efficiency is unchanged by sharding because
    * lengths inside a (bucket, shard) cell are within `bucketWidth` of
    * each other by construction. The trailing partial batch per cell is
    * emitted (standard loader behavior — it pads or drops downstream).
    *
    * Rows with NULL or negative token counts are excluded (they cannot
    * be bucketed); zero-token docs batch in bucket 0.
    *
    * Every input column BESIDES `tokenCol` rides through (round 16 —
    * the [[TrainingPipeline.corpusToBatches]] composition needs the
    * (domain, epoch) payload on the batch rows; the q148 two-column
    * input is the degenerate case, its output unchanged); `tokenCol`
    * re-emerges as the canonical `n_tokens`. The added names are
    * clobber-guarded like every layout operator here.
    */
  def bucketBatches(df: DataFrame, tokenCol: String, bucketWidth: Int,
      batchSize: Int, shards: Int, idCol: String = "doc_id"): DataFrame = {
    require(bucketWidth >= 1, s"bucketWidth must be >= 1, got $bucketWidth")
    require(batchSize >= 1, s"batchSize must be >= 1, got $batchSize")
    require(shards >= 1, s"shards must be >= 1, got $shards")
    val added = Seq("bucket", "shard", "batch_idx", "pos_in_batch",
      "padded_to", "pad_waste") ++
      (if (tokenCol == "n_tokens") Nil else Seq("n_tokens"))
    added.foreach(c => require(!df.columns.contains(c),
      s"df already has a '$c' column — bucketBatches would overwrite it"))
    val h = conv(substring(md5(col(idCol).cast("string")), 1, 15), 16, 10)
      .cast("long")
    val carried = df.columns.filterNot(_ == tokenCol).toSeq
    val scoped = df
      .select(carried.map(col) :+
        col(tokenCol).cast("long").as("n_tokens"): _*)
      .where(col("n_tokens").isNotNull && col("n_tokens") >= 0)
      .withColumn("bucket",
        expr(s"(n_tokens + ${bucketWidth - 1}) div $bucketWidth"))
      .withColumn("__h", h)
      .withColumn("shard", (col("__h") % shards).cast("int"))
    val wCell = Window.partitionBy(col("bucket"), col("shard"))
      .orderBy(col("__h").asc, col(idCol).asc)
    val wBatch = Window.partitionBy(col("bucket"), col("shard"),
      col("batch_idx"))
    scoped
      .withColumn("__rn", row_number().over(wCell) - 1)
      .withColumn("batch_idx", expr(s"__rn div $batchSize").cast("int"))
      .withColumn("pos_in_batch", col("__rn") % batchSize)
      .withColumn("padded_to", max(col("n_tokens")).over(wBatch))
      .withColumn("pad_waste", col("padded_to") - col("n_tokens"))
      .drop("__h", "__rn")
  }

  /** Strided context-window chunking — the LM-training complement of
    * [[packSequences]]: instead of packing whole short documents into a
    * budget, slice each LONG document into overlapping `seqLen`-token
    * windows starting every `stride` tokens (stride < seqLen ⇒ overlap,
    * the standard perplexity/fine-tuning windowing; stride = seqLen ⇒
    * disjoint blocks). Every token of the document appears in at least
    * one chunk; the final window is short when the tail is (standard LM
    * convention — it is padded downstream, not dropped here).
    *
    * Output: (id, chunk_id, start_tok, chunk_tokens, chunk_text) —
    * chunk_id = start_tok / stride. Token-free documents produce no
    * chunks.
    *
    * Scale shape: a pure per-row projection + a bounded generator (at
    * most ceil(n/stride) rows per document) — NO shuffle anywhere; the
    * output is bigger than the input by design (the overlap factor
    * ~seqLen/stride), which is the materialization cost of the operator,
    * not a plan defect. Tokenization is the repo's whitespace kernel
    * ([[TextAnalysis.tokens]]), evaluated once per row.
    */
  def stridedChunks(df: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", seqLen: Int = 64,
      stride: Int = 48): DataFrame = {
    require(stride >= 1, s"stride must be >= 1, got $stride")
    require(seqLen >= stride,
      s"seqLen ($seqLen) < stride ($stride) would drop tokens between " +
        "windows — every token must land in at least one chunk")
    val toks = TextAnalysis.tokens(col(textCol))
    df.select(col(idCol), toks.as("__toks"))
      .filter(size(col("__toks")) > 0)
      .select(col(idCol), col("__toks"),
        explode(sequence(lit(0), size(col("__toks")) - 1, lit(stride)))
          .as("start_tok"))
      .select(col(idCol),
        (col("start_tok") / stride).cast("int").as("chunk_id"),
        col("start_tok"),
        least(lit(seqLen), size(col("__toks")) - col("start_tok"))
          .as("chunk_tokens"),
        array_join(slice(col("__toks"), col("start_tok") + 1, lit(seqLen)),
          " ").as("chunk_text"))
  }

  /** Hashed n-gram (unigram + bigram) feature counts per document — the
    * DSIR feature map (Xie et al., NeurIPS 2023 §3: hashed n-grams are
    * the published cheap sufficient statistic for distribution
    * matching). Grams hash through the repo's portable md5 convention
    * into `buckets` bins; output is (id, bucket, count).
    *
    * Scale shape: one corpus scan, exploded grams partial-aggregate
    * map-side into the (id, bucket) frame — per-document feature rows
    * are capped at `buckets`, so the output is ≤ |docs|·buckets and in
    * practice ~tokens-sized before combine, feature-sized after.
    */
  private def dsirFeatures(df: DataFrame, idCol: String, textCol: String,
      buckets: Int): DataFrame =
    df.select(col(idCol).as("__id"),
        TextAnalysis.tokens(col(textCol)).as("__t"))
      .select(col("__id"), explode(concat(col("__t"), expr(
        "zip_with(slice(__t, 1, greatest(size(__t)-1, 0)), " +
          "slice(__t, 2, greatest(size(__t)-1, 0)), " +
          "(a, b) -> concat(a, ' ', b))"))).as("__g"))
      .select(col("__id"),
        (conv(substring(md5(col("__g")), 1, 15), 16, 10).cast("long")
          % buckets).as("bucket"))
      .groupBy(col("__id"), col("bucket")).agg(count(lit(1)).as("__cnt"))

  /** DSIR importance weights (Xie et al., NeurIPS 2023): score every
    * corpus document by how much more likely its hashed n-gram features
    * are under a TARGET distribution than under the raw corpus —
    * log w(x) = Σ_b c_x[b]·(log p̂[b] − log q̂[b]), where c_x is the
    * document's hashed unigram+bigram count vector and p̂/q̂ are
    * add-`smoothing` estimates of the target/corpus bucket
    * distributions. This upgrades share-matching mixing
    * ([[domainMixPlan]]) to distribution-matching SELECTION: resampling
    * by w (see [[dsirResample]]) yields a corpus whose feature
    * distribution approaches the target's.
    *
    * Determinism contract: per-bucket log-ratios are QUANTIZED —
    * qlr[b] = round((ln(pc+s) − ln(pT+s·B) − ln(qc+s) + ln(qT+s·B))·10⁶)
    * as a long (four libm lns, 1-ulp licensed; the quantization absorbs
    * the wobble except on a measure-zero rounding boundary — the
    * [[temperatureMixPlan]] discipline) — and each document's weight is
    * then the EXACT integer Σ count·qlr, order-free in any engine.
    * `log_weight` = log_weight_q / 10⁶ is one correctly-rounded IEEE
    * division of that integer.
    *
    * Output: (idCol, n_features, log_weight_q, log_weight) — one row
    * per corpus document; zero-token documents carry (0, 0, 0.0).
    *
    * Scale shape: corpus and target each scanned ONCE into hashed
    * feature frames (map-side combined); the log-ratio table is
    * bucket-cardinality (config-sized) and broadcasts into the weight
    * join; the only collects are the two 1-row gram totals (the HITS
    * normalizer class). No corpus shuffle beyond the (id, bucket)
    * partial aggregate.
    */
  def dsirWeights(corpus: DataFrame, target: DataFrame,
      idCol: String = "doc_id", textCol: String = "text",
      buckets: Int = 8192, smoothing: Double = 1.0): DataFrame = {
    require(buckets >= 2, s"DSIR needs >= 2 hash buckets, got $buckets")
    require(smoothing > 0.0,
      s"unsmoothed bucket estimates put ln(0) on empty buckets, got " +
        s"$smoothing")
    val feats = dsirFeatures(corpus, idCol, textCol, buckets)
      .transform(Persist.round) // read twice: corpus counts + weight join
    // both bucket tables are read twice (their 1-row total + the ratio
    // join). Round 22 MEASURED checkpointing them and reverted it: the
    // two extra eager jobs cost more at every gate scale than the
    // re-aggregation they save (q234/q235/q241 ~1.6-1.8× slower with the
    // checkpoints, interleaved A/B) — the re-read re-aggregates the
    // already-persisted `feats`, and the target re-scan is one
    // map-side-combined pass.
    val qc = feats.groupBy(col("bucket")).agg(sum(col("__cnt")).as("__qc"))
    val pc = dsirFeatures(target, idCol, textCol, buckets)
      .groupBy(col("bucket")).agg(sum(col("__cnt")).as("__pc"))
    val qTotRow = qc.agg(sum(col("__qc"))).collect()(0)
    val pTotRow = pc.agg(sum(col("__pc"))).collect()(0)
    require(!qTotRow.isNullAt(0),
      "dsirWeights: the corpus has no tokens — nothing to weight")
    require(!pTotRow.isNullAt(0),
      "dsirWeights: the target has no tokens — the target distribution " +
        "is undefined")
    val qTot = qTotRow.getLong(0)
    val pTot = pTotRow.getLong(0)
    val ratios = qc.join(pc, Seq("bucket"), "full")
      .select(col("bucket"), round((
        log(coalesce(col("__pc"), lit(0L)) + smoothing) -
          log(lit(pTot + smoothing * buckets)) -
          log(coalesce(col("__qc"), lit(0L)) + smoothing) +
          log(lit(qTot + smoothing * buckets))) * 1e6)
        .cast("long").as("__qlr"))
    val w = feats.join(broadcast(ratios), Seq("bucket"))
      .groupBy(col("__id"))
      .agg(sum(col("__cnt")).as("n_features"),
        sum(col("__cnt") * col("__qlr")).as("log_weight_q"))
    corpus.select(col(idCol))
      .join(w, col(idCol) === col("__id"), "left")
      .select(col(idCol),
        coalesce(col("n_features"), lit(0L)).as("n_features"),
        coalesce(col("log_weight_q"), lit(0L)).as("log_weight_q"),
        (coalesce(col("log_weight_q"), lit(0L)).cast("double") / 1e6)
          .as("log_weight"))
  }

  /** DSIR's resampling half: select `n` documents WITHOUT replacement
    * with probability ∝ exp(log_weight), via the Gumbel-top-k identity
    * (Kool et al., ICML 2019: the top n of log w_i + Gumbel_i is an
    * exact without-replacement sample ∝ w). The Gumbel draw is
    * DETERMINISTIC — u_i = (md5-bucket(id:dsir) + 0.5)/10⁴, the repo's
    * no-rand() convention ([[materializeMix]]'s ':epoch' salt
    * discipline, distinct ':dsir' salt so composing with a mix never
    * correlates draws) — so the sample is reproducible across engines,
    * retries, and runs. Keys quantize at 10⁻⁶ (ties break by id asc).
    *
    * Input is a [[dsirWeights]] frame; output its rows plus
    * (key_q, rank), rank 1..n by (key_q desc, id asc).
    *
    * Scale shape: a per-row key projection + distributed top-n
    * (TakeOrdered — per-partition heaps, no global sort); the rank
    * window runs over the n-row result, config-sized by definition.
    */
  def dsirResample(weights: DataFrame, n: Int,
      idCol: String = "doc_id"): DataFrame = {
    require(n >= 1, s"resample size must be >= 1, got $n")
    val gumbel = -log(-log(
      (conv(substring(md5(concat(col(idCol).cast("string"), lit(":dsir"))),
        1, 15), 16, 10).cast("long") % 10000).cast("double")
        .plus(lit(0.5)) / lit(10000.0)))
    val key = round((col("log_weight_q").cast("double") / 1e6 + gumbel)
      * 1e6).cast("long")
    weights.withColumn("key_q", key)
      .orderBy(col("key_q").desc, col(idCol).asc)
      .limit(n)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("key_q").desc, col(idCol).asc)))
  }
}
