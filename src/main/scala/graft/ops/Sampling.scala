package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic sampling and dataset splitting — the selection ops a
  * training pipeline needs to be REPRODUCIBLE: the same row lands in the
  * same split/sample on every run, every engine, every partition count.
  *
  * The randomness source is a 24-bit uniform value parsed from the md5 hex
  * prefix of the key (md5 is byte-stable across engines; the DuckDB oracle
  * parses the same six hex digits — same trick as the SimHash oracle).
  * Never `rand()`: per-task seeds make resampled rows differ across
  * retries/partitionings, which silently leaks eval rows into train at
  * re-ingest time.
  *
  * Scale shape: pure per-row projection/filter — no shuffle, no state,
  * trivially parallel.
  */
object Sampling {

  /** 24-bit uniform hash of a key: first 6 hex digits of md5(key). */
  def hashU24(key: Column): Column =
    conv(substring(md5(key.cast("string")), 1, 6), 16, 10).cast("long")

  /** Oracle twin of [[hashU24]] for a DuckDB expression `key` (rendered as
    * VARCHAR exactly like Spark's string cast for integral types).
    */
  def sqlHashU24(key: String): String = {
    val digit = (p: Int) => s"(instr('0123456789abcdef', substr(md5(CAST($key AS VARCHAR)), $p, 1)) - 1)"
    (1 to 6).map(digit).reduce((a, b) => s"($a * 16 + $b)")
  }

  /** Deterministic `num`/`den` sample: keep rows with bucket < num of den
    * equal hash buckets (e.g. 1/10 ≈ 10%, exact w.r.t. the hash, not the
    * row count).
    */
  def sampleDeterministic(df: DataFrame, keyCol: String, num: Int, den: Int): DataFrame = {
    require(num >= 0 && den > 0 && num <= den, "need 0 <= num <= den, den > 0")
    df.filter(hashU24(col(keyCol)) % den < num)
  }

  /** Deterministic stratified sample: up to `nPerStratum` rows per stratum,
    * chosen by hash order (plus the key as total tiebreak) — per-class
    * balancing / per-source capping without `rand()`, reproducible across
    * runs and partitionings. One shuffle on the strata keys.
    *
    * Hot-stratum scale note (probed at 1M rows with one stratum holding
    * 803k members — see BASELINE.md round-6 probes): the `row_number <= n`
    * filter plans as Partial+Final `WindowGroupLimit`, so every map task
    * pre-prunes to ≤ n rows per stratum BEFORE the exchange — a skewed
    * stratum never ships its full membership through one task, and the
    * window form matches a per-key heap within noise. Keep the rank filter
    * directly over the window (that adjacency is what the optimizer
    * pattern-matches).
    */
  def stratifiedSample(
      df: DataFrame,
      keyCol: String,
      strataCols: Seq[String],
      nPerStratum: Int): DataFrame = {
    require(nPerStratum > 0 && strataCols.nonEmpty, "need strata and n > 0")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(strataCols.map(col): _*)
      .orderBy(hashU24(col(keyCol)), col(keyCol))
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= nPerStratum)
      .drop("__rn")
  }

  /** Mixture sampling: per-stratum keep RATES (the data-mixture op — each
    * source/domain is up- or down-weighted by its own fraction, e.g. wiki
    * 1.0, crawl 0.15). `rates` maps stratum value → keep fraction in
    * [0, 1], resolved to per-ten-thousand hash-bucket thresholds; strata
    * absent from the map use `defaultRate`. Deterministic like everything
    * here: a row's fate depends only on (key, its stratum's rate) —
    * re-ingests, retries, and corpus growth never flip it.
    *
    * Scale shape: pure projection + filter against a broadcast-size CASE
    * over the rate map — no shuffle, no join.
    */
  def mixtureSample(
      df: DataFrame,
      keyCol: String,
      strataCol: String,
      rates: Map[String, Double],
      defaultRate: Double = 0.0): DataFrame = {
    require((rates.values ++ Seq(defaultRate)).forall(r => r >= 0 && r <= 1),
      "rates must be in [0, 1]")
    def perMyriad(r: Double): Long = math.round(r * 10000).toLong
    val threshold = rates.foldLeft(Option.empty[Column]) { case (acc, (s, r)) =>
      Some(acc match {
        case None    => when(col(strataCol) === s, perMyriad(r))
        case Some(c) => c.when(col(strataCol) === s, perMyriad(r))
      })
    }.map(_.otherwise(perMyriad(defaultRate))).getOrElse(lit(perMyriad(defaultRate)))
    df.filter(hashU24(col(keyCol)) % 10000L < threshold)
  }

  /** Token-budget mixture selection — the "take N tokens from each source"
    * op actual training mixes are built with (rate-based [[mixtureSample]]
    * fixes a FRACTION; this fixes a TOKEN total): within each stratum,
    * docs are ordered by (hash, key) and kept while the inclusive running
    * token total stays within `budget`. The kept set is the maximal
    * hash-order PREFIX fitting the budget: a pure function of the corpus
    * CONTENTS — re-ingests, retries, and repartitionings never flip a row
    * (no `rand()`), though unlike [[mixtureSample]]'s per-row rates, corpus
    * GROWTH does shift the prefix boundary (new docs hash into the order
    * ahead of old ones — inherent to any exact-total contract). Emits the
    * full ledger (key, stratum, tokensCol, cum_tokens, keep), not just
    * survivors, so the rejected tail is auditable.
    *
    * Scale shape: strata are source/language-grade keys — few keys × very
    * long series, exactly the hot-key regime where a per-stratum ordered
    * window serializes the whole stratum through one task. The cumsum
    * rides [[Windows.chunkedScan]] (two-phase prefix scan, bit-identical
    * to the direct window — integer deltas), chunked on the high bits of
    * the 24-bit hash, so parallelism is strata × 256 regardless of
    * stratum size.
    */
  def tokenBudgetLedger(
      df: DataFrame,
      keyCol: String,
      strataCol: String,
      tokensCol: String,
      budget: Long): DataFrame = {
    require(budget > 0, "budget must be positive")
    Windows.chunkedScan(
      df.withColumn("__u", hashU24(col(keyCol))),
      keys = Seq(strataCol),
      orderCols = Seq(col("__u"), col(keyCol)),
      deltaCol = tokensCol,
      chunk = expr("__u DIV 65536"),
      sumOut = "cum_tokens")
      .select(
        col(keyCol), col(strataCol), col(tokensCol),
        col("cum_tokens"),
        (col("cum_tokens") <= budget).cast("long").as("keep"))
  }

  /** Temperature-smoothed mixture weights at α = 0.5 — the multilingual /
    * multi-source rebalancing move (T5 / UniMax shape): target share of
    * stratum ℓ ∝ p_ℓ^α, flattening the head and lifting the tail. α is
    * FIXED at 0.5 because that exponent is `sqrt` — the one temperature
    * whose power function is correctly rounded IEEE in every engine
    * (general `pow`/`exp` are not, and would break the cross-engine hash
    * contract).
    *
    * Emits one row per stratum: (stratum, n_docs, p, target_share,
    * keep_per_10k), where keep_per_10k is the per-myriad downsampling
    * threshold that realizes the target mixture at the LARGEST total that
    * needs no upsampling (the arg-min stratum keeps ~everything) — feed
    * it straight into [[mixtureSample]]-style hash thresholds.
    *
    * Determinism: p is one BIGINT→double division; w = sqrt(p) is IEEE;
    * the stratum-count-sized Σw goes through tie-free truncated scale-9
    * fixed point (the [[Exact.dsumTrunc9]] recipe inlined as a window — a
    * bare double SUM over a handful of rows is partition-order-dependent);
    * min over ratios is exact; the closing floor sees identical doubles
    * in both engines. Scale shape: one partial-agged groupBy collapses
    * the corpus to the STRATUM frame; every window after that is
    * unpartitioned over that frame — a handful of rows, bounded by the
    * stratum count, never corpus-sized.
    */
  def temperatureMixtureSqrt(df: DataFrame, strataCol: String): DataFrame = {
    val all = org.apache.spark.sql.expressions.Window.partitionBy(lit(1))
    val m = floor(abs(col("__w")) * lit(1.0e9d))
    val wSum = sum(when(col("__w") < 0, -m).otherwise(m)
      .cast(org.apache.spark.sql.types.DecimalType(38, 0))).over(all)
      .cast("double") / lit(1.0e9d)
    df.groupBy(strataCol).agg(count(lit(1)).as("n_docs"))
      .withColumn("p",
        col("n_docs").cast("double") / sum(col("n_docs")).over(all).cast("double"))
      .withColumn("__w", sqrt(col("p")))
      .withColumn("target_share", col("__w") / wSum)
      .withColumn("__ratio", col("p") / col("target_share"))
      .withColumn("__s", min(col("__ratio")).over(all))
      .select(
        col(strataCol),
        col("n_docs"),
        col("p"),
        col("target_share"),
        floor(col("__s") * col("target_share") / col("p") * lit(10000.0))
          .cast("long").as("keep_per_10k"))
  }

  /** Split assignment: `cuts` are (label, upperBoundExclusive) pairs over
    * `den` hash buckets, in ascending bound order with the last bound ==
    * den — e.g. Seq(("train",8),("val",9),("test",10)) with den=10 is an
    * 80/10/10 split. Appends a `split` column; rows never move between
    * splits when the corpus grows (bucket membership depends only on the
    * key).
    */
  def assignSplit(
      df: DataFrame,
      keyCol: String,
      den: Int,
      cuts: Seq[(String, Int)],
      splitCol: String = "split"): DataFrame = {
    require(cuts.nonEmpty && cuts.last._2 == den, "last cut must equal den")
    require(cuts.map(_._2) == cuts.map(_._2).sorted, "cut bounds must ascend")
    val b = hashU24(col(keyCol)) % den
    val assigned = cuts.foldLeft(Option.empty[Column]) { case (acc, (label, hi)) =>
      Some(acc match {
        case None    => when(b < hi, label)
        case Some(c) => c.when(b < hi, label)
      })
    }.get
    df.withColumn(splitCol, assigned)
  }

  /** Weighted sampling WITHOUT replacement, k per group — Efraimidis &
    * Spirakis (IPL 2006) A-ES keys, the one-pass distributed formulation:
    * each row draws u ∈ (0, 1] from a seeded hash of its id and ranks by
    * key u^(1/w); the k largest keys per group are an exact weighted
    * sample. Ranking happens in the LOG domain (ln(u)/w, descending —
    * monotone in u^(1/w), no pow()): one division per row, and since
    * [[graft.functions.MathLn]] is bit-identical to DuckDB's ln, the
    * selected set is engine-exact, not just distribution-equal.
    *
    * Scale shape: a projection plus one per-group top-k — no rand() (hash
    * u is partition- and retry-stable), no sort of the full group needed
    * by the engine beyond the window machinery. Weights must be > 0.
    */
  def weightedSample(
      df: DataFrame,
      groupCols: Seq[String],
      idCol: String,
      weightCol: String,
      k: Int,
      seed: String,
      rankCol: String = "sample_rank"): DataFrame = {
    require(k > 0, "k must be positive")
    val u = (hashU24(concat(col(idCol).cast("string"), lit("_" + seed))) + lit(1L))
      .cast("double") / lit(16777217.0d)
    // loud guard: ln(u) < 0, so a NEGATIVE weight would flip its key
    // positive and deterministically steal a top slot in every group —
    // fail the job instead of silently corrupting the sample. The VALID
    // condition gates the when branch (not `w <= 0` gating the error):
    // a NULL weight makes any comparison NULL, and a NULL when-condition
    // falls through to otherwise — so the error must BE the otherwise,
    // or NULL weights would slip past the guard with a NULL ranking key.
    val wPos = when(col(weightCol) > 0, col(weightCol).cast("double"))
      .otherwise(raise_error(concat(
        lit("weightedSample: non-positive or NULL weight for id="),
        col(idCol).cast("string"))))
    val key = graft.functions.MathLn(u) / wPos
    val w = Window.partitionBy(groupCols.map(col): _*)
      .orderBy(key.desc, col(idCol))
    df.withColumn(rankCol, row_number().over(w).cast("long"))
      .filter(col(rankCol) <= k)
  }

  /** Oracle twin of [[weightedSample]]'s ranking key for DuckDB: renders
    * `ln((hash + 1) / 16777217.0) / weight` over [[sqlHashU24]] of
    * `id || '_' || seed`.
    */
  def sqlWeightedKey(idExpr: String, weightExpr: String, seed: String): String = {
    val h = sqlHashU24(s"CAST($idExpr AS VARCHAR) || '_$seed'")
    s"ln((($h) + 1) / CAST(16777217.0 AS DOUBLE)) / CAST($weightExpr AS DOUBLE)"
  }

  /** Greedy per-group budget fill — the data-mixing selection a training
    * corpus runs per source: walk each group in the caller's priority
    * order, keep rows while the running weight total stays within
    * `budget` (a row is kept iff its INCLUSIVE cumulative weight fits, the
    * greedy-prefix convention; one over-budget row is not split).
    *
    * One window per group — single shuffle, incremental frame sum, no
    * join. `weightCol` must be integral (token counts): the running sum is
    * then exact and the kept set is engine- and partition-independent.
    * `order` must be total (append a unique id tiebreak) or the prefix is
    * not well-defined.
    */
  def budgetedPrefix(
      df: DataFrame,
      groupCols: Seq[String],
      order: Seq[Column],
      weightCol: String,
      budget: Long,
      cumCol: String = "cum_weight"): DataFrame = {
    require(budget > 0, "budget must be positive")
    val w = Window.partitionBy(groupCols.map(col): _*).orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, 0)
    // loud guard: a NEGATIVE weight makes the cumsum non-monotone, so
    // filter(cum <= budget) would re-admit rows after the cut — no longer
    // a prefix of the priority order. Zero is harmless; fail on < 0.
    val wChecked = when(
      col(weightCol) < 0,
      raise_error(lit("budgetedPrefix: negative weight breaks the prefix contract")))
      .otherwise(col(weightCol))
    df.withColumn(cumCol, sum(wChecked).over(w))
      .filter(col(cumCol) <= budget)
  }

  /** DSIR-style importance ranking for targeted data selection (Xie et
    * al. 2023, "Data Selection for Language Models via Importance
    * Resampling"): score every POOL document by how much more likely its
    * hashed n-gram profile is under the TARGET distribution than under the
    * raw pool distribution, and rank per stratum. Features are word
    * unigrams + ordered bigrams hashed into `buckets` buckets (the paper's
    * hashed n-gram feature map); both distributions are Laplace-smoothed
    * bucket unigram models, so a document's importance log-weight is
    * Σ_features [ln p_target(b(f)) − ln p_raw(b(f))]. The paper resamples
    * with Gumbel noise; this engine is deterministic by contract, so
    * selection is the top-`kPerStratum` by (log-weight desc, id) per
    * stratum — the paper's own top-k variant — and the FULL ledger ships
    * (rank + selected flag) so the rejected tail is auditable, like
    * [[tokenBudgetLedger]].
    *
    * Target = rows with `strataCol === targetValue`; the pool = every
    * other stratum (target rows contribute to BOTH fitted distributions —
    * raw counts cover the whole corpus, exactly the paper's raw side —
    * but are not themselves scored). Determinism recipe: integer bucket
    * counts → exact double ratios → [[graft.functions.MathLn]] (libm
    * parity) per BUCKET (not per feature instance), and the per-doc sum
    * of bucket log-ratios runs through [[Exact.dsumTrunc9]], so the score
    * — and therefore the selected SET — is engine- and partition-exact.
    *
    * Scale shape: the feature explode is a stateless projection; the two
    * bucket histograms aggregate with map-side partial combine into at
    * most `buckets` rows each, and the fitted log-ratio table is a
    * `buckets`-row BROADCAST (the planner has no stats on a fresh
    * aggregate — same explicit-broadcast lesson as `unigramLogProb`), so
    * scoring is one shuffle on the doc id. Ranking is a window per
    * stratum over the scored docs (the ledger variant; a selection-only
    * consumer should filter `sel_rank <= k` directly over the window to
    * get the WindowGroupLimit map-side pre-prune).
    */
  def dsirLedger(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      strataCol: String,
      targetValue: String,
      buckets: Int,
      kPerStratum: Int): DataFrame = {
    require(buckets > 0, "buckets must be positive")
    require(kPerStratum > 0, "kPerStratum must be positive")
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val fb = dsirFeatures(docs, idCol, textCol, strataCol, buckets)
    // per-(doc, bucket) instance counts, persisted ONCE: the feature bag
    // collapses map-side before its single shuffle, and BOTH consumers —
    // the bucket-ratio fit and the per-doc scoring — read the counts frame
    // instead of re-exploding the corpus per branch (guide §2.3: aggregate
    // before you shuffle; the bag itself is never persisted — counts are
    // an agg RESULT, the cache-agg-results rule)
    val counts = Caches.trackPersist(
      fb.groupBy(col(idCol), col(strataCol), col("__b")).agg(count(lit(1)).as("__c")))
    val byB = counts.groupBy("__b").agg(
      sum(col("__c")).as("__cr"),
      sum(when(col(strataCol) === targetValue, col("__c")).otherwise(0L)).as("__ct"))
    val lr = dsirRatiosFromBucketCounts(byB, buckets)
    val w = Window.partitionBy(col(strataCol))
      .orderBy(col("dsir_logweight").desc, col(idCol))
    // dsumTrunc9 over per-instance __lw ≡ Σ_b count_b · trunc9int(__lw_b):
    // every instance of bucket b contributes the same ±⌊|lw|·10⁹⌋ integer,
    // so the grouped-count form is bit-identical to the exploded form the
    // oracle mirrors (integer sum, one closing decimal→double cast)
    val mAbs = floor(abs(col("__lw")) * lit(1.0e9d))
    val lwInt = when(col("__lw") < 0, -mAbs).otherwise(mAbs)
    counts.filter(col(strataCol) =!= targetValue)
      .join(broadcast(lr), Seq("__b"))
      .groupBy(col(idCol), col(strataCol))
      .agg(
        sum(col("__c")).as("n_feats"),
        (sum((col("__c").cast(dec) * lwInt.cast(dec))).cast("double") / lit(1.0e9d))
          .as("dsir_logweight"))
      .withColumn("sel_rank", row_number().over(w).cast("long"))
      .withColumn("selected", (col("sel_rank") <= kPerStratum).cast("long"))
  }

  /** The FITTED bucket log-ratio table of [[dsirLedger]] — `(__b, __lw)`
    * with `__lw = ln p_target(b) − ln p_raw(b)`, exactly the broadcast
    * frame the ledger scores against (same features, same smoothing, same
    * MathLn). This is the batch half of the stream split: collect it
    * (`buckets` rows, sub-linear by construction) and route per-document
    * scoring through
    * [[graft.streaming.Streaming.dsirAdmitStream]].
    */
  def dsirLogRatios(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      strataCol: String,
      targetValue: String,
      buckets: Int): DataFrame = {
    require(buckets > 0, "buckets must be positive")
    dsirRatiosFromFeatures(
      dsirFeatures(docs, idCol, textCol, strataCol, buckets),
      strataCol, targetValue, buckets)
  }

  /** (id, strata, __b) hashed feature-instance rows: word unigrams +
    * ordered bigrams, bucketed by [[hashU24]] mod `buckets`.
    */
  private def dsirFeatures(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      strataCol: String,
      buckets: Int): DataFrame = {
    val toks = Text.tokens(col(textCol))
    val base = Spread.byKey(docs, col(idCol))
      .select(col(idCol), col(strataCol), col(textCol))
    // unigrams + ordered bigrams in ONE explode off ONE tokenization pass —
    // the former two-branch union re-scanned and re-tokenized the corpus
    // per branch (same instance multiset, so every aggregate downstream is
    // unchanged). The size() guard keeps the n < k rule out: shingles()
    // of a 1-token doc is [t0, t0], not empty
    val feats = concat(
      toks,
      when(size(toks) >= 2, Text.shingles(toks, 2))
        .otherwise(array().cast("array<string>")))
    base.select(col(idCol), col(strataCol), explode(feats).as("__f"))
      .select(col(idCol), col(strataCol), (hashU24(col("__f")) % buckets).as("__b"))
  }

  /** Epoch / repeat-factor planning — "how many passes over each stratum
    * fill a token budget at the target mixture" (the multi-epoch mixing
    * schedule of LLaMA-class pretraining recipes: under-represented
    * strata are REPEATED up to a cap instead of the head being starved).
    *
    * Per stratum: token mass `tokens_avail` (Σ `tokensCol`), natural share
    * p = mass/total, sqrt-temperature target share (α = 0.5 — the one
    * IEEE-exact power, same contract as [[temperatureMixtureSqrt]]),
    * `tokens_target` = ⌊budget · share⌋, and the integral milli-epoch plan
    * `epochs_milli` = min(maxMilliEpochs, ⌊1000·target/avail⌋) with the
    * realized `tokens_planned` = ⌊avail · epochs_milli / 1000⌋ — a stratum
    * needing < 1 epoch is downsampled, one needing more is repeated, and
    * the repeat cap (e.g. 4000 = 4 epochs) is the published guard against
    * over-fitting tiny strata.
    *
    * Determinism: masses are BIGINT; share math is the
    * [[temperatureMixtureSqrt]] recipe (one int→double division, IEEE
    * sqrt, tie-free trunc-9 decimal Σw over the stratum frame); every
    * output after `target_share` is integer floor/DIV arithmetic on
    * identical doubles. Scale: one partial-agged groupBy collapses the
    * corpus to the stratum frame; all windows after that are bounded by
    * the stratum count.
    */
  def epochPlan(
      df: DataFrame,
      strataCol: String,
      tokensCol: String,
      budgetTokens: Long,
      maxMilliEpochs: Long): DataFrame = {
    require(budgetTokens > 0 && maxMilliEpochs > 0, "budget and cap must be positive")
    val all = Window.partitionBy(lit(1))
    val m = floor(abs(col("__w")) * lit(1.0e9d))
    val wSum = sum(when(col("__w") < 0, -m).otherwise(m)
      .cast(org.apache.spark.sql.types.DecimalType(38, 0))).over(all)
      .cast("double") / lit(1.0e9d)
    df.groupBy(strataCol)
      .agg(count(lit(1)).as("n_docs"), sum(col(tokensCol)).as("tokens_avail"))
      .withColumn("p",
        col("tokens_avail").cast("double") /
          sum(col("tokens_avail")).over(all).cast("double"))
      .withColumn("__w", sqrt(col("p")))
      .withColumn("target_share", col("__w") / wSum)
      .withColumn("tokens_target",
        floor(lit(budgetTokens.toDouble) * col("target_share")).cast("long"))
      // zero-mass guard: tokens_avail = 0 makes the DIV NULL, and least()
      // SKIPS null arguments in both engines (the documented pitfall) — an
      // empty stratum would silently plan maxMilliEpochs passes over
      // nothing instead of 0
      .withColumn("epochs_milli",
        when(col("tokens_avail") > 0,
          least(lit(maxMilliEpochs), expr("(1000 * tokens_target) DIV tokens_avail")))
          .otherwise(lit(0L)))
      .withColumn("tokens_planned", expr("(tokens_avail * epochs_milli) DIV 1000"))
      .select(strataCol, "n_docs", "tokens_avail", "target_share",
        "tokens_target", "epochs_milli", "tokens_planned")
  }

  /** Rank-quantile bucketing: number each stratum's rows in `orderCols`
    * order and assign bucket ⌊(rank−1)·nBuckets/n⌋ — the CCNet
    * head/middle/tail move when ordered by an LM quality score. The rank
    * rides [[Windows.chunkedScan]] (two-phase, bit-identical to the direct
    * window) keyed by the caller's `chunk` expression, so a hot stratum
    * never serializes through one task; `chunk` must be non-decreasing
    * along `orderCols` (it only defines chunk boundaries — the result is
    * invariant to the chunking). Appends `rankCol` (1-based), `nCol`
    * (stratum size) and `bucketCol` (0..nBuckets−1).
    */
  def rankBuckets(
      df: DataFrame,
      strata: Seq[String],
      orderCols: Seq[Column],
      nBuckets: Int,
      chunk: Column,
      rankCol: String = "rank",
      bucketCol: String = "bucket"): DataFrame = {
    require(nBuckets > 0, "nBuckets must be positive")
    Windows.chunkedScan(
      df.withColumn("__one", lit(1L)),
      keys = strata,
      orderCols = orderCols,
      deltaCol = "__one",
      chunk = chunk,
      idxOut = rankCol,
      cntOut = "__n")
      // caller-supplied names stay OUT of SQL text (a rankCol of "rank"
      // shadows the window-function keyword; names needing backquotes
      // would break the parse) — the integer DIV runs on fixed internal
      // names, the rank enters via Column arithmetic
      .withColumn("__bknum", (col(rankCol) - 1L) * lit(nBuckets.toLong))
      .withColumn(bucketCol, expr("__bknum DIV __n"))
      .drop("__one", "__s", "__tot", "__n", "__bknum")
  }

  /** Balanced shard assignment: rows are numbered per stratum in
    * deterministic (hash, key) order and dealt round-robin into `nShards`
    * shards — per-stratum shard SIZES differ by at most one by
    * construction, and because the deal order is hash-uniform the
    * per-shard token masses concentrate tightly around the mean (the
    * "write the curated corpus as N balanced training shards" step).
    * Rank rides [[Windows.chunkedScan]] chunked on the hash high bits
    * (strata × 256 parallelism, same shape as [[tokenBudgetLedger]]).
    * Emits the full ledger: (key, stratum, tokens, shard).
    */
  def shardAssign(
      df: DataFrame,
      keyCol: String,
      strataCol: String,
      tokensCol: String,
      nShards: Int,
      shardCol: String = "shard"): DataFrame = {
    require(nShards > 0, "nShards must be positive")
    Windows.chunkedScan(
      df.withColumn("__u", hashU24(col(keyCol))),
      keys = Seq(strataCol),
      orderCols = Seq(col("__u"), col(keyCol)),
      deltaCol = tokensCol,
      chunk = expr("__u DIV 65536"),
      idxOut = "__i")
      .withColumn(shardCol, pmod(col("__i") - 1, lit(nShards.toLong)))
      .select(col(keyCol), col(strataCol), col(tokensCol), col(shardCol))
  }

  /** Per-source document cap — the FineWeb-class per-domain gate ("no
    * source may contribute more than N documents", `source` standing in
    * for the domain/URL host): rows are ranked per source in deterministic
    * (hash, key) order and `keep` admits the first `maxDocs` of each. Full
    * ledger out (key, source, src_rank, keep) so the rejected tail is
    * auditable, and the admitted set is a pure function of corpus contents
    * (re-ingest-stable; under growth a source's kept set only rotates as
    * any hash-ordered cap must).
    *
    * The rank rides [[Windows.chunkedScan]] on the hash high bits (the
    * [[shardAssign]] shape, sources × 256 parallelism) because the LEDGER
    * keeps every row: a boilerplate-heavy hot source would otherwise
    * funnel its whole row set through one window task. (A kept-set-only
    * variant SHOULD instead filter `row_number() <= n` directly over the
    * window — Spark plans Partial+Final WindowGroupLimit, pre-pruning map
    * tasks to ≤ n rows per key before the exchange; emitting the full
    * ledger defeats that pruning, hence the chunked rank here.)
    *
    * Funnel integration: this is a corpus-level gate like dedup — slot it
    * between the per-doc gates and the token budget (gates → dedup →
    * source cap → budget) so hot-source boilerplate can't eat a stratum's
    * token budget before diverse sources are seen.
    */
  def sourceCapLedger(
      df: DataFrame,
      keyCol: String,
      sourceCol: String,
      maxDocs: Long): DataFrame = {
    require(maxDocs > 0, "maxDocs must be positive")
    Windows.chunkedScan(
      df.withColumn("__u", hashU24(col(keyCol))).withColumn("__one", lit(1L)),
      keys = Seq(sourceCol),
      orderCols = Seq(col("__u"), col(keyCol)),
      deltaCol = "__one",
      chunk = expr("__u DIV 65536"),
      idxOut = "src_rank")
      .withColumn("keep", (col("src_rank") <= maxDocs).cast("long"))
      .select(col(keyCol), col(sourceCol), col("src_rank"), col("keep"))
  }

  /** Per-source TOKEN cap — [[sourceCapLedger]] weighted by token mass
    * instead of document count (how real pipelines actually cap a domain:
    * a boilerplate domain of many short pages and one of few huge pages
    * should face the same budget): rows rank per source in deterministic
    * (hash, key) order, the INCLUSIVE running token sum rides the same
    * [[Windows.chunkedScan]] (integer deltas → the scan is exact and
    * chunking-invariant), and `keep` admits a row iff its inclusive
    * cumulative tokens fit `maxTokens` — the [[budgetedPrefix]] greedy
    * convention: one over-budget row is not split, and since the cumsum
    * is non-decreasing (non-negative deltas) every row after the first
    * rejection is rejected too — the kept set IS a prefix of the
    * deterministic source order, a pure function of corpus contents
    * (re-ingest-stable; under growth it rotates as any hash-ordered cap
    * must, the [[sourceCapLedger]] contract). Full ledger
    * out: (key, source, tokens, src_rank, src_cum_tokens, keep).
    * `tokensCol` must be integral, non-NULL and non-negative (the
    * chunkedScan contract) — enforced LOUDLY per row below: a NULL or
    * negative token count would silently corrupt the running sums (NULL
    * poisons every later cumsum in its source; a negative delta breaks the
    * prefix property `keep` relies on), so the row raise_errors the job
    * with the offending value instead.
    */
  def sourceTokenCapLedger(
      df: DataFrame,
      keyCol: String,
      sourceCol: String,
      tokensCol: String,
      maxTokens: Long): DataFrame = {
    require(maxTokens > 0, "maxTokens must be positive")
    val guarded = df.withColumn(
      tokensCol,
      when(col(tokensCol).isNotNull && col(tokensCol) >= 0, col(tokensCol))
        .otherwise(raise_error(concat(
          lit(s"sourceTokenCapLedger: $tokensCol must be non-NULL and >= 0, got "),
          coalesce(col(tokensCol).cast("string"), lit("NULL"))))))
    Windows.chunkedScan(
      guarded.withColumn("__u", hashU24(col(keyCol))),
      keys = Seq(sourceCol),
      orderCols = Seq(col("__u"), col(keyCol)),
      deltaCol = tokensCol,
      chunk = expr("__u DIV 65536"),
      idxOut = "src_rank",
      sumOut = "src_cum_tokens")
      .withColumn("keep", (col("src_cum_tokens") <= maxTokens).cast("long"))
      .select(col(keyCol), col(sourceCol), col(tokensCol),
        col("src_rank"), col("src_cum_tokens"), col("keep"))
  }

  private def dsirRatiosFromFeatures(
      fb: DataFrame,
      strataCol: String,
      targetValue: String,
      buckets: Int): DataFrame = {
    // raw and target bucket counts in ONE pass over the feature bag (the
    // target count is a conditional sum keyed off the stratum column —
    // identical integers to the filtered second aggregation it replaces,
    // at one corpus-bag scan instead of two); every bucket any document
    // hits is present (raw counts span the whole corpus), and Laplace +1
    // smooths the target-unseen buckets
    dsirRatiosFromBucketCounts(
      fb.groupBy("__b").agg(
        count(lit(1)).as("__cr"),
        sum(when(col(strataCol) === targetValue, 1L).otherwise(0L)).as("__ct")),
      buckets)
  }

  /** The closing Laplace-smoothed log-ratio select of
    * [[dsirRatiosFromFeatures]], over an already-aggregated (__b, __cr,
    * __ct) bucket-count frame — shared by the instance-bag path and
    * [[dsirLedger]]'s grouped-counts path (identical integers either way).
    */
  private def dsirRatiosFromBucketCounts(byB: DataFrame, buckets: Int): DataFrame = {
    val tots = byB.agg(sum("__ct").as("__nt"), sum("__cr").as("__nr"))
    byB
      .crossJoin(broadcast(tots))
      .select(
        col("__b"),
        (graft.functions.MathLn(
          (coalesce(col("__ct"), lit(0L)) + 1L).cast("double") /
            (coalesce(col("__nt"), lit(0L)) + buckets).cast("double"))
          - graft.functions.MathLn(
            (col("__cr") + 1L).cast("double") /
              (col("__nr") + buckets).cast("double"))).as("__lw"))
  }
}
