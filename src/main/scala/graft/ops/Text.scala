package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines:
  * tokenization, shingling, quality metrics, corpus-trained language ID and
  * content fingerprinting over the `documents` table.
  *
  * All column-level and codegen-friendly (no UDFs); hash primitives are
  * md5/sha2 so the DuckDB oracle reproduces them byte-for-byte. At 100 TB the
  * token explode is a flatMap inside one stage (no shuffle); only the
  * per-doc / per-corpus aggregations shuffle.
  */
object Text {

  /** Whitespace tokenization of single-spaced text. */
  def tokens(c: Column): Column = split(trim(c), " ")

  /** k-word shingles: `concat_ws(' ', toks[i..i+k−1])` for `i` in
    * `sequence(0, n − k)`, in one native pass ([[graft.functions.Shingles]]).
    * NOT empty when fewer than k tokens: the sequence then descends and
    * yields `|n − k| + 1` partial shingles (one token, k = 2 → `[t0, t0]`),
    * so callers that want none guard with `size(toks) >= k`.
    */
  def shingles(toks: Column, k: Int): Column = graft.functions.Shingles(toks, k)

  /** Spread docs across all cores before CPU-bound per-doc work — see
    * [[Spread.byKey]] (no-op when the input is already well-partitioned).
    */
  private def spread(df: DataFrame, idCol: String): DataFrame =
    Spread.byKey(df, col(idCol))

  /** (id, sk) rows: per-doc-distinct 64-bit shingle KEYS of the docs with
    * at least k tokens — the unit of Jaccard math, for consumers that only
    * need the equality relation (inverted-index joins): one native pass
    * hashes each k-token window in place ([[graft.functions.ShingleKeys]]),
    * never building the shingle strings [[shingles]] returns. Same 64-bit
    * collision contract as hashing the strings (`DedupTextSpec` checks the
    * equality relation against the string shingle set).
    */
  def shingleKeySet(df: DataFrame, idCol: String, textCol: String, k: Int): DataFrame =
    spread(df, idCol)
      .filter(size(tokens(col(textCol))) >= k)
      .select(
        col(idCol),
        explode(array_distinct(
          graft.functions.ShingleKeys(tokens(col(textCol)), k))).as("sk"))

  /** (id, token) rows with multiplicity — the token bag. */
  def tokenBag(df: DataFrame, idCol: String, textCol: String): DataFrame =
    spread(df, idCol)
      .select(col(idCol), explode(tokens(col(textCol))).as("token"))

  /** (id, token) rows, one per distinct token per doc. */
  def tokenSet(df: DataFrame, idCol: String, textCol: String): DataFrame =
    spread(df, idCol)
      .select(col(idCol), explode(array_distinct(tokens(col(textCol)))).as("token"))

  /** Content fingerprint: md5 of whitespace-normalized lowercase text. */
  def fingerprint(c: Column): Column =
    md5(lower(regexp_replace(trim(c), "\\s+", " ")))

  /** Corpus-trained language ID by integer voting: the top-`topK` most
    * frequent tokens per language form its profile (ties broken by token
    * string); a document's score per language is how many of its tokens,
    * with multiplicity, are in that profile; prediction is argmax with
    * min-language tie-break. Integer arithmetic end to end, so the DuckDB
    * oracle matches exactly. Profile and scoring are two shuffles; the
    * profile side is tiny and broadcasts.
    */
  def languageId(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      langCol: String,
      topK: Int): DataFrame =
    languageIdFrom(languageScores(docs, idCol, textCol, langCol, topK), idCol)

  private def languageIdFrom(scores: DataFrame, idCol: String): DataFrame =
    scores
      .withColumn(
        "rn",
        row_number().over(
          Window.partitionBy(col(idCol)).orderBy(col("score").desc, col("profile_lang"))))
      .filter(col("rn") === 1)
      .select(col(idCol), col("profile_lang").as("pred_lang"), col("score"))

  /** The raw (id, profile_lang, score) frame behind [[languageId]] —
    * exposed for consumers that need the full score matrix (per-language
    * ranking metrics, calibration) rather than only the argmax. Docs with
    * zero profile-token hits for a language have no row for it.
    */
  def languageScores(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      langCol: String,
      topK: Int): DataFrame =
    languageScoresTok(docs, idCol, tokens(col(textCol)), langCol, topK)

  private def languageScoresTok(
      docs: DataFrame,
      idCol: String,
      toks: Column,
      langCol: String,
      topK: Int): DataFrame = {
    val tok = spread(docs, idCol)
      .select(col(idCol), col(langCol), explode(toks).as("token"))
    tok
      .join(broadcast(profileTable(tok, langCol, topK)), Seq("token"))
      .groupBy(col(idCol), col("profile_lang"))
      .agg(count(lit(1)).as("score"))
  }

  /** [[languageScores]] routed against a PRE-FITTED collected profile
    * table (the serve half of the fit/route split — fit once per dataset
    * via [[languageProfiles]], memoize, serve every consumer): the scoring
    * join and integer counts are identical to the inline form because the
    * rebuilt (profile_lang, token) local relation carries the exact rows
    * the inline fit broadcasts — strings, no float surface at all.
    */
  def languageScoresWith(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      profiles: Seq[(String, Seq[String])]): DataFrame = {
    val tok = spread(docs, idCol)
      .select(col(idCol), explode(tokens(col(textCol))).as("token"))
    tok
      .join(broadcast(profileFrame(docs.sparkSession, profiles)), Seq("token"))
      .groupBy(col(idCol), col("profile_lang"))
      .agg(count(lit(1)).as("score"))
  }

  /** Oracle twin of [[languageScoresWith]] serving the [[languageProfiles]]
    * fit of `documents` (`lang` labels, `topK` tokens each), refitted
    * inline: CTE chain ending in `sc(doc_id, profile_lang, score)`.
    */
  def languageScoresSql(topK: Int): String =
    s"""tok AS (SELECT doc_id, lang, unnest(string_split(trim(text), ' ')) AS token FROM documents),
        cnts AS (SELECT lang, token, count(*) AS cnt FROM tok GROUP BY 1, 2),
        prof AS (SELECT lang AS profile_lang, token FROM
                  (SELECT lang, token,
                     row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, token) AS rnk
                   FROM cnts) WHERE rnk <= $topK),
        sc AS (SELECT t.doc_id, p.profile_lang, CAST(count(*) AS BIGINT) AS score
               FROM tok t JOIN prof p ON t.token = p.token GROUP BY 1, 2)"""

  /** Oracle twin of [[languageIdWith]]: [[languageScoresSql]] plus
    * `lid(doc_id, pred_lang, score)`, the top profile per doc (score desc,
    * profile_lang asc).
    */
  def languageIdSql(topK: Int): String =
    s"""${languageScoresSql(topK)},
        lid AS (SELECT doc_id, profile_lang AS pred_lang, score FROM
                 (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, profile_lang) AS rn
                  FROM sc) WHERE rn = 1)"""

  /** [[languageId]] routed against a PRE-FITTED collected profile table. */
  def languageIdWith(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      profiles: Seq[(String, Seq[String])]): DataFrame =
    languageIdFrom(languageScoresWith(docs, idCol, textCol, profiles), idCol)

  /** The (profile_lang, token) routing frame rebuilt from a collected
    * [[languageProfiles]] table.
    */
  def profileFrame(
      spark: org.apache.spark.sql.SparkSession,
      profiles: Seq[(String, Seq[String])]): DataFrame = {
    import spark.implicits._
    profiles.flatMap { case (l, ts) => ts.map(t => (l, t)) }
      .toDF("profile_lang", "token")
  }

  /** The fitted (profile_lang, token) table behind [[languageScores]]:
    * each language's `topK` most frequent tokens (count desc, token asc
    * tie-break), from an exploded (lang, token) frame.
    */
  private def profileTable(tok: DataFrame, langCol: String, topK: Int): DataFrame =
    tok
      .groupBy(col(langCol).as("profile_lang"), col("token"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn(
        "rnk",
        row_number().over(
          Window.partitionBy(col("profile_lang")).orderBy(col("cnt").desc, col("token"))))
      .filter(col("rnk") <= topK)
      .select("profile_lang", "token")

  /** [[profileTable]] fitted from a corpus and COLLECTED to the driver —
    * the batch half of the fit/route split ([[curationGates]] routes
    * against it; same pattern as `IvfQuantizer.routingTable` and the
    * DSIR log-ratio table): languages sorted ascending, each profile a
    * token list. Sub-linear by construction (|langs| · topK rows).
    */
  def languageProfiles(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      langCol: String,
      topK: Int): Seq[(String, Seq[String])] = {
    val tok = spread(docs, idCol)
      .select(col(idCol), col(langCol), explode(tokens(col(textCol))).as("token"))
    profileTable(tok, langCol, topK)
      .collect()
      .map(r => (r.getString(0), r.getString(1)))
      .groupBy(_._1)
      .map { case (l, rows) => (l, rows.map(_._2).toSeq.sorted) }
      .toSeq
      .sortBy(_._1)
  }

  /** Stopword list shared by the quality score (both engines). */
  val qualityStops: Seq[String] = Seq("the", "a", "of", "to", "in")

  /** T2 quality score: per doc, (n_tokens, distinct_ratio, stop_ratio,
    * quality_score = distinct_ratio · (1 − stop_ratio)). THE single
    * definition — `t2_quality_score`, `d8_dedup_keep` and
    * `curriculum_bins` all consume this operator and [[qualitySql]], so
    * the score cannot silently fork between queries (six hand-synced
    * copies previously had to stay expression-identical for the oracle
    * gate).
    */
  def qualityScore(df: DataFrame, idCol: String, textCol: String): DataFrame =
    qualityScoreTok(df, idCol, tokens(col(textCol)))

  private def qualityScoreTok(df: DataFrame, idCol: String, toks: Column): DataFrame =
    qualityAgg(df.select(col(idCol), explode(toks).as("token")), idCol)

  private def qualityAgg(tok: DataFrame, idCol: String): DataFrame = {
    val g = tok.groupBy(col(idCol)).agg(
      count(lit(1)).as("n_tokens"),
      countDistinct(col("token")).as("n_distinct"),
      sum(when(col("token").isin(qualityStops: _*), 1).otherwise(0)).as("n_stop"))
    val dr = col("n_distinct").cast("double") / col("n_tokens").cast("double")
    val sr = col("n_stop").cast("double") / col("n_tokens").cast("double")
    g.select(
      col(idCol),
      col("n_tokens"),
      dr.as("distinct_ratio"),
      sr.as("stop_ratio"),
      (dr * (lit(1.0) - sr)).as("quality_score"))
  }

  /** Oracle twin of [[qualityScore]]: CTE chain ending in
    * `qual(doc_id, n_tokens, distinct_ratio, stop_ratio, quality_score)`.
    */
  def qualitySql(table: String = "documents"): String = {
    val stops = qualityStops.map(s => s"'$s'").mkString(",")
    s"""qtok AS (SELECT doc_id, unnest(string_split(trim(text), ' ')) AS token FROM $table),
        qg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
                 CAST(count(DISTINCT token) AS BIGINT) AS n_distinct,
                 CAST(sum(CASE WHEN token IN ($stops) THEN 1 ELSE 0 END) AS BIGINT) AS n_stop
               FROM qtok GROUP BY 1),
        qual AS (SELECT doc_id, n_tokens,
                 CAST(n_distinct AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS distinct_ratio,
                 CAST(n_stop AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS stop_ratio,
                 (CAST(n_distinct AS DOUBLE) / CAST(n_tokens AS DOUBLE))
                 * (CAST(1.0 AS DOUBLE) - CAST(n_stop AS DOUBLE) / CAST(n_tokens AS DOUBLE)) AS quality_score
               FROM qg)"""
  }

  /** Self-repetition score — the Gopher-class quality signal: the fraction
    * of a doc's k-grams that are repeats (1 − distinct/total). Boilerplate,
    * keyboard-mash and template spam score high; natural prose scores near
    * zero. Array-local: the gram count and distinct count come off the
    * shingle array without an explode, so this is a pure projection.
    */
  def repetitionScore(df: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    // gram KEYS, not gram strings: dup_frac only needs the equality
    // relation, and the native [[graft.functions.ShingleKeys]] pass (which
    // returns an empty array for sub-k docs) measured 8× faster than the
    // interpreted string-shingle lambda here
    val keys = graft.functions.ShingleKeys(tokens(col(textCol)), k)
    df.select(
      col(idCol),
      size(tokens(col(textCol))).cast("long").as("n_tokens"),
      size(keys).cast("long").as("n_grams"),
      size(array_distinct(keys)).cast("long").as("n_distinct_grams"))
      .withColumn(
        "dup_frac",
        when(col("n_grams") <= 0, lit(0.0)).otherwise(
          lit(1.0) - col("n_distinct_grams").cast("double") / col("n_grams").cast("double")))
  }

  /** Top-n-gram concentration — the OTHER Gopher repetition signal,
    * complementing [[repetitionScore]]'s duplicate fraction: the share of a
    * doc's k-gram occurrences taken by its single most frequent k-gram
    * (`max count / total grams`). A doc stuck in a loop ("buy now buy now
    * buy now …") has a LOW dup-distinct signal contribution per gram but a
    * near-1 top-gram share; natural prose sits near 1/n_grams. Gopher cuts
    * docs where the top 2-gram exceeds 0.20 of the text.
    *
    * Works on gram KEYS ([[graft.functions.ShingleKeys]]) — only the
    * equality relation matters for counting, same 64-bit collision contract
    * as [[shingleKeySet]]. Scale shape: one explode + (id, gram) hash agg +
    * per-id max/sum; the first groupBy's partial aggregation collapses
    * doc-local gram repeats before its exchange (explode keeps a doc's
    * grams in one partition), so the shuffle carries ≤ distinct grams per
    * doc. Docs with fewer than k tokens emit no row.
    */
  def topGramShare(df: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    val toks = tokens(col(textCol))
    spread(df, idCol)
      .filter(size(toks) >= k)
      .select(col(idCol), explode(graft.functions.ShingleKeys(toks, k)).as("__gk"))
      .groupBy(col(idCol), col("__gk"))
      .agg(count(lit(1)).as("__c"))
      .groupBy(col(idCol))
      .agg(
        sum(col("__c")).cast("long").as("n_grams"),
        max(col("__c")).cast("long").as("top_gram_count"))
      .withColumn(
        "top_gram_share",
        col("top_gram_count").cast("double") / col("n_grams").cast("double"))
  }

  /** Unigram language-model scoring — the CCNet/Wikipedia-LM class of
    * quality filter: fit a unigram LM on the corpus itself (token counts /
    * total tokens), then score each doc by its mean token log-probability.
    * Low scores mark out-of-distribution docs (mojibake, foreign-language
    * leakage, keyboard mash); unusually HIGH scores mark degenerate
    * all-stopword text — production filters cut both tails.
    *
    * Scale shape: the LM fit is one groupBy over the token bag (map-side
    * combine shrinks it to the vocabulary, which is sub-linear in corpus
    * size); scoring is one join token→count. The vocab is BROADCAST by
    * default — the fitted frame has no stats, so the planner otherwise
    * picks a sort-merge join that shuffles the entire token bag on string
    * keys (measured 2× the whole operator's runtime at 300k docs / 18M
    * tokens); with the broadcast the bag never shuffles for the join, and
    * the final per-doc agg's PARTIAL aggregation collapses doc-local rows
    * before its exchange (explode keeps a doc's tokens in one partition).
    * `broadcastVocab = false` for the regime where a web corpus's long
    * tail outgrows a broadcast — results are bit-identical either way.
    * The grand-total is a 1-row frame cross-joined (broadcast) — never a
    * driver collect.
    *
    * Determinism: `p = count/total` is a BIGINT→double division (correctly
    * rounded, identical both engines), `ln` is [[graft.functions.MathLn]]
    * (platform libm, matches DuckDB — Spark's builtin goes through
    * StrictMath, 1 ulp off), and the per-doc sum is [[Exact.dsumTrunc9]]
    * (order-independent; scale 9 because |ln p| ≤ ~ln(total) ≈ 30 and
    * scale-4 noise would rival the score's spread).
    */
  def unigramLogProb(
      df: DataFrame,
      idCol: String,
      textCol: String,
      broadcastVocab: Boolean = true): DataFrame = {
    val toks = tokenBag(df, idCol, textCol)
    val vocab = toks.groupBy("token").agg(count(lit(1)).as("__c"))
    val total = vocab.agg(sum("__c").as("__t"))
    // score per vocab TYPE, not per occurrence: the MathLn runs |vocab|
    // times on the sub-linear fitted table instead of once per corpus
    // token — the per-token value is the identical double either way
    // (same BIGINT→double division), so the hash contract is untouched
    val scored = vocab.crossJoin(broadcast(total))
      .select(
        col("token"),
        graft.functions.MathLn(col("__c").cast("double") / col("__t").cast("double"))
          .as("__lp"))
    toks.join(if (broadcastVocab) broadcast(scored) else scored, "token")
      .groupBy(idCol)
      .agg(
        count(lit(1)).as("n_tokens"),
        (Exact.dsumTrunc9(col("__lp")) / count(lit(1)).cast("double")).as("avg_logprob"))
  }

  /** Oracle twin of [[unigramLogProb]] over `documents`: CTEs `tok`,
    * `vocab`, `tot`, `lp` and `ulp(doc_id, n_tokens, avg_logprob)`.
    */
  val unigramLogProbSql: String =
    s"""tok AS (SELECT doc_id, unnest(string_split(trim(text), ' ')) AS token
               FROM documents),
        vocab AS (SELECT token, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY 1),
        tot AS (SELECT CAST(sum(c) AS BIGINT) AS t FROM vocab),
        lp AS (SELECT tok.doc_id,
                 ln(CAST(v.c AS DOUBLE) / CAST(tot.t AS DOUBLE)) AS lp
               FROM tok JOIN vocab v ON v.token = tok.token CROSS JOIN tot),
        ulp AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
                  ${Exact.sqlDsumTrunc9("lp")} / CAST(count(*) AS DOUBLE) AS avg_logprob
                FROM lp GROUP BY 1)"""

  /** Corpus-trained BIGRAM LM fluency score — [[unigramLogProb]]'s
    * sequential big sibling: per doc, the mean `ln P(wᵢ | wᵢ₋₁)` over its
    * ordered bigrams, with MLE conditionals `c(w₁w₂)/c(w₁·)` estimated
    * from the corpus's own bigram bag (prefix counts are the bigram bag
    * re-grouped by first word, so conditionals sum to 1 per history and
    * every doc bigram exists in the table — no backoff mass needed).
    * Unigram logprob scores vocabulary typicality; this scores SEQUENCE
    * typicality (shuffled or boilerplate-stitched text keeps its unigram
    * score but craters here). Docs with fewer than 2 tokens emit no row.
    *
    * Scale shape: same as unigram — the fitted tables are sub-linear in
    * corpus size and the planner has NO stats on them (fresh aggregates),
    * so they broadcast explicitly; the bigram bag itself never shuffles
    * for the joins. The bigram vocab grows faster than the unigram one,
    * so the `broadcastVocab = false` shuffle-join regime arrives earlier —
    * results are bit-identical either way. Probed at the cliff (BASELINE.md
    * round-6: 300k docs / 17.5M distinct bigrams, a near-unique-pair
    * stress corpus): the two regimes are comparable there, but the
    * broadcast side carries the unstable tail (a GB-scale broadcast built
    * under memory pressure ran 2-3× its own best) — beyond ~10M vocab
    * entries, or with tight driver memory, pass `false`.
    *
    * Determinism: identical recipe to [[unigramLogProb]] — BIGINT→double
    * conditional, [[graft.functions.MathLn]], per-doc [[Exact.dsumTrunc9]]
    * term sum, one closing division.
    */
  def bigramLogProb(
      df: DataFrame,
      idCol: String,
      textCol: String,
      broadcastVocab: Boolean = true): DataFrame = {
    val toks = tokens(col(textCol))
    val bg = spread(df, idCol)
      .filter(size(toks) >= 2)
      .select(col(idCol), explode(shingles(toks, 2)).as("bigram"))
    val bgCounts = bg.groupBy("bigram").agg(count(lit(1)).as("__cb"))
    // prefix counts are the bigram table RE-GROUPED by first word — never
    // a second scan of the corpus bag (c(w1·) = Σ_w2 c(w1 w2) exactly);
    // and the MathLn conditional is scored once per DISTINCT bigram on
    // the sub-linear fitted table, not once per corpus occurrence — the
    // per-occurrence double is identical, so the hash contract holds.
    // The corpus bag is touched exactly twice: the count agg and the
    // final scoring join.
    val scored = bgCounts
      .withColumn("w1", substring_index(col("bigram"), " ", 1))
      .withColumn("__cp", sum(col("__cb")).over(Window.partitionBy(col("w1"))))
      .select(
        col("bigram"),
        graft.functions.MathLn(col("__cb").cast("double") / col("__cp").cast("double"))
          .as("__lp"))
    bg.join(if (broadcastVocab) broadcast(scored) else scored, "bigram")
      .groupBy(idCol)
      .agg(
        count(lit(1)).as("n_bigrams"),
        (Exact.dsumTrunc9(col("__lp")) / count(lit(1)).cast("double")).as("avg_logprob"))
  }

  /** Byte-pair-encoding merge learning — the tokenizer-fit step of an LLM
    * data pipeline: `rounds` greedy merge rules over the corpus, each round
    * picking the most frequent adjacent symbol pair (ties: lexicographically
    * smallest pair string) and merging it everywhere before recounting.
    * Returns one row per learned rule: (merge_rank, pair, merged,
    * pair_count).
    *
    * Runs on the word-TYPE histogram, as real BPE trainers do: pair
    * statistics over (type, freq) are identical to statistics over the
    * token bag, and the vocabulary is sub-linear in corpus size — the 100
    * TB corpus is scanned ONCE (the word groupBy); every merge round then
    * touches only the vocab table. The per-round argmax is a one-row
    * driver collect (a plan-time scalar of the fit loop, same cost class
    * as [[Dedup.connectedComponents]]' convergence probe and the
    * k-means fit in `ml/IvfQuantizer`).
    *
    * Cross-engine exactness: the symbol state is a single-spaced string;
    * merge application uses LITERAL left-to-right non-overlapping replace
    * (Spark's `replace` and DuckDB's `replace` agree) on the doubled-space
    * form — ' l  r ' occurrences in ' ' + sym.replace(" ", "  ") + ' ' —
    * which makes consecutive overlapping pairs ("a a a") merge greedily
    * left-to-right exactly as BPE defines; integer counts and binary
    * string tie-breaks end to end, so the unrolled-CTE DuckDB oracle is
    * bit-exact.
    *
    * Round-count contract: EACH round is one driver-coordinated Spark job
    * (vocab-table aggregation + a one-row collect), so `rounds` is bounded
    * by job-launch overhead, not data size — this operator is for SMALL
    * learned vocabularies and merge-rule audits (tens to hundreds of
    * rounds); training a full 32k-merge tokenizer vocabulary (32k
    * sequential jobs) is out of contract.
    */
  def bpeMerges(df: DataFrame, textCol: String, rounds: Int): DataFrame =
    bpeMergesDf(df.sparkSession, bpeMergeRules(df, textCol, rounds))

  /** [[bpeMerges]]' rule table rebuilt from an already-learned rule list —
    * the serve half of the fit/serve split (the learned list is bounded by
    * `rounds`, so it is [[graft.ops.Fits]]-memoizable per dataset; the
    * t18/t19/t24 family shares ONE fit that way).
    */
  def bpeMergesDf(
      spark: org.apache.spark.sql.SparkSession,
      rules: Seq[(Long, String, String, Long)]): DataFrame = {
    import spark.implicits._
    rules.toDF("merge_rank", "pair", "merged", "pair_count")
  }

  /** The fit loop of [[bpeMerges]], returning the learned rules as plain
    * driver data (merge_rank, pair, merged, pair_count) — the collected
    * fitted table consumers memoize and serve from.
    */
  def bpeMergeRules(
      df: DataFrame,
      textCol: String,
      rounds: Int): Seq[(Long, String, String, Long)] = {
    require(rounds > 0, "bpeMerges needs at least one round")
    import org.apache.spark.sql.functions.{replace => sreplace}
    val vocab = df.select(explode(tokens(col(textCol))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq"))
    var state = Caches.trackPersist(vocab.select(
      trim(regexp_replace(col("word"), "(.)", "$1 ")).as("sym"), col("freq")))
    val learned = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, Long)]
    var r = 1
    var exhausted = false
    while (r <= rounds && !exhausted) {
      val toks = split(col("sym"), " ")
      val top = state
        .filter(size(toks) >= 2) // shingles() needs the guard (one token gives [t0, t0])
        .select(explode(shingles(toks, 2)).as("pair"), col("freq"))
        .groupBy("pair").agg(sum(col("freq")).as("cnt"))
        .orderBy(col("cnt").desc, col("pair"))
        .limit(1)
        .collect()
      if (top.isEmpty) exhausted = true
      else {
        val pair = top(0).getString(0)
        val cnt = top(0).getLong(1)
        val merged = pair.replace(" ", "")
        learned += ((r.toLong, pair, merged, cnt))
        val doubled = concat(lit(" "), sreplace(col("sym"), lit(" "), lit("  ")), lit(" "))
        val applied = sreplace(
          doubled,
          lit(" " + pair.replace(" ", "  ") + " "),
          lit(" " + merged + " "))
        state = Caches.trackPersist(
          state.select(trim(sreplace(applied, lit("  "), lit(" "))).as("sym"), col("freq")))
      }
      r += 1
    }
    learned.toSeq
  }

  /** BPE ENCODE — [[bpeMerges]]' transform step, closing the tokenizer
    * fit→apply loop (the m4 scaler pattern): fit `rounds` merge rules on
    * the corpus, apply them to every document, and report the token-budget
    * numbers a training pipeline actually consumes — symbol count under
    * the learned tokenizer and chars-per-token compression.
    *
    * Application is a PURE PROJECTION: each doc becomes a symbol string
    * (characters interspersed with spaces; words joined by a ' | ' guard
    * symbol that no learned rule can ever match across, since rules are
    * fitted on word-internal adjacencies), then the merge rules apply in
    * rank order via the same doubled-space literal-replace recipe as the
    * fit — one codegen'd expression chain, no shuffle, ingest-line-rate at
    * 100 TB. The fitted rules are a collected plan-time table (six rows).
    */
  def bpeEncode(
      df: DataFrame,
      idCol: String,
      textCol: String,
      rounds: Int,
      carry: Seq[String] = Nil): DataFrame =
    bpeEncodeWith(
      df, idCol, textCol,
      bpeMergeRules(df, textCol, rounds).sortBy(_._1).map(r => (r._2, r._3)),
      carry)

  /** [[bpeEncode]]'s apply step over an already-learned, rank-ordered rule
    * list — lets fit-memoizing callers encode without re-running the fit.
    */
  def bpeEncodeWith(
      df: DataFrame,
      idCol: String,
      textCol: String,
      rules: Seq[(String, String)],
      carry: Seq[String] = Nil): DataFrame = {
    import org.apache.spark.sql.functions.{replace => sreplace}
    val toks = tokens(col(textCol))
    val sym0 = concat_ws(" | ",
      transform(toks, w => trim(regexp_replace(w, lit("(.)"), lit("$1 ")))))
    val symFinal = rules.foldLeft(sym0) { case (s, (pair, merged)) =>
      val doubled = concat(lit(" "), sreplace(s, lit(" "), lit("  ")), lit(" "))
      val applied = sreplace(
        doubled,
        lit(" " + pair.replace(" ", "  ") + " "),
        lit(" " + merged + " "))
      trim(sreplace(applied, lit("  "), lit(" ")))
    }
    val nWords = size(toks).cast("long")
    val nTokens = (size(split(symFinal, " ")).cast("long") - (nWords - 1L)).as("n_bpe_tokens")
    df.select(
      (col(idCol) +: carry.map(col)) ++ Seq(
        length(sreplace(col(textCol), lit(" "), lit(""))).cast("long").as("n_chars"),
        nWords.as("n_words"),
        nTokens): _*)
      .withColumn(
        "chars_per_token",
        col("n_chars").cast("double") / col("n_bpe_tokens").cast("double"))
  }

  /** WITHIN-document repetition metrics — the Gopher repetition quality
    * rules (Rae et al. 2021 §A1.1, the filter family every modern pipeline
    * applies before training), in token-gram form: per document,
    * `top2gram_share` = the share of the doc's bigram slots taken by its
    * single most frequent bigram (boilerplate/chant detector — a doc that
    * is one phrase over and over scores → 1), and `dup3gram_frac` = the
    * fraction of trigram occurrences whose trigram appears ≥ 2× in the
    * SAME doc (internal copy-paste detector). Both are pure integer-count
    * ratios, so the row set is engine-exact; `flagged` applies the
    * literal thresholds (top2gram_share > 0.2 OR dup3gram_frac > 0.15 —
    * Gopher's 0.20/0.15 tier for this gram range). These are WITHIN-doc
    * rules: corpus-level repetition is `t17_topgram_share`'s job, and
    * cross-doc duplication is the dedup family's.
    *
    * Docs with fewer than 3 tokens emit no row (no trigram support — the
    * same short-doc contract as `bigramLogProb`).
    *
    * Scale shape: per-doc gram bags explode statelessly; the counts are
    * two (id, gram)-keyed aggregations with map-side combine and two
    * doc-keyed roll-ups — output is doc-sized, no fitted state, no join
    * against anything corpus-wide.
    */
  def gopherRepetition(df: DataFrame, idCol: String, textCol: String): DataFrame =
    gopherRepetitionTok(df, idCol, tokens(col(textCol)))

  private def gopherRepetitionTok(df: DataFrame, idCol: String, toksC: Column): DataFrame = {
    val base = spread(df, idCol).filter(size(toksC) >= 3)
    // gram KEYS, not gram strings (the repetitionScore / sharedSpans
    // move): the counts only need the equality relation, and the native
    // ShingleKeys pass shuffles 8-byte longs instead of k-word strings —
    // measured 39.4 -> ~7 cpu-s at sf0.1 on the string form. A 64-bit
    // collision would need to land inside ONE doc's gram bag to perturb a
    // count (odds ~g²/2⁶⁵ per doc); the string-keyed oracle hash-matching
    // at every sf is the standing evidence none has fired.
    val bg = base.select(col(idCol), explode(graft.functions.ShingleKeys(toksC, 2)).as("__g"))
      .groupBy(col(idCol), col("__g")).agg(count(lit(1)).as("__c"))
      .groupBy(idCol)
      .agg(sum("__c").as("n_bigrams"), max("__c").as("top_bigram_count"))
    val tg = base.select(col(idCol), explode(graft.functions.ShingleKeys(toksC, 3)).as("__g"))
      .groupBy(col(idCol), col("__g")).agg(count(lit(1)).as("__c"))
      .groupBy(idCol)
      .agg(
        sum("__c").as("n_trigrams"),
        sum(when(col("__c") >= 2, col("__c")).otherwise(0L)).as("dup_trigram_occ"))
    bg.join(tg, Seq(idCol))
      .select(
        col(idCol),
        col("n_bigrams").cast("long").as("n_bigrams"),
        col("top_bigram_count").cast("long").as("top_bigram_count"),
        col("n_trigrams").cast("long").as("n_trigrams"),
        col("dup_trigram_occ").cast("long").as("dup_trigram_occ"))
      .withColumn(
        "top2gram_share",
        col("top_bigram_count").cast("double") / col("n_bigrams").cast("double"))
      .withColumn(
        "dup3gram_frac",
        col("dup_trigram_occ").cast("double") / col("n_trigrams").cast("double"))
      .withColumn(
        "flagged",
        (col("top2gram_share") > 0.2 || col("dup3gram_frac") > 0.15).cast("long"))
  }

  /** The curation GATES as one STATELESS projection — the ingest-time
    * form of the `cur_funnel` stage prefix (fit batch, route stream: the
    * same split as `IvfQuantizer.routingTable` → `routeVector` and
    * the DSIR log-ratio table). Per row, array-locally (no explode, no
    * groupBy, no state — legal in a streaming SELECT):
    *
    *   - `pred_lang`: the [[languageId]] vote against PRE-FITTED broadcast
    *     profiles ([[languageProfiles]]) — multiplicity counts via a
    *     membership scan, argmax with (score desc, lang asc) tie-break,
    *     NULL when no profile token hits (exactly the batch abstention);
    *   - `n_tokens`/`quality_score`/`quality_ok`: [[qualityScore]]'s
    *     integers and IEEE dag, computed from array_distinct/filter
    *     instead of the groupBy — bit-identical values;
    *   - `rep_flagged`: [[gopherRepetition]]'s 0.2/0.15 flag tier from
    *     array-local gram counts; NULL for docs under 3 tokens (the batch
    *     op emits no row — a funnel treats NULL as fail-closed).
    *
    * Batch parity is spec-pinned per field. Scale contract: the gram
    * counting is O(tokens · distinct-grams) PER DOC (array-local, not
    * hash-agg) — right for ingest-gating bounded-length documents; for
    * offline scoring of very long docs the exploded batch operators are
    * the right tool.
    */
  def curationGates(
      df: DataFrame,
      idCol: String,
      textCol: String,
      profiles: Seq[(String, Seq[String])],
      qualityMin: Double,
      carryCols: Seq[String] = Nil): DataFrame = {
    require(profiles.nonEmpty, "need at least one language profile")
    // the token, bigram and trigram arrays are projected ONCE per doc: a
    // higher-order lambda gets no common-subexpression elimination, so a
    // lambda that named the computed array would re-derive it per element
    val toks = col("__toks")
    val bg = col("__bg")
    val tg = col("__tg")
    val entries = profiles.map { case (l, prof) =>
      struct(
        (-size(filter(toks, t => array_contains(typedLit(prof), t)))).as("ns"),
        lit(l).as("lang"))
    }
    val predLang =
      array_min(filter(array(entries: _*), e => e.getField("ns") < 0)).getField("lang")
    val nTok = size(toks).cast("long")
    val nDist = size(array_distinct(toks)).cast("long")
    val nStop = size(filter(toks, t => array_contains(typedLit(qualityStops), t))).cast("long")
    val dr = nDist.cast("double") / nTok.cast("double")
    val sr = nStop.cast("double") / nTok.cast("double")
    val qScore = dr * (lit(1.0) - sr)
    def gramCounts(grams: Column): Column =
      transform(array_distinct(grams), g => size(filter(grams, x => x === g)).cast("long"))
    val topb = array_max(gramCounts(bg))
    val dupt = aggregate(
      gramCounts(tg), lit(0L), (acc, c) => acc + when(c >= 2L, c).otherwise(0L))
    val flagged = when(nTok >= 3,
      ((topb.cast("double") / size(bg).cast("double") > lit(0.2)) ||
        (dupt.cast("double") / size(tg).cast("double") > lit(0.15))).cast("long"))
    df.select(col("*"), tokens(col(textCol)).as("__toks"))
      .select(col("*"), shingles(toks, 2).as("__bg"), shingles(toks, 3).as("__tg"))
      .select(
        col(idCol) +: carryCols.map(col) ++: Seq(
          predLang.as("pred_lang"),
          nTok.as("n_tokens"),
          qScore.as("quality_score"),
          (qScore >= lit(qualityMin)).as("quality_ok"),
          flagged.as("rep_flagged")): _*)
  }

  /** Per-group tokenizer FERTILITY audit over [[bpeEncode]] — the standard
    * multilingual tokenizer-equity table (XLM-R / NLLB style): per group
    * (typically language), BPE tokens per word (`fertility` — how many
    * subwords the tokenizer splits an average word into; a high-fertility
    * language pays more sequence length for the same text) and characters
    * per BPE token (`chars_per_token` — the compression view of the same
    * inequity). A tokenizer fitted on a skewed corpus shows it here first.
    *
    * Determinism: the per-doc counts are integral, the group sums are
    * integral, and the two closing divisions are single exact double ops —
    * the whole table is engine-exact. Scale shape: [[bpeEncode]]'s encode
    * is a stateless projection under broadcast-folded rules; the audit
    * adds ONE aggregation with map-side partial combine into
    * #groups rows. `grpCol` rides through the encode projection (the
    * `carry` hook) — no self-join back onto the corpus.
    */
  def bpeFertility(
      df: DataFrame,
      idCol: String,
      textCol: String,
      grpCol: String,
      rounds: Int): DataFrame =
    bpeFertilityWith(
      df, idCol, textCol, grpCol,
      bpeMergeRules(df, textCol, rounds).sortBy(_._1).map(r => (r._2, r._3)))

  /** [[bpeFertility]] over an already-learned rule list (fit-memoizing
    * callers).
    */
  def bpeFertilityWith(
      df: DataFrame,
      idCol: String,
      textCol: String,
      grpCol: String,
      rules: Seq[(String, String)]): DataFrame =
    bpeEncodeWith(df, idCol, textCol, rules, carry = Seq(grpCol))
      .groupBy(grpCol)
      .agg(
        count(lit(1)).as("n_docs"),
        sum("n_chars").as("n_chars"),
        sum("n_words").as("n_words"),
        sum("n_bpe_tokens").as("n_bpe_tokens"))
      .withColumn(
        "fertility",
        col("n_bpe_tokens").cast("double") / col("n_words").cast("double"))
      .withColumn(
        "chars_per_token",
        col("n_chars").cast("double") / col("n_bpe_tokens").cast("double"))

  /** Sequence packing — assign documents to fixed-capacity token packs
    * (context windows), the concat-and-chunk layout LLM training shards
    * use: within each shard, docs are laid end-to-end in id order and a
    * doc belongs to the pack where it STARTS (`pack_offset` = its position
    * in that pack; a doc may spill into the next pack, which is exactly
    * what the training-time chunker does with the concatenated stream).
    *
    * Scale shape: packing is PER SHARD (`shard = id % nShards`) — the
    * cumulative sum is a window per shard, never a global single-partition
    * scan; this mirrors production packing, where each writer packs its
    * own shard independently. All arithmetic integral.
    */
  def packSequences(
      df: DataFrame,
      idCol: String,
      textCol: String,
      capacity: Int,
      nShards: Int): DataFrame = {
    require(capacity > 0 && nShards > 0, "capacity and nShards must be positive")
    val w = Window.partitionBy(col("shard")).orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    df.select(
      col(idCol),
      pmod(col(idCol), lit(nShards)).cast("long").as("shard"),
      size(tokens(col(textCol))).cast("long").as("n_tokens"))
      .withColumn("__cb", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .withColumn("pack_id", expr(s"__cb DIV $capacity"))
      .withColumn("pack_offset", col("__cb") % capacity)
      .drop("__cb")
  }

  /** RAG-style overlapping chunking — split each document into fixed-size
    * token windows at stride `strideTokens` (overlap = chunk − stride),
    * the retrieval-index segmentation every RAG/embedding pipeline runs
    * ahead of encoding. Chunk i covers tokens [i·stride, i·stride+chunk);
    * the doc yields `1 + ceil(max(0, n − chunk) / stride)` chunks, so the
    * LAST chunk is the first one whose end reaches the doc end — no
    * trailing chunk that is a pure suffix of its predecessor (every chunk
    * past the first contributes ≥1 new token). A doc shorter than one
    * chunk yields exactly its own text.
    *
    * Output: (id, chunk_id, start_tok, n_chunk_tokens, chunk_text) —
    * chunk_id is the 0-based ordinal, start_tok its token offset, and
    * n_chunk_tokens the actual (end-clamped) token count.
    *
    * Scale shape: tokenize + explode + slice is one codegen'd stage — no
    * shuffle, no state; output rows ≈ n_tokens/stride per doc. All
    * arithmetic integral (counts, offsets, integer ceil-div).
    */
  def chunkOverlap(
      df: DataFrame,
      idCol: String,
      textCol: String,
      chunkTokens: Int,
      strideTokens: Int): DataFrame = {
    require(chunkTokens > 0 && strideTokens > 0 && strideTokens <= chunkTokens,
      "need 0 < strideTokens <= chunkTokens")
    val toks = tokens(col(textCol))
    spread(df, idCol)
      .select(col(idCol), toks.as("__toks"), size(toks).cast("long").as("__n"))
      .withColumn(
        "__nchunks",
        expr(s"1L + (greatest(__n - $chunkTokens, 0L) + ${strideTokens - 1}) DIV $strideTokens"))
      .select(
        col(idCol), col("__toks"), col("__n"),
        explode(sequence(lit(0L), col("__nchunks") - 1L)).as("chunk_id"))
      .withColumn("start_tok", col("chunk_id") * strideTokens)
      .select(
        col(idCol),
        col("chunk_id"),
        col("start_tok"),
        least(lit(chunkTokens.toLong), col("__n") - col("start_tok")).as("n_chunk_tokens"),
        array_join(
          slice(col("__toks"), (col("start_tok") + 1L).cast("int"), lit(chunkTokens)),
          " ").as("chunk_text"))
  }

  /** PII-scrub-shaped redaction: apply `rules` (regex → replacement) to
    * `textCol` IN ORDER, and count how many spans each rule matches in the
    * ORIGINAL text (counts are pre-replacement, so a replacement string can
    * never inflate a later rule's count; replacements still compose
    * sequentially, the scrub-pipeline convention).
    *
    * Scale shape: a pure projection — regexp_replace/regexp_extract_all are
    * codegen'd row-local work, no shuffle, which is exactly why regex
    * scrubbing is the one pipeline stage that runs at ingest line rate on
    * 100 TB. Patterns must be RE2-compatible (no backrefs/lookaround) so the
    * DuckDB oracle executes them identically to the JVM. Replacements are
    * LITERAL text: the Spark side escapes Java's `$`/`\` group-reference
    * metacharacters (`Matcher.quoteReplacement`), so a replacement like
    * "costs $2" neither throws nor splices a capture group — oracle
    * authors must equally avoid RE2 `\\1` references in replacements.
    */
  def redact(
      df: DataFrame,
      idCol: String,
      textCol: String,
      rules: Seq[(String, String)]): DataFrame = {
    require(rules.nonEmpty, "redact needs at least one (pattern, replacement) rule")
    val nMasked = rules
      .map { case (pat, _) => size(regexp_extract_all(col(textCol), lit(pat), lit(0))) }
      .reduce(_ + _)
      .cast("long")
    val scrubbed = rules.foldLeft(col(textCol)) { case (c, (pat, rep)) =>
      regexp_replace(c, pat, java.util.regex.Matcher.quoteReplacement(rep))
    }
    df.select(col(idCol), nMasked.as("n_masked"), scrubbed.as("text_redacted"))
  }

  /** BM25 relevance of every document against a fixed query-term set —
    * corpus-level text retrieval scoring (idf from the corpus, tf and
    * length normalization per doc):
    *
    *   score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b + b·dl/avgdl)),
    *   idf(t) = ln((N − df + 0.5)/(df + 0.5) + 1)   (always-positive form)
    *
    * Scale shape: one token explode + per-doc hash agg (tf per term + doc
    * length), then ONE corpus stat row (N, Σdl, per-term df) broadcast back
    * — the corpus is scanned twice and never shuffled by token. The term
    * list is plan-time (columns, not rows), right for query scoring; an
    * all-terms tf-idf MATRIX would instead group by (doc, token).
    *
    * Float determinism (oracle contract): per-term contributions are summed
    * in the FIXED left-associated term order, all literals are double-cast,
    * and `ln` itself was verified bit-identical between the JVM and DuckDB
    * over the full relevant input range (both correctly rounded) — so the
    * score hash-matches, no quantization needed. tf = 0 contributes an
    * exact 0.0 in both engines.
    */
  def bm25(
      df: DataFrame,
      idCol: String,
      textCol: String,
      terms: Seq[String],
      k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty, "bm25 needs at least one query term")
    val tok = spread(df, idCol)
      .select(col(idCol), explode(tokens(col(textCol))).as("token"))
    val tfAggs = terms.zipWithIndex.map { case (t, i) =>
      sum(when(col("token") === t, 1L).otherwise(0L)).as(s"__tf_$i")
    }
    val g = tok.groupBy(col(idCol))
      .agg(count(lit(1)).as("dl"), tfAggs: _*)
    val dfAggs = terms.indices.map(i =>
      sum(when(col(s"__tf_$i") > 0, 1L).otherwise(0L)).as(s"__df_$i"))
    val stats = g.agg(count(lit(1)).as("__n"), (sum(col("dl")).as("__sdl") +: dfAggs): _*)
    val nD = col("__n").cast("double")
    val avgdl = col("__sdl").cast("double") / nD
    def contrib(i: Int): Column = {
      val tf = col(s"__tf_$i").cast("double")
      val dfT = col(s"__df_$i").cast("double")
      // NOT functions.log: Spark's builtin goes through StrictMath.log
      // (fdlibm), one ulp off the platform/DuckDB correctly-rounded log on
      // some inputs — see [[graft.functions.MathLn]]
      val idf = graft.functions.MathLn((nD - dfT + lit(0.5)) / (dfT + lit(0.5)) + lit(1.0))
      idf * ((tf * lit(k1 + 1.0)) /
        (tf + lit(k1) * (lit(1.0 - b) + lit(b) * (col("dl").cast("double") / avgdl))))
    }
    val score = terms.indices.map(contrib).reduce(_ + _)
    // persisted: g feeds the corpus-stats aggregation AND the final
    // projection — otherwise the token explode + hash agg run twice
    val gc = Caches.trackPersist(g)
    gc.crossJoin(broadcast(stats))
      .select(col(idCol), col("dl"), score.as("bm25_score"))
  }

  /** Zipf rank-frequency fit: the OLS slope/intercept of ln(freq) on
    * ln(rank) over the corpus vocabulary — the one-number corpus-health
    * readout (natural text sits near slope −1; boilerplate floods and
    * template spam flatten the head, OCR noise fattens the tail).
    *
    * Determinism: ranks and counts are exact integers under a total order
    * (count desc, token asc); both engines take correctly-rounded ln of
    * IDENTICAL integers ([[graft.functions.MathLn]] — never the builtin
    * StrictMath log), the per-row products are single IEEE ops, the four
    * moment sums go through [[Exact.dsumTrunc9]] (order-independent), and
    * the closing slope/intercept arithmetic is one fixed expression tree.
    *
    * Scale shape: the token count is ONE map-side-combined groupBy; the
    * global rank is computed WITHOUT a single-partition window — ranks =
    * (types with a greater count) + (row_number among my count's ties):
    * the only unpartitioned window runs over DISTINCT COUNT VALUES
    * (O(√corpus) rows by Zipf itself), and the tie-break window is
    * partitioned by count, so every stage stays parallel at any vocabulary
    * size. The closing OLS is one scalar aggregation.
    */
  def zipfFit(df: DataFrame, textCol: String): DataFrame = {
    val tc = df.select(explode(tokens(col(textCol))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("cnt"))
    // exact global rank in two parallel pieces: distinct-count cumulative
    // offsets (tiny frame) + per-count tie ranks (partitioned window)
    val offsets = tc.groupBy("cnt").agg(count(lit(1)).as("m"))
      .withColumn(
        "before",
        coalesce(
          sum("m").over(
            Window.orderBy(col("cnt").desc)
              .rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
      .select("cnt", "before")
    val ranked = tc
      .join(broadcast(offsets), "cnt")
      .withColumn(
        "rank",
        col("before") + row_number().over(
          Window.partitionBy("cnt").orderBy("token")).cast("long"))
    val x = graft.functions.MathLn(col("rank").cast("double"))
    val y = graft.functions.MathLn(col("cnt").cast("double"))
    val sums = ranked
      .select(
        x.as("x"), y.as("y"),
        (x * y).as("xy"), (x * x).as("xx"))
      .agg(
        count(lit(1)).as("n_types"),
        Exact.dsumTrunc9(col("x")).as("sx"),
        Exact.dsumTrunc9(col("y")).as("sy"),
        Exact.dsumTrunc9(col("xy")).as("sxy"),
        Exact.dsumTrunc9(col("xx")).as("sxx"))
    val n = col("n_types").cast("double")
    val slope = (n * col("sxy") - col("sx") * col("sy")) /
      (n * col("sxx") - col("sx") * col("sx"))
    sums.select(
      col("n_types"),
      slope.as("zipf_slope"),
      ((col("sy") - slope * col("sx")) / n).as("zipf_intercept"))
  }

  /** Pointwise mutual information of adjacent token pairs — the collocation
    * miner (phrase detection à la word2vec's phrase pass): bigrams whose
    * joint frequency beats the independence prediction of their unigram
    * frequencies. `pmi = ln(c_xy/Nb) − ln(c_x/Nu) − ln(c_y/Nu)` over counts
    * from one corpus pass; `minCount` floors c_xy (PMI's low-count bias is
    * notorious), and the emitted top-`k` carries the total
    * `(pmi desc, w1, w2)` tie-break order every ranked output here does.
    *
    * Determinism: every count is an exact BIGINT; each division is a single
    * IEEE op on two exactly-representable integers; each log is
    * [[graft.functions.MathLn]] (libm parity with DuckDB); the three-term
    * combination is one fixed left-assoc dag. No overflow regime: the
    * integer products a single-ln form would need (`c_xy·Nu²`) are avoided
    * entirely, so the op survives any corpus size int64 counts survive.
    *
    * Scale shape: one explode pass builds the bigram bag; bigram counts are
    * ONE map-side-combined groupBy (the only corpus-sized shuffle); unigram
    * counts and the two scalar totals are sub-linear (vocabulary-sized /
    * one-row) and broadcast — the planner sees no stats on aggregated
    * frames and would otherwise shuffle-join (the `unigramLogProb` lesson).
    * The closing top-k is a TakeOrderedAndProject over the bigram-type
    * frame: partial per-partition heaps, no global sort.
    */
  def pmiCollocations(
      df: DataFrame,
      textCol: String,
      minCount: Int,
      k: Int): DataFrame = {
    val toks = tokens(col(textCol))
    val bg = df
      .filter(size(toks) >= 2)
      .select(explode(shingles(toks, 2)).as("bigram"))
      .select(
        substring_index(col("bigram"), " ", 1).as("w1"),
        substring_index(col("bigram"), " ", -1).as("w2"))
    val uni = df.select(explode(toks).as("w"))
    // NOTE (r14 bench): persisting these two count tables was tried and
    // LOST (t22 wall 3.6 → 4.2 s at sf0.1) — the per-branch recompute is a
    // cheap codegen explode+agg while the persist adds two blocking
    // materialization jobs + columnar encode of vocab-sized frames (the
    // standing never-persist-cheap-projections lesson, re-measured here)
    val bgCounts = bg.groupBy("w1", "w2").agg(count(lit(1)).as("c_xy"))
    val uniCounts = uni.groupBy("w").agg(count(lit(1)).as("c_w"))
    // the two scalar totals are plain instance counts — Σc_xy over the
    // bigram table is Σ(len−1) over docs with ≥2 tokens and Σc_w is
    // Σlen, so ONE scan-side aggregate replaces two full explode+groupBy
    // pipelines (guide §2.3 — aggregate before you shuffle; the sums are
    // the identical BIGINTs, including the both-NULL empty-corpus case:
    // sum skips the under-2-token rows the bigram bag never emits)
    val totals = df.agg(
      sum(when(size(toks) >= 2, (size(toks) - 1).cast("long"))).as("__nb"),
      sum(size(toks).cast("long")).as("__nu"))
    val ln = graft.functions.MathLn
    bgCounts
      .filter(col("c_xy") >= minCount)
      .join(broadcast(uniCounts.withColumnRenamed("w", "w1").withColumnRenamed("c_w", "c_x")), "w1")
      .join(broadcast(uniCounts.withColumnRenamed("w", "w2").withColumnRenamed("c_w", "c_y")), "w2")
      .crossJoin(broadcast(totals))
      .select(
        col("w1"), col("w2"), col("c_xy"), col("c_x"), col("c_y"),
        (ln(col("c_xy").cast("double") / col("__nb").cast("double")) -
          ln(col("c_x").cast("double") / col("__nu").cast("double")) -
          ln(col("c_y").cast("double") / col("__nu").cast("double"))).as("pmi"))
      .orderBy(col("pmi").desc, col("w1"), col("w2"))
      .limit(k)
  }
}
