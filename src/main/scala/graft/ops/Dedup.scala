package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators: exact, n-gram Jaccard, MinHash+LSH and SimHash —
  * the dedup family a 100 TB training-data pipeline needs.
  *
  * Scale design: nothing here ever compares all pairs. Exact dedup is one
  * hash-groupBy; Jaccard joins only docs sharing a shingle; MinHash/LSH joins
  * only docs sharing a band bucket. The hash primitive is md5 (byte-stable
  * across engines): each shingle is digested ONCE and the `nHashes` min-wise
  * permutations derive arithmetically from its two 64-bit halves
  * (h1 + j·h2 mod 2⁶⁴ — Kirsch–Mitzenmacher), which the DuckDB oracle
  * reproduces exactly via md5_number_lower/upper — no engine-specific
  * murmur involved, and 1/nHashes of the digest work of seeded re-hashing.
  */
object Dedup {

  /** Exact dedup groups: fingerprint → group size + kept (minimum) id. */
  def exactGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    exactGroupsFromFp(
      df.select(col(idCol), Text.fingerprint(col(textCol)).as("fp")), idCol, "fp")

  /** [[exactGroups]] over a frame that already carries the fingerprint —
    * for pipelines that hash the corpus once and feed several stages from
    * the shared projection (the `cur_funnel` shape).
    */
  def exactGroupsFromFp(df: DataFrame, idCol: String, fpCol: String): DataFrame =
    df.groupBy(col(fpCol).as("fp"))
      .agg(count(lit(1)).as("n_docs"), min(col(idCol)).as("keeper_id"))

  /** Pairwise Jaccard over k-shingle sets, restricted to pairs sharing at
    * least one shingle (inverted-index join — never all pairs). Emits
    * a_id < b_id with shared/na/nb counts and the jaccard ratio.
    *
    * Scale note: a PPJoin-style prefix filter (join only each doc's
    * n − ⌈t·n⌉ + 1 rarest shingles, verify candidates exactly) was
    * measured here and LOST (16.5s vs 6.2s at sf0.1): on a corpus with a
    * near-uniform shingle frequency distribution the prefix prunes weakly
    * and the exact-verification join re-explodes every candidate pair.
    * The single inverted-index join + count groupBy keeps all pair weight
    * inside one shuffle. For genuinely large corpora the scale path is
    * MinHash+LSH ([[lshCandidates]]); this operator is the exact baseline.
    *
    * The exact baseline's failure mode is a corpus-HOT shingle: df docs
    * sharing one shingle contribute ~df²/2 join pairs (measured: a
    * 300k-doc corpus with one df=60k boilerplate shingle ran the join past
    * 10 minutes). `maxShingleDf` bounds it the same way [[sharedSpans]]'s
    * gram cap does — shingles above the doc-frequency cap are dropped from
    * EVERY set before sizes and intersections, so the reported jaccard is
    * exact over the capped shingle universe (a consistent, documented
    * semantics: boilerplate shingles carry no similarity signal anyway).
    * Default keeps the uncapped exact semantics.
    */
  def jaccardPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int,
      minJaccard: Double,
      maxShingleDf: Int = Int.MaxValue): DataFrame =
    sharedShingles(df, idCol, textCol, k, maxShingleDf)
      .withColumn(
        "jaccard",
        col("shared").cast("double") / (col("na") + col("nb") - col("shared")).cast("double"))
      .filter(col("jaccard") >= minJaccard)
      .select("a_id", "b_id", "shared", "na", "nb", "jaccard")

  /** Containment near-dup pairs — the ASYMMETRIC companion of
    * [[jaccardPairs]]: containment(A⊆B) = |sh(A) ∩ sh(B)| / |sh(A)|.
    * Jaccard misses the doc-inside-doc case (a tweet quoted inside a long
    * article has Jaccard ≈ |A|/|B| ≈ 0 but containment(A) = 1), which is
    * the dominant duplication mode for quoted/boilerplate-wrapped web text;
    * production pipelines (CCNet-class) filter on max(cont_a, cont_b).
    *
    * Same inverted-index shape and df-cap scale story as [[jaccardPairs]]:
    * one shingle-key equi-join bounded by `maxShingleDf`, one pair groupBy,
    * two broadcast-size joins for set sizes. Returns (a_id, b_id, shared,
    * na, nb, cont_a, cont_b) for pairs where max(cont_a, cont_b) ≥
    * `minContainment`; integer counts + two closing divisions, so the
    * DuckDB oracle is exact.
    */
  def containmentPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int,
      minContainment: Double,
      maxShingleDf: Int = Int.MaxValue): DataFrame =
    sharedShingles(df, idCol, textCol, k, maxShingleDf)
      .withColumn("cont_a", col("shared").cast("double") / col("na").cast("double"))
      .withColumn("cont_b", col("shared").cast("double") / col("nb").cast("double"))
      .filter(greatest(col("cont_a"), col("cont_b")) >= minContainment)
      .select("a_id", "b_id", "shared", "na", "nb", "cont_a", "cont_b")

  /** The inverted-index pair count of [[jaccardPairs]] and
    * [[containmentPairs]]: (a_id < b_id, shared, na, nb) for every pair
    * of docs sharing a k-shingle, with shingles above the `maxShingleDf`
    * doc-frequency cap dropped from every set before sizes and
    * intersections.
    */
  private def sharedShingles(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int,
      maxShingleDf: Int): DataFrame = {
    // 64-bit shingle KEYS, hashed natively in place (ShingleKeys codegen —
    // the composed string-building form was the measured bottleneck of the
    // whole scan): the inverted-index shuffle carries 8-byte keys instead
    // of ~25-byte strings. The hash is internal — results depend only on
    // the equality relation, and a corpus-level 64-bit collision (~1e-6 at
    // millions of shingles) is the accepted trade. Persisted because it
    // feeds three plan branches.
    val allSh = Text.shingleKeySet(df, idCol, textCol, k)
    // NOTE (r15 bench): persisting this pre-partitioned on sk (the
    // g2_triangles self-join move) was tried and LOST — the self-join here
    // plans as a BROADCAST hash join (zero shuffle; broadcast bytes don't
    // appear as exchanges), so the repartition added a full bag exchange
    // for nothing (d2 shuffle 1.7 → 37.6 MB, cpu 13.8 → 24.2). The
    // co-partition move only pays when the self-join actually exchanges
    val sh = Caches.trackPersist(
      if (maxShingleDf == Int.MaxValue) allSh
      else {
        val base = Caches.trackPersist(allSh)
        val hot = base.groupBy(col("sk"))
          .agg(count(lit(1)).as("__df")) // shingleKeySet is per-doc distinct
          .filter(col("__df") > maxShingleDf)
          .select("sk")
        base.join(broadcast(hot), Seq("sk"), "left_anti")
      })
    val sizes = sh.groupBy(col(idCol)).agg(count(lit(1)).as("n_sh"))
    sh.as("a")
      .join(sh.as("b"), col("a.sk") === col("b.sk") && col(s"a.$idCol") < col(s"b.$idCol"))
      .groupBy(col(s"a.$idCol").as("a_id"), col(s"b.$idCol").as("b_id"))
      .agg(count(lit(1)).as("shared"))
      .join(sizes.withColumnRenamed(idCol, "a_id").withColumnRenamed("n_sh", "na"), "a_id")
      .join(sizes.withColumnRenamed(idCol, "b_id").withColumnRenamed("n_sh", "nb"), "b_id")
  }

  /** MinHash signature via double hashing: ONE md5 per shingle, split into
    * two little-endian 64-bit halves (h1 = digest bytes 8..15, h2 = bytes
    * 0..7 — DuckDB's md5_number_lower/upper), permutation j = h1 + j·h2
    * (mod 2⁶⁴), minimum per j rendered as a zero-padded 20-digit unsigned
    * decimal. One row per id with columns mh_0 … mh_{n-1}, computed in one
    * array-local pass per document by the native
    * [[graft.functions.MinHashSig]] expression — no explode, no shuffle;
    * docs with fewer than k tokens have no shingles and drop out.
    * `DedupTextSpec` keeps the exploded-rows formulation as its reference
    * and tests the two equal.
    */
  def minhashSignaturesLocal(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int,
      nHashes: Int): DataFrame = {
    val toks = Text.tokens(col(textCol))
    val sig = graft.functions.MinHashSig(array_distinct(Text.shingles(toks, k)), nHashes)
    Spread.byKey(df.filter(size(toks) >= k), col(idCol))
      .select(col(idCol) +: Seq(sig.as("__sig")): _*)
      .select(
        col(idCol) +:
          (0 until nHashes).map(j => element_at(col("__sig"), j + 1).as(s"mh_$j")): _*)
  }

  /** Signature-cluster membership: the input signature frame with one added
    * column `__rep` = the minimum id among all docs sharing the IDENTICAL
    * full signature (mh_0 … mh_{n−1}). The collapse step every banded
    * MinHash consumer must run FIRST at scale: an exact-dup / boilerplate
    * family of f documents shares every band, so banding raw docs hands the
    * band self-join f²/2 pairs per band (the same hot-key regime the
    * [[jaccardPairs]] df cap and [[simhashNearDups]]' fingerprint
    * pre-collapse exist for) — after the collapse the family enters the
    * band join as ONE representative row.
    *
    * Shape (default `viaGroupBy = false`): ONE window-min shuffle on the
    * signature, no join back — MEASURED against the groupBy+join-back
    * alternative (map-side-combined `groupBy(mh_*).agg(min)` + membership
    * join), which costs two extra corpus-wide shuffles/sorts on the wide
    * signature key and probed 3× slower end to end (`lshfam`, 150k docs:
    * 10.8 s window vs 30.0 s groupBy+join). The window's worst case is a
    * hot family's f member rows landing in ONE window partition — but
    * that is a LINEAR, spill-backed single-task scan (a straggler,
    * bounded by f·rowsize through one sorter), not a blowup, and it only
    * occurs on the pathological family while the groupBy+join alternative
    * taxes every corpus row always.
    *
    * `viaGroupBy = true` is the EXTREME-FAMILY escape: the rep table
    * comes from a map-side-combined groupBy (the hot family
    * partial-aggregates to one row per map task before the exchange — no
    * single task ever holds the family) and membership joins back on the
    * signature key, where AQE's skew-join split parallelizes the hot
    * signature. Same output, bit-identical (`DedupTextSpec` pins the
    * equivalence). MEASURED (r13 `lshfam`/`lshfamgb` probes, 3M docs with
    * a 10⁶-member identical family): window 134 s vs groupBy 413 s — the
    * window form's single-task family scan is STILL 3× cheaper than
    * taxing every corpus row with the wide-signature-key join, so the
    * default holds through 10⁶-member families; the escape is for the
    * 10⁷–10⁸ regime where one task's linear scan of the family exceeds
    * the job's straggler tolerance (its cost is family-size-flat by
    * construction, the window form's grows with f).
    */
  def sigClusterMembers(
      sig: DataFrame,
      idCol: String,
      nHashes: Int,
      viaGroupBy: Boolean = false): DataFrame = {
    val mhNames = (0 until nHashes).map(j => s"mh_$j")
    val mhCols = mhNames.map(col)
    if (!viaGroupBy)
      sig.withColumn("__rep", min(col(idCol)).over(Window.partitionBy(mhCols: _*)))
    else
      sig.join(sig.groupBy(mhCols: _*).agg(min(col(idCol)).as("__rep")), mhNames)
        .select(sig.columns.map(col) :+ col("__rep"): _*)
  }

  /** Banded LSH candidates between cluster REPRESENTATIVES only — the
    * collapsed pair relation ([[sigClusterMembers]] output in, one row per
    * candidate pair of DISTINCT signatures out): signatures are cut into
    * `nBands` bands of nHashes/nBands rows; a rep pair is a candidate iff
    * some band hashes equal; n_equal counts agreeing minhashes (the
    * unbiased Jaccard estimate, identical for every member pair across the
    * two clusters). Cluster-resolution consumers (d14-style dedup) feed
    * THIS relation plus the member→rep edges to the component stage —
    * never the expanded pair list — so candidate work stays linear in the
    * number of distinct signatures no matter how hot a duplicate family is.
    *
    * `members` is scanned from several plan branches — callers persist it
    * (as [[lshCandidates]] does) or pay the signature pipeline per branch.
    */
  def lshRepCandidates(
      members: DataFrame,
      idCol: String,
      nHashes: Int,
      nBands: Int): DataFrame = {
    require(nHashes % nBands == 0, "nHashes must divide into nBands")
    val rowsPerBand = nHashes / nBands
    val reps = members.filter(col(idCol) === col("__rep"))
    val banded = reps.select(
      col(idCol) +:
        (0 until nBands).map { b =>
          val cols = (0 until rowsPerBand).map(r => col(s"mh_${b * rowsPerBand + r}"))
          md5(concat(cols: _*)).as(s"band_$b")
        }: _*)
    val bandRows = banded.select(
      col(idCol),
      explode(array((0 until nBands).map(b =>
        struct(lit(b).as("band_idx"), col(s"band_$b").as("band_hash"))): _*)).as("bd"))
      .select(col(idCol), col("bd.band_idx"), col("bd.band_hash"))
    val cand = bandRows.as("a")
      .join(
        bandRows.as("b"),
        col("a.band_idx") === col("b.band_idx") &&
          col("a.band_hash") === col("b.band_hash") &&
          col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("a_id"), col(s"b.$idCol").as("b_id"))
      .distinct()
    val agree = (0 until nHashes)
      .map(j => when(col(s"sa.mh_$j") === col(s"sb.mh_$j"), 1).otherwise(0))
      .reduce(_ + _)
    cand
      .join(reps.as("sa"), col("a_id") === col(s"sa.$idCol"))
      .join(reps.as("sb"), col("b_id") === col(s"sb.$idCol"))
      .select(
        col("a_id"),
        col("b_id"),
        agree.cast("long").as("n_equal"),
        (agree.cast("double") / lit(nHashes.toDouble)).as("est_jaccard"))
  }

  /** LSH candidate pairs: signatures are cut into `nBands` bands of
    * `rowsPerBand`; a pair is a candidate iff some band hashes equal.
    * Returns distinct (a_id, b_id, n_equal, est_jaccard) where n_equal is
    * the number of agreeing minhashes (the unbiased Jaccard estimate).
    *
    * Scale shape: identical full signatures collapse FIRST
    * ([[sigClusterMembers]]) and only distinct-signature representatives
    * enter the band self-join ([[lshRepCandidates]]), so an f-doc exact-dup
    * family costs the JOIN one row instead of f²/2 pairs per band. The
    * full pair relation is then reconstituted output-bounded: same-cluster
    * pairs carry n_equal = nHashes (identical signatures agree everywhere),
    * cross-cluster pairs inherit their rep pair's agreement through the
    * membership map. The EXPANSION is inherently quadratic in family size
    * (it is the output contract — f identical docs ARE f²/2 Jaccard-1
    * pairs); consumers resolving clusters at corpus scale must compose
    * [[sigClusterMembers]] + [[lshRepCandidates]] directly and expand only
    * at the component stage, as `d14_lsh_dedup` does.
    */
  def lshCandidates(
      sig: DataFrame,
      idCol: String,
      nHashes: Int,
      nBands: Int): DataFrame = {
    require(nHashes % nBands == 0, "nHashes must divide into nBands")
    // membership feeds five plan branches (rep banding + agreement joins,
    // the within-cluster self-join, both cross-cluster expansions) —
    // persist or the shingle+md5+groupBy pipeline runs per branch
    val members = Caches.trackPersist(sigClusterMembers(sig, idCol, nHashes))
    val repPairs = lshRepCandidates(members, idCol, nHashes, nBands)
    val within = members.as("x")
      .join(
        members.as("y"),
        col("x.__rep") === col("y.__rep") && col(s"x.$idCol") < col(s"y.$idCol"))
      .select(
        col(s"x.$idCol").as("a_id"),
        col(s"y.$idCol").as("b_id"),
        lit(nHashes.toLong).as("n_equal"),
        lit(1.0d).as("est_jaccard"))
    val cross = repPairs
      .join(members.select(col(idCol).as("__ma"), col("__rep").as("a_id")), "a_id")
      .join(members.select(col(idCol).as("__mb"), col("__rep").as("b_id")), "b_id")
      .select(
        least(col("__ma"), col("__mb")).as("a_id"),
        greatest(col("__ma"), col("__mb")).as("b_id"),
        col("n_equal"),
        col("est_jaccard"))
    within.unionByName(cross)
  }

  /** Exact shared-substring spans between document pairs — the substring-
    * level dedup unit (train-data near-dup removal à la "Deduplicating
    * Training Data Makes Language Models Better": duplicated SPANS matter,
    * not just whole-document similarity). A span is a maximal run of ≥
    * `minSpanTokens` consecutive shared tokens, found as islands of
    * consecutive shared k-grams along each (pair, diagonal): positions
    * joining on gram equality land on diagonal a_pos − b_pos; consecutive
    * a_pos runs (a_pos − row_number constant) are the maximal spans, of
    * token length run + k − 1.
    *
    * Scale shape: like [[jaccardPairs]], the join is an inverted index on
    * the gram (never all pairs), and islands are one window over the
    * matched positions. The inverted index alone is NOT enough at scale: a
    * common natural-language k-gram appearing in f documents contributes
    * ~f² join rows that mostly verify to sub-threshold spans, so `maxGramDf`
    * caps gram document frequency — grams appearing in more than that many
    * documents are dropped (broadcast anti-join: the hot-gram list is the
    * Zipf head, tiny relative to the corpus) BEFORE the position join, which
    * bounds per-gram pair fan-out at maxGramDf²/2 and keeps total candidate
    * work linear in corpus size for fixed df distribution.
    *
    * Recall contract under the cap: reported spans are maximal runs of
    * consecutive shared SUB-CAP grams along a (pair, diagonal). A shared
    * region is detected iff it contains ≥ minSpanTokens − k + 1 consecutive
    * sub-cap shared grams; a hot gram inside a long duplicated region splits
    * it into fragments (each still reported if it meets the length bar) —
    * genuinely duplicated long spans are made of rare grams and survive,
    * while boilerplate made ONLY of corpus-hot grams is intentionally not
    * reported. Emits (a_id, b_id, a_start, b_start, span_len), positions
    * 0-based in tokens.
    */
  def sharedSpans(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int,
      minSpanTokens: Int,
      maxGramDf: Int = Int.MaxValue): DataFrame = {
    val toks = Text.tokens(col(textCol))
    // grams ride as 64-bit keys from the start, hashed NATIVELY in one
    // ShingleKeys pass (positional output, so posexplode yields (pos, key)
    // directly — no gram string is ever built): the join/groupBy shuffles
    // move 8-byte longs instead of k-word strings. A 64-bit collision (odds
    // ~m²/2⁶⁵ for m distinct grams) adds one spurious matched position; a
    // FALSE SPAN needs minSpanTokens − k + 1 consecutive collisions on one
    // diagonal — vanishing. The string-keyed oracle hash-matching at every
    // sf is the standing evidence no collision has fired.
    val allGrams = Spread.byKey(df.filter(size(toks) >= k), col(idCol))
      .select(
        col(idCol),
        posexplode(graft.functions.ShingleKeys(toks, k)).as(Seq("pos", "gram")))
    val grams =
      if (maxGramDf == Int.MaxValue) allGrams
      else {
        // persisted: feeds the df aggregation AND the anti-join input
        val g = Caches.trackPersist(allGrams)
        val hot = g.groupBy(col("gram"))
          .agg(countDistinct(col(idCol)).as("__df"))
          .filter(col("__df") > maxGramDf)
          .select("gram")
        g.join(broadcast(hot), Seq("gram"), "left_anti")
      }
    // NOTE (r15 bench): persisting this pre-partitioned on gram (the
    // g2_triangles self-join move) was tried and LOST (shuffle 12.6 →
    // 120 MB, wall 2.13 → 2.62 s) — the position self-join broadcasts one
    // side, so the repartition was a pure added exchange of the position
    // bag. Left unpersisted: each join side's anti-join over the cached g
    // is cheap
    val a = grams.select(col(idCol).as("a_id"), col("pos").as("a_pos"), col("gram"))
    val b = grams.select(col(idCol).as("b_id"), col("pos").as("b_pos"), col("gram"))
    val pairs = a.join(b, Seq("gram")).filter(col("a_id") < col("b_id"))
      .select("a_id", "b_id", "a_pos", "b_pos")
    val diag = col("a_pos") - col("b_pos")
    val w = Window.partitionBy(col("a_id"), col("b_id"), diag).orderBy(col("a_pos"))
    pairs.withColumn("__grp", col("a_pos") - row_number().over(w))
      .groupBy(col("a_id"), col("b_id"), diag.as("__diag"), col("__grp"))
      .agg(
        min(col("a_pos")).cast("long").as("a_start"),
        min(col("b_pos")).cast("long").as("b_start"),
        (count(lit(1)) + (k - 1)).as("span_len"))
      .filter(col("span_len") >= minSpanTokens)
      .select("a_id", "b_id", "a_start", "b_start", "span_len")
  }

  /** Benchmark decontamination check — the train-vs-eval overlap scan every
    * serious training pipeline runs before shipping data: for each TRAIN
    * document, count the k-gram shingles it shares with ANY benchmark
    * document (and how many benchmark docs it hits); `contaminated` flags
    * any overlap. Docs with zero overlap are kept in the output (left
    * join) — the decision table is the product, not just the hit list.
    *
    * Scale shape: benchmark suites are small by nature (thousands of docs
    * vs a 100 TB corpus), so by default the benchmark shingle set is
    * BROADCAST and the corpus streams through a map-side join — the corpus
    * is never shuffled. Shingles join on xxhash64 keys (8 bytes, same
    * contract as [[jaccardPairs]]).
    *
    * `broadcastBench = false` drops the hint for the regime where the
    * benchmark shingle set outgrows a broadcast (a forced broadcast there
    * would OOM the executors): the planner/AQE then picks the join — a
    * shuffle join once the bench side exceeds `autoBroadcastJoinThreshold`.
    * In that regime prefer [[bloomContaminationCheck]], which cuts the
    * SHUFFLED train side to the contaminated fringe first. Results are
    * bit-identical either way (join strategy never changes semantics).
    */
  def contaminationCheck(
      train: DataFrame,
      bench: DataFrame,
      idCol: String,
      textCol: String,
      k: Int,
      broadcastBench: Boolean = true): DataFrame =
    flagContaminated(train, Text.shingleKeySet(train, idCol, textCol, k),
      Text.shingleKeySet(bench, idCol, textCol, k).withColumnRenamed(idCol, "__bid"),
      idCol, broadcastBench)

  /** The hit table of the contamination checks: train shingle keys `tSh`
    * join the benchmark keys `bSh` on `sk` (the bench side broadcast
    * unless `broadcastBench = false`), `aggs` summarize each hit doc, and
    * every row of `docs` survives the left join — a doc with no hit
    * carries NULL aggregates for the caller to zero-fill.
    */
  private def benchHits(
      docs: DataFrame,
      tSh: DataFrame,
      bSh: DataFrame,
      idCol: String,
      broadcastBench: Boolean,
      aggs: Column*): DataFrame =
    docs.join(
      tSh.join(if (broadcastBench) broadcast(bSh) else bSh, "sk")
        .groupBy(col(idCol)).agg(aggs.head, aggs.tail: _*),
      Seq(idCol), "left")

  private def orZero(c: String): Column = coalesce(col(c), lit(0L))

  /** The binary table of [[contaminationCheck]] and
    * [[bloomContaminationCheck]] over train keys `tSh` and benchmark keys
    * `bSh(__bid, sk)`: (id, n_shared_grams, n_bench_docs, contaminated)
    * for every train doc, misses zero-filled.
    */
  private def flagContaminated(
      train: DataFrame,
      tSh: DataFrame,
      bSh: DataFrame,
      idCol: String,
      broadcastBench: Boolean): DataFrame =
    benchHits(train.select(col(idCol)), tSh, bSh, idCol, broadcastBench,
        countDistinct(col("sk")).as("n_shared_grams"),
        countDistinct(col("__bid")).as("n_bench_docs"))
      .select(
        col(idCol),
        orZero("n_shared_grams").as("n_shared_grams"),
        orZero("n_bench_docs").as("n_bench_docs"),
        (orZero("n_shared_grams") > 0).cast("long").as("contaminated"))

  /** Graded sibling of [[contaminationCheck]]: instead of a binary
    * contaminated flag, score each train doc by the FRACTION of its
    * distinct k-gram shingles that appear anywhere in the benchmark —
    * the overlap-threshold decontamination recipe (a doc sharing one
    * boilerplate gram with an eval suite is noise; a doc whose grams are
    * 80% benchmark content is a leaked answer key). Callers threshold
    * `overlap_frac` per policy.
    *
    * Universe note: docs with fewer than k tokens have no shingles and no
    * denominator — they are absent from the output by contract (the binary
    * [[contaminationCheck]] keeps them; a fraction cannot).
    *
    * Same scale shape as the binary check: benchmark side broadcast by
    * default, corpus never shuffles; `broadcastBench = false` for the
    * beyond-broadcast regime. The fraction is a BIGINT/BIGINT double
    * division — correctly rounded, engine-exact.
    */
  def overlapFraction(
      train: DataFrame,
      bench: DataFrame,
      idCol: String,
      textCol: String,
      k: Int,
      broadcastBench: Boolean = true): DataFrame = {
    val tSh = Text.shingleKeySet(train, idCol, textCol, k)
    val bSh = Text.shingleKeySet(bench, idCol, textCol, k).select(col("sk")).distinct()
    val tot = tSh.groupBy(col(idCol)).agg(count(lit(1)).as("n_grams"))
    benchHits(tot, tSh, bSh, idCol, broadcastBench, count(lit(1)).as("n_shared_grams"))
      .select(
        col(idCol),
        col("n_grams"),
        orZero("n_shared_grams").as("n_shared_grams"),
        (orZero("n_shared_grams").cast("double") /
          col("n_grams").cast("double")).as("overlap_frac"))
  }

  /** Connected components over a candidate-pair graph — the cluster-
    * resolution step of a dedup pipeline: pair emitters ([[jaccardPairs]],
    * [[lshCandidates]], [[embeddingNearDup]]) say "these two are dups";
    * this says "these N form one duplicate group", labelling every node
    * with the MINIMUM id reachable from it (a deterministic canonical
    * cluster id). Nodes not in any pair are absent — callers treat them
    * as singletons (left join + coalesce to own id).
    *
    * Algorithm: min-label propagation with pointer jumping. Each round
    * (a) pulls the min label across incident edges, (b) shortcuts
    * `comp ← comp(comp)` so label chains halve — convergence in
    * O(log diameter) rounds, not O(diameter); a 1M-node path converges in
    * ~20 rounds where pure propagation needs 1M. Labels decrease
    * monotonically, so convergence is detected when the exact decimal SUM
    * of labels stops changing (one scalar per round — no per-row diff
    * join). Each round is two shuffles over the EDGE list (the scale
    * budget: edges, not nodes², and dedup graphs are sparse — near-dup
    * pairs, not cliques).
    *
    * Lineage is truncated per round via eager `localCheckpoint` (blocks
    * stored on executors): without it the iterated plan nests one analysis
    * level per round and Catalyst re-derives the whole history each
    * action. On a cluster with dynamic allocation, swap for reliable
    * `checkpoint` — executor loss mid-fit otherwise recomputes from
    * nothing.
    */
  def connectedComponents(
      pairs: DataFrame,
      aCol: String,
      bCol: String,
      maxIters: Int = 50): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    // symmetric edge list pre-partitioned on dst: each round's min-pull
    // joins edges on dst, so the only edge-sized shuffle left per round is
    // the groupBy-src transpose
    val edges = Graph.symmetricEdges(pairs, aCol, bCol, "dst")
    // seed with round 1's propagation for free: label(v) = min(v, min
    // neighbor) straight off the grouped edge list — grouped by DST so the
    // seed groupBy reuses the cached dst-partitioning with no exchange;
    // the edge set is symmetric, so {(dst, min src)} ≡ {(src, min dst)}
    // row-for-row and every node appears. Tiny components (the common
    // dedup case: pairs/triples) then converge on the FIRST loop round
    var labels = edges.groupBy(col("dst").as("id"))
      .agg(min(col("src")).as("__m"))
      .select(col("id"), least(col("id"), col("__m")).as("comp"))
      .localCheckpoint()
    def labelSum(l: DataFrame): Option[java.math.BigDecimal] =
      Option(l.agg(sum(col("comp").cast(DecimalType(38, 0)))).collect()(0).getDecimal(0))
    var prev = labelSum(labels)
    var it = 0
    var converged = prev.isEmpty // empty graph: nothing to do
    while (it < maxIters && !converged) {
      // (a) min across incident edges: every id in `labels` occurs as a
      // src (edges are symmetric), so the joins below are inner-safe
      val nbr = edges.join(labels, labels("id") === edges("dst"))
        .select(edges("src").as("id"), labels("comp").as("c"))
        .groupBy("id").agg(min(col("c")).as("nbr"))
      val stepped = labels.join(nbr, Seq("id"))
        .select(col("id"), least(col("comp"), col("nbr")).as("comp"))
      // (b) pointer jump: comp ← comp(comp) (labels point at label-set
      // members, so the hop join is total)
      val hop = stepped.select(col("id").as("jid"), col("comp").as("jcomp"))
      labels = stepped.as("s").join(hop.as("h"), col("s.comp") === col("h.jid"))
        .select(col("s.id").as("id"), col("h.jcomp").as("comp"))
        .localCheckpoint()
      val cur = labelSum(labels)
      converged = cur == prev
      prev = cur
      it += 1
    }
    labels
  }

  /** Embedding-cosine near-duplicate pairs via MULTI-BAND sign-LSH:
    * `bands` independent hash tables, band ℓ bucketing on sign bits of
    * dimensions ℓ·bits+1 .. ℓ·bits+bits, with `bits` scaled to the corpus
    * ([[Vectors.adaptiveSignBits]]: expected occupancy ≤ `occupancy`).
    * Candidates = pairs agreeing in ANY band (recall grows with bands:
    * miss probability (1−p^bits)^bands for sign-agreement rate p), verified
    * with the exact decimal cosine ≥ `minCos`.
    *
    * Scale bound: per band, expected candidate pairs ≈ Σ_buckets occ²/2 ≤
    * n·occupancy/2, so total candidate work is ≤ bands·occupancy/2 × n —
    * LINEAR in corpus size for fixed occupancy (a fixed bit count degrades
    * to n²/2^bits). Requires bands·bits ≤ vector dims; skewed sign
    * distributions raise the constant but not the shape (pathological skew
    * → raise occupancy's band count or pre-center the vectors).
    */
  def embeddingNearDup(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      occupancy: Long,
      bands: Int,
      minCos: Double,
      n: Option[Long] = None): DataFrame = {
    // persisted: feeds the band-explode branch AND both candidate-
    // verification joins (three scans + two norm folds otherwise)
    val e = Caches.trackPersist(
      df.select(col(idCol), col(vecCol))
        .withColumn("__n2", Vectors.norm2Exact(col(vecCol))))
    // corpus size drives the adaptive bit count. Pass `n` from table
    // statistics/metadata at scale; when absent, counting the PERSISTED
    // frame doubles as its materialization — the scan warms the cache the
    // downstream branches reuse, so no extra cold pass over the corpus.
    val bits = Vectors.adaptiveSignBits(n.getOrElse(e.count()), occupancy)
    require(bands * bits <= 64, s"bands*bits = ${bands * bits} exceeds vector dims")
    val bandCols = (0 until bands).map { l =>
      struct(lit(l).as("band"), Vectors.signBucketSlice(col(vecCol), l * bits, bits).as("bucket"))
    }
    val rows = e.select(col(idCol), explode(array(bandCols: _*)).as("bb"))
      .select(col(idCol), col("bb.band"), col("bb.bucket"))
    val cand = rows.as("a")
      .join(
        rows.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("a_id"), col(s"b.$idCol").as("b_id"))
      .distinct()
    cand
      .join(e.select(col(idCol).as("a_id"), col(vecCol).as("__ae"), col("__n2").as("__an2")), "a_id")
      .join(e.select(col(idCol).as("b_id"), col(vecCol).as("__be"), col("__n2").as("__bn2")), "b_id")
      .withColumn("cos", Vectors.cosineFrom(Vectors.dotExact(col("__ae"), col("__be")), col("__an2"), col("__bn2")))
      .filter(col("cos") >= minCos)
      .select("a_id", "b_id", "cos")
  }

  /** SimHash over the distinct-token set: each token votes ±1 on `bits` bit
    * positions taken from the leading ⌈bits/4⌉ hex chars of its md5; the
    * fingerprint sets bit i iff the vote sum is positive. Integer
    * arithmetic only (bit extraction is BIGINT `DIV`, never a double
    * division — beyond 2^53 a double quotient would corrupt low bits).
    * Capped at 60 bits so the fingerprint stays a positive BIGINT in both
    * engines (DuckDB's `1 << 63` would overflow to negative).
    */
  def simhash(df: DataFrame, idCol: String, textCol: String, bits: Int = 16): DataFrame = {
    require(bits >= 1 && bits <= 60, "simhash bits must stay a positive BIGINT")
    val nChars = (bits + 3) / 4
    // leading hex chars of md5(token), parsed char-by-char with the same
    // instr arithmetic DuckDB's strpos reproduces (no engine-specific hash)
    val hexDigit = (p: Int) => s"(instr('0123456789abcdef', substr(md, $p, 1)) - 1)"
    // NOTE (r15 bench): hashing per DISTINCT token and broadcast-joining h
    // back (the t16 fitted-table move) was tried and REVERTED — a warm
    // restricted run showed d17 28 → 5.6 cpu-s, but both end-of-round FULL
    // runs showed the opposite: d4 wall 0.48 → 0.81 s / cpu 3.8 → 7-8 and
    // d17 wall 2.11 → 2.45 s with cpu only 28 → 22-26 (the extra distinct
    // + broadcast build stages cost more than the md5 they hoist at this
    // bag-to-vocab ratio; the restricted reading was first-in-JVM JIT
    // mirage — the standing cold-probe lesson). Inline per-bag-row hashing
    // stays; at a corpus where the bag/vocab ratio is large the hoist is
    // worth re-probing WITH a full-run measurement.
    val tok = Text.tokenSet(df, idCol, textCol).withColumn("md", md5(col("token")))
    val h = tok.withColumn(
      "h",
      expr((1 to nChars)
        .map(p => s"CAST(${hexDigit(p)} AS BIGINT) * ${1L << (4 * (nChars - p))}")
        .mkString(" + ")))
    val votes = (0 until bits).map { i =>
      sum((expr(s"h DIV ${1L << i}") % 2) * 2 - 1).as(s"s_$i")
    }
    val voted = h.groupBy(col(idCol)).agg(votes.head, votes.tail: _*)
    val fp = (0 until bits)
      .map(i => when(col(s"s_$i") > 0, lit(1L << i)).otherwise(lit(0L)))
      .reduce(_ + _)
    voted.select(col(idCol), fp.as("simhash"))
  }

  /** Manku-style SimHash near-duplicate detection (the WWW'07 web-crawl
    * dedup shape): a document is a near-dup iff some EARLIER document's
    * fingerprint lies within `maxHamming` bits of its own; the report is
    * per-document — `neardup_of` = the smallest such earlier id (NULL when
    * none), `is_neardup` ∈ {0,1} — so output stays LINEAR in the corpus
    * even when a fingerprint cluster has millions of members (a pair list
    * would be quadratic in cluster size; probed: the sf0.1 corpus has a
    * 1582-doc identical-fingerprint cluster).
    *
    * Candidate generation is the banded table-split: `bands` slices of
    * `bits/bands` fingerprint bits each; two fingerprints within
    * `maxHamming < bands` bits MUST agree on some whole band (pigeonhole),
    * so the band equi-join is EXACT — no recall loss, unlike MinHash LSH.
    *
    * Scale shape: identical fingerprints collapse FIRST (one groupBy), so
    * hot true-dup clusters enter the band join as a single row; the join
    * then runs between DISTINCT fingerprints over a 2^(bits/bands)-value
    * band space, and each surviving partner set closes to one `min` per
    * fingerprint before docs are re-joined (doc side shuffles once on the
    * fingerprint). With the 60/4 default each band carries 15 bits — at
    * corpora where distinct fingerprints approach 2^15 per band bucket,
    * raise `bits` (two md5 halves) before raising `bands`.
    */
  def simhashNearDups(
      df: DataFrame,
      idCol: String,
      textCol: String,
      bits: Int = 60,
      bands: Int = 4,
      maxHamming: Int = 3): DataFrame = {
    require(bands > maxHamming, "pigeonhole exactness needs maxHamming < bands")
    require(bits % bands == 0, "bands must slice the fingerprint evenly")
    val bandBits = bits / bands
    val sim = Caches.trackPersist(simhash(df, idCol, textCol, bits))
    val fps = Caches.trackPersist(
      sim.groupBy("simhash").agg(min(col(idCol)).as("fp_min")))
    val bandRows = fps.select(
      col("simhash"),
      col("fp_min"),
      explode(array((0 until bands).map { b =>
        struct(
          lit(b).as("band"),
          (shiftright(col("simhash"), b * bandBits) % lit(1L << bandBits)).as("bucket"))
      }: _*)).as("bb"))
      .select(col("simhash"), col("fp_min"), col("bb.band"), col("bb.bucket"))
    val partners = bandRows.as("a")
      .join(
        bandRows.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.simhash") =!= col("b.simhash"))
      .select(
        col("a.simhash").as("simhash"),
        col("b.simhash").as("g"),
        col("b.fp_min").as("g_min"))
      // no distinct: a pair matching in several bands reaches the min-
      // aggregate more than once, which cannot change MIN(g_min) — the
      // former distinct was a full extra exchange+sort of the candidate
      // set BEFORE the hamming filter had pruned it (guide §2.4: a
      // distinct on data whose consumer is duplicate-insensitive)
      .filter(bit_count(col("simhash").bitwiseXOR(col("g"))) <= maxHamming)
      .groupBy("simhash")
      .agg(min("g_min").as("partner_min"))
    sim.join(fps, "simhash")
      .join(partners, Seq("simhash"), "left")
      // least() skips NULL in both engines — here that IS the semantics
      // (min of the surviving earlier-candidate set, NULL when empty)
      .withColumn(
        "neardup_of",
        least(
          when(col("fp_min") < col(idCol), col("fp_min")),
          when(col("partner_min") < col(idCol), col("partner_min"))))
      .withColumn("is_neardup", col("neardup_of").isNotNull.cast("long"))
      .select(col(idCol), col("simhash"), col("neardup_of"), col("is_neardup"))
  }

  /** Token-block dedup profile (the fixed-width analog of CCNet's
    * paragraph-hash dedup, for corpora without paragraph structure): chop
    * each document into non-overlapping `blockTokens`-token blocks, find
    * blocks whose exact text recurs anywhere in the corpus, and report per
    * document how much of it is copied material. The canonical occurrence
    * of a block is the smallest (doc_id, pos) — everything else counts as
    * duplicated, so `dup_frac` is directly usable as a drop/trim signal.
    *
    * Scale shape: blocks explode in-stage off the scan (≤ tokens/blockTokens
    * rows per doc, no self-join), one groupBy on the block text to elect the
    * canonical occurrence, one co-partitioned join back, one groupBy doc.
    * Unlike shingles the blocks are non-overlapping, so total block rows =
    * corpus tokens / blockTokens — sub-linear in corpus bytes. Hot blocks
    * (boilerplate) cost one wide group each, never a pairwise join.
    */
  def tokenBlockStats(
      df: DataFrame,
      idCol: String,
      textCol: String,
      blockTokens: Int = 8): DataFrame = {
    // the token array is projected once, so the block lambda reads a
    // column instead of re-splitting the doc per block
    val toks = col("__toks")
    // complete blocks only; slice() is 1-based. sequence() needs the guard:
    // sequence(0, -1) yields [0, -1], not [] — docs shorter than one block
    // must not reach it
    val nb = floor(size(toks) / blockTokens).cast("int")
    val blocks = df
      .select(col(idCol), Text.tokens(col(textCol)).as("__toks"))
      .filter(size(toks) >= blockTokens)
      .select(
        col(idCol),
        explode(transform(
          sequence(lit(0), nb - 1),
          i => struct(
            i.cast("long").as("pos"),
            concat_ws(" ", slice(toks, i * blockTokens + 1, lit(blockTokens))).as("block"))))
          .as("bl"))
      .select(col(idCol), col("bl.pos").as("pos"), col("bl.block").as("block"))
      // total occurrence order without a composite struct-min: pos is
      // bounded by tokens/blockTokens ≪ 10^6
      .withColumn("__occ", col(idCol).cast("long") * 1000000L + col("pos"))
    val firsts = blocks.groupBy("block").agg(min(col("__occ")).as("__first"))
    blocks.join(firsts, "block")
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_blocks"),
        sum((col("__occ") =!= col("__first")).cast("long")).as("dup_blocks"))
      .withColumn("dup_frac", col("dup_blocks").cast("double") / col("n_blocks").cast("double"))
  }

  /** [[contaminationCheck]] behind a bloom prefilter: the benchmark's
    * shingle keys are compacted into an `mBits`-bit bloom filter (built as
    * bit-or-aggregated 64-bit words, shipped as ONE broadcast map row),
    * and every train shingle tests `kHash` bit probes against it BEFORE
    * any join. Survivors — the tiny contaminated fringe plus bloom false
    * positives — then exact-join the real benchmark key set, so the
    * RESULT is bit-identical to the unfiltered check (blooms have no
    * false negatives; false positives die in the verify join) and the
    * oracle stays the plain exact SQL.
    *
    * Why at 100 TB: d9 broadcasts the benchmark SHINGLE SET and hash-joins
    * every train shingle against it — correct, but the probe table is
    * n_bench_shingles × key entries and every train shingle pays a hash
    * lookup in it. The bloom is mBits/8 bytes TOTAL (2 MiB covers ~1.6M
    * benchmark shingles at <1% FP with kHash=3) and is probed with three
    * L2-resident bit tests. Measured at 300k docs / 1.6M bench 7-grams /
    * 1% contamination: 3.6 s vs 4.9 s warm for the exact broadcast join —
    * a constant-factor win while the bench set still broadcasts. The
    * structural win is past broadcast range: with `broadcastBench = false`
    * the verify join drops its broadcast hint, the planner shuffle-joins
    * fringe ⋈ bench — and the prefilter has already cut the shuffled train
    * side to the contaminated fringe (~1%) while the bloom itself stays one
    * broadcast row, so the shuffle is fringe-sized, not corpus-sized.
    * (`DedupTextSpec` pins bloom ≡ exact on the forced-shuffle path.)
    *
    * Probe arithmetic is pure integer: the 64-bit shingle key splits into
    * 32-bit halves (lo, hi), probe j sets bit `(lo + j·hi) mod mBits` —
    * double hashing again, no md5 needed since [[graft.functions.ShingleKeys]]
    * already produced a well-mixed 64-bit key.
    */
  def bloomContaminationCheck(
      train: DataFrame,
      bench: DataFrame,
      idCol: String,
      textCol: String,
      k: Int,
      mBits: Int = 1 << 20,
      kHash: Int = 3,
      broadcastBench: Boolean = true): DataFrame = {
    require(mBits >= 64 && (mBits & (mBits - 1)) == 0, s"mBits must be a power of two: $mBits")
    val lo = pmod(col("sk"), lit(4294967296L))
    val hi = pmod(shiftright(col("sk"), 32), lit(4294967296L))
    def pos(j: Int) = pmod(lo + lit(j.toLong) * hi, lit(mBits.toLong))
    def word(j: Int) = shiftright(pos(j), 6)
    def mask(j: Int) = call_function("shiftleft", lit(1L), (pos(j) % 64).cast("int"))

    // consumed twice (bloom build + verify join) — hash the bench corpus once
    val bSh = Caches.trackPersist(
      Text.shingleKeySet(bench, idCol, textCol, k)
        .withColumnRenamed(idCol, "__bid"))
    val nWords = mBits / 64
    val sparseWords = bSh.select(explode(array(
        (0 until kHash).map(j => struct(word(j).as("w"), mask(j).as("m"))): _*)).as("wm"))
      .groupBy(col("wm.w").as("w"))
      .agg(bit_or(col("wm.m")).as("bits"))
    // DENSE word array, not a map: Spark's MapType element_at is a LINEAR
    // scan of the entries (GetMapValue), which turns every bit probe into
    // O(set words) — measured 11x SLOWER than the plain exact join at 300k
    // docs / 2^24 bits before this was caught. Array element_at is O(1).
    // The hole-fill is a range left-join + ordered collect — distributed,
    // nWords rows, one row out.
    val bloom = bSh.sparkSession.range(nWords.toLong).toDF("w")
      .join(sparseWords, Seq("w"), "left")
      .select(struct(col("w"), coalesce(col("bits"), lit(0L)).as("bits")).as("wb"))
      .agg(array_sort(collect_list(col("wb"))).as("__wbs"))
      .select(transform(col("__wbs"), wb => wb.getField("bits")).as("__bloom"))

    val tSh = Text.shingleKeySet(train, idCol, textCol, k)
    val member = (0 until kHash)
      .map(j => (element_at(col("__bloom"), (word(j) + 1).cast("int"))
        .bitwiseAND(mask(j))) =!= 0L)
      .reduce(_ && _)
    val fringe = tSh.crossJoin(broadcast(bloom)).filter(member).drop("__bloom")

    flagContaminated(train, fringe, bSh, idCol, broadcastBench)
  }
}
