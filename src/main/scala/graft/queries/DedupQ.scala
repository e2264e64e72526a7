package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ops._

/** Deduplication queries over `documents`: exact fingerprint groups,
  * inverted-index n-gram Jaccard, MinHash+LSH, SimHash. The sf0.01 corpus
  * contains planted near-duplicates at Jaccard ≈ 0.99.
  */
object DedupQ {
  import Q._

  /** Oracle CTE `name`: distinct (doc_id, shingle) `k`-word shingles,
    * from an arbitrary documents-shaped relation (the d15b sampled audit
    * swaps in a hash-sampled CTE).
    */
  private def shSqlFrom(rel: String, name: String = "sh", k: Int = 3) = {
    val shingle = (0 until k).map(j => if (j == 0) "toks[i]" else s"toks[i+$j]").mkString(" || ' ' || ")
    s"""$name AS (SELECT DISTINCT doc_id, shingle FROM (
         SELECT doc_id, $shingle AS shingle
         FROM (SELECT doc_id, string_split(trim(text), ' ') AS toks FROM $rel),
              unnest(generate_series(1, len(toks) - ${k - 1})) AS u(i)))"""
  }

  /** Oracle CTEs of the benchmark-contamination checks: `k`-word
    * shingles split into train `tsh` (doc_id % `mod` ≠ 0) and benchmark
    * `bsh` rows.
    */
  private def benchSplitSql(k: Int, mod: Int) =
    s"""${shSqlFrom("documents", "g", k)},
        tsh AS (SELECT * FROM g WHERE doc_id % $mod <> 0),
        bsh AS (SELECT * FROM g WHERE doc_id % $mod = 0)"""

  /** Oracle twin of [[graft.ops.Dedup.contaminationCheck]] (and of its
    * bloom-prefiltered form, which returns the same table).
    */
  private def contaminationSql(k: Int, mod: Int) =
    s"""WITH ${benchSplitSql(k, mod)},
        h AS (SELECT t.doc_id,
                CAST(count(DISTINCT t.shingle) AS BIGINT) AS n_shared_grams,
                CAST(count(DISTINCT b.doc_id) AS BIGINT) AS n_bench_docs
              FROM tsh t JOIN bsh b ON b.shingle = t.shingle GROUP BY 1)
        SELECT d.doc_id,
          coalesce(h.n_shared_grams, 0) AS n_shared_grams,
          coalesce(h.n_bench_docs, 0) AS n_bench_docs,
          CAST(CASE WHEN coalesce(h.n_shared_grams, 0) > 0 THEN 1 ELSE 0 END AS BIGINT) AS contaminated
        FROM (SELECT doc_id FROM documents WHERE doc_id % $mod <> 0) d
        LEFT JOIN h ON h.doc_id = d.doc_id"""

  private val shSql = shSqlFrom("documents")

  /** Document-frequency cap for the SHIPPED cluster-resolution pipeline
    * (d7/d8/g1): one corpus-hot boilerplate shingle with df docs contributes
    * ~df²/2 inverted-index join pairs (the README 100× probe measured a
    * df=60k shingle running the uncapped join past 10 minutes), so the
    * compositions a real dedup run ships pass `maxShingleDf` — `d2` stays
    * the documented UNCAPPED exact baseline. Same recipe as d6's gram cap.
    */
  private val shCapDf = 50

  /** The token-mixture input of mix_token_budget and mix_shards:
    * (doc_id, lang, n_tokens).
    */
  private def docTokens(s: SparkSession, d: String): DataFrame =
    t(s, d, "documents").select(
      col("doc_id"), col("lang"), size(Text.tokens(col("text"))).cast("long").as("n_tokens"))

  /** Oracle twin of [[docTokens]]: CTE `g(doc_id, lang, n_tokens, u)`
    * with `u` the docs' 24-bit deal-order hash.
    */
  private val docTokensSql =
    s"""g AS (SELECT doc_id, lang,
           CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS n_tokens,
           ${Sampling.sqlHashU24("doc_id")} AS u
         FROM documents)"""

  /** Oracle CTEs: [[shSql]]'s relation with shingles above [[shCapDf]]
    * dropped from every set BEFORE sizes and intersections — the exact
    * df-filter twin of `jaccardPairs(maxShingleDf = shCapDf)`. `sh` rows
    * are per-doc distinct, so `count(*)` per shingle IS its doc frequency.
    */
  private val shCappedSql =
    s"""${shSqlFrom("documents", "sh0")},
        shhot AS (SELECT shingle FROM sh0 GROUP BY shingle HAVING count(*) > $shCapDf),
        sh AS (SELECT sh0.doc_id, sh0.shingle FROM sh0 WHERE NOT EXISTS
                 (SELECT 1 FROM shhot WHERE shhot.shingle = sh0.shingle))"""

  /** Oracle CTEs over an edge list `e(src, dst)`: the RECURSIVE
    * transitive closure and every document labelled with the minimum
    * reachable doc_id (own id for singletons) in `lab(doc_id, cluster_id)`
    * — the oracle twin of [[graft.ops.Dedup.connectedComponents]].
    */
  private val componentSql =
    """reach AS (SELECT src AS id, dst AS r FROM e
                 UNION
                 SELECT reach.id, e.dst FROM reach JOIN e ON e.src = reach.r),
       comp AS (SELECT id, least(id, min(r)) AS comp FROM reach GROUP BY id),
       lab AS (SELECT d.doc_id, coalesce(c.comp, d.doc_id) AS cluster_id
               FROM documents d LEFT JOIN comp c ON c.id = d.doc_id)"""

  /** Oracle CTEs: 8 minhashes per doc via double hashing — one md5 per
    * shingle, halves h1/h2 from md5_number_lower/upper (little-endian
    * uint64s), permutation j = (h1 + j·h2) mod 2⁶⁴ in HUGEINT, minima
    * rendered as zero-padded 20-digit unsigned decimals (matching
    * [[graft.functions.MinHashSig]] byte-for-byte).
    */
  private val sigSql = {
    val two64 = "CAST('18446744073709551616' AS HUGEINT)"
    val mins = (0 until 8)
      .map(j => s"lpad(CAST(min((h1 + $j * h2) % $two64) AS VARCHAR), 20, '0') AS mh_$j")
      .mkString(", ")
    s"""shh AS (SELECT doc_id,
          CAST(md5_number_lower(shingle) AS HUGEINT) AS h1,
          CAST(md5_number_upper(shingle) AS HUGEINT) AS h2 FROM sh),
        sig AS (SELECT doc_id, $mins FROM shh GROUP BY 1)"""
  }

  /** Oracle expression: how many of the 8 minhashes of `sig sa` and
    * `sig sb` agree — `n_equal` of [[graft.ops.Dedup.lshCandidates]].
    */
  private val agreeSql =
    (0 until 8).map(j => s"(CASE WHEN sa.mh_$j = sb.mh_$j THEN 1 ELSE 0 END)").mkString(" + ")

  /** Oracle CTEs (on top of [[sigSql]]): the 4-band LSH buckets and the
    * distinct candidate pairs `cand(a_id, b_id)` sharing a band — the twin
    * of [[graft.ops.Dedup.lshCandidates]] before its agreement count.
    */
  private def lshCandSql(cand: String) = {
    val bands = (0 until 4).map(b =>
      s"SELECT doc_id, $b AS band_idx, md5(mh_${2 * b} || mh_${2 * b + 1}) AS band_hash FROM sig")
      .mkString(" UNION ALL ")
    s"""bands AS ($bands),
        $cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
                 FROM bands a JOIN bands b ON a.band_idx = b.band_idx
                   AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id)"""
  }

  /** Oracle CTEs (on top of [[shSql]] + [[sigSql]]): d3's banded LSH
    * candidates filtered to ≥ 6/8 signature agreement, their recursive
    * transitive closure, and every doc labelled with the minimum reachable
    * doc_id — the oracle twin of the d14 LSH-fed cluster resolution.
    */
  private val lshCcSql =
    s"""${lshCandSql("cand")},
        jp AS (SELECT a_id, b_id FROM cand
               JOIN sig sa ON sa.doc_id = a_id JOIN sig sb ON sb.doc_id = b_id
               WHERE ($agreeSql) >= 6),
        e AS (SELECT a_id AS src, b_id AS dst FROM jp
              UNION SELECT b_id, a_id FROM jp),
        $componentSql"""

  /** The d14 Spark-side composition, shared with the leakage-free split:
    * banded LSH candidates at ≥ 6/8 agreement → connected components →
    * (doc_id, cluster_id) labels with singleton self-labels.
    *
    * Runs entirely on the COLLAPSED relation: identical signatures merge to
    * one representative before banding (`Dedup.sigClusterMembers`), the
    * component stage sees rep-pair edges plus one member→rep edge per
    * non-rep doc — so an f-doc exact-dup family costs f−1 edges, never the
    * f²/2 expanded pairs. Labels are IDENTICAL to running components over
    * the expanded pair list: a rep is the min id of its cluster, so the min
    * id of any connected component is itself a rep reachable through the
    * membership edges, and the n_equal ≥ 6 gate is signature-level (every
    * same-cluster pair agrees 8/8; every cross-cluster pair agrees exactly
    * as its rep pair does).
    */
  private def lshClusters(docs: DataFrame): DataFrame = {
    val sig = Dedup.minhashSignaturesLocal(docs, "doc_id", "text", 3, 8)
    val members = Caches.trackPersist(Dedup.sigClusterMembers(sig, "doc_id", 8))
    val repPairs = Dedup.lshRepCandidates(members, "doc_id", 8, 4)
      .filter(col("n_equal") >= 6).select("a_id", "b_id")
    val memberEdges = members.filter(col("doc_id") =!= col("__rep"))
      .select(col("__rep").as("a_id"), col("doc_id").as("b_id"))
    val comp = Dedup.connectedComponents(repPairs.unionByName(memberEdges), "a_id", "b_id")
      .withColumnRenamed("id", "doc_id")
    docs.join(comp, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("comp"), col("doc_id")).as("cluster_id"))
  }

  /** Oracle CTEs (on top of an `sh` shingle CTE): `sz(doc_id, n)` set
    * sizes and `pp(a_id, b_id, shared)` the shared-shingle count of every
    * co-shingled pair — the inverted-index join inside
    * [[graft.ops.Dedup.jaccardPairs]].
    */
  private val pairCountSql =
    """sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM sh GROUP BY 1),
       pp AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, CAST(count(*) AS BIGINT) AS shared
              FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
              GROUP BY 1, 2)"""

  /** Oracle CTEs: [[pairCountSql]] plus `rel` — d2's Jaccard ≥ 0.5 pair
    * relation, ids only, projected as `cols` (`MATERIALIZED` when `mat`).
    */
  private def jaccardPairSql(
      rel: String, cols: String = "a_id, b_id", mat: Boolean = false) =
    s"""$pairCountSql,
       $rel AS ${if (mat) "MATERIALIZED " else ""}(SELECT $cols FROM pp
              JOIN sz sa ON sa.doc_id = a_id JOIN sz sb ON sb.doc_id = b_id
              WHERE CAST(shared AS DOUBLE) / CAST(sa.n + sb.n - shared AS DOUBLE)
                    >= CAST(0.5 AS DOUBLE))"""

  /** Oracle CTEs: [[jaccardPairSql]] as `jp` plus its symmetric edge list
    * `e(src, dst)` — the pair graph d7/d8 and g1/g4/g5 read. `union` is
    * `UNION` or `UNION ALL` (`MATERIALIZED` when `mat`), each caller's form.
    */
  private def jaccardEdgeSql(union: String = "UNION", mat: Boolean = false) =
    s"""${jaccardPairSql("jp")},
       e AS ${if (mat) "MATERIALIZED " else ""}(SELECT a_id AS src, b_id AS dst FROM jp
             $union SELECT b_id, a_id FROM jp)"""

  /** Oracle CTEs (on top of an `sh` shingle CTE): [[componentSql]] over
    * the [[jaccardEdgeSql]] pair graph — what the d7/d8 oracles read.
    */
  private val ccSql = s"${jaccardEdgeSql()},\n       $componentSql"

  /** The d7/d8 cluster labels: the df-capped Jaccard ≥ 0.5 pairs →
    * connected components → (doc_id, cluster_id), singletons labelling
    * themselves. Oracle twin: [[ccSql]]'s `lab`.
    */
  private def dupClusters(docs: DataFrame): DataFrame = {
    val pairs = Dedup.jaccardPairs(docs, "doc_id", "text", 3, 0.5, maxShingleDf = shCapDf)
      .select("a_id", "b_id")
    val comp = Dedup.connectedComponents(pairs, "a_id", "b_id")
      .withColumnRenamed("id", "doc_id")
    docs.join(comp, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("comp"), col("doc_id")).as("cluster_id"))
  }

  /** Shared pipeline for d15/d15b: pair-level recall + candidate precision
    * of the banded ≥6/8 LSH gate against the exact Jaccard ≥ 0.5 truth,
    * over whatever `docs` frame the caller passes (full corpus for the
    * audit baseline, a deterministic hash-mod sample for the at-scale
    * form).
    */
  private def lshPairRecall(docs: DataFrame): DataFrame = {
    val truth = Caches.trackPersist(
      Dedup.jaccardPairs(docs, "doc_id", "text", 3, 0.5).select("a_id", "b_id"))
    val sig = Dedup.minhashSignaturesLocal(docs, "doc_id", "text", 3, 8)
    val found = Caches.trackPersist(
      Dedup.lshCandidates(sig, "doc_id", 8, 4)
        .filter(col("n_equal") >= 6).select("a_id", "b_id"))
    val hit = truth
      .join(found.withColumn("__f", lit(1L)), Seq("a_id", "b_id"), "left")
      .agg(
        count(lit(1)).as("n_true"),
        sum(coalesce(col("__f"), lit(0L))).as("n_hit"))
    val cand = found.agg(count(lit(1)).as("n_cand"))
    hit.crossJoin(cand).select(
      col("n_true"), col("n_cand"), col("n_hit"),
      when(col("n_true") > 0,
        col("n_hit").cast("double") / col("n_true").cast("double")).as("recall"),
      when(col("n_cand") > 0,
        col("n_hit").cast("double") / col("n_cand").cast("double")).as("precision"))
  }

  /** Oracle twin of [[lshPairRecall]]: `docsCte` is an optional leading
    * CTE (e.g. the hash-mod sample) and `shRel` the relation the shingle
    * CTE reads — "" / "documents" for the full-corpus audit.
    */
  private def lshPairRecallSql(docsCte: String, shRel: String): String =
    s"""WITH $docsCte${shSqlFrom(shRel)}, $sigSql,
        ${jaccardPairSql("truth")},
        ${lshCandSql("cand0")},
        foundq AS (SELECT a_id, b_id FROM cand0
                   JOIN sig sa ON sa.doc_id = a_id JOIN sig sb ON sb.doc_id = b_id
                   WHERE ($agreeSql) >= 6),
        h AS (SELECT CAST(count(*) AS BIGINT) AS n_true,
                CAST(sum(CASE WHEN f.a_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit
              FROM truth t LEFT JOIN foundq f
                ON f.a_id = t.a_id AND f.b_id = t.b_id),
        c AS (SELECT CAST(count(*) AS BIGINT) AS n_cand FROM foundq)
        SELECT h.n_true, c.n_cand, h.n_hit,
          CASE WHEN h.n_true > 0
               THEN CAST(h.n_hit AS DOUBLE) / CAST(h.n_true AS DOUBLE) END AS recall,
          CASE WHEN c.n_cand > 0
               THEN CAST(h.n_hit AS DOUBLE) / CAST(c.n_cand AS DOUBLE) END AS "precision"
        FROM h, c"""

  val defs: Seq[QDef] = Seq(
    QDef(
      "d1_exact_dedup",
      (s, d) => Dedup.exactGroups(t(s, d, "documents"), "doc_id", "text"),
      Some("""SELECT md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp,
              CAST(count(*) AS BIGINT) AS n_docs, min(doc_id) AS keeper_id
              FROM documents GROUP BY 1""")),

    QDef(
      "d2_jaccard_pairs",
      (s, d) => Dedup.jaccardPairs(t(s, d, "documents"), "doc_id", "text", 3, 0.5),
      Some(s"""WITH $shSql, $pairCountSql
               SELECT a_id, b_id, shared, sa.n AS na, sb.n AS nb,
                      CAST(shared AS DOUBLE) / CAST(sa.n + sb.n - shared AS DOUBLE) AS jaccard
               FROM pp JOIN sz sa ON sa.doc_id = a_id JOIN sz sb ON sb.doc_id = b_id
               WHERE CAST(shared AS DOUBLE) / CAST(sa.n + sb.n - shared AS DOUBLE)
                     >= CAST(0.5 AS DOUBLE)""")),

    QDef(
      "d3_minhash_lsh",
      (s, d) => {
        val sig = Dedup.minhashSignaturesLocal(t(s, d, "documents"), "doc_id", "text", 3, 8)
        Dedup.lshCandidates(sig, "doc_id", 8, 4)
      },
      Some(s"""WITH $shSql, $sigSql, ${lshCandSql("cand")}
            SELECT a_id, b_id, CAST($agreeSql AS BIGINT) AS n_equal,
                   CAST($agreeSql AS DOUBLE) / CAST(8.0 AS DOUBLE) AS est_jaccard
            FROM cand JOIN sig sa ON sa.doc_id = a_id JOIN sig sb ON sb.doc_id = b_id""")),

    QDef(
      "d15_lsh_pair_recall",
      // the LSH dedup audit, MEASURED like the ANN recalls: pair-level
      // recall and candidate precision of d14's banded ≥6/8 gate against
      // d2's exact Jaccard ≥ 0.5 relation (the audit-grade truth). One
      // summary row of integer counts + two closing divisions — the
      // "banding bounds candidates" claim gets a regression-pinned
      // quality number to go with its probed cost number. Inherits d2's
      // audit-baseline contract: the exact truth side is the uncapped
      // inverted-index join, so at web scale this audit runs on a
      // deterministic SAMPLE of the corpus, never the full ingest
      (s, d) => lshPairRecall(t(s, d, "documents")),
      Some(lshPairRecallSql("", "documents"))),

    QDef(
      "d15b_lsh_recall_sampled",
      // the SAMPLED form of the d15 audit — the shape it actually runs in
      // at web scale, where the truth side's uncapped exact join is only
      // affordable over a deterministic slice: the SAME hash-mod doc
      // sample (hashU24(doc_id) % 2 < 1, the sampleDeterministic recipe)
      // gates BOTH the truth and LSH sides before any pair work, so the
      // audit stays an apples-to-apples recall/precision over the sampled
      // sub-corpus. Pair survival is 1/den² — size den so n_true stays
      // statistically meaningful
      (s, d) => lshPairRecall(
        Sampling.sampleDeterministic(t(s, d, "documents"), "doc_id", 1, 2)),
      Some(lshPairRecallSql(
        s"sdocs AS (SELECT * FROM documents WHERE ${Sampling.sqlHashU24("doc_id")} % 2 < 1), ",
        "sdocs"))),

    QDef(
      "d6_shared_spans",
      // exact substring-level dedup: maximal shared token spans >= 5 between
      // doc pairs, via 3-gram position join + diagonal islands. Grams in
      // more than 50 documents are dropped pre-join (hot-gram df cap: keeps
      // the position join linear in corpus size — a corpus-hot trigram would
      // otherwise contribute df² join rows of mostly sub-threshold spans)
      (s, d) => Dedup.sharedSpans(t(s, d, "documents"), "doc_id", "text", 3, 5, maxGramDf = 50),
      Some("""WITH g0 AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
                 toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS gram
               FROM (SELECT doc_id, string_split(trim(text), ' ') AS toks FROM documents),
                    unnest(generate_series(1, len(toks) - 2)) AS u(i)),
              hot AS (SELECT gram FROM g0 GROUP BY gram HAVING count(DISTINCT doc_id) > 50),
              g AS (SELECT * FROM g0 WHERE NOT EXISTS
                      (SELECT 1 FROM hot WHERE hot.gram = g0.gram)),
              p AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, a.pos AS a_pos, b.pos AS b_pos
                    FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id),
              r AS (SELECT *,
                      a_pos - row_number() OVER (PARTITION BY a_id, b_id, a_pos - b_pos
                                                 ORDER BY a_pos) AS grp
                    FROM p)
              SELECT a_id, b_id, CAST(min(a_pos) AS BIGINT) AS a_start,
                     CAST(min(b_pos) AS BIGINT) AS b_start,
                     CAST(count(*) + 2 AS BIGINT) AS span_len
              FROM r GROUP BY a_id, b_id, a_pos - b_pos, grp
              HAVING count(*) + 2 >= 5""")),

    QDef(
      "d7_dup_clusters",
      // cluster resolution: near-dup PAIRS (d2's Jaccard >= 0.5 relation,
      // df-capped — see shCapDf: the SHIPPED pipeline must survive a
      // boilerplate shingle) -> connected components (min-label + pointer
      // jumping) -> every doc labelled with its canonical cluster id (min
      // reachable doc_id; singletons label themselves) and the cluster size
      (s, d) => dupClusters(t(s, d, "documents"))
        .withColumn("cluster_size", count(lit(1)).over(Window.partitionBy("cluster_id"))),
      Some(s"""WITH RECURSIVE $shCappedSql, $ccSql
               SELECT doc_id, cluster_id,
                 CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS cluster_size
               FROM lab""")),

    QDef(
      "d8_dedup_keep",
      // the keep/drop decision a dedup pipeline actually ships: within each
      // duplicate cluster keep the highest-quality doc (t2's quality score,
      // bit-identical across engines; doc_id breaks exact-tie dup copies).
      // Pair relation df-capped like d7 — the shipped plan, not the baseline
      (s, d) => {
        val docs = t(s, d, "documents")
        val lab = dupClusters(docs)
        val qual = Text.qualityScore(docs, "doc_id", "text")
          .select("doc_id", "quality_score")
        val w = Window.partitionBy("cluster_id").orderBy(col("quality_score").desc, col("doc_id"))
        lab.join(qual, "doc_id")
          .withColumn("keep", (row_number().over(w) === 1).cast("long"))
          .select("doc_id", "cluster_id", "quality_score", "keep")
      },
      Some(s"""WITH RECURSIVE $shCappedSql, $ccSql,
               ${Text.qualitySql()}
               SELECT l.doc_id, l.cluster_id, q.quality_score,
                 CAST(CASE WHEN row_number() OVER (PARTITION BY l.cluster_id
                        ORDER BY q.quality_score DESC, l.doc_id) = 1
                      THEN 1 ELSE 0 END AS BIGINT) AS keep
               FROM lab l JOIN qual q ON q.doc_id = l.doc_id""")),

    QDef(
      "d14_lsh_dedup",
      // the LSH-fed cluster resolution — the linear-candidate 100 TB
      // pipeline end to end: banded MinHash candidates (d3) filtered to
      // signature agreement >= 6/8 (est. Jaccard >= 0.75) -> connected
      // components -> canonical cluster labels. Where d7's exact
      // inverted-index pair relation is the audit-grade baseline, THIS
      // composition's candidate work is linear in corpus size by
      // construction (banding), the shape a web-scale dedup run ships
      (s, d) => lshClusters(t(s, d, "documents"))
        .withColumn("cluster_size", count(lit(1)).over(Window.partitionBy("cluster_id"))),
      Some(s"""WITH RECURSIVE $shSql, $sigSql, $lshCcSql
               SELECT doc_id, cluster_id,
                 CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS cluster_size
               FROM lab""")),

    QDef(
      "split_leakage_free",
      // leakage-free train/val/test assignment: the split hash is taken on
      // the duplicate CLUSTER id, not the doc id, so near-duplicate copies
      // can never straddle train and eval — the contamination mode a plain
      // per-doc split invites (a test doc's near-dup twin in train is a
      // leaked answer). Same 80/10/10 hash recipe as split_assign,
      // cluster-stable under corpus growth for the same reason
      (s, d) => Sampling.assignSplit(
        lshClusters(t(s, d, "documents")), "cluster_id", 10,
        Seq(("train", 8), ("val", 9), ("test", 10))),
      Some(s"""WITH RECURSIVE $shSql, $sigSql, $lshCcSql
               SELECT doc_id, cluster_id,
                 CASE WHEN u % 10 < 8 THEN 'train'
                      WHEN u % 10 < 9 THEN 'val'
                      ELSE 'test' END AS split
               FROM (SELECT doc_id, cluster_id, ${Sampling.sqlHashU24("cluster_id")} AS u
                     FROM lab)""")),

    QDef(
      "d9_decontaminate",
      // benchmark decontamination: docs with doc_id % 97 == 0 stand in for
      // the eval suite; every remaining (train) doc is scanned for shared
      // 5-gram shingles against the broadcast benchmark shingle set —
      // the corpus itself is never shuffled
      (s, d) => {
        val docs = t(s, d, "documents")
        Dedup.contaminationCheck(
          docs.filter(col("doc_id") % 97 =!= 0),
          docs.filter(col("doc_id") % 97 === 0),
          "doc_id", "text", 5)
      },
      Some(contaminationSql(5, 97))),

    QDef(
      "d13_overlap_frac",
      // graded decontamination: fraction of each train doc's distinct
      // 5-grams that appear in the benchmark (same bench split as d9);
      // `flagged` applies a 0.2 overlap-threshold policy. Docs with < 5
      // tokens have no shingles and are absent by operator contract.
      (s, d) => {
        val docs = t(s, d, "documents")
        Dedup.overlapFraction(
            docs.filter(col("doc_id") % 97 =!= 0),
            docs.filter(col("doc_id") % 97 === 0),
            "doc_id", "text", 5)
          .withColumn("flagged", (col("overlap_frac") >= 0.2).cast("long"))
      },
      Some(s"""WITH ${benchSplitSql(5, 97)},
              tot AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams FROM tsh GROUP BY 1),
              h AS (SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_shared
                    FROM tsh t JOIN (SELECT DISTINCT shingle FROM bsh) b
                      ON b.shingle = t.shingle GROUP BY 1)
              SELECT tot.doc_id, tot.n_grams,
                CAST(coalesce(h.n_shared, 0) AS BIGINT) AS n_shared_grams,
                CAST(coalesce(h.n_shared, 0) AS DOUBLE) / CAST(tot.n_grams AS DOUBLE) AS overlap_frac,
                CAST(CASE WHEN CAST(coalesce(h.n_shared, 0) AS DOUBLE) / CAST(tot.n_grams AS DOUBLE) >= 0.2
                     THEN 1 ELSE 0 END AS BIGINT) AS flagged
              FROM tot LEFT JOIN h ON h.doc_id = tot.doc_id""")),

    QDef(
      "mixture_sample",
      // data-mixture weighting: src0 kept whole, src1 at 50%, src2 at 10%,
      // everything else at 25% — per-row fate depends only on (doc_id,
      // source rate), so the mixture is stable under re-ingest and growth
      (s, d) => Sampling.mixtureSample(
        t(s, d, "documents").select("doc_id", "source"),
        "doc_id", "source",
        Map("src0" -> 1.0, "src1" -> 0.5, "src2" -> 0.1),
        defaultRate = 0.25),
      Some(s"""SELECT doc_id, source FROM (
                 SELECT doc_id, source, ${Sampling.sqlHashU24("doc_id")} % 10000 AS b
                 FROM documents)
               WHERE b < CASE source WHEN 'src0' THEN 10000
                                     WHEN 'src1' THEN 5000
                                     WHEN 'src2' THEN 1000
                                     ELSE 2500 END""")),

    QDef(
      "mix_token_budget",
      // token-budget mixture selection: 2000 tokens per language, docs
      // admitted in (hash, doc_id) order while the inclusive running token
      // total fits — the "take N tokens per source" op training mixes are
      // built with (mixture_sample fixes a FRACTION; this fixes a TOKEN
      // total; the kept prefix is a pure function of corpus contents —
      // stable under re-ingest, boundary shifts under growth as any exact
      // total must). Full ledger emitted so the rejected tail is auditable.
      // The per-language cumsum rides Windows.chunkedScan (two-phase
      // prefix scan chunked on the hash high bits — language strata are
      // the few-hot-keys regime where a direct ordered window serializes);
      // the oracle runs the direct window, bit-identical by integer
      // associativity
      (s, d) => Sampling.tokenBudgetLedger(
        docTokens(s, d), "doc_id", "lang", "n_tokens", 2000L),
      Some(s"""WITH $docTokensSql
              SELECT doc_id, lang, n_tokens,
                CAST(sum(n_tokens) OVER (PARTITION BY lang ORDER BY u, doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                  AS cum_tokens,
                CAST(CASE WHEN sum(n_tokens) OVER (PARTITION BY lang ORDER BY u, doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) <= 2000
                  THEN 1 ELSE 0 END AS BIGINT) AS keep
              FROM g""")),

    QDef(
      "mix_dsir",
      // DSIR importance ranking (Xie et al. 2023): score every non-English
      // doc by how much more likely its hashed unigram+bigram profile is
      // under the ENGLISH bucket distribution than under the raw corpus
      // one (256 hashed buckets, Laplace-smoothed), rank per language,
      // select the top 25 — "find the most target-like docs in the pool",
      // the published recipe for targeted pre-training selection. Full
      // ledger (rank + selected flag) so the rejected tail is auditable.
      // Engine-exact: integer bucket counts, MathLn per bucket,
      // dsumTrunc9 per doc, (weight desc, doc_id) total order
      (s, d) => Sampling.dsirLedger(
        t(s, d, "documents").select("doc_id", "lang", "text"),
        "doc_id", "text", "lang", "en", buckets = 256, kPerStratum = 25),
      Some(s"""WITH tk AS (SELECT doc_id, lang, string_split(trim(text), ' ') AS toks
                           FROM documents),
               ft AS (SELECT doc_id, lang, unnest(toks) AS f FROM tk
                      UNION ALL
                      SELECT doc_id, lang, toks[i] || ' ' || toks[i+1] AS f
                      FROM tk, unnest(generate_series(1, len(toks) - 1)) AS u(i)
                      WHERE len(toks) >= 2),
               fb AS (SELECT doc_id, lang, ${Sampling.sqlHashU24("f")} % 256 AS b
                      FROM ft),
               cr AS (SELECT b, CAST(count(*) AS BIGINT) AS cr FROM fb GROUP BY 1),
               ct AS (SELECT b, CAST(count(*) AS BIGINT) AS ct FROM fb
                      WHERE lang = 'en' GROUP BY 1),
               nt AS (SELECT CAST(coalesce(sum(ct), 0) AS BIGINT) AS nt FROM ct),
               nr AS (SELECT CAST(sum(cr) AS BIGINT) AS nr FROM cr),
               lr AS (SELECT cr.b,
                        ln(CAST(coalesce(ct.ct, 0) + 1 AS DOUBLE)
                           / CAST(nt.nt + 256 AS DOUBLE))
                      - ln(CAST(cr.cr + 1 AS DOUBLE)
                           / CAST(nr.nr + 256 AS DOUBLE)) AS lw
                      FROM cr LEFT JOIN ct ON ct.b = cr.b
                      CROSS JOIN nt CROSS JOIN nr),
               sc AS (SELECT fb.doc_id, fb.lang,
                        CAST(count(*) AS BIGINT) AS n_feats,
                        ${graft.ops.Exact.sqlDsumTrunc9("lw")} AS dsir_logweight
                      FROM fb JOIN lr ON lr.b = fb.b
                      WHERE fb.lang <> 'en' GROUP BY 1, 2)
               SELECT doc_id, lang, n_feats, dsir_logweight,
                 CAST(row_number() OVER (PARTITION BY lang
                   ORDER BY dsir_logweight DESC, doc_id) AS BIGINT) AS sel_rank,
                 CAST(CASE WHEN row_number() OVER (PARTITION BY lang
                   ORDER BY dsir_logweight DESC, doc_id) <= 25
                   THEN 1 ELSE 0 END AS BIGINT) AS selected
               FROM sc""")),

    QDef(
      "temperature_mix",
      // temperature-smoothed mixture weights at α = 0.5 over the corpus
      // languages (the T5/UniMax multilingual rebalance): target share ∝
      // √p flattens the en-heavy head and lifts the tail; keep_per_10k is
      // the downsampling threshold realizing the mixture with no stratum
      // upsampled. α is pinned at 0.5 because sqrt is the one IEEE-exact
      // power — general pow/exp would break the cross-engine hash
      (s, d) => Sampling.temperatureMixtureSqrt(
        t(s, d, "documents").select("doc_id", "lang"), "lang"),
      Some(s"""WITH c AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs
                          FROM documents GROUP BY 1),
               tot AS (SELECT CAST(sum(n_docs) AS BIGINT) AS N FROM c),
               wv AS (SELECT lang, n_docs,
                        CAST(n_docs AS DOUBLE) / CAST(N AS DOUBLE) AS p,
                        sqrt(CAST(n_docs AS DOUBLE) / CAST(N AS DOUBLE)) AS wval
                      FROM c, tot),
               ws AS (SELECT ${graft.ops.Exact.sqlDsumTrunc9("wval")} AS wsum FROM wv),
               t AS (SELECT lang, n_docs, p, wval / ws.wsum AS target_share,
                       p / (wval / ws.wsum) AS ratio
                     FROM wv, ws),
               s AS (SELECT min(ratio) AS s FROM t)
               SELECT lang, n_docs, p, target_share,
                 CAST(floor(s.s * target_share / p * CAST(10000.0 AS DOUBLE)) AS BIGINT)
                   AS keep_per_10k
               FROM t, s""")),

    QDef(
      "weighted_sample",
      // Efraimidis-Spirakis weighted sampling without replacement: 10 docs
      // per source, probability ∝ n_chars. The A-ES key ranks in the log
      // domain through MathLn so the SELECTED SET (not just its
      // distribution) is engine-exact; hash-u makes it partition-stable.
      (s, d) => Sampling.weightedSample(
        t(s, d, "documents").select("doc_id", "source", "n_chars"),
        Seq("source"), "doc_id", "n_chars", 10, "es1"),
      Some(s"""SELECT doc_id, source, n_chars, sample_rank FROM (
                 SELECT doc_id, source, n_chars,
                   CAST(row_number() OVER (PARTITION BY source
                     ORDER BY ${Sampling.sqlWeightedKey("doc_id", "n_chars", "es1")} DESC,
                              doc_id) AS BIGINT) AS sample_rank
                 FROM documents)
               WHERE sample_rank <= 10""")),

    QDef(
      "stratified_sample",
      // per-(lang, source) cap of 5 docs, chosen by hash order with a key
      // tiebreak — reproducible class balancing, no rand()
      (s, d) => Sampling.stratifiedSample(
        t(s, d, "documents").select("doc_id", "lang", "source"),
        "doc_id", Seq("lang", "source"), 5),
      Some(s"""SELECT doc_id, lang, source FROM (
                 SELECT doc_id, lang, source,
                   row_number() OVER (PARTITION BY lang, source
                     ORDER BY ${Sampling.sqlHashU24("doc_id")}, doc_id) AS rn
                 FROM documents)
               WHERE rn <= 5""")),

    QDef(
      "d5_embedding_neardup",
      // embedding-cosine near-dup: MULTI-BAND sign-LSH (4 bands, bit count
      // scaled to corpus size: occupancy target 32 → 4 bits at n=500,
      // 6 at n=2000, …) with exact cosine >= 0.4 — candidate work stays
      // LINEAR in n; recall comes from agreeing in ANY of the 4 bands
      (s, d) =>
        Dedup.embeddingNearDup(
          t(s, d, "embeddings").select(col("vec_id"), col("embedding")),
          "vec_id", "embedding", occupancy = 32, bands = 4, minCos = 0.4),
      Some(s"""WITH n AS (SELECT vec_id,
                 CAST(sum(CAST(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) AS DECIMAL(38,9))) AS DOUBLE) AS n2
               FROM (SELECT vec_id, unnest(embedding) AS x FROM embeddings) GROUP BY 1),
               prm AS (${Vectors.sqlAdaptiveSignBits("embeddings", 32)}),
               s64 AS (SELECT vec_id, ${Vectors.sqlSignBucket("embedding", 64)} AS sgn
                       FROM embeddings),
               bb AS (SELECT s.vec_id, b.l AS band, substr(s.sgn, 1 + b.l * p.bits, p.bits) AS bucket
                      FROM s64 s, prm p, unnest(generate_series(0, 3)) AS b(l)),
               cand AS (SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
                        FROM bb a JOIN bb b ON a.band = b.band AND a.bucket = b.bucket
                          AND a.vec_id < b.vec_id),
               p2 AS (SELECT c.a_id, c.b_id,
                       ${Vectors.sqlDotExact("ea.embedding", "eb.embedding", "i.i")} AS dot
                     FROM cand c JOIN embeddings ea ON ea.vec_id = c.a_id
                          JOIN embeddings eb ON eb.vec_id = c.b_id,
                          unnest(generate_series(1, 64)) AS i(i)
                     GROUP BY 1, 2)
               SELECT a_id, b_id,
                      dot / nullif(sqrt(na.n2) * sqrt(nb.n2), CAST(0.0 AS DOUBLE)) AS cos
               FROM p2 JOIN n na ON na.vec_id = a_id JOIN n nb ON nb.vec_id = b_id
               WHERE dot / nullif(sqrt(na.n2) * sqrt(nb.n2), CAST(0.0 AS DOUBLE))
                     >= CAST(0.4 AS DOUBLE)""")),

    QDef(
      "d4_simhash",
      (s, d) => Dedup.simhash(t(s, d, "documents"), "doc_id", "text", 16),
      Some {
        val hexDigit = (p: Int) => s"(instr('0123456789abcdef', substr(md5(token), $p, 1)) - 1)"
        val votes = (0 until 16)
          .map(i => s"sum(((h // ${1L << i}) % 2) * 2 - 1) AS s_$i")
          .mkString(", ")
        val fp = (0 until 16)
          .map(i => s"(CASE WHEN s_$i > 0 THEN ${1L << i} ELSE 0 END)")
          .mkString(" + ")
        s"""WITH tok AS (SELECT DISTINCT doc_id, token FROM
              (SELECT doc_id, unnest(string_split(trim(text), ' ')) AS token FROM documents)),
            h AS (SELECT doc_id,
                    ${hexDigit(1)} * 4096 + ${hexDigit(2)} * 256 + ${hexDigit(3)} * 16 + ${hexDigit(4)} AS h
                  FROM tok),
            v AS (SELECT doc_id, $votes FROM h GROUP BY 1)
            SELECT doc_id, CAST($fp AS BIGINT) AS simhash FROM v"""
      }),

    QDef(
      "d17_simhash_neardup",
      // Manku-style (WWW'07) simhash dedup at 60 bits / hamming <= 3:
      // per-doc "smallest EARLIER doc within 3 bits" — linear output even
      // through identical-fingerprint clusters (the banded candidate join
      // is EXACT by pigeonhole: 3 flips cannot touch all 4 bands). The
      // oracle brute-forces the same relation; candidate generation is the
      // Spark side's scale concern, not a semantics choice.
      (s, d) => Dedup.simhashNearDups(t(s, d, "documents"), "doc_id", "text", 60, 4, 3),
      Some {
        val hexDigit = (p: Int) =>
          s"(instr('0123456789abcdef', substr(md5(token), $p, 1)) - 1)"
        val hExpr = (1 to 15)
          .map(p => s"CAST(${hexDigit(p)} AS BIGINT) * ${1L << (4 * (15 - p))}")
          .mkString(" + ")
        val votes = (0 until 60)
          .map(i => s"sum(((h // ${1L << i}) % 2) * 2 - 1) AS s_$i")
          .mkString(", ")
        val fp = (0 until 60)
          .map(i => s"(CASE WHEN s_$i > 0 THEN ${1L << i} ELSE 0 END)")
          .mkString(" + ")
        s"""WITH tok AS (SELECT DISTINCT doc_id, token FROM
              (SELECT doc_id, unnest(string_split(trim(text), ' ')) AS token FROM documents)),
            h AS (SELECT doc_id, $hExpr AS h FROM tok),
            v AS (SELECT doc_id, $votes FROM h GROUP BY 1),
            sim AS (SELECT doc_id, CAST($fp AS BIGINT) AS simhash FROM v)
            SELECT a.doc_id, a.simhash,
              min(b.doc_id) AS neardup_of,
              CAST(min(b.doc_id) IS NOT NULL AS BIGINT) AS is_neardup
            FROM sim a LEFT JOIN sim b
              ON b.doc_id < a.doc_id
              AND bit_count(xor(a.simhash, b.simhash)) <= 3
            GROUP BY 1, 2"""
      }),

    QDef(
      "d10_block_dedup",
      // fixed-width token-block dedup profile (paragraph-hash dedup for
      // corpora without paragraph structure): non-overlapping 8-token
      // blocks, canonical occurrence = min (doc_id, pos), per-doc copied
      // fraction as the drop/trim signal
      (s, d) => Dedup.tokenBlockStats(t(s, d, "documents"), "doc_id", "text", 8),
      Some("""WITH tk AS (SELECT doc_id, string_split(trim(text), ' ') AS toks
                          FROM documents),
              b AS (SELECT doc_id, i AS pos,
                      array_to_string(toks[(i * 8 + 1):(i * 8 + 8)], ' ') AS block
                    FROM tk, unnest(generate_series(0, len(toks) // 8 - 1)) AS u(i)
                    WHERE len(toks) >= 8),
              o AS (SELECT doc_id, block, doc_id * 1000000 + pos AS occ FROM b),
              f AS (SELECT block, min(occ) AS fst FROM o GROUP BY 1)
              SELECT doc_id, CAST(count(*) AS BIGINT) AS n_blocks,
                CAST(sum(CASE WHEN occ <> fst THEN 1 ELSE 0 END) AS BIGINT) AS dup_blocks,
                CAST(sum(CASE WHEN occ <> fst THEN 1 ELSE 0 END) AS DOUBLE)
                  / CAST(count(*) AS DOUBLE) AS dup_frac
              FROM o JOIN f USING (block) GROUP BY 1""")),

    QDef(
      "g1_pagerank",
      // centrality inside the near-dup web: damped PageRank (d = 0.85,
      // 5 fixed iterations) over d2's Jaccard >= 0.5 pair graph (df-capped
      // like d7/d8 — the shipped composition), in pure scaled-BIGINT
      // arithmetic (1.0 = 10^12) — bit-exact vs the oracle's unrolled CTE
      // chain; ranks feed keep-policy alongside d8's quality
      (s, d) => {
        val docs = t(s, d, "documents")
        val pairs = Dedup.jaccardPairs(docs, "doc_id", "text", 3, 0.5, maxShingleDf = shCapDf)
          .select("a_id", "b_id")
        // scale pinned to the canonical 10^12 the oracle hard-codes: past
        // ~108k docs derivedScale would silently drop a decade and hash-
        // diverge from the oracle — pinning turns that into the plan-time
        // overflow require instead (the Graph scaladoc's mirror contract)
        Graph.pagerankScaled(pairs, docs, "a_id", "b_id", "doc_id", iters = 5,
          scale = Some(Graph.Scale))
          .withColumnRenamed("id", "doc_id")
      },
      Some(s"""WITH $shCappedSql, ${jaccardEdgeSql()},
               n0 AS (SELECT doc_id AS id, CAST(1 AS BIGINT) AS is_seed FROM documents),
               ${Graph.pagerankSql(5)}
               SELECT id AS doc_id, r AS rank_scaled FROM r5""")),

    QDef(
      "g2_triangles",
      // triangle census of the same Jaccard >= 0.5 pair graph g1 ranks:
      // clique-likeness of the near-dup neighborhoods (transitive
      // duplication => clustering near 1, drift chains near 0). Each edge
      // directed from its (degree, id)-smaller endpoint, so the wedge
      // self-join is O(m^1.5) for any degree distribution and each
      // triangle closes exactly once (the orientation DAG's one
      // out-degree-2 node) — see Graph.triangles
      (s, d) => {
        val docs = t(s, d, "documents")
        Graph.triangles(
          Dedup.jaccardPairs(docs, "doc_id", "text", 3, 0.5, maxShingleDf = shCapDf)
            .select("a_id", "b_id"),
          "a_id", "b_id")
      },
      Some(s"""WITH $shCappedSql, ${jaccardPairSql("e0", "a_id AS ea, b_id AS eb")},
            deg AS (SELECT v, CAST(count(*) AS BIGINT) AS d FROM
                      (SELECT ea AS v FROM e0 UNION ALL SELECT eb FROM e0) GROUP BY 1),
            o AS (SELECT CASE WHEN da.d < db.d OR (da.d = db.d AND ea < eb)
                            THEN ea ELSE eb END AS u,
                         CASE WHEN da.d < db.d OR (da.d = db.d AND ea < eb)
                            THEN eb ELSE ea END AS v
                  FROM e0 JOIN deg da ON da.v = ea JOIN deg db ON db.v = eb),
            w AS (SELECT e1.v AS x, e2.v AS y FROM o e1 JOIN o e2
                  ON e1.u = e2.u AND e1.v <> e2.v),
            tri AS (SELECT CAST(count(*) AS BIGINT) AS n_triangles FROM w
                    WHERE EXISTS (SELECT 1 FROM o WHERE o.u = w.x AND o.v = w.y)),
            ne AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM e0),
            nw AS (SELECT CAST(sum(d * (d - 1) // 2) AS BIGINT) AS n_wedges FROM deg)
            SELECT n_edges, n_wedges, n_triangles,
              CASE WHEN n_wedges > 0 THEN
                CAST(3 * n_triangles AS DOUBLE) / CAST(n_wedges AS DOUBLE) END
                AS clustering
            FROM ne, nw, tri""")),

    QDef(
      "g3_kcore",
      // dense-cluster extraction in the same Jaccard >= 0.5 pair graph:
      // the 8-round 2-core peel — nodes that keep >= 2 in-core neighbors
      // after chains, pendants and stars peel away (template/boilerplate
      // families survive, drift chains don't). Fixed rounds so the oracle
      // unrolls the identical peel with no convergence scalar; idempotent
      // at the fixed point (Graph.kcore scaladoc)
      (s, d) => {
        val docs = t(s, d, "documents")
        Graph.kcore(
          Dedup.jaccardPairs(docs, "doc_id", "text", 3, 0.5, maxShingleDf = shCapDf)
            .select("a_id", "b_id"),
          "a_id", "b_id", k = 2, rounds = 8)
          .withColumnRenamed("v", "doc_id")
      },
      Some {
        val peel = (1 to 8).map { i =>
          // MATERIALIZED: each round references its predecessor three
          // times; inlined CTEs would expand 3^rounds copies of the base
          // scan (observed: DuckDB "too many open files" at 8 rounds)
          s"""d${i - 1} AS MATERIALIZED (SELECT v, CAST(count(*) AS BIGINT) AS d FROM
                (SELECT ea AS v FROM e${i - 1} UNION ALL SELECT eb FROM e${i - 1}) GROUP BY 1),
              k${i - 1} AS MATERIALIZED (SELECT v FROM d${i - 1} WHERE d >= 2),
              e$i AS MATERIALIZED (SELECT e.ea, e.eb FROM e${i - 1} e
                      JOIN k${i - 1} a ON a.v = e.ea JOIN k${i - 1} b ON b.v = e.eb)"""
        }.mkString(",\n")
        s"""WITH $shCappedSql, ${jaccardPairSql("e0", "a_id AS ea, b_id AS eb", mat = true)},
            $peel,
            dfin AS (SELECT v, CAST(count(*) AS BIGINT) AS d FROM
              (SELECT ea AS v FROM e8 UNION ALL SELECT eb FROM e8) GROUP BY 1)
            SELECT v AS doc_id, d AS core_degree FROM dfin WHERE d >= 2"""
      }),

    QDef(
      "g5_ppr",
      // seed-expansion ranking (the TrustRank move): PERSONALIZED
      // PageRank over the same Jaccard >= 0.5 pair graph, teleport mass
      // concentrated on the deterministic doc_id % 50 == 0 seed set —
      // rank reads as "linkage proximity to the trusted core", the score
      // that grows a curated allowlist from a hand-audited sample (g1
      // ranks global centrality; this ranks closeness to the seeds).
      // Same scaled-BIGINT recipe as g1 (scale pinned to the canonical
      // 10^12 the oracle hard-codes), 5 fixed iterations, bit-exact vs
      // the unrolled CTE chain; non-seeds with no path from a seed hold
      // rank 0 — the contract that makes the allowlist conservative
      (s, d) => {
        val docs = t(s, d, "documents")
        val pairs = Dedup.jaccardPairs(docs, "doc_id", "text", 3, 0.5, maxShingleDf = shCapDf)
          .select("a_id", "b_id")
        Graph.personalizedPagerankScaled(
          pairs, docs, docs.filter(pmod(col("doc_id"), lit(50)) === 0),
          "a_id", "b_id", "doc_id", iters = 5, scale = Some(Graph.Scale))
          .withColumnRenamed("id", "doc_id")
      },
      Some(s"""WITH $shCappedSql, ${jaccardEdgeSql()},
               n0 AS (SELECT doc_id AS id,
                        CAST(CASE WHEN doc_id % 50 = 0 THEN 1 ELSE 0 END AS BIGINT) AS is_seed
                      FROM documents),
               ${Graph.pagerankSql(5)}
               SELECT id AS doc_id, is_seed, r AS rank_scaled FROM r5 JOIN n0 USING (id)""")),

    QDef(
      "g4_lpa",
      // community detection inside the same Jaccard >= 0.5 pair graph:
      // 3-round synchronous label propagation — each node adopts the MODE
      // of its neighbors' labels (smallest label on ties), splitting a
      // connected component along its dense regions where CC (d7) would
      // fuse template families across one bridge edge. Fixed rounds by
      // contract (sync LPA can 2-cycle; the rounds-th iterate is the
      // deterministic cross-engine semantic, like the g3 peel); integer
      // counts + (count desc, label asc) total order per round. Isolated
      // docs have no edges and are absent (stated; d7 covers them)
      (s, d) => {
        val docs = t(s, d, "documents")
        Graph.labelPropagation(
          Dedup.jaccardPairs(docs, "doc_id", "text", 3, 0.5, maxShingleDf = shCapDf)
            .select("a_id", "b_id"),
          "a_id", "b_id", rounds = 3)
          .withColumnRenamed("v", "doc_id")
      },
      Some {
        val rounds = (1 to 3).map { i =>
          s"""l$i AS MATERIALIZED (SELECT id, lbl FROM (
                SELECT id, lbl, row_number() OVER (PARTITION BY id
                  ORDER BY c DESC, lbl) AS rn
                FROM (SELECT e.dst AS id, p.lbl, CAST(count(*) AS BIGINT) AS c
                      FROM e JOIN l${i - 1} p ON p.id = e.src GROUP BY 1, 2))
              WHERE rn = 1)"""
        }.mkString(",\n")
        s"""WITH $shCappedSql, ${jaccardEdgeSql("UNION ALL", mat = true)},
            l0 AS (SELECT DISTINCT src AS id, src AS lbl FROM e),
            $rounds
            SELECT id AS doc_id, lbl AS community FROM l3"""
      }),

    QDef(
      "d11_bloom_decontaminate",
      // d9's contamination scan behind a 2^20-bit bloom prefilter: the
      // benchmark's 7-gram keys compact into ONE broadcast map of bit-or'd
      // 64-bit words; every train shingle tests 3 bit probes in-stage off
      // the scan and only the surviving fringe (true hits + bloom FPs)
      // reaches the exact verify join — so the result is bit-identical to
      // the unfiltered check and the oracle stays plain exact SQL
      (s, d) => {
        val docs = t(s, d, "documents")
        Dedup.bloomContaminationCheck(
          docs.filter(col("doc_id") % 89 =!= 0),
          docs.filter(col("doc_id") % 89 === 0),
          "doc_id", "text", 7)
      },
      Some(contaminationSql(7, 89)),
    ),

    QDef(
      "d12_ingest_dedup",
      // the continuous-ingest dedup step: a new batch (doc_id % 10 = 7
      // stands in) is deduped WITHIN itself (keep lowest id per
      // fingerprint), then anti-joined against the historical snapshot's
      // fingerprints — output is exactly the batch rows safe to append.
      // At 100 TB the snapshot side is the big one: store it BUCKETED on
      // fp (ops/Sources.writeBucketed) and the anti-join shuffles only
      // the new batch, never the history
      (s, d) => {
        // fingerprint the corpus ONCE (md5 over full text is the scan
        // cost); both sides of the split then read the persisted frame
        val fps = Caches.trackPersist(
          t(s, d, "documents")
            .select(col("doc_id"), Text.fingerprint(col("text")).as("fp")))
        val batch = fps.filter(col("doc_id") % 10 === 7)
        val snap = fps.filter(col("doc_id") % 10 =!= 7).select("fp").distinct()
        batch.groupBy("fp")
          .agg(min("doc_id").as("doc_id"), count(lit(1)).as("n_batch_dups"))
          .join(snap, Seq("fp"), "left_anti")
          .select("doc_id", "fp", "n_batch_dups")
      },
      Some("""WITH f AS (SELECT doc_id,
                  md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp
                FROM documents),
              b AS (SELECT fp, min(doc_id) AS doc_id, CAST(count(*) AS BIGINT) AS n_batch_dups
                    FROM f WHERE doc_id % 10 = 7 GROUP BY 1)
              SELECT doc_id, fp, n_batch_dups FROM b
              WHERE NOT EXISTS (SELECT 1 FROM f s
                                WHERE s.doc_id % 10 <> 7 AND s.fp = b.fp)""")),

    QDef(
      "d16_containment",
      // asymmetric containment pairs (doc-inside-doc dedup) over the
      // df-capped shingle universe — same cap as the shipped d7/d8
      // pipeline; see [[graft.ops.Dedup.containmentPairs]]
      (s, d) => Dedup.containmentPairs(t(s, d, "documents"), "doc_id", "text", 3, 0.8, shCapDf),
      Some(s"""WITH $shCappedSql, $pairCountSql
               SELECT a_id, b_id, shared, sa.n AS na, sb.n AS nb,
                      CAST(shared AS DOUBLE) / CAST(sa.n AS DOUBLE) AS cont_a,
                      CAST(shared AS DOUBLE) / CAST(sb.n AS DOUBLE) AS cont_b
               FROM pp JOIN sz sa ON sa.doc_id = a_id JOIN sz sb ON sb.doc_id = b_id
               WHERE greatest(CAST(shared AS DOUBLE) / CAST(sa.n AS DOUBLE),
                              CAST(shared AS DOUBLE) / CAST(sb.n AS DOUBLE))
                     >= CAST(0.8 AS DOUBLE)""")),

    QDef(
      "mix_epochs",
      // epoch / repeat-factor planning (the LLaMA-class multi-epoch
      // mixing schedule): per language, token mass → sqrt-temperature
      // target share → tokens_target under a 50k budget → the integral
      // milli-epoch plan capped at 4 epochs. Under-represented languages
      // REPEAT (epochs_milli > 1000), the head downsamples — the op that
      // turns a mixture spec into an executable pass count per stratum.
      // Sampling.epochPlan: one groupBy to the stratum frame, the
      // temperature_mix determinism recipe for the share, pure BIGINT
      // floor/DIV arithmetic after it
      (s, d) => Sampling.epochPlan(
        t(s, d, "documents").select(
          col("doc_id"), col("lang"),
          size(Text.tokens(col("text"))).cast("long").as("n_tokens")),
        "lang", "n_tokens", budgetTokens = 50000L, maxMilliEpochs = 4000L),
      Some(s"""WITH g AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
                  CAST(sum(len(string_split(trim(text), ' '))) AS BIGINT) AS tokens_avail
                FROM documents GROUP BY 1),
               tot AS (SELECT CAST(sum(tokens_avail) AS BIGINT) AS N FROM g),
               wv AS (SELECT lang, n_docs, tokens_avail,
                        sqrt(CAST(tokens_avail AS DOUBLE) / CAST(N AS DOUBLE)) AS wval
                      FROM g, tot),
               ws AS (SELECT ${graft.ops.Exact.sqlDsumTrunc9("wval")} AS wsum FROM wv),
               t AS (SELECT lang, n_docs, tokens_avail,
                       wval / ws.wsum AS target_share
                     FROM wv, ws),
               t2 AS (SELECT *, CAST(floor(CAST(50000 AS DOUBLE) * target_share) AS BIGINT)
                        AS tokens_target FROM t),
               t3 AS (SELECT *, CASE WHEN tokens_avail > 0
                        THEN least(CAST(4000 AS BIGINT),
                          (1000 * tokens_target) // tokens_avail)
                        ELSE CAST(0 AS BIGINT) END AS epochs_milli FROM t2)
               SELECT lang, n_docs, tokens_avail, target_share, tokens_target,
                 epochs_milli, (tokens_avail * epochs_milli) // 1000 AS tokens_planned
               FROM t3""")),

    QDef(
      "mix_shards",
      // balanced training-shard assignment: per language, docs are dealt
      // round-robin in deterministic (hash, doc_id) order into 8 shards —
      // per-stratum shard sizes differ by at most one BY CONSTRUCTION and
      // the hash-uniform deal order keeps token masses tight around the
      // mean (the "write the curated corpus as N shards" step; shard is a
      // pure function of corpus contents, so a re-run reproduces the
      // layout). Rank rides Windows.chunkedScan on the hash high bits
      // (strata × 256 parallelism — the mix_token_budget shape); the
      // oracle's direct row_number is bit-identical. Full ledger out.
      (s, d) => Sampling.shardAssign(
        docTokens(s, d), "doc_id", "lang", "n_tokens", nShards = 8),
      Some(s"""WITH $docTokensSql
               SELECT doc_id, lang, n_tokens,
                 (CAST(row_number() OVER (PARTITION BY lang ORDER BY u, doc_id)
                   AS BIGINT) - 1) % 8 AS shard
               FROM g"""))
  )
}
