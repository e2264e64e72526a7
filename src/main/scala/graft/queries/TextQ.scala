package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ops._

/** Text-analysis queries over `documents`: token stats, quality scoring,
  * corpus-trained language ID (integer voting — no transcendental functions,
  * so the oracle is exact), and content fingerprints. The fingerprint query
  * also carries the multimodal-column pattern: byte length + sha256 of the
  * payload treated as opaque bytes.
  */
object TextQ {
  import Q._

  /** Oracle CTE chain replicating the BMP-encode → BMP-decode feature
    * pipeline ([[graft.ops.Multimodal.bmp24Bytes]] →
    * [[graft.ops.Multimodal.decodeKernel]]) on the ASCII corpus. The
    * payload is a real 24-bit BMP whose pixel channel bytes are the text
    * bytes padded with zeros to fill 16-px rows (stride 48 = 16·3, so
    * stride adds no extra pad), and the kernel's 16-bin intensity
    * histogram (bin = byte ≫ 4) over the decoded channels is therefore
    * the text-byte intensity histogram with the zero pad landing in
    * bin 0, normalized by 48·height where height = max(1, ⌈len/48⌉).
    * `v(doc_id, dim, value)` — all counts integers, one closing division.
    */
  private val mmHistSql =
    """docs AS (SELECT doc_id, coalesce(text, '') AS text FROM documents),
       mt AS (SELECT doc_id, CAST(strlen(text) AS BIGINT) AS len,
                greatest(CAST(1 AS BIGINT), (CAST(strlen(text) AS BIGINT) + 47) // 48) AS h
              FROM docs),
       b AS (SELECT doc_id, ord(substr(text, CAST(i.i AS INTEGER), 1)) // 16 AS dim
             FROM docs, unnest(generate_series(1, CAST(strlen(text) AS BIGINT))) AS i(i)),
       cnt AS (SELECT doc_id, dim, CAST(count(*) AS BIGINT) AS c FROM b GROUP BY 1, 2),
       v AS (SELECT m.doc_id, dm.dim,
               CAST(coalesce(cnt.c, 0)
                    + CASE WHEN dm.dim = 0 THEN 48 * m.h - m.len ELSE 0 END AS DOUBLE)
                 / CAST(48 * m.h AS DOUBLE) AS value
             FROM mt m
             CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS dim) dm
             LEFT JOIN cnt ON cnt.doc_id = m.doc_id AND cnt.dim = dm.dim)"""

  /** Shared scored frame for the calibration family (m14/m15): quality
    * score as the "probability", is-English as the label.
    */
  private def calibScored(s: org.apache.spark.sql.SparkSession, d: String) = {
    val docs = t(s, d, "documents")
    Text.qualityScore(docs, "doc_id", "text")
      .join(docs.select(col("doc_id"), (col("lang") === "en").cast("long").as("y")), "doc_id")
  }

  /** Oracle CTE chain ending in `bins(bin, n, mean_score, pos, frac_pos)`
    * — the [[graft.ops.Stats.calibrationBins]] twin over [[calibScored]].
    */
  private lazy val calibBinsSql =
    s"""${Text.qualitySql()},
        csc AS (SELECT q.doc_id, q.quality_score AS s,
                  CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y
                FROM qual q JOIN documents d ON d.doc_id = q.doc_id),
        cb0 AS (SELECT least(CAST(floor(s * 10) AS BIGINT), 9) AS bin, s, y
                FROM csc WHERE s IS NOT NULL),
        bins AS (SELECT bin, CAST(count(*) AS BIGINT) AS n,
                   ${graft.ops.Exact.sqlDsumTrunc9("s")} / CAST(count(*) AS DOUBLE) AS mean_score,
                   CAST(sum(y) AS BIGINT) AS pos,
                   CAST(sum(y) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS frac_pos
                 FROM cb0 GROUP BY 1)"""

  /** The mm7–mm9 inputs: documents (doc_id, text, source) and their
    * [[alignmentScores]] against the paired embeddings.
    */
  private def alignment(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val docs = t(s, d, "documents").select(col("doc_id"), col("text"), col("source"))
    (docs, alignmentScores(docs, t(s, d, "embeddings").select(col("vec_id"), col("embedding"))))
  }

  /** (doc_id, align_score): the exact cosine between each doc's 64-dim
    * signed hashed bag-of-words vector and its embedding on the shared
    * id ([[Multimodal.alignmentScores]]).
    */
  private[graft] def alignmentScores(docs: DataFrame, embs: DataFrame): DataFrame =
    Multimodal.alignmentScores(docs, embs, "doc_id", "text", "vec_id", "embedding", dims = 64)

  /** The mm7 ledger: every doc of `docs(doc_id, text, …)` with its score
    * from `al` (NULL when it has no paired embedding or a zero norm); the
    * text column is dropped.
    */
  private[graft] def alignmentLedger(docs: DataFrame, al: DataFrame): DataFrame =
    docs.drop("text").join(al, Seq("doc_id"), "left")

  /** The gate's fail-closed keep flag at threshold `tau`: a NULL score or
    * a NULL threshold never passes.
    */
  private[graft] def keepAt(tau: Column): Column =
    coalesce(col("align_score") >= tau, lit(false)).cast("long").as("keep")

  /** mm8/mm9's calibration input: (source, align_q), the score quantized
    * to a 1e-4 grid (floor is engine-exact on identical doubles).
    */
  private def alignGrid(docs: DataFrame, al: DataFrame): DataFrame =
    docs.select("doc_id", "source").join(al, "doc_id")
      .select(
        col("source"),
        (floor(col("align_score") * lit(10000.0d)) / lit(10000.0d)).as("align_q"))

  /** Oracle twin of [[alignGrid]]: the alignment CTEs and `sq(source,
    * align_q)`.
    */
  private val alignGridSql =
    s"""${Multimodal.sqlAlignment(64)},
        sq AS (SELECT d.source,
                 floor(a.align_score * CAST(10000 AS DOUBLE))
                   / CAST(10000 AS DOUBLE) AS align_q
               FROM align a JOIN documents d ON d.doc_id = a.doc_id
               WHERE a.align_score IS NOT NULL)"""

  /** Rounds for the registered BPE fit/encode pair — MUST be declared
    * before `defs` (the oracle strings are built eagerly at object init;
    * a forward val reference would silently read 0).
    */
  private val bpeRounds = 6

  /** The BPE merge-rule fit, memoized per dataset ([[graft.ops.Fits]]):
    * the learned list is bounded by `bpeRounds`, and the fit is a pure
    * deterministic function of the corpus, so t18/t19/t24 share ONE
    * 6-round driver-coordinated fit instead of re-running it per query —
    * the same fit/serve split as the PCA/IVF/language-profile memos.
    */
  private def bpeRulesFor(
      s: org.apache.spark.sql.SparkSession, d: String): Seq[(Long, String, String, Long)] =
    Fits.memo(d, s"bpe:text:$bpeRounds") {
      Text.bpeMergeRules(t(s, d, "documents"), "text", bpeRounds)
    }

  private def bpeRankedPairs(
      s: org.apache.spark.sql.SparkSession, d: String): Seq[(String, String)] =
    bpeRulesFor(s, d).sortBy(_._1).map(r => (r._2, r._3))

  val defs: Seq[QDef] = Seq(
    QDef(
      "t1_token_stats",
      (s, d) => {
        val toks = Text.tokens(col("text"))
        t(s, d, "documents").select(
          col("doc_id"),
          size(toks).cast("long").as("n_tokens"),
          // BPE-ish subword counting: letter runs / digit runs / single
          // punctuation, via the same RE2-compatible class both engines run
          size(regexp_extract_all(col("text"), lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0)))
            .cast("long").as("n_tokens_bpe"),
          length(col("text")).cast("long").as("len_chars"),
          (length(expr("replace(text, ' ', '')")).cast("double") /
            size(toks).cast("long")).as("avg_token_len"))
      },
      Some("""SELECT doc_id,
              CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS n_tokens,
              CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS n_tokens_bpe,
              CAST(length(text) AS BIGINT) AS len_chars,
              CAST(length(replace(text, ' ', '')) AS DOUBLE)
                / CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS avg_token_len
              FROM documents""")),

    QDef(
      "t2_quality_score",
      // the ONE quality-score definition — d8_dedup_keep and
      // curriculum_bins consume the same operator + SQL fragment
      (s, d) => Text.qualityScore(t(s, d, "documents"), "doc_id", "text"),
      Some(s"""WITH ${Text.qualitySql()}
               SELECT doc_id, n_tokens, distinct_ratio, stop_ratio, quality_score
               FROM qual""")),

    QDef(
      "t3_lang_id",
      // the profile fit is memoized per dataset (Q.langProfiles) — the
      // t3 scoring itself is unchanged and the oracle refits inline
      (s, d) => Text.languageIdWith(
        t(s, d, "documents"), "doc_id", "text", Q.langProfiles(s, d)),
      Some(s"""WITH ${Text.languageIdSql(20)}
              SELECT doc_id, pred_lang, score FROM lid""")),

    QDef(
      "m11_classification_metrics",
      // close the langid loop with its quality readout: per-class
      // precision/recall/F1 of t3's predictions against the corpus's true
      // lang labels. Docs the profile matcher abstains on (no profile-token
      // hits) count as false negatives only. Integer counts, BIGINT→double
      // ratios, sklearn zero_division=0 guards — engine-exact
      (s, d) => {
        val docs = t(s, d, "documents")
        val pred = Text.languageIdWith(docs, "doc_id", "text", Q.langProfiles(s, d))
          .select(col("doc_id"), col("pred_lang"))
        val scored = docs.select(col("doc_id"), col("lang").as("actual"))
          .join(pred, Seq("doc_id"), "left")
        Stats.classificationMetrics(scored, "actual", "pred_lang")
      },
      Some(s"""WITH ${Text.languageIdSql(20)},
              j AS (SELECT d.lang AS actual, lid.pred_lang
                    FROM documents d LEFT JOIN lid ON lid.doc_id = d.doc_id),
              nt AS (SELECT actual AS class, CAST(count(*) AS BIGINT) AS n_true FROM j GROUP BY 1),
              np AS (SELECT pred_lang AS class, CAST(count(*) AS BIGINT) AS n_pred
                     FROM j WHERE pred_lang IS NOT NULL GROUP BY 1),
              tp AS (SELECT actual AS class, CAST(count(*) AS BIGINT) AS tp
                     FROM j WHERE pred_lang = actual GROUP BY 1),
              b AS (SELECT coalesce(nt.class, np.class) AS class,
                      coalesce(nt.n_true, CAST(0 AS BIGINT)) AS n_true,
                      coalesce(np.n_pred, CAST(0 AS BIGINT)) AS n_pred,
                      coalesce(tp.tp, CAST(0 AS BIGINT)) AS tp
                    FROM nt FULL JOIN np ON np.class = nt.class
                    LEFT JOIN tp ON tp.class = coalesce(nt.class, np.class)),
              c AS (SELECT *,
                      CASE WHEN n_pred > 0 THEN CAST(tp AS DOUBLE) / CAST(n_pred AS DOUBLE)
                           ELSE CAST(0.0 AS DOUBLE) END AS "precision",
                      CASE WHEN n_true > 0 THEN CAST(tp AS DOUBLE) / CAST(n_true AS DOUBLE)
                           ELSE CAST(0.0 AS DOUBLE) END AS recall FROM b)
              SELECT class, n_true, n_pred, tp, "precision", recall,
                CASE WHEN "precision" + recall > 0
                     THEN CAST(2.0 AS DOUBLE) * "precision" * recall / ("precision" + recall)
                     ELSE CAST(0.0 AS DOUBLE) END AS f1
              FROM c""")),

    QDef(
      "m12_auc",
      // ranking-metric readout: ROC AUC of "is this doc English?" scored
      // by the corpus-trained en-profile hit count (docs with no en-profile
      // hits score 0). Integer Mann-Whitney with average-rank ties — every
      // intermediate an integer, one closing division
      (s, d) => {
        val docs = t(s, d, "documents")
        val sc = Text.languageScoresWith(docs, "doc_id", "text", Q.langProfiles(s, d))
          .filter(col("profile_lang") === "en")
          .select(col("doc_id"), col("score"))
        val scored = docs
          .select(col("doc_id"), (col("lang") === "en").cast("long").as("y"))
          .join(sc, Seq("doc_id"), "left")
          .select(col("y"), coalesce(col("score"), lit(0L)).as("s"))
        Stats.binaryAuc(scored, "y", "s")
      },
      Some(s"""WITH ${Text.languageScoresSql(20)},
              scored AS (SELECT CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y,
                           coalesce(s.score, CAST(0 AS BIGINT)) AS s
                         FROM documents d
                         LEFT JOIN (SELECT doc_id, score FROM sc WHERE profile_lang = 'en') s
                           ON s.doc_id = d.doc_id),
              ${Stats.binaryAucSql("scored")}
              SELECT n_pos, n_neg, auc FROM aucs""")),

    QDef(
      "m12b_auc_quantized",
      // the CONTINUOUS-score AUC recipe the binaryAuc plan-time guard
      // points at: quality_score is a double, so the operator quantizes it
      // in-operator to ⌊score·10³⌋ (scoreScale = Some(3)) — the binned-ROC
      // approximation over 10³ buckets; the rank window stays bounded by
      // bucket cardinality, not corpus size. floor(s·1000.0) is
      // engine-exact on identical doubles, so the oracle mirrors the
      // quantization token-for-token
      (s, d) => {
        val docs = t(s, d, "documents")
        val scored = Text.qualityScore(docs, "doc_id", "text")
          .join(docs.select(col("doc_id"), (col("lang") === "en").cast("long").as("y")), "doc_id")
          .select(col("y"), col("quality_score").as("s"))
        Stats.binaryAuc(scored, "y", "s", scoreScale = Some(3))
      },
      Some(s"""WITH ${Text.qualitySql()},
              scored AS (SELECT CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y,
                           CAST(floor(q.quality_score * 1000) AS BIGINT) AS s
                         FROM qual q JOIN documents d ON d.doc_id = q.doc_id),
              ${Stats.binaryAucSql("scored")}
              SELECT n_pos, n_neg, auc FROM aucs""")),

    QDef(
      "m13_macro_auc",
      // m12 generalized to the full langid score MATRIX: one-vs-rest AUC
      // per language (label = "is this doc lang c", score = c-profile hit
      // count, 0 where the matcher found no profile token) plus the
      // macro-mean row (class='*'). The doc×class grid is a bounded
      // broadcast expansion (K = |langs|, a handful); the macro mean sums
      // scale-9-truncated per-class AUCs as integers — one closing
      // division, never a partition-order-dependent double sum
      (s, d) => {
        val docs = t(s, d, "documents")
        val sc = Text.languageScoresWith(docs, "doc_id", "text", Q.langProfiles(s, d))
          .withColumnRenamed("profile_lang", "class")
        val classes = docs.select(col("lang").as("class")).distinct()
        val scored = docs.select(col("doc_id"), col("lang"))
          .crossJoin(broadcast(classes))
          .join(sc, Seq("doc_id", "class"), "left")
          .select(
            col("class"),
            (col("lang") === col("class")).cast("long").as("y"),
            coalesce(col("score"), lit(0L)).as("s"))
        Stats.macroAuc(scored, "class", "y", "s")
      },
      Some(s"""WITH ${Text.languageScoresSql(20)},
              cls AS (SELECT DISTINCT lang AS class FROM documents),
              grid AS (SELECT c.class,
                         CASE WHEN d.lang = c.class THEN 1 ELSE 0 END AS y,
                         coalesce(s.score, CAST(0 AS BIGINT)) AS s
                       FROM documents d CROSS JOIN cls c
                       LEFT JOIN sc s ON s.doc_id = d.doc_id AND s.profile_lang = c.class),
              ${Stats.binaryAucSql("grid", Seq("class"))},
              mac AS (SELECT '*' AS class,
                        CAST(sum(n_pos) AS BIGINT) AS n_pos,
                        CAST(sum(n_neg) AS BIGINT) AS n_neg,
                        CASE WHEN count(auc) > 0
                             THEN CAST(sum(CAST(floor(auc * CAST(1000000000 AS DOUBLE)) AS BIGINT)) AS DOUBLE)
                                  / (CAST(count(auc) AS DOUBLE) * CAST(1000000000 AS DOUBLE))
                             END AS auc
                      FROM aucs)
              SELECT class, n_pos, n_neg, auc FROM aucs
              UNION ALL SELECT class, n_pos, n_neg, auc FROM mac""")),

    QDef(
      "t8_quality_gate",
      // the document filter a pipeline actually ships: keep docs that are
      // long enough AND not self-repetitive (Gopher-style gate) — signals
      // emitted alongside the decision so thresholds stay auditable
      (s, d) =>
        Text.repetitionScore(t(s, d, "documents"), "doc_id", "text", 3)
          .withColumn(
            "keep",
            (col("n_tokens") >= 40 && col("dup_frac") <= 0.03).cast("long"))
          .select("doc_id", "n_tokens", "dup_frac", "keep"),
      Some("""WITH g AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
                  CAST(len(grams) AS BIGINT) AS n_grams,
                  CAST(len(list_distinct(grams)) AS BIGINT) AS n_distinct
                FROM (SELECT doc_id, toks,
                        [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                         FOR i IN generate_series(1, len(toks) - 2)] AS grams
                      FROM (SELECT doc_id, string_split(trim(text), ' ') AS toks
                            FROM documents))),
              sgn AS (SELECT doc_id, n_tokens,
                        CASE WHEN n_grams <= 0 THEN CAST(0.0 AS DOUBLE)
                             ELSE CAST(1.0 AS DOUBLE)
                                  - CAST(n_distinct AS DOUBLE) / CAST(n_grams AS DOUBLE)
                        END AS dup_frac
                      FROM g)
              SELECT doc_id, n_tokens, dup_frac,
                CAST(CASE WHEN n_tokens >= 40 AND dup_frac <= CAST(0.03 AS DOUBLE)
                     THEN 1 ELSE 0 END AS BIGINT) AS keep
              FROM sgn""")),

    QDef(
      "curriculum_bins",
      // per-language curriculum deciles: ntile(10) over the quality score
      // (t2's, bit-identical across engines) with a doc_id tiebreak —
      // partitioned by lang, so the ordered window never globally sorts
      (s, d) => {
        val docs = t(s, d, "documents")
        val qual = Text.qualityScore(docs, "doc_id", "text")
          .select("doc_id", "quality_score")
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("lang").orderBy(col("quality_score"), col("doc_id"))
        docs.select("doc_id", "lang").join(qual, "doc_id")
          .select(
            col("doc_id"), col("lang"), col("quality_score"),
            ntile(10).over(w).cast("long").as("decile"))
      },
      Some(s"""WITH ${Text.qualitySql()}
               SELECT d.doc_id, d.lang, q.quality_score,
                 CAST(ntile(10) OVER (PARTITION BY d.lang
                   ORDER BY q.quality_score, d.doc_id) AS BIGINT) AS decile
               FROM documents d JOIN qual q ON q.doc_id = d.doc_id""")),

    QDef(
      "t7_pack_sequences",
      // concat-and-chunk sequence packing: 512-token packs, 8 shards,
      // docs laid end-to-end in id order per shard — integer window
      // arithmetic, one shuffle on the shard key
      (s, d) => Text.packSequences(t(s, d, "documents"), "doc_id", "text", 512, 8),
      Some("""WITH g AS (SELECT doc_id, CAST(doc_id % 8 AS BIGINT) AS shard,
                  CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS n_tokens
                FROM documents),
              c AS (SELECT *, CAST(coalesce(sum(n_tokens) OVER (PARTITION BY shard
                      ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                      0) AS BIGINT) AS cb
                    FROM g)
              SELECT doc_id, shard, n_tokens,
                cb // 512 AS pack_id, cb % 512 AS pack_offset
              FROM c""")),

    QDef(
      "t23_chunk_overlap",
      // RAG chunking: 32-token chunks at stride 24 (8-token overlap) —
      // the retrieval-index segmentation run ahead of embedding encoding.
      // Chunk count = 1 + ceil(max(0, n-32)/24) per doc, so the last
      // chunk is the first whose end reaches the doc end (no pure-suffix
      // trailing chunk); docs shorter than 32 tokens yield themselves.
      // Pure tokenize+explode+slice projection — no shuffle, all-integer
      // offsets, chunk_text hashed by the gate so the slicing itself is
      // pinned bit-exact
      (s, d) => Text.chunkOverlap(t(s, d, "documents"), "doc_id", "text", 32, 24),
      Some("""WITH g AS (SELECT doc_id, string_split(trim(text), ' ') AS toks,
                  CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS n_tokens
                FROM documents),
              c AS (SELECT doc_id, toks, n_tokens,
                      1 + (greatest(n_tokens - 32, 0) + 23) // 24 AS n_chunks
                    FROM g)
              SELECT doc_id, CAST(i.i AS BIGINT) AS chunk_id,
                CAST(i.i * 24 AS BIGINT) AS start_tok,
                CAST(least(32, n_tokens - i.i * 24) AS BIGINT) AS n_chunk_tokens,
                array_to_string(list_slice(toks, i.i * 24 + 1, i.i * 24 + 32), ' ')
                  AS chunk_text
              FROM c, unnest(generate_series(0, n_chunks - 1)) AS i(i)""")),

    QDef(
      "split_assign",
      // reproducible 80/10/10 split: bucket = md5-hex-prefix(doc_id) % 10;
      // membership depends only on the key, so rows never migrate between
      // splits as the corpus grows (never rand(): task retries would
      // resample and leak eval rows into train)
      (s, d) => Sampling.assignSplit(
        t(s, d, "documents").select("doc_id"), "doc_id", 10,
        Seq(("train", 8), ("val", 9), ("test", 10))),
      Some(s"""SELECT doc_id,
                 CASE WHEN u % 10 < 8 THEN 'train'
                      WHEN u % 10 < 9 THEN 'val'
                      ELSE 'test' END AS split
               FROM (SELECT doc_id, ${Sampling.sqlHashU24("doc_id")} AS u
                     FROM documents)""")),

    QDef(
      "t6_bm25",
      // BM25 scoring of the corpus against a 3-term query — idf from the
      // corpus, tf + length normalization per doc, contributions summed in
      // fixed term order (ln verified bit-identical across engines)
      (s, d) => Text.bm25(t(s, d, "documents"), "doc_id", "text", Seq("spark", "join", "window")),
      Some {
        val terms = Seq("spark", "join", "window")
        val tfs = terms.zipWithIndex.map { case (t, i) =>
          s"CAST(sum(CASE WHEN token = '$t' THEN 1 ELSE 0 END) AS BIGINT) AS tf_$i"
        }.mkString(", ")
        val dfs = terms.indices.map(i =>
          s"CAST(sum(CASE WHEN tf_$i > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_$i").mkString(", ")
        val d = (x: String) => s"CAST($x AS DOUBLE)"
        val contribs = terms.indices.map { i =>
          val idf = s"ln((${d("n")} - ${d(s"df_$i")} + ${d("0.5")}) / (${d(s"df_$i")} + ${d("0.5")}) + ${d("1.0")})"
          s"$idf * ((${d(s"tf_$i")} * ${d("2.2")}) / (${d(s"tf_$i")} + ${d("1.2")} * (${d("0.25")} + ${d("0.75")} * (${d("dl")} / (${d("sdl")} / ${d("n")})))))"
        }.mkString(" + ")
        s"""WITH tok AS (SELECT doc_id, unnest(string_split(trim(text), ' ')) AS token
                         FROM documents),
            g AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl, $tfs FROM tok GROUP BY 1),
            st AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(dl) AS BIGINT) AS sdl, $dfs
                   FROM g)
            SELECT doc_id, dl, $contribs AS bm25_score FROM g, st"""
      }),

    QDef(
      "t5_rolling_fingerprint",
      // polynomial rolling hash over the token stream — order-sensitive
      // document fingerprint (md5-based t4 is order-insensitive after
      // normalization; this one distinguishes permutations). Integer
      // modular arithmetic end to end: the fold is h = (h*131 + tok16) mod
      // 1e9+7 with tok16 = first 16 bits of md5(token), seeded at 7 —
      // mirrored exactly by DuckDB's list_reduce.
      (s, d) => {
        val hex = "instr('0123456789abcdef', substr(md5(t), %d, 1)) - 1"
        val tok16 = s"CAST((${hex.format(1)}) * 4096 + (${hex.format(2)}) * 256 + (${hex.format(3)}) * 16 + (${hex.format(4)}) AS BIGINT)"
        t(s, d, "documents").select(
          col("doc_id"),
          expr(s"""aggregate(
               transform(split(trim(text), ' '), t -> $tok16),
               CAST(7 AS BIGINT),
               (a, h) -> (a * 131 + h) % 1000000007)""").as("rfp"))
      },
      Some {
        val hex = "instr('0123456789abcdef', substr(md5(t), %d, 1)) - 1"
        val tok16 = s"(${hex.format(1)}) * 4096 + (${hex.format(2)}) * 256 + (${hex.format(3)}) * 16 + (${hex.format(4)})"
        s"""SELECT doc_id,
            list_reduce(
              list_prepend(CAST(7 AS BIGINT),
                list_transform(string_split(trim(text), ' '), t -> CAST($tok16 AS BIGINT))),
              (a, h) -> (a * 131 + h) % 1000000007) AS rfp
            FROM documents"""
      }),

    QDef(
      "mm1_decode_features",
      // multimodal decode, for real: each document's bytes are encoded as
      // a genuine 24-bit BMP (partition-local encode stage — the fixture
      // generator standing in for payloads that arrive pre-encoded), then
      // the decode stage PARSES the BMP (header validation, bottom-up row
      // walk, stride strip) and feature-extracts the decoded pixel
      // channels into a 16-bin intensity histogram, registered EXPLODED
      // to scalar (doc_id, dim, value) rows. The corpus is pure ASCII
      // (checked at every sf) and the encode layout is known, so the
      // decoded-pixel histogram IS SQL-expressible — DuckDB re-derives it
      // from ord(substr(text, i, 1)) plus the zero padding; bit-identical.
      (s, d) => {
        val enc = Multimodal.encodeBmpPayload(
          t(s, d, "documents").select(col("doc_id"), col("text")), "doc_id", "text")
        Multimodal.decodeFeatures(enc, "doc_id")
          .select(col("doc_id"), posexplode(col("features")).as(Seq("dim", "value")))
          .select(col("doc_id"), col("dim").cast("long").as("dim"), col("value"))
      },
      Some(s"""WITH $mmHistSql
              SELECT doc_id, CAST(dim AS BIGINT) AS dim, value FROM v""")),

    QDef(
      "mm2_pool_features",
      // the "resize" stage of the multimodal pipeline: mean-pool adjacent
      // feature pairs (16 → 8 dims), array-local after the real BMP
      // decode — the oracle averages the same explicit left-to-right pairs
      (s, d) => {
        val enc = Multimodal.encodeBmpPayload(
          t(s, d, "documents").select(col("doc_id"), col("text")), "doc_id", "text")
        val decoded = Multimodal.decodeFeatures(enc, "doc_id")
        Multimodal.resizeFeatures(decoded, "features", Multimodal.FeatureDim, 2, "pooled")
          .select(col("doc_id"), posexplode(col("pooled")).as(Seq("dim", "value")))
          .select(col("doc_id"), col("dim").cast("long").as("dim"), col("value"))
      },
      Some(s"""WITH $mmHistSql
              SELECT va.doc_id, CAST(va.dim // 2 AS BIGINT) AS dim,
                     (va.value + vb.value) / CAST(2.0 AS DOUBLE) AS value
              FROM v va JOIN v vb ON vb.doc_id = va.doc_id AND vb.dim = va.dim + 1
              WHERE va.dim % 2 = 0""")),

    QDef(
      "mm3_decode_audio",
      // the audio leg of the multimodal pipeline: each document's bytes
      // become REAL RIFF/WAVE PCM-16 payloads (samples = (byte-64)·512,
      // spreading ASCII across the amplitude range), the decode stage
      // genuinely walks the chunk list and parses s16le samples, and the
      // feature is the 16-bin amplitude histogram of the decoded audio.
      // The sample map is known, so DuckDB re-derives each bin from
      // ord(...) arithmetic — bin = ((b-64)·512 + 32768) // 4096, always
      // positive, so floor division and arithmetic shift agree
      (s, d) => {
        val enc = Multimodal.encodeWavPayload(
          t(s, d, "documents").select(col("doc_id"), col("text")), "doc_id", "text")
        Multimodal.decodeFeatures(enc, "doc_id")
          .select(col("doc_id"), posexplode(col("features")).as(Seq("dim", "value")))
          .select(col("doc_id"), col("dim").cast("long").as("dim"), col("value"))
      },
      Some("""WITH docs AS (SELECT doc_id, coalesce(text, '') AS text FROM documents),
              mt AS (SELECT doc_id, CAST(strlen(text) AS BIGINT) AS len FROM docs),
              b AS (SELECT doc_id,
                      ((ord(substr(text, CAST(i.i AS INTEGER), 1)) - 64) * 512 + 32768) // 4096 AS bin
                    FROM docs, unnest(generate_series(1, CAST(strlen(text) AS BIGINT))) AS i(i)),
              cnt AS (SELECT doc_id, bin, CAST(count(*) AS BIGINT) AS c FROM b GROUP BY 1, 2),
              v AS (SELECT m.doc_id, dm.dim,
                      CASE WHEN m.len > 0
                           THEN CAST(coalesce(cnt.c, 0) AS DOUBLE) / CAST(m.len AS DOUBLE)
                           ELSE CAST(0.0 AS DOUBLE) END AS value
                    FROM mt m
                    CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS dim) dm
                    LEFT JOIN cnt ON cnt.doc_id = m.doc_id AND cnt.bin = dm.dim)
              SELECT doc_id, CAST(dim AS BIGINT) AS dim, value FROM v""")),

    QDef(
      "mm4_frame_features",
      // frame sampling registered as a CORRECTNESS query (it was
      // test-only): the payload chops into fixed 64-byte frames — the
      // video-frame / audio-window generator expansion — and each frame
      // reports its length and content sha256, so the oracle pins the
      // exact frame boundaries AND bytes. One in-stage generator off the
      // scan, no shuffle
      (s, d) => {
        val withPayload = Multimodal.attachPayload(
          t(s, d, "documents").select(col("doc_id"), col("text")), "text")
        Multimodal.sampleFrames(withPayload, "doc_id", 64)
          .select(
            col("doc_id"),
            col("frame_idx").cast("long").as("frame_idx"),
            octet_length(col("frame_bytes")).cast("long").as("n_bytes"),
            sha2(col("frame_bytes"), 256).as("frame_sha256"))
      },
      Some("""WITH docs AS (SELECT doc_id, coalesce(text, '') AS text FROM documents),
              f AS (SELECT doc_id, i.i AS frame_idx,
                      substr(text, CAST(i.i * 64 + 1 AS INTEGER), 64) AS fb
                    FROM docs, unnest(generate_series(0,
                      greatest((CAST(strlen(text) AS BIGINT) - 1) // 64, 0))) AS i(i))
              SELECT doc_id, CAST(frame_idx AS BIGINT) AS frame_idx,
                CAST(strlen(fb) AS BIGINT) AS n_bytes, sha256(fb) AS frame_sha256
              FROM f""")),

    QDef(
      "mm6_frame_rms",
      // per-frame audio energy (the VAD / loudness-normalization
      // primitive): the REAL WAV decode's sample timeline chopped into
      // 128-sample frames, each reporting its RMS amplitude — silence
      // detection, clipping screens and loudness curves all read this
      // table. Integer s² sums are exact (|s| ≤ 32768 ⇒ frame sums ≪
      // 2^53), one division + correctly-rounded sqrt close each frame;
      // the known affine sample map lets DuckDB re-derive the timeline
      (s, d) => {
        val enc = Multimodal.encodeWavPayload(
          t(s, d, "documents").select(col("doc_id"), col("text")), "doc_id", "text")
        Multimodal.decodeSamples(enc, "doc_id")
          .select(col("doc_id"), posexplode(col("samples")).as(Seq("idx", "s")))
          .withColumn("frame_idx", expr("idx DIV 128").cast("long"))
          .groupBy("doc_id", "frame_idx")
          .agg(
            count(lit(1)).as("n_samples"),
            sqrt(sum(col("s").cast("long") * col("s").cast("long")).cast("double")
              / count(lit(1)).cast("double")).as("rms"))
      },
      Some("""WITH docs AS (SELECT doc_id, coalesce(text, '') AS text FROM documents),
              smp AS (SELECT doc_id, CAST(i.i - 1 AS BIGINT) AS idx,
                        CAST((ord(substr(text, CAST(i.i AS INTEGER), 1)) - 64) * 512 AS BIGINT) AS s
                      FROM docs, unnest(generate_series(1, CAST(strlen(text) AS BIGINT))) AS i(i))
              SELECT doc_id, idx // 128 AS frame_idx, CAST(count(*) AS BIGINT) AS n_samples,
                sqrt(CAST(sum(s * s) AS DOUBLE) / CAST(count(*) AS DOUBLE)) AS rms
              FROM smp GROUP BY 1, 2""")),

    QDef(
      "mm5_phash_groups",
      // perceptual-hash dedup for the multimodal leg: a dHash-style
      // GRADIENT hash over the genuinely-decoded BMP feature vector —
      // bit i = hist[i] > hist[i+1], 15 bits packed into one BIGINT by an
      // order-independent integer sum — buckets payloads whose decoded
      // content has the same intensity SHAPE (robust to payload-length
      // scale, which shifts all bins together; exact-byte dedup d1 would
      // miss re-encoded/padded copies). Each doc reports its bucket, the
      // bucket population and the canonical (min-id) member — the d8
      // keep-policy composition point. Bucket table bounded at 2^15
      // regardless of corpus size
      (s, d) => {
        val enc = Multimodal.encodeBmpPayload(
          t(s, d, "documents").select(col("doc_id"), col("text")), "doc_id", "text")
        val el = (i: Int) => element_at(col("features"), i + 1)
        val phash = (0 until 15)
          .map(i => when(el(i) > el(i + 1), lit(1L << i)).otherwise(lit(0L)))
          .reduce(_ + _)
        val hashed = Multimodal.decodeFeatures(enc, "doc_id")
          .select(col("doc_id"), phash.as("phash"))
        val grp = hashed.groupBy("phash")
          .agg(count(lit(1)).as("n_bucket"), min("doc_id").as("canonical_id"))
        hashed.join(grp, "phash")
          .select("doc_id", "phash", "n_bucket", "canonical_id")
      },
      Some(s"""WITH $mmHistSql,
              ph AS (SELECT va.doc_id,
                       CAST(coalesce(sum(CASE WHEN va.value > vb.value
                         THEN CAST(1 AS BIGINT) << CAST(va.dim AS INTEGER)
                         ELSE CAST(0 AS BIGINT) END), 0) AS BIGINT) AS phash
                     FROM v va JOIN v vb
                       ON vb.doc_id = va.doc_id AND vb.dim = va.dim + 1
                     GROUP BY 1),
              g AS (SELECT phash, CAST(count(*) AS BIGINT) AS n_bucket,
                      min(doc_id) AS canonical_id
                    FROM ph GROUP BY 1)
              SELECT ph.doc_id, ph.phash, g.n_bucket, g.canonical_id
              FROM ph JOIN g USING (phash)""")),

    QDef(
      "mm7_alignment_keep",
      // the CLIP/LAION cross-modal alignment gate — the one standard
      // training-data filter every image-text corpus build runs (LAION
      // kept pairs at CLIP cosine >= 0.28): each document pairs with its
      // embedding on the shared id (vec_id ≡ doc_id, the testdata's
      // parallel-table convention) and is scored by the exact cosine
      // between a deterministic signed hashed bag-of-words text vector
      // (feature hashing — both engines regenerate it from md5, no
      // artifact) and the embedding; the ledger keeps every doc with its
      // score and a fail-closed keep flag at τ = 0 (a NULL score — no
      // paired embedding, zero norm — never passes). Scale: text vector
      // = one explode + map-side hash agg, dot = a co-partitioned
      // equi-join on the id (bucket both sides at 100 TB), calibration
      // of τ is mm8's job — nothing corpus × corpus anywhere
      (s, d) => {
        val (docs, al) = alignment(s, d)
        alignmentLedger(docs, al)
          .select(col("doc_id"), col("source"), col("align_score"), keepAt(lit(0.0d)))
      },
      Some(s"""WITH ${Multimodal.sqlAlignment(64)}
               SELECT d.doc_id, d.source, a.align_score,
                 CAST(coalesce(a.align_score >= CAST(0.0 AS DOUBLE), FALSE)
                   AS BIGINT) AS keep
               FROM documents d LEFT JOIN align a ON a.doc_id = d.doc_id""")),

    QDef(
      "mm8_alignment_calib",
      // per-source calibration quantiles of the alignment score — how a
      // real pipeline picks mm7's τ (LAION's 0.28 was exactly such a
      // calibration): the score is quantized to a 1e-4 grid FIRST
      // (floor(score·1e4)/1e4 — floor is engine-exact on identical
      // doubles, the binaryAuc.scoreScale move) so the two-phase
      // exactQuantiles honors its sub-linear-distinct contract (≤ 2·10⁴
      // distinct values per source at ANY corpus size, vs all-distinct
      // raw cosines), then p10/p25/p50/p75/p90 per source
      (s, d) => {
        val (docs, al) = alignment(s, d)
        Stats.exactQuantiles(alignGrid(docs, al), Seq("source"), "align_q",
          Seq(0.1, 0.25, 0.5, 0.75, 0.9))
      },
      Some(s"""WITH $alignGridSql,
               ${Stats.exactQuantilesSql("sq", "source", "align_q", Seq(0.1, 0.25, 0.5, 0.75, 0.9))}
               SELECT source, q, q_value FROM quant""")),

    QDef(
      "mm9_alignment_keep_calibrated",
      // the mm8 → mm7 handoff PINNED as one composed query: a real
      // pipeline doesn't gate at a hand-picked τ — it calibrates τ per
      // source from the score distribution and feeds it back (LAION's
      // 0.28 was exactly such a calibration). Here each source's τ is its
      // own p10 alignment quantile (drop the worst-aligned decile per
      // source) computed by the EXACT mm8 machinery (1e-4 score grid, so
      // exactQuantiles keeps its sub-linear-distinct contract), broadcast
      // back (sources are sub-linear — the fitted-table rule), and the
      // mm7 ledger keeps a doc iff align_score >= its source's τ —
      // fail-closed on NULL score AND on a source with no calibration row
      // (no scored docs). Determinism: the quantile is the proven mm8
      // value; the comparison is one boolean on bit-identical doubles
      (s, d) => {
        val (docs, al) = alignment(s, d)
        val tau = Stats.exactQuantiles(alignGrid(docs, al), Seq("source"), "align_q", Seq(0.1))
          .select(col("source"), col("q_value").as("tau"))
        alignmentLedger(docs, al)
          .join(broadcast(tau), Seq("source"), "left")
          .select(col("doc_id"), col("source"), col("align_score"), col("tau"), keepAt(col("tau")))
      },
      Some(s"""WITH $alignGridSql,
               ${Stats.exactQuantilesSql("sq", "source", "align_q", Seq(0.1))},
               tau AS (SELECT source, q_value AS tau FROM quant)
               SELECT d.doc_id, d.source, a.align_score, tau.tau,
                 CAST(coalesce(a.align_score >= tau.tau, FALSE) AS BIGINT) AS keep
               FROM documents d
               LEFT JOIN align a ON a.doc_id = d.doc_id
               LEFT JOIN tau ON tau.source = d.source""")),

    QDef(
      "m16_spearman",
      // do two quality filters agree on ORDER? Spearman rank correlation
      // between t2's quality score and t13's unigram log-prob — the
      // monotone-association readout that says whether one signal
      // subsumes the other. Integer average ranks off each signal's
      // distinct-value frame, DECIMAL moment sums, separate decimal→
      // double casts before the closing IEEE dag
      (s, d) => {
        val docs = t(s, d, "documents")
        val q = Text.qualityScore(docs, "doc_id", "text")
          .select(col("doc_id"), col("quality_score"))
        val u = Text.unigramLogProb(docs, "doc_id", "text")
          .select(col("doc_id"), col("avg_logprob"))
        Stats.spearman(q.join(u, "doc_id"), "quality_score", "avg_logprob")
      },
      Some(s"""WITH ${Text.qualitySql()}, ${Text.unigramLogProbSql},
               xy AS (SELECT q.quality_score AS x, u.avg_logprob AS y
                      FROM qual q JOIN ulp u ON u.doc_id = q.doc_id),
               rxc AS (SELECT x AS v, CAST(count(*) AS BIGINT) AS cnt FROM xy GROUP BY 1),
               rx2 AS (SELECT v, 2 * coalesce(sum(cnt) OVER (ORDER BY v
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), CAST(0 AS BIGINT))
                         + cnt + 1 AS r
                       FROM rxc),
               ryc AS (SELECT y AS v, CAST(count(*) AS BIGINT) AS cnt FROM xy GROUP BY 1),
               ry2 AS (SELECT v, 2 * coalesce(sum(cnt) OVER (ORDER BY v
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), CAST(0 AS BIGINT))
                         + cnt + 1 AS r
                       FROM ryc),
               rr AS (SELECT rx2.r AS xr, ry2.r AS yr FROM xy
                      JOIN rx2 ON rx2.v = xy.x JOIN ry2 ON ry2.v = xy.y),
               sm AS (SELECT CAST(count(*) AS HUGEINT) AS n,
                        sum(CAST(xr AS HUGEINT)) AS sx, sum(CAST(yr AS HUGEINT)) AS sy,
                        sum(CAST(xr AS HUGEINT) * yr) AS sxy,
                        sum(CAST(xr AS HUGEINT) * xr) AS sxx,
                        sum(CAST(yr AS HUGEINT) * yr) AS syy
                      FROM rr)
               SELECT CAST(n AS BIGINT) AS n,
                 CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
                      THEN CAST(n * sxy - sx * sy AS DOUBLE)
                           / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                              * sqrt(CAST(n * syy - sy * sy AS DOUBLE)))
                      END AS rho
               FROM sm""")),

    QDef(
      "t15_char_entropy",
      // per-doc character-distribution Shannon entropy (nats) — the
      // gibberish / encoding-junk / low-diversity quality signal that
      // complements t2's token-level ratios: natural text sits in a narrow
      // entropy band, base64 blobs and aaaa-runs fall far outside it.
      // ln is the correctly-rounded MathLn; the per-doc term sum goes
      // through tie-free truncated scale-9 fixed point (entropy ≤ ln 128,
      // so the scaled sum stays far under 2^53) — the t10 recipe at
      // per-doc granularity
      (s, d) => {
        import graft.functions.MathLn
        val chars = t(s, d, "documents")
          .select(col("doc_id"), explode(split(col("text"), "")).as("ch"))
        val cnt = chars.groupBy("doc_id", "ch").agg(count(lit(1)).as("c"))
        val terms = cnt
          .withColumn("n", sum("c").over(Window.partitionBy("doc_id")))
          .withColumn("p", col("c").cast("double") / col("n").cast("double"))
          .withColumn("h_term", col("p") * MathLn(col("p")))
        terms.groupBy("doc_id").agg(
          max(col("n")).as("n_chars"),
          count(lit(1)).as("n_distinct_chars"),
          (-Exact.dsumTrunc9(col("h_term"))).as("char_entropy"))
      },
      Some(s"""WITH ch AS (SELECT doc_id, unnest(string_split(text, '')) AS ch FROM documents),
               cnt AS (SELECT doc_id, ch, CAST(count(*) AS BIGINT) AS c FROM ch GROUP BY 1, 2),
               t AS (SELECT doc_id, c, sum(c) OVER (PARTITION BY doc_id) AS n FROM cnt),
               p2 AS (SELECT doc_id, n, CAST(c AS DOUBLE) / CAST(n AS DOUBLE) AS p FROM t)
               SELECT doc_id, CAST(max(n) AS BIGINT) AS n_chars,
                 CAST(count(*) AS BIGINT) AS n_distinct_chars,
                 -${Exact.sqlDsumTrunc9("p * ln(p)")} AS char_entropy
               FROM p2 GROUP BY 1""")),

    QDef(
      "m14_calibration_bins",
      // the reliability-diagram table (and ECE integrand): quality_score
      // in [0,1] as the "probability", label = is-English; 10 equal-width
      // bins report (n, mean predicted score, observed positive rate).
      // Integer counts + truncated-sum mean + one ratio per bin — the
      // same determinism recipe as the other evaluation ops
      (s, d) => Stats.calibrationBins(calibScored(s, d), "quality_score", "y", 10),
      Some(s"""WITH $calibBinsSql
               SELECT bin, n, mean_score, pos, frac_pos FROM bins""")),

    QDef(
      "m15_ece",
      // the calibration table closed into its scalar: expected calibration
      // error = Σ (n_b/N)·|frac_pos_b − mean_score_b| over m14's bins —
      // the single number a model card quotes. Per-bin |gap| terms are
      // identical IEEE dags in both engines; the bin-count-sized weighted
      // sum goes through tie-free truncated fixed point, one closing
      // division by N
      (s, d) => {
        val bins = Stats.calibrationBins(calibScored(s, d), "quality_score", "y", 10)
        bins.agg(
          sum(col("n")).as("n"),
          (Exact.dsumTrunc9(col("n").cast("double") * abs(col("frac_pos") - col("mean_score")))
            / sum(col("n")).cast("double")).as("ece"))
      },
      Some(s"""WITH $calibBinsSql
               SELECT CAST(sum(n) AS BIGINT) AS n,
                 ${Exact.sqlDsumTrunc9("CAST(n AS DOUBLE) * abs(frac_pos - mean_score)")}
                   / CAST(sum(n) AS DOUBLE) AS ece
               FROM bins""")),

    QDef(
      "profile_documents",
      // the ingest-time data-quality audit: one aggregation pass profiles
      // every column's row/null/distinct counts
      (s, d) => Profiling.profile(t(s, d, "documents"), Seq("doc_id", "lang", "text")),
      Some("""SELECT 'doc_id' AS "column", CAST(count(*) AS BIGINT) AS n_rows,
                CAST(count(*) - count(doc_id) AS BIGINT) AS n_null,
                CAST(count(DISTINCT doc_id) AS BIGINT) AS n_distinct FROM documents
              UNION ALL
              SELECT 'lang', CAST(count(*) AS BIGINT),
                CAST(count(*) - count(lang) AS BIGINT),
                CAST(count(DISTINCT lang) AS BIGINT) FROM documents
              UNION ALL
              SELECT 'text', CAST(count(*) AS BIGINT),
                CAST(count(*) - count(text) AS BIGINT),
                CAST(count(DISTINCT text) AS BIGINT) FROM documents""")),

    QDef(
      "t4_fingerprint",
      (s, d) =>
        t(s, d, "documents").select(
          col("doc_id"),
          Text.fingerprint(col("text")).as("fingerprint"),
          sha2(col("text"), 256).as("sha256"),
          octet_length(col("text")).cast("long").as("byte_len")),
      Some("""SELECT doc_id,
              md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fingerprint,
              sha256(text) AS sha256, CAST(strlen(text) AS BIGINT) AS byte_len
              FROM documents""")),

    QDef(
      "t9_tfidf_topk",
      // per-doc top-3 characteristic terms by smoothed tf-idf (sklearn's
      // ln((1+N)/(1+df)) + 1, via the correctly-rounded MathLn). df and N
      // are vocabulary/scalar-sized → broadcast; the corpus term frame
      // streams. Ranking runs through the custom TopKPerKey heap operator
      // (its second consumer) with the usual total tiebreak; the oracle is
      // the equivalent row_number window.
      (s, d) => {
        val docs = t(s, d, "documents")
        val tok = docs.select(col("doc_id"), explode(Text.tokens(col("text"))).as("token"))
        val tf = tok.groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
        val dfq = tok.groupBy("token").agg(countDistinct(col("doc_id")).as("dfc"))
        val nd = docs.agg(count(lit(1)).as("nd"))
        val sc = tf.join(broadcast(dfq), "token")
          .crossJoin(broadcast(nd))
          .withColumn(
            "score",
            col("tf").cast("double") *
              (graft.functions.MathLn(
                (lit(1.0) + col("nd")) / (lit(1.0) + col("dfc"))) + lit(1.0)))
        TopK.perKey(
          sc.select("doc_id", "token", "tf", "score"),
          Seq("doc_id"), Seq(("score", true), ("token", false)), 3, "rank")
          .select("doc_id", "rank", "token", "tf", "score")
      },
      Some("""WITH tok AS (SELECT doc_id, unnest(string_split(trim(text), ' ')) AS token
                           FROM documents),
              tf AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
                     FROM tok GROUP BY 1, 2),
              dfq AS (SELECT token, CAST(count(DISTINCT doc_id) AS BIGINT) AS dfc
                      FROM tok GROUP BY 1),
              nn AS (SELECT CAST(count(*) AS BIGINT) AS nd FROM documents),
              sc AS (SELECT doc_id, token, tf,
                       CAST(tf AS DOUBLE) *
                         (ln((CAST(1.0 AS DOUBLE) + nd) / (CAST(1.0 AS DOUBLE) + dfc))
                          + CAST(1.0 AS DOUBLE)) AS score
                     FROM tf JOIN dfq USING (token), nn)
              SELECT doc_id, rank, token, tf, score FROM (
                SELECT *, CAST(row_number() OVER (PARTITION BY doc_id
                  ORDER BY score DESC, token) AS BIGINT) AS rank FROM sc)
              WHERE rank <= 3""")),

    QDef(
      "cm_heavy_tokens",
      // heavy-hitter vocabulary terms via a 4x4096 count-min sketch: the
      // grid aggregation map-side-combines to <= 16k cells per partition
      // regardless of corpus size (an exact per-token count shuffles one
      // row per DISTINCT token); estimates are min-of-cells, exact count
      // attached so the one-sided overestimate is visible
      (s, d) =>
        Sketch.countMinHeavyHitters(
          Text.tokenBag(t(s, d, "documents"), "doc_id", "text").select("token"),
          "token", depth = 4, width = 4096, minCount = 200L),
      Some(s"""WITH tok AS (SELECT unnest(string_split(trim(text), ' ')) AS token
                            FROM documents),
               h AS (SELECT token,
                       CAST(md5_number_lower(token) AS HUGEINT) AS h1,
                       CAST(md5_number_upper(token) AS HUGEINT) AS h2 FROM tok),
               lv AS (SELECT unnest(generate_series(0, 3)) AS level),
               cell AS (SELECT level,
                          CAST(((h1 + level * h2) % CAST('18446744073709551616' AS HUGEINT))
                               % 4096 AS BIGINT) AS bucket,
                          CAST(count(*) AS BIGINT) AS cell_n
                        FROM h, lv GROUP BY 1, 2),
               probe AS (SELECT token, CAST(count(*) AS BIGINT) AS exact_n,
                           CAST(md5_number_lower(token) AS HUGEINT) AS h1,
                           CAST(md5_number_upper(token) AS HUGEINT) AS h2
                         FROM tok GROUP BY 1),
               est AS (SELECT token, exact_n, min(cell_n) AS cm_est
                       FROM probe, lv
                       JOIN cell ON cell.level = lv.level
                        AND cell.bucket = CAST(((h1 + lv.level * h2)
                              % CAST('18446744073709551616' AS HUGEINT)) % 4096 AS BIGINT)
                       GROUP BY 1, 2)
               SELECT token, cm_est, exact_n FROM est WHERE cm_est >= 200""")),

    QDef(
      "t10_mix_divergence",
      // per-source language-mix drift: Shannon entropy of each source's
      // language distribution plus its KL divergence from the corpus mix —
      // the data-mixture monitor a multi-source ingest runs per batch.
      // ln is the correctly-rounded MathLn (Spark's builtin is StrictMath,
      // 1 ulp off DuckDB); the handful of per-language terms are summed
      // through tie-free truncated fixed point (a bare double SUM over a
      // group is partition-order-dependent)
      (s, d) => {
        import graft.functions.MathLn
        val docs = t(s, d, "documents")
        val cells = docs.groupBy("source", "lang").agg(count(lit(1)).as("nl"))
        val bySrc = Window.partitionBy("source")
        val total = Window.partitionBy(lit(1))
        val terms = cells
          .withColumn("ns", sum("nl").over(bySrc))
          .withColumn("nlc", sum("nl").over(Window.partitionBy("lang")))
          .withColumn("n", sum("nl").over(total))
          .withColumn("p", col("nl").cast("double") / col("ns").cast("double"))
          .withColumn("q", col("nlc").cast("double") / col("n").cast("double"))
          .withColumn("h_term", col("p") * MathLn(col("p")))
          .withColumn("kl_term", col("p") * MathLn(col("p") / col("q")))
        terms.groupBy("source")
          .agg(
            (-Exact.dsumTrunc4(col("h_term"))).as("entropy"),
            Exact.dsumTrunc4(col("kl_term")).as("kl_vs_corpus"))
      },
      Some(s"""WITH c AS (SELECT source, lang, CAST(count(*) AS BIGINT) AS nl
                          FROM documents GROUP BY 1, 2),
               t AS (SELECT source, lang, nl,
                       sum(nl) OVER (PARTITION BY source) AS ns,
                       sum(nl) OVER (PARTITION BY lang) AS nlc,
                       sum(nl) OVER () AS n
                     FROM c),
               p AS (SELECT source,
                       CAST(nl AS DOUBLE) / CAST(ns AS DOUBLE) AS p,
                       CAST(nlc AS DOUBLE) / CAST(n AS DOUBLE) AS q
                     FROM t)
               SELECT source,
                 -${Exact.sqlDsumTrunc4("p * ln(p)")} AS entropy,
                 ${Exact.sqlDsumTrunc4("p * ln(p / q)")} AS kl_vs_corpus
               FROM p GROUP BY 1""")),

    QDef(
      "t12_token_budget",
      // per-source token-budget curation: greedily keep the best-quality
      // docs (score DESC, doc_id tiebreak) while each source's running
      // token total fits the budget — Sampling.budgetedPrefix over the ONE
      // quality-score definition. Integral cumsum, float used only for
      // ORDERING (bit-identical across engines, so the kept set is too).
      (s, d) => {
        val docs = t(s, d, "documents")
        val q = Text.qualityScore(docs, "doc_id", "text")
          .select("doc_id", "n_tokens", "quality_score")
        Sampling.budgetedPrefix(
            docs.select("doc_id", "source").join(q, "doc_id"),
            Seq("source"),
            Seq(col("quality_score").desc, col("doc_id")),
            "n_tokens", 800L, "cum_tokens")
          .select("source", "doc_id", "n_tokens", "cum_tokens")
      },
      Some(s"""WITH ${Text.qualitySql()},
               j AS (SELECT d.source, q.doc_id, q.n_tokens, q.quality_score
                     FROM qual q JOIN documents d ON d.doc_id = q.doc_id),
               c AS (SELECT source, doc_id, n_tokens,
                       sum(n_tokens) OVER (PARTITION BY source
                         ORDER BY quality_score DESC, doc_id
                         ROWS UNBOUNDED PRECEDING) AS cum_tokens
                     FROM j)
               SELECT source, doc_id, n_tokens, CAST(cum_tokens AS BIGINT) AS cum_tokens
               FROM c WHERE cum_tokens <= 800""")),

    QDef(
      "t13_unigram_logprob",
      // corpus-trained unigram LM quality score (CCNet shape): mean token
      // log-probability per doc. MathLn for libm parity, dsumTrunc9 for an
      // order-independent sum of the per-token log-probs
      (s, d) => Text.unigramLogProb(t(s, d, "documents"), "doc_id", "text"),
      Some(s"""WITH ${Text.unigramLogProbSql}
               SELECT doc_id, n_tokens, avg_logprob FROM ulp""")),

    QDef(
      "t16_bigram_logprob",
      // t13's sequential sibling: mean bigram conditional log-prob per doc
      // (MLE c(w1 w2)/c(w1·) from the corpus's own bigram bag) — scores
      // SEQUENCE typicality where unigram scores vocabulary typicality;
      // shuffled/boilerplate-stitched text keeps its t13 score but craters
      // here. Same MathLn + dsumTrunc9 determinism recipe; fitted tables
      // broadcast explicitly (the planner has no stats on them)
      (s, d) => Text.bigramLogProb(t(s, d, "documents"), "doc_id", "text"),
      Some(s"""WITH tk AS (SELECT doc_id, string_split(trim(text), ' ') AS toks
                           FROM documents),
               bg AS (SELECT doc_id, toks[i] || ' ' || toks[i+1] AS bigram, toks[i] AS w1
                      FROM tk, unnest(generate_series(1, len(toks) - 1)) AS u(i)
                      WHERE len(toks) >= 2),
               cb AS (SELECT bigram, CAST(count(*) AS BIGINT) AS cb FROM bg GROUP BY 1),
               cp AS (SELECT w1, CAST(count(*) AS BIGINT) AS cp FROM bg GROUP BY 1),
               lp AS (SELECT g.doc_id,
                        ln(CAST(cb.cb AS DOUBLE) / CAST(cp.cp AS DOUBLE)) AS l
                      FROM bg g JOIN cb ON cb.bigram = g.bigram JOIN cp ON cp.w1 = g.w1)
               SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
                 ${Exact.sqlDsumTrunc9("l")} / CAST(count(*) AS DOUBLE) AS avg_logprob
               FROM lp GROUP BY 1""")),

    QDef(
      "t14_normalize",
      // Unicode NFC canonicalization ahead of byte-level ops (fingerprints,
      // shingle hashes, equality joins) — native codegen expression, DuckDB
      // twin nfc_normalize. The synthetic corpus is ASCII (NFC = identity);
      // the unicode behavior is pinned in ExactDotSpec on composed vs
      // decomposed forms
      (s, d) => t(s, d, "documents").select(
        col("doc_id"),
        graft.functions.NormalizeNFC(col("text")).as("text_nfc"),
        length(graft.functions.NormalizeNFC(col("text"))).cast("long").as("n_chars_nfc")),
      Some("""SELECT doc_id, nfc_normalize(text) AS text_nfc,
              CAST(length(nfc_normalize(text)) AS BIGINT) AS n_chars_nfc
              FROM documents""")),

    QDef(
      "t11_redact",
      // PII-scrub shape: sequential regex masking + pre-replacement match
      // counts (Text.redact). Rule 1 masks entity words that DO occur in
      // the corpus; rule 2 is a realistic email pattern (zero hits here —
      // the point is the operator, patterns are caller-supplied). Both
      // patterns are RE2-safe so Java regex and DuckDB RE2 agree.
      (s, d) =>
        Text.redact(
          t(s, d, "documents"), "doc_id", "text",
          Seq(
            "\\bcustomer\\b|\\bsupplier\\b" -> "[MASKED]",
            "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}" -> "[EMAIL]")),
      Some("""SELECT doc_id,
              CAST(len(regexp_extract_all(text, '\bcustomer\b|\bsupplier\b'))
                 + len(regexp_extract_all(text, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}'))
                 AS BIGINT) AS n_masked,
              regexp_replace(
                regexp_replace(text, '\bcustomer\b|\bsupplier\b', '[MASKED]', 'g'),
                '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '[EMAIL]', 'g') AS text_redacted
              FROM documents""")),

    QDef(
      "t17_topgram_share",
      // Gopher-class top-n-gram concentration: share of gram occurrences
      // taken by the most frequent 2-gram and 3-gram per doc (the loop-spam
      // signal repetitionScore's dup_frac under-weights). Integer counts +
      // closing divisions; docs with fewer than 3 tokens drop (inner join)
      (s, d) => {
        val docs = t(s, d, "documents")
        def g(k: Int) = Text.topGramShare(docs, "doc_id", "text", k)
          .select(
            col("doc_id"),
            col("n_grams").as(s"n_grams_$k"),
            col("top_gram_count").as(s"top${k}_count"),
            col("top_gram_share").as(s"top${k}_share"))
        g(2).join(g(3), Seq("doc_id"))
      },
      Some {
        def gramSql(k: Int) = {
          val gram = (0 until k).map(j => s"toks[i+$j]").mkString(" || ' ' || ")
          s"""g$k AS (SELECT doc_id, $gram AS gram FROM tk,
                unnest(generate_series(1, len(toks) - ${k - 1})) AS u$k(i)),
              c$k AS (SELECT doc_id, gram, CAST(count(*) AS BIGINT) AS c
                      FROM g$k GROUP BY 1, 2),
              s$k AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_grams_$k,
                        CAST(max(c) AS BIGINT) AS top${k}_count,
                        CAST(max(c) AS DOUBLE) / CAST(sum(c) AS DOUBLE) AS top${k}_share
                      FROM c$k GROUP BY 1)"""
        }
        s"""WITH tk AS (SELECT doc_id, string_split(trim(text), ' ') AS toks FROM documents),
            ${gramSql(2)}, ${gramSql(3)}
            SELECT s2.doc_id, n_grams_2, top2_count, top2_share,
                   n_grams_3, top3_count, top3_share
            FROM s2 JOIN s3 ON s2.doc_id = s3.doc_id"""
      }),

    QDef(
      "t18_bpe_merges",
      // tokenizer fit: 6 greedy BPE merge rules learned from the corpus's
      // word-type histogram (see Text.bpeMerges — literal left-to-right
      // replace on the doubled-space form makes overlapping pairs merge
      // exactly as BPE defines, identically in both engines)
      (s, d) => Text.bpeMergesDf(s, bpeRulesFor(s, d)),
      Some {
        val unions = (1 to bpeRounds).map(r =>
          s"SELECT CAST($r AS BIGINT) AS merge_rank, pair, merged, cnt AS pair_count FROM t$r")
          .mkString(" UNION ALL ")
        s"""WITH ${bpeFitSql(bpeRounds)}
            $unions"""
      }),

    QDef(
      "t19_bpe_encode",
      // tokenizer fit -> APPLY (the m4 scaler pattern for tokenization):
      // encode every doc under the 6 learned merges and report the
      // token-budget numbers — symbol count + chars-per-token compression
      (s, d) => Text.bpeEncodeWith(
        t(s, d, "documents"), "doc_id", "text", bpeRankedPairs(s, d)),
      Some(s"""WITH ${bpeFitSql(bpeRounds)},
            ${bpeEncodeCtes(bpeRounds)}
            SELECT d.doc_id,
              CAST(length(replace(d.text, ' ', '')) AS BIGINT) AS n_chars,
              CAST(len(string_split(trim(d.text), ' ')) AS BIGINT) AS n_words,
              $bpeNTokExpr AS n_bpe_tokens,
              CAST(length(replace(d.text, ' ', '')) AS DOUBLE) / CAST($bpeNTokExpr AS DOUBLE)
                AS chars_per_token
            FROM documents d JOIN e$bpeRounds e ON e.doc_id = d.doc_id""")),

    QDef(
      "t24_bpe_fertility",
      // per-language tokenizer EQUITY audit over the fitted BPE (the
      // XLM-R/NLLB-style fertility table): BPE tokens per word and chars
      // per token, per lang — a tokenizer fitted on a skewed corpus makes
      // some languages pay more sequence length for the same text, and
      // this is the table that shows it. Integral group sums + two exact
      // closing divisions; lang rides the encode projection (no self-join)
      (s, d) => Text.bpeFertilityWith(
        t(s, d, "documents"), "doc_id", "text", "lang", bpeRankedPairs(s, d)),
      Some(s"""WITH ${bpeFitSql(bpeRounds)},
            ${bpeEncodeCtes(bpeRounds)},
            pd AS (SELECT d.doc_id, d.lang,
                     CAST(length(replace(d.text, ' ', '')) AS BIGINT) AS n_chars,
                     CAST(len(string_split(trim(d.text), ' ')) AS BIGINT) AS n_words,
                     $bpeNTokExpr AS n_bpe_tokens
                   FROM documents d JOIN e$bpeRounds e ON e.doc_id = d.doc_id)
            SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
              CAST(sum(n_chars) AS BIGINT) AS n_chars,
              CAST(sum(n_words) AS BIGINT) AS n_words,
              CAST(sum(n_bpe_tokens) AS BIGINT) AS n_bpe_tokens,
              CAST(sum(n_bpe_tokens) AS DOUBLE) / CAST(sum(n_words) AS DOUBLE)
                AS fertility,
              CAST(sum(n_chars) AS DOUBLE) / CAST(sum(n_bpe_tokens) AS DOUBLE)
                AS chars_per_token
            FROM pd GROUP BY 1""")),

    QDef(
      "t25_gopher_rep",
      // within-doc repetition quality rules (Gopher §A1.1, token-gram
      // form): top-bigram slot share (boilerplate/chant) + duplicated-
      // trigram occurrence fraction (internal copy-paste), with the
      // literal 0.2/0.15 flag tier. Integer-count ratios end to end;
      // corpus-level repetition is t17's job, cross-doc duplication the
      // dedup family's. Docs under 3 tokens emit no row
      (s, d) => Text.gopherRepetition(t(s, d, "documents"), "doc_id", "text"),
      Some("""WITH tk AS (SELECT doc_id, string_split(trim(text), ' ') AS toks
                          FROM documents),
              bg AS (SELECT doc_id, toks[i] || ' ' || toks[i+1] AS g
                     FROM tk, unnest(generate_series(1, len(toks) - 1)) AS u(i)
                     WHERE len(toks) >= 3),
              tg AS (SELECT doc_id, toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS g
                     FROM tk, unnest(generate_series(1, len(toks) - 2)) AS u(i)
                     WHERE len(toks) >= 3),
              bc AS (SELECT doc_id, g, CAST(count(*) AS BIGINT) AS c
                     FROM bg GROUP BY 1, 2),
              b AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams,
                      CAST(max(c) AS BIGINT) AS top_bigram_count
                    FROM bc GROUP BY 1),
              tc AS (SELECT doc_id, g, CAST(count(*) AS BIGINT) AS c
                     FROM tg GROUP BY 1, 2),
              t AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_trigrams,
                      CAST(sum(CASE WHEN c >= 2 THEN c ELSE 0 END) AS BIGINT)
                        AS dup_trigram_occ
                    FROM tc GROUP BY 1)
              SELECT b.doc_id, b.n_bigrams, b.top_bigram_count,
                t.n_trigrams, t.dup_trigram_occ,
                CAST(b.top_bigram_count AS DOUBLE) / CAST(b.n_bigrams AS DOUBLE)
                  AS top2gram_share,
                CAST(t.dup_trigram_occ AS DOUBLE) / CAST(t.n_trigrams AS DOUBLE)
                  AS dup3gram_frac,
                CAST(CASE WHEN CAST(b.top_bigram_count AS DOUBLE) / CAST(b.n_bigrams AS DOUBLE) > 0.2
                       OR CAST(t.dup_trigram_occ AS DOUBLE) / CAST(t.n_trigrams AS DOUBLE) > 0.15
                     THEN 1 ELSE 0 END AS BIGINT) AS flagged
              FROM b JOIN t ON t.doc_id = b.doc_id""")),

    QDef(
      "t20_langmix_entropy",
      // code-switching / mixed-language detection: Shannon entropy of the
      // per-language vote distribution from t3's profile matcher — a
      // monolingual doc concentrates its votes (entropy near 0), a
      // code-switched or boilerplate-stitched doc spreads them. Same
      // entropy recipe as t15 (MathLn terms, one negated trunc-9 sum);
      // docs with zero profile-token hits are absent by t3's contract
      (s, d) => {
        import graft.functions.MathLn
        val sc = Text.languageScoresWith(
          t(s, d, "documents"), "doc_id", "text", Q.langProfiles(s, d))
        val terms = sc
          .withColumn("t", sum("score").over(Window.partitionBy("doc_id")))
          .withColumn("p", col("score").cast("double") / col("t").cast("double"))
          .withColumn("h_term", col("p") * MathLn(col("p")))
        terms.groupBy("doc_id").agg(
          count(lit(1)).as("n_langs"),
          (-Exact.dsumTrunc9(col("h_term"))).as("lang_entropy"))
      },
      Some(s"""WITH ${Text.languageScoresSql(20)},
           tt AS (SELECT doc_id, score, sum(score) OVER (PARTITION BY doc_id) AS t FROM sc),
           p2 AS (SELECT doc_id, CAST(score AS DOUBLE) / CAST(t AS DOUBLE) AS p FROM tt)
           SELECT doc_id, CAST(count(*) AS BIGINT) AS n_langs,
             -${graft.ops.Exact.sqlDsumTrunc9("p * ln(p)")} AS lang_entropy
           FROM p2 GROUP BY 1""")),

    QDef(
      "t21_zipf_slope",
      // corpus-health readout: OLS slope/intercept of ln(freq) on ln(rank)
      // over the vocabulary (natural text ~ -1; template spam flattens the
      // head, OCR noise fattens the tail). Ranks are exact integers under
      // (count DESC, token ASC); ln is the correctly-rounded MathLn; moment
      // sums are order-independent trunc-9 decimals; the closing
      // slope/intercept is one fixed expression tree — see Text.zipfFit for
      // why the global rank needs no single-partition window
      (s, d) => Text.zipfFit(t(s, d, "documents"), "text"),
      Some {
        val lnSums =
          s"""${graft.ops.Exact.sqlDsumTrunc9("x")} AS sx,
              ${graft.ops.Exact.sqlDsumTrunc9("y")} AS sy,
              ${graft.ops.Exact.sqlDsumTrunc9("x * y")} AS sxy,
              ${graft.ops.Exact.sqlDsumTrunc9("x * x")} AS sxx"""
        s"""WITH tc AS (SELECT token, CAST(count(*) AS BIGINT) AS cnt FROM
              (SELECT unnest(string_split(trim(text), ' ')) AS token FROM documents)
              GROUP BY 1),
            off AS (SELECT cnt,
                      CAST(coalesce(sum(m) OVER (ORDER BY cnt DESC
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
                        AS before
                    FROM (SELECT cnt, count(*) AS m FROM tc GROUP BY 1)),
            r AS (SELECT t.cnt,
                    o.before + row_number() OVER (PARTITION BY t.cnt ORDER BY t.token)
                      AS rank
                  FROM tc t JOIN off o USING (cnt)),
            m AS (SELECT ln(CAST(rank AS DOUBLE)) AS x, ln(CAST(cnt AS DOUBLE)) AS y
                  FROM r),
            s AS (SELECT CAST(count(*) AS BIGINT) AS n_types, $lnSums FROM m)
            SELECT n_types,
              (CAST(n_types AS DOUBLE) * sxy - sx * sy)
                / (CAST(n_types AS DOUBLE) * sxx - sx * sx) AS zipf_slope,
              (sy - (CAST(n_types AS DOUBLE) * sxy - sx * sy)
                / (CAST(n_types AS DOUBLE) * sxx - sx * sx) * sx)
                / CAST(n_types AS DOUBLE) AS zipf_intercept
            FROM s"""
      }),

    QDef(
      "t22_pmi_topk",
      // collocation mining (word2vec's phrase-detection pass): top-25
      // adjacent pairs by pointwise mutual information, joint count floored
      // at 5 against PMI's low-count bias. Three MathLn terms over exact
      // BIGINT count ratios in one fixed left-assoc dag — no BIGINT-product
      // overflow regime (see Text.pmiCollocations); ranked output carries
      // the (pmi DESC, w1, w2) total order
      (s, d) => Text.pmiCollocations(t(s, d, "documents"), "text", 5, 25),
      Some("""WITH tk AS (SELECT string_split(trim(text), ' ') AS toks
                          FROM documents),
              bg AS (SELECT toks[i] AS w1, toks[i+1] AS w2
                     FROM tk, unnest(generate_series(1, len(toks) - 1)) AS u(i)
                     WHERE len(toks) >= 2),
              cb AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c_xy
                     FROM bg GROUP BY 1, 2),
              uni AS (SELECT w, CAST(count(*) AS BIGINT) AS c_w FROM
                        (SELECT unnest(toks) AS w FROM tk) GROUP BY 1),
              tot AS (SELECT (SELECT CAST(sum(c_xy) AS BIGINT) FROM cb) AS nb,
                             (SELECT CAST(sum(c_w) AS BIGINT) FROM uni) AS nu)
              SELECT w1, w2, c_xy, x.c_w AS c_x, y.c_w AS c_y,
                ln(CAST(c_xy AS DOUBLE) / CAST(nb AS DOUBLE))
                  - ln(CAST(x.c_w AS DOUBLE) / CAST(nu AS DOUBLE))
                  - ln(CAST(y.c_w AS DOUBLE) / CAST(nu AS DOUBLE)) AS pmi
              FROM cb JOIN uni x ON x.w = cb.w1 JOIN uni y ON y.w = cb.w2, tot
              WHERE c_xy >= 5
              ORDER BY pmi DESC, w1, w2 LIMIT 25""")),

    QDef(
      "t26_ppl_buckets",
      // CCNet perplexity bucketing: rank every doc per language by its
      // corpus-trained unigram-LM score (t13's exact pipeline) and cut
      // each language into head/middle/tail thirds — bucket 0 is the
      // "head" slice CCNet keeps outright, 2 the tail it drops or
      // re-filters. The per-language rank rides Sampling.rankBuckets →
      // Windows.chunkedScan chunked on a coarse score quantization
      // (non-decreasing along the (score DESC, doc_id) order), so a
      // billion-doc language never serializes through one window task;
      // the chunking only sets boundaries — ranks are bit-identical to
      // the oracle's direct window. Output is per (lang, bucket) doc and
      // token counts — all integers; the score is float used for ORDERING
      // only (bit-identical in both engines by the t13 contract)
      (s, d) => {
        val docs = t(s, d, "documents")
        val scored = Text.unigramLogProb(docs, "doc_id", "text")
          .join(docs.select("doc_id", "lang"), "doc_id")
        Sampling.rankBuckets(
            scored,
            strata = Seq("lang"),
            orderCols = Seq(col("avg_logprob").desc, col("doc_id")),
            nBuckets = 3,
            chunk = floor(-col("avg_logprob") * lit(16.0d)).cast("long"),
            rankCol = "__r",
            bucketCol = "ppl_bucket")
          .groupBy("lang", "ppl_bucket")
          .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("n_tokens"))
      },
      Some(s"""WITH ${Text.unigramLogProbSql},
               j AS (SELECT sc.doc_id, sc.n_tokens, sc.avg_logprob, d.lang
                     FROM ulp sc JOIN documents d ON d.doc_id = sc.doc_id),
               r AS (SELECT lang, n_tokens,
                       CAST(row_number() OVER (PARTITION BY lang
                         ORDER BY avg_logprob DESC, doc_id) AS BIGINT) AS rk,
                       CAST(count(*) OVER (PARTITION BY lang) AS BIGINT) AS n
                     FROM j)
               SELECT lang, ((rk - 1) * 3) // n AS ppl_bucket,
                 CAST(count(*) AS BIGINT) AS n_docs,
                 CAST(sum(n_tokens) AS BIGINT) AS n_tokens
               FROM r GROUP BY 1, 2""")),

    QDef(
      "a19_weighted_quantiles",
      // exact token-WEIGHTED length quantiles per source: the doc length
      // below which a quarter / half / three-quarters of the source's
      // TOKENS sit — the threshold a token-budget planner actually cuts
      // on, which the unweighted median misrepresents whenever length and
      // mass correlate (they always do). Stats.weightedQuantiles: distinct-
      // value pre-agg (the a11 scale contract), BIGINT cumulative weights,
      // pure ceil-division thresholds — no floating point anywhere
      (s, d) => {
        val docs = t(s, d, "documents")
        Stats.weightedQuantiles(
          docs.select(
            col("source"), col("n_chars"),
            size(Text.tokens(col("text"))).cast("long").as("__wt")),
          Seq("source"), "n_chars", "__wt",
          Seq(("w_p25", 1, 4), ("w_median", 1, 2), ("w_p75", 3, 4)))
      },
      Some("""WITH g AS (SELECT source, n_chars,
                  CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS w
                FROM documents),
              c AS (SELECT source, n_chars, CAST(sum(w) AS BIGINT) AS w
                    FROM g GROUP BY 1, 2),
              r AS (SELECT source, n_chars,
                      CAST(sum(w) OVER (PARTITION BY source ORDER BY n_chars
                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
                      CAST(sum(w) OVER (PARTITION BY source) AS BIGINT) AS tot
                    FROM c)
              SELECT source, CAST(max(tot) AS BIGINT) AS w_total,
                min(CASE WHEN cum >= (tot * 1 + 3) // 4 THEN n_chars END) AS w_p25,
                min(CASE WHEN cum >= (tot * 1 + 1) // 2 THEN n_chars END) AS w_median,
                min(CASE WHEN cum >= (tot * 3 + 3) // 4 THEN n_chars END) AS w_p75
              FROM r GROUP BY 1"""))
  )

  /** Oracle CTE chain for the BPE FIT, shared by t18 (reads the tN rule
    * rows) and t19 (chains the rules onto the doc encode): word-type
    * histogram `wv`, initial symbol state `s0`, then per round r the pair
    * counts `pR`, the argmax rule `tR`, and the merged state `sR` — the
    * exact twin of [[graft.ops.Text.bpeMerges]] (doubled-space literal
    * replace, cnt DESC / pair ASC tie-break).
    */
  private def bpeFitSql(rounds: Int): String = {
    val roundCtes = (1 to rounds).map { r =>
      s"""p$r AS (SELECT toks[i] || ' ' || toks[i+1] AS pair, CAST(sum(freq) AS BIGINT) AS cnt
            FROM (SELECT string_split(sym, ' ') AS toks, freq FROM s${r - 1}),
                 unnest(generate_series(1, len(toks) - 1)) AS u(i)
            GROUP BY 1),
          t$r AS (SELECT pair, replace(pair, ' ', '') AS merged, cnt
                  FROM p$r ORDER BY cnt DESC, pair LIMIT 1),
          s$r AS (SELECT trim(replace(replace(' ' || replace(sym, ' ', '  ') || ' ',
                           ' ' || replace(t$r.pair, ' ', '  ') || ' ',
                           ' ' || t$r.merged || ' '), '  ', ' ')) AS sym, freq
                  FROM s${r - 1}, t$r)"""
    }.mkString(",\n")
    s"""wv AS (SELECT word, CAST(count(*) AS BIGINT) AS freq FROM
            (SELECT unnest(string_split(trim(text), ' ')) AS word FROM documents)
            GROUP BY 1),
        s0 AS (SELECT trim(regexp_replace(word, '(.)', '\\1 ', 'g')) AS sym, freq FROM wv),
        $roundCtes"""
  }

  /** Per-doc encode CTE chain shared by t19/t24: e_r = per-doc symbol
    * strings after rule r; word boundaries are a ' | ' guard symbol no
    * word-internal rule can match across.
    */
  private def bpeEncodeCtes(rounds: Int): String = {
    val encCtes = (1 to rounds).map { r =>
      s"""e$r AS (SELECT doc_id, trim(replace(replace(' ' || replace(sym, ' ', '  ') || ' ',
               ' ' || replace(t$r.pair, ' ', '  ') || ' ',
               ' ' || t$r.merged || ' '), '  ', ' ')) AS sym
           FROM e${r - 1}, t$r)"""
    }.mkString(",\n")
    s"""e0 AS (SELECT doc_id, array_to_string(
             list_transform(string_split(trim(text), ' '),
               w -> trim(regexp_replace(w, '(.)', '\\1 ', 'g'))), ' | ') AS sym
           FROM documents),
        $encCtes"""
  }

  /** Symbol count of the encoded doc minus its (n_words − 1) boundary
    * guards — the BPE token count, for a row joining documents d × eN e.
    */
  private def bpeNTokExpr: String =
    s"""(CAST(len(string_split(e.sym, ' ')) AS BIGINT)
         - (CAST(len(string_split(trim(d.text), ' ')) AS BIGINT) - 1))"""
}
