package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-probe main for operators whose regime testdata can't reach —
  * synthetic corpora sized by CLI args, timed warm with the min of N
  * rounds, in the SAME sbt/JVM environment as [[Bench]] (the round-11
  * probes established that an interactive spark-shell can inflate
  * identical plans 10–40×, so anchors must come from this environment;
  * see BASELINE.md). Usage:
  *   runMain graft.ProbeScale dsir 75000 300000
  *   runMain graft.ProbeScale mine 500 1000
  * Each arg after the probe name is a size; each size runs 1 warm + 2
  * timed rounds and prints one PROBE line per round plus the min. The
  * session is [[Session.local]]'s (4 cores unless `SPARK_GRAFT_CPUS` says
  * otherwise) — anchors taken at 32 cores pass `SPARK_GRAFT_CPUS=32`.
  */
object ProbeScale {
  def main(args: Array[String]): Unit = {
    val spark = Session.local()
    val probe = args.head
    val sizes = args.tail.map(_.toLong)
    val run: Long => (Double, String) = probe match {
      case "dsir" => n => dsir(spark, n)
      case "mine" => n => mine(spark, n.toInt)
      case "skew" => n => skew(spark, n)
      case "buckets" => n => buckets(spark, n)
      case "funnel" => n => funnel(spark, n)
      case "lshfam" => n => lshfam(spark, n)
      case "lshfamgb" => n => lshfam(spark, n, viaGroupBy = true)
      case "align" => n => align(spark, n)
      case "alignmiss" => n => alignMiss(spark, n)
      case "ivfserve" => n => ivfServe(spark, n)
      case "pprhub" => n => pprhub(spark, n)
      case other => sys.error(s"unknown probe: $other")
    }
    val mins = sizes.map { n =>
      run(n) // warm
      val rounds = (1 to 2).map { r =>
        val (dt, note) = run(n)
        println(f"PROBE $probe%s size=$n%-8d round=$r $dt%8.2f s  $note%s")
        dt
      }
      n -> rounds.min
    }
    mins.foreach { case (n, m) => println(f"PROBE $probe%s size=$n%-8d MIN $m%8.2f s") }
    spark.stop()
  }

  /** dsirLedger over a synthetic two-strata corpus: 'en' tokens from
    * [0, 5000), 'xx' from [2500, 7500) — half-overlapping vocabularies,
    * 40 tokens/doc. Claim under test: ~linear in corpus size (B-row
    * histograms + B-row broadcast + one scoring shuffle).
    */
  private def dsir(spark: SparkSession, n: Long): (Double, String) = {
    val docs = spark.range(n)
      .select(
        col("id").as("doc_id"),
        when(pmod(col("id"), lit(2)) === 0, lit("en")).otherwise(lit("xx")).as("lang"))
      .withColumn("text", concat_ws(" ",
        transform(sequence(lit(0), lit(39)),
          i => concat(lit("w"), pmod(hash(col("doc_id"), i), lit(5000))
            + when(col("lang") === "xx", 2500).otherwise(0)))))
      .select("doc_id", "lang", "text")
      .localCheckpoint(true)
    val t0 = System.nanoTime()
    val led = graft.ops.Sampling.dsirLedger(docs, "doc_id", "text", "lang", "en", 256, 100)
    val r = led.agg(sum("sel_rank"), sum(col("dsir_logweight").cast("double"))).collect()
    graft.ops.Caches.releaseAll()
    docs.unpersist(true)
    ((System.nanoTime() - t0) / 1e9, s"checksum=${r(0)}")
  }

  /** The registered sim_margin_mine builder ([[graft.queries.SimilarityQ.marginMine]])
    * over synthetic 16-dim vectors in 10 hash-assigned blocks, `perSide`
    * vectors per side per block. Claim under test: cost tracks
    * pairs-per-block (the block key is the knob that bounds candidates),
    * and mined pairs stay a matching.
    */
  private def mine(spark: SparkSession, perSide: Int): (Double, String) = {
    val e = spark.range(2L * perSide * 10)
      .select(
        col("id").as("vec_id"),
        pmod(hash(col("id")), lit(10)).cast("int").as("label"),
        transform(sequence(lit(0), lit(15)),
          i => (pmod(hash(col("id"), i), lit(1000)).cast("double") / 500.0 - 1.0))
          .as("embedding"))
      .localCheckpoint(true)
      .withColumn("n2", graft.ops.Vectors.norm2Exact(col("embedding")))
    val t0 = System.nanoTime()
    val mined = graft.queries.SimilarityQ.marginMine(e).count()
    graft.ops.Caches.releaseAll()
    e.unpersist(true)
    ((System.nanoTime() - t0) / 1e9,
      s"mined=$mined pairsPerBlock~${perSide.toLong * perSide}")
  }

  /** keySkewAudit over a DELIBERATELY skewed synthetic feed: 4 groups,
    * half of each group's rows on ONE hot key, the rest spread over
    * ~n/64 cold keys. Claim under test: the Gini rank rides chunkedScan
    * keyed on the count value, so the audit stays ~linear and no group
    * funnels its key table through one window task — the audit of the
    * audit (it must be cheap on exactly the feeds it exists to flag).
    */
  private def skew(spark: SparkSession, n: Long): (Double, String) = {
    val df = spark.range(n)
      .select(
        concat(lit("g"), pmod(col("id"), lit(4))).as("g"),
        // id DIV 4 alternates WITHIN each id%4 group (an id%2 hot rule
        // would correlate with the group key and hand two groups a
        // 100%-hot singleton key)
        when(pmod(expr("id DIV 4"), lit(2)) === 0, lit(-1L))
          .otherwise(pmod(hash(col("id")), lit(n / 64 + 1))).as("k"))
      .localCheckpoint(true)
    val t0 = System.nanoTime()
    val r = graft.ops.Skew.keySkewAudit(df, "g", "k")
      .agg(sum("n_keys"), max("top_share_ppm"), max("gini")).collect()
    df.unpersist(true)
    ((System.nanoTime() - t0) / 1e9, s"checksum=${r(0)}")
  }

  /** rankBuckets over ONE giant stratum — the regime the chunked scan
    * exists for (a direct per-stratum window would serialize all n rows
    * through one task): tertile-bucket n rows of one language by a
    * ~100-distinct-value score, chunked on the score quantization.
    * Claim under test: ~linear scaling, parallelism = score chunks.
    */
  private def buckets(spark: SparkSession, n: Long): (Double, String) = {
    val df = spark.range(n)
      .select(
        col("id").as("doc_id"), lit("en").as("lang"),
        (pmod(hash(col("id")), lit(97)).cast("double") * lit(-0.1)).as("score"))
      .localCheckpoint(true)
    val t0 = System.nanoTime()
    val r = graft.ops.Sampling.rankBuckets(
        df, Seq("lang"), Seq(col("score").desc, col("doc_id")), 3,
        chunk = floor(-col("score") * lit(2.0d)).cast("long"),
        rankCol = "rk", bucketCol = "b")
      .groupBy("b").agg(count(lit(1)).as("n"), sum("rk").as("s"))
      .orderBy("b").collect()
    df.unpersist(true)
    ((System.nanoTime() - t0) / 1e9,
      s"buckets=${r.map(_.getLong(1)).mkString(",")}")
  }

  /** The d14 collapsed LSH dedup over a synthetic corpus with a PLANTED
    * exact-dup family: n/3 docs are ONE identical text (the boilerplate
    * family routine in web corpora), the other 2n/3 are hash-unique.
    * Claim under test: candidate work is LINEAR in n through the hot
    * family — identical signatures collapse to one representative BEFORE
    * the band self-join (`Dedup.sigClusterMembers`), so the family costs
    * one banded row plus f−1 membership edges at the component stage,
    * never f²/2 expanded pairs (which at f = 100k would be 5·10⁹ join
    * rows — the regime BASELINE.md's uncapped jaccardPairs probe measured
    * as fatal).
    *
    * `lshfamgb` runs the same pipeline with the collapse's
    * extreme-family escape (`sigClusterMembers(…, viaGroupBy = true)`)
    * so both regimes of the window-vs-groupBy tradeoff stay measured at
    * matched sizes (the window form wins while the family fits one
    * spill-backed task; the groupBy form bounds the 10⁷+-member
    * straggler).
    */
  private def lshfam(
      spark: SparkSession, n: Long, viaGroupBy: Boolean = false): (Double, String) = {
    val fam = n / 3
    val docs = spark.range(n)
      .select(
        col("id").as("doc_id"),
        when(col("id") < fam,
          lit("the planted boilerplate family text repeated verbatim across many documents"))
          .otherwise(concat_ws(" ",
            transform(sequence(lit(0), lit(11)),
              i => concat(lit("w"), pmod(hash(col("id"), i), lit(2000000)))))).as("text"))
      .localCheckpoint(true)
    val t0 = System.nanoTime()
    val sig = graft.ops.Dedup.minhashSignaturesLocal(docs, "doc_id", "text", 3, 8)
    val members = graft.ops.Caches.trackPersist(
      graft.ops.Dedup.sigClusterMembers(sig, "doc_id", 8, viaGroupBy = viaGroupBy))
    val repPairs = graft.ops.Dedup.lshRepCandidates(members, "doc_id", 8, 4)
      .filter(col("n_equal") >= 6).select("a_id", "b_id")
    val memberEdges = members.filter(col("doc_id") =!= col("__rep"))
      .select(col("__rep").as("a_id"), col("doc_id").as("b_id"))
    val comp = graft.ops.Dedup.connectedComponents(
      repPairs.unionByName(memberEdges), "a_id", "b_id")
    val r = comp.agg(count(lit(1)), countDistinct(col("comp"))).collect()
    graft.ops.Caches.releaseAll()
    docs.unpersist(true)
    ((System.nanoTime() - t0) / 1e9, s"family=$fam [labelled,clusters]=${r(0)}")
  }

  /** Synthetic documents for the alignment probes: n docs (doc_id 0..n−1)
    * of 20 tokens from a 50k vocabulary.
    */
  private def synthDocs(spark: SparkSession, n: Long): DataFrame =
    spark.range(n)
      .select(
        col("id").as("doc_id"),
        concat_ws(" ", transform(sequence(lit(0), lit(19)),
          i => concat(lit("w"), pmod(hash(col("id"), i), lit(50000))))).as("text"))

  /** n synthetic 64-dim embeddings hashed from their row id, keyed
    * `vec_id = idStep·id`.
    */
  private def synthEmbeddings(spark: SparkSession, n: Long, idStep: Long = 1L): DataFrame =
    spark.range(n)
      .select(
        (col("id") * idStep).as("vec_id"),
        transform(sequence(lit(1), lit(64)),
          i => (pmod(hash(col("id"), i, lit(7)), lit(1000)).cast("double") / 500.0 - 1.0)
            .cast("float")).as("embedding"))

  /** The mm7 cross-modal alignment gate over synthetic paired tables: n
    * docs of 20 tokens from a 50k vocabulary, n 64-dim hash-derived
    * embeddings on the shared id. Claim under test: LINEAR in n — the
    * text vector is one explode + map-side hash agg (≤ 64 rows per doc
    * out), the dot a co-partitioned equi-join on the id, the norms one
    * agg each; nothing corpus × corpus anywhere.
    */
  private def align(spark: SparkSession, n: Long): (Double, String) = {
    val docs = synthDocs(spark, n).localCheckpoint(true)
    val embs = synthEmbeddings(spark, n).localCheckpoint(true)
    val t0 = System.nanoTime()
    val al = graft.queries.TextQ.alignmentScores(docs, embs)
    val r = al.agg(
      count(lit(1)),
      sum(when(col("align_score") >= 0, 1L).otherwise(0L))).collect()
    graft.ops.Caches.releaseAll()
    docs.unpersist(true); embs.unpersist(true)
    ((System.nanoTime() - t0) / 1e9, s"[scored,kept>=0]=${r(0)}")
  }

  /** The alignment gate at the NON-parallel-id regime (mm7 assumes
    * vec_id ≡ doc_id only because the testdata ships parallel tables):
    * n docs with ids 0..n−1, n embeddings keyed vec_id = 2·id — so only
    * EVEN doc ids find a paired embedding (n/2 pairs), half the docs have
    * no pair at all, and half the embeddings (vec_id ≥ n) match no doc.
    * Runs the registered mm7 ledger (docs LEFT JOIN scores, fail-closed
    * keep). Claims under test: (1) the unpaired-doc path is the documented
    * fail-closed NULL → keep=0, counted in the note; (2) cost stays the
    * parallel-id probe's — the dot is still one equi-join on the id
    * (co-partitioned/bucketed at 100 TB), and missing ids only SHRINK the
    * join output; nothing degenerates toward corpus × corpus.
    */
  private def alignMiss(spark: SparkSession, n: Long): (Double, String) = {
    import graft.queries.TextQ
    val docs = synthDocs(spark, n).localCheckpoint(true)
    val embs = synthEmbeddings(spark, n, idStep = 2L).localCheckpoint(true)
    val t0 = System.nanoTime()
    val ledger = TextQ.alignmentLedger(docs, TextQ.alignmentScores(docs, embs))
      .select(col("doc_id"), TextQ.keepAt(lit(0.0d)))
    val r = ledger.agg(
      count(lit(1)), sum(col("keep")),
      sum(when(col("keep") === 0L, 1L).otherwise(0L))).collect()
    graft.ops.Caches.releaseAll()
    docs.unpersist(true); embs.unpersist(true)
    ((System.nanoTime() - t0) / 1e9, s"[docs,kept,failclosed]=${r(0)}")
  }

  /** The memoized fit/route split at scale: ONE IvfQuantizer.fitCollect
    * (k=8, 2 Lloyd iters, vec_id % 4 sample — the sim-family shape) vs ONE
    * full-corpus fitRankedFrom assignment served from the collected table.
    * Claims under test: the fit is sample-sized (its wall tracks n/4, not
    * consumer count), the serve is one broadcast assignment (linear, no
    * Lloyd passes), and at the memoized steady state each ADDITIONAL
    * consumer pays only the serve — the round-14 memoization's 100×-scale
    * cost model, measured instead of argued.
    */
  private def ivfServe(spark: SparkSession, n: Long): (Double, String) = {
    val e = synthEmbeddings(spark, n)
      .withColumn("n2", graft.ops.Vectors.norm2Exact(col("embedding")))
      .localCheckpoint(true)
    val t0 = System.nanoTime()
    val fit = graft.ml.IvfQuantizer.fitCollect(e, "vec_id", "embedding", "n2", 8, 2, sampleEvery = 4)
    val tFit = (System.nanoTime() - t0) / 1e9
    graft.ops.Caches.releaseAll()
    val t1 = System.nanoTime()
    val cells = graft.ml.IvfQuantizer
      .fitRankedFrom(e, "vec_id", "embedding", "n2", fit)
      .filter(col("cell_rank") === 1)
      .groupBy("cell").agg(count(lit(1)).as("m")).collect()
    val tServe = (System.nanoTime() - t1) / 1e9
    e.unpersist(true)
    ((System.nanoTime() - t0) / 1e9,
      f"fit=$tFit%.2f s serve=$tServe%.2f s cells=${cells.length}%d")
  }

  /** personalizedPagerankScaled at a HUB-SEED regime: n nodes, ~2n edges
    * (a ring for connectivity + n random chords), plus node 0 as a hub
    * with n/10 extra out-edges — and node 0 is the ONLY seed. Claim under
    * test: the seeded-restart join shape costs the same as g1's uniform
    * PageRank at equal size (the seed frame joins the node frame once per
    * round; the hub's fan-out rides the same edge-sized shuffles — no
    * per-seed serialization), so g5's 1M-scale behavior follows from g1's
    * probe rather than being inferred.
    */
  private def pprhub(spark: SparkSession, n: Long): (Double, String) = {
    val ring = spark.range(n).select(col("id").as("a"), pmod(col("id") + 1, lit(n)).as("b"))
    val chords = spark.range(n).select(col("id").as("a"),
      pmod(hash(col("id"), lit(7)).cast("long"), lit(n)).as("b"))
    val hub = spark.range(n / 10).select(lit(0L).as("a"),
      pmod(hash(col("id"), lit(13)).cast("long"), lit(n)).as("b"))
    val pairs = ring.union(chords).union(hub).filter(col("a") =!= col("b"))
      .localCheckpoint(true)
    val nodes = spark.range(n).select(col("id").as("node_id")).localCheckpoint(true)
    val seeds = nodes.filter(col("node_id") === 0L)
    val t0 = System.nanoTime()
    val pr = graft.ops.Graph.personalizedPagerankScaled(
      pairs, nodes, seeds, "a", "b", "node_id", iters = 5)
    val r = pr.agg(sum(col("rank_scaled")), max(col("rank_scaled"))).collect()
    graft.ops.Caches.releaseAll()
    pairs.unpersist(true); nodes.unpersist(true)
    ((System.nanoTime() - t0) / 1e9, s"hubEdges=${n / 10} checksum=${r(0)}")
  }

  /** The REGISTERED `cur_funnel` query end-to-end over a synthetic
    * documents corpus written to /tmp (5 languages with partially
    * overlapping vocabularies so the lang-ID stage has real work; every
    * 100th doc is an exact copy of its predecessor so the dedup stage
    * fires). Claim under test: the flagship curation composition —
    * lang-vote fit+score, quality, Gopher grams, fingerprint dedup,
    * per-lang budget — stays ~linear in corpus size (every stage is
    * aggregation/join-shaped; nothing pairs docs against docs).
    */
  private def funnel(spark: SparkSession, n: Long): (Double, String) = {
    val dir = s"/tmp/probe_funnel_$n"
    val base = expr("id - CASE WHEN id % 100 = 99 THEN 1 ELSE 0 END")
    val langIdx = pmod(base, lit(5))
    spark.range(n)
      .select(
        col("id").as("doc_id"),
        element_at(
          typedLit(Seq("de", "en", "es", "fr", "zh")), (langIdx + 1).cast("int")).as("lang"),
        concat_ws(" ",
          transform(sequence(lit(0), lit(39)),
            i => concat(lit("w"),
              pmod(hash(base, i), lit(2000)) + langIdx * 1500))).as("text"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val t0 = System.nanoTime()
    val led = SparkEntry.queries("cur_funnel")(spark, dir)
    val r = led.agg(
      count(lit(1)), sum("keep"),
      sum(when(col("killed_by") === "dedup", 1L).otherwise(0L)),
      sum(when(col("killed_by") === "lang", 1L).otherwise(0L))).collect()
    graft.ops.Caches.releaseAll()
    ((System.nanoTime() - t0) / 1e9, s"[rows,kept,dedupKills,langKills]=${r(0)}")
  }
}
