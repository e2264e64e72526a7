package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Round-4 pipeline operators: CDC upsert, funnel matching, dyadic EWMA,
  * z-score outliers, token-block dedup, scaled-integer PageRank.
  */
class PipelineOpsSpec extends SparkSpec {
  import spark.implicits._

  test("Cdc.upsert: updates win, base survives unmatched keys, order breaks within-side ties") {
    val base = Seq((1L, 10L, "b1"), (2L, 20L, "b2"), (3L, 30L, "b3"))
      .toDF("k", "ts", "v")
    val updates = Seq((1L, 5L, "u-old"), (2L, 25L, "u-new"), (2L, 24L, "u-mid"))
      .toDF("k", "ts", "v")
    val out = Cdc.upsert(base, updates, Seq("k"), Seq(col("ts")))
      .select("k", "v").as[(Long, String)].collect().toMap
    // k=1: base ts=10 beats update ts=5 (latest wins, not update-always-wins)
    // k=2: update ts=25 is the max; k=3: untouched base row
    assert(out == Map(1L -> "b1", 2L -> "u-new", 3L -> "b3"))
  }

  test("Cdc.upsert: full order tie goes to the update row") {
    val base = Seq((1L, 10L, "base")).toDF("k", "ts", "v")
    val updates = Seq((1L, 10L, "update")).toDF("k", "ts", "v")
    val out = Cdc.upsert(base, updates, Seq("k"), Seq(col("ts")))
      .select("v").as[String].head()
    assert(out == "update")
  }

  test("Cdc.scd2: half-open intervals tile the timeline, one open current row per key") {
    val changes = Seq(
      (1L, 10L, 100L, "a"), (1L, 20L, 101L, "b"), (1L, 30L, 102L, "c"),
      (2L, 5L, 200L, "x"),
      // same-instant tie on key 3: event_id extends the order
      (3L, 7L, 301L, "t1"), (3L, 7L, 302L, "t2"))
      .toDF("k", "ts", "eid", "v")
    val out = Cdc.scd2(changes, Seq("k"), "ts", Seq(col("ts"), col("eid")))
      .select("k", "eid", "valid_from", "valid_to", "version", "is_current")
      .as[(Long, Long, Long, Option[Long], Long, Long)].collect().toSet
    assert(out == Set(
      (1L, 100L, 10L, Some(20L), 1L, 0L),
      (1L, 101L, 20L, Some(30L), 2L, 0L),
      (1L, 102L, 30L, None, 3L, 1L),
      (2L, 200L, 5L, None, 1L, 1L),
      (3L, 301L, 7L, Some(7L), 1L, 0L),
      (3L, 302L, 7L, None, 2L, 1L)))
  }

  test("Cdc.snapshotDiff: I/U/D classification, null-safe compare, payload shape") {
    // k=1 unchanged (emits nothing); k=2 updated; k=3 deleted; k=4 inserted;
    // k=5 NULL->NULL unchanged (presence flags, not payload nullness);
    // k=6 NULL->value is an update
    val oldSnap = Seq(
      (1L, Option("a")), (2L, Option("b")), (3L, Option("c")),
      (5L, Option.empty[String]), (6L, Option.empty[String]))
      .toDF("k", "v")
    val newSnap = Seq(
      (1L, Option("a")), (2L, Option("B")), (4L, Option("d")),
      (5L, Option.empty[String]), (6L, Option("now")))
      .toDF("k", "v")
    val out = Cdc.snapshotDiff(oldSnap, newSnap, Seq("k"), Seq("v"))
      .select("k", "op", "v", "v_old")
      .as[(Long, String, Option[String], Option[String])].collect().toSet
    assert(out == Set(
      (2L, "U", Some("B"), Some("b")),
      (3L, "D", Some("c"), Some("c")),
      (4L, "I", Some("d"), None),
      (6L, "U", Some("now"), None)))
  }

  test("Cdc.snapshotDiff: empty compareCols is a presence-only I/D diff") {
    val oldSnap = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    val newSnap = Seq((1L, "CHANGED"), (3L, "c")).toDF("k", "v")
    val out = Cdc.snapshotDiff(oldSnap, newSnap, Seq("k"), Nil)
      .select("k", "op").as[(Long, String)].collect().toSet
    // k=1 present on both sides: never U without compare columns
    assert(out == Set((2L, "D"), (3L, "I")))
  }

  test("Cdc.snapshotDiff -> applyCdc round-trip rebuilds the new snapshot") {
    val oldSnap = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
    val newSnap = Seq((1L, "a"), (2L, "B"), (4L, "d")).toDF("k", "v")
    val diff = Cdc.snapshotDiff(oldSnap, newSnap, Seq("k"), Seq("v")).drop("v_old")
    val rebuilt = Cdc.applyCdc(oldSnap, diff, Seq("k"), Seq(lit(0)))
      .as[(Long, String)].collect().toSet
    assert(rebuilt == newSnap.as[(Long, String)].collect().toSet)
  }

  test("Funnel.steps: strict in-order matching, stalls keep later steps NULL") {
    // u1 completes A->B->C; u2 has B before A (stalls at A... B after? no B
    // after its A) -> only step1; u3 never does A -> 0 steps
    val ev = Seq(
      (1L, "A", 10L), (1L, "B", 20L), (1L, "C", 30L),
      (2L, "B", 5L), (2L, "A", 8L),
      (3L, "B", 1L), (3L, "C", 2L))
      .toDF("u", "et", "ts")
    val out = Funnel.steps(ev, "u", "et", "ts", Seq("A", "B", "C"))
      .select("u", "steps_completed").as[(Long, Long)].collect().toMap
    assert(out == Map(1L -> 3L, 2L -> 1L, 3L -> 0L))
  }

  test("Funnel.steps: same-timestamp step is NOT a match (strictly after)") {
    val ev = Seq((1L, "A", 10L), (1L, "B", 10L)).toDF("u", "et", "ts")
    val out = Funnel.steps(ev, "u", "et", "ts", Seq("A", "B"))
    assert(out.select("steps_completed").as[Long].head() == 1L)
  }

  test("ewmaDyadic matches the recursive definition once warm (row >= lags)") {
    // alpha=1/2 truncated at 32 lags: for rows past the warm-up the
    // truncation error vs s_i = (v_i + s_{i-1})/2 is below 2^-31 * v_max
    val n = 64
    val vs = (1 to n).map(i => (i % 7 + 1).toDouble * 1.5)
    val df = vs.zipWithIndex.map { case (v, i) => ("k", i.toLong, v) }
      .toDF("k", "ts", "v")
    val out = Windows.ewmaDyadic(df, Seq("k"), Seq(col("ts")), "v", carry = Seq("ts"))
      .select("ts", "ewma").as[(Long, Double)].collect().toMap
    var s = vs.head
    val expect = vs.zipWithIndex.map { case (v, i) =>
      s = if (i == 0) v else (v + s) / 2.0
      i.toLong -> s
    }.toMap
    (40 until n).foreach { i =>
      assert(math.abs(out(i.toLong) - expect(i.toLong)) < 1e-5,
        s"row $i: ${out(i.toLong)} vs ${expect(i.toLong)}")
    }
  }

  test("ewmaDyadic first row equals its own (quantized) value") {
    val df = Seq(("k", 1L, 3.25)).toDF("k", "ts", "v")
    val out = Windows.ewmaDyadic(df, Seq("k"), Seq(col("ts")), "v")
      .select("ewma").as[Double].head()
    assert(out == 3.25) // 3.25e6 is integral: no quantization loss
  }

  test("zOutliers flags only beyond-threshold rows and skips sd=0 groups") {
    val g1 = Seq.fill(20)(10.0) :+ 100.0 // one extreme row
    val g2 = Seq.fill(5)(7.0) // constant: sd = 0, must not divide
    val df = (g1.map(("a", _)) ++ g2.map(("b", _))).zipWithIndex
      .map { case ((k, v), i) => (k, i.toLong, v) }.toDF("k", "id", "v")
    val out = Stats.zOutliers(df, Seq("k"), "v", 2.5)
    val rows = out.select("k", "v").as[(String, Double)].collect()
    assert(rows.toSeq == Seq(("a", 100.0)))
  }

  test("tokenBlockStats: recurring block counts against all but the first occurrence") {
    val block = (1 to 8).map(i => s"w$i").mkString(" ")
    val other = (11 to 18).map(i => s"x$i").mkString(" ")
    val df = Seq(
      (1L, s"$block $other"), // doc 1: both blocks first occurrences
      (2L, s"$other $block"), // doc 2: both blocks are dups
      (3L, "a b c")) // shorter than one block: no rows
      .toDF("doc_id", "text")
    val out = Dedup.tokenBlockStats(df, "doc_id", "text", 8)
      .select("doc_id", "n_blocks", "dup_blocks").as[(Long, Long, Long)]
      .collect().map { case (k, a, b) => k -> ((a, b)) }.toMap
    assert(out(1L) == ((2L, 0L)))
    assert(out(2L) == ((2L, 2L)))
    assert(!out.contains(3L))
  }

  test("pagerankScaled: symmetric pair graph concentrates rank on the hub") {
    // star: 1 is connected to 2, 3, 4; node 5 isolated
    val pairs = Seq((1L, 2L), (1L, 3L), (1L, 4L)).toDF("a", "b")
    val nodes = Seq(1L, 2L, 3L, 4L, 5L).toDF("id0")
    val out = Graph.pagerankScaled(pairs, nodes, "a", "b", "id0", iters = 5)
      .select("id", "rank_scaled").as[(Long, Long)].collect().toMap
    assert(out(1L) > out(2L)) // hub outranks leaves
    assert(out(2L) == out(3L) && out(3L) == out(4L)) // symmetric leaves tie
    assert(out(5L) == 150000000000L) // isolated: base rank only
    Caches.releaseAll()
  }

  test("personalizedPagerankScaled: all-nodes seed == plain PageRank bit-for-bit; mass flows from seeds") {
    val pairs = Seq((1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L)).toDF("a", "b")
    val nodes = Seq(1L, 2L, 3L, 4L, 5L, 6L).toDF("id0")
    // strict generalization: seeding EVERY node reproduces pagerankScaled
    val plain = Graph.pagerankScaled(pairs, nodes, "a", "b", "id0", iters = 5)
      .orderBy("id").as[(Long, Long)].collect().toSeq
    Caches.releaseAll()
    val allSeed = Graph.personalizedPagerankScaled(
        pairs, nodes, nodes, "a", "b", "id0", iters = 5)
      .orderBy("id").select("id", "rank_scaled").as[(Long, Long)].collect().toSeq
    Caches.releaseAll()
    assert(allSeed == plain)
    // seed only node 1: its triangle (2, 3) earns rank through in-edges,
    // the disconnected component (4, 5) and the isolated node 6 hold 0 —
    // the conservative-allowlist contract
    val ppr = Graph.personalizedPagerankScaled(
        pairs, nodes, Seq(1L).toDF("id0"), "a", "b", "id0", iters = 5)
      .select("id", "is_seed", "rank_scaled").as[(Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    Caches.releaseAll()
    assert(ppr(1L)._1 == 1L && ppr.filterKeys(_ != 1L).forall(_._2._1 == 0L))
    assert(ppr(1L)._2 >= 150000000000L) // seed holds at least the base term
    assert(ppr(2L)._2 > 0L && ppr(3L)._2 > 0L) // reachable from the seed
    assert(ppr(2L)._2 == ppr(3L)._2) // symmetric neighbors tie
    assert(ppr(4L)._2 == 0L && ppr(5L)._2 == 0L && ppr(6L)._2 == 0L)
    // local integer-arithmetic reference (same recurrence, same DIVs)
    val edges = Seq((1L, 2L), (2L, 1L), (1L, 3L), (3L, 1L), (2L, 3L), (3L, 2L),
      (4L, 5L), (5L, 4L))
    val deg = edges.groupBy(_._1).map { case (s, es) => s -> es.size.toLong }
    val sc = 1000000000000L
    var r = Map(1L -> sc, 2L -> 0L, 3L -> 0L, 4L -> 0L, 5L -> 0L, 6L -> 0L)
    for (_ <- 1 to 5) {
      val contrib = edges.groupBy(_._2).map { case (dst, es) =>
        dst -> es.map { case (s, _) => r(s) / deg(s) }.sum
      }
      r = r.keys.map { id =>
        id -> ((if (id == 1L) 15L * sc / 100 else 0L) + 85L * contrib.getOrElse(id, 0L) / 100L)
      }.toMap
    }
    ppr.foreach { case (id, (_, got)) => assert(got == r(id), s"node $id: $got != ${r(id)}") }
  }

  test("pagerankScaled: 12 cut rounds == a plain-Scala scaled-integer reference") {
    val pairs = Seq((1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L), (3L, 4L)).toDF("a", "b")
    val nodes = Seq(1L, 2L, 3L, 4L, 5L, 6L).toDF("id0")
    val got = Graph.pagerankScaled(pairs, nodes, "a", "b", "id0", iters = 12)
    val rows = got.as[(Long, Long)].collect().toMap
    // the rounds before the last were cut: a LogicalRDD scan leaf
    // replaces the nested join tower
    assert(got.queryExecution.optimizedPlan.toString.contains("LogicalRDD"))
    Caches.releaseAll()
    // scaled-integer reference: rank DIV deg per edge, base + 85·Σ DIV 100
    val und = Seq((1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L), (3L, 4L))
    val edges = und ++ und.map(_.swap)
    val deg = edges.groupBy(_._1).map { case (s, es) => s -> es.size.toLong }
    val sc = Graph.Scale
    var r = (1L to 6L).map(_ -> sc).toMap
    for (_ <- 1 to 12) {
      val sums = edges.groupBy(_._2).map { case (dst, es) =>
        dst -> es.map { case (s, _) => r(s) / deg(s) }.sum
      }
      r = r.keys.map(id => id -> (15L * sc / 100 + 85L * sums.getOrElse(id, 0L) / 100L)).toMap
    }
    assert(rows == r)
  }

  test("pagerankScaled survives a 10^6-node component: scale derives from n, no overflow") {
    // star with one hub and 10^6 leaves: after one iteration the hub
    // receives the full leaf mass, Σ = 10^6·scale — at the canonical 10^12
    // scale the damping's 85·Σ = 8.5e19 overflows int64 (ANSI fault);
    // derivedScale(10^6 + 1) = 10^11 provably fits (8.5e18 < 2^63)
    val nLeaves = 1000000L
    assert(Graph.derivedScale(5L) == 1000000000000L) // small graphs keep 10^12
    assert(Graph.derivedScale(100000L) == 1000000000000L)
    assert(Graph.derivedScale(nLeaves + 1) == 100000000000L)
    val pairs = spark.range(1L, nLeaves + 1).select(lit(0L).as("a"), col("id").as("b"))
    val nodes = spark.range(0L, nLeaves + 1).toDF("id0")
    val out = Graph.pagerankScaled(pairs, nodes, "a", "b", "id0", iters = 1)
    val sc = 100000000000L // derivedScale(n), mirrored here like an oracle would
    val hub = out.filter(col("id") === 0L).select("rank_scaled").as[Long].head()
    val leaf = out.filter(col("id") === 1L).select("rank_scaled").as[Long].head()
    Caches.releaseAll()
    // hub: 0.15·sc + 0.85·(10^6 leaves × sc/deg1); leaf: 0.15·sc + 0.85·(sc DIV 10^6)
    assert(hub == 15L * sc / 100 + 85L * (nLeaves * sc) / 100)
    assert(leaf == 15L * sc / 100 + 85L * (sc / nLeaves) / 100)
    // an explicit scale past the bound fails at plan time with the bound
    val e = intercept[IllegalArgumentException] {
      Graph.pagerankScaled(pairs, nodes, "a", "b", "id0", iters = 1,
        scale = Some(1000000000000L))
    }
    Caches.releaseAll()
    assert(e.getMessage.contains("overflows"))
  }

  test("Incremental: merged partials == from-scratch aggregation, any batch split") {
    val rows = (1 to 100).map(i => (i % 5, i / 3.0 + 0.007))
    val df = rows.toDF("k", "v")
    val direct = df.groupBy("k")
      .agg(count(lit(1)).as("n"), Exact.dmean(col("v")).as("mean_value"))
      .orderBy("k").collect().toSeq
    for (cut <- Seq(0, 1, 37, 99, 100)) {
      val a = rows.take(cut).toDF("k", "v")
      val b = rows.drop(cut).toDF("k", "v")
      val merged = Incremental.finalizeMean(
        Incremental.mergePartials(
          Incremental.partials(a, Seq("k"), "v"),
          Incremental.partials(b, Seq("k"), "v"),
          Seq("k")))
        .select("k", "n", "mean_value").orderBy("k").collect().toSeq
      assert(merged == direct, s"cut=$cut")
    }
  }

  test("Incremental HLL: same-plan stability, bounded wobble across partitionings") {
    val rows = (1 to 2000).map(i => (i % 3, s"u${i % 400}"))
    val df = rows.toDF("k", "u")
    val whole = Incremental.hllFinalize(Incremental.hllPartials(df, Seq("k"), "u"))
      .orderBy("k").as[(Int, Long)].collect().toSeq
    def mergedAt(cut: Int, pa: Int, pb: Int): Seq[(Int, Long)] =
      Incremental.hllFinalize(
        Incremental.hllMerge(
          Incremental.hllPartials(rows.take(cut).toDF("k", "u").repartition(pa), Seq("k"), "u"),
          Incremental.hllPartials(rows.drop(cut).toDF("k", "u").repartition(pb), Seq("k"), "u"),
          Seq("k")))
        .orderBy("k").as[(Int, Long)].collect().toSeq
    // the SAME physical plan re-run is stable...
    assert(mergedAt(700, 5, 2) == mergedAt(700, 5, 2))
    // ...but different partitionings may wobble by ±ε (Spark unions
    // per-partition partial sketches; a DataSketches union is not
    // bit-identical to a one-shot sketch) — the scaladoc's stated
    // contract. Pin the wobble bound, not equality:
    val variants = Seq(mergedAt(700, 5, 2), mergedAt(700, 1, 7), mergedAt(1, 3, 3), whole)
    for (v <- variants; ((k, est), (_, ref)) <- v.zip(whole)) {
      assert(math.abs(est - ref) <= 5, s"k=$k estimate $est vs $ref")
      assert(est > 350 && est < 450, s"k=$k estimate $est out of HLL tolerance")
    }
  }

  test("pagerankScaled is invariant to partitioning (exact integer arithmetic)") {
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L), (1L, 3L)).toDF("a", "b")
    val nodes = (1L to 4L).toDF("id0")
    val r1 = Graph.pagerankScaled(pairs.repartition(1), nodes, "a", "b", "id0")
      .orderBy("id").as[(Long, Long)].collect().toSeq
    Caches.releaseAll()
    val r7 = Graph.pagerankScaled(pairs.repartition(7), nodes, "a", "b", "id0")
      .orderBy("id").as[(Long, Long)].collect().toSeq
    Caches.releaseAll()
    assert(r1 == r7)
  }

  test("countMin estimates never undershoot and equal exact counts absent collisions") {
    val df = (Seq.fill(10)("hot") ++ Seq.fill(3)("warm") ++ Seq("cold"))
      .toDF("k")
    val out = Sketch.countMinHeavyHitters(df, "k", depth = 4, width = 1024, minCount = 1L)
      .select("k", "cm_est", "exact_n")
      .as[(String, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(out.values.forall { case (est, exact) => est >= exact })
    // 3 keys in 1024 buckets x 4 levels: overwhelmingly collision-free
    assert(out("hot") == ((10L, 10L)) && out("warm") == ((3L, 3L)) && out("cold") == ((1L, 1L)))
    // the raw streaming grid (countMin proper): every level's cells sum to
    // the total row count, and the weighted heavy-hitter build above must
    // be the SAME grid
    val grid = Sketch.countMin(df, "k", depth = 4, width = 1024)
      .as[(Int, Long, Long)].collect()
    val perLevel = grid.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    assert(perLevel == Map(0 -> 14L, 1 -> 14L, 2 -> 14L, 3 -> 14L))
    val cellMax = grid.map(_._3).max
    assert(cellMax == 10L) // "hot" alone in its cells
  }

  test("countMinHeavyHitters is partition-count independent") {
    val df = (1 to 500).map(i => s"k${i % 37}").toDF("k")
    val a = Sketch.countMinHeavyHitters(df.repartition(1), "k", 4, 64, 5L)
      .orderBy("k").as[(String, Long, Long)].collect().toSeq
    val b = Sketch.countMinHeavyHitters(df.repartition(6), "k", 4, 64, 5L)
      .orderBy("k").as[(String, Long, Long)].collect().toSeq
    assert(a == b && a.nonEmpty)
  }

  test("bloomContaminationCheck equals the unfiltered exact check") {
    val mk = (id: Long, t: String) => (id, t)
    val docs = Seq(
      mk(1L, "the quick brown fox jumps over the lazy dog again and again"),
      mk(2L, "completely unrelated content with no shared grams whatsoever here"),
      mk(3L, "the quick brown fox jumps over the lazy dog again today ok"),
      mk(4L, "another benchmark document that shares nothing with training data"),
    ).toDF("doc_id", "text")
    val train = docs.filter(col("doc_id") <= 2)
    val bench = docs.filter(col("doc_id") > 2)
    val exact = Dedup.contaminationCheck(train, bench, "doc_id", "text", 5)
      .orderBy("doc_id").collect().toSeq
    val bloom = Dedup.bloomContaminationCheck(train, bench, "doc_id", "text", 5,
        mBits = 1 << 12, kHash = 3)
      .orderBy("doc_id").collect().toSeq
    assert(bloom == exact)
    // doc 1 shares the 10-token prefix with doc 3; doc 2 is clean
    assert(exact.map(r => r.getLong(0) -> r.getLong(3)).toMap == Map(1L -> 1L, 2L -> 0L))
  }

  test("decontamination beyond-broadcast regime: shuffle verify join, bloom = exact") {
    // broadcastBench = false drops the verify-join hint; with auto-broadcast
    // disabled the planner MUST shuffle-join fringe vs bench — the 100 TB
    // regime where the bench shingle set outgrew a broadcast. Results stay
    // bit-identical on that path (blooms have no false negatives; FPs die
    // in the verify join regardless of its strategy).
    val docs = (0L until 60L).map { i =>
      if (i % 3 == 0) (i, s"shared prefix tokens run alpha beta gamma delta id$i")
      else (i, s"unique content body tok${i}a tok${i}b tok${i}c tok${i}d tok${i}e")
    }.toDF("doc_id", "text")
    val train = docs.filter(col("doc_id") % 5 =!= 0)
    val bench = docs.filter(col("doc_id") % 5 === 0)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val exact = Dedup.contaminationCheck(train, bench, "doc_id", "text", 5,
        broadcastBench = false)
      val bloom = Dedup.bloomContaminationCheck(train, bench, "doc_id", "text", 5,
        mBits = 1 << 12, kHash = 3, broadcastBench = false)
      val pExact = exact.queryExecution.executedPlan.toString
      val pBloom = bloom.queryExecution.executedPlan.toString
      // no forced broadcast anywhere in the exact path; the bloom path's
      // ONLY broadcast is the single-row filter itself
      assert(!pExact.contains("BroadcastHashJoin"), s"verify join still broadcast:\n$pExact")
      assert(!pBloom.contains("BroadcastHashJoin"), s"verify join still broadcast:\n$pBloom")
      assert(pBloom.contains("BroadcastNestedLoopJoin"), s"bloom row not broadcast:\n$pBloom")
      val e = exact.orderBy("doc_id").collect().toSeq
      val b = bloom.orderBy("doc_id").collect().toSeq
      assert(b == e && e.size == train.count())
      assert(e.exists(_.getLong(3) == 1L) && e.exists(_.getLong(3) == 0L))
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      Caches.releaseAll()
    }
  }

  test("session_window MERGES an event landing exactly on the previous end") {
    // pins the oracle's `delta > gap` boundary for w14_session_window:
    // Spark's session spans behave as [ts, ts+gap] — an event at exactly
    // the previous end still merges; only a strictly larger gap splits
    val gapUs = 1000000L
    val ev = Seq((1L, 0L), (1L, gapUs), (1L, 2L * gapUs + 1L)).toDF("user_id", "ts_us")
      .withColumn("tsx", timestamp_micros(col("ts_us")))
    val sessions = ev
      .groupBy(col("user_id"), session_window(col("tsx"), "1 seconds").as("w"))
      .agg(count(lit(1)).as("n"))
      .select("n").as[Long].collect().toSeq.sorted
    assert(sessions == Seq(1L, 2L)) // 0 and gap merge; 2·gap+1 splits
  }
}
