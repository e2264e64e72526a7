package graft.props

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Properties}
import graft.ops._

/** ScalaCheck properties (SURVEY §5.2 item 3) for the invariants that unit
  * examples can't pin: interpolation bounds, bucket laws, quantile bounds.
  * Runs on the shared local session via sbt's native ScalaCheck support.
  */
object OperatorProps extends Properties("graft.ops") {

  private lazy val spark: SparkSession = graft.Session.local(4)
  import spark.implicits._

  private val series: Gen[List[Option[Double]]] =
    Gen.listOfN(12, Gen.option(Gen.choose(-100.0, 100.0))).suchThat(_.nonEmpty)

  property("interpolation output is bounded by known neighbors and exact on knowns") =
    Prop.forAll(series) { vs =>
      val df = vs.zipWithIndex.map { case (v, i) => ("k", i.toLong, v) }.toDF("k", "x", "v")
      val out = Cleaning.interpolateLinear(df, Seq("k"), "x", Seq("v"))
        .orderBy("x").select("v").as[Option[Double]].collect().toSeq
      val known = vs.flatten
      val (lo, hi) = if (known.isEmpty) (0.0, 0.0) else (known.min, known.max)
      vs.zip(out).forall {
        case (Some(orig), Some(res)) => res == orig // knowns untouched
        case (None, Some(res)) => res >= lo - 1e-9 && res <= hi + 1e-9 // bounded
        case (None, None) => true // leading run stays NULL pre-fill
        case (Some(_), None) => false
      }
    }

  property("stridedWindows matches the reference get_windows on random configs") =
    Prop.forAll(
      Gen.choose(1, 30), Gen.choose(1, 10), Gen.choose(1, 10), Gen.choose(0, 3)) {
      (len, win, shift, cut) =>
        // direct replication of ref utils.py:10-16
        val all = (0 until len by shift).map(st => st until math.min(st + win, len))
        val kept = if (cut == 0) all else all.dropRight(cut)
        val expected = (for ((rng, w) <- kept.zipWithIndex; r <- rng)
          yield (w.toLong, r.toLong, (r - w * shift).toLong)).sorted
        val df = (0 until len).map(i => ("k", i.toLong)).toDF("k", "ts")
        val got = Windows.stridedWindows(df, Seq("k"), Seq(col("ts")), win, shift, cut)
          .select(col("win_id"), col("ts"), col("win_pos"))
          .as[(Long, Long, Long)].collect().toSeq.sorted
        got == expected
    }

  property("interpolation on a linear ramp recovers the ramp exactly") =
    Prop.forAll(Gen.choose(2, 10), Gen.choose(-5.0, 5.0), Gen.choose(-3.0, 3.0)) { (n, a, b) =>
      val full = (0 until n).map(i => a + b * i)
      val masked = full.zipWithIndex.map { case (v, i) =>
        if (i != 0 && i != n - 1 && i % 2 == 1) None else Some(v)
      }
      val df = masked.zipWithIndex.map { case (v, i) => ("k", i.toLong, v) }.toDF("k", "x", "v")
      val out = Cleaning.interpolateLinear(df, Seq("k"), "x", Seq("v"))
        .orderBy("x").select("v").as[Double].collect().toSeq
      out.zip(full).forall { case (r, e) => math.abs(r - e) < 1e-9 }
    }

  property("interpolation equals the plain-Scala pandas reference bit for bit (random masks, uneven x)") =
    // forAllNoShrink: a shrunk gap could reach 0 and make the abscissa tie
    Prop.forAllNoShrink(
      Gen.choose(0.0, 1.0).flatMap(pNull =>
        Gen.nonEmptyListOf(Gen.zip(
          Gen.choose(1L, 1000L),
          Gen.choose(0.0, 1.0).flatMap(u =>
            if (u < pNull) Gen.const(None) else Gen.choose(-1e6, 1e6).map(Some(_))))))) { pts =>
      val xs = pts.scanLeft(0L)(_ + _._1).tail
      val vs = pts.map(_._2)
      val df = xs.zip(vs).map { case (x, v) => ("k", x, v) }.toDF("k", "x", "v")
      val out = Cleaning.interpolateLinear(df, Seq("k"), "x", Seq("v"))
        .orderBy("x").select("v").as[Option[Double]].collect().toSeq
      out == CleaningSpec.pandasInterpolate(xs.map(_.toDouble), vs)
    }

  property("tumbling bucket law: bucket <= ts < bucket + step, step | bucket") =
    Prop.forAll(Gen.choose(0L, 1000000L), Gen.oneOf(7L, 200L, 1000L)) { (ts, step) =>
      val b = Seq(ts).toDF("ts")
        .select(Windows.tumbleMs(col("ts"), step).as("b")).as[Long].head()
      b <= ts && ts < b + step && b % step == 0
    }

  property("exact quantiles lie within [min, max] and are monotone in q") =
    Prop.forAll(Gen.nonEmptyListOf(Gen.choose(-50.0, 50.0))) { vs =>
      val df = vs.map(("k", _)).toDF("k", "v")
      val qs = Stats.exactQuantiles(df, Seq("k"), "v", Seq(0.1, 0.5, 0.9))
        .orderBy("q").select("q_value").as[Double].collect().toSeq
      qs.size == 3 &&
        qs.forall(q => q >= vs.min - 1e-9 && q <= vs.max + 1e-9) &&
        qs(0) <= qs(1) + 1e-9 && qs(1) <= qs(2) + 1e-9
    }

  property("signed abs-max has the max magnitude present in the group") =
    Prop.forAll(Gen.nonEmptyListOf(Gen.choose(-100.0, 100.0))) { vs =>
      val df = vs.map(("k", _)).toDF("k", "v")
      val s = df.groupBy("k").agg(Stats.signedAbsMax(col("v")).as("s"))
        .select("s").as[Double].head()
      math.abs(s) == vs.map(math.abs).max && vs.contains(s)
    }

  property("gapSessions: session count is 1 + number of over-gap steps; indices dense from 0") =
    Prop.forAll(Gen.nonEmptyListOf(Gen.choose(1L, 50L)), Gen.choose(5L, 30L)) { (deltas, gap) =>
      // strictly increasing series from cumulative positive deltas
      val ts = deltas.scanLeft(0L)(_ + _)
      val df = ts.map(("k", _)).toDF("k", "ts")
      val idx = Segments.gapSessions(df, Seq("k"), "ts", gap)
        .select("session_idx").as[Long].collect().toSeq
      val expectedSessions = 1 + deltas.count(_ > gap)
      idx.max == expectedSessions - 1 && idx.min == 0 &&
        idx.distinct.sorted == (0L until expectedSessions.toLong)
    }

  property("packSequences: offset < capacity ∨ pack advances; per-shard offsets reconstruct the cumsum") =
    Prop.forAll(
      Gen.choose(1, 20), Gen.choose(4, 64), Gen.nonEmptyListOf(Gen.choose(1, 12))) {
      (cap, shards, lens) =>
        val docs = lens.zipWithIndex
          .map { case (n, i) => (i.toLong, Seq.fill(n)("w").mkString(" ")) }
          .toDF("doc_id", "text")
        val out = Text.packSequences(docs, "doc_id", "text", cap, shards)
          .select("doc_id", "shard", "n_tokens", "pack_id", "pack_offset")
          .as[(Long, Long, Long, Long, Long)].collect().toSeq
        out.groupBy(_._2).values.forall { shard =>
          val ordered = shard.sortBy(_._1)
          val cums = ordered.map(_._3).scanLeft(0L)(_ + _)
          ordered.zip(cums).forall { case ((_, _, _, pid, off), cb) =>
            pid == cb / cap && off == cb % cap
          }
        }
    }

  property("heap top-k == window top-k on random groups/values/k") =
    Prop.forAll(
      Gen.choose(1, 4), Gen.nonEmptyListOf(Gen.zip(Gen.choose(0L, 4L), Gen.choose(0, 9)))) {
      (k, rows) =>
        val df = rows.zipWithIndex
          .map { case ((g, v), i) => (g, i.toLong, v.toDouble) }
          .toDF("g", "id", "v")
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("g").orderBy(col("v").desc, col("id"))
        val expected = df.withColumn("rnk", row_number().over(w).cast("long"))
          .filter(col("rnk") <= k)
          .select("g", "id", "v", "rnk").as[(Long, Long, Double, Long)].collect().toSet
        val got = TopK.perKey(df, Seq("g"), Seq(("v", true), ("id", false)), k)
          .select("g", "id", "v", "rnk").as[(Long, Long, Double, Long)].collect().toSet
        got == expected
    }

  property("upsert is idempotent and latest-wins on random batches") =
    Prop.forAll(
      Gen.listOfN(12, Gen.zip(Gen.choose(0L, 4L), Gen.choose(0L, 20L))),
      Gen.listOfN(6, Gen.zip(Gen.choose(0L, 4L), Gen.choose(0L, 20L)))) {
      (baseRows, updRows) =>
        // unique (k, ts) per side (the op's total-order precondition)
        val base = baseRows.distinct.zipWithIndex
          .map { case ((k, ts), i) => (k, ts, s"b$i") }.toDF("k", "ts", "v")
        val upd = updRows.distinct.zipWithIndex
          .map { case ((k, ts), i) => (k, ts, s"u$i") }.toDF("k", "ts", "v")
        val once = Cdc.upsert(base, upd, Seq("k"), Seq(col("ts")))
        val twice = Cdc.upsert(once, upd, Seq("k"), Seq(col("ts")))
        val o = once.as[(Long, Long, String)].collect().toSet
        val t = twice.as[(Long, Long, String)].collect().toSet
        // reference semantics: per key the max-ts row, update beats base ties
        val expected = (baseRows.distinct.zipWithIndex.map { case ((k, ts), i) => (k, ts, s"b$i", 0) } ++
          updRows.distinct.zipWithIndex.map { case ((k, ts), i) => (k, ts, s"u$i", 1) })
          .groupBy(_._1).values.map(_.maxBy(r => (r._2, r._4)))
          .map(r => (r._1, r._2, r._3)).toSet
        o == expected && t == expected
    }

  property("ewmaDyadic: first row = own value; all rows within the value range") =
    Prop.forAll(Gen.choose(1, 6), Gen.nonEmptyListOf(Gen.choose(0, 2000))) { (nKeys, vsRaw) =>
      val vs = vsRaw.take(8)
      // whole-number values below the lags=32 overflow bound (|v| < ~2147):
      // v·10^6 is integral, so no quantization loss and row 1's EWMA is
      // exactly v; later rows are convex combinations
      val df = (0 until nKeys).flatMap(k =>
        vs.zipWithIndex.map { case (v, i) => (k.toLong, i.toLong, v.toDouble) })
        .toDF("k", "ts", "v")
      val out = Windows.ewmaDyadic(df, Seq("k"), Seq(col("ts")), "v", carry = Seq("ts"))
        .select("k", "ts", "ewma").as[(Long, Long, Double)].collect()
      val firsts = out.filter(_._2 == 0L)
      firsts.length == nKeys &&
        firsts.forall(_._3 == vs.head.toDouble) &&
        out.forall { case (_, _, e) => e >= vs.min - 1e-6 && e <= vs.max + 1e-6 }
    }

  property("corrCovar: |r| <= 1, perfect linearity gives |r| ~ 1, sign tracks slope") =
    Prop.forAll(
      Gen.listOfN(20, Gen.choose(-50.0, 50.0)),
      Gen.choose(-5.0, 5.0),
      Gen.choose(-10.0, 10.0)) { (xs, slope, icept) =>
      // degenerate draws pass trivially — shrinking does NOT re-check
      // suchThat guards, so the guard must live inside the property.
      // The slope/spread floors are quantization-error margins, not
      // laziness: dsumTrunc4 truncates each x·y/x²/y² at scale 4 (≤1e-4
      // per row, ~2e-3 across n=20 sums), and the centered Syy shrinks
      // like slope²·Sxx — at |slope| ~ 0.01 the noise overtakes Syy and
      // |r| legitimately drifts off 1 (observed ~1-in-100 falsification).
      // With |slope| ≥ 0.5 and x-spread ≥ 10, Syy ≥ ~12 so the relative
      // error is ≤ ~1e-4, 10× inside the 1e-3 tolerance.
      if (xs.distinct.size <= 2 || math.abs(slope) <= 0.5 ||
        xs.max - xs.min < 10.0) Prop.passed
      else {
      val exact = xs.map(x => ("k", x, slope * x + icept))
      val noisy = xs.zipWithIndex.map { case (x, i) => ("k", x, slope * x + (i % 7) * 3.1) }
      val df = (exact.map { case (k, x, y) => (k + "e", x, y) } ++
        noisy.map { case (k, x, y) => (k + "n", x, y) }).toDF("k", "x", "y")
      val out = Stats.corrCovar(df, Seq("k"), "x", "y")
        .select("k", "pearson_r").as[(String, Option[Double])].collect().toMap
      val re = out("ke"); val rn = out("kn")
      // exact linear: |r| == 1 up to the scale-4 fixed-point quantization
      Prop(re.exists(r => math.abs(math.abs(r) - 1.0) < 1e-3 && r.sign == slope.sign) &&
        rn.forall(r => r >= -1.0 - 1e-12 && r <= 1.0 + 1e-12))
      }
    }

  property("intervalOverlap == brute force for random intervals/points/buckets") =
    Prop.forAll(
      Gen.listOfN(30, for {
        k <- Gen.choose(0L, 2L); s <- Gen.choose(0L, 200L); len <- Gen.choose(0L, 60L)
      } yield (k, s, s + len)),
      Gen.listOfN(60, for {
        k <- Gen.choose(0L, 3L); ts <- Gen.choose(0L, 260L)
      } yield (k, ts)),
      Gen.oneOf(1L, 3L, 16L, 100L, 1000L)) { (ivs, pts, bucket) =>
      val intervals = ivs.zipWithIndex.map { case ((k, s, e), i) => (k, i.toLong, s, e) }
        .toDF("k", "iid", "start", "end")
      val points = pts.toDF("k", "ts")
      val got = Joins.intervalOverlap(intervals, points, Seq("k"), "start", "end", "ts", bucket)
        .select("iid", "ts").as[(Long, Long)].collect().toSeq.sorted
      val want = (for {
        ((k, s, e), i) <- ivs.zipWithIndex
        (pk, ts) <- pts if pk == k && ts >= s && ts < e
      } yield (i.toLong, ts)).sorted
      Prop(got == want)
    }

  property("histogram partials are batch-split invariant; quantile matches local") =
    Prop.forAll(
      Gen.listOfN(40, for {
        k <- Gen.oneOf("a", "b"); v <- Gen.choose(-5.0, 25.0); cut <- Gen.choose(0, 2)
      } yield (k, v, cut)),
      Gen.oneOf(0.25, 0.5, 0.9, 1.0)) { (rows, q) =>
      val (lo, width, nBins) = (0.0, 2.0, 10)
      val df = rows.toDF("k", "v", "cut")
      val oneShot = Incremental.histPartials(df, Seq("k"), "v", lo, width, nBins)
      // split on an arbitrary generated column, merge in a different order
      val merged = Incremental.histMerge(
        Incremental.histPartials(df.filter(col("cut") === 2), Seq("k"), "v", lo, width, nBins),
        Incremental.histMerge(
          Incremental.histPartials(df.filter(col("cut") === 0), Seq("k"), "v", lo, width, nBins),
          Incremental.histPartials(df.filter(col("cut") === 1), Seq("k"), "v", lo, width, nBins),
          Seq("k")),
        Seq("k"))
      val a = oneShot.as[(String, Long, Long)].collect().toSet
      val b = merged.as[(String, Long, Long)].collect().toSet
      // closed quantile == the same interpolation computed locally
      val got = Incremental.histQuantile(merged, Seq("k"), Seq(q), lo, width)
        .as[(String, Double, Double)].collect().map(r => (r._1, r._3)).toMap
      val want = rows.groupBy(_._1).map { case (k, rs) =>
        val bins = rs.map(r =>
          math.min(math.max(math.floor((r._2 - lo) / width).toLong, 0L), nBins - 1L))
        val counts = bins.groupBy(identity).view.mapValues(_.size.toLong).toSeq.sortBy(_._1)
        val n = counts.map(_._2).sum
        val t = q * n.toDouble
        val (bin, cnt, cum) = counts
          .scanLeft((0L, 0L, 0L)) { case ((_, _, c), (b2, c2)) => (b2, c2, c + c2) }
          .drop(1)
          .find { case (_, _, cum) => cum.toDouble >= t }
          .get
        k -> (lo + width * (bin.toDouble + (t - (cum - cnt).toDouble) / cnt.toDouble))
      }
      Prop(a == b && got == want)
    }

  property("K-fold partials replay == one-shot aggregation, any K / any assignment") =
    // forAllNoShrink: the (k, rows) generator is DEPENDENT (each row's batch
    // index lives in [0, k)); the default tuple shrinker would shrink k
    // without reshrinking rows, silently dropping b >= k rows from the fold
    // (a spurious "minimal" counterexample) — or shrink k to 0 and crash the
    // reduceLeft mid-shrink
    Prop.forAllNoShrink(
      Gen.choose(2, 5).flatMap(k =>
        Gen.listOfN(40, for {
          key <- Gen.oneOf("a", "b", "c")
          // NULL values included: the state's mean must follow SQL semantics
          // (divide by the NON-NULL count) even when batches carry NULLs
          v <- Gen.frequency(4 -> Gen.choose(-50.0, 50.0).map(Option(_)),
                             1 -> Gen.const(Option.empty[Double]))
          b <- Gen.choose(0, k - 1)
        } yield (key, v, b)).map(rows => (k, rows)))) { case (k, rows) =>
      // the ivm_batch_replay shape: fold one merge per batch, exactly as a
      // foreachBatch callback accumulates state — the (count, nonnull count,
      // exact decimal sum) monoid makes the fold BIT-identical to the
      // one-shot aggregate for every batch count and row-to-batch assignment
      val df = rows.toDF("k", "v", "b")
      val oneShot = Incremental.finalizeMean(
        Incremental.partials(df, Seq("k"), "v"))
        .as[(String, Long, Option[Double])].collect().toSet
      val folded = Incremental.finalizeMean(
        (0 until k)
          .map(i => Incremental.partials(df.filter(col("b") === i), Seq("k"), "v"))
          .reduceLeft((st, p) => Incremental.mergePartials(st, p, Seq("k"))))
        .as[(String, Long, Option[Double])].collect().toSet
      // and the closed state must equal the one-pass oracle arithmetic:
      // n = count(*), mean = Exact.dmean = decimal sum / count(v) — NULL
      // for all-NULL groups in both engines (what ivm_* oracles hash)
      val direct = df.groupBy("k")
        .agg(count(lit(1)).as("n"), graft.ops.Exact.dmean(col("v")).as("mean_value"))
        .as[(String, Long, Option[Double])].collect().toSet
      Prop(folded == oneShot && oneShot == direct)
    }

  property("snapshotDiff -> applyCdc round-trip rebuilds the new snapshot") =
    // the inverse-direction law: diff(old, new) fed back through applyCdc
    // reconstructs new EXACTLY, for any pair of keyed snapshots including
    // NULL payloads (null-safe compare) and disjoint/overlapping key sets
    Prop.forAll(
      Gen.mapOf(Gen.zip(Gen.choose(0, 9), Gen.option(Gen.choose(0, 5)))),
      Gen.mapOf(Gen.zip(Gen.choose(0, 9), Gen.option(Gen.choose(0, 5))))) { (om, nm) =>
      val oldSnap = (om.toSeq :+ (99, Option(0))).toDF("k", "v") // :+ keeps the frame non-empty
      val newSnap = (nm.toSeq :+ (99, Option(0))).toDF("k", "v")
      val diff = Cdc.snapshotDiff(oldSnap, newSnap, Seq("k"), Seq("v")).drop("v_old")
      val rebuilt = Cdc.applyCdc(oldSnap, diff, Seq("k"), Seq(lit(0)))
        .as[(Int, Option[Int])].collect().toSet
      Prop(rebuilt == newSnap.as[(Int, Option[Int])].collect().toSet)
    }

  property("CDC incremental apply over order-respecting batches == one-shot apply") =
    // pins applyCdc's documented contract (Cdc.scala scaladoc): deletes are
    // NOT retained as tombstones, so chaining per-batch applies is
    // equivalent to one global apply exactly when batch boundaries respect
    // the order column — which this generator guarantees (batches are
    // contiguous ts ranges). forAllNoShrink: batch count and row count are
    // coupled through the range split.
    Prop.forAllNoShrink(
      Gen.choose(1, 4),
      Gen.listOfN(30, for {
        key <- Gen.choose(0, 3)
        op <- Gen.frequency(2 -> Gen.const("U"), 1 -> Gen.const("I"), 1 -> Gen.const("D"))
        v <- Gen.choose(0, 100)
      } yield (key, op, v)),
      Gen.listOfN(4, Gen.choose(0, 100))) { (kB, opRows, baseVs) =>
      val base = baseVs.zipWithIndex.map { case (v, k) => (k, v.toLong, -1L) }
        .toDF("k", "v", "ts")
      val ops = opRows.zipWithIndex.map { case ((k, op, v), i) => (k, v.toLong, i.toLong, op) }
        .toDF("k", "v", "ts", "op")
      val oneShot = Cdc.applyCdc(base, ops, Seq("k"), Seq(col("ts")))
        .as[(Int, Long, Long)].collect().toSet
      val n = opRows.size
      val folded = (0 until kB).foldLeft(base) { (state, b) =>
        val lo = b.toLong * n / kB; val hi = (b + 1).toLong * n / kB
        Cdc.applyCdc(state, ops.filter(col("ts") >= lo && col("ts") < hi),
          Seq("k"), Seq(col("ts")))
      }.as[(Int, Long, Long)].collect().toSet
      Prop(folded == oneShot)
    }

  property("count-min grids are batch-split invariant; estimates dominate exact counts") =
    Prop.forAll(
      Gen.listOfN(40, for {
        t <- Gen.oneOf("x", "y", "z", "w", "v"); cut <- Gen.choose(0, 2)
      } yield (t, cut))) { rows =>
      val (depth, width) = (3, 16)
      val df = rows.toDF("token", "cut")
      val oneShot = Sketch.countMin(df, "token", depth, width)
        .as[(Int, Long, Long)].collect().toSet
      val merged = Sketch.countMinMerge(
        Sketch.countMin(df.filter(col("cut") === 2), "token", depth, width),
        Sketch.countMinMerge(
          Sketch.countMin(df.filter(col("cut") === 0), "token", depth, width),
          Sketch.countMin(df.filter(col("cut") === 1), "token", depth, width)))
        .as[(Int, Long, Long)].collect().toSet
      // one-sided error: min-over-levels estimate >= the true count
      val buckets = rows.map(_._1).distinct.map { tok =>
        tok -> Sketch.countMin(Seq((tok, 0)).toDF("token", "cut"), "token", depth, width)
          .as[(Int, Long, Long)].collect().map(r => (r._1, r._2)).toMap
      }
      val exact = rows.groupBy(_._1).view.mapValues(_.size.toLong).toMap
      val dominated = buckets.forall { case (tok, cellsByLevel) =>
        val est = (0 until depth).map { lvl =>
          oneShot.find(c => c._1 == lvl && c._2 == cellsByLevel(lvl)).map(_._3).getOrElse(0L)
        }.min
        est >= exact(tok)
      }
      Prop(oneShot == merged && dominated)
    }

  /** Direct in-memory BPE trainer — the independent reference for
    * [[graft.ops.Text.bpeMerges]]'s distributed string-rewrite form.
    * Greedy left-to-right merge application over symbol LISTS; tie-break
    * on the pair string ascending (ASCII = binary = Spark's ordering).
    */
  private def refBpe(words: Seq[String], rounds: Int): Seq[(Long, String, String, Long)] = {
    var vocab: Seq[(List[String], Long)] = words.groupBy(identity).toSeq
      .map { case (w, ws) => (w.map(_.toString).toList, ws.size.toLong) }
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, Long)]
    var r = 1
    var done = false
    while (r <= rounds && !done) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long].withDefaultValue(0L)
      vocab.foreach { case (syms, f) =>
        syms.zip(syms.drop(1)).foreach(p => counts(p) += f)
      }
      if (counts.isEmpty) done = true
      else {
        val ((l, rr), c) = counts.toSeq.minBy { case ((a, b), n) => (-n, a + " " + b) }
        out += ((r.toLong, l + " " + rr, l + rr, c))
        def applyMerge(syms: List[String]): List[String] = syms match {
          case a :: b :: rest if a == l && b == rr => (l + rr) :: applyMerge(rest)
          case a :: rest => a :: applyMerge(rest)
          case Nil => Nil
        }
        vocab = vocab.map { case (syms, f) => (applyMerge(syms), f) }
      }
      r += 1
    }
    out.toSeq
  }

  /** The composed higher-order form that `functions.Shingles` replaces,
    * kept only as this property's reference.
    */
  private def composedShingles(toks: org.apache.spark.sql.Column, k: Int) =
    transform(
      sequence(lit(0), size(toks) - k),
      i => concat_ws(" ", (0 until k).map(j => get(toks, i + lit(j))): _*))

  private val shingleToken: Gen[String] = Gen.frequency(
    1 -> Gen.const(null), 1 -> Gen.const(""),
    2 -> Gen.oneOf("ä", "日本", "naïve", "😀x"),
    6 -> Gen.oneOf("a", "bb", "the", "fox", "lazy"))

  property("Shingles == the composed transform/concat_ws form, interpreted and codegen") =
    Prop.forAll(Gen.nonEmptyListOf(Gen.frequency(
      1 -> Gen.const(null: Seq[String]),
      9 -> Gen.choose(0, 12).flatMap(n => Gen.listOfN(n, shingleToken))))) { arrays =>
      import org.apache.spark.sql.Row
      import org.apache.spark.sql.types._
      // an RDD source, not a local Seq: a projection over a LocalRelation is
      // folded at optimization time by the interpreted evaluator, which would
      // leave the generated code untested
      val schema = StructType(Seq(
        StructField("id", IntegerType), StructField("toks", ArrayType(StringType))))
      val rows = arrays.zipWithIndex.map { case (a, i) => Row(i, a) }
      val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
      val cols = (1 to 4).flatMap(k => Seq(
        graft.functions.Shingles(col("toks"), k).as(s"n$k"),
        composedShingles(col("toks"), k).as(s"c$k")))
      val modes = Seq("NO_CODEGEN" -> "false", "CODEGEN_ONLY" -> "true")
      Prop.all(modes.map { case (mode, wholeStage) =>
        spark.conf.set("spark.sql.codegen.factoryMode", mode)
        spark.conf.set("spark.sql.codegen.wholeStage", wholeStage)
        try {
          val out = df.select(col("id") +: cols: _*)
          val fields = out.schema.fields.drop(1).grouped(2)
            .forall { case Array(n, c) => n.dataType == c.dataType && n.nullable == c.nullable }
          val got = out.collect().sortBy(_.getInt(0))
          val same = got.forall(r => (1 to 4).forall(k =>
            r.getAs[Seq[String]](s"n$k") == r.getAs[Seq[String]](s"c$k")))
          Prop(fields && same) :| s"$mode: ${got.mkString("; ")}"
        } finally {
          spark.conf.unset("spark.sql.codegen.factoryMode")
          spark.conf.unset("spark.sql.codegen.wholeStage")
        }
      }: _*)
    }

  property("containment dominates Jaccard and stays in (0, 1] on random corpora") =
    Prop.forAll(
      Gen.listOfN(6, Gen.choose(4, 9).flatMap(n =>
        Gen.listOfN(n, Gen.oneOf("w1", "w2", "w3", "w4", "w5")).map(_.mkString(" "))))) { texts =>
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val jac = Dedup.jaccardPairs(df, "doc_id", "text", 3, 0.0)
        .select("a_id", "b_id", "jaccard").as[(Long, Long, Double)].collect()
        .map { case (a, b, j) => (a, b) -> j }.toMap
      val cont = Dedup.containmentPairs(df, "doc_id", "text", 3, 0.0)
        .select("a_id", "b_id", "shared", "na", "nb", "cont_a", "cont_b")
        .as[(Long, Long, Long, Long, Long, Double, Double)].collect()
      Caches.releaseAll()
      Prop(cont.forall { case (a, b, shared, na, nb, ca, cb) =>
        val j = jac((a, b)) // same pair universe: shared >= 1 both ways
        ca > 0.0 && ca <= 1.0 && cb > 0.0 && cb <= 1.0 &&
          ca >= j && cb >= j &&
          ca == shared.toDouble / na && cb == shared.toDouble / nb
      } && cont.length == jac.size)
    }

  property("psi is non-negative, symmetric under swap, zero on identical sides") =
    Prop.forAll(
      Gen.nonEmptyListOf(Gen.choose(0.0, 100.0)),
      Gen.nonEmptyListOf(Gen.choose(0.0, 100.0))) { (xs, ys) =>
      val base = xs.map(("k", _)).toDF("k", "v")
      val cur = ys.map(("k", _)).toDF("k", "v")
      def p(a: org.apache.spark.sql.DataFrame, b: org.apache.spark.sql.DataFrame) =
        Stats.psi(a, b, Seq("k"), "v", 0.0, 10.0, 10).select("psi").as[Double].head()
      val fwd = p(base, cur)
      // every term (p-q)ln(p/q) >= 0; the form is symmetric in (p, q) but
      // ln(q/p) is only the ulp-level negation of ln(p/q), and trunc-9 can
      // split such a pair across adjacent 1e-9 cells — tolerance, not
      // equality, sized at one cell per bin (10 bins)
      Prop(fwd >= 0.0 && math.abs(fwd - p(cur, base)) <= 1.1e-8 &&
        p(base, base) == 0.0) :| s"fwd=$fwd"
    }

  property("bpeMerges equals a direct in-memory BPE trainer on random corpora") =
    Prop.forAll(
      Gen.choose(1, 4),
      Gen.nonEmptyListOf(Gen.choose(1, 5).flatMap(n =>
        Gen.listOfN(n, Gen.oneOf('a', 'b', 'c')).map(_.mkString)))) { (rounds, words) =>
      val df = Seq((1L, words.mkString(" "))).toDF("doc_id", "text")
      val got = Text.bpeMerges(df, "text", rounds)
        .as[(Long, String, String, Long)].collect().toSeq.sortBy(_._1)
      Prop(got == refBpe(words, rounds)) :| s"words=$words got=$got expected=${refBpe(words, rounds)}"
    }

  /** Brute-force triangle count: every 3-subset of nodes with all 3 edges. */
  private def refTriangles(edges: Set[(Long, Long)]): Long = {
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).toSeq.sorted
    val has = (a: Long, b: Long) => edges.contains((math.min(a, b), math.max(a, b)))
    nodes.combinations(3).count { case Seq(a, b, c) => has(a, b) && has(a, c) && has(b, c) }
  }

  property("triangles equals the brute-force census on random graphs") =
    Prop.forAll(
      Gen.choose(2, 12),
      Gen.listOf(Gen.zip(Gen.choose(1L, 12L), Gen.choose(1L, 12L)))) { (n, raw) =>
      val edges = raw.map { case (a, b) => (math.min(a % n + 1, b % n + 1), math.max(a % n + 1, b % n + 1)) }
        .filter { case (a, b) => a != b }.toSet
      val expected = refTriangles(edges)
      val df = edges.toSeq.toDF("a", "b")
      val got = Graph.triangles(df, "a", "b").select("n_triangles").as[Long].head()
      Caches.releaseAll()
      Prop(got == expected) :| s"edges=$edges got=$got expected=$expected"
    }

  property("seasonalSkill: perfect per-cell constants give mae_seasonal 0 and skill 1 when cells differ") =
    Prop.forAll(
      Gen.choose(2, 6),
      Gen.choose(1, 5)) { (nCells, repeats) =>
      // cell c has constant value 10*c in both halves: the cell fit is exact;
      // the climatology errs unless all cells share a value (nCells >= 2 and
      // distinct values here, so mae_climatology > 0 and skill = 1)
      val rows = for {
        c <- 0 until nCells; r <- 0 until repeats; train <- Seq(true, false)
      } yield ("k", c.toLong, 10.0 * c, train)
      val out = Stats.seasonalSkill(rows.toDF("k", "cell", "v", "train"), "k", "cell", "v", "train")
        .as[(String, Long, Double, Double, Option[Double])].head()
      Prop(out._3 == 0.0 && out._4 > 0.0 && out._5 == Some(1.0)) :| s"out=$out"
    }

  property("skyline2d: an antichain that covers every input point, any bucketing") =
    Prop.forAll(
      Gen.listOfN(40, Gen.zip(Gen.choose(0L, 15L), Gen.choose(0L, 15L))).suchThat(_.nonEmpty),
      Gen.choose(1, 8)) { (ps, b) =>
      val df = ps.zipWithIndex.map { case ((x, y), i) => (i.toLong, x, y) }.toDF("id", "x", "y")
      val sky = Pareto.skyline2d(df, "x", "y", pmod(col("id"), lit(b)))
        .as[(Long, Long, Long)].collect().map(r => (r._2, r._3))
      def dom(a: (Long, Long), c: (Long, Long)) =
        a._1 >= c._1 && a._2 >= c._2 && (a._1 > c._1 || a._2 > c._2)
      val antichain = sky.forall(s => !sky.exists(t => dom(t, s)))
      val covers = ps.forall(p => sky.exists(s => s == p || dom(s, p)))
      Prop(antichain && covers) :| s"buckets=$b skyline=${sky.toList}"
    }

  property("blockedPairs == brute force over surviving blocks on random corpora") =
    Prop.forAll(
      Gen.listOfN(30, Gen.zip(
        Gen.oneOf("aaaa bbbb", "aaaa cccc", "dddd eeee"),
        Gen.alphaLowerStr.map(_.take(12)))),
      Gen.choose(1, 6), Gen.choose(2, 12)) { (docs0, maxDist, maxBlock) =>
      val docs = docs0.zipWithIndex.map { case ((pfx, tail), i) => (i.toLong, s"$pfx $tail") }
      val blockLen = 9; val titleLen = 18
      def lev(a: String, b: String): Int = {
        val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) => if (i == 0) j else if (j == 0) i else 0 }
        for (i <- 1 to a.length; j <- 1 to b.length)
          d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
            d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
        d(a.length)(b.length)
      }
      val byBlock = docs.groupBy(_._2.take(blockLen)).filter(_._2.size <= maxBlock)
      val expect = (for {
        (_, ds) <- byBlock.toSeq
        a <- ds; b <- ds if a._1 < b._1
        dist = lev(a._2.take(titleLen), b._2.take(titleLen)) if dist <= maxDist
      } yield (a._1, b._1, dist.toLong)).toSet
      val got = Linkage.blockedPairs(docs.toDF("doc_id", "text"), "doc_id", "text",
        blockLen, titleLen, maxDist, maxBlock)
        .as[(Long, Long, Long)].collect().toSet
      Prop(got == expect) :| s"maxDist=$maxDist maxBlock=$maxBlock got=${got.size} want=${expect.size}"
    }

  property("chunkOverlap: cover-exactly-once reassembly and chunk-count law on random configs") =
    Prop.forAll(Gen.choose(1, 60), Gen.choose(1, 12), Gen.choose(1, 12)) { (n, c0, s0) =>
      val (chunk, stride) = (math.max(c0, s0), math.min(c0, s0)) // stride <= chunk
      val words = (1 to n).map(i => s"w$i")
      val df = Seq((1L, words.mkString(" "))).toDF("doc_id", "text")
      val out = Text.chunkOverlap(df, "doc_id", "text", chunk, stride)
        .select("chunk_id", "start_tok", "n_chunk_tokens", "chunk_text")
        .as[(Long, Long, Long, String)].collect().sortBy(_._1).toSeq
      val wantChunks = 1 + math.ceil(math.max(0, n - chunk).toDouble / stride).toLong
      val countLaw = out.size.toLong == wantChunks
      // chunk i is exactly tokens [i*stride, min(i*stride+chunk, n))
      val sliceLaw = out.forall { case (i, st, len, txt) =>
        st == i * stride && len == math.min(chunk.toLong, n - st) &&
          txt == words.slice(st.toInt, (st + len).toInt).mkString(" ")
      }
      // stride-prefix of every non-final chunk + the final chunk = the doc
      val rebuilt = (out.init.map(_._4.split(" ").take(stride).mkString(" ")) :+ out.last._4)
        .mkString(" ")
      Prop(countLaw && sliceLaw && rebuilt == words.mkString(" ")) :|
        s"n=$n chunk=$chunk stride=$stride got=${out.size} want=$wantChunks"
    }

  property("tokenBudgetLedger == direct per-stratum window for any budget and skew") =
    Prop.forAll(
      Gen.choose(1, 80), Gen.choose(1L, 400L), Gen.choose(2, 5)) { (rows, budget, nStrata) =>
      val df = (0L until rows.toLong)
        .map(i => (i, s"s${i % nStrata}", 1L + (i * 7) % 23L))
        .toDF("doc_id", "lang", "n_tokens")
      val got = Sampling.tokenBudgetLedger(df, "doc_id", "lang", "n_tokens", budget)
        .as[(Long, String, Long, Long, Long)].collect().sortBy(_._1).toSeq
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("lang").orderBy(Sampling.hashU24(col("doc_id")), col("doc_id"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      val want = df.withColumn("cum_tokens", sum(col("n_tokens")).over(w))
        .withColumn("keep", (col("cum_tokens") <= budget).cast("long"))
        .as[(Long, String, Long, Long, Long)].collect().sortBy(_._1).toSeq
      Prop(got == want) :| s"rows=$rows budget=$budget strata=$nStrata"
    }

  property("lshCandidates == brute-force banded relation on random corpora with dup families") =
    Prop.forAll(
      Gen.choose(4, 14),      // distinct texts
      Gen.choose(1, 4),       // copies of the FIRST text (the planted family)
      Gen.choose(3, 8),       // tokens per doc
      Gen.choose(0L, 1000L)   // corpus seed
    ) { (nTexts, famCopies, docLen, seed) =>
      // small vocab so near-identical signatures arise naturally; the
      // planted family exercises the identical-signature collapse path
      val texts = (0 until nTexts).map { t =>
        (0 until docLen).map(j => s"w${(seed + t * 31 + j * 7) % 6}").mkString(" ")
      }
      val docs = (texts ++ Seq.fill(famCopies)(texts.head)).zipWithIndex
        .map { case (tx, i) => (i.toLong, tx) }.toDF("doc_id", "text")
      val sig = graft.ops.Dedup.minhashSignaturesLocal(docs, "doc_id", "text", 3, 8)
      val sigs = sig.collect()
        .map(r => r.getLong(0) -> (1 to 8).map(r.getString).toVector).toMap
      val expected = (for {
        a <- sigs.keys; b <- sigs.keys if a < b
        if (0 until 4).exists(band =>
          sigs(a)(2 * band) == sigs(b)(2 * band) &&
            sigs(a)(2 * band + 1) == sigs(b)(2 * band + 1))
      } yield (a, b) -> (0 until 8).count(j => sigs(a)(j) == sigs(b)(j)).toLong).toMap
      val rows = graft.ops.Dedup.lshCandidates(sig, "doc_id", 8, 4)
        .select("a_id", "b_id", "n_equal").as[(Long, Long, Long)].collect().toSeq
      graft.ops.Caches.releaseAll()
      val noDups = rows.size == rows.map(r => (r._1, r._2)).toSet.size
      val got = rows.map(r => (r._1, r._2) -> r._3).toMap
      Prop(noDups && got == expected) :|
        s"texts=$nTexts fam=$famCopies len=$docLen: got=${got.size} want=${expected.size}"
    }

  property("alignmentScores: bit-invariant under token permutation; |score| bounded") =
    Prop.forAll(
      Gen.listOfN(8, Gen.nonEmptyListOf(Gen.oneOf("alpha", "beta", "gamma", "delta", "eps", "zeta"))),
      Gen.choose(0L, 1000L)
    ) { (tokLists, seed) =>
      // the text vector is an integer bag (order-free sums) and the dot a
      // trunc-9 integer fold, so permuting a doc's tokens must leave the
      // score BIT-identical — the determinism the batch/stream parity
      // relies on; and the exact cosine stays within [-1, 1] + one ulp
      val dims = 16
      val rng = new scala.util.Random(seed)
      val vecs = tokLists.indices
        .map(i => i.toLong -> Array.fill(dims)(rng.nextFloat() * 2f - 1f))
      // base docs at id i, token-PERMUTED twins at id i+1000 sharing the
      // same embedding — one Spark roundtrip compares both
      val embs = (vecs ++ vecs.map { case (i, v) => (i + 1000L, v) })
        .toDF("vec_id", "embedding")
      val docs = (tokLists.zipWithIndex.map { case (ts, i) =>
        (i.toLong, ts.mkString(" "))
      } ++ tokLists.zipWithIndex.map { case (ts, i) =>
        (i + 1000L, new scala.util.Random(seed).shuffle(ts).mkString(" "))
      }).toDF("doc_id", "text")
      val got = Multimodal
        .alignmentScores(docs, embs, "doc_id", "text", "vec_id", "embedding", dims)
        .as[(Long, Option[Double])].collect().toMap
      val same = tokLists.indices.forall(i => got(i.toLong) == got(i + 1000L))
      val bounded = got.values.flatten.forall(s => math.abs(s) <= 1.0 + 1e-9)
      Prop(same && bounded) :| s"got=$got"
    }
}
