package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import java.sql.Timestamp

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: Int) = new Timestamp(s * 1000L)

  /** A k = 1 quantizer fit: every vector routes to its one cell. */
  private def oneCellFit(): graft.ml.IvfQuantizer.CollectedFit = {
    val e = Seq((0L, Array(1f, 1f, 0f))).toDF("vec_id", "embedding")
      .withColumn("n2", graft.ops.Vectors.norm2Exact(col("embedding")))
    val fit = graft.ml.IvfQuantizer.fitCollect(e, "vec_id", "embedding", "n2", k = 1, iters = 1)
    graft.ops.Caches.releaseAll()
    fit
  }

  test("foreachBatch + Incremental partials maintain an IVM table over a stream") {
    // the continuous-ingest composition: each micro-batch contributes its
    // (count, exact sum) partial state; the maintained table after N
    // batches is BIT-identical to a from-scratch aggregation of all rows
    // — streaming ingest and batch backfill cannot diverge
    implicit val sqlCtx = spark.sqlContext
    import graft.ops.{Exact, Incremental}
    val input = MemoryStream[(Int, Double)]
    val df = input.toDF().toDF("k", "v")
    var state: Option[org.apache.spark.sql.DataFrame] = None
    val q = df.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val p = Incremental.partials(batch, Seq("k"), "v").localCheckpoint(true)
        state = Some(state.fold(p)(s =>
          Incremental.mergePartials(s, p, Seq("k")).localCheckpoint(true)))
      }
      .start()
    try {
      val rows = (1 to 90).map(i => (i % 4, i / 7.0 + 0.003))
      rows.grouped(30).foreach { chunk => input.addData(chunk); q.processAllAvailable() }
      val maintained = Incremental.finalizeMean(state.get)
        .select("k", "n", "mean_value").orderBy("k").collect().toSeq
      val direct = rows.toDF("k", "v").groupBy("k")
        .agg(count(lit(1)).as("n"), Exact.dmean(col("v")).as("mean_value"))
        .orderBy("k").collect().toSeq
      assert(maintained == direct)
    } finally q.stop()
  }

  test("foreachBatch + Incremental ohlcPartials maintain candlesticks over a stream") {
    // rolling candles forward per ingest batch: the open/close carriers are
    // total-ordered (ts, id, value) structs, so the maintained OHLC table
    // after N batches is BIT-identical to the from-scratch candlestick —
    // even when a later batch delivers the row that becomes the true open
    implicit val sqlCtx = spark.sqlContext
    import graft.ops.Incremental
    val input = MemoryStream[(String, Long, Long, Double)]
    val df = input.toDF().toDF("k", "ts", "id", "v")
    var state: Option[org.apache.spark.sql.DataFrame] = None
    val q = df.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val p = Incremental.ohlcPartials(batch, Seq("k"), "ts", "id", "v").localCheckpoint(true)
        state = Some(state.fold(p)(s =>
          Incremental.ohlcMerge(s, p, Seq("k")).localCheckpoint(true)))
      }
      .start()
    try {
      val rng = new scala.util.Random(47)
      // out-of-order arrival: shuffle so early timestamps land in late batches
      val rows = rng.shuffle(
        (0 until 120).map(i => (s"k${i % 3}", i.toLong * 10, i.toLong, rng.nextGaussian() * 9)))
      rows.grouped(40).foreach { chunk => input.addData(chunk); q.processAllAvailable() }
      val maintained = Incremental.ohlcFinalize(state.get)
        .select("k", "n", "open", "high", "low", "close").orderBy("k").collect().toSeq
      val direct = Incremental.ohlcFinalize(
        Incremental.ohlcPartials(rows.toDF("k", "ts", "id", "v"), Seq("k"), "ts", "id", "v"))
        .select("k", "n", "open", "high", "low", "close").orderBy("k").collect().toSeq
      assert(maintained == direct)
    } finally q.stop()
  }

  test("foreachBatch + Cdc.applyCdc maintain a snapshot with deletes over a stream") {
    // the continuously-maintained current-state table: each micro-batch of
    // I/U/D ops applies onto the running snapshot; with time-partitioned
    // batches the result equals one global latest-wins-with-deletes apply
    // (later batches override earlier ones exactly as later rows do)
    implicit val sqlCtx = spark.sqlContext
    import graft.ops.Cdc
    val input = MemoryStream[(Long, Long, String, String)]
    val df = input.toDF().toDF("k", "ts", "v", "op")
    var state: org.apache.spark.sql.DataFrame =
      Seq((1L, 0L, "base1"), (2L, 0L, "base2")).toDF("k", "ts", "v")
    val q = df.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        state = Cdc.applyCdc(state, batch, Seq("k"), Seq(col("ts"))).localCheckpoint(true)
      }
      .start()
    try {
      val log = Seq(
        (1L, 1L, "x", "U"), (3L, 2L, "c", "I"), // batch 1
        (2L, 3L, "gone", "D"), (3L, 4L, "c2", "U"), // batch 2
        (2L, 5L, "back", "I"), (1L, 6L, "x", "D") // batch 3
      )
      log.grouped(2).foreach { chunk => input.addData(chunk); q.processAllAvailable() }
      val maintained = state.select("k", "ts", "v")
        .as[(Long, Long, String)].collect().toSet
      // global apply of the same log in one shot
      val direct = Cdc.applyCdc(
        Seq((1L, 0L, "base1"), (2L, 0L, "base2")).toDF("k", "ts", "v"),
        log.toDF("k", "ts", "v", "op"), Seq("k"), Seq(col("ts")))
        .as[(Long, Long, String)].collect().toSet
      assert(maintained == direct)
      assert(maintained == Set((2L, 5L, "back"), (3L, 4L, "c2")))
    } finally q.stop()
  }

  test("foreachBatch + Quality.scanCounts maintain a constraint monitor over a stream") {
    // continuous data-quality monitoring: each micro-batch contributes its
    // one-row integer violation counts; elementwise addition maintains the
    // running report, bit-equal to validating all rows from scratch —
    // ingest-time quality gates and batch audits cannot diverge
    implicit val sqlCtx = spark.sqlContext
    import graft.ops.Quality
    val checks = Seq(
      Quality.Check("null_v", Quality.failing(col("v").isNotNull)),
      Quality.Check("range_v", Quality.failing(col("v") <= 50.0)))
    val input = MemoryStream[(Int, Option[Double])]
    val df = input.toDF().toDF("k", "v")
    var state: Map[String, Long] = Map.empty
    val q = df.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val row = Quality.scanCounts(batch, checks).collect()(0)
        val counts = row.schema.fieldNames.map(f => f -> row.getAs[Long](f)).toMap
        state = counts.map { case (k, v) => k -> (state.getOrElse(k, 0L) + v) }
      }
      .start()
    try {
      val rows = (1 to 90).map(i =>
        (i % 4, if (i % 9 == 0) None else Some(i * 1.0)))
      rows.grouped(30).foreach { chunk => input.addData(chunk); q.processAllAvailable() }
      val direct = Quality.scanCounts(rows.toDF("k", "v"), checks).collect()(0)
      val expected = direct.schema.fieldNames.map(f => f -> direct.getAs[Long](f)).toMap
      assert(state == expected)
      assert(state("total") == 90L && state("null_v") == 10L)
      // nulls fail the range predicate too (null-safe violation contract):
      // 35 non-null values in 51..90 (40 minus the 5 multiples of 9) + 10 nulls
      assert(state("range_v") == 45L)
    } finally q.stop()
  }

  test("foreachBatch + Incremental histPartials maintain quantile state over a stream") {
    // the quantile leg of the same IVM composition: each micro-batch
    // contributes its fixed-bin histogram state; after N batches the merged
    // state — and therefore every quantile closed from it — is BIT-identical
    // to a from-scratch histogram over all rows (integer counts over a
    // data-independent bin universe form a commutative monoid, so batch
    // boundaries cannot move a single count)
    implicit val sqlCtx = spark.sqlContext
    import graft.ops.Incremental
    val (lo, width, nBins) = (0.0, 0.5, 32)
    val input = MemoryStream[(Int, Double)]
    val df = input.toDF().toDF("k", "v")
    var state: Option[org.apache.spark.sql.DataFrame] = None
    val q = df.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val p = Incremental.histPartials(batch, Seq("k"), "v", lo, width, nBins)
          .localCheckpoint(true)
        state = Some(state.fold(p)(s =>
          Incremental.histMerge(s, p, Seq("k")).localCheckpoint(true)))
      }
      .start()
    try {
      val rows = (1 to 120).map(i => (i % 3, (i % 29) / 2.0))
      rows.grouped(40).foreach { chunk => input.addData(chunk); q.processAllAvailable() }
      val qs = Seq(0.25, 0.5, 0.9)
      val maintained = Incremental.histQuantile(state.get, Seq("k"), qs, lo, width)
        .orderBy("k", "q").collect().toSeq
      val direct = Incremental.histQuantile(
        Incremental.histPartials(rows.toDF("k", "v"), Seq("k"), "v", lo, width, nBins),
        Seq("k"), qs, lo, width)
        .orderBy("k", "q").collect().toSeq
      assert(maintained == direct && maintained.size == 9)
    } finally q.stop()
  }

  test("foreachBatch hist state closes a streaming PSI drift monitor, batch-parity") {
    // continuous drift monitoring: the baseline histogram is fitted once,
    // the live side's histogram state accretes per micro-batch, and PSI is
    // closed from the two STATES at any point — bit-identical to the batch
    // Stats.psi over the same rows (integer counts over a fixed bin
    // universe; the closing math is the shared psiCore)
    implicit val sqlCtx = spark.sqlContext
    import graft.ops.{Incremental, Stats}
    val (lo, width, nBins) = (0.0, 10.0, 10)
    val baseRows = (1 to 90).map(i => (i % 2, (i % 10) * 9.5))
    val liveRows = (1 to 120).map(i => (i % 2, ((i % 10) + 3) * 8.0))
    val baseHist = Incremental.histPartials(
      baseRows.toDF("k", "v"), Seq("k"), "v", lo, width, nBins).localCheckpoint(true)
    val input = MemoryStream[(Int, Double)]
    var state: Option[org.apache.spark.sql.DataFrame] = None
    val q = input.toDF().toDF("k", "v").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val p = Incremental.histPartials(batch, Seq("k"), "v", lo, width, nBins)
          .localCheckpoint(true)
        state = Some(state.fold(p)(s =>
          Incremental.histMerge(s, p, Seq("k")).localCheckpoint(true)))
      }
      .start()
    try {
      liveRows.grouped(40).foreach { chunk => input.addData(chunk); q.processAllAvailable() }
      val streamed = Stats.psiFromHists(baseHist, state.get, Seq("k"), nBins)
        .orderBy("k").collect().toSeq
      val direct = Stats.psi(
        baseRows.toDF("k", "v"), liveRows.toDF("k", "v"), Seq("k"), "v", lo, width, nBins)
        .orderBy("k").collect().toSeq
      assert(streamed == direct && streamed.size == 2)
      // the planted +3-bin shift must register as a real drift signal
      assert(streamed.forall(_.getDouble(3) > 0.1))
    } finally q.stop()
  }

  test("asofEnrich: events resolve to the latest at-or-before ref once the watermark passes") {
    import Streaming.{AsofIn, AsofOut}
    implicit val sqlCtx = spark.sqlContext

    def run(batches: Seq[Seq[AsofIn]]): Seq[AsofOut] = {
      val input = MemoryStream[AsofIn]
      // the delay must cover the test's cross-batch lateness: a ref older
      // than the watermark is dropped BEFORE the operator (that filtering
      // is the contract that makes the buffered resolution safe)
      val q = Streaming.asofEnrich(input.toDS(), "1 minute")
        .writeStream.format("memory").queryName("asof_out").outputMode("append").start()
      try {
        batches.foreach { b => input.addData(b); q.processAllAvailable() }
        // a far-future ref pushes the watermark past every buffered event
        input.addData(Seq(AsofIn("u1", 1000000L, isRef = true, 0.0),
          AsofIn("u2", 1000000L, isRef = true, 0.0)))
        q.processAllAvailable()
        q.processAllAvailable() // one extra cycle for the event-time timers
        spark.table("asof_out").as[AsofOut].collect().toSeq
          .sortBy(o => (o.user, o.tsMs))
      } finally { q.stop(); spark.sql("DROP TABLE IF EXISTS asof_out") }
    }

    val refs = Seq( // u1 timeline: 10->1.0, 30->3.0; u2: 20->2.0
      AsofIn("u1", 10000L, isRef = true, 1.0),
      AsofIn("u1", 30000L, isRef = true, 3.0),
      AsofIn("u2", 20000L, isRef = true, 2.0))
    val events = Seq( // u1 probes before/between/after; u2 before its ref
      AsofIn("u1", 5000L, isRef = false, 0.0),
      AsofIn("u1", 15000L, isRef = false, 0.0),
      AsofIn("u1", 30000L, isRef = false, 0.0),
      AsofIn("u1", 45000L, isRef = false, 0.0),
      AsofIn("u2", 19000L, isRef = false, 0.0),
      AsofIn("u2", 25000L, isRef = false, 0.0))
    val expected = Seq(
      AsofOut("u1", 5000L, None, None),
      AsofOut("u1", 15000L, Some(10000L), Some(1.0)),
      AsofOut("u1", 30000L, Some(30000L), Some(3.0)), // at-or-before includes ==
      AsofOut("u1", 45000L, Some(30000L), Some(3.0)),
      AsofOut("u2", 19000L, None, None),
      AsofOut("u2", 25000L, Some(20000L), Some(2.0)))

    // refs and events interleaved across batches, events FIRST (the ref an
    // event needs arrives a batch later — the buffering case)
    assert(run(Seq(events, refs)) == expected)
    // different batch slicing, same output (replayability contract)
    assert(run(Seq(refs.take(1) ++ events.take(2), events.drop(2) ++ refs.drop(1))) == expected)
    assert(run(Seq(refs ++ events)) == expected)
  }

  test("foreachBatch + Sketch.countMinMerge maintain a sketch over a stream") {
    // per-batch count-min grids summed across micro-batches equal the
    // from-scratch sketch bit-for-bit (integer counters over a fixed
    // (level, bucket) universe — same monoid argument as the histogram)
    implicit val sqlCtx = spark.sqlContext
    import graft.ops.Sketch
    val input = MemoryStream[String]
    val df = input.toDF().toDF("token")
    var state: Option[org.apache.spark.sql.DataFrame] = None
    val q = df.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val p = Sketch.countMin(batch, "token", 3, 64).localCheckpoint(true)
        state = Some(state.fold(p)(s => Sketch.countMinMerge(s, p).localCheckpoint(true)))
      }
      .start()
    try {
      val rows = (1 to 90).map(i => s"tok${i % 7}")
      rows.grouped(30).foreach { chunk => input.addData(chunk); q.processAllAvailable() }
      val maintained = state.get.orderBy("level", "bucket")
        .as[(Int, Long, Long)].collect().toSeq
      val direct = Sketch.countMin(rows.toDF("token"), "token", 3, 64)
        .orderBy("level", "bucket").as[(Int, Long, Long)].collect().toSeq
      assert(maintained == direct && maintained.map(_._3).sum == 3L * 90)
    } finally q.stop()
  }

  test("foreachBatch + classificationCountsMerge maintain eval metrics over a stream") {
    // continuously-evaluated model quality: per-batch (n_true, n_pred, tp)
    // counts merged across micro-batches finalize to metrics bit-equal to
    // the from-scratch evaluation — the counts are the mergeable monoid,
    // the ratios close over them
    implicit val sqlCtx = spark.sqlContext
    import graft.ops.Stats
    val input = MemoryStream[(String, String)]
    val df = input.toDF().toDF("actual", "pred")
    var state: Option[org.apache.spark.sql.DataFrame] = None
    val q = df.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val p = Stats.classificationCounts(batch, "actual", "pred").localCheckpoint(true)
        state = Some(state.fold(p)(s =>
          Stats.classificationCountsMerge(s, p).localCheckpoint(true)))
      }
      .start()
    try {
      val rows = (1 to 90).map { i =>
        val actual = s"c${i % 3}"
        (actual, if (i % 7 == 0) s"c${(i + 1) % 3}" else actual) // ~1/7 misclassified
      }
      rows.grouped(30).foreach { chunk => input.addData(chunk); q.processAllAvailable() }
      val maintained = Stats.classificationFinalize(state.get)
        .orderBy("class").collect().toSeq
      val direct = Stats.classificationMetrics(rows.toDF("actual", "pred"), "actual", "pred")
        .orderBy("class").collect().toSeq
      assert(maintained == direct && maintained.size == 3)
    } finally q.stop()
  }

  test("tumblingAgg runs the W1 semantics incrementally over a stream") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String, Double)]
    val df = input.toDF().toDF("ts", "user", "value")
    val agg = Streaming.tumblingAgg(df, "ts", "user", "10 seconds", "30 seconds")
    val q = agg.writeStream
      .format("memory")
      .queryName("tumbling_test")
      .outputMode("complete")
      .start()
    try {
      input.addData((ts(1), "u1", 2.0), (ts(5), "u1", 4.0), (ts(12), "u2", 10.0))
      q.processAllAvailable()
      val rows = spark.table("tumbling_test")
        .select(col("window.start").cast("long"), col("user"), col("n"), col("mean_value"))
        .as[(Long, String, Long, Double)].collect().toSet
      assert(rows == Set((0L, "u1", 2L, 3.0), (10L, "u2", 1L, 10.0)))
      // late-but-inside-watermark data updates the earlier window
      input.addData((ts(8), "u1", 6.0))
      q.processAllAvailable()
      val rows2 = spark.table("tumbling_test")
        .select(col("window.start").cast("long"), col("user"), col("n"), col("mean_value"))
        .as[(Long, String, Long, Double)].collect().toSet
      assert(rows2.contains((0L, "u1", 3L, 4.0)))
    } finally q.stop()
  }

  test("chunkOverlap is streaming-safe: ingest-time RAG chunking in append mode") {
    // the chunker is a stateless tokenize+explode+slice projection, so it
    // runs unchanged on an unbounded stream (append mode, no watermark, no
    // state) — ingest-time chunking ahead of a streaming embedding index.
    // Batch parity pins that the streamed chunks are the batch chunks.
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val df = input.toDF().toDF("doc_id", "text")
    val chunks = graft.ops.Text.chunkOverlap(df, "doc_id", "text", 4, 3)
    val q = chunks.writeStream
      .format("memory")
      .queryName("chunk_test")
      .outputMode("append")
      .start()
    try {
      val docs = Seq(
        1L -> "a b c d e f g h i",
        2L -> "x y",
        3L -> (1 to 11).map(i => s"t$i").mkString(" "))
      input.addData(docs.take(2): _*)
      q.processAllAvailable()
      input.addData(docs.drop(2): _*) // a second micro-batch appends more chunks
      q.processAllAvailable()
      val got = spark.table("chunk_test")
        .select("doc_id", "chunk_id", "start_tok", "n_chunk_tokens", "chunk_text")
        .as[(Long, Long, Long, Long, String)].collect().toSet
      val want = graft.ops.Text.chunkOverlap(
        docs.toDF("doc_id", "text"), "doc_id", "text", 4, 3)
        .as[(Long, Long, Long, Long, String)].collect().toSet
      assert(got == want, s"stream/batch chunk mismatch: ${got.diff(want)} ${want.diff(got)}")
    } finally q.stop()
  }

  test("tokenBudgetStream admits the arrival-order prefix and closes the stratum for good") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Long, Long)]
    val df = input.toDF().toDF("lang", "doc_id", "n_tokens")
    val out = Streaming.tokenBudgetStream(df, "lang", "doc_id", "n_tokens", budget = 100L)
    val q = out.writeStream.format("memory").queryName("budget_test")
      .outputMode("append").start()
    try {
      // batch 1: en fills 90 of 100; de fills 60
      input.addData(("en", 1L, 50L), ("en", 2L, 40L), ("de", 3L, 60L))
      q.processAllAvailable()
      // batch 2: en doc 4 (20 tok) crosses the budget — rejected, and its
      // tokens still COUNT (inclusive prefix), so the tiny doc 5 after it
      // is rejected too even though 90 + 5 would fit
      input.addData(("en", 4L, 20L), ("en", 5L, 5L), ("de", 6L, 40L))
      q.processAllAvailable()
      val got = spark.table("budget_test")
        .select("stratum", "docId", "nTokens", "cumTokens", "keep")
        .as[(String, Long, Long, Long, Long)].collect().toSet
      val want = Set(
        ("en", 1L, 50L, 50L, 1L), ("en", 2L, 40L, 90L, 1L), ("de", 3L, 60L, 60L, 1L),
        ("en", 4L, 20L, 110L, 0L), ("en", 5L, 5L, 115L, 0L), ("de", 6L, 40L, 100L, 1L))
      assert(got == want, s"ledger mismatch: ${got.diff(want)} vs ${want.diff(got)}")
    } finally q.stop()
  }

  test("semanticDedupStream admits against kept cell-mates with first-kept attribution") {
    // one obvious cell (a k = 1 fit): A and C are orthogonal keepers;
    // B arrives later on A's direction (cos ≈ 1 ≥ τ) and drops attributed
    // to A; D likewise drops against C — across micro-batches, so the
    // admission state carries
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val fit = oneCellFit()
    val input = MemoryStream[(Long, Array[Double])]
    val df = input.toDF().toDF("vec_id", "embedding")
    val out = Streaming.semanticDedupStream(df, fit, "vec_id", "embedding", tau = 0.9)
    val q = out.writeStream.format("memory").queryName("semdedup_stream")
      .outputMode("append").start()
    try {
      input.addData((1L, Array(1.0, 0.0, 0.0)), (2L, Array(0.0, 1.0, 0.0)))
      q.processAllAvailable()
      input.addData((3L, Array(2.0, 0.001, 0.0)), (4L, Array(0.001, 3.0, 0.0)))
      q.processAllAvailable()
      val got = spark.table("semdedup_stream")
        .select("vecId", "keep", "keptBy").as[(Long, Long, Option[Long])]
        .collect().map { case (id, k, by) => id -> ((k, by)) }.toMap
      assert(got(1L) == ((1L, None)) && got(2L) == ((1L, None)),
        s"orthogonal keepers mangled: $got")
      assert(got(3L) == ((0L, Some(1L))) && got(4L) == ((0L, Some(2L))),
        s"later near-dups not dropped against their kept mates: $got")
    } finally q.stop()
  }

  test("semanticDedupStream: id-ordered ingest == the greedy SemDeDup pass, slice-invariant, keep ⊇ batch") {
    // the full sf0.001 embeddings corpus through the PRE-FITTED quantizer
    // (exactly sim_semantic_dedup's fit: k = adaptiveK(n, 64), 2 Lloyd
    // iters, se=4). Three contracts at once:
    //   (1) the streamed ledger equals a driver-side reference of the
    //       greedy sequential SemDeDup pass (same routing, same exact
    //       arithmetic) — the stream IS the greedy algorithm;
    //   (2) re-running with different micro-batch slicing (1 slice vs 3)
    //       yields the identical ledger — admission is a function of the
    //       id order, not the slicing;
    //   (3) the stream keep set CONTAINS the batch sim_semantic_dedup keep
    //       set (stream drops need a KEPT claimant; batch drops accept any
    //       lower-id claimant — the documented containment direction).
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val sfDir = "/root/testdata/sf0.001"
    val tau = 0.4
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
      .withColumn("n2", graft.ops.Vectors.norm2Exact(col("embedding")))
    val n = e.count()
    val k = graft.ml.IvfQuantizer.adaptiveK(n, 64)
    val fit = graft.ml.IvfQuantizer
      .fitCollect(e, "vec_id", "embedding", "n2", k, 2, sampleEvery = 4)
    val cents = graft.ml.IvfQuantizer.routingTable(fit)
    val vecs = e.select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])].collect().sortBy(_._1)
      .map { case (id, vf) => (id, vf.map(_.toDouble)) }
    graft.ops.Caches.releaseAll()

    // driver-side greedy reference: route, then admit in id order per cell
    import graft.functions.ExactDot
    val routed = vecs.map { case (id, v) =>
      val vN2: Double = ExactDot.computeArrays(v, v, 9)
      (id, graft.ml.IvfQuantizer.routeVector(v, vN2, cents), v, vN2)
    }
    val keptPerCell = scala.collection.mutable.Map
      .empty[Long, List[(Long, Array[Double], Double)]]
    val expected = routed.map { case (id, cell, v, vN2) =>
      val kept = keptPerCell.getOrElse(cell, Nil)
      val claims = kept.flatMap { case (kid, kv, kn2) =>
        val dot = ExactDot.computeArrays(v, kv, 9)
        val den = math.sqrt(vN2) * math.sqrt(kn2)
        if (dot != null && den != 0.0 && dot.doubleValue() / den >= tau)
          Some((kid, dot.doubleValue() / den))
        else None
      }
      if (claims.isEmpty) {
        keptPerCell(cell) = kept :+ ((id, v, vN2))
        (id, cell, 1L, None: Option[Long], None: Option[Long], None: Option[Double])
      } else
        (id, cell, 0L, Some(claims.map(_._1).min), Some(claims.size.toLong),
          Some(claims.map(_._2).max))
    }.toSet

    def runStream(slices: Int, name: String): Set[(Long, Long, Long, Option[Long], Option[Long], Option[Double])] = {
      val input = MemoryStream[(Long, Array[Double])]
      val df = input.toDF().toDF("vec_id", "embedding")
      val out = Streaming.semanticDedupStream(df, fit, "vec_id", "embedding", tau)
      val q = out.writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      try {
        vecs.grouped(math.max(1, vecs.length / slices)).foreach { chunk =>
          input.addData(chunk.toSeq); q.processAllAvailable()
        }
        spark.table(name)
          .select("vecId", "cell", "keep", "keptBy", "nDup", "maxCos")
          .as[(Long, Long, Long, Option[Long], Option[Long], Option[Double])]
          .collect().toSet
      } finally q.stop()
    }
    val one = runStream(1, "semdedup_par1")
    val three = runStream(3, "semdedup_par3")
    graft.ops.Caches.releaseAll()
    assert(one == three, "micro-batch slicing changed the ledger")
    assert(one == expected,
      s"stream diverged from the greedy reference: ${one.diff(expected).take(5)} vs ${expected.diff(one).take(5)}")

    val batchKeep = graft.SparkEntry.queries("sim_semantic_dedup")(spark, sfDir)
      .filter(col("keep") === 1L).select(col("vec_id"))
      .as[Long].collect().toSet
    graft.ops.Caches.releaseAll()
    val streamKeep = one.collect { case (id, _, 1L, _, _, _) => id }
    assert(batchKeep.subsetOf(streamKeep),
      s"stream keep set lost batch keeps: ${batchKeep.diff(streamKeep).take(10)}")
  }

  test("semanticDedupStream: green under the RocksDB state-store provider (the cluster pick)") {
    // same provider pin as nearDupDedupStream's: the per-cell kept-vector
    // state (case class with an Array[Double] payload) must round-trip the
    // RocksDB provider unchanged, so the cluster config is supported, not
    // hoped — semantics identical to the HDFS-provider run above
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val fit = oneCellFit()
      val input = MemoryStream[(Long, Array[Double])]
      val df = input.toDF().toDF("vec_id", "embedding")
      val out = Streaming.semanticDedupStream(df, fit, "vec_id", "embedding", tau = 0.9)
      val q = out.writeStream.format("memory").queryName("semdedup_rocks")
        .outputMode("append").start()
      try {
        input.addData((1L, Array(1.0, 0.0, 0.0)), (2L, Array(0.0, 1.0, 0.0)))
        q.processAllAvailable()
        input.addData((3L, Array(2.0, 0.001, 0.0)), (4L, Array(0.001, 3.0, 0.0)))
        q.processAllAvailable()
        val got = spark.table("semdedup_rocks")
          .select("vecId", "keep", "keptBy").as[(Long, Long, Option[Long])]
          .collect().map { case (id, k, by) => id -> ((k, by)) }.toMap
        assert(got == Map(
          1L -> ((1L, None)), 2L -> ((1L, None)),
          3L -> ((0L, Some(1L))), 4L -> ((0L, Some(2L)))), s"got $got")
      } finally q.stop()
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  test("sessionWindowAgg merges and emits sessions as the watermark passes them") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String, Double)]
    val df = input.toDF().toDF("ts", "user", "value")
    val agg = Streaming.sessionWindowAgg(df, "ts", "user", "5 seconds", "10 seconds")
    val q = agg.writeStream
      .format("memory").queryName("session_stream").outputMode("append").start()
    try {
      // two bursts 20s apart: first session is (1, 4, 8), second (30)
      input.addData((ts(1), "u1", 1.0), (ts(4), "u1", 1.0), (ts(8), "u1", 1.0))
      q.processAllAvailable()
      input.addData((ts(30), "u1", 1.0))
      q.processAllAvailable()
      input.addData((ts(60), "u1", 1.0)) // push the watermark past session 2
      q.processAllAvailable()
      val rows = spark.table("session_stream")
        .select(col("session_start").cast("long"), col("session_end").cast("long"), col("n"))
        .as[(Long, Long, Long)].collect().toSet
      // session 1: [1, 8+5); session 2: [30, 30+5) — both closed by now
      assert(rows.contains((1L, 13L, 3L)) && rows.contains((30L, 35L, 1L)))
    } finally q.stop()
  }

  test("sessionizeRle emits closed runs incrementally with end-exclusive bounds") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Streaming.Obs]
    val q = Streaming.sessionizeRle(input.toDS())
      .writeStream.format("memory").queryName("rle_stream").outputMode("append").start()
    try {
      input.addData(
        Streaming.Obs("u1", 0L, "a"), Streaming.Obs("u1", 200L, "a"),
        Streaming.Obs("u1", 400L, "b"))
      q.processAllAvailable()
      val closed = spark.table("rle_stream")
        .as[Streaming.Segment].collect().toSeq
      // the a-run closed when b arrived; end = first ts AFTER the run
      assert(closed == Seq(Streaming.Segment("u1", "a", 0L, 400L, 2L)))
      // the open b-run closes when the label changes in a later batch
      input.addData(Streaming.Obs("u1", 600L, "c"))
      q.processAllAvailable()
      val closed2 = spark.table("rle_stream").as[Streaming.Segment].collect().toSeq
      assert(closed2.contains(Streaming.Segment("u1", "b", 400L, 600L, 1L)))
    } finally q.stop()
  }

  test("sessionizeRle event-time flush: the watermark, not wall clock, closes idle runs") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Streaming.Obs]
    // flush a run once event time moves 1s past its last observation;
    // watermark delay 0 → watermark = max event time seen in the prior batch
    val q = Streaming.sessionizeRle(
      input.toDS(), timeoutMs = Some(1000L), eventTimeWatermark = Some("0 seconds"))
      .writeStream.format("memory").queryName("rle_et_stream").outputMode("append").start()
    try {
      // event times sit above the initial watermark (0) — epoch-0 rows would
      // be dropped as late before ever reaching the state function
      input.addData(Streaming.Obs("u1", 10000L, "a"), Streaming.Obs("u1", 10200L, "a"))
      q.processAllAvailable()
      // run is open; nothing emitted, and no amount of WALL time would flush it
      assert(spark.table("rle_et_stream").count() == 0)
      // another user's event advances event time past 10200 + 1000 → u1's
      // idle run must flush on the next timer check, at its true extent
      input.addData(Streaming.Obs("u2", 15000L, "x"))
      q.processAllAvailable()
      input.addData(Streaming.Obs("u2", 19000L, "x")) // one more batch: timers fire after watermark update
      q.processAllAvailable()
      val flushed = spark.table("rle_et_stream").as[Streaming.Segment].collect().toSeq
      assert(flushed.contains(Streaming.Segment("u1", "a", 10000L, 10200L, 2L)),
        s"idle run not flushed by watermark advance: $flushed")
    } finally q.stop()
  }

  test("intervalJoin: stream-stream join matches only within the time bounds") {
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[(Timestamp, String, String)]
    val buys = MemoryStream[(Timestamp, String, Double)]
    val joined = Streaming.intervalJoin(
      clicks.toDF().toDF("cts", "user", "page"),
      buys.toDF().toDF("bts", "user", "amount"),
      "user", "cts", "bts",
      before = "0 seconds", after = "10 seconds",
      watermarkDelay = "5 seconds")
    val q = joined
      .select(col("user"), col("page"), col("amount"),
        col("cts").cast("long"), col("bts").cast("long"))
      .writeStream.format("memory").queryName("ij_test").outputMode("append").start()
    try {
      // u1 buys 8s after the click (inside [0, +10]); u2 buys 20s after
      // (outside); u3 buys 2s BEFORE (outside: before-bound is 0)
      clicks.addData((ts(10), "u1", "home"), (ts(10), "u2", "cart"), (ts(10), "u3", "promo"))
      buys.addData((ts(18), "u1", 5.0), (ts(30), "u2", 9.0), (ts(8), "u3", 7.0))
      q.processAllAvailable()
      val rows = spark.table("ij_test")
        .as[(String, String, Double, Long, Long)].collect().toSet
      assert(rows == Set(("u1", "home", 5.0, 10L, 18L)))
    } finally q.stop()
  }

  test("intervalJoin runs unchanged on batch frames") {
    val clicks = Seq((ts(10), "u1", "home"), (ts(10), "u2", "cart"))
      .toDF("cts", "user", "page")
    val buys = Seq((ts(18), "u1", 5.0), (ts(30), "u2", 9.0))
      .toDF("bts", "user", "amount")
    val rows = Streaming.intervalJoin(
      clicks, buys, "user", "cts", "bts", "0 seconds", "10 seconds", "5 seconds")
      .select("user", "amount").as[(String, Double)].collect().toSet
    assert(rows == Set(("u1", 5.0)))
  }

  test("tumblingAgg is the same code path for batch frames") {
    val batch = Seq((ts(1), "u1", 2.0), (ts(5), "u1", 4.0))
      .toDF("ts", "user", "value")
    val out = Streaming.tumblingAgg(batch, "ts", "user", "10 seconds", "30 seconds")
      .select(col("user"), col("n"), col("mean_value"))
      .as[(String, Long, Double)].collect().toSeq
    assert(out == Seq(("u1", 2L, 3.0)))
  }

  test("nearDupDedupStream: LSH near-dup kept set matches the batch d14 survivors") {
    implicit val sqlCtx = spark.sqlContext
    import graft.ops.Dedup
    val a = "the quick brown fox jumps over the lazy dog"
    val b = "pack my box with five dozen liquor jugs"
    val c = "sphinx of black quartz judge my vow"
    val originals = Seq((ts(1), 1L, a), (ts(2), 3L, b), (ts(3), 5L, c))
    val dups = Seq((ts(4), 2L, a), (ts(5), 4L, b)) // exact near-dups of 1 and 3
    val corpus = (originals ++ dups).map { case (_, id, t) => (id, t) }

    // batch ground truth: the d14 composition's survivors (cluster
    // representative = the minimum reachable id from connectedComponents)
    val docs = corpus.toDF("doc_id", "text")
    val sig = Dedup.minhashSignaturesLocal(docs, "doc_id", "text", 3, 8)
    val pairs = Dedup.lshCandidates(sig, "doc_id", 8, 4)
      .filter(col("n_equal") >= 6).select("a_id", "b_id")
    val comp = Dedup.connectedComponents(pairs, "a_id", "b_id")
      .withColumnRenamed("id", "doc_id")
    val batchSurvivors = docs.join(comp, Seq("doc_id"), "left")
      .filter(coalesce(col("comp"), col("doc_id")) === col("doc_id"))
      .select("doc_id").as[Long].collect().toSet
    assert(batchSurvivors == Set(1L, 3L, 5L)) // sanity: dups clustered

    val input = MemoryStream[(Timestamp, Long, String)]
    val df = input.toDF().toDF("ts", "doc_id", "text")
    val q = Streaming.nearDupDedupStream(
      df, "ts", "doc_id", "text", shingleK = 3, nHashes = 8, nBands = 4,
      watermarkDelay = "10 seconds", windowLength = "1 minute")
      .writeStream.format("memory").queryName("neardup_stream").outputMode("append").start()
    try {
      // originals and dups land in different micro-batches but the SAME
      // [0, 60s) window — the windowed min-id resolution is
      // arrival-order-free; one pusher past window.end + delay finalizes
      // both chained stages
      input.addData(originals: _*); q.processAllAvailable()
      input.addData(dups: _*); q.processAllAvailable()
      input.addData((ts(600), 99L, "totally unrelated watermark pusher text here"))
      q.processAllAvailable()
      val kept = spark.table("neardup_stream").as[(Long, Long)].collect().toMap
      assert(kept.keySet == batchSurvivors, s"stream kept ${kept.keySet}")
      assert(kept.values.forall(_ == 4L)) // every keeper claimed all 4 bands
      // horizon contract: the window IS the dedup horizon, so a duplicate
      // of doc 1 landing in a LATER window is RE-ADMITTED; each pusher
      // closes the previous arrival's window
      input.addData((ts(1000), 7L, a)); q.processAllAvailable()
      input.addData((ts(1100), 97L, "third pusher text with yet more unrelated words"))
      q.processAllAvailable()
      input.addData((ts(1700), 96L, "fourth pusher sentence full of other unrelated words"))
      q.processAllAvailable()
      val later = spark.table("neardup_stream").as[(Long, Long)].collect().map(_._1).toSet
      // 99's window closed at the doc-7 arrival, 7's at the 97 pusher,
      // 97's at the 96 pusher; 96's own window is still open at the end
      assert(later == batchSurvivors ++ Set(99L, 7L, 97L), s"got $later")
    } finally q.stop()
  }

  test("nearDupDedupStream: same-batch cluster members keep exactly the min-id member") {
    // the round-6 advice hazard: originals AND their dups arriving in ONE
    // micro-batch. With an arbitrary per-band first-claim, members of one
    // cluster could split the band keys so no doc claims all of them and
    // the WHOLE cluster vanishes; the within-window min-id resolution must
    // keep exactly the minimum-id member of each cluster (batch d14's
    // representative convention)
    implicit val sqlCtx = spark.sqlContext
    val a = "the quick brown fox jumps over the lazy dog"
    val b = "pack my box with five dozen liquor jugs"
    val c = "sphinx of black quartz judge my vow"
    val batch = Seq(
      (ts(1), 2L, a), (ts(2), 1L, a), // cluster {1, 2} — dup FIRST in arrival order
      (ts(3), 3L, b), (ts(4), 4L, b), // cluster {3, 4}
      (ts(5), 5L, c)) // singleton
    val input = MemoryStream[(Timestamp, Long, String)]
    val df = input.toDF().toDF("ts", "doc_id", "text")
    val q = Streaming.nearDupDedupStream(
      df, "ts", "doc_id", "text", shingleK = 3, nHashes = 8, nBands = 4,
      watermarkDelay = "10 seconds", windowLength = "1 minute")
      .writeStream.format("memory").queryName("neardup_samebatch").outputMode("append").start()
    try {
      input.addData(batch: _*); q.processAllAvailable()
      input.addData((ts(600), 99L, "totally unrelated watermark pusher text here"))
      q.processAllAvailable()
      val kept = spark.table("neardup_samebatch").as[(Long, Long)].collect().toMap
      assert(kept.keySet == Set(1L, 3L, 5L), s"stream kept ${kept.keySet}")
      assert(kept.values.forall(_ == 4L)) // each keeper won all 4 bands
    } finally q.stop()
  }

  test("nearDupDedupStream: green under the RocksDB state-store provider (the cluster pick)") {
    // the round-8 probe (`git show 1352e6c:tools/rocksdb_probe.scala`,
    // BASELINE.md) named RocksDB the cluster provider: ~1.6× faster ingest
    // and no in-heap state OOM risk. The switch is one session conf read at query start —
    // this run pins that the chained dual-stateful plan (dedup → windowed
    // count) stays semantically identical under it, so the toggle is a
    // supported config, not a hope.
    implicit val sqlCtx = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val a = "the quick brown fox jumps over the lazy dog"
    val b = "pack my box with five dozen liquor jugs"
    val c = "sphinx of black quartz judge my vow"
    val batch = Seq(
      (ts(1), 2L, a), (ts(2), 1L, a),
      (ts(3), 3L, b), (ts(4), 4L, b),
      (ts(5), 5L, c))
    val input = MemoryStream[(Timestamp, Long, String)]
    val df = input.toDF().toDF("ts", "doc_id", "text")
    val q = Streaming.nearDupDedupStream(
      df, "ts", "doc_id", "text", shingleK = 3, nHashes = 8, nBands = 4,
      watermarkDelay = "10 seconds", windowLength = "1 minute")
      .writeStream.format("memory").queryName("neardup_rocksdb").outputMode("append").start()
    try {
      input.addData(batch: _*); q.processAllAvailable()
      input.addData((ts(600), 99L, "totally unrelated watermark pusher text here"))
      q.processAllAvailable()
      val kept = spark.table("neardup_rocksdb").as[(Long, Long)].collect().toMap
      assert(kept.keySet == Set(1L, 3L, 5L), s"RocksDB run kept ${kept.keySet}")
      assert(kept.values.forall(_ == 4L))
    } finally {
      q.stop()
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("exactDedupStream keeps the first doc per fingerprint within the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long, String)]
    val df = input.toDF().toDF("ts", "doc_id", "text")
    val q = Streaming.exactDedupStream(df, "ts", "text", "1 minute")
      .select("doc_id", "fp")
      .writeStream.format("memory").queryName("dedup_stream").outputMode("append").start()
    try {
      // doc 2 duplicates doc 1 up to whitespace/case (same normalization as
      // batch exactGroups); doc 3 is distinct
      input.addData(
        (ts(1), 1L, "The quick  fox"),
        (ts(2), 2L, "the quick fox"),
        (ts(3), 3L, "something else"))
      q.processAllAvailable()
      val kept = spark.table("dedup_stream").as[(Long, String)].collect().toSeq
      // exactly one survivor per fingerprint: one of {1,2}, plus 3
      assert(kept.size == 2)
      assert(kept.map(_._2).distinct.size == 2)
      assert(kept.exists(k => k._1 == 1L || k._1 == 2L) && kept.exists(_._1 == 3L))
      // a later in-watermark duplicate of doc 3 is suppressed too
      input.addData((ts(10), 4L, "SOMETHING   ELSE"))
      q.processAllAvailable()
      assert(spark.table("dedup_stream").count() == 2)
      // ... but the horizon IS the contract: advance the watermark far past
      // the stored fingerprints (batch N's max event time sets the watermark
      // used by batch N+1), then a long-delayed duplicate is RE-ADMITTED
      // because its fingerprint state expired
      input.addData((ts(200), 5L, "fresh text to advance the watermark"))
      q.processAllAvailable()
      assert(spark.table("dedup_stream").count() == 3)
      input.addData((ts(201), 6L, "something else")) // dup of doc 3, post-expiry
      q.processAllAvailable()
      val ids = spark.table("dedup_stream").as[(Long, String)].collect().map(_._1).toSet
      assert(ids.contains(6L), s"expired-state duplicate should be re-admitted, got $ids")
      assert(spark.table("dedup_stream").count() == 4)
    } finally q.stop()
  }

  test("dsirAdmitStream: streamed scores are bit-identical to the batch mix_dsir ledger") {
    // the real sf0.001 pool docs through the PRE-FITTED log-ratio table
    // (exactly mix_dsir's fit: target 'en', 256 buckets). The stream is a
    // stateless projection, so the contract is exact score parity with
    // the batch dsirLedger per doc (same per-bucket fixed-point
    // truncation, order-independent integer fold), plus the threshold
    // admission matching a driver-side cut of the batch weights.
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val sfDir = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("lang"), col("text"))
    val batch = graft.ops.Sampling
      .dsirLedger(docs, "doc_id", "text", "lang", "en", 256, 25)
      .select("doc_id", "n_feats", "dsir_logweight")
      .as[(Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    val lr = graft.ops.Sampling
      .dsirLogRatios(docs, "doc_id", "text", "lang", "en", 256)
    val pool = docs.filter(col("lang") =!= "en")
      .as[(Long, String, String)].collect().sortBy(_._1)
    graft.ops.Caches.releaseAll()
    val threshold = batch.values.map(_._2).toSeq.sorted.apply(batch.size / 2) // median cut
    val input = MemoryStream[(Long, String, String)]
    val df = input.toDF().toDF("doc_id", "lang", "text")
    val out = graft.streaming.Streaming
      .dsirAdmitStream(df, lr, "doc_id", "text", "lang", 256, threshold)
    val q = out.writeStream.format("memory").queryName("dsir_stream")
      .outputMode("append").start()
    try {
      val (h, t) = pool.splitAt(pool.length / 2)
      input.addData(h.toIndexedSeq); q.processAllAvailable()
      input.addData(t.toIndexedSeq); q.processAllAvailable()
      val got = spark.table("dsir_stream")
        .select("doc_id", "n_feats", "dsir_logweight", "admit")
        .as[(Long, Long, Double, Long)].collect()
      assert(got.length == pool.length && got.map(_._1).toSet == batch.keySet)
      got.foreach { case (id, nf, w, adm) =>
        val (bn, bw) = batch(id)
        assert(nf == bn, s"doc $id n_feats stream=$nf batch=$bn")
        assert(w == bw, s"doc $id weight stream=$w batch=$bw (must be bit-identical)")
        assert(adm == (if (bw >= threshold) 1L else 0L), s"doc $id admit flag wrong")
      }
    } finally q.stop()
  }

  test("curationGateStream: gate values bit-match the fitted batch operators; short docs fail closed") {
    // the real sf0.001 corpus through gates routed against PRE-FITTED
    // broadcast language profiles. Reference = the three registered batch
    // operators themselves (languageId / qualityScore / gopherRepetition),
    // NOT curationGates — so this simultaneously pins the array-local
    // reimplementation's batch parity per field and its streaming-safety
    // (the plan must analyze as a stateless streaming SELECT).
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val sfDir = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("lang"), col("text"))
    val profiles = graft.ops.Text.languageProfiles(docs, "doc_id", "text", "lang", 20)
    val pred = graft.ops.Text.languageId(docs, "doc_id", "text", "lang", 20)
      .select("doc_id", "pred_lang").as[(Long, String)].collect().toMap
    val qual = graft.ops.Text.qualityScore(docs, "doc_id", "text")
      .select("doc_id", "n_tokens", "quality_score")
      .as[(Long, Long, Double)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    val rep = graft.ops.Text.gopherRepetition(docs, "doc_id", "text")
      .select("doc_id", "flagged").as[(Long, Long)].collect().toMap
    val rows = docs.as[(Long, String, String)].collect().sortBy(_._1)
    val langOf = rows.map(r => r._1 -> r._2).toMap
    val input = MemoryStream[(Long, String, String)]
    val df = input.toDF().toDF("doc_id", "lang", "text")
    val out = graft.streaming.Streaming
      .curationGateStream(df, "doc_id", "text", "lang", profiles, qualityMin = 0.35)
    val q = out.writeStream.format("memory").queryName("gate_stream")
      .outputMode("append").start()
    try {
      val (h, t) = rows.splitAt(rows.length / 2)
      input.addData(h.toIndexedSeq); q.processAllAvailable()
      // plus one sub-3-token doc: rep_flagged must be NULL (the batch op
      // emits no row) and the admit conjunction must fail CLOSED on it
      input.addData(t.toIndexedSeq :+ ((99999L, "en", "tiny doc")))
      q.processAllAvailable()
      val got = spark.table("gate_stream")
        .select("doc_id", "pred_lang", "n_tokens", "quality_score",
          "lang_ok", "quality_ok", "rep_flagged", "admit")
        .as[(Long, Option[String], Long, Double, Boolean, Boolean, Option[Long], Long)]
        .collect()
      assert(got.length == rows.length + 1)
      got.filter(_._1 != 99999L).foreach { case (id, pl, nt, qs, lok, qok, rf, adm) =>
        assert(pl == pred.get(id), s"doc $id pred_lang stream=$pl batch=${pred.get(id)}")
        val (bn, bq) = qual(id)
        assert(nt == bn, s"doc $id n_tokens stream=$nt batch=$bn")
        assert(qs == bq, s"doc $id quality_score stream=$qs batch=$bq (must be bit-identical)")
        assert(rf == rep.get(id), s"doc $id rep_flagged stream=$rf batch=${rep.get(id)}")
        assert(lok == pred.get(id).contains(langOf(id)), s"doc $id lang_ok wrong")
        assert(qok == (bq >= 0.35), s"doc $id quality_ok wrong")
        assert(adm == (if (lok && qok && rf.contains(0L)) 1L else 0L), s"doc $id admit wrong")
      }
      val s = got.find(_._1 == 99999L).get
      assert(s._7.isEmpty, "short doc should be rep-unauditable (NULL)")
      assert(s._8 == 0L, "short doc must fail closed")
    } finally q.stop()
  }

  test("streaming funnel chain: stateless gates -> exact dedup run as ONE query; first claimant survives") {
    // the cur_funnel ingest composition the curationGateStream scaladoc
    // names: gates (stateless projection) feeding dropDuplicatesWithinWatermark
    // on the fingerprint in a single streaming query — gating costs no
    // state, so chaining it ahead of the dedup's one stateful op is legal,
    // and only gate-admitted docs occupy dedup state (the order that
    // keeps 100 TB/day ingest state to the admitted fraction).
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("lang"), col("text"))
    val profiles = graft.ops.Text.languageProfiles(docs, "doc_id", "text", "lang", 20)
    val input = MemoryStream[(Long, String, String, java.sql.Timestamp)]
    val df = input.toDF().toDF("doc_id", "lang", "text", "ts")
    // the gates with text + ts carried through for the dedup stage (the
    // curationGateStream projection with extra carry columns)
    val gatedFull = graft.ops.Text.curationGates(
        df, "doc_id", "text", profiles, 0.35, carryCols = Seq("lang", "text", "ts"))
      .filter(
        coalesce(col("pred_lang") === col("lang"), lit(false)) &&
          col("quality_ok") && coalesce(col("rep_flagged") === 0L, lit(false)))
    val deduped = gatedFull
      .withColumn("fp", graft.ops.Text.fingerprint(col("text")))
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("fp")
      .select("doc_id", "lang", "n_tokens")
    val q = deduped.writeStream.format("memory").queryName("funnel_chain")
      .outputMode("append").start()
    try {
      val t0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
      val rows = docs.as[(Long, String, String)].collect().sortBy(_._1)
        .map(r => (r._1, r._2, r._3, t0))
      // duplicate every admitted doc under a NEW id in a later batch: the
      // first claimant must survive, the re-ingest copy must not
      val (h, t) = rows.splitAt(rows.length / 2)
      input.addData(h.toIndexedSeq); q.processAllAvailable()
      input.addData(t.toIndexedSeq); q.processAllAvailable()
      input.addData(rows.map(r => (r._1 + 1000000L, r._2, r._3, t0)).toIndexedSeq)
      q.processAllAvailable()
      val got = spark.table("funnel_chain").select("doc_id")
        .as[Long].collect().toSet
      // batch reference: gate-admitted set (dedup is a no-op on the
      // original corpus — sf0.001 has no exact dups — so survivors ==
      // admitted originals, and none of the +1000000 re-ingest copies)
      val admitted = graft.ops.Text
        .curationGates(docs, "doc_id", "text", profiles, 0.35, carryCols = Seq("lang"))
        .filter(
          coalesce(col("pred_lang") === col("lang"), lit(false)) &&
            col("quality_ok") && coalesce(col("rep_flagged") === 0L, lit(false)))
        .select("doc_id").as[Long].collect().toSet
      assert(got == admitted, "chained survivors != gate-admitted first claimants")
      assert(got.nonEmpty && !got.exists(_ >= 1000000L), "a re-ingest duplicate survived")
    } finally q.stop()
  }

  test("pcaScoreStream: scores bit-match the batch pc1Scores against the pre-fitted direction") {
    // fit batch, route stream: the pre-fitted (mu, v) direction scores
    // arriving vectors in a stateless array-local projection — per-vector
    // scores must be BIT-identical to the batch Pca.pc1ScoresFrom (integer
    // trunc-9 terms make the array-order fold and the batch groupBy sum
    // agree exactly), across micro-batch slicing
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val f = graft.ml.Pca.fitK(emb, "vec_id", "embedding", 64, 6, 4, k = 1)
    val batch = graft.ml.Pca.pc1ScoresFrom(f, emb, "vec_id", "embedding", 64)
      .as[(Long, Double)].collect().toMap
    val rows = emb.as[(Long, Array[Float])].collect()
    val input = MemoryStream[(Long, Array[Float])]
    val df = input.toDF().toDF("vec_id", "embedding")
    val out = Streaming.pcaScoreStream(df, "vec_id", "embedding", f)
    val q = out.writeStream.format("memory").queryName("pca_stream")
      .outputMode("append").start()
    try {
      val (h, t2) = rows.splitAt(rows.length / 2)
      input.addData(h.toIndexedSeq); q.processAllAvailable()
      input.addData(t2.toIndexedSeq); q.processAllAvailable()
      val got = spark.table("pca_stream").as[(Long, Double)].collect().toMap
      assert(got.size == rows.length)
      got.foreach { case (id, s) =>
        assert(s == batch(id), s"vec $id stream=$s batch=${batch(id)} (must be bit-identical)")
      }
    } finally q.stop()
  }

  test("streaming PCA gate -> exact dedup chain: ONE query, batch-parity keep set") {
    // the new fit rides the established fit-batch/route-stream contract
    // CHAINED: the stateless PC1 outlier gate (|score| <= cap) feeds the
    // watermarked exact dedup on a carried content fingerprint in one
    // streaming query (stateless projection + one stateful op — the
    // curationGates -> dedup shape). Re-ingested copies of gate-passing
    // vectors must dedup away; copies of gate-FAILING vectors must die at
    // the gate (same embedding => bit-same score); survivor scores stay
    // bit-identical to batch.
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
      .filter(col("vec_id") < 200)
    val f = graft.ml.Pca.fitK(emb, "vec_id", "embedding", 64, 6, 4, k = 1)
    val batchScores = graft.ml.Pca
      .pc1ScoresFrom(f, emb, "vec_id", "embedding", 64)
      .as[(Long, Double)].collect().toMap
    // cap at the 75th percentile of |score|: the gate genuinely splits
    val cap = batchScores.values.map(math.abs).toSeq.sorted.apply(149)
    val passing = batchScores.filter { case (_, s) => math.abs(s) <= cap }.keySet
    assert(passing.nonEmpty && passing.size < 200)

    val rows = emb.as[(Long, Array[Float])].collect().sortBy(_._1)
    val t0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    val input = MemoryStream[(Long, Array[Float], java.sql.Timestamp)]
    val df = input.toDF().toDF("vec_id", "embedding", "ts")
    val chained = Streaming
      .pcaScoreStream(df, "vec_id", "embedding", f, carryCols = Seq("embedding", "ts"))
      .filter(abs(col("pc1_score")) <= cap)
      .withColumn("fp", xxhash64(col("embedding")))
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("fp")
      .select("vec_id", "pc1_score")
    val q = chained.writeStream.format("memory").queryName("pca_gate_dedup")
      .outputMode("append").start()
    try {
      // batch 1: the originals (id-ordered); batch 2: +1000000 re-ingest
      // copies arriving within the watermark — every copy must lose
      input.addData(rows.map(r => (r._1, r._2, t0)).toIndexedSeq)
      q.processAllAvailable()
      input.addData(rows.map(r => (r._1 + 1000000L, r._2, t0)).toIndexedSeq)
      q.processAllAvailable()
      val got = spark.table("pca_gate_dedup").as[(Long, Double)].collect().toMap
      assert(got.keySet == passing,
        "chained survivors != batch gate-passing originals")
      got.foreach { case (id, s) =>
        assert(s == batchScores(id), s"vec $id survivor score drifted from batch")
      }
    } finally q.stop()
  }

  test("whitenScoreStream + whitenResidualStream bit-match the batch whitening pipeline") {
    // fit batch (k=2 FitK), route stream: the array-local pc folds and the
    // fixed left-assoc residual chain must reproduce Pca.whitenScores and
    // the batch residual frame BIT-identically, across micro-batch slicing
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val fk = graft.ml.Pca.fitK(emb, "vec_id", "embedding", 64, 6, 4, k = 2)
    val batchW = graft.ml.Pca.whitenScores(fk, emb, "vec_id", "embedding", 64)
      .as[(Long, Double, Double, Double, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    val muL = typedLit(fk.mu.toSeq)
    val v1L = typedLit(fk.vs(0).toSeq)
    val v2L = typedLit(fk.vs(1).toSeq)
    val batchResid = emb
      .join(graft.ml.Pca.whitenScores(fk, emb, "vec_id", "embedding", 64)
        .select(col("vec_id"), col("pc_1"), col("pc_2")), "vec_id")
      .select(col("vec_id"),
        transform(sequence(lit(1), lit(64)), dd =>
          element_at(col("embedding"), dd).cast("double") - element_at(muL, dd)
            - col("pc_1") * element_at(v1L, dd)
            - col("pc_2") * element_at(v2L, dd)).as("resid"))
      .as[(Long, Array[Double])].collect().toMap
    graft.ops.Caches.releaseAll()
    val rows = emb.as[(Long, Array[Float])].collect()

    val input = MemoryStream[(Long, Array[Float])]
    val df = input.toDF().toDF("vec_id", "embedding")
    val out = Streaming.whitenScoreStream(df, "vec_id", "embedding", fk)
    val q = out.writeStream.format("memory").queryName("whiten_stream")
      .outputMode("append").start()
    try {
      val (h, t2) = rows.splitAt(rows.length / 2)
      input.addData(h.toIndexedSeq); q.processAllAvailable()
      input.addData(t2.toIndexedSeq); q.processAllAvailable()
      val got = spark.table("whiten_stream")
        .as[(Long, Double, Double, Double, Double)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
      assert(got.size == rows.length)
      got.foreach { case (id, w) =>
        assert(w == batchW(id), s"vec $id stream=$w batch=${batchW(id)} (must be bit-identical)")
      }
    } finally q.stop()

    val input2 = MemoryStream[(Long, Array[Float])]
    val df2 = input2.toDF().toDF("vec_id", "embedding")
    val out2 = Streaming.whitenResidualStream(df2, "vec_id", "embedding", fk)
    val q2 = out2.writeStream.format("memory").queryName("whitenresid_stream")
      .outputMode("append").start()
    try {
      input2.addData(rows.toIndexedSeq); q2.processAllAvailable()
      val got = spark.table("whitenresid_stream")
        .as[(Long, Array[Double])].collect().toMap
      assert(got.size == rows.length)
      got.foreach { case (id, r) =>
        assert(r.sameElements(batchResid(id)),
          s"vec $id stream residual diverged from the batch residual frame")
      }
    } finally q2.stop()
  }

  test("whitenedSemanticDedupStream: greedy whitened admission, slice-invariant, keep ⊇ batch") {
    // the streaming twin of sim_semantic_dedup_whitened, the same three
    // contracts as the raw semanticDedupStream test: (1) the ledger equals
    // a driver-side greedy reference over the BATCH residuals (stream
    // residuals are bit-equal, pinned above); (2) slicing-invariant;
    // (3) stream keep set contains the batch whitened keep set
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val sfDir = "/root/testdata/sf0.001"
    val tau = 0.4
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val fk = graft.ml.Pca.fitK(emb, "vec_id", "embedding", 64, 6, 4, k = 2)
    val muL = typedLit(fk.mu.toSeq)
    val v1L = typedLit(fk.vs(0).toSeq)
    val v2L = typedLit(fk.vs(1).toSeq)
    val residDf = emb
      .join(graft.ml.Pca.whitenScores(fk, emb, "vec_id", "embedding", 64)
        .select(col("vec_id"), col("pc_1"), col("pc_2")), "vec_id")
      .select(col("vec_id"),
        transform(sequence(lit(1), lit(64)), dd =>
          element_at(col("embedding"), dd).cast("double") - element_at(muL, dd)
            - col("pc_1") * element_at(v1L, dd)
            - col("pc_2") * element_at(v2L, dd)).as("resid"))
      .withColumn("n2", graft.ops.Vectors.norm2Exact(col("resid")))
    val n = emb.count()
    val k = graft.ml.IvfQuantizer.adaptiveK(n, 64)
    // the batch half of the split: quantizer fitted ON THE BATCH RESIDUALS
    val fit = graft.ml.IvfQuantizer
      .fitCollect(residDf, "vec_id", "resid", "n2", k, 2, sampleEvery = 4)
    val cents = graft.ml.IvfQuantizer.routingTable(fit)
    val resids = residDf.select(col("vec_id"), col("resid"))
      .as[(Long, Array[Double])].collect().sortBy(_._1)
    graft.ops.Caches.releaseAll()

    import graft.functions.ExactDot
    val keptPerCell = scala.collection.mutable.Map
      .empty[Long, List[(Long, Array[Double], Double)]]
    val expected = resids.map { case (id, v) =>
      val vN2: Double = ExactDot.computeArrays(v, v, 9)
      val cell = graft.ml.IvfQuantizer.routeVector(v, vN2, cents)
      val kept = keptPerCell.getOrElse(cell, Nil)
      val claims = kept.flatMap { case (kid, kv, kn2) =>
        val dot = ExactDot.computeArrays(v, kv, 9)
        val den = math.sqrt(vN2) * math.sqrt(kn2)
        if (dot != null && den != 0.0 && dot.doubleValue() / den >= tau)
          Some((kid, dot.doubleValue() / den))
        else None
      }
      if (claims.isEmpty) {
        keptPerCell(cell) = kept :+ ((id, v, vN2))
        (id, cell, 1L, None: Option[Long], None: Option[Long], None: Option[Double])
      } else
        (id, cell, 0L, Some(claims.map(_._1).min), Some(claims.size.toLong),
          Some(claims.map(_._2).max))
    }.toSet

    val rows = emb.as[(Long, Array[Float])].collect().sortBy(_._1)
    def runStream(slices: Int, name: String): Set[(Long, Long, Long, Option[Long], Option[Long], Option[Double])] = {
      val input = MemoryStream[(Long, Array[Float])]
      val df = input.toDF().toDF("vec_id", "embedding")
      val out = Streaming.whitenedSemanticDedupStream(
        df, fit, "vec_id", "embedding", fk, tau)
      val q = out.writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      try {
        rows.grouped(math.max(1, rows.length / slices)).foreach { chunk =>
          input.addData(chunk.toSeq); q.processAllAvailable()
        }
        spark.table(name)
          .select("vecId", "cell", "keep", "keptBy", "nDup", "maxCos")
          .as[(Long, Long, Long, Option[Long], Option[Long], Option[Double])]
          .collect().toSet
      } finally q.stop()
    }
    val one = runStream(1, "wsemdedup_par1")
    val three = runStream(3, "wsemdedup_par3")
    graft.ops.Caches.releaseAll()
    assert(one == three, "micro-batch slicing changed the whitened ledger")
    assert(one == expected,
      s"whitened stream diverged from the greedy reference: ${one.diff(expected).take(5)} vs ${expected.diff(one).take(5)}")

    val batchKeep = graft.SparkEntry.queries("sim_semantic_dedup_whitened")(spark, sfDir)
      .filter(col("keep") === 1L).select(col("vec_id"))
      .as[Long].collect().toSet
    graft.ops.Caches.releaseAll()
    val streamKeep = one.collect { case (id, _, 1L, _, _, _) => id }
    assert(batchKeep.subsetOf(streamKeep),
      s"whitened stream keep set lost batch keeps: ${batchKeep.diff(streamKeep).take(10)}")
  }

  test("semanticDedupStreamHier: two-level routing == batch hier assignment; greedy, slice-invariant, keep ⊇ batch") {
    // the hierarchical twin of the flat semanticDedupStream contracts:
    // (1) per-row two-level routeVector routing equals the batch
    //     fitAssignHierFrom (ccell, scell) assignment bit-for-bit;
    // (2) the ledger equals a driver-side greedy per-LEAF reference;
    // (3) slicing-invariant; (4) keep set contains the batch
    //     sim_semantic_dedup_hier keep set
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val sfDir = "/root/testdata/sf0.001"
    val tau = 0.4
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
      .withColumn("n2", graft.ops.Vectors.norm2Exact(col("embedding")))
    val k = graft.ml.IvfQuantizer.hierK(e.count(), 64)
    val (cFit, sFit) = graft.ml.IvfQuantizer
      .fitHierCollect(e, "vec_id", "embedding", "n2", k, 1, 4, 2)
    val batchLeaf = graft.ml.IvfQuantizer
      .fitAssignHierFrom(e, "vec_id", "embedding", "n2", cFit, sFit)
      .select(col("vec_id").cast("long"), col("ccell").cast("long"), col("scell").cast("long"))
      .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    val rows = e.select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])].collect().sortBy(_._1)
    graft.ops.Caches.releaseAll()

    // driver-side routing + greedy per-leaf reference
    import graft.functions.ExactDot
    val coarse = graft.ml.IvfQuantizer.routingTable(cFit)
    val subs = graft.ml.IvfQuantizer.routingTables(sFit)
    val keptPerLeaf = scala.collection.mutable.Map
      .empty[(Long, Long), List[(Long, Array[Double], Double)]]
    val expected = rows.map { case (id, vf) =>
      val v = vf.map(_.toDouble)
      val vN2: Double = ExactDot.computeArrays(v, v, 9)
      val ccell = graft.ml.IvfQuantizer.routeVector(v, vN2, coarse)
      val scell = graft.ml.IvfQuantizer.routeVector(v, vN2, subs(ccell))
      assert(batchLeaf(id) == ((ccell, scell)),
        s"vec $id: closure routing ($ccell,$scell) != batch ${batchLeaf(id)}")
      val leaf = (ccell, scell)
      val kept = keptPerLeaf.getOrElse(leaf, Nil)
      val claims = kept.flatMap { case (kid, kv, kn2) =>
        val dot = ExactDot.computeArrays(v, kv, 9)
        val den = math.sqrt(vN2) * math.sqrt(kn2)
        if (dot != null && den != 0.0 && dot.doubleValue() / den >= tau)
          Some((kid, dot.doubleValue() / den))
        else None
      }
      if (claims.isEmpty) {
        keptPerLeaf(leaf) = kept :+ ((id, v, vN2))
        (id, ccell, scell, 1L, None: Option[Long], None: Option[Long], None: Option[Double])
      } else
        (id, ccell, scell, 0L, Some(claims.map(_._1).min), Some(claims.size.toLong),
          Some(claims.map(_._2).max))
    }.toSet

    def runStream(slices: Int, name: String): Set[(Long, Long, Long, Long, Option[Long], Option[Long], Option[Double])] = {
      val input = MemoryStream[(Long, Array[Float])]
      val df = input.toDF().toDF("vec_id", "embedding")
      val out = Streaming.semanticDedupStreamHier(df, "vec_id", "embedding", cFit, sFit, tau)
      val q = out.writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      try {
        rows.grouped(math.max(1, rows.length / slices)).foreach { chunk =>
          input.addData(chunk.toSeq); q.processAllAvailable()
        }
        spark.table(name)
          .select("vecId", "ccell", "scell", "keep", "keptBy", "nDup", "maxCos")
          .as[(Long, Long, Long, Long, Option[Long], Option[Long], Option[Double])]
          .collect().toSet
      } finally q.stop()
    }
    val one = runStream(1, "hsemdedup_par1")
    val three = runStream(3, "hsemdedup_par3")
    graft.ops.Caches.releaseAll()
    assert(one == three, "micro-batch slicing changed the hier ledger")
    assert(one == expected,
      s"hier stream diverged from the greedy reference: ${one.diff(expected).take(5)} vs ${expected.diff(one).take(5)}")

    val batchKeep = graft.SparkEntry.queries("sim_semantic_dedup_hier")(spark, sfDir)
      .filter(col("keep") === 1L).select(col("vec_id"))
      .as[Long].collect().toSet
    graft.ops.Caches.releaseAll()
    val streamKeep = one.collect { case (id, _, _, 1L, _, _, _) => id }
    assert(batchKeep.subsetOf(streamKeep),
      s"hier stream keep set lost batch keeps: ${batchKeep.diff(streamKeep).take(10)}")
  }

  test("alignmentScoreStream: scores bit-match the batch alignmentScores on paired rows") {
    // the mm7 gate at ingest for rows arriving with both modalities: the
    // array-local text-vector fold + trunc-9 dot must reproduce the batch
    // op's explode/groupBy pipeline BIT-identically (integer folds are
    // order-free), across micro-batch slicing, NULLs included
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val sfDir = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val embs = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val batch = graft.ops.Multimodal
      .alignmentScores(docs, embs, "doc_id", "text", "vec_id", "embedding", 64)
      .as[(Long, Option[Double])].collect().toMap
    val paired = docs.join(embs, docs("doc_id") === embs("vec_id"))
      .select(col("doc_id"), col("text"), col("embedding"))
      .as[(Long, String, Array[Float])].collect()
    assert(paired.length == batch.size, "pairing mismatch vs the batch ledger")
    val input = MemoryStream[(Long, String, Array[Float])]
    val df = input.toDF().toDF("doc_id", "text", "embedding")
    val out = Streaming.alignmentScoreStream(df, "doc_id", "text", "embedding", 64)
    val q = out.writeStream.format("memory").queryName("align_stream")
      .outputMode("append").start()
    try {
      val (h, t2) = paired.splitAt(paired.length / 3)
      input.addData(h.toIndexedSeq); q.processAllAvailable()
      input.addData(t2.toIndexedSeq); q.processAllAvailable()
      val got = spark.table("align_stream")
        .as[(Long, Option[Double])].collect().toMap
      assert(got.size == batch.size)
      got.foreach { case (id, s) =>
        assert(s == batch(id), s"doc $id stream=$s batch=${batch(id)} (must be bit-identical)")
      }
    } finally q.stop()
  }

  test("tokenBudgetStream keyed by source IS the streaming per-source token cap") {
    // the cur_source_token_cap contract at ingest: the same inclusive
    // prefix-quota op, keyed by source, fed in the batch ledger's
    // (hash24, doc_id) admission order, must reproduce
    // Sampling.sourceTokenCapLedger's keep set AND cumulative token sums
    // exactly — no new streaming API, the re-parameterization IS the op
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(
        col("doc_id"), col("source"),
        size(graft.ops.Text.tokens(col("text"))).cast("long").as("n_tokens"))
    val batch = graft.ops.Sampling
      .sourceTokenCapLedger(docs, "doc_id", "source", "n_tokens", maxTokens = 1000L)
      .select("doc_id", "src_cum_tokens", "keep")
      .as[(Long, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    // per-source queues in the batch's (hash24, doc_id) order; slices cut
    // at every docId DESCENT so the stream's within-batch docId sort
    // preserves the admission order (the funnel-handoff recipe)
    val rows = docs.as[(Long, String, Long)].collect()
    val u = docs.select(col("doc_id"), graft.ops.Sampling.hashU24(col("doc_id")).as("u"))
      .as[(Long, Long)].collect().toMap
    val queues = scala.collection.mutable.Map(
      rows.groupBy(_._2).view.mapValues(
        _.sortBy(r => (u(r._1), r._1)).toList).toSeq: _*)
    val input = MemoryStream[(Long, String, Long)]
    val df = input.toDF().toDF("doc_id", "source", "n_tokens")
    val out = Streaming.tokenBudgetStream(df, "source", "doc_id", "n_tokens", 1000L)
    val q = out.writeStream.format("memory").queryName("src_cap_stream")
      .outputMode("append").start()
    try {
      while (queues.values.exists(_.nonEmpty)) {
        val batchRows = queues.keys.toSeq.sorted.flatMap { src =>
          queues(src) match {
            case Nil => Nil
            case head :: tail =>
              var pre = List(head)
              var rest = tail
              while (rest.nonEmpty && rest.head._1 > pre.head._1) {
                pre = rest.head :: pre; rest = rest.tail
              }
              queues(src) = rest
              pre.reverse.map(r => (r._1, r._2, r._3))
          }
        }
        input.addData(batchRows.toIndexedSeq); q.processAllAvailable()
      }
      val got = spark.table("src_cap_stream")
        .selectExpr("docId", "cumTokens", "keep")
        .as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
      assert(got.size == batch.size)
      assert(got == batch,
        "streamed per-source cap ledger != batch sourceTokenCapLedger")
      assert(got.values.exists(_._2 == 0L) && got.values.exists(_._2 == 1L),
        "cap did not split any source (vacuous parity)")
    } finally q.stop()
  }

  test("streaming funnel -> budget handoff: the two-query composition reproduces the batch cur_funnel keep set") {
    // the full streaming cur_funnel as it actually ships: query 1 = the
    // stateless gates chained ahead of watermarked exact dedup (one
    // query), query 2 = tokenBudgetStream over query 1's sink — the
    // documented SECOND query (`flatMapGroupsWithState` cannot be
    // followed by another stateful op). Fed in the batch ledger's
    // per-lang (hash24, doc_id) admission order, the end-to-end keep set
    // must equal the batch `cur_funnel`'s keep = 1 set exactly — the
    // handoff contract as a test, not a doc note.
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val sfDir = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("lang"), col("text"))
    val profiles = graft.ops.Text.languageProfiles(docs, "doc_id", "text", "lang", 20)
    val batchLedger = graft.SparkEntry.queries("cur_funnel")(spark, sfDir)
      .select("doc_id", "killed_by", "keep")
      .as[(Long, Option[String], Long)].collect()
    graft.ops.Caches.releaseAll()
    val batchKeep = batchLedger.filter(_._3 == 1L).map(_._1).toSet
    val gateSurvivors = batchLedger
      .filter(r => r._2.isEmpty || r._2.contains("budget")).map(_._1).toSet

    // query 1: gates -> dedup (the shipped single-query chain)
    val in1 = MemoryStream[(Long, String, String, java.sql.Timestamp)]
    val df1 = in1.toDF().toDF("doc_id", "lang", "text", "ts")
    val gated = graft.ops.Text.curationGates(
        df1, "doc_id", "text", profiles, 0.35, carryCols = Seq("lang", "text", "ts"))
      .filter(
        coalesce(col("pred_lang") === col("lang"), lit(false)) &&
          col("quality_ok") && coalesce(col("rep_flagged") === 0L, lit(false)))
      .withColumn("fp", graft.ops.Text.fingerprint(col("text")))
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("fp")
      .select("doc_id", "lang", "n_tokens")
    val q1 = gated.writeStream.format("memory").queryName("handoff_q1")
      .outputMode("append").start()
    try {
      val t0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
      val rows = docs.as[(Long, String, String)].collect().sortBy(_._1)
        .map(r => (r._1, r._2, r._3, t0))
      in1.addData(rows.toIndexedSeq); q1.processAllAvailable()
    } finally q1.stop()
    val surv = spark.table("handoff_q1").select("doc_id", "lang", "n_tokens")
      .as[(Long, String, Long)].collect()
    assert(surv.map(_._1).toSet == gateSurvivors,
      "query-1 survivors != the batch funnel's four-gate survivors")

    // the handoff: query 1's sink re-injected into query 2 in the batch
    // ledger's admission order — per lang ascending (hash24(doc_id),
    // doc_id). tokenBudgetStream sorts each micro-batch slice by docId,
    // so slices are cut at every docId DESCENT to preserve that order.
    val u = spark.createDataset(surv.map(_._1).toIndexedSeq).toDF("doc_id")
      .withColumn("u", graft.ops.Sampling.hashU24(col("doc_id")))
      .as[(Long, Long)].collect().toMap
    val queues = scala.collection.mutable.Map(
      surv.groupBy(_._2).view.mapValues(
        _.sortBy(r => (u(r._1), r._1)).toList).toSeq: _*)
    val in2 = MemoryStream[(Long, String, Long)]
    val df2 = in2.toDF().toDF("doc_id", "lang", "n_tokens")
    val out2 = Streaming.tokenBudgetStream(df2, "lang", "doc_id", "n_tokens", 2000L)
    val q2 = out2.writeStream.format("memory").queryName("handoff_q2")
      .outputMode("append").start()
    try {
      while (queues.values.exists(_.nonEmpty)) {
        val batch = queues.keys.toSeq.sorted.flatMap { l =>
          queues(l) match {
            case Nil => Nil
            case head :: tail =>
              var pre = List(head)
              var rest = tail
              while (rest.nonEmpty && rest.head._1 > pre.head._1) {
                pre = rest.head :: pre; rest = rest.tail
              }
              queues(l) = rest
              pre.reverse
          }
        }
        in2.addData(batch.toIndexedSeq); q2.processAllAvailable()
      }
      val kept = spark.table("handoff_q2").filter(col("keep") === 1L)
        .select("docId").as[Long].collect().toSet
      assert(kept == batchKeep,
        s"end-to-end stream keeps != batch cur_funnel keeps: " +
          s"extra=${kept.diff(batchKeep)} missing=${batchKeep.diff(kept)}")
      val budgetKilled = spark.table("handoff_q2").filter(col("keep") === 0L)
        .select("docId").as[Long].collect().toSet
      assert(budgetKilled ==
        batchLedger.filter(_._2.contains("budget")).map(_._1).toSet,
        "stream budget rejections != batch killed_by = 'budget'")
    } finally q2.stop()
  }
}
