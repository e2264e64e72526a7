package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming surface (SURVEY §2.8). The reference is pure batch;
  * these expose the batch operators' streaming analogs so the same W1
  * tumbling-window semantics run incrementally: `readStream` → transform →
  * `writeStream` with event-time watermarks. The tumbling aggregation is
  * written against `window()`, so the identical code path serves batch
  * DataFrames too.
  */
object Streaming {

  /** W1-as-stream: tumbling event-time counts + mean per key with a
    * watermark bounding state. Works on both batch and streaming frames.
    */
  def tumblingAgg(
      events: DataFrame,
      tsCol: String,
      keyCol: String,
      windowLength: String,
      watermarkDelay: String): DataFrame =
    events
      .withWatermark(tsCol, watermarkDelay)
      .groupBy(window(col(tsCol), windowLength), col(keyCol))
      .agg(count(lit(1)).as("n"), avg(col("value")).as("mean_value"))

  /** w14-as-stream: native session windows with a watermark bounding
    * state — Spark merges a key's open session intervals incrementally
    * and emits a session once the watermark passes its end (append mode).
    * Same merge boundary as batch [[graft.queries]] `w14_session_window`:
    * an event exactly on the previous end still merges. Works on batch
    * frames too (where it degrades to the plain session_window groupBy).
    */
  def sessionWindowAgg(
      events: DataFrame,
      tsCol: String,
      keyCol: String,
      gap: String,
      watermarkDelay: String): DataFrame =
    events
      .withWatermark(tsCol, watermarkDelay)
      .groupBy(session_window(col(tsCol), gap).as("w"), col(keyCol))
      .agg(count(lit(1)).as("n"))
      .select(
        col(keyCol),
        col("w.start").as("session_start"),
        col("w.end").as("session_end"),
        col("n"))

  /** One observed event for stateful processing. */
  final case class Obs(user: String, tsMs: Long, label: String)

  /** One emitted closed segment. */
  final case class Segment(user: String, label: String, startMs: Long, endMs: Long, n: Long)

  /** Open-run state for [[sessionizeRle]] (public: Catalyst codegen cannot
    * reflect on a private nested class).
    */
  final case class RunState(label: String, startMs: Long, lastMs: Long, runLen: Long)

  /** W9-as-stream: run-length encoding with custom state via
    * flatMapGroupsWithState — the incremental form of
    * [[graft.ops.Segments.runLengthEncode]]: per key, an open run lives in
    * GroupState; a label change (or timeout) closes and emits the previous
    * segment with the reference's end-exclusive bound. Batch RLE and this
    * operator agree on closed segments; the final open run flushes on
    * timeout instead of the batch closing flush.
    *
    * Two flush clocks:
    *   - `eventTimeWatermark = Some(delay)` (preferred): the open-run flush
    *     is WATERMARK-driven — a run flushes once event time has moved
    *     `timeoutMs` past its last observation, so the flush point is a
    *     function of the DATA, replayable and independent of wall clock.
    *     The input stream carries the watermark on `tsMs`.
    *   - `eventTimeWatermark = None`: processing-time timeout — the flush
    *     depends on wall clock (and makes the engine self-trigger empty
    *     micro-batches to check timers); kept for pipelines without
    *     meaningful event time.
    */
  def sessionizeRle(
      events: Dataset[Obs],
      timeoutMs: Option[Long] = None,
      eventTimeWatermark: Option[String] = None): Dataset[Segment] = {
    import events.sparkSession.implicits._
    require(
      eventTimeWatermark.isEmpty || timeoutMs.isDefined,
      "eventTimeWatermark needs timeoutMs: the flush fires when the watermark passes lastMs + timeoutMs")
    val eventTime = eventTimeWatermark.isDefined
    val timeoutConf =
      if (eventTime) GroupStateTimeout.EventTimeTimeout()
      else if (timeoutMs.isDefined) GroupStateTimeout.ProcessingTimeTimeout()
      else GroupStateTimeout.NoTimeout()
    // EventTimeTimeout requires a watermark in the plan; extra columns under
    // .as[Obs] are fine (the encoder reads the case-class fields only)
    val src = eventTimeWatermark match {
      case Some(delay) =>
        events.withColumn("__et", timestamp_millis(col("tsMs")))
          .withWatermark("__et", delay)
          .as[Obs]
      case None => events
    }
    src
      .groupByKey(_.user)
      .flatMapGroupsWithState[RunState, Segment](OutputMode.Append(), timeoutConf) {
        case (user, rows, state: GroupState[RunState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(Segment(user, s.label, s.startMs, s.lastMs, s.runLen))
          } else {
            val sorted = rows.toSeq.sortBy(_.tsMs)
            var cur = state.getOption
            val out = Seq.newBuilder[Segment]
            sorted.foreach { o =>
              cur match {
                case Some(s) if s.label == o.label =>
                  cur = Some(s.copy(lastMs = o.tsMs, runLen = s.runLen + 1))
                case Some(s) =>
                  out += Segment(user, s.label, s.startMs, o.tsMs, s.runLen) // end-exclusive
                  cur = Some(RunState(o.label, o.tsMs, o.tsMs, 1))
                case None =>
                  cur = Some(RunState(o.label, o.tsMs, o.tsMs, 1))
              }
            }
            cur.foreach(state.update)
            timeoutMs.foreach { ms =>
              if (eventTime)
                // fire when the watermark passes the run's last event + ms;
                // clamped one tick past the current watermark (Spark rejects
                // timestamps at or before it — possible when a run's events
                // arrive with nearly-expired lateness)
                cur.foreach(s => state.setTimeoutTimestamp(
                  math.max(s.lastMs + ms, state.getCurrentWatermarkMs() + 1)))
              else state.setTimeoutDuration(ms)
            }
            out.result().iterator
          }
      }
  }

  /** Exact-dedup-as-stream: the streaming analog of
    * [[graft.ops.Dedup.exactGroups]] for a training-data ingest pipeline —
    * keeps a SINGLE survivor per content fingerprint (whitespace/case-
    * normalized md5, same normalization as batch). Across micro-batches the
    * earlier batch's doc wins; WITHIN a micro-batch the survivor is
    * partition-order dependent (arbitrary but single) — impose an upstream
    * ordering if "first by timestamp" matters. State is bounded by the
    * event-time watermark: duplicates arriving within `watermarkDelay` of
    * each other dedupe exactly; older state ages out
    * (dropDuplicatesWithinWatermark semantics — at 100 TB/day unbounded
    * keep-forever state is not an option, so the horizon IS the contract).
    */
  def exactDedupStream(
      docs: DataFrame,
      tsCol: String,
      textCol: String,
      watermarkDelay: String): DataFrame =
    docs
      .withColumn("fp", graft.ops.Text.fingerprint(col(textCol)))
      .withWatermark(tsCol, watermarkDelay)
      .dropDuplicatesWithinWatermark("fp")

  /** NEAR-dup-dedup-as-stream — the streaming analog of the `d14` LSH
    * composition's ingest decision, built from the same primitives: the
    * native [[graft.functions.MinHashSig]] signature (array-local, no
    * shuffle), the identical band hashing as batch
    * [[graft.ops.Dedup.lshCandidates]] (md5 over the band's minhash
    * strings), then TWO chained stateful stages keyed by the SAME
    * event-time tumbling window: (1) each (window, band_idx, band_hash)
    * key resolves to its MINIMUM claimant doc id; (2) a per-(window,
    * claimant) count closes the verdict — a doc is KEPT iff it won ALL
    * of its nBands band keys.
    *
    * The tumbling window IS the dedup horizon. Stage (1) exists because
    * a first-claimant rule (`dropDuplicatesWithinWatermark` per band key)
    * picks an ARBITRARY winner per band key independently: members of one
    * duplicate cluster arriving in the SAME micro-batch could split the
    * band-key first-claims so that NO doc claims all nBands and the
    * entire cluster is dropped (the round-6 advice hazard). Resolving
    * each window's claims to the minimum id makes the winner
    * deterministic and arrival-order-free: a same-window duplicate
    * cluster always keeps exactly its minimum-id member — the SAME
    * representative batch d14's min-reachable-id convention picks.
    *
    * Why no cross-window claim state (probed, not assumed — both
    * alternatives are broken in Spark 4.1): a
    * `dropDuplicatesWithinWatermark` placed downstream of the windowed
    * resolution has no timestamp-typed event-time column to expire by
    * (the window struct does not qualify), so its claim state grows
    * FOREVER — probed: a duplicate 900+ s past the horizon was never
    * re-admitted, i.e. unbounded state at 100 TB/day. Re-exposing
    * `window.end` via a second `withWatermark` instead DEADLOCKS the
    * query: the global watermark is the min over both nodes and the
    * second never advances past epoch, so no window ever finalizes
    * (probed: watermark pinned at 0). Window-as-horizon is the one
    * composition where every stage's state expires exactly when the
    * watermark passes the window end.
    *
    * Contract vs batch d14 (stated, not hidden): batch resolves clusters
    * by transitive closure over agreement-filtered candidates and keeps
    * one doc per cluster; the stream keeps a doc iff it won every one of
    * its band keys within its window. The two agree whenever each
    * near-duplicate band-collides with a same-window member of its
    * cluster directly (pinned in `StreamingSpec` against the batch
    * composition on the same corpus, including the same-batch arrival
    * case). Divergences: duplicates straddling a window boundary do NOT
    * dedupe — a later-window duplicate is re-admitted (size
    * `windowLength` to the dedup horizon you mean; `watermarkDelay` only
    * bounds late arrivals); the stream has no agreement refinement on a
    * collision (banding alone gates, est. Jaccard ≥
    * (1/nBands)^(1/rowsPerBand) per band); and a same-window chain A~B~C
    * whose endpoints share no direct band keeps both endpoints where
    * batch keeps one (transitive closure needs the global pair graph).
    *
    * Docs with fewer than `shingleK` tokens carry no shingle evidence and
    * are NOT consumed (same as batch `minhashSignaturesLocal`, where they
    * produce no signature and resolve as singleton keepers) — route them
    * around the filter as unconditional keeps.
    *
    * Scale shape: signature + banding are stateless and partition-local;
    * the window-resolution state holds one row per distinct (window,
    * band key) within the horizon (sub-linear in docs for duplicate-heavy
    * ingest); the closing count shuffles nBands rows per surviving band
    * key. Both stages group by the same event-time window, so append mode
    * finalizes each window — and evicts ALL its state — when the
    * watermark passes the window end (Spark 4.1 supports chained
    * stateful aggregations over the same window struct).
    */
  def nearDupDedupStream(
      docs: DataFrame,
      tsCol: String,
      idCol: String,
      textCol: String,
      shingleK: Int,
      nHashes: Int,
      nBands: Int,
      watermarkDelay: String,
      windowLength: String = "1 hour"): DataFrame = {
    require(nHashes % nBands == 0, "nHashes must divide into nBands")
    val rpb = nHashes / nBands
    val toks = graft.ops.Text.tokens(col(textCol))
    val sig = graft.functions.MinHashSig(
      array_distinct(graft.ops.Text.shingles(toks, shingleK)), nHashes)
    // hash-spread on the doc id BEFORE the CPU-bound signature stage: a
    // low-parallelism source (one Kafka partition, MemoryStream) would
    // otherwise compute every digest serially — the streaming analog of
    // the batch ops' Spread.byKey (probed on a 1-partition source at 300k
    // docs: 274s → 202s; the residual per-batch cost is state-store
    // maintenance for the two stateful ops, not compute)
    val withSig = docs
      .filter(size(toks) >= shingleK)
      .repartition(col(idCol))
      .select(col(idCol), col(tsCol), sig.as("__sig"))
    val bandCols = (0 until nBands).map { b =>
      val parts = (0 until rpb).map(r => element_at(col("__sig"), b * rpb + r + 1))
      struct(lit(b).as("band_idx"), md5(concat(parts: _*)).as("band_hash"))
    }
    // stage 1: deterministic within-window claim resolution — min doc id
    // per (window, band key), so same-batch cluster members can never
    // split the claims. The window is the dedup horizon: its state (and
    // stage 2's) is evicted exactly when the watermark passes window.end
    // — cross-window claim state is deliberately absent (see scaladoc:
    // both Spark 4.1 formulations of it are broken — one never expires,
    // one deadlocks the watermark).
    val resolved = withSig
      .select(col(idCol), col(tsCol), explode(array(bandCols: _*)).as("bd"))
      .select(col(idCol), col(tsCol), col("bd.band_idx").as("band_idx"),
        col("bd.band_hash").as("band_hash"))
      .withWatermark(tsCol, watermarkDelay)
      .groupBy(window(col(tsCol), windowLength), col("band_idx"), col("band_hash"))
      .agg(min(col(idCol)).as(idCol))
    // stage 2: a window's winner is kept iff it won ALL its band keys —
    // chained windowed agg over the SAME window struct, so both stages
    // finalize together when the watermark passes the window end.
    resolved
      .groupBy(col("window"), col(idCol))
      .agg(count(lit(1)).as("n_bands"))
      .filter(col("n_bands") === nBands)
      .select(col(idCol), col("n_bands"))
  }

  /** Input/state/output rows of [[tokenBudgetStream]] (top-level case
    * classes — Spark's state encoder cannot reflect method-local ones).
    */
  final case class BudgetIn(stratum: String, docId: Long, nTokens: Long)
  final case class BudgetState(seen: Long)
  final case class BudgetOut(
      stratum: String, docId: Long, nTokens: Long, cumTokens: Long, keep: Long)

  /** Token-budget admission as a stream — the ingest-time analog of
    * [[graft.ops.Sampling.tokenBudgetLedger]]: per stratum, a document is
    * ADMITTED iff the inclusive running token total still fits `budget`,
    * and every document ships in the ledger either way (keep = 0 rows are
    * the auditable rejected tail, same shape as batch). Once the running
    * total crosses the budget the stratum is closed for good — the
    * inclusive-prefix formula counts REJECTED tokens too, exactly like the
    * batch ledger, so a later small doc cannot sneak under a big rejected
    * one (an exact-total quota, not best-fit packing).
    *
    * Contract vs batch (stated): the batch ledger orders by (hash24, key)
    * — a pure function of corpus contents; a stream has no corpus order,
    * so admission is in ARRIVAL order, with (docId)-sorted determinism
    * within each micro-batch. Replaying the same micro-batch slicing
    * reproduces the same ledger; a different slicing may admit a different
    * prefix (inherent to streaming quotas — the budget total spent is
    * identical either way, up to the partial final doc).
    *
    * Scale shape: state is ONE long (tokens seen) per stratum —
    * source/language-grade keys, so state is bytes regardless of corpus
    * size and never expires (a budget is a corpus-lifetime quota:
    * NoTimeout by design, not omission). `flatMapGroupsWithState` is
    * terminal here (Spark cannot chain another stateful op after it).
    * Memory note: each stratum's micro-batch SLICE is materialized and
    * docId-sorted in the group function (`rows.toSeq.sortBy`) — that sort
    * is what makes replay deterministic, and the buffer is bounded by
    * rows-per-stratum-per-micro-batch, NOT by corpus size; if a stratum
    * can receive very large batches, bound the slice via the source
    * admission knobs (`maxOffsetsPerTrigger` / `maxFilesPerTrigger`)
    * rather than dropping the sort.
    *
    * This op keyed by SOURCE is also the streaming per-source cap
    * (`cur_source_cap` / `cur_source_token_cap` at ingest): pass the
    * source column as `stratumCol` with `tokensCol` = the doc's token
    * count (token cap) or a literal 1 column (doc cap) — the inclusive
    * prefix-quota math is identical, and fed in the batch ledger's
    * (hash24, key) order it reproduces `Sampling.sourceTokenCapLedger`'s
    * keep set and cumulative sums exactly (pinned in `StreamingSpec`).
    */
  def tokenBudgetStream(
      docs: DataFrame,
      stratumCol: String,
      idCol: String,
      tokensCol: String,
      budget: Long): Dataset[BudgetOut] = {
    require(budget > 0, "budget must be positive")
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .select(
        col(stratumCol).cast("string").as("stratum"),
        col(idCol).cast("long").as("docId"),
        col(tokensCol).cast("long").as("nTokens"))
      .as[BudgetIn]
      .groupByKey(_.stratum)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (stratum: String, rows: Iterator[BudgetIn], state: GroupState[BudgetState]) =>
          var seen = state.getOption.map(_.seen).getOrElse(0L)
          val out = rows.toSeq.sortBy(_.docId).map { r =>
            seen += r.nTokens
            BudgetOut(stratum, r.docId, r.nTokens, seen,
              if (seen <= budget) 1L else 0L)
          }
          state.update(BudgetState(seen))
          out.iterator
      }
  }

  /** A routed vector awaiting the per-cell admission decision. */
  final case class SemRouted(vecId: Long, cell: Long, vec: Array[Double], n2: Double)

  /** One admitted vector retained in a cell's state. */
  final case class SemKept(vecId: Long, vec: Array[Double], n2: Double)

  /** Per-cell state of [[semanticDedupStream]]: the admitted vectors. */
  final case class SemState(kept: List[SemKept])

  /** One ledger row of [[semanticDedupStream]] — same field meaning as the
    * batch `sim_semantic_dedup` ledger (keptBy/nDup/maxCos null for keeps).
    */
  final case class SemOut(
      vecId: Long, cell: Long, keep: Long,
      keptBy: Option[Long], nDup: Option[Long], maxCos: Option[Double])

  /** Streaming SemDeDup admission — the embedding-space analog of
    * [[nearDupDedupStream]]'s ingest decision and the streaming half of the
    * batch `sim_semantic_dedup` keep ledger: arriving vectors route through
    * a PRE-FITTED broadcast quantizer (the fit is batch by contract — the
    * same fit/route split as `nearDupDedupStream`'s batch-shaped
    * signatures; pass a flat [[graft.ml.IvfQuantizer.fitCollect]] fit), and
    * a vector is ADMITTED iff no already-kept cell-mate sits at cosine
    * ≥ `tau`. Every vector ships in the ledger either way: keep = 0 rows
    * carry the smallest KEPT claimant (`keptBy`), the kept-claimant count
    * (`nDup`) and the tightest claimant cosine (`maxCos`) — the auditable
    * rejected tail, same shape as batch.
    *
    * Routing is BIT-IDENTICAL to the batch assignment (pinned in
    * `IvfQuantizerSpec`): per-vector n2 and per-centroid dots run through
    * [[graft.functions.ExactDot.computeArrays]] — the same scale-9
    * quantize-and-sum as the batch `ExactDot` expression — centroid norms
    * are scale-4 self-dots like the batch `__ns2`, and ties break to the
    * lowest cell id exactly like the batch `(cos desc, cell)` row_number.
    * The routing map is a closure over the broadcast centroid table (the
    * MLlib-transform idiom): stateless, partition-local, no shuffle; the
    * only shuffle is the groupByKey on the cell id.
    *
    * Contract vs batch (stated, not hidden): batch drops a vector iff ANY
    * lower-id cell-mate sits at ≥ tau — the claimant need not itself be a
    * keeper; the stream checks only KEPT cell-mates (dropped vectors leave
    * no state — that is what bounds it). When arrival order is id order,
    * every stream drop has a kept lower-id claimant, so the STREAM KEEP SET
    * CONTAINS THE BATCH KEEP SET, with equality exactly when every
    * batch-dropped vector has a kept claimant (always true for coherent
    * duplicate clusters; a chain A~B~C where C clears tau only against the
    * dropped B diverges — the stream keeps C). `nDup` counts kept claimants
    * only, so it reads "how many admitted vectors this one collided with",
    * not batch's "how many earlier cell-mates". The admission sequence is
    * arrival-order with (vecId)-sorted determinism within each micro-batch,
    * like [[tokenBudgetStream]]: id-ordered arrival reproduces the greedy
    * sequential SemDeDup pass regardless of micro-batch slicing (pinned in
    * `StreamingSpec`).
    *
    * State bound (the 100 TB contract): kept vectors per cell. Admitted
    * vectors are pairwise < tau by construction, so a cell's state is
    * capped by the tau-packing number of its cone — independent of how many
    * vectors ARRIVE; with an adaptive-k fit (~64-vector target cells) the
    * kept list stays O(cell target). State never expires: a dedup ledger is
    * a corpus-lifetime admission (NoTimeout by design, like
    * [[tokenBudgetStream]]'s quota — bound ingest via the source admission
    * knobs, not state eviction). `flatMapGroupsWithState` is terminal
    * (nothing stateful can follow).
    */
  def semanticDedupStream(
      vecs: DataFrame,
      fit: graft.ml.IvfQuantizer.CollectedFit,
      idCol: String,
      vecCol: String,
      tau: Double): Dataset[SemOut] = {
    require(tau > 0.0 && tau <= 1.0, s"tau must be in (0, 1], got $tau")
    val spark = vecs.sparkSession
    import spark.implicits._
    import graft.functions.ExactDot
    val cents = graft.ml.IvfQuantizer.routingTable(fit)
    require(cents.nonEmpty, "semanticDedupStream needs a fitted centroid table")
    val bc = spark.sparkContext.broadcast(cents)
    vecs
      .select(
        col(idCol).cast("long").as("vecId"),
        col(vecCol).cast("array<double>").as("vec"))
      .as[(Long, Array[Double])]
      .map { case (id, v) =>
        val n2: Double = ExactDot.computeArrays(v, v, 9)
        SemRouted(id, graft.ml.IvfQuantizer.routeVector(v, n2, bc.value), v, n2)
      }
      .groupByKey(_.cell)
      .flatMapGroupsWithState[SemState, SemOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (cell: Long, rows: Iterator[SemRouted], state: GroupState[SemState]) =>
          admitGreedy(rows.map(r => SemKept(r.vecId, r.vec, r.n2)), state, tau)(
            SemOut(_, cell, _, _, _, _))
      }
  }

  /** The greedy admission both semantic-dedup streams run per routing
    * key: the micro-batch's rows in vecId order, each admitted iff no kept
    * key-mate sits at exact cosine ≥ `tau` (the same scale-9 `ExactDot`
    * arithmetic as the batch ledgers). `emit(vecId, keep, keptBy, nDup,
    * maxCos)` builds the ledger row — the smallest kept claimant, the
    * kept-claimant count and the tightest claimant cosine, all None for a
    * keep. The admitted vectors extend the key's state.
    */
  private def admitGreedy[O](
      rows: Iterator[SemKept], state: GroupState[SemState], tau: Double)(
      emit: (Long, Long, Option[Long], Option[Long], Option[Double]) => O): Iterator[O] = {
    var kept = state.getOption.map(_.kept).getOrElse(Nil)
    val out = rows.toSeq.sortBy(_.vecId).map { r =>
      var keptBy = Option.empty[Long]
      var maxCos = Option.empty[Double]
      var nDup = 0L
      kept.foreach { km =>
        val dot = graft.functions.ExactDot.computeArrays(r.vec, km.vec, 9)
        val den = math.sqrt(r.n2) * math.sqrt(km.n2)
        if (dot != null && den != 0.0) {
          val cos = dot.doubleValue() / den
          if (cos >= tau) {
            nDup += 1
            if (keptBy.forall(_ > km.vecId)) keptBy = Some(km.vecId)
            if (maxCos.forall(_ < cos)) maxCos = Some(cos)
          }
        }
      }
      if (keptBy.isEmpty) {
        kept = kept :+ r
        emit(r.vecId, 1L, None, None, None)
      } else emit(r.vecId, 0L, keptBy, Some(nDup), maxCos)
    }
    state.update(SemState(kept))
    out.iterator
  }

  /** A two-level-routed vector awaiting its per-leaf admission decision. */
  final case class SemRoutedHier(
      vecId: Long, ccell: Long, scell: Long, vec: Array[Double], n2: Double)

  /** One ledger row of [[semanticDedupStreamHier]] — the leaf key is the
    * (ccell, scell) PAIR, like the batch hier ledgers.
    */
  final case class SemOutHier(
      vecId: Long, ccell: Long, scell: Long, keep: Long,
      keptBy: Option[Long], nDup: Option[Long], maxCos: Option[Double])

  /** [[semanticDedupStream]] through the TWO-LEVEL hierarchical quantizer
    * — the streaming twin of `sim_semantic_dedup_hier` (and, fed the
    * residual stream, of `sim_semantic_dedup_whitened_hier`), for the
    * regime where the flat adaptive-k centroid table itself stops
    * broadcasting: per row, route to the argmax coarse cell, then to the
    * argmax sub-cell WITHIN that coarse cell's table — 2k centroid
    * scorings instead of k², exactly the batch `fitAssignHierFrom` assignment
    * (both levels ride [[graft.ml.IvfQuantizer.routeVector]]'s
    * exact-arithmetic closure, which the per-group batch rank shares —
    * parity pinned in `StreamingSpec`). Admission then runs the unchanged
    * greedy per-LEAF logic with state keyed by (ccell, scell); same
    * keep-superset-of-batch containment, arrival-order semantics, and
    * tau-packing state bound as the flat stream (per-leaf now, target ~64
    * with hierK). Pass [[graft.ml.IvfQuantizer.fitHierCollect]]'s pair;
    * a vector routed to a coarse cell with NO level-2 fit (se2 too
    * coarse — the batch contract silently DROPS such vectors) fails the
    * micro-batch loudly instead.
    */
  def semanticDedupStreamHier(
      vecs: DataFrame,
      idCol: String,
      vecCol: String,
      coarseFit: graft.ml.IvfQuantizer.CollectedFit,
      subFit: graft.ml.IvfQuantizer.CollectedFit,
      tau: Double): Dataset[SemOutHier] = {
    require(tau > 0.0 && tau <= 1.0, s"tau must be in (0, 1], got $tau")
    val spark = vecs.sparkSession
    import spark.implicits._
    import graft.functions.ExactDot
    val coarse = graft.ml.IvfQuantizer.routingTable(coarseFit)
    val subs = graft.ml.IvfQuantizer.routingTables(subFit)
    require(coarse.nonEmpty && subs.nonEmpty,
      "semanticDedupStreamHier needs fitted coarse + sub centroid tables")
    val bcC = spark.sparkContext.broadcast(coarse)
    val bcS = spark.sparkContext.broadcast(subs)
    vecs
      .select(
        col(idCol).cast("long").as("vecId"),
        col(vecCol).cast("array<double>").as("vec"))
      .as[(Long, Array[Double])]
      .map { case (id, v) =>
        val n2: Double = ExactDot.computeArrays(v, v, 9)
        val ccell = graft.ml.IvfQuantizer.routeVector(v, n2, bcC.value)
        val sub = bcS.value.getOrElse(ccell, throw new IllegalStateException(
          s"semanticDedupStreamHier: coarse cell $ccell has no level-2 fit " +
            "(pick se2 so every coarse cell keeps fit samples)"))
        SemRoutedHier(id, ccell, graft.ml.IvfQuantizer.routeVector(v, n2, sub), v, n2)
      }
      .groupByKey(r => (r.ccell, r.scell))
      .flatMapGroupsWithState[SemState, SemOutHier](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (leaf: (Long, Long), rows: Iterator[SemRoutedHier], state: GroupState[SemState]) =>
          admitGreedy(rows.map(r => SemKept(r.vecId, r.vec, r.n2)), state, tau)(
            SemOutHier(_, leaf._1, leaf._2, _, _, _, _))
      }
  }

  /** Streaming DSIR admission — the ingest-time analog of the batch
    * `mix_dsir` selection: score each arriving document's hashed
    * unigram+bigram profile against a PRE-FITTED broadcast bucket
    * log-ratio table ([[graft.ops.Sampling.dsirLogRatios]] — the fit is
    * batch by contract, the same split as [[semanticDedupStream]]'s
    * quantizer and [[nearDupDedupStream]]'s signatures) and admit iff the
    * importance log-weight clears `threshold`. Every document ships in
    * the ledger either way (`admit` flag), like every admission op here.
    *
    * STATELESS by construction — unlike the batch ledger's per-stratum
    * top-k (which needs the whole stratum), a threshold admission is a
    * pure per-row projection: the fitted table collapses to a dense
    * `buckets`-length fixed-point array (O(1) `element_at` per feature —
    * never a map lookup) folded over the document's feature array with
    * integer accumulation. No shuffle, no watermark, no state store; runs
    * identically on a batch frame, and scores are BIT-IDENTICAL to
    * [[graft.ops.Sampling.dsirLedger]]'s `dsir_logweight` (pinned in
    * `StreamingSpec`): the per-feature fixed-point truncation
    * `sign·⌊|lw|·10⁹⌋` is applied ONCE per bucket driver-side — the same
    * value `Exact.dsumTrunc9` truncates per instance — the integer fold
    * is order-independent, and the closing `/10⁹` division matches the
    * batch decimal→double path (per-doc |acc| stays ≤ ~3e13 ≪ 2⁵³ at any
    * realistic feature count, so long→double is exact). Buckets unseen at
    * fit time score 0 (neutral — the fit corpus's raw side spans every
    * bucket it saw; a genuinely novel bucket has no evidence either way).
    *
    * Threshold choice is the deployment knob (the batch top-k's quota
    * becomes a score cut): calibrate it batch-side from the ledger's
    * selected tail.
    */
  def dsirAdmitStream(
      docs: DataFrame,
      logRatios: DataFrame,
      idCol: String,
      textCol: String,
      strataCol: String,
      buckets: Int,
      threshold: Double): DataFrame = {
    require(buckets > 0, "buckets must be positive")
    val lwFixed = new Array[Long](buckets)
    logRatios.select(col("__b").cast("int"), col("__lw").cast("double"))
      .collect().foreach { r =>
        val v = r.getDouble(1)
        val m = math.floor(math.abs(v) * 1e9).toLong
        lwFixed(r.getInt(0)) = if (v < 0) -m else m
      }
    val lwCol = typedLit(lwFixed.toSeq)
    val toks = graft.ops.Text.tokens(col(textCol))
    val feats = concat(
      toks,
      when(size(toks) >= 2, graft.ops.Text.shingles(toks, 2))
        .otherwise(array().cast("array<string>")))
    val score = aggregate(
      feats,
      lit(0L),
      (acc, f) => acc + element_at(
        lwCol,
        (graft.ops.Sampling.hashU24(f) % buckets).cast("int") + 1),
      acc => acc.cast("double") / lit(1.0e9d))
    docs.select(
      col(idCol), col(strataCol),
      size(feats).cast("long").as("n_feats"),
      score.as("dsir_logweight"))
      .withColumn("admit", (col("dsir_logweight") >= threshold).cast("long"))
  }

  /** Streaming PC1 scorer — the embedding-space outlier/whitening signal
    * at ingest time: arriving vectors are projected STATELESSLY onto a
    * PRE-FITTED top principal direction (`fk.vs.head` of a
    * [[graft.ml.Pca.fitK]] fit — the fit is batch by contract, the same
    * fit/route split as [[semanticDedupStream]]'s centroids and
    * [[dsirAdmitStream]]'s log-ratio table). No shuffle, no watermark, no state store — a pure
    * array-local projection, so the score column is slice-invariant and
    * BIT-IDENTICAL to the batch `Pca.pc1ScoresFrom` (pinned in
    * `StreamingSpec`): the per-dimension trunc-9 terms are integers, so
    * the array-order fold here and the batch groupBy's unordered sum
    * agree exactly (integer associativity), and the closing /10⁹ matches
    * the batch decimal→double path. Runs identically on a batch frame.
    */
  def pcaScoreStream(
      vecs: DataFrame,
      idCol: String,
      vecCol: String,
      fk: graft.ml.Pca.FitK,
      carryCols: Seq[String] = Seq.empty): DataFrame =
    // loud length contract (the batch Pca.checkedVec twin): a vector
    // shorter than dims would element_at to NULL and fold to a SILENT
    // NULL score — breaking the documented batch bit-identity without a
    // trace — so any length drift fails the micro-batch instead.
    // carryCols pass through untouched (the curationGates convention) so
    // the scorer chains ahead of stateful stages — gate on the score,
    // then dedup on a carried content key, in ONE streaming query
    vecs.withColumn("__v", checkedLen(vecCol, fk.mu.length, "pcaScoreStream"))
      .select(col(idCol) +: carryCols.map(col) :+ pcFold(fk, 1).as("pc1_score"): _*)

  /** Signed trunc-9 fixed point of a double column — the in-plan twin of
    * the per-term quantization inside `Exact.dsumTrunc9` (and of
    * `Pca.t9`): array-local folds over these integers match the batch
    * groupBy decimal sums exactly (integer addition associates).
    */
  private def t9Col(x: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val m = floor(abs(x) * lit(1.0e9d))
    when(x < 0, -m).otherwise(m).cast("long")
  }

  private def checkedLen(
      vecCol: String, dims: Int, who: String): org.apache.spark.sql.Column =
    when(size(col(vecCol)) === dims, col(vecCol))
      .otherwise(raise_error(concat(
        lit(s"$who: $vecCol length != $dims (got "),
        size(col(vecCol)).cast("string"), lit(")"))))

  /** One whitened component score pc_c as an array-local fold over the
    * length-checked `__v`: Σ t9((x_d − mu_d)·v_{c,d}) / 10⁹ — bit-identical
    * to the batch `Pca.whitenScores` pc_c (same per-dim integer terms, and
    * integer folds are order-free).
    */
  private def pcFold(fk: graft.ml.Pca.FitK, c: Int): org.apache.spark.sql.Column = {
    val dims = fk.mu.length
    val muL = typedLit(fk.mu.toSeq)
    val vL = typedLit(fk.vs(c - 1).toSeq)
    aggregate(
      sequence(lit(1), lit(dims)),
      lit(0L),
      (acc, d) => acc + t9Col(
        (element_at(col("__v"), d).cast("double") - element_at(muL, d)) *
          element_at(vL, d)),
      acc => acc.cast("double") / lit(1.0e9d))
  }

  /** Streaming whitened top-k scorer — [[pcaScoreStream]] extended to the
    * FULL collected [[graft.ml.Pca.FitK]]: arriving vectors are projected
    * STATELESSLY onto every fitted direction, emitting the raw component
    * scores pc_1..pc_k and the whitened scores w_c = pc_c / √λ_c — all
    * BIT-identical to the batch `Pca.whitenScores` (pinned in
    * `StreamingSpec`): the per-dimension trunc-9 terms are integers (the
    * array fold and the batch groupBy sum agree exactly) and each w_c is
    * the same single IEEE division by the same literal √λ_c. No shuffle,
    * no state; carryCols pass through so the scorer chains ahead of
    * stateful stages. Runs identically on a batch frame.
    */
  def whitenScoreStream(
      vecs: DataFrame,
      idCol: String,
      vecCol: String,
      fk: graft.ml.Pca.FitK,
      carryCols: Seq[String] = Seq.empty): DataFrame = {
    val kk = fk.vs.size
    require(kk >= 1 && fk.vs.forall(_.length == fk.mu.length) && fk.lambdas.size == kk,
      "whitenScoreStream needs a consistent FitK")
    val withPc = (1 to kk).foldLeft(
      vecs.withColumn("__v", checkedLen(vecCol, fk.mu.length, "whitenScoreStream"))) {
      (df, c) => df.withColumn(s"pc_$c", pcFold(fk, c))
    }
    withPc.select(
      col(idCol) +: carryCols.map(col)
        ++: (1 to kk).map(c => col(s"pc_$c"))
        ++: (1 to kk).map(c =>
          (col(s"pc_$c") / lit(math.sqrt(fk.lambdas(c - 1)))).as(s"w_$c")): _*)
  }

  /** The axis-removed RESIDUAL at ingest — the streaming twin of the batch
    * whitened-SemDeDup residual construction (`sim_semantic_dedup_whitened*`):
    * r_d = x_d − mu_d − pc_1·v_{1,d} − … − pc_k·v_{k,d} with the pc_c
    * computed array-locally ([[pcFold]]) and the per-element chain in the
    * same fixed left-assoc IEEE order as the batch projection — so the
    * emitted residual array is BIT-identical to the batch residual frame
    * (pinned in `StreamingSpec`). Stateless; output (idCol, carryCols…,
    * resid array<double>).
    */
  def whitenResidualStream(
      vecs: DataFrame,
      idCol: String,
      vecCol: String,
      fk: graft.ml.Pca.FitK,
      carryCols: Seq[String] = Seq.empty): DataFrame = {
    val kk = fk.vs.size
    require(kk >= 1 && fk.vs.forall(_.length == fk.mu.length) && fk.lambdas.size == kk,
      "whitenResidualStream needs a consistent FitK")
    val dims = fk.mu.length
    val muL = typedLit(fk.mu.toSeq)
    val vLs = fk.vs.map(v => typedLit(v.toSeq))
    val withPc = (1 to kk).foldLeft(
      vecs.withColumn("__v", checkedLen(vecCol, dims, "whitenResidualStream"))) {
      (df, c) => df.withColumn(s"__pc_$c", pcFold(fk, c))
    }
    val resid = transform(sequence(lit(1), lit(dims)), dd =>
      (1 to kk).foldLeft(
        element_at(col("__v"), dd).cast("double") - element_at(muL, dd)) {
        (acc, c) => acc - col(s"__pc_$c") * element_at(vLs(c - 1), dd)
      })
    withPc.select(
      col(idCol) +: carryCols.map(col) :+ resid.as("resid"): _*)
  }

  /** Streaming WHITENED SemDeDup admission — the streaming twin of
    * `sim_semantic_dedup_whitened`, closing the last batch-vs-stream
    * asymmetry in the fit/route split: arriving vectors are reduced to
    * their axis-removed residuals ([[whitenResidualStream]] — bit-equal to
    * the batch residual frame), routed through a PRE-FITTED broadcast
    * centroid table (fit the quantizer batch-side ON THE BATCH RESIDUAL
    * frame — `IvfQuantizer.fitCollect` over the same residuals this
    * stream computes; both fits are batch by contract), and admitted
    * against the kept residuals of their cell exactly as
    * [[semanticDedupStream]] admits raw vectors: first-kept-claimant
    * attribution, id-ordered greedy semantics, slice-invariant (pinned in
    * `StreamingSpec`). Same keep-superset-of-batch containment as the raw
    * stream: stream drops need a KEPT claimant.
    */
  def whitenedSemanticDedupStream(
      vecs: DataFrame,
      fit: graft.ml.IvfQuantizer.CollectedFit,
      idCol: String,
      vecCol: String,
      fk: graft.ml.Pca.FitK,
      tau: Double): Dataset[SemOut] =
    semanticDedupStream(
      whitenResidualStream(vecs, idCol, vecCol, fk), fit, idCol, "resid", tau)

  /** Cross-modal alignment gate as a stream — `mm7_alignment_keep` at
    * ingest time for rows that arrive with BOTH modalities (text +
    * embedding in one multimodal ingest record): the signed hashed
    * bag-of-words text vector is built ARRAY-LOCALLY (one md5 per token,
    * then a dims-slot integer fold — no explode, no shuffle, no state),
    * and the exact cosine against the row's own embedding uses the same
    * trunc-9 dot / integer text norm / DECIMAL(38,9) embedding norm as
    * the batch [[graft.ops.Multimodal.alignmentScores]]. Every per-term
    * quantity is an integer or an exact decimal, so the array-order folds
    * here and the batch groupBy's unordered sums agree EXACTLY — scores
    * are slice-invariant and bit-identical to batch (pinned in
    * `StreamingSpec`). NULL score (zero either norm, or NULL text) fails
    * closed downstream, exactly like the batch ledger. Stateless — chain
    * it ahead of watermarked dedup or a budget stage like
    * [[pcaScoreStream]]. Runs identically on a batch frame.
    */
  def alignmentScoreStream(
      rows: DataFrame,
      idCol: String,
      textCol: String,
      vecCol: String,
      dims: Int,
      carryCols: Seq[String] = Seq.empty): DataFrame = {
    require(dims > 0, "dims must be positive")
    val checked = when(size(col(vecCol)) === dims, col(vecCol))
      .otherwise(raise_error(concat(
        lit(s"alignmentScoreStream: $vecCol length != $dims (got "),
        size(col(vecCol)).cast("string"), lit(")"))))
    val toks = graft.ops.Text.tokens(col(textCol))
    // one md5 per token: (bucket 0-based, ±1) pairs, then a dims-slot fold.
    // Sign bit = the batch op's `(h DIV dims) % 2 == 0`, expressed without
    // any division at all: for h >= 0, (h DIV dims) is even iff
    // h mod 2·dims < dims (h = q·dims + r ⇒ h mod 2dims = (q mod 2)·dims + r)
    // — pure integer modulus, exact at ANY hash width or dims magnitude,
    // unlike the float-divide-then-truncate form it replaces (which only
    // matched integer division because hashU24 < 2^24 ≪ 2^53)
    val sv = transform(toks, t => {
      val h = graft.ops.Sampling.hashU24(t)
      struct(
        pmod(h, lit(dims.toLong)).as("b"),
        when(pmod(h, lit(2L * dims)) < lit(dims.toLong), 1L)
          .otherwise(-1L).as("s"))
    })
    val tvec = transform(sequence(lit(0L), lit(dims - 1L)), d =>
      aggregate(col("__sv"), lit(0L),
        (acc, e) => acc + when(e.getField("b") === d, e.getField("s")).otherwise(0L)))
    val n2t = aggregate(col("__tv"), lit(0L),
      (acc, v) => acc + v * v).cast("double")
    def t9(x: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
      val m = floor(abs(x) * lit(1.0e9d))
      when(x < 0, -m).otherwise(m).cast("long")
    }
    val dot = aggregate(
      sequence(lit(1), lit(dims)),
      lit(0L),
      (acc, d) => acc + t9(
        element_at(col("__tv"), d).cast("double") *
          element_at(col("__v"), d).cast("double")),
      acc => acc.cast("double") / lit(1.0e9d))
    val denom = sqrt(col("__n2t")) * sqrt(col("__n2x"))
    rows
      .withColumn("__v", checked)
      .withColumn("__sv", sv)
      .withColumn("__tv", tvec)
      .withColumn("__n2t", n2t)
      .withColumn("__n2x", graft.ops.Vectors.norm2Exact(col("__v")))
      .withColumn("__dot", dot)
      .select(
        col(idCol) +: carryCols.map(col) :+
          (col("__dot") / when(denom === 0.0, lit(null)).otherwise(denom))
            .as("align_score"): _*)
  }

  /** Curation gates as a stream — the `cur_funnel` stage prefix at ingest
    * time: arriving documents are scored STATELESSLY against PRE-FITTED
    * broadcast language profiles ([[graft.ops.Text.languageProfiles]] —
    * the fit is batch by contract, same split as [[semanticDedupStream]]'s
    * centroids and [[dsirAdmitStream]]'s log-ratio table) plus the
    * self-contained quality and Gopher-repetition gates, and each doc
    * ships with its gate flags and the admit conjunction. No shuffle, no
    * watermark, no state store — a pure projection
    * ([[graft.ops.Text.curationGates]]), so the ledger is slice-invariant
    * and BIT-identical to running the same projection in batch (pinned in
    * `StreamingSpec`). `rep_flagged` is NULL for docs under 3 tokens (the
    * batch op emits no row) and the admit conjunction fails CLOSED on it,
    * exactly like `cur_funnel`. Downstream funnel stages compose as their
    * own streaming ops: exact dedup = `dropDuplicatesWithinWatermark` on
    * the fingerprint, budget = [[tokenBudgetStream]].
    */
  def curationGateStream(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      langCol: String,
      profiles: Seq[(String, Seq[String])],
      qualityMin: Double): DataFrame =
    graft.ops.Text
      .curationGates(docs, idCol, textCol, profiles, qualityMin, carryCols = Seq(langCol))
      .select(
        col(idCol), col(langCol),
        col("pred_lang"), col("n_tokens"), col("quality_score"),
        coalesce(col("pred_lang") === col(langCol), lit(false)).as("lang_ok"),
        col("quality_ok"),
        col("rep_flagged"),
        (coalesce(col("pred_lang") === col(langCol), lit(false)) &&
          col("quality_ok") && coalesce(col("rep_flagged") === 0L, lit(false)))
          .cast("long").as("admit"))

  /** J2-as-stream: stream-stream INTERVAL join — enrich each left event
    * with right-stream events for the same key whose event time falls in
    * [left − before, left + after]. Both sides carry watermarks, and the
    * time-bound join condition is what lets the engine EXPIRE buffered
    * rows: without it, a stream-stream join must keep every row forever
    * (unbounded state — the 100 TB/day failure mode). State per side is
    * bounded by watermarkDelay + the interval width.
    *
    * Inner join: a left event with no right match in the interval emits
    * nothing (outer flavors need the same bounds and emit on watermark
    * expiry). Works unchanged on batch frames (the condition degrades to
    * a plain range join).
    */
  def intervalJoin(
      left: DataFrame,
      right: DataFrame,
      keyCol: String,
      leftTsCol: String,
      rightTsCol: String,
      before: String,
      after: String,
      watermarkDelay: String): DataFrame = {
    val l = left.withWatermark(leftTsCol, watermarkDelay)
    val r = right.withWatermark(rightTsCol, watermarkDelay)
      .withColumnRenamed(keyCol, "__rkey")
    l.join(
      r,
      col(keyCol) === col("__rkey") &&
        col(rightTsCol) >= col(leftTsCol) - expr(s"INTERVAL $before") &&
        col(rightTsCol) <= col(leftTsCol) + expr(s"INTERVAL $after"))
      .drop("__rkey")
  }

  /** Union row for [[asofEnrich]]: reference updates (`isRef = true`,
    * `value` meaningful) and event probes (`isRef = false`) on one keyed
    * timeline. Top-level case class — Spark's state encoder cannot reflect
    * on a method-local class.
    */
  final case class AsofIn(user: String, tsMs: Long, isRef: Boolean, value: Double)

  /** Per-key state: the pruned reference timeline + unresolved events. */
  final case class AsofState(refs: List[(Long, Double)], pending: List[Long])

  /** One enriched event: the latest reference at-or-before its time. */
  final case class AsofOut(
      user: String, tsMs: Long, refTsMs: Option[Long], refValue: Option[Double])

  /** Stream-stream AS-OF enrich — the streaming analog of
    * [[graft.ops.Joins.asOf]]: each event is joined to the LATEST reference
    * update at-or-before its event time, per key. Spark has no native
    * stream-stream as-of join (the inequality is one-sided and unbounded,
    * so the built-in interval join cannot express "latest before"), hence
    * custom state via flatMapGroupsWithState.
    *
    * Event-time correctness: an event resolves only once the WATERMARK
    * passes its timestamp — before that, a reference older than the event
    * could still arrive and change "latest before". So events buffer in
    * state until `tsMs < watermark`, then emit exactly once, in (ts, key)
    * order within the flush. Replayable: the output is a function of the
    * data and the watermark delay, never of wall clock or batch slicing.
    *
    * State bound (the 100 TB/day contract): per key, the reference
    * timeline keeps only entries NEWER than the watermark plus the single
    * latest entry at-or-below it (any future event has ts ≥ watermark, so
    * older references can never be "latest before" again) — plus the
    * unresolved events, bounded by the watermark delay. A key with no
    * pending events keeps just its pruned reference cache; an event-time
    * timer re-fires the flush when the watermark passes a pending event
    * even if the key sees no new data.
    */
  def asofEnrich(
      rows: Dataset[AsofIn],
      watermarkDelay: String): Dataset[AsofOut] = {
    import rows.sparkSession.implicits._
    rows
      .withColumn("__et", timestamp_millis(col("tsMs")))
      .withWatermark("__et", watermarkDelay)
      .as[AsofIn]
      .groupByKey(_.user)
      .flatMapGroupsWithState[AsofState, AsofOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (user, rows, state: GroupState[AsofState]) =>
          val wm = state.getCurrentWatermarkMs()
          val prev = state.getOption.getOrElse(AsofState(Nil, Nil))
          val (newRefs, newEvents) =
            rows.toSeq.partition(_.isRef) match {
              case (r, e) => (r.map(x => (x.tsMs, x.value)), e.map(_.tsMs))
            }
          // merged ref timeline ascending; an exact timestamp tie keeps the
          // max value (arrival order is batch-slicing-dependent — the
          // tiebreak must be a function of the data to stay replayable)
          val refs = (prev.refs ++ newRefs).sorted
          val pend = (prev.pending ++ newEvents).sorted
          val (ready, stillPending) = pend.partition(_ < wm)
          val out = ready.map { ts =>
            refs.takeWhile(_._1 <= ts).lastOption match {
              case Some((rts, v)) => AsofOut(user, ts, Some(rts), Some(v))
              case None           => AsofOut(user, ts, None, None)
            }
          }
          // prune: everything above the watermark + the latest at-or-below
          val (below, above) = refs.partition(_._1 <= wm)
          val kept = below.lastOption.toList ++ above
          state.update(AsofState(kept, stillPending))
          if (stillPending.nonEmpty)
            state.setTimeoutTimestamp(math.max(stillPending.min + 1, wm + 1))
          out.iterator
      }
  }
}
