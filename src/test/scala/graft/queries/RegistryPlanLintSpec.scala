package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.execution.SparkPlan

/** Registry-wide plan lint: every registered query's physical plan at
  * sf0.001, checked for the accidents that silently wreck 100 TB runs.
  *
  * - No `CartesianProduct`: an unhinted cross join enumerates |L|·|R|
  *   pairs with no build side — every intentional all-pairs shape in the
  *   registry broadcasts its small side (BroadcastNestedLoopJoin), which
  *   is allowed and asserted AS the distinction.
  * - Global (unpartitioned) windows only over audited sub-linear frames.
  * - A GOLDEN per-query plan signature (join strategies, exchanges,
  *   windows, cache boundaries): wall-time is contention-noise on a shared
  *   box (seven rounds of verdicts), but plan shape is deterministic — a
  *   lost `broadcast()` hint (round 4's 40 s → 8.5 s vocab join), a join
  *   that flips BHJ→SMJ, or a new shuffle shows up here as a one-line
  *   diff long before it costs a bench round. After a DELIBERATE plan
  *   change, regenerate with `GRAFT_BLESS_GOLDEN=1 sbt test` and review
  *   the signature diff like any other golden artifact.
  *
  * - No window aggregate over a [moving row, UNBOUNDED FOLLOWING] frame:
  *   Spark re-aggregates the partition tail for every row (quadratic).
  *
  * - No higher-order lambda re-derives its input: Spark runs no
  *   common-subexpression elimination inside a lambda, so a computed
  *   array or string named in its body is re-evaluated per element.
  *
  * Building a plan is cheap, so ONE sweep (AQE off, for a plain statically
  * planned tree) serves every test; a new query with a forgotten
  * broadcast hint fails here before it ever reaches the bench. (Queries
  * with plan-time scalar probes run those tiny jobs during construction —
  * that is their documented design, and at sf0.001 the whole sweep stays
  * in test-suite budget.)
  */
class RegistryPlanLintSpec extends SparkSpec {
  private val sfDir = "/root/testdata/sf0.001"

  /** The query's physical plan PLUS every plan hidden behind a persisted
    * intermediate: `TreeNode.collect` stops at `InMemoryTableScanExec`
    * leaves (and `toString` doesn't render the cached relation), so a lint
    * over the top plan alone would miss anything `Caches.trackPersist` put
    * below a cache boundary — which is most of Dedup/Graph/Sketch. Descends
    * recursively (cached plans can nest further caches). localCheckpoint
    * boundaries are genuinely opaque (the plan is truncated to an RDD scan,
    * and the checkpointed job already ran at build time) — those shapes are
    * pinned by their own operator specs instead.
    */
  private def expandedPlans(plan: SparkPlan): Seq[SparkPlan] =
    plan +: plan
      .collect { case im: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec => im }
      .flatMap(im => expandedPlans(im.relation.cachedPlan))

  /** Deterministic shape summary of one query's expanded physical plan.
    * Counts only STRATEGY-carrying nodes (joins, exchanges, windows, cache
    * boundaries) — not sorts/projections/filters, which churn with harmless
    * refactors and would make the golden noisy. Plus the SCAN PRUNING
    * state: per parquet scan, the table, the columns that actually reach
    * the reader (`requiredSchema` — a scan reading `text` for a 2-column
    * projection is a pruning regression), and how many data filters landed
    * at the scan node (a pushdown that stops reaching the scan shows as
    * the count dropping). Identical scans collapse with a ×N multiplicity.
    */
  private def signature(plans: Seq[SparkPlan]): String = {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
    import org.apache.spark.sql.execution.joins._
    import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    var bhj, smj, shj, bnlj, cart, xchg, bcast, win, gwin, wgl, gwgl, cache = 0
    val scans = scala.collection.mutable.ListBuffer.empty[String]
    plans.foreach(_.foreach {
      case _: BroadcastHashJoinExec => bhj += 1
      case _: SortMergeJoinExec => smj += 1
      case _: ShuffledHashJoinExec => shj += 1
      case _: BroadcastNestedLoopJoinExec => bnlj += 1
      case _: CartesianProductExec => cart += 1
      case _: ShuffleExchangeExec => xchg += 1
      case _: BroadcastExchangeExec => bcast += 1
      case w: WindowExec => if (w.partitionSpec.isEmpty) gwin += 1 else win += 1
      case w: WindowGroupLimitExec => if (w.partitionSpec.isEmpty) gwgl += 1 else wgl += 1
      case _: InMemoryTableScanExec => cache += 1
      case f: FileSourceScanExec =>
        val table = f.relation.location.rootPaths.headOption
          .map(_.getName.stripSuffix(".parquet")).getOrElse("?")
        scans += s"$table{${f.requiredSchema.fieldNames.sorted.mkString(",")}|f=${f.dataFilters.size}}"
      case _ => ()
    })
    val scanSig = scans.groupBy(identity).toSeq.sortBy(_._1)
      .map { case (s, l) => if (l.size == 1) s else s"$s×${l.size}" }.mkString(";")
    s"bhj=$bhj smj=$smj shj=$shj bnlj=$bnlj cart=$cart xchg=$xchg " +
      s"bcast=$bcast win=$win gwin=$gwin wgl=$wgl gwgl=$gwgl cache=$cache " +
      s"scans=$scanSig"
  }

  private case class Sweep(
      signatures: Map[String, String],
      rawFloatAggs: Map[String, Seq[String]],
      nondet: Map[String, Seq[String]],
      slidingToEnd: Map[String, Seq[String]],
      rederives: Map[String, Seq[String]],
      failures: Seq[String])

  /** Subtrees of a higher-order lambda's body that re-derive a value per
    * element: each MAXIMAL subtree with no lambda variable that is not a
    * column read (an Attribute, BoundReference or Literal, or an
    * ExtractValue of those) yet contains an array-, map-, binary- or
    * string-typed node. Spark evaluates the lambda body once per element
    * with no common-subexpression elimination, so such a subtree — say
    * `split(trim(text), ' ', -1)` inside a shingle lambda — runs once per
    * element instead of once per row. Project it into a column first and
    * let the lambda read the attribute.
    */
  private def lambdaRederives(plans: Seq[SparkPlan]): Seq[String] = {
    import org.apache.spark.sql.catalyst.expressions.{Attribute, BoundReference, Expression, ExtractValue, LambdaFunction, Literal, NamedLambdaVariable}
    import org.apache.spark.sql.types.{ArrayType, BinaryType, MapType, StringType}
    def isRead(e: Expression): Boolean = e match {
      case _: Attribute | _: BoundReference | _: Literal => true
      case x: ExtractValue => x.children.forall(isRead)
      case _ => false
    }
    def heavy(e: Expression): Boolean = e.exists(_.dataType match {
      case _: ArrayType | _: MapType | BinaryType | _: StringType => true
      case _ => false
    })
    def offenders(e: Expression): Seq[Expression] =
      if (e.exists(_.isInstanceOf[NamedLambdaVariable])) e.children.flatMap(offenders)
      else if (!isRead(e) && heavy(e)) Seq(e)
      else Nil
    plans.flatMap(_.flatMap(_.expressions))
      .flatMap(_.collect { case l: LambdaFunction => l.function })
      .flatMap(offenders).map(_.sql.take(160)).distinct
  }

  /** Window aggregates whose frame runs from a moving lower bound to
    * UNBOUNDED FOLLOWING. Spark evaluates that shape in
    * `UnboundedFollowingWindowFunctionFrame`, which re-aggregates the rest
    * of the partition for every row: O(n²) per partition. A running frame
    * (UNBOUNDED PRECEDING lower bound) or a whole-partition frame is
    * incremental and not flagged; "next non-NULL value" reads belong in
    * `lead(…, ignoreNulls = true)`, which keeps one forward cursor.
    */
  private def slidingToEnd(plans: Seq[SparkPlan]): Seq[String] = {
    import org.apache.spark.sql.catalyst.expressions.{SpecifiedWindowFrame, UnboundedFollowing, UnboundedPreceding, WindowExpression, WindowSpecDefinition}
    import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
    import org.apache.spark.sql.execution.window.WindowExec
    plans.flatMap(_.collect { case w: WindowExec => w.windowExpression }).flatten.flatMap(_.collect {
      case we @ WindowExpression(_: AggregateExpression,
            WindowSpecDefinition(_, _, SpecifiedWindowFrame(_, lower, UnboundedFollowing)))
          if lower != UnboundedPreceding => we.sql.take(160)
    })
  }

  /** Expressions the analyzed plan marks non-deterministic (rand(),
    * monotonically_increasing_id, shuffle(), …): any one of them makes a
    * query's output partitioning- or retry-dependent, which an oracle hash
    * cannot tolerate — the engine samples/salts/ranks via hashes instead
    * (DETERMINISM.md §9). Reports the outermost flagged node per site.
    */
  private def nondetExprs(analyzed: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Seq[String] = {
    val hits = scala.collection.mutable.ListBuffer.empty[String]
    analyzed.foreach(_.expressions.foreach(_.foreach { e =>
      if (!e.deterministic && e.children.forall(_.deterministic))
        hits += e.getClass.getSimpleName
    }))
    hits.toList
  }

  /** Raw DOUBLE/FLOAT Sum/Average aggregates in the ANALYZED plan: both are
    * partition-order-dependent (float addition doesn't associate), so any
    * oracle-checked query carrying one can hash-diverge under a different
    * partitioning — the engine's convention (DETERMINISM.md) is that every
    * float aggregation routes through the `Exact` decimal paths. Currently
    * ZERO hits registry-wide (probed); this keeps it that way.
    */
  private def rawFloatAggs(analyzed: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Seq[String] = {
    import org.apache.spark.sql.catalyst.expressions.aggregate.{Average, Sum}
    import org.apache.spark.sql.types.{DoubleType, FloatType}
    val hits = scala.collection.mutable.ListBuffer.empty[String]
    analyzed.foreach(_.expressions.foreach(_.foreach {
      case s: Sum if s.child.dataType == DoubleType || s.child.dataType == FloatType =>
        hits += s"sum(${s.child.sql.take(60)})"
      case a: Average if a.child.dataType == DoubleType || a.child.dataType == FloatType =>
        hits += s"avg(${a.child.sql.take(60)})"
      case _ => ()
    }))
    hits.toList
  }

  /** One planning pass over the whole registry, shared by every test.
    * AQE is disabled for the sweep: the STATIC planner choice is the
    * deterministic, pinnable artifact (AQE's runtime re-plan can only
    * improve on it) and `AdaptiveSparkPlanExec` hides the tree from
    * `collect` until execution.
    */
  private lazy val sweep: Sweep = {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    // cold fit memos: a pre-warmed memo (another suite ran registered
    // queries first) changes plan-time cache-materialization stats and
    // flips broadcast-vs-SMJ choices — reset so the sweep is
    // deterministic under ANY suite order (see graft.ops.Fits.reset)
    graft.ops.Fits.reset()
    try {
      val failures = scala.collection.mutable.ListBuffer.empty[String]
      // FIT-PIPELINE pseudo-queries: the PCA covariance fit and the IVF
      // Lloyd fits are collected EAGERLY at query-build time by the
      // memoized per-dataset caches (Pca.fitK via pcaFitFor; SimilarityQ's
      // ivfFits/hierFits), so the registered queries' signatures contain
      // only the post-fit routing plan — a fit-plan regression (lost
      // broadcast, new exchange, un-pruned scan) would be invisible there.
      // Each fit collects exactly one lazy frame, built by one private[graft]
      // function, and these pseudo-queries plan that same function:
      // IvfQuantizer.centroidFrame (fitCollect), hierLevel2Frame
      // (fitHierCollect) and Pca.covFrame (fitK). The flat frame costs a
      // plan; the hier and PCA frames each run one small job at build time
      // (the coarse-fit collect and the means collect they are built on).
      val fitFrames: Seq[(String, () => org.apache.spark.sql.DataFrame)] = {
        import org.apache.spark.sql.functions.col
        def emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
          .select(col("vec_id"), col("embedding"))
        def eN = emb.withColumn("n2", graft.ops.Vectors.norm2Exact(col("embedding")))
        Seq(
          "__fit_pca_cov" -> (() =>
            graft.ml.Pca.covFrame(emb, "vec_id", "embedding", 64, 4)._2),
          "__fit_ivf_flat" -> (() =>
            graft.ml.IvfQuantizer.centroidFrame(eN, "vec_id", "embedding", "n2", 8, 2, 4,
              Nil, seedPerGroup = false)),
          "__fit_ivf_hier" -> (() =>
            graft.ml.IvfQuantizer.hierLevel2Frame(eN, "vec_id", "embedding", "n2", 3, 1, 4, 2)._2))
      }
      val rows = (graft.SparkEntry.queries.toSeq.sortBy(_._1).map {
        case (name, fn) => (name, () => fn(spark, sfDir))
      } ++ fitFrames).flatMap {
        case (name, build) =>
          val out =
            try {
              val qe = build().queryExecution
              val plans = expandedPlans(qe.executedPlan)
              Some((name, signature(plans), rawFloatAggs(qe.analyzed),
                nondetExprs(qe.analyzed), slidingToEnd(plans), lambdaRederives(plans)))
            } catch { case e: Throwable => failures += s"$name: ${e.getMessage}"; None }
          graft.ops.Caches.releaseAll()
          out
      }
      Sweep(
        rows.map(r => r._1 -> r._2).toMap,
        rows.collect { case (n, _, fa, _, _, _) if fa.nonEmpty => n -> fa }.toMap,
        rows.collect { case (n, _, _, nd, _, _) if nd.nonEmpty => n -> nd }.toMap,
        rows.collect { case (n, _, _, _, sf, _) if sf.nonEmpty => n -> sf }.toMap,
        rows.collect { case (n, _, _, _, _, rd) if rd.nonEmpty => n -> rd }.toMap,
        failures.toList)
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("COVERAGE.md header count matches the live registry size") {
    // the r9 round shipped a stale header (191 documented vs 193 live) —
    // tie the doc to SparkEntry.queries.size so registry growth without a
    // COVERAGE.md refresh fails loudly instead of drifting silently
    val header = scala.io.Source.fromFile("COVERAGE.md", "UTF-8").getLines().take(20).mkString(" ")
    val m = """\*\*(\d+) registered\b""".r.findFirstMatchIn(header)
    assert(m.nonEmpty, "COVERAGE.md header lost its '**N registered' count marker")
    assert(m.get.group(1).toInt == graft.SparkEntry.queries.size,
      s"COVERAGE.md header says ${m.get.group(1)} registered queries but the " +
        s"registry has ${graft.SparkEntry.queries.size} — refresh the header counts")
  }

  test("every registered query plans successfully; none plans a CartesianProduct") {
    assert(sweep.failures.isEmpty,
      s"planning failed for:\n${sweep.failures.mkString("\n")}")
    val cart = sweep.signatures.filter(!_._2.contains("cart=0")).keys.toSeq.sorted
    assert(cart.isEmpty, s"queries with CartesianProduct (incl. cached sub-plans): " +
      s"${cart.mkString(", ")} — broadcast the small side or rewrite the join")
  }

  test("no registered query aggregates raw DOUBLE/FLOAT (partition-order-dependent)") {
    val bad = sweep.rawFloatAggs.toSeq.sortBy(_._1)
      .map { case (n, hs) => s"$n: ${hs.distinct.mkString("; ")}" }
    assert(bad.isEmpty,
      "raw float Sum/Average found (hash can diverge under repartitioning) — " +
        s"route through Exact.dsum/dmean/dsumTrunc* instead:\n${bad.mkString("\n")}")
  }

  test("non-deterministic expressions appear only as MLlib's flagged predict UDFs") {
    // the only tolerated marker: MLlib model-transform ScalaUDFs in the
    // three rows-only ML entries — MLlib flags them non-deterministic
    // conservatively, while the actual predictions are seed-pinned
    // (BbdcSpec run-twice equality, MlBoundsSpec memorization floors).
    // Anything else (rand, monotonically_increasing_id, shuffle, …) is a
    // partitioning/retry dependence an oracle hash cannot tolerate.
    val allowed = Set("m5_impute_linreg", "m6_ensemble_vote", "m6b_ensemble_boosted")
    val bad = sweep.nondet.toSeq.sortBy(_._1).collect {
      case (n, hs) if !(allowed.contains(n) && hs.distinct == Seq("ScalaUDF")) =>
        s"$n: ${hs.distinct.mkString(", ")}"
    }
    assert(bad.isEmpty,
      "non-deterministic expressions in registered plans — replace with " +
        s"hash-based sampling/ids (DETERMINISM.md §9):\n${bad.mkString("\n")}")
    assert((allowed -- sweep.nondet.keySet).isEmpty,
      "stale nondet whitelist (no flagged UDF anymore): " +
        s"${(allowed -- sweep.nondet.keySet).mkString(", ")} — remove")
  }

  test("no window aggregate slides its lower bound over an UNBOUNDED FOLLOWING frame (quadratic)") {
    val bad = sweep.slidingToEnd.toSeq.sortBy(_._1)
      .map { case (n, es) => s"$n: ${es.distinct.mkString("; ")}" }
    assert(bad.isEmpty,
      "window aggregate over a [moving row, UNBOUNDED FOLLOWING] frame re-aggregates the " +
        "partition tail for every row (O(n²) per partition) — read the next non-NULL " +
        s"value with lead(…, ignoreNulls = true) instead:\n${bad.mkString("\n")}")
  }

  private val rederiveHint =
    "Spark runs no common-subexpression elimination inside a lambda, so the subtree " +
      "is evaluated once per element — project it into a column (or use a native " +
      "kernel such as functions.Shingles) and let the lambda read the attribute:\n"

  test("no higher-order lambda re-derives a computed array or string per element") {
    val bad = sweep.rederives.toSeq.sortBy(_._1)
      .map { case (n, es) => s"$n: ${es.mkString("; ")}" }
    assert(bad.isEmpty, rederiveHint + bad.mkString("\n"))
  }

  test("Text.curationGates: no higher-order lambda re-derives a computed array or string") {
    // the stream-ingest gates are no registered query, so they are planned
    // here, outside the sweep (no golden signature line); the profiles'
    // contents do not change the plan's shape
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      val gates = graft.ops.Text.curationGates(docs, "doc_id", "text",
        Seq("en" -> Seq("the", "and"), "de" -> Seq("der", "und")), 0.35,
        carryCols = Seq("text"))
      val bad = lambdaRederives(expandedPlans(gates.queryExecution.executedPlan))
      assert(bad.isEmpty, rederiveHint + bad.mkString("\n"))
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  /** Queries whose plans CONTAIN an unpartitioned WindowExec, each one
    * audited: the window's INPUT frame is sub-linear by construction, so
    * the single task it funnels through is sized by a frontier / distinct
    * set / cell grid, never the corpus.
    *
    *   - m1/m2 label codecs: distinct labels (|labels| rows)
    *   - m12/m12b AUC, m16 spearman: rank offsets over DISTINCT score
    *     values (bounded-distinct contract in `Stats.binaryAuc`/`spearman`)
    *   - t21 zipf: cumulative offsets over distinct COUNT values (O(√corpus))
    *   - t10/temperature_mix/mix_epochs: lang×source / source / lang cell grids
    *   - o6 skyline: stage-2 window over per-bucket frontiers
    *   - w27 RFM: exactQuantiles' rank windows over distinct metric values
    */
  private val globalWindowWhitelist = Set(
    "m1_label_encode", "m2_label_decode", "m12_auc", "m12b_auc_quantized",
    "m16_spearman", "t21_zipf_slope", "t10_mix_divergence",
    "temperature_mix", "mix_epochs", "o6_skyline", "w27_rfm")

  test("global (unpartitioned) windows appear only over audited sub-linear frames") {
    // an unpartitioned WindowExec sorts its ENTIRE input through one task —
    // the quietest way to lose a 1000-executor cluster. Every intentional
    // one in the registry feeds a sub-linear frame (see whitelist); a new
    // query that forgets to partition (or to pre-aggregate to a distinct
    // frame first) fails here before it ever meets real data.
    val offenders = sweep.signatures.collect {
      case (name, sig) if !(sig.contains("gwin=0") && sig.contains("gwgl=0")) => name
    }.toSet
    assert((offenders -- globalWindowWhitelist).isEmpty,
      "UNAUDITED global window (sorts its whole input through ONE task) in: " +
        s"${(offenders -- globalWindowWhitelist).mkString(", ")} — partition it, " +
        "pre-aggregate to a sub-linear frame, or audit + whitelist with justification")
    assert((globalWindowWhitelist -- offenders).isEmpty,
      "stale whitelist entries (no global window in plan anymore): " +
        s"${(globalWindowWhitelist -- offenders).mkString(", ")} — remove them")
  }

  test("per-query plan signatures match the blessed golden") {
    val lines = sweep.signatures.toSeq.sortBy(_._1).map { case (n, s) => s"$n $s" }
    if (sys.env.contains("GRAFT_BLESS_GOLDEN")) {
      val p = java.nio.file.Paths.get("src/test/resources/plan_signatures.txt")
      java.nio.file.Files.write(p, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
      info(s"BLESSED ${lines.size} signatures -> $p")
    } else {
      val stream = getClass.getResourceAsStream("/plan_signatures.txt")
      assert(stream != null,
        "golden plan-signature file missing — bless with GRAFT_BLESS_GOLDEN=1 sbt test")
      val golden = scala.io.Source.fromInputStream(stream, "UTF-8").getLines().toSeq
        .filter(_.nonEmpty).map { l =>
          val i = l.indexOf(' '); l.take(i) -> l.drop(i + 1)
        }.toMap
      val gone = (golden.keySet -- sweep.signatures.keySet).toSeq.sorted
      val added = (sweep.signatures.keySet -- golden.keySet).toSeq.sorted
      val changed = sweep.signatures.toSeq.sortBy(_._1).collect {
        case (n, s) if golden.contains(n) && golden(n) != s =>
          s"$n\n  golden: ${golden(n)}\n  now:    $s"
      }
      assert(gone.isEmpty && added.isEmpty && changed.isEmpty,
        "plan signatures diverged from the blessed golden — a join strategy, " +
          "shuffle, window, or cache boundary changed. If DELIBERATE, re-bless " +
          "with GRAFT_BLESS_GOLDEN=1 sbt test and review the diff.\n" +
          (if (gone.nonEmpty) s"missing queries: ${gone.mkString(", ")}\n" else "") +
          (if (added.nonEmpty) s"new queries (bless to pin): ${added.mkString(", ")}\n" else "") +
          changed.mkString("\n"))
    }
  }
}
