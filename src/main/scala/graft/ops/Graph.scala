package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Iterative graph analytics over candidate-pair graphs — the companion to
  * [[Dedup.connectedComponents]]: where CC answers "which documents form one
  * duplicate group", PageRank ranks how CENTRAL each document is inside the
  * near-dup web (a high-rank doc is the canonical/most-connected variant, a
  * natural keep-policy signal alongside the quality score of d8).
  *
  * Cross-engine determinism: ranks are scaled BIGINTs (1.0 ≡ 10^12), the
  * per-edge contribution is integer division `rank DIV degree`, and the
  * damping update is `0.15 + 0.85·Σ` computed as
  * `150_000_000_000 + (85·Σ) DIV 100` — every step is exact 64-bit integer
  * arithmetic, so a fixed iteration count yields bit-identical results on
  * any partitioning and in the DuckDB oracle (positive operands: Spark's
  * truncating `DIV` and DuckDB's flooring `//` agree). No floats anywhere.
  *
  * Scale shape: per iteration one join of the edge list against the rank
  * vector plus one groupBy on dst — both shuffles are over EDGES (dedup
  * graphs are sparse: near-dup pairs, not cliques), and the edge+degree
  * frames are persisted once.
  *
  * Overflow bound, ENFORCED: total rank mass is ≤ n·scale at every
  * iteration (mass starts at n·scale and the damped update is a
  * contraction on the total: new_total ≤ 0.15·n·scale + 0.85·old_total),
  * so the largest Σ any node can receive is n·scale and the hottest
  * intermediate is `85·Σ ≤ 85·n·scale`. [[derivedScale]] picks the largest
  * power of 10 that provably fits that in int64 (capped at the canonical
  * 10^12), and [[pagerankScaled]] validates any explicitly-passed scale
  * against the same bound — a graph too large for its scale fails at plan
  * time with the bound in the message, never mid-job with a raw ANSI
  * overflow. The node count this needs is one cheap scalar off the
  * persisted `ids` frame (same cost class as [[Dedup.connectedComponents]]'
  * convergence probe); callers that know `n` from table metadata can pass
  * `scale` explicitly and skip nothing — the count also guards the bound.
  */
object Graph {

  /** Canonical rank scale (1.0 ≡ 10^12) — the value [[derivedScale]]
    * returns for every graph up to ~10^5 nodes, and the constant the `g1`
    * oracle mirrors.
    */
  val Scale: Long = 1000000000000L

  /** Largest power-of-10 scale such that `85·n·scale` fits int64, capped
    * at [[Scale]]: 10^12 through n ≈ 10^5, one decade less per 10× beyond.
    * Fails for graphs past n ≈ 10^15 (scale would drop under 100, where
    * the 0.15 base term stops being exact).
    */
  def derivedScale(n: Long): Long = {
    require(n > 0, s"derivedScale needs a positive node count, got $n")
    val bound = Long.MaxValue / 85L / n
    var s = Scale
    while (s > bound) s /= 10
    require(s >= 100, s"graph too large for 64-bit scaled PageRank: n=$n")
    s
  }

  /** The symmetric edge list of an UNDIRECTED pair list: (src, dst) and
    * (dst, src) for every pair, distinct, persisted and pre-partitioned on
    * `partKey` (`src` or `dst`). The caller's pair relation is persisted
    * BEFORE symmetrizing: the fwd/rev union otherwise evaluates the
    * (typically expensive, unpersisted) upstream pair pipeline once per
    * branch — measured on g1 at sf0.1, and on d7/d8/d14 inside
    * [[Dedup.connectedComponents]]: the pair join/agg chain ran twice
    * inside the edge materialization job (guide §2.4 — remove recomputed
    * subtrees before removing shuffles). The pre-partitioning lets every
    * round's join on `partKey` reuse the cached layout instead of
    * re-exchanging the edge list once per round: one extra exchange at
    * materialization, amortized over the rounds.
    */
  def symmetricEdges(pairs: DataFrame, aCol: String, bCol: String, partKey: String): DataFrame = {
    val p0 = Caches.trackPersist(
      pairs.select(col(aCol).cast("long").as("src"), col(bCol).cast("long").as("dst")))
    Caches.trackPersist(
      p0.union(p0.select(col("dst").as("src"), col("src").as("dst"))).distinct()
        .repartition(col(partKey)))
  }

  /** Fixed-iteration damped PageRank (d=0.85) over an UNDIRECTED pair list.
    * Every node in `nodes` gets a row; nodes with no incident edge hold the
    * base rank 0.15 (dangling mass is dropped, not redistributed — the
    * usual simplification for ranking *within* near-dup neighborhoods,
    * stated here as the contract). `scale` defaults to [[derivedScale]] of
    * the node count; an explicit value is validated against the same
    * overflow bound (and must mirror into any cross-engine oracle).
    * Emits (id, rank_scaled).
    */
  def pagerankScaled(
      pairs: DataFrame,
      nodes: DataFrame,
      aCol: String,
      bCol: String,
      idCol: String,
      iters: Int = 5,
      scale: Option[Long] = None): DataFrame =
    rankRounds(pairs, aCol, bCol, nodes.select(col(idCol).cast("long").as("id")),
      iters, scale, v => lit(v))._2

  /** PERSONALIZED PageRank — [[pagerankScaled]] with the teleport mass
    * concentrated on a SEED set instead of spread uniformly: rank flows
    * outward from the seeds through the link structure, so scores read as
    * "proximity to the trusted set" — the TrustRank/seed-expansion move
    * (grow a curated domain allowlist from a hand-audited core; rank
    * candidate near-dups by their linkage to known-good docs). Seeds hold
    * the 0.15·scale base term and the initial mass; non-seeds start at 0
    * and earn rank only through in-edges. Same scaled-BIGINT arithmetic,
    * damping, dangling-mass contract and overflow bound as
    * [[pagerankScaled]] — with `seeds` = all of `nodes` the two are
    * bit-identical (spec-pinned), so this is a strict generalization.
    * Emits (idCol, is_seed, rank_scaled).
    */
  def personalizedPagerankScaled(
      pairs: DataFrame,
      nodes: DataFrame,
      seeds: DataFrame,
      aCol: String,
      bCol: String,
      idCol: String,
      iters: Int = 5,
      scale: Option[Long] = None): DataFrame = {
    val seedIds = seeds.select(col(idCol).cast("long").as("id")).distinct()
      .withColumn("__s", lit(1L))
    val (ids, ranks) = rankRounds(pairs, aCol, bCol,
      nodes.select(col(idCol).cast("long").as("id"))
        .join(seedIds, Seq("id"), "left")
        .select(col("id"), coalesce(col("__s"), lit(0L)).as("is_seed")),
      iters, scale, v => when(col("is_seed") === 1L, lit(v)).otherwise(lit(0L)))
    ids.join(ranks, "id").select(col("id"), col("is_seed"), col("rank_scaled"))
  }

  /** The round loop of both PageRanks over `nodes0(id, …)`: `mass(v)` is
    * a node's share of the amount `v` — its initial rank is `mass(scale)`
    * and its base term `mass(0.15·scale)` (every node for plain PageRank,
    * the seeds for the personalized one). Returns the persisted,
    * id-partitioned node frame and the final (id, rank_scaled).
    *
    * Each round is one node-sized deg join (rank DIV deg depends only on
    * the source, so identical integers per edge ride node-sized shuffle
    * bytes — guide §2.3), one join against the src-partitioned edge cache
    * and the edge-sized transpose (groupBy dst); the node frame is
    * id-partitioned, so the per-round resurrect join (ids ⋈ contrib,
    * contrib already partitioned by id from its groupBy) is exchange-free.
    * Lineage is cut with an eager `localCheckpoint` after every round but
    * the last — the per-round hygiene of [[Dedup.connectedComponents]]:
    * without it Catalyst re-analyzes one nesting level per round and plan
    * preparation grows superlinearly (on a cluster with dynamic
    * allocation, swap for reliable `checkpoint`). The cut changes no
    * values, only the plan boundary.
    */
  private def rankRounds(
      pairs: DataFrame,
      aCol: String,
      bCol: String,
      nodes0: DataFrame,
      iters: Int,
      scale: Option[Long],
      mass: Long => Column): (DataFrame, DataFrame) = {
    val edges = symmetricEdges(pairs, aCol, bCol, "src")
    // deg inherits the partitioning for free (groupBy src over a
    // src-partitioned cache plans no exchange)
    val deg = Caches.trackPersist(edges.groupBy("src").agg(count(lit(1)).as("deg")))
    val ids = Caches.trackPersist(nodes0.repartition(col("id")))
    val n = math.max(ids.count(), 1L)
    val sc = scale.getOrElse(derivedScale(n))
    require(
      sc >= 100 && sc % 100 == 0 && sc <= Long.MaxValue / 85L / n,
      s"scale $sc overflows 85*n*scale at n=$n (max ${Long.MaxValue / 85L / n}); " +
        "use derivedScale or pass a smaller scale")
    val base = mass(15L * sc / 100) // 0.15, exact: sc is a multiple of 100
    var ranks = ids.select(col("id"), mass(sc).as("rank_scaled"))
    (1 to iters).foreach { i =>
      val srcC = deg
        .join(ranks.select(col("id").as("src"), col("rank_scaled")), "src")
        .select(col("src"), expr("rank_scaled DIV deg").as("c"))
      val contrib = edges
        .join(srcC, "src")
        .select(col("dst").as("id"), col("c"))
        .groupBy("id")
        .agg(sum(col("c")).as("s"))
      ranks = ids
        .join(contrib, Seq("id"), "left")
        .select(col("id"), (base + expr("85 * coalesce(s, 0L) DIV 100")).as("rank_scaled"))
      if (i < iters) ranks = ranks.localCheckpoint()
    }
    (ids, ranks)
  }

  /** Oracle twin of the PageRank round loop at the canonical [[Scale]],
    * over an edge CTE `e(src, dst)` (symmetric, distinct) and a node CTE
    * `n0(id, is_seed)`: CTEs `dg(src, d)` and `r0` … `r$iters` (id, r).
    * Every node is a seed for plain PageRank.
    */
  def pagerankSql(iters: Int): String = {
    val rounds = (1 to iters).map { i =>
      s"""r$i AS (SELECT n0.id,
            CAST(n0.is_seed * ${15L * Scale / 100} + 85 * coalesce(c.s, 0) // 100 AS BIGINT) AS r
          FROM n0 LEFT JOIN (
            SELECT e.dst AS id, sum(p.r // dg.d) AS s
            FROM e JOIN r${i - 1} p ON p.id = e.src
                 JOIN dg ON dg.src = e.src
            GROUP BY 1) c ON c.id = n0.id)"""
    }
    (s"""dg AS (SELECT src, CAST(count(*) AS BIGINT) AS d FROM e GROUP BY 1),
        r0 AS (SELECT id, CAST(is_seed * $Scale AS BIGINT) AS r FROM n0)""" +: rounds)
      .mkString(",\n")
  }

  /** Exact triangle census over an UNDIRECTED distinct pair list
    * (`aCol < bCol`, one row per edge — [[graft.ops.Dedup.jaccardPairs]]'
    * output shape): one summary row with the edge count, wedge count
    * (Σ d(d−1)/2 — straight off the degree table, never materialized as
    * rows), triangle count, and the global clustering coefficient
    * 3T/wedges (NULL when the graph has no wedge). Triangles measure how
    * clique-like the near-dup neighborhoods are — transitive duplication
    * (a~b, b~c ⇒ a~c) shows up as clustering near 1, drift chains near 0.
    *
    * Scale shape — the standard orientation bound: each edge is directed
    * from its (degree, id)-smaller endpoint, which makes the edge DAG's
    * out-degree O(√m) for ANY degree distribution, so the wedge self-join
    * enumerates Σ outdeg² = O(m^1.5) candidates instead of the Σ d²
    * blow-up a hub key would cause on the raw edge list (the same
    * hot-key argument as the banded-LSH candidate bound). Inside a
    * triangle the orientation DAG has exactly one node with out-degree 2,
    * so the wedge→closing-edge join counts each triangle exactly once —
    * no /3 correction, no dedup pass. All-integer arithmetic; the one
    * closing division is a single IEEE op both engines share.
    */
  def triangles(pairs: DataFrame, aCol: String, bCol: String): DataFrame = {
    // the edge list is consumed four times (degrees, orientation, census) and
    // upstream it is typically an expensive dedup-pair pipeline — persist it
    // once or every reuse replays the whole chain (measured on g2 at sf0.1:
    // 18.5 s / 157 stages unpersisted vs 5.9 s cold-session persisted)
    val e0 = Caches.trackPersist(
      pairs.select(col(aCol).cast("long").as("ea"), col(bCol).cast("long").as("eb")))
    // NOTE (r14 bench): persisting deg (3 plan branches) was tried and
    // LOST (g2 wall 3.0 → 4.7 s at sf0.1) — each branch's recompute is one
    // cheap groupBy over the already-persisted e0, while the persist adds
    // a blocking materialization job and degrades the orientation joins'
    // broadcast planning (no stats on the cached frame)
    val deg = e0.select(col("ea").as("v")).union(e0.select(col("eb").as("v")))
      .groupBy("v").agg(count(lit(1)).as("d"))
    val withDeg = e0
      .join(deg.select(col("v").as("ea"), col("d").as("da")), "ea")
      .join(deg.select(col("v").as("eb"), col("d").as("db")), "eb")
    val o = withDeg.select(
      when(col("da") < col("db") || (col("da") === col("db") && col("ea") < col("eb")),
        col("ea")).otherwise(col("eb")).as("u"),
      when(col("da") < col("db") || (col("da") === col("db") && col("ea") < col("eb")),
        col("eb")).otherwise(col("ea")).as("v"))
    // pre-partitioned on u: the wedge enumeration self-joins oP on u, so
    // both sides read the cached layout and the join plans NO exchange
    // (guide §2.4) — before this, each side of the self-join re-exchanged
    // the oriented edge list
    val oP = Caches.trackPersist(o.repartition(col("u")))
    val wedges = oP.as("e1")
      .join(oP.as("e2"), col("e1.u") === col("e2.u") && col("e1.v") =!= col("e2.v"))
      .select(col("e1.v").as("x"), col("e2.v").as("y"))
    val tri = wedges
      .join(oP.select(col("u").as("x"), col("v").as("y")), Seq("x", "y"), "left_semi")
      .agg(count(lit(1)).as("n_triangles"))
    val nEdges = e0.agg(count(lit(1)).as("n_edges"))
    val nWedges = deg.agg(sum(expr("d * (d - 1) DIV 2")).as("n_wedges"))
    nEdges.crossJoin(nWedges).crossJoin(tri)
      .select(
        col("n_edges"), col("n_wedges"), col("n_triangles"),
        when(col("n_wedges") > 0,
          (lit(3L) * col("n_triangles")).cast("double") / col("n_wedges").cast("double"))
          .as("clustering"))
  }

  /** Fixed-round k-core peeling: nodes of the `rounds`-times-peeled graph
    * whose degree is still ≥ k, with that degree — the dense-cluster
    * extractor over the near-dup pair graph (a k-core is a maximal
    * subgraph where everyone has ≥ k in-core neighbors: template
    * boilerplate families and mirror farms show up as cores; chains and
    * stars don't).
    *
    * FIXED rounds, not run-to-convergence: peeling is monotone (each
    * round only removes nodes) and idempotent at the fixed point, so
    * extra rounds are no-ops and both engines running the same `rounds`
    * agree bit-for-bit whether or not the peel has converged — the same
    * move as the unrolled PageRank chain, chosen so the oracle needs no
    * plan-time convergence scalar. A diameter-ish `rounds` (default 8)
    * converges real dup graphs; the semantic is "the rounds-peeled
    * approximation from above" by contract.
    *
    * Scale shape: per round one degree groupBy + two semi-joins on the
    * node id — everything shuffles on v, nothing quadratic, and the edge
    * frame shrinks monotonically; `localCheckpoint` per round bounds the
    * nested-plan growth exactly as [[pagerankScaled]]'s hygiene does.
    */
  def kcore(pairs: DataFrame, aCol: String, bCol: String, k: Int, rounds: Int = 8): DataFrame = {
    require(k >= 1 && rounds >= 1, s"bad kcore config: k=$k rounds=$rounds")
    var e = Caches.trackPersist(
      pairs.select(col(aCol).cast("long").as("ea"), col(bCol).cast("long").as("eb")))
    def degrees(edges: DataFrame) =
      edges.select(col("ea").as("v")).union(edges.select(col("eb").as("v")))
        .groupBy("v").agg(count(lit(1)).as("d"))
    for (_ <- 1 to rounds) {
      val keep = degrees(e).filter(col("d") >= k).select("v")
      e = e
        .join(keep.withColumnRenamed("v", "ea"), Seq("ea"), "left_semi")
        .join(keep.withColumnRenamed("v", "eb"), Seq("eb"), "left_semi")
        .localCheckpoint(true)
    }
    degrees(e).filter(col("d") >= k)
      .select(col("v"), col("d").as("core_degree"))
  }

  /** Fixed-round synchronous label propagation — community detection over
    * the near-dup pair graph (the cluster-refinement complement of
    * [[graft.ops.Dedup.connectedComponents]]: CC merges everything
    * reachable; LPA splits a component along its dense regions, so a
    * bridge edge between two template families doesn't fuse them). Every
    * node starts labeled with its own id; each round it adopts the MODE of
    * its neighbors' labels, ties broken by the smallest label — integer
    * counts and a total (count desc, label asc) order, so every round is
    * deterministic in both engines.
    *
    * FIXED rounds by contract, not run-to-convergence: synchronous LPA can
    * 2-cycle on bipartite structures, so "the rounds-th iterate" is the
    * well-defined cross-engine semantic (the same move as the unrolled
    * PageRank chain and the fixed-round k-core peel); a diameter-ish
    * `rounds` settles real dup webs, whose communities are small and
    * dense.
    *
    * Scale shape: per round one edge-sized join on the node id + one
    * (node, label) groupBy + a per-node `row_number = 1` argmax that plans
    * as Partial+Final WindowGroupLimit (map-side pre-prune — a hot node
    * never ships all its candidate labels through one task); edges persist
    * once, `localCheckpoint` per round bounds the nested-plan growth
    * exactly like [[pagerankScaled]]. Isolated nodes have no edges and are
    * absent by construction (stated; CC makes them singletons instead).
    */
  def labelPropagation(pairs: DataFrame, aCol: String, bCol: String, rounds: Int = 3): DataFrame = {
    require(rounds >= 1, s"bad lpa config: rounds=$rounds")
    // pre-symmetrization persist: see [[pagerankScaled]]; src-partitioned
    // for the same reason — each round joins e on src, so the cached
    // layout replaces a per-round edge-sized exchange (the label seed's
    // distinct also rides it for free)
    val p0 = Caches.trackPersist(
      pairs.select(col(aCol).cast("long").as("src"), col(bCol).cast("long").as("dst")))
    val e = Caches.trackPersist(
      p0.union(p0.select(col("dst").as("src"), col("src").as("dst")))
        .repartition(col("src")))
    var lbl = e.select(col("src").as("id")).distinct().withColumn("lbl", col("id"))
    for (_ <- 1 to rounds) {
      val cnt = e.join(lbl.withColumnRenamed("id", "src"), "src")
        .groupBy(col("dst").as("id"), col("lbl"))
        .agg(count(lit(1)).as("c"))
      val w = Window.partitionBy("id").orderBy(col("c").desc, col("lbl"))
      lbl = cnt.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select("id", "lbl")
        .localCheckpoint(true)
    }
    lbl.select(col("id").as("v"), col("lbl").as("community"))
  }
}
