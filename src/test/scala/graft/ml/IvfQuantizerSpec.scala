package graft.ml

import graft.SparkSpec
import graft.functions.ExactDot
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import scala.util.Random

class IvfQuantizerSpec extends SparkSpec {
  import spark.implicits._

  private val k = 3
  private val iters = 2

  private def corpus(n: Int, seed: Int): DataFrame = {
    val rng = new Random(seed)
    val rows = (0 until n).map { i =>
      (i.toLong, Array.fill(4)(rng.nextFloat() * 2f - 1f))
    }
    rows.toDF("vec_id", "embedding")
      .withColumn("n2", graft.ops.Vectors.norm2Exact(col("embedding")))
  }

  /** The full ranking served from a flat fit of `e`. */
  private def ranked(e: DataFrame, cells: Int, sampleEvery: Int): DataFrame =
    IvfQuantizer.fitRankedFrom(e, "vec_id", "embedding", "n2",
      IvfQuantizer.fitCollect(e, "vec_id", "embedding", "n2", cells, iters, sampleEvery))

  private def collectRanked(df: DataFrame): Set[(Long, Long, Long)] =
    df.select(col("vec_id").cast("long"), col("cell").cast("long"), col("cell_rank"))
      .as[(Long, Long, Long)].collect().toSet

  private def vectors(df: DataFrame): Array[(Long, Array[Double])] =
    df.select(col("vec_id").cast("long"), col("embedding"))
      .as[(Long, Array[Float])].collect()
      .map { case (id, vf) => (id, vf.map(_.toDouble)) }

  /** Plain-Scala ranking of one vector against a routing table: the exact
    * scale-9 cosine per cell (None when a norm is zero), sorted cosine
    * descending, None last, then cell ascending.
    */
  private def refRanking(
      v: Array[Double], table: Array[(Long, Array[Double], Double)]): Seq[(Long, Option[Double])] = {
    val n2: Double = ExactDot.computeArrays(v, v, 9)
    table.toSeq.map { case (cell, sv, ns2) =>
      val dot = ExactDot.computeArrays(v, sv, 9)
      val den = math.sqrt(n2) * math.sqrt(ns2)
      cell -> (if (dot == null || den == 0.0) None else Some(dot.doubleValue() / den))
    }.sortWith { case ((c1, a), (c2, b)) =>
      (a, b) match {
        case (Some(x), Some(y)) if x != y => x > y
        case (Some(_), None) => true
        case (None, Some(_)) => false
        case _ => c1 < c2
      }
    }
  }

  private def routed(v: Array[Double], table: Array[(Long, Array[Double], Double)]): Long =
    IvfQuantizer.routeVector(v, ExactDot.computeArrays(v, v, 9), table)

  test("sampled fit still assigns the FULL corpus, with sample-seed cell labels") {
    val e = corpus(40, seed = 11)
    val rows = collectRanked(ranked(e, k, sampleEvery = 2))
    graft.ops.Caches.releaseAll()
    // every corpus vector (sampled or not) gets a full k-cell ranking
    assert(rows.map(_._1) == (0L until 40L).toSet)
    assert(rows.size == 40 * k)
    // cells are labelled by their seed vector ids: the k lowest SAMPLE ids
    val seedIds = (0 until k).map(i => i.toLong * 2).toSet
    assert(rows.map(_._2) == seedIds)
    // rank 1 is a function: one assignment per vector
    assert(rows.count(_._3 == 1L) == 40)
  }

  test("sampleEvery=s fit == full fit on the manually filtered sample") {
    val e = corpus(40, seed = 23)
    val sampled = collectRanked(ranked(e, k, sampleEvery = 2))
    graft.ops.Caches.releaseAll()
    // fitting the even-id sub-corpus (ids re-densified: i → i/2, so the
    // dense-id seed formula picks the SAME k seed vectors) with
    // sampleEvery=1 must produce the same centroids (same seeds, same Lloyd
    // passes), hence the same ranking on the vectors both runs share —
    // modulo the id/cell-label remap
    val manual = collectRanked(ranked(
      e.filter(col("vec_id") % 2 === 0).withColumn("vec_id", col("vec_id") / 2),
      k, sampleEvery = 1))
    graft.ops.Caches.releaseAll()
    val sampledRemapped = sampled.collect {
      case (id, cell, rank) if id % 2 == 0 => (id / 2, cell / 2, rank)
    }
    assert(sampledRemapped == manual)
  }

  test("sampled fit is deterministic across runs") {
    val e = corpus(30, seed = 37)
    val r1 = collectRanked(ranked(e, k, sampleEvery = 3))
    graft.ops.Caches.releaseAll()
    val r2 = collectRanked(ranked(e, k, sampleEvery = 3))
    graft.ops.Caches.releaseAll()
    assert(r1 == r2)
  }

  test("served ranking == a plain-Scala reference (flat, grouped, scored, hier)") {
    // the served forms run rankCells in-plan; the reference scores every
    // cell of the collected fit's routing table(s) with ExactDot on the
    // driver and sorts the exact cosines itself, so it shares no code with
    // rankCells. A zero vector (id 61, outside the fit sample) has no real
    // cosine: every cell ties, and the tie must break to the lowest cell.
    val e = corpus(60, seed = 53).unionByName(
      Seq((61L, Array.fill(4)(0f))).toDF("vec_id", "embedding")
        .withColumn("n2", graft.ops.Vectors.norm2Exact(col("embedding"))))
    val vecs = vectors(e)

    // flat: the full cell_rank, and rank 1 == routeVector
    val fit = IvfQuantizer.fitCollect(e, "vec_id", "embedding", "n2", k, iters, sampleEvery = 2)
    graft.ops.Caches.releaseAll()
    val table = IvfQuantizer.routingTable(fit)
    assert(table.length == k)
    val refs = vecs.map { case (id, v) => id -> refRanking(v, table) }.toMap
    vecs.foreach { case (id, v) => assert(refs(id).head._1 == routed(v, table), s"id $id") }
    assert(refs(61L).head._1 == table.head._1, "a zero vector must land in the lowest cell")
    val want = refs.toSeq.flatMap { case (id, r) =>
      r.zipWithIndex.map { case ((cell, _), i) => (id, cell, i + 1L) }
    }.toSet
    val served = collectRanked(IvfQuantizer.fitRankedFrom(e, "vec_id", "embedding", "n2", fit))
    assert(served == want,
      s"served flat ranking diverged: ${served.diff(want).take(5)} vs ${want.diff(served).take(5)}")

    // scored: the rank-1 cell and its exact cosine
    val scored = IvfQuantizer.fitAssignScoredFrom(e, "vec_id", "embedding", "n2", fit)
      .select(col("vec_id").cast("long"), col("cell").cast("long"), col("cos_centroid"))
      .as[(Long, Long, Option[Double])].collect().toSet
    val scoredWant = refs.map { case (id, r) => (id, r.head._1, r.head._2) }.toSet
    assert(scored == scoredWant, s"served scored assignment diverged: ${scored.diff(scoredWant)}")

    // grouped (the PQ-subspace shape): every id in both groups, group 1
    // on the reversed vectors so the two fits differ
    val eg = e.withColumn("sub", lit(0L)).unionByName(
      e.withColumn("sub", lit(1L)).withColumn("embedding", reverse(col("embedding"))))
    val gFit = IvfQuantizer.fitCollect(eg, "vec_id", "embedding", "n2", k, iters,
      sampleEvery = 2, grpCols = Seq("sub"))
    graft.ops.Caches.releaseAll()
    val tables = IvfQuantizer.routingTables(gFit)
    assert(tables.keySet == Set(0L, 1L))
    val gWant = Seq(0L, 1L).flatMap { sub =>
      vecs.flatMap { case (id, v) =>
        val vs = if (sub == 0L) v else v.reverse
        refRanking(vs, tables(sub)).zipWithIndex.map { case ((cell, _), i) => (sub, id, cell, i + 1L) }
      }
    }.toSet
    val gServed = IvfQuantizer.fitRankedFrom(eg, "vec_id", "embedding", "n2", gFit)
      .select(col("sub"), col("vec_id").cast("long"), col("cell").cast("long"), col("cell_rank"))
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(gServed == gWant, s"served grouped ranking diverged: ${gServed.diff(gWant).take(5)}")

    // hierarchical: coarse routeVector, then routeVector in that coarse
    // cell's level-2 table
    val (cFit, sFit) = IvfQuantizer.fitHierCollect(e, "vec_id", "embedding", "n2", k, 1, 2, 1)
    graft.ops.Caches.releaseAll()
    val coarse = IvfQuantizer.routingTable(cFit)
    val subs = IvfQuantizer.routingTables(sFit)
    val hWant = vecs.map { case (id, v) =>
      val ccell = routed(v, coarse)
      (id, ccell, routed(v, subs(ccell)))
    }.toSet
    val hServed = IvfQuantizer.fitAssignHierFrom(e, "vec_id", "embedding", "n2", cFit, sFit)
      .select(col("vec_id").cast("long"), col("ccell").cast("long"), col("scell").cast("long"))
      .as[(Long, Long, Long)].collect().toSet
    assert(hServed == hWant, s"served hierarchical assignment diverged: ${hServed.diff(hWant)}")
  }

  test("IVF routing recall: on clustered data every exact neighbor is in a probed cell") {
    // 8 well-separated clusters of 25 vectors in 16 dims: exact cosine
    // top-3 of any vector is inside its own cluster, so nprobe=2 routing
    // must place all of them in the query's probed cells — the quality
    // property (not just determinism) the sim_ivfpq composition rests on.
    // Deterministic jitter → a fixed outcome, not a flaky bound.
    val nClusters = 8; val perC = 25; val dims = 16
    val rows = (0 until nClusters).flatMap { c =>
      (0 until perC).map { j =>
        val id = (c * perC + j).toLong
        val v = Array.tabulate(dims) { d =>
          val base = if (d == 2 * c) 10f else if (d == 2 * c + 1) 5f else 0f
          base + (((id * 31 + d * 7) % 11).toFloat - 5f) / 10f
        }
        (id, v)
      }
    }
    val e = rows.toDF("vec_id", "embedding")
      .withColumn("n2", graft.ops.Vectors.norm2Exact(col("embedding")))
    val rankedRows = ranked(e, 8, sampleEvery = 2)
      .select(col("vec_id").cast("long"), col("cell").cast("long"), col("cell_rank"))
      .as[(Long, Long, Long)].collect()
    graft.ops.Caches.releaseAll()
    val cellOf = rankedRows.filter(_._3 == 1L).map(r => r._1 -> r._2).toMap
    val probed = rankedRows.filter(r => r._3 <= 2L).groupBy(_._1).view.mapValues(_.map(_._2).toSet)
    def cos(a: Array[Float], b: Array[Float]): Double = {
      val dot = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
      dot / (math.sqrt(a.map(x => x.toDouble * x).sum) * math.sqrt(b.map(x => x.toDouble * x).sum))
    }
    val byId = rows.toMap
    val queries = (0 until nClusters).map(c => (c * perC).toLong)
    val missed = queries.flatMap { q =>
      val top3 = rows.filter(_._1 != q)
        .sortBy { case (id, v) => (-cos(byId(q), v), id) }.take(3).map(_._1)
      top3.filterNot(n => probed(q).contains(cellOf(n)))
    }
    assert(missed.isEmpty, s"neighbors outside probed cells: $missed")
  }

  test("fitAssignScored: same assignment as fitAssign, cosine is the cell-wise max, deterministic") {
    val e = corpus(60, seed = 47)
    val fit = IvfQuantizer.fitCollect(e, "vec_id", "embedding", "n2", k, iters, sampleEvery = 2)
    graft.ops.Caches.releaseAll()
    val plain = IvfQuantizer
      .fitAssignFrom(e, "vec_id", "embedding", "n2", fit)
      .select(col("vec_id").cast("long"), col("cell").cast("long"))
      .as[(Long, Long)].collect().toMap
    def scoredRows = IvfQuantizer
      .fitAssignScoredFrom(e, "vec_id", "embedding", "n2", fit)
      .select(col("vec_id").cast("long"), col("cell").cast("long"), col("cos_centroid"))
      .as[(Long, Long, Double)].collect()
    val scored = scoredRows
    assert(scoredRows.toSet == scored.toSet)
    assert(scored.map(r => r._1 -> r._2).toMap == plain)
    assert(scored.forall(r => r._3 >= -1.0 - 1e-9 && r._3 <= 1.0 + 1e-9))
    // the winning cosine dominates the vector's cosine to EVERY centroid
    // (it is the argmax the assignment ranked on)
    val cents = IvfQuantizer.routingTable(fit)
    val vecs = vectors(e).toMap
    for ((id, _, cosWin) <- scored) {
      val v = vecs(id)
      val n2: Double = ExactDot.computeArrays(v, v, 9)
      val all = cents.map { case (_, sv, ns2) =>
        val dot: Double = ExactDot.computeArrays(v, sv, 9)
        dot / (math.sqrt(n2) * math.sqrt(ns2))
      }
      assert(cosWin >= all.max - 1e-12, s"id $id: winning cos $cosWin < max ${all.max}")
    }
  }
}
