package graft.queries

import java.nio.file.Files

import graft.SparkEntry

/** Detection power and keep-policy laws of `sim_semantic_dedup`.
  *
  * The DuckDB oracle proves Spark and DuckDB agree on the arithmetic; this
  * spec proves the op actually DROPS a planted semantic duplicate and
  * nothing else. Fixture: 50 vectors on 50 DISTINCT basis dimensions
  * (pairwise cosine ≈ 1e-6 — far below the 0.4 threshold), except id 33 is
  * planted on id 17's direction (cosine ≈ 1). Jitter magnitudes are
  * distinct per vector so no cosine ties hide ranking or grouping bugs;
  * the planted pair's near-identical vectors co-assign under the
  * deterministic IVF fit (their centroid distances are equal to ~1e-6).
  */
class SemanticDedupSpec extends graft.SparkSpec {
  private val original = 17L
  private val dup = 33L

  private def plantedFixture(): String = {
    import spark.implicits._
    val dim = 64
    def vec(base: Int, i: Int): Array[Float] = {
      val a = new Array[Float](dim)
      a(base) = 1.0f
      a(54 + i % 8) = 0.001f * (i + 1)
      a
    }
    val rows = (0 until 50).map { i =>
      val base = if (i.toLong == dup) original.toInt else i
      (i.toLong, vec(base, i), 0)
    }
    val dir = Files.createTempDirectory("graft_semdedup").toString
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    dir
  }

  private def checkLedger(query: String): Unit = {
    val dir = plantedFixture()
    val out = SparkEntry.queries(query)(spark, dir)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)),
        if (r.isNullAt(3)) None else Some(r.getLong(3)),
        if (r.isNullAt(4)) None else Some(r.getDouble(4)))))
      .toMap
    graft.ops.Caches.releaseAll()

    // ledger covers every vector exactly once
    assert(out.size == 50, s"expected a 50-row keep ledger, got ${out.size}")
    // the planted dup is dropped, attributed to the earlier original
    val (dKeep, dKeptBy, dNDup, dMaxCos) = out(dup)
    assert(dKeep == 0L && dKeptBy.contains(original) && dNDup.contains(1L),
      s"planted dup not dropped by the original: ${out(dup)}")
    assert(dMaxCos.exists(_ > 0.99), s"planted-pair cosine not ~1: $dMaxCos")
    // the original (the dup group's lowest id) survives unattributed
    assert(out(original) == ((1L, None, None, None)),
      s"original did not survive clean: ${out(original)}")
    // nothing else is dropped — all other pairwise cosines are ~1e-6
    val falseDrops = out.collect { case (id, (k, _, _, _)) if k == 0L && id != dup => id }
    assert(falseDrops.isEmpty, s"non-duplicate vectors dropped: $falseDrops")
  }

  test("a planted near-duplicate is dropped with first-claimant attribution; originals keep") {
    checkLedger("sim_semantic_dedup")
  }

  test("the hierarchical routing drops the same planted near-duplicate") {
    // the near-identical pair co-assigns through BOTH quantizer levels
    // (their centroid distances differ by ~1e-6), so the leaf-bounded
    // ledger must reach the same drop/keep/attribution verdicts
    checkLedger("sim_semantic_dedup_hier")
  }

  // The whitened routings dedup the axis-removed residuals of the k = 2
  // PCA fit. A numpy replay of that fit on this fixture (sample vec_id % 4,
  // power iteration from e0, 6 rounds per component, one deflation) puts
  // the planted pair's residual cosine at 0.9999 and every other pair's at
  // most 0.21 (ids 4 and 48), so the same verdicts must come out.
  test("the whitened flat routing drops the same planted near-duplicate") {
    checkLedger("sim_semantic_dedup_whitened")
  }

  test("the whitened hierarchical routing drops the same planted near-duplicate") {
    checkLedger("sim_semantic_dedup_whitened_hier")
  }
}
