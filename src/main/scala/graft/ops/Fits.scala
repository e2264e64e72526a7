package graft.ops

/** Driver-side memo for COLLECTED fitted tables, keyed by (dataset dir,
  * dataset fingerprint, fit tag) — the model-reuse half of the engine's
  * fit/route split: a deterministic fit (fixed seeds, exact sums, total
  * tie-breaks) is a pure function of its dataset, so fitting it once per
  * JVM and serving every consumer changes NO output while removing the
  * fit's corpus scans from every query after the first (the
  * `SimilarityQ.pcaFitFor` / quantizer-memo pattern, generalized).
  *
  * Only for fits whose COLLECTED size is bounded by construction —
  * centroid tables (k·d), language profiles (|langs|·topK), dims² PCA
  * cells, B-bucket DSIR tables. Never vocab- or corpus-sized frames:
  * those stay distributed (broadcast-join the frame; see the
  * cache-agg-results rule).
  *
  * Deliberately SURVIVES `Caches.releaseAll()` — these are fitted models,
  * not cached frames. The fingerprint is the name, size and mtime of every
  * top-level entry of the dataset dir (each table is one `*.parquet`
  * file), so a dataset regenerated at the same path within one JVM is
  * fitted again instead of serving the old fit.
  * The lazy cell runs the fit OUTSIDE the map's bin lock: concurrent
  * first-callers of the same key serialize on each other (correct), while
  * different keys never share a lock even when they collide into a bin.
  */
object Fits {
  private final class Cell[A](thunk: () => A) { lazy val value: A = thunk() }
  private val cells =
    new java.util.concurrent.ConcurrentHashMap[(String, String, String), Cell[Any]]()

  def memo[A](dataset: String, tag: String)(fit: => A): A =
    cells.computeIfAbsent((dataset, fingerprint(dataset), tag), _ => new Cell[Any](() => fit))
      .value.asInstanceOf[A]

  /** Name, size and mtime of each top-level entry of `dataset`, by name;
    * empty when the path is not a local directory.
    */
  private def fingerprint(dataset: String): String =
    Option(new java.io.File(dataset).listFiles()).getOrElse(Array.empty[java.io.File])
      .sortBy(_.getName)
      .map(f => s"${f.getName}:${f.length}:${f.lastModified}")
      .mkString("|")

  /** TEST hook: clear every fit memo. The plan a consumer query builds
    * depends on memo WARMTH — a cold build runs the fit job, which
    * MATERIALIZES the consumer's persisted input frames, giving the
    * planner real (small) size stats and broadcast joins; a warm build
    * plans against unmaterialized caches (estimate stats → static SMJ,
    * which AQE re-plans at runtime). `RegistryPlanLintSpec` resets before
    * its sweep so the blessed signatures pin the deterministic cold-build
    * shape regardless of which suites ran earlier in the JVM.
    */
  private[graft] def reset(): Unit = cells.clear()
}
