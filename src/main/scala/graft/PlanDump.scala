package graft

import org.apache.spark.sql.execution.FormattedMode

/** Dump `.explain("formatted")` for named registry queries to files —
  * the plan evidence an optimization round cites.
  *
  * Usage: runMain graft.PlanDump <sfDir> <outDir> <suffix> [q1,q2,...]
  * Writes `<outDir>/<query>_<suffix>.txt` per query (all queries when the
  * name list is omitted). Plans are BUILT, never executed — no data is
  * scanned beyond what eager fits collect at query-build time (the
  * documented eager-fit queries), so a dump is cheap at any scale factor.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: PlanDump <sfDir> <outDir> <suffix> [q1,q2,...]")
    val Array(sfDir, outDir, suffix) = args.take(3)
    val selected = SparkEntry.select(args.lift(3))
    val spark = Session.local()
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    selected.foreach { case (name, fn) =>
      // cold-memo plans: without the reset, a fit-consumer query dumped
      // after another fit-family query captures the warm-memo shape
      // (estimates → static SMJ) and the committed plan evidence becomes
      // dump-order-dependent — RegistryPlanLintSpec pins the cold shape,
      // so the dumps must match it
      graft.ops.Fits.reset()
      val txt = fn(spark, sfDir).queryExecution.explainString(FormattedMode)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(outDir, s"${name}_$suffix.txt"),
        txt.getBytes("UTF-8"))
      graft.ops.Caches.releaseAll()
      System.err.println(s"[plandump] wrote $name")
    }
    spark.stop()
  }
}
