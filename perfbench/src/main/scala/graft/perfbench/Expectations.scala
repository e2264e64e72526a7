package graft.perfbench

import java.nio.file.{Files, Paths}

/** Regenerates `expected/registry.tsv`, the stored answers of the registry
  * workload: `Expectations <tablesDir> <registry.tsv> [verifyDumpDir]`.
  *
  * Each query the file lists is run once over the tables and digested with
  * [[RegistryRun.digest]], and the file is rewritten; queries without an
  * oracle keep only their row count. To add a query to the workload, add a
  * line with its module and name and run this.
  *
  * With a `graft.Verify` dump of the same tables (checked against DuckDB by
  * `tools/compare.py`), each dumped result is digested too and must agree,
  * which ties the stored hashes to the oracle. Per-query seconds go to
  * stderr.
  */
object Expectations {
  def main(args: Array[String]): Unit = {
    val Array(tables, out) = args.take(2)
    val listed = scala.io.Source.fromFile(out).getLines().filterNot(_.startsWith("#"))
      .map(_.split("\t")(1)).toSet
    val dump = args.lift(2)
    val spark = Main.session(Files.createTempDirectory("perfbench-expect").toString)
    Main.warmUp(spark)
    val oracle = graft.SparkEntry.oracleSql.keySet
    val lines = RegistryRun.Modules.flatMap { case (m, defs) =>
      defs.map(_.name).filter(listed.contains).sorted.map { q =>
        val t0 = System.nanoTime()
        val (rows, hash) = RegistryRun.digest(RegistryRun.Queries(q)(spark, tables))
        System.err.println(f"[expect] $m%-12s $q%-32s ${(System.nanoTime() - t0) / 1e9}%.3f s")
        graft.ops.Caches.releaseAll()
        dump.foreach { d =>
          val again = RegistryRun.digest(spark.read.parquet(s"$d/$q"))
          require(again == ((rows, hash)), s"$q: live digest ${(rows, hash)} != Verify dump $again")
        }
        s"$m\t$q\t$rows\t${if (oracle.contains(q)) hash.toString else "-"}"
      }
    }
    Files.writeString(Paths.get(out),
      "# module\tquery\trows\torder-free hash (- = no oracle: rows only)\n" + lines.mkString("\n") + "\n")
    spark.stop()
  }
}
