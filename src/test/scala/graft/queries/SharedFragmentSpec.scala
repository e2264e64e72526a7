package graft.queries

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import scala.util.matching.Regex
import org.scalatest.funsuite.AnyFunSuite

/** A relation that several registered queries compute is written once:
  * each shared builder's or oracle fragment's defining line occurs exactly
  * once under `src/main`, in the file of the operator it mirrors. A query
  * that copies the line instead of calling the fragment fails here.
  */
class SharedFragmentSpec extends AnyFunSuite {
  private val sources: Seq[(String, String)] = {
    val root = Paths.get("src/main/scala")
    val walk = Files.walk(root)
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      .map((p: Path) => p.getFileName.toString -> new String(Files.readAllBytes(p), "UTF-8"))
    finally walk.close()
  }

  private def occurrences(line: String): Seq[String] =
    sources.flatMap { case (file, text) =>
      Seq.fill(Regex.quote(line).r.findAllMatchIn(text).size)(file)
    }

  // (defining line, the one file that holds it)
  private val fragments = Seq(
    "CAST(1.0 AS DOUBLE) + CAST(n - 1 AS DOUBLE)" -> "Stats.scala",
    "SELECT e.dst AS id, sum(p.r // dg.d) AS s" -> "Graph.scala",
    """expr("rank_scaled DIV deg")""" -> "Graph.scala",
    "CAST(sum(CAST(c.x * ct.s AS DECIMAL(38,9))) AS DOUBLE) AS dot" -> "IvfQuantizer.scala",
    "ORDER BY ts_us, event_id) AS rna," -> "EventsQ.scala",
    "ORDER BY ts_us DESC, event_id DESC) AS rnd" -> "EventsQ.scala",
    """col("a.sk") === col("b.sk")""" -> "Dedup.scala",
    """countDistinct(col("__bid")).as("n_bench_docs")""" -> "Dedup.scala",
    "CAST(count(DISTINCT b.doc_id) AS BIGINT) AS n_bench_docs" -> "DedupQ.scala",
    "ln(CAST(v.c AS DOUBLE) / CAST(tot.t AS DOUBLE)) AS lp" -> "Text.scala",
    "(n * sxy - sx * sy) / (n * sxx - sx * sx) AS slope" -> "MlQ.scala",
    "floor(a.align_score * CAST(10000 AS DOUBLE))" -> "TextQ.scala",
    "OR ts_us - lag(ts_us) OVER w > $gapUs" -> "Segments.scala")

  test("the sources are found") {
    assert(sources.size > 50, s"read ${sources.size} files from src/main/scala")
  }

  for ((line, file) <- fragments)
    test(s"written once: $line") {
      assert(occurrences(line) == Seq(file))
    }
}
