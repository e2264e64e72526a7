package graft.ops

import java.nio.file.{Files, Path}

import org.scalatest.funsuite.AnyFunSuite

class FitsSpec extends AnyFunSuite {

  private def withDataset(body: Path => Unit): Unit = {
    val dir = Files.createTempDirectory("fits-spec")
    try body(dir)
    finally {
      Files.list(dir).forEach(f => Files.delete(f))
      Files.delete(dir)
    }
  }

  test("memo fits once per unchanged dataset and again after a table is rewritten") {
    withDataset { dir =>
      val table = dir.resolve("embeddings.parquet")
      Files.write(table, Array.fill[Byte](16)(1))
      Files.write(dir.resolve("documents.parquet"), Array.fill[Byte](8)(2))
      var fits = 0
      def fit(): Int = Fits.memo(dir.toString, "fits-spec") { fits += 1; fits }
      assert(fit() == 1)
      assert(fit() == 1 && fits == 1)
      // regenerated at the same path: a different size, so a new fingerprint
      Files.write(table, Array.fill[Byte](32)(3))
      assert(fit() == 2)
      assert(fit() == 2 && fits == 2)
    }
  }
}
