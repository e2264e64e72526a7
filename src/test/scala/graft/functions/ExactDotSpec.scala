package graft.functions

import graft.SparkSpec
import graft.ops.Vectors
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import scala.util.Random

class ExactDotSpec extends SparkSpec {
  import spark.implicits._

  // Precision 30, NOT 38: decimal addition at precision 38 hits Spark's cap
  // and silently drops the scale (re-rounding every fold step); at 30 the
  // fold stays exact. Scale 9, NOT 12: Spark quantizes the double's
  // shortest decimal repr while DuckDB quantizes the exact binary value —
  // at scale 12 a ~1e-2 product whose repr terminates in "...5" exactly at
  // the quantization digit rounds differently (observed once in 380k
  // products at sf0.1). Scale 9 keeps the rounding position 4+ digits
  // inside the repr, where both engines see the same neighborhood.
  private val Acc = DecimalType(30, 9)

  /** The composed-builtin formulation `Vectors.dotExact` is proven against. */
  private def dotExactComposed(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => (x.cast("double") * y.cast("double")).cast(Acc)),
      lit(0).cast(Acc),
      (acc, p) => (acc + p).cast(Acc)).cast("double")

  test("native ExactDot is bit-identical to the composed decimal fold") {
    val rng = new Random(99)
    val rows = Seq.fill(500)((
      Array.fill(64)((rng.nextFloat() - 0.5f) / 2),
      Array.fill(64)((rng.nextFloat() - 0.5f) / 2)))
    val df = rows.toDF("a", "b")
    val out = df.select(
      Vectors.dotExact(col("a"), col("b")).as("native"),
      dotExactComposed(col("a"), col("b")).as("composed"))
      .as[(Double, Double)].collect()
    out.foreach { case (n, c) =>
      assert(java.lang.Double.doubleToRawLongBits(n) == java.lang.Double.doubleToRawLongBits(c))
    }
  }

  test("quantize fast path agrees with the BigDecimal slow path at every magnitude") {
    // the fast path must only fire where its 1e-6 tie margin is sound
    // (|scaled| < 4e9); probe random products across magnitudes spanning the
    // old (broken) and new guard, plus exact-boundary values
    val rng = new Random(7)
    def slow(p: Double, scale: Int): Long =
      java.math.BigDecimal.valueOf(p)
        .setScale(scale, java.math.RoundingMode.HALF_UP)
        .unscaledValue().longValueExact()
    val probes = Iterator.tabulate(200000) { _ =>
      val mag = math.pow(10, rng.nextInt(12) - 6) // 1e-6 .. 1e5
      (rng.nextDouble() - 0.5) * mag
    } ++ Iterator(4.0, 4.000000001, -3.9999999995, 0.5e-9, 1.5e-9, 2.5e-9)
    probes.foreach { p =>
      assert(ExactDot.quantize(p, 9) == slow(p, 9), s"p=$p")
    }
  }

  test("exact_dot is callable from SQL once registered (SparkSessionExtensions path)") {
    graft.GraftFunctions.register(spark)
    Seq((Array(1.0f, 2.0f), Array(3.0f, 4.0f))).toDF("a", "b").createOrReplaceTempView("v_dot")
    val r = spark.sql("SELECT exact_dot(a, b) AS d, exact_dot(a, b, 4) AS d4 FROM v_dot")
      .as[(Double, Double)].head()
    assert(r == ((11.0, 11.0)))
  }

  test("math_ln, shingle_keys, minhash_sig are callable from SQL once registered") {
    graft.GraftFunctions.register(spark)
    val r = spark.sql(
      "SELECT math_ln(2.0) AS l, " +
        "size(shingle_keys(array('a','b','c'), 2)) AS nsh, " +
        "size(minhash_sig(array('a b','b c'), 4)) AS nmh")
      .as[(Double, Int, Int)].head()
    assert(r._1 == math.log(2.0) && r._2 == 2 && r._3 == 4)
  }

  test("normalize_nfc: decomposed and composed forms canonicalize equal; ASCII is identity") {
    graft.GraftFunctions.register(spark)
    val composed = "caf\u00e9"           // \u00e9 as one code point
    val decomposed = "cafe\u0301"       // e + combining acute
    val df = Seq((1L, composed), (2L, decomposed), (3L, "plain ascii"), (4L, null))
      .toDF("id", "s")
    val out = df.select(col("id"), NormalizeNFC(col("s")).as("n"))
      .as[(Long, Option[String])].collect().toMap
    assert(out(1L) == out(2L))            // both collapse to the composed form
    assert(out(1L).contains(composed))
    assert(out(3L).contains("plain ascii")) // NFC is the identity on ASCII
    assert(out(4L).isEmpty)               // null passthrough
    // idempotence + SQL path
    val r = spark.sql(s"SELECT normalize_nfc(normalize_nfc('café')) AS n")
      .as[String].head()
    assert(r == composed)
  }

  test("null element or length mismatch yields NULL (zip_with semantics)") {
    val df = Seq(
      (Array(1.0f, 2.0f), Array(1.0f)), // length mismatch
      (Array(1.0f, 2.0f), Array(3.0f, 4.0f))).toDF("a", "b")
    val out = df.select(Vectors.dotExact(col("a"), col("b")).as("d"))
      .as[Option[Double]].collect().toSeq
    assert(out.head.isEmpty)
    assert(out(1).contains(11.0))
  }

  test("participates in whole-stage codegen (no interpreted fallback)") {
    // a local relation folds away without any codegen stage — go through a
    // real scan
    val dir = java.nio.file.Files.createTempDirectory("graft_dot").toString
    Seq((Array(1.0f), Array(2.0f))).toDF("a", "b").write.mode("overwrite").parquet(dir)
    val df = spark.read.parquet(dir)
    val q = df.select(Vectors.dotExact(col("a"), col("b")).as("d"))
    // simple-mode plans mark codegen stages with "*(n)"
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project"), s"no codegen stage in:\n$plan")
    assert(q.as[Double].head() == 2.0)
  }
}
