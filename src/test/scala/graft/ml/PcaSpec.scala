package graft.ml

import graft.SparkSpec
import org.apache.spark.sql.functions._

class PcaSpec extends SparkSpec {
  import spark.implicits._

  // synthetic corpus with a PLANTED dominant axis u = (1, 1, 0, ..., 0)/√2:
  // vec i = a_i·u + small off-axis noise, a_i spread in [-8, 8]
  private val dims = 8
  private def planted(n: Int) = (0 until n).map { i =>
    val a = (i % 17).toDouble - 8.0
    val arr = Array.tabulate(dims) { d =>
      val axis = if (d < 2) a / math.sqrt(2.0) else 0.0
      axis + 0.01 * (((i * 31 + d * 7) % 11) - 5)
    }
    (i.toLong, arr.map(_.toFloat))
  }

  // TWO planted orthogonal axes with separated strengths: u1 = (1,1,0,…)/√2
  // (coefficient spread ±8) and u2 = (0,0,1,−1,0,…)/√2 (spread ±4). n is a
  // multiple of 17·9 = 153 so the two coefficient cycles decorrelate
  // exactly and the principal axes are the planted ones, not a rotation.
  private def planted2(n: Int) = (0 until n).map { i =>
    val a = (i % 17).toDouble - 8.0
    val b = ((i * 5) % 9).toDouble - 4.0
    val arr = Array.tabulate(dims) { d =>
      val ax1 = if (d < 2) a / math.sqrt(2.0) else 0.0
      val ax2 = d match {
        case 2 => b / math.sqrt(2.0)
        case 3 => -b / math.sqrt(2.0)
        case _ => 0.0
      }
      ax1 + ax2 + 0.001 * (((i * 31 + d * 7) % 11) - 5)
    }
    (i.toLong, arr.map(_.toFloat))
  }

  private def cosTo(v: Array[Double], u: Array[Double]): Double =
    v.zip(u).map { case (a, b) => a * b }.sum /
      (math.sqrt(v.map(x => x * x).sum) * math.sqrt(u.map(x => x * x).sum))

  test("powerIteration recovers a planted dominant axis") {
    val df = planted(200).toDF("vec_id", "embedding")
    val v = Pca.fitK(df, "vec_id", "embedding", dims, iters = 8, sampleEvery = 1, k = 1).vs.head
    val u = Array.tabulate(dims)(d => if (d < 2) 1.0 / math.sqrt(2.0) else 0.0)
    val cos = v.zip(u).map { case (a, b) => a * b }.sum /
      math.sqrt(v.map(x => x * x).sum)
    assert(math.abs(cos) > 0.99, s"recovered direction off-axis: |cos| = ${math.abs(cos)}")
    // unit norm (trunc-9 algebra keeps it within quantization noise)
    assert(math.abs(v.map(x => x * x).sum - 1.0) < 1e-6)
    // sign canonicalization: first nonzero component positive
    assert(v(v.indexWhere(_ != 0.0)) > 0)
  }

  test("pc1Scores: on-axis extremes rank highest; scores track the axis coefficient") {
    val df = planted(200).toDF("vec_id", "embedding")
    val fk = Pca.fitK(df, "vec_id", "embedding", dims, iters = 8, sampleEvery = 1, k = 1)
    val scores = Pca.pc1ScoresFrom(fk, df, "vec_id", "embedding", dims)
      .as[(Long, Double)].collect().toMap
    assert(scores.size == 200)
    // the centered axis coefficient of vec i is ((i % 17) - 8) - mean; the
    // most extreme |coefficient| rows must carry the most extreme |score|
    val coef = (0 until 200).map(i => i.toLong -> ((i % 17).toDouble - 8.0)).toMap
    val meanC = coef.values.sum / 200.0
    val byScore = scores.toSeq.sortBy { case (_, s) => -math.abs(s) }.map(_._1).take(10)
    val byCoef = coef.toSeq.sortBy { case (_, c) => -math.abs(c - meanC) }.map(_._2)
    val topCoefAbs = math.abs(byCoef.head - meanC)
    byScore.foreach { id =>
      assert(math.abs(coef(id) - meanC) > topCoefAbs - 1.5,
        s"vec $id in score top-10 but its axis coefficient is not extreme")
    }
    // signed scores correlate with the signed coefficient (not just |.|)
    val corrNum = scores.toSeq.map { case (id, s) => s * (coef(id) - meanC) }.sum
    assert(corrNum.abs > 0, "scores carry no axis signal")
  }

  test("fitK: deflation recovers both planted axes, near-orthogonal, λ1 > λ2 > 0") {
    val df = planted2(306).toDF("vec_id", "embedding")
    val fk = Pca.fitK(df, "vec_id", "embedding", dims, iters = 8, sampleEvery = 1, k = 2)
    val u1 = Array.tabulate(dims)(d => if (d < 2) 1.0 / math.sqrt(2.0) else 0.0)
    val u2 = Array.tabulate(dims)(d =>
      if (d == 2) 1.0 / math.sqrt(2.0) else if (d == 3) -1.0 / math.sqrt(2.0) else 0.0)
    assert(math.abs(cosTo(fk.vs(0), u1)) > 0.99,
      s"v1 off the strong axis: ${math.abs(cosTo(fk.vs(0), u1))}")
    assert(math.abs(cosTo(fk.vs(1), u2)) > 0.99,
      s"v2 off the weak axis: ${math.abs(cosTo(fk.vs(1), u2))}")
    // deflation orthogonality (trunc-9 noise bounded well under 1e-3)
    val dot12 = fk.vs(0).zip(fk.vs(1)).map { case (a, b) => a * b }.sum
    assert(math.abs(dot12) < 1e-3, s"|v1·v2| = ${math.abs(dot12)}")
    assert(fk.lambdas(0) > fk.lambdas(1) && fk.lambdas(1) > 0,
      s"variance order broken: ${fk.lambdas}")
    // component 1 of the k=2 chain IS the k=1 fit (the memoized-FitK
    // contract the registered PCA queries rely on)
    val f1 = Pca.fitK(df, "vec_id", "embedding", dims, iters = 8, sampleEvery = 1, k = 1)
    assert(fk.vs(0).sameElements(f1.vs.head) && fk.mu.sameElements(f1.mu))
  }

  test("whitenScores: w_c = pc_c/√λ_c exactly; per-axis variances equalize") {
    val df = planted2(306).toDF("vec_id", "embedding")
    val fk = Pca.fitK(df, "vec_id", "embedding", dims, iters = 8, sampleEvery = 1, k = 2)
    val rows = Pca.whitenScores(fk, df, "vec_id", "embedding", dims)
      .as[(Long, Double, Double, Double, Double)].collect()
    assert(rows.length == 306)
    rows.foreach { case (_, pc1, pc2, w1, w2) =>
      assert(w1 == pc1 / math.sqrt(fk.lambdas(0)))
      assert(w2 == pc2 / math.sqrt(fk.lambdas(1)))
    }
    // whitening equalizes the RELATIVE per-axis spread (λ is sum-scale,
    // so absolute variances are 1/n — the ratio is the contract)
    def variance(xs: Seq[Double]) = {
      val m = xs.sum / xs.size
      xs.map(x => (x - m) * (x - m)).sum / xs.size
    }
    val (v1, v2) = (variance(rows.map(_._4).toSeq), variance(rows.map(_._5).toSeq))
    val ratio = v1 / v2
    assert(ratio > 0.9 && ratio < 1.1, s"whitened variance ratio off 1: $ratio")
  }

  test("powerIteration rejects a degenerate all-zero covariance loudly") {
    // an all-zero corpus: every covariance cell is 0, so the first power
    // round hits a zero iterate
    val df = (0 until 20).map(i => (i.toLong, Array.fill(dims)(0f))).toDF("vec_id", "embedding")
    intercept[IllegalArgumentException] {
      Pca.fitK(df, "vec_id", "embedding", dims, iters = 3, sampleEvery = 1, k = 1)
    }
  }

  test("fitK rejects rank-deficient input loudly instead of fabricating a component") {
    // EXACTLY rank-1: only u1, no noise — deflation zeroes the matrix and
    // component 2 must fail, not return garbage
    val df = (0 until 100).map { i =>
      val a = (i % 17).toDouble - 8.0
      (i.toLong, Array.tabulate(dims)(d => if (d < 2) a / math.sqrt(2.0) else 0.0)
        .map(_.toFloat))
    }.toDF("vec_id", "embedding")
    intercept[IllegalArgumentException] {
      Pca.fitK(df, "vec_id", "embedding", dims, iters = 6, sampleEvery = 1, k = 2)
    }
  }

  test("a drifted vector length fails the fit loudly (no silent zero-padding)") {
    val good = planted(20)
    val df = (good :+ (99L, Array.fill(dims - 1)(0.5f))).toDF("vec_id", "embedding")
    val e = intercept[Exception] {
      Pca.fitK(df, "vec_id", "embedding", dims, iters = 3, sampleEvery = 1, k = 1)
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("length != ")), s"unexpected failure: $e")
  }
}
