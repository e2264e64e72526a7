package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Embedding-vector math over ArrayType(FloatType) columns, array-local
  * (no explode in the Spark plan — one codegen'd expression per row).
  *
  * Sums run in scale-9 decimals: exact and associative, so results are
  * independent of fold order and bit-identical to the DuckDB oracle's
  * unnest-and-sum formulation. Each product float×float is exact in double
  * (24+24 ≤ 53 mantissa bits).
  */
object Vectors {

  /** Exact dot product of two float-array columns, as double — the native
    * codegen expression ([[graft.functions.ExactDot]]); bit-identical to the
    * zip_with/aggregate decimal fold it replaces (`ExactDotSpec` keeps that
    * fold as its reference and tests them equal), but one tight loop inside
    * whole-stage codegen instead of an interpreted per-element lambda.
    */
  def dotExact(a: Column, b: Column): Column =
    graft.functions.ExactDot(a, b)

  /** Exact squared L2 norm of a float-array column, as double. */
  def norm2Exact(a: Column): Column = dotExact(a, a)

  /** Cosine similarity from precomputed dot and squared norms. */
  def cosineFrom(dot: Column, n2a: Column, n2b: Column): Column =
    dot / nullif(sqrt(n2a) * sqrt(n2b), lit(0.0))

  /** Sign-bucket LSH key over the first `dims` components: axis-aligned
    * random-hyperplane hashing (the deterministic degenerate case). 2^dims
    * buckets; near-duplicate vectors agree on all leading signs with high
    * probability.
    */
  def signBucket(a: Column, dims: Int): Column = signBucketSlice(a, 0, dims)

  /** Sign bucket over components offset+1 .. offset+dims (a band's slice of
    * the full sign string).
    */
  def signBucketSlice(a: Column, offset: Int, dims: Int): Column =
    concat((1 to dims).map(i =>
      when(element_at(a, offset + i) >= 0f, lit("1")).otherwise(lit("0"))): _*)

  /** Sign-bit count scaled to the corpus: smallest `bits` with expected
    * bucket occupancy n/2^bits ≤ `occupancy`, clamped to [1, maxBits] —
    * ceil(log2(ceil(n/occupancy))) in pure integer arithmetic (bit length
    * of m−1), so the DuckDB oracle derives the identical value from
    * count(*) via [[sqlAdaptiveSignBits]]. Per-bucket self-join cost is
    * ~occ²/2 pairs × n/occ buckets = n·occ/2 — LINEAR in n for fixed
    * occupancy, instead of the n²/2^bits of a fixed bit count.
    */
  def adaptiveSignBits(n: Long, occupancy: Long, maxBits: Int = 16): Int = {
    val m = (n + occupancy - 1) / occupancy
    val b = if (m <= 1) 1 else 64 - java.lang.Long.numberOfLeadingZeros(m - 1)
    math.max(1, math.min(maxBits, b))
  }

  /** DuckDB scalar-subquery fragment mirroring [[adaptiveSignBits]] —
    * yields one row `(bits)`; use as a CTE body and CROSS JOIN it.
    */
  def sqlAdaptiveSignBits(table: String, occupancy: Long, maxBits: Int = 16): String =
    s"""SELECT greatest(1, least($maxBits,
          CASE WHEN m <= 1 THEN 1 ELSE length(bin(m - 1)) END)) AS bits
        FROM (SELECT (count(*) + ${occupancy - 1}) // $occupancy AS m FROM $table)"""

  /** Symmetric int8 quantization of a float vector — the storage format of
    * large-scale embedding stores (4× smaller, SIMD-friendly dot products).
    * q_i = round(127·x_i / amax), computed EXACTLY in integer arithmetic:
    * components become scale-9 fixed-point BIGINTs ([[int8Xq]]: xq = x·10⁹
    * via the proven decimal cast, computed ONCE — the decimal cast is the
    * expensive interpreted step, downstream amax/q read the array), amax =
    * max |xq| ([[int8Amax]]), and the rounded quotient is (2n + a) DIV (2a)
    * on non-negative operands (round-half-away-from-zero) — no float
    * division, so the DuckDB oracle ([[sqlXq9]]/[[sqlInt8Q]]) matches
    * bit-for-bit. |q| ≤ 127 by construction; a zero vector quantizes to
    * all zeros. Both dialects render from ONE shared fragment builder —
    * the rounding rule is the bit-exactness linchpin and must never be
    * hand-synced across copies.
    */
  def int8Xq(vecCol: String): Column =
    expr(s"transform($vecCol, x -> ${xq9Frag("x")})")

  def int8Amax(xqCol: String): Column =
    expr(s"array_max(transform($xqCol, v -> abs(v)))")

  def int8Q(xqCol: String, amaxCol: String): Column =
    expr(s"transform($xqCol, v -> ${int8QFrag("v", amaxCol, "DIV", "INT")})")

  /** Scalar form of [[int8Q]] for exploded (id, dim, xq) rows — pure
    * codegen integer arithmetic, the shape to use under a generator (array
    * lambdas referenced by a post-explode projection re-evaluate per output
    * row; scalars don't).
    */
  def int8QScalar(xqCol: String, amaxCol: String): Column =
    expr(int8QFrag(xqCol, amaxCol, "DIV", "INT"))

  /** DuckDB fragments mirroring [[int8Xq]]/[[int8Q]]: the fixed-point
    * component and per-element q8 for an unnested (vec_id, dim, x) view.
    */
  def sqlXq9(x: String): String = xq9Frag(x)

  def sqlInt8Q(xq: String, amax: String): String =
    int8QFrag(xq, amax, "//", "INTEGER")

  /** Scale-9 fixed-point BIGINT of a float scalar — valid in BOTH dialects.
    * TRUNCATED (sign·⌊|x|·10⁹⌋ of the bit-identical IEEE product), not the
    * decimal cast: a raw float is dyadic, and one whose decimal expansion
    * ends exactly at digit 10 is a TRUE scale-9 tie where Java HALF_UP and
    * DuckDB half-to-even rounding diverge by one ulp (observed:
    * 0.1494140625 at sf0.1 — the q8 output only survived because ÷2·amax
    * collapsed it). Truncation has no tie to break. Spark `floor(DOUBLE)`
    * returns BIGINT and DuckDB's returns DOUBLE — the outer CAST unifies.
    */
  private def xq9Frag(x: String): String =
    s"""CAST(CASE WHEN CAST($x AS DOUBLE) >= 0
         THEN floor(CAST($x AS DOUBLE) * 1000000000)
         ELSE -floor(-CAST($x AS DOUBLE) * 1000000000) END AS BIGINT)"""

  /** The shared rounded-quotient CASE; `div` is the truncating integer
    * division operator (`DIV` Spark, `//` DuckDB), `intTy` the int cast
    * target — numerators are kept non-negative so truncation == floor in
    * both engines.
    */
  private def int8QFrag(v: String, amax: String, div: String, intTy: String): String =
    s"""CAST(CASE WHEN $amax = 0 THEN 0
        WHEN $v >= 0 THEN (2 * 127 * ($v) + $amax) $div (2 * $amax)
        ELSE -((2 * 127 * -($v) + $amax) $div (2 * $amax))
      END AS $intTy)"""


  /** DuckDB fragments mirroring the above for oracle SQL. `e` is a list
    * column reference; dims are 1-based on both sides.
    */
  def sqlDotExact(ae: String, be: String, idx: String): String =
    s"CAST(sum(CAST(CAST($ae[$idx] AS DOUBLE) * CAST($be[$idx] AS DOUBLE) AS DECIMAL(38,9))) AS DOUBLE)"

  def sqlSignBucket(e: String, dims: Int): String =
    (1 to dims).map(i => s"(CASE WHEN $e[$i] >= 0 THEN '1' ELSE '0' END)").mkString(" || ")

  /** Random-projection dimensionality reduction (Achlioptas ±1 flavor):
    * out_j = Σ_i s(i,j)·x_i / √outDims, with the sign matrix derived from
    * md5 parity — s(i,j) = +1 iff the first hex digit of md5("j_i") is
    * even — so BOTH engines regenerate the identical matrix from nothing
    * (no RNG, no shipped artifact; the projection is reproducible across
    * runs, engines, and cluster layouts). The JL lemma gives ~ε-isometry
    * at outDims = O(log n / ε²); √outDims normalization keeps expected
    * norms comparable to the input.
    *
    * Scale shape: the sign matrix is outDims·inDims rows — broadcast; the
    * corpus explodes to (id, i, x), joins the broadcast signs, and one
    * partial-agged integer sum per (id, j) accumulates scale-9 fixed-point
    * components (order-independent → partition-count-independent). Output
    * is LONG form (id, out_dim, value) — the shape downstream aggs want;
    * pivot to arrays only at the edge. For a shuffle-free variant at
    * extreme scale, fold the signs into a codegen expression
    * ([[graft.functions.ExactDot]] pattern); the relational form is
    * preferred while the agg is not the bottleneck.
    *
    * Fixed point by TRUNCATION (sign·⌊|x|·10⁹⌋), NOT the decimal cast: a
    * raw float is dyadic, and one whose decimal expansion terminates
    * exactly at digit 10 is a TRUE rounding tie at scale 9 — Java HALF_UP
    * rounds away from zero, DuckDB half-to-even, and the engines diverge
    * (observed: 0.1494140625 = 613/4096 at sf0.1). Truncating the
    * bit-identical IEEE product x·10⁹ has no tie to break.
    */
  def randomProject(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      inDims: Int,
      outDims: Int): DataFrame = {
    require(inDims > 0 && outDims > 0, "dims must be positive")
    val spark = df.sparkSession
    // sign matrix (j, i, s) — generated relationally so the plan is free of
    // driver-computed literals; md5 parity matches the oracle's
    val signs = spark.range(outDims.toLong)
      .select(col("id").as("j"))
      .crossJoin(spark.range(1, inDims + 1L).select(col("id").as("i")))
      .withColumn(
        "s",
        lit(1L) - lit(2L) * (conv(
          substring(md5(concat(col("j").cast("string"), lit("_"), col("i").cast("string"))), 1, 1), 16, 10)
          .cast("long") % 2L))
    val x = col("x").cast("double")
    val xq = when(x >= 0, floor(x * lit(1e9))).otherwise(-floor(-x * lit(1e9)))
    val ex = df.select(
      col(idCol),
      posexplode(col(vecCol)).as(Seq("i0", "x")))
      .select(col(idCol), (col("i0") + 1).cast("long").as("i"), xq.cast("long").as("xq"))
    ex.join(broadcast(signs), "i")
      .groupBy(col(idCol), col("j").as("out_dim"))
      .agg((sum(col("s") * col("xq")).cast("double") / lit(1e9) /
        sqrt(lit(outDims.toDouble))).as("value"))
  }

  /** Oracle twin of [[randomProject]]: CTE body over `embeddings(vec_id,
    * embedding)` producing (vec_id, out_dim, value).
    */
  def sqlRandomProject(inDims: Int, outDims: Int): String = {
    val hexDigit = "(instr('0123456789abcdef', substr(md5(CAST(j.j AS VARCHAR) || '_' || CAST(i.i AS VARCHAR)), 1, 1)) - 1)"
    s"""sgn AS (SELECT j.j, i.i, 1 - 2 * ($hexDigit % 2) AS s
                FROM unnest(generate_series(0, ${outDims - 1})) AS j(j),
                     unnest(generate_series(1, $inDims)) AS i(i)),
        ex AS (SELECT vec_id, i.i AS i,
                 CAST(CASE WHEN CAST(embedding[i.i] AS DOUBLE) >= 0
                        THEN floor(CAST(embedding[i.i] AS DOUBLE) * CAST(1000000000 AS DOUBLE))
                        ELSE -floor(-CAST(embedding[i.i] AS DOUBLE) * CAST(1000000000 AS DOUBLE))
                      END AS BIGINT) AS xq
               FROM embeddings, unnest(generate_series(1, $inDims)) AS i(i)),
        rp AS (SELECT e.vec_id, CAST(g.j AS BIGINT) AS out_dim,
                 CAST(CAST(sum(g.s * e.xq) AS BIGINT) AS DOUBLE)
                   / CAST(1000000000 AS DOUBLE) / sqrt(CAST($outDims AS DOUBLE)) AS value
               FROM ex e JOIN sgn g ON g.i = e.i
               GROUP BY 1, 2)"""
  }
}
