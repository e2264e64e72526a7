package graft.functions

import org.apache.spark.sql.{Column, GraftColumnBridge}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** All k-token shingle keys of a token array as 64-bit hashes, in one
  * native codegen pass — `out(i) = xxh64(tok_i ⧺ … ⧺ tok_{i+k−1})` (bytes
  * chained through the seed), length `n − k + 1`, empty when `n < k`.
  *
  * Why it exists: hashing the shingle STRINGS allocates each k-word
  * string just to throw it away. Measured on a 300k-doc corpus (9.5M
  * shingles) with the composed string form — `transform(sequence(...), i
  * -> concat_ws(" ", toks[i], …))`, whose native replacement is
  * [[Shingles]] — the string-building pass dominated the whole
  * contamination scan. This expression hashes the token bytes in place:
  * no concatenation. Unlike [[Shingles]] it is empty when `n < k`.
  *
  * The key is internal (inverted-index join/equality only): downstream
  * results depend on the EQUALITY relation, not key values, so the DuckDB
  * oracle keeps joining string shingles — same accepted 64-bit collision
  * contract as [[graft.ops.Dedup.jaccardPairs]]. Note tokens are hashed as
  * byte sequences chained via the seed, so ("ab","c") and ("a","bc")
  * collide by construction — harmless for fixed-k shingles of a
  * whitespace split, where token boundaries are positionally fixed.
  */
case class ShingleKeys(child: Expression, k: Int) extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) if k >= 1 =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"shingle_keys k must be >= 1, got $k")
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"shingle_keys expects array<string>, got ${other.catalogString}")
    }

  override protected def nullSafeEval(a: Any): Any =
    ShingleKeys.compute(a.asInstanceOf[ArrayData], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ShingleKeys.compute($c, $k)")

  override protected def withNewChildInternal(newChild: Expression): ShingleKeys =
    copy(child = newChild)
}

object ShingleKeys {

  /** Shared by interpreted eval and generated code. */
  def compute(toks: ArrayData, k: Int): ArrayData = {
    val n = toks.numElements()
    val m = n - k + 1
    if (m <= 0) return new GenericArrayData(Array.emptyLongArray)
    val out = new Array[Long](m)
    var i = 0
    while (i < m) {
      var h = 42L
      var j = 0
      while (j < k) {
        // null tokens hash as a fixed sentinel (split() never yields them,
        // but transform()/constructed arrays may — a raw getUTF8String
        // would NPE at runtime)
        if (toks.isNullAt(i + j)) h = XXH64.hashLong(-1L, h)
        else {
          val s = toks.getUTF8String(i + j)
          h = XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, h)
        }
        j += 1
      }
      out(i) = h
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Column form over a token-array column. */
  def apply(toks: Column, k: Int): Column =
    GraftColumnBridge.column(ShingleKeys(GraftColumnBridge.expression(toks), k))
}
