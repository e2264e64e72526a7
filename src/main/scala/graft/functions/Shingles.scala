package graft.functions

import org.apache.spark.sql.{Column, GraftColumnBridge}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** All k-token shingle STRINGS of a token array in one native codegen
  * pass: element `i` is `concat_ws(' ', toks[i], …, toks[i+k−1])` for `i`
  * in `sequence(0, n − k)`.
  *
  * That is exactly the composed form `transform(sequence(0, size(toks) −
  * k), i -> concat_ws(' ', get(toks, i), …, get(toks, i + k − 1)))`,
  * including its edges:
  *   - `n < k` makes the sequence DESCEND (`n = 1, k = 2` → indices
  *     `[0, −1]` → `[t0, t0]`), so callers that want "no shingles" keep a
  *     `size(toks) >= k` guard;
  *   - out-of-range and NULL tokens are skipped, as `get` and `concat_ws`
  *     skip them;
  *   - a NULL array gives NULL; elements are never NULL.
  *
  * Why it exists: Spark does not eliminate common subexpressions inside
  * a higher-order lambda, so the composed form re-evaluated its token
  * array (a `split(trim(text))`) once per shingle, interpreted. This
  * expression reads the array once. [[ShingleKeys]] is the hashed
  * sibling for consumers that only need equality.
  */
case class Shingles(child: Expression, k: Int) extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) if k >= 1 => TypeCheckResult.TypeCheckSuccess
      case ArrayType(StringType, _) =>
        TypeCheckResult.TypeCheckFailure(s"shingles k must be >= 1, got $k")
      case other =>
        TypeCheckResult.TypeCheckFailure(
          s"shingles expects array<string>, got ${other.catalogString}")
    }

  override protected def nullSafeEval(a: Any): Any =
    Shingles.compute(a.asInstanceOf[ArrayData], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Shingles.compute($c, $k)")

  override protected def withNewChildInternal(newChild: Expression): Shingles =
    copy(child = newChild)
}

object Shingles {

  private val Space = UTF8String.fromString(" ")

  /** Shared by interpreted eval and generated code. */
  def compute(toks: ArrayData, k: Int): ArrayData = {
    val n = toks.numElements()
    val last = n - k
    val step = if (last >= 0) 1 else -1
    val out = new Array[Any](math.abs(last) + 1)
    val window = new Array[UTF8String](k)
    var i = 0
    var o = 0
    while (o < out.length) {
      var j = 0
      while (j < k) {
        val p = i + j
        window(j) = if (p < 0 || p >= n || toks.isNullAt(p)) null else toks.getUTF8String(p)
        j += 1
      }
      out(o) = UTF8String.concatWs(Space, window: _*)
      i += step
      o += 1
    }
    new GenericArrayData(out)
  }

  /** Column form over a token-array column. */
  def apply(toks: Column, k: Int): Column =
    GraftColumnBridge.column(Shingles(GraftColumnBridge.expression(toks), k))
}
