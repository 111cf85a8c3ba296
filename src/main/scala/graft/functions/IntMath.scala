package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression,
  ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.types.{DataType, LongType}

/** Exact integer square root — floor(√x) computed so the result is
  * bit-exact for every non-negative int64, where `floor(sqrt(x))` on
  * doubles is NOT: a 64-bit integer above 2^52 is not exactly
  * representable, and even below that the correctly-rounded double
  * sqrt can land a hair above an integer and floor one too high near
  * perfect squares. The double sqrt is used only as a SEED (it is
  * within ±1 of the truth for any int64) and the exact answer is
  * pinned by two integer-division corrections — division instead of
  * r·r so no intermediate overflows. This is what lets distance
  * ranking stay in pure integers end-to-end (q295) instead of
  * re-entering float space for the final sqrt.
  *
  * The DuckDB oracle applies the same ±1 correction to its own
  * floor(sqrt) seed in SQL, so hash equality certifies the native
  * expression against an independent implementation.
  */
object IntMath {
  def isqrt(x: Long): Long = {
    require(x >= 0, s"isqrt of negative $x")
    if (x == 0L) return 0L
    var r = Math.sqrt(x.toDouble).toLong
    // seed can be one too high (double rounding above the true root)
    while (r > 0 && r > x / r) r -= 1
    // ... or one too low
    while (r + 1 <= x / (r + 1)) r += 1
    r
  }
}

/** `isqrt(x)` — exact floor square root of a non-negative BIGINT; narrower
  * integer arguments are cast up to BIGINT by the analyzer. */
case class IntSqrt(child: Expression) extends UnaryExpression
    with ImplicitCastInputTypes {
  override def inputTypes = Seq(LongType)
  override def dataType: DataType = LongType
  override def prettyName: String = "isqrt"

  override def nullSafeEval(x: Any): Any =
    IntMath.isqrt(x.asInstanceOf[Long])

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    defineCodeGen(ctx, ev, x => s"graft.functions.IntMath.isqrt($x)")

  override protected def withNewChildInternal(c: Expression): IntSqrt =
    copy(child = c)
}
