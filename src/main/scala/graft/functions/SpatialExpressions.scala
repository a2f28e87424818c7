package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types._

/** Hilbert-curve index as a native Catalyst expression — the
  * locality-clustering sibling of [[graft.sources.Bucketing.zValue]]
  * (Z-order/Morton). Hilbert preserves locality strictly better than
  * Morton (no diagonal jumps between quadrants), so per-file min/max
  * zones stay tighter on BOTH dimensions for the same file count —
  * the layout modern lakehouse OPTIMIZE implementations cluster by.
  *
  * The per-level rotate/flip state makes Hilbert inexpressible as a
  * flat mask/shift Column chain (Morton's trick): a nested-`when`
  * spelling re-substitutes the whole (x, y) subtree four times per
  * level — 4^bits expression blowup under CollapseProject, the exact
  * interpreted-HOF trap the optimization log documents. A native
  * expression with `doGenCode` keeps it one primitive loop inside
  * whole-stage codegen.
  */
case class HilbertIndex(left: Expression, right: Expression, bits: Int)
    extends BinaryExpression {

  override def dataType: DataType = LongType
  override def nullable: Boolean = true

  private def integral(t: DataType): Boolean = t match {
    case LongType | IntegerType | ShortType | ByteType => true
    case _                                             => false
  }

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (integral(left.dataType) && integral(right.dataType) &&
        bits >= 1 && bits <= 30)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"graft_hilbert requires two integral columns and bits in [1, 30], " +
          s"got ${left.dataType.simpleString} / ${right.dataType.simpleString} / bits=$bits")

  private def toLong(v: Any): Long = v match {
    case l: Long  => l
    case i: Int   => i.toLong
    case s: Short => s.toLong
    case b: Byte  => b.toLong
  }

  /** xy2d walk, high square to low: flip-then-swap rotation per level.
    * Inputs are masked to [0, 2^bits) (two's-complement &, identical
    * in the SQL oracle spelling). */
  override def nullSafeEval(l: Any, r: Any): Any = {
    val side = 1L << bits
    var x = toLong(l) & (side - 1)
    var y = toLong(r) & (side - 1)
    var d = 0L
    var s = side >>> 1
    while (s > 0) {
      val rx = if ((x & s) > 0) 1L else 0L
      val ry = if ((y & s) > 0) 1L else 0L
      d += s * s * ((3L * rx) ^ ry)
      if (ry == 0) {
        val fx = if (rx == 1) s - 1 - x else x
        val fy = if (rx == 1) s - 1 - y else y
        x = fy; y = fx
      }
      s >>>= 1
    }
    d
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val x = ctx.freshName("x"); val y = ctx.freshName("y")
      val s = ctx.freshName("s"); val rx = ctx.freshName("rx")
      val ry = ctx.freshName("ry"); val fx = ctx.freshName("fx")
      val fy = ctx.freshName("fy"); val d = ctx.freshName("d")
      val side = 1L << bits
      s"""
         |long $x = ((long) $a) & ${side - 1}L;
         |long $y = ((long) $b) & ${side - 1}L;
         |long $d = 0L;
         |for (long $s = ${side >>> 1}L; $s > 0; $s >>>= 1) {
         |  long $rx = ($x & $s) > 0 ? 1L : 0L;
         |  long $ry = ($y & $s) > 0 ? 1L : 0L;
         |  $d += $s * $s * ((3L * $rx) ^ $ry);
         |  if ($ry == 0) {
         |    long $fx = $rx == 1 ? $s - 1 - $x : $x;
         |    long $fy = $rx == 1 ? $s - 1 - $y : $y;
         |    $x = $fy; $y = $fx;
         |  }
         |}
         |${ev.value} = $d;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): HilbertIndex =
    copy(left = l, right = r)
  override def prettyName: String = "graft_hilbert"
}

object SpatialExpressions {
  /** Hilbert d-index of (x, y) on a 2^bits × 2^bits grid; inputs are
    * masked to range, NULL-safe, output in [0, 4^bits). */
  def hilbertIndex(x: Column, y: Column, bits: Int): Column =
    Registry.call("graft_hilbert", x, y, lit(bits))
}
