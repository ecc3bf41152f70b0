package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.classic.ExpressionUtils

import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{AbstractDataType, DataType, LongType}

/** The Morton kernel behind [[ZValueN]] and its Column-API bridge. */
object ZValue {
  /** n-dimensional Morton code: bit j of dimension i lands at position
    * j·n + i — each of the n dimensions contributes its low ⌊63/n⌋ bits
    * (at n = 2: a's low 31 bits at even positions, b's at odd, which the
    * specs pin against a naive bit loop).
    * A loop, not a mask ladder: n is data-independent and tiny, and the
    * JIT unrolls it — still one straight-line kernel per row. */
  def interleaveN(vs: Array[Long]): Long = {
    val n = vs.length
    val bitsPer = 63 / n
    var out = 0L
    var i = 0
    while (i < n) {
      val v = vs(i) & ((1L << bitsPer) - 1L)
      var j = 0
      while (j < bitsPer) {
        out |= ((v >> j) & 1L) << (j * n + i)
        j += 1
      }
      i += 1
    }
    out
  }

  /** Column-API bridge. */
  def zvalueN(cols: Seq[Column]): Column =
    ExpressionUtils.column(ZValueN(cols.map(ExpressionUtils.expression)))
}

/** Native Catalyst Morton (Z-order) interleave of n ≥ 2 non-negative
  * LONG keys — the multi-dimensional clustering key behind n-D data
  * skipping (Delta's `OPTIMIZE … ZORDER BY (c1, …, cn)` shape): sorting
  * rows by the z-value makes every key-range-contiguous file cover a
  * small BOX in (c1, …, cn) space, so the per-file min/max statistics of
  * EVERY column become selective for box predicates — where one-column
  * clustering leaves the other columns' stats spanning the whole domain
  * (no file ever skips). Negative inputs fold to their low bits; callers
  * cluster on non-negative surrogate keys (clustering needs order, not
  * values). Children evaluate inline and the interleave is one static
  * call, so the expression stays inside whole-stage codegen. */
case class ZValueN(children: Seq[Expression])
    extends Expression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq.fill(children.size)(LongType)

  override def dataType: DataType = LongType

  override def nullable: Boolean = children.exists(_.nullable)

  override def prettyName: String = "graft_zvalue_n"

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val arr = new Array[Long](children.size)
    var i = 0
    while (i < arr.length) {
      val v = children(i).eval(input)
      if (v == null) return null
      arr(i) = v.asInstanceOf[Long]
      i += 1
    }
    ZValue.interleaveN(arr)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val gens = children.map(_.genCode(ctx))
    val arr = ctx.freshName("zvals")
    val anyNull = gens.map(_.isNull.toString).mkString(" || ")
    val fills = gens.zipWithIndex
      .map { case (g, i) => s"$arr[$i] = ${g.value};" }.mkString("\n")
    val childCode = gens.map(_.code).reduce(_ + _)
    ev.copy(code = code"""
      $childCode
      boolean ${ev.isNull} = $anyNull;
      long ${ev.value} = -1L;
      if (!${ev.isNull}) {
        long[] $arr = new long[${children.size}];
        $fills
        ${ev.value} = org.apache.spark.sql.graft.ZValue.interleaveN($arr);
      }""")
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(children = newChildren)
}
