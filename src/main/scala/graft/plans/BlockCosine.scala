package graft.plans

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Dense cosine kernel: one vector `a` scored against a whole block of
  * vectors in one primitive loop, emitting `(b, dot, nb)` for each
  * block member `b > a` whose cosine may reach the caller's threshold.
  *
  * Inputs: the row's id `a` (long), its widened vector `va`
  * (array<double>) and norm `na`; the block's element count per vector
  * `dim`, its member `ids`, one flat row-major `vals` array of widened
  * elements (member j at [j·dim, (j+1)·dim)) and the members' `norms`.
  *
  * Why one call per (row, block): a cross join plus [[DotProduct]]
  * pays the join's row plumbing per PAIR; here it is paid per block,
  * and the inner loop touches only primitives.
  *
  * Bit-exact contract with [[DotProduct]]: each element pair is
  * multiplied in double and accumulated LEFT-TO-RIGHT, so `dot` is the
  * very double `dot_product(va, vb)` yields; with norms computed as
  * `sqrt(dot_product(v, v))`, `dot / (na * nb)` is the baseline's
  * unrounded cosine bit for bit. A member is emitted unless that
  * cosine is below `minCos` — NaN and a zero denominator are emitted,
  * so the caller's own division and comparison decide them exactly as
  * they do on the baseline. A row whose length is not `dim` matches no
  * member (the baseline's length-mismatch null), and any null input
  * yields null (no rows after explode).
  */
case class BlockCosine(children: Seq[Expression], minCos: Double)
    extends Expression {

  require(children.length == 7, "a, va, na, dim, ids, vals, norms")

  override def dataType: DataType = BlockCosine.OutType
  override def nullable: Boolean = true
  override def prettyName: String = "block_cosine"

  override def eval(input: InternalRow): Any = {
    val in = children.map(_.eval(input))
    if (in.contains(null)) null
    else score(in(0).asInstanceOf[Long], in(1).asInstanceOf[ArrayData],
      in(2).asInstanceOf[Double], in(3).asInstanceOf[Int],
      in(4).asInstanceOf[ArrayData], in(5).asInstanceOf[ArrayData],
      in(6).asInstanceOf[ArrayData])
  }

  /** Generated code reads the inputs straight from the operator's
    * variables: an interpreted fallback would first copy every joined
    * row, block arrays included, into a fresh UnsafeRow. */
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val in = children.map(_.genCode(ctx))
    val self = ctx.addReferenceObj("blockCosine", this, classOf[BlockCosine].getName)
    ev.copy(code = code"""
      |${in.map(_.code).mkString("\n")}
      |boolean ${ev.isNull} = true;
      |${CodeGenerator.javaType(dataType)} ${ev.value} = null;
      |if (!(${in.map(_.isNull).mkString(" || ")})) {
      |  ${ev.value} = $self.score(${in.map(_.value).mkString(", ")});
      |  ${ev.isNull} = ${ev.value} == null;
      |}""".stripMargin)
  }

  /** The scoring loop; null when no member is emitted. */
  def score(a: Long, va: ArrayData, na: Double, dim: Int, ids: ArrayData,
            vals: ArrayData, norms: ArrayData): ArrayData = {
    if (va.numElements() != dim) return null
    val x = new Array[Double](dim)
    var i = 0
    while (i < dim) { x(i) = if (va.isNullAt(i)) 0.0 else va.getDouble(i); i += 1 }
    var out: ArrayBuffer[InternalRow] = null
    val m = ids.numElements()
    var j = 0
    var off = 0
    while (j < m) {
      val b = ids.getLong(j)
      if (b > a) {
        var acc = 0.0
        i = 0
        while (i < dim) { acc += x(i) * vals.getDouble(off + i); i += 1 }
        val nb = norms.getDouble(j)
        val den = na * nb
        if (den == 0.0 || !(acc / den < minCos)) {
          if (out == null) out = new ArrayBuffer[InternalRow]()
          out += InternalRow(b, acc, nb)
        }
      }
      j += 1
      off += dim
    }
    if (out == null) null else new GenericArrayData(out.toArray[Any])
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): BlockCosine =
    copy(children = newChildren)
}

object BlockCosine {
  // fields stay nullable, as the baseline's join columns are
  val OutType: DataType = ArrayType(StructType(Seq(
    StructField("b", LongType), StructField("dot", DoubleType),
    StructField("nb", DoubleType))), containsNull = false)

  /** Column-level API; `va` and `vals` must already be array<double>. */
  def apply(a: Column, va: Column, na: Column, dim: Column, ids: Column,
            vals: Column, norms: Column, minCos: Double): Column =
    GraftColumnBridge.column(new BlockCosine(
      Seq(a, va, na, dim, ids, vals, norms).map(GraftColumnBridge.expression),
      minCos))
}
