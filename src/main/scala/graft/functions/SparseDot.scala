package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native sparse integer dot product over two SORTED sparse vectors,
  * each an `array<struct<key: bigint, sub: int, count: bigint>>`
  * ordered ascending by (key, sub) — one linear merge per row pair.
  *
  * Purpose (guide §1.2 "fix the distributed algorithm"): q275's
  * bag-cosine numerator used to compute Σ c_a·c_b per candidate pair
  * by EXPLODING every pair into one row per word of the left doc
  * (|pairs|·|words/doc| rows ≈ 10⁸ at sf0.1), equi-joining the right
  * side, and hash-aggregating back to pair grain — the join/agg
  * machinery, not the arithmetic, dominated the query. With per-doc
  * word-count vectors pre-sorted by an injective word id, the same sum
  * is one cache-friendly two-pointer merge per pair: no exploded rows,
  * no 10⁸-key hash aggregation, identical integer arithmetic (the
  * products are the same multiset, and long addition is commutative
  * and associative — overflow is checked exactly like ANSI sum).
  *
  * The (key, sub) pair is the injective word id from q275's dict
  * (xxhash64 plus a rank among same-hash words), so merging on it is
  * merging on the word itself.
  */
case class SparseDot(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "sparse_dot"

  private def isSparseVec(t: DataType): Boolean = t match {
    case ArrayType(StructType(Array(a, b, c)), _) =>
      a.dataType == LongType && b.dataType == IntegerType &&
        c.dataType == LongType
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (isSparseVec(left.dataType) && isSparseVec(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "sparse_dot requires two array<struct<bigint, int, bigint>> " +
        s"arguments, got ${left.dataType.catalogString}, " +
        s"${right.dataType.catalogString}")

  /** Whether a vector of this type can hold a null element or field. */
  private def mayHoldNull(t: DataType): Boolean = t match {
    case ArrayType(st: StructType, containsNull) =>
      containsNull || st.fields.exists(_.nullable)
    case _ => true
  }

  @transient private lazy val checkNulls: Boolean =
    mayHoldNull(left.dataType) || mayHoldNull(right.dataType)

  override def nullable: Boolean = super.nullable || checkNulls

  /** A null element or a null field anywhere in either vector makes the
    * product SQL NULL (the int_dot rule), instead of an NPE or a null
    * read as 0 through getLong/getInt. */
  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    if (checkNulls && (SparseDot.hasNull(x) || SparseDot.hasNull(y))) null
    else SparseDot.merge(x, y)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val merge = s"${ev.value} = graft.functions.SparseDot.merge($a, $b);"
      if (!checkNulls) merge
      else
        s"""if (graft.functions.SparseDot.hasNull($a) ||
           |    graft.functions.SparseDot.hasNull($b)) {
           |  ${ev.isNull} = true;
           |} else {
           |  $merge
           |}""".stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): SparseDot =
    copy(left = newLeft, right = newRight)
}

object SparseDot {
  /** A null element, or an element with a null field. */
  def hasNull(v: ArrayData): Boolean = {
    var i = 0
    val n = v.numElements()
    while (i < n) {
      if (v.isNullAt(i)) return true
      val r = v.getStruct(i, 3)
      if (r.isNullAt(0) || r.isNullAt(1) || r.isNullAt(2)) return true
      i += 1
    }
    false
  }

  /** Two-pointer merge; static so the interpreted and generated paths
    * share one implementation (the loop is the work). Overflow throws
    * (exact-arithmetic parity with ANSI-mode sum). */
  def merge(a: ArrayData, b: ArrayData): Long = {
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0
    var j = 0
    var s = 0L
    while (i < na && j < nb) {
      val ra = a.getStruct(i, 3)
      val rb = b.getStruct(j, 3)
      val ha = ra.getLong(0)
      val hb = rb.getLong(0)
      if (ha < hb) i += 1
      else if (ha > hb) j += 1
      else {
        val sa = ra.getInt(1)
        val sb = rb.getInt(1)
        if (sa < sb) i += 1
        else if (sa > sb) j += 1
        else {
          s = Math.addExact(s,
            Math.multiplyExact(ra.getLong(2), rb.getLong(2)))
          i += 1
          j += 1
        }
      }
    }
    s
  }
}
