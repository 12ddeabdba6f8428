package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.aggregate.{ImperativeAggregate, TypedImperativeAggregate}
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType}

/** Bounding box of an `ARRAY<FLOAT>` column over a group: the per-dim
  * minimum of its `n` elements, then the per-dim maximum, as one
  * `ARRAY<FLOAT>` of 2·n elements (`lo ++ hi`). One aggregate for any `n`,
  * so the plan does not grow with the dimension.
  *
  * The result is null when any row of the group has a null vector, a
  * vector of another length, or a null or NaN element. A box over such
  * rows bounds nothing: Spark's `max` ranks NaN above every number, and a
  * null element gives a null distance.
  *
  * The buffer is `lo ++ hi ++ state`, where the last slot is `Empty`
  * before the first row, `Boxed` while every row so far is a whole
  * vector of numbers, and `NoBox` after any other row. */
case class VecBox(child: Expression, n: Int,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[Array[Float]] with UnaryLike[Expression] {
  import VecBox._

  override def dataType: DataType = ArrayType(FloatType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "vec_box"
  override def checkInputDataTypes(): TypeCheckResult =
    VecMetric.checkArrayOfFloat(child.dataType, "vector")

  override def createAggregationBuffer(): Array[Float] = {
    val b = new Array[Float](2 * n + 1)
    java.util.Arrays.fill(b, 0, n, Float.PositiveInfinity)
    java.util.Arrays.fill(b, n, 2 * n, Float.NegativeInfinity)
    b(2 * n) = Empty
    b
  }

  override def update(b: Array[Float], input: InternalRow): Array[Float] = {
    if (b(2 * n) == NoBox) return b
    val v = child.eval(input)
    if (v == null) { b(2 * n) = NoBox; return b }
    val arr = v.asInstanceOf[ArrayData]
    if (arr.numElements() != n) { b(2 * n) = NoBox; return b }
    var i = 0
    while (i < n) {
      if (arr.isNullAt(i)) { b(2 * n) = NoBox; return b }
      val x = arr.getFloat(i)
      if (x.isNaN) { b(2 * n) = NoBox; return b }
      if (x < b(i)) b(i) = x
      if (x > b(n + i)) b(n + i) = x
      i += 1
    }
    b(2 * n) = Boxed
    b
  }

  override def merge(b: Array[Float], other: Array[Float]): Array[Float] = {
    if (b(2 * n) == NoBox || other(2 * n) == Empty) return b
    if (other(2 * n) == NoBox || b(2 * n) == Empty) {
      System.arraycopy(other, 0, b, 0, b.length)
      return b
    }
    var i = 0
    while (i < n) {
      if (other(i) < b(i)) b(i) = other(i)
      if (other(n + i) > b(n + i)) b(n + i) = other(n + i)
      i += 1
    }
    b
  }

  override def eval(b: Array[Float]): Any =
    if (b(2 * n) != Boxed) null
    else UnsafeArrayData.fromPrimitiveArray(java.util.Arrays.copyOf(b, 2 * n))

  override def serialize(b: Array[Float]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(4 * b.length)
    bb.asFloatBuffer().put(b)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Float] = {
    val b = new Array[Float](bytes.length / 4)
    java.nio.ByteBuffer.wrap(bytes).asFloatBuffer().get(b)
    b
  }

  override def withNewMutableAggBufferOffset(offset: Int): ImperativeAggregate =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): ImperativeAggregate =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildInternal(newChild: Expression): VecBox =
    copy(child = newChild)
}

object VecBox {
  private val Empty = 0f
  private val Boxed = 1f
  private val NoBox = 2f

  import org.apache.spark.sql.graftbridge.ColumnBridge.{column => toCol, expression => toExpr}

  /** The box of the `n`-element vector column `v`, as an aggregate Column. */
  def of(v: Column, n: Int): Column = toCol(VecBox(toExpr(v), n).toAggregateExpression())
}
