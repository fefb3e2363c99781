package graft.expr

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Levenberg-Marquardt normal-equation accumulator (SURVEY §2.9/§4, the
  * 100-TB form of the LM inner product): one aggregate that folds the
  * base residual (r_u, r_v) and the 6 finite-difference Jacobian columns
  * (j_iu, j_iv) into cost + J^T J (upper triangle) + J^T r — a single
  * 28-double buffer that partial-aggregates map-side, so one LM
  * iteration shuffles #partitions x 28 doubles no matter how many
  * observations the pose set holds.
  *
  * `normal_eq_agg(r_u, r_v, j0u, j0v, ..., j5u, j5v)` → array<double>[28]
  * laid out [cost, jtj(0,0), jtj(0,1)..jtj(0,5), jtj(1,1).., jtj(5,5),
  * jtr(0)..jtr(5)] (extrinsic_calibration.py's scipy least_squares
  * boundary). The fold itself lives in the companion object, which
  * Extrinsic.refine's typed pass shares, so the SQL surface and the
  * solver accumulate identically. Rows with any null input (masked
  * corners) are skipped whole, matching sum()'s null-skipping per row
  * since every term shares the same inputs.
  */
case class NormalEqAgg(children: Seq[Expression],
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[Array[Double]] {
  import NormalEqAgg._

  override def checkInputDataTypes(): TypeCheckResult =
    if (children.length != Inputs)
      TypeCheckResult.TypeCheckFailure(
        s"normal_eq_agg takes $Inputs arguments (r_u, r_v, " +
          s"then $P Jacobian (u,v) pairs), got ${children.length}")
    else if (children.exists(_.dataType != DoubleType))
      TypeCheckResult.TypeCheckFailure(
        "normal_eq_agg expects all-double inputs")
    else TypeCheckResult.TypeCheckSuccess

  override def nullable: Boolean = true
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  override def createAggregationBuffer(): Array[Double] = new Array[Double](N)

  // Evaluate the children through a generated projection, not
  // children(i).eval: CollapseProject inlines the caller's pre-projected
  // residual columns (each alias referenced exactly once) back into the
  // aggregate's children, and interpreted eval of those deep
  // projection/distortion trees per row is the interpreted-HOF disease
  // (x17/sim2) all over again. The codegen'd projection keeps the hot
  // math compiled wherever the optimizer puts it.
  @transient private lazy val proj = UnsafeProjection.create(children)

  override def update(buf: Array[Double], input: InternalRow): Array[Double] = {
    val r = proj(input)
    val v = new Array[Double](Inputs)
    var i = 0
    while (i < v.length) {
      if (r.isNullAt(i)) return buf // masked observation: skip the whole row
      v(i) = r.getDouble(i)
      i += 1
    }
    fold(buf, v)
    buf
  }

  override def merge(buf: Array[Double], other: Array[Double]): Array[Double] = {
    NormalEqAgg.merge(buf, other)
    buf
  }

  override def eval(buf: Array[Double]): Any =
    new GenericArrayData(buf.map(_.asInstanceOf[Any]))

  override def serialize(buf: Array[Double]): Array[Byte] = {
    val bos = new ByteArrayOutputStream(8 * N)
    val out = new DataOutputStream(bos)
    buf.foreach(out.writeDouble)
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): Array[Double] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    Array.fill(N)(in.readDouble())
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): NormalEqAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): NormalEqAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): NormalEqAgg =
    copy(children = newChildren)

  override def prettyName: String = "normal_eq_agg"
}

/** The accumulator's layout and fold, shared with the typed LM pass of
  * `graft.pipeline.Extrinsic.refine`, which folds the same 14 inputs per
  * row inside a task closure instead of through this aggregate.
  */
object NormalEqAgg {
  val P = 6 // parameters
  val Inputs = 2 * (P + 1) // r_u, r_v, then P Jacobian (u, v) pairs
  val N = 1 + P * (P + 1) / 2 + P // cost + upper-tri JtJ + Jtr

  /** Fold one observation's `Inputs` values into the N-double buffer. */
  def fold(buf: Array[Double], v: Array[Double]): Unit = {
    val ru = v(0); val rv = v(1)
    buf(0) += ru * ru + rv * rv
    var idx = 1
    var a = 0
    while (a < P) {
      val jau = v(2 + 2 * a); val jav = v(3 + 2 * a)
      var b = a
      while (b < P) {
        buf(idx) += jau * v(2 + 2 * b) + jav * v(3 + 2 * b)
        idx += 1
        b += 1
      }
      buf(1 + P * (P + 1) / 2 + a) += jau * ru + jav * rv
      a += 1
    }
  }

  /** Add a partial buffer into `buf`. */
  def merge(buf: Array[Double], other: Array[Double]): Unit = {
    var i = 0
    while (i < N) { buf(i) += other(i); i += 1 }
  }
}
