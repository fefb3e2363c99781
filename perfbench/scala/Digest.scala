package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.util.{ArrayData, MapData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Result digest of one query: row count, an order-insensitive multiset
  * hash, and an order hash (meaningful only when the query ends in a
  * total ORDER BY, which `ordered` says).
  *
  * Rows are hashed field by field from their typed values, so the digest
  * does not depend on the physical row format, the partitioning, or the
  * parquet layout of a result; it does depend on every output value and
  * type.
  */
final case class Digest(rows: Long, multiset: Long, order: Long,
    ordered: Boolean) {
  def hex(v: Long): String = f"$v%016x"

  /** Equal on everything the query defines: the order hash counts only
    * where the query orders its output.
    */
  def matches(o: Digest): Boolean =
    rows == o.rows && multiset == o.multiset && ordered == o.ordered &&
      (!ordered || order == o.order)
}

object Digest {
  private val Base = 0x100000001b3L // FNV-64 prime, odd: invertible mod 2^64

  def mix(z0: Long): Long = { // splitmix64 finalizer
    var z = z0
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  private def comb(h: Long, v: Long): Long = mix(h * 31 + v)

  private def bytes(b: Array[Byte]): Long = {
    var h = b.length.toLong
    var i = 0
    while (i < b.length) { h = h * 0x100000001b3L + (b(i) & 0xff); i += 1 }
    mix(h)
  }

  private def double(d: Double): Long =
    if (d.isNaN) 0x7ff8000000000000L
    else if (d == 0.0) 0L // -0.0 and 0.0 compare equal
    else java.lang.Double.doubleToLongBits(d)

  def value(v: Any, dt: DataType): Long =
    if (v == null) 0x9e3779b97f4a7c15L
    else dt match {
      case BooleanType => if (v.asInstanceOf[Boolean]) 1L else 2L
      case ByteType => v.asInstanceOf[Byte].toLong
      case ShortType => v.asInstanceOf[Short].toLong
      case IntegerType | DateType => v.asInstanceOf[Int].toLong
      case LongType | TimestampType | TimestampNTZType =>
        v.asInstanceOf[Long]
      case FloatType => double(v.asInstanceOf[Float].toDouble)
      case DoubleType => double(v.asInstanceOf[Double])
      case _: StringType => bytes(v.asInstanceOf[UTF8String].getBytes)
      case BinaryType => bytes(v.asInstanceOf[Array[Byte]])
      case d: DecimalType =>
        bytes(v.asInstanceOf[Decimal].toJavaBigDecimal.toPlainString
          .getBytes("UTF-8")) ^ d.scale
      case ArrayType(et, _) =>
        val a = v.asInstanceOf[ArrayData]
        var h = a.numElements().toLong
        var i = 0
        while (i < a.numElements()) {
          h = comb(h, value(if (a.isNullAt(i)) null else a.get(i, et), et))
          i += 1
        }
        h
      case st: StructType => row(v.asInstanceOf[InternalRow], st)
      case MapType(kt, vt, _) =>
        val m = v.asInstanceOf[MapData]
        comb(value(m.keyArray(), ArrayType(kt)),
          value(m.valueArray(), ArrayType(vt)))
      case other => bytes(String.valueOf(v).getBytes("UTF-8")) ^
        other.typeName.hashCode
    }

  def row(r: InternalRow, st: StructType): Long = {
    var h = st.length.toLong
    var i = 0
    while (i < st.length) {
      val dt = st(i).dataType
      h = comb(h, value(if (r.isNullAt(i)) null else r.get(i, dt), dt))
      i += 1
    }
    h
  }

  /** Base^n mod 2^64. */
  private def pow(n: Long): Long = {
    var r = 1L; var b = Base; var e = n
    while (e > 0) { if ((e & 1) == 1) r *= b; b *= b; e >>= 1 }
    r
  }

  /** Whether the query's result order is defined by a final global sort
    * (through projections/generators that keep row order).
    */
  def isOrdered(plan: LogicalPlan): Boolean = plan match {
    case s: Sort => s.global
    case p: Project => isOrdered(p.child)
    case g: Generate => isOrdered(g.child)
    case s: SubqueryAlias => isOrdered(s.child)
    case l: GlobalLimit => isOrdered(l.child)
    case l: LocalLimit => isOrdered(l.child)
    case _ => false
  }

  /** Materialize the query's own executed plan in full (the
    * `Bench.runFull` path: `queryExecution.toRdd`, never `count()`),
    * folding every row into the digest executor-side. Partition results
    * combine in partition order, which for a global sort is row order.
    */
  def fold(df: DataFrame): Digest = {
    val qe = df.queryExecution
    val st = StructType(qe.executedPlan.output.map(a =>
      StructField(a.name, a.dataType, a.nullable)))
    val parts = qe.toRdd.mapPartitions { it =>
      var n = 0L; var ms = 0L; var oh = 0L
      it.foreach { r =>
        val h = row(r, st)
        n += 1; ms += h; oh = oh * Base + h
      }
      Iterator.single((n, ms, oh))
    }.collect()
    var n = 0L; var ms = 0L; var oh = 0L
    parts.foreach { case (pn, pms, poh) =>
      n += pn; ms += pms; oh = oh * pow(pn) + poh
    }
    Digest(n, ms, oh, isOrdered(qe.analyzed))
  }
}
