package graft.perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.catalyst.util.{ArrayData, MapData}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Row count plus an order-insensitive 64-bit digest of a result.
  *
  * [[of]] is the timed action: it executes the frame's own physical
  * plan once (every column, final sort included, nothing pruned) and
  * folds a per-row hash on the executors. It runs under a named SQL
  * execution so query listeners see it like any Dataset action.
  */
object Digest {

  final case class Result(rows: Long, sum: Long) {
    def show: String = f"$rows:$sum%016x"
  }

  def of(df: DataFrame): Result = {
    val qe = df.queryExecution
    val schema = df.schema
    SQLExecution.withNewExecutionId(qe, Some("perfbench.digest")) {
      val (n, s) = qe.toRdd.mapPartitions { rows =>
        var n = 0L
        var s = 0L
        rows.foreach { r => n += 1; s += rowHash(r, schema) }
        Iterator.single((n, s))
      }.fold((0L, 0L))((a, b) => (a._1 + b._1, a._2 + b._2))
      Result(n, s)
    }
  }

  /** Digest of rows held on the driver (the closed-form expectations). */
  def ofRows(rows: Iterator[InternalRow], schema: StructType): Result = {
    var n = 0L
    var s = 0L
    rows.foreach { r => n += 1; s += rowHash(r, schema) }
    Result(n, s)
  }

  private val NullHash = 0x9e3779b97f4a7c15L

  /** splitmix64 finalizer. */
  private def mix(x: Long): Long = {
    var z = x
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  private def bytesHash(b: Array[Byte]): Long =
    XXH64.hashUnsafeBytes(b, Platform.BYTE_ARRAY_OFFSET, b.length, 42L)

  private def doubleHash(d: Double): Long =
    mix(java.lang.Double.doubleToLongBits(if (d == 0d) 0d else d))

  def rowHash(r: InternalRow, schema: StructType): Long = {
    var h = 17L
    var i = 0
    while (i < schema.length) {
      val dt = schema(i).dataType
      h = mix(h * 31 + (if (r.isNullAt(i)) NullHash else dt match {
        // unboxed reads for the common scalar columns
        case LongType => mix(r.getLong(i))
        case DoubleType => doubleHash(r.getDouble(i))
        case _ => valueHash(r.get(i, dt), dt)
      }))
      i += 1
    }
    h
  }

  private def valueHash(v: Any, dt: DataType): Long = if (v == null) NullHash else dt match {
    case BooleanType => if (v.asInstanceOf[Boolean]) 1L else 2L
    case ByteType => mix(v.asInstanceOf[Byte].toLong)
    case ShortType => mix(v.asInstanceOf[Short].toLong)
    case IntegerType | DateType => mix(v.asInstanceOf[Int].toLong)
    case LongType | TimestampType | TimestampNTZType => mix(v.asInstanceOf[Long])
    case FloatType =>
      val f = v.asInstanceOf[Float]
      mix(java.lang.Float.floatToIntBits(if (f == 0f) 0f else f).toLong)
    case DoubleType => doubleHash(v.asInstanceOf[Double])
    case _: StringType => XXH64.hashUTF8String(v.asInstanceOf[UTF8String], 42L)
    case BinaryType => bytesHash(v.asInstanceOf[Array[Byte]])
    case _: DecimalType => bytesHash(v.toString.getBytes("UTF-8"))
    case ArrayType(et, _) =>
      val a = v.asInstanceOf[ArrayData]
      var h = mix(a.numElements().toLong)
      var i = 0
      while (i < a.numElements()) {
        h = mix(h * 31 + (if (a.isNullAt(i)) NullHash else valueHash(a.get(i, et), et)))
        i += 1
      }
      h
    case st: StructType => rowHash(v.asInstanceOf[InternalRow], st)
    case MapType(kt, vt, _) =>
      val m = v.asInstanceOf[MapData]
      val (ks, vs) = (m.keyArray(), m.valueArray())
      var h = mix(m.numElements().toLong)
      var i = 0
      while (i < m.numElements()) {
        val hv = if (vs.isNullAt(i)) NullHash else valueHash(vs.get(i, vt), vt)
        h += mix(valueHash(ks.get(i, kt), kt) * 31 + hv)
        i += 1
      }
      h
    case _ => bytesHash(v.toString.getBytes("UTF-8"))
  }
}
