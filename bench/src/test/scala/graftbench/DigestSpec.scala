package graftbench

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

class DigestSpec extends AnyFunSuite {
  private val events = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType)))
  private def event(id: Long, ts: Long, user: Long, kind: String, v: Double) =
    InternalRow(id, ts, user, UTF8String.fromString(kind), v)
  private val rows = Seq(
    event(1L, 1704067200000000L, 5L, "click", 29.27),
    event(2L, 1704067260000001L, 6L, "view", 0.0))

  test("digest ignores row order and partitioning") {
    val whole = Digest.of(rows, events)
    assert(Digest.of(rows.reverse, events) == whole)
    assert(Digest.of(rows.take(1), events) + Digest.of(rows.drop(1), events) == whole)
    assert(whole.count == 2)
  }

  test("digest changes with any value of any column") {
    val whole = Digest.of(rows, events)
    assert(Digest.of(Seq(rows.head, event(2L, 1704067260000001L, 6L, "view", 0.01)), events) != whole)
    assert(Digest.of(Seq(rows.head, event(2L, 1704067260000001L, 6L, "View", 0.0)), events) != whole)
    assert(Digest.of(rows :+ rows.head, events) != whole)
  }

  test("row hashes match the generator's (gen.event_row_hashes)") {
    assert(rows.map(Digest.row(_, events)) ==
      Seq(-5834876413795783004L, -1951983136608010266L))
    assert(Digest.of(rows, events) == Digest(2L, -7786859550403793270L))
  }

  test("nulls, arrays and nested values hash deterministically") {
    val t = StructType(Seq(StructField("a", ArrayType(FloatType)), StructField("s", StringType)))
    val r = InternalRow(new GenericArrayData(Array[Any](1.0f, null)), null)
    assert(Digest.row(r, t) == Digest.row(r.copy(), t))
    assert(Digest.row(r, t) != Digest.row(InternalRow(new GenericArrayData(Array[Any](null, 1.0f)), null), t))
  }
}
