package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Count-Min sketch (Cormode & Muthukrishnan, "An improved data
  * stream summary: the count-min sketch and its applications",
  * J. Algorithms 2005) — the bounded-memory frequency table for the
  * 100 TB heavy-hitter path: `depth × width` long counters instead of
  * a vocabulary-sized exact histogram. Every row increments one
  * counter per depth row; a point estimate is the MIN over its depth
  * cells — an OVERESTIMATE only (collisions add, never subtract),
  * within εN (ε = e/width) with probability 1 - e^-depth.
  *
  * Like [[DdSketchAggregate]], the state is a pure function of the
  * input multiset: merge is element-wise long ADDITION — commutative,
  * associative, partitioning-independent — and the hash family is
  * md5-derived (ONE digest per item; depth row i reads the i-th
  * disjoint 8-hex slice mod width — the fused-digest trick
  * `Md5HexSlices` uses for minhash: exact integer arithmetic both
  * engines share), so a DuckDB oracle rebuilds the identical counter
  * matrix and the q132 compare is hash-EXACT with no floats anywhere.
  *
  * The shuffle moves one depth×width long array per group — constant
  * memory regardless of vocabulary (vs q74's exact top-k, which is
  * already two-phase but still carries one row per distinct token
  * into the shuffle). */
case class CountMinAggregate(
    child: Expression,
    depth: Int,
    width: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] {

  require(depth > 0 && depth <= 4 && width > 0,
    s"bad sketch shape $depth x $width (one md5 yields 4 slices)")

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def createAggregationBuffer(): Array[Long] =
    new Array[Long](depth * width)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      // ONE digest per row; each depth row reads its own 32-bit slice
      val d = CountMin.digest(v.asInstanceOf[UTF8String].toString)
      var i = 0
      while (i < depth) {
        buf(i * width + CountMin.cellOf(d, i, width)) += 1L
        i += 1
      }
    }
    buf
  }

  override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    var i = 0
    while (i < a.length) { a(i) += b(i); i += 1 }
    a
  }

  override def eval(buf: Array[Long]): Any = new GenericArrayData(buf)

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(buf.length * 8)
    bb.asLongBuffer().put(buf)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val out = new Array[Long](depth * width)
    java.nio.ByteBuffer.wrap(bytes).asLongBuffer().get(out)
    out
  }

  override def withNewMutableAggBufferOffset(off: Int): CountMinAggregate =
    copy(mutableAggBufferOffset = off)
  override def withNewInputAggBufferOffset(off: Int): CountMinAggregate =
    copy(inputAggBufferOffset = off)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren.head)
}

object CountMin {

  /** The shared hash-family rule: depth row i reads hex chars
    * [8i+1, 8i+8] of md5(item) — a 32-bit slice — mod width. The SQL
    * twin is
    * `('0x' || substr(md5(item), 8*i + 1, 8))::BIGINT % width`
    * and the Spark Column twin uses the engine's own md5/conv, so all
    * three derivations agree bit-for-bit. */
  private[expressions] def digest(s: String): Array[Byte] =
    Md5Hash.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  /** First 13 md5 hex chars of `s` as a 52-bit long — the one hash
    * primitive every md5-derived sketch shares ([[cell]],
    * [[HllSketchAggregate]]): 52 bits are exact in BIGINT and double
    * alike, so the SQL twin
    * `('0x' || substr(md5(s), 1, 13))::BIGINT` is bit-identical. */
  def hash52(s: String): Long = {
    val d = digest(s)
    // first 13 hex chars = first 6 bytes + the high nibble of byte 6,
    // assembled directly (a hex-string round-trip per row is pure GC)
    var h = 0L; var i = 0
    while (i < 6) { h = (h << 8) | (d(i) & 0xffL); i += 1 }
    (h << 4) | ((d(6) & 0xf0L) >>> 4)
  }

  /** 32-bit slice `row` of an md5 digest (hex chars [8·row+1, 8·row+8]
    * = bytes [4·row, 4·row+3]) mod width. */
  private[expressions] def cellOf(d: Array[Byte], row: Int, width: Int): Int = {
    var h = 0L; var i = 4 * row
    val end = i + 4
    while (i < end) { h = (h << 8) | (d(i) & 0xffL); i += 1 }
    (h % width).toInt
  }

  def cell(item: String, row: Int, width: Int): Int =
    cellOf(digest(item), row, width)

  /** Column twin of [[cell]] for probe-side lookups (codegen'd
    * engine md5 + conv — no UDF). */
  def cellCol(item: Column, row: Int, width: Int): Column = {
    import org.apache.spark.sql.functions._
    conv(substring(md5(item), 8 * row + 1, 8), 16, 10)
      .cast("long") % width
  }

  import org.apache.spark.sql.graft.Bridge
  def apply(c: Column, depth: Int, width: Int): Column =
    Bridge.column(CountMinAggregate(Bridge.expression(c), depth, width)
      .toAggregateExpression())
}
