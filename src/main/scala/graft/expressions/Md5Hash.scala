package graft.expressions

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Fused md5 projections for the signature builds in
  * `graft.operators.Dedup` — the profiled hot tail of the dedup family
  * (simhash/simhash64/minhash): the composed form `md5(tok)` + 16
  * `substring`+`instr` nibble projections (or 4 `substring` slices for
  * minhash) materializes a 32-char hex UTF8String per token and then
  * re-scans it once per projection, allocating a fresh UTF8String each
  * time. These expressions go digest-bytes → result in one pass with a
  * reused (thread-local) MessageDigest, inside whole-stage codegen.
  *
  * Both KEEP the md5 hash family bit-for-bit: [[Md5Nibbles]] equals
  * `instr('0123456789abcdef', substring(md5(x), i+1, 1)) - 1` for
  * i < 16, and [[Md5HexSlices]] equals `substring(md5(x), 8k+1, 8)` —
  * so the DuckDB oracle twins (which spell out the composed form in
  * SQL) are untouched.
  */
object Md5Hash {

  private val mdLocal = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest = MessageDigest.getInstance("MD5")
  }

  /** md5 of `bytes` through this thread's reused digest — the one
    * MessageDigest every md5-derived hash in graft shares (these
    * expressions, `CountMin`, the streaming signatures, the catalog's
    * scratch-path suffix). */
  private[graft] def digest(bytes: Array[Byte]): Array[Byte] = {
    val md = mdLocal.get()
    md.reset()
    md.digest(bytes)
  }

  private def digest(s: UTF8String): Array[Byte] = digest(s.getBytes)

  /** Analysis-time string-input check shared by both expressions. */
  private[expressions] def requireString(e: UnaryExpression): TypeCheckResult =
    if (e.child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"${e.prettyName} requires a STRING input, got ${e.child.dataType.sql}")

  private final val HexChars =
    Array[Byte]('0', '1', '2', '3', '4', '5', '6', '7', '8', '9',
      'a', 'b', 'c', 'd', 'e', 'f')

  /** The 32-char lowercase md5 hex of the UTF-8 bytes of `s` (what
    * Spark's and DuckDB's `md5(s)` return). */
  private[graft] def hex(s: String): String = {
    val d = digest(s.getBytes(StandardCharsets.UTF_8))
    val out = new Array[Char](32)
    var i = 0
    while (i < 16) {
      out(2 * i) = HexChars((d(i) >> 4) & 0xf).toChar
      out(2 * i + 1) = HexChars(d(i) & 0xf).toChar
      i += 1
    }
    new String(out)
  }

  /** Values of the first 16 hex nibbles of md5(s) — i.e. the first 8
    * digest bytes, high nibble first. Called from generated code. */
  def nibbles(s: UTF8String): ArrayData = {
    val d = digest(s)
    val out = new Array[Int](16)
    var i = 0
    while (i < 8) {
      out(2 * i) = (d(i) >> 4) & 0xf
      out(2 * i + 1) = d(i) & 0xf
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** The four 8-char slices of the 32-char lowercase md5 hex string,
    * as one shared 32-byte buffer. Called from generated code. */
  def hexSlices(s: UTF8String): ArrayData = {
    val d = digest(s)
    val hex = new Array[Byte](32)
    var i = 0
    while (i < 16) {
      hex(2 * i) = HexChars((d(i) >> 4) & 0xf)
      hex(2 * i + 1) = HexChars(d(i) & 0xf)
      i += 1
    }
    new GenericArrayData(Array[Any](
      UTF8String.fromBytes(hex, 0, 8), UTF8String.fromBytes(hex, 8, 8),
      UTF8String.fromBytes(hex, 16, 8), UTF8String.fromBytes(hex, 24, 8)))
  }
}

/** array<int> of the 16 leading md5-hex nibble VALUES of a string —
  * one digest, no hex-string intermediate (see [[Md5Hash]]). */
case class Md5Nibbles(child: Expression) extends UnaryExpression {

  // reject non-string children at ANALYSIS time, not as a mid-job
  // ClassCastException/codegen failure (AbstractDataType is
  // private[sql], so the check is spelled out instead of mixing in
  // ExpectsInputTypes)
  override def checkInputDataTypes(): TypeCheckResult = Md5Hash.requireString(this)
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(input: Any): Any =
    Md5Hash.nibbles(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.expressions.Md5Hash.nibbles($c);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object Md5Nibbles {
  import org.apache.spark.sql.graft.Bridge
  def apply(text: Column): Column =
    Bridge.column(Md5Nibbles(Bridge.expression(text)))
}

/** array<string> of the four 8-char slices of md5-hex — one digest,
  * one 32-byte buffer instead of five UTF8Strings (see [[Md5Hash]]). */
case class Md5HexSlices(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = Md5Hash.requireString(this)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(input: Any): Any =
    Md5Hash.hexSlices(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.expressions.Md5Hash.hexSlices($c);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object Md5HexSlices {
  import org.apache.spark.sql.graft.Bridge
  def apply(text: Column): Column =
    Bridge.column(Md5HexSlices(Bridge.expression(text)))
}
