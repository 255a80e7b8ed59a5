package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType, StructField, StructType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: the 8 MinHash slots of one document, as
  * `struct<h0..h7: string>` — the signature kernel behind
  * `llm.Dedup.signaturesOf`.
  *
  * Semantics are those of the composable form it replaces (and that the
  * DuckDB oracle still spells out): shingle i is
  * `substring(text, i, 8)` for i in 1..max(length(text) − 7, 1); slot k
  * (k < 4) is `min(substring(md5(shingle), 8k + 1, 8))` and slot k + 4
  * the same over `md5('x' || shingle)`. The kernel walks the UTF-8
  * bytes once with Spark's own `UTF8String.numBytesForFirstByte` to find
  * the character boundaries, hashes each shingle's byte range in place
  * (one `MessageDigest` per task, nothing allocated per shingle) and
  * keeps the 8 running minima of the digests' big-endian 32-bit words as
  * unsigned numbers. They leave as 8-char lowercase hex, which is the
  * string min exactly: fixed-width lowercase hex sorts like the number
  * it encodes.
  *
  * Why a kernel: the composable form explodes every document into one
  * row per shingle, renders two 32-char md5 hex strings per row, and
  * SortAggregates 8 string minima on both sides of an exchange (Spark
  * has no hash aggregate for `min(string)`); its `substring(text, i, 8)`
  * also re-walks the text from byte 0 for every i, so each document
  * costs O(n²) in its length.
  *
  * NULL text yields a NULL struct (8 NULL slots); empty text yields the
  * md5("") / md5("x") slots. One deliberate difference: on truncated
  * UTF-8 (a lead byte whose continuation bytes are missing at the end
  * of the value) Spark's `substring` copies the claimed width and so
  * reads past the end of the value (bytes `61 f0 62`,
  * `substringSQL(2, 8)` returns `f0 62 00 00`); the kernel clamps every
  * shingle to the value's own bytes.
  */
case class MinhashSlots(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"minhash_slots expects a string argument, got ${other.catalogString}")
  }

  override def dataType: DataType = MinhashSlots.slotType

  override def prettyName: String = "minhash_slots"

  @transient private lazy val md5 = MessageDigest.getInstance("MD5")

  override protected def nullSafeEval(text: Any): Any =
    MinhashSlots.slots(text.asInstanceOf[UTF8String], md5)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val md = ctx.addMutableState("java.security.MessageDigest", "minhashMd5",
      v => s"""$v = java.security.MessageDigest.getInstance("MD5");""")
    val kernel = MinhashSlots.getClass.getName.stripSuffix("$")
    nullSafeCodeGen(ctx, ev, t => s"${ev.value} = $kernel.slots($t, $md);")
  }

  override protected def withNewChildInternal(newChild: Expression): MinhashSlots =
    copy(child = newChild)
}

object MinhashSlots {
  val Shingle = 8
  val Slots = 8

  val slotType: StructType = StructType(
    (0 until Slots).map(i => StructField(s"h$i", StringType, nullable = false)))

  private val Hex = "0123456789abcdef".getBytes("US-ASCII")

  /** The 8 slots of one non-NULL text (see the class doc). */
  def slots(text: UTF8String, md: MessageDigest): InternalRow = {
    val n = text.numBytes
    val (buf, base) = text.getBaseObject match {
      case a: Array[Byte] => (a, (text.getBaseOffset - Platform.BYTE_ARRAY_OFFSET).toInt)
      case _ => (text.getBytes, 0)
    }
    val mins = Array.fill(Slots)(Long.MaxValue)
    val digest = new Array[Byte](16)
    // [p, q) is the current shingle: q starts 8 characters past p
    var p = 0
    var q = 0
    var c = 0
    while (c < Shingle && q < n) {
      q += UTF8String.numBytesForFirstByte(buf(base + q))
      c += 1
    }
    absorb(md, buf, base + p, math.min(q, n) - p, digest, mins)
    while (q < n) {
      p += UTF8String.numBytesForFirstByte(buf(base + p))
      q += UTF8String.numBytesForFirstByte(buf(base + q))
      absorb(md, buf, base + p, math.min(q, n) - p, digest, mins)
    }
    val hex = new Array[Byte](Slots * 8)
    val out = new Array[Any](Slots)
    var k = 0
    while (k < Slots) {
      var w = mins(k)
      var j = 7
      while (j >= 0) {
        hex(k * 8 + j) = Hex((w & 0xf).toInt)
        w >>>= 4
        j -= 1
      }
      out(k) = UTF8String.fromBytes(hex, k * 8, 8)
      k += 1
    }
    new GenericInternalRow(out)
  }

  /** Folds md5(shingle) into slots 0..3 and md5('x' || shingle) into
    * slots 4..7. */
  private def absorb(md: MessageDigest, buf: Array[Byte], off: Int, len: Int,
      digest: Array[Byte], mins: Array[Long]): Unit = {
    md.update(buf, off, len)
    md.digest(digest, 0, 16)
    fold(digest, mins, 0)
    md.update('x'.toByte)
    md.update(buf, off, len)
    md.digest(digest, 0, 16)
    fold(digest, mins, 4)
  }

  private def fold(digest: Array[Byte], mins: Array[Long], at: Int): Unit = {
    var k = 0
    while (k < 4) {
      val w = ((digest(4 * k) & 0xffL) << 24) | ((digest(4 * k + 1) & 0xffL) << 16) |
        ((digest(4 * k + 2) & 0xffL) << 8) | (digest(4 * k + 3) & 0xffL)
      if (w < mins(at + k)) mins(at + k) = w
      k += 1
    }
  }
}
