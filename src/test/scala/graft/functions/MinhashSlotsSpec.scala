package graft.functions

import graft.SparkSpec
import graft.llm.{Dedup, TextOps}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.Gen
import org.scalacheck.Prop.forAll
import org.scalacheck.{Test => SCTest}

/** The native MinhashSlots kernel behind `Dedup.signaturesOf` must agree
  * bit for bit with the composable form it replaced — the shingle
  * explode, two md5 hex strings per shingle and 8 string minima, which
  * is also what the DuckDB oracle spells out — under codegen AND
  * interpreted eval. */
class MinhashSlotsSpec extends SparkSpec {
  lazy val s = spark
  import s.implicits._

  private val slots = (0 until 8).map(i => s"h$i")

  /** The pre-kernel signaturesOf, kept verbatim as the reference. */
  private def reference(docs: DataFrame): DataFrame = {
    val sh = TextOps.shingleRows(docs, 8)
      .withColumn("m1", md5(col("s")))
      .withColumn("m2", md5(concat(lit("x"), col("s"))))
    val mins =
      (0 until 4).map(i => min(substring(col("m1"), i * 8 + 1, 8)).as(s"h$i")) ++
      (0 until 4).map(i => min(substring(col("m2"), i * 8 + 1, 8)).as(s"h${i + 4}"))
    sh.groupBy("doc_id").agg(mins.head, mins.tail: _*)
  }

  private def sorted(df: DataFrame) =
    df.select((col("doc_id") +: slots.map(col)): _*).orderBy("doc_id")
      .collect().toSeq

  private def docsOf(texts: Seq[String]): DataFrame =
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")

  private def assertSame(texts: Seq[String]): Unit = {
    val docs = docsOf(texts)
    val kernel = sorted(Dedup.signaturesOf(docs))
    val ref = sorted(reference(docs))
    assert(kernel == ref, s"kernel != reference on ${texts.map(t => Option(t).map(_.take(40)))}")
  }

  // code points of every UTF-8 width: 1 (ASCII), 2 (Latin/Cyrillic),
  // 3 (CJK), 4 (emoji / supplementary planes)
  private val genCodePoint: Gen[String] = Gen.oneOf(
    Gen.choose(0x20, 0x7e),
    Gen.choose(0x80, 0x7ff),
    Gen.choose(0x4e00, 0x9fff),
    Gen.choose(0x1f300, 0x1faff)
  ).map(cp => new String(Character.toChars(cp)))

  private val genText: Gen[String] = for {
    n <- Gen.choose(0, 40)
    cps <- Gen.listOfN(n, genCodePoint)
  } yield cps.mkString

  test("kernel == explode+md5+min reference on mixed 1-4 byte code points (property)") {
    // a batch of texts per case: one Spark job compares many shingle
    // boundary layouts (multi-byte characters straddling the 8-char
    // window edges at every byte offset)
    val prop = forAll(Gen.listOfN(25, genText)) { texts =>
      assertSame(texts)
      true
    }
    assert(SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(30), prop).passed)
  }

  test("fixed cases: NULL, empty, 1-8 chars, a 2,000-token doc, emoji at both ends") {
    val texts = Seq(null, "", "a", "ab", "abcdefg", "abcdefgh", "abcdefghi",
      "é", "中文文档", "😀", "abcdefg😀",
      (0 until 2000).map(i => s"w$i").mkString(" "),
      "😀 unicode café naïve 中文文档 ssß 😀",
      "😀😁😂😃😄😅😆😇😈")
    for (t <- texts) assertSame(Seq(t))
    assertSame(texts)
    // NULL text: one row, 8 NULL slots
    val nul = Dedup.signaturesOf(docsOf(Seq(null))).collect()
    assert(nul.length == 1 && slots.indices.forall(i => nul.head.isNullAt(i + 1)))
    // empty text: md5("") / md5("x") words
    val empty = Dedup.signaturesOf(docsOf(Seq(""))).collect().head
    assert(empty.getString(1) == "d41d8cd9" && empty.getString(5) == "9dd4e461")
  }

  test("one output row per input row, input order kept") {
    val texts = Seq("same text for both rows", "same text for both rows", "other")
    val out = Dedup.signaturesOf(docsOf(texts)).collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(0L, 1L, 2L))
    assert(out(0).toSeq.tail == out(1).toSeq.tail)
  }

  test("truncated UTF-8: the kernel clamps each shingle to the value's own bytes") {
    // 61 f0 62: the lead byte f0 claims 4 bytes but only 1 follows.
    // Spark's substring copies the claimed width past the end of the
    // value; the kernel hashes exactly the 3 bytes it was given.
    val raw = Array[Byte](0x61, 0xf0.toByte, 0x62)
    val md = java.security.MessageDigest.getInstance("MD5")
    val row = MinhashSlots.slots(UTF8String.fromBytes(raw), md)
    def hex(b: Array[Byte]) = b.map(x => f"${x & 0xff}%02x").mkString
    val m1 = hex(md.digest(raw))
    val m2 = hex(md.digest(Array[Byte]('x'.toByte) ++ raw))
    val expected = (0 until 4).map(i => m1.substring(8 * i, 8 * i + 8)) ++
      (0 until 4).map(i => m2.substring(8 * i, 8 * i + 8))
    assert((0 until 8).map(i => row.getUTF8String(i).toString) == expected)
    // a value that is a slice of a larger buffer reads only its own bytes
    val padded = Array[Byte](0x7a, 0x61, 0xf0.toByte, 0x62, 0x7a)
    val slice = MinhashSlots.slots(UTF8String.fromBytes(padded, 1, 3), md)
    assert((0 until 8).map(i => slice.getUTF8String(i).toString) == expected)
  }

  private def withConf[T](kv: (String, String)*)(body: => T): T = {
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally kv.foreach { case (k, _) => spark.conf.unset(k) }
  }

  test("generated code and interpreted eval both equal the reference") {
    val docs = docsOf(Seq("interpreted and codegen agree on this text",
      "中文文档 é 😀", "", null))
    val ref = sorted(reference(docs))
    // no silent fallback: a kernel that fails to compile throws here
    val generated = withConf("spark.sql.codegen.fallback" -> "false",
        "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY") {
      sorted(Dedup.signaturesOf(docs))
    }
    val interpreted = withConf("spark.sql.codegen.wholeStage" -> "false",
        "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") {
      sorted(Dedup.signaturesOf(docs))
    }
    assert(generated == ref && interpreted == ref)
    // a non-string argument fails analysis
    intercept[Exception] {
      docs.select(GraftFunctions.minhashSlots(col("doc_id"))).first()
    }
  }
}
