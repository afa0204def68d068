package graft.`export`

import java.nio.file.{Files, Paths}

import graft.SparkSpec
import graft.sources.SegyRead.StandardFields.{Crossline, Inline}

/** Golden byte parity for the SEG-Y sink, mirroring the reference's Teapot
  * golden-header assertions (`tests/integration/test_segy_roundtrip_teapot
  * .py:55-137`): pinned EBCDIC text-header bytes, the revision word at its
  * standard binary-header offset, and whole-file equality against an
  * independently assembled expected byte array.
  */
class GoldenSegySpec extends SparkSpec {
  import spark.implicits._

  // fixed 40×80 text header, reference style
  private val textLines = SegyHeaders.sanitizeTextHeader(
    Seq("C 1 GRAFT GOLDEN FILE", "C 2 FIXED CONTENT") ++
      (3 to 40).map(i => f"C$i%3d"))

  // binary header: zeros except one sample per trace (SEG-Y bytes
  // 3221-3222), format 2 = int32 (3225-3226) and the revision word at SEG-Y
  // bytes 3501-3502 (offset 300 within the 400-byte binary header): rev 1.0
  // → 0x0100
  private val revisionOffset = 300
  private def binaryHeader: Array[Byte] = {
    val b = new Array[Byte](400)
    b(21) = 1
    b(25) = 2
    val rev = SegyHeaders.encodeRevision(1, 0)
    b(revisionOffset) = ((rev >> 8) & 0xff).toByte
    b(revisionOffset + 1) = (rev & 0xff).toByte
    b
  }

  // (inline, crossline, one big-endian int32 sample)
  private val traces = Seq(
    (1, 10, Array[Byte](0, 0, 0, 1)),
    (1, 20, Array[Byte](0, 0, 0, 2)),
    (2, 10, Array[Byte](0, 0, 0, 3)))

  private def writeGolden(): Array[Byte] = {
    val df = traces.toDF("il", "xl", "samples").orderBy("il", "xl")
    val records = SegyExport.serializeStandardTraces(df,
      Seq(Inline -> "il", Crossline -> "xl"), "samples")
    val out = Files.createTempDirectory("golden").toString + "/golden.sgy"
    SegyExport.writeSegy(records, out, textLines, binaryHeader)
    Files.readAllBytes(Paths.get(out))
  }

  test("text header is EBCDIC cp037 with pinned golden bytes") {
    val bytes = writeGolden()
    // cp037 codepoints are public: 'C'=0xC3, space=0x40, digits '0'..'9'=0xF0..0xF9
    assert(bytes(0) == 0xC3.toByte)          // 'C'
    assert(bytes(1) == 0x40.toByte)          // ' '
    assert(bytes(2) == 0xF1.toByte)          // '1'
    assert(bytes(3) == 0x40.toByte)          // ' '
    assert(bytes(4) == 0xC7.toByte)          // 'G'
    assert(bytes(5) == 0xD9.toByte)          // 'R'
    assert(bytes(6) == 0xC1.toByte)          // 'A'
    assert(bytes(7) == 0xC6.toByte)          // 'F'
    assert(bytes(8) == 0xE3.toByte)          // 'T'
    // row 2 starts at byte 80: "C 2"
    assert(bytes.slice(80, 83).toSeq == Seq(0xC3.toByte, 0x40.toByte, 0xF2.toByte))
    // trailing pad of every row is EBCDIC spaces
    assert(bytes.slice(3200 - 40, 3200).forall(_ == 0x40.toByte))
  }

  test("revision word sits at SEG-Y bytes 3501-3502 and decodes back") {
    val bytes = writeGolden()
    val hi = bytes(3200 + revisionOffset) & 0xff
    val lo = bytes(3200 + revisionOffset + 1) & 0xff
    assert(SegyHeaders.decodeRevision((hi << 8) | lo) == ((1, 0)))
  }

  test("whole file equals the independently assembled golden byte array") {
    val got = writeGolden()
    // assemble expected bytes WITHOUT the Spark writer: EBCDIC text header,
    // binary header, then per trace in (il, xl) order a 240-byte header
    // holding only the 4-byte BE inline (bytes 189-192) and crossline
    // (193-196), followed by the payload
    val ebcdic = java.nio.charset.Charset.forName("IBM037")
    val expected = java.nio.ByteBuffer.allocate(3600 + 3 * 244)
    expected.put(textLines.mkString.getBytes(ebcdic))
    expected.put(binaryHeader)
    traces.sortBy { case (il, xl, _) => (il, xl) }.foreach { case (il, xl, pay) =>
      val start = expected.position()
      expected.putInt(start + 188, il).putInt(start + 192, xl)
      expected.position(start + 240)
      expected.put(pay)
    }
    assert(got.toSeq == expected.array().toSeq)
  }
}
