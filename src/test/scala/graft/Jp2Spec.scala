package graft

import org.scalacheck.{Gen, Prop, Test => SCTest}

import graft.sources.Jp2Box

/** Header truth for the JP2 path of l5_multimodal_decode. */
class Jp2Spec extends SparkSpec {

  private val params = SCTest.Parameters.default.withMinSuccessfulTests(30)

  test("property: container build -> parse round-trips any dimensions") {
    val dimGen = Gen.choose(1, 1 << 24)
    val prop = Prop.forAll(Gen.zip(dimGen, dimGen, Gen.choose(0, 64))) {
      case (w, h, n) =>
        val bytes = Jp2Box.buildContainer(w, h, Array.fill(n)(0x5a.toByte))
        Jp2Box.parseDims(bytes).contains((w, h))
    }
    val result = SCTest.check(params, prop)
    assert(result.passed, result.status.toString)
  }

  test("committed fixtures parse to the oracle's dimensions") {
    def read(name: String): Array[Byte] = {
      val in = getClass.getResourceAsStream(s"/fixtures/bin/$name")
      try in.readAllBytes() finally in.close()
    }
    assert(Jp2Box.parseDims(read("bib13991099_18650102_0_1_0001.jp2"))
      .contains((2479, 3508)))
    assert(Jp2Box.parseDims(read("bib13991099_18650102_0_1_0002.JP2"))
      .contains((1860, 2631)))
  }

  test("raw codestream SIZ parse honors the grid offsets") {
    // SOC, then SIZ: len=41 (covers through 1 component), Rsiz=0,
    // Xsiz=1000, Ysiz=800, XOsiz=10, YOsiz=20 -> 990 x 780
    val out = new java.io.ByteArrayOutputStream()
    def u8(v: Int): Unit = out.write(v & 0xff)
    def u16(v: Int): Unit = { u8(v >> 8); u8(v) }
    def u32(v: Int): Unit = { u16(v >>> 16); u16(v) }
    u16(0xff4f) // SOC
    u16(0xff51); u16(41); u16(0) // SIZ marker, Lsiz, Rsiz
    u32(1000); u32(800); u32(10); u32(20) // Xsiz Ysiz XOsiz YOsiz
    u32(128); u32(128); u32(0); u32(0) // tile grid
    u16(1); u8(7); u8(1); u8(1) // 1 component
    assert(Jp2Box.parseDims(out.toByteArray).contains((990, 780)))
  }

  test("non-JP2 bytes are rejected, not guessed") {
    assert(Jp2Box.parseDims("JP2-PAGE-SYNTHETIC".getBytes("US-ASCII")).isEmpty)
    assert(Jp2Box.parseDims(Array[Byte]()).isEmpty)
    assert(Jp2Box.parseDims(Array.fill(64)(0.toByte)).isEmpty)
  }

  test("the distributed ranged pipeline carries the LOSSY profile to executors") {
    // regression pin for the silent-profile-drop gap: the split stage
    // parses irreversible/qShift from the main header, and the tile
    // tasks must rebuild the SAME Header from the shipped columns — a
    // schema that drops those fields would decode a 9/7 stream through
    // the reversible path into silently wrong pixels
    import graft.sources.jp2.Jp2Codec
    val (w, h) = (256, 128)
    val comps = Array.tabulate(3) { c =>
      Array.tabulate(w * h)(j => ((j % w) * (3 + c) + (j / w) * 7 + c * 11) % 256)
    }
    val cs = Jp2Codec.encode(w, h, comps, levels = 3, tileSize = 64, layers = 2,
      partsPerTile = 2, irreversible = true, qShift = -2)
    val container = Jp2Box.buildContainer(w, h, cs)
    val dir = tempDir("jp2_lossy_ranged")
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/lossy.jp2"), container)
    val whole = Jp2Codec.decode(container)
    val expected = whole.comps.map(_.map(_.toLong).sum)
    val row = graft.queries.Sources.jp2TiledChannelSums(spark, dir).collect()
    assert(row.length == 1)
    assert(row(0).getAs[Long]("n_tiles") == 8)
    val got = Seq(row(0).getAs[Long]("sum_c0"), row(0).getAs[Long]("sum_c1"),
      row(0).getAs[Long]("sum_c2"))
    assert(got == expected.toSeq,
      s"distributed lossy sums $got != whole-file decode ${expected.toSeq}")
  }
}
