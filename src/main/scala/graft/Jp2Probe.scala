package graft

import graft.sources.jp2.Jp2Codec

/** Byte-contract and single-thread-cost measurements for the JP2 ranged
  * machinery at a larger-than-fixture scale — the numbers behind the
  * COVERAGE.md claims for the streamed split (l5h), the low-res prefix
  * fetch (l5j), and the first-layer quality fetch (l5k). No Spark: this
  * probes the codec's own arithmetic, so the measured fractions are
  * exactly what each query's in-task `require` pins per file.
  *
  * Run: `java -cp "target/scala-2.13/classes:<spark jars>" graft.Jp2Probe
  *       [width height tileSize layers]`
  */
object Jp2Probe {
  def main(args: Array[String]): Unit = {
    val w = args.lift(0).map(_.toInt).getOrElse(2560)
    val h = args.lift(1).map(_.toInt).getOrElse(1664)
    val tile = args.lift(2).map(_.toInt).getOrElse(64)
    val layers = args.lift(3).map(_.toInt).getOrElse(2)

    val comps = Array.tabulate(3) { c =>
      Array.tabulate(w * h)(j => ((j % w) * (7 + 2 * c) + (j / w) * 11 + c * 29) % 256)
    }
    val t0 = System.nanoTime()
    val cs = Jp2Codec.encode(w, h, comps, levels = 3, tileSize = tile, layers = layers)
    val encodeS = (System.nanoTime() - t0) / 1e9

    // split walk bytes (l5h contract)
    val inFull = new Jp2Codec.CountingInput(new Jp2Codec.BytesInput(cs))
    val (_, spans) = Jp2Codec.tileParts(inFull)
    // low-res prefix bytes (l5j contract, d=2)
    val inRed = new Jp2Codec.CountingInput(new Jp2Codec.BytesInput(cs))
    val (_, redSpans) = Jp2Codec.tilePartsReduced(inRed, 2)
    val redBytes = redSpans.map(_.len).sum
    // first-layer bytes (l5k contract)
    val inQ = new Jp2Codec.CountingInput(new Jp2Codec.BytesInput(cs))
    val (hdr, qParts) = Jp2Codec.tilePartsQuality(inQ, 1)
    val qBytes = qParts.map(_.fetchBytes).sum

    // sub-10 s single-thread runs, sampled like every other measurement
    def best(f: => Any): Double = Measure.sample(Measure.seconds(f)).min
    val fullS = best(Jp2Codec.decode(cs))
    val redS = best(Jp2Codec.decodeReduced(cs, 2))
    val qS = best {
      for (part <- qParts) yield {
        val slice = new java.io.ByteArrayOutputStream()
        for ((from, until) <- part.ranges) slice.write(cs, from.toInt, (until - from).toInt)
        Jp2Codec.decodeTilePartQuality(slice.toByteArray, hdr, 1)
      }
    }

    def r3(v: Double) = math.round(v * 1000) / 1000.0
    def pct(n: Long) = math.round(n * 1000.0 / cs.length) / 10.0
    println(
      s"""{"scan":"${w}x$h","tiles":${spans.length},"layers":$layers,"bytes":${cs.length},
         |"encode_s":${r3(encodeS)},
         |"split_walk_bytes":${inFull.bytesRead},"split_walk_pct":${pct(inFull.bytesRead)},
         |"l5j_prefix_bytes":$redBytes,"l5j_prefix_pct":${pct(redBytes)},"l5j_walk_bytes":${inRed.bytesRead},
         |"l5k_layer1_bytes":$qBytes,"l5k_layer1_pct":${pct(qBytes)},"l5k_walk_bytes":${inQ.bytesRead},
         |"decode_full_s":${r3(fullS)},"decode_reduced_d2_s":${r3(redS)},"decode_quality_k1_s":${r3(qS)}}"""
        .stripMargin.replace("\n", ""))
  }
}
