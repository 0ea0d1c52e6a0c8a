package graft

import graft.sources.jp2.Jp2Codec

/** Tile-parallel speedup of the ACTUAL l5h pipeline (streamed
  * listing-driven split + pinned-width exchange + per-task ranged reads)
  * at larger-than-fixture scan sizes — the Spark-side companion to
  * [[Jp2Probe]]'s codec-arithmetic byte contracts. The r14 speedup table
  * was taken against a broadcast in-memory codestream; this one runs the
  * committed query code path ([[graft.queries.Sources.jp2TiledChannelSums]])
  * against real staged files, so the number includes the split walk and
  * the ranged reads it replaced binaryFile with.
  *
  * Run: `java <add-opens> -cp "target/scala-2.13/classes:<spark jars>"
  *       graft.Jp2ScaleProbe [width height layers]`
  */
object Jp2ScaleProbe {
  def main(args: Array[String]): Unit = {
    val w = args.lift(0).map(_.toInt).getOrElse(2560)
    val h = args.lift(1).map(_.toInt).getOrElse(1664)
    val layers = args.lift(2).map(_.toInt).getOrElse(2)

    val dir = Engine.tempDir("jp2scale")
    val comps = Array.tabulate(3) { c =>
      Array.tabulate(w * h)(j => ((j % w) * (7 + 2 * c) + (j / w) * 11 + c * 29) % 256)
    }
    val cs = Jp2Codec.encode(w, h, comps, levels = 3, tileSize = 64, layers = layers)
    val bytes = graft.sources.Jp2Box.buildContainer(w, h, cs)
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/page_0.jp2"), bytes)
    val tiles = Jp2Codec.tileParts(bytes).length

    def best(f: => Any): Double = Measure.sample(Measure.seconds(f)).min

    // single-thread whole-file decode (the per-file-parallel-only shape)
    val oneThread = best(Jp2Codec.decode(bytes))

    val spark = Engine.session("32")
    try {
      val distributed = best(graft.queries.Sources.jp2TiledChannelSums(spark, dir).collect())
      def r3(v: Double) = math.round(v * 1000) / 1000.0
      println(
        s"""{"scan":"${w}x$h","tiles":$tiles,"layers":$layers,"bytes":${bytes.length},""" +
          s""""single_thread_s":${r3(oneThread)},"tile_parallel_32_s":${r3(distributed)},""" +
          s""""speedup":${r3(oneThread / distributed)}}""")
    } finally spark.stop()
  }
}
