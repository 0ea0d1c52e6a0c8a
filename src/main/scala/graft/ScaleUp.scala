package graft

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** Materializes an sf1-SCALE benchmark dataset (10× sf0.1) for the scaling
  * spot-bench — BENCH-ONLY scaffolding, never a correctness input (the
  * oracle tiers stay the driver's sf0.001/sf0.01/sf0.1 parquet, untouched).
  *
  * Method: 10 copies of every sf0.1 table under DISJOINT key spaces —
  * copy i shifts each table's keys by i × stride, with strides chosen to
  * stay clear of the fixtures' reserved namespaces (query-planted doc
  * copies live at doc_id + 1_000_000, streaming sentinels at
  * user_id ≥ 999_999_000; scaled ids stay below both). Foreign keys shift
  * with their parents so join fan-outs are preserved exactly. Dimension
  * tables region/nation stay fixed (the TPC-H scaling rule).
  *
  * Content columns are perturbed per copy, NOT duplicated verbatim:
  * verbatim 10× text would make every doc a 10-way near-duplicate group,
  * inflating candidate PAIRS quadratically (45× for 10 copies) — a
  * super-linear workload by construction that would misread as an engine
  * scaling failure. Suffixing every token with the copy tag keeps length
  * and token-count statistics while making shingle sets disjoint across
  * copies, so dedup/similarity work scales with the corpus like a real
  * 10×-bigger crawl. Embeddings get a small deterministic per-copy jitter
  * for the same reason (no artificial exact-tie neighbor groups).
  *
  * Run: `sbt "runMain graft.ScaleUp [srcDir] [dstDir]"`, defaults
  * /root/testdata/sf0.1 → /tmp/sf1. Each table is written with 8+ output
  * files so downstream scans see multiple mappers (AQE splits, skew
  * handling, and file-parallel reads behave as they would on a cluster).
  */
object ScaleUp {
  /** Default copy count (sf0.1 -> sf1). Arg 3 overrides: 100 builds the
    * r13 sf10 spot-bench tier. Strides are sized so even 100 copies stay
    * inside every reserved namespace: doc_id tops out at 994_999 < the
    * 1e6 planted-copy floor (max sf0.1 doc_id 4999, stride 10_000), and
    * the stride's factors preserve doc_id parity and mod-5 class, so the
    * odd/even snapshot splits (l56) and the %5 probe sets (st17) scale
    * proportionally instead of shifting.  */
  val Copies = 10

  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val dst = args.lift(1).getOrElse("/tmp/sf1")
    val copies = args.lift(2).map(_.toInt).getOrElse(Copies)
    val spark = Engine.session()
    import spark.implicits._

    def replicate(df: DataFrame)(shift: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until copies).map(i => shift(df, i)).reduce(_ unionByName _)

    def write(name: String, df: DataFrame, files: Int = 8): Unit = {
      df.repartition(files)
        .write.mode(SaveMode.Overwrite).parquet(s"$dst/$name.parquet")
      println(s"scaled $name -> $dst/$name.parquet")
    }

    def raw(name: String): DataFrame = Engine.parquet(spark, s"$src/$name.parquet")

    // dims stay fixed (TPC-H scaling rule: region/nation never scale)
    write("region", raw("region"), files = 1)
    write("nation", raw("nation"), files = 1)

    // star schema: shift every key and FK by the same per-table stride so
    // copy i is a self-consistent disjoint universe
    val custStride = 1000000L
    val orderStride = 10000000L
    val partStride = 1000000L
    val suppStride = 100000L
    write("customer", replicate(raw("customer")) { (df, i) =>
      // c_nationkey stays as-is: region/nation don't scale
      df.withColumn("c_custkey", $"c_custkey" + lit(i * custStride))
    })
    write("supplier", replicate(raw("supplier")) { (df, i) =>
      df.withColumn("s_suppkey", $"s_suppkey" + lit(i * suppStride))
    })
    write("part", replicate(raw("part")) { (df, i) =>
      df.withColumn("p_partkey", $"p_partkey" + lit(i * partStride))
    })
    write("orders", replicate(raw("orders")) { (df, i) =>
      df.withColumn("o_orderkey", $"o_orderkey" + lit(i * orderStride))
        .withColumn("o_custkey", $"o_custkey" + lit(i * custStride))
    })
    write("lineitem", replicate(raw("lineitem")) { (df, i) =>
      df.withColumn("l_orderkey", $"l_orderkey" + lit(i * orderStride))
        .withColumn("l_partkey", $"l_partkey" + lit(i * partStride))
        .withColumn("l_suppkey", $"l_suppkey" + lit(i * suppStride))
    }, files = 16)

    // events: user_id stays far below the 999_999_000 sentinel floor
    write("events", replicate(raw("events")) { (df, i) =>
      df.withColumn("event_id", $"event_id" + lit(i * 10000000L))
        .withColumn("user_id", $"user_id" + lit(i * 10000L))
    }, files = 16)

    // documents: doc_id stays below the 1_000_000 planted-copy namespace;
    // tokens suffixed with the copy tag (see scaladoc — keeps stats,
    // breaks cross-copy shingle identity)
    write("documents", replicate(raw("documents")) { (df, i) =>
      val txt = if (i == 0) $"text"
        else array_join(
          transform(split($"text", " "), w => concat(w, lit(i.toString))), " ")
      df.withColumn("doc_id", $"doc_id" + lit(i * 10000L))
        .withColumn("text", txt)
    })

    // embeddings: deterministic per-copy jitter, same dimensionality
    write("embeddings", replicate(raw("embeddings")) { (df, i) =>
      val emb = if (i == 0) $"embedding"
        else transform($"embedding",
          (v, j) => (v + (pmod(lit(i) * 31 + j, lit(7)) - lit(3)) * lit(0.001f))
            .cast("float"))
      df.withColumn("vec_id", $"vec_id" + lit(i * 10000L))
        .withColumn("embedding", emb)
    })

    println(s"scaled dataset (x$copies) complete under $dst")
    spark.stop()
  }
}
