package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampType

/** Pins the fixture-encoding contract of `events.ts` (Engine.table).
  *
  * The driver has regenerated the testdata with a different parquet
  * timestamp encoding before (round 8: TIMESTAMP(NANOS)-as-long →
  * TIMESTAMP(MICROS)/NTZ), which silently dropped 11 registered queries
  * from the correctness run. This spec writes a tiny events table in each
  * encoding the loader claims to accept and asserts they all normalize to
  * the SAME schema and the SAME instants — so a future driver-side shift
  * fails HERE, loudly, instead of downstream in whatever query happens to
  * externalize a timestamp first.
  */
class FixtureContractSpec extends SparkSpec with EventsTsEncodings {

  private def loaded(dir: String): DataFrame = Engine.table(spark, dir, "events")

  test("all three ts encodings normalize to the same schema (TimestampType)") {
    for ((d, tag) <- Seq(ntzDir -> "ntz", ltzDir -> "ltz", nanosDir -> "nanos")) {
      val tsType = loaded(d).schema("ts").dataType
      assert(tsType == TimestampType,
        s"events.ts fixture contract violated for the $tag encoding: " +
          s"Engine.table produced $tsType, expected TimestampType — if the " +
          "driver shipped a NEW parquet encoding, extend Engine.normalizeEventTs")
    }
  }

  test("all three ts encodings normalize to the same instants (micro-exact)") {
    for ((d, tag) <- Seq(ntzDir -> "ntz", ltzDir -> "ltz", nanosDir -> "nanos")) {
      val got = loaded(d)
        .select(col("event_id"), unix_micros(col("ts")).as("us"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(got == Map(1L -> us1, 2L -> us2),
        s"events.ts instants drifted under the $tag encoding: $got")
    }
  }

  test("externalization works for every encoding (getTimestamp + encoder)") {
    import spark.implicits._
    for (d <- Seq(ntzDir, ltzDir, nanosDir)) {
      // the two access patterns that crashed in round 8 on un-normalized NTZ
      val maxTs = loaded(d).agg(max($"ts")).head.getTimestamp(0)
      assert(maxTs.getTime == us2 / 1000L)
      val viaEncoder = loaded(d).select($"event_id", $"ts")
        .as[(Long, java.sql.Timestamp)].collect().map(_._2.getTime).max
      assert(viaEncoder == us2 / 1000L)
    }
  }

  test("eventsBetween prunes identically for every encoding") {
    for (d <- Seq(ntzDir, ltzDir, nanosDir)) {
      val ids = Engine.eventsBetween(spark, d, "2024-01-10", "2024-01-11")
        .select("event_id").collect().map(_.getLong(0)).toSet
      assert(ids == Set(1L), s"eventsBetween mispruned for $d: $ids")
    }
  }

  test("a non-UTC session is refused, so instants never shift") {
    // The NTZ->LTZ normalization cast and eventsBetween's cast literal are
    // instant-preserving ONLY under a UTC session timezone. A session built
    // OUTSIDE Engine.session (e.g. a user's own builder) may carry any
    // zone; table/eventsBetween must refuse it, naming the conf, and must
    // not rewrite the caller's session to get round it.
    val tzConf = "spark.sql.session.timeZone"
    val prev = spark.conf.get(tzConf)
    try {
      for ((d, tag) <- Seq(ntzDir -> "ntz", ltzDir -> "ltz", nanosDir -> "nanos")) {
        spark.conf.set(tzConf, "America/New_York")
        val loads = Seq[(String, () => Any)](
          "Engine.table" -> (() => loaded(d)),
          "Engine.eventsBetween" ->
            (() => Engine.eventsBetween(spark, d, "2024-01-10", "2024-01-11")))
        for ((loader, load) <- loads) {
          val e = intercept[IllegalStateException](load())
          assert(e.getMessage.contains(tzConf),
            s"$loader ($tag) must name $tzConf: ${e.getMessage}")
          assert(spark.conf.get(tzConf) == "America/New_York",
            s"$loader ($tag) must leave the session timezone as it found it")
        }
      }
    } finally spark.conf.set(tzConf, prev)
  }

  test("missing ts column fails with the fixture-contract message, not a generic error") {
    import spark.implicits._
    val d = tempDir("fixture_nots")
    Seq((1L, 10L)).toDF("event_id", "user_id")
      .write.parquet(s"$d/events.parquet")
    val e = intercept[IllegalStateException](
      Engine.eventsBetween(spark, d, "2024-01-10", "2024-01-11"))
    assert(e.getMessage.contains("absent"), e.getMessage)
  }

  test("every fixture table loads with the schema the engine is built against") {
    // Full-surface drift tripwire: round 8 lost 11 queries because ONE
    // column's parquet encoding shifted under the engine. This pins the
    // Spark-visible schema of every fixture table as loaded through
    // Engine.table (post-normalization), so the NEXT driver-side
    // regeneration that changes any type fails here with a pointed diff
    // instead of downstream in whichever query touches the column first.
    val expected = Map(
      "region" -> "r_regionkey INT, r_name STRING",
      "nation" -> "n_nationkey INT, n_name STRING, n_regionkey INT",
      "customer" -> ("c_custkey BIGINT, c_name STRING, c_nationkey INT, " +
        "c_acctbal DOUBLE, c_mktsegment STRING"),
      "supplier" -> "s_suppkey BIGINT, s_name STRING, s_nationkey INT, s_acctbal DOUBLE",
      "part" -> ("p_partkey BIGINT, p_name STRING, p_brand STRING, p_type STRING, " +
        "p_size INT, p_retailprice DOUBLE"),
      "orders" -> ("o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, " +
        "o_totalprice DOUBLE, o_orderdate TIMESTAMP_NTZ, o_orderpriority STRING"),
      "lineitem" -> ("l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, " +
        "l_linenumber INT, l_quantity DOUBLE, l_extendedprice DOUBLE, " +
        "l_discount DOUBLE, l_tax DOUBLE, l_returnflag STRING, " +
        "l_linestatus STRING, l_shipdate TIMESTAMP_NTZ"),
      // ts is TIMESTAMP (not NTZ) by the Engine.table normalization contract
      "events" -> ("event_id BIGINT, ts TIMESTAMP, user_id BIGINT, " +
        "event_type STRING, value DOUBLE, props STRING"),
      "documents" -> "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT",
      "embeddings" -> "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT")
    for ((table, ddl) <- expected) {
      val got = Engine.table(spark, sfDir, table).schema
      val want = org.apache.spark.sql.types.StructType.fromDDL(ddl)
      // compare names + types only (nullability is writer-dependent)
      val gotSig = got.fields.map(f => (f.name, f.dataType)).toSeq
      val wantSig = want.fields.map(f => (f.name, f.dataType)).toSeq
      assert(gotSig == wantSig,
        s"fixture schema drift in '$table': the driver regenerated testdata " +
          s"with a different encoding.\n  engine expects: $wantSig\n  " +
          s"testdata now has: $gotSig\nAudit every consumer of the changed " +
          "column (and Engine.table's normalization) before updating this list.")
    }
  }

  test("an unknown ts encoding fails loudly, not silently") {
    import spark.implicits._
    val d = tempDir("fixture_bogus")
    Seq((1L, "2024-01-10", 10L)).toDF("event_id", "ts", "user_id")
      .write.parquet(s"$d/events.parquet")
    val e = intercept[IllegalStateException](loaded(d).schema)
    assert(e.getMessage.contains("fixture encoding shifted"), e.getMessage)
  }
}

/** A tiny events table in each `events.ts` parquet encoding the loader
  * accepts, shared by the specs that pin the loader's contract. */
trait EventsTsEncodings { this: SparkSpec =>

  // Known instants (micros since epoch, UTC): 2024-01-10 00:00:00 and
  // 2024-01-11 06:30:00.123456 — the second carries sub-second micros so a
  // precision-losing normalization (e.g. a seconds round-trip) is caught.
  val us1 = 1704844800000000L
  val us2 = 1704954600123456L

  /** events.parquet with ts as TIMESTAMP_NTZ (the current testdata encoding:
    * parquet TIMESTAMP(MICROS), isAdjustedToUTC=false). */
  def ntzDir: String = {
    import spark.implicits._
    val d = tempDir("fixture_ntz")
    Seq((1L, us1, 10L), (2L, us2, 20L)).toDF("event_id", "us", "user_id")
      .select($"event_id", timestamp_micros($"us").cast("timestamp_ntz").as("ts"), $"user_id")
      .write.parquet(s"$d/events.parquet")
    d
  }

  /** events.parquet with ts as TIMESTAMP (micros, adjusted to UTC). */
  def ltzDir: String = {
    import spark.implicits._
    val d = tempDir("fixture_ltz")
    withConfs("spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS") {
      Seq((1L, us1, 10L), (2L, us2, 20L)).toDF("event_id", "us", "user_id")
        .select($"event_id", timestamp_micros($"us").as("ts"), $"user_id")
        .write.parquet(s"$d/events.parquet")
    }
    d
  }

  /** events.parquet with ts as a raw nano long. Spark cannot WRITE parquet
    * TIMESTAMP(NANOS); under the session's nanosAsLong conf a NANOS column
    * and a plain INT64 column are indistinguishable at read time (both
    * arrive as LongType), so a plain long column exercises exactly the
    * loader path the legacy encoding hits. */
  def nanosDir: String = {
    import spark.implicits._
    val d = tempDir("fixture_nanos")
    Seq((1L, us1 * 1000L, 10L), (2L, us2 * 1000L, 20L))
      .toDF("event_id", "ts", "user_id")
      .write.parquet(s"$d/events.parquet")
    d
  }
}
