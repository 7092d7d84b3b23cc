package graft

import org.apache.spark.graftshim.JobCount
import org.apache.spark.sql.{AnalysisException, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Guards the loader layer against testdata drift.
  *
  * Round 7 post-mortem: the driver regenerated `events.parquet` from
  * TIMESTAMP(NANOS) to TIMESTAMP(MICROS) and every events-reading query died
  * with the same AnalysisException — 27 red tests, zero of them naming the
  * actual cause. This suite makes the next drift ONE obvious red test:
  *  - every live table loads and `events.ts` normalizes to TimestampType;
  *  - each dtype the adaptive loader claims to support is exercised against
  *    a written fixture (raw-nanos long, TIMESTAMP_NTZ, TIMESTAMP);
  *  - an unsupported dtype fails loudly in the loader, not downstream;
  *  - a table's schema is inferred once per file version: warm reads run
  *    no Spark job, and a rewritten table or a changed Parquet setting
  *    re-infers.
  */
class TablesSpec extends SparkSuite {

  private def fixtureDir(): String =
    java.nio.file.Files.createTempDirectory("graft_tables_spec").toString

  test("all live tables load; events.ts normalizes to TimestampType") {
    val names = Seq("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "events", "documents", "embeddings")
    names.foreach { n =>
      assert(Tables.table(spark, sf, n).columns.nonEmpty, n)
    }
    val ev = Tables.events(spark, sf)
    assert(ev.schema("ts").dataType == TimestampType,
      s"events.ts must normalize to TimestampType, got ${ev.schema("ts").dataType}")
    assert(ev.select(min("ts"), max("ts")).first().getTimestamp(0) != null)
  }

  test("live table schemas match the contract every query compiles against") {
    // name -> (column, loaded Spark dtype). A driver-side regeneration that
    // drifts ANY column (the round-7 events µs/ns incident) turns into this
    // one named failure instead of dozens of downstream AnalysisExceptions.
    // Timestamps may load as timestamp OR timestamp_ntz (writer-dependent);
    // both normalize fine downstream, so either spelling passes.
    val expected: Map[String, Seq[(String, String)]] = Map(
      "region" -> Seq("r_regionkey" -> "int", "r_name" -> "string"),
      "nation" -> Seq("n_nationkey" -> "int", "n_name" -> "string", "n_regionkey" -> "int"),
      "customer" -> Seq("c_custkey" -> "bigint", "c_name" -> "string",
        "c_nationkey" -> "int", "c_acctbal" -> "double", "c_mktsegment" -> "string"),
      "supplier" -> Seq("s_suppkey" -> "bigint", "s_name" -> "string",
        "s_nationkey" -> "int", "s_acctbal" -> "double"),
      "part" -> Seq("p_partkey" -> "bigint", "p_name" -> "string", "p_brand" -> "string",
        "p_type" -> "string", "p_size" -> "int", "p_retailprice" -> "double"),
      "orders" -> Seq("o_orderkey" -> "bigint", "o_custkey" -> "bigint",
        "o_orderstatus" -> "string", "o_totalprice" -> "double",
        "o_orderdate" -> "timestamp", "o_orderpriority" -> "string"),
      "lineitem" -> Seq("l_orderkey" -> "bigint", "l_partkey" -> "bigint",
        "l_suppkey" -> "bigint", "l_linenumber" -> "int", "l_quantity" -> "double",
        "l_extendedprice" -> "double", "l_discount" -> "double", "l_tax" -> "double",
        "l_returnflag" -> "string", "l_linestatus" -> "string", "l_shipdate" -> "timestamp"),
      "events" -> Seq("event_id" -> "bigint", "ts" -> "timestamp", "user_id" -> "bigint",
        "event_type" -> "string", "value" -> "double", "props" -> "string"),
      "documents" -> Seq("doc_id" -> "bigint", "text" -> "string", "lang" -> "string",
        "source" -> "string", "n_chars" -> "bigint"),
      "embeddings" -> Seq("vec_id" -> "bigint", "embedding" -> "array<float>",
        "label" -> "int"))
    expected.foreach { case (name, cols) =>
      val got = Tables.table(spark, sf, name).schema
        .map(f => f.name -> f.dataType.simpleString)
      val normalized = got.map { case (n, t) =>
        n -> (if (t == "timestamp_ntz") "timestamp" else t)
      }
      assert(normalized == cols, s"$name schema drift:\n  got  $got\n  want $cols")
    }
  }

  test("events loader: raw-nanos LongType fixture floor-divides to micros") {
    import spark.implicits._
    val dir = fixtureDir()
    // 2024-01-01T00:00:00.000000001 UTC in nanos: the sub-micro digit must
    // truncate (DuckDB TIMESTAMP_NS → TIMESTAMP semantics)
    val nanos = 1704067200L * 1000000000L + 1L
    Seq((1L, nanos)).toDF("event_id", "ts").write.mode("overwrite")
      .parquet(s"$dir/events.parquet")
    val got = Tables.events(spark, dir)
    assert(got.schema("ts").dataType == TimestampType)
    val ts = got.select($"ts".cast("string")).first().getString(0)
    assert(ts == "2024-01-01 00:00:00", ts)
  }

  test("events loader: TIMESTAMP_NTZ fixture passes through as the same UTC instant") {
    import spark.implicits._
    val dir = fixtureDir()
    Seq((1L, "2024-06-15 12:34:56.789012")).toDF("event_id", "s")
      .select($"event_id", $"s".cast(TimestampNTZType).as("ts"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    // written NTZ must round-trip as NTZ (else this fixture tests nothing)
    assert(spark.read.parquet(s"$dir/events.parquet").schema("ts").dataType == TimestampNTZType)
    val got = Tables.events(spark, dir)
    assert(got.schema("ts").dataType == TimestampType)
    assert(got.select($"ts".cast("string")).first().getString(0) == "2024-06-15 12:34:56.789012")
  }

  test("events loader: TimestampType fixture passes through unchanged") {
    import spark.implicits._
    val dir = fixtureDir()
    Seq((1L, java.sql.Timestamp.valueOf("2024-06-15 12:34:56.789012")))
      .toDF("event_id", "ts")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = Tables.events(spark, dir)
    assert(got.schema("ts").dataType == TimestampType)
    assert(got.select($"ts".cast("string")).first().getString(0) == "2024-06-15 12:34:56.789012")
  }

  test("events loader: an unsupported ts dtype fails loudly in the loader") {
    import spark.implicits._
    val dir = fixtureDir()
    Seq((1L, "not a timestamp")).toDF("event_id", "ts")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val e = intercept[IllegalStateException](Tables.events(spark, dir))
    assert(e.getMessage.contains("events.ts"), e.getMessage)
  }

  test("a warm read constructs without a Spark job") {
    Tables.lineitem(spark, sf)
    mart.MartQueries.topArtists(spark, sf)
    assert(JobCount(spark.sparkContext)(Tables.lineitem(spark, sf)) == 0)
    assert(JobCount(spark.sparkContext)(mart.MartQueries.topArtists(spark, sf)) == 0)
  }

  test("a missing table fails as before; a rewritten table re-infers, as a directory and as one file") {
    import spark.implicits._
    val dir = fixtureDir()
    // nothing to stat: read as before, so Spark's own error surfaces
    val missing = intercept[AnalysisException](Tables.table(spark, dir, "t"))
    assert(missing.getMessage.contains("PATH_NOT_FOUND"), missing.getMessage)
    Seq((1L, "a")).toDF("k", "v").write.parquet(s"$dir/t.parquet")
    assert(Tables.table(spark, dir, "t").columns.toSeq == Seq("k", "v"))
    Seq((2L, 3.0, true)).toDF("x", "y", "z").write.mode("overwrite").parquet(s"$dir/t.parquet")
    val got = Tables.table(spark, dir, "t")
    assert(got.columns.toSeq == Seq("x", "y", "z"))
    assert(got.collect().toSeq == Seq(Row(2L, 3.0, true)))

    // a single-file table, like the testdata's, replaced by a file of
    // another schema
    def partFile(d: String) = new java.io.File(d).listFiles()
      .filter(_.getName.endsWith(".parquet")).head.toPath
    val one = java.nio.file.Paths.get(dir, "one.parquet")
    java.nio.file.Files.copy(partFile(s"$dir/t.parquet"), one)
    assert(Tables.table(spark, dir, "one").columns.toSeq == Seq("x", "y", "z"))
    Seq(("b", 4)).toDF("s", "i").write.parquet(s"$dir/u.parquet")
    java.nio.file.Files.copy(partFile(s"$dir/u.parquet"), one,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    assert(Tables.table(spark, dir, "one").collect().toSeq == Seq(Row("b", 4)))
  }

  test("flipping nanosAsLong re-infers a TIMESTAMP(NANOS) table") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.hadoop.util.HadoopOutputFile
    import org.apache.parquet.schema.MessageTypeParser
    val dir = fixtureDir()
    // Spark cannot write TIMESTAMP(NANOS); parquet-mr's example writer can
    val schema = MessageTypeParser.parseMessageType(
      "message events { required int64 event_id; required int64 ts (TIMESTAMP(NANOS,true)); }")
    val w = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(
      new org.apache.hadoop.fs.Path(s"$dir/events.parquet"), spark.sparkContext.hadoopConfiguration))
      .withType(schema).build()
    w.write(new SimpleGroupFactory(schema).newGroup()
      .append("event_id", 1L).append("ts", 1704067200L * 1000000000L + 1L))
    w.close()

    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val prev = spark.conf.get(key)
    assert(prev == "true")
    assert(Tables.table(spark, dir, "events").schema("ts").dataType == LongType)
    assert(Tables.events(spark, dir).select(col("ts").cast("string")).first().getString(0) ==
      "2024-01-01 00:00:00")
    try {
      spark.conf.set(key, "false")
      // re-inferred without the flag, Spark rejects the nanos column; a
      // schema recorded under the flag would have read it as a long
      val e = intercept[AnalysisException](Tables.table(spark, dir, "events"))
      assert(e.getMessage.contains("TIMESTAMP(NANOS"), e.getMessage)
    } finally spark.conf.set(key, prev)
    assert(JobCount(spark.sparkContext)(
      assert(Tables.table(spark, dir, "events").schema("ts").dataType == LongType)) == 0)
  }
}
