package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic builder-owned scale-up corpus generator (scale-trend
  * harness, SURVEY §4).
  *
  * Mirrors the driver's sf0.1 schema (TESTDATA.md) at `mult`× the row
  * counts under a repo-local dir (default target/scaledata/sf1) so the
  * "would this plan survive 10×?" question is answered by measurement
  * (ScaleTrend) instead of plan-reading. The read-only /root/testdata is
  * only ever READ here, never written.
  *
  * Generation strategy, chosen per table to preserve the DISTRIBUTIONS
  * the operators are sensitive to while keeping candidate-pair densities
  * linear in corpus size (the property a fair scale test needs):
  *
  *  - region/nation: copied verbatim — fixed dimension vocabulary
  *    (TPC-H queries filter on literal nation names).
  *  - customer/supplier/part/orders/lineitem/events: `mult` key-shifted
  *    replicas of the base tables. Replication preserves every marginal
  *    and join distribution exactly (lines-per-order, date ranges, value
  *    tails, per-user event densities); keys are shifted by
  *    copy·(max_key+1) so uniqueness and FK integrity hold across
  *    copies; surrogate names (c_name/s_name) are re-derived from the
  *    shifted key so name-grain groupings stay 1:1 with keys; event ts
  *    gets +copy microseconds so replicas never tie on (user, ts).
  *  - documents: freshly hash-generated from the SAME 30-word vocab and
  *    length law (10+h%90 words, avg ≈54) with a ~5% near-dup rate where
  *    each dup copies the content seed of a doc ≤6 ids back (appending
  *    the " dup" marker token, mirroring the base corpus's 250/5000
  *    marked dups). Replicating text verbatim would multiply every
  *    exact-dup cluster by `mult` and inflate LSH bucket pair counts
  *    ×mult² — a data-degeneracy artifact, not scaling signal.
  *  - embeddings: freshly hash-generated 64-dim float vectors as
  *    label-center + noise (10 labels, center scale 0.35, noise 0.12 —
  *    the base corpus's observed value range ±0.58). Replicating vectors
  *    with per-copy noise would give every point `mult`−1 artificial
  *    near-neighbors and degenerate the kNN-graph entries.
  *
  * Everything derives from xxhash64(id, salt) — no RNG state, no wall
  * clock — so the corpus is bit-identical across runs and partitionings.
  * The small `copies` side of the replicate join is an explicit
  * broadcast (a ≤mult-row generator device, same whitelisted shape as
  * the repo's 1-row scalar joins).
  */
object ScaleGen {
  /** uniform [0,1) from (keyCol, salt) — deterministic, codegen'd */
  private def u(key: org.apache.spark.sql.Column, salt: String) =
    pmod(xxhash64(key, lit(salt)), lit(1000000L)).cast("double") / 1000000.0

  private def h(key: org.apache.spark.sql.Column, salt: String, m: Int) =
    pmod(xxhash64(key, lit(salt)), lit(m.toLong)).cast("long")

  /** key-shifted replicas: one row per (base row, copy 0..mult-1) */
  private def replicate(base: DataFrame, mult: Int): DataFrame = {
    val spark = base.sparkSession
    val copies = broadcast(spark.range(mult).withColumnRenamed("id", "gen_copy"))
    base.crossJoin(copies)
  }

  def main(args: Array[String]): Unit = {
    val baseDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val outDir  = if (args.length > 1) args(1) else "target/scaledata/sf1"
    val mult    = if (args.length > 2) args(2).toInt else 10
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")}]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    generate(spark, baseDir, outDir, mult)
    spark.stop()
  }

  def generate(spark: SparkSession, baseDir: String, outDir: String, mult: Int): Unit = {
    def base(name: String) = graft.Tables.table(spark, baseDir, name)
    def write(df: DataFrame, name: String): Unit = {
      df.write.mode("overwrite").parquet(s"$outDir/$name.parquet")
      System.err.println(s"[scalegen] wrote $name")
    }

    // fixed dims: verbatim (literal nation/region names are query params)
    write(base("region"), "region")
    write(base("nation"), "nation")

    // scalar max keys for shift strides (driver-side 1-row pulls — this is
    // a generator tool, not a benched operator)
    val nCust = base("customer").agg(max("c_custkey")).head.getLong(0) + 1
    val nSupp = base("supplier").agg(max("s_suppkey")).head.getLong(0) + 1
    val nPart = base("part").agg(max("p_partkey")).head.getLong(0) + 1
    val nOrd  = base("orders").agg(max("o_orderkey")).head.getLong(0) + 1
    val nEvt  = base("events").agg(max("event_id")).head.getLong(0) + 1
    val nUser = base("events").agg(max("user_id")).head.getLong(0) + 1

    write(
      replicate(base("customer"), mult)
        .withColumn("c_custkey", col("c_custkey") + col("gen_copy") * nCust)
        .withColumn("c_name", format_string("Customer#%09d", col("c_custkey")))
        .drop("gen_copy"),
      "customer")

    write(
      replicate(base("supplier"), mult)
        .withColumn("s_suppkey", col("s_suppkey") + col("gen_copy") * nSupp)
        .withColumn("s_name", format_string("Supplier#%09d", col("s_suppkey")))
        .drop("gen_copy"),
      "supplier")

    // p_name is a 64-value dimension vocab (adjective+noun), kept as-is:
    // name-grain groupings in the base corpus already collapse many keys
    write(
      replicate(base("part"), mult)
        .withColumn("p_partkey", col("p_partkey") + col("gen_copy") * nPart)
        .drop("gen_copy"),
      "part")

    write(
      replicate(base("orders"), mult)
        .withColumn("o_orderkey", col("o_orderkey") + col("gen_copy") * nOrd)
        .withColumn("o_custkey", col("o_custkey") + col("gen_copy") * nCust)
        .drop("gen_copy"),
      "orders")

    write(
      replicate(base("lineitem"), mult)
        .withColumn("l_orderkey", col("l_orderkey") + col("gen_copy") * nOrd)
        .withColumn("l_partkey", col("l_partkey") + col("gen_copy") * nPart)
        .withColumn("l_suppkey", col("l_suppkey") + col("gen_copy") * nSupp)
        .drop("gen_copy"),
      "lineitem")

    // +copy µs keeps replicas from tying on (user_id, ts) — window/asof
    // entries order on ts; the 30-day range is unchanged (denser days is
    // exactly what 10× traffic means)
    write(
      replicate(base("events"), mult)
        .withColumn("event_id", col("event_id") + col("gen_copy") * nEvt)
        .withColumn("user_id", col("user_id") + col("gen_copy") * nUser)
        .withColumn("ts", col("ts") + make_dt_interval(
          lit(0), lit(0), lit(0), col("gen_copy").cast("double") / 1000000.0))
        .drop("gen_copy"),
      "events")

    // documents: fresh generation (see scaladoc) — same vocab as the base
    // corpus (30 content words + the "dup" marker)
    val vocab = Seq(
      "spark", "window", "merge", "table", "column", "vector", "stream",
      "value", "data", "small", "join", "filter", "big", "group", "hash",
      "customer", "sort", "order", "slow", "line", "part", "fast", "the",
      "row", "agg", "key", "query", "a", "scan", "batch")
    val vocabArr = array(vocab.map(lit): _*)
    val nDoc = 5000L * mult
    val docs = spark.range(nDoc).withColumnRenamed("id", "doc_id")
      // ~5% near-dups, each copying the content of a doc 1..6 ids back
      .withColumn("is_dup",
        col("doc_id") >= 6 && h(col("doc_id"), "dup?", 100) < 5)
      .withColumn("seed",
        when(col("is_dup"), col("doc_id") - 1 - h(col("doc_id"), "back", 6))
          .otherwise(col("doc_id")))
      .withColumn("len", h(col("seed"), "len", 90) + 10)
      .withColumn("text", concat(
        array_join(transform(sequence(lit(0L), col("len") - 1),
          i => element_at(vocabArr,
            (pmod(xxhash64(col("seed"), i, lit("w")), lit(30L)) + 1).cast("int"))),
          " "),
        when(col("is_dup"), lit(" dup")).otherwise(lit(""))))
      .withColumn("lang",
        when(h(col("doc_id"), "lang", 100) < 41, "en")
          .when(h(col("doc_id"), "lang", 100) < 56, "zh")
          .when(h(col("doc_id"), "lang", 100) < 71, "es")
          .when(h(col("doc_id"), "lang", 100) < 86, "fr")
          .otherwise(lit("de")))
      .withColumn("source",
        concat(lit("src"), h(col("doc_id"), "src", 20).cast("string")))
      .withColumn("n_chars", length(col("text")))
      .select("doc_id", "text", "lang", "source", "n_chars")
    write(docs, "documents")

    // embeddings: fresh 64-dim label-center + noise
    val nVec = 2000L * mult
    val dims = sequence(lit(0), lit(63))
    val embs = spark.range(nVec).withColumnRenamed("id", "vec_id")
      .withColumn("label", h(col("vec_id"), "label", 10).cast("int"))
      .withColumn("embedding", transform(dims, j =>
        ((pmod(xxhash64(lit("center"), col("label"), j), lit(2001L)).cast("double") / 1000.0 - 1.0) * 0.35 +
         (pmod(xxhash64(col("vec_id"), j, lit("noise")), lit(2001L)).cast("double") / 1000.0 - 1.0) * 0.12)
          .cast("float")))
      .select("vec_id", "embedding", "label")
    write(embs, "embeddings")
  }
}
