package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Loaders for the driver's star-schema testdata (see TESTDATA.md).
  *
  * Each loader is a parquet scan: projection and predicates applied by
  * callers are pushed into the scan by Catalyst (verified in PlanSpec), so
  * at 100 TB each query reads only the columns/row-groups it needs.
  *
  * A bare `spark.read.parquet(path)` runs a Spark job to infer the schema
  * from the file footers on every call, before any action. [[table]]
  * infers once per file version and declares the recorded schema on later
  * reads, which run no job and resolve to the same relation (Spark makes
  * both the inferred and a declared schema nullable). The version key is
  * the qualified path, the length and modification time of every file
  * under it (stat'ed through the Hadoop `FileSystem`), and the session's
  * explicitly set `spark.sql.parquet.*` / `spark.sql.legacy.parquet.*`
  * values, which steer the Parquet-to-Spark type conversion (e.g.
  * `nanosAsLong`): a rewritten table or a changed setting re-infers. A
  * path that cannot be stat'ed (missing, or a glob) is read as before, so
  * callers see Spark's own error. The map holds only `StructType`s, one per
  * table version read, and no session or data, so it is not a session
  * cache: the same file under the same settings infers to the same schema
  * in any session, and a racing `putIfAbsent` of that value needs no lock.
  */
object Tables {
  private case class SchemaKey(path: String, files: Seq[(String, Long, Long)],
      parquetConf: Seq[(String, String)])

  private val schemas = new ConcurrentHashMap[SchemaKey, StructType]()

  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val key = schemaKey(spark, path)
    key.flatMap(k => Option(schemas.get(k))) match {
      case Some(schema) => spark.read.schema(schema).parquet(path)
      case None =>
        val df = spark.read.parquet(path)
        key.foreach(schemas.putIfAbsent(_, df.schema))
        df
    }
  }

  // listFiles of a single file yields that file; of a missing path or a
  // glob (no FileSystem expands one) it throws
  private def schemaKey(spark: SparkSession, path: String): Option[SchemaKey] =
    try {
      val p = new Path(path)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val it = fs.listFiles(p, true)
      val files = Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
        .map(f => (f.getPath.toString, f.getLen, f.getModificationTime)).toList.sorted
      Some(SchemaKey(fs.makeQualified(p).toString, files,
        spark.conf.getAll.toSeq.filter { case (k, _) =>
          k.startsWith("spark.sql.parquet.") || k.startsWith("spark.sql.legacy.parquet.")
        }.sorted))
    } catch {
      case _: java.io.IOException => None
    }

  def region(spark: SparkSession, dir: String): DataFrame     = table(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame     = table(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame   = table(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame   = table(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame       = table(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame     = table(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame   = table(spark, dir, "lineitem")
  /** Schema-adaptive loader for `events.ts` — the testdata has shipped this
    * column both as parquet TIMESTAMP(NANOS) and TIMESTAMP(MICROS), so the
    * loader branches on the dtype Spark infers rather than assuming either:
    *
    *  - `LongType`: TIMESTAMP(NANOS) read as raw nanos under
    *    `spark.sql.legacy.parquet.nanosAsLong` (the vectorized reader rejects
    *    nanos otherwise). Floor-divide to micros — the truncation DuckDB
    *    applies casting TIMESTAMP_NS → TIMESTAMP — using integer arithmetic
    *    only (nanos ~1.7e18 overflow double precision).
    *  - `TimestampNTZType`: TIMESTAMP(MICROS) with isAdjustedToUTC=false.
    *    Cast to session-TZ TimestampType; the session TZ is pinned to UTC
    *    (GraftSession), so the instants are unchanged and downstream code and
    *    the DuckDB oracle (naive timestamps) agree.
    *  - `TimestampType`: pass through.
    *
    * Anything else fails loudly here (one named error) instead of as an
    * AnalysisException inside every downstream query.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    val raw = table(spark, dir, "events")
    raw.schema("ts").dataType match {
      case LongType         => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType =>
        // the NTZ→TZ cast reinterprets wall-clock time in the SESSION time
        // zone; instant-preserving only under UTC — assert it loudly (the
        // same guard the old nanos path had) instead of silently shifting
        // every ts and drifting all oracle comparisons
        require(spark.conf.get("spark.sql.session.timeZone") == "UTC",
          s"events.ts is TIMESTAMP_NTZ; casting to TimestampType requires session TZ UTC, " +
            s"got ${spark.conf.get("spark.sql.session.timeZone")}")
        raw.withColumn("ts", col("ts").cast(TimestampType))
      case TimestampType    => raw
      case other => throw new IllegalStateException(
        s"events.ts loaded as $other; expected raw-nanos LongType, TIMESTAMP_NTZ, or TIMESTAMP")
    }
  }
  def documents(spark: SparkSession, dir: String): DataFrame  = table(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "embeddings")

  /** Collision-safe key for data-dir-derived artifact paths (persisted
    * indexes, streamed state, landed files): a SHA-256 prefix of the dir
    * string. The previous 32-bit String.hashCode keying could let two
    * distinct dirs used in one process share an artifact path — the
    * second overwrite-mode write would clobber the first dir's artifact
    * while its cached path still pointed there (the r12 advice finding
    * on the ORC sink, fixed repo-wide).
    */
  def dirKey(dir: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(dir.getBytes("UTF-8")).take(12).map("%02x".format(_)).mkString
}
