package graft.mart

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Incremental view maintenance for the mart rollups — the continuous
  * warehouse the reference's nightly full rebuild implies but never built
  * (scripts/dm/data_mart_loader.py re-aggregates every run): the yearly
  * rollup is maintained as PERSISTED MERGEABLE STATE that appended fact
  * batches fold into, so refreshing the dashboard after a day's load costs
  * O(state + batch), never a fact-table re-scan.
  *
  * The catch is the two COUNT DISTINCT metrics: distinct sums/counts merge
  * trivially, distinct counts do not. The standard IVM answer is support
  * counts — per-(year, track) and per-(year, artist) row counts; a batch
  * merges its own counts in, and the distinct metric is the number of a
  * year's support rows with a positive count. All of it lives in ONE state
  * table keyed by (kind, year, key, year_start): one `sums` row per year
  * (key null), one `track` row per (year, l_partkey) and one `artist` row
  * per (year, l_suppkey), all with the same sign-mergeable columns (a
  * track row fills only its count `n`). Support state is bounded by the
  * number of DISTINCT keys (not facts), and — unlike a HLL sketch —
  * stays EXACT and delete-capable (a retraction batch with negative
  * counts maintains it too, the classic incremental-view algebra).
  *
  * The derived metrics (rounded hours, estimated streams) are computed at
  * SERVE time from the exact decimal sums with the IDENTICAL expression
  * tree the one-shot rollup uses, so the incremental entry shares
  * `dm_yearly_agg`'s DuckDB oracle verbatim — the driver hash proves that
  * state-build + N appends + serve ≡ one full re-aggregation.
  *
  * Scale shape: a fold projects each batch row into its three
  * contributions, unions them with the prior state and re-aggregates in
  * ONE groupBy — one shuffle bounded by |state| + |batch keys| and one
  * write of state that is ~years × keys rows, never the fact table. State
  * is read with its fixed schema (no inference job). Serve is one
  * join-free aggregation over the state alone (plan-asserted in the spec:
  * one scan, no join, no lineitem/orders read).
  */
object IncrementalMart {

  private val Sums = "sums"
  private val Track = "track"
  private val Artist = "artist"
  private val Keys = Seq("kind", "year", "key", "year_start")
  private val StateSchema = StructType.fromDDL(
    "kind STRING, year BIGINT, key BIGINT, year_start TIMESTAMP, n BIGINT, " +
      "n_nonskip BIGINT, n_full BIGINT, sum_sec DECIMAL(22,2), sum_pct DECIMAL(15,1)")

  /** Fold a batch of [[MartQueries.listeningFacts]] rows into the state at
    * `path` (creating it when absent). Idempotence is the caller's
    * contract (the streaming sinks' Bloom anti-join), as with every
    * append-family primitive.
    */
  def appendToYearlyState(batch: DataFrame, path: String): Unit =
    foldYearlyState(batch, path, 1)

  /** The delete side of the algebra: fold the SAME batch with negated
    * deltas — counts and sums subtract, support counts that reach zero
    * drop their key out of the distinct metrics (the serve-side `n > 0`
    * guard). append(B) then retract(B) is a state no-op, spec-pinned.
    */
  def retractFromYearlyState(batch: DataFrame, path: String): Unit =
    foldYearlyState(batch, path, -1)

  /** The batch's state rows (sign = +1 append / −1 retract) ∪ the state at
    * `src` (if it exists), re-aggregated by the state key and cast back to
    * the state schema (sum() widens decimal precision per merge), so any
    * number of folds keeps one schema.
    */
  private def merged(batch: DataFrame, sign: Int, src: Option[String]): DataFrame = {
    val spark = batch.sparkSession
    import spark.implicits._
    def signed(c: Column): Column = if (sign > 0) c else -c
    def part(kind: String, key: Column): Column =
      struct(lit(kind).as("kind"), key.cast("long").as("key"))
    // a track row only supports the distinct count: its measures stay null
    def measure(c: Column): Column = when($"c.kind" =!= Track, signed(c))
    // every fact contributes one row of each kind
    val delta = batch
      .select(explode(array(part(Sums, lit(null)), part(Track, $"l_partkey"),
          part(Artist, $"l_suppkey"))).as("c"),
        $"ts_year", $"ts_year_start", $"l_quantity", $"sec_played", $"percent_played")
      .select($"c.kind".as("kind"), $"ts_year".as("year"), $"c.key".as("key"),
        $"ts_year_start".as("year_start"), signed(lit(1L)).as("n"),
        measure(when($"l_quantity" > 10, 1L).otherwise(0L)).as("n_nonskip"),
        measure(when($"percent_played" === lit(100.0), 1L).otherwise(0L)).as("n_full"),
        measure($"sec_played").as("sum_sec"), measure($"percent_played").as("sum_pct"))
    val prior = src.flatMap { p =>
      try Some(readState(spark, p))
      catch { case _: org.apache.spark.sql.AnalysisException => None }
    }
    val measures = StateSchema.fieldNames.toSeq.drop(Keys.length)
    prior.fold(delta)(delta.unionByName)
      .groupBy(Keys.map(col): _*)
      .agg(sum(measures.head).as(measures.head), measures.tail.map(c => sum(c).as(c)): _*)
      .select(StateSchema.fields.toSeq.map(f => col(f.name).cast(f.dataType).as(f.name)): _*)
  }

  private def foldYearlyState(batch: DataFrame, path: String, sign: Int): Unit =
    merged(batch, sign, Some(path))
      .localCheckpoint() // materialize before overwriting what it reads
      .write.mode("overwrite").parquet(path)

  /** Versioned fold for the STREAMING sink ([[graft.streaming.MartStream]]):
    * state at `srcVersion` + batch → a NEW `v<dstVersion>` directory,
    * never in-place — source and destination differ, so no checkpoint is
    * needed and a crashed write never corrupts served state (the pointer
    * still names the old version). Deterministic given (src state, batch),
    * which is what makes a foreachBatch retry recompute the identical
    * version instead of double-counting.
    */
  private[graft] def foldVersioned(batch: DataFrame, root: String,
      srcVersion: Option[Long], dstVersion: Long): Unit =
    merged(batch, 1, srcVersion.map(v => s"$root/v$v"))
      .write.mode("overwrite").parquet(s"$root/v$dstVersion")

  private def readState(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(StateSchema).parquet(path)

  /** Serve the rollup from state alone — the fact table is never read.
    * Metric expressions are shared shapes with [[MartQueries.yearlyAgg]]
    * (same decimal-exact sums, same double rounding tree), so the result
    * is bit-identical to a full re-aggregation.
    */
  def serveYearlyAgg(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    // a year has exactly one sums row, so max() picks it without widening
    // its type; support > 0 guards the delete/retraction algebra: a key
    // whose counts cancelled out no longer exists
    def sums(c: String) = max(when($"kind" === Sums, col(c))).as(c)
    def live(kind: String) = count(when($"kind" === kind && $"n" > 0, lit(1)))
    readState(spark, path)
      .groupBy($"year", $"year_start")
      .agg(sums("sum_sec"), sums("n"), sums("n_nonskip"), sums("sum_pct"),
        live(Track).as("distinct_tracks"), live(Artist).as("distinct_artists"))
      // a year with no live track or artist is retracted out of the rollup
      .filter($"distinct_tracks" > 0 && $"distinct_artists" > 0)
      .select($"year", $"year_start",
        MartQueries.r1($"sum_sec".cast("double") / lit(3600.0)).as("hours_listened"),
        $"n".as("total_streams_sessions"),
        $"n_nonskip".as("nonskip_sessions"),
        MartQueries.r0($"sum_pct".cast("double") / lit(100.0)).as("total_estimated_streams"),
        $"distinct_tracks", $"distinct_artists")
      .orderBy($"year".desc)
  }

  private val savedStates =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), String]

  /** Test hook mirroring the other persisted families. */
  private[graft] def persistedYearlyStatePath(spark: SparkSession, dir: String): Option[String] =
    savedStates.get((spark, dir))

  /** §2 entry `dm_yearly_agg_incremental`: once per (session, dir), build
    * the state from the landed facts (orderdate < 1996) and fold the
    * remainder in as two date-ranged append batches — the backfill-plus-
    * two-loads lifecycle; every call serves from state. Shares
    * `dm_yearly_agg`'s oracle SQL verbatim (with its own name), so the
    * driver hash proves incremental ≡ one-shot.
    */
  def dmYearlyAggIncremental(spark: SparkSession, dir: String): DataFrame =
    serveYearlyAgg(spark, yearlyStatePathFor(spark, dir))

  /** The build-once (session, dir) lifecycle shared by every entry served
    * from the mart state table.
    */
  private def yearlyStatePathFor(spark: SparkSession, dir: String): String = {
    import spark.implicits._
    savedStates.synchronized {
      savedStates.getOrElseUpdate((spark, dir), {
        val p = s"${System.getProperty("java.io.tmpdir")}/graft_mart_state_" +
          graft.Tables.dirKey(dir) +
          "_" + ProcessHandle.current().pid() +
          "_" + Integer.toHexString(System.identityHashCode(spark))
        val facts = MartQueries.listeningFacts(spark, dir)
        appendToYearlyState(facts.filter($"ts" < "1996-01-01"), p)
        appendToYearlyState(
          facts.filter($"ts" >= "1996-01-01" && $"ts" < "1997-01-01"), p)
        appendToYearlyState(facts.filter($"ts" >= "1997-01-01"), p)
        p
      })
    }
  }

  /** §2 entry `dm_top_artists_incremental` — ONE STATE, MANY VIEWS: the
    * ranked 1997 top-artists view served from the SAME state table as the
    * yearly rollup (the `artist` rows' metric sums), never the fact
    * table. The supplier dim joins at serve time (dims are not
    * state); the post-join re-aggregation by s_name merges exact decimal
    * sums, so the result is bit-identical to the one-shot ranking and the
    * entry carries its own DuckDB oracle (the cover-art column is the one
    * omission: a MAX is not sign-mergeable, so it does not belong in
    * retraction-capable state).
    */
  def dmTopArtistsIncremental(spark: SparkSession, dir: String): DataFrame =
    serveTopArtists(spark, yearlyStatePathFor(spark, dir), dir)

  /** Serve core over any state table — shared with the STREAMED state
    * ([[graft.streaming.MartStream.serveTopArtists]]), so a backfilled
    * and a streamed mart cannot rank differently.
    */
  private[graft] def serveTopArtists(spark: SparkSession, path: String, dir: String): DataFrame = {
    import spark.implicits._
    val sup = graft.Tables.supplier(spark, dir).select($"s_suppkey", $"s_name")
    readState(spark, path)
      .filter($"kind" === Artist && $"year" === 1997L && $"n" > 0)
      .join(broadcast(sup), $"key" === $"s_suppkey")
      .groupBy($"s_name".as("artist"))
      .agg(sum($"sum_sec").as("sum_sec"), sum($"n").as("times_played"),
        sum($"sum_pct").as("sum_pct"), sum($"n_full").as("full_real_streams"))
      .select($"artist",
        MartQueries.r1($"sum_sec".cast("double") / lit(3600.0)).as("hours_played"),
        $"times_played",
        MartQueries.r0($"sum_pct".cast("double") / lit(100.0)).as("estimated_full_streams"),
        $"full_real_streams")
      .orderBy($"hours_played".desc, $"artist")
      .limit(10)
  }

  val dmTopArtistsIncrementalSql: String =
    s"""${MartQueries.fhCte}
       |SELECT s_name AS artist,
       |  floor(CAST(SUM(sec_played) AS DOUBLE) / 3600.0 * 10.0 + 0.5) / 10.0 AS hours_played,
       |  COUNT(*) AS times_played,
       |  floor(CAST(SUM(percent_played) AS DOUBLE) / 100.0 + 0.5) AS estimated_full_streams,
       |  CAST(COUNT(CASE WHEN percent_played = 100.0 THEN 1 END) AS BIGINT) AS full_real_streams
       |FROM fh JOIN supplier ON l_suppkey = s_suppkey
       |WHERE year(ts) = 1997
       |GROUP BY s_name
       |ORDER BY hours_played DESC, artist
       |LIMIT 10""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dm_yearly_agg_incremental" -> (dmYearlyAggIncremental _),
    "dm_top_artists_incremental" -> (dmTopArtistsIncremental _)
  )

  val oracleSql: Map[String, String] = Map(
    "dm_yearly_agg_incremental" -> MartQueries.yearlyAggSql,
    "dm_top_artists_incremental" -> dmTopArtistsIncrementalSql
  )
}
