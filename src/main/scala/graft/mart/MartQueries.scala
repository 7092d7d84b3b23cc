package graft.mart

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** The reference's data-mart layer (reference: docs/sql/dm_ddl.sql,
  * dashboard/dashboard_queries.py, scripts/parent_mapping/
  * track_parent_select.py) re-expressed on Spark.
  *
  * Role mapping onto the driver's star schema: the "listening fact" stream
  * is lineitem⋈orders (ts = o_orderdate), sec_played = l_extendedprice,
  * percent_played = l_quantity/50·100 (bounded 0–100 like the reference's),
  * track = part (p_name = title, p_brand = artist), artist = supplier.
  * The query *shapes* are the reference's exactly: time-grain rollups with
  * conditional counts + distinct counts, ranked top-N with deterministic
  * tie-breaks, parent-variant mapping via grouped min + left join.
  *
  * Scale: every mart query plans its own fact join; nothing is shared
  * across calls. While the orders side (orderkey, date and its calendar
  * keys) fits the broadcast threshold, as at sf0.01 and sf0.1, the plan
  * broadcasts it and lineitem streams through without a shuffle; past the
  * threshold it becomes a sort-merge join that shuffles both sides on
  * orderkey. part/supplier dims are broadcast.
  */
object MartQueries {

  private def dec(c: Column, p: Int = 12, s: Int = 2): Column = c.cast(s"decimal($p,$s)")

  /** Engine-exact HALF_UP rounding: floor(x*10^n + 0.5)/10^n is the same
    * double arithmetic in Spark and DuckDB, unlike round(double, n) whose
    * half-way behavior is engine-specific.
    */
  private[graft] def r1(c: Column): Column = floor(c * lit(10.0) + lit(0.5)) / lit(10.0)
  private[graft] def r0(c: Column): Column = floor(c + lit(0.5)).cast("double")

  /** lineitem ⋈ orders with listening-history column roles. */
  def listeningFacts(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val li  = Tables.lineitem(spark, dir)
      .select($"l_orderkey", $"l_partkey", $"l_suppkey", $"l_quantity", $"l_extendedprice")
    // calendar keys are computed on the ORDERS side BEFORE the broadcast
    // join: 4× fewer evaluations than deriving them per joined fact row,
    // and consumers that filter on ts_year prune the build side pre-join.
    // Unused keys are column-pruned out of the broadcast, so queries that
    // ignore them pay nothing.
    val ord = Tables.orders(spark, dir).select($"o_orderkey", $"o_orderdate",
      year($"o_orderdate").cast("long").as("ts_year"),
      month($"o_orderdate").cast("long").as("ts_month"),
      date_trunc("year", $"o_orderdate").as("ts_year_start"),
      date_trunc("month", $"o_orderdate").as("ts_month_start"))
    li.join(ord, $"l_orderkey" === $"o_orderkey")
      .select(
        $"o_orderdate".as("ts"),
        $"ts_year", $"ts_month", $"ts_year_start", $"ts_month_start",
        $"l_partkey", $"l_suppkey", $"l_quantity",
        dec($"l_extendedprice").as("sec_played"),
        round($"l_quantity" / lit(50.0) * lit(100.0), 1).cast("decimal(5,1)").as("percent_played")
      )
  }

  /** Shared oracle CTE mirroring [[listeningFacts]]. */
  private[graft] val fhCte: String =
    """WITH fh AS (
      |  SELECT o_orderdate AS ts, l_partkey, l_suppkey, l_quantity,
      |    CAST(l_extendedprice AS DECIMAL(12,2)) AS sec_played,
      |    CAST(round(l_quantity / 50.0 * 100.0, 1) AS DECIMAL(5,1)) AS percent_played
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |)""".stripMargin

  private def aggMetrics: Seq[Column] = {
    import org.apache.spark.sql.functions.{col => c}
    Seq(
      r1(sum(c("sec_played")).cast("double") / lit(3600.0)).as("hours_listened"),
      count(lit(1)).as("total_streams_sessions"),
      count(when(c("l_quantity") > 10, lit(1))).as("nonskip_sessions"),
      r0(sum(c("percent_played")).cast("double") / lit(100.0)).as("total_estimated_streams"),
      countDistinct(c("l_partkey")).as("distinct_tracks"),
      countDistinct(c("l_suppkey")).as("distinct_artists")
    )
  }

  private val aggMetricsSql: String =
    """  floor(CAST(SUM(sec_played) AS DOUBLE) / 3600.0 * 10.0 + 0.5) / 10.0 AS hours_listened,
      |  COUNT(*) AS total_streams_sessions,
      |  COUNT(CASE WHEN l_quantity > 10 THEN 1 END) AS nonskip_sessions,
      |  floor(CAST(SUM(percent_played) AS DOUBLE) / 100.0 + 0.5) AS total_estimated_streams,
      |  COUNT(DISTINCT l_partkey) AS distinct_tracks,
      |  COUNT(DISTINCT l_suppkey) AS distinct_artists""".stripMargin

  /** dm.yearly_agg (dm_ddl.sql:18) — yearly listening rollup. */
  def yearlyAgg(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    listeningFacts(spark, dir)
      .groupBy($"ts_year".as("year"), $"ts_year_start".as("year_start"))
      .agg(aggMetrics.head, aggMetrics.tail: _*)
      .orderBy($"year".desc)
  }

  val yearlyAggSql: String =
    s"""$fhCte
       |SELECT CAST(year(ts) AS BIGINT) AS year, date_trunc('year', ts) AS year_start,
       |$aggMetricsSql
       |FROM fh
       |GROUP BY 1, 2
       |ORDER BY year DESC""".stripMargin

  /** dm.monthly_agg (dm_ddl.sql:34) — monthly grain of the same rollup. */
  def monthlyAgg(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    listeningFacts(spark, dir)
      .groupBy(
        $"ts_year".as("year"),
        $"ts_month".as("month_num"),
        $"ts_month_start".as("month_start"))
      .agg(aggMetrics.head, aggMetrics.tail: _*)
      .orderBy($"year".desc, $"month_num".desc)
  }

  val monthlyAggSql: String =
    s"""$fhCte
       |SELECT CAST(year(ts) AS BIGINT) AS year, CAST(month(ts) AS BIGINT) AS month_num,
       |  date_trunc('month', ts) AS month_start,
       |$aggMetricsSql
       |FROM fh
       |GROUP BY 1, 2, 3
       |ORDER BY year DESC, month_num DESC""".stripMargin

  /** dm.all_time_agg (dm_ddl.sql:51) — single-row lifetime stats. */
  def allTimeAgg(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    listeningFacts(spark, dir)
      .agg(
        r1(sum($"sec_played").cast("double") / lit(86400.0)).as("days_listened"),
        count(lit(1)).as("total_streams_sessions"),
        count(when($"l_quantity" > 10, lit(1))).as("nonskip_sessions"),
        r0(sum($"percent_played").cast("double") / lit(100.0)).as("total_estimated_streams"),
        countDistinct($"l_partkey").as("distinct_tracks"),
        countDistinct($"l_suppkey").as("distinct_artists"))
  }

  val allTimeAggSql: String =
    s"""$fhCte
       |SELECT
       |  floor(CAST(SUM(sec_played) AS DOUBLE) / 86400.0 * 10.0 + 0.5) / 10.0 AS days_listened,
       |  COUNT(*) AS total_streams_sessions,
       |  COUNT(CASE WHEN l_quantity > 10 THEN 1 END) AS nonskip_sessions,
       |  floor(CAST(SUM(percent_played) AS DOUBLE) / 100.0 + 0.5) AS total_estimated_streams,
       |  COUNT(DISTINCT l_partkey) AS distinct_tracks,
       |  COUNT(DISTINCT l_suppkey) AS distinct_artists
       |FROM fh""".stripMargin

  private def rankedMetrics: Seq[Column] = {
    import org.apache.spark.sql.functions.{col => c}
    Seq(
      r1(sum(c("sec_played")).cast("double") / lit(3600.0)).as("hours_played"),
      count(lit(1)).as("times_played"),
      r0(sum(c("percent_played")).cast("double") / lit(100.0)).as("estimated_full_streams"),
      count(when(c("percent_played") === lit(100.0), lit(1))).as("full_real_streams")
    )
  }

  private val rankedMetricsSql: String =
    """  floor(CAST(SUM(sec_played) AS DOUBLE) / 3600.0 * 10.0 + 0.5) / 10.0 AS hours_played,
      |  COUNT(*) AS times_played,
      |  floor(CAST(SUM(percent_played) AS DOUBLE) / 100.0 + 0.5) AS estimated_full_streams,
      |  COUNT(CASE WHEN percent_played = 100.0 THEN 1 END) AS full_real_streams""".stripMargin

  /** Optional year/month predicate shared by the dm.top_* functions
    * (dm_ddl.sql:63–160): `(filter_year is null or year = filter_year) and
    * (filter_month is null or (filter_year is not null and month_num =
    * filter_month))` — the month filter only applies when a year is given,
    * exactly like the reference.
    */
  private def yearMonthFilter(filterYear: Option[Int], filterMonth: Option[Int]): Column = {
    import org.apache.spark.sql.functions.{col => c}
    val y = filterYear.map(v => c("ts_year") === v.toLong).getOrElse(lit(true))
    val m = (filterYear, filterMonth) match {
      case (Some(_), Some(mv)) => c("ts_month") === mv.toLong
      case _                   => lit(true)
    }
    y && m
  }

  /** (track partkey → cover_art_url) from the etl_json_nested extraction,
    * broadcast-joined into the dm.top_* outputs. The reference's top_*
    * return `max(cover_art_url)` per group ("random track cover art should
    * be good enough", dm_ddl.sql:76) — MAX over the group's own tracks'
    * covers mirrors that exactly.
    */
  private def coverArt(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.etl.EtlQueries.jsonNestedCore(spark, dir)
      .select($"p_partkey".as("ca_partkey"), $"cover_art_url")
  }

  private def coverAgg: Column = max(col("cover_art_url")).as("cover_art_url")

  /** dm.top_artists(filter_year, filter_month, return_limit)
    * (dm_ddl.sql:119) — ranked artists with optional year/month filters;
    * supplier dim broadcast; deterministic tie-break.
    */
  def topArtists(spark: SparkSession, dir: String,
      filterYear: Option[Int] = Some(1997), filterMonth: Option[Int] = None,
      returnLimit: Int = 10): DataFrame = {
    import spark.implicits._
    val sup = Tables.supplier(spark, dir).select($"s_suppkey", $"s_name")
    val aggs = rankedMetrics :+ coverAgg
    listeningFacts(spark, dir)
      .filter(yearMonthFilter(filterYear, filterMonth))
      .join(broadcast(sup), $"l_suppkey" === $"s_suppkey")
      .join(broadcast(coverArt(spark, dir)), $"l_partkey" === $"ca_partkey", "left")
      .groupBy($"s_name".as("artist"))
      .agg(aggs.head, aggs.tail: _*)
      .orderBy($"hours_played".desc, $"artist")
      .limit(returnLimit)
  }

  val topArtistsSql: String =
    s"""$fhCte, $coverCte
       |SELECT s_name AS artist,
       |$rankedMetricsSql,
       |  MAX(cover_art_url) AS cover_art_url
       |FROM fh JOIN supplier ON l_suppkey = s_suppkey
       |  LEFT JOIN ca ON fh.l_partkey = ca.ca_partkey
       |WHERE year(ts) = 1997
       |GROUP BY s_name
       |ORDER BY hours_played DESC, artist
       |LIMIT 10""".stripMargin

  /** Parent-variant mapping (track_parent_select.py): for parts sharing a
    * (name, brand), the parent is the min partkey. Window-min over the dim —
    * no extra shuffle beyond the dim's own partitioning.
    */
  def parentMap(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"p_name", $"p_brand")
    Tables.part(spark, dir)
      .select($"p_partkey", $"p_name", $"p_brand",
        min($"p_partkey").over(w).as("parent_partkey"))
  }

  /** dm.top_tracks(filter_year, filter_month, filter_artist, return_limit)
    * (dm_ddl.sql:91): track grain, variants collapsed into their parent via
    * the mapping left-join + coalesce, like the reference's
    * `coalesce(p.parent_track_title, dt.track_title)`; optional year/month/
    * artist filters.
    */
  def topTracks(spark: SparkSession, dir: String,
      filterYear: Option[Int] = None, filterMonth: Option[Int] = None,
      filterArtist: Option[String] = None, returnLimit: Int = 25): DataFrame = {
    import spark.implicits._
    val pm = parentMap(spark, dir)
    // the reference's top_tracks returns max(dt.cover_art_url) per group
    // (dm_ddl.sql:104): MAX over the member tracks' own covers
    val artistPred = filterArtist.map($"p_brand" === _).getOrElse(lit(true))
    val aggs = rankedMetrics :+ coverAgg
    listeningFacts(spark, dir)
      .filter(yearMonthFilter(filterYear, filterMonth))
      .join(broadcast(pm), $"l_partkey" === $"p_partkey", "left")
      .filter(artistPred)
      .join(broadcast(coverArt(spark, dir)), $"l_partkey" === $"ca_partkey", "left")
      .groupBy(
        coalesce($"p_name", lit("<unknown>")).as("track"),
        coalesce($"p_brand", lit("<unknown>")).as("artist"))
      .agg(aggs.head, aggs.tail: _*)
      .orderBy($"hours_played".desc, $"track", $"artist")
      .limit(returnLimit)
  }

  /** pm (parent-variant map) + ca (cover-art per partkey, the oracle twin
    * of etl_json_nested's extraction) CTEs shared by the dm.top_* SQLs
    * (lazy: referenced by SQL vals declared earlier in the file).
    */
  private lazy val coverCte: String =
    """pm AS (
      |  SELECT p_partkey, p_name, p_brand,
      |    MIN(p_partkey) OVER (PARTITION BY p_name, p_brand) AS parent_partkey
      |  FROM part
      |), staged AS (
      |  SELECT p_partkey, to_json(struct_pack(
      |    uri := 'track:' || p_partkey,
      |    name := p_name,
      |    album := struct_pack(images := [
      |      struct_pack(url := 'img://' || p_partkey || '/a', height := p_partkey % 400 + 241),
      |      struct_pack(url := 'img://' || p_partkey || '/b', height := 300),
      |      struct_pack(url := 'img://' || p_partkey || '/c', height := 64)])
      |  )) AS raw_json FROM part
      |), ca AS (
      |  SELECT p_partkey AS ca_partkey,
      |    list_filter(images, x -> x.height = list_max(list_transform(images, y -> y.height)))[1].url AS cover_art_url
      |  FROM (
      |    SELECT p_partkey,
      |      CAST(json_transform(raw_json, '{"album":{"images":[{"url":"VARCHAR","height":"BIGINT"}]}}').album.images
      |        AS STRUCT(url VARCHAR, height BIGINT)[]) AS images
      |    FROM staged)
      |)""".stripMargin

  val topTracksSql: String =
    s"""$fhCte, $coverCte
       |SELECT coalesce(p_name, '<unknown>') AS track, coalesce(p_brand, '<unknown>') AS artist,
       |$rankedMetricsSql,
       |  MAX(cover_art_url) AS cover_art_url
       |FROM fh LEFT JOIN pm ON l_partkey = pm.p_partkey
       |  LEFT JOIN ca ON fh.l_partkey = ca.ca_partkey
       |GROUP BY 1, 2
       |ORDER BY hours_played DESC, track, artist
       |LIMIT 25""".stripMargin

  /** dm.top_albums(filter_year, filter_month, return_limit, filter_artist)
    * (dm_ddl.sql:63): album (= brand) grain with optional filters.
    */
  def topAlbums(spark: SparkSession, dir: String,
      filterYear: Option[Int] = None, filterMonth: Option[Int] = None,
      returnLimit: Int = 10, filterArtist: Option[String] = None): DataFrame = {
    import spark.implicits._
    val pt = Tables.part(spark, dir).select($"p_partkey", $"p_brand", $"p_type")
    val artistPred = filterArtist.map($"p_type" === _).getOrElse(lit(true))
    val aggs = rankedMetrics :+ coverAgg
    listeningFacts(spark, dir)
      .filter(yearMonthFilter(filterYear, filterMonth))
      .join(broadcast(pt), $"l_partkey" === $"p_partkey")
      .filter(artistPred)
      .join(broadcast(coverArt(spark, dir)), $"l_partkey" === $"ca_partkey", "left")
      .groupBy($"p_brand".as("album"))
      .agg(aggs.head, aggs.tail: _*)
      .orderBy($"hours_played".desc, $"album")
      .limit(returnLimit)
  }

  val topAlbumsSql: String =
    s"""$fhCte, $coverCte
       |SELECT p_brand AS album,
       |$rankedMetricsSql,
       |  MAX(cover_art_url) AS cover_art_url
       |FROM fh JOIN part ON fh.l_partkey = part.p_partkey
       |  LEFT JOIN ca ON fh.l_partkey = ca.ca_partkey
       |GROUP BY p_brand
       |ORDER BY hours_played DESC, album
       |LIMIT 10""".stripMargin

  /** dm.album_stats(filter_album, filter_artist) (dm_ddl.sql:144):
    * drill-down inside one album — per-track minutes + estimated streams.
    * Role mapping: album = p_brand, album artist = p_type (the available
    * coarser grouping attribute standing in for the reference's artist).
    */
  def albumStats(spark: SparkSession, dir: String,
      filterAlbum: String = "Brand#13", filterArtist: Option[String] = None): DataFrame = {
    import spark.implicits._
    val artistPred = filterArtist.map($"p_type" === _).getOrElse(lit(true))
    val pt = Tables.part(spark, dir)
      .filter($"p_brand" === filterAlbum && artistPred)
      .select($"p_partkey", $"p_name")
    listeningFacts(spark, dir)
      .join(broadcast(pt), $"l_partkey" === $"p_partkey")
      .groupBy($"p_name".as("track"))
      .agg(
        r1(sum($"sec_played").cast("double") / lit(60.0)).as("min_listened"),
        r0(sum($"percent_played").cast("double") / lit(100.0)).as("total_estimated_streams"))
      .orderBy($"min_listened".desc, $"track")
  }

  val albumStatsSql: String =
    s"""$fhCte
       |SELECT p_name AS track,
       |  floor(CAST(SUM(sec_played) AS DOUBLE) / 60.0 * 10.0 + 0.5) / 10.0 AS min_listened,
       |  floor(CAST(SUM(percent_played) AS DOUBLE) / 100.0 + 0.5) AS total_estimated_streams
       |FROM fh JOIN part ON l_partkey = p_partkey
       |WHERE p_brand = 'Brand#13'
       |GROUP BY p_name
       |ORDER BY min_listened DESC, track""".stripMargin

  /** VARIANT_QUERY (track_parent_select.py:11): groups with >1 distinct
    * variant key and total playtime above threshold; variant keys emitted
    * as a sorted CSV string (engine-portable, deterministic).
    */
  def variantDetection(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val variants = Tables.part(spark, dir)
      .groupBy($"p_name", $"p_brand")
      .agg(
        countDistinct($"p_partkey").as("variant_count"),
        array_join(sort_array(collect_set($"p_partkey")), ",").as("part_keys"))
      .filter($"variant_count" > 1)
    val totals = listeningFacts(spark, dir)
      .join(broadcast(Tables.part(spark, dir).select($"p_partkey", $"p_name", $"p_brand")),
        $"l_partkey" === $"p_partkey")
      .groupBy($"p_name", $"p_brand")
      .agg((sum($"sec_played").cast("double") / lit(60.0)).as("total_time_min"))
    variants.join(totals, Seq("p_name", "p_brand"))
      .filter($"total_time_min" > 45.0)
      .select(
        $"p_name".as("track_title"), $"p_brand".as("artist_name"),
        $"variant_count", r1($"total_time_min").as("total_time_min"), $"part_keys")
      .orderBy(r1($"total_time_min").desc, $"track_title", $"artist_name")
  }

  val variantDetectionSql: String =
    s"""$fhCte, variants AS (
       |  SELECT p_name, p_brand,
       |    COUNT(DISTINCT p_partkey) AS variant_count,
       |    array_to_string(list_sort(list(DISTINCT p_partkey)), ',') AS part_keys
       |  FROM part
       |  GROUP BY p_name, p_brand
       |  HAVING COUNT(DISTINCT p_partkey) > 1
       |), totals AS (
       |  SELECT p_name, p_brand, CAST(SUM(sec_played) AS DOUBLE) / 60.0 AS total_time_min
       |  FROM fh JOIN part ON l_partkey = p_partkey
       |  GROUP BY p_name, p_brand
       |)
       |SELECT v.p_name AS track_title, v.p_brand AS artist_name,
       |  v.variant_count, floor(t.total_time_min * 10.0 + 0.5) / 10.0 AS total_time_min, v.part_keys
       |FROM variants v JOIN totals t ON v.p_name = t.p_name AND v.p_brand = t.p_brand
       |WHERE t.total_time_min > 45.0
       |ORDER BY floor(t.total_time_min * 10.0 + 0.5) / 10.0 DESC, track_title, artist_name""".stripMargin

  /** dm.top_tracks(1997, 5, null, 25) — the month-filter path of the
    * parameterized function, oracle-pinned (month only applies with year,
    * reference dm_ddl.sql:110).
    */
  val topTracksMonthSql: String =
    s"""$fhCte, $coverCte
       |SELECT coalesce(p_name, '<unknown>') AS track, coalesce(p_brand, '<unknown>') AS artist,
       |$rankedMetricsSql,
       |  MAX(cover_art_url) AS cover_art_url
       |FROM fh LEFT JOIN pm ON l_partkey = pm.p_partkey
       |  LEFT JOIN ca ON fh.l_partkey = ca.ca_partkey
       |WHERE year(ts) = 1997 AND month(ts) = 5
       |GROUP BY 1, 2
       |ORDER BY hours_played DESC, track, artist
       |LIMIT 25""".stripMargin

  /** Cohort LIFETIME-VALUE matrix — the monetized completion of
    * user_retention_cohort (retention counts who came back; this sums
    * what each signup month's class has consumed by age N): cohort =
    * a listener's first-listen month, age = whole months since, cell =
    * that cohort's listening value in that month plus the running
    * cumulative per founding member. Exactness: month age is pure
    * integer arithmetic ((Δyear)·12 + Δmonth — months_between() rounds
    * engine-specifically), period sums are DECIMAL-exact, the running
    * cumulative is a window SUM over decimals (exact in both engines),
    * and the per-user LTV is ONE final division — so the doubles
    * hash-match. The cumulative window runs over the cohorts×ages
    * AGGREGATE (bounded rows), never raw facts.
    */
  def cohortLtv(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val li  = Tables.lineitem(spark, dir).select($"l_orderkey", $"l_extendedprice")
    val ord = Tables.orders(spark, dir).select($"o_orderkey", $"o_custkey", $"o_orderdate")
    val ev = li.join(ord, $"l_orderkey" === $"o_orderkey")
      .select($"o_custkey".as("user_id"), $"o_orderdate".as("d"),
        dec($"l_extendedprice").as("v"))
    val firsts = ev.groupBy($"user_id").agg(min($"d").as("cd"))
    val sizes = firsts
      .groupBy(date_format($"cd", "yyyy-MM").as("cohort_month"))
      .agg(count(lit(1)).as("cohort_size"))
    val cells = ev.join(firsts, Seq("user_id"))
      .groupBy(date_format($"cd", "yyyy-MM").as("cohort_month"),
        ((year($"d") - year($"cd")) * 12 + (month($"d") - month($"cd")))
          .cast("long").as("age_months"))
      .agg(countDistinct($"user_id").as("n_active_users"),
        sum($"v").as("pv"))
    val wc = Window.partitionBy($"cohort_month").orderBy($"age_months")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cells
      .withColumn("cum", sum($"pv").over(wc))
      .join(broadcast(sizes), Seq("cohort_month"))
      .select($"cohort_month", $"age_months", $"n_active_users", $"cohort_size",
        $"pv".cast("double").as("period_value"),
        ($"cum".cast("double") / $"cohort_size").as("ltv_per_user"))
      .orderBy($"cohort_month", $"age_months")
  }

  val cohortLtvSql: String =
    """WITH ev AS (
      |  SELECT o_custkey AS user_id, o_orderdate AS d,
      |    CAST(l_extendedprice AS DECIMAL(12,2)) AS v
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |), firsts AS (
      |  SELECT user_id, MIN(d) AS cd FROM ev GROUP BY user_id
      |), sizes AS (
      |  SELECT strftime(cd, '%Y-%m') AS cohort_month,
      |    CAST(COUNT(*) AS BIGINT) AS cohort_size
      |  FROM firsts GROUP BY 1
      |), cells AS (
      |  SELECT strftime(f.cd, '%Y-%m') AS cohort_month,
      |    CAST((year(e.d) - year(f.cd)) * 12 + (month(e.d) - month(f.cd)) AS BIGINT)
      |      AS age_months,
      |    CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS n_active_users,
      |    SUM(e.v) AS pv
      |  FROM ev e JOIN firsts f USING (user_id)
      |  GROUP BY 1, 2
      |), cum AS (
      |  SELECT *, SUM(pv) OVER (PARTITION BY cohort_month ORDER BY age_months
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
      |  FROM cells
      |)
      |SELECT cohort_month, age_months, n_active_users, s.cohort_size,
      |  CAST(pv AS DOUBLE) AS period_value,
      |  CAST(c AS DOUBLE) / s.cohort_size AS ltv_per_user
      |FROM cum JOIN sizes s USING (cohort_month)
      |ORDER BY cohort_month, age_months""".stripMargin

  /** §2 entry `dm_metrics_unpivot` (round 12): the WIDE→LONG melt of the
    * monthly rollup — the inverse of `dm_pivot_event_types`, and the
    * relational op the pivot entry was missing its twin for. A metric
    * store / dashboard feed wants ONE (period, metric, value) stream
    * rather than a widening column set; Spark 3.4's native
    * `Dataset.unpivot` (melt) keeps it declarative — a generate-style
    * expansion with NO shuffle beyond the rollup's own aggregation, so
    * the long form costs exactly k output rows per input row at any
    * scale. Every metric casts to double EXACTLY (counts ≪ 2⁵³, the two
    * ratio metrics are already rounded doubles), so the entry is
    * hash-gated against DuckDB's standard `UNPIVOT (value FOR metric
    * IN …)` form — the variable column carries the source column names
    * in both engines.
    */
  def metricsUnpivot(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val metricCols = Seq("hours_listened", "total_streams_sessions",
      "nonskip_sessions", "total_estimated_streams", "distinct_tracks",
      "distinct_artists")
    val wide = monthlyAgg(spark, dir)
      .select($"year" +: $"month_num" +:
        metricCols.map(c => col(c).cast("double").as(c)): _*)
    wide.unpivot(
      Array($"year", $"month_num"),
      metricCols.map(col).toArray,
      "metric", "value")
      .orderBy($"year".desc, $"month_num".desc, $"metric")
  }

  val metricsUnpivotSql: String =
    s"""$fhCte
       |, m AS (
       |  SELECT CAST(year(ts) AS BIGINT) AS year, CAST(month(ts) AS BIGINT) AS month_num,
       |$aggMetricsSql
       |  FROM fh GROUP BY 1, 2
       |), w AS (
       |  SELECT year, month_num,
       |    CAST(hours_listened AS DOUBLE) AS hours_listened,
       |    CAST(total_streams_sessions AS DOUBLE) AS total_streams_sessions,
       |    CAST(nonskip_sessions AS DOUBLE) AS nonskip_sessions,
       |    CAST(total_estimated_streams AS DOUBLE) AS total_estimated_streams,
       |    CAST(distinct_tracks AS DOUBLE) AS distinct_tracks,
       |    CAST(distinct_artists AS DOUBLE) AS distinct_artists
       |  FROM m
       |)
       |SELECT year, month_num, metric, value
       |FROM w UNPIVOT (value FOR metric IN (hours_listened,
       |  total_streams_sessions, nonskip_sessions, total_estimated_streams,
       |  distinct_tracks, distinct_artists))
       |ORDER BY year DESC, month_num DESC, metric""".stripMargin

  /** §2 entry `dm_album_parent_rollup` — the PARENT-grain listening
    * rollup the reference's parent_tracks mapping exists to feed (its
    * dashboards read listening time with variant editions collapsed
    * onto the base album; album_mapping.sql's INSERTs are the manual
    * upstream of exactly this view): per parent album the total
    * minutes, the number of child albums collapsed into it, distinct
    * tracks, and estimated streams. The variant→base map is the SHARED
    * [[graft.core.ExtraQueries.albumParentMapOf]] prefix-collapse (one
    * definition, two consumers — map drift between the track-grain
    * entry and this rollup is impossible); albums with no base stand
    * as themselves via the left-join coalesce.
    *
    * Scale shape: the map and the (partkey → parent) routing table are
    * album/track-dimension-sized and enter the fact join as a
    * BROADCAST; one map-side-combined groupBy on the fact stream —
    * the dm_top_albums plan with a remapped key. Exactness: BIGINT
    * counts, DECIMAL sums, the shared r1/r0 half-up rounding — the
    * mart family's discipline.
    */
  def albumParentRollup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val part = Tables.part(spark, dir).select($"p_partkey", $"p_name", $"p_brand")
    val pmap = graft.core.ExtraQueries.albumParentMapOf(part)
    val routing = part.select($"p_partkey", $"p_brand")
      .join(broadcast(pmap), $"p_brand" === $"album", "left")
      .select($"p_partkey", $"p_brand".as("child_album"),
        coalesce($"parent_album", $"p_brand").as("parent_album"))
    listeningFacts(spark, dir)
      .join(broadcast(routing), $"l_partkey" === $"p_partkey")
      .groupBy($"parent_album")
      .agg(
        r1(sum($"sec_played").cast("double") / lit(60.0)).as("total_time_min"),
        countDistinct($"child_album").as("n_albums"),
        countDistinct($"l_partkey").as("n_tracks"),
        r0(sum($"percent_played").cast("double") / lit(100.0)).as("total_estimated_streams"))
      .orderBy($"total_time_min".desc, $"parent_album")
  }

  val albumParentRollupSql: String =
    s"""$fhCte, ${graft.core.ExtraQueries.albumParentCte}, wp AS (
       |  SELECT p_partkey, p_brand AS child_album,
       |    COALESCE(parent_album, p_brand) AS parent_album
       |  FROM part LEFT JOIN parentof ON p_brand = album
       |)
       |SELECT parent_album,
       |  floor(CAST(SUM(sec_played) AS DOUBLE) / 60.0 * 10.0 + 0.5) / 10.0 AS total_time_min,
       |  CAST(COUNT(DISTINCT child_album) AS BIGINT) AS n_albums,
       |  CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS n_tracks,
       |  floor(CAST(SUM(percent_played) AS DOUBLE) / 100.0 + 0.5) AS total_estimated_streams
       |FROM fh JOIN wp ON l_partkey = p_partkey
       |GROUP BY parent_album
       |ORDER BY total_time_min DESC, parent_album""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dm_album_parent_rollup" -> (albumParentRollup _),
    "dm_metrics_unpivot"    -> (metricsUnpivot _),
    "dm_cohort_ltv"         -> (cohortLtv _),
    "dm_yearly_agg"         -> (yearlyAgg _),
    "dm_monthly_agg"        -> (monthlyAgg _),
    "dm_all_time_agg"       -> (allTimeAgg _),
    "dm_top_artists"        -> ((s, d) => topArtists(s, d)),
    "dm_top_tracks"         -> ((s, d) => topTracks(s, d)),
    "dm_top_tracks_month"   -> ((s, d) => topTracks(s, d, filterYear = Some(1997), filterMonth = Some(5))),
    "dm_top_albums"         -> ((s, d) => topAlbums(s, d)),
    "dm_album_stats"        -> ((s, d) => albumStats(s, d)),
    "dm_variant_detection"  -> (variantDetection _)
  )

  val oracleSql: Map[String, String] = Map(
    "dm_album_parent_rollup" -> albumParentRollupSql,
    "dm_metrics_unpivot"   -> metricsUnpivotSql,
    "dm_cohort_ltv"        -> cohortLtvSql,
    "dm_yearly_agg"        -> yearlyAggSql,
    "dm_monthly_agg"       -> monthlyAggSql,
    "dm_all_time_agg"      -> allTimeAggSql,
    "dm_top_artists"       -> topArtistsSql,
    "dm_top_tracks"        -> topTracksSql,
    "dm_top_tracks_month"  -> topTracksMonthSql,
    "dm_top_albums"        -> topAlbumsSql,
    "dm_album_stats"       -> albumStatsSql,
    "dm_variant_detection" -> variantDetectionSql
  )
}
