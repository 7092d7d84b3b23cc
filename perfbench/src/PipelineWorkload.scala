package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.concurrent.atomic.AtomicReference

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

import graft.etl.{EtlQueries, Extractor}
import graft.mart.MartQueries
import graft.streaming.{EventsPipeline, MartStream}

/** `pipeline`: the reference's loop. A full load (JSON history → staging
  * delta → dims → facts → marts), then delta refreshes in a closed loop
  * with one producer: the next time-ordered slice of listening facts and
  * the matching `events` slice land as files, Structured Streaming folds
  * them into the mart state and sessionizes the events, and the refreshed
  * marts are served before the next slice lands.
  */
object PipelineWorkload {

  val Scale = "sf0.01"
  val artifactKinds: Seq[String] = Seq("mart_state")
  private val SliceDays = 7
  /** Delta slices after the cutoff: more than a run lands. */
  private val Slices = 12

  /** The seeded dashboard parameters the load's rankings use. */
  final case class Params(year: Int, month: Int, brand: String, ptype: String)

  private def events(c: Ctx, dir: String): Seq[HistoryGen.Event] = {
    import c.spark.implicits._
    graft.Tables.events(c.spark, dir)
      .select($"event_id", unix_micros($"ts"), $"user_id", $"event_type", $"value")
      .collect().toSeq
      .map(r => HistoryGen.Event(r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3), r.getDouble(4)))
  }

  private def params(c: Ctx, dir: String): Params = {
    import c.spark.implicits._
    val rnd = new Random(c.seed)
    val part = graft.Tables.part(c.spark, dir)
    val brands = part.select($"p_brand").distinct().as[String].collect().sorted
    val types = part.select($"p_type").distinct().as[String].collect().sorted
    Params(1995 + rnd.nextInt(6), 1 + rnd.nextInt(12), brands(rnd.nextInt(brands.length)),
      types(rnd.nextInt(types.length)))
  }

  /** One step of the load: a public call and the action that
    * materializes its result, and the per-layer metric it counts towards.
    */
  private final case class Step(metric: String, name: String, build: () => DataFrame,
      action: DataFrame => Unit) {
    def layer: String = metric.takeWhile(_ != '.')
    def span: String = metric.stripSuffix("_s")
  }

  /** The full load, each step materialized once. */
  private def loadSteps(c: Ctx, h: HistoryGen.History, dir: String, p: Params, out: Path,
      yearly: AtomicReference[Seq[Row]]): Seq[Step] = {
    val spark = c.spark
    def noop(metric: String, name: String)(build: => DataFrame) = Step(metric, name, () => build, Main.noop)
    def write(path: Path)(df: DataFrame): Unit = df.write.mode("overwrite").parquet(path.toString)
    Seq(
      Step("etl.extract_s", "staging delta", () => {
        val (clean, _) = Extractor.cleanHistory(Extractor.readHistoryJson(spark, h.dir.toString))
        val (loaded, _) = Extractor.cleanHistory(Extractor.readHistoryJson(spark, h.loadedGlob))
        Extractor.deltaLoad(clean, loaded)
      }, write(out.resolve("staging"))),
      Step("etl.extract_s", "quarantine",
        () => Extractor.cleanHistory(Extractor.readHistoryJson(spark, h.dir.toString))._2,
        write(out.resolve("quarantine"))),
      noop("etl.dims_s", "dim_date")(EtlQueries.dimDate(spark, dir)),
      noop("etl.dims_s", "dim_time")(EtlQueries.dimTime(spark, dir)),
      noop("etl.dims_s", "dim_reason")(EtlQueries.dimReason(spark, dir)),
      noop("etl.new_items_s", "new_items")(EtlQueries.newItems(spark, dir)),
      noop("etl.new_items_s", "enrich_metadata")(EtlQueries.enrichMetadata(spark, dir)),
      noop("etl.facts_s", "fact_build")(EtlQueries.factBuildCore(spark, dir)),
      // collected: the streamed rollup is checked against it
      Step("mart.rollup_s", "yearly", () => MartQueries.yearlyAgg(spark, dir), df => yearly.set(df.collect().toSeq)),
      noop("mart.rollup_s", "monthly")(MartQueries.monthlyAgg(spark, dir)),
      noop("mart.rollup_s", "all_time")(MartQueries.allTimeAgg(spark, dir)),
      noop("mart.rank_s", "top_artists")(MartQueries.topArtists(spark, dir, Some(p.year), Some(p.month))),
      noop("mart.rank_s", "top_tracks")(MartQueries.topTracks(spark, dir, Some(p.year), None, Some(p.brand))),
      noop("mart.rank_s", "top_albums")(MartQueries.topAlbums(spark, dir, Some(p.year), Some(p.month), 10, None)),
      noop("mart.rank_s", "album_stats")(MartQueries.albumStats(spark, dir, p.brand, Some(p.ptype))),
      noop("mart.variant_s", "variant_detection")(MartQueries.variantDetection(spark, dir)))
  }

  /** Run the load's steps one after another; wall seconds per metric. */
  private def load(c: Ctx, steps: Seq[Step], traced: Boolean): Seq[(String, Double)] =
    steps.map { s =>
      s.metric -> c.ledger.attempt(s.layer, s.name)(c.timed(s.span, traced)(s.build())(s.action)).getOrElse(0.0)
    }.groupMapReduce(_._1)(_._2)(_ + _).toSeq

  /** The refresh loop's inputs: slice -1 holds the listening facts before
    * a seeded cutoff (the history), slices 0.. the 7-day deltas after it,
    * each with the matching `events` slice.
    */
  private final case class SliceFiles(root: Path, count: Int, factSchema: StructType, eventSchema: StructType)

  private def writeSlices(c: Ctx, dir: String, root: Path): SliceFiles = {
    import c.spark.implicits._
    val widthSec = SliceDays * 86400L
    val facts = MartQueries.listeningFacts(c.spark, dir)
    val ev = graft.Tables.events(c.spark, dir).select($"event_id", $"ts", $"user_id", $"event_type", $"value")
    // `ts` may be TIMESTAMP_NTZ; the session time zone is UTC
    val sec = unix_seconds($"ts".cast("timestamp"))
    val Row(fMin: Long, fMax: Long) = facts.agg(min(sec), max(sec)).head()
    val Row(eMin: Long, eMax: Long) = ev.agg(min(sec), max(sec)).head()
    // the cutoff leaves more delta slices than a run lands, and moves with
    // the seed
    val cutoffSec = (fMax / 86400L - Slices * SliceDays - new Random(c.seed).nextInt(SliceDays * 4)) * 86400L
    def sliceOf(t: org.apache.spark.sql.Column) =
      when(t < lit(cutoffSec), lit(-1)).otherwise(floor((t - lit(cutoffSec)) / lit(widthSec)).cast("int"))
    facts.withColumn("slice", sliceOf(sec))
      .repartition($"slice").write.partitionBy("slice").parquet(root.resolve("facts_slices").toString)
    // an event lands with the slice at the same fraction of the facts' span
    ev.withColumn("slice", sliceOf(lit(fMin) + (sec - lit(eMin)).cast("double") /
        lit((eMax - eMin).toDouble) * lit((fMax - fMin).toDouble)))
      .repartition($"slice").write.partitionBy("slice").parquet(root.resolve("events_slices").toString)
    SliceFiles(root, ((fMax - cutoffSec) / widthSec + 1).toInt, facts.schema, ev.schema)
  }

  /** The refresh loop's streams. The producer lands a slice by moving its
    * files into the directories the streams watch.
    */
  private final class Refresh(c: Ctx, dir: String, sf: SliceFiles) {
    import c.spark.implicits._
    private val spark = c.spark
    private val w = sf.root
    val state: String = w.resolve("mart_state").toString
    val slices: Int = sf.count
    private val factsIn = Files.createDirectories(w.resolve("facts_in"))
    private val eventsIn = Files.createDirectories(w.resolve("events_in"))

    /** Land slice `k` (-1 is the history before the cutoff). */
    def land(k: Int): Unit =
      Seq("facts" -> factsIn, "events" -> eventsIn).foreach { case (kind, in) =>
        val d = w.resolve(s"${kind}_slices").resolve(s"slice=$k")
        if (Files.isDirectory(d)) {
          val files = Files.list(d)
          try files.iterator().asScala.filter(_.getFileName.toString.endsWith(".parquet")).foreach { f =>
            Files.move(f, in.resolve(s"slice$k-${f.getFileName}"), StandardCopyOption.ATOMIC_MOVE)
          } finally files.close()
        }
      }

    private def start(name: String)(q: => StreamingQuery): StreamingQuery =
      c.tracer.fold(q)(_.span(s"streaming.$name")(q))

    land(-1)
    val martQ: StreamingQuery = start("mart_fold") {
      MartStream.yearlyAggSink(spark.readStream.schema(sf.factSchema).parquet(factsIn.toString), state)
        .option("checkpointLocation", w.resolve("ckpt_mart").toString)
        .queryName("mart_fold").start()
    }
    val sessionsQ: StreamingQuery = start("sessionize") {
      EventsPipeline.sessionize(
          spark.readStream.schema(sf.eventSchema).parquet(eventsIn.toString).as[EventsPipeline.Event])
        .writeStream.format("noop").outputMode("append")
        .option("checkpointLocation", w.resolve("ckpt_sessions").toString)
        .queryName("sessionize").start()
    }

    def settle(): Unit = { martQ.processAllAvailable(); sessionsQ.processAllAvailable() }

    /** Serve both dashboard views from the committed state. */
    def serve(traced: Boolean): Unit = {
      c.timed("mart.serve", traced)(MartStream.serveYearly(spark, state))(df => { df.collect(); () })
      c.timed("mart.serve", traced)(MartStream.serveTopArtists(spark, state, dir))(df => { df.collect(); () })
    }

    def stop(): Unit = { martQ.stop(); sessionsQ.stop() }
  }

  def run(c: Ctx): Unit = {
    val spark = c.spark
    val dir = s"${c.dataRoot}/$Scale"
    val hist = c.offClock("generate history")(HistoryGen.write(events(c, dir), c.seed, c.work.resolve("history")))
    c.log(s"history: ${hist.lines} lines in ${hist.files.length} files, ${hist.injected} injected defects")
    val p = c.setup("parameters")(params(c, dir))
    // the slices are written alongside the warm-up
    var slices: SliceFiles = null
    c.setup("warm-up load, slices") {
      val steps = loadSteps(c, hist, dir, p, c.work.resolve("warm_out"), new AtomicReference(Nil))
      c.concurrently((() => { slices = writeSlices(c, dir, c.work.resolve("refresh")) }) +:
        steps.map(s => () => c.ledger.attempt(s.layer, s.name)(s.action(s.build())).fold(())(_ => ())))
    }

    val traced = c.tracer.isDefined
    val out = c.work.resolve("out")
    val t0 = System.nanoTime()
    val yearly = new AtomicReference[Seq[Row]](Nil)
    val layers = load(c, loadSteps(c, hist, dir, p, out, yearly), traced)
    val loadS = (System.nanoTime() - t0) / 1e9
    val r = c.report
    r.put("pass_s", loadS, "s")

    val staged = spark.read.parquet(out.resolve("staging").toString).count()
    val quarantined = spark.read.parquet(out.resolve("quarantine").toString).count()
    c.ledger.check("etl", "quarantine rows equal the injected defects")(quarantined == hist.injected)
    c.ledger.check("etl", "staged rows equal the rows past the watermark")(staged == hist.expectedDelta)

    var stateBuildS = 0.0
    val refresh = c.setup("history fold") {
      val rf = new Refresh(c, dir, slices)
      val t1 = System.nanoTime()
      rf.settle() // the history lands as the first batch: the mart state build
      stateBuildS = (System.nanoTime() - t1) / 1e9
      rf
    }
    c.setup("warm-up refresh") { refresh.land(0); refresh.settle(); refresh.serve(traced = false) }
    var k = 1
    val latencies = mutable.ArrayBuffer.empty[Double]
    val tracedLat, untracedLat = mutable.ArrayBuffer.empty[Double]
    val serveS = mutable.ArrayBuffer.empty[Double]
    val streamSpans = Seq("streaming.mart_fold", "streaming.sessionize")
    val streamWork = new SpanStats
    val progressFrom = c.tracer.map(t => t.progress.synchronized(t.progress.length)).getOrElse(0)
    val deadline = System.nanoTime() + c.seconds * 1000000000L
    while ((latencies.isEmpty || System.nanoTime() < deadline) && k < refresh.slices) {
      // a traced run alternates traced and untraced refreshes; their
      // difference is the tracing overhead
      val tracedStep = traced && k % 2 == 0
      val before = if (tracedStep) c.tracer.map { t => t.drain(); t.total(streamSpans) } else None
      refresh.land(k)
      val t1 = System.nanoTime() // both slice files are complete
      c.ledger.attempt("streaming", s"refresh $k") {
        refresh.settle()
        val ts = System.nanoTime()
        refresh.serve(tracedStep)
        serveS += (System.nanoTime() - ts) / 1e9
      }.foreach { _ =>
        val s = (System.nanoTime() - t1) / 1e9
        latencies += s
        (if (tracedStep) tracedLat else untracedLat) += s
      }
      for (t <- c.tracer; b <- before) { t.drain(); streamWork.add(t.total(streamSpans).add(b, -1)) }
      k += 1
    }
    c.log(s"${latencies.length} timed refreshes")
    r.put("op_latency_s", Stats.median(latencies.toSeq), "s")
    val tail = Stats.tail(latencies.toSeq)
    r.put("refresh.tail_s", tail.value, "s")
    r.notes += f"pipeline  pipeline_refresh_tail_s is p${tail.percentile}%.1f of ${tail.samples} refreshes: " +
      latencies.map(x => f"$x%.3f").mkString(" ")

    c.tracer.foreach { t =>
      t.drain()
      layers.foreach { case (n, s) => r.put(n, s, "s") }
      r.put("etl.extract_rows", staged.toDouble, "count")
      r.put("etl.quarantine_rows", quarantined.toDouble, "count")
      r.put("mart.serve_s", Stats.median(serveS.toSeq), "s")
      r.put("mart.state_bytes", stateBytes(refresh.state).toDouble, "B")
      r.put("artifacts.mart_state_build_s", stateBuildS, "s")
      r.put("artifacts.bytes", (stateBytes(refresh.state) + OperatorsWorkload.artifactBytes).toDouble, "B")
      streamingMetrics(c, t, progressFrom)
      // the traced operations: every load call and every traced refresh
      // (its stream batches and its two serve calls)
      val loadSpans = t.spanNames.filter(n => n.startsWith("etl.") || n.startsWith("mart.") && n != "mart.serve")
      val all = t.total(loadSpans :+ "mart.serve")
      all.add(streamWork)
      all.calls = t.total(loadSpans).calls + tracedLat.length
      all.wallS = t.total(loadSpans).wallS + tracedLat.sum
      Tracer.sparkMetrics(r, all, c.cores)
      val overhead = Stats.median(tracedLat.toSeq) - Stats.median(untracedLat.toSeq)
      r.put("trace.overhead_s", overhead, "s")
      r.put("trace.overhead_pct", 100 * overhead / Stats.median(untracedLat.toSeq), "%")
    }

    // the rest of the deltas land at once; the streamed marts must then
    // equal the one-shot marts over all facts
    c.offClock("final fold") {
      (k until refresh.slices).foreach(refresh.land)
      refresh.settle()
    }
    c.ledger.check("mart", "streamed yearly rollup equals MartQueries.yearlyAgg") {
      MartStream.serveYearly(spark, refresh.state).collect().toSeq == yearly.get
    }
    c.ledger.check("mart", "served top artists equal MartQueries.topArtists(1997)") {
      val served = MartStream.serveTopArtists(spark, refresh.state, dir)
      val oneShot = MartQueries.topArtists(spark, dir, Some(1997))
      val shared = served.columns.filter(oneShot.columns.contains).toSeq
      served.select(shared.map(col): _*).collect().toSeq == oneShot.select(shared.map(col): _*).collect().toSeq
    }
    refresh.stop()
  }

  private def stateBytes(state: String): Long = {
    val ptr = java.nio.file.Paths.get(state, "_latest")
    if (!Files.exists(ptr)) 0L
    else Workloads.bytesUnder(java.nio.file.Paths.get(state, "v" + new String(Files.readAllBytes(ptr)).trim))
  }

  /** Per-batch stream progress of the timed refreshes. */
  private def streamingMetrics(c: Ctx, t: Tracer, from: Int): Unit = {
    val events = t.progress.synchronized(t.progress.drop(from).map(_.progress).toSeq)
      .filter(_.numInputRows > 0)
    val r = c.report
    val trigger = events.map(p => p.durationMs.getOrDefault("triggerExecution", 0L) / 1e3)
    r.put("streaming.batch_s", if (trigger.isEmpty) 0.0 else Stats.median(trigger), "s")
    val rows = events.map(_.numInputRows).sum
    r.put("streaming.input_rows_per_s", if (trigger.sum > 0) rows / trigger.sum else 0.0, "1/s")
    val fold = events.filter(_.name == "mart_fold").map(p => p.durationMs.getOrDefault("addBatch", 0L) / 1e3)
    r.put("mart.fold_s", if (fold.isEmpty) 0.0 else Stats.median(fold), "s")
    val sessions = events.filter(_.name == "sessionize").filter(_.stateOperators.nonEmpty)
    val stateRows = sessions.map(_.stateOperators.head.numRowsTotal)
    r.put("streaming.state_rows", stateRows.lastOption.getOrElse(0L).toDouble, "count")
    r.put("streaming.state_memory_bytes",
      sessions.lastOption.map(_.stateOperators.head.memoryUsedBytes).getOrElse(0L).toDouble, "B")
    r.notes += s"pipeline  streaming.state_rows per batch: ${stateRows.mkString(" ")}"
  }
}
