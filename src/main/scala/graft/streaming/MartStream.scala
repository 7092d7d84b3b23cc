package graft.streaming

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.mart.IncrementalMart

/** Streaming maintenance of the incremental mart rollup — the dashboard
  * that is always current: fact micro-batches fold into the persisted
  * mergeable state ([[IncrementalMart]]'s sums + support rows), so the
  * yearly rollup refreshes at O(state + batch) per batch while serving
  * bit-identical numbers to a full re-aggregation.
  *
  * Exactly-once under at-least-once delivery by VERSIONED COMMIT (the
  * MVCC discipline, stricter than the marker-table guard the anomaly fold
  * uses, because a multi-file Parquet overwrite is not atomic and a
  * reader or a crash could observe it half-written): batch `id` folds
  * (state at `_latest`) + batch into a fresh `v<id>/` table — never in
  * place — and only then the `_latest` pointer file is atomically
  * replaced. A retry that crashed BEFORE the pointer moved recomputes
  * the identical `v<id>` from the identical inputs (the fold is
  * deterministic); a retry AFTER sees the pointer already at `id` and
  * no-ops. Served state is always a fully written version. Superseded
  * versions are garbage, reclaimed by [[vacuumVersions]] (the
  * compaction-cadence discipline).
  *
  * `facts` must be a streaming DataFrame in the
  * [[graft.mart.MartQueries.listeningFacts]] shape.
  */
object MartStream {

  def yearlyAggSink(facts: DataFrame, statePath: String): org.apache.spark.sql.streaming.DataStreamWriter[Row] =
    facts.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) => yearlyFold(batch, statePath, batchId) }

  /** The per-batch body of [[yearlyAggSink]], factored out for direct
    * tests.
    */
  private[graft] def yearlyFold(batch: DataFrame, statePath: String, batchId: Long): Unit = {
    val cur = currentVersion(statePath)
    if (cur.exists(_ >= batchId)) return // pointer already past this id: replayed batch, no-op
    if (batch.isEmpty) return
    IncrementalMart.foldVersioned(batch, statePath, cur, batchId)
    setVersion(statePath, batchId)
  }

  /** Serve the rollup from the committed version (empty before the first
    * commit).
    */
  def serveYearly(spark: SparkSession, statePath: String): DataFrame =
    currentVersion(statePath) match {
      case Some(v) => IncrementalMart.serveYearlyAgg(spark, s"$statePath/v$v")
      case None    => spark.emptyDataFrame
    }

  /** The ranked top-artists view from the SAME committed version — the
    * one-state-many-views property holds for the streamed mart too
    * (serve core shared with the batch entry; `dir` supplies the
    * supplier dim, which is not state).
    */
  def serveTopArtists(spark: SparkSession, statePath: String, dir: String): DataFrame =
    currentVersion(statePath) match {
      case Some(v) => IncrementalMart.serveTopArtists(spark, s"$statePath/v$v", dir)
      case None    => spark.emptyDataFrame
    }

  /** Drop state versions superseded by the pointer — pure directory
    * removal, I/O proportional to garbage, never touches the served
    * version.
    */
  def vacuumVersions(statePath: String): Seq[Long] = {
    val root = new java.io.File(statePath)
    if (!root.isDirectory) return Seq.empty
    val keep = currentVersion(statePath)
    val dropped = root.listFiles().toSeq
      .filter(f => f.isDirectory && f.getName.startsWith("v"))
      .flatMap(f => scala.util.Try(f.getName.stripPrefix("v").toLong).toOption.map(f -> _))
      .filter { case (_, v) => !keep.contains(v) }
    dropped.foreach { case (f, _) =>
      def rm(x: java.io.File): Unit = {
        if (x.isDirectory) x.listFiles().foreach(rm)
        x.delete(); ()
      }
      rm(f)
    }
    dropped.map(_._2).sorted
  }

  private def pointer(statePath: String) = Paths.get(statePath, "_latest")

  private[graft] def currentVersion(statePath: String): Option[Long] =
    if (Files.exists(pointer(statePath)))
      Some(new String(Files.readAllBytes(pointer(statePath)), StandardCharsets.UTF_8).trim.toLong)
    else None

  /** Atomic pointer replacement: write-temp + ATOMIC_MOVE, so a reader
    * (or a crash) never observes a torn pointer.
    */
  private def setVersion(statePath: String, v: Long): Unit = {
    Files.createDirectories(Paths.get(statePath))
    val tmp = Paths.get(statePath, s"_latest.tmp.$v")
    Files.write(tmp, v.toString.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, pointer(statePath),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    ()
  }
}
