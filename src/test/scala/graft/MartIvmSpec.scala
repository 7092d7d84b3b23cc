package graft

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.functions._

/** The incremental mart rollup: state-fold ≡ one-shot aggregation, serve
  * never touches the fact table, and the retraction algebra really
  * deletes.
  */
class MartIvmSpec extends SparkSuite {

  test("incremental yearly rollup == one-shot rollup; serve reads state only") {
    val oneShot = mart.MartQueries.yearlyAgg(spark, sf).collect().map(_.toSeq).toSeq
    val df = mart.IncrementalMart.dmYearlyAggIncremental(spark, sf)
    val inc = df.collect().map(_.toSeq).toSeq
    assert(inc.nonEmpty && inc == oneShot,
      "backfill + two appended batches diverged from a full re-aggregation")
    // serve plan: every file scan is under the state path — the fact
    // tables (lineitem/orders) are never read at refresh time
    val statePath = mart.IncrementalMart.persistedYearlyStatePath(spark, sf)
      .getOrElse(fail("entry did not populate the state cache"))
    val scans = tools.PlanWalk.flatten(df.queryExecution.executedPlan)
      .collect { case f: FileSourceScanExec => f.toString }
    assert(scans.nonEmpty && scans.forall(_.contains(statePath)),
      s"serve plan reads outside the state:\n${scans.mkString("\n")}")
    // second call: cache hit, same rows
    assert(mart.IncrementalMart.dmYearlyAggIncremental(spark, sf)
      .collect().map(_.toSeq).toSeq == inc)
  }

  test("serve is one join-free aggregation over one scan of the state table") {
    val df = mart.IncrementalMart.dmYearlyAggIncremental(spark, sf)
    df.collect()
    val statePath = mart.IncrementalMart.persistedYearlyStatePath(spark, sf)
      .getOrElse(fail("entry did not populate the state cache"))
    val plan = tools.PlanWalk.flatten(df.queryExecution.executedPlan)
    val joins = plan.collect { case j: BaseJoinExec => j.nodeName }
    assert(joins.isEmpty, s"serve plan joins: ${joins.mkString(", ")}")
    val scans = plan.collect { case f: FileSourceScanExec => f.toString }
    assert(scans.length == 1 && scans.head.contains(statePath),
      s"serve plan must scan the state table exactly once:\n${scans.mkString("\n")}")
  }

  test("one state, many views: top-artists serves from the same state, facts unread") {
    val df = mart.IncrementalMart.dmTopArtistsIncremental(spark, sf)
    val rows = df.collect().map(_.toSeq).toSeq
    assert(rows.nonEmpty)
    val statePath = mart.IncrementalMart.persistedYearlyStatePath(spark, sf)
      .getOrElse(fail("entry did not populate the state cache"))
    // every scan is the state tree or the supplier DIM (dims are not
    // state); the fact tables are never read
    val scans = tools.PlanWalk.flatten(df.queryExecution.executedPlan)
      .collect { case f: FileSourceScanExec => f.toString }
    assert(scans.nonEmpty, "no file scans in serve plan")
    scans.foreach(s => assert(s.contains(statePath) || s.contains("supplier"),
      s"top-artists serve read outside state+dim:\n$s"))
    assert(!scans.exists(s => s.contains("lineitem") || s.contains("orders")))
  }

  test("streaming fold: versioned commits == one-shot, retries exact-once, vacuum safe") {
    import spark.implicits._
    val facts = mart.MartQueries.listeningFacts(spark, sf)
    val path = java.nio.file.Files.createTempDirectory("graft_mart_stream").toString
    val b0 = facts.filter($"ts" < "1997-01-01")
    val b1 = facts.filter($"ts" >= "1997-01-01" && $"ts" < "1999-01-01")
    val b2 = facts.filter($"ts" >= "1999-01-01")
    Seq(b0, b1, b2).foreach(b => assert(!b.isEmpty, "fixture batch empty"))
    streaming.MartStream.yearlyFold(b0, path, 0L)
    streaming.MartStream.yearlyFold(b1, path, 1L)
    // crash simulation: v2 was written but the pointer never moved — the
    // foreachBatch retry must recompute v2 from the same inputs and land
    // on the identical state
    mart.IncrementalMart.foldVersioned(b2, path, Some(1L), 2L)
    assert(streaming.MartStream.currentVersion(path).contains(1L))
    streaming.MartStream.yearlyFold(b2, path, 2L)
    assert(streaming.MartStream.currentVersion(path).contains(2L))
    val served = streaming.MartStream.serveYearly(spark, path).collect().map(_.toSeq).toSeq
    val oneShot = mart.MartQueries.yearlyAgg(spark, sf).collect().map(_.toSeq).toSeq
    assert(served == oneShot, "streamed state diverges from full re-aggregation")
    // replayed batch AFTER its pointer moved: pure no-op
    streaming.MartStream.yearlyFold(b2, path, 2L)
    assert(streaming.MartStream.serveYearly(spark, path)
      .collect().map(_.toSeq).toSeq == served)
    // vacuum drops only superseded versions; the served rollup is untouched
    val dropped = streaming.MartStream.vacuumVersions(path)
    assert(dropped == Seq(0L, 1L), s"vacuumed $dropped")
    assert(streaming.MartStream.serveYearly(spark, path)
      .collect().map(_.toSeq).toSeq == served)
    // one state, many views holds for the STREAMED mart too: the same
    // committed version serves the ranked top-artists view identically
    // to the batch incremental entry
    val streamedTop = streaming.MartStream.serveTopArtists(spark, path, sf)
      .collect().map(_.toSeq).toSeq
    val batchTop = mart.IncrementalMart.dmTopArtistsIncremental(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(streamedTop.nonEmpty && streamedTop == batchTop,
      "streamed state ranks top artists differently from the batch state")
  }

  test("retraction: append(B) then retract(B) is a no-op, distincts drop with support") {
    import spark.implicits._
    val facts = mart.MartQueries.listeningFacts(spark, sf)
    val path = java.nio.file.Files.createTempDirectory("graft_mart_ivm").toString
    val landed = facts.filter($"ts" < "1996-01-01")
    val b = facts.filter($"ts" >= "1996-01-01").localCheckpoint()
    mart.IncrementalMart.appendToYearlyState(landed, path)
    val before = mart.IncrementalMart.serveYearlyAgg(spark, path).collect().map(_.toSeq).toSeq
    mart.IncrementalMart.appendToYearlyState(b, path)
    val withB = mart.IncrementalMart.serveYearlyAgg(spark, path).collect().map(_.toSeq).toSeq
    assert(withB != before, "fixture batch changed nothing")
    mart.IncrementalMart.retractFromYearlyState(b, path)
    val after = mart.IncrementalMart.serveYearlyAgg(spark, path).collect().map(_.toSeq).toSeq
    assert(after == before, "retraction did not restore the pre-append state")
    // support keys whose counts cancelled must not count as distinct: the
    // retracted years (1996+) are gone from the served rollup entirely
    assert(after.forall(r => r.head.asInstanceOf[Long] < 1996L ||
      withB.exists(w => w.head == r.head)), "sanity")
    assert(!after.exists(r => r.head.asInstanceOf[Long] >= 1996L) ||
      before.exists(r => r.head.asInstanceOf[Long] >= 1996L))
  }
}
