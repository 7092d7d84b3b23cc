package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** `operators`: a fixed cohort of registry entries, each run to the
  * `noop` sink, in a seeded order per pass, one pass after another.
  */
object OperatorsWorkload {

  /** A cohort entry, the module layer it belongs to, and the artifact
    * its first call builds (persisted and served twins).
    */
  final case class Entry(name: String, layer: String, artifact: Option[String] = None)

  /** The three ALS entries (one of them persisted), a served twin and
    * light `core` entries, trimmed so that a run fits its time budget.
    */
  val cohort: Seq[Entry] = Seq(
    Entry("rec_als_implicit", "ops"),
    Entry("rec_als_topn_d4", "ops"),
    Entry("rec_als_topn_persisted", "ops", Some("als_factors")),
    Entry("events_forecast_holt_served", "streaming", Some("holt_state")),
    Entry("q18_large_orders", "core"),
    Entry("window_suite", "core"),
    Entry("sessionize_events", "core"))

  /** The scale the cohort runs at: each entry is dominated by per-job
    * work there, as it is at sf0.1, at a fraction of the run time.
    */
  val Scale = "sf0.01"

  /** Expected output per entry, recorded at the commit that defined the
    * benchmark: `name<TAB>rows<TAB>hash`.
    */
  val expectedFile = "perfbench/expected_outputs.tsv"

  def expected: Map[String, (Long, String)] =
    Files.readAllLines(Paths.get(expectedFile), StandardCharsets.UTF_8).asScala
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .map(_.split("\t")).map(a => a(0) -> (a(1).toLong, a(2))).toMap

  /** Doubles rounded to 6 decimals, so the last bits of a float sum do not
    * decide the check.
    */
  private def normalized(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType => round(c.cast(DoubleType), 6)
    case ArrayType(DoubleType | FloatType, _) => transform(c, x => round(x.cast(DoubleType), 6))
    case _ => c
  }

  /** Row count and an order-insensitive hash of the rows. */
  def rowsAndHash(df: DataFrame): (Long, String) = {
    val cols = df.schema.fields.map(f => normalized(col(s"`${f.name}`"), f.dataType))
    val r = df.select(xxhash64(cols: _*).cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), coalesce(sum(col("h")), lit(BigDecimal(0)))).collect()(0)
    (r.getLong(0), r.get(1).toString)
  }

  def run(c: Ctx): Unit = {
    val dir = s"${c.dataRoot}/$Scale"
    val entries = graft.SparkEntry.queries
    val expect = expected
    val rnd = new Random(c.seed)
    def call(e: Entry): DataFrame = entries(e.name)(c.spark, dir)

    // warm-up, four entries at a time: each entry's first call (JIT, code
    // generation, the persisted/served artifact build, and a check of its
    // output), then a second call; the first call's wall time includes the
    // artifact it builds
    val firstCall = new java.util.concurrent.ConcurrentHashMap[Entry, Double]()
    c.setup("warm-up") {
      c.concurrently(cohort.map(e => () => {
        val t0 = System.nanoTime()
        c.ledger.attempt(e.layer, e.name)(rowsAndHash(call(e))).foreach { got =>
          firstCall.put(e, (System.nanoTime() - t0) / 1e9)
          c.ledger.check(e.layer, s"${e.name} output") {
            val want = expect.get(e.name)
            if (!want.contains(got)) c.log(s"output of ${e.name}: ${got._1}\t${got._2}, expected $want")
            want.contains(got)
          }
        }
        c.ledger.attempt(e.layer, e.name)(Main.noop(call(e)))
        ()
      }))
    }

    val times = cohort.map(_ -> scala.collection.mutable.ArrayBuffer.empty[Double]).toMap
    // a traced run traces every other entry, alternating per pass; the
    // difference of an entry's traced and untraced runs is the tracing
    // overhead
    val traced = cohort.map(_ -> scala.collection.mutable.ArrayBuffer.empty[Double]).toMap
    val untraced = cohort.map(_ -> scala.collection.mutable.ArrayBuffer.empty[Double]).toMap
    // timed passes until the run length is used; a started pass completes.
    // A traced run makes at least two, so that every entry runs traced and
    // untraced
    val minPasses = if (c.tracer.isDefined) 2 else 1
    val deadline = System.nanoTime() + c.seconds * 1000000000L
    var pass = 0
    while (pass < minPasses || System.nanoTime() < deadline) {
      rnd.shuffle(cohort).foreach { e =>
        val tracedRun = c.tracer.isDefined && (cohort.indexOf(e) + pass) % 2 == 0
        c.ledger.attempt(e.layer, e.name) {
          c.timed(s"${e.layer}.${e.name}", tracedRun)(call(e))(Main.noop)
        }.foreach { s =>
          times(e) += s
          (if (tracedRun) traced(e) else untraced(e)) += s
        }
      }
      pass += 1
    }
    c.log(s"$pass timed passes")

    val med = cohort.filter(e => times(e).nonEmpty).map(e => e -> Stats.median(times(e).toSeq)).toMap
    require(med.size == cohort.size, "an entry failed in every timed pass")
    val all = times.values.flatten.toSeq
    val r = c.report
    r.put("pass_s", med.values.sum, "s")
    // entries differ by 10x in time: their geometric mean is the typical one
    r.put("op_latency_s", Stats.geomean(med.values.toSeq), "s")
    val tail = Stats.tail(all)
    r.notes += f"operators  entry runs: ${all.length}, median ${Stats.median(all)}%.4f s, " +
      f"tail p${tail.percentile}%.1f ${tail.value}%.4f s"

    c.tracer.foreach { t =>
      t.drain()
      cohort.foreach(e => r.put(s"${e.layer}.${e.name}_s", med(e), "s"))
      cohort.filter(_.name.startsWith("rec_als")).foreach { e =>
        val s = t.stats(s"ops.${e.name}")
        val n = math.max(s.calls, 1).toDouble
        r.put(s"ops.${e.name}.tasks", s.tasks / n, "count")
        r.put(s"ops.${e.name}.executor_cpu_s", s.cpuNs / 1e9 / n, "s")
        r.put(s"ops.${e.name}.cpu_utilisation", Tracer.utilisation(s, c.cores), "ratio")
      }
      Tracer.sparkMetrics(r, t.total(cohort.map(e => s"${e.layer}.${e.name}")), c.cores)
      cohort.foreach(e => e.artifact.foreach(a => r.put(s"artifacts.${a}_build_s", firstCall.get(e), "s")))
      r.put("artifacts.bytes", artifactBytes.toDouble, "B")
      val both = cohort.filter(e => traced(e).nonEmpty && untraced(e).nonEmpty)
      val base = both.map(e => Stats.median(untraced(e).toSeq)).sum
      val overhead = both.map(e => Stats.median(traced(e).toSeq)).sum - base
      r.put("trace.overhead_s", overhead, "s")
      r.put("trace.overhead_pct", if (base > 0) 100 * overhead / base else 0.0, "%")
    }
  }

  /** Bytes of the artifacts the program persisted under the JVM's
    * temporary directory (persisted indexes, served state).
    */
  def artifactBytes: Long = {
    val tmp = Paths.get(System.getProperty("java.io.tmpdir"))
    val s = Files.list(tmp)
    try s.iterator().asScala.filter(_.getFileName.toString.startsWith("graft"))
      .map(Workloads.bytesUnder).sum
    finally s.close()
  }
}
