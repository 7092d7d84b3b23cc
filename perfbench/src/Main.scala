package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** What one workload run shares: the session, the seed, the clocks, the
  * ledger of operations and the report.
  */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Int,
    val tracer: Option[Tracer], val dataRoot: String, val work: Path) {
  val cores: Int = Main.Cores
  val report = new Report
  val ledger = new Ledger
  private var setupNs = 0L

  def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  private def clocked[A](what: String)(body: => A): (A, Long) = {
    val t0 = System.nanoTime()
    val out = body
    val ns = System.nanoTime() - t0
    log(f"$what: ${ns / 1e9}%.2f s")
    (out, ns)
  }

  /** Untimed work that counts towards `setup_s`: warm-up and state builds. */
  def setup[A](what: String)(body: => A): A = {
    val (out, ns) = clocked(s"setup $what")(body)
    setupNs += ns
    out
  }

  /** Input generation and the final checks: logged, counted towards no
    * metric.
    */
  def offClock[A](what: String)(body: => A): A = clocked(what)(body)._1

  /** Run independent warm-up tasks on one thread per core. Warm-up is
    * bound by single-threaded driver work (class loading, code
    * generation, JIT), so running it concurrently shortens set-up; every
    * timed operation runs alone.
    */
  def concurrently(tasks: Seq[() => Unit]): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(cores)
    try tasks.map(t => pool.submit(new Runnable { def run(): Unit = t() })).foreach(_.get())
    finally pool.shutdown()
  }

  /** JVM and session start plus every `setup` block. */
  def setupSeconds(sessionReadyNs: Long): Double = (sessionReadyNs + setupNs) / 1e9

  /** Time one public call and its action. Traced calls are phase-split
    * and attributed to `span`; untraced calls run as a user would run
    * them.
    */
  def timed(span: String, traced: Boolean)(build: => DataFrame)(action: DataFrame => Unit): Double = {
    val t0 = System.nanoTime()
    tracer match {
      case Some(t) if traced => t.split(span)(build)(action)
      case _ => action(build)
    }
    (System.nanoTime() - t0) / 1e9
  }
}

object Main {
  val Cores = 4

  /** End-to-end metrics, printed with tracing off. */
  val EndToEnd: Seq[String] = Seq("setup_s", "pass_s", "op_latency_s")

  def noop(df: DataFrame): Unit = df.write.mode("overwrite").format("noop").save()

  private def arg(args: Array[String], name: String): Option[String] = {
    val i = args.indexOf(name)
    if (i >= 0 && i + 1 < args.length) Some(args(i + 1)) else None
  }

  def session(): SparkSession = graft.GraftSession.local(Cores)

  def main(args: Array[String]): Unit = {
    val workload = arg(args, "--workload").getOrElse(sys.error("--workload is required"))
    val seed = arg(args, "--seed").map(_.toLong).getOrElse(sys.error("--seed is required"))
    val seconds = arg(args, "--seconds").map(_.toInt).getOrElse(sys.error("--seconds is required"))
    val trace = arg(args, "--trace").contains("1")
    val dataRoot = arg(args, "--data").getOrElse(sys.error("--data is required"))
    val work = Paths.get(arg(args, "--work").getOrElse(sys.error("--work is required")))
    require(Workloads.names.contains(workload), s"unknown workload $workload; one of ${Workloads.names.mkString(", ")}")
    require(seconds >= 1, "--seconds must be at least 1")
    Files.createDirectories(work)

    val spark = session()
    // JVM start to a ready session is part of set-up
    val sessionReadyNs = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) * 1000000L
    val tracer = if (trace) Some(new Tracer(spark)) else None
    val c = new Ctx(spark, seed, seconds, tracer, dataRoot, work)
    c.log(f"session ready after ${sessionReadyNs / 1e9}%.2f s")

    val finished = try {
      Workloads.run(workload, c)
      true
    } catch {
      case e: Throwable =>
        c.log(s"workload aborted: $e")
        e.printStackTrace()
        false
    }
    if (finished) {
      c.report.put("setup_s", c.setupSeconds(sessionReadyNs), "s")
      c.report.put("jvm.peak_heap_mb", peakHeapMb, "MB")
      c.report.put("error_rate", c.ledger.errorRate, "ratio")
      for (layer <- Workloads.Layers)
        c.report.put(s"$layer.failed", c.ledger.failedByLayer.getOrElse(layer, 0).toDouble, "count")
    }
    spark.stop()
    if (!finished) sys.exit(1)

    c.report.notes.foreach(println)
    val names = if (trace) Workloads.perLayer else EndToEnd
    // every named metric, with its unit, for a reader of the log
    (EndToEnd ++ Seq("error_rate") ++ (if (trace) Workloads.perLayer else Nil)).distinct
      .filter(c.report.metrics.contains).foreach { n =>
        val (v, u) = c.report.metrics(n)
        println(f"$workload%s  $n%-44s $v%.6f $u")
      }
    Workloads.aliases(workload).foreach { case (alias, n) =>
      c.report.metrics.get(n).foreach { case (v, u) => println(f"$workload%s  $alias%-44s $v%.6f $u") }
    }
    println(c.report.json(c.ledger.failed == 0, c.ledger, names))
    System.out.flush()
  }

  private def peakHeapMb: Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0
}
