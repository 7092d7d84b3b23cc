package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Spark work attributed to one span (a named timed call), split by the
  * phase the jobs ran in.
  */
final class SpanStats {
  var calls = 0
  var wallS = 0.0
  var constructS = 0.0
  var planS = 0.0
  var execS = 0.0
  var constructJobs = 0L
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var cpuNs = 0L
  var runMs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  /** Worst stage skew seen: max ÷ median task duration. */
  var skew = 0.0

  /** Add (sign 1) or subtract (sign -1) another span's counters. */
  def add(o: SpanStats, sign: Int = 1): SpanStats = {
    calls += sign * o.calls; wallS += sign * o.wallS; constructS += sign * o.constructS
    planS += sign * o.planS; execS += sign * o.execS; constructJobs += sign * o.constructJobs
    jobs += sign * o.jobs; stages += sign * o.stages; tasks += sign * o.tasks; cpuNs += sign * o.cpuNs
    runMs += sign * o.runMs; gcMs += sign * o.gcMs; shuffleWrite += sign * o.shuffleWrite
    shuffleRead += sign * o.shuffleRead; spill += sign * o.spill; skew = math.max(skew, o.skew)
    this
  }
}

/** The traced run's instruments: a SparkListener and a
  * StreamingQueryListener registered on the benchmark's own session.
  *
  * Jobs are attributed to a span through two local properties set on the
  * calling thread (`perfbench.span`, `perfbench.phase`); stream threads
  * inherit the properties in force when their query starts. Jobs without
  * a span are ignored, which is how untraced calls in a traced run stay
  * out of the numbers.
  */
final class Tracer(spark: SparkSession) {
  private val SpanKey = "perfbench.span"
  private val PhaseKey = "perfbench.phase"

  private val spans = new ConcurrentHashMap[String, SpanStats]()
  private val stageSpan = new ConcurrentHashMap[Int, SpanStats]()
  private val stageTaskMs = new ConcurrentHashMap[Int, mutable.ArrayBuffer[Long]]()
  val progress: mutable.ArrayBuffer[StreamingQueryListener.QueryProgressEvent] =
    mutable.ArrayBuffer.empty

  def stats(span: String): SpanStats = spans.computeIfAbsent(span, _ => new SpanStats)
  def spanNames: Seq[String] = spans.keySet.asScala.toSeq.sorted

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      props.flatMap(p => Option(p.getProperty(SpanKey))).foreach { span =>
        val s = stats(span)
        s.synchronized {
          s.jobs += 1
          if (props.flatMap(p => Option(p.getProperty(PhaseKey))).contains("construct"))
            s.constructJobs += 1
        }
        e.stageIds.foreach(id => stageSpan.putIfAbsent(id, s))
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val id = e.stageInfo.stageId
      Option(stageSpan.get(id)).foreach { s =>
        val times = Option(stageTaskMs.remove(id)).map(_.toSeq).getOrElse(Seq.empty)
        s.synchronized {
          s.stages += 1
          if (times.length >= 2) {
            val med = Stats.median(times.map(_.toDouble))
            if (med > 0) s.skew = math.max(s.skew, times.max / med)
          }
        }
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      Option(stageSpan.get(e.stageId)).foreach { s =>
        val m = e.taskMetrics
        // the listener bus delivers one event at a time
        stageTaskMs.computeIfAbsent(e.stageId, _ => mutable.ArrayBuffer.empty[Long]) += e.taskInfo.duration
        s.synchronized {
          s.tasks += 1
          if (m != null) {
            s.cpuNs += m.executorCpuTime
            s.runMs += m.executorRunTime
            s.gcMs += m.jvmGCTime
            s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
            s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
            s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          }
        }
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.synchronized { progress += e }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  spark.sparkContext.addSparkListener(listener)
  spark.streams.addListener(streamListener)

  /** Deliver every event already posted, so the counters are complete. */
  def drain(): Unit = org.apache.spark.perfbenchshim.ListenerDrain.drain(spark.sparkContext)

  private def withProps[A](span: String, phase: String)(body: => A): A = {
    val sc = spark.sparkContext
    val (oldSpan, oldPhase) = (sc.getLocalProperty(SpanKey), sc.getLocalProperty(PhaseKey))
    sc.setLocalProperty(SpanKey, span)
    sc.setLocalProperty(PhaseKey, phase)
    try body
    finally { sc.setLocalProperty(SpanKey, oldSpan); sc.setLocalProperty(PhaseKey, oldPhase) }
  }

  /** Attribute every job `body` runs (and every stream it starts) to `span`. */
  def span[A](span: String)(body: => A): A = {
    val t0 = System.nanoTime()
    try withProps(span, "exec")(body)
    finally {
      val s = stats(span)
      s.synchronized { s.calls += 1; s.wallS += (System.nanoTime() - t0) / 1e9 }
    }
  }

  /** The phase split of one public call: the call that returns the
    * DataFrame (construction, including any eager jobs it runs), then
    * `queryExecution.executedPlan` (planning), then the action.
    */
  def split[A](span: String)(build: => DataFrame)(action: DataFrame => A): A = {
    val t0 = System.nanoTime()
    val df = withProps(span, "construct")(build)
    val t1 = System.nanoTime()
    withProps(span, "plan")(df.queryExecution.executedPlan)
    val t2 = System.nanoTime()
    val out = withProps(span, "exec")(action(df))
    val t3 = System.nanoTime()
    val s = stats(span)
    s.synchronized {
      s.calls += 1
      s.wallS += (t3 - t0) / 1e9
      s.constructS += (t1 - t0) / 1e9
      s.planS += (t2 - t1) / 1e9
      s.execS += (t3 - t2) / 1e9
    }
    out
  }

  /** Sum of several spans' counters (a copy). */
  def total(names: Seq[String]): SpanStats = {
    val t = new SpanStats
    names.map(stats).foreach(s => s.synchronized(t.add(s)))
    t
  }
}

object Tracer {
  /** The `spark.*` per-layer metrics over the given spans, per traced call. */
  def sparkMetrics(r: Report, t: SpanStats, cores: Int): Unit = {
    val n = math.max(t.calls, 1).toDouble
    r.put("spark.construct_s", t.constructS / n, "s")
    r.put("spark.construct_jobs", t.constructJobs / n, "count")
    r.put("spark.plan_s", t.planS / n, "s")
    r.put("spark.exec_s", t.execS / n, "s")
    r.put("spark.jobs", t.jobs / n, "count")
    r.put("spark.stages", t.stages / n, "count")
    r.put("spark.tasks", t.tasks / n, "count")
    r.put("spark.executor_cpu_s", t.cpuNs / 1e9 / n, "s")
    r.put("spark.executor_run_s", t.runMs / 1e3 / n, "s")
    r.put("spark.gc_s", t.gcMs / 1e3 / n, "s")
    r.put("spark.cpu_utilisation", utilisation(t, cores), "ratio")
    r.put("spark.shuffle_write_bytes", t.shuffleWrite / n, "B")
    r.put("spark.shuffle_read_bytes", t.shuffleRead / n, "B")
    r.put("spark.spill_bytes", t.spill / n, "B")
    r.put("spark.task_skew", t.skew, "ratio")
  }

  /** Executor CPU ÷ (wall × cores) over the spans' calls. */
  def utilisation(t: SpanStats, cores: Int): Double =
    if (t.wallS <= 0) 0.0 else t.cpuNs / 1e9 / (t.wallS * cores)
}
