package graftbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** The benchmark's one listener. Spark scheduler events, streaming
  * progress and SQL executions all feed this object, and every `spark.*`,
  * `sources.*`, `streaming.*` and `queries.*` count is read from it.
  * Spark delivers events asynchronously: call [[drain]] before reading. */
final class Obs(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  import Obs._

  private val c = new ConcurrentHashMap[String, AtomicLong]()
  private def add(k: String, v: Long): Unit =
    c.computeIfAbsent(k, _ => new AtomicLong()).addAndGet(v)

  /** Every SQL execution that succeeded, in completion order. */
  val executions = new ConcurrentLinkedQueue[Execution]()
  /** Every streaming progress report, in arrival order. */
  val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  /** Called on the listener thread with each progress report. */
  @volatile var onProgress: StreamingQueryProgress => Unit = _ => ()

  private val jobStarts = new ConcurrentHashMap[Int, (Long, String, Long)]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    add("spark.jobs", 1)
    val p = Option(e.properties)
    val phase = p.flatMap(x => Option(x.getProperty(PhaseProp))).getOrElse("")
    if (phase.nonEmpty) add(s"jobs.$phase", 1)
    val trace = p.flatMap(x => Option(x.getProperty(TraceProp))).getOrElse("")
    val parent = p.flatMap(x => Option(x.getProperty(ParentProp))).map(_.toLong).getOrElse(0L)
    if (Trace.on) jobStarts.put(e.jobId, (Clock.nowUs, trace, parent))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStarts.remove(e.jobId)).foreach { case (s, trace, parent) =>
      Trace.add(if (trace.isEmpty) s"job-${e.jobId}" else trace,
        s"spark.job", "spark", s, Clock.nowUs, parent)
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = add("spark.stages", 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    add("spark.tasks", 1)
    Option(e.taskMetrics).foreach { m =>
      add("spark.task_cpu_ns", m.executorCpuTime)
      add("spark.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
      add("spark.spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
      add("spark.gc_ms", m.jvmGCTime)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases.map { case (k, v) => k -> (v.startTimeMs, v.endTimeMs) }
    executions.add(Execution(phases, durationNs))
  }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  val streaming: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      progress.add(e.progress)
      onProgress(e.progress)
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def drain(): Unit = org.apache.spark.BenchBridge.drainListeners(spark.sparkContext)

  /** Scheduler counters plus this process's cpu and gc time. */
  def counters(): Map[String, Double] = {
    val base = c.asScala.map { case (k, v) => k -> v.get.toDouble }.toMap
    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
    base ++ Map("proc.cpu_ns" -> os.getProcessCpuTime.toDouble, "proc.gc_ms" -> gcMs.toDouble)
  }
}

object Obs {
  val PhaseProp = "graftbench.phase"
  val TraceProp = "graftbench.trace"
  val ParentProp = "graftbench.parent"

  final case class Execution(phases: Map[String, (Long, Long)], durationNs: Long) {
    def planMs: Long = phases.values.map { case (s, e) => e - s }.sum
  }

  def install(spark: SparkSession): Obs = {
    val o = new Obs(spark)
    spark.sparkContext.addSparkListener(o)
    spark.listenerManager.register(o)
    spark.streams.addListener(o.streaming)
    o
  }

  /** Heap in use right after the last collection, summed over heap pools. */
  def heapAfterGcMb: Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1048576.0

  /** Counter deltas over a window, reported under the per-workload
    * `spark.*` / `proc.*` names. */
  def reportWindow(r: Report, before: Map[String, Double], after: Map[String, Double]): Unit = {
    def d(k: String) = after.getOrElse(k, 0.0) - before.getOrElse(k, 0.0)
    r.put("spark.jobs", d("spark.jobs"), "count")
    r.put("spark.stages", d("spark.stages"), "count")
    r.put("spark.tasks", d("spark.tasks"), "count")
    r.put("spark.task_cpu_s", d("spark.task_cpu_ns") / 1e9, "s")
    r.put("spark.shuffle_write_bytes", d("spark.shuffle_write_bytes"), "bytes")
    r.put("spark.spill_bytes", d("spark.spill_bytes"), "bytes")
    r.put("spark.gc_s", d("spark.gc_ms") / 1e3, "s")
    r.put("proc.cpu_s", d("proc.cpu_ns") / 1e9, "s")
    r.put("proc.gc_s", d("proc.gc_ms") / 1e3, "s")
    r.put("proc.heap_after_gc_mb", heapAfterGcMb, "MB")
  }

  /** `sources.<kind>.*` (and for stateful queries `streaming.*`) from the
    * progress reports of one streaming query, plus its trigger phases as
    * child spans of each trigger when tracing. */
  def reportStream(r: Report, prefix: String, ps: Seq[StreamingQueryProgress]): Unit = {
    def dur(p: StreamingQueryProgress, k: String): Double =
      Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
    val nonEmpty = ps.filter(_.numInputRows > 0)
    r.put(s"$prefix.triggers", ps.size, "count")
    r.put(s"$prefix.nonempty_frac", if (ps.isEmpty) 0 else nonEmpty.size.toDouble / ps.size, "ratio")
    val trig = nonEmpty.map(dur(_, "triggerExecution"))
    r.put(s"$prefix.trigger_p50_ms", Stats.median(trig), "ms")
    r.put(s"$prefix.trigger_p99_ms", Stats.quantile(trig, 0.99), "ms")
    r.put(s"$prefix.latest_offset_ms", Stats.mean(ps.map(dur(_, "latestOffset"))), "ms")
    r.put(s"$prefix.planning_ms", Stats.mean(nonEmpty.map(dur(_, "queryPlanning"))), "ms")
    r.put(s"$prefix.add_batch_ms", Stats.mean(nonEmpty.map(dur(_, "addBatch"))), "ms")
    r.put(s"$prefix.commit_ms",
      Stats.mean(nonEmpty.map(p => dur(p, "walCommit") + dur(p, "commitOffsets"))), "ms")
    r.put(s"$prefix.rows_per_trigger", Stats.mean(nonEmpty.map(_.numInputRows.toDouble)), "rows")
    if (Trace.on) ps.foreach { p =>
      val startUs = java.time.Instant.parse(p.timestamp).toEpochMilli * 1000L
      val total = dur(p, "triggerExecution")
      val root = Trace.add(s"$prefix-trigger-${p.batchId}", "trigger", "streaming",
        startUs, startUs + (total * 1000).toLong)
      var at = startUs
      for ((phase, layer) <- TriggerPhases) {
        val ms = dur(p, phase)
        if (ms > 0) {
          Trace.add(s"$prefix-trigger-${p.batchId}", phase, layer, at, at + (ms * 1000).toLong, root)
          at += (ms * 1000).toLong
        }
      }
    }
  }

  /** A micro-batch runs these phases in this order; each is charged to
    * the layer that does the work. */
  private val TriggerPhases = Seq(
    "latestOffset" -> "sources", "walCommit" -> "streaming", "getBatch" -> "sources",
    "queryPlanning" -> "spark", "addBatch" -> "spark", "commitOffsets" -> "streaming")

  def reportState(r: Report, ps: Seq[StreamingQueryProgress]): Unit = {
    val ops = ps.flatMap(_.stateOperators.toSeq)
    r.put("streaming.state_rows", ops.lastOption.map(_.numRowsTotal.toDouble).getOrElse(0.0), "rows")
    r.put("streaming.state_commit_ms", Stats.mean(ops.map(_.commitTimeMs.toDouble)), "ms")
    r.put("streaming.state_memory_bytes",
      ops.lastOption.map(_.memoryUsedBytes.toDouble).getOrElse(0.0), "bytes")
  }
}
