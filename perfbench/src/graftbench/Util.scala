package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

/** Epoch microseconds from a monotonic clock: one wall-clock reading at
  * class load, advanced by `nanoTime`, so intervals never jump and two
  * processes on one host agree to well under a millisecond. */
object Clock {
  private val baseUs = System.currentTimeMillis() * 1000L
  private val baseNs = System.nanoTime()
  def nowUs: Long = baseUs + (System.nanoTime() - baseNs) / 1000L
}

/** Progress lines in the harness log: seconds since the JVM started. */
object Phase {
  private val startMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
  def apply(name: String): Unit =
    println(f"[phase] $name%-28s ${(System.currentTimeMillis() - startMs) / 1e3}%8.2f s")
}

/** Sample statistics; an empty sample reads 0 so every metric stays a number. */
object Stats {
  /** Linear-interpolated quantile (q in [0,1]) of an unsorted sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted.toIndexedSeq
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

/** Span recorder for the traced run. Spans stay in memory and are written
  * once, when the run ends. All spans of one event, request or query share
  * a `trace` id; `parent` is the id of the span that caused this one
  * (0 for a root). When tracing is off every call is a no-op. */
object Trace {
  final case class Span(trace: String, id: Long, parent: Long, name: String,
                        layer: String, startUs: Long, endUs: Long)

  @volatile var on: Boolean = false
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(1)
  /** Time spent inside the recorder itself — the direct tracing cost. */
  val recordNs = new AtomicLong(0)

  /** A span id to hand to children before the span itself ends. */
  def newId(): Long = if (on) ids.getAndIncrement() else 0L

  def add(trace: String, name: String, layer: String, startUs: Long, endUs: Long,
          parent: Long = 0L, id0: Long = 0L): Long = {
    if (!on) return 0L
    val t0 = System.nanoTime()
    val id = if (id0 != 0L) id0 else ids.getAndIncrement()
    spans.add(Span(trace, id, parent, name, layer, startUs, endUs))
    recordNs.addAndGet(System.nanoTime() - t0)
    id
  }

  /** Tags Spark jobs started by this thread with a trace and parent span,
    * so the listener can hang their spans under the caller's. */
  def tagJobs(sc: org.apache.spark.SparkContext, trace: String, parent: Long,
              phase: String = null): Unit = {
    sc.setLocalProperty(Obs.PhaseProp, phase)
    if (on) {
      sc.setLocalProperty(Obs.TraceProp, trace)
      sc.setLocalProperty(Obs.ParentProp, parent.toString)
    }
  }

  def all: Seq[Span] = spans.asScala.toSeq

  /** Self time per layer in ms: each span's duration minus the part of its
    * interval that its children cover. */
  def selfMsByLayer(ss: Seq[Span]): Map[String, Double] = {
    val kids = ss.filter(_.parent != 0L).groupBy(_.parent)
    ss.groupBy(_.layer).map { case (layer, group) =>
      layer -> group.map { sp =>
        val covered = kids.getOrElse(sp.id, Nil)
          .map(c => (math.max(c.startUs, sp.startUs), math.min(c.endUs, sp.endUs)))
          .filter { case (a, b) => b > a }.sortBy(_._1)
          .foldLeft((0L, Long.MinValue)) { case ((acc, end), (a, b)) =>
            if (b <= end) (acc, end)
            else (acc + b - math.max(a, end), b)
          }._1
        (sp.endUs - sp.startUs - covered).toDouble / 1000.0
      }.sum
    }
  }

  def write(path: Path, ss: Seq[Span]): Unit = {
    val w = Files.newBufferedWriter(path, UTF_8)
    try ss.sortBy(_.startUs).foreach { s =>
      w.write(s"""{"trace":${Json.str(s.trace)},"id":${s.id},"parent":${s.parent},""" +
        s""""name":${Json.str(s.name)},"layer":${Json.str(s.layer)},""" +
        s""""start_us":${s.startUs},"end_us":${s.endUs}}""")
      w.newLine()
    } finally w.close()
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
}

/** Metrics one run reports: name → (value, unit). */
final class Report {
  private val m = scala.collection.mutable.LinkedHashMap[String, (Double, String)]()
  val notes = scala.collection.mutable.ArrayBuffer[String]()
  var attempted: Long = 0
  var failed: Long = 0
  var correct: Boolean = true
  def put(name: String, value: Double, unit: String): Unit = m(name) = (value, unit)
  def fail(why: String): Unit = { correct = false; notes += why }
  def toJson: String = {
    val ms = m.map { case (k, (v, u)) =>
      s"${Json.str(k)}:{\"value\":${Json.num(v)},\"unit\":${Json.str(u)}}" }.mkString(",")
    s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,""" +
      s""""notes":[${notes.map(Json.str).mkString(",")}],"metrics":{$ms}}"""
  }
}

object Dirs {
  def size(p: Path): Long = {
    val w = Files.walk(p)
    try w.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
    finally w.close()
  }

  /** `channel.batches` and `channel.bytes`: batch directories, and the
    * bytes under them, across the given topics. */
  def reportChannels(r: Report, chs: Seq[graft.channel.Channel]): Unit = {
    val batches = chs.flatMap { c =>
      val l = Files.list(c.dir)
      try l.iterator().asScala.filter(_.getFileName.toString.startsWith("batch_")).toList
      finally l.close()
    }
    r.put("channel.batches", batches.size, "count")
    r.put("channel.bytes", batches.map(size).sum.toDouble, "bytes")
  }
}
