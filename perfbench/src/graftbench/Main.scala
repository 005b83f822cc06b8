package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

final case class Args(m: Map[String, String]) {
  def apply(k: String): String = m.getOrElse(k, sys.error(s"missing --$k"))
  def int(k: String): Int = apply(k).toInt
  def long(k: String): Long = apply(k).toLong
  def double(k: String): Double = apply(k).toDouble
}

object Args {
  def parse(a: Array[String]): Args =
    Args(a.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap)
}

/** The system side of one benchmark run. perfbench/run.py launches it
  * once per run with the workload's constants, then reads the metrics it
  * writes to `<run-dir>/result.json`.
  *
  * `--launch-us` is the epoch time at which run.py started setting the
  * run up; `setup_s` runs from there to the first timed event or query. */
object Main {
  def session(cores: Int, runDir: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.local.dir", runDir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", runDir.resolve("warehouse").toString)
      .config("graft.artifacts.root", runDir.resolve("artifacts").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    val runDir = Paths.get(a("run-dir")).toAbsolutePath
    Trace.on = a("trace") == "1"
    val cores = a.int("cores")
    val r = new Report
    val spark = session(cores, runDir)
    val obs = Obs.install(spark)
    try {
      val firstTimedUs = a("workload") match {
        case "edge_to_sink" => EdgeToSink.run(spark, obs, a, runDir, r)
        case "request_reply" => RequestReply.run(spark, obs, a, runDir, r)
        case "gate_batch" => GateBatch.run(spark, obs, a, runDir, r)
        case w => sys.error(s"unknown workload $w")
      }
      r.put("setup_s", (firstTimedUs - a.long("launch-us")) / 1e6, "s")
      r.put("host.cores", cores, "count")
      r.put("host.load1", java.lang.management.ManagementFactory.getOperatingSystemMXBean
        .getSystemLoadAverage, "load")
      if (Trace.on) traceReport(r, runDir)
    } catch { case e: Throwable =>
      e.printStackTrace()
      r.fail(s"run aborted: $e")
    } finally {
      Files.writeString(runDir.resolve("result.json"), r.toJson, UTF_8)
      spark.stop()
    }
    // the program's edges leave non-daemon server threads behind
    System.exit(0)
  }

  /** Self time per layer, averaged over the run's units of work (events,
    * requests or queries — traces named `ev-`, `rq-`, `q-`), plus the
    * recorder's own cost. Spans go to `<run-dir>/spans.jsonl`. */
  val Layers = Seq("gen", "net", "channel", "sources", "streaming", "udf",
    "switchboard", "queries", "spark", "wait")

  private def traceReport(r: Report, runDir: Path): Unit = {
    val ss = Trace.all
    Trace.write(runDir.resolve("spans.jsonl"), ss)
    val units = ss.filter(s => s.trace.startsWith("ev-") || s.trace.startsWith("rq-") ||
      s.trace.startsWith("q-"))
    val n = math.max(1, units.map(_.trace).distinct.size)
    val self = Trace.selfMsByLayer(units)
    Layers.foreach(l => r.put(s"self.$l.ms", self.getOrElse(l, 0.0) / n, "ms"))
    r.put("trace.spans", ss.size, "count")
    r.put("trace.record_ms", Trace.recordNs.get / 1e6, "ms")
  }
}
