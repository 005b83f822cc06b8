package graftbench

import java.io.{BufferedReader, InputStreamReader}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, LinkedBlockingQueue, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import graft.channel.ChannelRegistry
import graft.net.{HttpIngress, QuicIngress}
import graft.streaming.LogAnalyser
import graft.streaming.LogAnalyser.{LogField, LogRecord}
import graft.udf.WasmHost
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** edge_to_sink: LogRecord wire frames from a separate generator process
  * → HttpIngress / QuicIngress → Ingress.flush() on a fixed cadence →
  * Channel.write → readStreamV2 → LogAnalyser.fromWire → WasmHost.transform
  * → sink, with a second DSv2 subscriber running LogAnalyser.alerts. */
object EdgeToSink {
  /** Event time of the first steady event. Frames carry due times on this
    * virtual clock, so the same seed always yields the same bytes. */
  val VirtualOriginMs = 1700000000000L
  val Domain = "edge.bench"

  private val Words = Array("scan", "merge", "flush", "window", "channel", "frame",
    "ingress", "retry", "commit", "offset", "guest", "module", "reply", "stream",
    "batch", "cursor", "reader", "writer", "epoch", "sink")
  private val LevelCdf = Seq(0.04 -> "Error", 0.24 -> "Warn", 0.74 -> "Info",
    0.94 -> "Debug", 1.0 -> "Trace")

  final case class Event(id: Long, dueOffUs: Long, rec: LogRecord)

  /** Warm-up events, then the steady schedule at `rate`/s, then the burst. */
  def events(seed: Long, warm: Int, steady: Int, burst: Int, rate: Double): IndexedSeq[Event] = {
    val rnd = new scala.util.Random(seed)
    def rec(id: Long, tsMs: Long): LogRecord = {
      val u = rnd.nextDouble()
      val level = LevelCdf.find(u < _._1).get._2
      val msg = Seq.fill(3 + rnd.nextInt(10))(Words(rnd.nextInt(Words.length))).mkString(" ")
      LogRecord(level, s"svc${rnd.nextInt(8)}", msg, Seq(LogField("eid", id.toString)), Nil, tsMs)
    }
    val steadySpanMs = (steady / rate * 1000).toLong
    (0 until warm).map(i => Event(i, -1L, rec(i, VirtualOriginMs - 3600000L + i))) ++
      (0 until steady).map { k =>
        val off = (k * 1e6 / rate).toLong
        Event(warm + k, off, rec(warm + k, VirtualOriginMs + off / 1000))
      } ++
      (0 until burst).map { k =>
        val id = warm + steady + k
        Event(id, -1L, rec(id, VirtualOriginMs + steadySpanMs + 60000L + k))
      }
  }

  final case class Delivery(count: Int, sinkUs: Long, out: Array[Byte], batch: Long)
  final case class Flush(edge: String, startUs: Long, endUs: Long, rows: Int)

  final class Flusher(edge: String, flush: () => Int, pending: () => Int, cadenceMs: Long,
                      sc: org.apache.spark.SparkContext) extends Thread(s"flush-$edge") {
    @volatile var running = true
    @volatile var pendingMax = 0
    val flushes = new ConcurrentLinkedQueue[Flush]()
    private val n = new AtomicInteger()
    setDaemon(true)
    def once(): Unit = {
      pendingMax = math.max(pendingMax, pending())
      val id = Trace.newId()
      Trace.tagJobs(sc, s"flush-$edge-${n.incrementAndGet()}", id)
      val s = Clock.nowUs
      val rows = flush()
      val e = Clock.nowUs
      flushes.add(Flush(edge, s, e, rows))
      Trace.add(s"flush-$edge-${n.get}", "ingress.flush", "net", s, e, id0 = id)
    }
    override def run(): Unit = {
      var next = System.nanoTime()
      while (running) {
        once()
        next += cadenceMs * 1000000L
        val wait = next - System.nanoTime()
        if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
        else next = System.nanoTime() // overran: skip the missed ticks
      }
    }
    def finish(): Unit = { running = false; join(); once() }
  }

  private def frames(df: DataFrame): DataFrame = df.select(col("body").as("frame"))

  def run(spark: SparkSession, obs: Obs, a: Args, runDir: Path, r: Report): Long = {
    val seconds = a.int("seconds")
    val rate = a.double("rate")
    val steadyN = (rate * seconds).toInt
    val burstN = a.int("burst")
    val warmN = a.int("warm")
    val conns = a.int("conns")
    val trigger = Trigger.ProcessingTime(a.long("trigger-ms"))
    val sc = spark.sparkContext
    import spark.implicits._

    Phase("session")
    val reg = new ChannelRegistry(spark, runDir.resolve("channels"))
    val chHttp = reg.create("edge_http", HttpIngress.schema)
    val chQuic = reg.create("edge_quic", QuicIngress.schema)
    Udf.register()
    val http = HttpIngress.start(spark, chHttp)
    val quic = QuicIngress.start(spark, chQuic, Domain)

    val logs = LogAnalyser.fromWire(frames(chHttp.readStreamV2()).union(frames(chQuic.readStreamV2())))
    val keyed = logs.select(col("fields")(0)("value").cast("long").as("eid"),
      col("message").cast("binary").as("payload"))
    val out = WasmHost.transform(keyed, Udf.ModuleId, Udf.Export, "payload")
    val sink = new ConcurrentHashMap[Long, Delivery]()
    val sinkQ = out.writeStream.queryName("edge_sink").trigger(trigger)
      .option("checkpointLocation", runDir.resolve("ckpt-sink").toString)
      .foreachBatch { (df: DataFrame, batch: Long) =>
        val rows = df.collect()
        val t = Clock.nowUs
        rows.foreach { row =>
          sink.compute(row.getLong(0), (_, d) =>
            if (d == null) Delivery(1, t, row.getAs[Array[Byte]](1), batch) else d.copy(count = d.count + 1))
        }
      }.start()
    @volatile var lastAlerts: Array[Row] = Array.empty
    val alertsQ = LogAnalyser.alerts(logs).writeStream.queryName("edge_alerts")
      .outputMode("complete").trigger(trigger)
      .option("checkpointLocation", runDir.resolve("ckpt-alerts").toString)
      .foreachBatch { (df: DataFrame, _: Long) => lastAlerts = df.collect() }
      .start()

    Phase("queries started")
    val flushers = Seq(
      new Flusher("http", () => http.flush(), () => http.pendingCount, a.long("flush-ms"), sc),
      new Flusher("quic", () => quic.flush(), () => quic.pendingCount, a.long("flush-ms"), sc))
    flushers.foreach(_.start())

    // inputs: every frame encoded by the program's own codec, before timing
    val evs = events(a.long("seed"), warmN, steadyN, burstN, rate)
    val encoded: Array[Array[Byte]] =
      LogAnalyser.toWire(spark.createDataset(evs.map(_.rec)).toDF().coalesce(1))
        .as[Array[Byte]].collect()
    require(encoded.length == evs.size)
    val expectedOut = evs.map(e => e.id -> Udf.expected(e.rec.message.getBytes(UTF_8))).toMap

    Phase("frames encoded")
    def awaitSink(ids: Iterable[Long], timeoutMs: Long): Boolean = {
      val deadline = System.currentTimeMillis() + timeoutMs
      var missing = ids.filterNot(sink.containsKey)
      while (missing.nonEmpty && System.currentTimeMillis() < deadline) {
        Thread.sleep(20)
        missing = missing.filterNot(sink.containsKey)
      }
      missing.isEmpty
    }

    // warm-up through both edges and the whole chain, in this process, at
    // the steady rate: the JIT and Spark's code caches settle before timing
    val warmConns = Seq(new HttpConn(http.port), new QuicConn(quic.port, Domain))
    val warmStart = System.nanoTime()
    evs.take(warmN).zipWithIndex.foreach { case (e, i) =>
      val due = warmStart + (i * 1e9 / rate).toLong
      while (System.nanoTime() < due) Thread.sleep(1)
      warmConns(i % 2).send(encoded(e.id.toInt))
    }
    warmConns.foreach(_.close())
    if (!awaitSink(evs.take(warmN).map(_.id), 120000)) r.fail("warm-up events never reached the sink")

    Phase("warm-up done")
    val framesPath = runDir.resolve("frames.bin")
    Generator.writeFrames(framesPath, evs.drop(warmN).map(e =>
      Generator.Frame(e.id, e.dueOffUs, encoded(e.id.toInt))))
    val resultsPath = runDir.resolve("generator.txt")
    val javaBin = Path.of(System.getProperty("java.home"), "bin", "java").toString
    val proc = new ProcessBuilder(javaBin, "-XX:-UsePerfData", "-Xmx256m", "-cp", System.getProperty("java.class.path"),
      "graftbench.Generator", framesPath.toString, http.port.toString, quic.port.toString,
      Domain, conns.toString, resultsPath.toString)
      .redirectError(ProcessBuilder.Redirect.INHERIT).start()
    // a run that fails part-way must not leave the generator behind
    sys.addShutdownHook { if (proc.isAlive) { proc.destroyForcibly(); proc.waitFor() } }
    val lines = new LinkedBlockingQueue[String]()
    val reader = new Thread(() => {
      val in = new BufferedReader(new InputStreamReader(proc.getInputStream, UTF_8))
      Iterator.continually(in.readLine()).takeWhile(_ != null).foreach(lines.add)
    })
    reader.setDaemon(true); reader.start()
    def expect(prefix: String, timeoutS: Long): String = {
      val l = lines.poll(timeoutS, TimeUnit.SECONDS)
      if (l == null || !l.startsWith(prefix)) sys.error(s"generator: expected $prefix, got $l")
      l
    }

    val steadyIds = evs.slice(warmN, warmN + steadyN).map(_.id)
    val burstIds = evs.drop(warmN + steadyN).map(_.id)
    val origin = expect("ORIGIN", 60).split(" ")(1).toLong
    Phase("generator origin")
    val before = obs.counters()
    val udfBefore = Udf.counters()
    val progressFrom = obs.progress.size
    val lags = new ConcurrentLinkedQueue[Double]()
    obs.onProgress = p => if (p.name == "edge_sink") {
      val committed = p.sources.map(s => Option(s.endOffset).map(_.trim.toDouble).getOrElse(0.0)).sum
      lags.add((chHttp.cursor() + chQuic.cursor()).toDouble - committed)
    }
    expect("STEADY_DONE", seconds + 120)
    Phase("steady sent")
    awaitSink(steadyIds, 60000)
    Phase("steady drained")
    proc.getOutputStream.write("BURST\n".getBytes(UTF_8)); proc.getOutputStream.flush()
    expect("BURST_DONE", 120)
    Phase("burst sent")
    awaitSink(burstIds, 60000)
    Phase("burst drained")
    if (!proc.waitFor(60, TimeUnit.SECONDS)) { proc.destroyForcibly(); proc.waitFor() }
    obs.onProgress = _ => ()
    flushers.foreach(_.finish())
    sinkQ.processAllAvailable()
    alertsQ.processAllAvailable()
    obs.drain()
    Phase("streams caught up")
    val after = obs.counters()
    val udfAfter = Udf.counters()
    val progress = obs.progress.asScala.toSeq.drop(progressFrom)
    sinkQ.stop(); alertsQ.stop()
    http.stop(); quic.stop()

    Phase("stopped")
    // generator record per event: id due sent acked ok kind
    final case class Sent(id: Long, due: Long, sent: Long, acked: Long, ok: Boolean, kind: String)
    val gen = Files.readAllLines(resultsPath, UTF_8).asScala.map(_.split(" ")).map { f =>
      Sent(f(0).toLong, f(1).toLong, f(2).toLong, f(3).toLong, f(4) == "1", f(5))
    }.map(s => s.id -> s).toMap
    val sent = (steadyIds ++ burstIds).map(gen)

    // output checks: exactly once, the guest's output, and the alerts
    val bad = sent.filter { s =>
      val d = sink.get(s.id)
      !s.ok || d == null || d.count != 1 || !java.util.Arrays.equals(d.out, expectedOut(s.id))
    }
    r.attempted = sent.size
    r.failed = bad.size
    if (bad.nonEmpty) r.fail(s"${bad.size} events refused, lost, duplicated or mis-transformed, e.g. ${bad.head}")
    val dupWarm = evs.take(warmN).count(e => Option(sink.get(e.id)).forall(_.count != 1))
    if (dupWarm > 0) r.fail(s"$dupWarm warm-up events not delivered exactly once")
    val batchAlerts = LogAnalyser.alerts(LogAnalyser.fromWire(
      frames(chHttp.read()).union(frames(chQuic.read())))).collect().map(_.toString).sorted.toSeq
    val streamAlerts = lastAlerts.map(_.toString).sorted.toSeq
    if (batchAlerts != streamAlerts)
      r.fail(s"streaming alerts (${streamAlerts.size}) differ from batch recompute (${batchAlerts.size})")
    if (batchAlerts.isEmpty) r.fail("no alert windows: the check would be vacuous")

    Phase("checked")
    // end to end
    val steady = steadyIds.map(gen).filter(s => s.ok && sink.containsKey(s.id))
    val e2e = steady.map(s => (sink.get(s.id).sinkUs - s.due) / 1000.0)
    val burst = burstIds.map(gen)
    val burstStart = burst.map(_.sent).min
    val burstEnd = burst.flatMap(s => Option(sink.get(s.id)).map(_.sinkUs)).maxOption.getOrElse(burstStart + 1)
    val drainRps = burst.size * 1e6 / (burstEnd - burstStart)
    r.put("edge.burst_send_s", (burst.map(_.acked).max - burstStart) / 1e6, "s")
    def ack(kind: String, q: Double) =
      Stats.quantile(steadyIds.map(gen).filter(_.kind == kind).map(s => (s.acked - s.sent) / 1000.0), q)
    r.put("latency_p50_ms", Stats.median(e2e), "ms")
    // tail: p95, so that at the steady phase's size (rate × seconds, 400
    // events at 10 s) ten or more samples lie beyond it; p99 is per-layer
    r.put("latency_tail_ms", Stats.quantile(e2e, 0.95), "ms")
    r.put("throughput_per_s", drainRps, "1/s")
    r.put("edge.e2e_p50_ms", Stats.median(e2e), "ms")
    r.put("edge.e2e_p99_ms", Stats.quantile(e2e, 0.99), "ms")
    r.put("edge.http_ack_p99_ms", ack("http", 0.99), "ms")
    r.put("edge.quic_ack_p99_ms", ack("quic", 0.99), "ms")
    r.put("edge.drain_rps", drainRps, "events/s")
    r.put("edge.failed_frac", bad.size.toDouble / sent.size, "ratio")
    r.put("edge.gen_late_p99_ms",
      Stats.quantile(steadyIds.map(gen).map(s => (s.sent - s.due) / 1000.0), 0.99), "ms")
    r.put("edge.steady_events", steady.size, "count")

    // net
    r.put("net.http.ack_p50_ms", ack("http", 0.5), "ms")
    r.put("net.quic.ack_p50_ms", ack("quic", 0.5), "ms")
    r.put("net.http.ack_p99_ms", ack("http", 0.99), "ms")
    r.put("net.quic.ack_p99_ms", ack("quic", 0.99), "ms")
    r.put("net.accepted", sent.count(_.ok), "count")
    r.put("net.refused", sent.count(!_.ok), "count")
    r.put("net.pending_max", flushers.map(_.pendingMax).max, "count")
    val fl = flushers.flatMap(_.flushes.asScala).filter(f => f.startUs >= origin)
    val nonEmpty = fl.filter(_.rows > 0)
    r.put("net.flush_p50_ms", Stats.median(nonEmpty.map(f => (f.endUs - f.startUs) / 1000.0)), "ms")
    r.put("net.flush_p99_ms", Stats.quantile(nonEmpty.map(f => (f.endUs - f.startUs) / 1000.0), 0.99), "ms")
    r.put("net.flush_calls", fl.size, "count")
    r.put("net.flush_rows_mean", Stats.mean(nonEmpty.map(_.rows.toDouble)), "rows")

    // channel
    Dirs.reportChannels(r, Seq(chHttp, chQuic))
    r.put("channel.reader_lag_p99_seq", Stats.quantile(lags.asScala.toSeq, 0.99), "seq")

    Obs.reportStream(r, "sources.v2", progress.filter(_.name == "edge_sink"))
    Obs.reportState(r, progress.filter(_.name == "edge_alerts"))
    Udf.report(r, udfBefore, udfAfter)
    Obs.reportWindow(r, before, after)

    if (Trace.on) {
      // per event: due → sent → acked → flushed → picked up → sunk
      val triggerStart = progress.filter(_.name == "edge_sink").map(p =>
        p.batchId -> java.time.Instant.parse(p.timestamp).toEpochMilli * 1000L).toMap
      val flushesBy = fl.groupBy(_.edge).map { case (k, v) => k -> v.sortBy(_.startUs).toIndexedSeq }
      steady.foreach { s =>
        val d = sink.get(s.id)
        val t = s"ev-${s.id}"
        val root = Trace.add(t, "event", "wait", s.due, d.sinkUs)
        Trace.add(t, "generator.late", "gen", s.due, s.sent, root)
        Trace.add(t, "edge.ack", "net", s.sent, s.acked, root)
        flushesBy.getOrElse(s.kind, IndexedSeq.empty).find(f => f.startUs >= s.acked).foreach { f =>
          Trace.add(t, "ingress.buffered", "net", s.acked, f.startUs, root)
          Trace.add(t, "flush.channel_write", "channel", f.startUs, f.endUs, root)
          triggerStart.get(d.batch).filter(_ >= f.endUs).foreach { ts =>
            Trace.add(t, "source.visible", "sources", f.endUs, ts, root)
            Trace.add(t, "microbatch", "streaming", ts, d.sinkUs, root)
          }
        }
      }
    }
    origin
  }
}
