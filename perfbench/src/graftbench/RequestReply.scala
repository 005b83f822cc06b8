package graftbench

import java.nio.file.Path
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import graft.channel.ChannelRegistry
import graft.switchboard.{Client, Switchboard}
import org.apache.spark.sql.SparkSession

/** request_reply: Switchboard client/server with a trivial handler. Each
  * in-process client runs a closed loop: one `Client.request` (a single-row
  * Channel.write), then `Client.reply` (a full Channel.read scan) every
  * poll interval until the reply arrives, then the next request. The
  * server reads through the file-stream source. Channels are never reset,
  * so the reply scan grows with history, as it does in use. */
object RequestReply {
  def handler(x: Long): Long = x * 31 + 7

  final case class Outcome(body: Long, reply: Option[Long], startUs: Long, requestUs: Long,
                           endUs: Long, polls: Int, pollUs: Seq[Long])

  def run(spark: SparkSession, obs: Obs, a: Args, runDir: Path, r: Report): Long = {
    import spark.implicits._
    val seconds = a.int("seconds")
    val nClients = a.int("clients")
    val pollUs = a.long("poll-ms") * 1000L
    val timeoutUs = a.long("reply-timeout-s") * 1000000L
    val sc = spark.sparkContext

    Phase("session")
    val reg = new ChannelRegistry(spark, runDir.resolve("channels"))
    val sb = new Switchboard(spark, reg)
    val serverQ = sb.server[Long, Long]("rr").serve(runDir.resolve("ckpt-server"))(x => handler(x))
    val clients = (0 until nClients).map(_ => sb.client[Long, Long]("rr"))
    val reqCh = reg.get("rr-req")

    def roundTrip(c: Client[Long, Long], body: Long, trace: String): Outcome = {
      val root = Trace.newId()
      val t0 = Clock.nowUs
      val reqSpan = Trace.newId()
      Trace.tagJobs(sc, trace, reqSpan)
      val id = c.request(body)
      val t1 = Clock.nowUs
      Trace.add(trace, "client.request", "switchboard", t0, t1, root, reqSpan)
      var reply: Option[Long] = None
      val polls = Seq.newBuilder[Long]
      var n = 0
      var next = t1
      while (reply.isEmpty && Clock.nowUs - t0 < timeoutUs) {
        val wait = next - Clock.nowUs
        if (wait > 0) Thread.sleep(wait / 1000, ((wait % 1000) * 1000).toInt)
        val pollSpan = Trace.newId()
        Trace.tagJobs(sc, trace, pollSpan)
        val ps = Clock.nowUs
        reply = c.reply(id)
        val pe = Clock.nowUs
        Trace.add(trace, "client.reply", "switchboard", ps, pe, root, pollSpan)
        polls += pe - ps
        n += 1
        next = ps + pollUs
      }
      val end = Clock.nowUs
      Trace.add(trace, "roundtrip", "wait", t0, end, 0L, root)
      Outcome(body, reply, t0, t1 - t0, end, n, polls.result())
    }

    Phase("server started")
    val rnd = new scala.util.Random(a.long("seed"))
    val bodies = IndexedSeq.fill(nClients)(new scala.util.Random(rnd.nextLong()))
    (0 until a.int("warm")).foreach(i => roundTrip(clients(i % nClients), rnd.nextLong(), s"warm-$i"))

    Phase("warm-up done")
    val processed = new AtomicLong(0)
    val lags = new ConcurrentLinkedQueue[Double]()
    val progressFrom = obs.progress.size
    obs.onProgress = p => if (p.id == serverQ.id) {
      lags.add((reqCh.cursor() - processed.addAndGet(p.numInputRows)).toDouble)
    }
    // requests made in warm-up were processed before the window opened
    processed.set(reqCh.cursor())
    val before = obs.counters()
    val start = Clock.nowUs
    val deadline = start + seconds * 1000000L
    val outcomes = new ConcurrentLinkedQueue[Outcome]()
    val threads = clients.zipWithIndex.map { case (c, i) =>
      val t = new Thread(() => {
        var n = 0
        while (Clock.nowUs < deadline) {
          outcomes.add(roundTrip(c, bodies(i).nextLong(), s"rq-$i-$n"))
          n += 1
        }
      }, s"rr-client-$i")
      t.start(); t
    }
    threads.foreach(_.join())
    Phase("clients done")
    obs.onProgress = _ => ()
    obs.drain()
    val after = obs.counters()
    val progress = obs.progress.asScala.toSeq.drop(progressFrom).filter(_.id == serverQ.id)
    serverQ.stop()

    Phase("stopped")
    val os = outcomes.asScala.toSeq
    val good = os.filter(o => o.reply.contains(handler(o.body)))
    r.attempted = os.size
    r.failed = os.size - good.size
    if (good.size < os.size) r.fail(s"${os.size - good.size} of ${os.size} replies wrong or missing")
    val rtt = good.map(o => (o.endUs - o.startUs) / 1000.0)
    val elapsedS = (os.map(_.endUs).max - start) / 1e6
    r.put("latency_p50_ms", Stats.median(rtt), "ms")
    r.put("latency_tail_ms", Stats.quantile(rtt, 0.9), "ms")
    r.put("throughput_per_s", good.size / elapsedS, "1/s")
    r.put("rr.rtt_p50_ms", Stats.median(rtt), "ms")
    r.put("rr.rtt_p90_ms", Stats.quantile(rtt, 0.9), "ms")
    r.put("rr.replies_per_s", good.size / elapsedS, "1/s")
    r.put("rr.failed_frac", (os.size - good.size).toDouble / os.size, "ratio")
    r.put("rr.replies", good.size, "count")

    val req = os.map(_.requestUs / 1000.0)
    r.put("switchboard.request_p50_ms", Stats.median(req), "ms")
    r.put("switchboard.request_p99_ms", Stats.quantile(req, 0.99), "ms")
    r.put("switchboard.poll_p50_ms", Stats.median(os.flatMap(_.pollUs).map(_ / 1000.0)), "ms")
    r.put("switchboard.polls_per_reply", os.map(_.polls).sum.toDouble / math.max(1, good.size), "ratio")

    Dirs.reportChannels(r, Seq(reqCh, reg.get("rr-rep")))
    r.put("channel.reader_lag_p99_seq", Stats.quantile(lags.asScala.toSeq, 0.99), "seq")
    Obs.reportStream(r, "sources.file", progress)
    Obs.reportWindow(r, before, after)
    start
  }
}
