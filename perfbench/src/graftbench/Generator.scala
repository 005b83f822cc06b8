package graftbench

import java.io.{BufferedInputStream, BufferedReader, DataInputStream, DataOutputStream, InputStreamReader}
import java.net.Socket
import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8}
import java.nio.file.{Files, Paths}
import java.util.concurrent.locks.LockSupport

import graft.net.QuicLite

/** One client connection to an ingress edge. `send` blocks until the
  * edge's synchronous reply is read and returns whether it accepted. */
sealed trait EdgeConn {
  def kind: String
  def send(frame: Array[Byte]): Boolean
  def close(): Unit
}

/** Minimal HTTP/1.1 keep-alive client: one POST per frame. */
final class HttpConn(port: Int) extends EdgeConn {
  val kind = "http"
  private var sock: Socket = _
  private var in: BufferedInputStream = _
  connect()

  private def connect(): Unit = {
    sock = new Socket("127.0.0.1", port)
    sock.setTcpNoDelay(true)
    in = new BufferedInputStream(sock.getInputStream)
  }

  private def readLine(): String = {
    val b = new java.io.ByteArrayOutputStream()
    var c = in.read()
    while (c != '\n') {
      if (c < 0) throw new java.io.EOFException("edge closed the connection")
      if (c != '\r') b.write(c)
      c = in.read()
    }
    new String(b.toByteArray, ISO_8859_1)
  }

  private def post(frame: Array[Byte]): Int = {
    val out = sock.getOutputStream
    out.write(("POST /ingest HTTP/1.1\r\nHost: 127.0.0.1\r\n" +
      s"Content-Type: application/octet-stream\r\nContent-Length: ${frame.length}\r\n\r\n")
      .getBytes(ISO_8859_1))
    out.write(frame)
    out.flush()
    val status = readLine().split(" ")(1).toInt
    var length = 0
    var h = readLine()
    while (h.nonEmpty) {
      if (h.toLowerCase.startsWith("content-length:")) length = h.substring(15).trim.toInt
      h = readLine()
    }
    in.readNBytes(length)
    status
  }

  /** A keep-alive connection the edge closed while idle is re-opened once;
    * the edge had not read the request, so the retry cannot duplicate it. */
  def send(frame: Array[Byte]): Boolean = {
    val status =
      try post(frame)
      catch { case _: java.io.IOException => close(); connect(); post(frame) }
    status == 202
  }

  def close(): Unit = try sock.close() catch { case _: java.io.IOException => () }
}

final class QuicConn(port: Int, domain: String) extends EdgeConn {
  val kind = "quic"
  private val ep = QuicLite.endpoint()
  private val conn = ep.connect("127.0.0.1", port, domain, timeoutMs = 5000)

  def send(frame: Array[Byte]): Boolean = {
    val s = conn.openStream()
    s.write(frame)
    new String(s.readAll(10000), UTF_8) == "accepted"
  }

  def close(): Unit = ep.close()
}

/** The edge_to_sink load generator: its own process, sending pre-encoded
  * frames to the HTTP and QUIC edges. Connection `c` owns the events with
  * index ≡ c (mod conns); even connections speak HTTP, odd ones QUIC.
  *
  * Steady phase: an open loop. Event k is due at origin + k / rate; the
  * schedule never waits on the system, and a connection still blocked on
  * an earlier reply sends late, which the due-time stamp charges to the
  * event. Burst phase (after the harness writes `BURST` on stdin): every
  * connection sends its share back to back.
  *
  * Usage: Generator <frames> <httpPort> <quicPort> <domain> <conns> <results>
  * Protocol on stdout: `ORIGIN <epoch-us>`, `STEADY_DONE`, `BURST_DONE`.
  */
object Generator {
  final case class Frame(id: Long, dueOffUs: Long, bytes: Array[Byte])

  def readFrames(path: java.nio.file.Path): IndexedSeq[Frame] = {
    val in = new DataInputStream(new java.io.BufferedInputStream(Files.newInputStream(path)))
    try IndexedSeq.fill(in.readInt()) {
      val id = in.readLong(); val off = in.readLong()
      val b = new Array[Byte](in.readInt()); in.readFully(b)
      Frame(id, off, b)
    } finally in.close()
  }

  def writeFrames(path: java.nio.file.Path, fs: Seq[Frame]): Unit = {
    val out = new DataOutputStream(new java.io.BufferedOutputStream(Files.newOutputStream(path)))
    try {
      out.writeInt(fs.size)
      fs.foreach { f => out.writeLong(f.id); out.writeLong(f.dueOffUs); out.writeInt(f.bytes.length); out.write(f.bytes) }
    } finally out.close()
  }

  def main(args: Array[String]): Unit = {
    val Array(framesPath, httpPort, quicPort, domain, connsS, resultsPath) = args
    val frames = readFrames(Paths.get(framesPath))
    val conns = connsS.toInt
    val clients: IndexedSeq[EdgeConn] = (0 until conns).map { c =>
      if (c % 2 == 0) new HttpConn(httpPort.toInt) else new QuicConn(quicPort.toInt, domain)
    }
    val (steady, burst) = frames.partition(_.dueOffUs >= 0)
    // per event: sent, acked (epoch µs), accepted
    val sent, acked = new Array[Long](frames.size)
    val ok = new Array[Boolean](frames.size)
    val kind = new Array[String](frames.size)
    val index = frames.map(_.id).zipWithIndex.toMap

    def phase(evs: IndexedSeq[Frame], origin: Long): Unit = {
      val threads = (0 until conns).map { c =>
        val t = new Thread(() => {
          var k = c
          while (k < evs.size) {
            val f = evs(k)
            if (origin > 0) {
              val due = origin + f.dueOffUs
              var wait = due - Clock.nowUs
              while (wait > 0) { LockSupport.parkNanos(wait * 1000L); wait = due - Clock.nowUs }
            }
            val i = index(f.id)
            kind(i) = clients(c).kind
            sent(i) = Clock.nowUs
            ok(i) = try clients(c).send(f.bytes) catch { case _: Exception => false }
            acked(i) = Clock.nowUs
            k += conns
          }
        }, s"gen-$c")
        t.start(); t
      }
      threads.foreach(_.join())
    }

    // the schedule starts a fixed lead after every connection is open
    val origin = Clock.nowUs + 200000L
    println(s"ORIGIN $origin"); System.out.flush()
    phase(steady, origin)
    println("STEADY_DONE"); System.out.flush()
    val stdin = new BufferedReader(new InputStreamReader(System.in, UTF_8))
    if (stdin.readLine() == "BURST") {
      phase(burst, 0L)
      println("BURST_DONE"); System.out.flush()
    }
    clients.foreach(_.close())
    val w = Files.newBufferedWriter(Paths.get(resultsPath), UTF_8)
    try frames.indices.foreach { i =>
      val f = frames(i)
      val due = if (f.dueOffUs >= 0) origin + f.dueOffUs else -1L
      w.write(s"${f.id} $due ${sent(i)} ${acked(i)} ${if (ok(i)) 1 else 0} ${kind(i)}\n")
    } finally w.close()
  }
}
