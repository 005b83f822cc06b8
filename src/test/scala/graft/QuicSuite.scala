package graft

import java.nio.charset.StandardCharsets.UTF_8

import graft.channel.ChannelRegistry
import graft.net.{QuicIngress, QuicLite}
import org.apache.spark.sql.functions._

class QuicSuite extends SparkSpec {
  import spark.implicits._

  private def s(bytes: Array[Byte]) = new String(bytes, UTF_8)

  /** Waits up to 10 s for an edge counter the accept thread updates. */
  private def await(cond: => Boolean): Unit = {
    val deadline = System.nanoTime() + 10000L * 1000000L
    while (!cond && System.nanoTime() < deadline) Thread.sleep(20)
  }

  test("handshake + bidirectional stream round-trip (S4)") {
    val server = QuicLite.endpoint()
    val client = QuicLite.endpoint()
    try {
      val listener = server.bind("echo.test")
      val conn = client.connect("127.0.0.1", server.port, "echo.test")
      val stream = conn.openStream()
      stream.write("hello over quic".getBytes(UTF_8))
      val inbound = listener.accept().getOrElse(fail("no stream accepted"))
      assert(s(inbound.readAll()) == "hello over quic")
      inbound.write("pong".getBytes(UTF_8))
      assert(s(stream.readAll()) == "pong")
    } finally { server.close(); client.close() }
  }

  test("endpoint survives a flood of hostile datagrams (fuzz) and still serves") {
    // The UDP edge receives UNTRUSTED bytes; the receive loop's contract
    // is that malformed packets are dropped, never crash the endpoint.
    // Spray random blobs — including ones that start with valid packet
    // type bytes but carry garbage bodies — then prove a legitimate
    // handshake + stream still completes on the same endpoint.
    val server = QuicLite.endpoint()
    val client = QuicLite.endpoint()
    val gun = java.nio.channels.DatagramChannel.open()
    try {
      val listener = server.bind("sturdy.test")
      val target = new java.net.InetSocketAddress("127.0.0.1", server.port)
      val rnd = new scala.util.Random(20260814L)
      (0 until 300).foreach { i =>
        val n = rnd.nextInt(100)
        val body = Array.fill(n)(rnd.nextInt().toByte)
        if (i % 3 == 0 && n > 0) body(0) = (rnd.nextInt(8) + 1).toByte // valid-ish type
        gun.send(java.nio.ByteBuffer.wrap(body), target)
      }
      Thread.sleep(200) // let the flood drain through the receive loop
      val conn = client.connect("127.0.0.1", server.port, "sturdy.test", timeoutMs = 5000)
      val stream = conn.openStream()
      stream.write("still alive".getBytes(UTF_8))
      val inbound = listener.accept(timeoutMs = 5000).getOrElse(fail("endpoint died"))
      assert(s(inbound.readAll()) == "still alive")
    } finally { gun.close(); server.close(); client.close() }
  }

  test("unrouted domain is refused with the reference's close reason") {
    val server = QuicLite.endpoint()
    val client = QuicLite.endpoint()
    try {
      server.bind("routed.test")
      val e = intercept[QuicLite.QuicError] {
        client.connect("127.0.0.1", server.port, "other.test", timeoutMs = 2000)
      }
      assert(e.getMessage.contains("unrouted domain"))
    } finally { server.close(); client.close() }
  }

  test("streams multiplex on one connection; large payload fragments") {
    val server = QuicLite.endpoint()
    val client = QuicLite.endpoint()
    try {
      val listener = server.bind("mux.test")
      val conn = client.connect("127.0.0.1", server.port, "mux.test")
      // larger than MaxData so it fragments into multiple STREAM packets
      val big = ("x" * (QuicLite.MaxData * 3 + 17)).getBytes(UTF_8)
      val s1 = conn.openStream(); val s2 = conn.openStream()
      assert(s1.streamId == 0 && s2.streamId == 4) // RFC 9000 §2.1 parity
      s2.write("short".getBytes(UTF_8))
      s1.write(big)
      val got = (0 until 2).flatMap(_ => listener.accept())
        .map(st => st.streamId -> s(st.readAll())).toMap
      assert(got(4L) == "short")
      assert(got(0L).length == big.length && got(0L) == new String(big, UTF_8))
    } finally { server.close(); client.close() }
  }

  test("retransmission recovers from injected packet loss") {
    val server = QuicLite.endpoint()
    val client = QuicLite.endpoint()
    try {
      val listener = server.bind("lossy.test")
      val conn = client.connect("127.0.0.1", server.port, "lossy.test")
      // drop the FIRST transmission of every even packet number; the RTO
      // loop must resend until acked
      val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
      client.lossRule = pkt => (pkt % 2 == 0) && seen.add(pkt)
      val payload = ("loss" * 1000).getBytes(UTF_8) // 4000 bytes → 4 packets
      val stream = conn.openStream()
      stream.write(payload)
      val inbound = listener.accept(timeoutMs = 10000).getOrElse(fail("lost"))
      assert(s(inbound.readAll(10000)) == new String(payload, UTF_8))
    } finally { server.close(); client.close() }
  }

  test("lost ACCEPT is re-sent verbatim on a duplicate INITIAL (handshake recovery)") {
    // Regression: the server used to RE-SEAL the ACCEPT for every
    // INITIAL — the second seal re-inits AES-GCM under the identical
    // (key, nonce = pn 0) pair, which the JCE rejects
    // (InvalidAlgorithmParameterException), and handle()'s catch-all
    // swallowed it, so a lost ACCEPT was never replaced and the
    // handshake deterministically stalled until connect()'s timeout.
    // The sealed ACCEPT is now cached per connection and retransmitted
    // byte-for-byte (mirroring the client's cached INITIAL).
    val server = QuicLite.endpoint()
    val client = QuicLite.endpoint()
    try {
      server.bind("accept-loss.test")
      // drop the first TWO outbound ACCEPTs (type byte 2): recovery must
      // survive repeated loss, which needs the third send to still be a
      // valid sealed packet — three seals under the old code path, where
      // already the first RE-seal threw
      val dropped = new java.util.concurrent.atomic.AtomicInteger(0)
      server.handshakeLossRule = tpe => tpe == 2 && dropped.incrementAndGet() <= 2
      val conn = client.connect("127.0.0.1", server.port, "accept-loss.test",
        timeoutMs = 5000)
      assert(dropped.get() >= 2, "loss hook never saw the ACCEPTs")
      // the recovered handshake yields a fully usable connection
      val listener = server.bind("accept-loss.test")
      val stream = conn.openStream()
      stream.write("made it".getBytes(UTF_8))
      val inbound = listener.accept(timeoutMs = 5000).getOrElse(fail("no stream"))
      assert(s(inbound.readAll()) == "made it")
      inbound.write("ack".getBytes(UTF_8))
      assert(s(stream.readAll()) == "ack")
    } finally { server.close(); client.close() }
  }

  test("readAll surfaces connection failure as QuicError, not null") {
    val server = QuicLite.endpoint()
    val client = QuicLite.endpoint()
    try {
      server.bind("close.test")
      val conn = client.connect("127.0.0.1", server.port, "close.test")
      val st = conn.openStream()
      st.write("hanging request".getBytes(UTF_8))
      conn.close(1, "going away") // our side tears the connection down
      val e = intercept[QuicLite.QuicError] { st.readAll(2000) }
      assert(e.getMessage.nonEmpty)
    } finally { server.close(); client.close() }
  }

  test("stopping one ingress on a shared endpoint keeps the other serving") {
    val reg = new ChannelRegistry(spark, tmpDir("quicshared"))
    val chA = reg.create("shared_a", QuicIngress.schema)
    val chB = reg.create("shared_b", QuicIngress.schema)
    val shared = QuicLite.endpoint()
    val ia = QuicIngress.start(spark, chA, "a.test", endpoint = shared, writerId = 1)
    val ib = QuicIngress.start(spark, chB, "b.test", endpoint = shared, writerId = 2)
    val client = QuicLite.endpoint()
    try {
      ia.stop() // must NOT close the shared endpoint
      val conn = client.connect("127.0.0.1", shared.port, "b.test")
      val st = conn.openStream()
      st.write("still here".getBytes(UTF_8))
      assert(s(st.readAll()) == "accepted")
      assert(ib.flush() == 1)
    } finally { ib.stop(); shared.close(); client.close() }
  }

  test("load balancer over QUIC: round-robin backends, bounded concurrency") {
    // the reference's load-balancer example: accept streams for a domain,
    // forward each request to one of N backends over QUIC, reply on the
    // ORIGINATING stream, at most `concurrency` requests in flight
    // (examples/load-balancer/src/lib.rs: for_each_concurrent(50))
    val backendA = QuicLite.endpoint()
    val backendB = QuicLite.endpoint()
    val lb = QuicLite.endpoint()
    val client = QuicLite.endpoint()
    try {
      def serveBackend(ep: QuicLite.QuicEndpoint, tag: String): Unit = {
        val l = ep.bind("backend.test")
        val t = new Thread(() => while (true) l.accept(200).foreach { st =>
          st.write(s"$tag:${s(st.readAll())}".getBytes(UTF_8))
        })
        t.setDaemon(true); t.start()
      }
      serveBackend(backendA, "A")
      serveBackend(backendB, "B")

      val backends = Vector(
        lb.connect("127.0.0.1", backendA.port, "backend.test"),
        lb.connect("127.0.0.1", backendB.port, "backend.test"))
      val rr = new java.util.concurrent.atomic.AtomicInteger(0)
      val gate = new java.util.concurrent.Semaphore(2) // bounded concurrency
      val inflightMax = new java.util.concurrent.atomic.AtomicInteger(0)
      val inflight = new java.util.concurrent.atomic.AtomicInteger(0)
      val listener = lb.bind("lb.test")
      val lbThread = new Thread(() => while (true) listener.accept(200).foreach { st =>
        gate.acquire()
        val t = new Thread(() => try {
          inflightMax.accumulateAndGet(inflight.incrementAndGet(), math.max)
          val backend = backends(rr.getAndIncrement() % backends.size)
          val fwd = backend.openStream()
          fwd.write(st.readAll())
          st.write(fwd.readAll()) // reply on the originating stream
        } finally { inflight.decrementAndGet(); gate.release() })
        t.setDaemon(true); t.start()
      })
      lbThread.setDaemon(true); lbThread.start()

      val conn = client.connect("127.0.0.1", lb.port, "lb.test")
      val replies = (0 until 6).map { i =>
        val st = conn.openStream()
        st.write(s"req$i".getBytes(UTF_8))
        s(st.readAll(10000))
      }
      // every request answered by exactly one backend, round-robin
      assert(replies.map(_.takeWhile(_ != ':')).toSet == Set("A", "B"))
      assert(replies.count(_.startsWith("A:")) == 3)
      assert(replies.map(_.dropWhile(_ != ':').drop(1)).sorted ==
        (0 until 6).map(i => s"req$i"))
      assert(inflightMax.get() <= 2)
    } finally { backendA.close(); backendB.close(); lb.close(); client.close() }
  }

  test("TLS over QUIC: handshake + encrypted request/reply round-trip") {
    // parity with the reference's TLS-native QUIC transport
    // (subsystem/net-quinn/src/lib.rs rides rustls; cert plumbing in
    // tests/request-reply/src/lib.rs) — same keystore as the HTTPS edge
    val pw = "graft-test".toCharArray
    val ctx = graft.net.Tls.sslContext(
      graft.net.Tls.selfSignedKeystore(tmpDir("quictls-ks"), pw), pw)
    val server = QuicLite.endpoint()
    val client = QuicLite.endpoint()
    try {
      val listener = server.bind("tls.test")
      val serverThread = new Thread(() => listener.accept(5000).foreach { st =>
        val t = graft.net.QuicTls.server(st, ctx)
        val req = t.readAll()
        t.write(s"tls-echo:${s(req)}".getBytes(UTF_8))
      })
      serverThread.setDaemon(true); serverThread.start()

      val conn = client.connect("127.0.0.1", server.port, "tls.test")
      val t = graft.net.QuicTls.client(conn, ctx)
      t.write("secret over quic".getBytes(UTF_8))
      assert(s(t.readAll()) == "tls-echo:secret over quic")
      // a real TLS session was negotiated, not a passthrough
      assert(t.session.getProtocol.startsWith("TLS"))
      assert(t.session.getCipherSuite.nonEmpty &&
        t.session.getCipherSuite != "SSL_NULL_WITH_NULL_NULL")
    } finally { server.close(); client.close() }
  }

  test("TLS over QUIC: untrusting client is refused at the handshake") {
    val pw = "graft-test".toCharArray
    val serverCtx = graft.net.Tls.sslContext(
      graft.net.Tls.selfSignedKeystore(tmpDir("quictls-srv"), pw), pw)
    // the client trusts a DIFFERENT self-signed cert → cert path fails
    val clientCtx = graft.net.Tls.sslContext(
      graft.net.Tls.selfSignedKeystore(tmpDir("quictls-cli"), pw), pw)
    val reg = new ChannelRegistry(spark, tmpDir("quictlsrefuse"))
    val ch = reg.create("quic_refuse_in", QuicIngress.schema)
    val ingress = QuicIngress.start(spark, ch, "refuse.test", tls = Some(serverCtx))
    val client = QuicLite.endpoint()
    try {
      val conn = client.connect("127.0.0.1", ingress.port, "refuse.test")
      intercept[javax.net.ssl.SSLException] {
        graft.net.QuicTls.client(conn, clientCtx)
      }
      // the edge counts the failed server-side handshake and keeps serving
      await(ingress.refusedCount > 0)
      assert(ingress.refusedCount == 1 && ingress.acceptedCount == 0)
      val t = graft.net.QuicTls.client(conn, serverCtx)
      t.write("trusted".getBytes(UTF_8))
      assert(s(t.readAll()) == "accepted")
      assert(ingress.flush() == 1)
      assert(ingress.refusedCount == 1 && ingress.acceptedCount == 1)
    } finally { ingress.stop(); client.close() }
  }

  test("TLS QUIC edge → channel end-to-end; plaintext client never lands") {
    val pw = "graft-test".toCharArray
    val ctx = graft.net.Tls.sslContext(
      graft.net.Tls.selfSignedKeystore(tmpDir("quictls-e2e"), pw), pw)
    val reg = new ChannelRegistry(spark, tmpDir("quictlse2e"))
    val ch = reg.create("quic_tls_in", QuicIngress.schema)
    val ingress = QuicIngress.start(spark, ch, "tlsedge.test", tls = Some(ctx),
      reply = body => s"ok:${body.length}".getBytes(UTF_8))
    val client = QuicLite.endpoint()
    try {
      val conn = client.connect("127.0.0.1", ingress.port, "tlsedge.test")
      val t = graft.net.QuicTls.client(conn, ctx)
      t.write("encrypted-record".getBytes(UTF_8))
      assert(s(t.readAll()) == "ok:16")
      // a plaintext stream against the TLS edge fails its handshake and
      // must not reach the channel
      val plain = conn.openStream()
      plain.write("cleartext sneak".getBytes(UTF_8))
      intercept[QuicLite.QuicError] { plain.readAll(1500) }
      assert(ingress.flush() == 1)
      await(ingress.refusedCount > 0)
      assert(ingress.acceptedCount == 1 && ingress.refusedCount == 1)
      val rows = ch.read()
        .select(expr("cast(body as string)").as("body")).as[String].collect()
      assert(rows.toSeq == Seq("encrypted-record"))
    } finally { ingress.stop(); client.close() }
  }

  test("QUIC edge → channel → query end-to-end (S4 record flow)") {
    val reg = new ChannelRegistry(spark, tmpDir("quic"))
    val ch = reg.create("quic_in", QuicIngress.schema)
    val ingress = QuicIngress.start(spark, ch, "ingest.test",
      reply = body => s"ok:${body.length}".getBytes(UTF_8))
    val client = QuicLite.endpoint()
    try {
      val conn = client.connect("127.0.0.1", ingress.port, "ingest.test")
      val replies = (0 until 3).map { i =>
        val st = conn.openStream()
        st.write(s"record-$i".getBytes(UTF_8))
        s(st.readAll())
      }
      assert(replies == Seq("ok:8", "ok:8", "ok:8"))
      assert(ingress.flush() == 3)
      val rows = ch.read()
        .select(col("request_id"), expr("cast(body as string)").as("body"))
        .as[(Long, String)].collect().sortBy(_._1)
      assert(rows.map(_._2).toSeq == Seq("record-0", "record-1", "record-2"))
    } finally { ingress.stop(); client.close() }
  }
}
