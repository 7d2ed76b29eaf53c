package graft.streaming

import java.io.DataInputStream
import java.net.Socket
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** SASL PLAIN over real sockets (SaslHandshake 17 v0/v1,
  * SaslAuthenticate 36 v0–v2) and DescribeLogDirs (35): a secured
  * listener refuses normal keys pre-auth (ApiVersions excepted, per
  * Kafka), walks both token framings (v0 raw, v1 wrapped), fences bad
  * credentials in-band, and an authenticated connection serves the
  * full surface; log-dir sizes track the manifest's real bytes. */
class SaslLogDirsSpec extends AnyFunSuite {
  import KafkaWire._
  lazy val spark = TestSpark.spark

  private def exchange(sock: Socket, request: Array[Byte]): Array[Byte] =
    WireTestClient.exchange(sock, request)

  private def readFrame(sock: Socket): Array[Byte] =
    WireTestClient.readFrame(sock)

  private val NUL = Array[Byte](0)

  private def plainToken(user: String, pass: String): Array[Byte] =
    NUL ++ user.getBytes("UTF-8") ++ NUL ++ pass.getBytes("UTF-8")

  private def rec(s: String) =
    WireRecordV2(1700000000000L, s"k-$s".getBytes("UTF-8"), s.getBytes("UTF-8"))

  test("PLAIN token parser handles the RFC 4616 shapes") {
    assert(parsePlainToken(plainToken("alice", "secret"))
      === Some(("alice", "secret")))
    // a matching explicit authzid is legal; a DIFFERENT one is
    // rejected (Kafka's PlainSaslServer behavior — the server never
    // checks authorization ids, so it must not silently bind one)
    assert(parsePlainToken("alice".getBytes("UTF-8") ++ NUL ++ "alice".getBytes("UTF-8") ++ NUL ++ "pw".getBytes("UTF-8"))
      === Some(("alice", "pw")))
    assert(parsePlainToken("admin".getBytes("UTF-8") ++ NUL ++ "alice".getBytes("UTF-8") ++ NUL ++ "pw".getBytes("UTF-8"))
      === None)
    // empty password is a credential question, not a parse failure
    assert(parsePlainToken(plainToken("alice", "")) === Some(("alice", "")))
    assert(parsePlainToken("no-nuls".getBytes("UTF-8")) === None)
    assert(parsePlainToken(NUL ++ NUL ++ "pw".getBytes("UTF-8")) === None)
    assert(parsePlainToken(Array.emptyByteArray) === None)
  }

  test("SaslHandshake v1 request matches the hand-laid golden frame") {
    // header v1 (non-flexible): api_key 17, version 1, corr 3,
    // client "c"; body: string "PLAIN"
    val golden = Array[Int](
      0x00, 0x00, 0x00, 0x12, // frame size 18
      0x00, 0x11, // api_key 17
      0x00, 0x01, // version 1
      0x00, 0x00, 0x00, 0x03, // correlation id 3
      0x00, 0x01, 0x63, // client id "c"
      0x00, 0x05, 0x50, 0x4c, 0x41, 0x49, 0x4e // "PLAIN"
    ).map(_.toByte)
    assert(encodeSaslHandshakeRequest(1, 3, "c", "PLAIN") === golden)
  }

  test("codec round-trips: handshake v0/v1, authenticate v0/v2") {
    for (v <- Seq(0, 1)) {
      val (hv, hc, mech) = decodeSaslHandshakeRequest(
        encodeSaslHandshakeRequest(v, 5, "cli", "PLAIN"))
      assert((hv, hc, mech) === ((v, 5, "PLAIN")))
    }
    val (_, herr, mechs) = decodeSaslHandshakeResponse(
      encodeSaslHandshakeResponse(6, 33, Seq("PLAIN", "SCRAM-SHA-256")))
    assert((herr, mechs) === ((33, Seq("PLAIN", "SCRAM-SHA-256"))))
    for (v <- Seq(0, 2)) {
      val (av, ac, tok) = decodeSaslAuthenticateRequest(
        encodeSaslAuthenticateRequest(v, 7, "cli", plainToken("u", "p")))
      assert((av, ac) === ((v, 7)))
      assert(tok === plainToken("u", "p"))
      val (rc, rerr, _, authBytes) = decodeSaslAuthenticateResponse(v,
        encodeSaslAuthenticateResponse(v, 8, 0, null, Array.emptyByteArray,
          sessionLifetimeMs = 0L))
      assert((rc, rerr) === ((8, 0)))
      assert(authBytes.isEmpty)
    }
  }

  test("secured listener: v1 handshake flow, pre-auth fencing, bad credentials") {
    val root = Files.createTempDirectory("graft-sasl").toString
    val broker = new Broker(spark, root)
    broker.createTopic("sec", 1)
    val server = new WireServer(broker,
      credentials = Map("alice" -> "secret")).start()

    // pre-auth: ApiVersions is allowed — version negotiation comes
    // first on real clients
    val s1 = new Socket("127.0.0.1", server.boundPort)
    try {
      val av = decodeApiVersionsResponsePreV3(0,
        exchange(s1, encodeApiVersionsRequest(0, 1, "cli")))
      assert(av.errorCode === 0)
      // ...but a normal key pre-auth kills the connection
      s1.getOutputStream.write(encodeMetadataRequest(0, 2, "cli", None))
      s1.getOutputStream.flush()
      val in = new DataInputStream(s1.getInputStream)
      assert(in.read() === -1) // server closed
    } finally s1.close()

    // authenticate without a handshake → ILLEGAL_SASL_STATE (34)
    val s2 = new Socket("127.0.0.1", server.boundPort)
    try {
      val (_, err, _, _) = decodeSaslAuthenticateResponse(1, exchange(s2,
        encodeSaslAuthenticateRequest(1, 1, "cli", plainToken("alice", "secret"))))
      assert(err === 34)
    } finally s2.close()

    // unknown mechanism → 33 naming the served set
    val s3 = new Socket("127.0.0.1", server.boundPort)
    try {
      val (_, err, mechs) = decodeSaslHandshakeResponse(exchange(s3,
        encodeSaslHandshakeRequest(1, 1, "cli", "GSSAPI")))
      assert((err, mechs) === ((33, WireServer.Mechanisms)))
      // the connection survives an unknown-mechanism probe — retry PLAIN
      val (_, ok, _) = decodeSaslHandshakeResponse(exchange(s3,
        encodeSaslHandshakeRequest(1, 2, "cli", "PLAIN")))
      assert(ok === 0)
      // wrong password: error 58 in-band, then the connection closes
      val (_, bad, msg, _) = decodeSaslAuthenticateResponse(1, exchange(s3,
        encodeSaslAuthenticateRequest(1, 3, "cli", plainToken("alice", "wrong"))))
      assert(bad === 58)
      assert(msg.contains("Authentication failed"))
      val in = new DataInputStream(s3.getInputStream)
      assert(in.read() === -1)
    } finally s3.close()

    // the full happy path: handshake v1 → authenticate → produce+fetch
    val s4 = new Socket("127.0.0.1", server.boundPort)
    try {
      val (_, h, _) = decodeSaslHandshakeResponse(exchange(s4,
        encodeSaslHandshakeRequest(1, 1, "cli", "PLAIN")))
      assert(h === 0)
      val (_, a, _, _) = decodeSaslAuthenticateResponse(2, exchange(s4,
        encodeSaslAuthenticateRequest(2, 2, "cli", plainToken("alice", "secret"))))
      assert(a === 0)
      val (_, prodRes) = decodeProduceResponse(9, exchange(s4,
        encodeProduceRequest(9, 3, "cli", null, 1, 30000,
          Seq(("sec", Seq((0, Seq(rec("hello")))))))))
      assert(prodRes.head._2.head === ((0, 0, 0L)))
      // a second handshake on an authenticated connection → 34
      val (_, again, _) = decodeSaslHandshakeResponse(exchange(s4,
        encodeSaslHandshakeRequest(1, 4, "cli", "PLAIN")))
      assert(again === 34)
    } finally s4.close()
    server.close()
  }

  test("v0 handshake switches to raw token framing") {
    val root = Files.createTempDirectory("graft-sasl-v0").toString
    val broker = new Broker(spark, root)
    broker.createTopic("raw", 1)
    val server = new WireServer(broker,
      credentials = Map("bob" -> "pw")).start()
    val sock = new Socket("127.0.0.1", server.boundPort)
    try {
      val (_, h, _) = decodeSaslHandshakeResponse(exchange(sock,
        encodeSaslHandshakeRequest(0, 1, "cli", "PLAIN")))
      assert(h === 0)
      // raw length-framed PLAIN token — no Kafka header
      val token = plainToken("bob", "pw")
      val out = sock.getOutputStream
      out.write(Array[Byte](
        (token.length >>> 24).toByte, (token.length >>> 16).toByte,
        (token.length >>> 8).toByte, token.length.toByte))
      out.write(token)
      out.flush()
      val in = new DataInputStream(sock.getInputStream)
      assert(in.readInt() === 0) // empty server token = success
      // and the connection now serves normal keys
      val (_, prodRes) = decodeProduceResponse(9, exchange(sock,
        encodeProduceRequest(9, 2, "cli", null, 1, 30000,
          Seq(("raw", Seq((0, Seq(rec("r0")))))))))
      assert(prodRes.head._2.head === ((0, 0, 0L)))
    } finally { sock.close(); server.close() }
  }

  test("unsecured listener answers SASL keys with ILLEGAL_SASL_STATE") {
    val root = Files.createTempDirectory("graft-sasl-off").toString
    val broker = new Broker(spark, root)
    val server = new WireServer(broker).start()
    val sock = new Socket("127.0.0.1", server.boundPort)
    try {
      val (_, err, mechs) = decodeSaslHandshakeResponse(exchange(sock,
        encodeSaslHandshakeRequest(1, 1, "cli", "PLAIN")))
      assert((err, mechs) === ((34, Seq.empty)))
      val (_, aerr, _, _) = decodeSaslAuthenticateResponse(1, exchange(sock,
        encodeSaslAuthenticateRequest(1, 2, "cli", plainToken("x", "y"))))
      assert(aerr === 34)
      // and the probe cost nothing: normal keys still served
      val av = decodeApiVersionsResponsePreV3(0,
        exchange(sock, encodeApiVersionsRequest(0, 3, "cli")))
      assert(av.errorCode === 0)
    } finally { sock.close(); server.close() }
  }

  test("DescribeLogDirs reports manifest bytes per partition") {
    val root = Files.createTempDirectory("graft-logdirs").toString
    val broker = new Broker(spark, root)
    broker.createTopic("ld", 2)
    broker.createTopic("empty", 1)
    val server = new WireServer(broker).start()
    val sock = new Socket("127.0.0.1", server.boundPort)
    try {
      // produce into partition 0 only — partition 1 stays 0 bytes
      decodeProduceResponse(9, exchange(sock,
        encodeProduceRequest(9, 1, "cli", null, 1, 30000,
          Seq(("ld", Seq((0, Seq(rec("a"), rec("b")))))))))
      val (_, dirs) = decodeDescribeLogDirsResponse(exchange(sock,
        encodeDescribeLogDirsRequest(2, "cli", null)))
      assert(dirs.length === 1)
      val (err, logDir, topics) = dirs.head
      assert(err === 0)
      assert(logDir === root)
      val byTopic = topics.toMap
      assert(byTopic.keySet === Set("ld", "empty"))
      val ld = byTopic("ld").map { case (p, size, lag, future) =>
        assert(lag === 0L); assert(!future); (p, size)
      }.toMap
      assert(ld(0) > 0L) // real parquet bytes
      assert(ld(1) === 0L)
      assert(byTopic("empty") === Seq((0, 0L, 0L, false)))
      // size agrees with the manifest's own accounting
      assert(ld(0) === broker.topic("ld").partitionSizes()(0))

      // named form: only the asked (existing) topic/partitions
      val (_, named) = decodeDescribeLogDirsResponse(exchange(sock,
        encodeDescribeLogDirsRequest(3, "cli",
          Seq(("ld", Seq(0)), ("ghost", Seq(0))))))
      assert(named.head._3.map(_._1) === Seq("ld"))
      assert(named.head._3.head._2.map(_._1) === Seq(0))
    } finally { sock.close(); server.close() }
  }
}
