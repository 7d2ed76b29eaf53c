package graft.streaming

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Byte-level Produce v0 / Fetch v0 against the real TopicLog: a v0
  * Kafka client's producer/consumer path, framed bytes in and out,
  * with the Spark-native log as the storage engine. Message-set
  * layout is pinned against an independently hand-laid golden frame
  * (CRC from the JDK's CRC32 over the hand-laid body). */
class ProduceFetchWireSpec extends AnyFunSuite {
  import KafkaWire._
  lazy val spark = TestSpark.spark

  private def newBroker(): (Broker, String) = {
    val root = Files.createTempDirectory("graft-wire").toString
    (new Broker(spark, root), root)
  }

  test("message set v0 encode matches the hand-laid golden bytes") {
    // one message at offset 5: key null, value "v"
    val body = Array[Byte](0, 0) ++ // magic, attributes
      Array[Byte](-1, -1, -1, -1) ++ // key = null (INT32 -1)
      Array[Byte](0, 0, 0, 1) ++ "v".getBytes("UTF-8") // value BYTES
    val crc = new java.util.zip.CRC32()
    crc.update(body)
    val c = crc.getValue.toInt
    val golden =
      Array[Byte](0, 0, 0, 0, 0, 0, 0, 5) ++ // offset INT64
        Array[Byte](0, 0, 0, (4 + body.length).toByte) ++ // message_size
        Array[Byte]((c >>> 24).toByte, (c >>> 16).toByte,
          (c >>> 8).toByte, c.toByte) ++ body
    val enc = encodeMessageSetV0(Seq((5L, WireRecord(null, "v".getBytes("UTF-8")))))
    assert(enc.sameElements(golden),
      s"\n got: ${enc.map("%02x".format(_)).mkString(" ")}" +
        s"\nwant: ${golden.map("%02x".format(_)).mkString(" ")}")
    val dec = decodeMessageSetV0(golden)
    assert(dec.map(_._1) === Seq(5L))
    assert(dec.head._2.key === null)
    assert(new String(dec.head._2.value, "UTF-8") === "v")
  }

  private def i16(v: Int) = Array[Byte]((v >>> 8).toByte, v.toByte)
  private def i32(v: Int) = Array[Byte]((v >>> 24).toByte, (v >>> 16).toByte,
    (v >>> 8).toByte, v.toByte)
  private def i64(v: Long) = (56 to 0 by -8).map(s => (v >>> s).toByte).toArray

  test("produce v3 request framing matches the hand-laid golden bytes") {
    // the RECORDS payload is a magic-2 batch, whose byte layout is
    // pinned by RecordBatchV2Spec's own golden frame — here the hand
    // lay covers the v3 REQUEST framing around it
    val rec = WireRecordV2(1000L, null, "v".getBytes("UTF-8"))
    val batch = encodeRecordBatchV2(RecordBatchV2(0L, 1000L, Seq(rec)))
    val body =
      i16(0) ++ i16(3) ++ // api_key Produce, api_version 3
        i32(42) ++ // correlation_id
        i16(3) ++ "cli".getBytes("UTF-8") ++ // client_id
        i16(-1) ++ // transactional_id: null
        i16(1) ++ // acks
        i32(1000) ++ // timeout_ms
        i32(1) ++ i16(3) ++ "hdr".getBytes("UTF-8") ++ // 1 topic
        i32(1) ++ i32(0) ++ // 1 partition, partition 0
        i32(batch.length) ++ batch
    val golden = i32(body.length) ++ body
    val enc = encodeProduceRequest(3, 42, "cli", null, 1, 1000,
      Seq(("hdr", Seq((0, Seq(rec))))))
    assert(enc.sameElements(golden),
      s"\n got: ${enc.map("%02x".format(_)).mkString(" ")}" +
        s"\nwant: ${golden.map("%02x".format(_)).mkString(" ")}")
    val dec = decodeProduceRequest(golden)
    assert(dec.version === 3 && dec.correlationId === 42 && dec.acks === 1)
    assert(dec.transactionalId === null)
    assert(new String(dec.topics.head._2.head._2.head.records.head.value, "UTF-8") === "v")
  }

  test("fetch v4 response framing matches the hand-laid golden bytes") {
    val rec = WireRecordV2(1000L, null, "v".getBytes("UTF-8"))
    val batch = encodeRecordBatchV2WithOffsets(1000L, Seq((5L, rec)))
    val body =
      i32(7) ++ // correlation_id (response header v0)
        i32(0) ++ // throttle_time_ms (v1+)
        i32(1) ++ i16(1) ++ "t".getBytes("UTF-8") ++ // 1 topic
        i32(1) ++ // 1 partition
        i32(0) ++ i16(0) ++ i64(6L) ++ // partition, error, high_watermark
        i64(6L) ++ i32(0) ++ // last_stable_offset, aborted_transactions (v4)
        i32(batch.length) ++ batch
    val golden = i32(body.length) ++ body
    val enc = encodeFetchResponse(4, 7, Seq(("t", Seq((0, 0, 6L, Seq((5L, rec)))))))
    assert(enc.sameElements(golden),
      s"\n got: ${enc.map("%02x".format(_)).mkString(" ")}" +
        s"\nwant: ${golden.map("%02x".format(_)).mkString(" ")}")
    val dec = decodeFetchResponse(4, golden)
    assert(dec._1 === 7)
    val (p, err, hw, recs) = dec._2.head._2.head
    assert(p === 0 && err === 0 && hw === 6L)
    assert(recs.map(_._1) === Seq(5L)) // absolute offset survives the batch
    assert(recs.head._2.timestampMs === 1000L)
  }

  test("produce v9 flexible framing matches the hand-laid golden bytes") {
    // compact strings (uvarint len+1), compact arrays, compact bytes,
    // and tag buffers — the KIP-482 encoding a modern client emits
    val rec = WireRecordV2(1000L, null, "v".getBytes("UTF-8"))
    val batch = encodeRecordBatchV2(RecordBatchV2(0L, 1000L, Seq(rec)))
    require(batch.length + 1 < 0x80, "golden assumes 1-byte uvarint")
    val body =
      i16(0) ++ i16(9) ++ // api_key Produce, api_version 9
        i32(42) ++ // correlation_id
        i16(3) ++ "cli".getBytes("UTF-8") ++ // header v2 client_id: LEGACY string
        Array[Byte](0) ++ // header tag buffer
        Array[Byte](0) ++ // transactional_id: compact null
        i16(1) ++ // acks
        i32(1000) ++ // timeout_ms
        Array[Byte](2) ++ // topics: compact count 1+1
        Array[Byte](4) ++ "hdr".getBytes("UTF-8") ++ // compact string, len 3+1
        Array[Byte](2) ++ // partitions: compact count 1+1
        i32(0) ++ // partition index
        Array[Byte]((batch.length + 1).toByte) ++ batch ++ // compact RECORDS
        Array[Byte](0) ++ // partition tag buffer
        Array[Byte](0) ++ // topic tag buffer
        Array[Byte](0) // body tag buffer
    val golden = i32(body.length) ++ body
    val enc = encodeProduceRequest(9, 42, "cli", null, 1, 1000,
      Seq(("hdr", Seq((0, Seq(rec))))))
    assert(enc.sameElements(golden),
      s"\n got: ${enc.map("%02x".format(_)).mkString(" ")}" +
        s"\nwant: ${golden.map("%02x".format(_)).mkString(" ")}")
    val dec = decodeProduceRequest(golden)
    assert(dec.version === 9 && dec.correlationId === 42)
    assert(new String(dec.topics.head._2.head._2.head.records.head.value, "UTF-8") === "v")
  }

  test("magic-1 messages (a Produce v2 client's format) decode in a message set") {
    // hand-laid v1 message at offset 7: magic 1, attributes 0,
    // timestamp INT64, key null, value "w"
    val mbody = Array[Byte](1, 0) ++ i64(123456789L) ++
      i32(-1) ++ i32(1) ++ "w".getBytes("UTF-8")
    val crc = new java.util.zip.CRC32()
    crc.update(mbody)
    val ms = i64(7L) ++ i32(4 + mbody.length) ++ i32(crc.getValue.toInt) ++ mbody
    val dec = decodeMessageSetV0(ms)
    assert(dec.map(_._1) === Seq(7L))
    assert(dec.head._2.key === null)
    assert(new String(dec.head._2.value, "UTF-8") === "w")
  }

  test("corrupted message CRC is rejected") {
    val ms = encodeMessageSetV0(Seq((0L, WireRecord(null, "x".getBytes("UTF-8")))))
    ms(ms.length - 1) = (ms(ms.length - 1) ^ 0x01).toByte
    val e = intercept[IllegalArgumentException] { decodeMessageSetV0(ms) }
    assert(e.getMessage.contains("CRC"))
  }

  test("wire produce lands real offsets; wire fetch round-trips the records") {
    val (broker, _) = newBroker()
    broker.createTopic("wire", 2)

    def rec(s: String) =
      WireRecordV2(-1L, s"k$s".getBytes("UTF-8"), s"v$s".getBytes("UTF-8"))
    val produce1 = broker.handleProduce(encodeProduceRequest(0, 10, "cli", null, 1, 1000,
      Seq(("wire", Seq(
        (0, Seq(rec("a"), rec("b"))),
        (1, Seq(rec("c"))))))))
    val (corr1, res1) = decodeProduceResponse(0, produce1)
    assert(corr1 === 10)
    assert(res1 === Seq(("wire", Seq((0, 0, 0L), (1, 0, 0L)))))

    // second produce continues each partition's log end
    val produce2 = broker.handleProduce(encodeProduceRequest(0, 11, "cli", null, 1, 1000,
      Seq(("wire", Seq((0, Seq(rec("d"))))))))
    assert(decodeProduceResponse(0, produce2)._2 === Seq(("wire", Seq((0, 0, 2L)))))

    // fetch everything from partition 0
    val fetch = broker.handleFetch(encodeFetchRequest(0, 12, "cli", 100, 1, 1 << 20,
      Seq(("wire", Seq((0, 0L, 1 << 20))))))
    val (corrF, topicsF) = decodeFetchResponse(0, fetch)
    assert(corrF === 12)
    val (p0, err0, hw0, msgs0) = topicsF.head._2.head
    assert((p0, err0, hw0) === (0, 0, 3L))
    assert(msgs0.map(_._1) === Seq(0L, 1L, 2L), "offsets must be the log's")
    assert(msgs0.map(m => new String(m._2.value, "UTF-8")) === Seq("va", "vb", "vd"))
    assert(msgs0.map(m => new String(m._2.key, "UTF-8")) === Seq("ka", "kb", "kd"))

    // bounded fetch: max_bytes fits only the first message (~30 bytes)
    val bounded = broker.handleFetch(encodeFetchRequest(0, 13, "cli", 100, 1, 1 << 20,
      Seq(("wire", Seq((0, 0L, 40))))))
    val msgsB = decodeFetchResponse(0, bounded)._2.head._2.head._4
    assert(msgsB.map(_._1) === Seq(0L), "max_bytes must bound the set")

    // offset past the end → error 1 (OFFSET_OUT_OF_RANGE)
    val past = broker.handleFetch(encodeFetchRequest(0, 14, "cli", 100, 1, 1 << 20,
      Seq(("wire", Seq((1, 99L, 1 << 20))))))
    val (_, e1, hw1, m1) = decodeFetchResponse(0, past)._2.head._2.head
    assert((e1, hw1, m1.isEmpty) === (1, 1L, true))

    // unknown topic / partition → error 3, rest of the request served
    val mixed = broker.handleProduce(encodeProduceRequest(0, 15, "cli", null, 1, 1000,
      Seq(("ghost", Seq((0, Seq(rec("x"))))),
        ("wire", Seq((9, Seq(rec("y"))), (1, Seq(rec("z"))))))))
    val (_, resM) = decodeProduceResponse(0, mixed)
    assert(resM === Seq(
      ("ghost", Seq((0, 3, -1L))),
      ("wire", Seq((9, 3, -1L), (1, 0, 1L)))))
  }

  test("fetch never leaves offset gaps: stops at the first record that overflows max_bytes") {
    val (broker, _) = newBroker()
    broker.createTopic("gap", 1)
    // sizes ~ 26+1, 26+60, 26+1: with max_bytes=80 the middle record
    // overflows — a gap-leaving implementation would skip it but still
    // include offset 2, and the consumer would lose offset 1 forever
    broker.handleProduce(encodeProduceRequest(0, 30, "cli", null, 1, 1000,
      Seq(("gap", Seq((0, Seq(
        WireRecordV2(-1L, null, "a".getBytes("UTF-8")),
        WireRecordV2(-1L, null, ("b" * 60).getBytes("UTF-8")),
        WireRecordV2(-1L, null, "c".getBytes("UTF-8")))))))))
    val resp = decodeFetchResponse(0, broker.handleFetch(encodeFetchRequest(0,
      31, "cli", 100, 1, 1 << 20, Seq(("gap", Seq((0, 0L, 80)))))))
    val msgs = resp._2.head._2.head._4
    assert(msgs.map(_._1) === Seq(0L), s"offset gap risk: got ${msgs.map(_._1)}")
  }

  test("produce response bases are correct for duplicate partition entries") {
    val (broker, _) = newBroker()
    broker.createTopic("dup", 2)
    def rec(s: String) = WireRecordV2(-1L, null, s.getBytes("UTF-8"))
    // one request, partition 0 listed twice: 3 records then 2 records
    val resp = decodeProduceResponse(0, broker.handleProduce(
      encodeProduceRequest(0, 40, "cli", null, 1, 1000, Seq(("dup", Seq(
        (0, Seq(rec("a"), rec("b"), rec("c"))),
        (0, Seq(rec("d"), rec("e")))))))))
    assert(resp._2 === Seq(("dup", Seq((0, 0, 0L), (0, 0, 3L)))),
      "second entry must ack base 3, not repeat base 0")
    assert(broker.topic("dup").logEndOffsets()(0) === 5L)
  }

  test("a truncated trailing message is discarded, not an error") {
    val full = encodeMessageSetV0(Seq(
      (0L, WireRecord(null, "aaaa".getBytes("UTF-8"))),
      (1L, WireRecord(null, "bbbb".getBytes("UTF-8")))))
    // cut the second message mid-bytes, as a max_bytes-honoring
    // broker legitimately does
    val truncated = full.take(full.length - 5)
    assert(decodeMessageSetV0(truncated).map(_._1) === Seq(0L))
    // and a corrupt negative size also stops cleanly
    val corrupt = full.clone()
    corrupt(full.length / 2) = -1 // somewhere inside the 2nd header
    decodeMessageSetV0(corrupt.take(full.length / 2 + 12)) // must not throw
  }

  test("ListOffsets -3 (MAX_TIMESTAMP, v7) answers the offset of the max-ts record") {
    val (broker, _) = newBroker()
    broker.createTopic("maxts", 1)
    // timestamps deliberately NOT monotone with offsets, with a tie on
    // the max: offsets 0..3 carry ts 100, 300, 200, 300
    def r(ts: Long, v: String) = WireRecordV2(ts, null, v.getBytes("UTF-8"))
    broker.handleProduce(encodeProduceRequest(3, 1, "cli", null, 1, 1000,
      Seq(("maxts", Seq((0, Seq(r(100, "a"), r(300, "b"), r(200, "c"), r(300, "d"))))))))
    val resp = decodeListOffsetsResponse(7, broker.handleListOffsets(
      encodeListOffsetsRequest(7, 2, "cli", Seq(("maxts", Seq((0, -3L, 1)))))))
    // ties break to the EARLIEST such offset: offset 1, ts 300
    assert(resp._2 === Seq(("maxts", Seq((0, 0, 300L, 1L, Seq())))))
    // an empty partition answers no offset, no error
    broker.createTopic("empty", 1)
    val none = decodeListOffsetsResponse(7, broker.handleListOffsets(
      encodeListOffsetsRequest(7, 3, "cli", Seq(("empty", Seq((0, -3L, 1)))))))
    assert(none._2.head._2.head._2 === 0) // error NONE
    assert(none._2.head._2.head._4 === -1L) // no offset
  }

  test("ListOffsets -4/-5 (v8/v9 tiered-storage sentinels) answer local reality") {
    val (broker, _) = newBroker()
    broker.createTopic("tiers", 1)
    def r(v: String) = WireRecordV2(1000L, null, v.getBytes("UTF-8"))
    broker.handleProduce(encodeProduceRequest(3, 1, "cli", null, 1, 1000,
      Seq(("tiers", Seq((0, Seq(r("a"), r("b"), r("c"))))))))
    // EARLIEST_LOCAL (-4): nothing is tiered, so the local start IS
    // the log start — same answer as -2
    val local = decodeListOffsetsResponse(9, broker.handleListOffsets(
      encodeListOffsetsRequest(9, 2, "cli", Seq(("tiers", Seq((0, -4L, 1)))))))
    assert(local._2 === Seq(("tiers", Seq((0, 0, -1L, 0L, Seq())))))
    // LATEST_TIERED (-5): no remote storage → the protocol's
    // "no tiered data" pair (-1, -1), error NONE
    val tiered = decodeListOffsetsResponse(9, broker.handleListOffsets(
      encodeListOffsetsRequest(9, 3, "cli", Seq(("tiers", Seq((0, -5L, 1)))))))
    assert(tiered._2 === Seq(("tiers", Seq((0, 0, -1L, -1L, Seq())))))
  }

  test("wire offset commit/fetch drives the CAS group store") {
    val (broker, _) = newBroker()
    broker.createTopic("grp", 4)

    // commit offsets for two partitions; one out-of-range, one ghost topic
    val commit = broker.handleOffsetCommit(encodeOffsetCommitRequest(0,
      20, "cli", "g1", -1, "", null, Seq(
        ("grp", Seq((0, 10L, "m"), (2, 30L, null), (9, 5L, null))),
        ("ghost", Seq((0, 1L, null))))))
    val (corrC, resC) = decodeOffsetCommitResponse(0, commit)
    assert(corrC === 20)
    assert(resC === Seq(
      ("grp", Seq((0, 0), (2, 0), (9, 3))),
      ("ghost", Seq((0, 3)))))
    // the commit landed in the same store the library API reads
    assert(broker.topic("grp").committed("g1") === Map(0 -> 10L, 2 -> 30L))

    // fetch: committed offsets back; -1 where never committed
    val fetch = broker.handleOffsetFetch(encodeOffsetFetchRequest(0,
      21, "cli", Seq(("g1", Some(Seq(("grp", Seq(0, 1, 2, 9)), ("ghost", Seq(0))))))))
    val (corrF, Seq((_, _, resF))) = decodeOffsetFetchResponse(0, fetch)
    assert(corrF === 21)
    assert(resF === Seq(
      ("grp", Seq((0, 10L, "", 0), (1, -1L, null, 0), (2, 30L, "", 0),
        (9, -1L, null, 3))),
      ("ghost", Seq((0, -1L, null, 3)))))

    // a second member committing a DISJOINT partition merges (CAS)
    broker.handleOffsetCommit(encodeOffsetCommitRequest(0,
      22, "cli2", "g1", -1, "", null, Seq(("grp", Seq((1, 99L, null))))))
    assert(broker.topic("grp").committed("g1") ===
      Map(0 -> 10L, 1 -> 99L, 2 -> 30L))
  }
}
