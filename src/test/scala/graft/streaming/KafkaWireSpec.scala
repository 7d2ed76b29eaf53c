package graft.streaming

import org.scalatest.funsuite.AnyFunSuite

/** Byte-level conformance for the ApiVersions v3 exchange — the
  * reference broker's one implemented API (its test drives the same
  * exchange through a Kafka client library; here the golden bytes are
  * derived by hand from the public protocol spec, so encoder and
  * expectation are independent). */
class KafkaWireSpec extends AnyFunSuite {
  import KafkaWire._

  /** Golden request frame: correlationId=1, clientId="sarama",
    * software name "sarama" / version "1.27.0" — the same exchange the
    * reference's conformance test performs. Laid out by hand:
    * header v2 (18, 3, 1, "sarama", no tags) + v3 body (compact
    * strings, no tags). */
  private val goldenRequest: Array[Byte] = {
    val sarama = "sarama".getBytes("UTF-8")
    val ver = "1.27.0".getBytes("UTF-8")
    val payload =
      Array[Byte](0, 18, 0, 3, 0, 0, 0, 1) ++ // api_key, api_version, correlation_id
        Array[Byte](0, 6) ++ sarama ++ // client_id NULLABLE_STRING
        Array[Byte](0) ++ // header tagged fields
        Array[Byte](7) ++ sarama ++ // client_software_name COMPACT_STRING (len+1)
        Array[Byte](7) ++ ver ++ // client_software_version
        Array[Byte](0) // body tagged fields
    Array[Byte](0, 0, 0, payload.length.toByte) ++ payload
  }

  /** Golden response frame for the reference's single-key catalog
    * (ApiVersions 18, min=max=3): header v0 + error 0 + compact array
    * of one entry + throttle 0. */
  private val goldenSingleKeyResponse: Array[Byte] = {
    val payload =
      Array[Byte](0, 0, 0, 1) ++ // correlation_id (response header v0)
        Array[Byte](0, 0) ++ // error_code
        Array[Byte](2) ++ // compact array length+1 = 2 → 1 entry
        Array[Byte](0, 18, 0, 3, 0, 3, 0) ++ // key 18, min 3, max 3, tags
        Array[Byte](0, 0, 0, 0) ++ // throttle_time_ms
        Array[Byte](0) // body tagged fields
    Array[Byte](0, 0, 0, payload.length.toByte) ++ payload
  }

  test("request decode matches the hand-built golden frame") {
    val req = decodeApiVersionsRequestV3(goldenRequest)
    assert(req === ApiVersionsRequest(3, 1, "sarama", "sarama", "1.27.0"))
  }

  test("request encode emits exactly the golden bytes") {
    val bytes = encodeApiVersionsRequestV3(1, "sarama", "sarama", "1.27.0")
    assert(bytes.toSeq === goldenRequest.toSeq)
  }

  test("response encode emits exactly the golden bytes for the single-key catalog") {
    val bytes = encodeApiVersionsResponseV3(1, Seq((18, 3, 3)))
    assert(bytes.toSeq === goldenSingleKeyResponse.toSeq)
  }

  test("full exchange: request in, catalog response out, round-trips") {
    val respBytes = handleApiVersions(goldenRequest, Broker.WireApis)
    val resp = decodeApiVersionsResponseV3(respBytes)
    assert(resp.correlationId === 1, "response echoes the request correlation id")
    assert(resp.errorCode === 0)
    assert(resp.throttleTimeMs === 0)
    assert(resp.apiKeys === Broker.WireApis.map(t => (t._1, t._3, t._4)))
    // the catalog includes ApiVersions itself (the reference's one key)
    assert(resp.apiKeys.exists(_._1 === 18))
  }

  test("non-canonical input survives: null client id, tagged fields present") {
    // a frame with a null client_id and one unknown tagged field in the
    // header must still decode (tag tolerance is part of KIP-482)
    val sarama = "s".getBytes("UTF-8")
    val payload =
      Array[Byte](0, 18, 0, 3, 0, 0, 0, 42) ++
        Array[Byte](-1, -1) ++ // client_id = null (INT16 -1)
        Array[Byte](1, 0, 1, 9) ++ // one tagged field: tag 0, size 1, payload 0x09
        Array[Byte](2) ++ sarama ++
        Array[Byte](2) ++ sarama ++
        Array[Byte](0)
    val frame = Array[Byte](0, 0, 0, payload.length.toByte) ++ payload
    val req = decodeApiVersionsRequestV3(frame)
    assert(req === ApiVersionsRequest(3, 42, null, "s", "s"))
  }

  test("varint boundaries: catalogs larger than 127 entries encode correctly") {
    val keys = (0 until 200).map(i => (i, 0, 9))
    val resp = decodeApiVersionsResponseV3(encodeApiVersionsResponseV3(7, keys))
    assert(resp.apiKeys === keys)
  }

  test("ApiVersions v0-v2: the pre-KIP-511 empty-body probe round-trips") {
    for (v <- 0 to 2) {
      val resp = decodeApiVersionsResponsePreV3(v, handleApiVersions(
        encodeApiVersionsRequest(v, 11 + v, "old-cli"), Broker.WireApis))
      assert(resp.correlationId === 11 + v)
      assert(resp.errorCode === 0)
      assert(resp.apiKeys === Broker.WireApis.map(t => (t._1, t._3, t._4)))
    }
  }

  test("an unknown future version answers the KIP-511 v0-shaped error 35") {
    // hand-built v9 request: only the leading (key, version,
    // correlation) coordinates matter — the body shape is unknowable
    val payload = Array[Byte](0, 18, 0, 9, 0, 0, 0, 99, -1, -1, 7, 7)
    val frame = Array[Byte](0, 0, 0, payload.length.toByte) ++ payload
    val resp =
      decodeApiVersionsResponsePreV3(0, handleApiVersions(frame, Broker.WireApis))
    assert(resp.correlationId === 99)
    assert(resp.errorCode === 35)
    // the answer carries ApiVersions' own supported range for re-probe
    assert(resp.apiKeys === Seq((18, 0, 3)))
  }

  // --- Metadata v0 ---

  /** Golden Metadata v0 request: correlationId=7, clientId="cli",
    * topics=["t"]. Header v1 + ARRAY<STRING> body, laid out by hand. */
  private val goldenMetadataRequest: Array[Byte] = {
    val payload =
      Array[Byte](0, 3, 0, 0, 0, 0, 0, 7) ++ // api_key 3, version 0, correlation 7
        Array[Byte](0, 3) ++ "cli".getBytes("UTF-8") ++ // client_id
        Array[Byte](0, 0, 0, 1) ++ // topics array count
        Array[Byte](0, 1) ++ "t".getBytes("UTF-8") // topic name STRING
    Array[Byte](0, 0, 0, payload.length.toByte) ++ payload
  }

  /** Golden Metadata v0 response: broker (0, "h", 9092); topic "t"
    * with one partition led by broker 0, replicas = isr = [0]. */
  private val goldenMetadataResponse: Array[Byte] = {
    val payload =
      Array[Byte](0, 0, 0, 7) ++ // correlation_id (response header v0)
        Array[Byte](0, 0, 0, 1) ++ // brokers count
        Array[Byte](0, 0, 0, 0) ++ // broker node_id
        Array[Byte](0, 1) ++ "h".getBytes("UTF-8") ++ // broker host STRING
        Array[Byte](0, 0, 0x23, 0x84.toByte) ++ // broker port 9092
        Array[Byte](0, 0, 0, 1) ++ // topics count
        Array[Byte](0, 0) ++ // topic error_code
        Array[Byte](0, 1) ++ "t".getBytes("UTF-8") ++
        Array[Byte](0, 0, 0, 1) ++ // partitions count
        Array[Byte](0, 0) ++ // partition error_code
        Array[Byte](0, 0, 0, 0) ++ // partition index
        Array[Byte](0, 0, 0, 0) ++ // leader
        Array[Byte](0, 0, 0, 1, 0, 0, 0, 0) ++ // replicas [0]
        Array[Byte](0, 0, 0, 1, 0, 0, 0, 0) // isr [0]
    Array[Byte](0, 0, 0, payload.length.toByte) ++ payload
  }

  test("metadata request encode/decode match the golden frame") {
    assert(encodeMetadataRequest(0, 7, "cli", Some(Seq("t")))
      .sameElements(goldenMetadataRequest))
    val req = decodeMetadataRequest(goldenMetadataRequest)._2
    assert(req === MetadataRequest(7, "cli", Some(Seq("t"))))
  }

  /** Golden Metadata v0 "all topics" request: correlationId=2,
    * clientId="c". The v0 topics array is not nullable, so "all" is an
    * EMPTY array (count 0), never the null count -1. */
  private val goldenMetadataAllRequest: Array[Byte] = {
    val payload =
      Array[Byte](0, 3, 0, 0, 0, 0, 0, 2) ++ // api_key 3, version 0, correlation 2
        Array[Byte](0, 1) ++ "c".getBytes("UTF-8") ++ // client_id
        Array[Byte](0, 0, 0, 0) // topics array count 0 = all topics
    Array[Byte](0, 0, 0, payload.length.toByte) ++ payload
  }

  test("metadata v0 all-topics request is an empty array, not null") {
    val bytes = encodeMetadataRequest(0, 2, "c", None)
    assert(bytes.sameElements(goldenMetadataAllRequest),
      s"\n got: ${bytes.map("%02x".format(_)).mkString(" ")}")
    assert(decodeMetadataRequest(goldenMetadataAllRequest)._2 ===
      MetadataRequest(2, "c", None))
    // the server still reads a lenient client's null count as "all"
    val nullCount = goldenMetadataAllRequest.clone()
    java.util.Arrays.fill(nullCount, nullCount.length - 4, nullCount.length, -1: Byte)
    assert(decodeMetadataRequest(nullCount)._2 === MetadataRequest(2, "c", None))
  }

  test("metadata response encode emits exactly the golden bytes") {
    val resp = encodeMetadataResponse(0, 7, Seq((0, "h", 9092)), null,
      Seq(TopicMetadata(0, "t", Seq(PartitionMetadata(0, 0, 0, Seq(0), Seq(0))))))
    assert(resp.sameElements(goldenMetadataResponse),
      s"\n got: ${resp.map("%02x".format(_)).mkString(" ")}" +
        s"\nwant: ${goldenMetadataResponse.map("%02x".format(_)).mkString(" ")}")
  }

  test("metadata full exchange: known topic described, unknown topic errors, null = all") {
    val catalog = Map("alpha" -> 2, "beta" -> 1)
    val known = decodeMetadataResponse(0, handleMetadata(
      encodeMetadataRequest(0, 1, "c", Some(Seq("alpha", "ghost"))), "h", 9092, catalog))
    assert(known.brokers === Seq((0, "h", 9092)))
    assert(known.topics.map(t => (t.name, t.errorCode, t.partitions.length)) ===
      Seq(("alpha", 0, 2), ("ghost", 3, 0))) // 3 = UNKNOWN_TOPIC_OR_PARTITION
    known.topics.head.partitions.zipWithIndex.foreach { case (p, i) =>
      assert(p === PartitionMetadata(0, i, 0, Seq(0), Seq(0)))
    }
    val all = decodeMetadataResponse(0, handleMetadata(
      encodeMetadataRequest(0, 2, "c", None), "h", 9092, catalog))
    assert(all.topics.map(_.name) === Seq("alpha", "beta"))
  }

  /** Reference v0 request frames, one fixed input per API. Each hex
    * string is what the standalone v0-only client encoder of that API
    * emitted before it was folded into the versioned codec; those
    * encoders were written independently of the server's decoders, so
    * the bytes stay an outside check on the v0 exchanges the other
    * specs drive with one codec on both ends. */
  test("v0 request encoders emit the reference bytes for every classic API") {
    def b(s: String) = s.getBytes("UTF-8")
    def hex(bytes: Array[Byte]) = bytes.map("%02x".format(_)).mkString
    val reference: Seq[(String, String, Array[Byte])] = Seq(
      ("Metadata", "00000017000300000000000b000163000000020002743100027432",
        encodeMetadataRequest(0, 11, "c", Some(Seq("t1", "t2")))),
      ("Produce", "0000005b000000000000000c0001630001000003e80000000100017400000001"
        + "00000000000000370000000000000000000000101fecd70a0000000000016b00"
        + "0000017600000000000000000000000fa50b8f630000ffffffff0000000177",
        encodeProduceRequest(0, 12, "c", null, 1, 1000, Seq(("t", Seq((0, Seq(
          WireRecordV2(-1L, b("k"), b("v")), WireRecordV2(-1L, null, b("w"))))))))),
      ("Fetch", "00000032000100000000000d000163ffffffff00000064000000010000000100"
        + "01740000000100000000000000000000000500000400",
        encodeFetchRequest(0, 13, "c", 100, 1, 1 << 20, Seq(("t", Seq((0, 5L, 1024)))))),
      ("OffsetCommit", "00000028000800000000000e0001630001670000000100017400000001000000"
        + "00000000000000000700016d",
        encodeOffsetCommitRequest(0, 14, "c", "g", -1, "", null,
          Seq(("t", Seq((0, 7L, "m")))))),
      ("OffsetFetch", "00000021000900000000000f0001630001670000000100017400000002000000"
        + "0000000001",
        encodeOffsetFetchRequest(0, 15, "c", Seq(("g", Some(Seq(("t", Seq(0, 1)))))))),
      ("ListOffsets", "0000002a0002000000000010000163ffffffff00000001000174000000010000"
        + "0000ffffffffffffffff00000001",
        encodeListOffsetsRequest(0, 16, "c", Seq(("t", Seq((0, -1L, 1)))))),
      ("JoinGroup", "0000002f000b0000000000110001630001670000753000000008636f6e73756d"
        + "657200000001000572616e6765000000020102",
        encodeJoinGroupRequest(0, 17, "c", "g", 30000, 30000, "", null, "consumer",
          Seq(("range", Array[Byte](1, 2))))),
      ("SyncGroup", "00000021000e0000000000120001630001670000000100016d0000000100016d"
        + "0000000103",
        encodeSyncGroupRequest(0, 18, "c", "g", 1, "m", null, null, null,
          Seq(("m", Array[Byte](3))))),
      ("Heartbeat", "00000015000c0000000000130001630001670000000100016d",
        encodeHeartbeatRequest(0, 19, "c", "g", 1, "m")),
      ("LeaveGroup", "00000011000d00000000001400016300016700016d",
        encodeLeaveGroupRequest(0, 20, "c", "g", Seq(("m", null, null)))),
      ("FindCoordinator", "0000000e000a000000000015000163000167",
        encodeFindCoordinatorRequest(0, 21, "c", 0, Seq("g"))),
      ("ListGroups", "0000000b0010000000000016000163",
        encodeListGroupsRequest(0, 22, "c")),
      ("DescribeGroups", "00000012000f00000000001700016300000001000167",
        encodeDescribeGroupsRequest(0, 23, "c", Seq("g"))),
      ("CreateTopics", "0000002400130000000000180001630000000100017400000002000100000000"
        + "00000000000003e8",
        encodeCreateTopicsRequest(0, 24, "c",
          Seq(CreatableTopic("t", 2, 1, Seq.empty, Seq.empty)), 1000)),
      ("DeleteTopics", "00000016001400000000001900016300000001000174000003e8",
        encodeDeleteTopicsRequest(0, 25, "c", Seq(("t", null)), 1000)),
      ("DeleteRecords", "00000026001500000000001a0001630000000100017400000001000000000000"
        + "000000000003000003e8",
        encodeDeleteRecordsRequest(0, 26, "c", Seq(("t", Seq((0, 3L)))), 1000)))
    assert(reference.map(_._1).distinct.size === 16)
    reference.foreach { case (api, want, got) =>
      assert(hex(got) === want, s"$api v0 request bytes")
    }
  }
}
