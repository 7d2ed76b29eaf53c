package graft.tools

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.streaming.{Partitioners, TopicLog}

/** Measures TopicLog produce/consume throughput (records/sec) at
  * sf0.1 volume — the broker-comparable number for SURVEY §6. */
object ThroughputBench {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val events = graft.Tables.events(spark, "/root/testdata/sf0.1")
      .select(
        col("user_id").cast("string").cast("binary").as("key"),
        to_json(struct(col("event_id"), col("event_type"), col("value")))
          .cast("binary").as("value"),
        col("ts"))
      .persist()
    val n = events.count() // materialize the cache before timing

    val root = Files.createTempDirectory("graft-tput").toString
    val log = TopicLog.create(spark, root, "tput", 32)

    val t0 = System.nanoTime()
    log.produce(events, Partitioners.byKeyHash(32))
    val produceSec = (System.nanoTime() - t0) / 1e9

    val t1 = System.nanoTime()
    val consumed = log.read().count()
    val consumeSec = (System.nanoTime() - t1) / 1e9

    val t2 = System.nanoTime()
    val sliced = log.consume(partition = 5, fromOffset = 1000, maxRecords = 1000).count()
    val fetchSec = (System.nanoTime() - t2) / 1e9

    println(f"produce: $n records in $produceSec%.2f s = ${n / produceSec}%.0f rec/s")
    println(f"consume-all: $consumed records in $consumeSec%.2f s = ${consumed / consumeSec}%.0f rec/s")
    println(f"bounded fetch (1k from p5): $sliced records in $fetchSec%.3f s")

    // --- wire path: v0 Kafka frames over a real TCP socket ---
    import graft.streaming.{Broker, KafkaWire, WireServer}
    import KafkaWire._
    val broker = new Broker(spark, root)
    broker.createTopic("wire", 8)
    val server = new WireServer(broker).start()
    val sock = new java.net.Socket("127.0.0.1", server.boundPort)
    val in = new java.io.DataInputStream(sock.getInputStream)
    def exchange(req: Array[Byte]): Array[Byte] = {
      sock.getOutputStream.write(req); sock.getOutputStream.flush()
      val size = in.readInt()
      val payload = new Array[Byte](size)
      in.readFully(payload)
      val framed = new Array[Byte](size + 4)
      framed(0) = (size >>> 24).toByte; framed(1) = (size >>> 16).toByte
      framed(2) = (size >>> 8).toByte; framed(3) = size.toByte
      System.arraycopy(payload, 0, framed, 4, size)
      framed
    }
    val wireBatches = 20
    val perBatch = 1000
    val recs = (0 until perBatch).map(i =>
      WireRecordV2(-1L, s"k$i".getBytes, ("v" * 64 + i).getBytes))
    val t3 = System.nanoTime()
    // every ack is decoded and checked — a silent per-partition error
    // would otherwise publish a false rec/s number
    (0 until wireBatches).foreach { b =>
      val (_, acks) = decodeProduceResponse(0,
        exchange(encodeProduceRequest(0, b, "bench", null, 1, 1000,
          Seq(("wire", (0 until 8).map(p => (p, recs)))))))
      require(acks.head._2.forall(_._2 == 0), s"produce error in batch $b: $acks")
    }
    val wireProduceSec = (System.nanoTime() - t3) / 1e9
    val wireN = wireBatches * perBatch * 8
    val t4 = System.nanoTime()
    val fetched = decodeFetchResponse(0,
      exchange(encodeFetchRequest(0, 99, "bench", 100, 1, 1 << 26,
        Seq(("wire", Seq((3, 0L, 1 << 26)))))))
    val wireFetchSec = (System.nanoTime() - t4) / 1e9
    val fetchedN = fetched._2.head._2.head._4.size
    require(fetchedN == wireN / 8, s"fetch returned $fetchedN of ${wireN / 8}")
    println(f"wire produce (TCP, $wireBatches batches x ${perBatch * 8}, all acked): " +
      f"$wireN records in $wireProduceSec%.2f s = ${wireN / wireProduceSec}%.0f rec/s")
    println(f"wire fetch (one partition, $fetchedN records decoded): $wireFetchSec%.2f s")

    // --- idempotent wire produce (v9 + pid/epoch/sequence): the same
    // volume through the sequence-bookkeeping gate, quantifying what
    // exactly-once produce costs on the wire path ---
    broker.createTopic("idem", 8)
    val (_, initErr, pid, epoch) = decodeInitProducerIdResponse(4,
      exchange(encodeInitProducerIdRequest(4, 200, "bench", null, 60000)))
    require(initErr == 0, s"InitProducerId failed: $initErr")
    val seqs = Array.fill(8)(0)
    val t5 = System.nanoTime()
    (0 until wireBatches).foreach { b =>
      val (_, acks) = decodeProduceResponse(9,
        exchange(encodeProduceRequestBatches(9, 300 + b, "bench", null, 1, 1000,
          Seq(("idem", (0 until 8).map { p =>
            val s = seqs(p); seqs(p) += perBatch
            (p, ProducedBatch(pid, epoch, s, recs))
          })))))
      require(acks.head._2.forall(_._2 == 0), s"idempotent produce error in $b: $acks")
    }
    val idemSec = (System.nanoTime() - t5) / 1e9
    println(f"idempotent wire produce (v9, pid/seq tracked, all acked): " +
      f"$wireN records in $idemSec%.2f s = ${wireN / idemSec}%.0f rec/s")

    // --- compressed wire produce, one leg per codec: the same volume
    // with each batch's records section compressed client-side and
    // inflated by the broker — quantifying each codec's cost against
    // the idempotent plain run ---
    for ((codec, cname) <- Seq(CompressionGzip -> "gzip",
        CompressionSnappy -> "snappy", CompressionLz4 -> "lz4",
        CompressionZstd -> "zstd")) {
      broker.createTopic(cname, 8)
      val t6 = System.nanoTime()
      var reqBytes = 0L
      (0 until wireBatches).foreach { b =>
        val req = encodeProduceRequestBatches(9, 500 + b, "bench", null, 1, 1000,
          Seq((cname, (0 until 8).map(p =>
            (p, ProducedBatch(-1L, -1, -1, recs))))),
          codec)
        reqBytes += req.length
        val (_, acks) = decodeProduceResponse(9, exchange(req))
        require(acks.head._2.forall(_._2 == 0), s"$cname produce error in $b: $acks")
      }
      val cSec = (System.nanoTime() - t6) / 1e9
      println(f"$cname%s wire produce (v9, inflated broker-side, all acked): " +
        f"$wireN records in $cSec%.2f s = ${wireN / cSec}%.0f rec/s " +
        f"(${reqBytes / wireBatches} B/request vs uncompressed ~${8 * perBatch * 80} B payload)")
    }

    // --- transactional produce + commit: the EOS loop at wire speed —
    // AddPartitionsToTxn + gated produce + EndTxn per batch ---
    broker.createTopic("txn", 8)
    val (_, txErr, txPid, txEpoch) = decodeInitProducerIdResponse(4,
      exchange(encodeInitProducerIdRequest(4, 600, "bench", "bench-txn", 60000)))
    require(txErr == 0, s"transactional init failed: $txErr")
    val txSeqs = Array.fill(8)(0)
    val t7 = System.nanoTime()
    (0 until wireBatches).foreach { b =>
      val (_, added) = decodeAddPartitionsToTxnResponse(3,
        exchange(encodeAddPartitionsToTxnRequest(3, 610 + b, "bench",
          "bench-txn", txPid, txEpoch, Seq(("txn", (0 until 8))))))
      require(added.head._2.forall(_._2 == 0), s"add-partitions error in $b")
      val (_, acks) = decodeProduceResponse(9,
        exchange(encodeProduceRequestBatches(9, 700 + b, "bench", "bench-txn",
          1, 1000, Seq(("txn", (0 until 8).map { p =>
            val s = txSeqs(p); txSeqs(p) += perBatch
            (p, ProducedBatch(txPid, txEpoch, s, recs, transactional = true))
          })))))
      require(acks.head._2.forall(_._2 == 0), s"txn produce error in $b: $acks")
      val (_, ended) = decodeEndTxnResponse(3,
        exchange(encodeEndTxnRequest(3, 800 + b, "bench", "bench-txn",
          txPid, txEpoch, committed = true)))
      require(ended == 0, s"EndTxn error in $b: $ended")
    }
    val txnSec = (System.nanoTime() - t7) / 1e9

    // --- share-group consume over the WIRE (keys 76/78): heartbeat
    // join, then the 4.x share-consumer loop — each ShareFetch
    // acquires the next window and carries the PREVIOUS window's
    // accepts, records decoded from the magic-2 batches, full-state
    // CAS snapshot per call — the wire-path cost of queue semantics ---
    // same 2000-record in-flight window as the drain leg below, for a
    // like-for-like wire-vs-library comparison
    broker.shareGroupsRegPut("wire", "wire-share",
      new graft.streaming.ShareGroup(broker.topic("wire"), "wire-share",
        acquisitionLockMs = 120000L, maxInFlightRecords = 2000))
    val (_, shErr, _, shMember, shEpoch0, _, _) =
      decodeShareGroupHeartbeatResponse(
        exchange(encodeShareGroupHeartbeatRequest(900, "bench",
          "wire-share", "", 0, Seq("wire"))))
    require(shErr == 0, s"share heartbeat failed: $shErr")
    var shEpoch = shEpoch0
    val shResolver = topicIdResolverFor(Seq("wire"))
    val t9 = System.nanoTime()
    var shareWireN = 0L
    var shareCalls = 0
    var sessEpoch = 0
    var acksByP: Map[Int, Seq[ShareAckBatch]] = Map.empty
    var done = false
    while (!done) {
      // a real share consumer heartbeats on its interval concurrently
      // with the fetch loop; here one rides each round (the liveness
      // fence expires silent members, by design) at the CURRENT epoch
      val hb = decodeShareGroupHeartbeatResponse(
        exchange(encodeShareGroupHeartbeatRequest(880 + shareCalls,
          "bench", "wire-share", shMember, shEpoch)))
      require(hb._2 == 0, s"share heartbeat error ${hb._2}: ${hb._3}")
      shEpoch = hb._5
      val parts = (0 until 8).map(p =>
        ShareFetchPartition(p, 1 << 26, acksByP.getOrElse(p, Seq.empty)))
      val resp = decodeShareFetchResponse(
        exchange(encodeShareFetchRequest(901 + shareCalls, "bench",
          "wire-share", shMember, sessEpoch, Seq("wire" -> parts))),
        shResolver)
      require(resp._2 == 0, s"share fetch error ${resp._2}: ${resp._3}")
      val out = resp._4.head._2
      require(out.forall(p => p.errorCode == 0 && p.ackErrorCode == 0),
        s"share partition error: $out")
      val got = out.map(_.records.length).sum
      val hadAcks = acksByP.values.exists(_.nonEmpty)
      acksByP = out.map(p => p.partition ->
        p.acquired.map(a => ShareAckBatch(a.firstOffset, a.lastOffset,
          Seq(1)))).toMap
      shareWireN += got
      shareCalls += 1
      sessEpoch += 1
      done = got == 0 && !hadAcks
    }
    // close the share session with the final (empty) ack set
    exchange(encodeShareFetchRequest(990, "bench", "wire-share", shMember,
      -1, Seq("wire" -> (0 until 8).map(p =>
        ShareFetchPartition(p, 1024, Seq.empty)))))
    val shareWireSec = (System.nanoTime() - t9) / 1e9
    require(shareWireN == wireN, s"share-wire drained $shareWireN of $wireN")
    println(f"share-group wire consume (heartbeat join + ShareFetch loop, " +
      f"acks riding fetches, $shareCalls calls): $shareWireN records in " +
      f"$shareWireSec%.2f s = ${shareWireN / shareWireSec}%.0f rec/s")
    sock.close(); server.close()
    println(f"transactional wire produce (one txn per batch: add+produce+commit): " +
      f"$wireN records in $txnSec%.2f s = ${wireN / txnSec}%.0f rec/s")

    // --- share-group drain (KIP-932 library object): acquire + ack
    // every record of the plain wire topic through the queue state
    // machine, write-through CAS snapshot per call — the per-record
    // metadata cost of queue semantics on top of the log ---
    val sg = new graft.streaming.ShareGroup(broker.topic("wire"), "bench",
      maxInFlightRecords = 2000)
    val t8 = System.nanoTime()
    var drained = 0L
    var calls = 0
    (0 until 8).foreach { p =>
      var batch = sg.acquire(p, 1000, 1700000000000L + calls, "drainer")
      while (batch.nonEmpty) {
        calls += 1
        sg.acknowledge(p,
          batch.map(_.offset -> (graft.streaming.ShareGroup.Accept:
            graft.streaming.ShareGroup.AckType)),
          1700000000000L + calls, "drainer")
        drained += batch.length
        batch = sg.acquire(p, 1000, 1700000000000L + calls, "drainer")
      }
    }
    val sgSec = (System.nanoTime() - t8) / 1e9
    println(f"share-group drain (acquire+ack, 1k batches, CAS snapshot " +
      f"per call): $drained records in $sgSec%.2f s = ${drained / sgSec}%.0f rec/s")
    spark.stop()
  }
}
