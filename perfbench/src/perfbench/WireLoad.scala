package perfbench

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import graft.streaming.KafkaWire._

/** Per-API call latencies, the spans of the layer a channel reaches,
  * kept in memory. Always on: the workload's own latencies are read
  * from them. */
final class Spans {
  private val byApi = new ConcurrentHashMap[String, Samples]()
  def samples(api: String): Samples = byApi.computeIfAbsent(api, _ => new Samples)
  def time[T](api: String)(f: => T): T = {
    val t0 = System.nanoTime()
    val r = f
    samples(api).add((System.nanoTime() - t0) / 1e6)
    r
  }
  def p50(api: String): Double = samples(api).pct(50)
}

/** What one wire-workload pass produced and measured. Failed requests are
  * counted in `failures` and kept out of every latency sample. */
final class WireResult {
  val failures = new Failures
  val attempted = new AtomicLong
  val spans = new Spans
  /** produce round trip per request, ms */
  val produceMs = new Samples
  /** rounds run */
  var rounds = 0
  /** per connection and round, seconds from the round's start to the end
    * of the connection's own produce phase, plus its read-back */
  val connWorkS = new Samples
  val produceRps = new Samples
  val fetchRps = new Samples
  var workS: Double = Double.NaN
  var userBytes = 0L
  var records = 0L
  var correct = true
  val checkErrors = ArrayBuffer.empty[String]
  /** every framed produce request sent and every decoded fetch response
    * received, for the codec pass of the traced run */
  val produceFrames = ArrayBuffer.empty[Array[Byte]]
  val fetchResponses = ArrayBuffer.empty[Seq[(String, Seq[(Int, Int, Long, Seq[(Long, WireRecordV2)])])]]
  /** (topic, (partition, fromOffset, records served)*) per read, for
    * the log pass */
  val reads = ArrayBuffer.empty[(String, Seq[(Int, Long, Int)])]
  var fetches = 0L
  var usefulFetches = 0L
  val topics = ArrayBuffer.empty[String]

  def check(ok: Boolean, what: => String): Unit =
    if (!ok) synchronized { correct = false; if (checkErrors.size < 20) checkErrors += what }

  def fail(kind: String): Unit = failures.add(kind)
}

object WireLoad {
  val ClientId = "perfbench"
  val SmallPartitions = 16
  val SmallConns = 4

  /** Runs `body`, counting (not timing) an exception or closed
    * connection as a failure of the given kind. False when `body` threw:
    * the connection's request stream is then out of step, and its
    * caller stops using it. */
  private def guarded(res: WireResult, kind: String)(body: => Unit): Boolean =
    try { body; true } catch {
      case _: java.net.SocketTimeoutException => res.fail(s"$kind:timeout"); false
      case _: java.io.EOFException => res.fail(s"$kind:closed"); false
      case _: java.net.SocketException => res.fail(s"$kind:closed"); false
      case e: Exception => res.fail(s"$kind:exception:${e.getClass.getSimpleName}"); false
    }

  private val corr = new AtomicLong
  private def nextCorr(): Int = (corr.incrementAndGet() & 0x7fffffff).toInt

  def createTopic(ch: Channel, res: WireResult, name: String, partitions: Int): Unit = {
    res.attempted.incrementAndGet()
    val resp = ch.exchange(encodeCreateTopicsRequest(4, nextCorr(), ClientId,
      Seq(CreatableTopic(name, partitions, 1, Seq.empty, Seq.empty)), 30000))
    val (_, created) = decodeCreateTopicsResponse(4, resp)
    if (created.exists(_.errorCode != 0)) {
      res.fail(s"create_topics:error_${created.head.errorCode}")
      throw new IllegalStateException(s"CreateTopics $name failed: $created")
    }
    res.topics += name
  }

  // ---------------------------------------------------------------- //
  // produce-small: closed loop, idempotent small produces, read-back  //
  // ---------------------------------------------------------------- //

  /** The seeded request stream of one round: per connection, per
    * request, (partition, records). Each connection sends a fixed,
    * Zipf-shaped number of requests to each partition, in seeded order, so
    * connections share the hot partitions and contend on the manifest
    * equally for every seed. Keys are Zipf-skewed too. */
  def smallPlan(seed: Long, round: Int, perConn: Int): Array[Array[(Int, Seq[WireRecordV2])]] = {
    val kz = new Rng.Zipf(512, 1.1)
    Array.tabulate(SmallConns) { c =>
      val r = Rng(seed, 1, round, c)
      val order = Rng.shuffle(r, zipfQuota(SmallPartitions, perConn, 1.0))
      order.map { p =>
        val n = 6 + r.nextInt(5)
        (p, Seq.fill(n)(WireRecordV2(-1L, s"k$p-${kz.next(r)}".getBytes("UTF-8"),
          Rng.bytes(r, 80 + r.nextInt(41)))))
      }
    }
  }

  /** `total` draws spread over [0, n) in Zipf(s) proportions, by largest
    * remainder: rank 0 gets the most. */
  def zipfQuota(n: Int, total: Int, s: Double): Array[Int] = {
    val w = (1 to n).map(k => 1.0 / math.pow(k, s))
    val exact = w.map(_ / w.sum * total)
    val counts = exact.map(math.floor(_).toInt).toArray
    exact.zipWithIndex.sortBy { case (x, _) => -(x - math.floor(x)) }
      .take(total - counts.sum).foreach { case (_, i) => counts(i) += 1 }
    counts.zipWithIndex.flatMap { case (k, p) => Array.fill(k)(p) }
  }

  /** One round on a fresh topic: every connection sends its requests
    * back to back, then reads its share of the partitions from offset 0
    * with Fetch v12 until it has every acked record, committing its
    * offsets to the round's consumer group as it goes. */
  def smallRound(connect: () => Channel, res: WireResult, topic: String,
      plan: Array[Array[(Int, Seq[WireRecordV2])]], keepFrames: Boolean): Unit = {
    val admin = connect()
    try createTopic(admin, res, topic, SmallPartitions) finally admin.close()
    val acked = new ConcurrentHashMap[(Int, Long), Long]()
    val ends = new ConcurrentHashMap[Int, Long]()
    val channels = Array.fill(SmallConns)(connect())
    val produced = new CountDownLatch(SmallConns)
    val t0 = new AtomicLong
    val tProduced = new AtomicLong
    val tRead = new AtomicLong
    val readRecords = new AtomicLong
    val startGate = new CountDownLatch(1)
    val group = s"$topic-readers"
    val threads = (0 until SmallConns).map { c =>
      new Thread(() => {
        val ch = channels(c)
        startGate.await()
        var alive = true
        var pid = -1L
        var epoch = -1
        res.attempted.incrementAndGet()
        alive = guarded(res, "init_producer_id") {
          val (_, err, id, ep) = decodeInitProducerIdResponse(2,
            ch.exchange(encodeInitProducerIdRequest(2, nextCorr(), ClientId, null, 60000)))
          if (err != 0) res.fail(s"init_producer_id:error_$err") else { pid = id; epoch = ep }
        } && pid >= 0
        val seqs = Array.fill(SmallPartitions)(0)
        val requests = plan(c).iterator
        while (alive && requests.hasNext) {
          val (p, recs) = requests.next()
          val req = encodeProduceRequestBatches(9, nextCorr(), ClientId, null, -1, 30000,
            Seq((topic, Seq((p, ProducedBatch(pid, epoch, seqs(p), recs))))))
          seqs(p) += recs.size
          if (keepFrames) res.synchronized(res.produceFrames += req)
          res.attempted.incrementAndGet()
          alive = guarded(res, "produce") {
            val s0 = System.nanoTime()
            val resp = res.spans.time("produce")(ch.exchange(req))
            val ms = (System.nanoTime() - s0) / 1e6
            val (_, acks) = decodeProduceResponse(9, resp)
            val parts = acks.flatMap(_._2)
            parts.find(_._2 != 0) match {
              case Some((_, e, _)) => res.fail(s"produce:error_$e")
              case None =>
                res.produceMs.add(ms)
                val base = parts.head._3
                recs.zipWithIndex.foreach { case (r, j) =>
                  acked.put((p, base + j), Digest.of(p, base + j, r.key, r.value))
                }
                ends.merge(p, base + recs.size, (a: Long, b: Long) => math.max(a, b))
                res.synchronized {
                  res.records += recs.size
                  res.userBytes += recs.map(r => r.key.length + r.value.length).sum
                }
            }
          }
        }
        val myProduceEnd = System.nanoTime()
        produced.countDown()
        produced.await()
        tProduced.compareAndSet(0L, System.nanoTime())
        val myReadStart = System.nanoTime()
        // catch-up read of this connection's partitions from offset 0, as
        // a consumer of the round's group that commits after every
        // non-empty fetch
        val mine = (0 until SmallPartitions).filter(_ % SmallConns == c)
        val next = scala.collection.mutable.Map(mine.map(_ -> 0L): _*)
        var idle = 0
        def pending = mine.filter(p => next(p) < ends.getOrDefault(p, 0L))
        while (alive && pending.nonEmpty && idle < 20) {
          val req = encodeFetchRequest(12, nextCorr(), ClientId, 500, 1, 64 << 20,
            Seq((topic, pending.map(p => (p, next(p), 8 << 20)))))
          res.attempted.incrementAndGet()
          alive = guarded(res, "fetch") {
            val decoded = decodeFetchResponse(12, res.spans.time("fetch")(ch.exchange(req)))
            if (keepFrames) res.synchronized(res.fetchResponses += decoded._2)
            val parts = decoded._2.flatMap(_._2)
            parts.find(_._2 != 0) match {
              case Some((_, e, _, _)) => res.fail(s"fetch:error_$e"); idle += 1
              case None =>
                var got = 0
                val served = parts.map { case (p, _, _, recs) =>
                  val from = next(p)
                  recs.foreach { case (off, r) =>
                    val d = Digest.of(p, off, r.key, r.value)
                    res.check(off == next(p), s"p$p: offset $off read where ${next(p)} was next")
                    res.check(acked.get((p, off)) == d, s"p$p@$off: digest differs from the acked record")
                    next(p) = off + 1
                    got += 1
                  }
                  (p, from, recs.size)
                }
                res.synchronized {
                  res.fetches += 1
                  if (got > 0) res.usefulFetches += 1
                  if (keepFrames) res.reads += ((topic, served))
                }
                readRecords.addAndGet(got)
                if (got == 0) idle += 1
                else {
                  idle = 0
                  res.attempted.incrementAndGet()
                  val commit = encodeOffsetCommitRequest(8, nextCorr(), ClientId, group, -1, "", null,
                    Seq((topic, served.collect { case (p, _, n) if n > 0 => (p, next(p), null) })))
                  decodeOffsetCommitResponse(8, res.spans.time("offset_commit")(ch.exchange(commit)))
                    ._2.flatMap(_._2).find(_._2 != 0)
                    .foreach { case (_, e) => res.fail(s"offset_commit:error_$e") }
              }
            }
          }
        }
        if (alive && pending.nonEmpty) res.fail("fetch:incomplete")
        val myReadEnd = System.nanoTime()
        tRead.accumulateAndGet(myReadEnd, (a: Long, b: Long) => math.max(a, b))
        res.connWorkS.add((myProduceEnd - t0.get() + myReadEnd - myReadStart) / 1e9)
        // the group's committed offsets must be where the read stopped
        val read = mine.filter(next(_) > 0)
        if (alive && read.nonEmpty) {
          res.attempted.incrementAndGet()
          guarded(res, "offset_fetch") {
            val (_, groups) = decodeOffsetFetchResponse(7, ch.exchange(
              encodeOffsetFetchRequest(7, nextCorr(), ClientId, Seq((group, Some(Seq((topic, read))))))))
            groups.find(_._2 != 0).foreach { g => res.fail(s"offset_fetch:error_${g._2}") }
            val committed = groups.flatMap(_._3).flatMap(_._2)
            committed.find(_._4 != 0).foreach { c => res.fail(s"offset_fetch:error_${c._4}") }
            read.foreach { p =>
              val off = committed.collectFirst { case (`p`, o, _, 0) => o }
              res.check(off.contains(next(p)), s"p$p: committed offset $off, read up to ${next(p)}")
            }
          }
        }
      })
    }
    threads.foreach(_.start())
    t0.set(System.nanoTime())
    startGate.countDown()
    threads.foreach(_.join())
    channels.foreach(_.close())
    val produceS = (tProduced.get() - t0.get()) / 1e9
    val readS = (tRead.get() - tProduced.get()) / 1e9
    val n = acked.size()
    res.check(readRecords.get() == n, s"read back ${readRecords.get()} records, acked $n")
    ends.asScala.foreach { case (p, e) =>
      res.check((0L until e).forall(o => acked.containsKey((p, o))),
        s"p$p: acked offsets are not contiguous below $e")
    }
    res.synchronized(res.rounds += 1)
    res.produceRps.add(n / produceS)
    res.fetchRps.add(readRecords.get() / readS)
  }

  /** Rounds of fixed size on fresh topics until `seconds` have passed
    * (at least one): each round's work is independent of the speed of the
    * code, since `logEndOffsets()` grows with the topic's manifest count. */
  def produceSmall(connect: () => Channel, res: WireResult, seed: Long, seconds: Double,
      perConn: Int, prefix: String, keepFrames: Boolean, maxRounds: Int = Int.MaxValue): Unit = {
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var round = 0
    while (round < maxRounds && (round == 0 || System.nanoTime() < deadline)) {
      smallRound(connect, res, s"$prefix-small-$round", smallPlan(seed, round, perConn), keepFrames)
      round += 1
    }
    res.workS = res.connWorkS.pct(50)
  }
}
