package perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.streaming.{Broker, KafkaWire, TopicLog}
import graft.streaming.KafkaWire._

/** The load generator for the `produce-small` workload, a JVM of its
  * own that drives a `BrokerMain` over TCP.
  *
  * Usage: WireMain <port> <brokerRoot> <seed> <seconds> <trace> <workDir>
  *
  * Untraced (trace = 0) it runs the workload once and prints its
  * end-to-end figures. Traced (trace = 1) it runs the workload untraced
  * and traced over TCP, then replays the traced pass's seeded request
  * stream through each layer's public entry points in this process, one
  * pass per layer, on fresh topics: `Broker.handle*`,
  * `TopicLog.produceDirect`/`consumeDirect`/`logEndOffsets`, and the
  * `KafkaWire` codec. A layer's self time is the difference between
  * the pass through it and the pass through the layer below.
  *
  * The last line of standard output is one JSON object. */
object WireMain {
  /** requests per connection per round */
  val SmallPerConn = 24

  def main(args: Array[String]): Unit = {
    val Array(port, brokerRoot, seed, seconds, trace, workDir) = args
    val w = new WireMain(port.toInt, Paths.get(brokerRoot), seed.toLong,
      seconds.toDouble, Paths.get(workDir))
    val out = if (trace == "1") w.traced() else w.untraced()
    println(out)
    System.out.flush()
    Runtime.getRuntime.halt(0) // nothing left to keep; skip Spark's shutdown
  }

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }
}

final class WireMain(port: Int, brokerRoot: Path, seed: Long, seconds: Double, workDir: Path) {
  import WireMain._

  /** One pass of the workload over `connect`, replaying exactly `rounds`
    * rounds when given. A warm-up pass runs one round from another seed
    * whose figures are not reported: a broker serves from a warm JVM, so
    * the measured pass should too. */
  private def pass(connect: () => Channel, prefix: String, keepFrames: Boolean,
      rounds: Int = Int.MaxValue, warmup: Boolean = false): WireResult = {
    val res = new WireResult
    val s = if (warmup) seed ^ 0x5eed5eedL else seed
    try {
      WireLoad.produceSmall(connect, res, s, seconds, SmallPerConn, prefix, keepFrames,
        if (warmup) 1 else rounds)
    } catch {
      case e: Exception =>
        res.fail(s"workload:exception:${e.getClass.getSimpleName}")
        res.check(false, s"workload aborted: $e")
    }
    res
  }

  private def tcp(): Channel = new TcpChannel(port)

  private def storeAmp(res: WireResult): Double =
    res.topics.map(t => dirBytes(brokerRoot.resolve(t))).sum.toDouble / res.userBytes

  /** The end-to-end figures of one pass. `latency_ms`/`tail_ms` are the
    * median and 95th percentile of the produce round trip (the 95th keeps
    * more than ten samples beyond it in every run). `work_s` is one
    * connection's share of a round (its produces, then its read-back), as
    * the median over connections and rounds. */
  private def endToEnd(res: WireResult): Seq[(String, Double)] = Seq(
    "latency_ms" -> res.produceMs.pct(50),
    "tail_ms" -> res.produceMs.pct(95),
    "work_s" -> res.workS,
    "produce_rps" -> Stats.median(res.produceRps.values.toSeq),
    "fetch_rps" -> Stats.median(res.fetchRps.values.toSeq),
    "produce_p50_ms" -> res.produceMs.pct(50),
    "produce_p99_ms" -> res.produceMs.pct(99),
    "failed_ratio" -> res.failures.total.toDouble / math.max(1L, res.attempted.get()),
    "store_amp" -> storeAmp(res))

  private def render(results: Seq[WireResult], metrics: Seq[(String, Double)]): String = {
    val attempted = results.map(_.attempted.get()).sum
    val failed = results.map(_.failures.total).sum
    val correct = results.forall(_.correct)
    val errors = results.flatMap(_.checkErrors).take(20)
    Json.obj(Seq(
      "correct" -> correct.toString,
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "failures" -> results.map(_.failures.json).mkString("[", ",", "]"),
      "check_errors" -> errors.map(Json.str).mkString("[", ",", "]"),
      "metrics" -> Json.obj(metrics.map { case (k, v) => k -> Json.num(v) })))
  }

  def untraced(): String = {
    val warm = pass(() => tcp(), "w", keepFrames = false, warmup = true)
    val res = pass(() => tcp(), "u", keepFrames = false)
    render(Seq(warm, res), endToEnd(res))
  }

  def traced(): String = {
    val warm = pass(() => tcp(), "w", keepFrames = false, warmup = true)
    // untraced, traced, untraced again: the overhead is the traced pass
    // against the mean of the passes either side of it, so a JIT still
    // warming up does not count as tracing cost
    val plain = pass(() => tcp(), "u", keepFrames = false)
    val tcpPass = pass(() => tcp(), "t", keepFrames = true)
    val plainAfter = pass(() => tcp(), "v", keepFrames = false)
    val rounds = tcpPass.rounds
    val untracedMs = (plain.produceMs.pct(50) + plainAfter.produceMs.pct(50)) / 2
    val overheadPct = (tcpPass.produceMs.pct(50) - untracedMs) / untracedMs * 100

    val spark = SparkSession.builder().master("local[4]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val root = workDir.resolve("inproc-broker").toString
    val broker = new Broker(spark, root)

    // Broker pass: the same request stream, handed to Broker.handle*
    val brokerWarm = pass(() => new InProcChannel(broker), "bw", keepFrames = false, warmup = true)
    val brokerPass = pass(() => new InProcChannel(broker), "b", keepFrames = false, rounds)

    // TopicLog pass: the same rows through produceDirect at the same
    // concurrency, then the traced pass's reads through consumeDirect
    val log = new LogPass(broker, seed)
    log.small(tcpPass.topics.toSeq, SmallPerConn)
    log.replayReads(tcpPass.reads.toSeq)

    // KafkaWire pass: the codec's public calls on this run's own frames
    val decodeUs = new Samples
    tcpPass.produceFrames.foreach { f =>
      val t0 = System.nanoTime(); decodeProduceRequest(f); decodeUs.add((System.nanoTime() - t0) / 1e3)
    }
    val encodeUs = new Samples
    tcpPass.fetchResponses.foreach { topics =>
      val t0 = System.nanoTime(); encodeFetchResponse(12, 1, topics); encodeUs.add((System.nanoTime() - t0) / 1e3)
    }
    val wireBytesPerRecord = tcpPass.produceFrames.map(_.length.toLong).sum.toDouble / tcpPass.records

    def p50(s: Samples): Double = if (s.size == 0) 0.0 else s.pct(50)
    val bs = brokerPass.spans
    val metrics = Seq(
      "wireserver.self_ms_p50" -> (tcpPass.spans.p50("produce") - bs.p50("produce")),
      "kafkawire.decode_produce_us_p50" -> p50(decodeUs),
      "kafkawire.encode_fetch_us_p50" -> p50(encodeUs),
      "kafkawire.bytes_per_record" -> wireBytesPerRecord,
      "broker.produce_self_ms_p50" ->
        (bs.p50("produce") - log.appendMs.pct(50) - p50(decodeUs) / 1e3),
      "broker.fetch_self_ms_p50" ->
        (bs.p50("fetch") - p50(log.readPerFetchMs) - p50(encodeUs) / 1e3),
      "broker.fetch_useful_ratio" -> brokerPass.usefulFetches.toDouble / math.max(1L, brokerPass.fetches),
      "broker.offset_commit_ms_p50" -> p50(bs.samples("offset_commit")),
      "topiclog.append_ms_p50" -> log.appendMs.pct(50),
      "topiclog.append_ms_p99" -> log.appendMs.pct(99),
      "topiclog.cas_conflict_ratio" -> log.conflicts.get().toDouble / log.attempts.get(),
      "topiclog.manifest_resolve_ms" -> log.resolveEndMs,
      "topiclog.read_ms_p50" -> p50(log.readMs),
      "topiclog.files_per_partition" -> log.filesPerPartition,
      "topiclog.manifest_versions" -> log.manifestVersions,
      "topiclog.bytes_per_record" -> log.bytesPerRecord,
      "trace.overhead_pct" -> overheadPct)
    val detail = Seq("topiclog.manifest_resolve_start_ms" -> log.resolveStartMs) ++
      endToEnd(plain).map { case (k, v) => s"untraced.$k" -> v }
    render(Seq(warm, plain, tcpPass, plainAfter, brokerWarm, brokerPass), metrics ++ detail)
  }
}

/** Hands framed requests straight to the broker's handlers: the Broker
  * pass of the traced run, with no socket and no `WireServer`. */
final class InProcChannel(broker: Broker) extends Channel {
  def exchange(framed: Array[Byte]): Array[Byte] = {
    val apiKey = ((framed(4) & 0xff) << 8) | (framed(5) & 0xff)
    apiKey match {
      case KafkaWire.ProduceApiKey => broker.handleProduce(framed)
      case KafkaWire.FetchApiKey => broker.handleFetch(framed)
      case KafkaWire.OffsetCommitApiKey => broker.handleOffsetCommit(framed)
      case KafkaWire.OffsetFetchApiKey => broker.handleOffsetFetch(framed)
      case KafkaWire.CreateTopicsApiKey => broker.handleCreateTopics(framed)
      case KafkaWire.InitProducerIdApiKey => broker.handleInitProducerId(framed)
      case other => throw new IllegalArgumentException(s"api_key $other is not replayed")
    }
  }
  def close(): Unit = ()
}

/** The TopicLog pass: the workload's rows appended with `produceDirect`
  * (retrying a lost manifest CAS, as the broker does), its reads served
  * by `consumeDirect`, and `logEndOffsets` timed before and after. */
final class LogPass(broker: Broker, seed: Long) {
  val appendMs = new Samples
  val readMs = new Samples
  val readPerFetchMs = new Samples
  val attempts = new AtomicLong
  val conflicts = new AtomicLong
  var resolveStartMs = Double.NaN
  var resolveEndMs = Double.NaN
  var filesPerPartition = Double.NaN
  var manifestVersions = Double.NaN
  var bytesPerRecord = Double.NaN
  private val logs = scala.collection.mutable.LinkedHashMap.empty[String, TopicLog]
  private var records = 0L

  private def rows(p: Int, recs: Seq[WireRecordV2]) =
    recs.map(r => (p, r.key, r.value, null: Map[String, Array[Byte]], System.currentTimeMillis()))

  private def append(log: TopicLog,
      rs: Seq[(Int, Array[Byte], Array[Byte], Map[String, Array[Byte]], Long)]): Unit = {
    var attempt = 0
    var done = false
    while (!done) {
      attempts.incrementAndGet()
      val t0 = System.nanoTime()
      try {
        log.produceDirect(rs)
        appendMs.add((System.nanoTime() - t0) / 1e6)
        done = true
      } catch {
        case _: TopicLog.ConcurrentProduceException =>
          conflicts.incrementAndGet()
          Thread.sleep(math.min(200L, 2L << math.min(attempt, 6)))
          attempt += 1
      }
    }
    synchronized(records += rs.size)
  }

  /** The log standing in for the TCP pass's topic `tcpTopic`. */
  private def open(tcpTopic: String, partitions: Int): TopicLog = {
    val log = broker.createTopic(s"l-$tcpTopic", partitions)
    if (logs.isEmpty) {
      val t0 = System.nanoTime(); log.logEndOffsets()
      resolveStartMs = (System.nanoTime() - t0) / 1e6
    }
    logs(tcpTopic) = log
    log
  }

  /** Shape figures of the last log, the one the pass left biggest. */
  private def finish(partitions: Int): Unit = {
    val log = logs.last._2
    val t0 = System.nanoTime(); log.logEndOffsets()
    resolveEndMs = (System.nanoTime() - t0) / 1e6
    val files = {
      val s = Files.walk(Paths.get(log.dataDir))
      try s.iterator().asScala.count(_.toString.endsWith(".parquet")) finally s.close()
    }
    filesPerPartition = files.toDouble / partitions
    manifestVersions = log.manifestVersions().lastOption.getOrElse(0L).toDouble
    bytesPerRecord = logs.values.map(l => WireMain.dirBytes(Paths.get(l.topicDir))).sum.toDouble / records
  }

  /** One fresh log per round, as the TCP pass had one topic per round. */
  def small(tcpTopics: Seq[String], perConn: Int): Unit = {
    tcpTopics.zipWithIndex.foreach { case (t, round) =>
      val log = open(t, WireLoad.SmallPartitions)
      val plan = WireLoad.smallPlan(seed, round, perConn)
      val threads = plan.map { reqs =>
        new Thread(() => reqs.foreach { case (p, recs) => append(log, rows(p, recs)) })
      }
      threads.foreach(_.start()); threads.foreach(_.join())
    }
    finish(WireLoad.SmallPartitions)
  }

  /** Each read the traced TCP pass served, replayed on the matching log. */
  def replayReads(reads: Seq[(String, Seq[(Int, Long, Int)])]): Unit = reads.foreach {
    case (topic, fetch) =>
      var sum = 0.0
      fetch.foreach { case (p, from, n) =>
        val t0 = System.nanoTime()
        logs(topic).consumeDirect(p, from, math.max(n, 1))
        val ms = (System.nanoTime() - t0) / 1e6
        readMs.add(ms)
        sum += ms
      }
      readPerFetchMs.add(sum)
  }

}
