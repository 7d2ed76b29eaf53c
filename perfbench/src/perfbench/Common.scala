package perfbench

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream}
import java.net.Socket

import scala.collection.mutable.ArrayBuffer

/** A request/response channel carrying framed Kafka-wire requests: the
  * load generator speaks it over TCP ([[TcpChannel]]); the traced run
  * replays the same frames straight into `Broker.handle*`. */
trait Channel extends AutoCloseable {
  def exchange(framed: Array[Byte]): Array[Byte]
}

/** One client connection to a `WireServer`. Requests are already framed
  * (4-byte big-endian length first); responses come back framed the same
  * way, which is what the `KafkaWire.decode*Response` functions expect. */
final class TcpChannel(port: Int, timeoutMs: Int = 30000) extends Channel {
  private val sock = new Socket("127.0.0.1", port)
  sock.setTcpNoDelay(true)
  sock.setSoTimeout(timeoutMs)
  private val in = new DataInputStream(new BufferedInputStream(sock.getInputStream))
  private val out = new BufferedOutputStream(sock.getOutputStream)

  def exchange(framed: Array[Byte]): Array[Byte] = {
    out.write(framed)
    out.flush()
    val size = in.readInt()
    val resp = new Array[Byte](size + 4)
    resp(0) = (size >>> 24).toByte; resp(1) = (size >>> 16).toByte
    resp(2) = (size >>> 8).toByte; resp(3) = size.toByte
    in.readFully(resp, 4, size)
    resp
  }

  def close(): Unit = sock.close()
}

/** Failures are counted by kind and never timed: a request that fails
  * contributes to `failed`, not to any latency sample. */
final class Failures {
  private val byKind = scala.collection.mutable.TreeMap.empty[String, Long]
  def add(kind: String): Unit = synchronized {
    byKind(kind) = byKind.getOrElse(kind, 0L) + 1
  }
  def total: Long = synchronized(byKind.values.sum)
  def json: String = synchronized {
    byKind.map { case (k, v) => s"${Json.str(k)}:$v" }.mkString("{", ",", "}")
  }
}

/** A thread-safe sample buffer. */
final class Samples {
  private val xs = ArrayBuffer.empty[Double]
  def add(x: Double): Unit = synchronized(xs += x)
  def addAll(ys: Iterable[Double]): Unit = synchronized(xs ++= ys)
  def values: Array[Double] = synchronized(xs.toArray)
  def size: Int = synchronized(xs.size)
  def pct(p: Double): Double = Stats.pct(values, p)
  def sum: Double = synchronized(xs.sum)
}

object Stats {
  /** Linear-interpolated percentile, p in [0, 100]; NaN when empty. */
  def pct(xs: Array[Double], p: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val r = p / 100.0 * (s.length - 1)
    val lo = math.floor(r).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (r - lo)
  }
  def median(xs: Seq[Double]): Double = pct(xs.toArray, 50)
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}

/** Deterministic per-stream randomness derived from the workload seed. */
object Rng {
  def apply(seed: Long, stream: Long*): java.util.SplittableRandom = {
    var s = seed * 0x9E3779B97F4A7C15L
    stream.foreach { x => s = (s ^ x) * 0xBF58476D1CE4E5B9L + 0x94D049BB133111EBL }
    new java.util.SplittableRandom(s)
  }

  /** A seeded Fisher-Yates shuffle. */
  def shuffle(r: java.util.SplittableRandom, xs: Array[Int]): Array[Int] = {
    val a = xs.clone()
    for (i <- a.indices.reverse) {
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a
  }

  /** Zipf(s) sampler over [0, n): rank 0 is the most frequent. */
  final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val w = (1 to n).map(k => 1.0 / math.pow(k, s))
      val tot = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / tot).toArray
    }
    def next(r: java.util.SplittableRandom): Int = {
      val u = r.nextDouble()
      val i = java.util.Arrays.binarySearch(cdf, u)
      math.min(if (i >= 0) i else -i - 1, n - 1)
    }
  }

  private val Alphabet = "abcdefghijklmnopqrstuvwxyz0123456789".getBytes("US-ASCII")
  def bytes(r: java.util.SplittableRandom, n: Int): Array[Byte] =
    Array.fill(n)(Alphabet(r.nextInt(Alphabet.length)))
}

/** Record digest: order-independent, so a read-back in any partition
  * order compares equal to what was acked. */
object Digest {
  def of(partition: Int, offset: Long, key: Array[Byte], value: Array[Byte]): Long = {
    val h = java.util.Arrays.hashCode(key).toLong * 31L +
      java.util.Arrays.hashCode(value).toLong
    (h * 0x9E3779B97F4A7C15L) ^ (partition.toLong << 48) ^ offset
  }
}
