package perfbench

import org.apache.spark.sql.SparkSession

import graft.streaming.{Broker, WireServer}

/** The system under test for the `produce-small` workload: one `Broker` behind a
  * `WireServer` on an ephemeral port, in its own JVM.
  *
  * Usage: BrokerMain <root>
  * Prints `READY <port>` once the listener accepts connections, then
  * serves until its standard input closes, and halts: every request has
  * been answered by then, and the benchmark deletes the root. */
object BrokerMain {
  def main(args: Array[String]): Unit = {
    val Array(root) = args
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val server = new WireServer(new Broker(spark, root)).start()
    println(s"READY ${server.boundPort}")
    System.out.flush()
    while (System.in.read() >= 0) {}
    Runtime.getRuntime.halt(0)
  }
}
