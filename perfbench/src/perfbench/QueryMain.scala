package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkEntry
import graft.operators.GraftCaches

/** The `queries` workload: one cold pass, in this fresh process, over the
  * named `SparkEntry.queries` entries, in the order given, each written
  * through the `noop` sink.
  *
  * Usage: QueryMain <dataDir> <trace> <query>...
  *
  * Prints `READY` once the session is up (the set-up the benchmark
  * times), and a JSON object as the last line. A query's row
  * count is an observed metric on the DataFrame the noop sink writes, so
  * it is counted in the same job, with no extra pass (the noop write's
  * own plan node reports no row count). A query that throws counts as
  * failed and is never timed. With trace = 1 the Spark, streaming and
  * cache layers are read through Spark's public listeners and
  * `GraftCaches.buildTimes`. */
object QueryMain {
  val Families = Seq("stream_exec", "text", "dedup", "ann", "events", "pipeline", "relational", "topic")

  /** The family a query's wall time is reported under, by name prefix;
    * `consumer_group_lag` reads the topic fixtures, as `topic_*` do. */
  def family(q: String): Option[String] =
    if (q == "consumer_group_lag") Some("topic")
    else if (q.matches("q[0-9]+_.*")) Some("relational")
    else Families.find(f => q.startsWith(f + "_"))

  def main(args: Array[String]): Unit = {
    val dataDir = args(0)
    val trace = args(1) == "1"
    val names = args.drop(2).toSeq
    names.filter(family(_).isEmpty).foreach { q =>
      throw new IllegalArgumentException(s"query $q belongs to no family")
    }
    val builder = SparkSession.builder().master("local[4]")
    // the drains run their streams in sessions of their own, so the
    // listener is installed for every session, by class name
    if (trace) builder.config("spark.sql.streaming.streamingQueryListeners",
      classOf[DrainListener].getName)
    val spark = builder
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    println("READY")
    System.out.flush()
    if (names.isEmpty) Runtime.getRuntime.halt(0)
    val layers = if (trace) Some(new LayerListeners(spark)) else None

    val rows = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    val wall = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    names.foreach { q =>
      val seen = new Observation(q)
      val t0 = System.nanoTime()
      try {
        SparkEntry.queries(q)(spark, dataDir).observe(seen, count(lit(1)).as("rows"))
          .write.format("noop").mode("overwrite").save()
        wall(q) = (System.nanoTime() - t0) / 1e9
        rows(q) = seen.get("rows").asInstanceOf[Long]
      } catch {
        case e: Throwable if scala.util.control.NonFatal(e) =>
          errors(q) = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}"
      }
    }
    val buildS = GraftCaches.buildTimes.map(_._2).sum
    val oracles = SparkEntry.oracleSql
    val families = wall.groupBy { case (q, _) => family(q).get }.map { case (f, qs) => f -> qs.values.sum }
    val traceMetrics = layers.map { l =>
      l.drain()
      Seq("spark.plan_ms" -> l.planMs.get.toDouble, "spark.jobs" -> l.jobs.get.toDouble,
        "spark.stages" -> l.stages.get.toDouble, "spark.tasks" -> l.tasks.get.toDouble,
        "spark.task_cpu_s" -> l.taskCpuNs.get / 1e9,
        "spark.shuffle_bytes" -> l.shuffleBytes.get.toDouble,
        "spark.spill_bytes" -> l.spillBytes.get.toDouble,
        "drain.add_batch_ms" -> DrainListener.addBatchMs.get.toDouble,
        "drain.wal_commit_ms" -> DrainListener.walCommitMs.get.toDouble,
        "drain.commit_offsets_ms" -> DrainListener.commitOffsetsMs.get.toDouble,
        "drain.state_commit_ms" -> DrainListener.stateCommitMs.get.toDouble,
        "caches.build_s" -> buildS) ++
        Families.map(f => s"family.${f}_s" -> families.getOrElse(f, 0.0))
    }.getOrElse(Seq.empty)
    val out = Json.obj(Seq(
      "wall_s" -> Json.obj(wall.map { case (k, v) => k -> Json.num(v) }),
      "rows" -> Json.obj(rows.map { case (k, v) => k -> v.toString }),
      "errors" -> Json.obj(errors.map { case (k, v) => k -> Json.str(v) }),
      "oracle_sql" -> Json.obj(names.flatMap(q => oracles.get(q).map(s => q -> Json.str(s)))),
      "cache_build_s" -> Json.num(buildS),
      "metrics" -> Json.obj(traceMetrics.map { case (k, v) => k -> Json.num(v) })))
    println(out)
    System.out.flush()
    Runtime.getRuntime.halt(0) // the run directory goes with everything cached
  }
}

/** Each streaming batch's `durationMs` phases and its state operators'
  * commit time, summed over every session of the process (the drains). */
final class DrainListener extends StreamingQueryListener {
  import DrainListener._
  def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val d = e.progress.durationMs.asScala
    def add(c: AtomicLong, k: String): Unit = d.get(k).foreach(v => c.addAndGet(v.longValue))
    add(addBatchMs, "addBatch")
    add(walCommitMs, "walCommit")
    add(commitOffsetsMs, "commitOffsets")
    e.progress.stateOperators.foreach(s => stateCommitMs.addAndGet(s.commitTimeMs))
  }
}

object DrainListener {
  val addBatchMs, walCommitMs, commitOffsetsMs, stateCommitMs = new AtomicLong
}

/** Spark's public listeners, summed over the pass: jobs, stages and tasks
  * with their CPU, shuffle and spill, and the planning phases of each
  * noop write. */
final class LayerListeners(spark: SparkSession) {
  val planMs, jobs, stages, tasks, taskCpuNs, shuffleBytes, spillBytes = new AtomicLong
  import DrainListener._

  spark.sparkContext.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      stages.incrementAndGet()
      val m = e.stageInfo.taskMetrics
      if (m != null) {
        shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      if (e.taskMetrics != null) taskCpuNs.addAndGet(e.taskMetrics.executorCpuTime)
    }
  })

  // planning phases (analysis, optimization, planning) of each noop write
  spark.listenerManager.register(new QueryExecutionListener {
    def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (qe.executedPlan.nodeName == "OverwriteByExpression")
        planMs.addAndGet(qe.tracker.phases.values.map(_.durationMs).sum)
    def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  })

  /** Listener events arrive asynchronously: waits until the counters have
    * stopped changing for 500 ms. */
  def drain(): Unit = {
    def snapshot = Seq(jobs, stages, tasks, addBatchMs, stateCommitMs).map(_.get)
    var last = snapshot
    var same = 0
    while (same < 5) {
      Thread.sleep(100)
      val now = snapshot
      if (now == last) same += 1 else { same = 0; last = now }
    }
  }
}
