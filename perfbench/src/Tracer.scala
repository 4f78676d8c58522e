package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-layer event capture for the traced run. Jobs, stages and task
  * failures come from a `SparkListener`, Catalyst phase times from a
  * `QueryExecutionListener` (`qe.tracker.phases`), and micro-batch
  * durations and state-store figures from a `StreamingQueryListener`.
  * Events stay in memory until `flush`; `enabled` attaches or detaches
  * the listeners after draining the bus, so untraced passes of a traced
  * run pay no listener cost.
  */
final class Tracer(spark: SparkSession) {
  private val events = ArrayBuffer.empty[Map[String, Any]]
  private def add(m: Map[String, Any]): Unit = events.synchronized { events += m }

  private val jobOfStage = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val failedTasks = new java.util.concurrent.ConcurrentHashMap[Int, Int]()

  private val sparkListener = new SparkListener {
    override def onJobStart(js: SparkListenerJobStart): Unit = {
      js.stageIds.foreach(s => jobOfStage.put(s, js.jobId))
      val last = js.stageInfos.sortBy(_.stageId).lastOption
      add(Map("type" -> "job_start", "job" -> js.jobId, "start" -> js.time.toDouble,
        "group" -> Option(js.properties).map(_.getProperty("spark.jobGroup.id")).orNull,
        "callsite" -> last.map(_.name).orNull, "stages" -> js.stageIds,
        "sql_exec" -> Option(js.properties).map(_.getProperty("spark.sql.execution.id")).orNull))
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
        add(Map("type" -> "sql_exec", "sql_exec" -> s.executionId.toString,
          "callsite" -> s.description))
      case _ => ()
    }
    override def onJobEnd(je: SparkListenerJobEnd): Unit =
      add(Map("type" -> "job_end", "job" -> je.jobId, "end" -> je.time.toDouble,
        "ok" -> (je.jobResult == JobSucceeded)))
    override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
      if (te.reason != Success) failedTasks.merge(te.stageId, 1, _ + _)
    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
      val si = sc.stageInfo
      val m = si.taskMetrics
      add(Map("type" -> "stage", "stage" -> si.stageId, "attempt" -> si.attemptNumber(),
        "job" -> Option(jobOfStage.get(si.stageId)).getOrElse(-1), "name" -> si.name,
        "start" -> si.submissionTime.map(_.toDouble).orNull,
        "end" -> si.completionTime.map(_.toDouble).orNull,
        "tasks" -> si.numTasks, "failed_tasks" -> failedTasks.getOrDefault(si.stageId, 0),
        "run_ms" -> m.executorRunTime, "cpu_ms" -> m.executorCpuTime / 1e6,
        "gc_ms" -> m.jvmGCTime,
        "shuffle_read_bytes" -> m.shuffleReadMetrics.totalBytesRead,
        "shuffle_write_bytes" -> m.shuffleWriteMetrics.bytesWritten,
        "spill_bytes" -> (m.memoryBytesSpilled + m.diskBytesSpilled),
        "scan_bytes_read" -> m.inputMetrics.bytesRead,
        "scan_records_read" -> m.inputMetrics.recordsRead))
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(func: String, qe: QueryExecution, durationNs: Long): Unit =
      phases(func, qe, ok = true)
    override def onFailure(func: String, qe: QueryExecution, e: Exception): Unit =
      phases(func, qe, ok = false)
    private def phases(func: String, qe: QueryExecution, ok: Boolean): Unit =
      add(Map("type" -> "qe", "func" -> func, "ok" -> ok, "phases" ->
        qe.tracker.phases.map { case (k, p) =>
          k -> Seq(p.startTimeMs.toDouble, p.endTimeMs.toDouble) }))
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val ops = p.stateOperators.toSeq
      add(Map("type" -> "stream", "batch" -> p.batchId,
        "start" -> java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble,
        "durations" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        "state_rows" -> ops.map(_.numRowsTotal).sum,
        "state_mem_bytes" -> ops.map(_.memoryUsedBytes).sum,
        "state_commit_ms" -> ops.map(_.commitTimeMs).sum))
    }
  }

  private var attached = false
  def enabled: Boolean = attached
  def enabled_=(on: Boolean): Unit = if (on != attached) {
    drain(spark)
    if (on) {
      spark.sparkContext.addSparkListener(sparkListener)
      spark.listenerManager.register(qeListener)
      spark.streams.addListener(streamListener)
    } else {
      spark.sparkContext.removeSparkListener(sparkListener)
      spark.listenerManager.unregister(qeListener)
      spark.streams.removeListener(streamListener)
    }
    attached = on
  }

  def drain(spark: SparkSession): Unit =
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

  def flush(rec: Record): Unit = events.synchronized { events.foreach(rec.add) }
}

/** Kernel throughput of the public `graft.functions` and `graft.agg`
  * entry points over the `documents` and `embeddings` columns,
  * replicated so each call runs long enough to time, into a noop sink.
  * The inputs are cached first, so the figure is the kernel's cost plus
  * an in-memory scan.
  */
object Kernels {
  private val DocCopies = 10
  private val EmbCopies = 50
  private val Reps = 2

  def measure(spark: SparkSession, dir: String, rec: Record): Unit = {
    import org.apache.spark.sql.functions._
    import graft.functions._
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(split(lower(col("text")), " ").as("tk"), col("doc_id"),
        col("n_chars").cast("double").as("x"))
      .crossJoin(spark.range(DocCopies).toDF("copy"))
      .repartition(spark.sparkContext.defaultParallelism).cache()
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("embedding").cast("array<double>").as("e"))
      .crossJoin(spark.range(EmbCopies).toDF("copy"))
      .repartition(spark.sparkContext.defaultParallelism).cache()
    val probe = typedLit(Array.tabulate(64)(i => (i % 7) * 0.25))
    val tdigest = udaf(new graft.agg.TDigestAgg(100, Seq(0.5, 0.99)))
    val topk = udaf(new graft.agg.TopKAgg(16))
    val cases: Seq[(String, DataFrame)] = Seq(
      "functions.minhash64_ns_per_row" -> docs.select(MinHash64.minhash64(col("tk"), 64)),
      "functions.polyhash31_ns_per_row" -> docs.select(PolyHash31.polyhash31(col("tk"))),
      "functions.window_hash64_ns_per_row" -> docs.select(WindowHash64.windowHash64(col("tk"), 8)),
      "functions.dotf64_ns_per_row" -> emb.select(DotF64.dotf64(col("e"), probe)),
      "functions.l2sqf64_ns_per_row" -> emb.select(L2SqF64.l2sqf64(col("e"), probe)),
      "agg.tdigest_ns_per_row" -> docs.groupBy(col("copy")).agg(tdigest(col("x"))),
      "agg.topk_ns_per_row" -> docs.groupBy(col("copy"))
        .agg(topk(col("x").cast("long"), col("doc_id"))))
    val rows = Map("docs" -> docs.count().toDouble, "emb" -> emb.count().toDouble)
    cases.foreach { case (metric, df) =>
      val n = if (metric.contains("dotf64") || metric.contains("l2sqf64")) rows("emb") else rows("docs")
      val times = (0 to Reps).map { _ =>
        val t0 = Clock.ms()
        df.write.format("noop").mode("overwrite").save()
        Clock.ms() - t0
      }.drop(1).sorted
      rec.add(Map("type" -> "kernel", "metric" -> metric, "rows" -> n,
        "ns_per_row" -> times(times.size / 2) * 1e6 / n))
    }
    docs.unpersist()
    emb.unpersist()
  }
}
