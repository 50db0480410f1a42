package graft.perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener
import org.json4s.JsonAST._

/** One traced interval: a query, a query's build or execute call, or a
  * layer probe. Times are wall-clock milliseconds of this JVM. */
final case class Span(name: String, parent: String, startMs: Long, endMs: Long) {
  def json: JValue = JObject("name" -> JString(name), "parent" -> JString(parent),
    "start_ms" -> JLong(startMs), "end_ms" -> JLong(endMs))
}

object Tracer {
  /** Spark local property naming the query a job runs for; threads the
    * engine starts (broadcasts, streaming micro-batches) inherit it. */
  val QueryProp = "perfbench.query"

  /** Spark local property set while the harness writes a query's result. */
  val ResultProp = "perfbench.result"

  /** Peak resident set of this process, from /proc (VmHWM), in MB. */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble / 1024 }
      .getOrElse(-1.0)
}

/** Listeners and counters for the traced pass. Everything is kept in
  * memory and reported once, after the pass. */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val cpus = Runtime.getRuntime.availableProcessors

  private final class QStats {
    var jobs = 0; var stages = 0; var tasks = 0
    var runMs = 0L; var cpuNs = 0L; var gcMs = 0L; var delayMs = 0L
    var shuffleWrite = 0L; var shuffleRead = 0L; var sinkBytes = 0L
    val stageSpans = mutable.ArrayBuffer.empty[(Int, Long, Long)]
  }
  private val perQuery = mutable.LinkedHashMap.empty[String, QStats]
  private val stageQuery = mutable.HashMap.empty[Int, String]
  private val resultStages = mutable.HashSet.empty[Int]
  private val stageTaskRun = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Long]]
  // every counter reads 0 until its first event, so a pass without, say,
  // streaming progress still reports each metric
  private val sums = mutable.LinkedHashMap.from(Seq("spark.jobs", "spark.stages", "spark.tasks",
    "spark.task_run_s", "spark.task_cpu_s", "spark.gc_s", "spark.scheduler_delay_s",
    "shuffle.write_bytes", "shuffle.write_records", "shuffle.read_bytes", "shuffle.fetch_wait_s",
    "spill.memory_bytes", "spill.disk_bytes", "tables.input_bytes", "tables.input_records",
    "sink.bytes_written", "sink.records_written", "catalyst.executions", "catalyst.analysis_s",
    "catalyst.optimization_s", "catalyst.planning_s", "stream.batches", "stream.input_rows",
    "stream.trigger_s", "stream.add_batch_s", "stream.wal_commit_s", "stream.state_commit_s")
    .map(_ -> 0.0))
  private var skewMax = 1.0
  private val lastState = mutable.HashMap.empty[java.util.UUID, (Long, Long)]

  private def q(name: String) = perQuery.getOrElseUpdate(name, new QStats)
  private def add(k: String, v: Double): Unit = sums(k) = sums.getOrElse(k, 0.0) + v

  private def record(f: => Unit): Unit = synchronized(f)

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = record {
      val name = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.QueryProp)))
        .getOrElse("(outside)")
      q(name).jobs += 1
      add("spark.jobs", 1)
      e.stageIds.foreach(stageQuery(_) = name)
      if (Option(e.properties).exists(_.getProperty(Tracer.ResultProp) != null))
        resultStages ++= e.stageIds
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = record {
      val info = e.stageInfo
      val s = q(stageQuery.getOrElse(info.stageId, "(outside)"))
      s.stages += 1
      add("spark.stages", 1)
      for (a <- info.submissionTime; b <- info.completionTime) s.stageSpans += ((info.stageId, a, b))
      stageTaskRun.remove(info.stageId).foreach { runs =>
        if (runs.size >= cpus) {
          val sorted = runs.sorted
          val median = sorted(sorted.size / 2)
          if (median > 0) skewMax = math.max(skewMax, sorted.last.toDouble / median)
        }
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (e.taskMetrics != null) record(task(e))
  }

  private def task(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val s = q(stageQuery.getOrElse(e.stageId, "(outside)"))
    val delay = math.max(0L, e.taskInfo.duration - m.executorRunTime -
      m.executorDeserializeTime - m.resultSerializationTime)
    s.tasks += 1; s.runMs += m.executorRunTime; s.cpuNs += m.executorCpuTime
    s.gcMs += m.jvmGCTime; s.delayMs += delay
    s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
    s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
    stageTaskRun.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += m.executorRunTime
    add("spark.tasks", 1)
    add("spark.task_run_s", m.executorRunTime / 1e3)
    add("spark.task_cpu_s", m.executorCpuTime / 1e9)
    add("spark.gc_s", m.jvmGCTime / 1e3)
    add("spark.scheduler_delay_s", delay / 1e3)
    add("shuffle.write_bytes", m.shuffleWriteMetrics.bytesWritten)
    add("shuffle.write_records", m.shuffleWriteMetrics.recordsWritten)
    add("shuffle.read_bytes", m.shuffleReadMetrics.totalBytesRead)
    add("shuffle.fetch_wait_s", m.shuffleReadMetrics.fetchWaitTime / 1e3)
    add("spill.memory_bytes", m.memoryBytesSpilled)
    add("spill.disk_bytes", m.diskBytesSpilled)
    add("tables.input_bytes", m.inputMetrics.bytesRead)
    add("tables.input_records", m.inputMetrics.recordsRead)
    // file output of the engine itself; the result writes are the harness's
    if (!resultStages.contains(e.stageId)) {
      s.sinkBytes += m.outputMetrics.bytesWritten
      add("sink.bytes_written", m.outputMetrics.bytesWritten)
      add("sink.records_written", m.outputMetrics.recordsWritten)
    }
  }

  private val sqlListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      phases(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      phases(qe)
    private def phases(qe: QueryExecution): Unit = record {
      add("catalyst.executions", 1)
      qe.tracker.phases.foreach { case (phase, p) => add(s"catalyst.${phase}_s", p.durationMs / 1e3) }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      record {
        val p = e.progress
        val d = p.durationMs.asScala
        add("stream.batches", 1)
        add("stream.input_rows", p.numInputRows)
        add("stream.trigger_s", d.get("triggerExecution").map(_.toLong).getOrElse(0L) / 1e3)
        add("stream.add_batch_s", d.get("addBatch").map(_.toLong).getOrElse(0L) / 1e3)
        add("stream.wal_commit_s", d.get("walCommit").map(_.toLong).getOrElse(0L) / 1e3)
        add("stream.state_commit_s", p.stateOperators.map(_.commitTimeMs).sum / 1e3)
        lastState(p.id) = (p.stateOperators.map(_.numRowsTotal).sum,
          p.stateOperators.map(_.memoryUsedBytes).sum)
      }
  }

  private var compileNs0 = 0L
  private var compiles0 = 0L

  def attach(): Unit = {
    compileNs0 = CodeGenerator.compileTime
    compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    sc.addSparkListener(jobListener)
    spark.listenerManager.register(sqlListener)
    spark.streams.addListener(streamListener)
  }

  def detach(): Unit = {
    add("codegen.compile_s", (CodeGenerator.compileTime - compileNs0) / 1e9)
    add("codegen.compilations", CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0)
    org.apache.spark.PerfbenchBus.drain(sc)
    sc.removeSparkListener(jobListener)
    spark.listenerManager.unregister(sqlListener)
    spark.streams.removeListener(streamListener)
  }

  /** The trace document: per-layer metrics, per-query records and spans. */
  def report(probes: Map[String, Double], spans: Seq[Span]): JValue = synchronized {
    val metrics = sums.toMap ++ probes ++ Map(
      "stage.skew_max" -> skewMax,
      "stream.state_rows" -> lastState.values.map(_._1).sum.toDouble,
      "stream.state_memory_bytes" -> lastState.values.map(_._2).sum.toDouble)
    JObject(
      "metrics" -> JObject(metrics.toList.sortBy(_._1).map { case (k, v) => k -> JDouble(v) }),
      "spans" -> JArray(spans.toList.map(_.json)),
      "queries" -> JObject(perQuery.toList.map { case (n, s) => n -> JObject(
        "jobs" -> JInt(s.jobs), "stages" -> JInt(s.stages), "tasks" -> JInt(s.tasks),
        "task_run_s" -> JDouble(s.runMs / 1e3), "task_cpu_s" -> JDouble(s.cpuNs / 1e9),
        "gc_s" -> JDouble(s.gcMs / 1e3), "scheduler_delay_s" -> JDouble(s.delayMs / 1e3),
        "shuffle_write_bytes" -> JLong(s.shuffleWrite), "shuffle_read_bytes" -> JLong(s.shuffleRead),
        "sink_bytes_written" -> JLong(s.sinkBytes),
        "stage_spans" -> JArray(s.stageSpans.toList.map { case (id, a, b) =>
          JObject("stage" -> JInt(id), "start_ms" -> JLong(a), "end_ms" -> JLong(b)) }))
      }))
  }
}
