package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** JSON for the record file and the oracle's SQL map, through the
  * Jackson and jackson-module-scala jars Spark ships. */
object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)

  def apply(v: Any): String = mapper.writeValueAsString(v)
}

/** Raw benchmark records, kept in memory and written once at exit.
  * Each record is one JSON object with a `t` (kind) field; the Python
  * side turns them into metrics, so every formula lives in one place
  * (perfbench/metrics.py) and is unit-tested there. */
final class Recorder {
  private val lines = new ConcurrentLinkedQueue[String]()

  def emit(kind: String, fields: (String, Any)*): Unit =
    lines.add(Json(scala.collection.immutable.ListMap(
      ("t" -> kind) +: fields: _*)))

  def writeTo(path: String): Unit =
    Files.write(Paths.get(path),
      lines.asScala.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
}

/** One `trigger` record per committed micro-batch: the only view of a
  * streaming query the end-to-end metrics use (it is cheap and always
  * on). Source rows, due timestamps (via the harness's `observe`
  * metrics), the engine's phase durations and the state operators'
  * counters all come from the progress event. */
final class TriggerListener(rec: Recorder)
    extends StreamingQueryListener {
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()

  override def onQueryTerminated(
      e: StreamingQueryListener.QueryTerminatedEvent): Unit =
    rec.emit("query_end", "id" -> e.id.toString, "run" -> e.runId.toString,
      "error" -> e.exception, "ms" -> System.currentTimeMillis())

  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val start = java.time.Instant.parse(p.timestamp).toEpochMilli
    val observed = p.observedMetrics.asScala.collect {
      case (name, row) if name.startsWith(Main.ObservePrefix) =>
        name -> row.schema.fieldNames.zipWithIndex.map { case (f, i) =>
          f -> (if (row.isNullAt(i)) None else row.get(i) match {
            case ts: java.sql.Timestamp => Some(ts.getTime)
            case n: Number => Some(n.longValue)
            case other => Some(other.toString)
          })
        }.toMap
    }
    val state = p.stateOperators.map { s =>
      Map("rows" -> s.numRowsTotal, "bytes" -> s.memoryUsedBytes,
        "updated" -> s.numRowsUpdated, "removed" -> s.numRowsRemoved,
        "commit_ms" -> s.commitTimeMs, "update_ms" -> s.allUpdatesTimeMs,
        "removal_ms" -> s.allRemovalsTimeMs)
    }.toSeq
    rec.emit("trigger",
      "id" -> p.id.toString, "run" -> p.runId.toString, "batch" -> p.batchId,
      "start" -> start, "end" -> (start + p.batchDuration),
      "rows" -> p.numInputRows,
      "source_rows" -> p.sources.map(_.numInputRows).toSeq,
      "observed" -> observed,
      "dur" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue },
      "state" -> state,
      "out_rows" -> Option(p.sink).map(_.numOutputRows).getOrElse(-1L))
  }
}

/** Traced runs only: Spark jobs and stages with the job's local
  * properties, so the Python side can hang them under the harness span
  * (a trigger or a batch query phase) that launched them. */
final class SparkTrace(rec: Recorder) extends SparkListener {
  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int,
    (Long, Map[String, String])]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val Props = Seq("spark.jobGroup.id", "spark.job.description",
    "sql.streaming.queryId", "streaming.sql.batchId", Main.OpProperty)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties).map { p =>
      Props.flatMap(k => Option(p.getProperty(k)).map(k -> _)).toMap
    }.getOrElse(Map.empty)
    jobs.put(e.jobId, (e.time, props))
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val (start, props) = Option(jobs.remove(e.jobId)).getOrElse((e.time, Map.empty))
    rec.emit("job", "job" -> e.jobId, "start" -> start, "end" -> e.time,
      "ok" -> (e.jobResult == org.apache.spark.scheduler.JobSucceeded),
      "props" -> props)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val s = e.stageInfo
    val m = s.taskMetrics
    rec.emit("stage", "stage" -> s.stageId,
      "job" ->
        (if (stageJob.containsKey(s.stageId)) Some(stageJob.get(s.stageId)) else None),
      "start" -> s.submissionTime, "end" -> s.completionTime,
      "tasks" -> s.numTasks,
      "task_ms" -> Option(m).map(_.executorRunTime).getOrElse(0L),
      "cpu_ms" -> Option(m).map(_.executorCpuTime / 1000000L).getOrElse(0L),
      "gc_ms" -> Option(m).map(_.jvmGCTime).getOrElse(0L),
      "shuffle_read_bytes" ->
        Option(m).map(_.shuffleReadMetrics.totalBytesRead).getOrElse(0L),
      "shuffle_write_bytes" ->
        Option(m).map(_.shuffleWriteMetrics.bytesWritten).getOrElse(0L),
      "spill_bytes" -> Option(m)
        .map(x => x.memoryBytesSpilled + x.diskBytesSpilled).getOrElse(0L),
      "failure" -> s.failureReason)
  }
}
