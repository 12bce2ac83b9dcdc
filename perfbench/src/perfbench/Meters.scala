package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.LongAdder

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileContext, FileSystem}
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Engine counters summed over every job the session runs. Callers take a
  * [[snapshot]] before and after a region (after draining the listener
  * bus) and subtract. */
final class TaskMeter extends SparkListener {
  private val c = Array.fill(8)(new LongAdder)
  override def onJobStart(e: SparkListenerJobStart): Unit = c(0).increment()
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    c(1).increment()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    c(2).increment()
    val m = e.taskMetrics
    if (m != null) {
      c(3).add(m.executorRunTime)
      c(4).add(m.executorCpuTime)
      c(5).add(m.jvmGCTime)
      c(6).add(m.shuffleWriteMetrics.bytesWritten)
      c(7).add(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }
  def snapshot(): TaskMeter.Counts = {
    val v = c.map(_.sum())
    TaskMeter.Counts(v(0), v(1), v(2), v(3) / 1e3, v(4) / 1e9, v(5) / 1e3,
      v(6), v(7))
  }
}

object TaskMeter {
  final case class Counts(jobs: Long, stages: Long, tasks: Long,
      taskRunS: Double, taskCpuS: Double, gcS: Double, shuffleWriteBytes: Long,
      spillBytes: Long) {
    def -(o: Counts): Counts = Counts(jobs - o.jobs, stages - o.stages,
      tasks - o.tasks, taskRunS - o.taskRunS, taskCpuS - o.taskCpuS,
      gcS - o.gcS, shuffleWriteBytes - o.shuffleWriteBytes,
      spillBytes - o.spillBytes)
  }
}

/** Micro-batch and state-store counters from every streaming query's
  * progress events. State rows are the last reported total of each query,
  * summed over queries. */
final class StreamMeter extends StreamingQueryListener {
  private val batches = new LongAdder
  private val commitMs = new LongAdder
  private val lastRows = new ConcurrentHashMap[java.util.UUID, java.lang.Long]
  override def onQueryStarted(
      e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(
      e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(
      e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    batches.increment()
    val ops = Option(p.stateOperators).getOrElse(Array.empty)
    commitMs.add(ops.map(_.commitTimeMs).sum)
    if (ops.nonEmpty) lastRows.put(p.runId, ops.map(_.numRowsTotal).sum)
  }
  /** (batches, commit ms, state rows) since the previous call. */
  def drain(): (Long, Long, Long) = {
    val rows = lastRows.values.asScala.map(_.longValue).sum
    lastRows.clear()
    (batches.sumThenReset(), commitMs.sumThenReset(), rows)
  }
}

object Counters {
  /** Bytes written through Hadoop's `file` scheme, JVM-wide: by the
    * `FileSystem` API (sinks, parquet writers) and by the `FileContext` API
    * (streaming checkpoints and state stores), which keeps its own table. */
  def fileBytesWritten(): Long =
    Option(FileSystem.getGlobalStorageStatistics.get("file"))
      .flatMap(s => Option(s.getLong("bytesWritten")))
      .map(_.longValue).getOrElse(0L) +
      FileContext.getAllStatistics.asScala.toSeq
        .collect { case (uri, st) if uri.getScheme == "file" => st.getBytesWritten }
        .sum

  /** Bytes read through Hadoop's `file` scheme, JVM-wide. */
  def fileBytesRead(): Long =
    Option(FileSystem.getGlobalStorageStatistics.get("file"))
      .flatMap(s => Option(s.getLong("bytesRead")))
      .map(_.longValue).getOrElse(0L)

  private val MemoCell = """"hits":(\d+),"misses":(\d+)""".r

  /** (hits, misses) summed over every session memo. */
  def memo(): (Long, Long) =
    MemoCell.findAllMatchIn(graft.MemoStats.json()).foldLeft((0L, 0L)) {
      case ((h, m), g) => (h + g.group(1).toLong, m + g.group(2).toLong)
    }

  /** Peak resident set of this process, in MB (Linux `VmHWM`). */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(0.0)
    finally src.close()
  }
}
