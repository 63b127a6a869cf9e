package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FSDataOutputStream, FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in epoch milliseconds with nanoTime resolution, so op
  * spans and Spark's millisecond event times share one time base. */
object Clock {
  private val originNs = System.nanoTime()
  private val originMs = System.currentTimeMillis().toDouble
  def nowMs: Double = originMs + (System.nanoTime() - originNs) / 1e6
}

/** Host-stall detector: a thread that sleeps `periodMs` at a time and
  * adds up how late it wakes, counting only lateness beyond
  * `thresholdMs`. On a quiet host the total stays near zero; a stalled
  * VM, or a long stop-the-world pause, shows up as seconds. */
final class StallTicker(periodMs: Long = 10, thresholdMs: Long = 50) extends Thread("stall-ticker") {
  setDaemon(true)
  private val stallNs = new AtomicLong
  @volatile private var running = true

  def stallS: Double = stallNs.get / 1e9
  def halt(): Unit = { running = false; join() }

  override def run(): Unit = {
    var last = System.nanoTime()
    while (running) {
      Thread.sleep(periodMs)
      val now = System.nanoTime()
      val late = now - last - periodMs * 1000000L
      if (late > thresholdMs * 1000000L) stallNs.addAndGet(late)
      last = now
    }
  }
}

/** Local file system that counts the mutating calls a merge protocol
  * makes. Installed only in traced runs, as `fs.file.impl`. */
class CountingFs extends LocalFileSystem {
  import CountingFs._
  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    creates.incrementAndGet()
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = { renames.incrementAndGet(); super.rename(src, dst) }
  override def delete(f: Path, recursive: Boolean): Boolean = { deletes.incrementAndGet(); super.delete(f, recursive) }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = { mkdirsCalls.incrementAndGet(); super.mkdirs(f, permission) }
}

object CountingFs {
  val creates, renames, deletes, mkdirsCalls = new AtomicLong
}

/** Per-job record filled in by the listener; tasks are summed into it. */
final class JobRec(val jobId: Int, val group: String, val t0: Long) {
  var t1 = -1L
  var tasks, taskWallMs, runMs, cpuNs, gcMs, readBytes, shuffleWriteBytes, spillBytes = 0L
  def toMap: Map[String, Any] = Map("job" -> jobId, "group" -> group, "t0" -> t0, "t1" -> t1,
    "tasks" -> tasks, "task_wall_ms" -> taskWallMs, "run_ms" -> runMs, "cpu_ns" -> cpuNs,
    "gc_ms" -> gcMs, "read_bytes" -> readBytes, "shuffle_write_bytes" -> shuffleWriteBytes,
    "spill_bytes" -> spillBytes)
}

/** The traced run's instruments, all public Spark hooks: a
  * SparkListener for jobs and tasks, a QueryExecutionListener for
  * planning phases and whole-stage subtrees, a StreamingQueryListener
  * for micro-batch phases, and process-wide counters (codegen
  * compiles, file-system calls, bytes written, GC time) read at op
  * boundaries. Events are kept in memory and returned by [[dump]]. */
final class Tracer(spark: SparkSession) {
  private val jobs = new ConcurrentHashMap[Int, JobRec]
  private val stageToJob = new ConcurrentHashMap[Int, JobRec]
  private val queries = new ConcurrentLinkedQueue[Map[String, Any]]
  private val progress = new ConcurrentLinkedQueue[Map[String, Any]]
  @volatile private var lastEventMs = 0L
  private def touch(): Unit = lastEventMs = System.currentTimeMillis()

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).orNull
      val rec = new JobRec(e.jobId, group, e.time)
      jobs.put(e.jobId, rec)
      e.stageIds.foreach(s => stageToJob.put(s, rec))
      touch()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      Option(jobs.get(e.jobId)).foreach(j => j.synchronized(j.t1 = e.time))
      touch()
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      Option(stageToJob.get(e.stageId)).foreach { j =>
        j.synchronized {
          j.tasks += 1
          j.taskWallMs += e.taskInfo.duration
          val m = e.taskMetrics
          if (m != null) {
            j.runMs += m.executorRunTime
            j.cpuNs += m.executorCpuTime
            j.gcMs += m.jvmGCTime
            j.readBytes += m.inputMetrics.bytesRead
            j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
            j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          }
        }
      }
      touch()
    }
  }

  private object PlanWalk extends AdaptiveSparkPlanHelper

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
    private def record(qe: QueryExecution): Unit = {
      val phases = qe.tracker.phases
      def ms(p: String) = phases.get(p).map(_.durationMs).getOrElse(0L)
      // whole-stage subtrees of the FINAL adaptive plan, query stages
      // and subqueries included: a plain collect over executedPlan
      // stops at the AdaptiveSparkPlanExec root and sees almost none
      val wsc = scala.util.Try(PlanWalk.collectWithSubqueries(qe.executedPlan) {
        case w: WholeStageCodegenExec => w
      }.size).getOrElse(0)
      val at = if (phases.isEmpty) System.currentTimeMillis() else phases.values.map(_.startTimeMs).max
      queries.add(Map("t" -> at, "analysis_ms" -> ms("analysis"),
        "optimizer_ms" -> ms("optimization"), "physical_ms" -> ms("planning"), "wsc" -> wsc))
      touch()
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = touch()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = touch()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = touch()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      progress.add(Map("t" -> java.time.Instant.parse(p.timestamp).toEpochMilli,
        "rows" -> p.numInputRows, "duration_ms" -> d))
      touch()
    }
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(jobListener)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
  }

  /** Wait until every job seen has ended and the buses have been quiet
    * for a moment, then stop listening. */
  def detach(): Unit = {
    quiesce()
    spark.sparkContext.removeSparkListener(jobListener)
    spark.listenerManager.unregister(queryListener)
    spark.streams.removeListener(streamListener)
  }

  def quiesce(quietMs: Long = 300, maxMs: Long = 10000): Unit = {
    val start = System.currentTimeMillis()
    def open = jobs.values.asScala.exists(j => j.synchronized(j.t1 < 0))
    while ((open || System.currentTimeMillis() - lastEventMs < quietMs) &&
        System.currentTimeMillis() - start < maxMs)
      Thread.sleep(20)
  }

  /** Process-wide counters, read at op boundaries on the driver thread. */
  def counters(): Map[String, Long] = {
    val written = FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file").map(_.getBytesWritten).sum
    val gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum
    Map("compiles" -> CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
      "fs_create" -> CountingFs.creates.get, "fs_rename" -> CountingFs.renames.get,
      "fs_delete" -> CountingFs.deletes.get, "fs_mkdirs" -> CountingFs.mkdirsCalls.get,
      "fs_bytes_written" -> written, "jvm_gc_ms" -> gcMs)
  }

  def dump(): Map[String, Any] = Map(
    "jobs" -> jobs.values.asScala.toSeq.sortBy(_.jobId).map(j => j.synchronized(j.toMap)),
    "queries" -> queries.asScala.toSeq,
    "stream_progress" -> progress.asScala.toSeq)
}
