package graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.BenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** What one traced op cost, layer by layer. Filled by the listeners
  * on Spark's listener-bus thread, read by the client thread only after
  * [[Tracer.op]] has drained the bus. */
final class OpStats {
  var jobs, stages, tasks = 0L
  var planMs, taskRunMs, taskCpuMs, gcMs = 0.0
  var shuffleWriteBytes, spillBytes, inputBytes, inputRecords = 0L
  var bytesWritten = 0L
  var batches, stateRows = 0L
  var addBatchMs, commitMs, queryPlanningMs = 0.0
  var fsOps = 0L
  val jobSpans = ArrayBuffer.empty[(Int, Long, Long)] // (jobId, startMs, endMs)

  /** Wall time covered by at least one running job. */
  def execMs: Double = {
    val iv = jobSpans.map { case (_, s, e) => (s, e) }.sortBy(_._1)
    var total, curS, curE = 0L
    var open = false
    iv.foreach { case (s, e) =>
      if (!open || s > curE) {
        if (open) total += curE - curS
        curS = s; curE = e; open = true
      } else curE = math.max(curE, e)
    }
    if (open) total += curE - curS
    total.toDouble
  }
}

/** One op as the client saw it. `stats` is present only when the op ran
  * traced; `callMs` is the time inside the Engine / SparkEntry call,
  * `wallMs` adds the benchmark's own work around it. */
final case class OpRecord(cls: String, wallMs: Double, callMs: Double,
    startMs: Long, stats: Option[OpStats]) {
  /** Self time of the called layer: the call minus query planning minus
    * time with a Spark job running (manifest/marker reads, FS metadata
    * calls, driver-side folds, result collection). */
  def driverMs: Double = stats.fold(0.0)(s =>
    math.max(0.0, callMs - s.planMs - s.execMs))
}

/** Spans and counters recorded from outside the program: an op span,
  * the Engine/SparkEntry call span inside it, and one span per Spark job
  * the call ran. Jobs are tied to their op through a local property the
  * tracer sets on the client thread (stream execution threads inherit
  * it); query phases and stream progress arrive without properties and
  * are tied to the op that is current when they are delivered — exact,
  * because the client is a single closed loop and every traced op
  * drains the listener bus before it returns. Spans stay in memory and
  * are written out once, at the end of the run.
  *
  * When `enabled` is false, or an op is not traced, nothing is
  * registered and [[op]] only times the body. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val Prop = "graftbench.op"
  private val nextId = new AtomicLong(0)
  @volatile private var current = -1L
  private val statsById = new ConcurrentHashMap[Long, OpStats]()
  private val stageOp = new ConcurrentHashMap[Int, Long]()
  private val spans = ArrayBuffer.empty[String]

  private def statsFor(op: Long): Option[OpStats] =
    if (op < 0) None else Option(statsById.get(op))

  private def opOf(props: java.util.Properties): Long =
    Option(props).flatMap(p => Option(p.getProperty(Prop)))
      .map(_.toLong).getOrElse(-1L)

  private object jobs extends SparkListener {
    private val jobStart = new ConcurrentHashMap[Int, (Long, Long)]()
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val op = opOf(e.properties)
      statsFor(op).foreach { s =>
        s.jobs += 1
        e.stageIds.foreach(id => stageOp.put(id, op))
        jobStart.put(e.jobId, (op, e.time))
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStart.remove(e.jobId)).foreach { case (op, t0) =>
        statsFor(op).foreach(_.jobSpans += ((e.jobId, t0, e.time)))
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageOp.get(e.stageInfo.stageId)).flatMap(statsFor(_))
        .foreach(_.stages += 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      for {
        op <- Option(stageOp.get(e.stageId))
        s <- statsFor(op)
        m <- Option(e.taskMetrics)
      } {
        s.tasks += 1
        s.taskRunMs += m.executorRunTime
        s.taskCpuMs += m.executorCpuTime / 1e6
        s.gcMs += m.jvmGCTime
        s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        s.inputBytes += m.inputMetrics.bytesRead
        s.inputRecords += m.inputMetrics.recordsRead
        s.bytesWritten += m.outputMetrics.bytesWritten
      }
  }

  private object queries extends QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      statsFor(current).foreach(_.planMs +=
        qe.tracker.phases.values.map(_.durationMs).sum.toDouble)
    override def onFailure(f: String, qe: QueryExecution,
        e: Exception): Unit = ()
  }

  private object streams extends StreamingQueryListener {
    import StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit =
      statsFor(current).foreach { s =>
        val d = e.progress.durationMs
        def ms(k: String): Double =
          Option(d.get(k)).map(_.doubleValue).getOrElse(0.0)
        s.batches += 1
        s.addBatchMs += ms("addBatch")
        s.commitMs += ms("walCommit") + ms("commitOffsets")
        s.queryPlanningMs += ms("queryPlanning")
        s.stateRows += e.progress.stateOperators.map(_.numRowsTotal).sum
      }
  }


  /** Time the Engine / SparkEntry call inside an op (set by [[op]]). */
  private var callMs = 0.0
  def call[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body finally callMs = (System.nanoTime() - t0) / 1e6
  }

  /** Run one op. With `traced`, attribute every job, query phase,
    * stream batch and filesystem call it causes to it. The listeners
    * are registered for a traced op only, and its wall time includes
    * registering them, draining the listener bus and removing them
    * again, so traced and untraced ops of one run differ by exactly
    * what tracing costs (the caller puts a traced op's warehouse on the
    * counting filesystem, an untraced op's on the plain one). */
  def op[T](cls: String, traced: Boolean)(body: => T): (T, OpRecord) = {
    val on = enabled && traced
    val id = nextId.incrementAndGet()
    val stats = new OpStats
    val sc = spark.sparkContext
    callMs = Double.NaN
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    if (on) {
      sc.addSparkListener(jobs)
      spark.listenerManager.register(queries)
      spark.streams.addListener(streams)
      statsById.put(id, stats)
      current = id
      sc.setLocalProperty(Prop, id.toString)
      stats.fsOps = -CountingFs.calls.get()
    }
    val out =
      try body
      finally {
        if (on) {
          stats.fsOps += CountingFs.calls.get()
          sc.setLocalProperty(Prop, null)
          BenchBus.drain(sc)
          current = -1
          statsById.remove(id)
          sc.removeSparkListener(jobs)
          spark.listenerManager.unregister(queries)
          spark.streams.removeListener(streams)
        }
      }
    val wall = (System.nanoTime() - t0) / 1e6
    val call = if (callMs.isNaN) wall else callMs
    val rec = OpRecord(cls, wall, call, startMs, if (on) Some(stats) else None)
    if (on) recordSpans(id, rec, stats)
    (out, rec)
  }

  private def recordSpans(id: Long, r: OpRecord, s: OpStats): Unit = {
    val callId = s"$id.call"
    spans += Json.obj("id" -> id.toString, "parent" -> null,
      "name" -> r.cls, "start_ms" -> r.startMs, "dur_ms" -> r.wallMs)
    spans += Json.obj("id" -> callId, "parent" -> id.toString,
      "name" -> s"${r.cls}.call", "start_ms" -> r.startMs,
      "dur_ms" -> r.callMs, "plan_ms" -> s.planMs,
      "self_ms" -> r.driverMs, "fs_ops" -> s.fsOps)
    s.jobSpans.foreach { case (job, st, en) =>
      spans += Json.obj("id" -> s"$id.job$job", "parent" -> callId,
        "name" -> "spark.job", "start_ms" -> st, "dur_ms" -> (en - st))
    }
  }

  /** Every span recorded, one JSON object each. */
  def spansJson: Seq[String] = spans.toSeq
}

/** The counting Hadoop filesystem the traced run puts the warehouse on:
  * a local filesystem under its own scheme (`cfs:`) that counts every
  * metadata and data call made through it. */
object CountingFs {
  val calls = new AtomicLong(0)
  val Scheme = "cfs"

  /** Spark settings that register the scheme. */
  def conf: Seq[(String, String)] = Seq(
    s"spark.hadoop.fs.$Scheme.impl" -> classOf[CountingFs].getName)

  /** A local path as a URI on the counting filesystem. */
  def uri(path: String): String = s"$Scheme://$path"
}

private class CfsRaw extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI =
    java.net.URI.create(s"${CountingFs.Scheme}:///")
  override def getScheme: String = CountingFs.Scheme
}

class CountingFs extends org.apache.hadoop.fs.LocalFileSystem(new CfsRaw) {
  import org.apache.hadoop.fs._
  import org.apache.hadoop.fs.permission.FsPermission
  import org.apache.hadoop.util.Progressable

  private def tick(): Unit = CountingFs.calls.incrementAndGet()
  override def getScheme: String = CountingFs.Scheme
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    tick(); super.open(f, bufferSize)
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    tick()
    super.create(f, permission, overwrite, bufferSize, replication,
      blockSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = {
    tick(); super.rename(src, dst)
  }
  override def delete(f: Path, recursive: Boolean): Boolean = {
    tick(); super.delete(f, recursive)
  }
  override def listStatus(f: Path): Array[FileStatus] = {
    tick(); super.listStatus(f)
  }
  override def listLocatedStatus(
      f: Path): RemoteIterator[LocatedFileStatus] = {
    tick(); super.listLocatedStatus(f)
  }
  override def getFileStatus(f: Path): FileStatus = {
    tick(); super.getFileStatus(f)
  }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    tick(); super.mkdirs(f, permission)
  }
}
