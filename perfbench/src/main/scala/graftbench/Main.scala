package graftbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** Everything a workload needs: the session, the run's scratch
  * directory, the tracer, and where to put what it measured. */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Double,
    val minOps: Int, val runDir: String, val dataDir: String,
    val tracer: Tracer) {
  val ops = ArrayBuffer.empty[OpRecord]
  val failures = ArrayBuffer.empty[String]
  var attempted = 0L
  var heapMb = 0.0

  /** Record the driver's live heap: after full GCs, at the same point of
    * every run (set-up and warm-up done, nothing timed yet). Measured
    * at run end instead it would grow with the number of ops the run
    * completed, so a faster program would read as a bigger one. */
  def markHeap(): Unit = {
    spark.catalog.clearCache()
    System.gc(); System.gc()
    heapMb = java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Warehouse URI under the run dir, on the local filesystem or, for
    * traced ops, the same directory on the counting filesystem. */
  def warehouse(name: String, counted: Boolean = false): String = {
    val p = Paths.get(runDir, "wh", name).toAbsolutePath.toString
    if (counted) CountingFs.uri(p) else "file://" + p
  }
  def localPath(name: String): java.nio.file.Path =
    Paths.get(runDir, "wh", name).toAbsolutePath

  /** Count an op as attempted and, when `ok` is false, as failed. */
  def checked(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) failures += what
  }

  /** In a traced run the ops of each class come in pairs, one untraced
    * and one traced, so the run measures its own overhead against ops of
    * the same kind. The order within a pair flips from pair to pair and
    * from class to class, so that warm-up drift over the run does not
    * fall on one side. */
  def tracedNext(cls: String): Boolean = {
    val n = ops.count(_.cls == cls)
    val c = classOrder.getOrElseUpdate(cls, classOrder.size)
    tracer.enabled && (n + n / 2 + c) % 2 == 1
  }
  private val classOrder = collection.mutable.Map.empty[String, Int]

  /** Whether the run has the samples it needs: `minOps` timed ops of the
    * `tail` classes (so their tail percentile keeps ten samples beyond
    * it) and every class timed once, or untraced and traced once each
    * when tracing. */
  def enough(classes: Seq[String], tail: Seq[String]): Boolean = {
    val need = if (tracer.enabled) 2 else 1
    ops.count(o => tail.contains(o.cls)) >= minOps &&
      classes.forall(c => ops.count(_.cls == c) >= need)
  }

  /** Run, time, record and (via `check`) verify one op; `body` is told
    * whether the op runs traced. An exception is a failed op, never the
    * end of the run. */
  def timed[T](cls: String, record: Boolean = true)(body: Boolean => T)(
      check: T => Boolean): Option[(T, OpRecord)] = {
    val traced = record && tracedNext(cls)
    try {
      val (out, rec) = tracer.op(cls, traced)(body(traced))
      if (record) ops += rec
      checked(check(out), s"$cls: wrong result")
      Some((out, rec))
    } catch {
      case e: Exception =>
        checked(false, s"$cls: ${e.getClass.getSimpleName}: ${e.getMessage}")
        None
    }
  }
}

/** `graftbench.Main --workload W --seed N --seconds S --trace 0|1
  * --min-ops M --run-dir D --out F [--data DIR]`: set up one workload,
  * run its closed loop for S seconds and at least M timed ops, and write
  * every raw measurement to F (the Python front end turns them into
  * metrics). */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val trace = opts.getOrElse("trace", "0") == "1"
    val runDir = opts("run-dir")
    val cores = Runtime.getRuntime.availableProcessors()

    val t0 = System.nanoTime()
    val b = GraftSession.builder("graftbench")
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.local.dir", Paths.get(runDir, "spark-local").toString)
    val spark = (if (trace) CountingFs.conf.foldLeft(b) {
      case (bb, (k, v)) => bb.config(k, v) } else b).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9

    val ctx = new Ctx(spark, seed, opts("seconds").toDouble,
      opts.getOrElse("min-ops", "1").toInt, runDir,
      opts.getOrElse("data", ""), new Tracer(spark, trace))
    val extra: Seq[(String, Any)] = workload match {
      case "doc_oltp" => DocOltp.run(ctx)
      case "analytic_keys" => AnalyticKeys.run(ctx)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    if (trace) Files.write(Paths.get(runDir, "spans.jsonl"),
      ctx.tracer.spansJson.mkString("\n").getBytes("UTF-8"))
    val ops = ctx.ops.map(r => Json.Raw(Json.obj("cls" -> r.cls,
      "ms" -> r.wallMs, "traced" -> r.stats.isDefined)))
    val out = Json.obj(Seq[(String, Any)](
      "workload" -> workload, "seed" -> seed, "cores" -> cores,
      "session_s" -> sessionS, "ops" -> ops,
      "attempted" -> ctx.attempted, "failed" -> ctx.failures.size.toLong,
      "failures" -> ctx.failures.take(20), "heap_live_mb" -> ctx.heapMb) ++
      extra: _*)
    Files.write(Paths.get(opts("out")), out.getBytes("UTF-8"))
    spark.stop()
  }

  /** Median of a non-empty sample (0 when empty). */
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def mean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.size

  def seconds[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val out = body
    (out, (System.nanoTime() - t0) / 1e9)
  }

  /** Per-op layer figures of the traced ops of class `cls`: median for
    * times, mean for counts. */
  def verbLayers(prefix: String, recs: Seq[OpRecord],
      fields: Seq[String]): Seq[(String, Any)] = {
    val tr = recs.filter(_.stats.isDefined)
    def st(f: OpStats => Double) = tr.map(r => f(r.stats.get))
    fields.map { f =>
      val v = f match {
        case "jobs" => mean(st(_.jobs.toDouble))
        case "plan_ms" => median(st(_.planMs))
        case "exec_ms" => median(st(_.execMs))
        case "driver_ms" => median(tr.map(_.driverMs))
        case "fs_ops" => mean(st(_.fsOps.toDouble))
        case "shuffle_bytes" => mean(st(_.shuffleWriteBytes.toDouble))
      }
      s"$prefix.$f" -> v
    }
  }

  /** Spark-runtime figures per traced op, over every traced op. */
  def sparkLayers(recs: Seq[OpRecord], cores: Int): Seq[(String, Any)] = {
    val st = recs.flatMap(_.stats)
    def per(f: OpStats => Double) = mean(st.map(f))
    val busy = st.map(_.taskRunMs).sum
    val jobWall = st.map(_.execMs).sum
    Seq(
      "spark.jobs" -> per(_.jobs.toDouble),
      "spark.stages" -> per(_.stages.toDouble),
      "spark.tasks" -> per(_.tasks.toDouble),
      "spark.plan_ms" -> per(_.planMs),
      "spark.task_run_ms" -> per(_.taskRunMs),
      "spark.task_cpu_ms" -> per(_.taskCpuMs),
      "spark.gc_ms" -> per(_.gcMs),
      "spark.shuffle_write_bytes" -> per(_.shuffleWriteBytes.toDouble),
      "spark.spill_bytes" -> per(_.spillBytes.toDouble),
      "spark.input_bytes" -> per(_.inputBytes.toDouble),
      "spark.idle_core_ratio" ->
        (if (jobWall > 0) 1.0 - busy / (jobWall * cores) else 0.0))
  }

  /** Bytes under a local directory tree. */
  def du(p: java.nio.file.Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }
}
