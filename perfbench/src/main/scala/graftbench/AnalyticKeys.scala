package graftbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row

import graft.SparkEntry

/** analytic_keys: driver-contract queries from `SparkEntry.queries` over
  * a generated TPC-H-like corpus; each key runs once as warm-up (its
  * result dumped for the DuckDB oracle) and then repeatedly, timed, each
  * timed result checked against the warm-up's. The only workload that
  * exercises `graft.ops` / `graft.streaming` and never touches
  * `graft.Engine`. */
object AnalyticKeys {
  /** The sub-0.3 s fixed-overhead class (203 of the 525 keys). */
  val Short: Seq[String] = Seq("q_pivot", "q_histogram", "q_anova_f",
    "text_langid", "q_case_having", "point_lookup", "q_vwap", "q_stats_agg")
  /** Compute, shuffle, stream, iterative and driver-fold keys whose
    * DuckDB oracles answer in about a second at this scale. */
  val Long: Seq[String] = Seq("stream_dedup", "q_itemset3", "q_scc",
    "q_seasonal_mann_kendall")
  val Streaming: Set[String] = Set("stream_dedup")
  /** Timed runs of each short key per run of each long key: a round then
    * holds 32 short-key runs, enough for their p60 tail. */
  val ShortReps = 4

  /** Result rows as an order-independent fingerprint (row count, Σ row
    * hash), doubles compared to 9 significant digits as the oracle
    * gate does. */
  def fingerprint(rows: Array[Row]): (Int, Long) = {
    def norm(v: Any): String = v match {
      case d: Double => f"$d%.9g"
      case f: Float => f"${f.toDouble}%.9g"
      case null => "null"
      case other => other.toString
    }
    (rows.length, rows.map(r =>
      scala.util.hashing.MurmurHash3.seqHash(r.toSeq.map(norm)).toLong).sum)
  }

  def run(ctx: Ctx): Seq[(String, Any)] = {
    val spark = ctx.spark
    val dir = ctx.dataDir
    val keys = Short ++ Long

    // warm-up: one run per key, its result dumped for the oracle
    val t0 = System.nanoTime()
    val want = keys.map { k =>
      val fn = SparkEntry.queries(k)
      val got = ctx.timed(k, record = false) { _ =>
        val df = fn(spark, dir)
        (df.schema, df.collect())
      }(_ => true)
      spark.catalog.clearCache()
      got.foreach { case ((schema, rows), _) =>
        spark.createDataFrame(rows.toList.asJava, schema).coalesce(1)
          .write.mode("overwrite")
          .parquet(java.nio.file.Paths.get(ctx.runDir, "dump", k).toString)
        spark.catalog.clearCache()
      }
      k -> got.map(g => fingerprint(g._1._2))
    }.toMap
    val warmupS = (System.nanoTime() - t0) / 1e9
    ctx.markHeap()

    val order = interleave(Long, Seq.fill(ShortReps)(Short).flatten)
    val start = System.nanoTime()
    var i = 0
    while (i % order.size != 0 ||
        (System.nanoTime() - start) / 1e9 < ctx.seconds ||
        !ctx.enough(keys, Short)) {
      val k = order(i % order.size)
      ctx.timed(k)(_ => ctx.tracer.call("SparkEntry.queries")(
        SparkEntry.queries(k)(spark, dir).collect()))(rows =>
        want(k).contains(fingerprint(rows)))
      spark.catalog.clearCache()
      i += 1
    }

    val layers: Seq[(String, Any)] = if (!ctx.tracer.enabled) Nil else {
      val ops = ctx.ops.toSeq
      def of(k: String) = ops.filter(_.cls == k)
      def group(name: String, ks: Seq[String]) = {
        val per = ks.map(k => Main.verbLayers("g", of(k),
          Seq("jobs", "plan_ms", "exec_ms", "driver_ms")).toMap)
        Seq("jobs", "plan_ms", "exec_ms", "driver_ms").map(f =>
          s"analytic.$name.$f" -> per.map(_(s"g.$f").asInstanceOf[Double]).sum)
      }
      def stream(f: OpStats => Double) = Streaming.toSeq.map(k =>
        Main.mean(of(k).flatMap(_.stats).map(f))).sum
      keys.map(k => s"ops.${k}_s" -> Main.median(of(k).map(_.wallMs / 1000))) ++
        group("short", Short) ++ group("long", Long) ++ Seq(
        "streaming.batches" -> stream(_.batches.toDouble),
        "streaming.add_batch_ms" -> stream(_.addBatchMs),
        "streaming.commit_ms" -> stream(_.commitMs),
        "streaming.query_planning_ms" -> stream(_.queryPlanningMs),
        "streaming.state_rows" -> stream(_.stateRows.toDouble)) ++
        Main.sparkLayers(ops, Runtime.getRuntime.availableProcessors())
    }
    val oracle = SparkEntry.oracleSqlFor(dir)
    Seq("preload_s" -> 0.0, "layers" -> layers.toMap,
      "warmup_s" -> warmupS,
      "classes" -> keys, "primary" -> Short, "long_keys" -> Long,
      "oracle" -> keys.flatMap(k => oracle.get(k).map(k -> _)).toMap)
  }

  /** Spread the `b` items evenly between the `a` items. */
  def interleave(a: Seq[String], b: Seq[String]): Seq[String] = {
    val per = b.size.toDouble / a.size
    a.indices.flatMap { i =>
      a(i) +: b.slice(math.round(i * per).toInt, math.round((i + 1) * per).toInt)
    }
  }
}
