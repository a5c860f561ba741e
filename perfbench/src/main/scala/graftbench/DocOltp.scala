package graftbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

import graft.Engine
import graft.json.Shred

/** doc_oltp: 150k nested orders preloaded with `Engine.save`, then one
  * closed-loop client issuing getJson / upsert / delete (2 : 1 : 1),
  * every answer checked against [[OltpModel]]. Dominated by per-verb
  * fixed cost and write amplification: a lookup is a plan and several
  * jobs, a 10-doc upsert rewrites the whole root table. */
object DocOltp {
  val Docs = 150000L
  val Table = "orders"
  val Classes = Seq("lookup", "upsert", "delete")
  /** Repetitions of the shred measurement in a traced run. */
  val ShredReps = 3
  /** Untimed ops before timing starts (a fresh JVM is still compiling
    * the lookup and rewrite paths for the first few). */
  val WarmupOps = 8

  def docs(ctx: Ctx): DataFrame = {
    val spark = ctx.spark
    import spark.implicits._
    val seed = ctx.seed
    spark.range(1, Docs + 1).as[Long].map(k => Corpus.order(seed, k)).toDF()
  }

  def run(ctx: Ctx): Seq[(String, Any)] = {
    val spark = ctx.spark
    // set-up: generate and save the corpus into a fresh warehouse
    val whName = "oltp"
    val preload = Main.seconds(new Engine(spark, ctx.warehouse(whName))
      .save(docs(ctx), Table))._2
    // one warehouse, reached through the plain local filesystem or, for
    // traced ops, through the counting one
    val engines = Seq(false, true).map(c =>
      c -> new Engine(spark, ctx.warehouse(whName, counted = c))).toMap
    val rootSchema = engines(false).table(Table).schema
    val model = new OltpModel(ctx.seed, Docs)

    def rows(docs: Seq[(Long, Int)]): (DataFrame, Long) = {
      val rr = docs.map { case (k, v) => Corpus.rootRow(model.doc(k, v)) }
      val df = spark.createDataFrame(
        rr.map(r => Row.fromSeq(rootSchema.fieldNames.toSeq.map(r))).asJava,
        rootSchema)
      (df, rr.map(r => Json.value(r).length.toLong).sum)
    }
    def keyFrame(keys: Seq[Long]): DataFrame = spark.createDataFrame(
      keys.map(Row(_)).asJava, StructType(Seq(StructField("rowNum", LongType))))

    val userBytes = collection.mutable.ArrayBuffer.empty[(OpRecord, Long)]
    val docsOut = collection.mutable.ArrayBuffer.empty[(OpRecord, Int)]
    def exec(op: OltpOp, record: Boolean): Unit = op match {
      case Lookup(k) =>
        ctx.timed("lookup", record)(traced =>
          ctx.tracer.call("Engine.getJson")(engines(traced).getJson(Table, k)))(
          got => model.check(k, got))
          .foreach { case (got, rec) => docsOut += ((rec, got.size)) }
      case Upsert(ups, ins) =>
        val (df, bytes) = rows(ups ++ ins.map(_ -> 0))
        ctx.timed("upsert", record)(traced =>
          ctx.tracer.call("Engine.upsert")(engines(traced).upsert(Table, df)))(
          _ => true)
          .foreach { case (_, rec) => userBytes += ((rec, bytes)) }
      case Delete(ks) =>
        val df = keyFrame(ks)
        ctx.timed("delete", record)(traced =>
          ctx.tracer.call("Engine.delete")(engines(traced).delete(Table, df)))(
          _ => true)
    }

    // warm-up: untimed (still checked) until each verb has run and
    // WarmupOps ops have passed
    val seen = collection.mutable.Set.empty[String]
    var warm = 0
    while (seen.size < 3 || warm < WarmupOps) {
      warm += 1
      val op = model.next()
      seen += op.getClass.getSimpleName
      exec(op, record = false)
    }
    ctx.markHeap()
    // whole blocks of four ops, so every run times the exact 2:1:1 mix;
    // the lookups carry the tail
    val start = System.nanoTime()
    while ((System.nanoTime() - start) / 1e9 < ctx.seconds ||
        !ctx.enough(Classes, Seq("lookup")) || ctx.ops.size % 4 != 0)
      exec(model.next(), record = true)

    val layers: Seq[(String, Any)] = if (!ctx.tracer.enabled) Nil else {
      val ops = ctx.ops.toSeq
      def cls(c: String) = ops.filter(_.cls == c)
      val fields = Seq("jobs", "plan_ms", "exec_ms", "driver_ms", "fs_ops")
      val tracedLookups = docsOut.filter(_._1.stats.isDefined)
      val tracedUps = userBytes.filter(_._1.stats.isDefined)
      val tracedDels = cls("delete").filter(_.stats.isDefined)
      def ratio(num: Double, den: Double) = if (den > 0) num / den else 0.0
      val wh = ctx.localPath(whName)
      val live = Main.du(wh.resolve(Table)) + Main.du(wh.resolve("items"))
      // the shred alone, over documents generated and cached beforehand:
      // normalize + a no-op write of every output table
      val input = docs(ctx).persist(StorageLevel.MEMORY_ONLY)
      input.count()
      val shredMs = Main.median(Seq.fill(ShredReps)(Main.seconds {
        val (tables, _) = Shred.normalizeWithRelations(input, Table)
        tables.values.foreach(_.write.format("noop").mode("overwrite").save())
      }._2 * 1000))
      val shredRows = Shred.normalizeWithRelations(input, Table)._1.values
        .map(_.count()).sum
      input.unpersist(blocking = true)
      Seq("lookup", "upsert", "delete").flatMap(v =>
        Main.verbLayers(s"engine.$v", cls(v), fields)) ++ Seq(
        "engine.lookup.rows_read_per_doc" -> ratio(
          tracedLookups.map(_._1.stats.get.inputRecords.toDouble).sum,
          tracedLookups.map(_._2.toDouble).sum),
        "engine.upsert.bytes_written_per_user_byte" -> ratio(
          tracedUps.map(_._1.stats.get.bytesWritten.toDouble).sum,
          tracedUps.map(_._2.toDouble).sum),
        "engine.delete.bytes_written_per_key" -> ratio(
          tracedDels.map(_.stats.get.bytesWritten.toDouble).sum,
          tracedDels.size * OltpModel.DocsPerWrite.toDouble),
        "engine.space_amp" -> ratio(Main.du(wh).toDouble, live.toDouble),
        "json.shred_ms" -> shredMs,
        "json.shred_rows_out" -> shredRows.toDouble) ++
        Main.sparkLayers(ops, Runtime.getRuntime.availableProcessors())
    }
    Seq("preload_s" -> preload, "layers" -> layers.toMap,
      "classes" -> Classes, "primary" -> Seq("lookup"))
  }
}
