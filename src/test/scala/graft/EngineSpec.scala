package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** One SparkSession per suite; sf0.001 keeps the suite fast. */
trait SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.local(4)
  val sf = "/root/testdata/sf0.001"
}

/** Every driver-contract query runs and returns rows with the declared
  * deterministic shape. */
class QueriesSpec extends SparkSuite {
  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracleSql key has a queries entry") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracle without query: $missing")
  }

  for ((name, fn) <- SparkEntry.queries) {
    test(s"$name runs and is non-empty") {
      // every streaming key must leave a StreamMeter record of its own
      val metered = name.startsWith("stream_")
      if (metered) graft.streaming.StreamMeter.stats.clear()
      val df = fn(spark, sf)
      assert(df.count() > 0, s"$name returned 0 rows")
      if (metered)
        assert(!graft.streaming.StreamMeter.stats.isEmpty,
          s"$name left no StreamMeter record")
    }
  }
}

class JsonEngineSpec extends SparkSuite {
  import graft.json.{Assemble, Shred}

  test("normalize shreds child objects to tables with numeric FK") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a", Seq((10L, 1.5), (11L, 2.5))),
      (2L, "b", Seq.empty[(Long, Double)]))
      .toDF("rowNum", "name", "raw")
      .withColumn("items", expr(
        "transform(raw, x -> named_struct('rowNum', x._1, 'v', x._2))"))
      .drop("raw")
      .withColumn("meta", struct(lit("x").as("k1"), lit(7).as("k2")))
    val tables = Shred.normalize(docs, "root")
    assert(tables.keySet == Set("root", "items"))
    val root = tables("root")
    // key-less struct flattened to parent$sub; array gone to child table
    assert(root.columns.toSet == Set("rowNum", "name", "meta$k1", "meta$k2"))
    val items = tables("items")
    // FK column named after the parent table (reference behavior)
    assert(items.columns.contains("root"))
    assert(items.count() == 2)
    assert(items.filter(col("root") === 1L).count() == 2)
  }

  test("normalize recurses through two nesting levels") {
    import spark.implicits._
    val docs = Seq((1L, 10L, 100L, "leaf")).toDF("r", "m", "l", "v")
      .select(col("r").as("rowNum"), struct(
        col("m").as("rowNum"),
        struct(col("l").as("rowNum"), col("v")).as("leaf")).as("mid"))
    val tables = graft.json.Shred.normalize(docs, "root")
    assert(tables.keySet == Set("root", "mid", "leaf"))
    // each level keeps a numeric FK to its child
    assert(tables("root").select("mid").head().getLong(0) == 10L)
    assert(tables("mid").select("leaf").head().getLong(0) == 100L)
    assert(tables("leaf").select("v").head().getString(0) == "leaf")
  }

  test("assemble nests child array deterministically ordered") {
    import spark.implicits._
    val parent = Seq((1L, "p")).toDF("id", "name")
    val child = Seq((1L, 2, "b"), (1L, 1, "a")).toDF("fk", "seq", "v")
    val nested = Assemble.nestArray(parent, "id", child, "fk", "items",
      orderCols = Seq("seq"))
    val arr = nested.select(expr("transform(items, x -> x.v)")).head().getSeq[String](0)
    assert(arr == Seq("a", "b"))
  }

  test("normalizeTyped splits heterogeneous arrays into per-type tables") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val docs = Seq(
      (1L, Seq(("pizza", """{"size": 12}"""), ("drink", """{"ml": 330}"""))),
      (2L, Seq(("pizza", """{"size": 16}"""), ("unknown", """{"x": 1}"""))))
      .toDF("rowNum", "raw")
      .withColumn("items", expr(
        "transform(raw, x -> named_struct('type', x._1, 'json', x._2))"))
    val tables = graft.json.Shred.normalizeTyped(docs, "items", "rowNum",
      "order", Map(
        "pizza" -> StructType(Seq(StructField("size", IntegerType))),
        "drink" -> StructType(Seq(StructField("ml", IntegerType)))))
    assert(tables("pizza").count() == 2)
    assert(tables("drink").count() == 1)
    assert(tables("pizza").columns.toSeq == Seq("order", "size"))
  }

  test("flatten tolerates malformed JSON (permissive nulls, no crash)") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val df = Seq("""{"k": 5}""", """not json at all""", """{"k": "x"}""")
      .toDF("j")
    val out = graft.json.Shred.flatten(df, "j",
      StructType(Seq(StructField("k", LongType))))
    assert(out.count() == 3)
    assert(out.filter(col("k").isNull).count() == 2)
  }

  test("type inference matches reference getType rules") {
    import spark.implicits._
    val rows = Seq(
      ("n", "123"), ("n2", "-7"), ("mytime", "2024-01-01T10:00:00"),
      ("s", "short"), ("s2", "x" * 200),
      // Gson getAsInt accepts non-integer numerics (12.5 → 12), so the
      // reference classifies decimals NUMBER; "1.2.3" is not numeric
      ("dec", "12.5"), ("negdec", "-0.25"), ("notnum", "1.2.3"))
      .toDF("name", "value")
      .select(Shred.inferType(col("name"), col("value")).as("t"))
      .as[String].collect().toSeq
    assert(rows == Seq("NUMBER", "NUMBER", "DATE", "MEDIUM_STRING", "TEXT",
      "NUMBER", "NUMBER", "MEDIUM_STRING"))
  }
}

/** The facade mirroring the reference's save/get API. */
class FacadeSpec extends SparkSuite {
  test("Engine save → getJson → sql roundtrip") {
    import spark.implicits._
    val wh = java.nio.file.Files.createTempDirectory("graft_eng_t").toString
    val eng = new Engine(spark, wh)
    val docs = Seq((7L, "alpha", Seq((70L, 1.0), (71L, 2.0))))
      .toDF("rowNum", "name", "raw")
      .withColumn("items", expr(
        "transform(raw, x -> named_struct('rowNum', x._1, 'v', x._2))"))
      .drop("raw")
    val written = eng.save(docs, "thing")
    assert(written.toSet == Set("thing", "items"))
    val json = eng.getJson("thing", 7L).get
    assert(json.contains("\"name\":\"alpha\""))
    assert(json.contains("\"items\":["))
    assert(eng.getJson("thing", 999L).isEmpty)
    val n = eng.sql("SELECT count(*) AS n FROM items WHERE thing = 7")
      .head().getLong(0)
    assert(n == 2L)
  }

  test("Engine getJson re-nests recursively through object and array levels") {
    import spark.implicits._
    val wh = java.nio.file.Files.createTempDirectory("graft_eng_d").toString
    val eng = new Engine(spark, wh)
    // root ⊃ child object "mid" ⊃ child array "leaves"
    val docs = Seq((1L, 10L, Seq((100L, "x"), (101L, "y"))))
      .toDF("rowNum", "midKey", "raw")
      .withColumn("mid", struct(col("midKey").as("rowNum"),
        expr("transform(raw, t -> named_struct('rowNum', t._1, 'v', t._2))")
          .as("leaves")))
      .drop("midKey", "raw")
    val written = eng.save(docs, "root")
    assert(written.toSet == Set("root", "mid", "leaves"))
    val json = eng.getJson("root", 1L).get
    // the mid object must be a nested struct containing its leaf array
    assert(json.contains("\"mid\":{"), json)
    assert(json.contains("\"leaves\":["), json)
    assert(json.contains("\"v\":\"x\"") && json.contains("\"v\":\"y\""), json)
  }

  test("Engine upsert replaces and appends by key") {
    import spark.implicits._
    val wh = java.nio.file.Files.createTempDirectory("graft_eng_u").toString
    val eng = new Engine(spark, wh)
    val docs = Seq((1L, "a"), (2L, "b")).toDF("rowNum", "name")
    eng.save(docs, "kv")
    eng.upsert("kv", Seq((2L, "B"), (3L, "C")).toDF("rowNum", "name"))
    val got = eng.table("kv").orderBy("rowNum")
      .as[(Long, String)].collect().toSeq
    assert(got == Seq((1L, "a"), (2L, "B"), (3L, "C")))
  }

  test("flat save (no child relations) is still visible to sql()") {
    import spark.implicits._
    val wh = java.nio.file.Files.createTempDirectory("graft_eng_f").toString
    val eng = new Engine(spark, wh)
    eng.save(Seq((1L, "x"), (2L, "y")).toDF("rowNum", "name"), "flat")
    val n = eng.sql("SELECT count(*) AS n FROM flat").head().getLong(0)
    assert(n == 2L)
  }

  test("upsert survives stale __staged/__old leftovers from a crash") {
    import spark.implicits._
    val wh = java.nio.file.Files.createTempDirectory("graft_eng_c").toString
    val eng = new Engine(spark, wh)
    eng.save(Seq((1L, "a")).toDF("rowNum", "name"), "kv")
    // simulate an interrupted previous upsert
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$wh/kv__staged"))
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$wh/kv__old"))
    eng.upsert("kv", Seq((2L, "b")).toDF("rowNum", "name"))
    val got = eng.table("kv").orderBy("rowNum")
      .as[(Long, String)].collect().toSeq
    assert(got == Seq((1L, "a"), (2L, "b")))
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$wh/kv__old")))
  }

  test("upsert recovers when a crash left __old as the only copy") {
    import spark.implicits._
    val wh = java.nio.file.Files.createTempDirectory("graft_eng_r").toString
    val eng = new Engine(spark, wh)
    eng.save(Seq((1L, "a")).toDF("rowNum", "name"), "kv")
    // simulate a crash between rename(live→old) and rename(staged→live):
    // live is gone, __old holds the only copy, __staged is half-written
    java.nio.file.Files.move(
      java.nio.file.Paths.get(s"$wh/kv"),
      java.nio.file.Paths.get(s"$wh/kv__old"))
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$wh/kv__staged"))
    eng.upsert("kv", Seq((2L, "b")).toDF("rowNum", "name"))
    val got = eng.table("kv").orderBy("rowNum")
      .as[(Long, String)].collect().toSeq
    assert(got == Seq((1L, "a"), (2L, "b")))
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$wh/kv__old")))
  }

  test("delete drops keyed rows and survives a repeat call") {
    import spark.implicits._
    val wh = java.nio.file.Files.createTempDirectory("graft_eng_d").toString
    val eng = new Engine(spark, wh)
    eng.save(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("rowNum", "name"), "kv")
    eng.delete("kv", Seq(2L).toDF("rowNum"))
    assert(eng.table("kv").orderBy("rowNum").as[(Long, String)]
      .collect().toSeq == Seq((1L, "a"), (3L, "c")))
    // deleting an absent key is a no-op rewrite, not an error
    eng.delete("kv", Seq(99L).toDF("rowNum"))
    assert(eng.table("kv").count() == 2L)
  }

  test("upsert on a nonexistent table fails fast with a clear error") {
    import spark.implicits._
    val wh = java.nio.file.Files.createTempDirectory("graft_eng_x").toString
    val eng = new Engine(spark, wh)
    val e = intercept[IllegalArgumentException] {
      eng.upsert("nope", Seq((1L, "a")).toDF("rowNum", "name"))
    }
    assert(e.getMessage.contains("does not exist"))
  }

  test("double-crash leftovers: stale __staged AND __old beside a live " +
      "table never shadow it") {
    import spark.implicits._
    val wh = java.nio.file.Files.createTempDirectory("graft_eng_dc").toString
    val eng = new Engine(spark, wh)
    eng.save(Seq((1L, "live"), (2L, "live")).toDF("rowNum", "name"), "kv")
    // a STALE __old holding real (outdated) parquet — e.g. a crash after
    // moveaside in run A, then run B restored+succeeded, then run C
    // crashed after moveaside again before this process saw the dir —
    // plus a half-written __staged. Live is authoritative.
    eng.save(Seq((1L, "stale")).toDF("rowNum", "name"), "tmp_old")
    java.nio.file.Files.move(
      java.nio.file.Paths.get(s"$wh/tmp_old"),
      java.nio.file.Paths.get(s"$wh/kv__old"))
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$wh/kv__staged"))
    eng.upsert("kv", Seq((3L, "new")).toDF("rowNum", "name"))
    val got = eng.table("kv").orderBy("rowNum")
      .as[(Long, String)].collect().toSeq
    assert(got == Seq((1L, "live"), (2L, "live"), (3L, "new")),
      "stale __old leaked into the rewrite")
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$wh/kv__old")))
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$wh/kv__staged")))
  }

  test("a reader inside the swap window sees the previous version, " +
      "never a vanished table") {
    import spark.implicits._
    val wh = java.nio.file.Files.createTempDirectory("graft_eng_rw").toString
    val eng = new Engine(spark, wh)
    eng.save(Seq((1L, "a"), (2L, "b")).toDF("rowNum", "name"), "kv")
    // freeze the table mid-swap: live renamed away, staged not published
    java.nio.file.Files.move(
      java.nio.file.Paths.get(s"$wh/kv"),
      java.nio.file.Paths.get(s"$wh/kv__old"))
    val midSwap = eng.table("kv").orderBy("rowNum")
      .as[(Long, String)].collect().toSeq
    assert(midSwap == Seq((1L, "a"), (2L, "b")),
      "mid-swap reader did not fall back to __old")
    // swap completes; a fresh read resolves to the (restored) live dir
    java.nio.file.Files.move(
      java.nio.file.Paths.get(s"$wh/kv__old"),
      java.nio.file.Paths.get(s"$wh/kv"))
    assert(eng.table("kv").count() == 2L)
  }

  test("Engine works against an explicit file: URI warehouse") {
    import spark.implicits._
    val wh = "file:" +
      java.nio.file.Files.createTempDirectory("graft_eng_uri").toString
    val eng = new Engine(spark, wh)
    eng.save(Seq((1L, "a")).toDF("rowNum", "name"), "kv")
    eng.upsert("kv", Seq((2L, "b")).toDF("rowNum", "name"))
    assert(eng.table("kv").count() == 2L)
    assert(eng.sql("SELECT count(*) AS n FROM kv").head().getLong(0) == 2L)
  }

  test("snapshot diff classes partition both snapshots and deltas balance") {
    val rows = graft.ops.JsonQueries.engineSnapshotDiff(spark, sf)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2)))
      .toMap
    val nCust = graft.sources.Tables.customer(spark, sf).count()
    // every v0 row is deleted, changed, or unchanged; added rows extra
    assert(rows("deleted")._1 + rows("changed")._1 +
      rows("unchanged")._1 == nCust)
    assert(rows("added")._1 > 0 && rows("deleted")._1 > 0)
    assert(rows("unchanged")._2 == 0.0)
    // every changed row moved by exactly +100.00
    assert(math.abs(rows("changed")._2 -
      rows("changed")._1 * 100.0) < 0.01)
    assert(rows("deleted")._2 < 0 && rows("added")._2 > 0)
  }

  test("vacuum reclaims all snapshots and leaves the live table intact") {
    import spark.implicits._
    val wh = java.nio.file.Files.createTempDirectory("graft_eng_vac").toString
    val eng = new Engine(spark, wh)
    eng.save(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("rowNum", "name"), "kv")
    eng.upsert("kv", Seq((2L, "B"), (4L, "d")).toDF("rowNum", "name"))
    eng.delete("kv", Seq(1L).toDF("rowNum"))
    assert(eng.versions("kv") == Seq(0, 1))
    val before = eng.table("kv").orderBy("rowNum")
      .as[(Long, String)].collect().toSeq
    assert(eng.vacuum("kv") == 2, "both retained snapshot dirs reclaimed")
    assert(eng.versions("kv").isEmpty, "no versions survive vacuum")
    assert(eng.table("kv").orderBy("rowNum")
      .as[(Long, String)].collect().toSeq == before,
      "live table must survive vacuum bit-for-bit")
    assert(eng.vacuum("kv") == 0, "second vacuum is a no-op")
    // contract query pins the same invariants over real tables
    val row = graft.ops.JsonQueries.engineVacuum(spark, sf).head()
    assert(row.getLong(2) == 2L && row.getLong(3) == 0L)
  }

  test("staged swaps retain snapshots: versions list, tableAt reads, " +
      "retention prunes") {
    import spark.implicits._
    val wh = java.nio.file.Files.createTempDirectory("graft_eng_tt").toString
    val eng = new Engine(spark, wh, retainVersions = 2)
    eng.save(Seq((1L, "a")).toDF("rowNum", "name"), "kv")
    assert(eng.versions("kv").isEmpty, "no history before any mutation")
    eng.upsert("kv", Seq((2L, "b")).toDF("rowNum", "name"))
    assert(eng.versions("kv") == Seq(0))
    assert(eng.tableAt("kv", 0).as[(Long, String)].collect().toSeq ==
      Seq((1L, "a")), "v0 must be the pre-upsert contents")
    eng.delete("kv", Seq(1L).toDF("rowNum"))
    assert(eng.versions("kv") == Seq(0, 1))
    assert(eng.tableAt("kv", 1).orderBy("rowNum")
      .as[(Long, String)].collect().toSeq == Seq((1L, "a"), (2L, "b")),
      "v1 must be the pre-delete contents")
    // third mutation exceeds retainVersions=2 → v0 pruned, v1/v2 kept
    eng.upsert("kv", Seq((3L, "c")).toDF("rowNum", "name"))
    assert(eng.versions("kv") == Seq(1, 2), "oldest version pruned")
    assert(eng.table("kv").orderBy("rowNum").as[(Long, String)]
      .collect().toSeq == Seq((2L, "b"), (3L, "c")))
  }

  test("upsert widens the stored schema when a batch brings new columns") {
    import spark.implicits._
    val wh = java.nio.file.Files.createTempDirectory("graft_eng_ev").toString
    val eng = new Engine(spark, wh)
    eng.save(Seq((1L, "a"), (2L, "b")).toDF("rowNum", "name"), "kv")
    // batch adds a column the table has never seen AND omits `name`
    eng.upsert("kv", Seq((2L, 7.5), (3L, 1.25)).toDF("rowNum", "score"))
    val rows = eng.table("kv").orderBy("rowNum").collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
    val byKey = rows.map(r => r.getLong(0) ->
      (Option(r.getAs[String]("name")),
        Option(r.getAs[java.lang.Double]("score")).map(_.toDouble))).toMap
    assert(byKey(1L) == (Some("a"), None), "untouched row keeps name")
    assert(byKey(2L) == (None, Some(7.5)),
      "updated row is replaced wholesale (reference UPDATE semantics)")
    assert(byKey(3L) == (None, Some(1.25)), "insert carries new column")
  }

  test("vacuum drops snapshots and leftovers but never the last copy") {
    import spark.implicits._
    val wh = java.nio.file.Files.createTempDirectory("graft_eng_vac").toString
    val eng = new Engine(spark, wh)
    eng.save(Seq((1L, "a")).toDF("rowNum", "name"), "kv")
    eng.upsert("kv", Seq((2L, "b")).toDF("rowNum", "name"))
    eng.delete("kv", Seq(1L).toDF("rowNum"))
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$wh/kv__staged"))
    assert(eng.versions("kv") == Seq(0, 1))
    val removed = eng.vacuum("kv")
    assert(removed == 3, s"2 versions + 1 staged leftover, got $removed")
    assert(eng.versions("kv").isEmpty)
    assert(eng.table("kv").count() == 1L, "live table untouched")
    // mid-swap crash state: __old is the ONLY copy → vacuum must keep it
    java.nio.file.Files.move(
      java.nio.file.Paths.get(s"$wh/kv"),
      java.nio.file.Paths.get(s"$wh/kv__old"))
    assert(eng.vacuum("kv") == 0, "sole-copy __old must survive vacuum")
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$wh/kv__old")))
    // and the next mutation still recovers the table from it
    eng.upsert("kv", Seq((3L, "c")).toDF("rowNum", "name"))
    assert(eng.table("kv").orderBy("rowNum").as[(Long, String)]
      .collect().toSeq == Seq((2L, "b"), (3L, "c")))
  }

  test("crash leftover __old beside live is archived as history, " +
      "not discarded") {
    import spark.implicits._
    val wh = java.nio.file.Files.createTempDirectory("graft_eng_ar").toString
    val eng = new Engine(spark, wh)
    eng.save(Seq((1L, "live")).toDF("rowNum", "name"), "kv")
    eng.save(Seq((9L, "pre-crash")).toDF("rowNum", "name"), "tmp_old")
    java.nio.file.Files.move(
      java.nio.file.Paths.get(s"$wh/tmp_old"),
      java.nio.file.Paths.get(s"$wh/kv__old"))
    eng.upsert("kv", Seq((2L, "b")).toDF("rowNum", "name"))
    // v0 = the archived crash leftover, v1 = pre-upsert live
    assert(eng.versions("kv") == Seq(0, 1))
    assert(eng.tableAt("kv", 0).as[(Long, String)].collect().toSeq ==
      Seq((9L, "pre-crash")))
    assert(eng.tableAt("kv", 1).as[(Long, String)].collect().toSeq ==
      Seq((1L, "live")))
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$wh/kv__old")))
  }
}

class DedupSpec extends SparkSuite {
  import graft.dedup.{MinHashLSH, SimHash}

  test("minhash identical docs estimate 1.0") {
    import spark.implicits._
    val txt = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val docs = Seq((1L, txt), (2L, txt),
      (3L, "completely different words nothing shared here at all okay"))
      .toDF("doc_id", "text")
    val pairs = MinHashLSH
      .candidatePairs(MinHashLSH.signatures(docs, "doc_id", "text"))
      .collect()
    assert(pairs.length == 1)
    assert(pairs.head.getLong(0) == 1L && pairs.head.getLong(1) == 2L)
    assert(pairs.head.getDouble(2) == 1.0)
  }

  test("simhash identical docs have hamming 0, disjoint docs large") {
    import spark.implicits._
    val docs = Seq(
      (1L, "one two three four five six seven eight nine ten"),
      (2L, "one two three four five six seven eight nine ten"))
      .toDF("doc_id", "text")
    val pairs = SimHash.candidatePairs(
      SimHash.signatures(docs, "doc_id", "text")).collect()
    assert(pairs.length == 1 && pairs.head.getLong(2) == 0L)
  }

  test("simhash token hash matches DuckDB md5_number_lower") {
    // md5('abc') = 900150983cd24fb0 d6963f7d28e17f72; lower 8 bytes
    // little-endian = 8250560606382298838 — DuckDB's md5_number_lower,
    // the contract that makes the SQL signature oracle possible
    val h = graft.functions.Kernels.md5Lower64(
      org.apache.spark.unsafe.types.UTF8String.fromString("abc"))
    assert(h == 8250560606382298838L)
  }

  test("simhash pigeonhole: hamming-5 pair needs 8 chunks, guard enforced") {
    import spark.implicits._
    // adversarial pair: 5 flipped bits spread so EVERY 16-bit chunk
    // differs (bits 0, 16, 32, 48, 49) — 4 chunks would miss it, and
    // the guard refuses maxHamming ≥ nChunks instead of silently
    // losing recall
    val a = 0L
    val b = (1L << 0) | (1L << 16) | (1L << 32) | (1L << 48) | (1L << 49)
    val sigs = Seq((1L, a), (2L, b)).toDF("id", "simhash")
    intercept[IllegalArgumentException] {
      SimHash.candidatePairs(sigs, maxHamming = 5, nChunks = 4)
    }
    // 8×8-bit chunks guarantee completeness to hamming 7: found
    val found = SimHash.candidatePairs(sigs, maxHamming = 5, nChunks = 8)
      .collect()
    assert(found.length == 1 && found.head.getLong(2) == 5L)
  }

  test("over-full LSH buckets fall back to star pairs, cluster intact") {
    import spark.implicits._
    // 120 near-identical docs (> maxBucket=100 in every shared bucket):
    // dropping the bucket would silently split the cluster; the star
    // fallback must keep all 120 connected through the minimum id
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val docs = (1L to 120L).map(i => (i, s"$base variant$i"))
      .toDF("doc_id", "text")
    val pairs = MinHashLSH.verifiedPairs(docs, "doc_id", "text", 0.5)
    val keepers = graft.dedup.Components.keepers(pairs)
      .as[(Long, Long)].collect()
    assert(keepers.length == 120, s"all docs clustered, got ${keepers.length}")
    assert(keepers.forall(_._2 == 1L), "single cluster anchored at min id")
  }

  test("components: min-label propagation finds cluster keepers") {
    import spark.implicits._
    // clusters {1,2,3,9}, {5,6}; chain 1-2, 2-3, 3-9 needs >1 round
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 9L), (5L, 6L))
      .toDF("id_a", "id_b")
    val got = graft.dedup.Components.keepers(pairs)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 9L -> 1L,
      5L -> 5L, 6L -> 5L))
  }

  test("components: 50-node chain collapses to one keeper (log rounds)") {
    import spark.implicits._
    // a duplicate chain A~B~C~… of diameter 50 — plain one-hop
    // propagation needs 50 rounds; pointer jumping must finish well
    // inside the 25-round budget (2^25 ≫ 50) instead of silently
    // truncating the cluster
    val pairs = (1L until 50L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val got = graft.dedup.Components.keepers(pairs)
      .as[(Long, Long)].collect()
    assert(got.length == 50)
    assert(got.forall(_._2 == 1L), "every chain member resolves to keeper 1")
  }

  test("Dedup.clean keeps min-id of exact and near duplicate clusters") {
    import spark.implicits._
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val docs = Seq(
      (1L, base, "s"),
      (2L, base + "!", "s"),             // canonical-equal → exact dup of 1
      (3L, base + " lambda", "s"),       // near dup of 1
      (4L, "totally different content with no shared phrases here", "s"))
      .toDF("doc_id", "text", "source")
    val kept = graft.dedup.Dedup.clean(spark, docs)
      .select("doc_id").as[Long].collect().toSet
    assert(kept.contains(1L) && kept.contains(4L))
    assert(!kept.contains(2L), "canonical dup must drop")
    assert(!kept.contains(3L), "near dup must drop")
  }

  test("Dedup.clean at 10x replication keeps exactly one copy per doc") {
    // replicate the corpus 10x with shifted ids: every doc has 9 exact
    // clones. The exact pass must collapse them all (and in doing so
    // defuse what would otherwise be 10x-heavier LSH buckets).
    val base = graft.sources.Tables.documents(spark, sf)
      .select("doc_id", "text")
    val n = base.count()
    val replicated = (0 until 10).map { i =>
      base.withColumn("doc_id", col("doc_id") + lit(i * 1000000L))
    }.reduce(_ unionByName _)
    val cleaned = graft.dedup.Dedup.clean(spark, replicated, minSim = 1.1)
    // minSim > 1 disables the near-dup pass: isolate the exact pass
    assert(cleaned.count() == n)
    assert(cleaned.agg(max(col("doc_id"))).head().getLong(0) < 1000000L,
      "keeper must be the lowest-id copy")
  }

  test("rollingHash is deterministic and canonicalization-invariant") {
    import spark.implicits._
    val df = Seq(("Hello,  World!", "hello world"), ("a b", "a c"))
      .toDF("x", "y")
    val r = df.select(
      graft.text.TextOps.rollingHash(col("x")).as("hx"),
      graft.text.TextOps.rollingHash(col("y")).as("hy")).collect()
    assert(r(0).getLong(0) == r(0).getLong(1)) // same canonical form
    assert(r(1).getLong(0) != r(1).getLong(1))
  }

  test("partitioned write prunes partitions on read") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_part").toString
    graft.sources.Tables.orders(spark, sf)
      .write.mode("overwrite").partitionBy("o_orderstatus").parquet(dir)
    val pruned = spark.read.parquet(dir).filter(col("o_orderstatus") === "F")
    val expl = pruned.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(expl.contains("PartitionFilters"), "no partition filter in plan")
    assert(pruned.count() ==
      graft.sources.Tables.orders(spark, sf)
        .filter(col("o_orderstatus") === "F").count())
  }

  test("AsOf.join picks latest right row at-or-before left time") {
    import spark.implicits._
    val l = Seq((1L, 5L, "e1"), (1L, 10L, "e2"), (2L, 3L, "e3"))
      .toDF("k", "t", "tag")
    val r = Seq((1L, 4L, 40.0), (1L, 10L, 100.0), (2L, 9L, 90.0))
      .toDF("k", "rt", "v")
    val got = graft.ops.AsOf.join(l, r, Seq("k"), "t", "rt", "v")
      .select("tag", "v").collect()
      .map(x => x.getString(0) -> Option(x.get(1))).toMap
    assert(got("e1") == Some(40.0))   // 4 <= 5
    assert(got("e2") == Some(100.0))  // inclusive at equal time
    assert(got("e3") == None)         // no right row at or before 3
  }

  test("upsert replaces keys and appends new ones") {
    import spark.implicits._
    val base = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    val upd = Seq((2L, "B"), (3L, "C")).toDF("k", "v")
    val m = graft.ops.Upsert(base, upd, Seq("k"))
      .orderBy("k").as[(Long, String)].collect().toSeq
    assert(m == Seq((1L, "a"), (2L, "B"), (3L, "C")))
  }

  test("embed-cosine near-dup pairs: exact precision, banded recall") {
    val got = graft.ops.PipelineQueries.dedupEmbedCosine(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // every reported pair is a true >= 0.42 pair (precision is exact)
    val vecs = graft.sources.Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
      }
      math.floor(d / (math.sqrt(na) * math.sqrt(nb)) * 1e4 + 0.5) / 1e4
    }
    got.foreach { case (a, b, c) =>
      assert(a < b, "pairs must be ordered a < b")
      val truth = cos(vecs(a), vecs(b))
      assert(truth >= 0.42 && math.abs(truth - c) < 1e-9,
        s"reported ($a,$b,$c) but exact cosine is $truth")
    }
    assert(got.map(p => (p._1, p._2)).distinct.length == got.length,
      "multi-band candidates must be deduped")
    // recall: the banded filter is a SUBSET of the true pair set, and
    // finds at least one of them on this corpus
    val ids = vecs.keys.toSeq.sorted
    val truePairs = for {
      i <- ids.indices; j <- (i + 1) until ids.length
      if cos(vecs(ids(i)), vecs(ids(j))) >= 0.42
    } yield (ids(i), ids(j))
    assert(got.nonEmpty, "no near-pairs found at all")
    assert(got.map(p => (p._1, p._2)).toSet.subsetOf(truePairs.toSet),
      "a reported pair is not in the exact truth set")
  }
}

class AnnSpec extends SparkSuite {
  import graft.sim.Ann

  test("cosine of identical vectors is 1, orthogonal is 0") {
    import spark.implicits._
    val df = Seq((Seq(1.0, 0.0), Seq(1.0, 0.0), Seq(0.0, 2.0)))
      .toDF("a", "b", "c")
    val r = df.select(
      Ann.cosine(col("a"), col("b")).as("same"),
      Ann.cosine(col("a"), col("c")).as("orth")).head()
    assert(math.abs(r.getDouble(0) - 1.0) < 1e-12)
    assert(math.abs(r.getDouble(1)) < 1e-12)
  }

  test("brute top-k self-excludes and ranks by score") {
    val emb = graft.sources.Tables.embeddings(spark, sf)
    val top = Ann.bruteTopK(emb, emb.filter(col("vec_id") < 2), 3).collect()
    assert(top.length == 6)
    assert(!top.exists(r => r.getLong(0) == r.getLong(2)))
    val perQ = top.groupBy(_.getLong(0))
    perQ.values.foreach { rows =>
      val scores = rows.sortBy(_.getInt(1)).map(_.getDouble(3))
      assert(scores.sameElements(scores.sortBy(-(_: Double))))
    }
  }
}

/** The optimizer rule must swap the window-top-k shape for the bounded
  * heap aggregate — and leave any non-matching shape untouched. */
class RewriteWindowTopKSpec extends SparkSuite {
  import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window => LWindow}
  import org.apache.spark.sql.expressions.Window

  test("matching shape is rewritten to TopKByScore aggregate") {
    val df = graft.ops.Analytics.qWindowTopN(spark, sf)
    val optimized = df.queryExecution.optimizedPlan
    assert(optimized.collect { case w: LWindow => w }.isEmpty,
      "window should be rewritten away")
    assert(optimized.collect { case a: Aggregate => a }.nonEmpty)
  }

  test("nullable inputs without isNotNull filters keep the window form") {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    val df = graft.sources.Tables.orders(spark, sf)
      // parquet attributes are nullable and nothing proves otherwise →
      // the rewrite would silently drop NULL-score rows; must not fire
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
    val optimized = df.queryExecution.optimizedPlan
    assert(optimized.collect { case w: LWindow => w }.nonEmpty,
      "nullable inputs must keep the window")
  }

  test("extra passthrough column keeps the window form") {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    val df = graft.sources.Tables.orders(spark, sf)
      // o_orderstatus is outside part ∪ {score,id} → no rewrite
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
        col("o_orderstatus"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
    val optimized = df.queryExecution.optimizedPlan
    assert(optimized.collect { case w: LWindow => w }.nonEmpty,
      "non-matching shape must keep the window")
  }

  test("rewritten plan matches the window semantics") {
    val viaRule = graft.ops.Analytics.qWindowTopN(spark, sf).collect().toSeq
    val direct = graft.ops.Analytics.qTopKPerKey(spark, sf)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
        col("rn"))
      .collect().toSeq
    assert(viaRule.map(_.toSeq) == direct.map(_.toSeq))
  }

  test("q_sample_reservoir plans through the bounded-heap rewrite") {
    val df = graft.ops.PipelineQueries.sampleReservoir(spark, sf)
    val optimized = df.queryExecution.optimizedPlan
    assert(optimized.collect { case w: LWindow => w }.isEmpty,
      "reservoir sample should not shuffle full groups through a window")
  }
}

class ExtensionsSpec extends SparkSuite {
  test("custom expressions are SQL-callable via GraftExtensions") {
    val r = spark.sql(
      """SELECT graft_simhash64(graft_shingles('a b c d', 1)) AS h,
        |  size(graft_shingles('a b c d', 2)) AS n,
        |  round(graft_cosine(array(1.0D, 0.0D), array(1.0D, 0.0D)), 4) AS c
        |""".stripMargin).head()
    assert(r.getLong(0) != 0L)
    assert(r.getInt(1) == 3)
    assert(r.getDouble(2) == 1.0)
  }

  test("sql shingles equals dataframe shingles") {
    import spark.implicits._
    val df = Seq("the quick brown fox jumps").toDF("t")
    val a = df.select(graft.text.TextOps.shingles(col("t"), 3)).head().getSeq[String](0)
    val b = df.selectExpr("graft_shingles(t, 3)").head().getSeq[String](0)
    assert(a == b)
  }
}

class IvfSpec extends SparkSuite {
  test("NearestCells kernel equals the HOF squared-L2 formulation") {
    val emb = graft.sources.Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    val model = graft.sim.Ivf.fit(emb.withColumnRenamed("e", "embedding"), 8)
    val viaKernel = emb.select(col("vec_id"), element_at(
      graft.functions.exprs.nearestCells(col("e"), model.centroids, 1), 1)
      .as("cell"))
    val hof = model.centroids.zipWithIndex.map { case (c, i) =>
      val arr = array(c.map(lit): _*)
      struct(expr(s"aggregate(zip_with(e, array(${c.mkString(",")})," +
        " (x, y) -> (x - y) * (x - y)), 0D, (acc, v) -> acc + v)").as("d"),
        lit(i).as("c"))
    }
    val viaHof = emb.select(col("vec_id"),
      element_at(array_sort(array(hof: _*)), 1).getField("c").as("cell"))
    assert(viaKernel.exceptAll(viaHof).isEmpty &&
      viaHof.exceptAll(viaKernel).isEmpty)
  }

  test("LshCodeExpr kernel equals the HOF dot-sign formulation") {
    val pl = graft.sim.Ann.planes(8, 64)
    val emb = graft.sources.Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    val viaKernel = emb.select(col("vec_id"),
      graft.functions.exprs.lshCode(col("e"), pl).as("b"))
    val bits = pl.zipWithIndex.map { case (p, j) =>
      when(expr(s"aggregate(zip_with(e, array(${p.mkString(",")})," +
        " (x, y) -> x * y), 0D, (acc, v) -> acc + v)") > 0,
        shiftleft(lit(1L), j)).otherwise(lit(0L))
    }
    val viaHof = emb.select(col("vec_id"), bits.reduce(_ + _).as("b"))
    assert(viaKernel.exceptAll(viaHof).isEmpty &&
      viaHof.exceptAll(viaKernel).isEmpty)
  }

  test("fit is layout-independent and the model round-trips save/load") {
    val emb = graft.sources.Tables.embeddings(spark, sf)
    val a = graft.sim.Ivf.fit(emb, 8)
    // a relayout (different partition count AND order) must not move
    // the sample, hence not the centroids
    val b = graft.sim.Ivf.fit(emb.repartition(7), 8)
    val c = graft.sim.Ivf.fit(emb.coalesce(1), 8)
    assert(a.centroids.map(_.toSeq).toSeq == b.centroids.map(_.toSeq).toSeq,
      "centroids changed under repartition(7)")
    assert(a.centroids.map(_.toSeq).toSeq == c.centroids.map(_.toSeq).toSeq,
      "centroids changed under coalesce(1)")
    val store = java.nio.file.Files
      .createTempDirectory("graft_ivf").toString + "/model.txt"
    graft.sim.Ivf.save(spark, a, store)
    val back = graft.sim.Ivf.load(spark, store).get
    assert(a.centroids.map(_.toSeq).toSeq ==
      back.centroids.map(_.toSeq).toSeq, "save/load not bit-exact")
    assert(graft.sim.Ivf.load(spark, store + ".absent").isEmpty)
  }

  test("IVF top-k recalls most of brute-force top-k") {
    val emb = graft.sources.Tables.embeddings(spark, sf)
    val q = emb.filter(col("vec_id") < 5)
    val brute = graft.sim.Ann.bruteTopK(emb, q, 5)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val ivf = graft.sim.Ivf.topK(emb, q, 5)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(ivf.nonEmpty)
    // probing 2/16 cells: expect meaningful overlap, not exactness
    assert((brute & ivf).size >= brute.size / 4,
      s"recall too low: ${(brute & ivf).size}/${brute.size}")
  }
}

class IvfPqSpec extends SparkSuite {
  test("composite IVF-PQ: full result shape and recall against brute force") {
    val got = graft.ops.PipelineQueries.annIvfPqTopK(spark, sf).collect()
    val perQ = got.groupBy(_.getLong(0))
    assert(perQ.size == 10, "one result set per query")
    perQ.foreach { case (q, rows) =>
      assert(rows.map(_.getInt(1)).sorted.toSeq == (1 to 5),
        s"query $q: ranks must be exactly 1..5")
      val scores = rows.sortBy(_.getInt(1)).map(_.getDouble(3))
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b },
        s"query $q: scores must be non-increasing in rank")
    }
    // pruning+compression may drop true neighbors, but the composite
    // must still find most of the brute-force top-5
    val brute = graft.ops.PipelineQueries.annBruteTopK(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val ours = got.map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (brute & ours).size.toDouble / brute.size
    assert(recall >= 0.5, f"IVF-PQ recall@5 $recall%.2f below 0.5")
  }
}

class PqSpec extends SparkSuite {
  test("PQ fit is layout-independent and round-trips save/load") {
    val emb = graft.sources.Tables.embeddings(spark, sf)
    val a = graft.sim.Pq.fit(emb)
    val b = graft.sim.Pq.fit(emb.repartition(7))
    def flat(m: graft.sim.Pq.PqModel) =
      m.codebooks.map(_.map(_.toSeq).toSeq).toSeq
    assert(flat(a) == flat(b), "codebooks changed under repartition(7)")
    val store = java.nio.file.Files
      .createTempDirectory("graft_pq").toString + "/model.txt"
    graft.sim.Pq.save(spark, a, store)
    assert(flat(graft.sim.Pq.load(spark, store).get) == flat(a),
      "save/load not bit-exact")
    assert(graft.sim.Pq.load(spark, store + ".absent").isEmpty)
  }

  test("encoding is total and codes stay within the codebook") {
    val emb = graft.sources.Tables.embeddings(spark, sf)
    val model = graft.sim.Pq.fit(emb)
    val codes = graft.sim.Pq.encode(emb, model)
    assert(codes.count() == emb.count())
    val bad = (0 until model.m).map(j =>
      codes.filter(col(s"code$j") < 0 || col(s"code$j") >= 32).count()).sum
    assert(bad == 0, "code outside [0, k)")
  }

  test("ADC ranking recalls a meaningful share of brute-force top-k") {
    val emb = graft.sources.Tables.embeddings(spark, sf)
    val q = emb.filter(col("vec_id") < 5)
    val brute = graft.sim.Ann.bruteTopK(emb, q, 5)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val pq = graft.sim.Pq.topK(emb, q, 5, graft.sim.Pq.fit(emb))
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(pq.nonEmpty)
    // ADC shortlists 100 candidates, the exact re-rank fixes precision:
    // expect strong (not perfect) overlap with the exact top-k
    assert((brute & pq).size >= brute.size / 2,
      s"recall too low: ${(brute & pq).size}/${brute.size}")
  }
}

/** Bucketing is the 100 TB co-location strategy: both fact tables
  * bucketed on the join key join WITHOUT any shuffle exchange. */
class BucketingSpec extends SparkSuite {
  test("bucketed join plans with zero shuffle exchanges") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val ord = graft.sources.Tables.orders(spark, sf)
      .select("o_orderkey", "o_totalprice")
    val li = graft.sources.Tables.lineitem(spark, sf)
      .select("l_orderkey", "l_quantity")
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    // the in-memory catalog forgets tables across JVMs but the files
    // survive; clear the physical locations too
    val wh = new java.io.File(
      s"${System.getProperty("java.io.tmpdir")}/graft_warehouse")
    Seq("b_orders", "b_lineitem").foreach { t =>
      val dir = new java.io.File(wh, t)
      if (dir.exists())
        dir.listFiles().foreach(_.delete())
      dir.delete()
    }
    ord.write.format("parquet").bucketBy(8, "o_orderkey")
      .mode("overwrite").saveAsTable("b_orders")
    li.write.format("parquet").bucketBy(8, "l_orderkey")
      .mode("overwrite").saveAsTable("b_lineitem")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("b_lineitem")
        .join(spark.table("b_orders"),
          col("l_orderkey") === col("o_orderkey"))
      assert(joined.count() > 0)
      val plan = joined.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      val shuffles = plan.collect { case s: ShuffleExchangeExec => s }
      assert(shuffles.isEmpty,
        s"expected shuffle-free bucketed join, found ${shuffles.size} exchanges")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    }
  }
}

/** Partitioned layout: a filter on the partition column must prune
  * directories at planning time (PartitionFilters on the scan), the
  * 100 TB skip-don't-scan lever. */
class LayoutsSpec extends SparkSuite {
  test("partitioned write prunes to the filtered year's directory") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    // writes the partitioned copy and answers through it
    assert(graft.sources.Layouts.partitionedPrune(spark, sf).count() > 0)
    val read = spark.read
      .parquet(graft.sources.Layouts.partitionedPath(sf))
      .filter(col("o_year") === 1997)
    val scans = read.queryExecution.executedPlan.collect {
      case f: FileSourceScanExec => f
    }
    assert(scans.nonEmpty && scans.forall(_.partitionFilters.nonEmpty),
      "year filter must land in PartitionFilters")
    // pruned scan reads only the 1997 directory
    val files = scans.flatMap(_.relation.location.listFiles(
      scans.head.partitionFilters, Nil)).flatMap(_.files)
    assert(files.nonEmpty &&
      files.forall(_.getPath.toString.contains("o_year=1997")))
  }

  test("bucketed-join contract query matches a plain join") {
    val viaBuckets = graft.sources.Layouts.bucketedJoin(spark, sf)
      .collect().map(_.toSeq)
    val plain = graft.sources.Tables.orders(spark, sf)
      .join(graft.sources.Tables.customer(spark, sf),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice")), 2).as("total"))
      .orderBy(col("c_mktsegment"))
      .collect().map(_.toSeq)
    assert(viaBuckets.toSeq == plain.toSeq)
  }
}

class MultimodalSpec extends SparkSuite {
  import graft.mm.Multimodal

  test("resizeMeta preserves aspect ratio within the bounding box") {
    val m = Multimodal.MediaMeta(1L, 512, 128, 4)
    val r = Multimodal.resizeMeta(m, 256)
    assert(r.width == 256 && r.height == 64)
    // already small → untouched
    val small = Multimodal.resizeMeta(Multimodal.MediaMeta(2L, 100, 50, 1), 256)
    assert(small.width == 100 && small.height == 50)
  }

  test("sampleFrames spaces evenly and never exceeds the frame count") {
    assert(Multimodal.sampleFrames(2, 4) == Seq(0, 1))
    assert(Multimodal.sampleFrames(8, 4) == Seq(0, 2, 4, 6))
    assert(Multimodal.sampleFrames(10, 4) == Seq(0, 2, 5, 7))
  }

  test("resize contract query: all dims boxed, every doc counted once") {
    val rows = graft.ops.PipelineQueries.multimodalResize(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (w, h) = (r.getInt(0), r.getInt(1))
      assert(w >= 1 && w <= 256 && h >= 1 && h <= 256,
        s"resized dim ($w,$h) escapes the bounding box")
    }
    val nDocs = graft.sources.Tables.documents(spark, sf).count()
    assert(rows.map(_.getLong(2)).sum == nDocs)
  }

  test("REAL PNG codec roundtrip preserves every pixel") {
    import graft.mm.Codecs
    for (id <- Seq(0L, 1L, 7L, 123L, 4999L)) {
      val bytes = Codecs.encodePng(id)
      // genuine PNG container: 8-byte signature
      assert((bytes(0) & 0xff) == 0x89 && bytes(1) == 'P' &&
        bytes(2) == 'N' && bytes(3) == 'G', "not a PNG signature")
      val (w, h, sum) = Codecs.decodePngStats(bytes)
      assert(w == Codecs.pngWidth(id) && h == Codecs.pngHeight(id))
      var expect = 0L
      for (y <- 0 until h; x <- 0 until w) expect += Codecs.grayAt(x, y, id)
      assert(sum == expect, s"doc $id: decoded pixel sum diverged")
    }
  }

  test("REAL WAV codec roundtrip preserves samples and header rate") {
    import graft.mm.Codecs
    for (id <- Seq(0L, 3L, 255L, 256L, 1001L)) {
      val bytes = Codecs.encodeWav(id)
      // genuine RIFF/WAVE container
      assert(new String(bytes.take(4), "US-ASCII") == "RIFF" &&
        new String(bytes.slice(8, 12), "US-ASCII") == "WAVE",
        "not a RIFF/WAVE container")
      val (n, rate, energy) = Codecs.decodeWavStats(bytes)
      assert(n == Codecs.wavSamples(id) && rate == 16000L)
      var expect = 0L
      for (i <- 0 until Codecs.wavSamples(id)) {
        val s = Codecs.sampleAt(i, id); expect += s.toLong * s
      }
      assert(energy == expect, s"doc $id: decoded energy diverged")
    }
  }

  test("audio chunker: exact energies, preview bound, contract row") {
    // hand-computed: 300 'a' bytes → chunk0 = 256·(97−128)², chunk1 = 44·961
    val payload = Array.fill[Byte](300)('a')
    val chunks = Multimodal.fakeAudioChunks(payload)
    assert(chunks == Seq((0, 256L * 961), (1, 44L * 961)))
    // preview bound: a 10k-byte payload scans only 512 bytes → 2 chunks
    assert(Multimodal.fakeAudioChunks(Array.fill[Byte](10000)(1)).size == 2)
    assert(Multimodal.fakeAudioChunks(Array.emptyByteArray).isEmpty)
    val rows = graft.ops.PipelineQueries.multimodalAudioEnergy(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, tot, peak) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(n >= 1 && n <= 2, "preview scan caps chunks at 2")
      assert(peak <= tot && tot <= n * 256L * 128 * 128,
        "energy out of the 8-bit PCM envelope")
    }
  }
}

class StreamingSpec extends SparkSuite {
  test("mergeIntervals sessionizes an unsorted hot-user stream in " +
      "O(sessions) memory") {
    import graft.streaming.Events.mergeIntervals
    // three true sessions (gap 1800): [0..5000], [10000..12000],
    // [20000..20000]; events arrive shuffled, many per session
    val s1 = (0L to 5000L by 100L)
    val s2 = (10000L to 12000L by 50L)
    val s3 = Seq(20000L)
    val shuffled = new scala.util.Random(3).shuffle((s1 ++ s2 ++ s3).toVector)
    val iv = mergeIntervals(shuffled.iterator, None, gap = 1800L)
    assert(iv.toList == List(
      (0L, 5000L, s1.size.toLong),
      (10000L, 12000L, s2.size.toLong),
      (20000L, 20000L, 1L)))
    // a bridging event fuses two sessions and sums their counts
    val fused = mergeIntervals(Iterator(7000L),
      Some((0L, 5999L, 10L)), gap = 1800L)
    assert(fused.toList == List((0L, 7000L, 11L)))
    // out-of-order arrival: 3000 first opens a second session, then
    // 1500 bridges it back into the first
    val bridged = mergeIntervals(
      Iterator(0L, 3000L, 1500L), None, gap = 1800L)
    assert(bridged.toList == List((0L, 3000L, 3L)))
  }

  test("incremental ingest resumes from offsets and equals corpus+delta") {
    // delta-only processing on run 2 is require()d inside the operator;
    // here the folded result must equal the one-shot batch aggregate
    val streamed = graft.streaming.Events.streamIncrementalIngest(spark, sf)
    val e = graft.sources.Tables.events(spark, sf)
      .select(col("user_id"), col("event_type"), col("value"))
    val batch = e.unionAll(e.filter(col("event_type") === "purchase"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value")), 2).as("sum_value"))
    assert(streamed.exceptAll(batch).isEmpty &&
      batch.exceptAll(streamed).isEmpty,
      "incremental fold diverged from the batch corpus+delta aggregate")
  }

  test("stream-static join equals the batch enrichment join") {
    val streamed = graft.streaming.Events.streamStaticJoin(spark, sf)
    val dim = graft.sources.Tables.customer(spark, sf)
      .select(col("c_custkey").as("user_id"),
        concat(lit("t"), (col("c_custkey") % 4).cast("string")).as("tier"))
    val batch = graft.sources.Tables.events(spark, sf)
      .select(col("user_id"), col("value"))
      .join(dim, Seq("user_id"), "left")
      .groupBy(col("tier"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value")), 2).as("sum_value"))
    assert(streamed.exceptAll(batch).isEmpty &&
      batch.exceptAll(streamed).isEmpty,
      "stream-static join diverged from the batch join")
    assert(streamed.count() > 0)
  }

  test("stream_window matches the batch window aggregation") {
    val streamed = graft.streaming.Events.streamWindow(spark, sf)
    val batch = graft.sources.Tables.events(spark, sf)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
      .select(unix_timestamp(col("window.start")).as("win_start_s"),
        col("event_type"), col("n"), col("sum_value"))
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("stream left-outer join matches the batch watermark-cutoff model") {
    val streamed = graft.streaming.Events.streamLeftOuter(spark, sf)
    val e = graft.sources.Tables.events(spark, sf)
      .select(col("user_id"), col("event_type"),
        unix_timestamp(col("ts")).as("ts_s"))
    val c = e.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts_s").as("c_ts"))
    val p = e.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts_s").as("p_ts"))
    val wm = math.min(
      c.agg(max(col("c_ts"))).head().getLong(0),
      p.agg(max(col("p_ts"))).head().getLong(0)) - 600L
    val j = c.join(p,
      col("user_id") === col("p_user") &&
        col("p_ts") >= col("c_ts") && col("p_ts") <= col("c_ts") + 3600L,
      "left_outer")
    val emitted = j.filter(col("p_ts").isNotNull)
      .unionByName(j.filter(col("p_ts").isNull &&
        col("c_ts") + 3600L < lit(wm)))
    val batch = emitted.groupBy(col("user_id"))
      .agg(count(col("p_ts")).as("n_matched"),
        (count(lit(1)) - count(col("p_ts"))).as("n_expired_unmatched"))
    assert(streamed.exceptAll(batch).isEmpty &&
      batch.exceptAll(streamed).isEmpty,
      "streamed outer join diverged from the watermark-cutoff model")
  }

  test("stream full-outer join matches the two-sided eviction model") {
    val streamed = graft.streaming.Events.streamFullOuter(spark, sf)
    val e = graft.sources.Tables.events(spark, sf)
      .select(col("user_id"), col("event_type"),
        unix_timestamp(col("ts")).as("ts_s"))
    val c = e.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts_s").as("c_ts"))
    val p = e.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts_s").as("p_ts"))
    val wm = math.min(
      c.agg(max(col("c_ts"))).head().getLong(0),
      p.agg(max(col("p_ts"))).head().getLong(0)) - 600L
    val cond = col("user_id") === col("p_user") &&
      col("p_ts") >= col("c_ts") && col("p_ts") <= col("c_ts") + 3600L
    val j = c.join(p, cond, "left_outer")
    val pOnly = p.join(c, cond, "left_anti")
    val emitted = j.filter(col("p_ts").isNotNull)
      .select(col("user_id").as("uid"), col("c_ts"), col("p_ts"))
      .unionByName(j.filter(col("p_ts").isNull &&
          col("c_ts") + 3600L < lit(wm))
        .select(col("user_id").as("uid"), col("c_ts"), col("p_ts")))
      .unionByName(pOnly.filter(col("p_ts") < lit(wm))
        .select(col("p_user").as("uid"), lit(null).cast("long").as("c_ts"),
          col("p_ts")))
    val batch = emitted.groupBy(col("uid"))
      .agg(sum(when(col("c_ts").isNotNull && col("p_ts").isNotNull, 1L)
        .otherwise(0L)).as("n_matched"),
        sum(when(col("p_ts").isNull, 1L).otherwise(0L)).as("n_click_only"),
        sum(when(col("c_ts").isNull, 1L).otherwise(0L))
          .as("n_purchase_only"))
    assert(streamed.exceptAll(batch).isEmpty &&
      batch.exceptAll(streamed).isEmpty,
      "streamed full-outer diverged from the two-sided eviction model")
    // both null classes must actually occur for this to test anything
    val tot = streamed.agg(sum(col("n_click_only")),
      sum(col("n_purchase_only"))).head()
    assert(tot.getLong(0) > 0 && tot.getLong(1) > 0,
      "degenerate corpus: an eviction class never fired")
  }

  test("chained window aggs equal the two-level batch rollup at cutoff") {
    val streamed = graft.streaming.Events.streamChainedWindows(spark, sf)
    val e = graft.sources.Tables.events(spark, sf)
      .select(col("event_type"), unix_timestamp(col("ts")).as("ts_s"),
        col("value"))
    val wm = e.agg(max(col("ts_s"))).head().getLong(0) - 600L
    val b = e.groupBy((expr("ts_s div 300") * 300L).as("b_start"),
        col("event_type"))
      .agg(count(lit(1)).as("n5"), round(sum(col("value")), 2).as("v5"))
    val batch = b.groupBy((expr("b_start div 3600") * 3600L)
        .as("hour_start_s"), col("event_type"))
      .agg(count(lit(1)).as("n_buckets"), sum(col("n5")).as("n_events"),
        round(sum(col("v5")), 2).as("sum_value"))
      .filter(col("hour_start_s") + 3600L <= lit(wm))
    assert(streamed.exceptAll(batch).isEmpty &&
      batch.exceptAll(streamed).isEmpty,
      "chained streaming windows diverged from the batch rollup")
    // the last (unclosed) hour must NOT have been emitted
    val lastEmitted = streamed.agg(max(col("hour_start_s"))).head().getLong(0)
    assert(lastEmitted + 3600L <= wm, "an unclosed hour leaked out")
  }

  test("native streaming sessions equal the batch sessions at cutoff") {
    val streamed = graft.streaming.Events.streamSessionNative(spark, sf)
    // independent batch model: the engine's own batch session_window,
    // filtered to sessions provably closed under the final watermark
    val e = graft.sources.Tables.events(spark, sf)
    val wmMicros = e.agg(max(unix_micros(col("ts")))).head().getLong(0) -
      600L * 1000000L
    val batch = e
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"),
        min(unix_timestamp(col("ts"))).as("start_s"),
        max(unix_timestamp(col("ts"))).as("end_s"),
        max(unix_micros(col("ts"))).as("last_us"))
      .filter(col("last_us") + 1800L * 1000000L < lit(wmMicros))
      .select(col("user_id"), col("n_events"), col("start_s"), col("end_s"))
    assert(streamed.exceptAll(batch).isEmpty &&
      batch.exceptAll(streamed).isEmpty,
      "streaming merging-session state diverged from batch sessions")
    assert(streamed.count() > 0)
  }

  test("dq quarantine conserves rows and matches batch rule counts") {
    val rows = graft.streaming.Events.streamDqQuarantine(spark, sf)
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val e = graft.sources.Tables.events(spark, sf)
      .select(col("event_type"), col("value"),
        unix_timestamp(col("ts")).as("ts_s"))
    val total = e.count()
    // conservation: every row lands in exactly one sink
    assert(rows("_clean")._1 + rows("_quarantined")._1 == total)
    assert(rows.values.forall(_._2 == total), "n_checked must be total")
    // independent batch counts per rule
    val errors = e.filter(col("event_type") === "error").count()
    val highVal = e.filter(col("value") > 400).count()
    assert(rows("no_error_events")._1 == errors)
    assert(rows("value_in_band")._1 == highVal)
    assert(rows("known_event_type")._1 == 0L)
    assert(rows("ts_in_era")._1 == 0L)
    assert(rows("_quarantined")._1 > 0, "quarantine must be exercised")
  }

  test("streaming event-pattern automaton equals the batch operator") {
    val streamed = graft.streaming.Events.streamEventPattern(spark, sf)
    val batch = graft.ops.Behavior.qEventPattern(spark, sf)
    assert(streamed.exceptAll(batch).isEmpty &&
      batch.exceptAll(streamed).isEmpty,
      "streaming pattern census diverged from the batch window pass")
    assert(streamed.count() > 0, "pattern must be exercised")
  }
}
