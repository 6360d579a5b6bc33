package graft

import java.time.LocalDate

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, MergeOps}
import graft.streaming.Streams

/** D1 keep-latest semantics and the M1/M2 merge algebra, including the
  * golden regression mirroring BUG_FIX_SUMMARY.md:68-71 (full backfill →
  * 60-day refresh → historical rows survive).
  */
class DedupMergeSpec extends SparkSpec {
  import spark.implicits._

  private def entries(rows: (String, String, java.sql.Date, Double)*): DataFrame =
    rows.toDF("id", "at", "start_date_oslo", "value")

  test("D1 keeps max-`at` per id, nulls last, deterministic tie-break (ref :1774-1777)") {
    val df = Seq(
      ("e1", "2024-01-02 10:00:00", 1.0),
      ("e1", "2024-01-03 10:00:00", 2.0), // latest → kept
      ("e1", null, 3.0),                  // null at → never wins
      ("e2", null, 4.0),                  // all-null group → kept
      ("e3", "2024-01-01 00:00:00", 5.0),
      ("e3", "2024-01-01 00:00:00", 6.0)  // tie on at → max tiebreak col wins
    ).toDF("id", "at_s", "value")
      .withColumn("at", col("at_s").cast("timestamp")).drop("at_s")
    val out = Dedup.latestByKey(df, Seq("id"), "at", "value")
      .orderBy("id").select("id", "value").as[(String, Double)].collect()
    assert(out.toSeq == Seq(("e1", 2.0), ("e2", 4.0), ("e3", 6.0)))
  }

  test("dedupTimeEntries: null-at wins per pandas na_position='last' + keep='last' (ref :1776)") {
    val df = Seq(
      ("e1", "2024-01-02 10:00:00", "2024-01-01 09:00:00"),
      ("e1", null, "2024-01-01 10:00:00") // null at → sorts last → kept
    ).toDF("id", "at_s", "start_s")
      .withColumn("at", col("at_s").cast("timestamp"))
      .withColumn("start_utc", col("start_s").cast("timestamp"))
      .drop("at_s", "start_s")
    val kept = Dedup.dedupTimeEntries(df).collect()
    assert(kept.length == 1)
    assert(kept(0).getAs[java.sql.Timestamp]("at") == null)
  }

  test("refreshPartitioned deletes stale null-date copies of re-matched ids") {
    val base = java.nio.file.Files.createTempDirectory("graft_nullpart").toString + "/fact"
    val today = LocalDate.parse("2024-03-01")
    Seq(("x1", "a", null.asInstanceOf[java.sql.Date], 1.0),
      ("keepnull", "a", null.asInstanceOf[java.sql.Date], 7.0))
      .toDF("id", "at", "start_date_oslo", "value")
      .write.partitionBy("start_date_oslo").parquet(base)
    // staging re-asserts x1 with a real in-window date
    val staging = entries(("x1", "y", java.sql.Date.valueOf("2024-02-26"), 2.0))
    MergeOps.refreshPartitioned(spark, base, staging, days = 7, todayOslo = today)
    val out = spark.read.parquet(base).orderBy("id")
      .select("id", "value").as[(String, Double)].collect().toSeq
    // x1's stale null-date copy is gone; unrelated null-date row survives
    assert(out == Seq(("keepnull", 7.0), ("x1", 2.0)))
  }

  test("M2 full reindex: fact becomes exactly (deduplicated) staging (ref :1335-1399)") {
    val fact = entries(
      ("a", "x", java.sql.Date.valueOf("2024-01-01"), 1.0),
      ("b", "x", java.sql.Date.valueOf("2024-01-02"), 2.0))
    val staging = entries(
      ("b", "y", java.sql.Date.valueOf("2024-01-02"), 20.0), // update
      ("c", "y", java.sql.Date.valueOf("2024-01-03"), 30.0)) // insert; 'a' deleted
    val out = MergeOps.mergeFullReindex(fact, staging)
      .orderBy("id").select("id", "value").as[(String, Double)].collect()
    assert(out.toSeq == Seq(("b", 20.0), ("c", 30.0)))
  }

  test("M1 refresh: windowed upsert + delete guard protects history (BUG_FIX_SUMMARY.md:16-50)") {
    val today = LocalDate.parse("2024-03-01")
    // Full backfill (the fact after a reindex): one historical row far
    // outside any refresh window + three recent rows.
    val fact = entries(
      ("hist", "x", java.sql.Date.valueOf("2024-01-01"), 1.0),
      ("r1", "x", java.sql.Date.valueOf("2024-02-25"), 2.0),
      ("r2", "x", java.sql.Date.valueOf("2024-02-26"), 3.0),
      ("r3", "x", java.sql.Date.valueOf("2024-02-27"), 4.0))
    // 7-day refresh: r1 updated, r2 gone upstream (deleted), r3 untouched
    // upstream but still present, r4 new. Staging also carries an
    // out-of-window row that must be ignored by the source filter.
    val staging = entries(
      ("r1", "y", java.sql.Date.valueOf("2024-02-25"), 20.0),
      ("r3", "y", java.sql.Date.valueOf("2024-02-27"), 4.0),
      ("r4", "y", java.sql.Date.valueOf("2024-02-28"), 5.0),
      ("oow", "y", java.sql.Date.valueOf("2024-01-15"), 99.0))
    val merged = MergeOps.mergeRefresh(fact, staging, days = 7, todayOslo = today)
    val out = merged.orderBy("id").select("id", "value").as[(String, Double)].collect()
    assert(out.toSeq == Seq(
      ("hist", 1.0), // survives: outside window, NOT deleted (the bug-fix guard)
      ("r1", 20.0),  // updated
      ("r3", 4.0),   // re-asserted
      ("r4", 5.0)))  // inserted; r2 deleted (in-window, absent from staging)
  }

  test("M1 is idempotent: mergeRefresh(merge(f,s), s) == merge(f,s)") {
    val today = LocalDate.parse("2024-03-01")
    val fact = entries(
      ("hist", "x", java.sql.Date.valueOf("2024-01-01"), 1.0),
      ("r1", "x", java.sql.Date.valueOf("2024-02-25"), 2.0))
    val staging = entries(
      ("r1", "y", java.sql.Date.valueOf("2024-02-25"), 20.0),
      ("r4", "y", java.sql.Date.valueOf("2024-02-28"), 5.0))
    val once = MergeOps.mergeRefresh(fact, staging, 7, today)
    val twice = MergeOps.mergeRefresh(once, staging, 7, today)
    assert(rows(once.orderBy("id")) == rows(twice.orderBy("id")))
  }

  test("refreshPartitioned rewrites only affected date partitions") {
    val base = java.nio.file.Files.createTempDirectory("graft_part").toString + "/fact"
    val today = LocalDate.parse("2024-03-01")
    // partitions: hist (2024-01-01, untouched), 02-24 (fully deleted),
    // 02-26 (updated); staging adds 02-28
    entries(
      ("hist", "x", java.sql.Date.valueOf("2024-01-01"), 1.0),
      ("del1", "x", java.sql.Date.valueOf("2024-02-24"), 9.0),
      ("r1", "x", java.sql.Date.valueOf("2024-02-26"), 2.0))
      .write.partitionBy("start_date_oslo").parquet(base)

    def partFiles(d: String): Map[String, Long] = {
      val dir = new java.io.File(s"$base/start_date_oslo=$d")
      if (!dir.exists()) Map.empty
      else dir.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> f.lastModified()).toMap
    }
    val histBefore = partFiles("2024-01-01")
    assert(histBefore.nonEmpty)

    val staging = entries(
      ("r1", "y", java.sql.Date.valueOf("2024-02-26"), 20.0),
      ("r4", "y", java.sql.Date.valueOf("2024-02-28"), 5.0))
    MergeOps.refreshPartitioned(spark, base, staging, days = 7, todayOslo = today)

    val out = spark.read.parquet(base).orderBy("id")
      .select("id", "value").as[(String, Double)].collect().toSeq
    assert(out == Seq(("hist", 1.0), ("r1", 20.0), ("r4", 5.0)))
    // untouched partition: exact same files, same mtimes
    assert(partFiles("2024-01-01") == histBefore)
    // fully-deleted window partition directory is gone
    assert(partFiles("2024-02-24").isEmpty)
  }

  test("partitioned streaming merge: sliced batches upsert only affected " +
    "partitions, sweep deletes unseen window rows, history files untouched") {
    val root = java.nio.file.Files.createTempDirectory("graft_stpart").toString
    val base = s"$root/fact"
    val today = LocalDate.parse("2024-03-01")
    entries(
      ("hist", "x", java.sql.Date.valueOf("2024-01-01"), 1.0),
      ("del1", "x", java.sql.Date.valueOf("2024-02-24"), 9.0),
      ("r1", "x", java.sql.Date.valueOf("2024-02-26"), 2.0))
      .write.partitionBy("start_date_oslo").parquet(base)
    def partFiles(d: String): Map[String, Long] = {
      val dir = new java.io.File(s"$base/start_date_oslo=$d")
      if (!dir.exists()) Map.empty
      else dir.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> f.lastModified()).toMap
    }
    val histBefore = partFiles("2024-01-01")
    assert(histBefore.nonEmpty)
    // staging sliced across two micro-batches
    val slices = Seq(
      entries(("r1", "y", java.sql.Date.valueOf("2024-02-26"), 20.0)),
      entries(("r4", "y", java.sql.Date.valueOf("2024-02-28"), 5.0)))
    val stagingDir = java.nio.file.Files.createTempDirectory("graft_stpart_in")
    for ((df, i) <- slices.zipWithIndex) {
      val sub = stagingDir.resolve(s"g$i")
      df.coalesce(1).write.parquet(sub.toString)
      val part = new java.io.File(sub.toString).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dest = stagingDir.resolve(s"s$i.parquet")
      java.nio.file.Files.move(part.toPath, dest)
      dest.toFile.setLastModified(1700000000000L + i * 10000L)
    }
    val stream = spark.readStream.schema(slices.head.schema)
      .option("pathGlobFilter", "s*.parquet")
      .option("maxFilesPerTrigger", 1).parquet(stagingDir.toString)
    Streams.streamingMergeIncrementalPartitioned(spark, stream, base,
      s"$root/seen", days = 7, todayOslo = today, checkpoint = s"$root/ckpt")
    val out = spark.read.parquet(base).orderBy("id")
      .select("id", "value").as[(String, Double)].collect().toSeq
    // same result as single-shot mergeRefresh on the unsliced staging
    assert(out == Seq(("hist", 1.0), ("r1", 20.0), ("r4", 5.0)))
    // history partition: exact same files, same mtimes — never rewritten
    assert(partFiles("2024-01-01") == histBefore)
    // fully-swept window partition directory is gone
    assert(partFiles("2024-02-24").isEmpty)
  }

  test("indexed partitioned streaming merge: same result, index == fact " +
    "projection, probe scans only pruned index buckets") {
    val root = java.nio.file.Files.createTempDirectory("graft_stidx").toString
    val base = s"$root/fact"
    val idx = s"$root/fact_idx"
    val today = LocalDate.parse("2024-03-01")
    entries(
      ("hist", "x", java.sql.Date.valueOf("2024-01-01"), 1.0),
      ("del1", "x", java.sql.Date.valueOf("2024-02-24"), 9.0),
      ("r1", "x", java.sql.Date.valueOf("2024-02-26"), 2.0))
      .write.partitionBy("start_date_oslo").parquet(base)
    def partFiles(d: String): Map[String, Long] = {
      val dir = new java.io.File(s"$base/start_date_oslo=$d")
      if (!dir.exists()) Map.empty
      else dir.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> f.lastModified()).toMap
    }
    val histBefore = partFiles("2024-01-01")
    val slices = Seq(
      entries(("r1", "y", java.sql.Date.valueOf("2024-02-26"), 20.0)),
      entries(("r4", "y", java.sql.Date.valueOf("2024-02-28"), 5.0)))
    val stagingDir = java.nio.file.Files.createTempDirectory("graft_stidx_in")
    for ((df, i) <- slices.zipWithIndex) {
      val sub = stagingDir.resolve(s"g$i")
      df.coalesce(1).write.parquet(sub.toString)
      val part = new java.io.File(sub.toString).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(part.toPath, stagingDir.resolve(s"s$i.parquet"))
    }
    val stream = spark.readStream.schema(slices.head.schema)
      .option("pathGlobFilter", "s*.parquet")
      .option("maxFilesPerTrigger", 1).parquet(stagingDir.toString)
    Streams.streamingMergeIncrementalPartitioned(spark, stream, base,
      s"$root/seen", days = 7, todayOslo = today, checkpoint = s"$root/ckpt",
      indexPath = Some(idx))
    // same final fact as the unindexed path / single-shot mergeRefresh
    val out = spark.read.parquet(base).orderBy("id")
      .select("id", "value").as[(String, Double)].collect().toSeq
    assert(out == Seq(("hist", 1.0), ("r1", 20.0), ("r4", 5.0)))
    assert(partFiles("2024-01-01") == histBefore) // history files untouched
    // the maintained index is exactly the fact's (id, date) projection —
    // upserts added r4, replaced r1, and the sweep removed del1
    val idxRows = spark.read.parquet(idx).select("id", "start_date_oslo")
      .as[(String, java.sql.Date)].collect().toSet
    val factRows = spark.read.parquet(base).select("id", "start_date_oslo")
      .as[(String, java.sql.Date)].collect().toSet
    assert(idxRows == factRows)
    // plan/file-level: the stale-date probe reads ONLY the index, and its
    // scan prunes to the probed ids' buckets before reading a row
    val probe = MergeOps.staleDatesViaIndex(spark, idx,
      Seq("r1").toDF("id"), "start_date_oslo", "id", nBuckets = 32)
    probe.collect() // execute THIS plan so its scan metrics populate
    def scansOf(p: org.apache.spark.sql.execution.SparkPlan):
        Seq[org.apache.spark.sql.execution.FileSourceScanExec] =
      p.collect { // AQE wrappers are leaves: recurse explicitly
        case f: org.apache.spark.sql.execution.FileSourceScanExec => Seq(f)
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          scansOf(a.executedPlan)
        case s: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          scansOf(s.plan)
      }.flatten
    val scans = scansOf(probe.queryExecution.executedPlan)
    assert(scans.nonEmpty)
    assert(scans.forall(_.relation.location.rootPaths
      .forall(_.toString.contains("fact_idx"))), "probe must scan the index only")
    val partsRead = scans.map(_.metrics("numPartitions").value).sum
    val totalBuckets = new java.io.File(idx).listFiles()
      .count(_.getName.startsWith("__bucket="))
    assert(partsRead == 1 && totalBuckets > 1,
      s"expected 1 pruned bucket of $totalBuckets, read $partsRead")
  }

  test("index compaction is incremental: untouched bucket files are " +
    "byte-identical across a cycle; touched buckets compact to exactly " +
    "the fact projection at seq 0, one file per bucket") {
    val root = java.nio.file.Files.createTempDirectory("graft_stcompact").toString
    val base = s"$root/fact"
    val idx = s"$root/fact_idx"
    val today = LocalDate.parse("2024-03-01")
    val histIds = (0 until 20).map(i => s"h$i")
    val winIds = (0 until 20).map(i => s"w$i")
    val fact = entries(
      (histIds.map(id => (id, "x", java.sql.Date.valueOf("2024-01-01"), 1.0)) ++
        winIds.map(id => (id, "x", java.sql.Date.valueOf("2024-02-26"), 2.0))): _*)
    fact.write.partitionBy("start_date_oslo").parquet(base)

    def runCycle(tag: String, slice: DataFrame): Unit = {
      val stagingDir = java.nio.file.Files
        .createTempDirectory(s"graft_stcompact_$tag")
      val sub = stagingDir.resolve("g")
      slice.coalesce(1).write.parquet(sub.toString)
      val part = new java.io.File(sub.toString).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(part.toPath, stagingDir.resolve("s0.parquet"))
      val stream = spark.readStream.schema(slice.schema)
        .option("pathGlobFilter", "s*.parquet")
        .option("maxFilesPerTrigger", 1).parquet(stagingDir.toString)
      Streams.streamingMergeIncrementalPartitioned(spark, stream, base,
        s"$root/seen_$tag", days = 7, todayOslo = today,
        checkpoint = s"$root/ckpt_$tag", indexPath = Some(idx))
    }
    // cycle 1: assert every in-window id (no sweeps) — bootstraps the
    // index and leaves every bucket compacted to one file at seq 0
    runCycle("c1", entries(winIds.map(id =>
      (id, "y", java.sql.Date.valueOf("2024-02-26"), 3.0)): _*))
    def bucketFiles(): Map[String, Set[String]] =
      new java.io.File(idx).listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("__bucket="))
        .map(d => d.getName -> d.listFiles()
          .filter(_.getName.endsWith(".parquet"))
          .map(f => s"${f.getName}:${f.length}:${f.lastModified}").toSet)
        .toMap
    val before = bucketFiles()
    assert(before.nonEmpty && before.values.forall(_.size == 1),
      s"cycle-1 compaction must leave one file per bucket: $before")
    // cycle 2: w0 moves date, w1..w18 re-asserted, w19 missing → swept
    runCycle("c2", entries(
      (("w0", "y", java.sql.Date.valueOf("2024-02-28"), 4.0) +:
        (1 until 19).map(i => (s"w$i", "y",
          java.sql.Date.valueOf("2024-02-26"), 3.0))): _*))
    val after = bucketFiles()
    // which buckets were touched this cycle? the asserted ids' buckets
    // (appends) plus the swept id's bucket
    val bucketOf = (winIds ++ histIds).toDF("id")
      .select($"id", pmod(xxhash64($"id"), lit(32L)).cast("int").as("b"))
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    val touched = ((0 until 19).map(i => bucketOf(s"w$i")) :+ bucketOf("w19"))
      .toSet.map((b: Int) => s"__bucket=$b")
    val untouched = before.keySet -- touched
    assert(untouched.nonEmpty, "fixture must leave some bucket untouched")
    for (b <- untouched)
      assert(after.get(b).contains(before(b)),
        s"untouched bucket $b was rewritten: ${before(b)} -> ${after.get(b)}")
    // every remaining bucket: exactly one file (the append log is gone)
    assert(after.values.forall(_.size == 1), after.toString)
    // the compacted index is exactly the fact's (id, date) projection,
    // all entries at seq 0 — w19 swept, w0 at its moved date
    val idxRows = spark.read.parquet(idx)
      .select("id", "start_date_oslo", MergeOps.IdxSeqCol)
      .as[(String, java.sql.Date, Long)].collect().toSet
    val factRows = spark.read.parquet(base).select("id", "start_date_oslo")
      .as[(String, java.sql.Date)].collect().toSet
    assert(idxRows.map(r => (r._1, r._2)) == factRows)
    assert(idxRows.forall(_._3 == 0L))
    assert(!idxRows.exists(_._1 == "w19"))
    assert(idxRows.exists(r => r._1 == "w0" &&
      r._2 == java.sql.Date.valueOf("2024-02-28")))
  }

  test("empty cycle against a pre-existing fact fails loudly unless opted in") {
    val root = java.nio.file.Files.createTempDirectory("graft_stempty").toString
    val base = s"$root/fact"
    val today = LocalDate.parse("2024-03-01")
    entries(
      ("hist", "x", java.sql.Date.valueOf("2024-01-01"), 1.0),
      ("r1", "x", java.sql.Date.valueOf("2024-02-26"), 2.0))
      .write.partitionBy("start_date_oslo").parquet(base)
    // the staging feed carries only an out-of-window row — the shape an
    // upstream outage produces: no batch asserts an in-window id
    val staging = entries(("oow", "y", java.sql.Date.valueOf("2024-01-15"), 9.0))
    val stagingDir = java.nio.file.Files
      .createTempDirectory("graft_stempty_in").toString + "/in"
    staging.coalesce(1).write.parquet(stagingDir)
    def run(allow: Boolean, ckpt: String): Unit =
      Streams.streamingMergeIncrementalPartitioned(spark,
        spark.readStream.schema(staging.schema).parquet(stagingDir),
        base, s"$root/seen_$allow", days = 7, todayOslo = today,
        checkpoint = s"$root/$ckpt", allowEmptyCycle = allow)
    val e = intercept[RuntimeException](run(allow = false, "ckpt1"))
    assert(e.getMessage.contains("allowEmptyCycle"))
    // nothing was deleted by the refusal
    assert(spark.read.parquet(base).count() == 2)
    // explicit opt-in: the windowed delete applies (r1 swept, history kept)
    run(allow = true, "ckpt2")
    val out = spark.read.parquet(base).select("id").as[String].collect().toSeq
    assert(out == Seq("hist"))
  }

  test("M1 null-date fact rows are kept (BigQuery NULL BETWEEN → not deleted)") {
    val fact = Seq(("n1", "x", null: java.sql.Date, 1.0))
      .toDF("id", "at", "start_date_oslo", "value")
    val staging = entries(("r1", "y", java.sql.Date.valueOf("2024-02-28"), 5.0))
    val out = MergeOps.mergeRefresh(fact, staging, 7, LocalDate.parse("2024-03-01"))
    assert(out.count() == 2)
  }

  test("M7 scd2Apply: change closes+inserts, identical update no-ops, " +
    "new key inserts, history passes through") {
    val d0 = java.sql.Date.valueOf("2020-01-01")
    val dPrev = java.sql.Date.valueOf("2019-01-01")
    val eff = java.sql.Date.valueOf("2024-06-01")
    val dim = Seq(
      (1L, "A", d0, Option.empty[java.sql.Date], true),
      (2L, "B", d0, Option.empty[java.sql.Date], true),
      (3L, "C", d0, Option.empty[java.sql.Date], true),
      (1L, "A0", dPrev, Some(d0), false) // closed history version
    ).toDF("k", "attr", "valid_from", "valid_to", "is_current")
    val upd = Seq((1L, "A2"), (2L, "B"), (9L, "NEW")).toDF("k", "attr")
    val out = MergeOps.scd2Apply(dim, upd, "k", Seq("attr"), eff)
      .orderBy("k", "valid_from")
      .select($"k", $"attr", $"valid_from".cast("string"),
        $"valid_to".cast("string"), $"is_current")
      .as[(Long, String, String, Option[String], Boolean)].collect().toSeq
    assert(out == Seq(
      (1L, "A0", "2019-01-01", Some("2020-01-01"), false), // history untouched
      (1L, "A", "2020-01-01", Some("2024-06-01"), false),  // closed
      (1L, "A2", "2024-06-01", None, true),                // new version
      (2L, "B", "2020-01-01", None, true),                 // identical → no-op
      (3L, "C", "2020-01-01", None, true),                 // no update → kept
      (9L, "NEW", "2024-06-01", None, true)))              // brand-new key
  }

  test("M7 scd2Apply: null-safe attr compare (null → value is a change; " +
    "null → null is not)") {
    val d0 = java.sql.Date.valueOf("2020-01-01")
    val eff = java.sql.Date.valueOf("2024-06-01")
    val dim = Seq(
      (1L, Option.empty[String], d0, Option.empty[java.sql.Date], true),
      (2L, Option.empty[String], d0, Option.empty[java.sql.Date], true)
    ).toDF("k", "attr", "valid_from", "valid_to", "is_current")
    val upd = Seq((1L, Some("X")), (2L, Option.empty[String])).toDF("k", "attr")
    val out = MergeOps.scd2Apply(dim, upd, "k", Seq("attr"), eff)
    assert(out.count() == 3) // k=1 closed+inserted, k=2 untouched
    assert(out.filter($"k" === 2 && $"is_current" && $"valid_from" === lit(d0))
      .count() == 1)
  }

  test("M8 snapshotDiff: insert/delete/update typed, changed column names " +
    "listed, unchanged keys absent") {
    val before = Seq((1L, 10.0, "X"), (2L, 20.0, "Y"), (3L, 30.0, "Z"))
      .toDF("k", "p", "s")
    val after = Seq((1L, 10.0, "X"), (2L, 21.0, "W"), (4L, 40.0, "V"))
      .toDF("k", "p", "s")
    val out = MergeOps.snapshotDiff(before, after, "k", Seq("p", "s"))
      .orderBy("k")
      .as[(Long, String, String)].collect().toSeq
    assert(out == Seq(
      (2L, "update", "p,s"),
      (3L, "delete", ""),
      (4L, "insert", "")))
  }

  test("M8 snapshotDiff: null vs value is a change, null vs null is not") {
    val before = Seq((1L, Option.empty[String]), (2L, Option.empty[String]))
      .toDF("k", "s")
    val after = Seq((1L, Some("x")), (2L, Option.empty[String])).toDF("k", "s")
    val out = MergeOps.snapshotDiff(before, after, "k", Seq("s"))
      .as[(Long, String, String)].collect().toSeq
    assert(out == Seq((1L, "update", "s")))
  }

  test("maintainGroupedAgg: insert/delete/value-update/group-move deltas " +
    "equal a recompute; emptied group dropped; null group is ONE group; " +
    "self-composes across cycles") {
    import spark.implicits._
    def agg(df: org.apache.spark.sql.DataFrame) = df
      .groupBy($"g").agg(
        org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n"),
        org.apache.spark.sql.functions.sum(
          org.apache.spark.sql.functions.floor($"v" * 100)
            .cast("long")).as("sum_cents"))
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .collect().map(r => (Option(r.getString(0)), r.getLong(1),
        r.getLong(2))).toSet
    val before = Seq(
      (1L, "g1", 1.0), (2L, "g1", 2.0),   // 2 stays, 1 deleted
      (3L, "g2", 5.0),                    // value update
      (4L, "g2", 7.0),                    // moves g2 → g3
      (5L, "lone", 9.0),                  // group emptied by delete
      (6L, null.asInstanceOf[String], 4.0) // null group, untouched
    ).toDF("k", "g", "v")
    val after = Seq(
      (2L, "g1", 2.0),
      (3L, "g2", 5.5),
      (4L, "g3", 7.0),
      (6L, null.asInstanceOf[String], 4.0),
      (7L, null.asInstanceOf[String], 1.0), // null-group insert
      (8L, "g4", 3.0)                       // brand-new group
    ).toDF("k", "g", "v")
    val got = MergeOps.maintainGroupedAgg(agg(before), before, after,
      "k", "g", "v")
    assert(canon(got) == canon(agg(after)))
    // second cycle composes on the first cycle's output
    val third = Seq((2L, "g1", 2.0), (9L, "g1", 1.5)).toDF("k", "g", "v")
    val got2 = MergeOps.maintainGroupedAgg(got, after, third, "k", "g", "v")
    assert(canon(got2) == canon(agg(third)))
  }

  test("compactionPlan: big slices keep, small slices pack size-desc into " +
    "~target tasks that never span partitions") {
    val slices = Seq(
      ("p1", 1L, 900L), ("p1", 2L, 800L), ("p1", 3L, 700L),
      ("p1", 4L, 600L), ("p1", 5L, 5000L),
      ("p2", 6L, 100L), ("p2", 7L, 100L), ("p3", 8L, 1500L)
    ).toDF("part", "id", "bytes")
    val got = MergeOps.compactionPlan(slices, "part", "id", "bytes",
      targetBytes = 2000L, smallThreshold = 1500L)
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), r.getString(3),
          if (r.isNullAt(4)) -1L else r.getLong(4))).toMap
    // p1 small slices in size-desc order: 900,800,700,600 → cums
    // 900,1700,2400,3000 → tasks floor((cum-b)/2000) = 0,0,0,1
    assert(got(("p1", 1L)) == ((900L, "rewrite", 0L)))
    assert(got(("p1", 2L)) == ((800L, "rewrite", 0L)))
    assert(got(("p1", 3L)) == ((700L, "rewrite", 0L)))
    assert(got(("p1", 4L)) == ((600L, "rewrite", 1L)))
    // ≥ threshold → keep, null task (incl. the exactly-at-threshold slice)
    assert(got(("p1", 5L)) == ((5000L, "keep", -1L)))
    assert(got(("p3", 8L)) == ((1500L, "keep", -1L)))
    // p2's packing is independent of p1's (task ids restart per partition)
    assert(got(("p2", 6L)) == ((100L, "rewrite", 0L)))
    assert(got(("p2", 7L)) == ((100L, "rewrite", 0L)))
  }

  test("fileManifest lists real files with parent-dir partition keys and " +
    "feeds compactionPlan") {
    val dir = "/tmp/graft_test_compact"
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(p, true)
    // a deliberately fragmented write: one tiny file per repartition slice
    Seq.tabulate(20)(i => (i.toLong, "x" * (50 + i), s"d${i % 2}"))
      .toDF("id", "payload", "part")
      .repartition(5)
      .write.partitionBy("part").mode("overwrite").parquet(dir)
    val mf = MergeOps.fileManifest(spark, dir)
    val rows = mf.collect()
    assert(rows.nonEmpty && rows.forall(_.getLong(2) > 0))
    assert(rows.map(_.getString(0)).toSet == Set("part=d0", "part=d1"))
    assert(rows.forall(r => r.getString(1).endsWith(".parquet")))
    val plan = MergeOps.compactionPlan(mf, "part", "file", "bytes",
      targetBytes = 1L << 20, smallThreshold = 1L << 20)
    // every small parquet fragment lands in task 0 of its partition
    // (total bytes per partition here ≪ 1 MiB target)
    val acts = plan.collect()
    assert(acts.forall(r => r.getString(3) == "rewrite" && r.getLong(4) == 0L))
    fs.delete(p, true)
  }

  test("compactionExecute: fragmented partition compacted on disk (file " +
    "count drops, rows and keep bytes preserved, untouched partition " +
    "byte-identical)") {
    val dir = "/tmp/graft_test_compact_exec"
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(p, true)
    // part=frag: 6 tiny fragments; part=ok: one healthy file
    Seq.tabulate(60)(i => (i.toLong, "x" * 40, "frag"))
      .toDF("id", "payload", "part").repartition(6)
      .write.partitionBy("part").mode("overwrite").parquet(dir)
    Seq.tabulate(60)(i => (i.toLong + 1000, "y" * 40, "ok"))
      .toDF("id", "payload", "part").coalesce(1)
      .write.partitionBy("part").mode("append").parquet(dir)
    def listing(part: String): Map[String, (Long, Long)] =
      fs.listStatus(new org.apache.hadoop.fs.Path(p, part))
        .filter(f => f.isFile && !f.getPath.getName.startsWith("_"))
        .map(f => f.getPath.getName ->
          ((f.getLen, f.getModificationTime))).toMap
    val okBefore = listing("part=ok")
    val fragBefore = listing("part=frag")
    assert(fragBefore.size == 6)
    val before = spark.read.parquet(dir).select("id", "payload", "part")
      .collect().toSet
    // healthy files (≥ threshold) keep; the 6 fragments pack into 1 task
    MergeOps.compactionExecute(spark, dir,
      targetBytes = 1L << 20, smallThreshold = 8192L)
    val fragAfter = listing("part=frag")
    assert(fragAfter.size == 1 &&
      fragAfter.keySet.head.startsWith("compacted-"))
    // untouched partition: same files, same bytes, same mtimes (no swap)
    assert(listing("part=ok") == okBefore)
    // no tmp/old residue anywhere
    assert(fs.listStatus(p).map(_.getPath.getName).forall(n =>
      !n.endsWith(".tmp") && !n.endsWith(".old")))
    // table contents identical
    assert(spark.read.parquet(dir).select("id", "payload", "part")
      .collect().toSet == before)
    // idempotent: a second run has no multi-slice rewrite task left, so
    // no partition is touched (same files, same mtimes)
    val plan2 = MergeOps.compactionExecute(spark, dir,
      targetBytes = 1L << 20, smallThreshold = 8192L)
    val multi = plan2.filter(col("action") === "rewrite")
      .groupBy("part", "task_id").count().filter(col("count") >= 2)
    assert(multi.isEmpty)
    assert(listing("part=frag") == fragAfter)
    fs.delete(p, true)
  }

  test("compactionExecute: stale .tmp residue from a crashed prior run is " +
    "discarded, not merged into the new partition") {
    val dir = "/tmp/graft_test_compact_crash"
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(p, true)
    Seq.tabulate(40)(i => (i.toLong, "x" * 40, "frag"))
      .toDF("id", "payload", "part").repartition(4)
      .write.partitionBy("part").mode("overwrite").parquet(dir)
    val before = spark.read.parquet(dir).select("id", "payload", "part")
      .collect().toSet
    // simulate a crash mid-swap: a half-built tmp dir with a bogus file
    // (an unreadable "parquet" — recovery must discard it sight unseen)
    val staleTmp = new org.apache.hadoop.fs.Path(p, "part=frag.tmp")
    fs.mkdirs(staleTmp)
    val out = fs.create(new org.apache.hadoop.fs.Path(staleTmp, "garbage.parquet"))
    out.write(Array.fill(16)(0xAB.toByte)); out.close()
    MergeOps.compactionExecute(spark, dir,
      targetBytes = 1L << 20, smallThreshold = 8192L)
    // the garbage never reaches the live partition; contents identical
    val files = fs.listStatus(new org.apache.hadoop.fs.Path(p, "part=frag"))
      .map(_.getPath.getName)
    assert(!files.contains("garbage.parquet"))
    assert(spark.read.parquet(dir).select("id", "payload", "part")
      .collect().toSet == before)
    assert(fs.listStatus(p).map(_.getPath.getName).forall(n =>
      !n.endsWith(".tmp") && !n.endsWith(".old")))
    fs.delete(p, true)
  }

  test("deletePartitioned: requested ids vanish, only their partitions " +
    "are rewritten (untouched partition byte-identical), index entries " +
    "compact away") {
    val dir = "/tmp/graft_test_delete_ids"
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(p, true)
    def dt(s: String) = java.sql.Date.valueOf(s)
    val fact = Seq(
      (1L, dt("2024-01-01"), "a"), (2L, dt("2024-01-01"), "b"),
      (3L, dt("2024-01-02"), "c"), (4L, dt("2024-01-02"), "d"),
      (5L, dt("2024-01-03"), "e")
    ).toDF("id", "start_date_oslo", "payload")
    fact.write.partitionBy("start_date_oslo").parquet(s"$dir/fact")
    MergeOps.buildIdDateIndex(spark.read.parquet(s"$dir/fact"),
      s"$dir/idx")
    def listing(part: String) =
      fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/fact", part))
        .filter(f => f.isFile && !f.getPath.getName.startsWith("_"))
        .map(f => f.getPath.getName ->
          ((f.getLen, f.getModificationTime))).toMap
    val d3Before = listing("start_date_oslo=2024-01-03")
    MergeOps.deletePartitioned(spark, s"$dir/fact",
      Seq(1L, 3L).toDF("id"), indexPath = Some(s"$dir/idx"))
    val left = spark.read.parquet(s"$dir/fact")
      .select("id").as[Long].collect().sorted.toSeq
    assert(left == Seq(2L, 4L, 5L))
    // the date-3 partition held no deleted id: same files, same mtimes
    assert(listing("start_date_oslo=2024-01-03") == d3Before)
    // deleted ids are gone from the index; survivors remain
    val idx = spark.read.parquet(s"$dir/idx").select("id")
      .as[Long].collect().sorted.toSeq
    assert(idx == Seq(2L, 4L, 5L))
    // deleting an id that does not exist touches nothing
    val allBefore = Seq("start_date_oslo=2024-01-01",
      "start_date_oslo=2024-01-02", "start_date_oslo=2024-01-03")
      .map(listing)
    MergeOps.deletePartitioned(spark, s"$dir/fact",
      Seq(999L).toDF("id"), indexPath = Some(s"$dir/idx"))
    assert(Seq("start_date_oslo=2024-01-01", "start_date_oslo=2024-01-02",
      "start_date_oslo=2024-01-03").map(listing) == allBefore)
    fs.delete(p, true)
  }

  test("compactionExecute: crash BETWEEN the two commit renames (tmp " +
    "fully built, live moved aside) recovers by promoting the tmp — " +
    "rows converge with no duplicates and no losses") {
    val dir = "/tmp/graft_test_compact_crash_mid"
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(p, true)
    Seq.tabulate(40)(i => (i.toLong, "x" * 40, "frag"))
      .toDF("id", "payload", "part").repartition(4)
      .write.partitionBy("part").mode("overwrite").parquet(dir)
    val before = spark.read.parquet(dir).select("id", "payload", "part")
      .collect().toSet
    // replay the commit protocol UP TO the crash point: build a complete
    // compacted tmp, move the live partition aside — then "die" before
    // the tmp→live rename (exactly the state compactionExecute's own
    // swap leaves if killed between its two renames)
    val partP = new org.apache.hadoop.fs.Path(p, "part=frag")
    val tmpP = new org.apache.hadoop.fs.Path(p, "part=frag.tmp")
    val oldP = new org.apache.hadoop.fs.Path(p, "part=frag.old")
    val work = new org.apache.hadoop.fs.Path(p, ".work_crash")
    spark.read.parquet(partP.toString).coalesce(1)
      .write.parquet(work.toString)
    fs.mkdirs(tmpP)
    val data = fs.listStatus(work).map(_.getPath)
      .filter(f => !f.getName.startsWith("_"))
    assert(data.length == 1)
    assert(fs.rename(data.head,
      new org.apache.hadoop.fs.Path(tmpP, "compacted-0.parquet")))
    fs.delete(work, true)
    assert(fs.rename(partP, oldP)) // live gone; tmp + old remain — CRASH
    // re-run: the recovery sweep must promote the tmp and drop the old
    MergeOps.compactionExecute(spark, dir,
      targetBytes = 1L << 20, smallThreshold = 8192L)
    val after = spark.read.parquet(dir).select("id", "payload", "part")
      .collect()
    assert(after.toSet == before, "rows changed across crash recovery")
    assert(after.length == before.size, "duplicate rows after recovery")
    assert(fs.listStatus(p).map(_.getPath.getName).forall(n =>
      !n.endsWith(".tmp") && !n.endsWith(".old")))
    // the promoted partition is the compacted build, not a re-read of old
    val files = fs.listStatus(partP).map(_.getPath.getName)
      .filter(n => !n.startsWith("_") && !n.startsWith("."))
    assert(files.sameElements(Array("compacted-0.parquet")), files.toSeq)
    fs.delete(p, true)
  }

  test("compactionExecute: post-commit crash residue (.old beside a live " +
    "partition) is dropped without touching the live files") {
    val dir = "/tmp/graft_test_compact_crash_old"
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(p, true)
    Seq.tabulate(30)(i => (i.toLong, "z" * 40, "frag"))
      .toDF("id", "payload", "part").coalesce(1)
      .write.partitionBy("part").mode("overwrite").parquet(dir)
    val before = spark.read.parquet(dir).select("id", "payload", "part")
      .collect().toSet
    // stale pre-swap partition content left as .old (crash after the
    // tmp→live rename but before the cleanup delete)
    val oldP = new org.apache.hadoop.fs.Path(p, "part=frag.old")
    fs.mkdirs(oldP)
    val out = fs.create(new org.apache.hadoop.fs.Path(oldP, "stale.parquet"))
    out.write(Array.fill(16)(0xCD.toByte)); out.close()
    MergeOps.compactionExecute(spark, dir,
      targetBytes = 1L << 20, smallThreshold = 8192L)
    assert(spark.read.parquet(dir).select("id", "payload", "part")
      .collect().toSet == before)
    assert(fs.listStatus(p).map(_.getPath.getName).forall(n =>
      !n.endsWith(".tmp") && !n.endsWith(".old")))
    fs.delete(p, true)
  }

  test("TableLog serializes refresh running CONCURRENTLY with compaction " +
    "on the same fact: rows converge to the sequential result with no " +
    "losses or duplicates, the commit log is dense, and the latest " +
    "manifest matches the live listing") {
    import graft.operators.TableLog
    val root = java.nio.file.Files.createTempDirectory("graft_txlog")
      .toString
    val base = s"$root/fact"
    val p = new org.apache.hadoop.fs.Path(base)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val today = LocalDate.parse("2024-03-01")
    // fragmented initial fact: compaction has real work in BOTH the
    // historical and the window partition
    entries((1 to 20).map(i =>
        (s"h$i", "x", java.sql.Date.valueOf("2024-01-01"), i.toDouble)) ++
      (1 to 20).map(i =>
        (s"w$i", "x", java.sql.Date.valueOf("2024-02-26"), i.toDouble)): _*)
      .repartition(4).write.partitionBy("start_date_oslo").parquet(base)
    val staging = entries((1 to 20).map(i =>
        (s"w$i", "y", java.sql.Date.valueOf("2024-02-26"), i * 10.0)) ++
      (1 to 5).map(i =>
        (s"n$i", "y", java.sql.Date.valueOf("2024-02-28"), i.toDouble)): _*)
      .localCheckpoint(true) // both threads plan against a pinned input
    // sequential oracle on a COPY: refresh twice + compaction is
    // row-idempotent, so any serialized interleaving must land here
    val seqBase = s"$root/fact_seq"
    entries((1 to 20).map(i =>
        (s"h$i", "x", java.sql.Date.valueOf("2024-01-01"), i.toDouble)) ++
      (1 to 20).map(i =>
        (s"w$i", "x", java.sql.Date.valueOf("2024-02-26"), i.toDouble)): _*)
      .repartition(4).write.partitionBy("start_date_oslo").parquet(seqBase)
    MergeOps.refreshPartitioned(spark, seqBase, staging, days = 7,
      todayOslo = today)
    val expected = spark.read.parquet(seqBase)
      .select("id", "value").collect()
      .map(r => (r.getString(0), r.getDouble(1))).toSet
    // concurrent run: interleave 2 refreshes with 3 compactions
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val start = new java.util.concurrent.CountDownLatch(1)
    def thread(body: => Unit) = new Thread(() => {
      start.await()
      try body catch { case t: Throwable => errs.add(t) }
    })
    val ta = thread {
      MergeOps.refreshPartitioned(spark, base, staging, 7, today)
      MergeOps.refreshPartitioned(spark, base, staging, 7, today)
    }
    val tb = thread {
      (1 to 3).foreach(_ => MergeOps.compactionExecute(spark, base,
        targetBytes = 1L << 20, smallThreshold = 8192L))
    }
    ta.start(); tb.start(); start.countDown()
    ta.join(180000); tb.join(180000)
    assert(errs.isEmpty, s"concurrent mutator failed: ${errs.peek()}")
    val got = spark.read.parquet(base).select("id", "value").collect()
      .map(r => (r.getString(0), r.getDouble(1)))
    assert(got.length == got.toSet.size, "duplicate rows after the race")
    assert(got.toSet == expected, "rows diverged from the serialized result")
    // commit log: 5 commits, versions dense 1..5, actions accounted for
    val log = TableLog.snapshot(spark, base)
      .select("version", "action").distinct().collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    assert(log.map(_._1).toSeq == (1L to 5L), s"log not dense: ${log.toSeq}")
    assert(log.count(_._2 == "refresh") == 2 &&
      log.count(_._2 == "compaction") == 3, log.toSeq)
    // stale-reader safety surface: the latest manifest matches the live
    // file listing exactly (no missing / new / resized drift)
    assert(TableLog.validateSnapshot(spark, base).isEmpty)
    // no swap residue anywhere
    assert(fs.listStatus(p).map(_.getPath.getName).forall(n =>
      !n.endsWith(".tmp") && !n.endsWith(".old")))
    fs.delete(new org.apache.hadoop.fs.Path(root), true)
  }

  test("TableLog: a crashed writer's stale lock is broken after " +
    "staleLockMs; a live lock blocks until released; commits record " +
    "touched partitions") {
    import graft.operators.TableLog
    val root = java.nio.file.Files.createTempDirectory("graft_txlock")
      .toString + "/t"
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(root, "part=a"))
    // normal path: commit recorded with the touched partition's listing
    TableLog.withExclusive(spark, root, "touch") {
      val out = fs.create(new org.apache.hadoop.fs.Path(root,
        "part=a/f1.parquet"), true)
      out.write(Array.fill(8)(1.toByte)); out.close()
      ()
    }(_ => Seq("part=a"))
    val snap = TableLog.snapshot(spark, root).collect()
    assert(snap.length == 1)
    assert(snap.head.getLong(0) == 1L &&
      snap.head.getString(1) == "touch" &&
      snap.head.getString(2) == "part=a" &&
      snap.head.getString(3) == "f1.parquet" && snap.head.getLong(4) == 8L)
    // crashed writer: plant an orphaned lock, backdate it, and verify a
    // new writer breaks it instead of timing out
    val lockP = new org.apache.hadoop.fs.Path(root, "_graft_log/_lock")
    val out = fs.create(lockP, false)
    out.write("{\"owner\":\"dead\"}".getBytes("UTF-8")); out.close()
    fs.setTimes(lockP, System.currentTimeMillis() - 3600000L, -1)
    TableLog.withExclusive(spark, root, "after-crash",
      waitMs = 5000L, staleLockMs = 60000L) { () }(_ => Seq("part=a"))
    assert(TableLog.currentVersion(spark, root) == 2L)
    assert(!fs.exists(lockP), "lock must be released after commit")
    fs.delete(new org.apache.hadoop.fs.Path(root).getParent, true)
  }

  test("TableLog.readValidated: a reader racing a compaction swap " +
    "detects the drift and re-plans instead of throwing " +
    "FileNotFoundException; log truncation never disturbs a reader") {
    import graft.operators.TableLog
    val root = java.nio.file.Files.createTempDirectory("graft_txread")
      .toString
    val base = s"$root/fact"
    // fragmented single-partition fact: compaction has real work, so the
    // swap genuinely replaces the files a pre-swap listing captured
    entries((1 to 24).map(i =>
        (s"r$i", "x", java.sql.Date.valueOf("2024-01-01"), i.toDouble)): _*)
      .repartition(6).write.partitionBy("start_date_oslo").parquet(base)
    val expected = (1 to 24).map(i => (s"r$i", i.toDouble)).toSet
    // deterministic race: the FIRST planning captures the pristine file
    // listing, then a compaction swaps those files away BEFORE the
    // reader materializes — exactly the mid-scan hazard. readValidated
    // must catch the resulting drift (file-not-found or version
    // watermark) and re-plan; the second attempt sees a quiet table.
    var attempts = 0
    val out = TableLog.readValidated(spark, base) {
      attempts += 1
      val df = spark.read.parquet(base).select("id", "value")
      if (attempts == 1)
        MergeOps.compactionExecute(spark, base,
          targetBytes = 1L << 20, smallThreshold = 8192L)
      df
    }
    assert(attempts == 2, s"expected one drift retry, got $attempts")
    assert(out.collect().map(r => (r.getString(0), r.getDouble(1))).toSet
      == expected)
    // retention: truncating the log to the newest manifest preserves the
    // version watermark and the read path end-to-end
    val vBefore = TableLog.currentVersion(spark, base)
    TableLog.truncateLog(spark, base, keep = 1)
    assert(TableLog.currentVersion(spark, base) == vBefore)
    val again = TableLog.readValidated(spark, base) {
      spark.read.parquet(base).select("id", "value")
    }
    assert(again.collect().map(r => (r.getString(0), r.getDouble(1))).toSet
      == expected)
    new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path(root), true)
  }

  test("LogTable MVCC: time travel reads every retained version " +
    "bit-exactly, a reader planned before a replace survives it " +
    "structurally, partition delete is metadata-only, vacuum reclaims " +
    "unreferenced files and fails vacuumed reads loudly") {
    import graft.operators.LogTable
    val root = java.nio.file.Files.createTempDirectory("graft_logtab")
      .toString + "/t"
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("id", "value").collect()
        .map(r => (r.getString(0), r.getDouble(1))).toSet
    // v1: two partitions
    val v1 = LogTable.init(entries(
      ("a1", "x", java.sql.Date.valueOf("2024-01-01"), 1.0),
      ("a2", "x", java.sql.Date.valueOf("2024-01-01"), 2.0),
      ("b1", "x", java.sql.Date.valueOf("2024-01-02"), 3.0)), root)
    assert(v1 == 1L)
    // plan v1 BEFORE the replace: manifest-planned files are immutable,
    // so this frame must stay readable across the mutation with NO
    // revalidation loop — isolation is structural, not optimistic
    val planned = LogTable.read(spark, root)
    // v2: replace the 01-01 partition (a2 dropped, a3 added)
    val v2 = LogTable.replacePartitions(spark, root, entries(
      ("a1", "y", java.sql.Date.valueOf("2024-01-01"), 10.0),
      ("a3", "y", java.sql.Date.valueOf("2024-01-01"), 30.0)))
    assert(v2 == 2L)
    assert(rows(planned) ==
      Set(("a1", 1.0), ("a2", 2.0), ("b1", 3.0)), "pre-replace plan torn")
    // time travel: both versions bit-exact
    assert(rows(LogTable.read(spark, root, Some(1L))) ==
      Set(("a1", 1.0), ("a2", 2.0), ("b1", 3.0)))
    assert(rows(LogTable.read(spark, root)) ==
      Set(("a1", 10.0), ("a3", 30.0), ("b1", 3.0)))
    // metadata-only delete: no file touched, one manifest appended
    val filesBefore = fs.listStatus(new org.apache.hadoop.fs.Path(root,
      "start_date_oslo=2024-01-02")).map(_.getPath.getName).toSet
    val v3 = LogTable.removePartitions(spark, root,
      Seq("start_date_oslo=2024-01-02"))
    assert(v3 == 3L)
    assert(rows(LogTable.read(spark, root)) ==
      Set(("a1", 10.0), ("a3", 30.0)))
    assert(fs.listStatus(new org.apache.hadoop.fs.Path(root,
      "start_date_oslo=2024-01-02")).map(_.getPath.getName).toSet ==
      filesBefore, "metadata delete must not touch data files")
    // ...and the delete is undone by reading one version back
    assert(rows(LogTable.read(spark, root, Some(2L)))
      .contains(("b1", 3.0)))
    // vacuum to the latest version only: v1's superseded 01-01 files and
    // the retired 01-02 partition go away; old reads now fail LOUDLY
    val (droppedV, deletedF) = LogTable.vacuum(spark, root, keepLast = 1, minAgeMs = 0L)
    assert(droppedV == 2 && deletedF >= 2, s"($droppedV, $deletedF)")
    assert(rows(LogTable.read(spark, root)) ==
      Set(("a1", 10.0), ("a3", 30.0)))
    val e = intercept[RuntimeException] {
      LogTable.read(spark, root, Some(1L))
    }
    assert(e.getMessage.contains("not retained"))
    // TableLog's audit surface reads the same log unchanged
    assert(graft.operators.TableLog.currentVersion(spark, root) == 3L)
    fs.delete(new org.apache.hadoop.fs.Path(root).getParent, true)
  }

  test("LogTable zone maps: readSkipping plans ONLY files whose min/max " +
    "zone intersects the range, results equal scan+filter, stat-less " +
    "files are never skipped, and compact preserves every version, " +
    "shrinks the file count, and re-stats the packed files") {
    import graft.operators.LogTable
    val root = java.nio.file.Files.createTempDirectory("graft_logskip")
      .toString + "/t"
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val d = java.sql.Date.valueOf("2024-01-01")
    def batch(lo: Int, hi: Int) = entries(
      (lo to hi).map(i => (s"e$i", "x", d, i.toDouble)): _*)
    // three appends -> three files with disjoint value zones [1,10],
    // [11,20], [21,30] in ONE partition (zones, not partitions, prune)
    LogTable.init(batch(1, 10).repartition(1), root,
      statsCols = Seq("value"))
    LogTable.append(spark, root, batch(11, 20).repartition(1))
    LogTable.append(spark, root, batch(21, 30).repartition(1))
    val full = LogTable.read(spark, root)
    assert(full.inputFiles.length == 3)
    // the [12,13] probe must plan exactly the middle file
    val skip = LogTable.readSkipping(spark, root, "value", 12.0, 13.0)
    assert(skip.inputFiles.length == 1,
      s"zone skipping planned ${skip.inputFiles.length} files")
    def vals(df: org.apache.spark.sql.DataFrame) =
      df.filter(col("value").between(12.0, 13.0))
        .select("id").as[String].collect().toSet
    assert(vals(skip) == vals(full) && vals(skip) == Set("e12", "e13"))
    // a zone-missing range plans nothing and returns an empty frame
    assert(LogTable.readSkipping(spark, root, "value", 500.0, 600.0)
      .count() == 0L)
    // probing a column without zone maps fails loudly
    val e = intercept[IllegalArgumentException] {
      LogTable.readSkipping(spark, root, "id", 1.0, 2.0)
    }
    assert(e.getMessage.contains("zone maps"))
    // OPTIMIZE: bin-pack the three small files; every version survives
    val preVersion = graft.operators.TableLog.currentVersion(spark, root)
    val v = LogTable.compact(spark, root, targetBytes = 1L << 30)
    assert(v == preVersion + 1)
    val packed = LogTable.read(spark, root)
    assert(packed.inputFiles.length == 1,
      s"compaction left ${packed.inputFiles.length} files")
    assert(packed.select("id").as[String].collect().toSet ==
      full.select("id").as[String].collect().toSet)
    // time travel to the pre-compact version still plans the 3 old files
    assert(LogTable.read(spark, root, Some(preVersion))
      .inputFiles.length == 3)
    // the packed file was re-statted: skipping still works post-compact
    assert(vals(LogTable.readSkipping(spark, root, "value", 12.0, 13.0))
      == Set("e12", "e13"))
    // an already-compact table is a no-op commit-wise
    assert(LogTable.compact(spark, root, 1L << 30) == v)
    // vacuum reclaims the three superseded files
    val (_, deleted) = LogTable.vacuum(spark, root, keepLast = 1, minAgeMs = 0L)
    assert(deleted == 3, s"vacuum deleted $deleted")
    assert(LogTable.read(spark, root).select("id").as[String].collect()
      .toSet.size == 30)
    fs.delete(new org.apache.hadoop.fs.Path(root).getParent, true)
  }

  test("LogTable MERGE: only files holding a matched key are rewritten " +
    "(untouched file byte-identical), matched rows are replaced, new " +
    "keys inserted, prior versions intact, duplicate source keys fail " +
    "loudly, and the change feed is the exact file-diff multiset") {
    import graft.operators.LogTable
    val root = java.nio.file.Files.createTempDirectory("graft_logmrg")
      .toString + "/t"
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("id", "value").collect()
        .map(r => (r.getString(0), r.getDouble(1))).toSet
    val d1 = java.sql.Date.valueOf("2024-01-01")
    val d2 = java.sql.Date.valueOf("2024-01-02")
    val d3 = java.sql.Date.valueOf("2024-01-03")
    val v1 = LogTable.init(entries(
      ("a1", "x", d1, 1.0), ("a2", "x", d1, 2.0),
      ("b1", "x", d2, 3.0)).repartition(col("start_date_oslo")), root)
    assert(v1 == 1L)
    val b1Files = fs.listStatus(new org.apache.hadoop.fs.Path(root,
      "start_date_oslo=2024-01-02"))
      .map(s => (s.getPath.getName, s.getModificationTime)).toSet
    // update a1 in place, insert c9 into a brand-new partition
    val v2 = LogTable.merge(spark, root, entries(
      ("a1", "y", d1, 10.0), ("c9", "y", d3, 9.0)), Seq("id"))
    assert(v2 == 2L)
    assert(rows(LogTable.read(spark, root)) ==
      Set(("a1", 10.0), ("a2", 2.0), ("b1", 3.0), ("c9", 9.0)))
    // the 01-02 file held no matched key: byte-identical, never rewritten
    assert(fs.listStatus(new org.apache.hadoop.fs.Path(root,
      "start_date_oslo=2024-01-02"))
      .map(s => (s.getPath.getName, s.getModificationTime)).toSet ==
      b1Files, "merge rewrote a file with no matched key")
    // time travel: v1 unchanged
    assert(rows(LogTable.read(spark, root, Some(1L))) ==
      Set(("a1", 1.0), ("a2", 2.0), ("b1", 3.0)))
    // duplicate source keys fail loudly (Delta's multiple-match contract)
    val e = intercept[IllegalArgumentException] {
      LogTable.merge(spark, root, entries(
        ("a2", "y", d1, 7.0), ("a2", "z", d1, 8.0)), Seq("id"))
    }
    assert(e.getMessage.contains("duplicate"))
    // change feed v1 -> v2: a1 old out, a1 new + c9 in; a2/b1 (survivor
    // rewrite of a2 cancels? no — a2 was re-appended into the new file
    // AND removed with the old file, so it cancels) produce nothing
    val feed = LogTable.changes(spark, root, 1L, 2L)
      .select("id", "value", "_change_type", "n_rows").collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getString(2),
        r.getLong(3))).toSet
    assert(feed == Set(("a1", 1.0, "delete", 1L),
      ("a1", 10.0, "insert", 1L), ("c9", 9.0, "insert", 1L)),
      s"feed was $feed")
    // OPTIMIZE between versions: the feed across a pure compaction is
    // EMPTY — every rewritten row cancels in the multiset diff
    val v3 = LogTable.append(spark, root,
      entries(("a5", "x", d1, 5.0)).repartition(1))
    val v4 = LogTable.compact(spark, root, targetBytes = 1L << 30)
    assert(v4 == v3 + 1, "compaction should have packed the 2-file part")
    assert(LogTable.changes(spark, root, v3, v4).count() == 0L,
      "a pure compaction must produce an empty change feed")
    assert(LogTable.changes(spark, root, v2, v3)
      .select("id").as[String].collect().toSeq == Seq("a5"))
    // keyed CDC classification (r15, the Delta-CDF row shape): across
    // v1 -> v2 the a1 delete+insert pair becomes update pre/post
    // images, c9 stays a plain insert
    val keyed = LogTable.changesKeyed(spark, root, 1L, 2L, Seq("id"))
      .select("id", "value", "_change_type").collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getString(2))).toSet
    assert(keyed == Set(("a1", 1.0, "update_preimage"),
      ("a1", 10.0, "update_postimage"), ("c9", 9.0, "insert")),
      s"keyed feed was $keyed")
    // ...and across a DV delete the one-sided key classifies as a
    // true delete
    val vD = LogTable.delete(spark, root, col("id") === "b1")
    val keyedD = LogTable.changesKeyed(spark, root, vD - 1L, vD,
      Seq("id")).select("id", "_change_type").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(keyedD == Set(("b1", "delete")), s"was $keyedD")
    intercept[IllegalArgumentException] {
      LogTable.changesKeyed(spark, root, 1L, 2L, Seq("nope"))
    }
    fs.delete(new org.apache.hadoop.fs.Path(root).getParent, true)
  }

  test("TableLog heartbeat: a slow LIVE holder keeps its lock fresh, so " +
    "it can never be mistaken for a crashed writer") {
    import graft.operators.TableLog
    val root = java.nio.file.Files.createTempDirectory("graft_txhb")
      .toString + "/t"
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(root))
    val lockP = new org.apache.hadoop.fs.Path(root, "_graft_log/_lock")
    val holder = new Thread(() =>
      TableLog.withExclusive(spark, root, "slow",
        staleLockMs = 4000L) { Thread.sleep(5500); () }(_ => Seq.empty))
    holder.start()
    Thread.sleep(1200) // let the lock appear
    val ages = scala.collection.mutable.ArrayBuffer[Long]()
    while (holder.isAlive) {
      if (fs.exists(lockP))
        ages += System.currentTimeMillis() -
          fs.getFileStatus(lockP).getModificationTime
      Thread.sleep(500)
    }
    holder.join(10000)
    // the mutation ran well past staleLockMs, but the heartbeat
    // (staleLockMs/4 = 1 s) kept observed lock age far below it
    assert(ages.nonEmpty, "never observed the live lock")
    assert(ages.max < 3000L,
      s"heartbeat failed to keep the lock fresh (max age ${ages.max} ms)")
    assert(TableLog.currentVersion(spark, root) == 1L)
    assert(!fs.exists(lockP))
    fs.delete(new org.apache.hadoop.fs.Path(root).getParent, true)
  }

  test("LogTable schema evolution: append with a new nullable column " +
    "null-fills old files, time travel returns each version's own " +
    "schema, compaction keeps the evolved schema, and drops/retypes " +
    "fail loudly") {
    import graft.operators.LogTable
    val root = java.nio.file.Files.createTempDirectory("graft_ltse")
      .toString + "/t"
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val d = java.sql.Date.valueOf("2024-01-01")
    LogTable.init(Seq(("a1", 1.0, d), ("a2", 2.0, d))
      .toDF("id", "value", "start_date_oslo"), root)
    // v2 adds a nullable string column
    LogTable.append(spark, root, Seq(("b1", 3.0, d, "x"))
      .toDF("id", "value", "start_date_oslo", "tag"))
    val cur = LogTable.read(spark, root)
    assert(cur.columns.toSet ==
      Set("id", "value", "tag", "start_date_oslo"))
    val rows = cur.select("id", "tag").collect()
      .map(r => (r.getString(0), Option(r.getString(1)))).toSet
    assert(rows == Set(("a1", None), ("a2", None), ("b1", Some("x"))),
      "old files must null-fill the added column")
    // schema time travel: v1 never shows the later column
    assert(LogTable.read(spark, root, Some(1L)).columns.toSet ==
      Set("id", "value", "start_date_oslo"))
    // compaction reads mixed-schema files with the MANIFEST schema —
    // without it, parquet's no-merge default could resolve to the old
    // 2-column file and silently drop `tag`
    LogTable.compact(spark, root, targetBytes = 1L << 30)
    val packed = LogTable.read(spark, root)
    assert(packed.inputFiles.length == 1)
    assert(packed.select("id", "tag").collect()
      .map(r => (r.getString(0), Option(r.getString(1)))).toSet == rows)
    // an APPEND omitting an existing NULLABLE column is not a drop
    // (r15, the concurrent-writer contract): the DDL carries `tag`
    // forward and the new rows null-fill it — writer B need not know
    // about the column writer A added a moment ago
    LogTable.append(spark, root,
      Seq(("c1", 4.0, d)).toDF("id", "value", "start_date_oslo"))
    assert(LogTable.read(spark, root).columns.contains("tag"))
    assert(LogTable.read(spark, root).filter(col("id") === "c1")
      .select("tag").collect().head.isNullAt(0))
    // ...but a FULL-CONTENT op omitting a column is a real drop and
    // fails loudly
    val eDrop = intercept[IllegalArgumentException] {
      LogTable.overwrite(spark, root,
        Seq(("c2", 5.0, d)).toDF("id", "value", "start_date_oslo"))
    }
    assert(eDrop.getMessage.contains("add-only"))
    // retyping a column fails loudly
    val eType = intercept[IllegalArgumentException] {
      LogTable.append(spark, root, Seq(("c1", 4L, d, "y"))
        .toDF("id", "value", "start_date_oslo", "tag"))
    }
    assert(eType.getMessage.contains("retypes"))
    fs.delete(new org.apache.hadoop.fs.Path(root).getParent, true)
  }

  test("LogTable RESTORE: rolls the head back to a retained version " +
    "byte-exactly with zero data I/O, the undone history still " +
    "time-travels, the restore itself is undoable, and a vacuumed " +
    "target fails loudly") {
    import graft.operators.LogTable
    val root = java.nio.file.Files.createTempDirectory("graft_ltrs")
      .toString + "/t"
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val d = java.sql.Date.valueOf("2024-01-01")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("id", "value").collect()
        .map(r => (r.getString(0), r.getDouble(1))).toSet
    LogTable.init(entries(("a1", "x", d, 1.0), ("a2", "x", d, 2.0)), root)
    LogTable.replacePartitions(spark, root,
      entries(("a1", "y", d, 10.0)))
    val dataFilesBefore = fs.listStatus(new org.apache.hadoop.fs.Path(
      root, s"start_date_oslo=$d")).map(_.getPath.getName).toSet
    val v3 = LogTable.restore(spark, root, 1L)
    assert(v3 == 3L)
    // zero data I/O: not one data file appeared
    assert(fs.listStatus(new org.apache.hadoop.fs.Path(root,
      s"start_date_oslo=$d")).map(_.getPath.getName).toSet ==
      dataFilesBefore)
    // head == v1 byte-exactly; the undone v2 still time-travels
    assert(rows(LogTable.read(spark, root)) ==
      Set(("a1", 1.0), ("a2", 2.0)))
    assert(rows(LogTable.read(spark, root, Some(2L))) ==
      Set(("a1", 10.0)))
    // restore forward again: undo the undo
    LogTable.restore(spark, root, 2L)
    assert(rows(LogTable.read(spark, root)) == Set(("a1", 10.0)))
    // vacuum to the head only, then restoring to a reclaimed version
    // fails loudly instead of committing a torn live set
    LogTable.vacuum(spark, root, keepLast = 1, minAgeMs = 0L)
    val e = intercept[RuntimeException] {
      LogTable.restore(spark, root, 1L)
    }
    assert(e.getMessage.contains("not retained"))
    fs.delete(new org.apache.hadoop.fs.Path(root).getParent, true)
  }

  test("LogTable OPTIMIZE ZORDER: arrival-order appends leave every " +
    "zone spanning the full range (skipping prunes nothing); the " +
    "z-order rewrite tightens zones so the same probe plans fewer " +
    "files with identical rows, prior versions intact, new files " +
    "re-statted") {
    import graft.operators.LogTable
    val root = java.nio.file.Files.createTempDirectory("graft_ltzo")
      .toString + "/t"
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val d = java.sql.Date.valueOf("2024-01-01")
    // 60 rows, value 1..60, x = value % 10 — appended INTERLEAVED
    // (value % 3 slices), so each of the 3 files' value zone spans
    // nearly [1, 60] and zone skipping cannot prune
    def slice(m: Int) = (1 to 60).filter(_ % 3 == m)
      .map(i => (s"e$i", i.toLong % 10L, i.toDouble, d))
      .toDF("id", "x", "value", "start_date_oslo")
    LogTable.init(slice(0).repartition(1), root,
      statsCols = Seq("value", "x"))
    LogTable.append(spark, root, slice(1).repartition(1))
    LogTable.append(spark, root, slice(2).repartition(1))
    val before = LogTable.readSkipping(spark, root, "value", 12.0, 13.0)
    assert(before.inputFiles.length == 3,
      "interleaved zones must defeat skipping pre-rewrite")
    val preV = graft.operators.TableLog.currentVersion(spark, root)
    val v = LogTable.optimizeZorder(spark, root, Seq("value", "x"),
      bits = 6, filesPerPartition = 3)
    assert(v == preV + 1)
    val after = LogTable.readSkipping(spark, root, "value", 12.0, 13.0)
    assert(after.inputFiles.length < 3,
      s"z-order rewrite failed to tighten zones " +
        s"(${after.inputFiles.length} files planned)")
    def band(df: org.apache.spark.sql.DataFrame) =
      df.filter(col("value").between(12.0, 13.0))
        .select("id").as[String].collect().toSet
    assert(band(after) == Set("e12", "e13"))
    // full content identical across the rewrite
    assert(LogTable.read(spark, root).select("id").as[String]
      .collect().toSet ==
      LogTable.read(spark, root, Some(preV)).select("id").as[String]
        .collect().toSet)
    // time travel: the pre-rewrite version still plans its 3 old files
    assert(LogTable.read(spark, root, Some(preV)).inputFiles.length == 3)
    // conjunctive 2-D probe: the intersection of the per-column
    // survivor sets — on the cell tiling this is exactly one quadrant
    // file where each single-column probe plans its half
    val both = LogTable.readSkippingAll(spark, root,
      Seq(("value", 12.0, 13.0), ("x", 2.0, 3.0)))
    assert(both.inputFiles.length <
      LogTable.readSkipping(spark, root, "value", 12.0, 13.0)
        .inputFiles.length ||
      both.inputFiles.length == 1,
      s"conjunction failed to intersect (${both.inputFiles.length})")
    assert(both.filter(col("value").between(12.0, 13.0) &&
      col("x").between(2L, 3L)).select("id").as[String].collect().toSet ==
      Set("e12", "e13"))
    // vacuum reclaims the 3 superseded arrival-order files
    val (_, deleted) = LogTable.vacuum(spark, root, keepLast = 1, minAgeMs = 0L)
    assert(deleted == 3, s"vacuum deleted $deleted")
    assert(LogTable.read(spark, root).count() == 60L)
    fs.delete(new org.apache.hadoop.fs.Path(root).getParent, true)
  }

  test("OPTIMIZE ZORDER stages ALL touched partitions in ONE write " +
    "(r16 verdict #1): a 3-partition rewrite submits exactly one " +
    "staged job, every (partition, curve-cell) still owns its own " +
    "file, zones tighten per partition, and values are intact") {
    import graft.operators.{LogTable, TableLog}
    val root = java.nio.file.Files.createTempDirectory("graft_zo1j")
      .toString + "/t"
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // 3 partitions × 2 interleaved appends: every file's value zone
    // spans nearly the full range in every partition
    def slice(m: Int) = (1 to 3).flatMap { p =>
      (1 to 60).filter(_ % 2 == m).map(i =>
        (s"e$p-$i", i.toLong % 10L, i.toDouble,
          java.sql.Date.valueOf(f"2024-01-0$p%d")))
    }.toDF("id", "x", "value", "start_date_oslo")
    LogTable.init(slice(0).repartition(1), root,
      statsCols = Seq("value", "x"))
    LogTable.append(spark, root, slice(1).repartition(1))
    val preV = TableLog.currentVersion(spark, root)
    val before = LogTable.read(spark, root).select("id").as[String]
      .collect().toSet
    val writes0 = LogTable.stagedWrites.get()
    val v = LogTable.optimizeZorder(spark, root, Seq("value", "x"),
      bits = 6, filesPerPartition = 4)
    assert(LogTable.stagedWrites.get() - writes0 == 1L,
      "zorder must stage all touched partitions in ONE write, " +
        s"staged ${LogTable.stagedWrites.get() - writes0}")
    assert(v == preV + 1)
    val m = LogTable.manifest(spark, root, v)
    // exact cell→file mapping survives the composite slot: each of
    // the 3 partitions lands its own 4 cell files
    assert(m.parts.size == 3 && m.parts.values.forall(_.size == 4),
      s"per-partition cell files: ${m.parts.map { case (p, fl) =>
        p -> fl.size }}")
    assert(LogTable.read(spark, root).select("id").as[String]
      .collect().toSet == before)
    // zones tightened in EVERY partition: a narrow value probe plans
    // fewer than all 12 files
    val probe = LogTable.readSkipping(spark, root, "value", 12.0, 13.0)
    assert(probe.inputFiles.length < 12,
      s"zones did not tighten (${probe.inputFiles.length} planned)")
    // time travel: the pre-rewrite version still plans its 6 files
    assert(LogTable.read(spark, root, Some(preV)).inputFiles.length == 6)
    // parts-scoped rewrite: clustering ONE named partition leaves the
    // other two byte-identical
    val onePart = m.parts.keys.toSeq.sorted.head
    val v2 = LogTable.optimizeZorder(spark, root, Seq("value", "x"),
      bits = 6, filesPerPartition = 2, parts = Some(Seq(onePart)))
    val m2 = LogTable.manifest(spark, root, v2)
    assert(m2.parts(onePart).size == 2 &&
      m2.parts.filterNot(_._1 == onePart)
        .forall { case (p, fl) => fl.toSet == m.parts(p).toSet },
      s"parts-scoped zorder must touch only $onePart")
    fs.delete(new org.apache.hadoop.fs.Path(root).getParent, true)
  }

  test("zorder grid bounds FOLD from manifest zones (r17 verdict #1): " +
    "a parts-scoped zorder on a stats-column table runs ZERO bounds " +
    "scans and zero Spark jobs for its bounds, the folded bounds " +
    "equal the scan's, the fallback path still scans once, and a " +
    "slot-capped run chunks its jobs while landing ONE commit") {
    import graft.operators.{LogTable, TableLog}
    val root = java.nio.file.Files.createTempDirectory("graft_zob")
      .toString + "/t"
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def slice(m: Int) = (1 to 3).flatMap { p =>
      (1 to 60).filter(_ % 2 == m).map(i =>
        (s"e$p-$i", i.toLong % 10L, i.toDouble,
          java.sql.Date.valueOf(f"2024-01-0$p%d")))
    }.toDF("id", "x", "value", "start_date_oslo")
    LogTable.init(slice(0).repartition(1), root,
      statsCols = Seq("value", "x"))
    LogTable.append(spark, root, slice(1).repartition(1))
    val v = TableLog.currentVersion(spark, root)
    val m = LogTable.manifest(spark, root, v)
    // 1) the fold itself: correct bounds, zero jobs submitted
    val jobs = new java.util.concurrent.atomic.AtomicLong(0L)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      org.apache.spark.sql.graftshim.ListenerShim
        .waitUntilEmpty(spark.sparkContext)
      val j0 = jobs.get()
      val (bounds, folded) = LogTable.zorderBounds(spark, root, m,
        Seq("value", "x"), v)
      org.apache.spark.sql.graftshim.ListenerShim
        .waitUntilEmpty(spark.sparkContext)
      assert(folded, "stats-column bounds must fold from the manifest")
      assert(jobs.get() == j0,
        s"manifest fold submitted ${jobs.get() - j0} Spark job(s)")
      // scan-derived truth (no DVs here, so fold == scan exactly)
      assert(bounds == Seq((1.0, 60.0), (0.0, 9.0)), bounds.toString)
    } finally spark.sparkContext.removeSparkListener(listener)
    // 2) a parts-scoped zorder takes the fold path: no bounds scan
    val scans0 = LogTable.zorderBoundsScans.get()
    val before = LogTable.read(spark, root).select("id").as[String]
      .collect().toSet
    val onePart = m.parts.keys.toSeq.sorted.head
    val v2 = LogTable.optimizeZorder(spark, root, Seq("value", "x"),
      bits = 6, filesPerPartition = 4, parts = Some(Seq(onePart)))
    assert(LogTable.zorderBoundsScans.get() == scans0,
      "a stats-column zorder must not scan the table for grid bounds")
    assert(LogTable.manifest(spark, root, v2).parts(onePart).size == 4)
    assert(LogTable.read(spark, root).select("id").as[String]
      .collect().toSet == before)
    // 3) a NON-stats cluster column falls back to exactly one scan —
    // value2 has no zones (not declared), so the fold cannot prove
    // bounds
    val withExtra = LogTable.read(spark, root)
      .withColumn("value2", col("value") * 3)
    LogTable.overwrite(spark, root, withExtra)
    val v3 = TableLog.currentVersion(spark, root)
    val m3 = LogTable.manifest(spark, root, v3)
    val (b2, folded2) = LogTable.zorderBounds(spark, root, m3,
      Seq("value2", "x"), v3)
    assert(!folded2 &&
      LogTable.zorderBoundsScans.get() == scans0 + 1L)
    assert(b2.head == ((3.0, 180.0)), b2.toString)
    // 4) slot-capped chunking (r17 advice): nCells = 4 with a cap of
    // 4 slots/job → one partition per chunk → 3 staged writes, but
    // still ONE commit and the exact per-(partition, cell) layout
    spark.conf.set("spark.graft.logtable.zorderMaxSlotsPerJob", "4")
    try {
      val writes0 = LogTable.stagedWrites.get()
      val preV = TableLog.currentVersion(spark, root)
      val v4 = LogTable.optimizeZorder(spark, root, Seq("value", "x"),
        bits = 6, filesPerPartition = 4)
      assert(v4 == preV + 1, "chunked zorder must land ONE commit")
      assert(LogTable.stagedWrites.get() - writes0 == 3L,
        s"cap 4/nCells 4 over 3 partitions must stage 3 chunks, " +
          s"staged ${LogTable.stagedWrites.get() - writes0}")
      val m4 = LogTable.manifest(spark, root, v4)
      assert(m4.parts.size == 3 && m4.parts.values.forall(_.size == 4),
        s"per-partition cell files: ${m4.parts.map { case (p, fl) =>
          p -> fl.size }}")
      assert(LogTable.read(spark, root).select("id").as[String]
        .collect().toSet == before)
    } finally
      spark.conf.unset("spark.graft.logtable.zorderMaxSlotsPerJob")
    fs.delete(new org.apache.hadoop.fs.Path(root).getParent, true)
  }

  test("parts-scoped maintenance is lock-free (r16 verdict #4): a " +
    "compact of partition A and a zorder of partition B both commit " +
    "concurrently — even while a bystander HOLDS the table lock — " +
    "and an overlapping pair aborts loudly with " +
    "ConcurrentWriteException") {
    import graft.operators.{LogTable, TableLog}
    val base = java.nio.file.Files.createTempDirectory("graft_pmx")
      .toString
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def fresh(tag: String): String = {
      val root = s"$base/$tag"
      def batch(m: Int) = (1 to 3).flatMap { p =>
        (1 to 20).filter(_ % 2 == m).map(i =>
          (s"e$p-$m-$i", i.toLong % 5L, i.toDouble,
            java.sql.Date.valueOf(f"2024-01-0$p%d")))
      }.toDF("id", "x", "value", "start_date_oslo")
      LogTable.init(batch(0).repartition(1), root,
        statsCols = Seq("value", "x"))
      LogTable.append(spark, root, batch(1).repartition(1))
      root
    }
    // 1) DISJOINT parts, deterministic interleave: compact(p1)'s
    // commit window runs zorder(p2) to completion first — both
    // commit, no serialization, no lock taken (the table lock is
    // HELD by a bystander the whole time)
    locally {
      val root = fresh("disjoint")
      val m0 = LogTable.manifest(spark, root,
        TableLog.currentVersion(spark, root))
      val Seq(p1, p2, p3) = m0.parts.keys.toSeq.sorted
      val before = LogTable.read(spark, root).select("id").as[String]
        .collect().toSet
      val lockP = new org.apache.hadoop.fs.Path(
        s"$root/_graft_log/_lock")
      val out = fs.create(lockP, false)
      out.write("{\"owner\":\"held-by-spec\"}".getBytes("UTF-8"))
      out.close()
      try {
        @volatile var fired = false
        TableLog.dmlCommitHook = { _ =>
          if (!fired) {
            fired = true // one-shot: the inner zorder skips the hook
            LogTable.optimizeZorder(spark, root, Seq("value", "x"),
              bits = 4, filesPerPartition = 2,
              parts = Some(Seq(p2)))
          }
        }
        try LogTable.compact(spark, root, targetBytes = 1L << 30,
          parts = Some(Seq(p1)))
        finally TableLog.dmlCommitHook = _ => ()
        assert(fired, "the race window hook must have fired")
      } finally fs.delete(lockP, false)
      val v = TableLog.currentVersion(spark, root)
      assert(v == 4L, s"both maintenance ops must commit, head=$v")
      val m = LogTable.manifest(spark, root, v)
      assert(m.parts(p1).size == 1, "p1 must be packed to one file")
      assert(m.parts(p2).size == 2, "p2 must hold its 2 cell files")
      assert(m.parts(p3).toSet == m0.parts(p3).toSet,
        "p3 must be untouched")
      assert(LogTable.read(spark, root).select("id").as[String]
        .collect().toSet == before)
    }
    // 2) OVERLAPPING parts: the interleaved compact retires the same
    // files the outer compact read — the outer must abort loudly and
    // commit nothing
    locally {
      val root = fresh("overlap")
      val m0 = LogTable.manifest(spark, root,
        TableLog.currentVersion(spark, root))
      val p1 = m0.parts.keys.toSeq.sorted.head
      val before = LogTable.read(spark, root).select("id").as[String]
        .collect().toSet
      @volatile var fired = false
      TableLog.dmlCommitHook = { _ =>
        if (!fired) { fired = true
          LogTable.compact(spark, root, targetBytes = 1L << 30,
            parts = Some(Seq(p1)))
        }
      }
      val e = try intercept[graft.operators.LogTable
          .ConcurrentWriteException] {
        LogTable.compact(spark, root, targetBytes = 1L << 30,
          parts = Some(Seq(p1)))
      } finally TableLog.dmlCommitHook = _ => ()
      assert(e.getMessage.contains("retired") ||
        e.getMessage.contains("deletion vector"), e.getMessage)
      // the inner compact's result stands; values intact
      val m = LogTable.manifest(spark, root,
        TableLog.currentVersion(spark, root))
      assert(m.parts(p1).size == 1)
      assert(LogTable.read(spark, root).select("id").as[String]
        .collect().toSet == before)
    }
    fs.delete(new org.apache.hadoop.fs.Path(base), true)
  }

  test("vacuum streaming-consumer guard (r16 verdict #7) and the " +
    "nonzero DEFAULT age shield (r16 advice): a fresh lagging " +
    "consumer marker warns by default and REFUSES under " +
    "guardConsumers=true, a caught-up or stale marker never blocks, " +
    "and the default minAgeMs shields young unreferenced files") {
    import graft.operators.{LogTable, TableLog}
    val root = java.nio.file.Files.createTempDirectory("graft_vcg")
      .toString + "/t"
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val d = java.sql.Date.valueOf("2024-01-01")
    def batch(tag: Int) = entries(
      (1 to 5).map(i => (s"e$tag-$i", "x", d, i.toDouble)): _*)
    LogTable.init(batch(0).repartition(1), root)
    (1 to 3).foreach(t =>
      LogTable.append(spark, root, batch(t).repartition(1)))
    assert(TableLog.currentVersion(spark, root) == 4L)
    // a consumer stuck at v1 still needs v2..4; keepLast=1 would drop
    // v1..3 — the guard refuses loudly
    LogTable.recordConsumerPosition(spark, root, "cdc1", 1L)
    val e = intercept[RuntimeException] {
      LogTable.vacuum(spark, root, keepLast = 1, minAgeMs = 0L,
        guardConsumers = true)
    }
    assert(e.getMessage.contains("still need") &&
      e.getMessage.contains("cdc1"), e.getMessage)
    assert(TableLog.currentVersion(spark, root) == 4L &&
      LogTable.read(spark, root, Some(1L)).count() == 5L,
      "a refused vacuum must not have swept anything")
    // off-by-one guard (r17 review): a consumer at v3 still needs
    // manifest(3) as its next change-diff BASE — dropping v3 itself
    // must refuse too
    LogTable.recordConsumerPosition(spark, root, "cdc1", 3L)
    intercept[RuntimeException] {
      LogTable.vacuum(spark, root, keepLast = 1, minAgeMs = 0L,
        guardConsumers = true)
    }
    // caught-up consumer (committed the head) → guard passes
    LogTable.recordConsumerPosition(spark, root, "cdc1", 4L)
    val (droppedV, _) = LogTable.vacuum(spark, root, keepLast = 1,
      minAgeMs = 0L, guardConsumers = true)
    assert(droppedV == 3)
    // stale marker: a dead consumer's lagging marker past the TTL is
    // ignored (maintenance never blocks forever)
    LogTable.append(spark, root, batch(4).repartition(1))
    LogTable.recordConsumerPosition(spark, root, "cdc1", 5L)
    LogTable.recordConsumerPosition(spark, root, "dead", 1L)
    val mp = new org.apache.hadoop.fs.Path(
      s"$root/_graft_log/_consumer_dead")
    fs.setTimes(mp, System.currentTimeMillis() -
      LogTable.ConsumerMarkerTtlMs - 60000L, -1)
    LogTable.vacuum(spark, root, keepLast = 1, minAgeMs = 0L,
      guardConsumers = true) // must not throw
    // DEFAULT minAgeMs: a young unreferenced file (the in-flight
    // lock-free writer shape) survives the default-shield vacuum and
    // falls to an explicit zero-shield one
    val pdir = new org.apache.hadoop.fs.Path(root,
      "start_date_oslo=2024-01-01")
    val orphan = new org.apache.hadoop.fs.Path(pdir,
      "part-orphan-in-flight.snappy.parquet")
    val out = fs.create(orphan, false)
    out.write(Array.fill(64)(0x42.toByte)); out.close()
    LogTable.vacuum(spark, root, keepLast = 1)
    assert(fs.exists(orphan),
      "the default age shield must spare a young unreferenced file")
    val (_, reclaimed) = LogTable.vacuum(spark, root, keepLast = 1,
      minAgeMs = 0L)
    assert(!fs.exists(orphan) && reclaimed >= 1,
      "a zero-shield vacuum reclaims the orphan (single-writer mode)")
    assert(LogTable.read(spark, root).count() == 25L)
    fs.delete(new org.apache.hadoop.fs.Path(root).getParent, true)
  }

  test("vacuum consumer-guard edge cases (r17 verdict #6 + advice): " +
    "a MID-BOOTSTRAP marker (v=0) warns-and-proceeds under the " +
    "default, refuses under guardConsumers=true, and an unparsable " +
    "FRESH marker counts as lagging under refuse mode only") {
    import graft.operators.{LogTable, TableLog}
    val root = java.nio.file.Files.createTempDirectory("graft_vce")
      .toString + "/t"
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val d = java.sql.Date.valueOf("2024-01-01")
    def batch(tag: Int) = entries(
      (1 to 3).map(i => (s"e$tag-$i", "x", d, i.toDouble)): _*)
    LogTable.init(batch(0).repartition(1), root)
    (1 to 3).foreach(t =>
      LogTable.append(spark, root, batch(t).repartition(1)))
    assert(TableLog.currentVersion(spark, root) == 4L)
    // a consumer still draining its BOOTSTRAP snapshot heartbeats
    // v=0: it still needs everything. Refuse mode protects it…
    LogTable.recordConsumerPosition(spark, root, "boot", 0L)
    val e = intercept[RuntimeException] {
      LogTable.vacuum(spark, root, keepLast = 1, minAgeMs = 0L,
        guardConsumers = true)
    }
    assert(e.getMessage.contains("boot"), e.getMessage)
    // …while the DEFAULT (advisory) mode warns and PROCEEDS — the
    // documented contract: retention (keepLast) is the protection
    // mechanism, markers are advisory unless the caller opts into
    // refuse mode
    val (droppedV, _) = LogTable.vacuum(spark, root, keepLast = 1,
      minAgeMs = 0L)
    assert(droppedV == 3,
      s"default-mode vacuum must proceed past the marker: $droppedV")
    fs.delete(new org.apache.hadoop.fs.Path(
      s"$root/_graft_log/_consumer_boot"), false)
    // an unparsable FRESH marker (torn write through the
    // plain-overwrite fallback) belongs to a LIVE consumer at an
    // unknown position: refuse mode must treat it as lagging — it
    // exists to protect exactly that consumer — while the default
    // skips it with a warning
    LogTable.append(spark, root, batch(4).repartition(1))
    val torn = new org.apache.hadoop.fs.Path(
      s"$root/_graft_log/_consumer_torn")
    val out = fs.create(torn, false)
    out.write("{\"ver".getBytes("UTF-8")); out.close()
    val e2 = intercept[RuntimeException] {
      LogTable.vacuum(spark, root, keepLast = 1, minAgeMs = 0L,
        guardConsumers = true)
    }
    assert(e2.getMessage.contains("unreadable marker") &&
      e2.getMessage.contains("torn"), e2.getMessage)
    val (droppedV2, _) = LogTable.vacuum(spark, root, keepLast = 1,
      minAgeMs = 0L)
    assert(droppedV2 >= 1,
      s"default-mode vacuum must skip the torn marker: $droppedV2")
    assert(LogTable.read(spark, root).count() == 15L)
    fs.delete(new org.apache.hadoop.fs.Path(root).getParent, true)
  }

  test("LogTable TIMESTAMP AS OF: readAsOfTimestamp resolves to the " +
    "newest commit at-or-before the instant, ties to versions not " +
    "clocks, and an instant predating retained history fails loudly") {
    import graft.operators.LogTable
    val root = java.nio.file.Files.createTempDirectory("graft_logts")
      .toString + "/t"
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val d = java.sql.Date.valueOf("2024-01-01")
    def batch(lo: Int, hi: Int) = entries(
      (lo to hi).map(i => (s"e$i", "x", d, i.toDouble)): _*)
    val t0 = System.currentTimeMillis() - 1
    LogTable.init(batch(1, 10).repartition(1), root)
    Thread.sleep(15)
    val between = System.currentTimeMillis()
    Thread.sleep(15)
    LogTable.append(spark, root, batch(11, 20).repartition(1))
    assert(LogTable.versionAsOf(spark, root, between) == 1L)
    assert(LogTable.readAsOfTimestamp(spark, root, between).count() == 10L)
    assert(LogTable.readAsOfTimestamp(spark, root,
      System.currentTimeMillis()).count() == 20L)
    val e = intercept[RuntimeException] {
      LogTable.versionAsOf(spark, root, t0)
    }
    assert(e.getMessage.contains("as old"))
    fs.delete(new org.apache.hadoop.fs.Path(root).getParent, true)
  }

  test("LogTable UPDATE: one atomic commit kills matched rows via a " +
    "vector and re-inserts their transformed versions — unmatched rows " +
    "in hit files are not rewritten, time travel sees the old values, " +
    "partition-moving updates land in the new partition, and a " +
    "replayed txn is a no-op") {
    import graft.operators.LogTable
    val root = java.nio.file.Files.createTempDirectory("graft_logupd")
      .toString + "/t"
    val fsP = new org.apache.hadoop.fs.Path(root)
    val fs = fsP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val d = java.sql.Date.valueOf("2024-01-01")
    val d2 = java.sql.Date.valueOf("2024-01-02")
    def batch(lo: Int, hi: Int) = entries(
      (lo to hi).map(i => (s"e$i", "x", d, i.toDouble)): _*)
    LogTable.init(batch(1, 10).repartition(1), root,
      statsCols = Seq("value"))
    val vPre = graft.operators.TableLog.currentVersion(spark, root)
    val filesPre = fs.listStatus(new org.apache.hadoop.fs.Path(root,
      "start_date_oslo=2024-01-01")).map(_.getPath.getName).toSet
    // value in [3, 5] gets value*100; one commit
    val v1 = LogTable.update(spark, root,
      col("value").between(3.0, 5.0),
      Map("value" -> (col("value") * 100.0)), txnId = Some("u1"))
    assert(v1 == vPre + 1)
    def vals() = LogTable.read(spark, root)
      .select("id", "value").as[(String, Double)].collect().toMap
    assert(vals() == (1 to 10).map(i =>
      s"e$i" -> (if (i >= 3 && i <= 5) i * 100.0 else i.toDouble)).toMap)
    // the original file was not rewritten; time travel sees old values
    assert(filesPre.subsetOf(fs.listStatus(new org.apache.hadoop.fs.Path(
      root, "start_date_oslo=2024-01-01")).map(_.getPath.getName).toSet))
    assert(LogTable.read(spark, root, Some(vPre))
      .filter(col("id") === "e4").select("value").as[Double]
      .collect().head == 4.0)
    // replayed txn: no-op
    assert(LogTable.update(spark, root, col("value") > 0.0,
      Map("value" -> lit(0.0)), txnId = Some("u1")) == v1)
    assert(vals()("e4") == 400.0)
    // partition-moving update: e1 migrates to d2
    LogTable.update(spark, root, col("id") === "e1",
      Map("start_date_oslo" -> lit(d2)))
    assert(LogTable.read(spark, root)
      .filter(col("id") === "e1").select("start_date_oslo")
      .as[java.sql.Date].collect().head == d2)
    assert(LogTable.read(spark, root).count() == 10L)
    // the change feed nets update = delete(old) + insert(new)
    val feed = LogTable.changes(spark, root, vPre, v1)
    assert(feed.filter(col("_change_type") === "delete").count() == 3L)
    assert(feed.filter(col("_change_type") === "insert").count() == 3L)
    fs.delete(fsP.getParent, true)
  }

  test("LogTable model-based property: random op sequences " +
    "(append/merge/update/delete/compact/restore/overwrite/restat, " +
    "with interleaved lock-free appenders) match a driver-side " +
    "model table at EVERY version through BOTH read paths (explicit " +
    "files and the FileIndex), under per-op random stats collection " +
    "modes (footer/scan/auto, r14), zone-pred-pruned deletes, and " +
    "time travel") {
    import graft.operators.LogTable
    val d = java.sql.Date.valueOf("2024-01-01")
    // model: id -> value (single partition; ids unique per table state);
    // interval 3 so reconstruction crosses parquet checkpoints mid-run
    spark.conf.set("spark.graft.logtable.checkpointInterval", "3")
    try for (seed <- 0 until 4) {
      val rnd = new scala.util.Random(1000 + seed)
      val root = java.nio.file.Files.createTempDirectory(
        s"graft_logmb$seed").toString + "/t"
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      var model = (1 to 12).map(i => s"e$i" -> i.toDouble).toMap
      val history = scala.collection.mutable.Map[Long, Map[String, Double]]()
      def frame(m: Map[String, Double]) = entries(
        m.toSeq.map { case (k, v) => (k, "x", d, v) }: _*)
      // bloom sidecars on the string id (r15): every op's rewrite path
      // must keep per-file filters consistent with the model, and the
      // per-state point probe below polices bloom admission. Odd
      // seeds create v1 by CONVERT over a foreign parquet layout
      // (r15) instead of init — the whole random op sequence then
      // runs over adopted files
      if (seed % 2 == 1) {
        frame(model).repartition(2)
          .write.partitionBy("start_date_oslo").parquet(root)
        LogTable.convert(spark, root, statsCols = Seq("value"),
          bloomCols = Seq("id"))
      } else {
        LogTable.init(frame(model).repartition(2), root,
          statsCols = Seq("value"), bloomCols = Seq("id"))
      }
      history(1L) = model
      var nextId = 13
      (1 to 8).foreach { _ =>
        // zones must stay consistent when collection modes interleave
        // WITHIN one table history (footer == scan, spec-pinned above)
        spark.conf.set("spark.graft.logtable.footerStats",
          Seq("auto", "true", "false")(rnd.nextInt(3)))
        rnd.nextInt(13) match {
          case 12 => // generic-merge matched DELETE + upsert in ONE
            // commit (r17): random existing keys drop via
            // deleteMatchedKeys while an unrelated insert rides the
            // same atomic merge — the SQL MERGE WHEN MATCHED DELETE
            // shape exercised against the model
            if (model.size >= 3) {
              val toDel = rnd.shuffle(model.keys.toSeq.sorted)
                .take(1 + rnd.nextInt(2))
              val ins = { val id = s"e$nextId"; nextId += 1
                Map(id -> (rnd.nextInt(1000) + 8000).toDouble) }
              LogTable.merge(spark, root, frame(ins), Seq("id"),
                deleteMatchedKeys = Some(toDel.toDF("id")))
              model = (model -- toDel) ++ ins
            }
          case 11 => // INTERLEAVED parts-scoped maintenance (r16 #4):
            // a LOCK-FREE compact (explicit parts) races a lock-free
            // append; the append always lands, the compact either
            // packs or aborts loudly on a genuine conflict — never a
            // torn state, and the model is unchanged by the pack
            val add = { val id = s"e$nextId"; nextId += 1
              Map(id -> (rnd.nextInt(1000) + 7000).toDouble) }
            val pnames = LogTable.manifest(spark, root,
              graft.operators.TableLog.currentVersion(spark, root))
              .parts.keys.toSeq
            import scala.concurrent.{Await, Future}
            import scala.concurrent.duration._
            import scala.concurrent.ExecutionContext.Implicits.global
            val fC = Future(
              try LogTable.compact(spark, root,
                targetBytes = 1L << 30, parts = Some(pnames))
              catch { case _: LogTable.ConcurrentWriteException => -1L })
            val fA = Future(LogTable.append(spark, root,
              frame(add).repartition(1)))
            Await.result(fC, 180.seconds)
            Await.result(fA, 180.seconds)
            model = model ++ add
          case 10 => // INTERLEAVED lock-free DML (r15 directive #2):
            // two concurrent deletes on disjoint value bands; on this
            // single-partition fixture they usually hit the SAME
            // files, so a loser aborts with ConcurrentWriteException
            // and retries serially — both bands always end applied,
            // exactly once, whatever the interleaving
            val lo = rnd.nextInt(2000).toDouble
            val bandA = (lo, lo + 200.0)
            val bandB = (lo + 500.0, lo + 700.0)
            val survivors = model.filterNot { case (_, v) =>
              (v >= bandA._1 && v <= bandA._2) ||
                (v >= bandB._1 && v <= bandB._2) }
            if (survivors.nonEmpty) {
              import scala.concurrent.{Await, Future}
              import scala.concurrent.duration._
              import scala.concurrent.ExecutionContext.Implicits.global
              def del(b: (Double, Double)): Unit =
                try LogTable.delete(spark, root,
                  col("value").between(b._1, b._2))
                catch {
                  case _: LogTable.ConcurrentWriteException =>
                    LogTable.delete(spark, root,
                      col("value").between(b._1, b._2))
                }
              val fA = Future(del(bandA))
              val fB = Future(del(bandB))
              Await.result(fA, 180.seconds)
              Await.result(fB, 180.seconds)
              model = survivors
            }
          case 0 => // append fresh ids
            val add = (0 until 1 + rnd.nextInt(3)).map { _ =>
              val id = s"e$nextId"; nextId += 1
              id -> (rnd.nextInt(1000) + 1).toDouble
            }.toMap
            LogTable.append(spark, root, frame(add).repartition(1))
            model = model ++ add
          case 6 => // INTERLEAVED writers (r14 #4): two lock-free
            // appends race the commit CAS; both must land, in either
            // order — adds-only commits commute
            val addA = { val id = s"e$nextId"; nextId += 1
              Map(id -> (rnd.nextInt(1000) + 4000).toDouble) }
            val addB = { val id = s"e$nextId"; nextId += 1
              Map(id -> (rnd.nextInt(1000) + 5000).toDouble) }
            import scala.concurrent.{Await, Future}
            import scala.concurrent.duration._
            import scala.concurrent.ExecutionContext.Implicits.global
            val fA = Future(LogTable.append(spark, root,
              frame(addA).repartition(1)))
            val fB = Future(LogTable.append(spark, root,
              frame(addB).repartition(1)))
            val vs = Seq(Await.result(fA, 180.seconds),
              Await.result(fB, 180.seconds)).sorted
            assert(vs(1) == vs(0) + 1,
              s"seed=$seed interleaved appends not dense: $vs")
            model = model ++ addA ++ addB
          case 7 => // OVERWRITE (r15): one atomic truncate-load
            val fresh = (0 until 3 + rnd.nextInt(4)).map { _ =>
              val id = s"e$nextId"; nextId += 1
              id -> (rnd.nextInt(1000) + 6000).toDouble
            }.toMap
            LogTable.overwrite(spark, root, frame(fresh).repartition(1))
            model = fresh
          case 8 => // RESTAT (r15): re-derive zones, no semantic change
            LogTable.recomputeStats(spark, root)
          case 9 => // BLOOM re-declare / drop (r15): no semantic change;
            // a drop leaves point probes un-pruned, never wrong
            LogTable.declareBloomCols(spark, root,
              if (rnd.nextBoolean()) Seq("id") else Seq.empty)
          case 1 => // merge: update a random subset + insert one
            val upd = model.keys.toSeq.sorted
              .filter(_ => rnd.nextBoolean()).take(4)
              .map(k => k -> (rnd.nextInt(1000) + 2000).toDouble).toMap
            val ins = { val id = s"e$nextId"; nextId += 1
              Map(id -> (rnd.nextInt(1000) + 3000).toDouble) }
            LogTable.merge(spark, root, frame(upd ++ ins), Seq("id"))
            model = model ++ upd ++ ins
          case 2 => // DV delete by value band (never emptying the table)
            val lo = rnd.nextInt(3000).toDouble
            val hi = lo + rnd.nextInt(1500)
            val survivors = model.filterNot { case (_, v) =>
              v >= lo && v <= hi }
            if (survivors.nonEmpty) {
              // sometimes intersect an explicit (superset) zone pred
              // on top of the auto-translated cond (r14 DML pruning)
              val preds =
                if (rnd.nextBoolean()) Seq.empty[LogTable.ZonePred]
                else Seq(LogTable.NumRange("value", lo, hi))
              LogTable.delete(spark, root,
                col("value").between(lo, hi), zonePreds = preds)
              model = survivors
            }
          case 3 => // DV update: shift a value band
            val lo = rnd.nextInt(3000).toDouble
            val hi = lo + rnd.nextInt(1500)
            LogTable.update(spark, root, col("value").between(lo, hi),
              Map("value" -> (col("value") + 10000.0)))
            model = model.map { case (k, v) =>
              k -> (if (v >= lo && v <= hi) v + 10000.0 else v) }
          case 4 => // compact (no semantic change)
            LogTable.compact(spark, root, targetBytes = 1L << 30)
          case 5 => // restore to a random retained version
            val vs = history.keys.toSeq.sorted
            val target = vs(rnd.nextInt(vs.size))
            LogTable.restore(spark, root, target)
            model = history(target)
        }
        val v = graft.operators.TableLog.currentVersion(spark, root)
        history(v) = model
        val got = LogTable.read(spark, root)
          .select("id", "value").as[(String, Double)].collect().toMap
        assert(got == model, s"seed=$seed v=$v: $got != $model")
        // the FileIndex path (manifest-planned scan + DV anti-join)
        // must agree with the explicit-file path at every state
        val gotIdx = LogTable.readIndexed(spark, root)
          .select("id", "value").as[(String, Double)].collect().toMap
        assert(gotIdx == model, s"seed=$seed v=$v readIndexed: $gotIdx")
        // bloom-admission police (r15): a point probe — sometimes a
        // live id, sometimes an absent one — through the FileIndex
        // must equal the model at EVERY state, whatever sidecar
        // generation each file carries after the op above
        val probeId =
          if (model.nonEmpty && rnd.nextBoolean())
            model.keys.toSeq.sorted.apply(rnd.nextInt(model.size))
          else s"absent${rnd.nextInt(100)}"
        val gotPt = LogTable.readIndexed(spark, root)
          .filter(col("id") === probeId)
          .select("id", "value").as[(String, Double)].collect().toMap
        assert(gotPt == model.filter(_._1 == probeId),
          s"seed=$seed v=$v point probe $probeId: $gotPt")
      }
      // time travel: every recorded version still reads its own state,
      // through both paths
      val probe = rnd.shuffle(history.keys.toSeq).take(3)
      probe.foreach { v =>
        val got = LogTable.read(spark, root, Some(v))
          .select("id", "value").as[(String, Double)].collect().toMap
        assert(got == history(v), s"seed=$seed time travel v=$v")
        val gotIdx = LogTable.readIndexed(spark, root, Some(v))
          .select("id", "value").as[(String, Double)].collect().toMap
        assert(gotIdx == history(v),
          s"seed=$seed indexed time travel v=$v")
      }
      spark.conf.unset("spark.graft.logtable.footerStats")
      fs.delete(new org.apache.hadoop.fs.Path(root).getParent, true)
    } finally spark.conf.unset("spark.graft.logtable.checkpointInterval")
  }

  test("LogTable concurrent appends: the data write stages OUTSIDE the " +
    "table lock, commits serialize to dense versions, every writer's " +
    "rows land exactly once, and no staging litter survives") {
    import graft.operators.LogTable
    val root = java.nio.file.Files.createTempDirectory("graft_logcc")
      .toString + "/t"
    val fsP = new org.apache.hadoop.fs.Path(root)
    val fs = fsP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val d = java.sql.Date.valueOf("2024-01-01")
    def batch(lo: Int, hi: Int) = entries(
      (lo to hi).map(i => (s"e$i", "x", d, i.toDouble)): _*)
    LogTable.init(batch(1, 10).repartition(1), root)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val futures = (1 to 4).map { i =>
        pool.submit(new java.util.concurrent.Callable[Long] {
          def call(): Long = LogTable.append(spark, root,
            batch(i * 100 + 1, i * 100 + 20).repartition(1))
        })
      }
      val versions = futures.map(_.get(300,
        java.util.concurrent.TimeUnit.SECONDS)).sorted
      // dense, serialized commits: exactly versions 2..5 in some order
      assert(versions == Seq(2L, 3L, 4L, 5L), versions.toString)
      assert(LogTable.read(spark, root).count() == 10L + 4 * 20L)
      assert(LogTable.read(spark, root).select("id").as[String]
        .collect().toSet.size == 90)
      // no staging litter: every stage dir was renamed away + deleted
      assert(!fs.listStatus(fsP).exists(
        _.getPath.getName.startsWith(".stage_append_")),
        "stage dirs must not survive a successful append")
    } finally pool.shutdown()
    fs.delete(fsP.getParent, true)
  }

  test("LogTable DELETE via deletion vectors: no data file is " +
    "rewritten, every scan path hides dead rows, vectors are " +
    "cumulative, the change feed nets exactly the newly-dead rows, " +
    "fully-dead files leave the live set metadata-only, compaction " +
    "folds vectors away, and vacuum reclaims unreferenced vectors") {
    import graft.operators.LogTable
    val root = java.nio.file.Files.createTempDirectory("graft_logdv")
      .toString + "/t"
    val fsP = new org.apache.hadoop.fs.Path(root)
    val fs = fsP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val d = java.sql.Date.valueOf("2024-01-01")
    def batch(lo: Int, hi: Int) = entries(
      (lo to hi).map(i => (s"e$i", "x", d, i.toDouble)): _*)
    LogTable.init(batch(1, 10).repartition(1), root,
      statsCols = Seq("value"))
    LogTable.append(spark, root, batch(11, 20).repartition(1))
    LogTable.append(spark, root, batch(21, 30).repartition(1))
    val vPre = graft.operators.TableLog.currentVersion(spark, root)
    def dataFiles() = fs.listStatus(new org.apache.hadoop.fs.Path(root,
      "start_date_oslo=2024-01-01")).map(_.getPath.getName).toSet
    val filesPre = dataFiles()
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("id").as[String].collect().toSet
    // delete two rows of the middle file: zero data-file writes
    val v1 = LogTable.delete(spark, root,
      col("value").between(12.0, 13.0))
    assert(v1 == vPre + 1)
    assert(dataFiles() == filesPre, "DELETE must not touch data files")
    assert(!ids(LogTable.read(spark, root)).contains("e12"))
    assert(LogTable.read(spark, root).count() == 28L)
    // time travel still sees the undeleted rows
    assert(LogTable.read(spark, root, Some(vPre)).count() == 30L)
    // only the hit file carries a vector
    val m1 = LogTable.manifest(spark, root, v1)
    val dvd = m1.parts.values.flatten.filter(_.dv.isDefined).toSeq
    assert(dvd.size == 1 && dvd.head.dvRows == 2L, dvd.toString)
    // cumulative: a second delete on the SAME file carries the old
    // positions forward into one new vector
    val v2 = LogTable.delete(spark, root, col("value") === 15.0)
    val m2 = LogTable.manifest(spark, root, v2)
    val dvd2 = m2.parts.values.flatten.filter(_.dv.isDefined).toSeq
    assert(dvd2.size == 1 && dvd2.head.dvRows == 3L, dvd2.toString)
    assert(LogTable.read(spark, root).count() == 27L)
    // the change feed nets exactly the newly-dead rows
    val feed = LogTable.changes(spark, root, vPre, v2)
    assert(feed.select("_change_type").distinct().as[String].collect()
      .toSeq == Seq("delete"))
    assert(ids(feed) == Set("e12", "e13", "e15"))
    // zone skipping and the FileIndex read agree and hide dead rows
    assert(ids(LogTable.readSkipping(spark, root, "value", 11.0, 20.0)
      .filter(col("value").between(11.0, 20.0))) ==
      Set(11, 14, 16, 17, 18, 19, 20).map(i => s"e$i"))
    assert(ids(LogTable.readIndexed(spark, root)
      .filter(col("value").between(11.0, 20.0))) ==
      Set(11, 14, 16, 17, 18, 19, 20).map(i => s"e$i"))
    // merge on a DV'd table must not resurrect dead rows (the hit file
    // carries the vector; survivors are DV-filtered before re-append)
    LogTable.merge(spark, root,
      entries(("e14", "y", d, 1400.0)), Seq("id"))
    assert(LogTable.read(spark, root).count() == 27L)
    assert(!ids(LogTable.read(spark, root)).contains("e12"))
    // fully-dead file leaves the live set metadata-only: the physical
    // file survives (time travel), only its manifest entry goes
    val mPre4 = LogTable.manifest(spark, root,
      graft.operators.TableLog.currentVersion(spark, root))
    val v4 = LogTable.delete(spark, root,
      col("value").between(21.0, 30.0))
    val m4 = LogTable.manifest(spark, root, v4)
    assert(m4.parts.values.flatten.size ==
      mPre4.parts.values.flatten.size - 1, "file must leave the live set")
    assert(m4.parts.values.flatten.forall(_.dv.isEmpty))
    assert(LogTable.read(spark, root).count() == 17L)
    assert(filesPre.subsetOf(dataFiles()),
      "full-file delete must not delete the physical file (time travel)")
    // compaction folds a fresh vector away: packed files carry no dv
    val v5 = LogTable.delete(spark, root, col("value") === 2.0)
    assert(LogTable.manifest(spark, root, v5).parts.values.flatten
      .exists(_.dv.isDefined))
    LogTable.compact(spark, root, targetBytes = 1L << 30)
    val mC = LogTable.manifest(spark, root,
      graft.operators.TableLog.currentVersion(spark, root))
    assert(mC.parts.values.flatten.forall(_.dv.isEmpty),
      "compaction must fold deletion vectors into plain files")
    assert(LogTable.read(spark, root).count() == 16L)
    // vacuum reclaims the now-unreferenced vectors
    LogTable.vacuum(spark, root, keepLast = 1, minAgeMs = 0L)
    val dvDir = new org.apache.hadoop.fs.Path(root, "_graft_dv")
    assert(!fs.exists(dvDir) || fs.listStatus(dvDir).isEmpty,
      "vacuum must reclaim unreferenced deletion vectors")
    assert(LogTable.read(spark, root).count() == 16L)
    fs.delete(fsP.getParent, true)
  }

  test("LogTable streaming merge (st4c): per-batch COW merge equals the " +
    "batch M1 operator, a full stream REPLAY is a commit-level no-op " +
    "(same versions, same bytes), and a direct txn-tagged merge replay " +
    "returns the current version untouched") {
    import graft.operators.{LogTable, MergeOps}
    val base = java.nio.file.Files.createTempDirectory("graft_st4c")
      .toString
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def ts(s: String) = java.sql.Timestamp.valueOf(s + " 00:00:00")
    def dt(s: String) = java.sql.Date.valueOf(s)
    // fact: ids 1-6 across three dates (26th in-window edge, 20th out)
    val fact = Seq(
      ("e1", ts("2024-01-20"), dt("2024-01-20"), "click", 1.0),
      ("e2", ts("2024-01-26"), dt("2024-01-26"), "click", 2.0),
      ("e3", ts("2024-01-26"), dt("2024-01-26"), "view", 3.0),
      ("e4", ts("2024-01-27"), dt("2024-01-27"), "click", 4.0))
      .toDF("id", "ts", "start_date_oslo", "event_type", "value")
    // staging: e2 updated, e5 inserted (27th), e3 ABSENT (stale → swept),
    // e1's date is out of window → untouched by the sweep
    val staging = Seq(
      ("e2", ts("2024-01-26"), dt("2024-01-26"), "click", 20.0),
      ("e5", ts("2024-01-27"), dt("2024-01-27"), "view", 50.0))
      .toDF("id", "ts", "start_date_oslo", "event_type", "value")
    LogTable.init(fact, s"$base/fact")
    staging.repartition(2).write.parquet(s"$base/staging")
    val stream1 = spark.readStream.schema(staging.schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$base/staging")
    graft.streaming.Streams.runStreamingLogTableMergeAvailableNow(spark,
      stream1, s"$base/fact", s"$base/seen", days = 7,
      todayOslo = java.time.LocalDate.parse("2024-01-30"),
      checkpoint = s"$base/ckpt1")
    def snap() = LogTable.read(spark, s"$base/fact")
      .select("id", "value").collect()
      .map(r => (r.getString(0), r.getDouble(1))).toSet
    val want = MergeOps.mergeRefresh(fact, staging, days = 7,
        todayOslo = java.time.LocalDate.parse("2024-01-30"))
      .select("id", "value").collect()
      .map(r => (r.getString(0), r.getDouble(1))).toSet
    assert(snap() == want, s"${snap()} != $want")
    assert(want == Set(("e1", 1.0), ("e2", 20.0), ("e5", 50.0)),
      want) // e3 AND e4 swept (in-window, unstaged); e1 out-of-window kept
    // CRASH REPLAY: a fresh checkpoint re-delivers EVERY batch with the
    // same batch ids — the txn ledger must collapse each merge and the
    // sweep must find nothing stale: zero new commits, identical bytes
    val vBefore = graft.operators.TableLog.currentVersion(spark,
      s"$base/fact")
    val stream2 = spark.readStream.schema(staging.schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$base/staging")
    graft.streaming.Streams.runStreamingLogTableMergeAvailableNow(spark,
      stream2, s"$base/fact", s"$base/seen", days = 7,
      todayOslo = java.time.LocalDate.parse("2024-01-30"),
      checkpoint = s"$base/ckpt2")
    assert(graft.operators.TableLog.currentVersion(spark, s"$base/fact")
      == vBefore, "replayed stream must not commit")
    assert(snap() == want)
    // direct merge replay: same txn id → same version, nothing written
    val upd = Seq(("e9", ts("2024-01-27"), dt("2024-01-27"), "view", 9.0))
      .toDF("id", "ts", "start_date_oslo", "event_type", "value")
    val v1 = LogTable.merge(spark, s"$base/fact", upd, Seq("id"),
      txnId = Some("manual-1"))
    assert(LogTable.merge(spark, s"$base/fact", upd, Seq("id"),
      txnId = Some("manual-1")) == v1)
    assert(snap().contains(("e9", 9.0)))
    fs.delete(new org.apache.hadoop.fs.Path(base), true)
  }

  test("LogTable commit metadata is O(touch set): appending one file to " +
    "a 10,000-file live set writes a kilobyte-scale delta manifest, not " +
    "the live set, and the snapshot still reconstructs every file") {
    import graft.operators.LogTable
    val root = java.nio.file.Files.createTempDirectory("graft_logbig")
      .toString + "/t"
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // exactly 100 dates × 100 files: task t holds ids [100t, 100t+100),
    // one row per date → partitionBy writes one file per (task, date).
    // HashPartitioner is the identity for Long keys in [0, 100).
    val base = spark.range(10000).toDF("id")
    val keyed = base.rdd.map(r => (r.getLong(0) / 100, r))
      .partitionBy(new org.apache.spark.HashPartitioner(100)).values
    val df = spark.createDataFrame(keyed, base.schema)
      .select(concat(lit("id"), col("id")).as("id"),
        col("id").cast("double").as("value"),
        date_add(lit("2021-01-01").cast("date"),
          (col("id") % 100).cast("int")).as("start_date_oslo"))
    LogTable.init(df, root, dateCol = "start_date_oslo")
    val m1 = LogTable.manifest(spark, root, 1L)
    val nLive = m1.parts.values.map(_.size).sum
    assert(nLive == 10000, s"fixture built $nLive files")
    val initBytes = fs.getFileStatus(new org.apache.hadoop.fs.Path(root,
      "_graft_log/_v00000001.json")).getLen
    // touch ONE partition with one new file
    val v2 = LogTable.append(spark, root, Seq(
      ("extra", 99999.0, java.sql.Date.valueOf("2021-01-01")))
      .toDF("id", "value", "start_date_oslo").repartition(1))
    val deltaBytes = fs.getFileStatus(new org.apache.hadoop.fs.Path(root,
      "_graft_log/_v00000002.json")).getLen
    // the delta must scale with the touch set (1 file), not the table:
    // the init commit (10k adds) is ~three orders of magnitude larger
    assert(deltaBytes < 2048,
      s"append delta is $deltaBytes bytes — O(table), not O(touch set)")
    assert(initBytes > 100L * deltaBytes,
      s"init=$initBytes delta=$deltaBytes — delta not touch-set-sized")
    val m2 = LogTable.manifest(spark, root, v2)
    assert(m2.parts.values.map(_.size).sum == 10001)
    assert(LogTable.read(spark, root).count() == 10001L)
    fs.delete(new org.apache.hadoop.fs.Path(root).getParent, true)
  }

  test("LogTable checkpoints: every Nth commit writes a parquet " +
    "snapshot, reconstruction = checkpoint + later deltas at every " +
    "version, vacuum writes a retention-floor checkpoint so kept " +
    "versions survive delta reclamation, and txn replay dedup " +
    "SURVIVES vacuum") {
    import graft.operators.LogTable
    val root = java.nio.file.Files.createTempDirectory("graft_logcp")
      .toString + "/t"
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val d = java.sql.Date.valueOf("2024-01-01")
    def batch(lo: Int, hi: Int) = entries(
      (lo to hi).map(i => (s"e$i", "x", d, i.toDouble)): _*)
    spark.conf.set("spark.graft.logtable.checkpointInterval", "3")
    try {
      LogTable.init(batch(1, 10).repartition(1), root)
      LogTable.append(spark, root, batch(11, 20).repartition(1),
        txnId = Some("q1-b0"))
      (3 to 7).foreach(i => LogTable.append(spark, root,
        batch(i * 10 + 1, i * 10 + 10).repartition(1)))
      // checkpoints landed at v3 and v6
      assert(fs.exists(new org.apache.hadoop.fs.Path(root,
        "_graft_log/_cp00000003")))
      assert(fs.exists(new org.apache.hadoop.fs.Path(root,
        "_graft_log/_cp00000006")))
      // every version reconstructs (pre-checkpoint, at-checkpoint,
      // post-checkpoint) with the right cumulative row count
      (1L to 7L).foreach { v =>
        assert(LogTable.read(spark, root, Some(v)).count() == v * 10,
          s"version $v")
      }
      // a replayed txn is a no-op through checkpoints
      assert(LogTable.append(spark, root, batch(11, 20).repartition(1),
        txnId = Some("q1-b0")) == 7L)
      // vacuum to the last 2 versions: floor checkpoint at v6 already
      // exists; v1..v5 deltas go away, kept versions still reconstruct
      LogTable.vacuum(spark, root, keepLast = 2, minAgeMs = 0L)
      assert(!fs.exists(new org.apache.hadoop.fs.Path(root,
        "_graft_log/_v00000003.json")))
      assert(LogTable.read(spark, root, Some(6L)).count() == 60L)
      assert(LogTable.read(spark, root, Some(7L)).count() == 70L)
      intercept[RuntimeException] {
        LogTable.read(spark, root, Some(5L))
      }
      // the txn ledger rode the checkpoint: replaying the pre-vacuum
      // batch is STILL a no-op (the old O(v) manifest walk lost this
      // the moment its manifests were reclaimed)
      assert(LogTable.append(spark, root, batch(11, 20).repartition(1),
        txnId = Some("q1-b0")) == 7L)
      assert(LogTable.read(spark, root).count() == 70L)
    } finally {
      spark.conf.unset("spark.graft.logtable.checkpointInterval")
      fs.delete(new org.apache.hadoop.fs.Path(root).getParent, true)
    }
  }

  test("LogTable vacuum-vs-reader retention contract: a reader inside " +
    "retention scans green concurrently with vacuum; a reader whose " +
    "version is vacuumed away fails loudly at plan time; a frame " +
    "planned pre-vacuum on vacuumed files fails rather than reading " +
    "a torn mix") {
    import graft.operators.LogTable
    val root = java.nio.file.Files.createTempDirectory("graft_logret")
      .toString + "/t"
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val d = java.sql.Date.valueOf("2024-01-01")
    def batch(lo: Int, hi: Int) = entries(
      (lo to hi).map(i => (s"e$i", "x", d, i.toDouble)): _*)
    LogTable.init(batch(1, 10).repartition(1), root)
    LogTable.replacePartitions(spark, root, batch(1, 20).repartition(1))
    LogTable.replacePartitions(spark, root, batch(1, 30).repartition(1))
    // reader INSIDE retention: planned at v2, vacuum keeps v2..v3 →
    // its files are retained, the concurrent scan must succeed
    val inRetention = LogTable.read(spark, root, Some(2L))
    LogTable.vacuum(spark, root, keepLast = 2, minAgeMs = 0L)
    assert(inRetention.count() == 20L,
      "in-retention reader must survive a concurrent vacuum")
    // reader OUTSIDE retention: version gone → loud plan-time error
    val e = intercept[RuntimeException] {
      LogTable.read(spark, root, Some(1L))
    }
    assert(e.getMessage.contains("not retained"))
    // a frame planned BEFORE the vacuum at the now-reclaimed version
    // must fail on scan (files deleted), never silently return rows
    val doomed = LogTable.read(spark, root, Some(2L))
    LogTable.vacuum(spark, root, keepLast = 1, minAgeMs = 0L)
    intercept[Throwable] { doomed.count() }
    fs.delete(new org.apache.hadoop.fs.Path(root).getParent, true)
  }

  test("LogTable typed zone maps (r12 #3): DATE and STRING stats " +
    "columns prune files via lexical zones — readSkippingStr plans " +
    "exactly the intersecting files, kind-mismatched probes fail " +
    "loudly, and long string bounds truncate to a valid upper bound") {
    import graft.operators.LogTable
    val root = java.nio.file.Files.createTempDirectory("graft_logtyz")
      .toString + "/t"
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val d = java.sql.Date.valueOf("2024-01-01")
    def month(m: Int, tag: String) = spark.range(1, 11).select(
      concat(lit(tag), col("id")).as("id"),
      date_add(lit(f"2024-$m%02d-01").cast("date"),
        (col("id") - 1).cast("int")).as("event_date"),
      concat(lit(tag), lit("_"), col("id")).as("label"),
      lit(d).as("start_date_oslo"))
    // three files with disjoint DATE zones (Jan, Feb, Mar) and
    // disjoint STRING label zones (a_*, b_*, c_*)
    LogTable.init(month(1, "a").repartition(1), root,
      statsCols = Seq("event_date", "label"))
    LogTable.append(spark, root, month(2, "b").repartition(1))
    LogTable.append(spark, root, month(3, "c").repartition(1))
    assert(LogTable.read(spark, root).inputFiles.length == 3)
    // DATE probe: the February band plans exactly the middle file
    val feb = LogTable.readSkippingStr(spark, root, "event_date",
      "2024-02-01", "2024-02-28")
    assert(feb.inputFiles.length == 1,
      s"date zones planned ${feb.inputFiles.length} files")
    assert(feb.filter(col("event_date").between("2024-02-01", "2024-02-28"))
      .count() == 10L)
    // a cross-month band plans two files, never fewer (superset)
    assert(LogTable.readSkippingStr(spark, root, "event_date",
      "2024-01-05", "2024-02-03").inputFiles.length == 2)
    // STRING probe: the b_* band plans exactly the middle file
    val bs = LogTable.readSkippingStr(spark, root, "label", "b_", "b~")
    assert(bs.inputFiles.length == 1,
      s"string zones planned ${bs.inputFiles.length} files")
    assert(bs.filter(col("label").startsWith("b_")).count() == 10L)
    // kind mismatch fails loudly both ways
    assert(intercept[IllegalArgumentException] {
      LogTable.readSkipping(spark, root, "label", 1.0, 2.0).inputFiles
    }.getMessage.contains("lexical"))
    // a long-string column records a truncated-incremented upper bound
    // that stays a SUPERSET: the probe inside the long value's range
    // still plans the file
    val root2 = java.nio.file.Files.createTempDirectory("graft_logtyz2")
      .toString + "/t"
    val longVal = "x" * 200
    LogTable.init(Seq((longVal, d)).toDF("blob", "start_date_oslo")
      .repartition(1), root2, statsCols = Seq("blob"))
    assert(LogTable.readSkippingStr(spark, root2, "blob",
      longVal, longVal).inputFiles.length == 1,
      "truncated upper bound must stay a superset")
    fs.delete(new org.apache.hadoop.fs.Path(root).getParent, true)
    fs.delete(new org.apache.hadoop.fs.Path(root2).getParent, true)
  }

  test("LogTable merge probes only zone-admitted candidate files " +
    "(r12 #7): with key zone maps the match probe plans a strict " +
    "subset of the live set, and the merge result is unchanged") {
    import graft.operators.LogTable
    val root = java.nio.file.Files.createTempDirectory("graft_logmp")
      .toString + "/t"
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val d = java.sql.Date.valueOf("2024-01-01")
    def batch(lo: Int, hi: Int) = spark.range(lo, hi + 1).select(
      col("id").cast("long").as("k"),
      col("id").cast("double").as("value"),
      lit(d).as("start_date_oslo"))
    LogTable.init(batch(1, 10).repartition(1), root,
      statsCols = Seq("k"))
    LogTable.append(spark, root, batch(11, 20).repartition(1))
    LogTable.append(spark, root, batch(21, 30).repartition(1))
    val m = LogTable.manifest(spark, root,
      graft.operators.TableLog.currentVersion(spark, root))
    // updates hit only keys 12 & 13 → the probe may scan ONLY the
    // middle file (zone [11, 20])
    val updates = Seq((12L, 1200.0, d), (13L, 1300.0, d))
      .toDF("k", "value", "start_date_oslo")
    val cand = LogTable.mergeCandidateFiles(spark, root, m, updates,
      Seq("k"))
    assert(cand.isDefined && cand.get.size == 1,
      s"probe planned ${cand.map(_.size)} of 3 files")
    LogTable.merge(spark, root, updates, Seq("k"))
    val got = LogTable.read(spark, root)
      .select("k", "value").as[(Long, Double)].collect().toMap
    assert(got.size == 30 && got(12L) == 1200.0 && got(13L) == 1300.0 &&
      got(11L) == 11.0)
    // out-of-range keys: the probe prunes EVERYTHING, merge = pure insert
    val inserts = Seq((99L, 9900.0, d)).toDF("k", "value",
      "start_date_oslo")
    val m2 = LogTable.manifest(spark, root,
      graft.operators.TableLog.currentVersion(spark, root))
    assert(LogTable.mergeCandidateFiles(spark, root, m2, inserts,
      Seq("k")).get.isEmpty)
    LogTable.merge(spark, root, inserts, Seq("k"))
    assert(LogTable.read(spark, root).count() == 31L)
    fs.delete(new org.apache.hadoop.fs.Path(root).getParent, true)
  }

  test("LogTable DV carry-forward provenance (ADVICE r13, high): when " +
    "hit files reference DIFFERENT cumulative vectors with " +
    "overlapping contents, dead positions are not double-counted and " +
    "a file with live rows is never dropped") {
    import graft.operators.LogTable
    val root = java.nio.file.Files.createTempDirectory("graft_dvprov")
      .toString + "/t"
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val d = java.sql.Date.valueOf("2024-01-01")
    def batch(lo: Int, hi: Int) = entries(
      (lo to hi).map(i => (s"e$i", "x", d, i.toDouble)): _*)
    // file A: values 1-10; file B: values 11-20 (statsCols records the
    // per-file ROW COUNTS the fully-dead drop check reads)
    LogTable.init(batch(1, 10).repartition(1), root,
      statsCols = Seq("value"))
    LogTable.append(spark, root, batch(11, 20).repartition(1))
    // delete1 hits A and B -> dv1 carries A(4 dead) + B(1 dead);
    // BOTH files point at dv1
    LogTable.delete(spark, root,
      col("value").between(1.0, 4.0) || col("value") === 11.0)
    // delete2 hits ONLY A -> dv2 = A's 3 new + dv1's 4 carried;
    // A -> dv2 (7 dead), B still -> dv1 (contents OVERLAP dv2 on A)
    LogTable.delete(spark, root, col("value").between(5.0, 7.0))
    // delete3 hits A and B again: the carried union must take A's
    // positions from dv2 ONLY and B's from dv1 ONLY — a hitTails-wide
    // union of both vectors double-counts A's first 4 dead positions
    // (2+7+4 = 13 >= 10) and silently drops A despite e10 being alive
    val v3 = LogTable.delete(spark, root,
      col("value").between(8.0, 9.0) || col("value") === 12.0)
    val m3 = LogTable.manifest(spark, root, v3)
    assert(m3.parts.values.flatten.size == 2,
      "file A still has a live row (e10) — it must not leave the live set")
    val dvRows = m3.parts.values.flatten.map(_.dvRows).toSeq.sorted
    assert(dvRows == Seq(2L, 9L),
      s"A must count exactly 9 dead and B exactly 2, got $dvRows")
    val alive = LogTable.read(spark, root).select("id").as[String]
      .collect().toSet
    assert(alive == ((13 to 20).map(i => s"e$i").toSet + "e10"), alive)
    fs.delete(new org.apache.hadoop.fs.Path(root).getParent, true)
  }

  test("LogTable DELETE/UPDATE match probes are zone-pruned (r13 " +
    "verdict #1): cond's conjuncts translate like pushed filters, " +
    "explicit ZonePreds intersect, kind conflicts never prune, and " +
    "the DML results are unchanged") {
    import graft.operators.LogTable
    import graft.operators.LogTable.NumRange
    val root = java.nio.file.Files.createTempDirectory("graft_dmlzone")
      .toString + "/t"
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val d = java.sql.Date.valueOf("2024-01-01")
    def batch(lo: Int, hi: Int) = spark.range(lo, hi + 1).select(
      col("id").cast("long").as("k"),
      col("id").cast("double").as("value"),
      lit(d).as("start_date_oslo"))
    LogTable.init(batch(1, 10).repartition(1), root, statsCols = Seq("k"))
    LogTable.append(spark, root, batch(11, 20).repartition(1))
    LogTable.append(spark, root, batch(21, 30).repartition(1))
    def m() = LogTable.manifest(spark, root,
      graft.operators.TableLog.currentVersion(spark, root))
    // auto-translation: a range on the zone-mapped key plans 1 of 3
    assert(LogTable.dmlCandidateFiles(spark, m(),
      col("k").between(12L, 13L)).size == 1)
    // untranslatable conjuncts are ignored, translatable ones prune
    assert(LogTable.dmlCandidateFiles(spark, m(),
      col("k") === 12L && col("value") % 2 === 0).size == 1)
    // a condition on a non-stats column prunes nothing (superset)
    assert(LogTable.dmlCandidateFiles(spark, m(),
      col("value") > 5.0).size == 3)
    // a kind-conflicting literal (string vs numeric zone) never prunes
    assert(LogTable.dmlCandidateFiles(spark, m(),
      col("k") === lit("12")).size == 3)
    // explicit ZonePreds intersect on top of the auto-translation
    assert(LogTable.dmlCandidateFiles(spark, m(), col("value") > 0.0,
      Seq(NumRange("k", 25.0, 27.0))).size == 1)
    // end-to-end: the pruned DELETE kills exactly the matched rows and
    // vectors only the one zone-admitted file
    val vDel = LogTable.delete(spark, root, col("k").between(12L, 13L))
    val mDel = LogTable.manifest(spark, root, vDel)
    assert(mDel.parts.values.flatten.count(_.dv.isDefined) == 1)
    assert(LogTable.read(spark, root).count() == 28L)
    // a probe-missing DELETE is a no-op commit-wise
    assert(LogTable.delete(spark, root, col("k") > 100L) == vDel)
    // the pruned UPDATE transforms exactly the matched rows
    LogTable.update(spark, root, col("k") === 25L,
      Map("value" -> lit(2500.0)))
    val got = LogTable.read(spark, root).select("k", "value")
      .as[(Long, Double)].collect().toMap
    assert(got.size == 28 && got(25L) == 2500.0 && got(24L) == 24.0 &&
      !got.contains(12L))
    fs.delete(new org.apache.hadoop.fs.Path(root).getParent, true)
  }

  test("LogTable vacuum sweeps partitions whose adds live only in " +
    "already-dropped deltas (ADVICE r13): a partition retired after " +
    "an earlier vacuum cannot leak its files forever") {
    import graft.operators.LogTable
    val root = java.nio.file.Files.createTempDirectory("graft_vacleak")
      .toString + "/t"
    val fsP = new org.apache.hadoop.fs.Path(root)
    val fs = fsP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val d1 = java.sql.Date.valueOf("2024-01-01")
    val d2 = java.sql.Date.valueOf("2024-01-02")
    LogTable.init(entries(("a", "x", d1, 1.0), ("b", "x", d2, 2.0)), root)
    (1 to 3).foreach(i => LogTable.append(spark, root,
      entries((s"c$i", "x", d2, 10.0 + i))))
    // first vacuum drops v1 (the only delta that ADDED partition d1);
    // d1's files stay referenced by the kept manifests, so they survive
    LogTable.vacuum(spark, root, keepLast = 2, minAgeMs = 0L)
    val p1 = new org.apache.hadoop.fs.Path(root,
      "start_date_oslo=2024-01-01")
    assert(fs.exists(p1), "d1 still referenced — must survive")
    // now retire d1 and vacuum again: no RETAINED delta mentions d1,
    // only the filesystem listing can find it
    LogTable.removePartitions(spark, root,
      Seq("start_date_oslo=2024-01-01"))
    LogTable.vacuum(spark, root, keepLast = 1, minAgeMs = 0L)
    assert(!fs.exists(p1),
      "d1's files are unreferenced — vacuum must reclaim the partition")
    assert(LogTable.read(spark, root).count() == 4L)
    fs.delete(fsP.getParent, true)
  }

  test("LogTable txnId validation (ADVICE r13): ids that would break " +
    "the regex-parsed manifest (quotes, backslashes) fail loudly at " +
    "the entry point instead of silently breaking replay dedup") {
    import graft.operators.LogTable
    val root = java.nio.file.Files.createTempDirectory("graft_txnval")
      .toString + "/t"
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val d = java.sql.Date.valueOf("2024-01-01")
    LogTable.init(entries(("a", "x", d, 1.0)), root)
    Seq("has\"quote", "has\\backslash", "has,comma", "has[bracket", "")
      .foreach { bad =>
        intercept[IllegalArgumentException] {
          LogTable.append(spark, root, entries(("b", "x", d, 2.0)),
            txnId = Some(bad))
        }
        intercept[IllegalArgumentException] {
          LogTable.merge(spark, root, entries(("b", "x", d, 2.0)),
            Seq("id"), txnId = Some(bad))
        }
        intercept[IllegalArgumentException] {
          LogTable.delete(spark, root, col("value") === 99.0,
            txnId = Some(bad))
        }
        intercept[IllegalArgumentException] {
          LogTable.update(spark, root, col("value") === 99.0,
            Map("value" -> lit(1.0)), txnId = Some(bad))
        }
      }
    // a safe id (the st4c shape) still round-trips
    val v = LogTable.append(spark, root, entries(("b", "x", d, 2.0)),
      txnId = Some("st4c:42"))
    assert(LogTable.append(spark, root, entries(("b", "x", d, 2.0)),
      txnId = Some("st4c:42")) == v, "replay must be a no-op")
    fs.delete(new org.apache.hadoop.fs.Path(root).getParent, true)
  }

  test("LogTable versionAsOf is a bounded binary search (r13 #7): " +
    "resolving TIMESTAMP AS OF on a 40-version log reads O(log n) " +
    "delta manifests, not the whole retained history") {
    import graft.operators.LogTable
    val root = java.nio.file.Files.createTempDirectory("graft_asofbin")
      .toString + "/t"
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val d = java.sql.Date.valueOf("2024-01-01")
    LogTable.init(entries(("e1", "x", d, 1.0)), root)
    var t20 = 0L
    (2 to 40).foreach { i =>
      LogTable.append(spark, root, entries((s"e$i", "x", d, i.toDouble)))
      if (i == 20) { Thread.sleep(5); t20 = System.currentTimeMillis()
        Thread.sleep(5) }
    }
    val before = LogTable.deltaReads.get()
    assert(LogTable.versionAsOf(spark, root, t20) == 20L)
    val reads = LogTable.deltaReads.get() - before
    assert(reads <= 14L, // 1 floor probe + ceil(log2(40)) + slack
      s"versionAsOf read $reads deltas on a 40-version log — " +
        "expected a bounded binary search")
    // readAsOfTimestamp still returns the pinned version's contents
    assert(LogTable.readAsOfTimestamp(spark, root, t20).count() == 20L)
    fs.delete(new org.apache.hadoop.fs.Path(root).getParent, true)
  }

  test("LogTable change-feed source (st60, r13 #2): the poller " +
    "delivers each version window once, the maintained aggregate " +
    "equals a full recompute after append/merge/delete, a stale OR " +
    "LOST watermark recovers from the aggregate's own txn ledger " +
    "without double-folding, a re-delivered exact window folds " +
    "idempotently, and an idle poll is a no-op") {
    import graft.operators.{LogTable, TableLog}
    import graft.streaming.Streams
    val base = java.nio.file.Files.createTempDirectory("graft_st60spec")
      .toString
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val d = java.sql.Date.valueOf("2024-01-01")
    val fact = s"$base/fact"
    val agg = s"$base/agg"
    val wm = s"$base/wm"
    def rows(r: (String, String, Long)*) = r.toSeq
      .map { case (id, g, c) => (id, g, c, d) }
      .toDF("id", "grp", "cents", "start_date_oslo")
    var folds = 0
    def poll(): Long = Streams.pollLogTableChanges(spark, fact, wm,
      recoverLast = Some(() => Streams.cdcLastFolded(spark, agg))) {
      (feed, a, b) =>
        folds += 1
        Streams.foldChangeFeedIntoAggregate(spark, agg, feed, a, b,
          "grp", "cents")
    }
    LogTable.init(rows(("e1", "a", 10L), ("e2", "a", 20L),
      ("e3", "b", 30L)), fact)                                  // v1
    assert(poll() == 1L && folds == 1)
    assert(poll() == 1L && folds == 1, "idle poll must deliver nothing")
    LogTable.append(spark, fact, rows(("e4", "b", 40L)))        // v2
    LogTable.merge(spark, fact,
      rows(("e2", "a", 200L)), Seq("id"))                       // v3
    assert(poll() == 3L && folds == 2, "one window for the whole gap")
    LogTable.delete(spark, fact, col("cents") === 30L)          // v4
    assert(poll() == 4L && folds == 3)
    def aggState(): Map[String, (Long, Long)] =
      LogTable.read(spark, agg).filter(col("n_rows") > 0L)
        .select("grp", "n_rows", "sum_val")
        .collect().map(r => r.getString(0) ->
          (r.getLong(1), r.getLong(2))).toMap
    def recompute(): Map[String, (Long, Long)] =
      LogTable.read(spark, fact).groupBy(col("grp"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("s"))
        .collect().map(r => r.getString(0) ->
          (r.getLong(1), r.getLong(2))).toMap
    assert(aggState() == recompute(),
      s"fold drifted: ${aggState()} vs ${recompute()}")
    // crash contract: the watermark write was lost — the next poll
    // re-delivers (3, 4], and the fold's cdc:<from>-<to> txn makes it
    // a commit-level no-op
    val vAgg = TableLog.currentVersion(spark, agg)
    val wmP = new org.apache.hadoop.fs.Path(wm)
    val out = fs.create(wmP, true)
    out.write("3".getBytes("UTF-8")); out.close()
    assert(poll() == 4L, "stale watermark must be recovered")
    assert(folds == 3,
      "recovery reads the true last-folded version off the aggregate's " +
        "txn ledger — the window is NOT re-delivered")
    assert(TableLog.currentVersion(spark, agg) == vAgg)
    assert(aggState() == recompute())
    // TOTAL watermark loss: without recovery this would deliver the
    // OVERLAPPING window (1, 4] under a never-seen txn id — a double
    // fold; cdcLastFolded makes it a no-op
    fs.delete(wmP, false)
    assert(poll() == 4L && folds == 3,
      "a lost watermark must not double-fold overlapping windows")
    assert(aggState() == recompute())
    // the raw at-least-once contract still holds for a re-delivered
    // EXACT window (the fold's own txn dedup)
    Streams.foldChangeFeedIntoAggregate(spark, agg,
      LogTable.changes(spark, fact, 3L, 4L), 3L, 4L, "grp", "cents")
    assert(TableLog.currentVersion(spark, agg) == vAgg)
    fs.delete(new org.apache.hadoop.fs.Path(base), true)
  }

  test("recomputeStats (ADVICE r14): a LEGACY manifest carrying a " +
    "finite zone over a NaN-infected file silently drops NaN rows on " +
    "a one-sided probe; restat re-derives every zone under the " +
    "current contract in one commit and the rows come back") {
    import graft.operators.LogTable
    val root = java.nio.file.Files.createTempDirectory("graft_restat")
      .toString + "/t"
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val d = java.sql.Date.valueOf("2024-01-01")
    val clean = Seq(("b1", 10.0), ("b2", 11.0), ("b3", 12.0))
      .toDF("id", "v").withColumn("start_date_oslo", lit(d))
    val nanny = Seq(("a1", 1.0), ("a2", 2.0), ("a3", 3.0),
      ("aN", Double.NaN))
      .toDF("id", "v").withColumn("start_date_oslo", lit(d))
    LogTable.init(clean.repartition(1), root, statsCols = Seq("v"))
    LogTable.append(spark, root, nanny.repartition(1))          // v2
    // simulate a pre-r14 manifest: hand the NaN file a FINITE zone
    // (the old write path recorded NaN-excluding min/max) by editing
    // v2's delta BEFORE anything parses it
    val deltaP = new org.apache.hadoop.fs.Path(
      s"$root/_graft_log/_v00000002.json")
    val in = fs.open(deltaP)
    val body = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    assert(!body.contains("min:v"),
      "current contract must record NO zone for the NaN file")
    val poisoned = body.replace(""""rows":4""",
      """"rows":4,"min:v":1,"max:v":3""")
    assert(poisoned != body, "fixture drift: rows:4 not found")
    fs.delete(deltaP, false)
    val out = fs.create(deltaP, true)
    out.write(poisoned.getBytes("UTF-8")); out.close()
    // the legacy bug, reproduced: NaN orders above every value, so
    // v >= 100 matches ONLY the NaN row — and the finite zone [1,3]
    // prunes its file
    assert(LogTable.readIndexed(spark, root)
      .filter(col("v") >= 100.0).count() == 0L,
      "fixture must reproduce the legacy silent miss")
    // one maintenance commit re-derives the zones under the current
    // contract (NaN-infected file → no zone → unprunable)
    val v3 = LogTable.recomputeStats(spark, root)
    assert(v3 == 3L)
    assert(LogTable.readIndexed(spark, root)
      .filter(col("v") >= 100.0).select("id").as[String]
      .collect().toSeq == Seq("aN"),
      "restat must resurrect the NaN row")
    // everything else is untouched: same rows; the CLEAN file's fresh
    // zone still prunes (a [100, 200] probe excludes it), while the
    // NaN file is unprunable by design — exactly one file planned
    assert(LogTable.read(spark, root).count() == 7L)
    assert(LogTable.readSkipping(spark, root, "v", 100.0, 200.0)
      .inputFiles.length == 1)
    fs.delete(new org.apache.hadoop.fs.Path(root).getParent, true)
  }

  test("locked ops rebase across racing lock-free appends: merges " +
    "and deletes running concurrently with appenders keep exact " +
    "semantics whatever the commit interleaving — the CAS loser " +
    "re-reads the head and retries — and versions stay dense") {
    import graft.operators.{LogTable, TableLog}
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val d = java.sql.Date.valueOf("2024-01-01")
    for (round <- 0 until 3) {
      val root = java.nio.file.Files.createTempDirectory(
        s"graft_race$round").toString + "/t"
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      def rows(r: (String, Long)*) = r.toSeq
        .map { case (id, v) => (id, v, d) }
        .toDF("id", "v", "start_date_oslo")
      val base = (0 until 40).map(i => s"m$i" -> i.toLong)
      LogTable.init(rows(base: _*).repartition(4), root,
        statsCols = Seq("v"))                                   // v1
      // a COW merge (locked, heavy probe) vs four lock-free appends:
      // the merge's snapshot semantics must hold — appended rows are
      // never matched, replaced keys carry the update values — and
      // every writer's commit lands exactly once
      val upd = (0 until 10).map(i => s"m${i * 4}" -> (1000L + i)) ++
        Seq("x1" -> 7777L, "x2" -> 8888L)
      val mergeF = Future(LogTable.merge(spark, root, rows(upd: _*),
        Seq("id")))
      val appendFs = (0 until 4).map(i => Future(LogTable.append(
        spark, root, rows((0 until 5).map(j =>
          s"a$i-$j" -> (i * 100 + j).toLong): _*).repartition(1))))
      Await.result(mergeF, 300.seconds)
      appendFs.foreach(Await.result(_, 300.seconds))
      assert(TableLog.currentVersion(spark, root) == 6L,
        s"round $round: versions not dense")
      val model = (base.toMap -- upd.map(_._1)) ++ upd.toMap ++
        (for (i <- 0 until 4; j <- 0 until 5)
          yield s"a$i-$j" -> (i * 100 + j).toLong).toMap
      val got = LogTable.read(spark, root)
        .select("id", "v").as[(String, Long)].collect().toMap
      assert(got == model,
        s"round $round: ${got.toSet diff model.toSet} / " +
          s"${model.toSet diff got.toSet}")
      // and a DELETE racing appends: its DV applies to ITS snapshot;
      // racing adds land untouched
      val delF = Future(LogTable.delete(spark, root, col("v") >= 1000L))
      val appendF2 = Future(LogTable.append(spark, root,
        rows("z1" -> 5000L).repartition(1)))
      Await.result(delF, 300.seconds)
      Await.result(appendF2, 300.seconds)
      val after = LogTable.read(spark, root)
        .select("id", "v").as[(String, Long)].collect().toMap
      // z1 survives regardless of interleaving: either it committed
      // after the delete's snapshot (not probed) or before (v=5000
      // matches the condition...) — v >= 1000 WOULD match z1 if the
      // delete's probe saw it; both outcomes are snapshot-consistent,
      // so assert only the invariants every interleaving shares
      assert(!after.keySet.exists(_.startsWith("x")),
        s"round $round: merge-inserted high-v rows must be deleted")
      assert(after.filter(_._1.startsWith("m")).forall(_._2 < 1000L),
        s"round $round: updated rows must be deleted")
      assert(after.size >= model.count(_._2 < 1000L),
        s"round $round: low-v rows lost")
      fs.delete(new org.apache.hadoop.fs.Path(root).getParent, true)
    }
  }

  test("conflict-checked concurrent DML (r15 directive #2): two " +
    "deletes on DISJOINT partitions both commit lock-free — even " +
    "while someone else HOLDS the table lock — an overlapping pair " +
    "aborts loudly with ConcurrentWriteException, a merge racing an " +
    "insert of one of its keys aborts, and a same-txnId DML race " +
    "lands exactly once") {
    import graft.operators.{LogTable, TableLog}
    val base = java.nio.file.Files.createTempDirectory("graft_cdml")
      .toString
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val d1 = java.sql.Date.valueOf("2024-01-01")
    val d2 = java.sql.Date.valueOf("2024-01-02")
    def rows(d: java.sql.Date, r: (String, Long)*) = r.toSeq
      .map { case (id, v) => (id, v, d) }
      .toDF("id", "v", "start_date_oslo")
    def fresh(tag: String): String = {
      val root = s"$base/$tag"
      // ONE file per partition: the overlap case needs its two
      // victims co-located so the DVs genuinely collide
      LogTable.init(rows(d1, (0 until 8).map(i =>
        s"a$i" -> i.toLong): _*).repartition(1), root)
      LogTable.append(spark, root, rows(d2, (0 until 8).map(i =>
        s"b$i" -> (100L + i)): _*).repartition(1))
      root
    }
    // 1) DISJOINT partitions, deterministic interleave: delete A's
    // commit window runs delete B (other partition) to completion
    // first — both commit, no serialization, no lock taken (the table
    // lock is HELD by a bystander the whole time)
    locally {
      val root = fresh("disjoint")
      val lockP = new org.apache.hadoop.fs.Path(
        s"$root/_graft_log/_lock")
      val out = fs.create(lockP, false)
      out.write("{\"owner\":\"held-by-spec\"}".getBytes("UTF-8"))
      out.close()
      try {
        @volatile var fired = false
        TableLog.dmlCommitHook = { _ =>
          if (!fired) {
            fired = true // one-shot: the inner delete skips the hook
            LogTable.delete(spark, root,
              col("start_date_oslo") === lit(d2) && col("v") >= 106L)
          }
        }
        try LogTable.delete(spark, root,
          col("start_date_oslo") === lit(d1) && col("v") >= 6L)
        finally TableLog.dmlCommitHook = _ => ()
        assert(fired, "the race window hook must have fired")
      } finally fs.delete(lockP, false)
      assert(TableLog.currentVersion(spark, root) == 4L,
        "both deletes must commit (v3 inner, v4 outer)")
      assert(LogTable.read(spark, root).select("id").as[String]
        .collect().toSet ==
        ((0 until 6).map(i => s"a$i") ++
          (0 until 6).map(i => s"b$i")).toSet)
    }
    // 2) OVERLAPPING files: the interleaved delete DVs the same file
    // the outer delete read — the outer commit must abort loudly,
    // and the inner delete's rows must stay exactly-once dead
    locally {
      val root = fresh("overlap")
      @volatile var fired = false
      TableLog.dmlCommitHook = { _ =>
        if (!fired) { fired = true
          LogTable.delete(spark, root, col("v") === 1L)
        }
      }
      val e = try intercept[Exception] {
        LogTable.delete(spark, root, col("v") === 2L)
      } finally TableLog.dmlCommitHook = _ => ()
      assert(e.getMessage.contains("deletion vector") ||
        e.getMessage.contains("retired"), e.getMessage)
      val ids = LogTable.read(spark, root).select("id").as[String]
        .collect().toSet
      assert(!ids.contains("a1") && ids.contains("a2"),
        s"inner delete applied once, outer aborted cleanly: $ids")
      // the aborted op committed NOTHING: re-running it succeeds
      LogTable.delete(spark, root, col("v") === 2L)
      assert(!LogTable.read(spark, root).select("id").as[String]
        .collect().toSet.contains("a2"))
    }
    // 3) MERGE vs a phantom insert of one of its keys: the interleaved
    // append lands a row with a key the merge plans to INSERT — the
    // merge must abort (committing would duplicate the key)
    locally {
      val root = fresh("phantom")
      @volatile var fired = false
      TableLog.dmlCommitHook = { _ =>
        if (!fired) { fired = true
          LogTable.append(spark, root, rows(d1, "n1" -> 900L))
        }
      }
      val e = try intercept[graft.operators.LogTable
          .ConcurrentWriteException] {
        LogTable.merge(spark, root, rows(d1, "n1" -> 999L), Seq("id"))
      } finally TableLog.dmlCommitHook = _ => ()
      assert(e.getMessage.contains("keys"), e.getMessage)
      // exactly one n1 row (the append's), never two
      assert(LogTable.read(spark, root).filter(col("id") === "n1")
        .count() == 1L)
      // and a phantom append of an UNRELATED key does NOT abort the
      // merge (disjoint work flows)
      @volatile var fired2 = false
      TableLog.dmlCommitHook = { _ =>
        if (!fired2) { fired2 = true
          LogTable.append(spark, root, rows(d1, "z9" -> 901L))
        }
      }
      try LogTable.merge(spark, root, rows(d1, "n2" -> 998L), Seq("id"))
      finally TableLog.dmlCommitHook = _ => ()
      val m = LogTable.read(spark, root).select("id", "v")
        .as[(String, Long)].collect().toMap
      assert(m.get("n2").contains(998L) && m.get("z9").contains(901L), m)
    }
    // 4) same-txnId race: the interleaved twin commits the txn first;
    // the outer op collapses to a no-op at the head — exactly once
    locally {
      val root = fresh("txn")
      @volatile var fired = false
      TableLog.dmlCommitHook = { _ =>
        if (!fired) { fired = true
          LogTable.delete(spark, root, col("v") === 3L,
            txnId = Some("tw1"))
        }
      }
      val vOut = try LogTable.delete(spark, root, col("v") === 3L,
        txnId = Some("tw1"))
      finally TableLog.dmlCommitHook = _ => ()
      assert(vOut == TableLog.currentVersion(spark, root))
      assert(TableLog.currentVersion(spark, root) == 3L,
        "the twin's commit is the only one")
      assert(LogTable.read(spark, root).filter(col("v") === 3L)
        .count() == 0L)
    }
    fs.delete(new org.apache.hadoop.fs.Path(base), true)
  }

  test("multi-part checkpoints (r14 verdict #3): a checkpoint shards " +
    "into multiple parquet parts under a forced small part size, " +
    "reconstruction is value-identical through it, and versions " +
    "beneath the checkpoint still time-travel") {
    import graft.operators.{LogTable, TableLog}
    val root = java.nio.file.Files.createTempDirectory("graft_mpcp")
      .toString + "/t"
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val d = java.sql.Date.valueOf("2024-01-01")
    spark.conf.set("spark.graft.logtable.checkpointInterval", "3")
    spark.conf.set("spark.graft.logtable.checkpointPartRows", "4")
    try {
      def batch(lo: Int) = entries((lo until lo + 4)
        .map(i => (s"e$i", "x", d, i.toDouble)): _*)
      LogTable.init(batch(0).repartition(2), root)              // v1
      (1 to 5).foreach(i =>                                      // v2..v6
        LogTable.append(spark, root, batch(i * 10).repartition(2)))
      // v3 and v6 checkpointed; 12 live files / partRows 4 → >1 part
      val ld = new org.apache.hadoop.fs.Path(s"$root/_graft_log")
      val cps = fs.listStatus(ld).filter(_.isDirectory)
        .map(_.getPath).filter(_.getName.startsWith("_cp"))
      assert(cps.nonEmpty, "no checkpoint written")
      val newest = cps.maxBy(_.getName)
      val parts = fs.listStatus(newest)
        .count(_.getPath.getName.endsWith(".parquet"))
      assert(parts > 1, s"expected a sharded checkpoint, got $parts part")
      // reconstruction through the sharded checkpoint is exact
      val got = LogTable.read(spark, root).select("id").as[String]
        .collect().toSet
      val want = (Seq(0) ++ (1 to 5).map(_ * 10))
        .flatMap(lo => (lo until lo + 4).map(i => s"e$i")).toSet
      assert(got == want)
      assert(LogTable.readIndexed(spark, root).count() == 24L)
      // a version beneath the newest checkpoint still reconstructs
      assert(LogTable.read(spark, root, Some(2L)).count() == 8L)
      assert(TableLog.currentVersion(spark, root) == 6L)
    } finally {
      spark.conf.unset("spark.graft.logtable.checkpointInterval")
      spark.conf.unset("spark.graft.logtable.checkpointPartRows")
    }
    fs.delete(new org.apache.hadoop.fs.Path(root).getParent, true)
  }

  test("optimistic lock-free commits (r14 directive #4): concurrent " +
    "appenders to DIFFERENT partitions both commit while the table " +
    "lock is HELD by someone else (proof they never touch it), CAS " +
    "contention stays dense and exact, a same-txnId race lands " +
    "exactly once, and two concurrent schema evolutions UNION") {
    import graft.operators.{LogTable, TableLog}
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val root = java.nio.file.Files.createTempDirectory("graft_cas")
      .toString + "/t"
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def day(i: Int) = java.sql.Date.valueOf(f"2024-01-${i + 1}%02d")
    def slice(tag: String, d: java.sql.Date, n: Int = 10) =
      spark.range(0, n).select(concat(lit(tag), $"id").as("id"),
        $"id".as("v"), lit(d).as("start_date_oslo")).repartition(1)
    LogTable.init(slice("a", day(0)), root)                     // v1
    // someone ELSE holds the table lock (a long-running locked op) —
    // under the old mutex design every append would block on it
    val lockP = new org.apache.hadoop.fs.Path(s"$root/_graft_log/_lock")
    val out = fs.create(lockP, false)
    out.write("{\"owner\":\"held-by-spec\"}".getBytes("UTF-8"))
    out.close()
    try {
      val f1 = Future(LogTable.append(spark, root, slice("b", day(1))))
      val f2 = Future(LogTable.append(spark, root, slice("c", day(2))))
      val (v1, v2) = (Await.result(f1, 120.seconds),
        Await.result(f2, 120.seconds))
      assert(Set(v1, v2) == Set(2L, 3L),
        s"both appenders must commit dense versions: $v1, $v2")
    } finally fs.delete(lockP, false)
    assert(LogTable.read(spark, root).count() == 30L)
    // CAS contention: 6 more appenders at once — versions stay dense,
    // every row lands exactly once
    val fs6 = (3 until 9).map(i =>
      Future(LogTable.append(spark, root, slice(s"p$i", day(i)))))
    fs6.foreach(Await.result(_, 180.seconds))
    assert(TableLog.currentVersion(spark, root) == 9L)
    assert(LogTable.read(spark, root).count() == 90L)
    // same-txnId race: the linearization argument — a loser's retry
    // re-reads the head its CAS lost to, whose ledger then contains
    // the winner's txn, so exactly one commit can ever carry it
    val vBefore = TableLog.currentVersion(spark, root)
    val dupes = (0 until 4).map(_ => Future(LogTable.append(spark, root,
      slice("once", day(10)), txnId = Some("race-once"))))
    val got = dupes.map(Await.result(_, 180.seconds))
    assert(got.toSet == Set(vBefore + 1),
      s"all racers must converge on the one committed version: $got")
    assert(TableLog.currentVersion(spark, root) == vBefore + 1)
    assert(LogTable.read(spark, root)
      .filter($"id".startsWith("once")).count() == 10L)
    // concurrent schema evolutions: one writer adds colX, the other
    // colY — the CAS loser reconciles the UNION (add-only world)
    val withX = slice("x", day(11)).withColumn("colX",
      when($"v" >= 0L, $"v".cast("string"))) // when() => nullable
    val withY = slice("y", day(12)).withColumn("colY",
      when($"v" >= 0L, $"v" * 2L))
    val e1 = Future(LogTable.append(spark, root, withX))
    val e2 = Future(LogTable.append(spark, root, withY))
    Await.result(e1, 180.seconds); Await.result(e2, 180.seconds)
    val cols = LogTable.read(spark, root).columns.toSet
    assert(cols.contains("colX") && cols.contains("colY"),
      s"union evolution lost a column: $cols")
    // rows null-fill the column the OTHER writer added
    assert(LogTable.read(spark, root)
      .filter($"id".startsWith("x") && $"colY".isNull).count() == 10L)
    assert(LogTable.read(spark, root)
      .filter($"id".startsWith("y") && $"colX".isNull).count() == 10L)
    // vacuum with an age floor leaves young in-flight-shaped files
    // alone; with none it reclaims orphans as before
    val (_, keptYoung) = LogTable.vacuum(spark, root, keepLast = 1,
      minAgeMs = 3600000L)
    assert(keptYoung == 0, s"minAgeMs must shield young files: $keptYoung")
    assert(LogTable.read(spark, root).count() == 120L)
    fs.delete(new org.apache.hadoop.fs.Path(root).getParent, true)
  }

  test("manifest format versioning (r15, Delta's protocol role): a " +
    "delta stamped with a NEWER fmt fails loudly at parse instead of " +
    "being regex-walked into silent misreads; current-format tables " +
    "read normally") {
    import graft.operators.{LogTable, TableLog}
    val root = java.nio.file.Files.createTempDirectory("graft_fmt")
      .toString + "/t"
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val d = java.sql.Date.valueOf("2024-01-01")
    LogTable.init(entries(("e1", "x", d, 1.0)), root)
    assert(LogTable.read(spark, root).count() == 1L)
    // a FUTURE engine's commit lands in the log
    val ld = new org.apache.hadoop.fs.Path(s"$root/_graft_log")
    val out = fs.create(
      new org.apache.hadoop.fs.Path(ld, "_v00000002.json"), false)
    out.write(
      ("""{"version":2,"fmt":99,"action":"append","shiny":true,""" +
        s""""ts":${System.currentTimeMillis()},"parts":[],""" +
        """"removes":[]}""").getBytes("UTF-8"))
    out.close()
    val e = intercept[RuntimeException] {
      LogTable.read(spark, root)
    }
    assert(e.getMessage.contains("manifest format 99"), e.getMessage)
    assert(TableLog.currentVersion(spark, root) == 2L)
    fs.delete(new org.apache.hadoop.fs.Path(root).getParent, true)
  }

  test("logtable streaming source kill-and-restart (st61, r14 #3): a " +
    "crash AFTER the fold's commit but BEFORE Spark records the " +
    "batch re-delivers the same batch id from the offset log on " +
    "restart, and the aggregate's txn ledger collapses it — " +
    "exactly-once with NO watermark file; the feed itself carries " +
    "_commit_version") {
    import graft.operators.{LogTable, TableLog}
    import graft.streaming.Streams
    val base = java.nio.file.Files.createTempDirectory("graft_st61kr")
      .toString
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val d = java.sql.Date.valueOf("2024-01-01")
    val fact = s"$base/fact"
    val agg = s"$base/agg"
    val ckpt = s"$base/ckpt"
    def rows(r: (String, String, Long)*) = r.toSeq
      .map { case (id, g, c) => (id, g, c, d) }
      .toDF("id", "grp", "cents", "start_date_oslo")
    LogTable.init(rows(("e1", "a", 10L), ("e2", "a", 20L),
      ("e3", "b", 30L)), fact)                                  // v1
    // batch 0 (bootstrap) — clean pass
    Streams.runLogTableCdcFoldAvailableNow(spark, fact, agg, ckpt,
      "grp", "cents")
    def aggState(): Map[String, (Long, Long)] =
      LogTable.read(spark, agg).filter(col("n_rows") > 0L)
        .select("grp", "n_rows", "sum_val")
        .collect().map(r => r.getString(0) ->
          (r.getLong(1), r.getLong(2))).toMap
    def recompute(): Map[String, (Long, Long)] =
      LogTable.read(spark, fact).groupBy(col("grp"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("s"))
        .collect().map(r => r.getString(0) ->
          (r.getLong(1), r.getLong(2))).toMap
    assert(aggState() == recompute())
    // more history, then the injected crash: the fold for batch 1
    // COMMITS, the stream dies before Spark records the batch
    LogTable.append(spark, fact, rows(("e4", "b", 40L)))        // v2
    LogTable.merge(spark, fact, rows(("e2", "a", 200L)), Seq("id")) // v3
    val crashed = intercept[org.apache.spark.sql.streaming
        .StreamingQueryException] {
      Streams.runLogTableCdcFoldAvailableNow(spark, fact, agg, ckpt,
        "grp", "cents", crashAfterBatch = Some(1L))
    }
    assert(crashed.getMessage.contains("injected crash"),
      crashed.getMessage)
    // the fold's effect landed exactly once already...
    assert(aggState() == recompute(), "the pre-crash fold committed")
    val vAfterCrash = TableLog.currentVersion(spark, agg)
    // ...and the RESTART re-delivers batch 1 from the offset log; the
    // ledger's cdcsrc:1 txn makes the re-fold a commit-level no-op
    Streams.runLogTableCdcFoldAvailableNow(spark, fact, agg, ckpt,
      "grp", "cents")
    assert(TableLog.currentVersion(spark, agg) == vAfterCrash,
      "the replayed batch must not commit a second fold")
    assert(aggState() == recompute(), "double fold after restart")
    // no watermark file anywhere — delivery state lives in Spark's
    // checkpoint offset log alone
    assert(!fs.listStatus(new org.apache.hadoop.fs.Path(base))
      .map(_.getPath.getName).contains("watermark"))
    // a later delete flows through a fresh restart, and the feed's
    // rows carry their _commit_version
    LogTable.delete(spark, fact, col("cents") === 30L)          // v4
    Streams.runLogTableCdcFoldAvailableNow(spark, fact, agg, ckpt,
      "grp", "cents")
    assert(aggState() == recompute())
    val feedCols = spark.readStream.format("logtable")
      .option("startingVersion", "0").load(fact).schema.fieldNames
    assert(feedCols.contains("_change_type") &&
      feedCols.contains("n_rows") &&
      feedCols.contains("_commit_version"), feedCols.mkString(","))
    fs.delete(new org.apache.hadoop.fs.Path(base), true)
  }

  test("logtable streaming source admission control (r15 verdict " +
    "#4): maxVersionsPerTrigger=1 drains a multi-version backlog in " +
    "one-version micro-batches instead of one giant batch, a restart " +
    "resumes rate-limiting from the CHECKPOINTED position, and the " +
    "folded aggregate stays exactly-once across the split") {
    import graft.operators.LogTable
    import graft.streaming.Streams
    val base = java.nio.file.Files.createTempDirectory("graft_mvpt")
      .toString
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val d = java.sql.Date.valueOf("2024-01-01")
    val fact = s"$base/fact"
    val agg = s"$base/agg"
    val ckpt = s"$base/ckpt"
    def rows(r: (String, String, Long)*) = r.toSeq
      .map { case (id, g, c) => (id, g, c, d) }
      .toDF("id", "grp", "cents", "start_date_oslo")
    LogTable.init(rows(("e1", "a", 10L)), fact)                 // v1
    LogTable.append(spark, fact, rows(("e2", "a", 20L)))        // v2
    LogTable.append(spark, fact, rows(("e3", "b", 30L)))        // v3
    LogTable.append(spark, fact, rows(("e4", "b", 40L)))        // v4
    // batch log: (batchId, the distinct _commit_versions in the batch)
    val seen = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Set[Long])]
    def run(): Unit = {
      val q = spark.readStream.format("logtable")
        .option("startingVersion", "0")
        .option("maxVersionsPerTrigger", "1")
        .load(fact)
        .writeStream
        .foreachBatch {
          (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
           id: java.lang.Long) =>
            val vs = batch.select("_commit_version").distinct()
              .collect().map(_.getLong(0)).toSet
            seen.synchronized { seen += ((id.toLong, vs)) }
            Streams.foldFeedIntoAggregate(spark, agg, batch.toDF(),
              txnId = s"mvpt:$id", isBootstrap = id == 0L,
              grpCol = "grp", valCol = "cents")
        }
        .option("checkpointLocation", ckpt)
        .start()
      q.processAllAvailable()
      q.stop()
    }
    run()
    // a 4-version backlog drains as 4 one-version batches, in order
    assert(seen.map(_._2) == Seq(Set(1L), Set(2L), Set(3L), Set(4L)),
      s"backlog must split one version per trigger: $seen")
    def aggState(): Map[String, (Long, Long)] =
      LogTable.read(spark, agg).filter(col("n_rows") > 0L)
        .select("grp", "n_rows", "sum_val")
        .collect().map(r => r.getString(0) ->
          (r.getLong(1), r.getLong(2))).toMap
    def recompute(): Map[String, (Long, Long)] =
      LogTable.read(spark, fact).groupBy(col("grp"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("s"))
        .collect().map(r => r.getString(0) ->
          (r.getLong(1), r.getLong(2))).toMap
    assert(aggState() == recompute(), "fold drifted across the split")
    // restart from the checkpoint: rate limiting resumes from the
    // committed position (v4), not startingVersion — two new versions
    // arrive as two fresh one-version batches, exactly once
    LogTable.append(spark, fact, rows(("e5", "a", 50L)))        // v5
    LogTable.merge(spark, fact, rows(("e3", "b", 300L)), Seq("id")) // v6
    seen.clear()
    run()
    assert(seen.map(_._2) == Seq(Set(5L), Set(6L)),
      s"restart must resume from the checkpoint: $seen")
    assert(aggState() == recompute(), "post-restart fold drifted")
    // BYTES-based admission (r16): with a budget of exactly two
    // versions' added bytes, the 6-version backlog drains as
    // two-version batches; a budget smaller than any single version
    // still makes progress one version at a time (the ≥1 guarantee)
    locally {
      import graft.operators.LogTable
      def b(v: Long) = LogTable.commitAddedBytes(spark, fact, v)
      val twoV = b(2L) + b(3L)
      val seenB = scala.collection.mutable.ArrayBuffer.empty[Set[Long]]
      val q = spark.readStream.format("logtable")
        .option("startingVersion", "1")
        .option("maxBytesPerTrigger", twoV.toString)
        .load(fact)
        .writeStream
        .foreachBatch {
          (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
           _: java.lang.Long) =>
            seenB.synchronized {
              seenB += batch.select("_commit_version").distinct()
                .collect().map(_.getLong(0)).toSet
            }
            ()
        }
        .option("checkpointLocation", s"$base/ckptB")
        .start()
      q.processAllAvailable(); q.stop()
      // contract, not exact grouping (parquet sizes vary by a few
      // bytes between versions): all versions arrive in order, no
      // multi-version batch exceeds the budget, and the first batch
      // fills it exactly (b2+b3 = budget, +b4 would exceed)
      val batches = seenB.toSeq
      assert(batches.flatMap(_.toSeq.sorted) == (2L to 6L),
        s"all versions once, in order: $batches")
      batches.foreach(vs => assert(
        vs.size == 1 || vs.toSeq.map(b).sum <= twoV,
        s"multi-version batch over budget: $vs of $batches"))
      assert(batches.head == Set(2L, 3L),
        s"the first batch must fill the byte budget: $batches")
      assert(batches.size < 5,
        s"the budget must group versions, not degrade to 1/trigger: " +
          s"$batches")
      val seenB1 = scala.collection.mutable.ArrayBuffer.empty[Set[Long]]
      val q1 = spark.readStream.format("logtable")
        .option("startingVersion", "1")
        .option("maxBytesPerTrigger", "1")
        .load(fact)
        .writeStream
        .foreachBatch {
          (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
           _: java.lang.Long) =>
            seenB1.synchronized {
              seenB1 += batch.select("_commit_version").distinct()
                .collect().map(_.getLong(0)).toSet
            }
            ()
        }
        .option("checkpointLocation", s"$base/ckptB1")
        .start()
      q1.processAllAvailable(); q1.stop()
      assert(seenB1.toSeq ==
        (2L to 6L).map(Set(_)).toSeq,
        s"a 1-byte budget still progresses one version/trigger: $seenB1")
    }
    // no-data-change maintenance (r16 advice): a compact re-adds every
    // live file, but its change feed is empty by construction — it
    // must weigh ZERO in byte admission (not eat the whole budget)
    // and its feed scan must be skipped outright
    locally {
      LogTable.compact(spark, fact, targetBytes = 1L << 30)  // v7
      LogTable.append(spark, fact, rows(("e7", "c", 70L)))   // v8
      val budget = LogTable.commitAddedBytes(spark, fact, 8L)
      val seenM = scala.collection.mutable.ArrayBuffer.empty[Set[Long]]
      val q = spark.readStream.format("logtable")
        .option("startingVersion", "6")
        .option("maxBytesPerTrigger", budget.toString)
        .load(fact)
        .writeStream
        .foreachBatch {
          (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
           _: java.lang.Long) =>
            seenM.synchronized {
              seenM += batch.select("_commit_version").distinct()
                .collect().map(_.getLong(0)).toSet
            }
            ()
        }
        .option("checkpointLocation", s"$base/ckptM")
        .start()
      q.processAllAvailable(); q.stop()
      // one batch: the zero-weighted compact rides along with v8 under
      // a budget sized for v8 alone, and emits NO rows of its own
      assert(seenM.toSeq == Seq(Set(8L)),
        s"compact must be zero-weighted and feed-skipped: $seenM")
    }
    fs.delete(new org.apache.hadoop.fs.Path(base), true)
  }

  test("logtable streaming source startingTimestamp (r17 verdict " +
    "missing #3): a stream started at a mid-history instant replays " +
    "exactly the commits at-or-after it, restart resumes from the " +
    "CHECKPOINT not the timestamp, a pre-history instant bootstraps, " +
    "and startingVersion+startingTimestamp is rejected") {
    import graft.operators.LogTable
    val base = java.nio.file.Files.createTempDirectory("graft_sts")
      .toString
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val d = java.sql.Date.valueOf("2024-01-01")
    val fact = s"$base/fact"
    def rows(r: (String, Long)*) = r.toSeq
      .map { case (id, c) => (id, c, d) }
      .toDF("id", "cents", "start_date_oslo")
    // distinct commit wall-clocks: the resolution is ms-granular
    LogTable.init(rows(("e1", 10L)), fact)                // v1
    Thread.sleep(15L)
    LogTable.append(spark, fact, rows(("e2", 20L)))       // v2
    Thread.sleep(15L)
    LogTable.append(spark, fact, rows(("e3", 30L)))       // v3
    Thread.sleep(15L)
    LogTable.append(spark, fact, rows(("e4", 40L)))       // v4
    val tsOf: Map[Long, Long] = LogTable.history(spark, fact)
      .select("version", "commit_ts").collect()
      .map(r => r.getLong(0) -> r.getTimestamp(1).getTime).toMap
    val zone = java.time.ZoneId.of(
      spark.sessionState.conf.sessionLocalTimeZone)
    def fmt(ms: Long): String = java.time.Instant.ofEpochMilli(ms)
      .atZone(zone).toLocalDateTime.format(java.time.format
        .DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSS"))
    val seen = scala.collection.mutable.ArrayBuffer.empty[Set[Long]]
    def run(startTs: Option[String], ckpt: String): Unit = {
      val rd = spark.readStream.format("logtable")
      val q = startTs.fold(rd)(t => rd.option("startingTimestamp", t))
        .option("maxVersionsPerTrigger", "1")
        .load(fact)
        .writeStream
        .foreachBatch {
          (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
           _: java.lang.Long) =>
            seen.synchronized {
              seen += batch.select("_commit_version").distinct()
                .collect().map(_.getLong(0)).toSet
            }
            ()
        }
        .option("checkpointLocation", ckpt)
        .start()
      q.processAllAvailable(); q.stop()
    }
    // v3's exact commit instant: commits AT-or-after stream → v3, v4
    run(Some(fmt(tsOf(3L))), s"$base/ckptA")
    assert(seen.toSeq == Seq(Set(3L), Set(4L)),
      s"commits at-or-after the instant, in order: $seen")
    // restart resumes from the CHECKPOINT, not the timestamp
    LogTable.append(spark, fact, rows(("e5", 50L)))       // v5
    seen.clear()
    run(Some(fmt(tsOf(3L))), s"$base/ckptA")
    assert(seen.toSeq == Seq(Set(5L)),
      s"restart must resume from the checkpoint: $seen")
    // an instant predating all history = the bootstrap position:
    // v1's full snapshot first, then every later commit
    seen.clear()
    run(Some("2000-01-01 00:00:00"), s"$base/ckptB")
    assert(seen.toSeq == Seq(Set(1L), Set(2L), Set(3L), Set(4L),
      Set(5L)), s"pre-history instant must bootstrap: $seen")
    // between v2 and v3 (v3's instant minus 1ms, distinct by the
    // sleeps): still v3, v4, v5 — v2 committed before it
    seen.clear()
    run(Some(fmt(tsOf(3L) - 1L)), s"$base/ckptC")
    assert(seen.map(_.head).toSeq.sorted == Seq(3L, 4L, 5L),
      s"mid-gap instant starts at the next commit: $seen")
    val e = intercept[IllegalArgumentException] {
      spark.readStream.format("logtable")
        .option("startingVersion", "2")
        .option("startingTimestamp", fmt(tsOf(3L)))
        .load(fact)
    }
    assert(e.getMessage.contains("mutually exclusive"), e.getMessage)
    fs.delete(new org.apache.hadoop.fs.Path(base), true)
  }

  test("logtable streaming bootstrap SPLIT (r16 verdict #2): with " +
    "startingVersion=0 under maxBytesPerTrigger, version 1's " +
    "snapshot drains as multiple FILE-GROUP micro-batches, a restart " +
    "mid-snapshot resumes exactly-once from the checkpointed file " +
    "position, the feed then advances per-version, and consumerId " +
    "heartbeats the committed position for vacuum's guard") {
    import graft.operators.LogTable
    val base = java.nio.file.Files.createTempDirectory("graft_boot")
      .toString
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val d = java.sql.Date.valueOf("2024-01-01")
    val fact = s"$base/fact"
    val ckpt = s"$base/ckpt"
    def rows(ids: Range, g: String) = ids
      .map(i => (s"e$i", g, i.toLong, d))
      .toDF("id", "grp", "cents", "start_date_oslo")
    LogTable.init(rows(1 to 40, "a").repartition(4), fact) // v1: 4 files
    LogTable.append(spark, fact, rows(41 to 45, "b").repartition(1))
    val sizes = LogTable.manifest(spark, fact, 1L)
      .parts.toSeq.sortBy(_._1)
      .flatMap(_._2.sortBy(_.file).map(_.bytes))
    assert(sizes.size == 4, s"fixture needs 4 v1 files: $sizes")
    val budget = sizes(0) + sizes(1) // two file-groups per trigger
    val seen = scala.collection.mutable.ArrayBuffer
      .empty[(Set[Long], Set[String])] // (versions, ids) per batch
    def run(once: Boolean): Unit = {
      val w = spark.readStream.format("logtable")
        .option("startingVersion", "0")
        .option("maxBytesPerTrigger", budget.toString)
        .option("consumerId", "boot1")
        .load(fact)
        .writeStream
        .foreachBatch {
          (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
           _: java.lang.Long) =>
            seen.synchronized {
              seen += ((batch.select("_commit_version").distinct()
                .collect().map(_.getLong(0)).toSet,
                batch.select("id").collect().map(_.getString(0)).toSet))
            }
            ()
        }
        .option("checkpointLocation", ckpt)
      val q = if (once)
        w.trigger(org.apache.spark.sql.streaming.Trigger.Once()).start()
      else w.start()
      if (once) q.awaitTermination() else {
        q.processAllAvailable(); q.stop()
      }
    }
    // first trigger only: a strict PREFIX of the snapshot arrives
    run(once = true)
    assert(seen.size == 1 && seen.head._1 == Set(1L),
      s"first batch must be a v1 slice: $seen")
    val firstIds = seen.head._2
    assert(firstIds.nonEmpty && firstIds.size < 40,
      s"the byte cap must split the snapshot (got ${firstIds.size})")
    // restart mid-snapshot: the stream resumes from the checkpointed
    // FILE position and drains the rest + v2, exactly once
    run(once = false)
    val v1Batches = seen.filter(_._1 == Set(1L))
    assert(v1Batches.size >= 2,
      s"the snapshot must drain in >1 micro-batches: $seen")
    val v1Ids = v1Batches.map(_._2)
    assert(v1Ids.map(_.size).sum == 40 &&
      v1Ids.reduce(_ ++ _) == (1 to 40).map(i => s"e$i").toSet,
      s"mid-snapshot restart must be exactly-once: $v1Ids")
    assert(seen.last._1 == Set(2L) &&
      seen.last._2 == (41 to 45).map(i => s"e$i").toSet,
      s"after the snapshot the feed advances per-version: $seen")
    // the consumer heartbeat recorded the committed head — vacuum's
    // guard passes for a caught-up stream and refuses once the
    // stream would lose its next read
    val marker = new org.apache.hadoop.fs.Path(
      s"$fact/_graft_log/_consumer_boot1")
    assert(fs.exists(marker), "consumerId must write its marker")
    LogTable.append(spark, fact, rows(46 to 47, "b").repartition(1))
    LogTable.append(spark, fact, rows(48 to 49, "b").repartition(1))
    val e = intercept[RuntimeException] {
      LogTable.vacuum(spark, fact, keepLast = 1, minAgeMs = 0L,
        guardConsumers = true)
    }
    assert(e.getMessage.contains("boot1"), e.getMessage)
    fs.delete(new org.apache.hadoop.fs.Path(base), true)
  }

  test("logtable streaming sink UPDATE mode (r17): an Update-mode " +
    "aggregation upserts each trigger's changed groups through the " +
    "keyed manifest merge (option mergeKeys) — the table equals a " +
    "batch recompute after every trigger, and a re-delivered batch " +
    "collapses in the txn ledger") {
    import graft.operators.{LogTable, TableLog}
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val base = java.nio.file.Files.createTempDirectory("graft_updsink")
      .toString
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val agg = s"$base/agg"
    val ckpt = s"$base/ckpt"
    implicit val sqlCtx: org.apache.spark.sql.SQLContext =
      spark.sqlContext
    val ms = MemoryStream[(String, Long)]
    def start() = ms.toDF().toDF("grp", "v")
      .groupBy(col("grp"))
      .agg(count(lit(1)).as("n"), sum(col("v")).as("s"))
      .withColumn("gb", pmod(hash(col("grp")), lit(4)))
      .writeStream.format("logtable")
      .outputMode("update")
      .option("mergeKeys", "grp")
      .option("dateCol", "gb")
      .option("checkpointLocation", ckpt)
      .start(agg)
    def state(): Set[(String, Long, Long)] =
      LogTable.read(spark, agg).select("grp", "n", "s")
        .collect().map(r =>
          (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val q = start()
    ms.addData(("a", 1L), ("a", 2L), ("b", 3L))
    q.processAllAvailable()
    assert(state() == Set(("a", 2L, 3L), ("b", 1L, 3L)), state())
    // second trigger: only the CHANGED groups ride the batch; the
    // upsert must replace a's row and insert c's, leaving b alone
    ms.addData(("a", 10L), ("c", 5L))
    q.processAllAvailable()
    assert(state() ==
      Set(("a", 3L, 13L), ("b", 1L, 3L), ("c", 1L, 5L)), state())
    q.stop()
    // crash simulation: erase batch 1's commit marker — the engine
    // re-delivers it and the sink's merge txn (sink:<qid>:1) must
    // collapse to a no-op, not double-apply
    val vNow = TableLog.currentVersion(spark, agg)
    fs.delete(new org.apache.hadoop.fs.Path(s"$ckpt/commits/1"), false)
    val q2 = start()
    q2.processAllAvailable(); q2.stop()
    assert(TableLog.currentVersion(spark, agg) == vNow,
      "replayed Update batch must not commit a second time")
    assert(state() ==
      Set(("a", 3L, 13L), ("b", 1L, 3L), ("c", 1L, 5L)), state())
    fs.delete(new org.apache.hadoop.fs.Path(base), true)
  }

  test("logtable streaming SINK exactly-once (st62, r15): writeStream" +
    ".format(\"logtable\") commits each batch under " +
    "sink:<queryId>:<batchId>; a re-delivered batch (commit-log " +
    "surgery on the checkpoint) is a ledger-level no-op, the " +
    "bootstrap CREATE replays idempotently through init's txn, sink " +
    "options reach the created table, and Update mode is rejected") {
    import graft.operators.{LogTable, TableLog}
    import graft.streaming.Streams
    val base = java.nio.file.Files.createTempDirectory("graft_st62kr")
      .toString
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val d = java.sql.Date.valueOf("2024-01-01")
    val fact = s"$base/fact"
    val mirror = s"$base/mirror"
    val ckpt = s"$base/ckpt"
    def rows(r: (String, String, Long)*) = r.toSeq
      .map { case (id, g, c) => (id, g, c, d) }
      .toDF("id", "grp", "cents", "start_date_oslo")
    def mirrorRun(): Unit = Streams.runLogTableMirrorAvailableNow(
      spark, fact, mirror, ckpt, dateCol = "start_date_oslo",
      statsCols = Seq("cents"))
    def state(root: String): Set[(String, String, Long)] =
      LogTable.read(spark, root).select("id", "grp", "cents")
        .collect().map(r =>
          (r.getString(0), r.getString(1), r.getLong(2))).toSet
    LogTable.init(rows(("e1", "a", 10L), ("e2", "a", 20L)), fact) // v1
    LogTable.append(spark, fact, rows(("e3", "b", 30L)))         // v2
    mirrorRun() // batch 0: bootstrap (0, 2] CREATES the mirror
    assert(state(mirror) == state(fact))
    // sink options reached the created table: declared zone-map
    // column and partition layout
    val m0 = LogTable.manifest(spark, mirror,
      TableLog.currentVersion(spark, mirror))
    assert(m0.statsCols == Seq("cents"), m0.statsCols)
    assert(LogTable.partColsOfManifest(m0) == Seq("start_date_oslo"))
    // ...and the bootstrap commit is the sink's txn-tagged init
    assert(m0.txns.exists(t => t.startsWith("init:txn=sink:") &&
      t.endsWith(":0")), m0.txns)
    LogTable.append(spark, fact, rows(("e4", "b", 40L)))         // v3
    mirrorRun() // batch 1: (2, 3]
    assert(state(mirror) == state(fact))
    val v1 = TableLog.currentVersion(spark, mirror)
    // crash simulation: Spark wrote offsets/1 and ran the batch (the
    // sink committed) but died before commits/1 — erase the batch
    // commit and restart; the engine re-delivers batch 1, and the
    // mirror's sink:<qid>:1 ledger entry must collapse it
    val c1 = new org.apache.hadoop.fs.Path(s"$ckpt/commits/1")
    assert(fs.exists(c1), "checkpoint layout moved?")
    fs.delete(c1, false)
    mirrorRun()
    assert(TableLog.currentVersion(spark, mirror) == v1,
      "replayed batch must not append a second time")
    assert(state(mirror) == state(fact))
    // bootstrap replay: same surgery on batch 0 of a FRESH pipeline —
    // the re-delivered CREATE must be a no-op via init's txn, not an
    // already-has-commits failure
    val mirror2 = s"$base/mirror2"
    val ckpt2 = s"$base/ckpt2"
    def mirror2Run(): Unit = Streams.runLogTableMirrorAvailableNow(
      spark, fact, mirror2, ckpt2, dateCol = "start_date_oslo")
    mirror2Run()
    assert(state(mirror2) == state(fact))
    fs.delete(new org.apache.hadoop.fs.Path(s"$ckpt2/commits/0"), false)
    mirror2Run()
    assert(TableLog.currentVersion(spark, mirror2) == 1L,
      "replayed bootstrap must stay a single init commit")
    assert(state(mirror2) == state(fact))
    // loud contracts: Update mode has no manifest translation, and a
    // partitionBy/dateCol disagreement is a caller bug
    val src = spark.readStream.format("logtable")
      .option("startingVersion", "0").load(fact)
      .filter(col("_change_type") === "insert")
      .drop("_change_type", "_commit_version", "n_rows")
    val eUpd = intercept[Exception] {
      src.writeStream.format("logtable").outputMode("update")
        .option("checkpointLocation", s"$base/ckpt3")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start(s"$base/mirror3").awaitTermination()
    }
    assert(eUpd.getMessage.contains("Update mode is not supported"),
      eUpd.getMessage)
    val eDisagree = intercept[Exception] {
      src.writeStream.format("logtable").outputMode("append")
        .partitionBy("grp")
        .option("dateCol", "start_date_oslo")
        .option("checkpointLocation", s"$base/ckpt4")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start(s"$base/mirror4").awaitTermination()
    }
    assert(eDisagree.getMessage.contains("disagree"),
      eDisagree.getMessage)
    // Complete mode: each trigger swaps the WHOLE result atomically
    // (LogTable.overwrite under the hood) — a maintained aggregate
    // table with time travel across triggers
    val aggT = s"$base/aggT"
    val ckptC = s"$base/ckptC"
    def completeRun(): Unit = {
      val q = spark.readStream.format("logtable")
        .option("startingVersion", "0").load(fact)
        .filter(col("_change_type") === "insert")
        .groupBy(col("grp"))
        .agg(sum(col("cents") * col("n_rows")).as("sum_cents"))
        .withColumn("start_date_oslo", lit(d))
        .writeStream.format("logtable").outputMode("complete")
        .option("checkpointLocation", ckptC)
        .option("dateCol", "start_date_oslo")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start(aggT)
      q.awaitTermination()
    }
    completeRun()
    def aggState(): Map[String, Long] =
      LogTable.read(spark, aggT).select("grp", "sum_cents")
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    def aggRecompute(): Map[String, Long] =
      LogTable.read(spark, fact).groupBy(col("grp"))
        .agg(sum(col("cents")).as("s"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(aggState() == aggRecompute())
    LogTable.append(spark, fact, rows(("e5", "a", 50L)))
    val vA = TableLog.currentVersion(spark, aggT)
    completeRun()
    assert(aggState() == aggRecompute())
    assert(TableLog.currentVersion(spark, aggT) > vA,
      "Complete must commit a fresh swap for the new trigger")
    fs.delete(new org.apache.hadoop.fs.Path(base), true)
  }

  test("foldChangeFeedIntoAggregate scale shape (r14 weak flag): the " +
    "aggregate is hash-bucketed with grp zone maps, a narrow fold's " +
    "merge probe plans STRICTLY fewer files than the aggregate " +
    "holds, only the touched bucket's files rewrite, and the " +
    "compaction cadence bounds per-bucket file growth") {
    import graft.operators.{LogTable, TableLog}
    import graft.streaming.Streams
    val base = java.nio.file.Files.createTempDirectory("graft_st60sc")
      .toString
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val d = java.sql.Date.valueOf("2024-01-01")
    val fact = s"$base/fact"
    val agg = s"$base/agg"
    def rows(r: (String, String, Long)*) = r.toSeq
      .map { case (id, g, c) => (id, g, c, d) }
      .toDF("id", "grp", "cents", "start_date_oslo")
    def fold(fromV: Long, toV: Long, compactEvery: Int = 0): Unit =
      Streams.foldChangeFeedIntoAggregate(spark, agg,
        if (fromV == 0L)
          LogTable.read(spark, fact, Some(1L))
            .withColumn("_change_type", lit("insert"))
            .withColumn("n_rows", lit(1L))
        else LogTable.changes(spark, fact, fromV, toV),
        fromV, toV, "grp", "cents", buckets = 8,
        compactEvery = compactEvery)
    val seed = (0 until 32).map(i => (s"e$i", f"g$i%02d", i.toLong * 10))
    LogTable.init(rows(seed: _*).repartition(4), fact)          // v1
    fold(0L, 1L)
    def aggM() = LogTable.manifest(spark, agg,
      TableLog.currentVersion(spark, agg))
    val m1 = aggM()
    assert(m1.statsCols == Seq("grp"), m1.statsCols.toString)
    assert(m1.parts.keys.forall(_.startsWith("gbucket=")),
      m1.parts.keys.toString)
    assert(m1.parts.size > 1, "32 groups must spread across buckets")
    // a narrow fold: one group touched
    LogTable.append(spark, fact, rows(("x1", "g05", 1000L)))    // v2
    val prev = aggM()
    fold(1L, 2L)
    val cur = aggM()
    // probe contract, asserted on the very shape the fold merges: the
    // scoped probe plans only g05's bucket — strictly fewer files
    // than the table holds
    val upd = Seq(("g05", 2L, 1050L)).toDF("grp", "n_rows", "sum_val")
      .withColumn("gbucket", pmod(hash(col("grp")), lit(8)))
    val probed = LogTable.mergeProbeTails(spark, agg, prev, upd,
      Seq("grp"), Seq("gbucket"), keyScopedPartitions = true)
    val total = prev.parts.values.map(_.size).sum
    assert(probed.nonEmpty && probed.size < total,
      s"probe must be scoped: $probed of $total")
    val touchedBucket =
      s"gbucket=${upd.select("gbucket").head.getInt(0)}"
    assert(probed.forall(_.startsWith(s"$touchedBucket/")), probed)
    // only the touched bucket's files changed in the fold's commit
    def tails(m: graft.operators.LogTable.Manifest) =
      m.parts.toSeq.flatMap { case (p, fl) =>
        fl.map(f => s"$p/${f.file}") }.toSet
    val moved = (tails(prev) -- tails(cur)) ++ (tails(cur) -- tails(prev))
    assert(moved.nonEmpty &&
      moved.forall(_.startsWith(s"$touchedBucket/")),
      s"fold rewrote outside its bucket: $moved")
    // six more single-group folds with compactEvery=2: the bucket's
    // file count stays bounded instead of one-file-per-fold
    (2 until 8).foreach { i =>
      LogTable.append(spark, fact, rows((s"y$i", "g05", 10L))) // v(i+1)
      fold(i.toLong, i + 1L, compactEvery = 2)
    }
    val mEnd = aggM()
    val bucketFiles = mEnd.parts(touchedBucket).size
    assert(bucketFiles <= 3,
      s"compaction cadence failed: $bucketFiles files in the hot bucket")
    // and the maintained state still equals a full recompute
    val got = LogTable.read(spark, agg).filter(col("n_rows") > 0L)
      .select("grp", "n_rows", "sum_val").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val want = LogTable.read(spark, fact).groupBy(col("grp"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("s")).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got == want, s"fold drifted: $got vs $want")
    fs.delete(new org.apache.hadoop.fs.Path(base), true)
  }

  test("fold-compaction cadence under admission control (r16 verdict " +
    "#8): a 32-version backlog draining at 1 version/trigger keeps " +
    "every aggregate bucket's live file count bounded by the " +
    "fragmentation threshold — one fold-txn per trigger no longer " +
    "outruns the old every-N-folds counter — and the folded state " +
    "equals a full recompute") {
    import graft.operators.{LogTable, TableLog}
    import graft.streaming.Streams
    val base = java.nio.file.Files.createTempDirectory("graft_cad")
      .toString
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val d = java.sql.Date.valueOf("2024-01-01")
    val fact = s"$base/fact"
    val agg = s"$base/agg"
    val ckpt = s"$base/ckpt"
    def rows(r: (String, String, Long)*) = r.toSeq
      .map { case (id, g, c) => (id, g, c, d) }
      .toDF("id", "grp", "cents", "start_date_oslo")
    LogTable.init(rows(("seed", "g0", 1L)).repartition(1), fact) // v1
    // 32-version backlog, all hammering the same two groups (the
    // worst fragmentation case: every fold rewrites the same bucket)
    (1 to 32).foreach(i =>
      LogTable.append(spark, fact,
        rows((s"e$i", if (i % 2 == 0) "g0" else "g1", i.toLong))
          .repartition(1)))
    val q = spark.readStream.format("logtable")
      .option("startingVersion", "0")
      .option("maxVersionsPerTrigger", "1")
      .load(fact)
      .writeStream
      .foreachBatch {
        (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
         id: java.lang.Long) =>
          Streams.foldFeedIntoAggregate(spark, agg, batch.toDF(),
            txnId = s"cad:$id", isBootstrap = id == 0L,
            grpCol = "grp", valCol = "cents", buckets = 2,
            compactEvery = 4, compactTargetBytes = 32L * 1024 * 1024)
      }
      .option("checkpointLocation", ckpt)
      .start()
    q.processAllAvailable(); q.stop()
    val m = LogTable.manifest(spark, agg,
      TableLog.currentVersion(spark, agg))
    val counts = m.parts.map { case (p, fl) => p -> fl.size }
    assert(counts.values.forall(_ <= 5),
      s"per-bucket file counts must stay bounded at 1 fold/trigger: " +
        s"$counts")
    val got = LogTable.read(spark, agg).filter(col("n_rows") > 0L)
      .select("grp", "n_rows", "sum_val").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val want = LogTable.read(spark, fact).groupBy(col("grp"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("s")).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got == want, s"fold drifted across the backlog: $got vs $want")
    fs.delete(new org.apache.hadoop.fs.Path(base), true)
  }

  test("readKeyed prunes the fold's CURRENT-VALUE read (r15 verdict " +
    "#1): on a multi-bucket aggregate, a one-group lookup plans " +
    "STRICTLY fewer files than the table holds — scoped to the " +
    "touched bucket — returns exactly the matching rows, and a " +
    "too-wide key set degrades to the full scan, never a miss") {
    import graft.operators.{LogTable, TableLog}
    import graft.streaming.Streams
    val base = java.nio.file.Files.createTempDirectory("graft_rk")
      .toString
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val d = java.sql.Date.valueOf("2024-01-01")
    val fact = s"$base/fact"
    val agg = s"$base/agg"
    val seed = (0 until 64).map(i => (s"e$i", f"g$i%02d", i.toLong * 10, d))
    LogTable.init(seed.toDF("id", "grp", "cents", "start_date_oslo")
      .repartition(4), fact)
    Streams.foldChangeFeedIntoAggregate(spark, agg,
      LogTable.read(spark, fact, Some(1L))
        .withColumn("_change_type", lit("insert"))
        .withColumn("n_rows", lit(1L)),
      0L, 1L, "grp", "cents", buckets = 8)
    val m = LogTable.manifest(spark, agg,
      TableLog.currentVersion(spark, agg))
    val total = m.parts.values.map(_.size).sum
    assert(m.parts.size > 1, "64 groups must spread across buckets")
    val oneKey = Seq("g05").toDF("grp")
      .withColumn("gbucket", pmod(hash(col("grp")), lit(8)))
    // the planned file set — the exact tails the fold's lookup scans
    val tails = LogTable.keyedReadTails(spark, agg, m, oneKey,
      Seq("grp"), keyScopedPartitions = true)
    assert(tails.nonEmpty && tails.size < total,
      s"the current-value read must be scoped: ${tails.size} of $total")
    val bucket = s"gbucket=${oneKey.select("gbucket").head.getInt(0)}"
    assert(tails.forall(_.startsWith(s"$bucket/")), tails.toString)
    // values through the scoped read match the full read exactly
    val got = LogTable.readKeyed(spark, agg, oneKey, Seq("grp"),
        keyScopedPartitions = true)
      .filter(col("grp") === "g05")
      .select("grp", "n_rows", "sum_val").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val want = LogTable.read(spark, agg)
      .filter(col("grp") === "g05")
      .select("grp", "n_rows", "sum_val").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == want && got.nonEmpty, s"$got vs $want")
    // degradation path: a key set wider than bloomMergeMaxKeys falls
    // back to zones (here: the full bucket-scoped superset) and still
    // returns every matching row
    spark.conf.set("spark.graft.logtable.bloomMergeMaxKeys", "1")
    try {
      val wide = (0 until 64).map(i => f"g$i%02d").toDF("grp")
        .withColumn("gbucket", pmod(hash(col("grp")), lit(8)))
      val all = LogTable.readKeyed(spark, agg, wide, Seq("grp"),
          keyScopedPartitions = true)
        .filter(col("n_rows") > 0L).count()
      assert(all == 64L, s"wide-key fallback lost rows: $all")
    } finally
      spark.conf.unset("spark.graft.logtable.bloomMergeMaxKeys")
    fs.delete(new org.apache.hadoop.fs.Path(base), true)
  }

  test("compact stages ALL touched partitions in ONE write (r15 " +
    "verdict #2): a 3-partition 9-file table packs to 3 files under " +
    "exactly one staged job, values and time travel intact") {
    import graft.operators.{LogTable, TableLog}
    val base = java.nio.file.Files.createTempDirectory("graft_cpk")
      .toString
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val root = s"$base/t"
    def batch(tag: Int) = (1 to 3).flatMap { p =>
      (1 to 20).map(i =>
        (s"e$tag-$p-$i", java.sql.Date.valueOf(f"2024-01-0$p%d"),
          i.toLong))
    }.toDF("id", "start_date_oslo", "v")
    // 3 appends × 3 partitions → 3 files per partition
    LogTable.init(batch(0).repartition(1), root)
    LogTable.append(spark, root, batch(1).repartition(1))
    LogTable.append(spark, root, batch(2).repartition(1))
    val vPre = TableLog.currentVersion(spark, root)
    val mPre = LogTable.manifest(spark, root, vPre)
    assert(mPre.parts.size == 3 &&
      mPre.parts.values.forall(_.size == 3), mPre.parts.toString)
    val before = LogTable.read(spark, root).select("id").as[String]
      .collect().toSet
    // incremental maintenance: packing ONE named partition leaves the
    // other two untouched (their files byte-identical)
    val onePart = mPre.parts.keys.toSeq.sorted.head
    val vOne = LogTable.compact(spark, root, targetBytes = 1L << 30,
      parts = Some(Seq(onePart)))
    val mOne = LogTable.manifest(spark, root, vOne)
    assert(mOne.parts(onePart).size == 1 &&
      mOne.parts.filterNot(_._1 == onePart)
        .forall { case (p, fl) => fl.toSet == mPre.parts(p).toSet },
      s"parts-scoped compact must touch only $onePart: ${mOne.parts
        .map { case (p, fl) => p -> fl.size }}")
    val writes0 = LogTable.stagedWrites.get()
    val v = LogTable.compact(spark, root, targetBytes = 1L << 30)
    assert(LogTable.stagedWrites.get() - writes0 == 1L,
      "compact must stage all touched partitions in ONE write, " +
        s"staged ${LogTable.stagedWrites.get() - writes0}")
    assert(v == vOne + 1)
    val mPost = LogTable.manifest(spark, root, v)
    assert(mPost.parts.size == 3 &&
      mPost.parts.values.forall(_.size == 1),
      s"each partition must pack to one file: ${mPost.parts.map {
        case (p, fl) => p -> fl.size }}")
    assert(LogTable.read(spark, root).select("id").as[String]
      .collect().toSet == before)
    // time travel to the pre-compact version still plans 9 files
    assert(LogTable.read(spark, root, Some(vPre)).inputFiles.length == 9)
    // a MAP-typed column must not break the pack's slot hash (hash()
    // rejects MapType — the slot simply skips it)
    val rootM = s"$base/tm"
    def mbatch(tag: Int) = (1 to 10).map(i =>
      (s"m$tag-$i", Map("k" -> i.toLong),
        java.sql.Date.valueOf("2024-01-01")))
      .toDF("id", "attrs", "start_date_oslo")
    LogTable.init(mbatch(0).repartition(1), rootM)
    LogTable.append(spark, rootM, mbatch(1).repartition(1))
    LogTable.compact(spark, rootM, targetBytes = 1L << 30)
    assert(LogTable.read(spark, rootM).count() == 20L)
    assert(LogTable.read(spark, rootM).inputFiles.length == 1)
    fs.delete(new org.apache.hadoop.fs.Path(base), true)
  }

  test("vacuum shields an in-flight lock-free DML's deletion vector " +
    "(r16 review): an unreferenced young DV dir survives a " +
    "minAgeMs vacuum — the window between a delete's vector write " +
    "and its commit CAS — and is reclaimed once aged") {
    import graft.operators.LogTable
    val base = java.nio.file.Files.createTempDirectory("graft_dvage")
      .toString
    val root = s"$base/t"
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val d = java.sql.Date.valueOf("2024-01-01")
    LogTable.init((0 until 10).map(i => (s"e$i", i.toLong, d))
      .toDF("id", "v", "start_date_oslo").repartition(1), root)
    // simulate the race window: a DV dir written, commit not yet landed
    val orphan = new org.apache.hadoop.fs.Path(
      s"$root/_graft_dv/dv_v00000002_inflight")
    Seq(("part", 0L)).toDF("__dvf", "__dvp")
      .write.parquet(orphan.toString)
    LogTable.vacuum(spark, root, keepLast = 1, minAgeMs = 3600000L)
    assert(fs.exists(orphan),
      "a young unreferenced DV dir must survive a minAgeMs vacuum")
    // aged out (mtime pushed past the floor) → reclaimed
    def ageAll(p: org.apache.hadoop.fs.Path): Unit = {
      fs.setTimes(p, 1000L, -1)
      fs.listStatus(p).foreach { st =>
        if (st.isDirectory) ageAll(st.getPath)
        else fs.setTimes(st.getPath, 1000L, -1)
      }
    }
    ageAll(orphan)
    LogTable.vacuum(spark, root, keepLast = 1, minAgeMs = 3600000L)
    assert(!fs.exists(orphan),
      "an aged unreferenced DV dir must be reclaimed")
    fs.delete(new org.apache.hadoop.fs.Path(base), true)
  }

  test("LogTable init stages like append (r14): orphan files from a " +
    "crashed earlier init are NOT absorbed into v1 — the manifest " +
    "holds exactly the staged rows, and vacuum reclaims the orphans") {
    import graft.operators.LogTable
    val root = java.nio.file.Files.createTempDirectory("graft_initstg")
      .toString + "/t"
    val fsP = new org.apache.hadoop.fs.Path(root)
    val fs = fsP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val d = java.sql.Date.valueOf("2024-01-01")
    // simulate a crashed first init: data landed, no manifest
    entries(("ghost1", "x", d, 99.0), ("ghost2", "x", d, 98.0))
      .write.partitionBy("start_date_oslo").parquet(root)
    assert(graft.operators.TableLog.currentVersion(spark, root) == 0L)
    // the retry must seed v1 from ITS OWN staged files only
    LogTable.init(entries(("a", "x", d, 1.0), ("b", "x", d, 2.0)), root)
    val got = LogTable.read(spark, root).select("id").as[String]
      .collect().sorted.toSeq
    assert(got == Seq("a", "b"),
      s"crashed-init orphans leaked into the manifest: $got")
    // the orphan files still exist physically until vacuum reclaims
    val dir = new org.apache.hadoop.fs.Path(root,
      "start_date_oslo=2024-01-01")
    val before = fs.listStatus(dir).length
    LogTable.vacuum(spark, root, keepLast = 1, minAgeMs = 0L)
    val after = fs.listStatus(dir).length
    assert(after < before, "vacuum must reclaim the unreferenced orphans")
    assert(LogTable.read(spark, root).select("id").as[String]
      .collect().sorted.toSeq == Seq("a", "b"))
    fs.delete(fsP.getParent, true)
  }

  test("LogTable footer-based zone maps (r14): commit-time stats read " +
    "from parquet FOOTERS equal the scanning agg job byte-for-byte — " +
    "longs, NaN-infected doubles, dates, long/null strings — and a " +
    "timestamp stats column falls back to the scan on both settings") {
    import graft.operators.LogTable
    val dir = java.nio.file.Files.createTempDirectory("graft_footz")
      .toString
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val d = java.sql.Date.valueOf("2024-01-01")
    def slice(lo: Int, nan: Boolean, allNullS: Boolean) =
      spark.range(lo, lo + 8).select(
        $"id".as("k"),
        (if (nan) when($"id" % 3 === 1, lit(Double.NaN))
          .otherwise($"id" * 1.5) else $"id" * 1.5).as("f"),
        date_add(lit(d), $"id".cast("int")).as("dt"),
        (if (allNullS) lit(null).cast("string")
         else when($"id" % 7 === 3, lit(null).cast("string"))
           .otherwise(concat(format_string("s%03d", $"id"),
             // one value beyond StrZoneMax exercises upper truncation
             when($"id" % 5 === 0, lit("x" * 70)).otherwise(lit(""))))
        ).as("s"),
        lit(d).as("start_date_oslo")).repartition(1)
    def build(root: String, footer: Boolean): Unit = {
      spark.conf.set("spark.graft.logtable.footerStats", footer.toString)
      try {
        LogTable.init(slice(0, nan = false, allNullS = false), root,
          statsCols = Seq("k", "f", "dt", "s"))
        LogTable.append(spark, root,
          slice(10, nan = true, allNullS = false))
        LogTable.append(spark, root,
          slice(20, nan = false, allNullS = true))
      } finally
        spark.conf.unset("spark.graft.logtable.footerStats")
    }
    build(s"$dir/ft", footer = true)
    build(s"$dir/sc", footer = false)
    def stats(root: String) = LogTable.manifest(spark, root,
      graft.operators.TableLog.currentVersion(spark, root))
      .parts.values.flatten.map(f => (f.rows, f.zones)).toSet
    assert(stats(s"$dir/ft") == stats(s"$dir/sc"),
      s"footer zones != scan zones:\n${stats(s"$dir/ft")}\nvs\n" +
        s"${stats(s"$dir/sc")}")
    // NaN contract holds on the footer path too: the NaN slice has no
    // f-zone, the clean slices do
    val fZones = LogTable.manifest(spark, s"$dir/ft",
      graft.operators.TableLog.currentVersion(spark, s"$dir/ft"))
      .parts.values.flatten.map(_.zones.get("f")).toSeq
    assert(fZones.count(_.isEmpty) == 1 && fZones.count(_.isDefined) == 2,
      fZones.toString)
    // timestamp stats columns are scan-rendered (session-tz strings):
    // the footer path must FALL BACK, yielding identical zones
    def tsSlice(lo: Int) = spark.range(lo, lo + 8).select(
      $"id".as("k"),
      ($"id" * 3600).cast("timestamp").as("ts"),
      lit(d).as("start_date_oslo")).repartition(1)
    def buildTs(root: String, footer: Boolean): Unit = {
      spark.conf.set("spark.graft.logtable.footerStats", footer.toString)
      try {
        LogTable.init(tsSlice(0), root, statsCols = Seq("ts"))
        LogTable.append(spark, root, tsSlice(10))
      } finally
        spark.conf.unset("spark.graft.logtable.footerStats")
    }
    buildTs(s"$dir/ftts", footer = true)
    buildTs(s"$dir/scts", footer = false)
    assert(stats(s"$dir/ftts") == stats(s"$dir/scts"))
    assert(stats(s"$dir/ftts").forall(_._2.contains("ts")))
    fs.delete(new org.apache.hadoop.fs.Path(dir), true)
  }

  test("NaN-infected zone maps never prune (r14 self-found bug): " +
    "Spark orders NaN ABOVE every value in predicates, so a file " +
    "whose clean max is below a one-sided lower bound can still hold " +
    "matching NaN rows — such files record NO zone and stay planned " +
    "on every path (readIndexed, readSkipping contract, DML probe)") {
    import graft.operators.LogTable
    val root = java.nio.file.Files.createTempDirectory("graft_nanzone")
      .toString + "/t"
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val d = java.sql.Date.valueOf("2024-01-01")
    // file A: clean values 1-3 PLUS one NaN row; file B: clean 10-12
    val fileA = Seq(("a1", 1.0), ("a2", 2.0), ("a3", 3.0),
      ("aN", Double.NaN))
      .toDF("id", "v").withColumn("start_date_oslo", lit(d))
    val fileB = Seq(("b1", 10.0), ("b2", 11.0), ("b3", 12.0))
      .toDF("id", "v").withColumn("start_date_oslo", lit(d))
    LogTable.init(fileA.repartition(1), root, statsCols = Seq("v"))
    LogTable.append(spark, root, fileB.repartition(1))
    val m = LogTable.manifest(spark, root,
      graft.operators.TableLog.currentVersion(spark, root))
    // A (NaN-infected) records no v-zone; B records [10, 12]
    val zones = m.parts.values.flatten.map(_.zones.get("v")).toSeq
    assert(zones.count(_.isEmpty) == 1 && zones.count(_.isDefined) == 1,
      zones.toString)
    // the one-sided pushed filter that used to lose the NaN row:
    // v >= 100 matches ONLY the NaN (NaN >= 100 is TRUE in Spark)
    val got = LogTable.readIndexed(spark, root)
      .filter(col("v") >= 100.0).select("id").as[String].collect().toSet
    assert(got == Set("aN"),
      s"one-sided probe must keep the NaN-infected file planned: $got")
    // equality at NaN: NaN = NaN is TRUE in Spark — same contract
    assert(LogTable.readIndexed(spark, root)
      .filter(col("v") === Double.NaN).select("id").as[String]
      .collect().toSet == Set("aN"))
    // the converse bug (ADVICE r14): a NaN LITERAL as a pushed bound
    // must not prune CLEAN files — 'v <= NaN' is true for every
    // finite v, so all 7 rows must come back through the FileIndex
    assert(LogTable.readIndexed(spark, root)
      .filter(col("v") <= Double.NaN).count() == 7L,
      "'v <= NaN' must plan every file")
    assert(LogTable.readIndexed(spark, root)
      .filter(col("v").isin(10.0, Double.NaN)).select("id").as[String]
      .collect().toSet == Set("b1", "aN"),
      "IN with a NaN member must not poison the envelope")
    // the DML probe inherits the fix: a delete above the clean range
    // must still kill the NaN row
    assert(LogTable.dmlCandidateFiles(spark, m,
      col("v") >= 100.0).size >= 1)
    LogTable.delete(spark, root, col("v") >= 100.0)
    assert(LogTable.read(spark, root).count() == 6L)
    assert(!LogTable.read(spark, root).select("id").as[String]
      .collect().contains("aN"))
    fs.delete(new org.apache.hadoop.fs.Path(root).getParent, true)
  }

  test("ZoneFilters one-sided string bounds (ADVICE r13): a " +
    "lower-bound-only pushed filter must not prune a file whose " +
    "stored lo compares above the old sentinel upper bound") {
    import graft.operators.LogTable.{FileStat, StrBounds, Zone}
    import org.apache.spark.sql.catalyst.expressions.{AttributeReference,
      GreaterThanOrEqual, Literal}
    import org.apache.spark.sql.types.StringType
    val attr = AttributeReference("s", StringType)()
    val preds = graft.sources.ZoneFilters.extract(
      Seq(GreaterThanOrEqual(attr, Literal("a"))), Set("s"))
    assert(preds == Seq(StrBounds("s", Some("a"), None)), preds.toString)
    // strSafe admits U+D7FF; a zone starting there, with more chars,
    // compares lexically ABOVE the old "퟿" sentinel — the absent
    // upper bound must not prune it
    val f = FileStat("f1", 1L, 1L,
      Map("s" -> Zone("퟿퟿zz", "퟿퟿zz", num = false)))
    assert(preds.forall(graft.operators.LogTable.zoneAdmits(f, _)),
      "file above the sentinel must stay planned")
    // an upper-bounded filter still prunes it
    val both = graft.sources.ZoneFilters.extract(
      Seq(org.apache.spark.sql.catalyst.expressions.LessThanOrEqual(
        attr, Literal("m"))), Set("s"))
    assert(!both.forall(graft.operators.LogTable.zoneAdmits(f, _)))
  }

  test("ZoneFilters NaN literal (ADVICE r14): a NaN comparison bound " +
    "or IN member must never prune — Spark orders NaN above every " +
    "value, so 'v <= NaN' matches all finite rows") {
    import graft.operators.LogTable.{FileStat, NumRange, Zone}
    import org.apache.spark.sql.catalyst.expressions.{AttributeReference,
      GreaterThanOrEqual, In, LessThan, LessThanOrEqual, Literal}
    import org.apache.spark.sql.types.DoubleType
    val attr = AttributeReference("v", DoubleType)()
    val nan = Literal(Double.NaN, DoubleType)
    // every comparison shape against a NaN literal extracts NOTHING
    for (e <- Seq(LessThanOrEqual(attr, nan), LessThan(attr, nan),
                  GreaterThanOrEqual(attr, nan),
                  org.apache.spark.sql.catalyst.expressions
                    .EqualTo(attr, nan))) {
      val ps = graft.sources.ZoneFilters.extract(Seq(e), Set("v"))
      assert(ps.isEmpty, s"NaN bound must be dropped, got $ps for $e")
    }
    // an IN list containing NaN drops the whole envelope (Seq.max
    // would otherwise pick NaN as hi and veto every zone)
    val inPs = graft.sources.ZoneFilters.extract(
      Seq(In(attr, Seq(Literal(5.0, DoubleType), nan))), Set("v"))
    assert(inPs.isEmpty, s"IN with NaN must extract nothing: $inPs")
    // finite IN still extracts its envelope — the fix is surgical
    val finPs = graft.sources.ZoneFilters.extract(
      Seq(In(attr, Seq(Literal(5.0, DoubleType),
        Literal(7.0, DoubleType)))), Set("v"))
    assert(finPs == Seq(NumRange("v", 5.0, 7.0)), finPs.toString)
    // belt-and-braces: a caller-built probe with a NaN endpoint is
    // unbounded on that side, never a veto
    val fClean = FileStat("f1", 1L, 1L,
      Map("v" -> Zone("1.0", "9.0", num = true)))
    assert(graft.operators.LogTable.zoneAdmits(fClean,
      NumRange("v", Double.NegativeInfinity, Double.NaN)))
    assert(graft.operators.LogTable.zoneAdmits(fClean,
      NumRange("v", Double.NaN, Double.PositiveInfinity)))
    // ...while a finite probe outside the zone still prunes
    assert(!graft.operators.LogTable.zoneAdmits(fClean,
      NumRange("v", 100.0, 200.0)))
  }
}
