package graft

import java.nio.file.{Files, Paths}

import graft.pipelines.Main

/** End-to-end CLI test: fixture JSON in, warehouse parquet out, through the
  * same entry points a user of the reference would call (main.py:22-207).
  * Includes the BUG_FIX_SUMMARY.md:68-71 integration sequence: full
  * backfill → 60-day refresh → historical rows survive.
  */
class CliPipelineSpec extends SparkSpec {

  private def writeFixture(dir: String, name: String, lines: Seq[String]): Unit = {
    val d = Paths.get(dir, name)
    Files.createDirectories(d)
    Files.writeString(d.resolve("part-0.json"), lines.mkString("\n"))
  }

  private def entry(id: String, startMs: Long, atMs: Long, durMs: Long) =
    s"""{"id":"$id","start":"$startMs","end":"${startMs + durMs}","duration":"$durMs",
       |"at":"$atMs","billable":true,"description":"work","source":"clickup",
       |"task":{"id":"t1","name":"Task","status":{"status":"open","color":"#fff","type":"open","orderindex":"0"}},
       |"user":{"id":"u1","username":"jane","email":"jane@example.com","color":"#f00","initials":"J","profilePicture":""},
       |"task_location":{"list_id":"l1","folder_id":"f1","space_id":"s1"}}
       |""".stripMargin.replaceAll("\n", "")

  // crash = a kill between atomicSwapWrite's two commit renames, which
  // leaves no live fact: only `.old`, or `.old` beside the finished `.tmp`
  for ((crash, label) <- Seq(None -> "",
      Some(false) -> ", after a crash mid-swap left only .old",
      Some(true) -> ", after a crash mid-swap left .tmp plus .old"))
  test(s"full_reindex then refresh preserves history (BUG_FIX integration)$label") {
    val in = Files.createTempDirectory("graft_cli_in").toString
    val wh = Files.createTempDirectory("graft_cli_wh").toString

    // Backfill: Jan 1 (historical) + Feb 25 (recent); epoch ms in UTC
    val jan1 = 1704103200000L // 2024-01-01 10:00:00Z
    val feb25 = 1708855200000L // 2024-02-25 10:00:00Z
    val feb27 = 1709028000000L // 2024-02-27 10:00:00Z
    writeFixture(in, "time_entries", Seq(
      entry("hist", jan1, jan1, 3600000L),
      entry("r1", feb25, feb25, 3600000L)))
    Main.run(spark, "full_reindex", Map("in" -> in, "warehouse" -> wh))
    val factDir = s"$wh/fact_time_entries"
    assert(spark.read.parquet(factDir).count() == 2)
    crash.foreach { builtTmp =>
      Files.move(Paths.get(factDir), Paths.get(s"$factDir.old"))
      if (builtTmp) spark.read.parquet(s"$factDir.old").write.parquet(s"$factDir.tmp")
    }

    // Refresh with a 7-day window at 2024-03-01: r1 updated (duration
    // doubled, later `at`), r2 new; `hist` absent from staging but outside
    // the window → must survive.
    val in2 = Files.createTempDirectory("graft_cli_in2").toString
    writeFixture(in2, "time_entries", Seq(
      entry("r1", feb25, feb25 + 1000, 7200000L),
      entry("r2", feb27, feb27, 1800000L)))
    Main.run(spark, "refresh", Map("in" -> in2, "warehouse" -> wh,
      "days" -> "7", "today" -> "2024-03-01"))

    val fact = spark.read.parquet(factDir)
    val byId = fact.collect().map(r =>
      r.getAs[String]("id") -> r.getAs[Double]("duration_hours")).toMap
    assert(byId == Map("hist" -> 1.0, "r1" -> 2.0, "r2" -> 0.5))
    assert(!Files.exists(Paths.get(s"$factDir.old")))
    assert(!Files.exists(Paths.get(s"$factDir.tmp")))
    // CSV backup written (M5)
    assert(Files.walk(Paths.get(wh, "csv_backups", "time_entries"))
      .anyMatch(p => p.toString.endsWith(".csv")))
  }

  test("timestamped CSV backups retain history across runs (C13 retention)") {
    val in = Files.createTempDirectory("graft_bk_in").toString
    val wh = Files.createTempDirectory("graft_bk_wh").toString
    val jan1 = 1704103200000L
    writeFixture(in, "time_entries", Seq(entry("e1", jan1, jan1, 3600000L)))
    // two runs with distinct stamps — the reference keeps a file per run
    // (fetch_clickup_data.py:1780); both backups must survive
    for (s <- Seq("20240101_100000", "20240101_160000"))
      Main.run(spark, "full_reindex",
        Map("in" -> in, "warehouse" -> wh, "stamp" -> s))
    val base = Paths.get(wh, "csv_backups", "time_entries")
    val stamps = Files.list(base).filter(Files.isDirectory(_))
      .map[String](_.getFileName.toString).sorted().toArray.toSeq
    assert(stamps == Seq("20240101_100000", "20240101_160000"))
    for (s <- stamps.map(_.toString))
      assert(Files.list(base.resolve(s)).anyMatch(_.toString.endsWith(".csv")))
  }

  test("dimension pipelines write all four dims; health reports them") {
    val in = Files.createTempDirectory("graft_dim_in").toString
    val wh = Files.createTempDirectory("graft_dim_wh").toString
    writeFixture(in, "spaces", Seq("""{"id":"s1","name":"S","archived":false}"""))
    writeFixture(in, "folders", Seq("""{"id":"f1","name":"F","space_id":"s1","archived":false}"""))
    writeFixture(in, "lists", Seq(
      """{"id":"l1","name":"L","space_id":"s1","folder_id":"f1","archived":false}""",
      """{"id":"l2","name":"Root","space_id":"s1","folder_id":"","archived":false}"""))
    writeFixture(in, "tasks", Seq(
      """{"id":"t1","name":"T","time_estimate":"3600000","status":{"status":"open","type":"open"},"space_id":"s1","space_name":"S","folder_id":"","folder_name":"","list_id":"l1","list_name":"L"}"""))
    writeFixture(in, "accounts", Seq(
      """{"id":"a1","name":"Acme","status":{"status":"active","type":"open"},"custom_fields":[{"id":"00aeeab8-926e-4c46-8299-99f973287b6e","value":"l1, l2"}]}"""))
    writeFixture(in, "apps", Seq(
      """{"id":"app1","name":"Portal","custom_item_id":1005,"status":{"status":"live","type":"open"},"custom_fields":[]}""",
      """{"id":"x","name":"NotApp","custom_item_id":1}"""))

    for (c <- Seq("lists", "tasks", "accounts", "apps"))
      Main.run(spark, c, Map("in" -> in, "warehouse" -> wh))

    assert(spark.read.parquet(s"$wh/dim_lists").count() == 2)
    assert(spark.read.parquet(s"$wh/dim_tasks").count() == 1)
    assert(spark.read.parquet(s"$wh/dim_accounts").count() == 2) // exploded
    assert(spark.read.parquet(s"$wh/dim_apps").count() == 1)     // filtered
    Main.run(spark, "health", Map("warehouse" -> wh)) // must not throw
  }
}
