package graft.pipelines

import java.time.LocalDate

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.GraftSession
import graft.operators.MergeOps
import graft.schemas.ClickUpSchemas

/** CLI mirroring the reference's six endpoints (main.py:22-207) and its
  * argparse surface (fetch_clickup_data.py:1679-1719), minus the HTTP
  * wrapper: ingestion is file-based (raw ClickUp-shaped JSON, FIXTURES.md
  * §A) instead of REST — the REST fetch/retry loop (S6) is an ingestion
  * concern outside the engine (SURVEY.md §2.1).
  *
  * Usage:
  *   graft.pipelines.Main <command> --in <rawDir> --warehouse <dir>
  *     [--days N] [--today YYYY-MM-DD]
  *   command ∈ refresh | full_reindex | lists | tasks | accounts | apps |
  *             health | describe
  *
  * Layout written under --warehouse (parquet; CSV backups per M5):
  *   staging_time_entries/ fact_time_entries/ dim_lists/ dim_tasks/
  *   dim_accounts/ dim_apps/ csv_backups/<pipeline>/
  */
object Main {

  def main(args: Array[String]): Unit = {
    if (args.isEmpty || args(0) == "describe") { println(describe); return }
    val cmd = args(0)
    val opts = args.drop(1).sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val spark = GraftSession.local()
    try println(run(spark, cmd, opts))
    finally spark.stop()
  }

  /** Runs one command and returns its detail line (row counts). */
  def run(spark: SparkSession, cmd: String, opts: Map[String, String]): String = {
    val in = opts.getOrElse("in", "raw")
    val wh = opts.getOrElse("warehouse", "warehouse")
    val days = opts.getOrElse("days", "60").toInt
    val today = opts.get("today").map(LocalDate.parse)
      .getOrElse(LocalDate.now(java.time.ZoneId.of("Europe/Oslo")))
    // timestamped backups (fetch_clickup_data.py:1780 '%Y%m%d_%H%M%S'):
    // each run's CSV backup is retained under its own stamp; --stamp
    // overrides the clock for reproducible runs/tests
    val stamp = opts.getOrElse("stamp",
      java.time.LocalDateTime.now(java.time.ZoneId.of("Europe/Oslo"))
        .format(java.time.format.DateTimeFormatter.ofPattern("yyyyMMdd_HHmmss")))

    def raw(name: String, schema: org.apache.spark.sql.types.StructType): DataFrame =
      spark.read.schema(schema).json(s"$in/$name")

    cmd match {
      case "refresh" | "full_reindex" =>
        // fact pipeline: flatten → dedup → CSV backup → staging → merge
        // (fetch_clickup_data.py:1738-1797)
        // materialize once: CSV backup, staging load, and the merge all
        // consume this frame — re-executing the flatten+dedup shuffle three
        // times would triple the cost and let at/start_utc ties resolve
        // differently per sink
        val staging = Pipelines.timeEntryPipeline(
          raw("time_entries", ClickUpSchemas.rawTimeEntry)).localCheckpoint(true)
        MergeOps.csvBackup(staging, s"$wh/csv_backups/time_entries", stamp = Some(stamp))
        MergeOps.loadStaging(staging, s"$wh/staging_time_entries")
        // finish a swap a crash interrupted BEFORE ensureTable: it would
        // otherwise take the half-swapped fact for an absent one
        val factP = new org.apache.hadoop.fs.Path(s"$wh/fact_time_entries")
        MergeOps.recoverSwap(
          factP.getFileSystem(spark.sparkContext.hadoopConfiguration), factP)
        MergeOps.ensureTable(spark, ClickUpSchemas.factTimeEntries, s"$wh/fact_time_entries")
        val fact = spark.read.schema(ClickUpSchemas.factTimeEntries)
          .parquet(s"$wh/fact_time_entries")
        val merged =
          if (cmd == "refresh") MergeOps.mergeRefresh(fact, staging, days, today)
          else MergeOps.mergeFullReindex(fact, staging)
        MergeOps.atomicSwapWrite(spark, merged, s"$wh/fact_time_entries")
        s"$cmd: fact rows = " +
          spark.read.parquet(s"$wh/fact_time_entries").count()

      case "lists" =>
        val dim = Pipelines.denormalizeLists(
          raw("spaces", ClickUpSchemas.rawSpace),
          raw("folders", ClickUpSchemas.rawFolder),
          raw("lists", ClickUpSchemas.rawList))
        MergeOps.csvBackup(dim, s"$wh/csv_backups/lists", stamp = Some(stamp))
        MergeOps.truncateLoad(dim, s"$wh/dim_lists")
        s"lists: ${spark.read.parquet(s"$wh/dim_lists").count()} rows"

      case "tasks" =>
        val dim = Pipelines.transformTasks(raw("tasks", ClickUpSchemas.rawTask))
        MergeOps.csvBackup(dim, s"$wh/csv_backups/tasks", stamp = Some(stamp))
        MergeOps.truncateLoad(dim, s"$wh/dim_tasks")
        s"tasks: ${spark.read.parquet(s"$wh/dim_tasks").count()} rows"

      case "accounts" =>
        val dim = Pipelines.transformAccounts(raw("accounts", ClickUpSchemas.rawTask))
        MergeOps.csvBackup(dim, s"$wh/csv_backups/accounts", stamp = Some(stamp))
        MergeOps.truncateLoad(dim, s"$wh/dim_accounts")
        s"accounts: ${spark.read.parquet(s"$wh/dim_accounts").count()} rows"

      case "apps" =>
        val dim = Pipelines.transformApps(raw("apps", ClickUpSchemas.rawTask))
        MergeOps.csvBackup(dim, s"$wh/csv_backups/apps", stamp = Some(stamp))
        MergeOps.truncateLoad(dim, s"$wh/dim_apps")
        s"apps: ${spark.read.parquet(s"$wh/dim_apps").count()} rows"

      case "health" =>
        // main.py:210-222 analog: session + warehouse reachability
        val tables = Seq("fact_time_entries", "dim_lists", "dim_tasks",
          "dim_accounts", "dim_apps")
        val status = tables.map { t =>
          val n = try spark.read.parquet(s"$wh/$t").count().toString
          catch { case _: Throwable => "absent" }
          s"$t=$n"
        }
        s"healthy ${status.mkString(" ")}"

      case other => sys.error(s"unknown command: $other\n$describe")
    }
  }

  /** main.py:225-280 analog: self-describing surface. */
  val describe: String =
    """graft pipelines — Spark re-expression of hours-api-clickup
      |  refresh      windowed upsert of time entries (M1; --days, --today)
      |  full_reindex full rebuild of the fact table (M2)
      |  lists        dim_lists hierarchy walk (S2, M3)
      |  tasks        dim_tasks walk + derivations (S3, M3)
      |  accounts     dim_accounts custom fields + explode (S4, E1, M3)
      |  apps         dim_apps filtered team scan (S5, M3)
      |  health       warehouse reachability probe
      |  describe     this text
      |options: --in <rawDir> --warehouse <dir> --days N --today YYYY-MM-DD
      |         --stamp yyyyMMdd_HHmmss (backup stamp; defaults to now)""".stripMargin
}
