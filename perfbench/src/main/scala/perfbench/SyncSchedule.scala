package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.time.LocalDate

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{count, lit, sum}
import org.apache.spark.sql.perfbench.ExecRecord

import graft.pipelines.HttpApi

/** The sync service driven through its HTTP surface: `pipelines.HttpApi`
  * started in-process on an ephemeral port, one client, one request at a
  * time. Shared by the sync_schedule and warehouse_queries workloads.
  *
  * Every request gets its own raw input directory, written just before the
  * request and deleted after it. After each request the warehouse is
  * checked against the world's expected state (untimed).
  */
final class SyncService(spark: SparkSession, work: Path) {
  import ClickUpWorld._

  private val server = HttpApi.start(spark, 0)
  private val base = s"http://127.0.0.1:${server.getAddress.getPort}"
  private val client = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
  private var requests = 0
  var warehouse: Path = work.resolve("wh")
  var bytesIn = 0L
  var bytesWritten = 0L

  /** Drop the current warehouse and start an empty one. */
  def resetWarehouse(): Unit = {
    Dirs.delete(warehouse)
    warehouse = work.resolve(s"wh_${requests}")
    bytesIn = 0L
    bytesWritten = 0L
  }

  def stop(): Unit = server.stop(0)

  /** POST /sync/<cmd>: write `inputs` (subdirectory -> JSON lines) to a
    * fresh input directory, send the request, and return its wall time.
    * Throws on a non-success response.
    */
  def sync(cmd: String, inputs: Seq[(String, Seq[String])], params: Map[String, String],
           t: Tracer, request: Int): Double = {
    requests += 1
    val in = work.resolve(s"in_$requests")
    bytesIn += inputs.map { case (sub, lines) => writeLines(in.resolve(sub), lines) }.sum
    val stamp = f"20260101_$requests%06d"
    val query = (params ++ Map("in" -> in.toString, "warehouse" -> warehouse.toString, "stamp" -> stamp))
      .map { case (k, v) => s"$k=${java.net.URLEncoder.encode(v, StandardCharsets.UTF_8)}" }.mkString("&")
    val before = Dirs.files(warehouse)
    val req = HttpRequest.newBuilder(URI.create(s"$base/sync/$cmd?$query"))
      .POST(HttpRequest.BodyPublishers.noBody()).build()
    val t0 = System.nanoTime()
    val resp = t.span("pipelines.http", request, cmd) {
      client.send(req, HttpResponse.BodyHandlers.ofString())
    }
    val seconds = (System.nanoTime() - t0) / 1e9
    Dirs.delete(in)
    bytesWritten += Dirs.written(before, Dirs.files(warehouse))
    if (resp.statusCode() != 200 || !resp.body().contains("\"status\":\"success\""))
      throw new IllegalStateException(s"/sync/$cmd -> ${resp.statusCode()} ${resp.body().take(300)}")
    seconds
  }

  def dimInputs(world: ClickUpWorld, cmd: String): Seq[(String, Seq[String])] = cmd match {
    case "lists" => Seq("spaces" -> world.spacesJson, "folders" -> world.foldersJson, "lists" -> world.listsJson)
    case "tasks" => Seq("tasks" -> world.tasksJson)
    case "accounts" => Seq("accounts" -> world.accountsJson)
    case "apps" => Seq("apps" -> world.appsJson)
  }

  // --- checks ----------------------------------------------------------------
  private def dimCheck(table: String, key: String): (Long, Long) = {
    val r = spark.read.parquet(warehouse.resolve(table).toString)
      .selectExpr("count(*)", s"coalesce(sum(pmod(xxhash64($key), $P)), 0)").head()
    (r.getLong(0), r.getLong(1))
  }
  private val dimKeys = Map(
    "lists" -> ("dim_lists", "concat_ws('|', space_id, space_name, folder_id, folder_name, list_id, list_name)"),
    "tasks" -> ("dim_tasks", "concat_ws('|', space_id, folder_id, list_id, list_name, task_id, task_name, " +
      "status, coalesce(cast(round(time_estimate_hrs * 100) as bigint), -1), cast(closed as string), " +
      "cast(archived as string))"),
    "accounts" -> ("dim_accounts", "concat_ws('|', account_task_id, account_name, connected_list_id, " +
      "cast(round(hours_discount * 1000) as bigint), status, " +
      "coalesce(cast(unix_millis(date_created) as bigint), -1), assignees, " +
      "coalesce(cast(round(arr * 100) as bigint), -1))"),
    "apps" -> ("dim_apps", "concat_ws('|', task_id, application_name, account_task_ids, " +
      "coalesce(cast(round(arr * 100) as bigint), -1), " +
      "coalesce(cast(unix_millis(last_updated) as bigint), -1), status, cast(maintenance as string))"))

  /** Row count and checksum of a dimension equal the world's. */
  def checkDim(world: ClickUpWorld, cmd: String): Unit = {
    val expected = cmd match {
      case "lists" => world.expectedLists
      case "tasks" => world.expectedTasks
      case "accounts" => world.expectedAccounts
      case "apps" => world.expectedApps
    }
    val (table, key) = dimKeys(cmd)
    val got = dimCheck(table, key)
    val want = (expected.size.toLong, expected.map(hashMod).foldLeft(0L)(_ + _))
    if (got != want) throw new IllegalStateException(s"$table: (rows, checksum) $got != expected $want")
  }

  /** Per-date (rows, sum duration_ms, id checksum, full-row checksum) of the
    * fact.
    */
  def factState(): Map[LocalDate, (Long, Long, Long, Long)] = {
    val fact = spark.read.parquet(warehouse.resolve("fact_time_entries").toString)
    val cols = fact.columns.map(c => s"coalesce(cast(`$c` as string), '~')").mkString(", ")
    fact.selectExpr("start_date_oslo AS d", "duration_ms",
        s"pmod(xxhash64(id), $P) AS h", s"pmod(xxhash64(concat_ws('|', $cols)), $P) AS r")
      .groupBy("d").agg(count(lit(1)), sum("duration_ms"), sum("h"), sum("r"))
      .collect().map { row =>
        row.getDate(0).toLocalDate -> (row.getLong(1), row.getLong(2), row.getLong(3), row.getLong(4))
      }.toMap
  }

  /** The fact equals the world's expected fact: per date, the row count,
    * sum(duration_ms) and id-set checksum. The model holds each id once, so
    * equal counts and id checksums on every date also mean no id appears
    * twice. Every date before `keepBefore` must be unchanged value for
    * value (full-row checksum) since `prev`.
    */
  def checkFact(world: ClickUpWorld, prev: Map[LocalDate, (Long, Long, Long, Long)],
                keepBefore: LocalDate): Map[LocalDate, (Long, Long, Long, Long)] = {
    val got = factState()
    val want = world.fact.values.groupBy(_.date).map { case (d, es) =>
      d -> (es.size.toLong, es.map(_.durMs).sum, es.map(e => hashMod(f"te${e.id}%07d")).sum)
    }
    val gotModel = got.map { case (d, (n, dur, h, _)) => d -> (n, dur, h) }
    if (gotModel != want) {
      val bad = (gotModel.keySet ++ want.keySet).filter(d => gotModel.get(d) != want.get(d)).toSeq.sorted.take(3)
      throw new IllegalStateException(s"fact_time_entries differs from the model on ${bad.map(d =>
        s"$d: ${gotModel.get(d)} != ${want.get(d)}").mkString("; ")}")
    }
    val changed = prev.keySet.filter(_.isBefore(keepBefore)).filter(d => got.get(d) != prev.get(d))
    if (changed.nonEmpty)
      throw new IllegalStateException(s"out-of-window history rewritten on ${changed.toSeq.sorted.take(3).mkString(", ")}")
    got
  }
}

/** sync_schedule: the reference's Cloud Scheduler day, compressed. Set-up
  * loads ~3 years of history with one full reindex; each simulated day then
  * sends 4 x refresh?days=60 and then one sync of each dimension, with the
  * world changing before every request.
  */
final class SyncSchedule(spark: SparkSession, seed: Long, work: Path) extends Workload {
  import SyncSchedule._

  private val svc = new SyncService(spark, work)
  private var world: ClickUpWorld = _
  private var factSnapshot = Map.empty[LocalDate, (Long, Long, Long, Long)]
  private val rawRows = mutable.Map.empty[Int, Long]

  def primary: String = "refresh"
  def cycle: Int = 8
  /** The day's first refresh: it compiles the merge plans the set-ups
    * (full reindexes) never ran.
    */
  def warmupSteps: Int = 1

  def setup(): Double = {
    world = new ClickUpWorld(seed, HistoryDays, EntriesPerDay)
    svc.resetWarehouse()
    val s = svc.sync("full_reindex", Seq("time_entries" -> world.allJson()),
      Map("today" -> world.today0.toString), Tracer.Off, -1)
    world.loadAll()
    factSnapshot = svc.checkFact(world, Map.empty, world.today0)
    svc.bytesIn = 0L
    svc.bytesWritten = 0L
    s
  }

  def step(i: Int, t: Tracer): Op = {
    val today = world.today0.plusDays(i / 8 + 1L)
    DaySchedule(i % 8) match {
      case ("refresh", r) =>
        world.evolveEntries(today, r, Days)
        val raw = world.windowJson(today, Days)
        rawRows(i) = raw.size.toLong
        Workload.runOp("refresh") {
          svc.sync("refresh", Seq("time_entries" -> raw),
            Map("today" -> today.toString, "days" -> Days.toString), t, i)
        } {
          world.applyRefresh(today, Days)
          factSnapshot = svc.checkFact(world, factSnapshot, today.minusDays(Days.toLong))
        }
      case (cmd, _) =>
        if (cmd == Dims.head) world.evolveDims()
        Workload.runOp(cmd) {
          svc.sync(cmd, svc.dimInputs(world, cmd), Map("today" -> today.toString), t, i)
        }(svc.checkDim(world, cmd))
    }
  }

  def checksum(): String = {
    val fact = svc.factState()
    val dims = Dims.map(d => svc.warehouse.resolve(s"dim_$d")).filter(Files.exists(_)).map { p =>
      s"${p.getFileName}=${spark.read.parquet(p.toString).count()}"
    }
    val f = fact.toSeq.sortBy(_._1).map { case (_, (n, dur, h, r)) => n * 31 + dur * 7 + h + r }.sum
    s"fact=${fact.values.map(_._1).sum}/$f;${dims.mkString(";")}"
  }

  def report(ops: Seq[Op]): Seq[Metric] = {
    val refresh = ops.filter(_.kind == "refresh").map(_.seconds)
    val dims = ops.filter(_.kind != "refresh").map(_.seconds)
    val perDim = Dims.map(d => Stats.median(ops.filter(_.kind == d).map(_.seconds)))
    Seq(
      Metric("refresh_p50_s", Stats.median(refresh), "s", s"(n=${refresh.size})"),
      Stats.tailMetric("refresh_tail_s", refresh, ""),
      Metric("dim_sync_p50_s", Stats.median(dims), "s", s"(n=${dims.size})"),
      Stats.tailMetric("dim_sync_tail_s", dims, ""),
      Metric("sync_day_s", 4 * Stats.median(refresh) + perDim.sum, "s",
        "(4 x refresh p50 + the p50 of each dimension sync)"),
      Metric("write_amp", svc.bytesWritten.toDouble / svc.bytesIn.max(1), "ratio",
        s"(${svc.bytesWritten} B written under the warehouse / ${svc.bytesIn} B raw JSON in)"))
  }

  override def close(): Unit = svc.stop()

  private val FirstGraft = """graft\.(?:\w+\.)*(\w+)\$\.([\w$]+)\(""".r

  /** Layer of one Spark action inside a request, from the first engine frame
    * of its call site.
    */
  def classify(e: ExecRecord): String =
    FirstGraft.findFirstMatchIn(e.callSite).map(m => (m.group(1), m.group(2))) match {
      case Some(("Pipelines", "timeEntryPipeline")) => "pipelines.time_entry"
      case Some(("Main", "run")) if e.description.startsWith("localCheckpoint") => "pipelines.time_entry"
      case Some(("MergeOps", "csvBackup")) => "operators.MergeOps.csv_backup"
      case Some(("MergeOps", "loadStaging")) => "operators.MergeOps.load_staging"
      case Some(("MergeOps", "atomicSwapWrite")) => "operators.MergeOps.merge_swap"
      case Some(("MergeOps", "truncateLoad")) => "operators.MergeOps.truncate_load"
      case Some(("MergeOps", "ensureTable")) => "operators.MergeOps.ensure_table"
      case Some((obj, m)) => s"$obj.$m"
      case None => "spark.other"
    }

  def layers(t: TraceData): Seq[Metric] = {
    val reqs = t.spans.filter(_.name == "pipelines.http")
    val refresh = reqs.filter(_.tag == "refresh").map(Seq(_))
    val dimReqs = reqs.filter(_.tag != "refresh").map(Seq(_))
    val L = new Layers(t)
    val rowsIn = refresh.map(g => rawRows.getOrElse(g.head.request, 0L).toDouble)
    val rowsOut = refresh.map(L.plan(_, "operators.MergeOps.load_staging", "write.rows"))
    val merged = refresh.map(L.plan(_, "operators.MergeOps.merge_swap", "write.rows"))
    Seq(
      Metric("pipelines.http.self_s", L.perOp(refresh)(g => t.selfSeconds(g.head)), "s",
        "(refresh request minus its Spark actions)"),
      L.busy(refresh, "pipelines.time_entry"),
      Metric("pipelines.time_entry.rows_in", Stats.median(rowsIn), "count"),
      Metric("pipelines.time_entry.rows_out", Stats.median(rowsOut), "count"),
      Metric("operators.Dedup.dropped_ratio",
        Stats.median(rowsIn.zip(rowsOut).map { case (a, b) => (a - b) / a.max(1) }), "ratio"),
      L.busy(refresh, "operators.MergeOps.merge_swap"),
      Metric("operators.MergeOps.rows_written_per_window_row",
        Stats.median(merged.zip(rowsOut).map { case (m, s) => m / s.max(1) }), "ratio",
        "(fact rows rewritten per staged window row)"),
      Metric("operators.MergeOps.bytes_written",
        L.perOp(refresh)(L.plan(_, "operators.MergeOps.merge_swap", "write.bytes")), "B"),
      Metric("operators.MergeOps.files_written",
        L.perOp(refresh)(L.plan(_, "operators.MergeOps.merge_swap", "write.files")), "count"),
      L.busy(refresh, "operators.MergeOps.csv_backup"),
      L.busy(refresh, "operators.MergeOps.load_staging"),
      L.busy(dimReqs, "operators.MergeOps.truncate_load"),
    ) ++ Dims.map(d => Metric(s"pipelines.dims.$d.busy_s",
      L.perOp(dimReqs.filter(_.head.tag == d))(_.head.seconds), "s")) ++
      Seq("pipelines.http", "pipelines.time_entry", "operators.MergeOps.merge_swap",
        "operators.MergeOps.csv_backup", "operators.MergeOps.load_staging")
        .flatMap(L.counters(refresh, _)) ++
      L.counters(dimReqs, "operators.MergeOps.truncate_load")
  }
}

object SyncSchedule {
  val HistoryDays = 3 * 365
  val EntriesPerDay = 20
  val Days = 60
  val Dims: Vector[String] = Vector("lists", "tasks", "accounts", "apps")
  /** One simulated day, as (endpoint, refresh number of the day): the four
    * 6-hourly refreshes, then one sync of each dimension.
    */
  val DaySchedule: Vector[(String, Int)] = (0 until 4).map(("refresh", _)).toVector ++ Dims.map((_, -1))
}

/** Directory helpers for the run's scratch space. */
object Dirs {
  def delete(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.iterator().asScala.toVector.reverse.foreach(Files.deleteIfExists)
    finally s.close()
  }

  /** path -> (size, mtime) of every regular file under `p`. */
  def files(p: Path): Map[Path, (Long, Long)] =
    if (!Files.exists(p)) Map.empty
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map { f =>
        f -> (Files.size(f), Files.getLastModifiedTime(f).toMillis)
      }.toMap
      finally s.close()
    }

  /** Bytes of files that are new or changed between two listings. */
  def written(before: Map[Path, (Long, Long)], after: Map[Path, (Long, Long)]): Long =
    after.collect { case (f, v @ (size, _)) if !before.get(f).contains(v) => size }.sum
}
