package perfbench

import java.nio.file.Path
import java.time.LocalDate

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.perfbench.ExecRecord

/** warehouse_queries: read-only analyst traffic over a warehouse built
  * through the sync endpoints (a full reindex, a refresh, the list and
  * task dimensions). Each op is one round of the reference's declared
  * queries with seeded parameters: J1 hours by task, J2 hours by list, J3
  * estimate-vs-actual with HAVING, A1+A3 task counts per space/status,
  * A4+A5 the validation probe, and hours per user. Every result is compared
  * with the answer computed from the world's expected warehouse, which also
  * checks the set-up: a warehouse that differs from the model fails them.
  */
final class WarehouseQueries(spark: SparkSession, seed: Long, work: Path) extends Workload {
  import WarehouseQueries._

  private val svc = new SyncService(spark, work)
  private var world: ClickUpWorld = _
  private var model: Model = _
  private val resultRows = mutable.Map.empty[Int, Long]
  private val resultDigest = mutable.Map.empty[Int, Int]

  def primary: String = "round"
  def cycle: Int = 1

  def setup(): Double = {
    world = new ClickUpWorld(seed, HistoryDays, EntriesPerDay)
    svc.resetWarehouse()
    val t0 = world.today0
    var s = svc.sync("full_reindex", Seq("time_entries" -> world.allJson()),
      Map("today" -> t0.toString), Tracer.Off, -1)
    world.loadAll()
    val today = t0.plusDays(1)
    for (r <- 0 until Refreshes) {
      world.evolveEntries(today, r, 60)
      s += svc.sync("refresh", Seq("time_entries" -> world.windowJson(today, 60)),
        Map("today" -> today.toString, "days" -> "60"), Tracer.Off, -1)
      world.applyRefresh(today, 60)
    }
    for (d <- QueriedDims)
      s += svc.sync(d, svc.dimInputs(world, d), Map("today" -> today.toString), Tracer.Off, -1)
    for (t <- Seq("fact_time_entries", "dim_tasks", "dim_lists"))
      spark.read.parquet(svc.warehouse.resolve(t).toString).createOrReplaceTempView(t)
    model = new Model(world)
    s
  }

  def warmupSteps: Int = 1

  /** One round: each declared query once, in order; the op's time is the
    * sum of the six query latencies, and `parts` keeps each one.
    */
  def step(i: Int, t: Tracer): Op = {
    val runs = (0 until Kinds).map(k => query(i * Kinds + k, t))
    val failed = runs.collectFirst { case Left(err) => err }
    val times = runs.collect { case Right(s) => s }
    Op("round", if (failed.isEmpty) times.sum else Double.NaN, failed.isEmpty, failed.getOrElse(""), times)
  }

  private def query(q: Int, t: Tracer): Either[String, Double] = {
    val (kind, sql, expected) = model.query(q, new scala.util.Random(seed * 1000003L + q))
    var rows: Array[Row] = null
    val op = Workload.runOp(kind) {
      val t0 = System.nanoTime()
      t.span("query", q, kind) {
        val df = t.span("plans.analyze", q)(spark.sql(sql))
        t.span("plans.optimize", q)(df.queryExecution.executedPlan)
        rows = t.span("query.exec", q)(df.collect())
      }
      (System.nanoTime() - t0) / 1e9
    } {
      val got = rows.toSeq.map(r => r.toSeq.toVector.map(norm))
      resultRows(q) = rows.length.toLong
      resultDigest(q) = got.map(_.map {
        case d: Double => f"$d%.6f"
        case v => String.valueOf(v)
      }.mkString("|")).sorted.hashCode
      compare(kind, got, expected)
    }
    if (op.ok) Right(op.seconds) else Left(s"${op.kind}: ${op.error}")
  }

  private def norm(v: Any): Any = v match {
    case d: java.sql.Date => d.toLocalDate.toString
    case i: Int => i.toLong
    case other => other
  }

  private def compare(kind: String, got: Seq[Vector[Any]], want: Seq[Vector[Any]]): Unit = {
    def key(r: Vector[Any]) = r.filterNot(_.isInstanceOf[Double]).mkString("\u0001")
    val (g, w) = (got.sortBy(key), want.sortBy(key))
    def same(a: Any, b: Any) = (a, b) match {
      case (x: Double, y: Double) => math.abs(x - y) <= 1e-9 * (1.0 max math.abs(x) max math.abs(y))
      case _ => a == b
    }
    val bad = if (g.size != w.size) Some(s"${g.size} rows, expected ${w.size}")
      else g.zip(w).find { case (a, b) => a.size != b.size || !a.zip(b).forall { case (x, y) => same(x, y) } }
        .map { case (a, b) => s"row ${a.mkString(",")} expected ${b.mkString(",")}" }
    bad.foreach(m => throw new IllegalStateException(s"$kind: $m"))
  }

  def checksum(): String =
    s"results=${resultRows.values.sum}/${resultDigest.toSeq.sortBy(_._1).map(_._2).hashCode}"

  def report(ops: Seq[Op]): Seq[Metric] = {
    val q = ops.flatMap(_.parts)
    Seq(
      Metric("query_p50_s", Stats.median(q), "s", s"(n=${q.size})"),
      Stats.tailMetric("query_tail_s", q, ""),
      Metric("queries_per_s", q.size / q.sum, "1/s", "(queries per second spent in them)"))
  }

  override def close(): Unit = svc.stop()

  def classify(e: ExecRecord): String = "query.action"

  /** Per round of the six query kinds. */
  def layers(t: TraceData): Seq[Metric] = {
    val L = new Layers(t)
    val rounds = t.spans.filter(_.name == "query").groupBy(_.request / Kinds)
      .toSeq.sortBy(_._1).map(_._2)
    def scan(g: Seq[Span], key: String) = L.plan(g, "query.action", key)
    Seq(
      L.busy(rounds, "plans.analyze", "plans.analyze_s"),
      L.busy(rounds, "plans.optimize", "plans.optimize_s"),
      Metric("plans.exchanges", L.perOp(rounds)(scan(_, "exchanges")), "count"),
      L.busy(rounds, "query.exec", "query.exec_s"),
      Metric("query.files_read", L.perOp(rounds)(scan(_, "scan.files")), "count"),
      Metric("query.bytes_read", L.perOp(rounds)(scan(_, "scan.bytes")), "B"),
      Metric("query.rows_scanned_per_result_row", L.perOp(rounds) { g =>
        scan(g, "scan.rows") / g.map(s => resultRows.getOrElse(s.request, 0L)).sum.max(1L)
      }, "ratio")
    ) ++ L.counters(rounds, "query.exec")
  }
}

object WarehouseQueries {
  val HistoryDays = 3 * 365
  val EntriesPerDay = 20
  val Refreshes = 1
  val Kinds = 6
  /** The dimensions the declared queries join; sync_schedule covers the others. */
  val QueriedDims = Seq("lists", "tasks")
}

/** Expected answers of the declared queries, computed from the world. */
final class Model(world: ClickUpWorld) {
  private val tasks = world.tasks.map(t => t.id -> t).toMap
  private val lists = world.lists.map(l => l.id -> l).toMap
  private val spaceName = world.spaces.toMap
  private val folderName = world.folders.map(f => f._1 -> f._2).toMap
  private val fact = world.fact.values.toVector.sortBy(_.id)
  private val first = fact.map(_.date).min
  private val last = fact.map(_.date).max

  private def hours(e: world.Entry) = e.durMs / 3600000.0
  private def est(t: world.Task): Option[Double] =
    t.estimateMs.filter(_ != 0L).map(ms => math.round(ms / 3600000.0 * 100) / 100.0)
  private def sumOrNull(xs: Seq[Double]): Any = if (xs.isEmpty) null else xs.sum

  /** (kind, SQL, expected rows) of the i-th query. */
  def query(i: Int, rnd: scala.util.Random): (String, String, Seq[Vector[Any]]) = {
    val d1 = first.plusDays(rnd.nextInt((last.toEpochDay - first.toEpochDay).toInt - 30).toLong)
    val d2 = d1.plusDays(7L + rnd.nextInt(180))
    def inRange(d: LocalDate) = !d.isBefore(d1) && !d.isAfter(d2)
    val range = s"BETWEEN DATE'$d1' AND DATE'$d2'"
    val window = fact.filter(e => inRange(e.date))
    i % WarehouseQueries.Kinds match {
      case 0 =>
        ("j1_hours_by_task",
          s"""SELECT t.task_id, tasks.task_name AS task_details, tasks.status,
             |  COUNT(*) AS entries, SUM(t.duration_hours) AS hours
             |FROM fact_time_entries t
             |LEFT JOIN dim_tasks tasks ON t.task_id = tasks.task_id
             |WHERE t.start_date_oslo $range
             |GROUP BY t.task_id, tasks.task_name, tasks.status
             |ORDER BY hours DESC""".stripMargin,
          window.groupBy(_.taskId).toSeq.map { case (id, es) =>
            val t = tasks.get(id)
            Vector(id, t.map(_.name).orNull, t.map(x => ClickUpWorld.Statuses(x.status)._1).orNull,
              es.size.toLong, es.map(hours).sum)
          })
      case 1 =>
        ("j2_hours_by_list",
          s"""SELECT l.space_name, l.folder_name, l.list_name,
             |  COUNT(*) AS entries, SUM(t.duration_hours) AS hours
             |FROM fact_time_entries t
             |LEFT JOIN dim_lists l ON t.task_location_list_id = l.list_id
             |WHERE t.start_date_oslo $range
             |GROUP BY l.space_name, l.folder_name, l.list_name
             |ORDER BY hours DESC""".stripMargin,
          window.groupBy(e => lists.get(e.listId)).toSeq.map { case (l, es) =>
            Vector(l.map(x => spaceName(x.spaceId)).orNull,
              l.map(x => folderName.getOrElse(x.folderId, "")).orNull, l.map(_.name).orNull,
              es.size.toLong, es.map(hours).sum)
          })
      case 2 =>
        val space = world.spaces(rnd.nextInt(world.spaces.size))._1
        val byTask = fact.groupBy(_.taskId)
        ("j3_estimate_vs_actual",
          s"""SELECT t.task_id, t.task_name, t.time_estimate_hrs AS estimated_hrs,
             |  SUM(te.duration_hours) AS actual_hrs,
             |  (SUM(te.duration_hours) - t.time_estimate_hrs) AS variance_hrs
             |FROM dim_tasks t
             |LEFT JOIN fact_time_entries te ON t.task_id = te.task_id
             |WHERE t.closed = FALSE AND t.space_id = '$space'
             |GROUP BY t.task_id, t.task_name, t.time_estimate_hrs
             |HAVING t.time_estimate_hrs IS NOT NULL
             |ORDER BY variance_hrs DESC""".stripMargin,
          world.tasks.filter(t => ClickUpWorld.Statuses(t.status)._2 != "closed" &&
            t.list.spaceId == space && est(t).isDefined).map { t =>
            val e = est(t).get
            val actual = byTask.get(t.id).map(_.map(hours).sum)
            Vector(t.id, t.name, e, actual.getOrElse(null), actual.map(_ - e).getOrElse(null))
          })
      case 3 =>
        ("a1_a3_tasks_by_space_status",
          """SELECT space_name, status, COUNT(*) AS task_count,
            |  SUM(time_estimate_hrs) AS total_estimated_hours,
            |  SUM(CASE WHEN closed = TRUE THEN 1 ELSE 0 END) AS closed_count,
            |  SUM(CASE WHEN archived = TRUE THEN 1 ELSE 0 END) AS archived_count
            |FROM dim_tasks GROUP BY space_name, status
            |ORDER BY space_name, status""".stripMargin,
          world.tasks.groupBy(t => (spaceName(t.list.spaceId), ClickUpWorld.Statuses(t.status))).toSeq.map {
            case ((sp, st), ts) =>
              Vector(sp, st._1, ts.size.toLong, sumOrNull(ts.flatMap(est)),
                ts.count(_ => st._2 == "closed").toLong, ts.count(_.archived).toLong)
          })
      case 4 =>
        val from = d1
        val rows = fact.filter(!_.date.isBefore(from))
        ("a4_a5_validation_probe",
          s"""SELECT COUNT(*) AS total_entries, MIN(start_date_oslo) AS earliest_date,
             |  MAX(start_date_oslo) AS latest_date, COUNT(DISTINCT user_id) AS unique_users
             |FROM fact_time_entries WHERE start_date_oslo >= DATE'$from'""".stripMargin,
          Seq(Vector(rows.size.toLong, rows.map(_.date).min.toString, rows.map(_.date).max.toString,
            rows.map(_.user).distinct.size.toLong)))
      case _ =>
        ("hours_per_user",
          s"""SELECT user_id, user_username, COUNT(*) AS entries, SUM(duration_hours) AS hours
             |FROM fact_time_entries WHERE start_date_oslo $range
             |GROUP BY user_id, user_username ORDER BY hours DESC""".stripMargin,
          window.groupBy(_.user).toSeq.map { case (u, es) =>
            Vector((9001 + u).toString, world.users(u), es.size.toLong, es.map(hours).sum)
          })
    }
  }
}
