package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.time.{LocalDate, LocalTime, ZoneId, ZonedDateTime}

import scala.collection.mutable

import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.unsafe.types.UTF8String

import graft.pipelines.Pipelines.Cf

/** A seeded ClickUp workspace: hierarchy, users, tasks, accounts, apps and
  * the time-entry history, plus the expected warehouse (`fact`) that the
  * sync endpoints should leave behind. The program only ever sees the raw
  * JSON this class writes; the class itself is the correctness oracle.
  *
  * Entry ids are ints rendered as "te%07d"; dates are Oslo civil dates, as
  * the fact's `start_date_oslo`.
  */
final class ClickUpWorld(seed: Long, historyDays: Int, entriesPerDay: Int) {
  import ClickUpWorld._

  private val rnd = new scala.util.Random(seed)
  /** `today` of the initial full reindex; measured day d is today0 + d + 1. */
  val today0: LocalDate = LocalDate.of(2025, 11, 20)

  // --- hierarchy -----------------------------------------------------------
  final case class ListRow(id: String, name: String, spaceId: String, folderId: String)
  val spaces: Vector[(String, String)] = (1 to 4).map(s => (s"s$s", s"Space $s")).toVector
  val folders: Vector[(String, String, String)] =
    for ((sid, _) <- spaces; k <- 1 to 3) yield (s"f${sid.drop(1)}$k", s"Folder ${sid.drop(1)}-$k", sid)
  val lists: Vector[ListRow] = {
    val inFolders = folders.flatMap { case (fid, _, sid) => (1 to 4).map(k => (sid, fid)) }
    val folderLess = spaces.flatMap { case (sid, _) => Seq((sid, ""), (sid, "")) }
    (inFolders ++ folderLess).zipWithIndex.map { case ((sid, fid), i) =>
      ListRow(f"l${i + 1}%03d", f"List ${i + 1}%03d", sid, fid)
    }
  }
  private val spaceName = spaces.toMap
  private val folderName = folders.map(f => f._1 -> f._2).toMap

  // --- users and tasks -----------------------------------------------------
  val users: Vector[String] = (1 to 12).map(u => f"user$u%02d").toVector
  private def userId(u: Int) = (9001 + u).toString

  final case class Task(id: String, name: String, list: ListRow, var status: Int,
                        var estimateMs: Option[Long], var archived: Boolean,
                        assignees: Seq[Int], fields: Seq[(String, String)])
  val tasks: Vector[Task] = (1 to 900).map { t =>
    val est = rnd.nextInt(10) match {
      case 0 | 1 => None
      case 2 => Some(0L)
      case _ => Some(900000L * (1 + rnd.nextInt(160)))
    }
    Task(f"tk$t%04d", s"Task $t", lists(rnd.nextInt(lists.size)), rnd.nextInt(Statuses.size),
      est, rnd.nextInt(20) == 0, Seq.fill(rnd.nextInt(3))(rnd.nextInt(users.size)),
      (0 until 6).map(k => (f"cf-$k%02d-0000", s"value ${rnd.nextInt(1000)}")))
  }.toVector

  final case class Account(id: String, name: String, var connected: String,
                           var discount: Option[String], arr: Option[String],
                           created: Long, assignees: Seq[Int], status: Int)
  val accounts: Vector[Account] = (1 to 120).map { a =>
    val ids = Seq.fill(rnd.nextInt(4))(lists(rnd.nextInt(lists.size)).id)
    Account(f"ac$a%03d", s"Account $a", noisyJoin(ids),
      rnd.nextInt(6) match { case 0 => None; case 1 => Some("n/a"); case k => Some(s"0.${k}5") },
      if (rnd.nextInt(5) == 0) None else Some(s"${1000 * (1 + rnd.nextInt(500))}.${rnd.nextInt(100)}"),
      1600000000000L + rnd.nextInt(1000000) * 60000L, Seq.fill(rnd.nextInt(3))(rnd.nextInt(users.size)),
      rnd.nextInt(Statuses.size))
  }.toVector

  final case class App(id: String, name: String, itemId: Option[Long], var accounts: Seq[String],
                       arr: Option[String], var lastUpdated: Option[Long],
                       maintenance: Option[String], status: Int)
  val apps: Vector[App] = (1 to 200).map { a =>
    App(f"ap$a%03d", s"App $a",
      rnd.nextInt(8) match { case 0 => None; case 1 => Some(1001L); case _ => Some(1005L) },
      Seq.fill(rnd.nextInt(4))(if (rnd.nextInt(10) == 0) "" else accounts(rnd.nextInt(accounts.size)).id),
      if (rnd.nextInt(4) == 0) None else Some(s"${100 * (1 + rnd.nextInt(900))}"),
      if (rnd.nextInt(3) == 0) None else Some(1700000000000L + rnd.nextInt(1000000) * 60000L),
      rnd.nextInt(3) match { case 0 => None; case 1 => Some("true"); case _ => Some("false") },
      rnd.nextInt(Statuses.size))
  }.toVector

  private def noisyJoin(ids: Seq[String]): String = ids.map { id =>
    rnd.nextInt(4) match { case 0 => s" $id "; case 1 => s"$id,"; case _ => id }
  }.mkString(",")

  // --- time entries --------------------------------------------------------
  /** One live ClickUp time entry (its current version). Orphans point at a
    * task and list that are in no dimension.
    */
  final case class Entry(id: Int, task: Int, user: Int, startMs: Long, var durMs: Long,
                         var atMs: Long, billable: Boolean, date: LocalDate) {
    def taskId: String = if (task >= 0) tasks(task).id else f"tk9${-task}%03d"
    def listId: String = if (task >= 0) tasks(task).list.id else "l999"
  }
  /** Live entries by id. */
  val entries = mutable.LongMap.empty[Entry]
  private var nextId = 1

  private def newEntry(date: LocalDate): Entry = {
    // mostly working hours; a few late-evening starts sit near the Oslo
    // midnight, where the UTC and Oslo dates differ
    val minute = if (rnd.nextInt(25) == 0) 22 * 60 + rnd.nextInt(120) - 1 else 6 * 60 + rnd.nextInt(14 * 60)
    val start = ZonedDateTime.of(date, LocalTime.MIN, Oslo).plusMinutes(minute.toLong min (24 * 60 - 1))
    val startMs = start.toInstant.toEpochMilli
    val dur = 60000L * (5 + rnd.nextInt(480))
    val task = if (rnd.nextInt(50) == 0) -rnd.nextInt(40) - 1 else rnd.nextInt(tasks.size)
    val e = Entry(nextId, task, rnd.nextInt(users.size), startMs, dur,
      startMs + dur + rnd.nextInt(3 * 86400) * 1000L, rnd.nextBoolean(), start.toLocalDate)
    nextId += 1
    entries(e.id.toLong) = e
    e
  }

  (0 until historyDays).foreach { back =>
    val d = today0.minusDays((historyDays - 1 - back).toLong)
    val weekend = d.getDayOfWeek.getValue >= 6
    val n = (if (weekend) entriesPerDay / 5 else entriesPerDay) * (70 + rnd.nextInt(61)) / 100
    (0 until n).foreach(_ => newEntry(d))
  }

  /** The fact table the warehouse should hold: entry id -> row. */
  val fact = mutable.LongMap.empty[Entry]
  def loadAll(): Unit = { fact.clear(); entries.foreach { case (k, e) => fact(k) = e.copy() } }

  /** World changes before the `r`-th refresh of `today` (r in 0..3): new
    * entries for today, edits (later `at`, new duration) near and inside
    * the window, including its out-of-window edge, and deletions inside it.
    */
  def evolveEntries(today: LocalDate, r: Int, days: Int): Unit = {
    val clock = ZonedDateTime.of(today, LocalTime.of(3 + 6 * r, 0), Oslo).toInstant.toEpochMilli
    (0 until entriesPerDay / 4).foreach(_ => newEntry(today))
    val lo = today.minusDays(days.toLong + 1)
    val recent = entries.values.filter(e => !e.date.isBefore(lo)).toVector.sortBy(_.id)
    recent.foreach { e =>
      val u = rnd.nextInt(1000)
      if (u < 6) {
        e.durMs = 60000L * (5 + rnd.nextInt(480))
        e.atMs = (e.atMs max clock) + 1000 + rnd.nextInt(60000)
      } else if (u < 8 && !e.date.isBefore(lo.plusDays(1))) entries.remove(e.id.toLong)
    }
  }

  /** Raw window the API would return for a `days` refresh: every live entry
    * starting after the window's first Oslo midnight minus three hours (so
    * the evening before the window is fetched too), plus stale copies of
    * some entries (same id, earlier `at`, other duration), shuffled.
    */
  def windowJson(today: LocalDate, days: Int): Vector[String] = {
    val fetchLo = ZonedDateTime.of(today.minusDays(days.toLong), LocalTime.MIN, Oslo)
      .minusHours(3).toInstant.toEpochMilli
    rnd.shuffle(entries.values.filter(_.startMs >= fetchLo).toVector.sortBy(_.id)
      .flatMap(withStale)).map(entryJson)
  }

  /** Every live entry (plus stale copies): the full-reindex input. */
  def allJson(): Vector[String] =
    rnd.shuffle(entries.values.toVector.sortBy(_.id).flatMap(withStale)).map(entryJson)

  private def withStale(e: Entry): Seq[Entry] =
    if (rnd.nextInt(33) != 0) Seq(e)
    else Seq(e, e.copy(durMs = e.durMs + 60000L, atMs = e.atMs - 1000L * (1 + rnd.nextInt(3600))))

  /** Apply a refresh to the expected fact: rows dated inside [today-days,
    * today] are replaced by the live entries dated there.
    */
  def applyRefresh(today: LocalDate, days: Int): Unit = {
    val lo = today.minusDays(days.toLong)
    def inW(d: LocalDate) = !d.isBefore(lo) && !d.isAfter(today)
    fact.filterInPlace { case (_, e) => !inW(e.date) }
    entries.foreach { case (k, e) => if (inW(e.date)) fact(k) = e.copy() }
  }

  /** Daily dimension drift before the day's dimension syncs. */
  def evolveDims(): Unit = {
    tasks.foreach { t =>
      if (rnd.nextInt(50) == 0) t.status = rnd.nextInt(Statuses.size)
      if (rnd.nextInt(100) == 0) t.estimateMs = Some(900000L * (1 + rnd.nextInt(160)))
      if (rnd.nextInt(200) == 0) t.archived = !t.archived
    }
    accounts.foreach { a =>
      if (rnd.nextInt(30) == 0)
        a.connected = noisyJoin(Seq.fill(rnd.nextInt(4))(lists(rnd.nextInt(lists.size)).id))
    }
    apps.foreach { a =>
      if (rnd.nextInt(30) == 0) a.lastUpdated = Some(1700000000000L + rnd.nextInt(1000000) * 60000L)
    }
  }

  // --- raw JSON --------------------------------------------------------------
  private def q(s: String) = graft.JsonUtil.jstr(s)
  private def entryJson(e: Entry): String = {
    val (tName, st) = if (e.task >= 0) (tasks(e.task).name, Statuses(tasks(e.task).status)) else ("Deleted task", Statuses(0))
    val (sid, fid) = if (e.task >= 0) (tasks(e.task).list.spaceId, tasks(e.task).list.folderId) else ("s9", "f99")
    val u = users(e.user)
    s"""{"id":"te${"%07d".format(e.id)}","start":"${e.startMs}","end":"${e.startMs + e.durMs}",""" +
      s""""duration":"${e.durMs}","at":"${e.atMs}","billable":${e.billable},""" +
      s""""description":${q(s"work item ${e.id % 97}")},"source":"clickup","is_locked":false,""" +
      s""""approval_id":null,"task_url":"https://app.clickup.com/t/${e.taskId}",""" +
      s""""task":{"id":"${e.taskId}","name":${q(tName)},"custom_type":null,"custom_id":null,""" +
      s""""status":{"status":"${st._1}","color":"#87909e","type":"${st._2}","orderindex":"${st._3}"}},""" +
      s""""user":{"id":"${userId(e.user)}","username":"$u","email":"$u@example.com",""" +
      s""""color":"#7b68ee","initials":"${u.take(2).toUpperCase}","profilePicture":null},""" +
      s""""task_location":{"list_id":"${e.listId}","folder_id":"$fid","space_id":"$sid"}}"""
  }

  private def fieldsJson(fs: Seq[(String, String)], rel: Option[(String, Seq[String])]): String =
    (fs.map { case (id, v) => s"""{"id":"$id","value":${q(v)}}""" } ++
      rel.map { case (id, ids) =>
        s"""{"id":"$id","value":null,"value_rel":[${ids.map(i => s"""{"id":"$i"}""").mkString(",")}]}"""
      }).mkString("[", ",", "]")

  private def assigneesJson(as: Seq[Int]) = as.map(u => s"""{"username":"${users(u)}"}""").mkString("[", ",", "]")

  def spacesJson: Vector[String] = spaces.map { case (id, n) => s"""{"id":"$id","name":${q(n)},"archived":false}""" }
  def foldersJson: Vector[String] = folders.map { case (id, n, sid) =>
    s"""{"id":"$id","name":${q(n)},"space_id":"$sid","archived":false}"""
  }
  def listsJson: Vector[String] = lists.zipWithIndex.map { case (l, i) =>
    val fid = if (l.folderId.nonEmpty) s""""${l.folderId}"""" else if (i % 2 == 0) "null" else "\"\""
    s"""{"id":"${l.id}","name":${q(l.name)},"space_id":"${l.spaceId}","folder_id":$fid,"archived":false}"""
  }
  def tasksJson: Vector[String] = tasks.map { t =>
    val st = Statuses(t.status)
    val est = t.estimateMs.fold("null")(ms => s""""$ms"""")
    s"""{"id":"${t.id}","name":${q(t.name)},"url":"https://app.clickup.com/t/${t.id}",""" +
      s""""archived":${t.archived},"custom_item_id":0,"time_estimate":$est,""" +
      s""""date_created":"1690000000000","date_updated":"1700000000000",""" +
      s""""status":{"status":"${st._1}","type":"${st._2}"},"assignees":${assigneesJson(t.assignees)},""" +
      s""""custom_fields":${fieldsJson(t.fields, None)},"space_id":"${t.list.spaceId}",""" +
      s""""space_name":${q(spaceName(t.list.spaceId))},"folder_id":"${t.list.folderId}",""" +
      s""""folder_name":${q(folderName.getOrElse(t.list.folderId, ""))},"list_id":"${t.list.id}",""" +
      s""""list_name":${q(t.list.name)}}"""
  }
  def accountsJson: Vector[String] = accounts.map { a =>
    val fs = Seq(Cf.connected -> a.connected) ++ a.discount.map(Cf.hoursDiscount -> _) ++
      a.arr.map(Cf.arr -> _) ++ (0 until 3).map(k => (f"cf-a$k%02d", s"note ${a.id} $k"))
    s"""{"id":"${a.id}","name":${q(a.name)},"status":{"status":"${Statuses(a.status)._1}","type":"${Statuses(a.status)._2}"},""" +
      s""""date_created":"${a.created}","assignees":${assigneesJson(a.assignees)},""" +
      s""""custom_fields":${fieldsJson(fs, None)}}"""
  }
  def appsJson: Vector[String] = apps.map { a =>
    val fs = a.arr.map(Cf.arr -> _).toSeq ++ Seq(Cf.lastUpdated -> a.lastUpdated.fold("")(_.toString)) ++
      a.maintenance.map(Cf.maintenance -> _) ++ Seq(("cf-p00", s"vendor ${a.id}"))
    val item = a.itemId.fold("null")(_.toString)
    s"""{"id":"${a.id}","name":${q(a.name)},"custom_item_id":$item,""" +
      s""""status":{"status":"${Statuses(a.status)._1}","type":"${Statuses(a.status)._2}"},""" +
      s""""custom_fields":${fieldsJson(fs, Some(Cf.accountsRel -> a.accounts))}}"""
  }

  // --- expected dimensions (checksum strings, see SyncChecks) ----------------
  def expectedLists: Seq[String] = lists.map { l =>
    Seq(l.spaceId, spaceName(l.spaceId), l.folderId, folderName.getOrElse(l.folderId, ""), l.id, l.name).mkString("|")
  }
  def expectedTasks: Seq[String] = tasks.map { t =>
    val est = t.estimateMs.filter(_ != 0L).map(ms => math.round(ms / 3600000.0 * 100)).getOrElse(-1L)
    Seq(t.list.spaceId, t.list.folderId, t.list.id, t.list.name, t.id, t.name, Statuses(t.status)._1,
      est.toString, (Statuses(t.status)._2 == "closed").toString, t.archived.toString).mkString("|")
  }
  def expectedAccounts: Seq[String] = accounts.flatMap { a =>
    val tokens = a.connected.split(",", -1).map(_.trim).filter(_.nonEmpty).toSeq
    val disc = a.discount.flatMap(_.toDoubleOption).map(d => math.round(d * 1000)).getOrElse(0L)
    val arr = a.arr.flatMap(_.toDoubleOption).map(d => math.round(d * 100)).getOrElse(-1L)
    val names = a.assignees.map(users).mkString(", ")
    (if (tokens.isEmpty) Seq("") else tokens).map { tok =>
      Seq(a.id, a.name, tok, disc.toString, Statuses(a.status)._1, a.created.toString, names, arr.toString).mkString("|")
    }
  }
  def expectedApps: Seq[String] = apps.filter(_.itemId.contains(1005L)).map { a =>
    val arr = a.arr.flatMap(_.toDoubleOption).map(d => math.round(d * 100)).getOrElse(-1L)
    Seq(a.id, a.name, a.accounts.filter(_.nonEmpty).mkString(", "), arr.toString,
      a.lastUpdated.fold(-1L)(identity).toString, Statuses(a.status)._1,
      a.maintenance.contains("true").toString).mkString("|")
  }
}

object ClickUpWorld {
  val Oslo: ZoneId = ZoneId.of("Europe/Oslo")
  /** (status, type, orderindex) */
  val Statuses: Vector[(String, String, Int)] = Vector(("open", "open", 0), ("in progress", "custom", 1),
    ("review", "custom", 2), ("done", "closed", 3))

  /** Checksum modulus: sums of hashes reduced mod P never overflow a long. */
  val P = 1000000007L
  def hashMod(s: String): Long = Math.floorMod(XXH64.hashUTF8String(UTF8String.fromString(s), 42L), P)

  def writeLines(dir: Path, lines: Seq[String]): Long = {
    Files.createDirectories(dir)
    val bytes = lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8)
    Files.write(dir.resolve("part-0.json"), bytes)
    bytes.length.toLong
  }
}
