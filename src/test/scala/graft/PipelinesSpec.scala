package graft

import org.apache.spark.sql.DataFrame

import graft.pipelines.Pipelines
import graft.schemas.ClickUpSchemas

/** End-to-end ClickUp pipeline parity on FIXTURES.md-shaped raw JSON:
  * T1 flatten (31 columns, typed), dims transforms (S2–S5), custom-field
  * extraction (T3, C8–C12), explode sentinel (E1).
  */
class PipelinesSpec extends SparkSpec {
  import spark.implicits._

  private def readJson(schema: org.apache.spark.sql.types.StructType,
                       lines: String*): DataFrame =
    spark.read.schema(schema).json(lines.toDS)

  private val fullEntry =
    """{"id":"4216543212345678901","start":"1717426800000","end":"1717434000000",
      |"duration":"7200000","at":"1717434100000","billable":true,
      |"description":"Implement sync","source":"clickup","is_locked":false,
      |"approval_id":null,"task_url":"https://app.clickup.com/t/abc123",
      |"task":{"id":"abc123","name":"Build pipeline","custom_type":null,"custom_id":null,
      |  "status":{"status":"in progress","color":"#5f55ee","type":"custom","orderindex":"1"}},
      |"user":{"id":"55424762","username":"jane","email":"jane@example.com",
      |  "color":"#ff0000","initials":"J","profilePicture":""},
      |"task_location":{"list_id":"901501234567","folder_id":"90151111111","space_id":"61463579"}}
      |""".stripMargin.replaceAll("\n", "")

  private val minimalEntry = """{"id":"e2","duration":"bogus"}"""

  test("T1 flatten: 31 typed columns with reference defaults (ref :803-926)") {
    val out = Pipelines.flattenTimeEntries(
      readJson(ClickUpSchemas.rawTimeEntry, fullEntry, minimalEntry))
    assert(out.columns.toSeq == ClickUpSchemas.factTimeEntries.fieldNames.toSeq)
    val full = out.filter($"id" === "4216543212345678901").collect()(0)
    assert(full.getAs[java.sql.Timestamp]("start_utc").toString == "2024-06-03 15:00:00.0")
    assert(full.getAs[Double]("duration_hours") == 2.0)
    assert(full.getAs[Boolean]("billable"))
    assert(full.getAs[String]("task_status_color") == "#5f55ee")
    assert(full.getAs[Long]("task_status_orderindex") == 1L)
    assert(full.getAs[String]("user_email_sha256") != null)
    assert(full.getAs[java.sql.Date]("start_date_oslo").toString == "2024-06-03")
    assert(full.getAs[String]("approval_id") == null)
    // minimal entry → fallback-row defaults (ref :891-926)
    val min = out.filter($"id" === "e2").collect()(0)
    assert(min.getAs[java.sql.Timestamp]("start_utc") == null)
    assert(min.getAs[Any]("duration_ms") == null) // safe_int('bogus') → null
    assert(min.getAs[Double]("duration_hours") == 0.0)
    assert(!min.getAs[Boolean]("billable"))
    assert(min.getAs[String]("task_name") == "")
    assert(min.getAs[String]("task_id") == null)
    assert(min.getAs[String]("user_email_sha256") == null)
    assert(min.getAs[java.sql.Date]("start_date_oslo") == null)
  }

  test("fact pipeline dedups duplicate ids keeping max `at` (D1)") {
    val dup = fullEntry.replace("\"at\":\"1717434100000\"", "\"at\":\"1717434200000\"")
      .replace("\"duration\":\"7200000\"", "\"duration\":\"3600000\"")
    val out = Pipelines.timeEntryPipeline(
      readJson(ClickUpSchemas.rawTimeEntry, fullEntry, dup, minimalEntry))
    assert(out.count() == 2)
    val kept = out.filter($"id" === "4216543212345678901").collect()(0)
    assert(kept.getAs[Double]("duration_hours") == 1.0) // later `at` wins
  }

  test("S2 lists walk: folder branch + folder-less sentinel (ref :196-279)") {
    val spaces = readJson(ClickUpSchemas.rawSpace,
      """{"id":"s1","name":"Space One","archived":false}""")
    val folders = readJson(ClickUpSchemas.rawFolder,
      """{"id":"f1","name":"Folder One","space_id":"s1","archived":false}""")
    val lists = readJson(ClickUpSchemas.rawList,
      """{"id":"l1","name":"In Folder","space_id":"s1","folder_id":"f1","archived":false}""",
      """{"id":"l2","name":"Root List","space_id":"s1","folder_id":"","archived":false}""")
    val out = Pipelines.denormalizeLists(spaces, folders, lists)
      .orderBy("list_id").collect()
    assert(out.length == 2)
    assert(out(0).toSeq == Seq("s1", "Space One", "f1", "Folder One", "l1", "In Folder"))
    assert(out(1).toSeq == Seq("s1", "Space One", "", "", "l2", "Root List"))
  }

  test("S3 tasks transform: closed flag, rounded estimate, zero-estimate → null (ref :431-456)") {
    val out = Pipelines.transformTasks(readJson(ClickUpSchemas.rawTask,
      """{"id":"t1","name":"Task","url":"u","archived":false,"time_estimate":"14400000",
        |"status":{"status":"done","type":"closed"},
        |"space_id":"s1","space_name":"S","folder_id":"","folder_name":"",
        |"list_id":"l1","list_name":"L"}""".stripMargin.replaceAll("\n", ""),
      """{"id":"t2","name":"NoEst","time_estimate":"0",
        |"status":{"status":"open","type":"open"},
        |"space_id":"s1","space_name":"S","folder_id":"","folder_name":"",
        |"list_id":"l1","list_name":"L"}""".stripMargin.replaceAll("\n", "")))
    assert(out.columns.toSeq == ClickUpSchemas.dimTasks.fieldNames.toSeq)
    val t1 = out.filter($"task_id" === "t1").collect()(0)
    assert(t1.getAs[Double]("time_estimate_hrs") == 4.0)
    assert(t1.getAs[Boolean]("closed"))
    assert(!t1.getAs[Boolean]("archived"))
    val t2 = out.filter($"task_id" === "t2").collect()(0)
    assert(t2.getAs[Any]("time_estimate_hrs") == null) // `if time_estimate:` → 0 is falsy
    assert(!t2.getAs[Boolean]("closed"))
  }

  private val accountTask =
    """{"id":"acc1","name":"Acme","status":{"status":"active","type":"open"},
      |"date_created":"1704067200000",
      |"assignees":[{"username":"jane"},{"username":"ola"}],
      |"custom_fields":[
      | {"id":"00aeeab8-926e-4c46-8299-99f973287b6e","value":"901501, 901502, "},
      | {"id":"2617cb32-785f-48ba-974a-1468c66e9166","value":"25"},
      | {"id":"93ed8859-06ad-4909-938c-70b6f4c8352a","value":"120000"}]}
      |""".stripMargin.replaceAll("\n", "")

  private val emptyConnAccount =
    """{"id":"acc2","name":"NoConn","status":{"status":"active","type":"open"},
      |"custom_fields":[{"id":"2617cb32-785f-48ba-974a-1468c66e9166","value":"bogus"}]}
      |""".stripMargin.replaceAll("\n", "")

  test("S4/E1 accounts: one row per connected list, [''] sentinel, coercion defaults (ref :528-617)") {
    val out = Pipelines.transformAccounts(
      readJson(ClickUpSchemas.rawTask, accountTask, emptyConnAccount))
    assert(out.columns.toSeq == ClickUpSchemas.dimAccounts.fieldNames.toSeq)
    val acme = out.filter($"account_task_id" === "acc1")
      .orderBy("connected_list_id").collect()
    assert(acme.map(_.getAs[String]("connected_list_id")).toSeq == Seq("901501", "901502"))
    assert(acme(0).getAs[Double]("hours_discount") == 25.0)
    assert(acme(0).getAs[Double]("arr") == 120000.0)
    assert(acme(0).getAs[String]("assignees") == "jane, ola")
    assert(acme(0).getAs[java.sql.Timestamp]("date_created").toString == "2024-01-01 00:00:00.0")
    // empty connected value → exactly one sentinel row; float('bogus') → 0.0
    val noConn = out.filter($"account_task_id" === "acc2").collect()
    assert(noConn.length == 1)
    assert(noConn(0).getAs[String]("connected_list_id") == "")
    assert(noConn(0).getAs[Double]("hours_discount") == 0.0)
    assert(noConn(0).getAs[Any]("arr") == null)
  }

  test("S5 apps: custom_item_id filter, relationship join, checkbox (ref :689-769)") {
    val app =
      """{"id":"app1","name":"Portal","custom_item_id":1005,
        |"status":{"status":"live","type":"open"},
        |"custom_fields":[
        | {"id":"93ed8859-06ad-4909-938c-70b6f4c8352a","value":"50000"},
        | {"id":"203398a3-0a22-47b2-9ab9-8b838032f58e","value":"1717426800000"},
        | {"id":"1a9472e3-46e0-4cd3-88c5-587efaab0320","value":"true"},
        | {"id":"9ac424ac-f78f-47ab-89c0-9b5540fee5c5","value_rel":[{"id":"acc1"},{"id":"acc2"}]}]}
        |""".stripMargin.replaceAll("\n", "")
    val notApp = """{"id":"t9","name":"Regular","custom_item_id":7}"""
    val out = Pipelines.transformApps(readJson(ClickUpSchemas.rawTask, app, notApp))
    assert(out.columns.toSeq == ClickUpSchemas.dimApps.fieldNames.toSeq)
    val r = out.collect()
    assert(r.length == 1) // F1: custom_item_id == 1005 only
    assert(r(0).getAs[String]("account_task_ids") == "acc1, acc2")
    assert(r(0).getAs[Double]("arr") == 50000.0)
    assert(r(0).getAs[Boolean]("maintenance"))
    assert(r(0).getAs[java.sql.Timestamp]("last_updated").toString == "2024-06-03 15:00:00.0")
  }
}
