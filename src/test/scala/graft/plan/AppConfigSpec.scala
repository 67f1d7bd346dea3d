package graft.plan

import graft.SparkSuite
import org.apache.spark.sql.functions._

/** application.conf surface (reference `core/config/ConfigParser.scala`):
  * HOCON-subset parsing with env substitution, flags/folders/runtime
  * accessors, named connections by format, and the connection→step option
  * merge through the legacy plan path.
  */
class AppConfigSpec extends SparkSuite {
  private val s = graft.SharedSpark.spark

  /** In-repo fixtures under `appconfig/` use the same HOCON constructs as
    * the reference's shipped confs; the reference checkout's own files are
    * extra cases, canceled when the checkout is not present (the same guard
    * as the other reference-fixture specs). */
  private def fixture(name: String): String = {
    val src = scala.io.Source.fromResource(s"appconfig/$name")
    try src.mkString finally src.close()
  }

  private def reference(rel: String): String = {
    val root = java.nio.file.Paths.get("/root/reference")
    assume(java.nio.file.Files.isDirectory(root), "reference checkout not present")
    java.nio.file.Files.readString(root.resolve(rel))
  }

  private def assertShipped(app: String, mysqlConf: String): Unit = {
    val shipped = AppConfig.parse(app, env = _ => None)
    assert(shipped.flags("enableCount") && !shipped.flags("enableRecordTracking"))
    assert(shipped.folders("planFilePath").endsWith("customer-create-plan.yaml"))
    assert(shipped.master.contains("local[*]"))
    // quoted runtime.config keys keep their dots; trailing commas tolerated
    assert(shipped.runtimeConfig("spark.driver.memory") == "6g")
    assert(shipped.runtimeConfig("spark.sql.shuffle.partitions") == "10")

    val mysql = AppConfig.parse(mysqlConf, env = _ => None)
    val conn = mysql.connections("mysql")
    assert(conn("format") == "jdbc", conn.toString)
    assert(conn("url") == "jdbc:mysql://localhost:3306/customer")
    assert(conn("driver") == "com.mysql.cj.jdbc.Driver")
  }

  test("shipped-layout application.confs parse: flags, folders, runtime, connections") {
    assertShipped(fixture("application.conf"), fixture("mysql.conf"))
  }

  test("the reference's SHIPPED application.confs parse (reference checkout)") {
    assertShipped(reference("app/src/main/resources/application.conf"),
      reference("app/src/test/resources/sample/conf/mysql.conf"))
  }

  test("env substitution: ${?X} applies only when set, ${X} is mandatory") {
    val text =
      """folders {
        |  planFilePath = "/default/plan.yaml"
        |  planFilePath = ${?PLAN_FILE_PATH}
        |}
        |""".stripMargin
    assert(AppConfig.parse(text, env = _ => None)
      .folders("planFilePath") == "/default/plan.yaml")
    assert(AppConfig.parse(text, env = k => Option.when(k == "PLAN_FILE_PATH")("/env/p.yaml"))
      .folders("planFilePath") == "/env/p.yaml")
    intercept[IllegalArgumentException] {
      AppConfig.parse("a = ${MISSING_MANDATORY}\n", env = _ => None)
    }
  }

  test("named connection supplies a step's format + path; step options win") {
    val dir = java.nio.file.Files.createTempDirectory("appconf").toString
    val conf = AppConfig.parse(
      s"""csv {
         |  customer_files {
         |    path = "$dir/out"
         |    header = "true"
         |  }
         |}
         |""".stripMargin, env = _ => None)
    val planYaml =
      """name: "p"
        |tasks:
        |  - name: "t1"
        |    dataSourceName: "customer_files"
        |""".stripMargin
    // the step declares NO type and NO path — both come from the connection
    val taskYaml =
      """name: "t1"
        |steps:
        |  - name: "accounts"
        |    count: {records: 8}
        |    fields:
        |      - name: "account_id"
        |        options: {regex: "ACC[0-9]{4}"}
        |""".stripMargin
    val spec = LegacyPlan.parsePlan(planYaml, Map("t1" -> taskYaml), conf.connections)
    val sink = spec.tasks.head.sink.get
    assert(sink.format == "csv" && sink.path == s"$dir/out")
    assert(sink.options("header") == "true")
    MultiPlanRunner.run(s, spec)
    val back = s.read.option("header", "true").csv(s"$dir/out")
    assert(back.count() == 8)
    assert(back.columns.sameElements(Array("account_id")))
  }

  private def assertEmptyConnections(dockerConf: String): Unit = {
    // the reference's docker conf declares EMPTY connections (`csv { csv { } }`)
    // — they still register with their format (ConfigParser.scala:70-78)
    val docker = AppConfig.parse(dockerConf, env = _ => None)
    assert(docker.connections.contains("csv") || docker.connections.contains("json")
      || docker.connections.nonEmpty, docker.connections.keySet.toString)
  }

  test("parser edges: empty connections, dotted block keys, dotted option keys") {
    assertEmptyConnections(fixture("docker-application.conf"))
    assert(AppConfig.parse(fixture("docker-application.conf"), env = _ => None).connections ==
      Map("csv" -> Map("format" -> "csv"), "json" -> Map("format" -> "json")))
    val conf = AppConfig.parse(
      """csv {
        |  files {
        |  }
        |}
        |a.b {
        |  x = "1"
        |}
        |flags {
        |  enableCount = true
        |}
        |kafka {
        |  mk {
        |    kafka.bootstrap.servers = "host:9092"
        |  }
        |}
        |""".stripMargin, env = _ => None)
    assert(conf.connections("files") == Map("format" -> "csv"))
    // dotted block key pushes two segments and '}' pops both
    assert(conf.get("a", "b", "x").contains("1"))
    assert(conf.flags("enableCount"))
    // dotted leaf keys inside a connection flatten like the reference's
    // entrySet (one dotted option key)
    assert(conf.connections("mk")("kafka.bootstrap.servers") == "host:9092")
  }

  test("parser edges: the reference's docker conf registers its empty connections (reference checkout)") {
    assertEmptyConnections(reference("example/docker/data/custom/application.conf"))
  }

  test("enableGenerateData=false skips generation, validations still run") {
    val dir = java.nio.file.Files.createTempDirectory("noGen").toString
    val planYaml =
      """name: "p"
        |tasks:
        |  - name: "t1"
        |    dataSourceName: "csvc"
        |""".stripMargin
    val taskYaml =
      s"""name: "t1"
         |steps:
         |  - name: "accounts"
         |    type: "csv"
         |    count: {records: 4}
         |    options: {path: "$dir/out"}
         |    fields:
         |      - name: "account_id"
         |        options: {regex: "ACC[0-9]{4}"}
         |""".stripMargin
    val o = MultiPlanRunner.run(s, Plans.parse(planYaml, Some(TaskFolders(
      { val d = java.nio.file.Files.createTempDirectory("tasks")
        java.nio.file.Files.writeString(d.resolve("t1.yaml"), taskYaml); d.toString },
      validationFolder = None, generate = false))))
    assert(o.insertOrder.isEmpty && o.counts.isEmpty)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$dir/out")),
      "no sink written when generation disabled")
  }
}
