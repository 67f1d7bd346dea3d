package graft

import java.nio.file.{Files, Path}

/** `graft.Main.run` on one fixture per plan dialect: each invocation parses
  * once through the front door and runs once through `MultiPlanRunner`. */
class MainSpec extends SparkSuite {
  import graft.SharedSpark.spark.implicits._

  private def write(dir: Path, name: String, text: String): String =
    Files.writeString(dir.resolve(name), text).toString

  private def run(args: String*) = Main.run(spark, args.toArray).get

  test("--plan: a filter plan reads, annotates, scrubs and writes its source") {
    val dir = Files.createTempDirectory("graft_main_filter")
    val in = dir.resolve("in").toString
    Seq((1L, "write to me at someone@example.com today"), (2L, "no"), (3L, "a fine caption"))
      .toDF("id", "text").write.parquet(in)
    val plan = write(dir, "plan.json",
      s"""{"name": "main_filter", "source": {"path": "$in"},
         | "rules": [{"name": "long_enough", "expr": "length(text) >= 10"}],
         | "scrubFields": ["text"], "keepOnly": true, "sink": {"path": "$dir/out"}}""".stripMargin)
    val o = run("--plan", plan)
    assert(o.insertOrder == Seq("main_filter"))
    assert(o.rowsRead("main_filter") == 3 && o.counts("main_filter") == 2)
    assert(o.validations("main_filter").map(r => (r.rule, r.total, r.errors)) ==
      Seq(("long_enough", 3L, 1L)))
    val written = spark.read.parquet(s"$dir/out")
    assert(written.count() == 2 && written.where($"text".contains("[EMAIL]")).count() == 1)
  }

  test("--plan: a multi-task plan generates its FK graph and validates") {
    val dir = Files.createTempDirectory("graft_main_multi")
    val plan = write(dir, "plan.yaml",
      s"""name: main_multi
         |tasks:
         |  - name: parents
         |    count: 40
         |    fields: [{name: pk, type: sequential, prefix: P, pad: 4}]
         |    sink: {path: "$dir/parents"}
         |  - name: children
         |    count: 1
         |    fields: [{name: ck, type: sequential, prefix: C, pad: 5}, {name: pk, type: alphanum}]
         |    sink: {path: "$dir/children"}
         |relationships:
         |  - {from: children.pk, to: parents.pk, ratio: 2}
         |validations:
         |  - {dataset: children, rules: [{name: has_parent, expr: "pk IS NOT NULL"}]}
         |""".stripMargin)
    val o = run("--plan", plan)
    assert(o.success && o.insertOrder == Seq("parents", "children"))
    assert(o.counts == Map("parents" -> 40L, "children" -> 80L))
    assert(o.validations("children").map(_.total) == Seq(80L))
    assert(spark.read.parquet(s"$dir/children").count() == 80)
  }

  test("--plan: a unified config generates, sinks and validates its steps") {
    val dir = Files.createTempDirectory("graft_main_unified")
    val plan = write(dir, "unified.yaml",
      s"""version: "1.0"
         |name: "main_unified"
         |dataSources:
         |  - name: "files"
         |    connection: {type: "json", options: {path: "$dir/accounts"}}
         |    steps:
         |      - name: "accounts"
         |        count: {records: 25}
         |        fields:
         |          - {name: "account_id", options: {regex: "ACC[0-9]{6}"}}
         |          - {name: "status", options: {oneOf: ["open", "closed"]}}
         |        validations:
         |          - field: "status"
         |            validation:
         |              - {type: "in", values: ["open", "closed"]}
         |          - names: ["account_id", "status"]
         |""".stripMargin)
    val o = run("--plan", plan)
    assert(o.success && o.counts("accounts") == 25L)
    assert(o.validations("accounts").size == 2)
    assert(spark.read.json(s"$dir/accounts").count() == 25)
  }

  test("--legacy: the reference's plan, task and validation folders, Spark 3.5 semantics") {
    val dir = Files.createTempDirectory("graft_main_legacy")
    val tasks = Files.createDirectory(dir.resolve("task"))
    val checks = Files.createDirectory(dir.resolve("validation"))
    val plan = write(dir, "plan.yaml",
      """name: "main_legacy"
        |tasks:
        |  - name: "account_task"
        |    dataSourceName: "files"
        |validations:
        |  - "account_checks"
        |""".stripMargin)
    write(tasks, "accounts.yaml",
      s"""name: "account_task"
         |steps:
         |  - name: "accounts"
         |    type: "parquet"
         |    count: {records: 30}
         |    options: {path: "$dir/accounts"}
         |    fields:
         |      - {name: "account_id", options: {regex: "ACC[0-9]{5}"}}
         |      - {name: "balance", type: "double", options: {min: 0, max: 10}}
         |      - {name: "legacy_cast", type: "integer", options: {sql: "CAST('x' AS INT)"}}
         |""".stripMargin)
    write(checks, "checks.yaml",
      s"""name: "account_checks"
         |dataSources:
         |  parquet:
         |    - options: {path: "$dir/accounts"}
         |      validations:
         |        - field: balance
         |          validation:
         |            - {type: between, min: 0, max: 10}
         |""".stripMargin)
    val ansi = spark.conf.get("spark.sql.ansi.enabled")
    val o = run("--legacy", plan, tasks.toString, checks.toString)
    assert(o.success && o.counts("accounts") == 30L)
    assert(o.validations("parquet").map(_.total) == Seq(30L))
    // the reference's Spark 3.5 semantics: a lossy cast reads NULL instead
    // of failing the write, and the session's own setting comes back
    assert(spark.read.parquet(s"$dir/accounts").where($"legacy_cast".isNotNull).isEmpty)
    assert(spark.conf.get("spark.sql.ansi.enabled") == ansi)
  }

  test("positional args run the bucketed filter job: no plan outcome") {
    val dir = Files.createTempDirectory("graft_main_job")
    val in = dir.resolve("in").toString
    graft.corpus.SyntheticImages.generate(spark, 200L, seed = 4L, partitions = 2)
      .write.parquet(in)
    assert(Main.run(spark, Array(in, dir.resolve("out").toString, "2", "r1")).isEmpty)
    assert(Files.exists(dir.resolve("out").resolve("_report_r1.json")))
  }
}
