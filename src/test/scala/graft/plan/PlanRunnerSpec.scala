package graft.plan

import graft.SparkSuite
import org.apache.spark.sql.functions._
import java.nio.file.Files

class PlanRunnerSpec extends SparkSuite {
  import graft.SharedSpark.spark.implicits._

  private def writeInput(): String = {
    val dir = Files.createTempDirectory("graft_plan_in").toString
    Seq(
      (1L, "a fine caption with enough words here ok", 30),
      (2L, "short", 17),
      (3L, "contact me at foo@example.com for details today", 45),
      (4L, "another acceptable caption with many words", 200),
    ).toDF("id", "text", "age").write.mode("overwrite").parquet(dir)
    dir
  }

  test("e2e: JSON string → plan → rules + scrub + sink + report") {
    val in = writeInput()
    val out = Files.createTempDirectory("graft_plan_out").toString + "/result"
    val json =
      s"""{
         |  "name": "doc_quality",
         |  "source": {"path": "$in"},
         |  "rules": [
         |    {"name": "text_long_enough", "expr": "length(text) >= 10"},
         |    {"name": "age_valid", "expr": "age BETWEEN 0 AND 120"}
         |  ],
         |  "scrubFields": ["text"],
         |  "errorThreshold": 0.0,
         |  "numErrorSamples": 3,
         |  "keepOnly": true,
         |  "sink": {"path": "$out"}
         |}""".stripMargin
    val plan = PlanRunner.parseJson(json)
    assert(plan.name == "doc_quality" && plan.rules.size == 2 && plan.keepOnly)
    assert(plan.source.format == "parquet") // default applied

    val outcome = PlanRunner.run(spark, plan)
    assert(outcome.rowsIn == 4 && outcome.rowsOut == 2)
    assert(!outcome.success) // both rules have violations
    val v = outcome.validations.map(r => r.rule -> r).toMap
    assert(v("text_long_enough").errors == 1 && v("age_valid").errors == 1)
    assert(v("age_valid").samples.head("id") == 4L)

    val written = spark.read.parquet(out)
    assert(written.count() == 2)
    assert(written.where(col("id") === 3).select("text").head().getString(0).contains("[EMAIL]"))
    assert(written.columns.contains("drop_reason"))
  }

  test("e2e: YAML plan with quality filter over the image corpus") {
    val corpus = graft.corpus.SyntheticImages.generate(spark, 500L, seed = 5L, partitions = 4)
    val in = Files.createTempDirectory("graft_plan_img").toString + "/corpus"
    corpus.write.mode("overwrite").parquet(in)
    val out = Files.createTempDirectory("graft_plan_img_out").toString + "/kept"
    val yaml =
      s"""name: image_filter
         |source:
         |  format: parquet
         |  path: $in
         |qualityFilter: true
         |keepOnly: true
         |sink:
         |  path: $out
         |  partitionBy: [lang]
         |""".stripMargin
    val plan = PlanRunner.parseYaml(yaml)
    assert(plan.qualityFilter && plan.sink.get.partitionBy == Seq("lang"))
    val outcome = PlanRunner.run(spark, plan)
    assert(outcome.rowsIn == 500)
    assert(outcome.rowsOut > 0 && outcome.rowsOut < 500)
    val written = spark.read.parquet(out)
    assert(written.count() == outcome.rowsOut)
    assert(written.where(!col("keep")).count() == 0)
  }

  test("plan without sink or rules still runs (pure annotation)") {
    val in = writeInput()
    val plan = PlanRunner.parseJson(s"""{"name": "noop", "source": {"path": "$in"}}""")
    val outcome = PlanRunner.run(spark, plan)
    assert(outcome.rowsIn == -1 && outcome.validations.isEmpty)
    assert(outcome.output.count() == 4)
  }

  test("sink conveniences: single-FILE paths and the partitions option") {
    // reference BatchSinkWriter + FileConsolidator: a path ending in a file
    // extension means ONE real file there, not a Spark part-file directory;
    // options.partitions repartitions to exactly N output files
    val root = java.nio.file.Files.createTempDirectory("graft_sinks").toString
    val df = spark.range(100).selectExpr("id", "concat('v', id) as v")

    Sinks.write(df, SinkSpec(format = "csv", path = s"$root/data.csv",
      options = Map("header" -> "true")))
    val f = new java.io.File(s"$root/data.csv")
    assert(f.isFile, "expected a single real file, not a directory")
    assert(spark.read.option("header", "true").csv(f.toString).count() == 100)
    // overwrite replaces the single file wholly
    Sinks.write(df.limit(7), SinkSpec(format = "csv", path = s"$root/data.csv",
      options = Map("header" -> "true")))
    assert(spark.read.option("header", "true").csv(f.toString).count() == 7)
    assert(!new java.io.File(s"$root/data.csv.spark-tmp").exists())

    Sinks.write(df, SinkSpec(path = s"$root/parts", options = Map("partitions" -> "4")))
    val parts = new java.io.File(s"$root/parts").listFiles()
      .count(_.getName.startsWith("part-"))
    assert(parts == 4, s"expected 4 part files, got $parts")
    assert(spark.read.parquet(s"$root/parts").count() == 100)

    // partitionBy on an extension-suffixed path keeps DIRECTORY semantics
    // (pre-existing plans wrote directories there; a partitioned single
    // file is a contradiction)
    Sinks.write(df.limit(4), SinkSpec(format = "json", path = s"$root/x.json",
      partitionBy = Seq("v")))
    assert(new java.io.File(s"$root/x.json").isDirectory)
    // explicit opt-out keeps directory semantics too
    Sinks.write(df, SinkSpec(format = "json", path = s"$root/y.json",
      options = Map("singleFile" -> "false")))
    assert(new java.io.File(s"$root/y.json").isDirectory)

    // single-file SaveMode semantics: append is a loud error, ignore keeps,
    // errorifexists throws; a stale part-file DIRECTORY at the target is
    // replaced wholly by overwrite
    intercept[IllegalArgumentException](Sinks.write(df,
      SinkSpec(format = "csv", path = s"$root/data.csv", mode = "append")))
    Sinks.write(df.limit(3), SinkSpec(format = "csv", path = s"$root/data.csv",
      mode = "ignore", options = Map("header" -> "true")))
    assert(spark.read.option("header", "true").csv(s"$root/data.csv").count() == 7) // kept
    intercept[IllegalStateException](Sinks.write(df,
      SinkSpec(format = "csv", path = s"$root/data.csv", mode = "errorifexists")))
    Sinks.write(df.limit(5), SinkSpec(format = "json", path = s"$root/x.json")) // dir → file
    assert(new java.io.File(s"$root/x.json").isFile)
    assert(spark.read.json(s"$root/x.json").count() == 5)

    // a non-integer partitions value fails loudly, never a silent default
    intercept[IllegalArgumentException](Sinks.write(df,
      SinkSpec(path = s"$root/bad", options = Map("partitions" -> "four"))))

    // unwrapTopLevelArray: rows FLATTEN into one bare JSON array — a
    // multi-row frame still yields one valid JSON document
    Sinks.write(
      spark.range(2).selectExpr("array(named_struct('id', id*2), named_struct('id', id*2+1)) as items"),
      SinkSpec(format = "json", path = s"$root/arr.json",
        options = Map("unwrapTopLevelArray" -> "true")))
    val arrText = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$root/arr.json"))).trim
    assert(arrText.startsWith("[") && arrText.endsWith("]") && !arrText.contains("\n"), arrText)
    assert(arrText.count(_ == '{') == 4, arrText)

    // the legacy dialect carries options.partitions through
    val tasks = LegacyPlan.parseTaskFile(
      s"""name: t
         |steps:
         |  - name: "s1"
         |    type: "json"
         |    count: {records: 10}
         |    options: {path: "$root/legacy.json", partitions: 2}
         |    fields: [{name: v, type: integer}]
         |""".stripMargin)
    // single-file target wins over partitions (coalesce-1 consolidation)
    MultiPlanRunner.run(spark, MultiPlanSpec("sf", 1L, tasks))
    assert(new java.io.File(s"$root/legacy.json").isFile)
    assert(spark.read.json(s"$root/legacy.json").count() == 10)
  }

  test("ignore sink over an existing target counts every source row and returns") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val in = Files.createTempDirectory("graft_plan_ignore_in").toString
    spark.range(100).selectExpr("id", "id % 4 AS v").write.mode("overwrite").parquet(in)
    val root = Files.createTempDirectory("graft_plan_ignore_out").toString
    Seq(s"$root/x.parquet", s"$root/x").foreach { path =>
      val plan = PlanRunner.parseJson(
        s"""{"name": "ign", "source": {"path": "$in"},
           | "rules": [{"name": "v_small", "expr": "v < 3"}], "keepOnly": true,
           | "sink": {"path": "$path", "mode": "ignore"}}""".stripMargin)
      // the second run finds the target in place and writes nothing
      (1 to 2).foreach { i =>
        val o = Await.result(Future(PlanRunner.run(spark, plan)), 120.seconds)
        assert((o.rowsIn, o.rowsOut) == ((100L, 75L)), s"$path run $i")
      }
      assert(spark.read.parquet(path).count() == 75)
    }
  }
}
