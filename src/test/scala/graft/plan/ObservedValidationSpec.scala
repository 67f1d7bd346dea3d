package graft.plan

import graft.SparkSuite
import graft.rules.{Rule, RuleEngine, RuleResult}
import java.nio.file.{Files, Paths}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._

/** Plan validations counted inside the sink write ([[Sinks.ObservedWrite]])
  * must report exactly what [[RuleEngine.validateAllWithSamples]] reports on
  * the same frame, on the observed path and on both fallbacks (no sink, an
  * `ignore` sink). */
class ObservedValidationSpec extends SparkSuite {
  private val s = graft.SharedSpark.spark

  private def tmp(prefix: String): String = Files.createTempDirectory(prefix).toString

  /** Observed rule results, folded exactly as [[MultiPlanRunner.run]] does;
    * bounded so a write that never completes its observation fails the
    * spec instead of hanging it. */
  private def observed(df: DataFrame, sink: Option[SinkSpec], rules: Seq[Rule],
      threshold: Double, n: Int): Seq[RuleResult] = {
    val w = new Sinks.ObservedWrite(df, sink, RuleEngine.countAggs(rules))
    val row = Await.result(Future(w.run()), 120.seconds)
    RuleEngine.withSamples(df, rules, RuleEngine.foldCounts(row, rules, threshold), n)
  }

  /** `total`, `errors`, `success` and the samples themselves. */
  private def assertSame(got: Seq[RuleResult], want: Seq[RuleResult]): Unit =
    assert(got == want)

  private val frame = s.range(0, 100).select(
    col("id"), (col("id") % 10).as("v"), struct(col("id").as("k")).as("nested"))

  private val cases: Seq[(String, Seq[Rule], Double)] = Seq(
    ("all rules pass", Seq(Rule("non_negative", col("v") >= 0), Rule("small", col("v") < 10)), 0.0),
    ("a failing rule with samples", Seq(Rule("ok", col("v") >= 0), Rule("under_7", col("v") < 7)), 0.0),
    ("a per-rule threshold override",
      Seq(Rule("under_7", col("v") < 7, Some(0.35)), Rule("under_9", col("v") < 9)), 0.05),
    ("an absolute threshold >= 1",
      Seq(Rule("under_9", col("v") < 9), Rule("under_8", col("v") < 8)), 10.0))

  cases.foreach { case (name, rules, th) =>
    test(s"observed results equal validateAllWithSamples: $name") {
      val want = RuleEngine.validateAllWithSamples(frame, rules, th, 3)
      val sink = SinkSpec(path = tmp("graft_obs") + "/out")
      assertSame(observed(frame, Some(sink), rules, th, 3), want)
      assert(s.read.parquet(sink.path).count() == 100)
    }
  }

  test("observed results equal validateAllWithSamples: a dataset with no sink") {
    val rules = cases(1)._2
    assertSame(observed(frame, None, rules, 0.0, 3),
      RuleEngine.validateAllWithSamples(frame, rules, 0.0, 3))
  }

  test("observed results equal validateAllWithSamples: an ignore sink over an existing target") {
    val rules = cases(1)._2
    val want = RuleEngine.validateAllWithSamples(frame, rules, 0.0, 3)
    val dir = tmp("graft_obs_ignore")
    Seq(s"$dir/out", s"$dir/out.parquet").foreach { path =>
      // the second write finds the target in place and skips writing
      (1 to 2).foreach { _ =>
        val got = observed(frame, Some(SinkSpec(path = path, mode = "ignore")), rules, 0.0, 3)
        assert(got.forall(_.total == 100), s"$path: totals ${got.map(_.total)}")
        assertSame(got, want)
      }
    }
  }

  private def planYaml(out: String, validations: String): String =
    s"""name: observed
       |seed: 3
       |tasks:
       |  - name: parents
       |    count: 300
       |    fields:
       |      - {name: parent_id, type: sequential, prefix: P, pad: 6}
       |      - {name: age, type: int, lo: 18, hi: 90}
       |    sink: {path: "$out/parents"}
       |  - name: children
       |    count: 1
       |    fields:
       |      - {name: child_id, type: sequential, prefix: C, pad: 8}
       |      - {name: parent_id, type: alphanum}
       |      - {name: amount, type: double, lo: 1, hi: 500}
       |      - {name: qty, type: int, lo: 1, hi: 20}
       |    sink: {path: "$out/children"}
       |relationships:
       |  - {from: children.parent_id, to: parents.parent_id, ratio: 4}
       |$validations""".stripMargin

  private val twoBlocks =
    """validations:
      |  - dataset: children
      |    rules:
      |      - {name: amount_range, expr: "amount >= 1 AND amount <= 500"}
      |      - {name: qty_small, expr: "qty <= 5"}
      |  - dataset: parents
      |    rules:
      |      - {name: adult, expr: "age >= 18"}
      |  - dataset: children
      |    errorThreshold: 0.9
      |    rules:
      |      - {name: qty_positive, expr: "qty >= 1"}
      |      - {name: amount_small, expr: "amount < 100"}
      |""".stripMargin

  test("two validation blocks on one dataset: every block's rules are reported, in order") {
    val plan = MultiPlanRunner.parseYaml(planYaml(tmp("graft_obs_blocks"), twoBlocks))
    val o = MultiPlanRunner.run(s, plan)
    val children = o.validations("children")
    assert(children.map(_.rule) == Seq("amount_range", "qty_small", "qty_positive", "amount_small"))
    assert(children.forall(_.total == 1200))
    // qty_small fails under the first block's 0.0 threshold; amount_small's
    // ~80% failures sit under the second block's 0.9
    assert(children.map(_.success) == Seq(true, false, true, true))
    assert(children(1).samples.size == 5 && children(3).samples.isEmpty)
    assert(o.validations("parents").map(r => (r.rule, r.total, r.errors)) == Seq(("adult", 300L, 0L)))
    // the same results as validating each block over the returned frame
    val frame = o.frames("children")
    val blocks = plan.validations.filter(_.dataset == "children")
    assertSame(children, blocks.flatMap(b => RuleEngine.validateAllWithSamples(
      frame, b.rules.map(r => Rule(r.name, expr(r.expr))), b.errorThreshold)))
  }

  test("plan validations: no sink and an ignore sink fall back with the frame's totals") {
    val out = tmp("graft_obs_plan")
    val yaml = planYaml(out, twoBlocks)
      .replace(s"""    sink: {path: "$out/children"}\n""", "")
      .replace(s"""sink: {path: "$out/parents"}""", s"""sink: {path: "$out/parents", mode: ignore}""")
    val plan = MultiPlanRunner.parseYaml(yaml)
    (1 to 2).foreach { _ =>
      val o = Await.result(Future(MultiPlanRunner.run(s, plan)), 300.seconds)
      assert(o.validations("parents").head.total == 300)
      assert(o.validations("children").map(_.total).distinct == Seq(1200L))
    }
    assert(s.read.parquet(s"$out/parents").count() == 300)
  }

  /** Jobs launched by `body`, counted off the scheduler bus. */
  private def jobsOf(body: => Unit): Int = {
    val n = new java.util.concurrent.atomic.AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    org.apache.spark.ListenerBusDrain(s.sparkContext)
    s.sparkContext.addSparkListener(l)
    try {
      body
      org.apache.spark.ListenerBusDrain(s.sparkContext)
    } finally s.sparkContext.removeSparkListener(l)
    n.get
  }

  test("plan invariant: passing validations launch no more jobs than no validations") {
    val passing =
      """validations:
        |  - dataset: parents
        |    rules:
        |      - {name: adult, expr: "age >= 18"}
        |  - dataset: children
        |    rules:
        |      - {name: amount_range, expr: "amount >= 1 AND amount <= 500"}
        |      - {name: qty_positive, expr: "qty >= 1"}
        |""".stripMargin
    val plan = MultiPlanRunner.parseYaml(planYaml(tmp("graft_obs_jobs"), passing))
    MultiPlanRunner.run(s, plan) // warm
    var outcome: MultiPlanRunner.MultiPlanOutcome = null
    val validated = jobsOf { outcome = MultiPlanRunner.run(s, plan) }
    assert(outcome.success && outcome.validations.values.flatten.size == 3)
    val bare = jobsOf { MultiPlanRunner.run(s, plan.copy(validations = Nil)) }
    assert(validated <= bare, s"validated run launched $validated jobs, bare run $bare")
  }

  test("an ignore sink over a new target counts in the write's own pass") {
    val rules = cases.head._2
    val want = RuleEngine.validateAllWithSamples(frame, rules, 0.0, 3)
    val dir = tmp("graft_obs_ignore_new")
    Seq("out", "out.parquet").foreach { name =>
      val plain = jobsOf { Sinks.write(frame, SinkSpec(path = s"$dir/plain_$name")) }
      var got: Seq[RuleResult] = Nil
      val ignored = jobsOf {
        got = observed(frame, Some(SinkSpec(path = s"$dir/$name", mode = "ignore")), rules, 0.0, 3)
      }
      assertSame(got, want)
      assert(ignored == plain, s"$name: observed ignore write ran $ignored jobs, a plain write $plain")
      assert(s.read.parquet(s"$dir/$name").count() == 100)
    }
  }

  test("a rule that throws at run time fails its sink's write: what each target keeps") {
    val throwing =
      """validations:
        |  - dataset: parents
        |    rules:
        |      - {name: numeric_id, expr: "CAST(parent_id AS INT) > 0"}
        |""".stripMargin
    def parts(p: String): Int =
      Option(new java.io.File(p).list()).map(_.count(_.startsWith("part-"))).getOrElse(0)
    // parents: an overwrite DIRECTORY, then a single file; children: a
    // directory written after parents in insert order
    Seq("parents", "parents.parquet").foreach { parentsName =>
      val out = tmp("graft_obs_runtime")
      val old = s.range(7).toDF("old")
      Sinks.write(old, SinkSpec(path = s"$out/$parentsName"))
      Sinks.write(old, SinkSpec(path = s"$out/children"))
      val yaml = planYaml(out, throwing)
        .replace(s"""sink: {path: "$out/parents"}""", s"""sink: {path: "$out/$parentsName"}""")
      val e = intercept[Exception] { MultiPlanRunner.run(s, MultiPlanRunner.parseYaml(yaml)) }
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(_.getMessage.contains("CAST_INVALID_INPUT")), e.toString)
      if (parentsName == "parents") {
        // Spark cleared the overwrite directory before the job failed
        assert(parts(s"$out/parents") == 0)
      } else {
        // the single file is staged first, so the old one survives
        assert(s.read.parquet(s"$out/$parentsName").columns.sameElements(Array("old")))
        assert(s.read.parquet(s"$out/$parentsName").count() == 7)
      }
      // the later sink is never written: its old contents stay
      assert(s.read.parquet(s"$out/children").columns.sameElements(Array("old")))
      assert(s.read.parquet(s"$out/children").count() == 7)
    }
  }

  test("a validation that fails to resolve throws before any sink is written") {
    val out = tmp("graft_obs_unresolved")
    val bad =
      """validations:
        |  - dataset: parents
        |    rules:
        |      - {name: adult, expr: "age >= 18"}
        |  - dataset: children
        |    rules:
        |      - {name: ghost, expr: "no_such_column > 0"}
        |""".stripMargin
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      MultiPlanRunner.run(s, MultiPlanRunner.parseYaml(planYaml(out, bad)))
    }
    assert(e.getMessage.contains("no_such_column"))
    assert(!Files.exists(Paths.get(out, "parents")) && !Files.exists(Paths.get(out, "children")))
  }
}
