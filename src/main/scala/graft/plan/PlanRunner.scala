package graft.plan

import graft.functions.Scrubber
import graft.pipeline.QualityFilter
import graft.rules.{Rule, RuleEngine, RuleResult}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Executes a [[PlanSpec]]: read → (quality filter) → rules → scrub → sink,
  * with a validation report. The execution counterpart of the reference's
  * `PlanProcessor.determineAndExecutePlan` (`core/plan/PlanProcessor.scala:
  * 25-129`) — but the whole row-level stage is ONE declarative Spark plan:
  * annotation, scrubbing and the sink write share a single pass, and
  * rows-in/rows-out come from `observe()` on that same pass (no second scan;
  * an `ignore` sink over an existing target counts with one separate job,
  * see [[Sinks.ObservedWrite]]). Only the per-rule validation report (counts +
  * error samples) runs extra bounded jobs, and only when rules are declared.
  */
object PlanRunner {

  final case class PlanOutcome(
      plan: String,
      rowsIn: Long,
      rowsOut: Long,
      validations: Seq[RuleResult],
      output: DataFrame,
      /** None = no gate declared; Some(false) = gate exhausted its retries
        * (plan ran anyway, reference semantics — but callers can see it). */
      waitMet: Option[Boolean] = None) {
    def success: Boolean = validations.forall(_.success) && !waitMet.contains(false)
  }

  def parseJson(s: String): PlanSpec = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    implicit val formats: Formats = DefaultFormats
    JsonMethods.parse(s).extract[PlanSpec]
  }

  /** YAML → JSON via Jackson's YAML module — shared by every YAML-accepting
    * surface (plans, data contracts, REST bodies). */
  def yamlToJson(s: String): String = {
    val yaml = new com.fasterxml.jackson.dataformat.yaml.YAMLMapper()
    new com.fasterxml.jackson.databind.ObjectMapper().writeValueAsString(yaml.readTree(s))
  }

  /** YAML plans (the reference's native plan format). */
  def parseYaml(s: String): PlanSpec = parseJson(yamlToJson(s))

  private def read(spark: SparkSession, src: SourceSpec): DataFrame = src.format match {
    case "table" => spark.read.table(src.path)
    case fmt => spark.read.format(fmt).load(src.path)
  }

  def run(spark: SparkSession, plan: PlanSpec): PlanOutcome = {
    // hold at the gate (upstream file / data / endpoint) BEFORE touching the
    // source — reading first would race the upstream writer
    val waitMet = plan.waitFor.map { w =>
      graft.rules.WaitCondition
        .fromSpec(w.typ, w.path, w.expr, w.url, w.format, w.pauseMs, w.maxRetries, w.retryIntervalMs)
        .await(spark)
    }
    val df = read(spark, plan.source)
    val rules = plan.rules.map(r => Rule(r.name, expr(r.expr)))

    // annotation: quality-filter pipeline and/or declared rules, one projection
    val base = if (plan.qualityFilter) QualityFilter.runDF(spark, df) else df
    val annotated =
      if (rules.isEmpty) base
      else if (plan.qualityFilter)
        base // pipeline reasons take precedence; extra rules appended
          .withColumn(RuleEngine.DropReasonCol,
            coalesce(col(RuleEngine.DropReasonCol), RuleEngine.dropReason(rules)))
          .withColumn(RuleEngine.KeepCol, col(RuleEngine.DropReasonCol).isNull)
      else RuleEngine.annotate(base, rules)

    val scrubbed = plan.scrubFields.foldLeft(annotated) { (d, f) =>
      d.withColumn(f, Scrubber.scrub(col(f)))
    }
    val hasKeep = plan.qualityFilter || rules.nonEmpty

    // sink write doubles as the counting pass via observe(); the metrics
    // sit BELOW the keep-filter so rowsIn counts every source row
    val (rowsIn, rowsOut) = plan.sink match {
      case Some(sink) =>
        val kept = if (hasKeep) count_if(col(RuleEngine.KeepCol)) else count(lit(1))
        val keepOnly: DataFrame => DataFrame =
          if (plan.keepOnly && hasKeep) _.where(col(RuleEngine.KeepCol)) else identity
        val row = new Sinks.ObservedWrite(scrubbed, Some(sink), Seq(count(lit(1)), kept), keepOnly)
          .run()
        (row.getLong(0), row.getLong(1))
      case None => (-1L, -1L)
    }

    // validate against the SAME frame the rules were annotated over (`base`,
    // i.e. post-quality-filter when enabled): a rule referencing a
    // pipeline-derived column (lang/ppl/keep) would otherwise annotate and
    // write the sink fine, then blow up here with AnalysisException AFTER
    // output was already written
    val validations =
      if (rules.isEmpty) Nil
      else RuleEngine.validateAllWithSamples(base, rules, plan.errorThreshold, plan.numErrorSamples)

    PlanOutcome(plan.name, rowsIn, rowsOut, validations, scrubbed, waitMet)
  }
}
