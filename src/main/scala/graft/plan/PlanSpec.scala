package graft.plan

import graft.functions.Scrubber
import graft.pipeline.QualityFilter
import graft.rules.{Rule, RuleEngine, WaitCondition}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The single-step filter plan — the reference's whole entry experience
  * is a builder/YAML plan compiled to case classes and executed by a
  * processor (`api/.../PlanRun.scala`, `core/parser/PlanParser.scala:1-329`,
  * `core/plan/PlanProcessor.scala:25-129`, `TaskBuilder.scala` ~2.4k LoC).
  * This is the same shape at 1/50th the size: source + rules + thresholds +
  * scrub + sink as plain data, parseable from JSON or YAML, lowered to one
  * source task ([[SourceStep]]) whose annotation, scrub, sink write and rule
  * counts share ONE pass (the reference runs one job per validation; see
  * [[graft.rules.RuleEngine]]).
  */
final case class PlanSpec(
    name: String,
    source: SourceSpec,
    rules: Seq[RuleSpec] = Nil,
    /** Run the full image+caption quality-filter pipeline (langid +
      * perplexity + heuristic rules + scrub) before any extra `rules`. */
    qualityFilter: Boolean = false,
    /** String columns to PII/toxicity-scrub in place. */
    scrubFields: Seq[String] = Nil,
    /** Per-rule error threshold: <1 = fraction of rows, >=1 = absolute. */
    errorThreshold: Double = 0.0,
    /** Offending-row samples collected per failed rule. */
    numErrorSamples: Int = 5,
    /** Write only keep==true rows to the sink. */
    keepOnly: Boolean = false,
    sink: Option[SinkSpec] = None,
    /** Gate held before the plan executes (reference: `waitCondition` on
      * `YamlDataSourceValidation`, `ValidationModels.scala:360-401`). On
      * exhausted retries the plan still runs — reference semantics — but
      * the outcome records `waits(name) = false`. */
    waitFor: Option[WaitSpec] = None) {

  /** One source task; the rules are its validation. */
  def lower: MultiPlanSpec = MultiPlanSpec(name,
    tasks = Seq(TaskDef(name, 0L, Nil, sink, read = Some(SourceStep(source, qualityFilter,
      scrubFields, keepOnly, waitFor.map(w => WaitCondition.fromSpec(w.typ, w.path, w.expr,
        w.url, w.format, w.pauseMs, w.maxRetries, w.retryIntervalMs)))))),
    validations = if (rules.isEmpty) Nil else Seq(ValidationDef(name, rules, errorThreshold)),
    runtime = PlanRuntime(numErrorSamples = numErrorSamples))
}

object PlanSpec {
  def parse(text: String): PlanSpec = parse(graft.util.Jsons.parse(text))

  def parse(doc: org.json4s.JValue): PlanSpec = {
    implicit val formats: org.json4s.Formats = org.json4s.DefaultFormats
    doc.extract[PlanSpec]
  }
}

/** A task that reads `source` instead of generating — the filter plan as
  * a task kind: `gate` is held before the read (reading first would race
  * the upstream writer), then the quality filter and the task's rules
  * annotate keep/drop_reason ([[annotate]]), and the sink writes the
  * scrubbed, kept-only rows above that frame ([[shape]]). */
final case class SourceStep(
    source: SourceSpec,
    qualityFilter: Boolean = false,
    scrubFields: Seq[String] = Nil,
    keepOnly: Boolean = false,
    gate: Option[WaitCondition] = None,
    /** Read at most this many rows (a preview's bound). */
    limit: Option[Int] = None) {

  def read(spark: SparkSession): DataFrame = {
    val df = source.format match {
      case "table" => spark.read.table(source.path)
      case fmt => spark.read.format(fmt).load(source.path)
    }
    limit.fold(df)(df.limit)
  }

  private def hasKeep(rules: Seq[Rule]): Boolean = qualityFilter || rules.nonEmpty

  /** The quality filter and `rules` in one projection; pipeline reasons
    * take precedence. */
  def annotate(spark: SparkSession, rules: Seq[Rule]): DataFrame = {
    val base = if (qualityFilter) QualityFilter.runDF(spark, read(spark)) else read(spark)
    if (rules.isEmpty) base
    else if (qualityFilter)
      base
        .withColumn(RuleEngine.DropReasonCol,
          coalesce(col(RuleEngine.DropReasonCol), RuleEngine.dropReason(rules)))
        .withColumn(RuleEngine.KeepCol, col(RuleEngine.DropReasonCol).isNull)
    else RuleEngine.annotate(base, rules)
  }

  /** Rows read and rows kept, over the annotated frame. */
  def readAndKept(rules: Seq[Rule]): Seq[Column] =
    Seq(count(lit(1)), if (hasKeep(rules)) count_if(col(RuleEngine.KeepCol)) else count(lit(1)))

  /** Scrub, then keepOnly. */
  def shape(rules: Seq[Rule])(df: DataFrame): DataFrame = {
    val scrubbed = scrubFields.foldLeft(df)((d, f) => d.withColumn(f, Scrubber.scrub(col(f))))
    if (keepOnly && hasKeep(rules)) scrubbed.where(col(RuleEngine.KeepCol)) else scrubbed
  }
}

/** Where to read: `format` ∈ parquet|csv|json|orc, or `table` (catalog name
  * in `path` — the Iceberg deployment path, `spark.read.table`). */
final case class SourceSpec(format: String = "parquet", path: String)

final case class SinkSpec(
    format: String = "parquet",
    path: String,
    mode: String = "overwrite",
    partitionBy: Seq[String] = Nil,
    /** Writer options (e.g. xml's required `rowTag`). */
    options: Map[String, String] = Map.empty)

/** Wait-gate IR: `typ` ∈ pause|fileExists|dataExists|webhook; the other
  * fields are per-type (pause→pauseMs; fileExists→path; dataExists→
  * format+path+expr; webhook→url). Compiled by
  * [[graft.rules.WaitCondition.fromSpec]].
  */
final case class WaitSpec(
    typ: String,
    path: String = "",
    expr: String = "true",
    url: String = "",
    format: String = "parquet",
    pauseMs: Long = 0L,
    maxRetries: Int = 10,
    retryIntervalMs: Long = 2000L)

/** A named SQL boolean over the source columns (true = row passes) — the
  * expr escape hatch covers the whole per-row vocabulary. */
final case class RuleSpec(name: String, expr: String)
