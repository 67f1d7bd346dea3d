package graft.rules

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

/** Evaluates a rule set over a DataFrame in a single projection.
  *
  * The reference runs one Spark action per rule
  * (`core/validator/ValidationOperations.scala:36-60`:
  * `errors = df.where(!(expr)).count()`), which means N full scans for N
  * rules. At 100 TB that is untenable. Here all rules become ONE `select`:
  *
  *   drop_reason = coalesce(when(!r1, "r1"), when(!r2, "r2"), ...)
  *   keep        = drop_reason IS NULL
  *
  * so the whole rule set costs one pass, stays inside WholeStageCodegen, and
  * the first-failing-rule name doubles as the drop reason (the reference
  * reports per-rule error counts; we recover those from a groupBy on
  * drop_reason or the observe() metrics, both cheap).
  *
  * Per-rule counts come from one aggregate list, [[countAggs]], folded by
  * [[foldCounts]]. [[validateAll]] runs it as its own job. A plan dataset
  * that is written to a sink gets it attached to the write with
  * `Dataset.observe` instead ([[graft.plan.Sinks.ObservedWrite]]), so its
  * rules are counted in the pass that writes it. That falls back to one
  * separate aggregate job over the same frame when the dataset has no
  * sink, or when the sink's mode is `ignore` and its target already exists
  * (that write skips its plan). Failed rules then take their samples with
  * [[withSamples]], one `limit(n)` job each, on either path.
  */
object RuleEngine {

  val DropReasonCol = "drop_reason"
  val KeepCol = "keep"

  /** First-failing-rule name, NULL if all pass. Rules are checked in the
    * given (canonical) order — order is part of the contract because the
    * oracle must agree on which rule "fired first".
    */
  def dropReason(rules: Seq[Rule]): Column = {
    require(rules.nonEmpty, "empty rule set")
    coalesce(rules.map(r => when(!r.strict, lit(r.name))): _*)
  }

  /** Annotates `df` with `drop_reason` (string, null = pass) and `keep`
    * (boolean) columns. Pure projection: no shuffle, no action.
    */
  def annotate(df: DataFrame, rules: Seq[Rule]): DataFrame = {
    val reason = dropReason(rules)
    df.withColumn(DropReasonCol, reason)
      .withColumn(KeepCol, col(DropReasonCol).isNull)
  }

  /** Reference-style single-rule validation: (errorCount, totalCount,
    * success-under-threshold). `threshold` < 1 is a fraction of rows,
    * >= 1 an absolute count — same contract as the reference
    * (`ValidationOperations.scala:44-51`). One job, map-side aggregated.
    */
  def validate(df: DataFrame, rule: Rule, threshold: Double = 0.0): RuleResult =
    validateAll(df, Seq(rule), threshold).head

  /** `threshold` < 1 is a fraction of rows, >= 1 an absolute error count —
    * the reference's errorThreshold contract
    * (`ValidationOperations.scala:44-51`). */
  private def underThreshold(errors: Long, total: Long, threshold: Double): Boolean =
    if (threshold >= 1) errors <= threshold
    else total == 0 || errors.toDouble / total <= threshold

  /** THE aggregate list every rule evaluation runs: the row count, then one
    * `count_if(!rule)` per rule, in rule order. [[validateAll]] runs it as
    * its own job; a caller that already runs a pass over the frame (a sink
    * write) can attach it with `Dataset.observe` instead and fold the
    * observed row with [[foldCounts]] — same counts, no second pass.
    * Aliases are positional, so two rules sharing a name stay distinct.
    */
  def countAggs(rules: Seq[Rule]): Seq[Column] = {
    require(rules.nonEmpty, "empty rule set")
    count(lit(1)).as("total") +:
      rules.zipWithIndex.map { case (r, i) => count_if(!r.strict).as(s"err_$i") }
  }

  /** Folds a [[countAggs]] row into per-rule results. A rule's own
    * `threshold` (reference per-validation errorThreshold) overrides the
    * call-level default. */
  def foldCounts(row: Row, rules: Seq[Rule], threshold: Double = 0.0): Seq[RuleResult] = {
    val total = row.getLong(0)
    rules.zipWithIndex.map { case (r, i) =>
      val errors = row.getLong(i + 1)
      RuleResult(r.name, total, errors,
        underThreshold(errors, total, r.threshold.getOrElse(threshold)))
    }
  }

  /** All-rule error counts in ONE pass (vs the reference's N passes): the
    * [[countAggs]] aggregate as one job — still one pass for
    * mixed-tolerance sets.
    */
  def validateAll(df: DataFrame, rules: Seq[Rule], threshold: Double = 0.0): Seq[RuleResult] = {
    val aggs = countAggs(rules)
    foldCounts(df.agg(aggs.head, aggs.tail: _*).head(), rules, threshold)
  }

  /** Up to `n` offending rows for a rule, nested structs flattened to dotted
    * top-level columns — the reference returns sample error rows per failed
    * validation with nested-row flattening
    * (`core/validator/ValidationOperations.scala:52-77`, `parseValueMap`).
    * In-plan flatten + limit: the sample job reads only what `limit(n)`
    * needs, no full-result collect.
    */
  def errorSamples(df: DataFrame, rule: Rule, n: Int): DataFrame =
    flattenStructs(df.where(!rule.strict).limit(n))

  /** Recursively expands struct fields to dotted top-level columns
    * (`address.city`). Arrays are kept as-is (an array<struct> has no flat
    * representation; the reference renders those as nested maps driver-side).
    */
  def flattenStructs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.{DataType, StructType}
    def expand(c: Column, dt: DataType, name: String): Seq[Column] = dt match {
      case s: StructType =>
        s.fields.toSeq.flatMap(f => expand(c.getField(f.name), f.dataType, s"$name.${f.name}"))
      case _ => Seq(c.as(name))
    }
    val cols = df.schema.fields.toSeq.flatMap(f => expand(col(s"`${f.name}`"), f.dataType, f.name))
    df.select(cols: _*)
  }

  /** [[validateAll]] plus up to `numSamples` flattened offending rows per
    * FAILED rule (passing rules sample nothing — same contract as the
    * reference, which only materializes samples on failure). Counts cost one
    * pass; each failed rule costs one additional `limit(n)` job.
    */
  def validateAllWithSamples(
      df: DataFrame,
      rules: Seq[Rule],
      threshold: Double = 0.0,
      numSamples: Int = 5): Seq[RuleResult] =
    withSamples(df, rules, validateAll(df, rules, threshold), numSamples)

  /** Adds up to `numSamples` offending rows of `df` to each failed result —
    * one `limit(n)` job per failed rule. `results` pair with `rules`
    * POSITIONALLY (as [[foldCounts]] returns them): a by-name lookup would
    * sample the wrong predicate when two rules share a name (importers can
    * produce that).
    */
  def withSamples(df: DataFrame, rules: Seq[Rule], results: Seq[RuleResult],
      numSamples: Int): Seq[RuleResult] =
    results.zip(rules).map { case (r, rule) =>
      if (r.success || numSamples <= 0) r
      else {
        val sampleDf = errorSamples(df, rule, numSamples)
        val names = sampleDf.columns
        r.copy(samples = sampleDf.collect().toSeq.map(_.getValuesMap[Any](names)))
      }
    }
}

final case class RuleResult(
    rule: String,
    total: Long,
    errors: Long,
    success: Boolean,
    samples: Seq[Map[String, Any]] = Nil)
