package graft.server

import graft.plan._
import org.apache.spark.sql.SparkSession

/** Fast sample preview — the reference's `FastSampleGenerator.scala`
  * (~494 LoC: generate a handful of records from a submitted schema/plan so
  * the UI can show what the data will look like before committing to a full
  * run). Same contract, no UI: accept every plan dialect, run a BOUNDED
  * version of it (counts clamped, sinks, gates and run side effects
  * stripped, source reads limited), return sample rows as JSON.
  *
  * Bounding is structural, not post-hoc: a preview of a billion-row plan
  * generates `sampleN` rows per task — it never generates-then-limits. For
  * filter plans the source read is `limit(sampleN * 10)` BEFORE the
  * pipeline, so preview cost is independent of source size.
  */
object Preview {

  final case class Sample(dataset: String, rows: Seq[String])

  /** Samples of every task of a plan in any dialect ([[Plans.parse]]). */
  def preview(spark: SparkSession, body: String, sampleN: Int = 10): Seq[Sample] = {
    val plan = Plans.parse(body)
    val bounded = plan.copy(
      // a source task reads a LIMITED source: annotation must not scan the world
      tasks = plan.tasks.map(t => t.copy(count = math.min(t.count, sampleN.toLong), sink = None,
        read = t.read.map(_.copy(gate = None, limit = Some(sampleN * 10))))),
      // cardinality ratios would re-inflate the clamped counts — a preview
      // shows field shapes and FK wiring, not cardinality
      relationships = plan.relationships.map(_.copy(ratio = None)),
      validations = plan.validations.filter(_.readBack.isEmpty).map(_.copy(waits = Nil)),
      // nothing tracked, deleted or reported
      runtime = PlanRuntime(plan.runtime.sparkConf, plan.runtime.numErrorSamples))
    val outcome = MultiPlanRunner.run(spark, bounded)
    outcome.insertOrder.map(t => Sample(t, outcome.frames(t).limit(sampleN).toJSON.collect().toSeq))
  }
}
