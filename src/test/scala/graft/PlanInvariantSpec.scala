package graft

import graft.pipeline.QualityFilter
import org.apache.spark.sql.catalyst.expressions.ScalaUDF
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.Exchange

/** Plan invariants of the quality-filter stage, batch and streaming: the
  * fused scorer UDF is evaluated once per row (one occurrence in the
  * executed plan — a collapsed projection that inlined it per feature
  * column would score every row several times), and the stage has no
  * Exchange. */
class PlanInvariantSpec extends SparkSuite {

  private def nodes(plan: SparkPlan): Seq[SparkPlan] = plan.collect {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case p => Seq(p)
  }.flatten

  private def scorers(plan: SparkPlan): Int =
    nodes(plan).map(_.expressions.map(_.collect {
      case u: ScalaUDF if u.udfName.contains(QualityFilter.ScorerName) => u
    }.size).sum).sum

  private def exchanges(plan: SparkPlan): Int = nodes(plan).count(_.isInstanceOf[Exchange])

  test("batch runDF: one fused scorer, no exchange") {
    val df = QualityFilter.runDF(spark,
      graft.corpus.SyntheticImages.generate(spark, 100L, seed = 2L, partitions = 2).toDF())
    val plan = df.queryExecution.executedPlan
    assert(scorers(plan) == 1, plan.toString)
    assert(exchanges(plan) == 0, plan.toString)
    assert(df.count() == 100)
  }

  test("streaming filterStream: one fused scorer, no exchange") {
    import graft.SharedSpark.spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[graft.corpus.ImageRow]
    val q = graft.streaming.StreamingOps.filterStream(spark, mem.toDF())
      .writeStream.format("memory").queryName("invariants").outputMode("append").start()
    try {
      mem.addData(graft.corpus.SyntheticImages.generate(spark, 50L, seed = 3L, partitions = 1)
        .collect().toIndexedSeq)
      q.processAllAvailable()
      val plan = q.asInstanceOf[org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
        .streamingQuery.lastExecution.executedPlan
      assert(scorers(plan) == 1, plan.toString)
      assert(exchanges(plan) == 0, plan.toString)
      assert(spark.table("invariants").count() == 50)
    } finally q.stop()
  }
}
