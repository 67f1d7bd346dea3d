package perfbench

import graft.Queries
import graft.corpus.{ImageRow, SyntheticImages}
import graft.dedup.Dedup
import graft.functions.{CaptionFeatures, LangId, Perplexity, Scrubber}
import graft.generator.{ForeignKeys, Generator, SequentialField}
import graft.pipeline.{FilterConfig, Oracle, QualityFilter, ResumableRunner, RunReport}
import graft.plan.MultiPlanRunner
import graft.rules.{Rule, RuleEngine}
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._

object Dirs {
  def delete(p: String): Unit = graft.util.Fs.deleteRecursively(Paths.get(p))
  def size(p: String): Long = {
    val root = Paths.get(p)
    if (!Files.exists(root)) 0L
    else {
      val s = Files.walk(root)
      try s.filter(Files.isRegularFile(_)).mapToLong((f: Path) => Files.size(f)).sum()
      finally s.close()
    }
  }
}

/** The product job of `graft.Main`: resumable bucketed filter to a parquet
  * sink with per-partition metrics, then the run report. */
final class FilterWorkload(ctx: Ctx, images: Long, plant: Boolean, dedup: DedupProbes)
    extends Workload {
  private val spark = ctx.spark
  import spark.implicits._
  private val corpus = s"${ctx.runDir}/input/corpus"
  private def out(i: Int) = s"${ctx.runDir}/out/pass$i"
  private var lastSummary: RunReport.Summary = _
  private var lastPass = -1
  private val cfg = FilterConfig()

  def inputRows: Long = images

  def generate(): Unit =
    SyntheticImages.generate(spark, images, seed = ctx.seed, partitions = 8)
      .write.mode(SaveMode.Overwrite).parquet(corpus)

  private def input = spark.read.parquet(corpus).as[ImageRow]

  def pass(i: Int): Unit = {
    // a planted fault: timed passes filter with a stricter token minimum
    // than the oracle's, so the checks must fail
    val runner = new ResumableRunner(spark, out(i), 16,
      if (plant) cfg.copy(minTokens = cfg.minTokens + 5) else cfg)
    ctx.call("pipeline.run")(runner.run(input, s"pass$i"))
    lastSummary = ctx.call("pipeline.report")(RunReport.write(runner.readMetrics(), s"pass$i", out(i)))
    if (lastPass >= 0) Dirs.delete(out(lastPass))
    lastPass = i
  }

  private lazy val captions: Array[String] =
    (0L until 2000L).map(i => SyntheticImages.row(i, ctx.seed, withBytes = false).caption)
      .filter(c => c != null && c.nonEmpty).toArray

  def probes(): Unit = {
    filterProbes()
    dedup.probes()
  }

  private def filterProbes(): Unit = {
    ctx.call("sources.scan")(ctx.noop(spark.read.parquet(corpus)))
    ctx.call("pipeline.filter_noop")(ctx.noop(QualityFilter.runDF(spark, spark.read.parquet(corpus), cfg)))
    ctx.kernel("functions.caption_features", captions)(c => CaptionFeatures.extract(c, cfg.maxCharRun))
    ctx.kernel("functions.langid", captions)(c => LangId.predict(c))
    ctx.kernel("functions.perplexity", captions)(c => Perplexity.score(c))
    ctx.kernel("functions.scrub", captions)(c => Scrubber.scrubWithCounts(c))
  }

  override def prepareProbes(): Unit = {
    filterProbes()
    dedup.warmUp()
  }

  def layerSpans: Seq[(String, Seq[String])] = Seq(
    "sources.scan" -> Nil,
    "pipeline.filter_noop" -> Seq("cpu_s", "gc_s"),
    "pipeline.run" -> Seq("cpu_s", "gc_s", "bytes_written_mb", "max_task_s", "task_p50_s", "jobs"),
    "pipeline.report" -> Nil) ++ dedup.layerSpans

  def layersNotCalled: Seq[String] = Seq("plan.", "generator.", "rules.")

  def extraLayerMetrics(): Map[String, Double] = dedup.counts.toMap ++ Map(
    "pipeline.output_bytes_per_input_byte" ->
      Dirs.size(s"${out(lastPass)}/data").toDouble / Dirs.size(corpus),
    "pipeline.keep_ratio" -> lastSummary.rowsOut.toDouble / lastSummary.rowsIn)

  /** The last pass's report against [[Oracle]], the row-by-row Scala
    * re-implementation of the rule sequence, over the same corpus. */
  def checks(): Seq[(String, Boolean, String)] = {
    val c = cfg
    val expected = input.map(r => Oracle.dropReason(r, c).getOrElse("__kept__"))
      .groupBy("value").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val kept = expected.getOrElse("__kept__", 0L)
    val reasons = expected - "__kept__"
    val s = lastSummary
    Seq(
      ("filter.rows_in", s.rowsIn == images, s"report ${s.rowsIn} vs corpus $images"),
      ("filter.kept", s.rowsOut == kept, s"report ${s.rowsOut} vs oracle $kept"),
      ("filter.drop_reasons", s.dropReasons == reasons,
        s"report ${s.dropReasons.toSeq.sorted} vs oracle ${reasons.toSeq.sorted}"))
  }
}

/** The four registered dedup operators (`documents` replicated 3x with
  * shifted keys) and the two similarity operators (`embeddings`), each
  * materialized through the noop sink. Run only in traced runs, as probes
  * of the dedup, similarity and plans layers. */
final class DedupProbes(ctx: Ctx, baseDocs: Int, copies: Int, plant: Boolean) {
  private val spark = ctx.spark
  private val dir = s"${ctx.runDir}/input/tables"
  val ops: Seq[(String, String)] = Seq(
    "dedup.q11" -> "q11_minhash_lsh", "dedup.q13" -> "q13_jaccard_pairs",
    "dedup.q28" -> "q28_phash_neardup", "dedup.q31" -> "q31_connected_components")
  private val similarity = Seq(
    "similarity.q10" -> "q10_similarity_topk", "similarity.q14" -> "q14_embedding_neardup")
  private var texts: Array[String] = _

  /** Untraced, in set-up: makes the tables, then writes the dedup outputs
    * that the checks compare, which also warms those operators, and warms
    * the rest. */
  def warmUp(): Unit = {
    generate()
    writeForChecks()
    similarityAndKernels()
  }

  def probes(): Unit = {
    ops.foreach { case (span, q) => ctx.call(span)(ctx.noop(Queries.all(q)(spark, dir))) }
    similarityAndKernels()
  }

  private def similarityAndKernels(): Unit = {
    similarity.foreach { case (span, q) => ctx.call(span)(ctx.noop(Queries.all(q)(spark, dir))) }
    ctx.kernel("dedup.minhash", texts)(t => Dedup.minhashScala(t, 16, 2))
    ctx.kernel("dedup.simhash64", texts)(t => Dedup.simhash64Scala(t))
  }

  private def generate(): Unit = {
    Inputs.writeDocuments(spark, dir, baseDocs, copies, ctx.seed)
    Inputs.writeEmbeddings(spark, dir, 2000, ctx.seed)
    texts = spark.read.parquet(s"$dir/documents.parquet").select("text").limit(1000)
      .collect().map(_.getString(0))
  }

  def layerSpans: Seq[(String, Seq[String])] =
    ops.map(_._1 -> Seq("shuffle_write_mb", "spill_mb", "max_task_s", "jobs")) ++
      similarity.map(_._1 -> Nil)

  val counts = scala.collection.mutable.Map.empty[String, Double]

  /** Writes each dedup operator's output for the DuckDB comparison that
    * run.py makes (q11, q13 and q28 against `Queries.oracle`, q31 against a
    * union-find over q28's pairs). */
  private def writeForChecks(): Unit = {
    val outputs = ops.map { case (span, q) =>
      val path = s"${ctx.runDir}/check/$q"
      val df = Queries.all(q)(spark, dir)
      // a planted fault: one q11 candidate pair goes missing
      (if (plant && q.startsWith("q11")) df.orderBy("a_id", "b_id").offset(1) else df)
        .write.mode(SaveMode.Overwrite).parquet(path)
      val written = spark.read.parquet(path)
      counts(if (q.startsWith("q31")) s"${span}_components" else s"${span}_pairs") =
        (if (q.startsWith("q31")) written.select("label").distinct() else written).count().toDouble
      q -> path
    }
    val oracle = ops.map(_._2).filterNot(_.startsWith("q31")).map(q => q -> Queries.oracle(q))
    Json.writeFile(s"${ctx.runDir}/duckdb_checks.json", Json.obj(
      "tables_dir" -> Json.str(dir),
      "outputs" -> Json.obj(outputs.map { case (q, p) => q -> Json.str(p) }: _*),
      "oracle_sql" -> Json.obj(oracle.map { case (q, s) => q -> Json.str(s) }: _*)))
  }
}

/** A generated two-table plan: parse, generate, assign FKs, write parquet
  * sinks, validate. */
final class PlanWorkload(ctx: Ctx, parents: Long, plant: Boolean) extends Workload {
  private val spark = ctx.spark
  private def out(i: Int) = s"${ctx.runDir}/out/pass$i"
  private var last: (Int, MultiPlanRunner.MultiPlanOutcome) = _
  private val ratio = 5L

  def inputRows: Long = parents * (1 + ratio)

  /** The plan generates its own data inside the timed pass; its only
    * input is the seeded plan text. */
  def generate(): Unit = Files.createDirectories(Paths.get(ctx.runDir, "out"))

  def pass(i: Int): Unit = {
    val yaml = Inputs.planYaml(out(i), parents, ctx.seed)
    val plan = ctx.call("plan.parse")(MultiPlanRunner.parseYaml(yaml))
    val outcome = ctx.call("plan.run")(MultiPlanRunner.run(spark, plan))
    if (last != null) Dirs.delete(out(last._1))
    last = (i, outcome)
  }

  override def prepareProbes(): Unit = probes()

  /** Probes read the last pass's written sinks. */
  def probes(): Unit = {
    val dir = out(last._1)
    val plan = MultiPlanRunner.parseYaml(Inputs.planYaml(dir, parents, ctx.seed))
    val parentTask = plan.tasks.find(_.name == "parents").get
    ctx.call("generator.generate", parents)(ctx.noop(
      Generator.generate(spark, parents, parentTask.fields.map(_.toSpec), seed = ctx.seed)))
    val childTask = plan.tasks.find(_.name == "children").get
    val written = spark.read.parquet(s"$dir/parents")
    ctx.call("generator.fk_assign")(ctx.noop(ForeignKeys.assignKeys(
      Generator.generate(spark, parents * ratio,
        childTask.fields.map(_.toSpec) :+ SequentialField("__rid", "c:", 12), seed = ctx.seed),
      "__rid", "parent_id", written, "parent_id", ctx.seed)))
    ctx.call("rules.validate_all")(plan.validations.foreach { v =>
      RuleEngine.validateAll(spark.read.parquet(s"$dir/${v.dataset}"),
        v.rules.map(r => Rule(r.name, expr(r.expr))), v.errorThreshold)
    })
    Seq("q27_regex_gen", "q32_faker_template").foreach { q =>
      ctx.call(s"generator.$q")(ctx.noop(Queries.all(q)(spark, "")))
    }
  }

  def layerSpans: Seq[(String, Seq[String])] = Seq(
    "plan.parse" -> Nil,
    "plan.run" -> Seq("cpu_s", "bytes_written_mb", "jobs"),
    "generator.fk_assign" -> Nil,
    "rules.validate_all" -> Nil,
    "generator.q27_regex_gen" -> Nil,
    "generator.q32_faker_template" -> Nil)

  def layersNotCalled: Seq[String] =
    Seq("sources.", "functions.", "pipeline.", "dedup.", "similarity.")

  def extraLayerMetrics(): Map[String, Double] = {
    val gen = ctx.spansByPass("generator.generate").flatten
    if (gen.isEmpty) Map.empty
    else Map("generator.generate_rows_per_s" -> Stats.median(gen.map(s => s.count / s.seconds)))
  }

  def checks(): Seq[(String, Boolean, String)] = {
    val (i, o) = last
    // a planted fault: one written parents file goes missing
    if (plant) Files.list(Paths.get(out(i), "parents")).filter(_.toString.endsWith(".parquet"))
      .findFirst().ifPresent(f => Files.delete(f))
    val p = spark.read.parquet(s"${out(i)}/parents")
    val c = spark.read.parquet(s"${out(i)}/children")
    val (np, nc) = (p.count(), c.count())
    val orphans = c.join(p.select("parent_id"), Seq("parent_id"), "left_anti").count()
    val declared = Map("parents" -> parents, "children" -> parents * ratio)
    Seq(
      ("plan.success", o.success, s"validations ${o.validations.view.mapValues(_.map(r => s"${r.rule}:${r.errors}")).toMap}"),
      ("plan.counts", o.counts == declared, s"outcome ${o.counts} vs declared $declared"),
      ("plan.written_counts", np == parents && nc == parents * ratio, s"written parents $np children $nc"),
      ("plan.orphan_fks", orphans == 0L, s"$orphans children without a parent"))
  }
}
