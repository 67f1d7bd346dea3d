package graft.plan

import org.apache.spark.sql.{Column, DataFrame, Observation, Row}
import org.apache.spark.sql.functions._
import scala.concurrent.Await
import scala.concurrent.duration.Duration

/** Shared batch-sink writer for [[SinkSpec]]s — the reference's sink
  * conveniences (`core/sink/BatchSinkWriter.scala` partitionDf at 259-265
  * + `FileConsolidator.scala`):
  *
  *  - `partitions` (reference step option of the same name): repartition
  *    to exactly N output files before writing; a non-integer value is a
  *    loud error, not a silently-skipped repartition;
  *  - single-FILE output: a sink path ending in a known file extension
  *    (`out/data.csv`) means the user wants ONE real file there — the
  *    frame is written `coalesce(1)` to a temp directory and the single
  *    part file is moved to the path (the reference detects the suffix
  *    the same way and consolidates part files post-write). The whole
  *    frame funnels through one task — inherent to a single file; for an
  *    extension-suffixed path that should stay a normal Spark DIRECTORY,
  *    set `options.singleFile = "false"`. `partitionBy` also forces
  *    directory semantics (a partitioned single file is a contradiction,
  *    and pre-existing plans wrote directories there). SaveMode applies:
  *    `overwrite` replaces the target wholly (including an old part-file
  *    DIRECTORY at that path), `ignore` keeps an existing target,
  *    `errorifexists` throws, `append` throws loudly — one file cannot
  *    be appended to;
  *  - `unwrapTopLevelArray` (reference BatchSinkWriter.scala:199-226): a
  *    single-array-field frame writes as ONE bare JSON array (`[...]`) —
  *    rows are flattened into a single array first, so a multi-row frame
  *    still yields one valid JSON document, not concatenated arrays.
  */
object Sinks {

  private val SingleFileExts =
    List(".json", ".csv", ".parquet", ".orc", ".xml", ".txt")

  /** Is this sink path a single-file target? */
  def singleFile(path: String): Boolean =
    SingleFileExts.exists(path.toLowerCase.endsWith)

  /** Read a sink's data back with the SAME reader-relevant options it was
    * written with — THE one implementation of the read-back convention
    * (validate-existing, delete-generated-records, folder validations).
    * csv additionally infers types so typed validations and key joins
    * work; the default sits on the LEFT of `++` so a source explicitly
    * declaring `inferSchema: "false"` wins.
    */
  def readBack(spark: org.apache.spark.sql.SparkSession, s: SinkSpec): DataFrame =
    spark.read.format(s.format)
      .options(
        (if (s.format == "csv") Map("inferSchema" -> "true") else Map.empty[String, String]) ++
          (s.options - "partitions" - "singleFile" - "unwrapTopLevelArray"))
      .load(s.path)

  /** A sink write that also evaluates `aggs` over every row of `df`.
    *
    * When the write runs its plan, the aggregates ride on the write's own
    * pass through `Dataset.observe`: no second pass over `df`. That is every
    * mode but `ignore`, and an `ignore` write whose target does not exist
    * yet; [[run]] checks the target just before writing. Otherwise the
    * aggregates run as one separate aggregate job over `df`: there is
    * nothing to write, or an `ignore` write over an existing target skips
    * its plan (Spark then completes a directory target's observation with
    * zero counts, and a single-file one's never). If the target appears
    * between that check and the write, a single-file write reports the
    * skip and the separate job runs; a directory write is decided by
    * Spark's own existence check, moments later.
    *
    * `prepare` shapes the written frame ABOVE the observation (a
    * keep-filter, say), so the aggregates still see every row of `df`.
    * Construction analyzes the aggregates, so an expression that fails to
    * resolve throws here, before anything is written. An aggregate that
    * throws while it runs (an ANSI cast failure, say) fails the write job
    * itself: see [[MultiPlanRunner.run]] for what that leaves behind.
    */
  final class ObservedWrite(df: DataFrame, sink: Option[SinkSpec], aggs: Seq[Column],
      prepare: DataFrame => DataFrame = identity) {
    require(aggs.nonEmpty, "no aggregates to observe")
    // analyzed here, before any observation exists; run only as the fallback
    private val separate = df.agg(aggs.head, aggs.tail: _*)

    /** Writes the sink, if any, and returns the aggregate row. Call once. */
    def run(): Row = sink match {
      case Some(s) if !s.mode.equalsIgnoreCase("ignore") || !targetExists(df, s) =>
        val obs = Observation()
        if (write(prepare(df.observe(obs, aggs.head, aggs.tail: _*)), s))
          Await.result(obs.future, Duration.Inf)
        else separate.head()
      case Some(s) =>
        write(prepare(df), s)
        separate.head()
      case None => separate.head()
    }
  }

  private def targetExists(df: DataFrame, s: SinkSpec): Boolean = {
    val target = new org.apache.hadoop.fs.Path(s.path)
    target.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration).exists(target)
  }

  /** Writes `df` to the sink. Returns false only when a single-file
    * `ignore` write finds its target already there and runs nothing; a
    * directory `ignore` write over an existing target is skipped inside
    * Spark and returns true. */
  def write(df: DataFrame, s0: SinkSpec): Boolean = {
    val (df1, s) =
      if (s0.format == "json" && s0.options.get("unwrapTopLevelArray").contains("true") &&
          df.schema.fields.length == 1 && df.schema.fields.head.dataType.typeName == "array")
        (df.agg(flatten(collect_list(col(df.schema.fields.head.name))).as("__arr"))
           .select(to_json(col("__arr")).as("value")),
          s0.copy(format = "text", options = s0.options - "unwrapTopLevelArray"))
      else (df, s0)
    val nParts = s.options.get("partitions").map(p => p.toIntOption.getOrElse(
      throw new IllegalArgumentException(
        s"sink '${s.path}': partitions option '$p' is not an integer")))
    val opts = s.options - "partitions" - "singleFile"
    val asSingle = singleFile(s.path) && s.partitionBy.isEmpty &&
      !s.options.get("singleFile").contains("false")

    if (asSingle) {
      val hconf = df.sparkSession.sparkContext.hadoopConfiguration
      val target = new org.apache.hadoop.fs.Path(s.path)
      val fs = target.getFileSystem(hconf)
      s.mode.toLowerCase match {
        case "append" => throw new IllegalArgumentException(
          s"sink '${s.path}': mode append cannot target a single file — " +
            "use a directory path or mode overwrite")
        case "ignore" if fs.exists(target) => return false
        case "error" | "errorifexists" if fs.exists(target) =>
          throw new IllegalStateException(s"sink target ${s.path} already exists")
        case _ => ()
      }
      val tmp = new org.apache.hadoop.fs.Path(s.path + ".spark-tmp")
      // staging name OUTSIDE the tmp dir: one complete copy must survive
      // every failure point — deleting the old target before the new file
      // is safely staged would destroy both on a rename failure
      val staged = new org.apache.hadoop.fs.Path(s.path + ".spark-new")
      try {
        // nParts would be collapsed by coalesce(1) anyway — skip the shuffle
        df1.coalesce(1).write.mode("overwrite").format(s.format)
          .options(opts).save(tmp.toString)
        val part = fs.listStatus(tmp)
          .find(f => f.isFile && f.getPath.getName.startsWith("part-"))
          .getOrElse(throw new IllegalStateException(
            s"no part file produced under $tmp"))
        fs.delete(staged, false)
        require(fs.rename(part.getPath, staged), s"rename ${part.getPath} -> $staged failed")
        // recursive: the target may be an old part-file DIRECTORY layout.
        // If the final rename fails, the staged file remains on disk as the
        // surviving copy and the error below names it.
        fs.delete(target, true)
        require(fs.rename(staged, target),
          s"rename $staged -> $target failed — the new data survives at $staged")
      } finally fs.delete(tmp, true)
    } else {
      val repart = nParts.map(df1.repartition(_)).getOrElse(df1)
      val w = repart.write.mode(s.mode).format(s.format).options(opts)
      val pw = if (s.partitionBy.nonEmpty) w.partitionBy(s.partitionBy: _*) else w
      pw.save(s.path)
    }
    true
  }
}
