package graft

import graft.pipeline.{Alerts, FilterConfig, ResumableRunner, RunReport}
import graft.plan.{AppConfig, MultiPlanRunner, MultiPlanSpec, Plans, TaskFolders}
import graft.plan.MultiPlanRunner.MultiPlanOutcome
import org.apache.spark.sql.SparkSession

/** spark-submit entry point — the deployment surface of the north rule:
  *
  *   spark-submit --class graft.Main \
  *     --conf spark.sql.extensions=graft.plans.GraftExtensions \
  *     graft.jar <inputPath> <outputDir> [numBuckets] [runId]
  *
  *   spark-submit --class graft.Main graft.jar --plan plan.yaml
  *
  * Default mode reads the image+caption table (parquet here; an Iceberg
  * table reference like `iceberg.ns.images` works unchanged where the
  * catalog is configured — `spark.read.table` branch), runs the resumable
  * bucketed quality-filter, writes kept+annotated rows, per-partition
  * metrics, and JSON+HTML run reports. Re-running after a crash resumes from
  * the bucket manifest.
  *
  * Every other mode is a plan, parsed once by the front door
  * ([[graft.plan.Plans.parse]]) and run once by [[MultiPlanRunner.run]]:
  * `--plan` takes one document of any dialect; `--legacy <plan.yaml>
  * <taskFolder> [validationFolder]` runs the reference's DEPLOYED layout
  * unchanged, as do no args with APPLICATION_CONFIG_PATH (the reference's
  * `ConfigParser.getConfig` contract: folders, connections and flags from
  * the conf, whose `${?ENV}` substitutions give env vars the last word) or
  * with PLAN_FILE_PATH (+ TASK_FOLDER_PATH, VALIDATION_FOLDER_PATH: its
  * docker contract).
  */
object Main {

  private def readFile(p: String): String =
    new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p)))

  def main(args: Array[String]): Unit = {
    val spark = session(appConfig(args))
    try run(spark, args).foreach(o =>
      println(Alerts.summarize(o).linesIterator.map("[graft] " + _).mkString("\n")))
    finally spark.stop()
  }

  /** application.conf, read only when no args name the work. */
  private def appConfig(args: Array[String]): Option[AppConfig.Conf] =
    if (args.nonEmpty) None
    else sys.env.get("APPLICATION_CONFIG_PATH").map(p => AppConfig.parse(readFile(p)))

  /** Under spark-submit the session comes from the launcher's conf; the
    * builder only fills in what is not already set. application.conf's
    * `runtime.master` and `runtime.config` apply here, at SESSION BUILD time
    * (the reference hands them to its SparkProvider the same way): env vars
    * still win on master, and static confs like spark.driver.memory can only
    * take effect here, never post-create. */
  private def session(conf: Option[AppConfig.Conf]): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val b = GraftSession.builder(sys.env.getOrElse("SPARK_GRAFT_MASTER",
      conf.flatMap(_.master).getOrElse(s"local[$cpus]")), cpus.toInt)
    conf.foreach(_.runtimeConfig.foreach { case (k, v) => b.config(k, v) })
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Runs one invocation on `spark`: the plan `args` name, or the bucketed
    * filter job (None — its report is written under the output dir). */
  def run(spark: SparkSession, args: Array[String]): Option[MultiPlanOutcome] =
    plan(args) match {
      case Some(p) => Some(MultiPlanRunner.run(spark, p))
      case None =>
        filterJob(spark, args)
        None
    }

  /** The plan an invocation names, parsed once — None for the bucketed
    * filter job. */
  private def plan(args: Array[String]): Option[MultiPlanSpec] = {
    val named: Option[(String, Option[TaskFolders])] = (args.toList, appConfig(args)) match {
      case ("--plan" :: file :: Nil, _) => Some((file, None))
      case ("--legacy" :: file :: tasks :: vals, _) if vals.size <= 1 =>
        Some((file, Some(TaskFolders(tasks, vals.headOption))))
      case (("--plan" | "--legacy") :: _, _) => throw new IllegalArgumentException("usage: " +
        "graft.Main --plan <plan> | --legacy <plan.yaml> <taskFolder> [validationFolder]")
      // flags gate the phases like the reference: enableGenerateData
      // (default true) and enableValidation (default false)
      case (Nil, Some(conf)) =>
        def folder(name: String) = conf.folders.getOrElse(name,
          throw new IllegalArgumentException(s"application.conf: folders.$name missing"))
        Some((folder("planFilePath"), Some(TaskFolders(folder("taskFolderPath"),
          conf.folders.get("validationFolderPath")
            .filter(_ => conf.flags.getOrElse("enableValidation", false)),
          conf.connections, conf.flags.getOrElse("enableGenerateData", true)))))
      case (Nil, None) => sys.env.get("PLAN_FILE_PATH").map { planPath =>
        // default task folder = ../task relative to the plan's folder (the
        // reference's docker image keeps plan/ and task/ side by side); a
        // bare filename has no parent to anchor that default, so demand the
        // env var explicitly
        val taskFolder = sys.env.getOrElse("TASK_FOLDER_PATH",
          Option(java.nio.file.Paths.get(planPath).getParent)
            .map(_.resolveSibling("task").toString)
            .getOrElse(throw new IllegalArgumentException(
              s"PLAN_FILE_PATH '$planPath' has no parent folder to derive the task " +
                "folder from — set TASK_FOLDER_PATH")))
        (planPath, Some(TaskFolders(taskFolder, sys.env.get("VALIDATION_FOLDER_PATH"))))
      }
      case _ => None
    }
    named.map { case (file, folders) => Plans.parse(readFile(file), folders) }
  }

  private def filterJob(spark: SparkSession, args: Array[String]): Unit = {
    require(args.length >= 2, "usage: graft.Main <inputPath> <outputDir> [numBuckets] [runId]")
    val input = args(0)
    val outDir = args(1)
    val numBuckets = if (args.length > 2) args(2).toInt else 16
    val runId = if (args.length > 3) args(3) else s"run_${System.currentTimeMillis()}"
    import spark.implicits._

    val table =
      if (input.contains(".") && !input.contains("/")) spark.read.table(input)
      else spark.read.parquet(input)
    val ds = table.as[graft.corpus.ImageRow]

    val runner = new ResumableRunner(spark, outDir, numBuckets, FilterConfig())
    val processed = runner.run(ds, runId)
    val summary = RunReport.write(runner.readMetrics(), runId, outDir)
    println(s"[graft] buckets processed this invocation: $processed")
    println(s"[graft] ${RunReport.toJson(summary)}")
  }
}
