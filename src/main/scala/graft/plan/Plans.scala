package graft.plan

import org.json4s.{JNothing, JValue}

/** The plan front door — the reference's `UnifiedConfigDetector` →
  * `PlanProcessor`: every dialect parses into the one plan IR
  * ([[MultiPlanSpec]]) that [[MultiPlanRunner.run]] executes. `graft.Main`,
  * the REST server and its preview all enter here. */
object Plans {

  sealed abstract class Dialect(val parse: JValue => MultiPlanSpec)
  case object UnifiedConfig extends Dialect(Unified.parse)
  case object MultiTask extends Dialect(MultiPlanRunner.parse)
  case object Filter extends Dialect(PlanSpec.parse(_).lower)

  /** THE dialect detection: `version` + `dataSources` is a unified config,
    * `tasks` a multi-task plan, anything else a single-step filter plan. */
  def dialect(doc: JValue): Dialect =
    if (doc \ "version" != JNothing && doc \ "dataSources" != JNothing) UnifiedConfig
    else if (doc \ "tasks" != JNothing) MultiTask
    else Filter

  /** A plan document (JSON or YAML) of any dialect — or, with `folders`,
    * the reference's plan FILE whose tasks and validations live in those
    * folders ([[LegacyPlan.parseFolder]]). */
  def parse(text: String, folders: Option[TaskFolders] = None): MultiPlanSpec =
    folders match {
      case Some(f) => LegacyPlan.parseFolder(text, f)
      case None =>
        val doc = graft.util.Jsons.parse(text)
        dialect(doc).parse(doc)
    }
}

/** The reference's deployed folders around a plan file (its PLAN_FILE_PATH
  * + TASK_FOLDER_PATH + VALIDATION_FOLDER_PATH shape, or application.conf's
  * folders, connections and `enableGenerateData` flag). */
final case class TaskFolders(
    taskFolder: String,
    validationFolder: Option[String] = None,
    connections: Map[String, Map[String, String]] = Map.empty,
    generate: Boolean = true)
