package graft.plan

import graft.rules.LegacyValidation
import org.json4s._

/** Adapter for the reference's UNIFIED single-file config — its modern
  * entry format (`core/parser/unified/{UnifiedYamlParser,
  * UnifiedConfigConverter,UnifiedConfigDetector}.scala` ~700 LoC,
  * `api/.../unified/UnifiedConfigModels.scala`): one YAML holding data
  * sources (connection + steps), per-step fields AND inline validations
  * (with wait conditions), top-level foreign keys, and run config.
  *
  * Lowering into the one plan IR ([[MultiPlanSpec]]):
  *  - every step of every data source → one generation task (field options
  *    reuse the [[LegacyPlan]] vocabulary — same `options` map shape);
  *  - file-typed connections (parquet/csv/json/orc) become sinks at
  *    `options.path` (single-step source) or `options.path/<step>`;
  *    non-file connections (jdbc/kafka/http) generate without a file sink —
  *    delivery is a separate concern ([[graft.sources.Jdbc]],
  *    [[graft.sinks.HttpSink]]);
  *  - `foreignKeys` (source → generate, addressed by (dataSource, step,
  *    fields)) → [[RelationshipDef]]s with cardinality ratios;
  *  - inline step validations → [[ValidationDef]]s carrying the
  *    [[LegacyValidation.parseValidation]] entries (expr / field / groupBy /
  *    fieldNames — shared entry grammar): one for the step's ungated
  *    entries, one for those with a `waitCondition`, under those gates;
  *  - the `config:` block → [[PlanRuntime]] ([[parse]] lists the flags);
  *    `sinkOptions.seed` → the deterministic seed.
  */
object Unified {

  import graft.util.Jsons.{str, arr}

  /** The steps, relationships and seed, plus each step's raw validation
    * entries. */
  private def declaredSteps(j: JValue): (MultiPlanSpec, Map[String, Seq[JValue]]) = {
    val name = str(j \ "name").getOrElse("unified")
    val seed = str(j \ "sinkOptions" \ "seed").flatMap(_.toLongOption).getOrElse(42L)

    val stepEntries = scala.collection.mutable.LinkedHashMap.empty[String, Seq[JValue]]
    val tasks = arr(j \ "dataSources").flatMap { ds =>
      val connType = str(ds \ "connection" \ "type").getOrElse("parquet")
      val connPath = str(ds \ "connection" \ "options" \ "path")
      val steps = arr(ds \ "steps")
      // a jar-blocked file format must fail here too, not silently sink-less
      LegacyPlan.requireWritableFormat("connection type", connType)
      steps.map { s =>
        // the step grammar is the legacy task-file step — reuse its parser
        val task = LegacyPlan.parseSteps(JObject(List("steps" -> JArray(List(s))))).head.task
        val stepName = task.name
        stepEntries(stepName) = arr(s \ "validations")
        // connection options (header, delimiter, compression...) ride into
        // the sink so later read-backs (validate-existing, delete) see the
        // SAME layout that was written; csv defaults to header=true —
        // headerless csv can't round-trip named columns at all
        val connOpts = (ds \ "connection" \ "options") match {
          case JObject(fs) => fs.collect {
            case (k, v) if k != "path" && k != "url" && k != "schema" =>
              graft.util.Jsons.str(v).map(k -> _)
          }.flatten.toMap
          case _ => Map.empty[String, String]
        }
        val sink =
          // ONE format list for both dialects (LegacyPlan owns it)
          if (LegacyPlan.FileFormats.contains(connType))
            connPath.map(p => SinkSpec(connType,
              if (steps.size == 1) p else s"$p/$stepName",
              options = (if (connType == "xml") Map("rowTag" -> stepName)
                         else Map.empty[String, String]) ++
                (if (connType == "csv") Map("header" -> "true") else Map.empty) ++
                connOpts ++
                // step-level sink options (partitions/unwrapTopLevelArray/
                // singleFile) apply to the connection-derived sink too
                LegacyPlan.sinkPassThrough(s)))
          else None // jdbc/kafka/http: generation only; delivery is separate
        task.copy(sink = sink.orElse(task.sink))
      }
    }

    // stepEntries and the downstream name-keyed maps are last-wins — a step
    // name shared by two data sources would silently merge; fail at parse
    locally {
      val dups = tasks.groupBy(_.name).collect { case (n, ts) if ts.size > 1 => n }
      require(dups.isEmpty,
        s"unified config '$name' declares duplicate step names ${dups.mkString(", ")} — " +
          "rename the steps so each is unique config-wide")
    }

    val fks = arr(j \ "foreignKeys").flatMap { fk =>
      val srcStep = str(fk \ "source" \ "step").getOrElse("")
      // field LISTS — composite keys sample the parent's distinct tuple
      val srcFields = arr(fk \ "source" \ "fields").flatMap(str)
      val ratio = (fk \ "source" \ "cardinality" \ "ratio") match {
        case JInt(i) => Some(i.toDouble); case JDouble(d) => Some(d); case _ => None
      }
      arr(fk \ "generate").map { g =>
        val childStep = str(g \ "step").getOrElse("")
        val childFields = arr(g \ "fields").flatMap(str) match {
          case Nil => srcFields
          case fs => fs
        }
        RelationshipDef(s"$childStep.${childFields.mkString(",")}",
          s"$srcStep.${srcFields.mkString(",")}", ratio)
      }
    }

    (MultiPlanSpec(name, seed, tasks, fks), stepEntries.toMap)
  }

  /** Lowers a unified config into one plan; its `config:` block (reference
    * `UnifiedRuntimeConfig`) becomes behaviour of that plan:
    *  - `flags.enableGenerateData: false` generates nothing: validations
    *    read each step's SINK back (validate-existing mode);
    *  - `flags.enableValidation: false` drops the validations;
    *  - `flags.enableRecordTracking` tracks each sinked step's
    *    `isPrimaryKey` fields under `folders.recordTrackingFolderPath`;
    *    `enableDeleteGeneratedRecords` deletes those rows instead;
    *  - `flags.enableGeneratePlanAndTasks`: a JDBC data source declaring NO
    *    steps is discovered from its live catalog, at parse time (tables,
    *    types, constraints, composite FKs → [[graft.sources.JdbcMetadata]]);
    *    its tables become tasks whose sinks insert the generated rows back
    *    into the database, parents first;
    *  - `flags.enableSaveReports` + `folders.generatedReportsFolderPath`: a
    *    per-run JSON report;
    *  - `runtime.sparkConfig`: session confs for the run, restored after it;
    *  - `validation.numSampleErrorRecords`: error samples per failed rule;
    *  - `generation.numRecordsPerStep` overrides every step's count
    *    (`numRecordsPerBatch` is accepted and ignored — Spark partitions
    *    bound memory, batching is the reference's driver-loop artifact).
    * `enableFastGeneration` is accepted and ignored — generation here is
    * always the UDF-free projection path the reference's fast mode
    * approximates.
    */
  def parse(j: JValue): MultiPlanSpec = {
    import graft.util.Jsons.{bool, dbl}
    val conf = j \ "config"
    def flag(name: String, default: Boolean): Boolean = (conf \ "flags" \ name) match {
      case JNothing => default
      case v => bool(v, default)
    }
    val doGenerate = flag("enableGenerateData", default = true)
    val doDelete = flag("enableDeleteGeneratedRecords", default = false)
    val (declared, entriesByStep) = declaredSteps(j)
    val perStep = dbl(conf \ "generation" \ "numRecordsPerStep").map(_.toLong)
    val autoJdbc: Seq[(String, Seq[graft.sources.JdbcMetadata.DbTable])] =
      if (!flag("enableGeneratePlanAndTasks", default = false)) Nil
      else arr(j \ "dataSources").flatMap { ds =>
        val connType = str(ds \ "connection" \ "type").getOrElse("")
        if (Set("jdbc", "postgres", "mysql", "derby").contains(connType) &&
            arr(ds \ "steps").isEmpty) {
          // a step-less source under auto-mode with no url would silently
          // produce an empty "successful" run — fail loudly instead
          val u = str(ds \ "connection" \ "options" \ "url").getOrElse(throw new IllegalArgumentException(
            s"data source '${str(ds \ "name").getOrElse("?")}': " +
              "enableGeneratePlanAndTasks with no steps needs connection.options.url"))
          val pat = str(ds \ "connection" \ "options" \ "schema").getOrElse("%")
          Some(u -> graft.sources.JdbcMetadata.discover(u, pat))
        } else None
      }
    val plan = autoJdbc.foldLeft(
      declared.copy(tasks = declared.tasks.map(t => t.copy(count = perStep.getOrElse(t.count))))) {
      case (p, (url, tables)) =>
        val auto = graft.sources.JdbcMetadata.toPlan(
          tables, p.name, rowsPerTable = perStep.getOrElse(1000L), seed = p.seed)
        val qualified = tables.map(t => t.name -> t.qualified).toMap
        p.copy(tasks = p.tasks ++ auto.tasks.map(t => t.copy(sink = Some(
            SinkSpec("jdbc", qualified(t.name), "append", options = Map("url" -> url))))),
          relationships = p.relationships ++ auto.relationships)
    }
    // the columns record tracking persists: a step's isPrimaryKey fields (a
    // step without keys tracks all columns); an auto table's DISCOVERED
    // primary keys — all-columns tracking would compare lossy-converted
    // values (double vs DECIMAL rounded on insert) in the keyed DELETE and
    // silently delete nothing
    val keys = arr(j \ "dataSources").flatMap(ds => arr(ds \ "steps").map { st =>
      str(st \ "name").getOrElse("step") -> arr(st \ "fields").flatMap(f =>
        if (bool(f \ "options" \ "isPrimaryKey")) str(f \ "name") else None)
    }).toMap ++ autoJdbc.flatMap(_._2.map(t => t.name -> t.columns.filter(_.isPk).map(_.name)))
    val tracking =
      if (!doDelete && !(doGenerate && flag("enableRecordTracking", default = false))) None
      else Some(Tracking(str(conf \ "folders" \ "recordTrackingFolderPath").getOrElse(
        throw new IllegalArgumentException(
          "record tracking needs config.folders.recordTrackingFolderPath")), keys, doDelete))

    // validate-existing mode: each validated step's sink path IS the
    // dataset location (the reference reads the data source back)
    val existing = !doGenerate && !doDelete
    // a step's gated entries form one block of their own, so its ungated
    // row rules can still be counted in the step's write
    val validations = if (!flag("enableValidation", default = true)) Nil
      else plan.tasks.flatMap { t =>
        val (plain, gated) = entriesByStep.getOrElse(t.name, Nil)
          .partition(e => (e \ "waitCondition") == JNothing)
        Seq(plain, gated).filter(_.nonEmpty).map(t -> _)
      }.map { case (t, entries) =>
        ValidationDef(t.name, Nil, entries = entries.map(LegacyValidation.parseValidation),
          waits = LegacyValidation.parseWaits(entries),
          readBack = if (!existing) None else Some {
            val sk = t.sink.getOrElse(throw new IllegalArgumentException(
              s"step '${t.name}': enableGenerateData=false and no file sink to read " +
                "existing data from — validations have no dataset"))
            // a bare-array document reads back as exploded element rows —
            // not the column shape the validations were written against
            require(!sk.options.get("unwrapTopLevelArray").contains("true"),
              s"step '${t.name}': validate-existing cannot read an " +
                "unwrapTopLevelArray sink back (bare JSON array document)")
            sk
          })
      }
    plan.copy(
      tasks = if (existing) Nil else plan.tasks,
      relationships = if (existing) Nil else plan.relationships,
      validations = validations,
      runtime = PlanRuntime(
        sparkConf = (conf \ "runtime" \ "sparkConfig") match {
          case JObject(confs) => confs.flatMap { case (k, v) => str(v).map(k -> _) }.toMap
          case _ => Map.empty
        },
        numErrorSamples = dbl(conf \ "validation" \ "numSampleErrorRecords").fold(5)(_.toInt),
        tracking = tracking,
        reportFolder = str(conf \ "folders" \ "generatedReportsFolderPath")
          .filter(_ => flag("enableSaveReports", default = true))))
  }
}
