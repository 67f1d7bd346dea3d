package graft.plan

import org.json4s._

/** Adapter for the reference's NATIVE plan/task YAML layout
  * (`core/parser/PlanParser.scala` + `api/.../PlanModels.scala:9-125`):
  * a plan file lists task summaries (`tasks: [{name, dataSourceName,
  * enabled}]`) plus `sinkOptions.foreignKeys`, and each task FILE holds
  * `steps` with `count.records` / `count.perField`, `options.path`, and
  * `fields` whose generators hide in an `options` map (`regex`, `oneOf`,
  * `min`/`max`, `isUnique`, `expression`, `sql`, `static`).
  *
  * This translates that layout verbatim into [[MultiPlanSpec]] — so a
  * data-caterer user's existing YAML runs on this engine unchanged:
  *
  *  - each enabled task summary resolves its task file; each STEP becomes
  *    one generation task named after the step;
  *  - `sinkOptions.foreignKeys` (source → generate relations addressed by
  *    (dataSource, step, fields)) become [[RelationshipDef]]s;
  *  - a child step's `count.perField` on the FK fields becomes the
  *    relationship's cardinality ratio (reference semantics: per parent
  *    value, that many child rows — `CardinalityCountAdjustmentProcessor`);
  *  - `options.path` + step `type` become the sink.
  *
  * The plan's `validations:` name references resolve against a validation
  * folder ([[parseFolder]]) and read their data back after the writes.
  */
object LegacyPlan {

  import graft.util.Jsons.{str, dbl, arr}

  private[plan] val FileFormats = Set("parquet", "csv", "json", "orc", "xml")
  /** File formats the reference supports via jars this sandbox lacks. */
  private[plan] val BlockedFileFormats = Set("delta", "hudi", "iceberg")

  /** ONE loud jar-blocked error for both dialects (`kind` names the
    * YAML location: "step 'x'" / "connection type"). */
  private[plan] def requireWritableFormat(kind: String, fmt: String): Unit =
    if (BlockedFileFormats.contains(fmt))
      throw new IllegalArgumentException(
        s"$kind: sink format '$fmt' needs connector jars absent from this " +
          s"build (writable here: ${FileFormats.toSeq.sorted.mkString("/")})")

  private def toJson(text: String): JValue = graft.util.Jsons.parse(text)

  /** Boolean option accepting the YAML 1.1 spellings reference corpora use
    * (true/false, yes/no, on/off, any case); anything else fails with the
    * field named instead of a bare 'For input string' parse abort. */
  private[plan] def parseBool(s: String, field: String): Boolean =
    s.trim.toLowerCase match {
      case "true" | "yes" | "on" | "y" | "1" => true
      case "false" | "no" | "off" | "n" | "0" => false
      case other => throw new IllegalArgumentException(
        s"option '$field': unrecognized boolean value '$other' " +
          "(expected true/false, yes/no, or on/off)")
    }

  /** The sql semantics the reference's files were authored for, set for
    * every legacy plan's run ([[parsePlan]]): the reference engine is Spark
    * 3.5 (ansi OFF by default), where e.g. `element_at(empty, 1)` is NULL
    * and lossy casts never throw. Spark 4 defaults ansi ON, which turns
    * several shipped reference examples into runtime errors. */
  val Spark35Semantics: Map[String, String] = Map("spark.sql.ansi.enabled" -> "false")

  /** One reference field → a [[FieldDef]]. Generator hints live in the
    * `options` map (`api/.../PlanModels.scala:118-125`).
    */
  private def field(j: JValue): FieldDef = {
    val name = str(j \ "name").getOrElse(throw new IllegalArgumentException("field without name"))
    // a field declaring child `fields:` with no `type:` is implicitly a
    // struct (the reference's json-account-task shape)
    val typ = str(j \ "type").getOrElse(
      if ((j \ "fields") != JNothing) "struct" else "string").toLowerCase
    val o = j \ "options"
    val omit =
      if (graft.util.Jsons.bool(o \ "omit")) Some(true) else None
    // the reference accepts `static` at the field level AND inside options
    val static = str(j \ "static").orElse(str(o \ "static"))
    def opt(k: String) = o \ k match { case JNothing => None; case v => Some(v) }
    // extended generator options — the reference's own key names
    // (api Constants.scala:84-112,137); value lists accept a YAML list OR
    // the reference's comma string (quotes-aware for weighted entries)
    def optFlag(k: String): Option[Boolean] =
      if (graft.util.Jsons.bool(o \ k)) Some(true) else None
    def strList(k: String): Option[Seq[String]] = (o \ k) match {
      case JNothing => None
      case JString(s) => Some(LegacyPlan.splitTopLevel(s).map(_.trim).filter(_.nonEmpty))
      case other => Some(arr(other).flatMap(str)).filter(_.nonEmpty)
    }
    val gopts: Option[GenOptions] = {
      val g = GenOptions(
        mean = dbl(o \ "mean"),
        stddev = dbl(o \ "stddev"),
        distribution = str(o \ "distribution"),
        distributionRateParam = dbl(o \ "distributionRateParam"),
        // `incremental: true` = start at the reference's default 1;
        // a number = the start value (RandomDataGenerator.scala:634-636)
        incremental = (o \ "incremental") match {
          case JNothing | JBool(false) | JString("false") => None
          case JBool(true) | JString("true") => Some(1L)
          case v => dbl(v).map(_.toLong)
        },
        round = dbl(o \ "round").map(_.toInt),
        dateExcludeWeekends = optFlag("dateExcludeWeekends"),
        enableNull = optFlag("enableNull"),
        nullProb = dbl(o \ "nullProb"),
        enableEdgeCase = optFlag("enableEdgeCase"),
        edgeCaseProb = dbl(o \ "edgeCaseProb"),
        arrayEmptyProb = dbl(o \ "arrayEmptyProb"),
        arrayUniqueFrom = strList("arrayUniqueFrom"),
        arrayOneOf = strList("arrayOneOf"),
        arrayWeightedOneOf = strList("arrayWeightedOneOf"),
        arrayFixedSize = dbl(o \ "arrayFixedSize").map(_.toInt),
        // carried for generators whose draw space may collide (faker
        // expressions uniquify by construction); other types dispatch to
        // the sequential fallback before options apply
        unique = optFlag("isUnique"))
      if (g.isEmpty) None else Some(g)
    }

    // the reference casts computed (sql/static) fields to their DECLARED
    // type (typed temp columns) — map the scalar type names to DDL; struct/
    // array-typed sql stays untyped (its sql already produces the shape).
    // NOTE an OMITTED type maps to "string" on purpose: the reference's
    // field type defaults to string (api Constants.scala:393) and its sql
    // evaluator casts string-typed sql results with CAST((expr) AS STRING)
    // (core GeneratorUtil.scala:219-221), so an untyped `sql:` field is
    // stringified there too — matching, not diverging.
    val declaredDdl: Option[String] = typ match {
      case "integer" | "int" => Some("int")
      case "long" => Some("bigint")
      case "short" => Some("smallint")
      case "byte" => Some("tinyint")
      case "double" => Some("double")
      case "float" => Some("float")
      case "decimal" =>
        val p = dbl(o \ "precision").map(_.toInt).getOrElse(10)
        val s = dbl(o \ "scale").map(_.toInt).getOrElse(0)
        Some(s"decimal($p,$s)")
      case t if t.startsWith("decimal(") => Some(t)
      case "string" => Some("string")
      case "date" => Some("date")
      case "timestamp" => Some("timestamp")
      case "boolean" => Some("boolean")
      case _ => None
    }
    val parsed: FieldDef = static match {
      // static value = a literal column (the reference emits lit(static)).
      // Spark SQL's lexer uses BACKSLASH escaping, not ''-doubling — an
      // apostrophe value (O'Brien) must round-trip through the parser intact
      case Some(v) => FieldDef(name, "sql",
        sql = Some("'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"),
        castTo = declaredDdl)
      case None =>
        if (opt("sql").isDefined)
          FieldDef(name, "sql", sql = str(o \ "sql"), castTo = declaredDdl)
        else if (opt("uuid").isDefined) {
          // the reference's uuid conversions (TaskConversionRegistry.scala:
          // 293-309 + TaskBuilder.scala:1795-1810,1992-2001): uuid +
          // incremental → md5(start + row index) formatted 8-4-4-4-12
          // (deterministic there too — byte-compatible); uuid: "<field>" →
          // md5 of that field's value; bare uuid → keyed per-row UuidField
          def toUuidSql(c: String) = {
            val cast = s"CAST($c AS STRING)"
            s"CONCAT(SUBSTR(MD5($cast),1,8),'-',SUBSTR(MD5($cast),9,4),'-'," +
              s"SUBSTR(MD5($cast),13,4),'-',SUBSTR(MD5($cast),17,4),'-',SUBSTR(MD5($cast),21,12))"
          }
          val uuidOf = str(o \ "uuid").getOrElse("")
          gopts.flatMap(_.incremental) match {
            case Some(start) => FieldDef(name, "sql", sql = Some(toUuidSql(s"$start + __index_inc")))
            case None if uuidOf.nonEmpty => FieldDef(name, "sql", sql = Some(toUuidSql(uuidOf)))
            case None => FieldDef(name, "uuid")
          }
        }
        else if (opt("expression").isDefined) // faker expression
          FieldDef(name, "template", template = str(o \ "expression"))
        else if (opt("regex").isDefined)
          FieldDef(name, "regex", pattern = str(o \ "regex"))
        else if (opt("oneOf").isDefined)
          // the reference accepts a YAML list OR a comma string
          // ("ACTIVE,PENDING,CLOSED" — account-reuse-task.yaml)
          FieldDef(name, "oneOf", values = Some((o \ "oneOf") match {
            case JString(s) => s.split(',').toSeq.map(_.trim).filter(_.nonEmpty)
            case other => arr(other).flatMap(str)
          }))
        else if (str(o \ "isUnique").contains("true"))
          FieldDef(name, "sequential", prefix = Some(name.take(1).toUpperCase), pad = Some(10))
        else typ match {
          case "integer" | "int" | "long" =>
            FieldDef(name, "int", lo = dbl(o \ "min").orElse(Some(0.0)),
              hi = dbl(o \ "max").orElse(Some(1000000.0)))
          case "short" =>
            FieldDef(name, "int", lo = dbl(o \ "min").orElse(Some(0.0)),
              hi = dbl(o \ "max").orElse(Some(32767.0)))
          case "byte" =>
            FieldDef(name, "int", lo = dbl(o \ "min").orElse(Some(0.0)),
              hi = dbl(o \ "max").orElse(Some(127.0)))
          case "binary" | "bytes" => FieldDef(name, "binary")
          case "double" | "float" | "decimal" =>
            FieldDef(name, "double", lo = dbl(o \ "min").orElse(Some(0.0)),
              hi = dbl(o \ "max").orElse(Some(1000.0)))
          // min/max bound the draw range (reference getMinValue/getMaxValue,
          // RandomDataGenerator.scala:222-231: DATE_ADD(min, u * daysBetween))
          case "timestamp" =>
            val mn = str(o \ "min")
            val d = for {
              a <- mn; b <- str(o \ "max")
              between <- scala.util.Try(java.time.Duration.between(
                java.time.LocalDateTime.parse(a.replace(' ', 'T')),
                java.time.LocalDateTime.parse(b.replace(' ', 'T'))).toDays.toInt).toOption
            } yield math.max(between, 1)
            FieldDef(name, "timestamp", start = mn, days = d)
          case "date" =>
            val mn = str(o \ "min")
            val d = for {
              a <- mn; b <- str(o \ "max")
              between <- scala.util.Try(java.time.temporal.ChronoUnit.DAYS.between(
                java.time.LocalDate.parse(a), java.time.LocalDate.parse(b)).toInt).toOption
            } yield math.max(between, 1)
            FieldDef(name, "date", start = mn, days = d)
          case "boolean" => FieldDef(name, "boolean")
          case "string" =>
            FieldDef(name, "alphanum",
              minLen = dbl(o \ "minLen").map(_.toInt),
              maxLen = dbl(o \ "maxLen").map(_.toInt))
          // nested fields, the reference task-file way: `type: struct` +
          // `fields:`, `type: array` + `fields:` (struct elements) or
          // `type: array<T>` (scalar elements); arrayMinLen/arrayMaxLen
          case "struct" | "object" | "record" =>
            FieldDef(name, "struct", fields = Some(arr(j \ "fields").map(field)))
          case "array" =>
            val children = arr(j \ "fields")
            // `arrayType` names the element type (reference ARRAY_TYPE,
            // Constants.scala:107) — the element inherits the options map
            // so min/max/regex bound the element values
            val elem = str(o \ "arrayType").map(t => field(JObject(List(
              "name" -> JString("element"), "type" -> JString(t),
              "options" -> o.removeField { case (k, _) => k == "arrayType" }))))
            FieldDef(name, "array",
              element = elem,
              fields = if (children.nonEmpty) Some(children.map(field)) else None,
              minLen = dbl(o \ "arrayMinLen").map(_.toInt),
              maxLen = dbl(o \ "arrayMaxLen").map(_.toInt))
          // inline DDL types (docker examples): decimal(5,2),
          // map<string,string>, struct<...> — FieldDef parses via Spark
          // DDL. Pass the ORIGINAL type string (lowercasing would mangle
          // camelCase struct field names) and forward the array/map length
          // options.
          case t if FieldDef.isInlineDdl(t) =>
            // `fields:` alongside a DDL complex type = explicit per-field
            // generators (kafka headers map entries, array<struct> with
            // regex/min/max element specs) — forward them
            val children = arr(j \ "fields")
            // maps size via mapMinSize/mapMaxSize (reference
            // Constants.scala:94-95, defaults 0..5); arrays via
            // arrayMinLen/arrayMaxLen — both ride through min/maxLen
            FieldDef(name, str(j \ "type").get,
              fields = if (children.nonEmpty) Some(children.map(field)) else None,
              minLen = dbl(o \ "arrayMinLen").orElse(dbl(o \ "mapMinSize")).map(_.toInt),
              maxLen = dbl(o \ "arrayMaxLen").orElse(dbl(o \ "mapMaxSize")).map(_.toInt))
          case at if at.startsWith("array<") && at.endsWith(">") =>
            val inner = at.stripPrefix("array<").stripSuffix(">").trim
            // the element inherits the field's OPTIONS (min/max/regex...) —
            // dropping them would generate out-of-contract element values
            FieldDef(name, "array",
              element = Some(field(JObject(List(
                "name" -> JString("element"), "type" -> JString(inner),
                "options" -> o)))),
              minLen = dbl(o \ "arrayMinLen").map(_.toInt),
              maxLen = dbl(o \ "arrayMaxLen").map(_.toInt))
          case other =>
            // a typo'd or wrong-dialect type silently generating random
            // strings is data that LOOKS right and IS wrong — fail loudly
            // with the supported set (the reference's own type names)
            throw new IllegalArgumentException(
              s"field '$name': unknown legacy field type '$other' " +
                "(string|int|integer|long|short|byte|double|float|decimal|date|" +
                "timestamp|boolean|binary|struct|array|array<T>; generators go " +
                "in options: regex/oneOf/min/max/isUnique/expression/sql/static)")
        }
    }
    parsed.copy(omit = omit, options = gopts.orElse(parsed.options))
  }

  /** A YAML list OR a comma string → trimmed values (top-level split). */
  private def listOrCsvTop(v: JValue): Seq[String] = v match {
    case JString(s) => splitTopLevel(s).map(_.trim).filter(_.nonEmpty)
    case other => graft.util.Jsons.arr(other).flatMap(graft.util.Jsons.str)
  }

  /** Split a comma string at top level — commas inside single quotes don't
    * split (the reference's weighted-value strings: `'a,b':0.2,'c':0.8`,
    * RandomDataGenerator.scala:467-490). */
  private[plan] def splitTopLevel(s: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    val cur = new StringBuilder
    var inQuote = false
    s.foreach {
      case '\'' => inQuote = !inQuote; cur += '\''
      case ',' if !inQuote => out += cur.toString; cur.clear()
      case c => cur += c
    }
    out += cur.toString
    out.toSeq
  }

  private[plan] final case class StepInfo(
      task: TaskDef,
      /** Declared `count.perField`, when present (also carried on the
        * task itself — kept here for the FK ratio bookkeeping). */
      perField: Option[PerFieldDef])

  /** One reference task FILE → its steps as generation tasks. */
  def parseTaskFile(text: String): Seq[TaskDef] = parseSteps(toJson(text)).map(_.task)

  /** `conn` = the named connection's options from application.conf
    * (AppConfig.connections, keyed by the task summary's dataSourceName) —
    * the reference merges connection config under step options with the
    * STEP winning (`SinkFactory` option layering). Here that means the
    * connection may supply the step's missing `type` (format) and `path`,
    * and its remaining options ride along under the sink's options. */
  private[plan] def parseSteps(j: JValue, conn: Map[String, String] = Map.empty): Seq[StepInfo] = {
    arr(j \ "steps")
      .filter(s => str(s \ "enabled").forall(_ != "false"))
      .map { s =>
        val name = str(s \ "name").getOrElse("step")
        val records = dbl(s \ "count" \ "records").map(_.toLong)
          .orElse(volumeFromRate(s \ "count"))
          .getOrElse(1000L)
        val perField = (s \ "count" \ "perField") match {
          case JNothing => None
          case pf =>
            // counts live at count: OR under options: (both appear in the
            // reference corpus); weighted entries spell "n->w"
            def cnt(k: String) = dbl(pf \ k).orElse(dbl(pf \ "options" \ k))
            val oneOf = ((pf \ "oneOf", pf \ "options" \ "oneOf") match {
              case (JNothing, JNothing) => None
              case (v, JNothing) => Some(listOrCsvTop(v))
              case (_, v) => Some(listOrCsvTop(v))
            }).filter(_.nonEmpty)
            val mn = cnt("min").map(_.toInt)
            val mx = cnt("max").map(_.toInt)
            val c0 = cnt("count").map(_.toLong)
            // the reference's default per-field count is 10
            // (Constants.scala:402) when nothing narrows it
            val c = if (c0.isEmpty && (mn.isEmpty || mx.isEmpty) && oneOf.isEmpty)
              Some(10L) else c0
            Some(PerFieldDef(arr(pf \ "fieldNames").flatMap(str), c, mn, mx, oneOf,
              str(pf \ "distribution").orElse(str(pf \ "options" \ "distribution"))))
        }
        // a sink only exists for file-typed steps (or no declared type →
        // parquet). A jdbc/kafka step with an options.path must NOT fall
        // back to writing parquet at that path — data that looks written
        // but to the wrong system; delivery for those is a separate
        // concern. File formats whose jars are absent in this build
        // (delta/hudi/iceberg) fail LOUDLY — silently writing nothing at a
        // declared path is data that looks missing for no reason.
        val typOpt = str(s \ "type").orElse(conn.get("format"))
        typOpt.foreach(requireWritableFormat(s"step '$name'", _))
        val sink =
          if (!typOpt.forall(FileFormats.contains)) None
          else str(s \ "options" \ "path").orElse(conn.get("path")).map { p =>
            val fmt = typOpt.getOrElse("parquet")
            // Spark 4's built-in XML writer REQUIRES rowTag — default it to
            // the step name (overridable via options.rowTag) so `type: xml`
            // sinks work end-to-end instead of failing at write time
            // scalar step options ride to the writer so the STEP wins over
            // the connection on any key it spells out (header, delimiter,
            // compression, ...) — the documented merge order; structural
            // keys already handled elsewhere are excluded
            val stepScalarOpts = ((s \ "options") match {
              case JObject(fs) => fs.collect {
                case (k, v) if !Set("path", "saveMode")(k) && str(v).isDefined =>
                  k -> str(v).get
              }.toMap
              case _ => Map.empty[String, String]
            })
            val opts =
              (conn - "format" - "path") ++
                (if (fmt == "xml") Map("rowTag" -> str(s \ "options" \ "rowTag").getOrElse(name))
                 else Map.empty[String, String]) ++ stepScalarOpts ++ sinkPassThrough(s)
            SinkSpec(format = fmt, path = p,
              mode = str(s \ "options" \ "saveMode").getOrElse("overwrite").toLowerCase,
              options = opts)
          }
        val fields0 = arr(s \ "fields").flatMap(fv =>
          expandHttpField(fv).getOrElse(Seq(field(fv))))
        // real-time body mapping (reference TaskBuilder.realTimeBody:
        // YAML `messageBody`/`httpBody` becomes runtime field `body` plus
        // `value` = TO_JSON(body) — the serialized payload kafka/http
        // sinks send; sibling sql like `body.account_id` resolves against
        // the renamed struct)
        val fields = fields0.map(_.name) match {
          case names if !names.contains("body") &&
              (names.contains("messageBody") || names.contains("httpBody")) =>
            fields0.map { f =>
              if (f.name == "messageBody" || f.name == "httpBody") f.copy(name = "body") else f
            } :+ FieldDef("value", "sql", sql = Some("TO_JSON(body)"))
          case _ => fields0
        }
        StepInfo(TaskDef(name, records, fields, sink, perField), perField)
      }
  }

  /** YAML `httpUrl` / `httpHeaders` field expansion — the reference's
    * task-conversion rules (`core/parser/TaskConversionRegistry.scala:
    * 49-82` feeding `FieldBuilder.httpUrl`, `TaskBuilder.scala:1915-1937`):
    *
    *  - `httpUrl` with nested `url` (static, `{param}`-templated), `method`
    *    (static, default GET), `pathParam` children, `queryParam` children
    *    (options `style`/`explode` per the OpenAPI serialization matrix) →
    *    the param fields generate under `pathParam<name>`/`queryParam<name>`
    *    (the reference's prefixes, `Constants.scala:212-213`) plus a
    *    computed `url` field — REPLACE + URL_ENCODE for path slots, joined
    *    `name=value` query parts — and a static `method` field. All pure
    *    SQL over sibling fields, so the generator's existing computed-column
    *    topo resolution does the ordering; the per-row delivery twin is
    *    [[graft.sinks.HttpSink.postRows]].
    *  - `httpHeaders` with children → one `headers` STRUCT field (each child
    *    = one header value; the reference tags per-field metadata instead,
    *    `HttpSinkProcessor.scala:193-198` — a struct carries the same
    *    per-row shape through any sink).
    *
    * Returns None for every other field (normal parse path).
    */
  private def expandHttpField(fv: JValue): Option[Seq[FieldDef]] =
    str(fv \ "name") match {
      case Some("httpUrl") if (fv \ "fields") != JNothing =>
        val inner = arr(fv \ "fields")
        def innerNamed(n: String) = inner.find(f => str(f \ "name").contains(n))
        val template = innerNamed("url")
          .flatMap(u => str(u \ "static").orElse(str(u \ "options" \ "static")))
          .getOrElse(throw new IllegalArgumentException(
            "httpUrl needs a nested static `url` field (the reference's contract)"))
        val method = innerNamed("method")
          .flatMap(m => str(m \ "static").orElse(str(m \ "options" \ "static")))
          .getOrElse("GET")
        val pathChildren = innerNamed("pathParam").map(p => arr(p \ "fields")).getOrElse(Nil)
        val queryChildren = innerNamed("queryParam").map(q => arr(q \ "fields")).getOrElse(Nil)
        val pathFields = pathChildren.map(c => field(c))
          .map(f => f.copy(name = s"pathParam${f.name}"))
        val queryFields = queryChildren.map(c => field(c))
          .map(f => f.copy(name = s"queryParam${f.name}"))
        // ONE implementation of the URL assembly: build the Column via
        // HttpSink.urlColumn (the per-row delivery twin uses the same code)
        // and render it to SQL text for the generator's computed stage —
        // the OpenAPI style/explode matrix can't drift between the two.
        import org.apache.spark.sql.functions.col
        // backtick field names: a param named `page.size` must stay ONE
        // column reference, not a nested-field path
        def rawCol(n: String) = col(s"`$n`")
        val urlCol = graft.sinks.HttpSink.urlColumn(
          template,
          pathParams = pathFields.map(f =>
            f.name.stripPrefix("pathParam") -> rawCol(f.name)),
          queryParams = queryChildren.zip(queryFields).map { case (c, f) =>
            graft.sinks.HttpSink.QueryParam(
              f.name.stripPrefix("queryParam"), rawCol(f.name),
              isArray = str(c \ "type").exists(_.toLowerCase.startsWith("array")),
              style = str(c \ "options" \ "style").getOrElse("form"),
              explode = str(c \ "options" \ "explode").forall(parseBool(_, "explode")))
          })
        val urlSql = org.apache.spark.sql.GraftSqlBridge.toSqlText(urlCol)
        Some(pathFields ++ queryFields ++ Seq(
          FieldDef("url", "sql", sql = Some(urlSql)),
          FieldDef("method", "sql",
            sql = Some("'" + method.replace("'", "\\'") + "'"))))
      case Some("httpHeaders") if (fv \ "fields") != JNothing =>
        Some(Seq(FieldDef("headers", "struct",
          fields = Some(arr(fv \ "fields").map(field)))))
      case _ => None
    }

  /** Step options that ride through to the sink writer: `partitions` /
    * `numPartitions` (repartition-N), `unwrapTopLevelArray` (bare JSON
    * array emission — also honored as a FIELD-level option on the array
    * field, the reference's metadata spelling), `singleFile` (opt out of
    * extension-based single-file consolidation). Shared by the legacy and
    * unified dialects.
    */
  private[plan] def sinkPassThrough(step: JValue): Map[String, String] = {
    val base = Seq("partitions", "unwrapTopLevelArray", "singleFile")
      .flatMap(k => str(step \ "options" \ k).map(k -> _)).toMap
    val numPart = str(step \ "options" \ "numPartitions").map("partitions" -> _)
    // two spellings of the same directive must not silently override
    (base.get("partitions"), numPart.map(_._2)) match {
      case (Some(a), Some(b)) if a != b => throw new IllegalArgumentException(
        s"step options declare partitions=$a AND numPartitions=$b — pick one")
      case _ => ()
    }
    val fieldUnwrap =
      if (arr(step \ "fields").exists(f =>
          graft.util.Jsons.bool(f \ "options" \ "unwrapTopLevelArray")))
        Some("unwrapTopLevelArray" -> "true")
      else None
    base ++ numPart ++ fieldUnwrap
  }

  /** `"30s" | "5m" | "2h" | "90"` → seconds. */
  def durationSeconds(d: String): Double = {
    val t = d.trim.toLowerCase
    if (t.endsWith("ms")) t.dropRight(2).toDouble / 1000
    else if (t.endsWith("s")) t.dropRight(1).toDouble
    else if (t.endsWith("m")) t.dropRight(1).toDouble * 60
    else if (t.endsWith("h")) t.dropRight(1).toDouble * 3600
    else t.toDouble
  }

  /** Rate-based volumes (reference `Count.duration/rate/pattern`,
    * `PlanModels.scala:102-110`): with no explicit `records`, the batch
    * volume is the integral of the declared rate over the duration —
    * constant rate × duration, or the load-pattern's cumulative budget
    * ([[graft.sinks.LoadPatterns.schedule]]) when a pattern is declared.
    * The temporal SHAPE applies at delivery time
    * ([[graft.sinks.LoadPatterns.postJsonShaped]]); generation is batch.
    */
  private def volumeFromRate(count: JValue): Option[Long] = {
    val durSec = str(count \ "duration").map(durationSeconds)
    val pat = loadPattern(count \ "pattern")
    (durSec, pat, dbl(count \ "rate")) match {
      case (Some(d), Some(p), _) =>
        Some(math.round(graft.sinks.LoadPatterns.schedule(p, d).last))
      case (Some(d), None, Some(r)) => Some(math.round(r * d))
      case _ => None
    }
  }

  /** Reference `UnifiedLoadPattern` → [[graft.sinks.LoadPatterns]] shape. */
  private[plan] def loadPattern(j: JValue): Option[graft.sinks.LoadPatterns.LoadPattern] = {
    import graft.sinks.LoadPatterns._
    str(j \ "type").map {
      case "constant" => Constant(dbl(j \ "baseRate").orElse(dbl(j \ "startRate")).getOrElse(1.0))
      case "ramp" => Ramp(dbl(j \ "startRate").getOrElse(1.0), dbl(j \ "endRate").getOrElse(10.0))
      case "spike" => Spike(dbl(j \ "baseRate").getOrElse(1.0), dbl(j \ "spikeRate").getOrElse(10.0),
        dbl(j \ "spikeStart").getOrElse(0.4), dbl(j \ "spikeDuration").getOrElse(0.2))
      case "steps" | "stepped" => Steps(arr(j \ "steps").map(s =>
        (dbl(s \ "rate").getOrElse(1.0), durationSeconds(str(s \ "duration").getOrElse("1s")))))
      case "wave" | "sine" => Wave(dbl(j \ "baseRate").getOrElse(1.0),
        dbl(j \ "amplitude").getOrElse(0.0), dbl(j \ "frequency").getOrElse(1.0))
      case "breakingPoint" | "breaking-point" => BreakingPoint(
        dbl(j \ "startRate").getOrElse(1.0), dbl(j \ "rateIncrement").getOrElse(1.0),
        str(j \ "incrementInterval").map(durationSeconds).getOrElse(1.0),
        dbl(j \ "maxRate"))
      case other => throw new IllegalArgumentException(s"unknown load pattern type '$other'")
    }
  }

  /** The reference plan file + its task files → one [[MultiPlanSpec]].
    * `taskFiles` maps task-summary name → task file text (the reference
    * resolves them from a task folder; callers read the files).
    */
  def parsePlan(planText: String, taskFiles: Map[String, String],
      connections: Map[String, Map[String, String]] = Map.empty): MultiPlanSpec = {
    val j = toJson(planText)
    val planName = str(j \ "name").getOrElse("plan")
    val enabled = arr(j \ "tasks").filter(t => str(t \ "enabled").forall(_ != "false"))
    // (summary name, dataSourceName, step) — FKs address (dataSource, step)
    val located: Seq[(String, String, StepInfo)] = enabled.flatMap { t =>
      val taskName = str(t \ "name").getOrElse(
        throw new IllegalArgumentException("task summary without name"))
      val ds = str(t \ "dataSourceName").getOrElse(taskName)
      val text = taskFiles.getOrElse(taskName,
        throw new IllegalArgumentException(s"no task file supplied for '$taskName'"))
      parseSteps(toJson(text), connections.getOrElse(ds, Map.empty)).map(s => (taskName, ds, s))
    }
    // a step name appearing under TWO task files is legal reference YAML
    // (addressed there by (dataSource, step)); the engine's task names must
    // be unique, so colliding steps get QUALIFIED as <summary>.<step> and
    // FK references resolve through (dataSource, step) below. A residual
    // collision (one summary declaring a step twice) still fails loudly.
    val collisions = located.groupBy(_._3.task.name)
      .collect { case (n, ss) if ss.size > 1 => n }.toSet
    // ':' separator — a '.' would collide with RelationshipDef's
    // table.column endpoint syntax
    def qualifiedName(summary: String, step: String): String =
      if (collisions(step)) s"$summary:$step" else step
    val steps: Seq[(String, String, StepInfo)] = located.map { case (summary, ds, s) =>
      (summary, ds, s.copy(task = s.task.copy(name = qualifiedName(summary, s.task.name))))
    }
    locally {
      val dups = steps.groupBy(_._3.task.name).collect { case (n, ss) if ss.size > 1 => n }
      require(dups.isEmpty,
        s"plan '$planName' resolves duplicate step names ${dups.mkString(", ")} even " +
          "after <task>:<step> qualification — rename the steps")
    }
    // FK addressing: (dataSource, step). An FK endpoint on a data source
    // that is NOT among the enabled tasks drops the relationship with a
    // warning — the reference's behavior for multi-source plans run with a
    // subset of sources enabled (`ForeignKeyValidator.scala:42-53` warns
    // and filters; it never aborts). A dataSource that IS enabled but
    // lacks the step still fails loudly: that's a typo inside a live
    // source, and silently binding a unique bare step name to a DIFFERENT
    // source would be a wrong relationship that looks right.
    val knownDs = steps.map(_._2).toSet
    // ALL declared data sources, enabled or not — an FK naming a declared-
    // but-disabled source skips with a warning; one naming a source the
    // plan NEVER declares is a typo and aborts loudly
    val declaredDs = arr(j \ "tasks")
      .flatMap(t => str(t \ "dataSourceName").orElse(str(t \ "name"))).toSet
    def dsEnabled(ds: String): Boolean = ds.isEmpty || knownDs.contains(ds)
    def warnDisabled(ds: String): Unit = {
      require(declaredDs.contains(ds),
        s"plan '$planName': FK references dataSource '$ds' which no task declares " +
          s"(declared: ${declaredDs.toSeq.sorted.mkString(", ")}) — typo?")
      System.err.println(
        s"[plan '$planName'] foreign key references data source '$ds' which is " +
          s"declared but not enabled (enabled: ${knownDs.toSeq.sorted.mkString(", ")}) — " +
          "relationship skipped, as in the reference")
    }
    def resolveStep(ds: String, step: String): Option[(String, StepInfo)] = {
      val byDs = steps.filter(x => x._2 == ds && stripQualifier(x._3.task.name) == step)
      val any = steps.filter(x => stripQualifier(x._3.task.name) == step)
      (if (ds.nonEmpty) byDs else any) match {
        case Seq(one) => Some((one._3.task.name, one._3))
        case Seq() if ds.nonEmpty && any.nonEmpty =>
          throw new IllegalArgumentException(
            s"plan '$planName': FK step '$step' is not under dataSource '$ds' " +
              s"(found under ${any.map(_._2).distinct.mkString(", ")})")
        case Seq() => None
        case many => throw new IllegalArgumentException(
          s"plan '$planName': FK step reference '$step' (dataSource '$ds') is " +
            s"ambiguous between ${many.map(_._3.task.name).mkString(", ")}")
      }
    }

    val fks = arr(j \ "sinkOptions" \ "foreignKeys").flatMap { fk =>
      val srcStep = str(fk \ "source" \ "step").getOrElse("")
      val srcDs = str(fk \ "source" \ "dataSource").getOrElse("")
      // reference relations are field LISTS (PlanModels.scala:27-76) — keep
      // the whole tuple; assignKeys samples distinct parent tuples
      val srcFields = arr(fk \ "source" \ "fields").flatMap(str)
      if (!dsEnabled(srcDs)) { warnDisabled(srcDs); Nil }
      else {
      val srcName = resolveStep(srcDs, srcStep).map(_._1).getOrElse(srcStep)
      arr(fk \ "generate").flatMap { g =>
        val childStep = str(g \ "step").getOrElse("")
        val childDs = str(g \ "dataSource").getOrElse("")
        if (!dsEnabled(childDs)) { warnDisabled(childDs); None }
        else Some {
        val childFields = arr(g \ "fields").flatMap(str) match {
          case Nil => srcFields
          case fs => fs
        }
        val child = resolveStep(childDs, childStep)
        // relationship-level cardinality lives on the FK itself (current
        // layout) or under source: (older layout) — min/max/distribution
        // become a per-parent fan-out on the child task (synthesized below)
        // the reference carries CardinalityConfig on EACH relation
        // (`PlanModels.scala:27-34` — generate target first), with FK-level
        // and source-level spellings accepted as fallbacks
        val card = Seq(g \ "cardinality", fk \ "cardinality", fk \ "source" \ "cardinality")
          .find(_ != JNothing).getOrElse(JNothing)
        // explicit cardinality ratio on the relation wins; else the child
        // step's count.perField on the FK fields is the ratio spelling
        // (mean of the declared draw — static count, range, or weights)
        val ratio = dbl(card \ "ratio")
          .orElse(child.map(_._2).flatMap(_.perField).collect {
            case pf if childFields.nonEmpty && childFields.forall(pf.fieldNames.contains) =>
              pf.toCounts.mean
          })
        val childName = child.map(_._1).getOrElse(childStep)
        // synthesize a perField fan-out on the child for cardinality
        // min/max or a non-uniform distribution (ratio+zipf → zipf over
        // [1, 2·ratio-1], mean ≈ ratio under uniform; documented approx).
        // NESTED child fields can't fan (the carried key IS the group
        // identity — fanOutChildren rejects them): fall back to the
        // sampling path with the ratio mean, which nested assignKeys
        // supports — sizes approximate, integrity exact.
        val fanable = childFields.nonEmpty && childFields.forall(!_.contains("."))
        val synthPf: Option[(String, PerFieldDef)] =
          (dbl(card \ "min").map(_.toInt), dbl(card \ "max").map(_.toInt),
            str(card \ "distribution").filterNot(_.equalsIgnoreCase("uniform"))) match {
            case (Some(a), Some(b), d) if fanable =>
              Some(childName -> PerFieldDef(childFields, None, Some(a), Some(b), None, d))
            case (None, None, Some(d)) if fanable && ratio.isDefined =>
              val r = math.max(math.round(ratio.get).toInt, 1)
              Some(childName -> PerFieldDef(childFields, None, Some(1),
                Some(math.max(2 * r - 1, 1)), None, Some(d)))
            case _ => None
          }
        // nested + min/max: carry the midpoint as the sampling ratio so the
        // cardinality still adjusts the child count
        val ratioAdj =
          if (!fanable && ratio.isEmpty)
            (dbl(card \ "min"), dbl(card \ "max")) match {
              case (Some(a), Some(b)) => Some((a + b) / 2.0)
              case _ => None
            }
          else ratio
        (RelationshipDef(s"$childName.${childFields.mkString(",")}",
          s"$srcName.${srcFields.mkString(",")}", ratioAdj,
          // partial relationships (reference `nullability` block on the FK:
          // nullPercentage of children carry null FKs, strategy
          // random|head|tail — NullabilityStrategy.scala)
          nullPercentage = dbl(g \ "nullability" \ "nullPercentage")
            .orElse(dbl(fk \ "nullability" \ "nullPercentage")).filter(_ > 0),
          nullStrategy = str(g \ "nullability" \ "strategy")
            .orElse(str(fk \ "nullability" \ "strategy")),
          // reference generationMode lives on the generate relation
          // (ForeignKeyProcessor.scala:181 `target.generationMode`); accept
          // an FK-level spelling as fallback. "partial" is the nullability
          // block above (the reference's partial branch is also a no-op
          // beyond NullabilityStrategy, GenerationModeStrategy.scala:72-86)
          generationMode = str(g \ "generationMode").orElse(str(fk \ "generationMode"))
            .filter(_.equalsIgnoreCase("all-combinations"))), synthPf)
        }
      }
      }
    }
    val seed = str(j \ "sinkOptions" \ "seed").flatMap(_.toLongOption).getOrElse(42L)
    val synthAll = fks.flatMap(_._2)
    // a silent last-wins here would quietly drop a DECLARED cardinality:
    // two FK relations fanning out the same child, or a child with its own
    // perField, must at least warn so the degradation is visible
    synthAll.groupBy(_._1).foreach { case (task, vs) =>
      if (vs.size > 1)
        System.err.println(s"[legacy-plan] WARN: ${vs.size} cardinality-bearing " +
          s"FK relations target task '$task'; only the last synthesized " +
          "perField fan-out is kept")
    }
    val synthByTask = synthAll.toMap
    val tasks = steps.map(_._3.task).map { t =>
      synthByTask.get(t.name) match {
        case Some(pf) if t.perField.isEmpty => t.copy(perField = Some(pf))
        case Some(_) =>
          System.err.println(s"[legacy-plan] WARN: task '${t.name}' declares " +
            "its own perField; the FK-synthesized fan-out is ignored")
          t
        case None => t
      }
    }
    MultiPlanSpec(planName, seed, tasks, fks.map(_._1),
      runtime = PlanRuntime(sparkConf = Spark35Semantics))
  }

  private def stripQualifier(taskName: String): String =
    taskName.split(':').last

  /** All YAML/JSON texts in a folder keyed by their declared `name:` — the
    * reference's folder resolution (task summaries name task FILES by the
    * file's own `name:` field, not its filename; validation folders work
    * the same way). Files without a `name:` are skipped.
    */
  def namedTexts(folder: String): Map[String, String] = {
    val dir = java.nio.file.Paths.get(folder)
    require(java.nio.file.Files.isDirectory(dir), s"not a folder: $folder")
    // RECURSIVE: the reference's deployed task folders nest by source type
    // (`example/docker/data/custom/task/file/csv/...`) and its discovery
    // walks the whole tree
    val stream = java.nio.file.Files.walk(dir)
    try {
      import scala.jdk.CollectionConverters._
      stream.iterator().asScala
        .filter { p =>
          val n = p.getFileName.toString
          java.nio.file.Files.isRegularFile(p) &&
            (n.endsWith(".yaml") || n.endsWith(".yml") || n.endsWith(".json"))
        }
        .map(p => new String(java.nio.file.Files.readAllBytes(p)))
        .flatMap(text => graft.util.Jsons.str(toJson(text) \ "name").map(_ -> text))
        .toSeq match {
          case pairs =>
            // two files declaring the same name: last-wins would silently
            // run a stale copy — same contract as the duplicate-step guards
            val dups = pairs.groupBy(_._1).collect { case (n, ts) if ts.size > 1 => n }
            require(dups.isEmpty,
              s"folder $folder: multiple files declare name ${dups.mkString(", ")}")
            pairs.toMap
        }
    } finally stream.close()
  }

  /** The reference's DEPLOYED layout in one plan (its docker/env-var shape:
    * plan file + task folder + validation folder): resolve task files by
    * name ([[namedTexts]]), generate in FK insert order (sinks write), then
    * validate each referenced validation source against the data at its
    * declared `options.path`, read back after the writes. A validation
    * source without a path fails loudly — guessing a generated frame would
    * validate the wrong dataset. `folders.generate = false` (reference
    * `flags.enableGenerateData`) skips generation: the validations still
    * run on existing data.
    */
  def parseFolder(planText: String, folders: TaskFolders): MultiPlanSpec = {
    val plan = parsePlan(planText, namedTexts(folders.taskFolder), folders.connections)
    val validationTexts = folders.validationFolder.map(namedTexts(_).values.toSeq).getOrElse(Nil)
    val validations = resolveValidations(planText, validationTexts).map { sv =>
      val path = sv.options.getOrElse("path", throw new IllegalArgumentException(
        s"validation source '${sv.dataSource}' declares no options.path — " +
          "cannot infer which dataset it targets"))
      // the source's OTHER reader options (header, delimiter, rowTag...)
      // must reach the reader — a csv read without its declared header
      // option yields _c0.. columns and validates the header row as data
      ValidationDef(sv.dataSource, Nil, entries = sv.entries, readBack = Some(SinkSpec(
        format = sv.options.getOrElse("format", "parquet"),
        path = path, options = sv.options - "path" - "format")))
    }
    if (folders.generate) plan.copy(validations = validations)
    else plan.copy(tasks = Nil, relationships = Nil, validations = validations)
  }

  /** Resolve the plan's `validations: [name, ...]` references against a set
    * of validation-file texts (the reference reads its validation folder;
    * callers read the files): returns the [[graft.rules.LegacyValidation]]
    * configs whose `name:` the plan lists, in plan order. Unknown names
    * throw — a silently-skipped validation is a validation that "passed".
    */
  def resolveValidations(planText: String, validationFiles: Seq[String])
      : Seq[graft.rules.LegacyValidation.SourceValidations] = {
    val wanted = arr(toJson(planText) \ "validations").flatMap(str)
    if (wanted.isEmpty) return Nil
    val byName = validationFiles.map { text =>
      str(toJson(text) \ "name").getOrElse("") -> text
    }.toMap
    wanted.flatMap { name =>
      val text = byName.getOrElse(name, throw new IllegalArgumentException(
        s"plan references validation '$name' but no supplied file declares it"))
      graft.rules.LegacyValidation.parse(text)
    }
  }
}
