package graft.plan

import graft.generator._
import graft.rules.{Rule, RuleEngine, RuleResult}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Multi-task plan IR — the reference's full plan experience
  * (`core/parser/PlanParser.scala` ~329 LoC + `PlanProcessor`): several
  * generation tasks, FK relationships between them, and validations, all in
  * ONE YAML. [[PlanSpec]] covers the single-step filter plan; this covers
  * the generate-a-relational-schema side:
  *
  *  - `tasks`: each generates `count` rows from typed field definitions
  *    (the full [[FieldSpec]] vocabulary by name);
  *  - `relationships`: `child.col → parent.col` foreign keys, executed in
  *    Kahn insert order ([[ForeignKeys.insertOrder]]) with the
  *    broadcast-sampling join ([[ForeignKeys.assignKeys]] — the big side
  *    never shuffles); a `ratio` makes the child count cardinality-driven
  *    ([[ForeignKeys.adjustCounts]]: child = parent × ratio, compounding
  *    along chains, overriding the declared count — reference's
  *    CardinalityCountAdjustmentProcessor);
  *  - `validations`: per-dataset rule sets evaluated in one projection
  *    each ([[RuleEngine]]).
  */
final case class MultiPlanSpec(
    name: String,
    seed: Long = 42L,
    tasks: Seq[TaskDef],
    relationships: Seq[RelationshipDef] = Nil,
    validations: Seq[ValidationDef] = Nil)

final case class TaskDef(
    name: String,
    count: Long,
    fields: Seq[FieldDef],
    sink: Option[SinkSpec] = None,
    /** Per-field-combination row counts (the reference's `count.perField`):
      * `count` groups of `records` each draw a member count — static,
      * min/max range, or weighted `"n->w"` choices. With an FK on the
      * same fields the runner fans children out of the parent frame
      * instead ([[Generator.fanOutChildren]]). */
    perField: Option[PerFieldDef] = None)

/** `count.perField` in both dialects: fieldNames + one of count /
  * min+max / weighted oneOf entries (`"3->0.7"` — the reference's
  * count-option spelling, TaskConversionRegistry one-of-weighted). */
final case class PerFieldDef(
    fieldNames: Seq[String],
    count: Option[Long] = None,
    min: Option[Int] = None,
    max: Option[Int] = None,
    oneOf: Option[Seq[String]] = None,
    distribution: Option[String] = None) {
  def toCounts: Generator.PerFieldCounts = {
    val weighted = oneOf.getOrElse(Nil).map { e =>
      e.split("->") match {
        case Array(v, w) => (v.trim.toInt, w.trim.toDouble)
        case Array(v) => (v.trim.toInt, 1.0)
        case _ => throw new IllegalArgumentException(s"perField oneOf entry '$e' (want n or n->w)")
      }
    }
    Generator.PerFieldCounts(count, min, max, weighted, distribution)
  }
}

/** `from` = child `"table.column"`, `to` = parent `"table.column"`;
  * `ratio` = children per parent (optional cardinality). Composite keys
  * (reference FK relations are field LISTS, `PlanModels.scala:27-76`) spell
  * the column part as a comma list: `"transactions.account_number,year"` —
  * the sampled unit is then the parent's distinct field TUPLE.
  */
final case class RelationshipDef(from: String, to: String, ratio: Option[Double] = None,
    /** Partial relationship (the reference's FK `nullability` block,
      * `core/foreignkey/strategy/NullabilityStrategy.scala`): this fraction
      * of child rows carries NULL FK fields instead of a sampled parent
      * key. `nullStrategy` picks which rows: `random` (default, keyed
      * hash — deterministic and partitioning-invariant), `head` (first
      * N%), `tail` (last N%). */
    nullPercentage: Option[Double] = None,
    nullStrategy: Option[String] = None,
    /** Reference FK `generationMode` (`GenerationModeStrategy.scala`):
      * `all-exist` (default) — every child carries a valid parent key;
      * `partial` — valid keys + the `nullability` fraction nulled (i.e. the
      * block above); `all-combinations` — the child is blocked into 2^n
      * groups covering every valid/invalid pattern of the n FK fields
      * ([[graft.generator.ForeignKeys.applyAllCombinations]]). */
    generationMode: Option[String] = None) {
  private def split(s: String): (String, Seq[String]) = {
    val i = s.indexOf('.')
    val cols =
      if (i <= 0 || i == s.length - 1) Nil
      else s.drop(i + 1).split(',').toSeq.map(_.trim).filter(_.nonEmpty)
    if (cols.isEmpty)
      throw new IllegalArgumentException(
        s"relationship endpoint '$s' is not table.column[,column...]")
    (s.take(i), cols)
  }
  def childTable: String = split(from)._1
  def childCols: Seq[String] = split(from)._2
  def childCol: String = childCols.head
  def parentTable: String = split(to)._1
  def parentCols: Seq[String] = split(to)._2
  def parentCol: String = parentCols.head
}

final case class ValidationDef(
    dataset: String,
    rules: Seq[RuleSpec],
    errorThreshold: Double = 0.0)

/** Per-field generator options beyond the core type dispatch — key names
  * match the reference's option constants verbatim
  * (`api/.../model/Constants.scala:84-112,137`) so the legacy dialect maps
  * 1:1 and the native dialect gains the same vocabulary under `options:`.
  *
  *  - `mean`+`stddev` → gaussian draw; `distribution: normal` alone →
  *    N(min, 1) (the reference's RANDN+min, RandomDataGenerator.scala:643);
  *    `distribution: exponential` + `distributionRateParam` → range-clamped
  *    exponential;
  *  - `incremental` (start value) → start + row index, collision-free;
  *  - `round` → ROUND(value, digits);
  *  - `dateExcludeWeekends` → weekday-only date draw;
  *  - `enableNull`/`nullProb` (default 0.1), `enableEdgeCase`/
  *    `edgeCaseProb` (default 0.5) → banded null / typed-edge-case
  *    injection around any non-computed generator
  *    (DataGenerator.scala:31-69 semantics: edge band first, then null);
  *  - array shapes: `arrayUniqueFrom` (subset without repetition),
  *    `arrayOneOf` (with repetition), `arrayWeightedOneOf` (`value:weight`
  *    entries), `arrayFixedSize`, `arrayEmptyProb`.
  */
final case class GenOptions(
    mean: Option[Double] = None,
    stddev: Option[Double] = None,
    distribution: Option[String] = None,
    distributionRateParam: Option[Double] = None,
    incremental: Option[Long] = None,
    round: Option[Int] = None,
    dateExcludeWeekends: Option[Boolean] = None,
    enableNull: Option[Boolean] = None,
    nullProb: Option[Double] = None,
    enableEdgeCase: Option[Boolean] = None,
    edgeCaseProb: Option[Double] = None,
    arrayEmptyProb: Option[Double] = None,
    arrayUniqueFrom: Option[Seq[String]] = None,
    arrayOneOf: Option[Seq[String]] = None,
    arrayWeightedOneOf: Option[Seq[String]] = None,
    arrayFixedSize: Option[Int] = None,
    /** `isUnique` on a generator whose draw space may collide (faker
      * expressions): uniquify by construction ([[graft.generator
      * .UniqueizeSpec]]). */
    unique: Option[Boolean] = None) {
  def isEmpty: Boolean = this == GenOptions()
}

/** One field of a task, dispatched on `type` to the [[FieldSpec]] ADT.
  * Types: int, double, exponential, oneOf, sequential, alphanum, regex,
  * template, date, timestamp, sql, boolean, struct (with `fields`),
  * array (with `element` for scalar elements or `fields` for struct
  * elements; `minLen`/`maxLen` bound the length).
  */
final case class FieldDef(
    name: String,
    `type`: String = "alphanum",
    lo: Option[Double] = None,
    hi: Option[Double] = None,
    prefix: Option[String] = None,
    pad: Option[Int] = None,
    pattern: Option[String] = None,
    template: Option[String] = None,
    values: Option[Seq[String]] = None,
    sql: Option[String] = None,
    start: Option[String] = None,
    days: Option[Int] = None,
    rate: Option[Double] = None,
    minLen: Option[Int] = None,
    maxLen: Option[Int] = None,
    fields: Option[Seq[FieldDef]] = None,
    element: Option[FieldDef] = None,
    /** Reference `options.omit`: helper fields other fields' sql can
      * reference, dropped from the output. NESTED omitted children are
      * excluded at spec construction (they can't be referenced); TOP-LEVEL
      * omitted fields generate and are dropped by [[MultiPlanRunner]]
      * after computed fields and FKs ran. */
    omit: Option[Boolean] = None,
    /** DDL type the generated value is cast to — the reference casts a
      * computed (sql/static) field to its DECLARED type
      * (`GeneratorUtil`'s typed temp columns); carried separately so the
      * `type:` dispatch stays on "sql". */
    castTo: Option[String] = None,
    /** Extended generator options (distributions, null/edge injection,
      * array shapes) — see [[GenOptions]]. */
    options: Option[GenOptions] = None) {

  private def keptChildren(fs: Seq[FieldDef]): Seq[FieldDef] =
    fs.filterNot(_.omit.contains(true))

  private def genOpts: GenOptions = options.getOrElse(GenOptions())

  /** Numeric dispatch honoring the distribution / incremental / round
    * options (reference RandomDataGenerator.scala:620-661: incremental
    * wins, then mean+stddev, then distribution, then uniform; `round`
    * wraps; int-like continuous draws get ROUND(...,0) + an integral
    * cast exactly as the reference's final CAST does). */
  private def numericSpec(defLo: Double, defHi: Double, intLike: Boolean): FieldSpec = {
    val o = genOpts
    val l = lo.getOrElse(defLo)
    val h = hi.getOrElse(defHi)
    val base: FieldSpec =
      if (o.incremental.isDefined) IncrementalField(name, o.incremental.get)
      else if (o.mean.isDefined && o.stddev.isDefined) NormalField(name, o.mean.get, o.stddev.get)
      else if (o.distribution.exists(_.equalsIgnoreCase("normal"))) NormalField(name, l, 1.0)
      else if (o.distribution.exists(_.equalsIgnoreCase("exponential")))
        ExpRangeField(name, l, h, o.distributionRateParam.getOrElse(1.0))
      else if (intLike) IntField(name, l.toLong, h.toLong)
      else DoubleField(name, l, h)
    val continuous = !(base.isInstanceOf[IntField] || base.isInstanceOf[IncrementalField])
    val rounded = o.round match {
      case Some(d) => RoundWrapSpec(base, d)
      case None if intLike && continuous => RoundWrapSpec(base, 0)
      case None => base
    }
    if (intLike && continuous) CastSpec(rounded, "bigint") else rounded
  }

  /** Null / edge-case injection around the dispatched spec (outermost, so
    * the banded draw sees the final typed value). Only non-computed specs:
    * [[EdgeNullWrapSpec]] construction-checks that. */
  private def withNullEdge(spec: FieldSpec): FieldSpec = {
    val o = genOpts
    if (!o.enableNull.contains(true) && !o.enableEdgeCase.contains(true)) spec
    // computed (sql/static) fields bypass the wrapper in the reference too
    // (DataGenerator.scala:40-42 returns the static literal before the
    // edge/null bands are built) — matching, not diverging
    else if (Generator.hasSqlDeep(spec)) spec
    else {
      val edges = if (o.enableEdgeCase.contains(true)) EdgeCases.forType(`type`) else Nil
      // a type with no edge literals (boolean, complex) collapses the edge
      // band to 0 — those rows draw the base value, not a surprise null
      val pe = if (edges.nonEmpty) o.edgeCaseProb.getOrElse(0.5) else 0.0
      val pn = if (o.enableNull.contains(true)) o.nullProb.getOrElse(0.1) else 0.0
      if (pe == 0.0 && pn == 0.0) spec
      else EdgeNullWrapSpec(spec, pe, pn, edges)
    }
  }

  def toSpec: FieldSpec = withNullEdge(baseSpec)

  private def baseSpec: FieldSpec = `type`.toLowerCase match {
    // inline DDL complex types (the reference's docker examples spell
    // `array<struct<txn_date: date, ...>>`, `map<string,string>`,
    // `decimal(5,2)` directly in `type:`) — parse with Spark's own DDL
    // parser and build default generators type-by-type. minLen/maxLen
    // bound a top-level array/map's length (the legacy dialect's
    // arrayMinLen/arrayMaxLen ride in through them).
    case t if FieldDef.isInlineDdl(t) =>
      // an inline DDL complex type WITH an explicit `fields:` list uses the
      // declared per-field generators, not DDL defaults: map<K,V>+fields is
      // a FIXED-KEY map (each field = one entry, kafka `headers` shape);
      // array<struct<...>>+fields generates the listed element fields;
      // struct<...>+fields likewise
      FieldDef.ddlType(`type`) match {
        case Some(m: org.apache.spark.sql.types.MapType) if fields.exists(_.nonEmpty) =>
          FixedMapSpec(name, keptChildren(fields.get).map(_.toSpec),
            m.keyType.catalogString, m.valueType.catalogString)
        case Some(org.apache.spark.sql.types.ArrayType(_: org.apache.spark.sql.types.StructType, _))
            if fields.exists(_.nonEmpty) =>
          ArraySpec(name, StructSpec("element", keptChildren(fields.get).map(_.toSpec)),
            minLen.getOrElse(0), maxLen.getOrElse(3))
        case Some(_: org.apache.spark.sql.types.StructType) if fields.exists(_.nonEmpty) =>
          StructSpec(name, keptChildren(fields.get).map(_.toSpec))
        case _ =>
          FieldDef.specFromDdl(name, `type`) match {
            case ar: ArraySpec =>
              ar.copy(minLen = minLen.getOrElse(ar.minLen), maxLen = maxLen.getOrElse(ar.maxLen))
            case m: MapSpec =>
              m.copy(minLen = minLen.getOrElse(m.minLen), maxLen = maxLen.getOrElse(m.maxLen))
            case other => other
          }
      }
    case "struct" | "object" | "record" =>
      StructSpec(name, keptChildren(fields.getOrElse(throw new IllegalArgumentException(
        s"$name: struct needs fields"))).map(_.toSpec))
    case "array" =>
      val o = genOpts
      val (mn, mx) = o.arrayFixedSize match {
        case Some(s) => (s, s)
        case None => (minLen.getOrElse(0), maxLen.getOrElse(3))
      }
      val base: FieldSpec =
        if (o.arrayUniqueFrom.exists(_.nonEmpty))
          UniqueFromArrayField(name, o.arrayUniqueFrom.get, mn, mx)
        else if (o.arrayOneOf.exists(_.nonEmpty)) {
          val vs = o.arrayOneOf.get
          ArraySpec(name, OneOfField("element", vs.map(v => (v, 1.0 / vs.size))), mn, mx)
        } else if (o.arrayWeightedOneOf.exists(_.nonEmpty))
          ArraySpec(name, OneOfField("element",
            FieldDef.parseWeighted(name, o.arrayWeightedOneOf.get)), mn, mx)
        else {
          val elem = element.map(_.toSpec)
            .orElse(fields.map(fs => StructSpec("element", keptChildren(fs).map(_.toSpec))))
            .getOrElse(AlphaNumField("element", 5, 12))
          ArraySpec(name, elem, mn, mx)
        }
      o.arrayEmptyProb.filter(_ > 0.0) match {
        case Some(p) => EmptyArrayWrapSpec(base, p)
        case None => base
      }
    case "int" | "integer" => numericSpec(0.0, 1000000.0, intLike = true)
    case "double" | "number" => numericSpec(0.0, 1.0, intLike = false)
    case "exponential" => ExponentialField(name, rate.getOrElse(1.0))
    case "oneof" | "enum" =>
      val vs = values.getOrElse(throw new IllegalArgumentException(s"$name: oneOf needs values"))
      OneOfField(name, vs.map(v => (v, 1.0 / vs.size)))
    case "sequential" => SequentialField(name, prefix.getOrElse(""), pad.getOrElse(10))
    case "uuid" => UuidField(name)
    case "regex" => RegexField(name,
      pattern.getOrElse(throw new IllegalArgumentException(s"$name: regex needs pattern")))
    case "template" | "faker" =>
      val t = TemplateField(name,
        template.getOrElse(throw new IllegalArgumentException(s"$name: template needs template")))
      // isUnique on a faker expression: the lexicon draw space is far
      // smaller than big row counts — uniquify by construction
      if (genOpts.unique.contains(true)) UniqueizeSpec(t) else t
    case "date" =>
      val (s0, d0) = (start.getOrElse("2022-01-01"), days.getOrElse(365))
      if (genOpts.dateExcludeWeekends.contains(true)) WeekdayDateField(name, s0, d0)
      else DateField(name, s0, d0)
    case "timestamp" => TimestampField(name, start.getOrElse("2022-01-01 00:00:00"),
      days.map(_ * 86400L).getOrElse(365L * 86400))
    case "sql" | "computed" =>
      val f = SqlField(name,
        sql.getOrElse(throw new IllegalArgumentException(s"$name: sql needs sql")))
      castTo.map(CastSpec(f, _)).getOrElse(f)
    case "boolean" => OneOfField(name, Seq(("true", 0.5), ("false", 0.5)))
    case "binary" | "bytes" => BytesField(name)
    case "alphanum" | "string" =>
      AlphaNumField(name, minLen.getOrElse(5), maxLen.getOrElse(math.max(5, minLen.getOrElse(5))))
    case other => throw new IllegalArgumentException(s"$name: unknown field type '$other'")
  }
}

object FieldDef {
  /** `arrayWeightedOneOf` entries (`value:weight`, value possibly
    * single-quoted — the reference's `'val1':0.2` spelling,
    * RandomDataGenerator.scala:416-427) → (value, weight) pairs.
    * [[OneOfField]] normalizes by the total itself. The weight separator
    * is the LAST colon so values containing colons survive. */
  def parseWeighted(field: String, entries: Seq[String]): Seq[(String, Double)] = {
    val pairs = entries.map(_.trim).filter(_.nonEmpty).map { e =>
      val i = e.lastIndexOf(':')
      require(i > 0 && i < e.length - 1,
        s"field '$field': bad weighted entry '$e' (expected value:weight)")
      val raw = e.substring(0, i).trim
      val v = if (raw.length >= 2 && raw.head == '\'' && raw.last == '\'')
        raw.substring(1, raw.length - 1) else raw
      val w = try e.substring(i + 1).trim.toDouble catch {
        case _: NumberFormatException => throw new IllegalArgumentException(
          s"field '$field': weight in '$e' is not a number")
      }
      require(w >= 0, s"field '$field': negative weight in '$e'")
      (v, w)
    }
    require(pairs.map(_._2).sum > 0, s"field '$field': total weight must be > 0")
    pairs
  }

  /** Is this `type:` string an inline DDL complex type? ONE predicate for
    * both YAML dialects. */
  def isInlineDdl(t: String): Boolean = {
    val lt = t.toLowerCase
    lt.startsWith("decimal(") || lt.startsWith("map<") || lt.contains("struct<")
  }

  /** The parsed Spark type of an inline DDL `type:` string, None when it
    * doesn't parse (callers then fall back to the non-DDL dispatch). */
  def ddlType(ddl: String): Option[org.apache.spark.sql.types.DataType] =
    try Some(org.apache.spark.sql.types.DataType.fromDDL(ddl)) catch { case _: Exception => None }

  /** Default generator specs for an inline DDL type (`struct<a: date>`,
    * `array<struct<...>>`, `map<string,string>`, `decimal(p,s)`), parsed
    * by Spark's own DDL parser so the grammar exactly matches what the
    * reference's `type:` strings mean to Spark.
    */
  def specFromDdl(name: String, ddl: String): FieldSpec = {
    import org.apache.spark.sql.types._
    def build(n: String, dt: DataType): FieldSpec = dt match {
      case StringType => AlphaNumField(n, 5, 12)
      // scalar fidelity: the declared DDL type IS the output type
      case IntegerType => CastSpec(IntField(n, 0L, 1000000L), "int")
      case ShortType => CastSpec(IntField(n, 0L, 32767L), "smallint")
      case ByteType => CastSpec(IntField(n, 0L, 127L), "tinyint")
      case LongType => IntField(n, 0L, 1000000L)
      case DoubleType => DoubleField(n, 0.0, 1000.0)
      case FloatType => CastSpec(DoubleField(n, 0.0, 1000.0), "float")
      case d: DecimalType => DecimalField(n, d.precision, d.scale)
      case BooleanType =>
        CastSpec(OneOfField(n, Seq(("true", 0.5), ("false", 0.5))), "boolean")
      case DateType => DateField(n, "2022-01-01", 365)
      case TimestampType => TimestampField(n, "2022-01-01 00:00:00", 365L * 86400)
      case BinaryType => BytesField(n)
      case st: StructType => StructSpec(n, st.fields.toSeq.map(f => build(f.name, f.dataType)))
      case ArrayType(et, _) => ArraySpec(n, build("element", et), 0, 3)
      case MapType(kt, vt, _) => MapSpec(n, build("key", kt), build("value", vt), 1, 3)
      case other => throw new IllegalArgumentException(
        s"field '$name': unsupported DDL type $other in '$ddl'")
    }
    val parsed =
      try org.apache.spark.sql.types.DataType.fromDDL(ddl)
      catch {
        case e: Exception => throw new IllegalArgumentException(
          s"field '$name': cannot parse type '$ddl' as a Spark DDL type", e)
      }
    build(name, parsed)
  }
}

object MultiPlanRunner {

  final case class MultiPlanOutcome(
      plan: String,
      insertOrder: Seq[String],
      /** Final per-task row counts (after cardinality adjustment). */
      counts: Map[String, Long],
      frames: Map[String, DataFrame],
      validations: Map[String, Seq[RuleResult]]) {
    def success: Boolean = validations.values.flatten.forall(_.success)
  }

  def parseYaml(text: String): MultiPlanSpec = parseJson(PlanRunner.yamlToJson(text))

  def parseJson(text: String): MultiPlanSpec = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    implicit val formats: Formats = DefaultFormats
    JsonMethods.parse(text).extract[MultiPlanSpec]
  }

  /** Internal per-row identity for deterministic FK sampling: unique by
    * construction, dropped before the frames are returned/written. */
  private val RowId = "__graft_rid"

  /** Generates every task in FK insert order, writes the sinks in that
    * order, and validates.
    *
    * All validation blocks of one dataset merge, in declaration order, into
    * one rule list; each block's `errorThreshold` stays on its own rules.
    * A validated dataset with a sink is counted in the pass that writes it:
    * [[RuleEngine.countAggs]] is attached to the written frame with
    * `Dataset.observe`, so the data is not generated a second time and the
    * FK lookups are not rebuilt. Without a sink, or with an `ignore` sink
    * whose target already exists (that write skips its plan), the counts
    * fall back to one aggregate job over the frame, the same as
    * [[RuleEngine.validateAll]] ([[Sinks.ObservedWrite]]). Either way each
    * failed rule takes up to 5 samples in one `limit(n)` job. Validations
    * are resolved before the first sink is written: an unknown dataset or
    * an expression that fails to resolve throws with nothing written.
    *
    * A rule that resolves but throws while it runs (with ANSI mode on, a
    * failed CAST or a division by zero) fails the write job of its
    * dataset's sink, since it runs inside that write. The sinks before it
    * in insert order are written; it and every later sink are not. An
    * `overwrite` DIRECTORY sink is cleared by Spark before its job runs, so
    * its old contents are lost and nothing new replaces them; a single-file
    * sink keeps its old file (the new one is staged first), and `append` /
    * `errorifexists` targets are left as they were. Validating after the
    * writes instead would have written every sink before throwing.
    */
  def run(spark: SparkSession, plan: MultiPlanSpec): MultiPlanOutcome = {
    // duplicate task names would silently corrupt the run: taskByName is
    // last-wins, insertOrder emits the name once per occurrence — one task
    // never generates and the survivor runs twice. Fail loudly instead.
    locally {
      val dups = plan.tasks.groupBy(_.name).collect { case (n, ts) if ts.size > 1 => n }
      require(dups.isEmpty,
        s"plan '${plan.name}' declares duplicate task names ${dups.mkString(", ")} — " +
          "rename the steps (e.g. qualify as <task>:<step> — a '.' would collide " +
          "with relationship table.column endpoints)")
    }
    val taskByName = plan.tasks.map(t => t.name -> t).toMap
    // every validation block of a dataset, merged in declaration order; a
    // block's errorThreshold travels on its own rules
    val rulesByDataset: Map[String, Seq[Rule]] = plan.validations.map { v =>
      if (!taskByName.contains(v.dataset))
        throw new IllegalArgumentException(s"validation references unknown dataset '${v.dataset}'")
      v.dataset -> v.rules.map(r => Rule(r.name, expr(r.expr), Some(v.errorThreshold)))
    }.groupMapReduce(_._1)(_._2)(_ ++ _)
    plan.relationships.foreach { r =>
      require(taskByName.contains(r.childTable) && taskByName.contains(r.parentTable),
        s"relationship ${r.from} -> ${r.to} references an undeclared task " +
          "(the table is the part before the FIRST dot; columns are a comma list — " +
          "schema-qualified endpoints like db.table.col are not supported)")
      require(r.childCols.size == r.parentCols.size,
        s"relationship ${r.from} -> ${r.to}: child and parent field lists differ in arity")
    }
    val edges = plan.relationships.map(r => r.parentTable -> r.childTable)
    val order = ForeignKeys.insertOrder(plan.tasks.map(_.name), edges)
    val counts = ForeignKeys.adjustCounts(
      plan.tasks.map(t => t.name -> t.count).toMap,
      plan.relationships.collect {
        case r if r.ratio.isDefined => (r.parentTable, r.childTable, r.ratio.get)
      })

    // generate parents before children so every FK samples from a frame
    // that already exists; one extra sequential field is the row identity
    val frames = scala.collection.mutable.LinkedHashMap.empty[String, DataFrame]
    var finalCounts = counts
    order.foreach { name =>
      val task = taskByName(name)
      val taskSeed = plan.seed ^ name.hashCode.toLong
      val rels = plan.relationships.filter(_.childTable == name)
      // perField on FK fields only composes cleanly when the FK covers
      // EXACTLY the perField tuple — a partial overlap would regenerate
      // part of a group's identity per row
      task.perField.foreach { pf =>
        val overlapping = rels.filter(r => r.childCols.exists(pf.fieldNames.contains))
        require(overlapping.forall(r => r.childCols.toSet == pf.fieldNames.toSet),
          s"task '$name': an FK overlaps the perField fields ${pf.fieldNames.mkString(",")} " +
            "partially — declare the FK on exactly the perField fields")
        require(overlapping.size <= 1,
          s"task '$name': multiple FKs target the perField fields — at most one can drive the fan-out")
      }
      val fkFan: Option[RelationshipDef] = task.perField.flatMap(pf =>
        rels.find(r => r.childCols.toSet == pf.fieldNames.toSet))
      val rowIdSpec = SequentialField(RowId, name + ":", 12)
      var df = (task.perField, fkFan) match {
        // FK-coupled: children fan straight out of the parent frame —
        // exact per-parent group sizes AND exact referential integrity,
        // no sampling join (Generator.fanOutChildren)
        case (Some(pf), Some(r)) =>
          val childSpecs = task.fields.filterNot(f => pf.fieldNames.contains(f.name))
            .map(_.toSpec) :+ rowIdSpec
          Generator.fanOutChildren(frames(r.parentTable), r.parentCols, r.childCols,
            childSpecs, pf.toCounts, seed = taskSeed)
        // standalone grouping: `count` groups, drawn member counts
        case (Some(pf), None) =>
          Generator.generatePerField(spark, counts(name),
            task.fields.map(_.toSpec) :+ rowIdSpec, pf.fieldNames, pf.toCounts,
            seed = taskSeed)
        case _ =>
          Generator.generate(spark, counts(name),
            task.fields.map(_.toSpec) :+ rowIdSpec, seed = taskSeed)
      }
      rels.filterNot(fkFan.contains).foreach { r =>
        // seed mixed PER RELATIONSHIP: a shared seed makes every FK on this
        // table hash the same (seed, row-id) pair — with equal parent key
        // counts the sampled indices coincide row-for-row, a fully
        // correlated joint distribution instead of independent draws
        df = ForeignKeys.assignKeys(
          df, RowId, r.childCols, frames(r.parentTable), r.parentCols,
          seed = plan.seed ^ (r.childCols.mkString(",") + "->" + r.parentTable).hashCode.toLong,
          maxLookup = 50000000L)
        // partial relationship: null out this fraction of the assigned FKs.
        // perField tasks carry HASHED member identities, not sequential row
        // indices — head/tail (and block layout below) would rank garbage,
        // so those paths degrade to the hash-keyed variants, same as the
        // fkFan branch.
        val seqIdentity = task.perField.isEmpty
        r.nullPercentage.filter(_ > 0).foreach { pct =>
          val strat = r.nullStrategy.getOrElse("random")
          require(seqIdentity || strat.equalsIgnoreCase("random"),
            s"task '$name': FK nullability strategy '$strat' needs sequential row " +
              "order, which a perField task doesn't have — use 'random'")
          df = ForeignKeys.applyNullability(df, RowId, r.childCols, pct, strat,
            if (seqIdentity) counts(name) else 0L,
            seed = plan.seed ^ ("null:" + r.childCols.sorted.mkString(",")).hashCode.toLong)
        }
        // all-combinations mode: block the child into 2^n valid/invalid
        // FK-field patterns (one narrow projection over the row identity)
        if (r.generationMode.exists(_.equalsIgnoreCase("all-combinations")))
          df = ForeignKeys.applyAllCombinations(df, RowId, r.childCols,
            if (seqIdentity) counts(name) else 0L,
            seed = plan.seed ^ ("combo:" + r.childCols.sorted.mkString(",")).hashCode.toLong)
      }
      // nullability still applies to the fanned FK (random only: head/tail
      // rank by the sequential row identity a fan-out doesn't carry)
      fkFan.foreach { r =>
        r.nullPercentage.filter(_ > 0).foreach { pct =>
          require(r.nullStrategy.forall(_.equalsIgnoreCase("random")),
            s"task '$name': FK nullability strategy '${r.nullStrategy.getOrElse("")}' needs " +
              "sequential row order, which a perField fan-out doesn't have — use 'random'")
          df = ForeignKeys.applyNullability(df, RowId, r.childCols, pct, "random", 0L,
            seed = plan.seed ^ ("null:" + r.childCols.sorted.mkString(",")).hashCode.toLong)
        }
        // fan-out identities aren't sequential → hash-assigned combination
        // blocks (every pattern still appears, ~uniform frequency)
        if (r.generationMode.exists(_.equalsIgnoreCase("all-combinations")))
          df = ForeignKeys.applyAllCombinations(df, RowId, r.childCols, 0L,
            seed = plan.seed ^ ("combo:" + r.childCols.sorted.mkString(",")).hashCode.toLong)
      }
      // exact row-count bookkeeping for perField tasks: static sizes are
      // arithmetic; drawn sizes take one count job on the narrow
      // generation plan (metadata-grade cost, documented)
      task.perField.foreach { pf =>
        // standalone static sizes are arithmetic (groups × per — the group
        // frame filters nothing); FK-fanned sizes are NOT: fanOutChildren
        // drops null-keyed parents and dedups repeated key tuples, so the
        // parent count × per product overstates — count the fanned frame
        // (one job on the narrow generation plan, metadata-grade cost)
        val exact =
          if (pf.toCounts.isStatic && fkFan.isEmpty) counts(name) * pf.toCounts.count.get
          else df.count()
        finalCounts += name -> exact
      }
      // top-level omit fields existed so computed fields / FKs could
      // reference them — drop them from the OUTPUT (reference omit-drop)
      val omitted = task.fields.filter(_.omit.contains(true)).map(_.name)
      frames(name) = df.drop(RowId).drop(omitted: _*)
    }

    // a validated dataset's rules are counted in the pass that writes its
    // sink; every write is built before the first one runs, so a rule that
    // fails to resolve throws before anything is written
    val checked = rulesByDataset.map { case (name, rules) =>
      name -> (rules,
        new Sinks.ObservedWrite(frames(name), taskByName(name).sink, RuleEngine.countAggs(rules)))
    }
    // sinks, in insert order (FK-safe for a consuming system)
    val results = order.flatMap { name =>
      checked.get(name) match {
        case Some((rules, w)) =>
          Some(name -> RuleEngine.withSamples(frames(name), rules,
            RuleEngine.foldCounts(w.run(), rules), numSamples = 5))
        case None =>
          taskByName(name).sink.foreach(Sinks.write(frames(name), _))
          None
      }
    }.toMap

    MultiPlanOutcome(plan.name, order, finalCounts, frames.toMap, results)
  }
}
