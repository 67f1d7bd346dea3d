package graft.plan

import graft.SparkSuite
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Parses the reference's NATIVE plan/task YAML layout (modeled on
  * `app/src/test/resources/sample/task/file/
  * parquet-balance-transaction-task.yaml` + its plan) and runs it on this
  * engine — the switch-without-rewriting-your-YAML contract.
  */
class LegacyPlanSpec extends SparkSuite {
  private val s = graft.SharedSpark.spark

  private def taskYaml(out: String): String =
    s"""name: "parquet_balance_and_transactions"
       |steps:
       |  - name: "balances"
       |    type: "parquet"
       |    count:
       |      records: 400
       |    options:
       |      path: "$out/balances"
       |    fields:
       |      - name: "account_number"
       |        options:
       |          regex: "ACC1[0-9]{5,10}"
       |          isUnique: true
       |      - name: "create_time"
       |        type: "timestamp"
       |      - name: "account_status"
       |        type: "string"
       |        options:
       |          oneOf:
       |            - "open"
       |            - "closed"
       |            - "suspended"
       |      - name: "balance"
       |        type: "double"
       |        options: {min: 0, max: 10000}
       |  - name: "transactions"
       |    type: "parquet"
       |    count:
       |      records: 100
       |      perField:
       |        fieldNames:
       |          - "account_number"
       |        count: 5
       |    options:
       |      path: "$out/transactions"
       |    fields:
       |      - name: "account_number"
       |      - name: "txn_id"
       |        options:
       |          regex: "txn-[0-9]{10}"
       |      - name: "amount"
       |        type: "double"
       |      - name: "memo"
       |        static: "batch"
       |""".stripMargin

  private val planYaml =
    """name: "balance_transaction_plan"
      |description: "Create balances then transactions"
      |tasks:
      |  - name: "parquet_transactions"
      |    dataSourceName: "parquet"
      |    enabled: true
      |  - name: "disabled_task"
      |    dataSourceName: "csv"
      |    enabled: false
      |sinkOptions:
      |  seed: "7"
      |  foreignKeys:
      |    - source:
      |        dataSource: "parquet"
      |        step: "balances"
      |        fields: [ "account_number" ]
      |      generate:
      |        - dataSource: "parquet"
      |          step: "transactions"
      |          fields: [ "account_number" ]
      |""".stripMargin

  test("reference-native plan+task YAML runs unchanged: FK, perField cardinality, sinks") {
    val out = Files.createTempDirectory("graft_legacy").toString
    val plan = LegacyPlan.parsePlan(planYaml,
      Map("parquet_transactions" -> taskYaml(out)))

    assert(plan.name == "balance_transaction_plan" && plan.seed == 7L)
    assert(plan.tasks.map(_.name) == Seq("balances", "transactions"))
    // the disabled task never resolved a file; FK picked up the child
    // step's count.perField as the cardinality ratio
    assert(plan.relationships ==
      Seq(RelationshipDef("transactions.account_number", "balances.account_number", Some(5.0))))

    val o = MultiPlanRunner.run(s, plan)
    assert(o.insertOrder == Seq("balances", "transactions"))
    // perField ratio drives the child count: 400 parents × 5
    assert(o.counts("balances") == 400L && o.counts("transactions") == 2000L)

    val balances = s.read.parquet(s"$out/balances")
    val txns = s.read.parquet(s"$out/transactions")
    assert(balances.count() == 400 && txns.count() == 2000)
    // field-option generators made it through: regex, oneOf, bounds, static
    assert(balances.where(!col("account_number").rlike("^ACC1[0-9]{5,10}$")).isEmpty)
    assert(balances.where(!col("account_status").isin("open", "closed", "suspended")).isEmpty)
    assert(balances.where(col("balance") < 0 || col("balance") > 10000).isEmpty)
    assert(txns.where(col("memo") =!= "batch").isEmpty)
    assert(txns.where(!col("txn_id").rlike("^txn-[0-9]{10}$")).isEmpty)
    // referential integrity via the FK sampling join
    assert(txns.join(balances.select("account_number"), Seq("account_number"), "left_anti").isEmpty)
    // isUnique honored on the parent key
    assert(balances.select("account_number").distinct().count() == 400)
  }

  test("plan validation references resolve to validation files and run") {
    val plan = planYaml + "validations:\n  - \"balance_checks\"\n"
    val vYaml =
      """name: "balance_checks"
        |dataSources:
        |  parquet:
        |    - options: {}
        |      validations:
        |        - field: balance
        |          validation:
        |            - {type: between, min: 0, max: 10000}
        |            - {type: meanBetween, min: 100, max: 9000}
        |""".stripMargin
    val svs = LegacyPlan.resolveValidations(plan, Seq(vYaml))
    assert(svs.size == 1 && svs.head.rules.size == 1 && svs.head.datasetChecks.size == 1)
    // runs against the generated parent frame
    val out = Files.createTempDirectory("graft_legacy3").toString
    val o = MultiPlanRunner.run(s,
      LegacyPlan.parsePlan(plan, Map("parquet_transactions" -> taskYaml(out))))
    val results = graft.rules.LegacyValidation.validate(o.frames("balances"), svs.head)
    assert(results.forall(_.success), results.filterNot(_.success).map(_.rule).toString)
    // unknown reference throws rather than silently passing
    intercept[IllegalArgumentException](
      LegacyPlan.resolveValidations(plan, Nil))
  }

  test("all reference scalar types parse; unknown types fail loudly") {
    val yaml =
      """name: types
        |steps:
        |  - name: "t"
        |    count: {records: 40}
        |    fields:
        |      - {name: a, type: short}
        |      - {name: b, type: byte}
        |      - {name: c, type: binary}
        |      - {name: d, type: long, options: {min: 5, max: 9}}
        |""".stripMargin
    val o = MultiPlanRunner.run(s,
      MultiPlanSpec("ty", 3L, LegacyPlan.parseTaskFile(yaml)))
    val df = o.frames("t")
    assert(df.schema("c").dataType == org.apache.spark.sql.types.BinaryType)
    assert(df.where(col("a") < 0 || col("a") > 32767).isEmpty)
    assert(df.where(col("b") < 0 || col("b") > 127).isEmpty)
    assert(df.where(col("d") < 5 || col("d") > 9).isEmpty)
    assert(df.select(length(col("c"))).distinct().head().getInt(0) == 16)
    // unknown type names are a loud parse error, not silent random strings
    val e = intercept[IllegalArgumentException](LegacyPlan.parseTaskFile(
      yaml.replace("type: short", "type: sequentail")))
    assert(e.getMessage.contains("unknown legacy field type 'sequentail'"))
  }

  test("composite (multi-field) FK: child tuples exist together in the parent") {
    // reference FK relations are field LISTS (api/.../model/PlanModels.scala:
    // 27-76) — the sampled unit must be the parent's (account, currency)
    // TUPLE: independent per-column sampling would fabricate combinations
    // no parent row has
    val planY =
      """name: "composite_fk"
        |tasks:
        |  - name: "t"
        |    dataSourceName: "parquet"
        |sinkOptions:
        |  foreignKeys:
        |    - source:
        |        dataSource: "parquet"
        |        step: "accounts"
        |        fields: [ "account_number", "currency" ]
        |      generate:
        |        - dataSource: "parquet"
        |          step: "payments"
        |          fields: [ "account_number", "currency" ]
        |""".stripMargin
    val taskY =
      """name: "t"
        |steps:
        |  - name: "accounts"
        |    count: {records: 30}
        |    fields:
        |      - {name: account_number, options: {isUnique: true}}
        |      - name: currency
        |        options: {oneOf: ["USD", "EUR", "SGD"]}
        |  - name: "payments"
        |    count: {records: 500}
        |    fields:
        |      - {name: account_number}
        |      - {name: currency}
        |      - {name: amount, type: double}
        |""".stripMargin
    val plan = LegacyPlan.parsePlan(planY, Map("t" -> taskY))
    assert(plan.relationships == Seq(RelationshipDef(
      "payments.account_number,currency", "accounts.account_number,currency", None)))
    val o = MultiPlanRunner.run(s, plan)
    val accounts = o.frames("accounts")
    val payments = o.frames("payments")
    // every child PAIR appears together in a parent row — per-column
    // containment alone would also hold for fabricated cross-combinations,
    // the tuple anti-join is the real assertion
    assert(payments.join(accounts.select("account_number", "currency"),
      Seq("account_number", "currency"), "left_anti").isEmpty)
    // 30 parents × 3 currencies would allow 90 fake combos; only the 30
    // real tuples may occur
    assert(payments.select("account_number", "currency").distinct().count() <= 30)
    // deterministic across runs
    val again = MultiPlanRunner.run(s, plan)
    assert(payments.exceptAll(again.frames("payments")).isEmpty)
  }

  test("static values with apostrophes/backslashes survive the SQL round-trip") {
    val y =
      """name: t
        |steps:
        |  - name: "st"
        |    count: {records: 5}
        |    fields:
        |      - {name: who, static: "O'Brien"}
        |      - {name: path, static: "C:\\dir"}
        |""".stripMargin
    val o = MultiPlanRunner.run(s, MultiPlanSpec("st", 1L, LegacyPlan.parseTaskFile(y)))
    assert(o.frames("st").where(col("who") =!= "O'Brien" || col("path") =!= "C:\\dir").isEmpty)
  }

  test("non-file step types with an options.path do NOT silently write parquet") {
    val y =
      """name: t
        |steps:
        |  - name: "db"
        |    type: "jdbc"
        |    count: {records: 5}
        |    options: {path: "/tmp/should_not_exist_graft"}
        |    fields: [{name: v, type: integer}]
        |""".stripMargin
    val tasks = LegacyPlan.parseTaskFile(y)
    assert(tasks.head.sink.isEmpty) // delivery for jdbc is a separate concern
  }

  test("same step name under two task files QUALIFIES as <task>:<step>, FKs resolve by dataSource") {
    // legal reference YAML (account-create-plan.yaml shape): two enabled
    // task files each declaring a step 'products' — the reference
    // addresses them by (dataSource, step); here the colliding names
    // qualify and FK references resolve through the dataSource
    def dupTask(n: String, uniq: Boolean): String =
      s"""name: $n
         |steps:
         |  - name: "products"
         |    count: {records: 10}
         |    fields:
         |      - {name: pid, options: {isUnique: "$uniq"}}
         |""".stripMargin
    val planY =
      """name: dup
        |tasks:
        |  - {name: "a", dataSourceName: "parquet"}
        |  - {name: "b", dataSourceName: "csv"}
        |sinkOptions:
        |  foreignKeys:
        |    - source: {dataSource: "parquet", step: "products", fields: ["pid"]}
        |      generate:
        |        - {dataSource: "csv", step: "products", fields: ["pid"]}
        |""".stripMargin
    val plan = LegacyPlan.parsePlan(planY,
      Map("a" -> dupTask("a", uniq = true), "b" -> dupTask("b", uniq = false)))
    assert(plan.tasks.map(_.name).sorted == Seq("a:products", "b:products"))
    assert(plan.relationships == Seq(
      RelationshipDef("b:products.pid", "a:products.pid", None)))
    val o = MultiPlanRunner.run(s, plan)
    assert(o.frames("b:products").join(o.frames("a:products").select("pid"),
      Seq("pid"), "left_anti").isEmpty)
    // and the runner itself guards direct MultiPlanSpec construction
    val t = TaskDef("same", 5, Seq(FieldDef("v", "int")))
    val e2 = intercept[IllegalArgumentException](
      MultiPlanRunner.run(s, MultiPlanSpec("dup", 1L, Seq(t, t))))
    assert(e2.getMessage.contains("duplicate task names"))
  }

  test("deployed folder layout: plan + task folder + validation folder, one call") {
    // the reference's docker shape: PLAN_FILE_PATH + TASK_FOLDER_PATH +
    // VALIDATION_FOLDER_PATH — task summaries resolve to the folder file
    // whose `name:` matches (NOT the filename), validations by reference
    val root = Files.createTempDirectory("graft_folder")
    val out = root.resolve("out").toString
    val taskDir = Files.createDirectory(root.resolve("task"))
    val valDir = Files.createDirectory(root.resolve("validation"))
    // filename deliberately unrelated to the declared name
    Files.writeString(taskDir.resolve("anything.yaml"), taskYaml(out))
    Files.writeString(taskDir.resolve("skipme.txt"), "not yaml")
    Files.writeString(valDir.resolve("checks.yaml"),
      s"""name: "balance_checks"
         |dataSources:
         |  parquet:
         |    - options: {path: "$out/balances"}
         |      validations:
         |        - field: balance
         |          validation:
         |            - {type: between, min: 0, max: 10000}
         |""".stripMargin)
    // folder resolution keys on the task file's own `name:` — the summary
    // must use it (the shared fixture's explicit-map tests may diverge)
    val planWithVal = (planYaml + "validations:\n  - \"balance_checks\"\n")
      .replace("\"parquet_transactions\"", "\"parquet_balance_and_transactions\"")
    val o = MultiPlanRunner.run(s,
      Plans.parse(planWithVal, Some(TaskFolders(taskDir.toString, Some(valDir.toString)))))
    assert(o.insertOrder == Seq("balances", "transactions"))
    assert(o.counts("transactions") == 2000L)
    // the validation ran against the SINK path the task wrote
    assert(o.validations.size == 1 && o.validations.head._1 == "parquet")
    assert(o.success, o.validations.toString)
    // a plan referencing a task with no matching file fails loudly
    val e = intercept[IllegalArgumentException](
      Plans.parse(planYaml.replace("parquet_transactions", "ghost_task"),
        Some(TaskFolders(taskDir.toString))))
    assert(e.getMessage.contains("no task file supplied for 'ghost_task'"))
  }

  test("nested struct/array fields in reference task YAML (incl. array<T> and unwrap)") {
    // the shape of the reference's simple-json-task / json-array-unwrap /
    // kafka-streaming samples: type struct + fields, type array + fields
    // (struct elements), type array<string>, arrayMinLen/arrayMaxLen,
    // field-level unwrapTopLevelArray, options saveMode/numPartitions
    val out = Files.createTempDirectory("graft_nested").toString
    val y =
      s"""name: t
         |steps:
         |  - name: "accounts"
         |    type: "json"
         |    count: {records: 20}
         |    options: {path: "$out/accounts", saveMode: "overwrite", numPartitions: 2}
         |    fields:
         |      - name: "id"
         |        options: {regex: "A[0-9]{4}"}
         |      - name: "details"
         |        type: "struct"
         |        fields:
         |          - {name: "city", options: {expression: "#{Address.city}"}}
         |          - {name: "ua", options: {expression: "#{Internet.userAgentAny}"}}
         |          - {name: "ip", options: {expression: "#{Internet.ipV4Address}"}}
         |      - name: "transactions"
         |        type: "array"
         |        options: {arrayMinLen: 1, arrayMaxLen: 3}
         |        fields:
         |          - {name: "amount", type: "double"}
         |          - {name: "tags", type: "array<string>"}
         |""".stripMargin
    val o = MultiPlanRunner.run(s, MultiPlanSpec("n", 3L, LegacyPlan.parseTaskFile(y)))
    val df = o.frames("accounts")
    assert(df.count() == 20)
    assert(df.where(col("details.city").isNull).isEmpty)
    assert(df.where(!col("details.ip").rlike("^[0-9]+\\.[0-9]+\\.[0-9]+\\.[0-9]+$")).isEmpty)
    assert(df.where(size(col("transactions")) < 1 || size(col("transactions")) > 3).isEmpty)
    assert(df.select(explode(col("transactions")).as("t"))
      .where(col("t.amount").isNull || col("t.tags").isNull).isEmpty)
    // numPartitions rode through: exactly 2 part files at the sink
    assert(new java.io.File(s"$out/accounts").listFiles()
      .count(_.getName.startsWith("part-")) == 2)

    // field-level unwrapTopLevelArray (json-array-unwrap sample shape):
    // the single array column writes as ONE bare JSON array document
    val uy =
      s"""name: u
         |steps:
         |  - name: "records"
         |    type: "json"
         |    count: {records: 1}
         |    options: {path: "$out/unwrap.json"}
         |    fields:
         |      - name: "records"
         |        type: "array"
         |        options: {arrayMinLen: 3, arrayMaxLen: 3, unwrapTopLevelArray: true}
         |        fields:
         |          - {name: "id", options: {regex: "ID[0-9]{3}"}}
         |          - {name: "name", options: {expression: "#{Name.firstName}"}}
         |""".stripMargin
    MultiPlanRunner.run(s, MultiPlanSpec("u", 4L, LegacyPlan.parseTaskFile(uy)))
    val text = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$out/unwrap.json"))).trim
    assert(text.startsWith("[") && text.endsWith("]") && text.count(_ == '{') == 3, text)
  }

  test("computed fields inside structs, omit helpers, comma oneOf, implicit struct") {
    // the nested-json-with-omit-and-sql sample's shape: sql children inside
    // structs referencing TOP-LEVEL fields (incl. omitted helpers), nested
    // omit dropped from output, oneOf as a comma string, a field with
    // `fields:` but no `type:` is implicitly a struct
    val y =
      s"""name: t
         |steps:
         |  - name: "payments"
         |    count: {records: 25}
         |    fields:
         |      - name: "temp_cents"
         |        type: "long"
         |        options: {omit: true, min: 1000, max: 500000}
         |      - name: "amount"
         |        type: "double"
         |        options: {sql: "temp_cents / 100.0"}
         |      - name: "status"
         |        options: {oneOf: "ACTIVE,PENDING,CLOSED"}
         |      - name: "payment_information"
         |        fields:
         |          - name: "summary"
         |            options: {sql: "CONCAT('AMT-', CAST(amount AS INT))"}
         |          - name: "method"
         |            options: {oneOf: ["CARD", "PAYPAL"]}
         |          - name: "temp_flag"
         |            options: {omit: true, static: "x"}
         |""".stripMargin
    val o = MultiPlanRunner.run(s, MultiPlanSpec("p", 7L, LegacyPlan.parseTaskFile(y)))
    val df = o.frames("payments")
    assert(df.count() == 25)
    // top-level omit helper referenced by sql, then dropped from output
    assert(!df.columns.contains("temp_cents"))
    assert(df.where(col("amount") < 10.0 || col("amount") > 5000.0).isEmpty)
    // implicit struct with a sql child referencing the computed top-level
    assert(df.where(col("payment_information.summary") =!=
      concat(lit("AMT-"), col("amount").cast("int").cast("string"))).isEmpty)
    assert(df.where(!col("payment_information.method").isin("CARD", "PAYPAL")).isEmpty)
    // nested omit child never appears
    assert(!df.select("payment_information.*").columns.contains("temp_flag"))
    // comma-string oneOf
    assert(df.where(!col("status").isin("ACTIVE", "PENDING", "CLOSED")).isEmpty)
  }

  test("real-time body mapping: messageBody/httpBody become body + value=TO_JSON(body)") {
    // reference TaskBuilder.realTimeBody — kafka/http steps declare the
    // payload under messageBody/httpBody; runtime fields are `body` (the
    // struct) and `value` (its JSON serialization); sibling sql like
    // body.account_id resolves against the renamed struct
    val y =
      s"""name: t
         |steps:
         |  - name: "events"
         |    count: {records: 15}
         |    fields:
         |      - name: "key"
         |        options: {sql: "body.account_id"}
         |      - name: "messageBody"
         |        fields:
         |          - {name: "account_id", options: {regex: "ACC[0-9]{5}"}}
         |          - {name: "amount", type: "double"}
         |""".stripMargin
    val o = MultiPlanRunner.run(s, MultiPlanSpec("rt", 5L, LegacyPlan.parseTaskFile(y)))
    val df = o.frames("events")
    assert(df.columns.sorted.toSeq == Seq("body", "key", "value"))
    assert(df.where(col("key") =!= col("body.account_id")).isEmpty)
    // value is the serialized payload the sink would send
    assert(df.where(!col("value").startsWith("{\"account_id\":\"ACC")).isEmpty)
  }

  test("DDL types, chained sibling sql, bare sibling refs (docker example shapes)") {
    val y =
      s"""name: t
         |steps:
         |  - name: "accounts"
         |    count: {records: 20}
         |    fields:
         |      - {name: balance, type: "decimal(7,2)"}
         |      - {name: attrs, type: "map<string,string>"}
         |      - {name: history, type: "array<struct<txn_date: date, amount: double, tags: array<string>>>"}
         |      - name: "details"
         |        type: "struct"
         |        fields:
         |          - {name: email, options: {expression: "#{Internet.emailAddress}"}}
         |          - name: "email_domain"
         |            options: {sql: "SUBSTRING_INDEX(details.email, '@', -1)"}
         |          - name: "domain_len"
         |            type: "integer"
         |            options: {sql: "LENGTH(email_domain)"}
         |      - {name: state, options: {expression: "#{Address.state}"}}
         |""".stripMargin
    val o = MultiPlanRunner.run(s, MultiPlanSpec("ddl", 9L, LegacyPlan.parseTaskFile(y)))
    val df = o.frames("accounts")
    import org.apache.spark.sql.types._
    assert(df.schema("balance").dataType == DecimalType(7, 2))
    assert(df.schema("attrs").dataType.isInstanceOf[MapType])
    val hist = df.schema("history").dataType.asInstanceOf[ArrayType]
      .elementType.asInstanceOf[StructType]
    assert(hist.fieldNames.toSeq == Seq("txn_date", "amount", "tags"))
    assert(df.where(org.apache.spark.sql.functions.map_keys(col("attrs")).isNull).isEmpty)
    // chained sibling sql: email_domain refs details.email (self-path),
    // domain_len refs email_domain by BARE sibling name
    assert(df.where(col("details.email_domain") =!=
      substring_index(col("details.email"), "@", -1)).isEmpty)
    assert(df.where(col("details.domain_len") =!= length(col("details.email_domain"))).isEmpty)
    assert(df.where(col("state").isNull).isEmpty)
  }

  test("element-scoped sql + fixed-key maps + mutual refs (reference showcase shapes)") {
    // the advanced-kafka / complex-financial shapes: headers is a FIXED-KEY
    // map whose sql entries read body's plain fields; body's metadata reads
    // a plain headers entry back (mutual reference, resolved by plain-subset
    // pre-staging); transaction sql is ELEMENT-scoped with chaining and a
    // nested struct echoing the outer element scope
    val y =
      s"""name: t
         |steps:
         |  - name: "events"
         |    count: {records: 30}
         |    fields:
         |      - name: "key"
         |        type: "string"
         |        options: {sql: "body.customer_id"}
         |      - name: "headers"
         |        type: "map<string, string>"
         |        fields:
         |          - {name: "customer-id", type: string, options: {sql: "body.customer_id"}}
         |          - {name: "source-system", type: string, options: {oneOf: ["web", "mobile"]}}
         |      - name: "body"
         |        type: "struct"
         |        fields:
         |          - {name: customer_id, type: string, options: {regex: "CUST[0-9]{6}"}}
         |          - name: "txns"
         |            type: "array"
         |            options: {arrayMinLen: 2, arrayMaxLen: 5}
         |            fields:
         |              - {name: amount, type: double, options: {min: -100, max: 100}}
         |              - name: "direction"
         |                type: "string"
         |                options: {sql: "CASE WHEN txns.amount > 0 THEN 'CREDIT' ELSE 'DEBIT' END"}
         |              - name: "tag"
         |                type: "string"
         |                options: {sql: "CONCAT(txns.direction, ':', body.customer_id)"}
         |              - name: "meta"
         |                type: "struct"
         |                fields:
         |                  - {name: echo, type: string, options: {sql: "txns.direction"}}
         |          - name: "metadata"
         |            type: "struct"
         |            fields:
         |              - {name: source, type: string, options: {sql: "headers['source-system']"}}
         |""".stripMargin
    val o = MultiPlanRunner.run(s, MultiPlanSpec("k", 5L, LegacyPlan.parseTaskFile(y)))
    val df = o.frames("events").cache()
    import org.apache.spark.sql.types._
    assert(df.schema("headers").dataType == MapType(StringType, StringType, true))
    // fixed keys present; sql entry equals the body field it references
    assert(df.where(element_at(col("headers"), "customer-id") =!= col("body.customer_id")).isEmpty)
    assert(df.where(!element_at(col("headers"), "source-system").isin("web", "mobile")).isEmpty)
    assert(df.where(col("key") =!= col("body.customer_id")).isEmpty)
    // mutual reference: body.metadata.source echoes the plain headers entry
    assert(df.where(col("body.metadata.source") =!=
      element_at(col("headers"), "source-system")).isEmpty)
    // element-scoped: every element's direction matches ITS amount; rows
    // with both directions exist (row-scoped sql could not produce them)
    val t = df.select(col("body.customer_id").as("cid"), explode(col("body.txns")).as("t"))
    assert(t.where(col("t.direction") =!=
      when(col("t.amount") > 0, "CREDIT").otherwise("DEBIT")).isEmpty)
    assert(t.where(col("t.tag") =!= concat(col("t.direction"), lit(":"), col("cid"))).isEmpty)
    assert(t.where(col("t.meta.echo") =!= col("t.direction")).isEmpty)
    assert(df.where(size(array_distinct(col("body.txns.direction"))) === 2).count() > 0)
    df.unpersist()
  }

  test("deep chained computed fields across nested struct levels (complex-financial shape)") {
    val y =
      s"""name: t
         |steps:
         |  - name: "customers"
         |    count: {records: 25}
         |    fields:
         |      - name: "customer_info"
         |        type: "struct"
         |        fields:
         |          - name: "personal"
         |            type: "struct"
         |            fields:
         |              - {name: full_name, type: string, options: {expression: "#{Name.name}"}}
         |              - name: "first_name"
         |                type: "string"
         |                options: {sql: "SPLIT(customer_info.personal.full_name, ' ')[0]"}
         |              - name: "email"
         |                type: "string"
         |                options: {sql: "LOWER(CONCAT(customer_info.personal.first_name, '@x.com'))"}
         |      - name: "greeting"
         |        type: "string"
         |        options: {sql: "CONCAT('hi ', customer_info.personal.first_name)"}
         |""".stripMargin
    val o = MultiPlanRunner.run(s, MultiPlanSpec("cf", 3L, LegacyPlan.parseTaskFile(y)))
    val df = o.frames("customers")
    // chained: email depends on first_name which depends on full_name —
    // declaration order is dependency order here, but resolution is by the
    // FULL self-path (the staging machinery that existed before could not
    // follow a chain two struct levels down)
    assert(df.where(col("customer_info.personal.first_name") =!=
      split(col("customer_info.personal.full_name"), " ").getItem(0)).isEmpty)
    assert(df.where(col("customer_info.personal.email") =!=
      lower(concat(col("customer_info.personal.first_name"), lit("@x.com")))).isEmpty)
    // a SIBLING top-level spec referencing the computed path orders after it
    assert(df.where(col("greeting") =!=
      concat(lit("hi "), col("customer_info.personal.first_name"))).isEmpty)
  }

  test("spark-3.5 compat: decimal-literal aggregate zero and sql type casts") {
    val y =
      s"""name: t
         |steps:
         |  - name: "accts"
         |    count: {records: 15}
         |    fields:
         |      - name: "txns"
         |        type: "array"
         |        options: {arrayMinLen: 1, arrayMaxLen: 4}
         |        fields:
         |          - {name: amount, type: double, options: {min: 1, max: 10}}
         |      - name: "total"
         |        type: "double"
         |        options: {sql: "aggregate(txns.amount, 0.0, (acc, x) -> acc + x)"}
         |      - name: "n_txns"
         |        type: "integer"
         |        options: {sql: "SIZE(txns)"}
         |""".stripMargin
    val o = MultiPlanRunner.run(s, MultiPlanSpec("agg", 2L, LegacyPlan.parseTaskFile(y)))
    val df = o.frames("accts")
    import org.apache.spark.sql.types._
    // the decimal-literal zero (Spark 4 analysis error without the shim)
    // aggregates; declared types are honored on computed fields
    assert(df.schema("total").dataType == DoubleType)
    assert(df.schema("n_txns").dataType == IntegerType)
    assert(df.where(abs(col("total") -
      aggregate(col("txns"), lit(0.0), (a, x) => a + x.getField("amount"))) > 1e-9).isEmpty)
    assert(df.where(col("n_txns") =!= size(col("txns"))).isEmpty)
  }

  test("task file alone parses to runnable tasks") {
    val out = Files.createTempDirectory("graft_legacy2").toString
    val tasks = LegacyPlan.parseTaskFile(taskYaml(out))
    assert(tasks.map(_.name) == Seq("balances", "transactions"))
    assert(tasks.head.sink.exists(_.path == s"$out/balances"))
    val o = MultiPlanRunner.run(s, MultiPlanSpec("solo", 1L, tasks.take(1)))
    assert(o.frames("balances").count() == 400)
  }

  test("FK on a disabled data source drops with a warning, enabled-but-missing step still aborts") {
    // reference ForeignKeyValidator.scala:42-53: multi-source plans run
    // with a subset of sources warn + skip the FK, never abort — but the
    // source must be DECLARED (an undeclared name is a typo and aborts)
    val planYaml =
      """name: "p"
        |tasks:
        |  - name: "t1"
        |    dataSourceName: "json"
        |  - name: "jms_task"
        |    dataSourceName: "solace"
        |    enabled: false
        |sinkOptions:
        |  foreignKeys:
        |    - source: {dataSource: "solace", step: "jms_account", fields: ["account_id"]}
        |      generate:
        |        - {dataSource: "json", step: "accounts", fields: ["account_id"]}
        |""".stripMargin
    val taskYaml =
      """name: "t1"
        |steps:
        |  - name: "accounts"
        |    count: {records: 5}
        |    fields:
        |      - name: "account_id"
        |        options: {regex: "ACC[0-9]{4}"}
        |""".stripMargin
    val spec = LegacyPlan.parsePlan(planYaml, Map("t1" -> taskYaml))
    assert(spec.relationships.isEmpty, "FK with disabled source dropped")
    assert(MultiPlanRunner.run(s, spec).frames("accounts").count() == 5)
    // a typo INSIDE an enabled source stays loud
    val typo = planYaml.replace("dataSource: \"solace\", step: \"jms_account\"",
      "dataSource: \"json\", step: \"nope\"")
    val e = intercept[IllegalArgumentException] {
      val sp = LegacyPlan.parsePlan(typo, Map("t1" -> taskYaml))
      MultiPlanRunner.run(s, sp)
    }
    assert(e.getMessage != null)
  }

  test("boolean options accept YAML 1.1 spellings and fail with the field named") {
    assert(LegacyPlan.parseBool("yes", "explode"))
    assert(LegacyPlan.parseBool("ON", "explode"))
    assert(LegacyPlan.parseBool("TRUE", "explode"))
    assert(!LegacyPlan.parseBool("No", "explode"))
    assert(!LegacyPlan.parseBool("off", "explode"))
    assert(!LegacyPlan.parseBool("false", "explode"))
    val e = intercept[IllegalArgumentException](LegacyPlan.parseBool("maybe", "explode"))
    assert(e.getMessage.contains("explode") && e.getMessage.contains("maybe"))
  }
}
