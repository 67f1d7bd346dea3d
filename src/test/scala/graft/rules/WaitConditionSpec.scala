package graft.rules

import graft.SparkSuite
import java.nio.file.Files

class WaitConditionSpec extends SparkSuite {
  import graft.SharedSpark.spark.implicits._

  test("dataExists gates on late-arriving data: closed → open across retries") {
    val dir = Files.createTempDirectory("graft_wait_data").toString + "/t"
    // nothing written yet: first probes fail; the injected sleep plays the
    // upstream job, landing qualifying data on the 3rd attempt
    var sleeps = 0
    val cond = DataExistsWait("parquet", dir, "score > 10", maxRetries = 5, retryIntervalMs = 1L)
    val met = cond.await(spark, _ => {
      sleeps += 1
      if (sleeps == 2) Seq((1L, 99)).toDF("id", "score").write.parquet(dir)
    })
    assert(met && sleeps == 2)
  }

  test("dataExists stays closed when data never satisfies the predicate") {
    val dir = Files.createTempDirectory("graft_wait_data2").toString + "/t"
    Seq((1L, 3), (2L, 7)).toDF("id", "score").write.parquet(dir)
    val cond = DataExistsWait("parquet", dir, "score > 10", maxRetries = 3, retryIntervalMs = 1L)
    var sleeps = 0
    assert(!cond.await(spark, _ => sleeps += 1))
    assert(sleeps == 3) // retried the full budget before giving up
  }

  test("fileExists opens when the sentinel file lands") {
    val dir = Files.createTempDirectory("graft_wait_file")
    val sentinel = dir.resolve("_READY")
    val cond = FileExistsWait(sentinel.toString, maxRetries = 5, retryIntervalMs = 1L)
    var sleeps = 0
    val met = cond.await(spark, _ => {
      sleeps += 1
      if (sleeps == 1) Files.createFile(sentinel)
    })
    assert(met && sleeps == 1)
    assert(cond.check(spark)) // idempotent once open
  }

  test("pause is always met and never retries") {
    val t0 = System.nanoTime()
    assert(PauseWait(30L).await(spark))
    assert((System.nanoTime() - t0) / 1000000 >= 30)
  }

  test("webhook: opens on 200, stays closed on 503 and on connection refusal") {
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    @volatile var healthy = false
    server.createContext("/health", (ex: com.sun.net.httpserver.HttpExchange) => {
      ex.sendResponseHeaders(if (healthy) 200 else 503, -1)
      ex.close()
    })
    server.start()
    val url = s"http://127.0.0.1:${server.getAddress.getPort}/health"
    try {
      val cond = WebhookWait(url, maxRetries = 4, retryIntervalMs = 1L)
      var sleeps = 0
      val met = cond.await(spark, _ => {
        sleeps += 1
        if (sleeps == 2) healthy = true
      })
      assert(met && sleeps == 2)
      // connection refused (nothing listens on the ephemeral port) = closed
      assert(!WebhookWait("http://127.0.0.1:1/x", maxRetries = 0).check(spark))
    } finally server.stop(0)
  }

  test("plan-level gate: dataExists wait wired through PlanRunner YAML") {
    import graft.plan.{MultiPlanRunner, Plans}
    val in = Files.createTempDirectory("graft_wait_plan").toString + "/in"
    Seq((1L, "good caption text"), (2L, "x")).toDF("id", "text").write.parquet(in)
    val yaml =
      s"""name: gated
         |source: {path: "$in"}
         |waitFor: {typ: dataExists, format: parquet, path: "$in", expr: "id = 1", maxRetries: 2, retryIntervalMs: 1}
         |rules:
         |  - {name: len, expr: "length(text) > 3"}
         |""".stripMargin
    val outcome = MultiPlanRunner.run(spark, Plans.parse(yaml))
    assert(outcome.waits.get("gated").contains(true))
    // exhausted gate: plan still runs (reference semantics) but success=false
    val yamlBad = yaml.replace("id = 1", "id = 999")
    val bad = MultiPlanRunner.run(spark, Plans.parse(yamlBad))
    assert(bad.waits.get("gated").contains(false) && !bad.success)
    assert(bad.validations.nonEmpty) // validations DID run after the gate
  }
}
