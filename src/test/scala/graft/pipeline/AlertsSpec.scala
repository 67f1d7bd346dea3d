package graft.pipeline

import graft.SparkSuite
import graft.plan.{MultiPlanRunner, PlanSpec}
import java.nio.file.Files

class AlertsSpec extends SparkSuite {
  private val s = graft.SharedSpark.spark
  import graft.SharedSpark.spark.implicits._

  private def withServer(f: (String, () => Seq[String]) => Unit): Unit = {
    val bodies = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/hook", (ex: com.sun.net.httpserver.HttpExchange) => {
      bodies.add(new String(ex.getRequestBody.readAllBytes(), "UTF-8"))
      ex.sendResponseHeaders(200, -1); ex.close()
    })
    server.start()
    try f(s"http://127.0.0.1:${server.getAddress.getPort}/hook",
      () => bodies.toArray(Array.empty[String]).toSeq)
    finally server.stop(0)
  }

  private def runPlan(passes: Boolean): MultiPlanRunner.MultiPlanOutcome = {
    val in = Files.createTempDirectory("graft_alert_in").toString
    Seq((1L, "hello"), (2L, "ok")).toDF("id", "text").write.mode("overwrite").parquet(in)
    val expr = if (passes) "id > 0" else "id > 99"
    MultiPlanRunner.run(s, PlanSpec.parse(
      s"""{"name":"p","source":{"path":"$in"},"rules":[{"name":"r1","expr":"$expr"}]}""").lower)
  }

  test("trigger matrix + payload: failure-triggered alert fires only on failure") {
    withServer { (url, received) =>
      val good = runPlan(passes = true)
      val bad = runPlan(passes = false)
      // OnFailure: silent on success, fires on failure
      assert(Alerts.alert(good, url, Alerts.OnFailure).isEmpty)
      assert(Alerts.alert(bad, url, Alerts.OnFailure).contains(true))
      // OnSuccess: the reverse
      assert(Alerts.alert(bad, url, Alerts.OnSuccess).isEmpty)
      assert(Alerts.alert(good, url, Alerts.OnSuccess).contains(true))
      // OnAll: both
      assert(Alerts.alert(good, url, Alerts.OnAll).contains(true))
      val msgs = received()
      assert(msgs.size == 3)
      // Slack-webhook shape with the run summary inside
      assert(msgs.head.startsWith("""{"text":"""))
      assert(msgs.exists(m => m.contains("FAILURE") && m.contains("FAIL r1: 2/2 errors")))
      assert(msgs.exists(_.contains("SUCCESS")))
    }
  }

  test("multi-task outcome summarizes per task and per dataset; refusal never throws") {
    withServer { (url, received) =>
      val yaml =
        """name: mp
          |tasks:
          |  - {name: t, count: 20, fields: [{name: v, type: int, lo: 0, hi: 5}]}
          |validations:
          |  - {dataset: t, rules: [{name: neg, expr: "v < 0"}]}
          |""".stripMargin
      val o = MultiPlanRunner.run(s, MultiPlanRunner.parseYaml(yaml))
      assert(Alerts.alert(o, url, Alerts.TriggerOn.parse("failure")).contains(true))
      val m = received().head
      assert(m.contains("task t: 20 rows") && m.contains("[t] FAIL neg: 20/20 errors"))
    }
    // dead endpoint: delivered=false, no exception
    val o = MultiPlanRunner.run(s, MultiPlanRunner.parseYaml(
      "name: x\ntasks:\n  - {name: t, count: 1, fields: [{name: v, type: int}]}\n"))
    assert(Alerts.alert(o, "http://127.0.0.1:1/x", Alerts.OnAll).contains(false))
  }
}
