package graft.pipeline

import graft.plan.MultiPlanRunner.MultiPlanOutcome
import graft.rules.RuleResult

/** Run-result alerting — the reference's post-plan alert processor
  * (`core/alert/AlertProcessor.scala` + `SlackAlertProcessor.scala`): after
  * a run, a summary is pushed to a webhook if the configured trigger
  * condition (all / failure / success, generation- or validation-scoped)
  * matches. A Slack incoming webhook IS a JSON POST with a `text` field, so
  * one generic JSON webhook sender covers Slack and anything else that
  * accepts `{"text": ...}` — on the same JDK http client as
  * [[graft.sinks.HttpSink]] (no Slack SDK, none needed).
  */
object Alerts {

  /** When to alert (reference's ALERT_TRIGGER_ON_*). */
  sealed trait TriggerOn { def fires(success: Boolean): Boolean }
  case object OnAll extends TriggerOn { def fires(s: Boolean) = true }
  case object OnFailure extends TriggerOn { def fires(s: Boolean) = !s }
  case object OnSuccess extends TriggerOn { def fires(s: Boolean) = s }

  object TriggerOn {
    def parse(s: String): TriggerOn = s.toLowerCase match {
      case "all" => OnAll
      case "failure" => OnFailure
      case "success" => OnSuccess
      case other => throw new IllegalArgumentException(
        s"unknown alert trigger '$other' (all|failure|success)")
    }
  }

  private def ruleLines(results: Seq[RuleResult]): Seq[String] =
    results.map { r =>
      val mark = if (r.success) "PASS" else "FAIL"
      s"$mark ${r.rule}: ${r.errors}/${r.total} errors"
    }

  /** Human-readable summary of a plan run: status, rows per task (a
    * source task's rows kept of rows read), unmet wait gates, and every
    * rule's result per dataset. */
  def summarize(o: MultiPlanOutcome): String = {
    val status = if (o.success) "SUCCESS" else "FAILURE"
    val tasks = o.insertOrder.map(t => s"task $t: ${o.counts.getOrElse(t, -1L)} rows" +
      o.rowsRead.get(t).fold("")(n => s" of $n read"))
    val waits = o.waits.toSeq.sortBy(_._1).collect {
      case (ds, false) => s"[$ds] wait condition: NOT MET (retries exhausted)"
    }
    val vals = o.validations.toSeq.sortBy(_._1).flatMap { case (ds, rs) =>
      ruleLines(rs).map(l => s"[$ds] $l")
    }
    (Seq(s"plan '${o.plan}': $status") ++ tasks ++ waits ++ vals).mkString("\n")
  }

  /** POST `{"text": summary}` to the webhook. Returns whether the endpoint
    * accepted it (2xx); failures never throw — alerting must not take down
    * the run it reports on.
    */
  def send(url: String, text: String): Boolean =
    scala.util.Try {
      val body = s"""{"text":${graft.util.Jsons.quote(text)}}"""
      val client = java.net.http.HttpClient.newBuilder()
        .connectTimeout(java.time.Duration.ofSeconds(5)).build()
      val req = java.net.http.HttpRequest.newBuilder(java.net.URI.create(url))
        .header("Content-Type", "application/json")
        .POST(java.net.http.HttpRequest.BodyPublishers.ofString(body))
        .timeout(java.time.Duration.ofSeconds(10)).build()
      val resp = client.send(req, java.net.http.HttpResponse.BodyHandlers.discarding())
      resp.statusCode() >= 200 && resp.statusCode() < 300
    }.getOrElse(false)

  /** Alert on a plan outcome. None = trigger didn't fire; Some(delivered)
    * otherwise. */
  def alert(o: MultiPlanOutcome, url: String, triggerOn: TriggerOn = OnAll): Option[Boolean] =
    if (triggerOn.fires(o.success)) Some(send(url, summarize(o))) else None
}
