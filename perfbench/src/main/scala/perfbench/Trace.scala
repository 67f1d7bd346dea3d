package perfbench

import org.apache.spark.scheduler._
import scala.collection.mutable

/** Scheduler totals for one tag: every task of every job started while the
  * tag was the thread's `perfbench.tag` local property. */
final class Acc {
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var bytesWritten = 0L
  var peakExecMem = 0L
  var jobs = 0
  val taskMs = mutable.ArrayBuffer.empty[Long]
}

/** The benchmark's own listener. It maps jobs to the caller's tag at job
  * start and folds each finished task's metrics into that tag's [[Acc]]. */
final class PerfListener extends SparkListener {
  private val stageTag = mutable.Map.empty[Int, String]
  private val accs = mutable.Map.empty[String, Acc]

  def acc(tag: String): Acc = synchronized(accs.getOrElseUpdate(tag, new Acc))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val tag = Option(e.properties).flatMap(p => Option(p.getProperty(PerfListener.TagKey)))
      .getOrElse("untagged")
    accs.getOrElseUpdate(tag, new Acc).jobs += 1
    e.stageIds.foreach(s => stageTag(s) = tag)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val a = accs.getOrElseUpdate(stageTag.getOrElse(e.stageId, "untagged"), new Acc)
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      a.spillBytes += m.diskBytesSpilled
      a.bytesWritten += m.outputMetrics.bytesWritten
      a.peakExecMem = math.max(a.peakExecMem, m.peakExecutionMemory)
      a.taskMs += e.taskInfo.duration
    }
  }
}

object PerfListener {
  val TagKey = "perfbench.tag"
}

/** One traced call: `name` is the per-layer metric it feeds, `pass` the
  * traced pass it belongs to, `count` the calls it covers. */
final case class Span(id: Int, name: String, parent: Int, pass: Int, startNs: Long, endNs: Long,
    count: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder; written out once when the run ends. A span's
  * listener totals are kept under the tag `name#id`. */
final class Tracer(val runId: String) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 1
  private val stack = mutable.Stack[Int](0)

  def open(): (Int, Int) = { val id = nextId; nextId += 1; val p = stack.top; stack.push(id); (id, p) }
  def close(id: Int, parent: Int, name: String, pass: Int, startNs: Long, count: Long): Span = {
    stack.pop()
    val s = Span(id, name, parent, pass, startNs, System.nanoTime(), count)
    spans += s
    s
  }

  /** Duration minus the union of the intervals its direct children cover. */
  def selfSeconds(s: Span): Double = {
    val kids = spans.filter(_.parent == s.id).map(c => (c.startNs, c.endNs)).sortBy(_._1)
    var covered = 0L
    var end = s.startNs
    kids.foreach { case (a, b) =>
      val from = math.max(a, end)
      if (b > from) { covered += b - from; end = b }
    }
    (s.endNs - s.startNs - covered) / 1e9
  }

  def toJson: String = {
    val t0 = spans.map(_.startNs).minOption.getOrElse(0L)
    spans.sortBy(_.startNs).map { s =>
      f"""{"trace":"$runId","id":${s.id},"parent":${s.parent},"pass":${s.pass},"name":"${s.name}",""" +
        f""""start_s":${(s.startNs - t0) / 1e9}%.6f,"end_s":${(s.endNs - t0) / 1e9}%.6f,""" +
        f""""self_s":${selfSeconds(s)}%.6f,"count":${s.count}}"""
    }.mkString("[\n", ",\n", "\n]\n")
  }
}
