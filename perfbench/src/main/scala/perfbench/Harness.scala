package perfbench

import org.apache.spark.PerfbenchBridge
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.collection.mutable

/** What a workload does. `pass` is the timed unit: one closed-loop
  * iteration of calls into the program. `probes` are extra calls made only
  * in traced runs, one per per-layer metric that the pass itself does not
  * isolate. Everything else runs outside any timed region. */
trait Workload {
  /** Input rows one pass processes (the base of every per-row metric). */
  def inputRows: Long
  /** Writes this workload's seeded inputs under `<runDir>/input`. */
  def generate(): Unit
  def pass(i: Int): Unit
  def probes(): Unit
  /** Traced runs only, in set-up: makes what only the probes read and runs
    * them once untraced, so traced passes time warm probes. */
  def prepareProbes(): Unit
  /** Per-layer metrics the workload computes itself (counts, ratios),
    * read after the checks. */
  def extraLayerMetrics(): Map[String, Double]
  /** Output checks, after timing: (name, passed, detail). */
  def checks(): Seq[(String, Boolean, String)]
  /** Span base names and the listener sub-metrics reported for each. */
  def layerSpans: Seq[(String, Seq[String])]
  /** Name prefixes of the per-layer metrics of layers this workload never
    * calls; those read 0, and any other metric missing from a traced run
    * is a failed check. */
  def layersNotCalled: Seq[String]
}

/** Calls into the program go through [[call]]: each is counted, and when a
  * tracer is active it becomes a span whose Spark jobs carry the span's tag,
  * so the listener attributes their tasks to it. */
final class Ctx(val spark: SparkSession, val listener: PerfListener, val runDir: String,
    val seed: Long, val runId: String) {
  val tracer = new Tracer(runId)
  /** True inside traced passes and their probes. */
  var tracing = false
  var attempted = 0L
  var failed = 0L
  /** Indices of the traced passes; spans are recorded for the last one. */
  val tracedPasses = mutable.ArrayBuffer.empty[Int]

  def call[T](name: String, count: Long = 1L)(body: => T): T = {
    attempted += 1
    def guarded: T = try body catch { case e: Throwable => failed += 1; throw e }
    if (!tracing) guarded
    else {
      val sc = spark.sparkContext
      val (id, parent) = tracer.open()
      val prev = sc.getLocalProperty(PerfListener.TagKey)
      sc.setLocalProperty(PerfListener.TagKey, s"$name#$id")
      val t0 = System.nanoTime()
      try guarded finally {
        sc.setLocalProperty(PerfListener.TagKey, prev)
        tracer.close(id, parent, name, tracedPasses.lastOption.getOrElse(-1), t0, count)
      }
    }
  }

  /** Names of kernel spans: single-thread calls outside Spark tasks, one
    * per input. */
  val kernels = mutable.LinkedHashSet.empty[String]
  def kernel[A](name: String, xs: Array[A])(f: A => Any): Unit = {
    kernels += name
    var sink = 0
    call(name, xs.length.toLong) {
      var i = 0
      while (i < xs.length) { if (f(xs(i)) != null) sink += 1; i += 1 }
    }
    if (sink < 0) println(sink) // keeps the JIT from dropping the loop
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def drain(): Unit = PerfbenchBridge.drainListenerBus(spark.sparkContext)

  /** Per traced pass, the spans named `name`. */
  def spansByPass(name: String): Seq[Seq[Span]] = {
    val all = tracer.spans.toSeq.filter(_.name == name)
    tracedPasses.toSeq.map(p => all.filter(_.pass == p))
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no values")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
  val MB: Double = 1024.0 * 1024.0

  /** Listener sub-metric `sub` of one span's totals. */
  def sub(a: Acc, sub: String): Double = sub match {
    case "cpu_s" => a.cpuNs / 1e9
    case "gc_s" => a.gcMs / 1e3
    case "shuffle_write_mb" => a.shuffleWriteBytes / MB
    case "spill_mb" => a.spillBytes / MB
    case "bytes_written_mb" => a.bytesWritten / MB
    case "max_task_s" => if (a.taskMs.isEmpty) 0.0 else a.taskMs.max / 1e3
    case "task_p50_s" => if (a.taskMs.isEmpty) 0.0 else median(a.taskMs.map(_.toDouble).toSeq) / 1e3
    case "jobs" => a.jobs.toDouble
  }

  def merge(as: Seq[Acc]): Acc = {
    val m = new Acc
    as.foreach { a =>
      m.cpuNs += a.cpuNs; m.gcMs += a.gcMs; m.shuffleWriteBytes += a.shuffleWriteBytes
      m.spillBytes += a.spillBytes; m.bytesWritten += a.bytesWritten
      m.peakExecMem = math.max(m.peakExecMem, a.peakExecMem); m.jobs += a.jobs
      m.taskMs ++= a.taskMs
    }
    m
  }
}
