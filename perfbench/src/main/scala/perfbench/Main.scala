package perfbench

import java.lang.management.ManagementFactory
import org.apache.spark.PerfbenchBridge
import scala.collection.mutable
import scala.util.control.NonFatal

/** JVM side of the benchmark (run.py launches it): set-up, the timed closed
  * loop, the traced passes and the Spark-side output checks of one
  * workload. Everything it measures goes to `<run-dir>/result.json`.
  *
  * Usage: perfbench.Main --workload filter|plan --seed N --seconds S
  *   --trace 0|1 --run-dir DIR --cores N --launch-ms EPOCH_MS [--plant 1]
  */
object Main {

  /** Input sizes, fixed for every run so runs compare. */
  val FilterImages = 80000L
  val DedupBaseDocs = 600
  val DedupCopies = 3
  val PlanParents = 100000L
  /** Untimed passes before timing. The JIT keeps speeding a pass up for
    * many passes, so one cold pass alone would leave the timed window on
    * the steep part of that curve. */
  val WarmPasses = 3

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** (steal, total) jiffies of all CPUs from /proc/stat; zeros elsewhere. */
  private def cpuJiffies(): (Long, Long) =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      val f = try src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong) finally src.close()
      (if (f.length > 7) f(7) else 0L, f.take(8).sum)
    } catch { case NonFatal(_) => (0L, 0L) }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val runDir = a("run-dir")
    val cores = a("cores").toInt
    val launchMs = a("launch-ms").toLong
    val plant = a.get("plant").contains("1")

    val spark = graft.GraftSession.builder(s"local[$cores]", cores)
      .config("spark.local.dir", s"$runDir/spark-local")
      .getOrCreate()
    val sc = spark.sparkContext
    sc.setLogLevel("WARN")
    val sessionS = (System.currentTimeMillis() - launchMs) / 1e3
    val listener = new PerfListener
    sc.addSparkListener(listener)
    val ctx = new Ctx(spark, listener, runDir, seed, s"$workload-s$seed-${ProcessHandle.current().pid()}")
    val w: Workload = workload match {
      case "filter" => new FilterWorkload(ctx, FilterImages, plant,
        new DedupProbes(ctx, DedupBaseDocs, DedupCopies, plant))
      case "plan" => new PlanWorkload(ctx, PlanParents, plant)
      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    }

    def timed(body: => Unit): Double = { val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9 }
    val errors = mutable.ArrayBuffer.empty[String]
    /** Runs `body`; a failure is recorded, printed and reported as false. */
    def guard(what: String)(body: => Unit): Boolean =
      try { body; true } catch { case NonFatal(e) => errors += s"$what: $e"; e.printStackTrace(); false }

    // ---- set-up: inputs, warm-up passes; setup_s is the wall time from
    // the JVM's launch until the timed loop starts ----
    sc.setLocalProperty(PerfListener.TagKey, "setup")
    val genS = timed(w.generate())
    val warmS = timed((1 to WarmPasses).foreach(k => guard(s"warm-up pass $k")(w.pass(-k))))
    if (trace) {
      guard("warm-up probes")(w.prepareProbes())
      // the probes leave the JIT tuned to other code; one more pass first
      guard("warm-up pass after probes")(w.pass(-WarmPasses - 1))
    }
    val setupS = (System.currentTimeMillis() - launchMs) / 1e3

    // ---- timed closed loop ----
    sc.setLocalProperty(PerfListener.TagKey, "timed")
    val tracer = ctx.tracer
    val walls = mutable.ArrayBuffer.empty[Double]
    val tracedWalls = mutable.ArrayBuffer.empty[Double]
    val minPasses = if (trace) 4 else 2
    val cpu0 = os.getProcessCpuTime
    val jiffies0 = cpuJiffies()
    val t0 = System.nanoTime()
    var i = 0
    while (i < minPasses || (System.nanoTime() - t0) / 1e9 < seconds) {
      spark.catalog.clearCache()
      // traced and untraced passes in ABBA order, so both see the same
      // stretch of the warm-up curve
      if (trace && (i % 4 == 1 || i % 4 == 2)) {
        ctx.tracing = true
        ctx.tracedPasses += i
        val t = System.nanoTime()
        if (guard(s"pass $i")(ctx.call("pass")(w.pass(i)))) tracedWalls += (System.nanoTime() - t) / 1e9
        ctx.tracing = false
      } else {
        val t = System.nanoTime()
        if (guard(s"pass $i")(w.pass(i))) walls += (System.nanoTime() - t) / 1e9
      }
      i += 1
    }
    val wallS = (System.nanoTime() - t0) / 1e9
    val coresBusy = (os.getProcessCpuTime - cpu0) / 1e9 / wallS
    val load1 = os.getSystemLoadAverage
    val jiffies1 = cpuJiffies()
    val stealPct = 100.0 * (jiffies1._1 - jiffies0._1) / math.max(1L, jiffies1._2 - jiffies0._2)
    // one traced round of probes, warm from set-up, counted with the last
    // traced pass (a round per traced pass would push a traced run towards
    // its time limit)
    if (trace) {
      ctx.tracing = true
      guard("probes")(w.probes())
      ctx.tracing = false
    }
    spark.catalog.clearCache()
    val persistedAfter = sc.getPersistentRDDs.size
    val listenersAfter = PerfbenchBridge.listenerCount(sc)
    ctx.drain()

    // ---- metrics ----
    val timedAcc = listener.acc("timed")
    val untracedPasses = walls.size
    val passS = if (walls.nonEmpty) Stats.median(walls.toSeq) else 0.0
    val e2e = Map(
      "setup_s" -> setupS,
      "rows_per_s" -> (if (passS > 0) w.inputRows / passS else Double.NaN),
      "cpu_s_per_m_rows" -> timedAcc.cpuNs / 1e9 / (untracedPasses.max(1) * w.inputRows.toDouble) * 1e6,
      "peak_exec_mem_mb" -> timedAcc.peakExecMem / Stats.MB)

    val layer = mutable.LinkedHashMap.empty[String, Double]
    if (trace) {
      w.layerSpans.foreach { case (base, subs) =>
        val perPass = ctx.spansByPass(base).filter(_.nonEmpty)
        if (perPass.nonEmpty) {
          layer(s"${base}_s") = Stats.median(perPass.map(_.map(_.seconds).sum))
          val accs = perPass.map(ss => Stats.merge(ss.map(s => listener.acc(s"$base#${s.id}"))))
          subs.foreach(sub => layer(s"$base.$sub") = Stats.median(accs.map(Stats.sub(_, sub))))
        }
      }
      ctx.kernels.foreach { k =>
        val perPass = ctx.spansByPass(k).flatten
        if (perPass.nonEmpty)
          layer(s"${k}_ns") = Stats.median(perPass.map(s => s.seconds * 1e9 / s.count))
      }
      val spanAccs = tracer.spans.map(s => listener.acc(s"${s.name}#${s.id}")).toSeq
      layer("spill_mb") = Stats.merge(timedAcc +: spanAccs).spillBytes / Stats.MB
      if (walls.nonEmpty && tracedWalls.nonEmpty)
        layer("trace.overhead_s") = Stats.median(tracedWalls.toSeq) - passS
    }
    // CPU stolen by other guests of the host is what slows a run here; the
    // load average also counts this process's own JIT, GC and I/O threads
    val contended = stealPct > 5.0
    layer("host.loadavg_1m") = load1
    layer("host.process_cores_busy") = coresBusy
    layer("host.steal_pct") = stealPct
    layer("host.contended") = if (contended) 1.0 else 0.0
    layer("hygiene.persisted_rdds_after") = persistedAfter.toDouble
    layer("hygiene.listeners_after") = listenersAfter.toDouble
    if (contended)
      System.err.println(f"[perfbench] CONTENDED: CPU steal $stealPct%.1f%% during the timed " +
        f"region (1-min load $load1%.2f, this process busy on $coresBusy%.2f cores)")

    // ---- output checks, untimed ----
    sc.setLocalProperty(PerfListener.TagKey, "check")
    val checks = try w.checks() catch {
      case NonFatal(e) => e.printStackTrace(); Seq(("checks", false, e.toString))
    }
    ctx.drain()
    guard("layer metrics")(layer ++= w.extraLayerMetrics())
    if (trace) Json.writeFile(s"$runDir/trace.json", tracer.toJson)

    val failedChecks = checks.count(!_._2)
    Json.writeFile(s"$runDir/result.json", Json.obj(
      "workload" -> Json.str(workload),
      "seed" -> seed.toString,
      "trace" -> (if (trace) "1" else "0"),
      "cores" -> cores.toString,
      "input_rows" -> w.inputRows.toString,
      "setup" -> Json.obj("session_s" -> Json.num(sessionS),
        "generate_s" -> Json.num(genS), "warmup_s" -> Json.num(warmS)),
      "pass_s" -> Json.arr(walls.toSeq.map(Json.num)),
      "traced_pass_s" -> Json.arr(tracedWalls.toSeq.map(Json.num)),
      "end_to_end" -> Json.obj(e2e.toSeq.map { case (k, v) => k -> Json.num(v) }: _*),
      "per_layer" -> Json.obj(layer.toSeq.map { case (k, v) => k -> Json.num(v) }: _*),
      "layers_not_called" -> Json.arr(w.layersNotCalled.map(Json.str)),
      "checks" -> Json.arr(checks.map { case (n, ok, d) =>
        Json.obj("name" -> Json.str(n), "ok" -> ok.toString, "detail" -> Json.str(d)) }),
      "errors" -> Json.arr(errors.toSeq.map(Json.str)),
      "attempted" -> (ctx.attempted + checks.size).toString,
      "failed" -> (ctx.failed + failedChecks).toString) + "\n")
    spark.stop()
  }
}
