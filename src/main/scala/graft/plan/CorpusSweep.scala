package graft.plan

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Dev tool: sweep a folder of reference-style task YAML files through the
  * parser + generator and report per-file pass/fail — the repeatable form
  * of the round-4 "reference-corpus sweep" (run the reference's own shipped
  * examples on this engine). Usage:
  *
  *   sbt "runMain graft.plan.CorpusSweep <taskFolder> [<taskFolder> ...]"
  *
  * Each parsed step generates a small sample (≤20 rows) and materializes
  * it; a file passes when every step in it parses AND generates.
  */
object CorpusSweep {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: CorpusSweep <taskFolder> [...]")
    val spark = graft.GraftSession.local(8)
    val files = args.flatMap { dir =>
      Files.walk(Paths.get(dir)).iterator().asScala
        .filter(p => p.toString.endsWith(".yaml") || p.toString.endsWith(".yml"))
        .toSeq.sortBy(_.toString)
    }
    var pass, fail = 0
    val failures = scala.collection.mutable.ArrayBuffer[(Path, String)]()
    files.foreach { f =>
      val text = Files.readString(f)
      try {
        MultiPlanRunner.withConfs(spark, LegacyPlan.Spark35Semantics) {
          val tasks = LegacyPlan.parseTaskFile(text)
          require(tasks.nonEmpty, "no steps parsed")
          tasks.foreach { t =>
            val n = math.min(math.max(t.count, 1L), 20L)
            val df = graft.generator.Generator.generate(spark, n, t.fields.map(_.toSpec))
            val got = df.count()
            require(got == n, s"step ${t.name}: generated $got of $n rows")
            df.collect() // force full materialization of every column
          }
        }
        pass += 1
        println(s"PASS ${f}")
      } catch {
        case e: Throwable =>
          fail += 1
          failures += ((f, s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").linesIterator.take(3).mkString(" / ")}"))
          println(s"FAIL ${f}")
      }
    }
    println(s"\n=== $pass passed, $fail failed of ${files.size} ===")
    failures.foreach { case (f, m) => println(s"  $f\n    $m") }
    spark.stop()
    if (fail > 0) sys.exit(1)
  }
}
