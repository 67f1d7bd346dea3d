package perfbench

import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded inputs. The same seed gives the same bytes; the program sees only
  * the files written here. */
object Inputs {

  /** splitmix64 finalizer, the stream under every draw below. */
  def mix(seed: Long, i: Long): Long = {
    var z = seed * 0x9e3779b97f4a7c15L + i
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  final class Rng(seed: Long, i: Long) {
    private var state = mix(seed, i)
    def nextLong(): Long = { state = mix(state, 0x2545f4914f6cdd1dL); state }
    def nextInt(bound: Int): Int = java.lang.Math.floorMod(nextLong(), bound.toLong).toInt
    def nextDouble(): Double = (nextLong() >>> 11).toDouble / (1L << 53).toDouble
    def nextGaussian(): Double = {
      val u = math.max(nextDouble(), 1e-12)
      math.sqrt(-2 * math.log(u)) * math.cos(2 * math.Pi * nextDouble())
    }
  }

  /** The 40-word vocabulary of the reference `documents` table. */
  private val vocab = ("a the data spark table row column key value query join group agg " +
    "filter sort hash scan merge window stream batch vector part line order customer " +
    "fast slow big small index cache shard page block node task job plan").split(" ")
  private val langs = Seq("en" -> 0.41, "de" -> 0.14, "es" -> 0.15, "fr" -> 0.15, "zh" -> 0.15)

  /** `documents(doc_id, text, lang, source, n_chars)` shaped like the sf0.1
    * table (8-90 tokens, five languages, 20 sources), with one base document
    * in ten re-emitted as a near-copy of an earlier one (a few tokens
    * swapped), then replicated `copies` times with shifted keys as `Sf1Gen`
    * does. `doc_id = offset + copy * n + i`; the seed picks `offset`, which
    * moves documents between `doc_id / 40` blocks and `doc_id % 80` phash
    * clusters while keeping every cluster the same size. */
  def writeDocuments(spark: SparkSession, dir: String, n: Int, copies: Int, seed: Long): Unit = {
    import spark.implicits._
    val texts = new Array[Array[String]](n)
    val rows = (0 until n).map { i =>
      val r = new Rng(seed, i)
      val toks =
        if (i >= 10 && r.nextDouble() < 0.1) {
          val t = texts(r.nextInt(i)).clone()
          (0 until 1 + r.nextInt(3)).foreach(_ => t(r.nextInt(t.length)) = vocab(r.nextInt(vocab.length)))
          t
        } else Array.fill(8 + r.nextInt(83))(vocab(r.nextInt(vocab.length)))
      texts(i) = toks
      val u = r.nextDouble()
      val lang = langs.scanLeft(("", 0.0)) { case ((_, acc), (l, p)) => (l, acc + p) }
        .find(_._2 > u).map(_._1).getOrElse("en")
      val text = toks.mkString(" ")
      (i.toLong, text, lang, s"src${r.nextInt(20)}", text.length.toLong)
    }
    val offset = java.lang.Math.floorMod(mix(seed, -1L), 1000L)
    rows.toDF("i", "text", "lang", "source", "n_chars")
      .withColumn("copy", explode(sequence(lit(0L), lit(copies - 1L))))
      .select((lit(offset) + col("copy") * n + col("i")).as("doc_id"),
        col("text"), col("lang"), col("source"), col("n_chars"))
      .repartition(4)
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/documents.parquet")
  }

  /** `embeddings(vec_id, embedding array<float>, label int)`: 64-d gaussian
    * vectors in ten label blocks, as in the sf0.1 table. */
  def writeEmbeddings(spark: SparkSession, dir: String, n: Int, seed: Long): Unit = {
    import spark.implicits._
    (0 until n).map { i =>
      val r = new Rng(seed ^ 0x5eedL, i)
      (i.toLong, Array.fill(64)((r.nextGaussian() * 0.12).toFloat), r.nextInt(10))
    }.toDF("vec_id", "embedding", "label")
      .coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$dir/embeddings.parquet")
  }

  /** Two-table plan: `parents` with template, regex, int and oneOf fields;
    * `children` tied to them by an FK with `ratio: 5`; both written to
    * parquet and validated. */
  def planYaml(out: String, parents: Long, seed: Long): String =
    s"""name: perfbench_plan
       |seed: $seed
       |tasks:
       |  - name: parents
       |    count: $parents
       |    fields:
       |      - {name: parent_id, type: sequential, prefix: P, pad: 9}
       |      - {name: full_name, type: template, template: "#{Name.name}"}
       |      - {name: code, type: regex, pattern: "[A-Z]{3}-[0-9]{4}"}
       |      - {name: age, type: int, lo: 18, hi: 90}
       |      - {name: tier, type: oneOf, values: [gold, silver, bronze]}
       |    sink: {path: "$out/parents"}
       |  - name: children
       |    count: 1
       |    fields:
       |      - {name: child_id, type: sequential, prefix: C, pad: 10}
       |      - {name: parent_id, type: alphanum}
       |      - {name: amount, type: double, lo: 1, hi: 500}
       |      - {name: qty, type: int, lo: 1, hi: 20}
       |      - {name: status, type: oneOf, values: [new, paid, shipped, returned]}
       |    sink: {path: "$out/children"}
       |relationships:
       |  - {from: children.parent_id, to: parents.parent_id, ratio: 5}
       |validations:
       |  - dataset: parents
       |    rules:
       |      - {name: adult, expr: "age >= 18 AND age <= 90"}
       |      - {name: code_shape, expr: "code RLIKE '^[A-Z]{3}-[0-9]{4}$$'"}
       |  - dataset: children
       |    rules:
       |      - {name: amount_range, expr: "amount >= 1 AND amount <= 500"}
       |      - {name: qty_positive, expr: "qty >= 1"}
       |""".stripMargin
}
