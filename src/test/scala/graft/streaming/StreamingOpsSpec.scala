package graft.streaming

import graft.SparkSuite
import graft.corpus.ImageRow
import graft.pipeline.QualityFilter
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

class StreamingOpsSpec extends SparkSuite {
  import graft.SharedSpark.spark.implicits._

  private def image(id: String, caption: String, w: Int = 100, h: Int = 100) =
    ImageRow(id, Array[Byte](1, 2), w, h, "png", caption, 0L)

  test("quality rules run unchanged on a stream (stateless projection)") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[ImageRow]
    val annotated = StreamingOps.filterStream(spark, mem.toDF())
    val q = annotated.writeStream.format("memory").queryName("ann").outputMode("append").start()
    mem.addData(
      image("a", "a clear photo of a cat on the table"),
      image("b", null),
      image("c", "ok ok ok ok ok ok ok ok ok ok ok ok"))
    q.processAllAvailable()
    val out = spark.table("ann").select("image_id", "drop_reason")
      .as[(String, String)].collect().toMap
    q.stop()
    assert(out("a") == null)
    assert(out("b") == "caption_missing")
    assert(out("c") == "caption_repetitive")
  }

  test("full quality filter on a stream matches the batch pipeline row-for-row") {
    implicit val sqlCtx = spark.sqlContext
    val corpus = graft.corpus.SyntheticImages.generate(spark, 300L, seed = 17L, partitions = 3)
      .collect()
    val mem = MemoryStream[graft.corpus.ImageRow]
    val out = StreamingOps.filterStream(spark, mem.toDF())
    val q = out.writeStream.format("memory").queryName("fullq").outputMode("append").start()
    mem.addData(corpus.toIndexedSeq)
    q.processAllAvailable()
    val streamed = spark.table("fullq")
      .select("image_id", "keep", "drop_reason", "scrubbed_caption")
      .collect().map(r => r.getString(0) -> ((r.getBoolean(1), r.getString(2), r.getString(3)))).toMap
    q.stop()
    val batch = QualityFilter.runDF(spark,
        graft.corpus.SyntheticImages.generate(spark, 300L, seed = 17L, partitions = 3).toDF())
      .select("image_id", "keep", "drop_reason", "scrubbed_caption")
      .collect().map(r => r.getString(0) -> ((r.getBoolean(1), r.getString(2), r.getString(3)))).toMap
    assert(streamed.size == 300 && batch.size == 300)
    streamed.foreach { case (id, v) => assert(batch(id) == v, s"stream/batch mismatch for $id") }
    assert(streamed.values.exists(_._1) && streamed.values.exists(!_._1)) // both classes hit
  }

  test("checkpointed sink: restart resumes from committed offsets, exactly-once output") {
    implicit val sqlCtx = spark.sqlContext
    val out = java.nio.file.Files.createTempDirectory("graft_stream_out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_stream_ckpt").toString
    val mem = MemoryStream[Long]
    val filtered = StreamingOps.filterStream(spark,
      mem.toDF().selectExpr("value AS phony").select(
        org.apache.spark.sql.functions.concat(lit("id"), col("phony")).as("image_id"),
        lit(Array[Byte](1)).as("bytes"), lit(100).as("w"), lit(100).as("h"),
        lit("png").as("fmt"),
        org.apache.spark.sql.functions.concat(
          lit("a valid caption with plenty of words number "), col("phony")).as("caption"),
        col("phony").as("phash")))
    val q1 = StreamingOps.checkpointedParquetSink(filtered, out, ckpt)
    mem.addData(1L to 100L: _*)
    q1.processAllAvailable()
    q1.stop() // simulated shutdown
    mem.addData(101L to 150L: _*)
    // restart with the SAME checkpoint: only the new offsets process
    val q2 = StreamingOps.checkpointedParquetSink(filtered, out, ckpt)
    q2.processAllAvailable()
    q2.stop()
    val rows = spark.read.parquet(out).select("image_id").collect().map(_.getString(0))
    assert(rows.length == 150, s"expected exactly-once 150 rows, got ${rows.length}")
    assert(rows.distinct.length == 150)
  }

  test("watermarked windowed drop counts") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, java.sql.Timestamp)]
    val base = mem.toDF().toDF("caption", "ts")
      .withColumn("image_id", lit("x"))
      .withColumn("bytes", lit(Array[Byte](1))).withColumn("w", lit(100))
      .withColumn("h", lit(100)).withColumn("fmt", lit("png"))
      .withColumn("phash", lit(0L))
    val counts = StreamingOps.windowedDropCounts(
      StreamingOps.filterStream(spark, base), "ts")
    val q = counts.writeStream.format("memory").queryName("wc").outputMode("append").start()
    val t0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:10")
    val t1 = java.sql.Timestamp.valueOf("2026-01-01 00:00:30")
    val late = java.sql.Timestamp.valueOf("2026-01-01 00:10:00") // advances watermark, closes window
    mem.addData(("a good photo of a cat on a table", t0), (null.asInstanceOf[String], t1))
    q.processAllAvailable()
    mem.addData(("advance the watermark far beyond the first window", late))
    q.processAllAvailable()
    mem.addData(("and once more to emit finalized windows", java.sql.Timestamp.valueOf("2026-01-01 00:20:00")))
    q.processAllAvailable()
    val rows = spark.table("wc").select("reason", "n").as[(String, Long)].collect().toMap
    q.stop()
    assert(rows.get("__kept__").contains(1L))
    assert(rows.get("caption_missing").contains(1L))
  }
}
