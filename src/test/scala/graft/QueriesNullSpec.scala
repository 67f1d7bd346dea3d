package graft

import org.apache.spark.sql.functions._

/** Null-parity pins for driver queries whose one-scan rewrites must stay
  * byte-equivalent to their SELECT DISTINCT oracle twins on null-bearing
  * data the shipped testdata doesn't contain.
  */
class QueriesNullSpec extends SparkSuite {
  import graft.SharedSpark.spark.implicits._

  test("q20: NULL flag values survive the one-scan collect_set shape like DISTINCT") {
    val dir = java.nio.file.Files.createTempDirectory("graft_q20_nulls").toString
    Seq(
      (1L, "A", "F"),
      (2L, null.asInstanceOf[String], "O"),
      (3L, "A", null.asInstanceOf[String]),
      (4L, "A", "F"), // duplicate combination — DISTINCT keeps one
    ).toDF("l_orderkey", "l_returnflag", "l_linestatus")
      .write.parquet(s"$dir/lineitem.parquet")
    Seq("east", "west").toDF("r_name").write.parquet(s"$dir/region.parquet")
    val rows = SparkEntry.queries("q20_all_combinations")(spark, dir)
      .collect()
      .map(r => (Option(r.getString(0)), Option(r.getString(1)), r.getString(2)))
    // one row per combination (collect_set + null re-append must not dup)
    assert(rows.distinct.length == rows.length)
    val expected = for {
      rf <- Set(Option("A"), None)
      ls <- Set(Option("F"), Option("O"), None)
      rn <- Set("east", "west")
    } yield (rf, ls, rn)
    assert(rows.toSet == expected)
  }

  test("q18: a NULL lookup key keeps its DISTINCT slot (nulls last) like the oracle") {
    val dir = java.nio.file.Files.createTempDirectory("graft_q18_nulls").toString
    Seq(Option(10L), None, Option(5L), Option(10L))
      .toDF("c_custkey").write.parquet(s"$dir/customer.parquet")
    Seq(0L, 1L, 2L, 3L, 4L, 5L).toDF("o_orderkey")
      .write.parquet(s"$dir/orders.parquet")
    val rows = SparkEntry.queries("q18_fk_sample_join")(spark, dir)
      .collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) None else Option(r.getLong(1))))
      .toMap
    // DISTINCT keys sorted with the null LAST (DuckDB's row_number default
    // null order in the oracle) = [5, 10, NULL]; n = 3; idx = o_orderkey % 3
    val lookup = Vector(Option(5L), Option(10L), None)
    val expected = (0L to 5L).map(k => k -> lookup((k % 3).toInt)).toMap
    assert(rows == expected)
  }

  test("q33: a NULL region key keeps its DISTINCT slot in the all-combinations overlay") {
    val dir = java.nio.file.Files.createTempDirectory("graft_q33_nulls").toString
    Seq(Option("east"), None, Option("west")).toDF("r_name")
      .write.parquet(s"$dir/region.parquet")
    Seq(0L, 1L, 2L, 3L, 4L, 5L).toDF("o_orderkey")
      .write.parquet(s"$dir/orders.parquet")
    val rows = SparkEntry.queries("q33_fk_all_combinations")(spark, dir)
      .collect().map(r => (r.getLong(0), Option(r.getString(1)))).toMap
    assert(rows.size == 6)
    // n = 3 (null kept, LAST), per = greatest(floor(6/2),1) = 3; the valid
    // block is floor(o_orderkey/3) % 2 == 1, i.e. keys 3..5
    val lookup = Vector(Option("east"), Option("west"), None)
    (3L to 5L).foreach(k => assert(rows(k) == lookup((k % 3).toInt)))
    (0L to 2L).foreach(k => assert(rows(k).exists(_.startsWith("INVALID_"))))
  }

  test("q20: the re-appended NULL takes the column's own type from the schema") {
    val dir = java.nio.file.Files.createTempDirectory("graft_q20_types").toString
    Seq((1L, Option(1), "F"), (2L, None, "O"), (3L, Option(2), null.asInstanceOf[String]))
      .toDF("l_orderkey", "l_returnflag", "l_linestatus")
      .write.parquet(s"$dir/lineitem.parquet")
    Seq("east").toDF("r_name").write.parquet(s"$dir/region.parquet")
    val out = SparkEntry.queries("q20_all_combinations")(spark, dir)
    assert(out.schema("l_returnflag").dataType == org.apache.spark.sql.types.IntegerType)
    assert(out.schema("l_linestatus").dataType == org.apache.spark.sql.types.StringType)
    val flags = out.collect().map(r => if (r.isNullAt(0)) None else Option(r.getInt(0))).toSet
    assert(flags == Set(Option(1), Option(2), None))
  }

  test("boundedLookup: the pre-build guard counts a NULL key like the built lookup") {
    val keys = Seq(Option(1L), Option(2L), None, None).toDF("k")
    // 3 slots (1, 2, NULL): the cheap guard fails before the build at cap 2
    val e = intercept[IllegalArgumentException](Queries.boundedLookup(keys, "k", 2L, "t"))
    assert(e.getMessage.contains("3 distinct keys before the build"), e.getMessage)
    val (lookup, n) = Queries.boundedLookup(keys, "k", 3L, "t")
    assert(n == 3L && lookup.count() == 3L)
  }
}
