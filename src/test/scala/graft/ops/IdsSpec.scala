package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

class IdsSpec extends SparkSpec {

  test("denseId matches row_number over the same order, distributed") {
    val df = spark.range(0, 10000, 1, 16).toDF("k")
      .withColumn("k", pmod(col("k") * 2654435761L, lit(99991L))) // shuffled-ish unique keys
      .distinct()
    val viaWindow = df.withColumn("id", row_number().over(Window.orderBy("k")).cast("long") - 1)
      .select("k", "id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val viaPrefix = Ids.denseId(df, "id", Seq("k"), numPartitions = 8)
      .select("k", "id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaPrefix == viaWindow)
  }

  test("denseId ids are dense 0..n-1 and follow the sort order") {
    val spark2 = spark
    import spark2.implicits._
    val df = Seq(("c", 1), ("a", 2), ("b", 3)).toDF("k", "v")
    val got = Ids.denseId(df, "nid", Seq("k"), numPartitions = 2)
      .select("k", "nid").collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(got == Map("a" -> 0L, "b" -> 1L, "c" -> 2L))
  }

  test("stats-adaptive single-partition arm assigns identical ids (round 6)") {
    val df = spark.range(0, 5000, 1, 8).toDF("k")
      .withColumn("k", pmod(col("k") * 48271L, lit(99991L)))
      .distinct()
    def ids(thresholdBytes: Long): Set[(Long, Long)] = {
      spark.conf.set("graft.ids.singlePartitionBytes", thresholdBytes.toString)
      try Ids.denseId(df, "id", Seq("k"))
        .select("k", "id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      finally spark.conf.unset("graft.ids.singlePartitionBytes")
    }
    // force the single-partition arm vs the multi-partition arm: same ids
    assert(ids(Long.MaxValue) == ids(0L))
  }

  test("denseId over a small denseId output keeps its size estimate: no sample job, same ids") {
    val spark2 = spark
    import spark2.implicits._
    // unique keys in scrambled order; v is a permutation of 0..199
    val rows = (0 until 200).map(i => (f"k${i * 37 % 200}%03d", i * 53 % 200)).toDF("k", "v")
    val inner = Ids.denseId(rows, "a", Seq("k"))
    // the same rows as a local relation, whose size Catalyst knows
    val local = inner.collect().toSeq.map(r => (r.getString(0), r.getInt(1), r.getLong(2)))
      .toDF("k", "v", "a")
    var outer: org.apache.spark.sql.DataFrame = null
    val jobs = jobsDuring { outer = Ids.denseId(inner, "b", Seq("v")) }
    // a RangePartitioner sample job would add one
    assert(jobs == jobsDuring(Ids.denseId(local, "b", Seq("v"))))
    val got = outer.select("k", "v", "a", "b").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSet
    val expect = (0 until 200).map { i =>
      (f"k${i * 37 % 200}%03d", i * 53 % 200, (i * 37 % 200).toLong, (i * 53 % 200).toLong)
    }.toSet
    assert(got == expect)
  }
}
