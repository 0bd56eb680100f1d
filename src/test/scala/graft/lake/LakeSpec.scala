package graft.lake

import graft.SparkSpec
import org.apache.spark.sql.functions._

class LakeSpec extends SparkSpec {

  def freshLake(): Lake = {
    val dir = java.nio.file.Files.createTempDirectory("lake").toString
    new Lake(dir, spark)
  }

  test("snapshot append + time-travel read") {
    val spark2 = spark
    import spark2.implicits._
    val lake = freshLake()
    val s0 = lake.writeSnapshot(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), "t")
    val s1 = lake.writeSnapshot(Seq((3L, "c")).toDF("id", "v"), "t")
    assert(s0 == 0 && s1 == 1)
    assert(lake.readTable("t").count() == 3)
    assert(lake.readTable("t", asOf = 0).count() == 2)
    assert(lake.snapshotIds("t") == Seq(0L, 1L))
  }

  test("manifest stats enable snapshot pruning on read") {
    val spark2 = spark
    import spark2.implicits._
    val lake = freshLake()
    lake.writeSnapshot((1 to 10).map(i => (i.toLong, s"k$i")).toDF("id", "v"), "t", Seq("id"))
    lake.writeSnapshot((100 to 110).map(i => (i.toLong, s"k$i")).toDF("id", "v"), "t", Seq("id"))
    val pruned = lake.readTable("t", prune = Some(("id", "100", "105")))
    assert(pruned.count() == 11) // only snapshot 1 scanned (its full rows)
    val all = lake.readTable("t")
    assert(all.count() == 21)
  }

  test("numeric stats compare numerically, not lexicographically ('9' < '10')") {
    val spark2 = spark
    import spark2.implicits._
    val lake = freshLake()
    // snapshot with ids 5..9: lexicographic "9" > "10" would wrongly prune
    // it for the range [10, 20] lower bound check's dual — and wrongly KEEP
    // checks like max "9" >= lo "10". Assert both directions.
    lake.writeSnapshot((5 to 9).map(i => (i.toLong, s"k$i")).toDF("id", "v"), "t", Seq("id", "v"))
    lake.writeSnapshot((10 to 20).map(i => (i.toLong, s"k$i")).toDF("id", "v"), "t", Seq("id", "v"))
    // [9, 9] must scan snapshot 0 only (lexicographic min "10" <= "9" would
    // have also scanned snapshot 1)
    assert(lake.readTable("t", prune = Some(("id", "9", "9"))).count() == 5)
    // [10, 12] must scan snapshot 1 (lexicographic max "9" < lo "10" holds
    // numerically too, but "9" >= "10" lexicographically would keep snap 0)
    assert(lake.readTable("t", prune = Some(("id", "10", "12"))).count() == 11)
    // string stats still compare lexicographically
    assert(lake.readTable("t", prune = Some(("v", "k10", "k12"))).count() == 11)
  }

  test("runStage is idempotent: resume skips completed stages (O9)") {
    val spark2 = spark
    import spark2.implicits._
    val lake = freshLake()
    var bodyRuns = 0
    def body() = { bodyRuns += 1; Seq((1L, 2L)).toDF("a", "b") }
    val r1 = lake.runStage("job1", "stage1")(body())
    assert(r1.count() == 1 && bodyRuns == 1)
    val r2 = lake.runStage("job1", "stage1")(body())
    assert(r2.count() == 1 && bodyRuns == 1, "stage re-ran despite checkpoint")
    // a different stage still runs
    lake.runStage("job1", "stage2")(body())
    assert(bodyRuns == 2)
    assert(lake.completedStages("job1") == Set("stage1", "stage2"))
  }

  test("lineage rows record per-partition counts per stage") {
    val lake = freshLake()
    lake.runStage("j", "s")(spark.range(0, 100, 1, 4).toDF("id"))
    val lin = lake.lineage().where(col("jobId") === "j" && col("stage") === "s")
      .select("partitionId", "rows").collect().map(r => (r.getInt(0), r.getLong(1)))
    assert(lin.sorted.toSeq == (0 until 4).map(p => (p, 25L)))
    // recordLineage over the same frame writes the same rows, in place
    lake.recordLineage("j", "s", spark.range(0, 100, 1, 4).toDF("id"))
    assert(lake.lineage().select("partitionId", "rows").collect()
      .map(r => (r.getInt(0), r.getLong(1))).sorted.toSeq == lin.sorted.toSeq)
  }

  test("runStage evaluates the body's partitions exactly once") {
    val spark2 = spark
    import spark2.implicits._
    val lake = freshLake()
    val evaluated = spark.sparkContext.longAccumulator("partitions evaluated")
    val body = spark.range(0, 100, 1, 4).mapPartitions { it => evaluated.add(1); it }.toDF("id")
    assert(lake.runStage("j", "s")(body).count() == 100)
    assert(evaluated.value == 4L)
  }

  test("manifest carries the row count and schema; a completed stage reads back with no job") {
    val lake = freshLake()
    val df = spark.range(0, 10, 1, 2).selectExpr("id", "cast(id as string) as v")
    lake.runStage("j", "s")(df)
    var read: org.apache.spark.sql.DataFrame = null
    assert(jobsDuring { read = lake.runStage("j", "s")(df) } == 0)
    assert(jobsDuring { read = lake.readTable("j/s") } == 0)
    val m = lake.manifest("j/s", 0)
    assert(m.contains("\"rows\":10"))
    assert(m.contains(df.schema.json))
    assert(read.schema.map(f => (f.name, f.dataType)) == df.schema.map(f => (f.name, f.dataType)))
    assert(read.count() == 10)
  }

  test("quantized embedding layout: round trip, distortion bound, 4x-smaller files") {
    val spark2 = spark
    import spark2.implicits._
    val emb = (0 until 2000).map { i =>
      (i.toLong, Array.tabulate(64)(d =>
        (math.sin(i * 64 + d) * (1 + (i % 7))).toFloat))
    }.toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("qlake").toString
    val qPath = s"$dir/quant"
    val fPath = s"$dir/float"
    Lake.writeQuantizedEmbeddings(emb, "vec_id", "embedding", qPath)
    emb.write.parquet(fPath)
    val back = Lake.readQuantizedEmbeddings(spark, qPath)
    back.count() shouldBe 2000L
    // reconstruction error within the exact SQ8 bound (double scale at rest)
    val joined = back.join(emb, "vec_id")
      .select(col("vec_id"), col("embedding"), col("vec_approx"), col("scale"))
      .collect()
    joined.foreach { r =>
      val v = r.getSeq[Float](1)
      val va = r.getSeq[Double](2)
      val s = r.getDouble(3)
      // the at-rest scale is the exact double the codes were computed
      // against, so the true SQ8 bound holds (half-ulp slack for the
      // code*scale product only — the old float-rounded scale needed a
      // 1e-6*s fudge here, which was the bug)
      v.zip(va).foreach { case (x, y) =>
        assert(math.abs(x.toDouble - y) <= s / 2 + 1e-12 * s)
      }
    }
    // codes round-trip bit-exactly through the binary layout
    val codesOk = back
      .join(emb.select(col("vec_id"),
        graft.ops.Quantize.sq8Codes(col("embedding")).as("expect")), "vec_id")
      .where(!(graft.ops.Quantize.bytesToCodes(col("codes")) === col("expect")))
      .count()
    codesOk shouldBe 0L
    // the at-rest win is physical: quantized files are ~4x smaller
    def bytesOf(p: String): Long = {
      val d = new java.io.File(p)
      d.listFiles().filter(_.getName.endsWith(".parquet")).map(_.length()).sum
    }
    val (qb, fb) = (bytesOf(qPath), bytesOf(fPath))
    assert(qb * 3 < fb, s"quantized $qb bytes vs float $fb — expected <1/3")
    // quantized scoring runs directly off the read-back layout
    val top = graft.ops.Quantize.annSq8FromCodes(back, "vec_id", "codes", 1)
    top.count() shouldBe 2000L
  }

  test("PQ embedding layout: self-describing round trip, SDC identity, ~16x-smaller files") {
    val spark2 = spark
    import spark2.implicits._
    val (m, ksub) = (8, 16)
    // hash-noisy so the float side can't dictionary-compress (same honesty
    // argument as quantbench: real embeddings are incompressible)
    val emb = (0 until 2000).map { i =>
      (i.toLong, i % 16, Array.tabulate(64) { d =>
        val h = ((i * 64 + d) * 2654435761L % 16777213L).toInt
        (h / 8388606.5 - 1.0).toFloat
      })
    }.toDF("vec_id", "blk", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("pqlake").toString
    val (qPath, fPath) = (s"$dir/pq", s"$dir/float")
    Lake.writePqEmbeddings(emb, "vec_id", "embedding", qPath, m, ksub,
      extraCols = Seq("blk"))
    emb.write.parquet(fPath)
    // self-describing read: data + codebooks come back from the path alone
    val (back, cb) = Lake.readPqEmbeddings(spark, qPath)
    back.count() shouldBe 2000L
    cb.length shouldBe m
    cb.foreach(_.length shouldBe ksub)
    val cbExpect = graft.ops.Quantize.pqCodebooks(
      emb.select(col("vec_id").as("id"), col("embedding").as("v")), m, ksub)
    for (s0 <- 0 until m; j <- 0 until ksub)
      cb(s0)(j).toSeq shouldBe cbExpect(s0)(j).toSeq
    // codes round-trip bit-exactly
    val vecs = emb.collect().map(r => r.getLong(0) -> r.getSeq[Float](2).toArray).toMap
    back.select("vec_id", "codes").collect().foreach { r =>
      r.getAs[Array[Byte]](1).toSeq shouldBe
        graft.ops.Quantize.pqEncodeKernel(vecs(r.getLong(0)), cb).map(_.toByte).toSeq
    }
    // SDC search straight off the layout, no float IO: distances equal the
    // L2 between the two reconstructions (subspace-blocked fold)
    val top = graft.ops.Quantize.annPqSdc(back, cb, "vec_id", "codes", 1, Some("blk"))
      .collect()
    top.length shouldBe 2000
    top.take(200).foreach { r =>
      val ca = graft.ops.Quantize.pqEncodeKernel(vecs(r.getLong(0)), cb)
      val cp = graft.ops.Quantize.pqEncodeKernel(vecs(r.getLong(2)), cb)
      val tbl = graft.ops.Quantize.pqSdcTable(cb)
      var dist = 0.0
      for (s0 <- 0 until m) dist += tbl(s0)(ca(s0))(cp(s0))
      assert(java.lang.Double.doubleToLongBits(dist) ==
        java.lang.Double.doubleToLongBits(r.getDouble(3)))
    }
    // the at-rest win: 64 incompressible floats (256 B) became 8 bytes
    def bytesOf(p: String): Long = {
      val d = new java.io.File(p)
      d.listFiles().filter(_.getName.endsWith(".parquet")).map(_.length()).sum
    }
    val (qb, fb) = (bytesOf(qPath), bytesOf(fPath))
    assert(qb * 8 < fb, s"PQ $qb bytes vs float $fb — expected <1/8")
  }
}
