package graft.lake

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, NumericType, StructType}

/** Iceberg-emulation table layer (SURVEY.md §4.6, S9, O9). No Iceberg jar
  * exists in the offline sandbox, so the engine provides the same contract
  * on plain parquet + JSON manifests, with the layout chosen so a real
  * Iceberg catalog can adopt the data files unchanged outside the sandbox:
  *
  * {{{
  *   <root>/<table>/data/snap-<id>/part-*.parquet   — immutable snapshot data
  *   <root>/<table>/_meta/snap-<id>.json            — manifest: rows, schema, stats
  *   <root>/_lineage/<jobId>/<stage>.json           — per-partition rows, JSON lines
  *   <root>/_checkpoints/<jobId>/<stage>            — completed-stage marks
  * }}}
  *
  *  - A snapshot's frame is evaluated once, by its write. Its row count, and
  *    a stage's lineage rows, come from the written part files' parquet
  *    footers, read on the driver: each part file is one write task, and its
  *    name (`part-<partition>-…`) carries the task's partition index.
  *  - The manifest carries the snapshot's schema (`StructType.json`), so
  *    reads need no parquet schema-inference job.
  *  - Lineage is one JSON-lines file per (jobId, stage), rows
  *    `{"jobId","stage","partitionId","rows"}`, written by the driver and
  *    replaced when the stage is recorded again. `runStage` writes the
  *    footer rows with no Spark job; `recordLineage` counts a frame's
  *    partitions in one job.
  *
  * Capabilities the north_rule names:
  *  - snapshot append + time-travel read (`asOf`),
  *  - per-snapshot min/max column stats → snapshot pruning on read,
  *  - per-partition lineage metrics (rows) for every stage,
  *  - checkpointed, idempotent, resumable stages (`runStage` skips work whose
  *    snapshot already exists — the reference's resume() rescans output dirs,
  *    batch_geojson2coco.py:40-64); a stage's frame is evaluated once.
  */
final class Lake(val root: String, spark: SparkSession) {

  private def fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
  private val mapper = new ObjectMapper()

  private def metaDir(table: String) = new Path(s"$root/$table/_meta")
  private def dataDir(table: String, snap: Long) = s"$root/$table/data/snap-$snap"
  private def lineageFile(jobId: String, stage: String) =
    new Path(s"$root/_lineage/$jobId/$stage.json")

  // ---------- snapshots ----------

  def snapshotIds(table: String): Seq[Long] = {
    val dir = metaDir(table)
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).map(_.getPath.getName)
      .collect { case s if s.startsWith("snap-") && s.endsWith(".json") =>
        s.stripPrefix("snap-").stripSuffix(".json").toLong
      }.sorted.toSeq
  }

  /** Append `df` as a new immutable snapshot; records row count, schema and
    * min/max stats for `statsCols` in the manifest. Returns the snapshot id. */
  def writeSnapshot(df: DataFrame, table: String, statsCols: Seq[String] = Seq.empty): Long =
    append(df, table, statsCols)._1

  /** [[writeSnapshot]], also returning the rows per write partition. */
  private def append(df: DataFrame, table: String,
                     statsCols: Seq[String]): (Long, Seq[(Int, Long)]) = {
    val snap = snapshotIds(table).lastOption.getOrElse(-1L) + 1
    val dir = dataDir(table, snap)
    df.write.mode("errorifexists").parquet(dir)
    val perPartition = footerRows(dir)
    // numeric stats are stored as JSON numbers and compared numerically at
    // prune time — a stringified compare would order "9" > "10" and
    // incorrectly skip matching snapshots (silently missing rows)
    val stats = if (statsCols.isEmpty) Seq.empty else {
      val r = spark.read.schema(df.schema).parquet(dir).select(statsCols.flatMap(c =>
        Seq(min(col(c)).cast("string"), max(col(c)).cast("string"))): _*).head()
      statsCols.zipWithIndex.collect { case (c, i) if !r.isNullAt(2 * i) =>
        (c, r.getString(2 * i), r.getString(2 * i + 1),
          df.schema(c).dataType.isInstanceOf[NumericType])
      }
    }
    val statsJson = stats.map { case (c, lo, hi, numeric) =>
      if (numeric) s""""$c":{"min":$lo,"max":$hi,"num":true}"""
      else s""""$c":{"min":${jstr(lo)},"max":${jstr(hi)},"num":false}"""
    }.mkString("{", ",", "}")
    val manifest = s"""{"snapshot":$snap,"table":${jstr(table)},""" +
      s""""rows":${perPartition.map(_._2).sum},"schema":${df.schema.json},"stats":$statsJson}"""
    writeText(new Path(metaDir(table), s"snap-$snap.json"), manifest, overwrite = false)
    (snap, perPartition)
  }

  /** Rows per write partition of the snapshot at `dir`, summed from the
    * part files' parquet footers (a partition splits into several files
    * only under `maxRecordsPerFile`). */
  private def footerRows(dir: String): Seq[(Int, Long)] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val PartFile = """part-(\d+)-.*""".r
    fs.listStatus(new Path(dir)).toSeq.flatMap { st =>
      st.getPath.getName match {
        case PartFile(p) =>
          val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(st, conf))
          try Some((p.toInt, reader.getRecordCount)) finally reader.close()
        case _ => None
      }
    }.groupMapReduce(_._1)(_._2)(_ + _).toSeq.sorted
  }

  private def writeText(path: Path, text: String, overwrite: Boolean): Unit = {
    val out = fs.create(path, overwrite)
    try out.write(text.getBytes("UTF-8")) finally out.close()
  }

  private def jstr(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  def manifest(table: String, snap: Long): String = {
    val in = fs.open(new Path(metaDir(table), s"snap-$snap.json"))
    val bytes = org.apache.commons.io.IOUtils.toByteArray(in); in.close()
    new String(bytes, "UTF-8")
  }

  /** Read the table as of snapshot `asOf` (inclusive; default latest) with
    * the schema of the latest snapshot read. `prune` is an optional
    * (col, lo, hi) predicate evaluated against the manifests' min/max
    * stats — snapshots that cannot match are never scanned (the
    * partition-pruning analog, SURVEY.md §4 J7). */
  def readTable(table: String, asOf: Long = Long.MaxValue,
                prune: Option[(String, String, String)] = None): DataFrame = {
    val manifests = snapshotIds(table).filter(_ <= asOf)
      .map(s => s -> mapper.readTree(manifest(table, s)))
    val snaps = prune match {
      case None => manifests
      case Some((c, lo, hi)) => manifests.filter { case (_, m) =>
        val stat = if (m.has("stats")) m.get("stats").get(c) else null
        if (stat == null) true // no stats for the column → cannot prune
        else if (stat.get("num").asBoolean())
          stat.get("min").asDouble() <= hi.toDouble && stat.get("max").asDouble() >= lo.toDouble
        else stat.get("min").asText() <= hi && stat.get("max").asText() >= lo
      }
    }
    if (snaps.isEmpty) spark.emptyDataFrame
    else {
      // manifests written before the schema was recorded fall back to inference
      val schema = Option(snaps.last._2.get("schema"))
        .map(s => DataType.fromJson(s.toString).asInstanceOf[StructType])
      schema.fold(spark.read)(spark.read.schema).parquet(snaps.map(s => dataDir(table, s._1)): _*)
    }
  }

  // ---------- lineage ----------

  /** Record the per-partition row counts of `df` as the lineage of
    * (jobId, stage), replacing any earlier record. Evaluates `df` once. */
  def recordLineage(jobId: String, stage: String, df: DataFrame): Unit =
    writeLineage(jobId, stage, df.queryExecution.toRdd
      .mapPartitionsWithIndex((p, it) => Iterator((p, it.size.toLong))).collect().toSeq)

  private def writeLineage(jobId: String, stage: String, perPartition: Seq[(Int, Long)]): Unit =
    writeText(lineageFile(jobId, stage), perPartition.map { case (p, n) =>
      s"""{"jobId":${jstr(jobId)},"stage":${jstr(stage)},"partitionId":$p,"rows":$n}""" + "\n"
    }.mkString, overwrite = true)

  /** Every recorded lineage row: (jobId, stage, partitionId, rows). */
  def lineage(): DataFrame = {
    import spark.implicits._
    val dir = new Path(s"$root/_lineage")
    val rows = if (!fs.exists(dir)) Seq.empty else {
      val files = fs.listFiles(dir, true)
      Iterator.continually(files).takeWhile(_.hasNext).map(_.next().getPath)
        .filter(_.getName.endsWith(".json")).flatMap { p =>
          val in = fs.open(p)
          val text = try org.apache.commons.io.IOUtils.toString(in, "UTF-8") finally in.close()
          text.split('\n').iterator.filter(_.nonEmpty).map { l =>
            val n = mapper.readTree(l)
            (n.get("jobId").asText(), n.get("stage").asText(),
              n.get("partitionId").asInt(), n.get("rows").asLong())
          }
        }.toSeq
    }
    rows.toDF("jobId", "stage", "partitionId", "rows")
  }

  // ---------- checkpoint / resume ----------

  def completedStages(jobId: String): Set[String] = {
    val p = new Path(s"$root/_checkpoints/$jobId")
    if (!fs.exists(p)) Set.empty
    else fs.listStatus(p).map(_.getPath.getName).toSet
  }

  def markComplete(jobId: String, stage: String): Unit =
    fs.create(new Path(s"$root/_checkpoints/$jobId/$stage"), true).close()

  /** Idempotent stage execution: if `stage` completed for `jobId`, read its
    * snapshot back instead of recomputing (kill-and-resume equivalence —
    * O9). Otherwise the body's frame is written once as the stage's
    * snapshot, whose footers give the lineage rows, and read back. The
    * body must be deterministic for exact resume semantics. */
  def runStage(jobId: String, stage: String)(body: => DataFrame): DataFrame = {
    val table = s"$jobId/$stage"
    if (!completedStages(jobId).contains(stage)) {
      val (_, perPartition) = append(body, table, Seq.empty)
      writeLineage(jobId, stage, perPartition)
      markComplete(jobId, stage)
    }
    readTable(table)
  }
}

object Lake {
  /** Catalog-registered bucketed+sorted layout — the co-located-join story
    * for the fact tables at 100 TB: two tables bucketed the same way on the
    * join key sort-merge-join with NO shuffle exchange and NO sort on
    * either side (Spark reads its own bucket metadata; assert via
    * BucketedJoinSpec). Bucketing lives in the session catalog rather than
    * the snapshot layer because Spark only recognizes bucket files through
    * `saveAsTable` metadata — outside the sandbox an Iceberg catalog
    * supplies the same property through its bucket partition transform. */
  def writeBucketed(df: DataFrame, table: String, nBuckets: Int,
                    key: String, sortCols: Seq[String] = Seq.empty): Unit = {
    val sorted = if (sortCols.isEmpty) Seq(key) else sortCols
    df.write.mode("overwrite")
      .bucketBy(nBuckets, key)
      .sortBy(sorted.head, sorted.tail: _*)
      .format("parquet")
      .saveAsTable(table)
  }

  /** SQ8-quantized AT-REST layout for an embedding table: codes packed as
    * BINARY (one signed byte per dimension — the 4× size win is physical
    * parquet bytes, not an encoding artifact) plus the per-vector scale
    * AS DOUBLE — the exact value the codes were computed against, which
    * is all reconstruction needs (v̂_i = code_i · scale) and what keeps
    * the |v − v̂| ≤ scale/2 bound true (a float-rounded copy broke it).
    * Quantized cosine runs DIRECTLY off this layout
    * ([[graft.ops.Quantize.annSq8FromCodes]]) — scales cancel — so the
    * ANN scan/shuffle moves a quarter of the bytes; end-to-end scan+score
    * numbers vs the float table are in BENCH/BASELINE.md. */
  def writeQuantizedEmbeddings(emb: DataFrame, idCol: String, vecCol: String,
                               path: String,
                               extraCols: Seq[String] = Seq.empty): Unit = {
    // the scale is stored as DOUBLE: codes are computed against the exact
    // double scale, and a float-rounded copy shifts reconstruction by up
    // to ~127 ulp(scale) — past the |v − v̂| ≤ scale/2 bound for values
    // quantized at a cell boundary. 4 extra bytes/row is noise next to
    // the 4× payload win.
    val cols = Seq(col(idCol),
      graft.ops.Quantize.sq8Bytes(col(vecCol)).as("codes"),
      graft.ops.Quantize.sq8Scale(col(vecCol)).as("scale")) ++
      extraCols.map(col)
    emb.select(cols: _*).write.mode("overwrite").parquet(path)
  }

  /** Read the quantized layout back: (idCol, codes binary, scale double,
    * extras…) plus a reconstructed `vec_approx` array<double> column
    * (|v − v̂| ≤ scale/2 per dimension, the SQ8 distortion bound). */
  def readQuantizedEmbeddings(spark: SparkSession, path: String): DataFrame = {
    val df = spark.read.parquet(path)
    df.withColumn("vec_approx",
      transform(graft.ops.Quantize.bytesToCodes(col("codes")),
        c => c.cast("double") * col("scale").cast("double")))
  }

  /** The PQ at-rest layout — the compression tier beyond
    * [[writeQuantizedEmbeddings]]'s SQ8: each vector is product-quantized
    * ONCE at write time ([[graft.ops.Quantize.pqCodebooks]]'s
    * deterministic draw + argmin encode) and stored as m BINARY bytes —
    * 32× fewer payload bytes than float32 at D=64/m=8 (4·D → m). The m
    * codebooks (m·ksub·(D/m) floats — KBs) are persisted beside the data
    * under `_codebook/` (the underscore prefix hides the sidecar from
    * plain `spark.read.parquet(path)` readers, the `_SUCCESS`
    * convention), so the table is self-describing: reads need no access
    * to the original floats. Search straight off this layout is
    * [[graft.ops.Quantize.annPqSdc]] (both sides codes, zero float IO);
    * sizes and scan+score seconds vs float/SQ8 are measured in
    * `ScalingBench quantbench` (BENCH/BASELINE.md). */
  def writePqEmbeddings(emb: DataFrame, idCol: String, vecCol: String,
                        path: String, m: Int, ksub: Int,
                        extraCols: Seq[String] = Seq.empty): Unit = {
    val spark = emb.sparkSession
    // this layout packs one code per SIGNED byte — the storage-tier cap
    require(ksub <= 128,
      s"ksub=$ksub exceeds the signed-byte code range of the binary layout")
    val cb = graft.ops.Quantize.pqCodebooks(
      emb.select(col(idCol).cast("long").as("id"), col(vecCol).as("v")), m, ksub)
    // native codegen'd encode projection (round 6 — same pqEncodeKernel,
    // no mapPartitions row codec; the scan→encode→write fuses into one
    // codegen stage)
    val quant = emb.select((Seq(col(idCol),
      graft.functions.AnnExprs.pqEncodeBytes(col(vecCol), cb).as("codes")) ++
      extraCols.map(col)): _*)
    quant.write.mode("overwrite").parquet(path)
    // codebook sidecar: one row per (subspace, entry), draw-rank ordered
    val cbRows = for (s <- cb.indices; j <- cb(s).indices)
      yield (s, j, cb(s)(j).toSeq)
    spark.createDataFrame(cbRows).toDF("s", "j", "entry")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/_codebook")
  }

  /** Read the PQ layout back: the data frame (idCol, codes BINARY,
    * extras…) and the codebooks reassembled from the `_codebook` sidecar
    * in (subspace, draw-rank) order. */
  def readPqEmbeddings(spark: SparkSession,
                       path: String): (DataFrame, Array[Array[Array[Float]]]) = {
    val cbRows = spark.read.parquet(s"$path/_codebook")
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getSeq[Float](2).toArray))
    // self-describing-table contract (ADVICE r05): fail with a clear
    // message instead of an opaque empty-collection max
    require(cbRows.nonEmpty, s"no _codebook sidecar rows under $path")
    val m = cbRows.map(_._1).max + 1
    val cb = Array.tabulate(m) { s =>
      cbRows.filter(_._1 == s).sortBy(_._2).map(_._3)
    }
    (spark.read.parquet(path), cb)
  }
}
