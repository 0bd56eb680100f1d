package perfbench

import java.nio.file.{Files, Path, Paths}

import graft.geo.{JtsGeo, Orthogonalise, Proj}
import graft.io.{Coco, GeoJson}
import graft.model._
import graft.lake.Lake
import graft.ops.{CocoOps, GeomUnionAgg, Ids, Tiling}
import graft.pipeline.{BatchPipeline, CocoToGeojson, GeojsonToCoco}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.locationtech.jts.geom.{Coordinate, Polygon}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** COCO JSONL shards (as `Coco.writeJsonl` lays them out) back into
  * tables, and the checks both building-layer workloads share. */
object CocoIo {
  private val annSchema = StructType(Seq(
    StructField("id", LongType), StructField("image_id", LongType),
    StructField("category_id", IntegerType), StructField("segmentation", ArrayType(DoubleType)),
    StructField("bbox", ArrayType(DoubleType)), StructField("area", DoubleType),
    StructField("iscrowd", IntegerType)))
  private val imgSchema = StructType(Seq(
    StructField("id", LongType), StructField("file_name", StringType),
    StructField("height", IntegerType), StructField("width", IntegerType),
    StructField("license", IntegerType)))
  private val catSchema = StructType(Seq(
    StructField("id", IntegerType), StructField("name", StringType),
    StructField("supercategory", StringType)))

  def read(spark: SparkSession, dir: String): Coco.CocoTables = {
    import spark.implicits._
    val anns = spark.read.schema(annSchema).json(s"$dir/annotations")
      .select(col("id"), col("image_id").as("imageId"), col("category_id").as("categoryId"),
        col("segmentation"), col("bbox"), col("area"), col("iscrowd")).as[CocoAnnotation]
    val imgs = spark.read.schema(imgSchema).json(s"$dir/images")
      .select(col("id"), col("file_name").as("fileName"), col("height"), col("width"),
        col("license")).as[CocoImage]
    val cats = spark.read.schema(catSchema).json(s"$dir/categories").as[CocoCategory]
    Coco.CocoTables(imgs, anns, cats)
  }

  /** Annotation count and Σ area per category name must match the clip
    * reference. */
  def checkG2c(spark: SparkSession, dir: String, ref: Refs.Clip): Option[String] = {
    val anns = spark.read.schema(annSchema).json(s"$dir/annotations")
    val cats = spark.read.schema(catSchema).json(s"$dir/categories")
      .select(col("id").as("category_id"), col("name"))
    val got = anns.join(cats, "category_id").groupBy("name")
      .agg(count(lit(1)), sum("area")).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val n = got.values.map(_._1).sum
    if (n != ref.annotations) Some(s"annotations: got $n, expected ${ref.annotations}")
    else ref.areaByClass.collectFirst {
      case (c, a) if !close(got.get(c).map(_._2).getOrElse(-1.0), a, 1e-9) =>
        s"area of $c: got ${got.get(c).map(_._2)}, expected $a"
    }
  }

  def close(a: Double, b: Double, rel: Double): Boolean =
    math.abs(a - b) <= rel * math.max(math.abs(a), math.abs(b))

  /** Regular files under `dir`. */
  def files(dir: Path): Long =
    if (!Files.exists(dir)) 0L
    else Files.walk(dir).iterator().asScala.count(p => Files.isRegularFile(p)).toLong

  /** SHA-256 over the sorted lines of every shard under `dir`. */
  def digest(dir: Path): String = {
    val lines = Files.walk(dir).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.getFileName.toString.startsWith("part-"))
      .flatMap(p => Files.readAllLines(p).asScala.map(l => s"${dir.relativize(p.getParent)}\t$l"))
      .toIndexedSeq.sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    lines.foreach(l => md.update((l + "\n").getBytes("UTF-8")))
    md.digest().map(b => f"$b%02x").mkString
  }

  def delete(dir: Path): Unit =
    if (Files.exists(dir))
      Files.walk(dir).sorted(java.util.Comparator.reverseOrder()).forEach(p => Files.delete(p))
}

/** aerial_roundtrip: one UTM 56S raster and its building layer.
  * Phase 1 is geojson2coco through the resumable batch driver: read the
  * layer, BatchPipeline.run into an empty Lake, Coco.writeJsonl. Phase 2
  * reads that COCO back and runs coco2geojson (CocoToGeojson.run with the
  * layer CRS and topology-preserving simplify, GeoJson.writeJsonl).
  * Orthogonalise stays off: it returns a self-intersecting part on some
  * seeds, which the validity check would fail.
  * Traced repetitions compose BatchPipeline.run's own public calls, with a
  * span around each. */
final class AerialRoundtrip(ctx: Ctx) extends Workload {
  val Spec = Inputs.LayerSpec("r0", west = 330000.0, north = 6252000.0, pixel = 0.125,
    tilesX = 5, tilesY = 5, tilePx = 2000, nCells = 1089)
  /** Simplify tolerance in degrees (about 0.1 m): the regularisation hop
    * works in lon/lat. */
  val SimplifyDeg = 1e-6
  private val c2gParams =
    CocoToGeojson.Params(simplifyTolerance = SimplifyDeg, layerCrs = Some(Inputs.Crs))
  /** Per-class area may move this much when regularisation moves vertices. */
  val AreaTolerance = 0.03

  /** Feature count and the references, computed when the inputs are made. */
  private lazy val expected = Store.load[AerialRoundtrip.Expected](ctx.work.resolve("roundtrip/expected.bin"))
  private def clipRef = expected.clip
  private def unionRef = expected.union
  var filesWritten = 0L

  private def g2cParams = GeojsonToCoco.Params(tileWidth = Spec.tilePx,
    tileHeight = Spec.tilePx, layerCrs = Some(Inputs.Crs))

  def phaseNames: (String, String) = ("g2c_features_per_s", "c2g_annotations_per_s")
  def items: (Long, Long) = (expected.features.toLong, clipRef.annotations)
  def params: String =
    s"features=${expected.features} tiles=${Spec.tilesX * Spec.tilesY} annotations=${clipRef.annotations}"

  private def layerDir = ctx.dir("roundtrip/layer")
  private def out(i: Int) = ctx.work.resolve(s"roundtrip/out-$i")

  /** The layer, regenerated from the seed; only generation and the
    * traced sections use it, the program reads the files at rest. */
  private lazy val feats = Inputs.buildings(Spec, ctx.seed)

  def generate(): Unit = {
    Inputs.writeGeojsonl(feats, Paths.get(layerDir), nFiles = 4)
    val clip = Refs.clip(Spec.raster, feats, Spec.tilePx)
    Store.save(ctx.work.resolve("roundtrip/expected.bin"),
      AerialRoundtrip.Expected(feats.length, clip, Refs.union(clip.worldByClass)))
  }

  private def readLayer(): org.apache.spark.sql.Dataset[Feature] =
    GeoJson.readJsonl(ctx.spark, layerDir, classColumn = "class")

  /** The tile grid. COCO written after the batch driver's concat names
    * dataset 0's images with a `0_` prefix, so its tiles take one too. */
  private def tiles(prefix: String) = {
    val spark = ctx.spark
    import spark.implicits._
    Tiling.tilesFor(Spec.raster, Spec.tilePx, Spec.tilePx)
      .map(t => t.copy(tileName = prefix + t.tileName)).toDS()
  }

  private def pairs() = Seq((Spec.raster, readLayer()))

  /** BatchPipeline.run's own calls, one span each. */
  private def composed(lake: Lake, tr: Tracer, phase: String): Coco.CocoTables = {
    val spark = ctx.spark
    import spark.implicits._
    val perPair = pairs().map { case (raster, fs) =>
      val rid = raster.rasterId
      lazy val tables = tr.span("pipeline.g2c_call", "pipeline")(GeojsonToCoco.run(fs, raster, g2cParams))
      def stage(name: String)(body: => DataFrame): DataFrame =
        tr.span(s"lake.run_stage_$phase", "lake")(lake.runStage("job", s"${rid}_$name")(body))
      val imgs = stage("images")(tables.images.toDF())
      val anns = stage("annotations")(tables.annotations.toDF())
      val cats = stage("categories")(tables.categories.toDF())
      Coco.CocoTables(imgs.as[CocoImage], anns.as[CocoAnnotation], cats.as[CocoCategory])
    }
    tr.span("ops.concat", "ops")(CocoOps.concat(perPair))
  }

  private val coldStage, concatS, jobsPerPair = ArrayBuffer.empty[Double]

  def rep(i: Int, tr: Tracer, probe: Probe): Phases = {
    val dir = out(i)
    val lake = new Lake(s"$dir/lake", ctx.spark)
    val from = tr.mark
    val t0 = System.nanoTime()
    tr.span("g2c", "bench") {
      val tables =
        if (tr.enabled) composed(lake, tr, "cold")
        else BatchPipeline.run(lake, "job", pairs(), g2cParams)
      tr.span("io.coco_write", "io")(Coco.writeJsonl(tables, s"$dir/coco"))
    }
    val t1 = System.nanoTime()
    if (tr.enabled) {
      org.apache.spark.PerfbenchBus.drain(ctx.spark.sparkContext)
      jobsPerPair += probe.listener.jobsSoFar.toDouble
      coldStage += tr.total("lake.run_stage_cold", from)
      concatS += tr.total("ops.concat", from)
    }
    tr.span("c2g", "bench") {
      val back = tr.span("io.coco_read", "io")(CocoIo.read(ctx.spark, s"$dir/coco"))
      val parts = tr.span("pipeline.c2g_call", "pipeline")(CocoToGeojson.run(back, tiles("0_"), c2gParams))
      tr.span("io.geojson_write", "io")(GeoJson.writeJsonl(parts, s"$dir/geojson"))
    }
    Phases((t1 - t0) / 1e9, (System.nanoTime() - t1) / 1e9)
  }

  def check(i: Int): Option[String] = {
    filesWritten = CocoIo.files(out(i))
    CocoIo.checkG2c(ctx.spark, s"${out(i)}/coco", clipRef).orElse(checkC2g(s"${out(i)}/geojson"))
  }

  /** Parts per class equal the JTS union's, every part is valid, and the
    * per-class area is within `AreaTolerance` of the union's. */
  private def checkC2g(dir: String): Option[String] = {
    val lines = ctx.spark.read.text(dir).collect().map(_.getString(0))
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val parts = lines.map { l =>
      val f = mapper.readTree(l)
      (f.get("properties").get("zone_name").asText(), GeoJson.parseGeometry(f.get("geometry")))
    }
    val invalid = parts.count(!_._2.isValid)
    val byClass = parts.groupBy(_._1)
    if (invalid > 0) Some(s"$invalid invalid parts")
    else unionRef.parts.keys.collectFirst {
      case c if byClass.get(c).map(_.length).getOrElse(0) != unionRef.count(c) =>
        s"parts of $c: got ${byClass.get(c).map(_.length).getOrElse(0)}, expected ${unionRef.count(c)}"
      case c if !CocoIo.close(byClass(c).map(_._2.getArea).sum, unionRef.area(c), AreaTolerance) =>
        s"area of $c: got ${byClass(c).map(_._2.getArea).sum}, expected about ${unionRef.area(c)}"
    }
  }

  def cleanup(i: Int): Unit = CocoIo.delete(out(i))

  def sections(tr: Tracer, probe: Probe, untraced: Seq[Phases]): Map[String, Double] = {
    val spark = ctx.spark
    import spark.implicits._
    def timed(f: => Any): Double = { val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9 }
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    val dir = ctx.work.resolve("roundtrip/sections")

    val g2cCall = Stats.median(tr.all.filter(_.name == "pipeline.g2c_call").map(_.seconds))
    val tables = GeojsonToCoco.run(readLayer(), Spec.raster, g2cParams)
    val g2cExec = Stats.median(Seq.fill(2)(timed(tr.span("pipeline.g2c_exec", "pipeline") {
      noop(tables.annotations.toDF()); noop(tables.images.toDF()); noop(tables.categories.toDF())
    })))
    val anns = tables.annotations.persist()
    anns.count()
    val held = tables.copy(annotations = anns)
    val cocoWrite = timed(tr.span("io.coco_write_materialised", "io")(Coco.writeJsonl(held, s"$dir/coco")))
    val denseId = timed(tr.span("ops.dense_id", "ops") {
      noop(Ids.denseId(anns.toDF().withColumnRenamed("id", "aid"), "id", Seq("imageId", "aid")))
    })
    anns.unpersist()

    val back = CocoIo.read(spark, s"$dir/coco")
    val c2gExec = Stats.median(Seq.fill(2)(timed(tr.span("pipeline.c2g_exec", "pipeline") {
      noop(CocoToGeojson.run(back, tiles(""), c2gParams))
    })))
    val parts = CocoToGeojson.run(back, tiles(""), c2gParams).persist()
    parts.count()
    val geojsonWrite = timed(tr.span("io.geojson_write_materialised", "io")(
      GeoJson.writeJsonl(parts, s"$dir/geojson")))
    parts.unpersist()

    // per-class union alone, on the pixel-centre world polygons
    val world = clipRef.worldByClass.toSeq.flatMap { case (c, ps) => ps.map(p => (c, JtsGeo.toWkb(p))) }
      .toDF("cls", "wkb").repartition(ctx.cores).persist()
    world.count()
    var unionS = 0.0
    val (_, unionCounters) = probe.measure(enabled = true) {
      unionS = timed(tr.span("ops.union", "ops")(
        noop(world.groupBy("cls").agg(GeomUnionAgg.union(col("wkb")).as("u")))))
    }
    world.unpersist()

    // single-thread kernels: clip per (feature, tile) pair, orthogonalise
    // per merged part in lon/lat after simplify, as the pipeline calls it
    // when orthogonalise is on
    val tileBoxes = Tiling.tilesFor(Spec.raster, Spec.tilePx, Spec.tilePx).map { t =>
      val (x0, y0, x1, y1) = Tiling.worldEnvelope(t); JtsGeo.box(x0, y0, x1, y1)
    }
    val clipPairs = feats.iterator.map(_._1).flatMap { g =>
      tileBoxes.filter(_.getEnvelopeInternal.intersects(g.getEnvelopeInternal)).map(b => (g, b))
    }.take(4000).toIndexedSeq
    val clipUs = Stats.median((0 until 4).map { _ =>
      timed(tr.span("geo.clip_sample", "geo")(clipPairs.foreach { case (g, b) => JtsGeo.clipToBox(g, b) })) *
        1e6 / clipPairs.length
    }.drop(1))
    val merged = unionRef.parts.values.flatten.take(3000).map { p =>
      JtsGeo.simplify(JtsGeo.factory.createPolygon(p.getExteriorRing.getCoordinates.map { c =>
        val (lat, lon) = Proj.utmInverse(c.x, c.y, 56, false)
        new Coordinate(lon, lat)
      }), SimplifyDeg)
    }.collect { case p: Polygon => p }.toIndexedSeq
    val orthoUs = Stats.median((0 until 4).map { _ =>
      timed(tr.span("geo.ortho_sample", "geo")(merged.foreach(p => Orthogonalise(p)))) *
        1e6 / merged.length
    }.drop(1))

    // Lake: lineage alone on every stage's frame, then the batch driver
    // into an empty Lake and again over the completed one
    val lake = new Lake(s"$dir/lake", spark)
    val t = GeojsonToCoco.run(readLayer(), Spec.raster, g2cParams)
    val lineageS = Seq("images" -> t.images.toDF(), "annotations" -> t.annotations.toDF(),
      "categories" -> t.categories.toDF()).map { case (name, df) =>
      timed(tr.span("lake.lineage", "lake")(lake.recordLineage("lineage", s"r0_$name", df)))
    }.sum
    def batch(name: String): Unit = tr.span(s"pipeline.batch_$name", "pipeline") {
      Coco.writeJsonl(BatchPipeline.run(lake, "job", pairs(), g2cParams), s"$dir/$name")
    }
    batch("cold")
    batch("resume")
    // the per-stage spans come from the composed calls, whose output must
    // match the batch driver's
    val resumeFrom = tr.mark
    Coco.writeJsonl(composed(lake, tr, "resume"), s"$dir/resume_composed")
    val resumeStage = tr.total("lake.run_stage_resume", resumeFrom)
    val cold = CocoIo.digest(dir.resolve("cold"))
    Seq("resume", "resume_composed").foreach { name =>
      val d = CocoIo.digest(dir.resolve(name))
      require(d == cold, s"$name output digest $d differs from the cold output's $cold")
    }
    CocoIo.delete(dir)

    Map(
      "io.files_written" -> filesWritten.toDouble,
      "lake.run_stage_cold_s" -> Stats.median(coldStage.toSeq),
      "lake.lineage_s" -> lineageS,
      "spark.jobs_per_pair" -> Stats.median(jobsPerPair.toSeq),
      "lake.run_stage_resume_s" -> resumeStage,
      "ops.concat_s" -> Stats.median(concatS.toSeq),
      "pipeline.g2c_call_s" -> g2cCall,
      "pipeline.g2c_exec_s" -> g2cExec,
      "geo.clip_us" -> clipUs,
      "ops.dense_id_s" -> denseId,
      "io.coco_write_s" -> cocoWrite,
      "pipeline.c2g_exec_s" -> c2gExec,
      "ops.union_s" -> unionS,
      "ops.union_max_task_s" -> unionCounters.map(_.maxTaskS).getOrElse(Double.NaN),
      "geo.ortho_us" -> orthoUs,
      "io.geojson_write_s" -> geojsonWrite,
      "g2c.annotations" -> clipRef.annotations.toDouble,
      "c2g.parts" -> unionRef.parts.values.map(_.length).sum.toDouble)
  }
}

object AerialRoundtrip {
  final case class Expected(features: Int, clip: Refs.Clip, union: Refs.Union)
}
