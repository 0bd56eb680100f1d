package perfbench

import graft.ops.{PipTreeCache, SpatialJoins}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** pip_flagship: a point table at rest joined against a 32-gon zone
  * layer, counted per (tile, zone). Phase 1 scans the Z-ordered table,
  * phase 2 the same rows in spatially random order. Every pass must
  * reproduce the brute-force JTS result exactly. */
final class PipFlagship(ctx: Ctx) extends Workload {
  val NPoints: Long = 2000000L
  val NZones = 4096
  val Parts = 16

  /** The brute-force result, computed when the inputs are made. */
  private lazy val expected = Store.load[Refs.PipResult](ctx.work.resolve("pip/expected.bin"))
  private val results = scala.collection.mutable.Map.empty[Int, Seq[Refs.PipResult]]

  def phaseNames: (String, String) = ("pip_rows_per_s", "pip_unordered_rows_per_s")
  def items: (Long, Long) = (NPoints, NPoints)
  def params: String = s"points=$NPoints zones=$NZones files=$Parts"

  private def zDir = ctx.dir("pip/points_z")
  private def uDir = ctx.dir("pip/points_u")
  private def zonesDir = ctx.dir("pip/zones")

  def generate(): Unit = {
    ctx.start()
    val zs = Inputs.zones(ctx.seed, NZones)
    val t0 = System.nanoTime()
    Inputs.writePip(ctx.spark, ctx.dir("pip"), ctx.seed, NPoints, zs, Parts)
    val t1 = System.nanoTime()
    Store.save(ctx.work.resolve("pip/expected.bin"), Refs.pip(ctx.spark, zDir, zs))
    Console.err.println(f"gen: tables ${(t1 - t0) / 1e9}%.2f s, reference ${(System.nanoTime() - t1) / 1e9}%.2f s")
  }

  private def perTileZone(joined: DataFrame): DataFrame =
    joined.withColumn("tile_id", Inputs.World.encodeCol(col("x"), col("y"), Inputs.TileLevel))
      .groupBy("tile_id", "poly_id").agg(count(lit(1)).as("n"))

  /** One flagship pass: scan → PIP probe → tile → count per (tile, zone). */
  private def pass(dir: String, tr: Tracer, name: String): (Double, Refs.PipResult) = {
    val t0 = System.nanoTime()
    val r = tr.span(name, "bench") {
      val spark = ctx.spark
      val feats = tr.span("io.scan_plan", "io")(spark.read.parquet(dir).select("x", "y"))
      val zones = spark.read.parquet(zonesDir).select("poly_id", "wkb")
      val joined = tr.span("ops.pip_broadcast", "ops") {
        SpatialJoins.pointInPolygonBroadcastFast(feats, zones)
      }
      tr.span("spark.exec", "spark")(Refs.pipSummary(perTileZone(joined)))
    }
    ((System.nanoTime() - t0) / 1e9, r)
  }

  def rep(i: Int, tr: Tracer, probe: Probe): Phases = {
    val (a, ra) = pass(zDir, tr, "pip.pass_z")
    val (b, rb) = pass(uDir, tr, "pip.pass_u")
    results(i) = Seq(ra, rb)
    Phases(a, b)
  }

  def check(i: Int): Option[String] =
    results.remove(i).flatMap(_.find(_ != expected)).map(r => s"got $r, expected $expected")

  def cleanup(i: Int): Unit = ()

  def sections(tr: Tracer, probe: Probe, untraced: Seq[Phases]): Map[String, Double] = {
    val spark = ctx.spark
    def timed(f: => Any): Double = { val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9 }
    def med3(f: => Any): Double = { f; Stats.median(Seq.fill(3)(timed(f))) }

    val scanS = med3(tr.span("pip.scan_control", "bench") {
      Refs.pipSummary(perTileZone(spark.read.parquet(zDir).select("x", "y")
        .withColumn("poly_id", lit(0L))))
    })
    val boxS = med3(tr.span("pip.box_control", "bench") {
      val boxes = spark.read.parquet(zonesDir).select("poly_id", "xmin", "ymin", "xmax", "ymax")
      Refs.pipSummary(perTileZone(SpatialJoins.pointInBox(
        spark.read.parquet(zDir).select("x", "y"), boxes, Inputs.World, Inputs.TileLevel,
        broadcastBoxes = true)))
    })
    val broadcastS = Stats.median(tr.all.filter(_.name == "ops.pip_broadcast").map(_.seconds))

    // single-thread kernel samples on a fresh thread (PipTreeCache keeps
    // per-thread indexes keyed by broadcast id)
    val zoneRows = spark.read.parquet(zonesDir).select("poly_id", "wkb").collect()
      .map(r => (r.getLong(0), r.getAs[Array[Byte]](1)))
    val sample = spark.read.parquet(uDir).select("x", "y").limit(200000).collect()
      .map(r => (r.getDouble(0), r.getDouble(1)))
    var buildMs = Double.NaN
    var probeNs = Double.NaN
    val kernel = new Thread(() => {
      val builds = (0 until 5).map { _ =>
        val bc = spark.sparkContext.broadcast(zoneRows)
        val t = timed(tr.span("ops.pip_index_build", "ops")(PipTreeCache.probe(bc.id, bc, 0.0, 0.0)))
        bc.destroy()
        t * 1e3
      }
      buildMs = Stats.median(builds)
      val bc = spark.sparkContext.broadcast(zoneRows)
      var hits = 0L
      val rounds = (0 until 6).map { _ =>
        timed(tr.span("ops.pip_probe_sample", "ops") {
          var j = 0
          while (j < sample.length) {
            hits += PipTreeCache.probe(bc.id, bc, sample(j)._1, sample(j)._2).length
            j += 1
          }
        }) * 1e9 / sample.length
      }
      probeNs = Stats.median(rounds.drop(1))
      bc.destroy()
    })
    kernel.start(); kernel.join()

    // 1-core pass for the 1→4 scaling efficiency, in its own session
    val fullS = Stats.median(untraced.map(_.a))
    ctx.start(1)
    pass(zDir, Tracer.Off, "")
    val oneS = Stats.median(Seq.fill(2)(pass(zDir, tr, "pip.pass_z_1core")._1))

    Map(
      "ops.pip_broadcast_s" -> broadcastS,
      "ops.pip_index_build_ms" -> buildMs,
      "ops.pip_probe_ns" -> probeNs,
      "pip.scan_s" -> scanS,
      "pip.box_s" -> boxS,
      "pip.probe_share" -> (fullS - scanS) / fullS,
      "pip.hits" -> expected.hits.toDouble,
      "pip.scaling_eff_1to4" -> oneS / (ctx.cores * fullS))
  }
}
