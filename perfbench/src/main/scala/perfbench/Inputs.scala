package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import graft.geo.{CellIndex, JtsGeo}
import graft.model.RasterMeta
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.locationtech.jts.geom.{Coordinate, Polygon}

import scala.util.Random

/** Seeded input generators. Everything here runs before any timing and
  * leaves its output at rest; the program only ever sees those files. */
object Inputs {

  // ---------- pip_flagship ----------

  val World: CellIndex = CellIndex.Unit20
  val TileLevel = 8

  /** Zone layer: `n` 32-gons over the 2^20 world, each the ellipse
    * inscribed in a 3x-inflated 2-10 k unit box (the flagship's shape:
    * about one candidate zone per point). Columns: poly_id, wkb and the
    * polygon's envelope. */
  def zones(seed: Long, n: Int): IndexedSeq[(Long, Polygon)] = {
    val rnd = new Random(seed)
    (0 until n).map { k =>
      val x0 = rnd.nextDouble() * 1040000.0
      val y0 = rnd.nextDouble() * 1040000.0
      val w = 2000.0 + rnd.nextInt(8000)
      val h = 2000.0 + rnd.nextInt(8000)
      val (cx, cy, rx, ry) = (x0 + w / 2, y0 + h / 2, w * 1.5, h * 1.5)
      val cs = Array.tabulate(33) { i =>
        val a = 2 * math.Pi * i / 32
        new Coordinate(cx + rx * math.cos(a), cy + ry * math.sin(a))
      }
      cs(32) = cs(0)
      (k.toLong, JtsGeo.factory.createPolygon(cs))
    }
  }

  /** Writes `<dir>/zones`, `<dir>/points_z` and `<dir>/points_u`. Point
    * `id` of `n` lies in level-10 cell number `id * 4^10 / n` in Z order,
    * at a seeded integer offset inside it, so `points_z` (ids in order) is
    * Z-ordered on the level-10 cell, the flagship's at-rest layout, and
    * density is uniform. `points_u` holds the same points in the order of
    * a multiplicative permutation of the ids: spatially random. */
  def writePip(spark: SparkSession, dir: String, seed: Long, nPoints: Long,
               zs: IndexedSeq[(Long, Polygon)], parts: Int): Unit = {
    import spark.implicits._
    zs.map { case (id, p) =>
      val e = p.getEnvelopeInternal
      (id, JtsGeo.toWkb(p), e.getMinX, e.getMinY, e.getMaxX, e.getMaxY)
    }.toDF("poly_id", "wkb", "xmin", "ymin", "xmax", "ymax")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/zones")
    // Morton decode of the cell number z: col = even bits, row = odd bits
    def gather(v: Column): Column = {
      var x = v.bitwiseAND(lit(0x5555555555555555L))
      Seq((1, 0x3333333333333333L), (2, 0x0F0F0F0F0F0F0F0FL), (4, 0x00FF00FF00FF00FFL),
        (8, 0x0000FFFF0000FFFFL), (16, 0xFFFFFFFFL)).foreach { case (k, m) =>
        x = x.bitwiseOR(shiftright(x, k)).bitwiseAND(lit(m))
      }
      x
    }
    def points(id: Column): DataFrame = {
      val z = (id * lit(1L << 20)).divide(lit(nPoints)).cast("long")
      val h = xxhash64(id, lit(seed))
      spark.range(0, nPoints, 1, parts).select(
        id.as("id"),
        (gather(z) * 1024 + h.bitwiseAND(lit(1023L))).cast("double").as("x"),
        (gather(shiftright(z, 1)) * 1024 + shiftright(h, 10).bitwiseAND(lit(1023L)))
          .cast("double").as("y"))
    }
    points(col("id")).write.mode("overwrite").parquet(s"$dir/points_z")
    // 2654435761 is prime, so it permutes the ids of any n it does not divide
    require(nPoints % 2654435761L != 0)
    points(pmod(col("id") * lit(2654435761L), lit(nPoints)))
      .write.mode("overwrite").parquet(s"$dir/points_u")
  }

  // ---------- building layers (aerial_roundtrip, batch_many_rasters) ----------

  /** The layer CRS: WGS 84 / UTM zone 56S. */
  val Crs = "EPSG:32756"

  /** A raster of `tilesX` x `tilesY` tiles of `tilePx` pixels, north-up,
    * with `pixel`-metre pixels and its north-west corner at (west, north). */
  final case class LayerSpec(rasterId: String, west: Double, north: Double,
                             pixel: Double, tilesX: Int, tilesY: Int, tilePx: Int,
                             nCells: Int) {
    def raster: RasterMeta = RasterMeta(rasterId, tilesX * tilePx, tilesY * tilePx,
      pixel, 0.0, west, 0.0, -pixel, north, Crs)
  }

  /** Classes and their share of buildings: one class holds over half. */
  val Classes: Seq[(String, Double)] =
    Seq("building" -> 0.55, "shed" -> 0.2, "garage" -> 0.15, "pool" -> 0.1)

  private def pickClass(rnd: Random): String = {
    var u = rnd.nextDouble()
    Classes.find { case (_, w) => u -= w; u < 0 }.map(_._1).getOrElse(Classes.head._1)
  }

  /** Building-like polygons, one per cell of a grid over the raster: a
    * rectangle with 1-4 corner notches and 0-3 edge notches (6-24
    * vertices), rotated, with vertices jittered by 1 % of the cell and
    * then snapped to pixel corners, as outlines digitised on the imagery
    * in pixel space are. Each stays inside its cell, so buildings are
    * disjoint. About a tenth straddle a tile edge.
    *
    * The snap matters: off the pixel grid, geojson2coco's floor law folds
    * vertices within a pixel of a tile edge onto it, and the union of the
    * folded rings throws a JTS TopologyException on about half the seeds.
    * Pixel sizes here are powers of two so the snap and the floor law are
    * exact. */
  def buildings(spec: LayerSpec, seed: Long): IndexedSeq[(Polygon, String)] = {
    val rnd = new Random(seed)
    val r = spec.raster
    val (w, h) = (r.width * spec.pixel, r.height * spec.pixel)
    val gx = math.max(1, math.round(math.sqrt(spec.nCells * w / h)).toInt)
    val gy = math.max(1, (spec.nCells + gx - 1) / gx)
    val (sx, sy) = (w / gx, h / gy)
    val s = math.min(sx, sy)
    val south = spec.north - h
    (0 until spec.nCells).map { k =>
      val (ix, iy) = (k % gx, k / gx)
      val cls = pickClass(rnd)
      val bw = s * (0.35 + 0.15 * rnd.nextDouble())
      val bh = s * (0.35 + 0.15 * rnd.nextDouble())
      val local = notched(rnd, bw, bh)
      val cx = spec.west + (ix + 0.5) * sx + (rnd.nextDouble() - 0.5) * 0.2 * s
      val cy = south + (iy + 0.5) * sy + (rnd.nextDouble() - 0.5) * 0.2 * s
      val theta = rnd.nextDouble() * math.Pi / 2
      (place(rnd, local, cx, cy, theta, s, spec.pixel), cls)
    }
  }

  /** Rectangle [-w/2,w/2] x [-h/2,h/2] minus corner and edge notches. */
  private def notched(rnd: Random, w: Double, h: Double): Array[Coordinate] = {
    val rect = JtsGeo.box(-w / 2, -h / 2, w / 2, h / 2)
    val corners = rnd.shuffle(Seq((-1, -1), (1, -1), (1, 1), (-1, 1))).take(1 + rnd.nextInt(4))
    val cornerCuts = corners.map { case (sxn, syn) =>
      val (nw, nh) = (w * (0.15 + 0.15 * rnd.nextDouble()), h * (0.15 + 0.15 * rnd.nextDouble()))
      val (x0, x1) = if (sxn < 0) (-w, -w / 2 + nw) else (w / 2 - nw, w)
      val (y0, y1) = if (syn < 0) (-h, -h / 2 + nh) else (h / 2 - nh, h)
      JtsGeo.box(x0, y0, x1, y1)
    }
    val edges = rnd.shuffle(Seq(0, 1, 2, 3)).take(rnd.nextInt(4))
    val edgeCuts = edges.map { e =>
      val t = 0.45 + 0.1 * rnd.nextDouble()
      val half = 0.075 + 0.025 * rnd.nextDouble()
      val depth = 0.1 + 0.1 * rnd.nextDouble()
      e match {
        case 0 => JtsGeo.box(-w / 2 + (t - half) * w, -h, -w / 2 + (t + half) * w, -h / 2 + depth * h)
        case 1 => JtsGeo.box(w / 2 - depth * w, -h / 2 + (t - half) * h, w, -h / 2 + (t + half) * h)
        case 2 => JtsGeo.box(-w / 2 + (t - half) * w, h / 2 - depth * h, -w / 2 + (t + half) * w, h)
        case _ => JtsGeo.box(-w, -h / 2 + (t - half) * h, -w / 2 + depth * w, -h / 2 + (t + half) * h)
      }
    }
    val cut = JtsGeo.unionAll(cornerCuts ++ edgeCuts)
    rect.difference(cut) match {
      case p: Polygon if p.isValid && !p.isEmpty && p.getNumInteriorRing == 0 =>
        p.getExteriorRing.getCoordinates
      case _ => rect.getExteriorRing.getCoordinates
    }
  }

  /** Rotate by theta, translate to (cx, cy), jitter every vertex by up to
    * 1 % of the cell size `s` and snap it to a multiple of `pixel`; the
    * ring stays closed. Falls back to the unjittered ring, then to the
    * snapped bounding box, if a step made the ring invalid. */
  private def place(rnd: Random, ring: Array[Coordinate], cx: Double, cy: Double,
                    theta: Double, s: Double, pixel: Double): Polygon = {
    val (ct, st) = (math.cos(theta), math.sin(theta))
    def snap(v: Double) = math.round(v / pixel) * pixel
    def at(c: Coordinate, jx: Double, jy: Double) =
      new Coordinate(snap(cx + c.x * ct - c.y * st + jx), snap(cy + c.x * st + c.y * ct + jy))
    def polygon(cs: Array[Coordinate]) = JtsGeo.factory.createPolygon(cs :+ cs.head.copy())
    val open = ring.dropRight(1)
    val jittered = polygon(open.map(c => at(c, (rnd.nextDouble() - 0.5) * 0.02 * s,
      (rnd.nextDouble() - 0.5) * 0.02 * s)))
    lazy val plain = polygon(open.map(c => at(c, 0, 0)))
    if (jittered.isValid) jittered
    else if (plain.isValid) plain
    else {
      val e = plain.getEnvelopeInternal
      JtsGeo.box(e.getMinX, e.getMinY, e.getMaxX, e.getMaxY)
    }
  }

  /** One GeoJSON Feature per line, class in the `class` property, split
    * over `nFiles` files under `dir`. */
  def writeGeojsonl(feats: IndexedSeq[(Polygon, String)], dir: Path, nFiles: Int): Unit = {
    Files.createDirectories(dir)
    val per = (feats.length + nFiles - 1) / nFiles
    feats.grouped(math.max(1, per)).zipWithIndex.foreach { case (chunk, i) =>
      val sb = new StringBuilder
      chunk.foreach { case (p, cls) =>
        sb.append("""{"type":"Feature","properties":{"class":""").append(Json.str(cls))
          .append("""},"geometry":{"type":"Polygon","coordinates":[[""")
        p.getExteriorRing.getCoordinates.zipWithIndex.foreach { case (c, j) =>
          if (j > 0) sb.append(',')
          sb.append('[').append(java.lang.Double.toString(c.x)).append(',')
            .append(java.lang.Double.toString(c.y)).append(']')
        }
        sb.append("]]}}\n")
      }
      Files.write(dir.resolve(f"part-$i%03d.geojsonl"), sb.toString.getBytes(StandardCharsets.UTF_8))
    }
  }
}
