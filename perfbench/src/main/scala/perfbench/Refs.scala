package perfbench

import graft.geo.{Affine, JtsGeo}
import graft.model.RasterMeta
import graft.ops.Tiling
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.locationtech.jts.algorithm.RayCrossingCounter
import org.locationtech.jts.geom.{Coordinate, Geometry, GeometryCollection, Location, Polygon}
import org.locationtech.jts.operation.union.UnaryUnionOp

import scala.jdk.CollectionConverters._

/** Expected outputs, computed from the generated inputs with plain JTS
  * before any timing starts. */
object Refs {

  /** (groups, hits, checksum) of a count per (tile, zone). */
  final case class PipResult(groups: Long, hits: Long, checksum: Long)

  /** The aggregate every PIP pass and the reference end in. */
  def pipSummary(perTileZone: DataFrame): PipResult = {
    val r = perTileZone.agg(count(lit(1)), sum("n"),
      sum(col("n") * xxhash64(col("tile_id"), col("poly_id")).bitwiseAND(lit(0xFFFFFFL)))).head()
    PipResult(r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1),
      if (r.isNullAt(2)) 0L else r.getLong(2))
  }

  /** Brute-force point-in-polygon over every point: each point is tested
    * against every zone whose envelope holds it (found through a plain
    * uniform bucket grid) with JTS's ray-crossing point-in-ring locator; a
    * point on the ring counts as covered, as `covers` has it. */
  def pip(spark: SparkSession, pointsDir: String,
          zs: IndexedSeq[(Long, Polygon)]): PipResult = {
    val bc = spark.sparkContext.broadcast(zs.map { case (id, p) => (id, JtsGeo.toWkb(p)) })
    val ci = Inputs.World
    val level = Inputs.TileLevel
    val schema = StructType(Seq(StructField("tile_id", LongType), StructField("poly_id", LongType)))
    val pts = spark.read.parquet(pointsDir).select("x", "y")
    val pairs = pts.mapPartitions { it =>
      val polys = bc.value.map { case (id, wkb) => (id, JtsGeo.fromWkb(wkb).asInstanceOf[Polygon]) }
      val dim = 64
      val cellW = 1048576.0 / dim
      val buckets = Array.fill(dim * dim)(scala.collection.mutable.ArrayBuffer.empty[Int])
      polys.indices.foreach { i =>
        val e = polys(i)._2.getEnvelopeInternal
        def c(v: Double) = math.min(dim - 1, math.max(0, (v / cellW).toInt))
        for (cx <- c(e.getMinX) to c(e.getMaxX); cy <- c(e.getMinY) to c(e.getMaxY))
          buckets(cy * dim + cx) += i
      }
      it.flatMap { r =>
        val (x, y) = (r.getDouble(0), r.getDouble(1))
        val b = buckets(math.min(dim - 1, (y / cellW).toInt) * dim +
          math.min(dim - 1, (x / cellW).toInt))
        val c = new Coordinate(x, y)
        b.iterator.filter { i =>
          val g = polys(i)._2
          g.getEnvelopeInternal.covers(x, y) &&
            RayCrossingCounter.locatePointInRing(c, g.getExteriorRing.getCoordinates) != Location.EXTERIOR
        }.map(i => Row(ci.encode(x, y, level), polys(i)._1))
      }
    }(org.apache.spark.sql.Encoders.row(schema))
    val out = pipSummary(pairs.groupBy("tile_id", "poly_id").agg(count(lit(1)).as("n")))
    bc.destroy()
    out
  }

  /** What geojson2coco must produce for one layer (annotation count and
    * Σ pixel area per class name) and the pixel-centre world polygons
    * coco2geojson starts from. */
  final case class Clip(annotations: Long, areaByClass: Map[String, Double],
                        worldByClass: Map[String, Seq[Polygon]])

  /** Clip every feature to every tile whose envelope meets its own, keep
    * the polygon parts with positive area, floor their vertices to pixels
    * and take the shoelace area of the pixel ring. */
  def clip(raster: RasterMeta, feats: IndexedSeq[(Polygon, String)], tilePx: Int): Clip = {
    var n = 0L
    val area = scala.collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val world = scala.collection.mutable.Map.empty[String, Vector[Polygon]].withDefaultValue(Vector.empty)
    val tiles = Tiling.tilesFor(raster, tilePx, tilePx)
    tiles.foreach { t =>
      val (x0, y0, x1, y1) = Tiling.worldEnvelope(t)
      val box = JtsGeo.box(x0, y0, x1, y1)
      val aff = Affine(t.a, t.b, t.c, t.d, t.e, t.f)
      feats.foreach { case (g, cls) =>
        val e = g.getEnvelopeInternal
        if (e.getMaxX >= x0 && e.getMinX <= x1 && e.getMaxY >= y0 && e.getMinY <= y1) {
          polygons(g.intersection(box)).filter(_.getArea > 0).foreach { part =>
            val px = part.getExteriorRing.getCoordinates.map { c =>
              val (row, col) = aff.worldToPixel(c.x, c.y)
              (col.toDouble, row.toDouble)
            }
            n += 1
            area(cls) += shoelace(px)
            val ring = px.map { case (col, row) =>
              val (x, y) = aff.pixelToWorld(col, row)
              new Coordinate(x, y)
            }
            world(cls) :+= JtsGeo.factory.createPolygon(ring)
          }
        }
      }
    }
    Clip(n, area.toMap, world.toMap)
  }

  private def shoelace(px: Array[(Double, Double)]): Double = {
    var s = 0.0
    var i = 0
    while (i < px.length) {
      val j = (i + 1) % px.length
      s += px(i)._1 * px(j)._2 - px(j)._1 * px(i)._2
      i += 1
    }
    math.abs(s) / 2
  }

  def polygons(g: Geometry): Seq[Polygon] = g match {
    case p: Polygon => if (p.isEmpty) Nil else Seq(p)
    case c: GeometryCollection => (0 until c.getNumGeometries).flatMap(i => polygons(c.getGeometryN(i)))
    case _ => Nil
  }

  /** Polygon parts per class name after a plain JTS union of the world
    * polygons. */
  final case class Union(parts: Map[String, Seq[Polygon]]) {
    def count(cls: String): Int = parts.get(cls).map(_.length).getOrElse(0)
    def area(cls: String): Double = parts.get(cls).map(_.map(_.getArea).sum).getOrElse(0.0)
  }

  def union(worldByClass: Map[String, Seq[Polygon]]): Union =
    Union(worldByClass.map { case (cls, ps) =>
      cls -> polygons(UnaryUnionOp.union(ps.map(p => p: Geometry).asJava))
    })
}
