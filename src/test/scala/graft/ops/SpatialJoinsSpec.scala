package graft.ops

import graft.SparkSpec
import graft.geo.{CellIndex, JtsGeo}
import graft.io.WebPages
import org.apache.spark.sql.functions._

class SpatialJoinsSpec extends SparkSpec {
  lazy val ci = CellIndex.Unit20

  lazy val pages = WebPages.pages(spark, 2000, 8)
  lazy val pts = WebPages.features(pages).select(col("id") * 10 + col("f") as "pid", col("x"), col("y"))
  lazy val zones = WebPages.zones(spark, 64)

  /** brute-force oracle: nested-loop PIP on collected rows */
  lazy val expected: Set[(Long, Long)] = {
    val ps = pts.collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    val zs = zones.collect().map(r =>
      (r.getLong(0), r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))
    (for {
      (pid, x, y) <- ps
      (zid, x0, y0, x1, y1) <- zs
      if x0 <= x && x < x1 && y0 <= y && y < y1
    } yield (pid, zid)).toSet
  }

  test("pointInBox matches brute-force oracle at several levels") {
    for (level <- Seq(3, 5, 8)) {
      val got = SpatialJoins.pointInBox(pts, zones.drop("wkb"), ci, level)
        .select("pid", "poly_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == expected, s"level=$level")
    }
    assert(expected.nonEmpty)
  }

  test("pointInBox emits each qualifying pair exactly once (no dedup shuffle needed)") {
    val got = SpatialJoins.pointInBox(pts, zones.drop("wkb"), ci, 5)
      .groupBy("pid", "poly_id").count().where(col("count") > 1)
    assert(got.isEmpty)
  }

  test("pointInPolygonBroadcastFast matches a nested-loop JTS covers reference") {
    val spark2 = spark
    import spark2.implicits._
    import org.locationtech.jts.geom.{Coordinate, Polygon}
    def ring(xy: (Double, Double)*) = JtsGeo.factory.createLinearRing(
      (xy :+ xy.head).map { case (x, y) => new Coordinate(x, y) }.toArray)
    // the flagship's overlapping 32-gons, a concave L and a square with a hole
    val gons = zones.collect().map(r => r.getLong(0) ->
      JtsGeo.fromWkb(graft.Flagship.zoneGon(
        r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))).asInstanceOf[Polygon])
    val el = JtsGeo.factory.createPolygon(ring((10000.0, 10000.0), (60000.0, 10000.0),
      (60000.0, 30000.0), (30000.0, 30000.0), (30000.0, 60000.0), (10000.0, 60000.0)))
    val holed = JtsGeo.factory.createPolygon(ring((700000.0, 700000.0),
      (800000.0, 700000.0), (800000.0, 800000.0), (700000.0, 800000.0)),
      Array(ring((730000.0, 730000.0), (770000.0, 730000.0), (770000.0, 770000.0),
        (730000.0, 770000.0))))
    val polys: Seq[(Long, Polygon)] = gons.toSeq ++ Seq(100L -> el, 101L -> holed)
    // probes: the generated points, every vertex and edge midpoint of every
    // ring, then the L's notch and the hole's centre
    val ringPts = for {
      (_, g) <- polys
      r <- g.getExteriorRing +: (0 until g.getNumInteriorRing).map(g.getInteriorRingN)
      Array(c0, c1) <- r.getCoordinates.sliding(2).toSeq
      xy <- Seq((c0.x, c0.y), ((c0.x + c1.x) / 2, (c0.y + c1.y) / 2))
    } yield xy
    val extra = ringPts ++ Seq((45000.0, 45000.0), (750000.0, 750000.0))
    val probes = pts.collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))) ++
      extra.zipWithIndex.map { case ((x, y), i) => (1000000L + i, x, y) }
    val (notch, holeCentre) = (1000000L + extra.size - 2, 1000000L + extra.size - 1)
    val prepared = polys.map { case (id, g) => (id, JtsGeo.prepare(g)) }
    val ref = for {
      (pid, x, y) <- probes.toSeq; (zid, pg) <- prepared
      if pg.covers(JtsGeo.point(x, y))
    } yield (pid, zid)
    val got = SpatialJoins.pointInPolygonBroadcastFast(probes.toSeq.toDF("pid", "x", "y"),
        polys.map { case (id, g) => (id, JtsGeo.toWkb(g)) }.toDF("poly_id", "wkb"))
      .select("pid", "poly_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.length == got.toSet.size, "duplicate pair emission")
    assert(got.toSet == ref.toSet)
    // the fixture exercises boundary hits on every shape, multi-polygon
    // hits, misses, and misses inside the L's and the holed square's envelopes
    val at = probes.map(p => p._1 -> JtsGeo.point(p._2, p._3)).toMap
    val pgOf = prepared.toMap
    val boundaryPolys = ref.collect { case (pid, zid) if !pgOf(zid).contains(at(pid)) => zid }.toSet
    assert(Set(100L, 101L).subsetOf(boundaryPolys) && boundaryPolys.exists(_ < 100L),
      s"boundary hits only on $boundaryPolys")
    val byPt = ref.groupBy(_._1)
    assert(byPt.values.exists(_.size > 1), "no multi-polygon hit")
    assert(probes.exists(p => !byPt.contains(p._1)), "no miss")
    assert(!ref.contains(notch -> 100L) && !ref.contains(holeCentre -> 101L))
  }

  test("pointInBoxSalted output is identical to pointInBox under heavy skew") {
    val spark2 = spark
    import spark2.implicits._
    // point-mass skew: 3000 points in one cell + scattered rest
    val skewed = (0 until 3000).map(i => (i.toLong, 1000.0 + i % 50, 2000.0 + i % 40)) ++
      (0 until 200).map(i => (3000L + i, (i * 5237.0) % 1000000, (i * 7919.0) % 1000000))
    val pts2 = skewed.toDF("pid", "x", "y")
    val plain = SpatialJoins.pointInBox(pts2, zones.drop("wkb"), ci, 5)
      .select("pid", "poly_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val salted = SpatialJoins.pointInBoxSalted(pts2, zones.drop("wkb"), ci, 5,
      hotThreshold = 100, saltFactor = 8)
      .select("pid", "poly_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(salted == plain && plain.nonEmpty)
    // and no duplicate emission
    val dup = SpatialJoins.pointInBoxSalted(pts2, zones.drop("wkb"), ci, 5, 100, 8)
      .groupBy("pid", "poly_id").count().where(col("count") > 1)
    assert(dup.isEmpty)
  }

  test("pointInBoxAdaptive output is identical to pointInBox under heavy skew") {
    val spark2 = spark
    import spark2.implicits._
    val skewed = (0 until 3000).map(i => (i.toLong, 1000.0 + i % 50, 2000.0 + i % 40)) ++
      (0 until 200).map(i => (3000L + i, (i * 5237.0) % 1000000, (i * 7919.0) % 1000000))
    val pts2 = skewed.toDF("pid", "x", "y")
    val plain = SpatialJoins.pointInBox(pts2, zones.drop("wkb"), ci, 5)
      .select("pid", "poly_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // active splitting (threshold below the point mass), two fine levels
    for (fine <- Seq(7, 9)) {
      val adaptive = SpatialJoins.pointInBoxAdaptive(pts2, zones.drop("wkb"), ci,
        level = 5, fineLevel = fine, hotThreshold = 100)
        .select("pid", "poly_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(adaptive == plain && plain.nonEmpty, s"fine=$fine")
    }
    // no duplicate emission even when a box spans hot AND cold base cells
    val dup = SpatialJoins.pointInBoxAdaptive(pts2, zones.drop("wkb"), ci, 5, 7, 100)
      .groupBy("pid", "poly_id").count().where(col("count") > 1)
    assert(dup.isEmpty)
    // inactive splitting (threshold above everything) also matches
    val inactive = SpatialJoins.pointInBoxAdaptive(pts2, zones.drop("wkb"), ci, 5, 7,
      hotThreshold = 100000)
      .select("pid", "poly_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(inactive == plain)
  }

  test("Flagship.run rejects an unknown variant before reading its input") {
    val missing = s"${System.getProperty("java.io.tmpdir")}/flagship-missing-${java.util.UUID.randomUUID()}"
    for (v <- Seq("jts", "jtsFast")) {
      val e = intercept[IllegalArgumentException](graft.Flagship.run(spark, missing, v))
      assert(e.getMessage.contains("jtsfast|box"), e.getMessage)
    }
  }
}
