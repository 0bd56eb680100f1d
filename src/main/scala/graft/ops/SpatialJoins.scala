package graft.ops

import graft.geo.CellIndex
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Point-in-zone joins (SURVEY.md §2.3 J1, §4.1-2).
  *
  * Catalyst plans a theta predicate like `contains(box, point)` as an
  * O(n·m) BroadcastNestedLoopJoin, so the box joins are decomposed into an
  * **equi-join on cell id** that Catalyst shuffles/broadcasts like any
  * other key join, followed by an exact arithmetic refine:
  *
  * {{{ points ⋈ boxes  ≡  encode(point) = explode(cellsCovering(box)) , then refine }}}
  *
  * The point side carries exactly one cell and the box side is exploded
  * over its covering cells, so each qualifying pair appears exactly once —
  * no post-join dedup (and no extra shuffle for it). [[pointInBoxSalted]]
  * and [[pointInBoxAdaptive]] are the skew arms of the same join.
  *
  * Real polygons go through [[pointInPolygonBroadcastFast]]: the polygon
  * layer is broadcast and each point probes an executor-side grid of
  * prepared polygons, so the point side is never shuffled. There is no
  * partitioned polygon arm; a layer too large to broadcast would need one,
  * auto-selected and gated.
  */
object SpatialJoins {

  /** Point-in-box join, arithmetic refine (half-open: min ≤ p < max).
    * `points` must have (`x`,`y`) columns; `boxes` (`xmin`,`ymin`,`xmax`,`ymax`).
    * With `broadcastBoxes` the exploded cover side is broadcast — the point
    * side is then never shuffled at all (explode inflates the box side past
    * Catalyst's auto-broadcast estimate, so the hint is explicit). Use when
    * the zone layer is dim-table-sized; leave false for layer×layer joins. */
  def pointInBox(points: DataFrame, boxes: DataFrame, ci: CellIndex, level: Int,
                 broadcastBoxes: Boolean = false): DataFrame = {
    val p = points.withColumn("_cell", ci.encodeCol(col("x"), col("y"), level))
    val b0 = boxes.withColumn("_cell",
      explode(ci.cellsCoveringCol(col("xmin"), col("ymin"), col("xmax"), col("ymax"), level)))
    val b = if (broadcastBoxes) broadcast(b0) else b0
    p.join(b, "_cell")
      .where(col("xmin") <= col("x") && col("x") < col("xmax") &&
             col("ymin") <= col("y") && col("y") < col("ymax"))
      .drop("_cell")
  }

  /** Broadcast point-in-polygon. `polys` carries (`poly_id`:long,
    * `wkb`:binary) and is collected and broadcast; each point is probed by
    * a native expression ([[graft.functions.PipProbe]]) taking primitive
    * doubles against the executor-side grid of prepared polygons in
    * [[PipTreeCache]]. The surrounding plan (scan → explode → aggregate)
    * stays in whole-stage codegen; per-row garbage is one small array on a
    * hit and a shared empty array on a miss. Output: point columns +
    * `poly_id`, one row per covering polygon (JTS `covers`, so a point on
    * a polygon's boundary matches). */
  def pointInPolygonBroadcastFast(points: DataFrame, polys: DataFrame): DataFrame = {
    val spark = points.sparkSession
    val polyRows = polys.select("poly_id", "wkb").collect()
      .map(r => (r.getLong(0), r.getAs[Array[Byte]](1)))
    val bc = spark.sparkContext.broadcast(polyRows)
    // native expression (round 6): primitive-double args straight from the
    // columnar scan into the probe — the previous ScalaUDF boxed both
    // coordinates and converter-copied the result array per scanned row
    points.withColumn("poly_id",
      explode(graft.functions.PipExprs.pipProbe(col("x"), col("y"), bc.id, bc)))
  }

  /** Skew-aware point-in-box (north_rule "salted repartitioning + adaptive
    * cell splitting"): a cheap stats pass finds hot cells (> `hotThreshold`
    * points); points in hot cells get a salt from their coordinates, and the
    * box side replicates its cover rows `salt`-ways for hot cells only —
    * identical output to [[pointInBox]] (verified in the spec), but a
    * point-mass cell now spreads over `saltFactor` reducers instead of one.
    * Residual equi-join skew is additionally covered by AQE's skew-join. */
  def pointInBoxSalted(points: DataFrame, boxes: DataFrame, ci: CellIndex, level: Int,
                       hotThreshold: Long = 2000000L, saltFactor: Int = 16): DataFrame = {
    val p0 = points.withColumn("_cell", ci.encodeCol(col("x"), col("y"), level))
    val hot = p0.groupBy("_cell").count().where(col("count") > hotThreshold)
      .select(col("_cell"), lit(true).as("_hot"))
    val p = p0.join(broadcast(hot), Seq("_cell"), "left")
      .withColumn("_salt",
        when(col("_hot").isNotNull,
          pmod(hash(col("x"), col("y")), lit(saltFactor))).otherwise(lit(0)))
      .drop("_hot")
    val b0 = boxes.withColumn("_cell",
      explode(ci.cellsCoveringCol(col("xmin"), col("ymin"), col("xmax"), col("ymax"), level)))
    val b = b0.join(broadcast(hot), Seq("_cell"), "left")
      .withColumn("_salt", explode(
        when(col("_hot").isNotNull, sequence(lit(0), lit(saltFactor - 1)))
          .otherwise(array(lit(0)))))
      .drop("_hot")
    p.join(b, Seq("_cell", "_salt"))
      .where(col("xmin") <= col("x") && col("x") < col("xmax") &&
             col("ymin") <= col("y") && col("y") < col("ymax"))
      .drop("_cell", "_salt")
  }

  /** Adaptive cell splitting (north_rule's second skew tool, complementing
    * [[pointInBoxSalted]]): a cheap stats pass finds hot base-level cells;
    * points inside them re-key at `fineLevel` (G12 hierarchy children) while
    * everything else keeps the base key, and the box side subdivides its
    * cover — only for hot cells — into the fine cells intersecting
    * box ∩ baseCell. Identical output to [[pointInBox]] (spec-verified):
    * every (point, box) pair meets on exactly one key — fine when the
    * point's base cell is hot (the box emits that fine cell exactly once,
    * clamped inside the base cell), base otherwise. A point-mass cell thus
    * spreads over up to 4^(fineLevel−level) reducers, and unlike salting
    * the box side replicates only over subcells it actually intersects. */
  def pointInBoxAdaptive(points: DataFrame, boxes: DataFrame, ci: CellIndex,
                         level: Int, fineLevel: Int,
                         hotThreshold: Long = 2000000L): DataFrame = {
    require(fineLevel > level, "fineLevel must subdivide level")
    val k = 1L << (fineLevel - level)
    val p0 = points.withColumn("_c0", ci.encodeCol(col("x"), col("y"), level))
    val hot = p0.groupBy("_c0").count().where(col("count") > hotThreshold)
      .select(col("_c0"), lit(true).as("_hot"))
    val p = p0.join(broadcast(hot), Seq("_c0"), "left")
      .withColumn("_cell", when(col("_hot").isNotNull,
        ci.encodeCol(col("x"), col("y"), fineLevel)).otherwise(col("_c0")))
      .drop("_c0", "_hot")
    val b0 = boxes
      .withColumn("_bc", explode(sequence(
        ci.colOfCol(col("xmin"), level), ci.colOfCol(col("xmax"), level))))
      .withColumn("_br", explode(sequence(
        ci.rowOfCol(col("ymin"), level), ci.rowOfCol(col("ymax"), level))))
      .withColumn("_c0", CellIndex.packCol(level, col("_bc"), col("_br")))
    // fine columns/rows of the box cover clamped INSIDE this base cell —
    // spilling into a neighbour's subcells would double-emit pairs there
    val fc0 = greatest(ci.colOfCol(col("xmin"), fineLevel), col("_bc") * k)
    val fc1 = least(ci.colOfCol(col("xmax"), fineLevel), (col("_bc") + 1) * k - 1)
    val fr0 = greatest(ci.rowOfCol(col("ymin"), fineLevel), col("_br") * k)
    val fr1 = least(ci.rowOfCol(col("ymax"), fineLevel), (col("_br") + 1) * k - 1)
    val b = b0.join(broadcast(hot), Seq("_c0"), "left")
      .withColumn("_cell", explode(when(col("_hot").isNotNull,
          flatten(transform(sequence(fc0, fc1), c =>
            transform(sequence(fr0, fr1), r => CellIndex.packCol(fineLevel, c, r)))))
        .otherwise(array(col("_c0")))))
      .drop("_c0", "_bc", "_br", "_hot")
    p.join(b, Seq("_cell"))
      .where(col("xmin") <= col("x") && col("x") < col("xmax") &&
             col("ymin") <= col("y") && col("y") < col("ymax"))
      .drop("_cell")
  }
}
