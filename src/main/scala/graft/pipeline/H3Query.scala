package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.h3.H3Core
import graft.spatial.{Crs, Geometry, Pt}
import graft.functions.GFunctions._

/** Interactive polygon query API (`src/g_etl/h3_query.py:18-171`):
  * polygon WKT (SWEREF99 TM) -> H3 cell set -> equi-join against the
  * exploded index — the spatial-join-as-hash-join design that gives the
  * reference its 100x speedup (docs/H3_POLYGON_ANALYSIS.md:301-321).
  *
  * Scale shape: the query side is a polyfill of ONE polygon — O(config)
  * driver work — broadcast to every executor; the index side never
  * shuffles for `objects`, and shuffles only the aggregated groups for
  * `stats`/`heatmap`. When the query resolution is coarser than the
  * index resolution, index cells map to their parent on the fly (cheap
  * per-row math, no second explode).
  */
object H3Query {

  val DefaultQueryRes = 8 // h3_query.py:21

  /** Driver-side polyfill of the SWEREF99 query polygon at `res`.
    * LONG-keyed like the index (hex only at result surfaces). */
  def queryCells(spark: SparkSession, wktSweref: String, res: Int): DataFrame = {
    val cells = PreparedPolygonQuery.cellIds(wktSweref, res)
    import spark.implicits._
    cells.toSeq.toDF("q_cell")
  }

  private def joined(spark: SparkSession, index: DataFrame, wkt: String,
      res: Int, datasets: Seq[String]): DataFrame = {
    import spark.implicits._
    val cells = PreparedPolygonQuery.cellIds(wkt, res)
    keyedIndex(index, cells, res, datasets)
      .join(broadcast(cells.toSeq.toDF("q_cell")), "q_cell")
  }

  /** The query-res probe key over `index` — the one key policy of the
    * polygon-query API: the stored `h3_parent_<res>` column
    * (H3Index.withParentAt) when present, zero per-row math, else
    * per-row parent math over `h3_cell`. The flag says whether the key
    * is the stored column, whose range predicates reach a parquet scan
    * as pushed row-group filters. */
  private[pipeline] def probeKey(index: DataFrame, res: Int): (Column, Boolean) = {
    val parentCol = s"h3_parent_$res"
    if (index.columns.contains(parentCol)) (col(parentCol), true)
    else (h3_cell_to_parent(col("h3_cell"), lit(res)), false)
  }

  /** Index side of the polygon equi-join: keyed by [[probeKey]] with
    * the sargable cell-range prefilter applied. */
  private def keyedIndex(index: DataFrame, cells: Array[Long],
      res: Int, datasets: Seq[String]): DataFrame = {
    val filtered =
      if (datasets.isEmpty) index
      else index.filter(col("dataset_id").isin(datasets: _*))
    val (key, stored) = probeKey(filtered, res)
    // SARGABLE range prefilter on a stored key: [min,max] of the query
    // cell ids bounds the IN-set (plain long comparisons). On a
    // parquet-backed index this reaches the scan as a pushed range
    // predicate — row groups outside the polygon's cell range are
    // skipped by footer min/max stats, which an IN-list join alone can
    // never do. Strict superset of the equi-join, so results are
    // unchanged.
    val pre =
      if (!stored || cells.isEmpty) filtered
      else filtered.filter(key.between(cells.min, cells.max))
    pre.withColumn("q_cell", key)
  }

  /** aggregation="objects" (h3_query.py:98-119): distinct matching
    * objects, stable ordering. */
  def objects(spark: SparkSession, index: DataFrame, wkt: String,
      res: Int = DefaultQueryRes, datasets: Seq[String] = Nil): DataFrame =
    joined(spark, index, wkt, res, datasets)
      .select("id", "dataset_id", "leverantor", "klass")
      .distinct()
      .orderBy("dataset_id", "id")

  /** aggregation="stats" (h3_query.py:122-144).
    *
    * NOT one groupBy mixing COUNT(DISTINCT)s with a collect_set: that
    * form makes Catalyst plan an Expand replicating every joined row
    * once per distinct aggregate (x3) before the shuffle — the
    * multi-distinct blowup that is THE 100 TB killer (it also defeats
    * column pruning of lazily-derived index columns, so every row pays
    * cell->geom math it never reads). H3Index.stats uses the same
    * set-based form. */
  def stats(spark: SparkSession, index: DataFrame, wkt: String,
      res: Int = DefaultQueryRes, datasets: Seq[String] = Nil): DataFrame = {
    // ONE set-based aggregate: distinct counts are SIZES of collected
    // sets, so Catalyst plans a plain two-phase ObjectHashAggregate
    // (map-side partial sets, shuffle of collapsed groups, final
    // merge) — no distinct-aggregate rewrite, no Expand, one scan,
    // two stages. The set buffers are bounded by the polygon's match
    // set (objects + fine cells inside it) — the same polygon-area
    // bound as the broadcast query-cell set itself, NOT by data size;
    // a polygon too big for these buffers is too big to
    // broadcast-polyfill in the first place, and that regime is served
    // by the h3_stats pre-aggregate (statsApprox / heatmapWithEmpty).
    joined(spark, index, wkt, res, datasets)
      .groupBy("dataset_id", "klass")
      .agg(
        size(collect_set(col("id"))).cast("long").as("object_count"),
        size(collect_set(col("h3_cell"))).cast("long").as("cell_count"),
        sort_array(collect_set(col("leverantor"))).as("leverantorer"))
      .orderBy(desc("object_count"), asc("dataset_id"), asc("klass"))
  }

  /** aggregation="heatmap" (h3_query.py:147-171): per query cell.
    * Same rationale as [[stats]]: both distinct counts are set sizes,
    * so no distinct-aggregate rewrite and no Expand anywhere; the id
    * sets per cell are bounded by the polygon's match set. */
  def heatmap(spark: SparkSession, index: DataFrame, wkt: String,
      res: Int = DefaultQueryRes, datasets: Seq[String] = Nil): DataFrame =
    joined(spark, index, wkt, res, datasets)
      .groupBy("q_cell")
      .agg(
        size(collect_set(col("id"))).cast("long").as("object_count"),
        sort_array(collect_set(col("dataset_id"))).as("datasets"))
      .select(
        graft.functions.GFunctions.h3_hex(col("q_cell")).as("h3_cell"),
        col("object_count"),
        size(col("datasets")).cast("long").as("dataset_count"),
        col("datasets"))
      .orderBy(desc("object_count"), asc("h3_cell"))

  /** Heatmap over ALL query cells (empty ones kept) via left join
    * against a pre-aggregated stats relation
    * (sql/examples/h3_polygon_queries.sql:96-104). `statsDf` must be
    * keyed at the same resolution as `res`. */
  def heatmapWithEmpty(spark: SparkSession, statsDf: DataFrame, wkt: String,
      res: Int): DataFrame = {
    // join in the statsDf's OWN key representation (hex for heatmap
    // results, long for the internal h3_stats layer)
    val qLong = queryCells(spark, wkt, res)
    val q =
      if (statsDf.schema("h3_cell").dataType ==
          org.apache.spark.sql.types.LongType)
        qLong.withColumnRenamed("q_cell", "h3_cell")
      else qLong.select(
        graft.functions.GFunctions.h3_hex(col("q_cell")).as("h3_cell"))
    q.join(statsDf, Seq("h3_cell"), "left")
      .withColumn("object_count", coalesce(col("object_count"), lit(0L)))
      .orderBy("h3_cell")
  }

  /** H3 candidates then exact ST_Intersects refinement
    * (docs/H3_POLYGON_ANALYSIS.md:337-355): the coarse equi-join prunes
    * to candidate cells, the exact geometry test runs only on matches.
    *
    * The refine must run on CANDIDATES (post-join), never on the raw
    * index: a plain `filter(st_intersects(geom, wkb))` references only
    * index-side columns, so Catalyst pushes it below the broadcast join
    * and the plan degenerates into per-index-row cell-geometry math —
    * the full-lake spatial scan the H3 design exists to avoid. Two
    * defenses, both load-bearing:
    *  - each broadcast query cell carries a driver-computed
    *    `needs_refine` flag, so the predicate references BOTH join
    *    sides and is structurally unpushable below the join;
    *  - interior cells (center provably deep inside the polygon, see
    *    [[needsRefine]]) set the flag false, short-circuiting the
    *    per-candidate geometry test for the area-dominant majority:
    *    only the O(perimeter) boundary ring pays st_intersects at all.
    */
  def objectsExact(spark: SparkSession, index: DataFrame, wkt: String,
      res: Int = DefaultQueryRes, datasets: Seq[String] = Nil): DataFrame = {
    import spark.implicits._
    val poly = Geometry.fromWkt(wkt)
    val queryWkb = Geometry.toWkb(poly)
    val cells = PreparedPolygonQuery.cellIds(wkt, res)
    val flagged = needsRefineFlags(cells, poly)
    keyedIndex(index, cells, res, datasets)
      .join(broadcast(flagged.toDF("q_cell", "needs_refine")), "q_cell")
      .filter(!col("needs_refine") || st_intersects(col("geom"), lit(queryWkb)))
      .select("id", "dataset_id", "leverantor", "klass")
      .distinct()
      .orderBy("dataset_id", "id")
  }

  /** Per-cell refine flags: true unless the query cell is provably
    * interior. If the disk of radius `2.5 x circumradius` around the
    * cell center lies inside the polygon, every descendant index
    * cell's CENTER is inside too (the H3 parent chain drifts by at
    * most the sum of per-level circumradii < 0.61 x R(res)), so the
    * descendant's boundary polygon shares an interior point with the
    * query polygon and st_intersects is provably true — the refine can
    * be skipped without evaluating it. Conservative by construction: a
    * false here is a proof, a true just costs one st_intersects on
    * that candidate.
    *
    * Driver cost is O(cells x polygon vertices) like the polyfill
    * itself: the polygon's boundary segments are flattened ONCE and
    * each cell pays one tight point-to-segment scan (disk inside the
    * polygon <=> center inside and every boundary segment >= safe
    * away — the disk is connected and crosses no ring, so it stays on
    * the center's side). */
  private[graft] def needsRefineFlags(cells: Array[Long],
      poly: graft.spatial.Geom): Seq[(Long, Boolean)] = {
    val rings: Array[Array[Pt]] = poly match {
      case graft.spatial.Poly(rs) => rs
      case graft.spatial.MultiPoly(ps) => ps.flatMap(_.rings)
      case _ => Array.empty
    }
    val sax = new scala.collection.mutable.ArrayBuffer[Double]()
    val say = new scala.collection.mutable.ArrayBuffer[Double]()
    val sbx = new scala.collection.mutable.ArrayBuffer[Double]()
    val sby = new scala.collection.mutable.ArrayBuffer[Double]()
    rings.foreach { r =>
      var i = 0
      while (i < r.length - 1) {
        sax += r(i).x; say += r(i).y; sbx += r(i + 1).x; sby += r(i + 1).y
        i += 1
      }
    }
    val n = sax.length
    def distToBoundary(px: Double, py: Double): Double = {
      var best = Double.MaxValue
      var i = 0
      while (i < n) {
        val ax = sax(i); val ay = say(i)
        val dx = sbx(i) - ax; val dy = sby(i) - ay
        val l2 = dx * dx + dy * dy
        val t =
          if (l2 == 0) 0.0
          else math.max(0.0, math.min(1.0,
            ((px - ax) * dx + (py - ay) * dy) / l2))
        val ex = px - (ax + t * dx); val ey = py - (ay + t * dy)
        val d2 = ex * ex + ey * ey
        if (d2 < best) best = d2
        i += 1
      }
      math.sqrt(best)
    }
    cells.toSeq.map { h =>
      val (clat, clng) = H3Core.cellToLatLng(h)
      val (ce, cn) = Crs.wgs84ToSweref(clat, clng)
      var circum = 0.0
      H3Core.cellToBoundary(h).foreach { case (blat, blng) =>
        val (be, bn) = Crs.wgs84ToSweref(blat, blng)
        circum = math.max(circum, math.hypot(be - ce, bn - cn))
      }
      val interior = n > 0 && Geometry.contains(poly, Pt(ce, cn)) &&
        distToBoundary(ce, cn) >= 2.5 * circum
      (h, !interior)
    }
  }
}
