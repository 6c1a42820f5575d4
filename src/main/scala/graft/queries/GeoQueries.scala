package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.tables.Tables.t

/** Planar spatial joins via grid bucketing — the Spark-first shape of
  * the reference's TIGER/PostGIS geometry module (SURVEY §2.A A15,
  * `upstream:censuspgsql/tiger2pgsql.py` [U]): PostGIS answers
  * point/polygon predicates with an R-tree; a distributed engine gets
  * the same output-sensitive cost by snapping geometry to a grid and
  * turning every spatial predicate into a cell equi-join + residual
  * exact filter. No geometry library exists in this container, so
  * coordinates derive deterministically from keys — the JOIN SHAPE is
  * the product; the coordinates are stand-ins.
  *
  * The grid rule for distance-r self-joins: cell size ≥ r, replicate
  * ONE side to its 3×3 cell neighborhood, equi-join on the cell, then
  * the exact predicate. Each qualifying pair meets in exactly one cell
  * (the un-replicated side's), so no post-join dedup is needed. Cost is
  * 9× one side's rows — output-sensitive, never O(n²).
  */
object GeoQueries {

  /** Deterministic point cloud: one point per customer, scattered over
    * a 500×500 plane by md5 (key-derived — both engines reproduce it
    * arithmetically; a multiplicative lattice would keep every pair
    * ≥ its lattice constant apart and defeat the distance join). */
  private def points(s: SparkSession, dir: String): DataFrame = {
    def coord(salt: String) =
      conv(substring(md5(concat(col("c_custkey").cast("string"), lit(salt))), 1, 15), 16, 10)
        .cast("long") % 500L
    t(s, dir, "customer")
      .filter(col("c_custkey") < 3000)
      .select(col("c_custkey").as("id"), coord("x").as("x"), coord("y").as("y"))
  }

  /** All point pairs within Euclidean distance 25 — grid-bucketed:
    * side A keyed by its own cell, side B replicated to the 3×3
    * neighborhood, one cell equi-join, exact integer d² residual.
    * Oracle: the naive O(n²) distance self-join (identical rows). */
  def geoGridDistanceJoin(s: SparkSession, dir: String): DataFrame = {
    val R = 25L
    val pts = points(s, dir)
    val a = pts.select(col("id").as("id_a"), col("x").as("xa"), col("y").as("ya"),
      call_function("div", col("x"), lit(R)).as("cx"),
      call_function("div", col("y"), lit(R)).as("cy"))
    val nbr = array((-1 to 1).map(i => lit(i.toLong)): _*)
    val b = pts.select(col("id").as("id_b"), col("x").as("xb"), col("y").as("yb"))
      .withColumn("dx", explode(nbr))
      .withColumn("dy", explode(nbr))
      .select(col("id_b"), col("xb"), col("yb"),
        (call_function("div", col("xb"), lit(R)) + col("dx")).as("cx"),
        (call_function("div", col("yb"), lit(R)) + col("dy")).as("cy"))
    val d2 = (col("xa") - col("xb")) * (col("xa") - col("xb")) +
      (col("ya") - col("yb")) * (col("ya") - col("yb"))
    a.join(b, Seq("cx", "cy"))
      .filter(col("id_a") < col("id_b") && d2 <= lit(R * R))
      .select(col("id_a"), col("id_b"), d2.as("d2"))
      .orderBy("id_a", "id_b")
  }

  /** Great-circle (haversine) distances along the customer point
    * sequence: each point's distance to the PREVIOUS customer's point
    * (lag window — no join), coordinates mapped onto lat/lon from the
    * md5 plane. Pure codegen'd math (sin/cos/asin/sqrt); rounded to
    * whole km so libm ulp differences between engines can't flip a
    * digit. The scalar itself is what a TIGER-style geocoder computes
    * per row at 100 TB — map-only, no shuffle beyond the one lag
    * window. */
  def geoHaversine(s: SparkSession, dir: String): DataFrame = {
    val pts = points(s, dir).filter(col("id") < 1000)
      .select(col("id"),
        (col("x").cast("double") * 0.36 - 90).as("lat"),
        (col("y").cast("double") * 0.72 - 180).as("lon"))
    val w = Window.orderBy("id")
    val withPrev = pts
      .withColumn("plat", lag("lat", 1).over(w))
      .withColumn("plon", lag("lon", 1).over(w))
      .filter(col("plat").isNotNull)
    val dlat = radians(col("lat") - col("plat")) / 2
    val dlon = radians(col("lon") - col("plon")) / 2
    val a = sin(dlat) * sin(dlat) +
      cos(radians(col("plat"))) * cos(radians(col("lat"))) * sin(dlon) * sin(dlon)
    withPrev
      .select(col("id"),
        round(lit(2 * 6371.0) * asin(sqrt(a)), 0).cast("long").as("km_from_prev"))
      .orderBy("id")
  }

  /** Point-in-rectangle containment join (the point-in-polygon shape):
    * 25 key-derived, overlapping rectangles (one per nation) explode to
    * every 100-unit grid cell they COVER (`sequence` over the cell
    * range — a rectangle's fan-out is its area in cells, not the point
    * count), points key by their single cell, equi-join + exact BETWEEN
    * residual, then per-rectangle containment stats. A LEFT join back
    * to the rectangle table keeps empty rectangles at zero. Replaces
    * the O(points × rects) nested loop with an output-sensitive
    * equi-join — the same plan PostGIS reaches via its R-tree, spelled
    * as shuffle-friendly relational ops. */
  def geoBboxContain(s: SparkSession, dir: String): DataFrame = {
    val rects = t(s, dir, "nation").select(
        col("n_nationkey").as("rid"),
        pmod(col("n_nationkey") * 137, lit(500L)).as("cxr"),
        pmod(col("n_nationkey") * 211, lit(500L)).as("cyr"),
        (lit(60L) + pmod(col("n_nationkey"), lit(4L)) * 20L).as("hw"))
      .select(col("rid"),
        (col("cxr") - col("hw")).as("x0"), (col("cxr") + col("hw")).as("x1"),
        (col("cyr") - col("hw")).as("y0"), (col("cyr") + col("hw")).as("y1"))
    val rcells = rects
      .withColumn("cx", explode(expr("sequence(x0 div 100, x1 div 100)")))
      .withColumn("cy", explode(expr("sequence(y0 div 100, y1 div 100)")))
    val pts = points(s, dir)
      .withColumn("cx", call_function("div", col("x"), lit(100L)))
      .withColumn("cy", call_function("div", col("y"), lit(100L)))
    val contained = pts.join(rcells, Seq("cx", "cy"))
      .filter(col("x").between(col("x0"), col("x1")) &&
        col("y").between(col("y0"), col("y1")))
      .groupBy("rid")
      .agg(count(lit(1)).as("n_pts"), sum(col("id")).as("sum_ids"))
    rects.join(contained, Seq("rid"), "left")
      .select(col("rid"),
        coalesce(col("n_pts"), lit(0L)).as("n_pts"),
        coalesce(col("sum_ids"), lit(0L)).as("sum_ids"))
      .orderBy("rid")
  }

  /** Hierarchical map-tile aggregation: every point is assigned a
    * 3-level quadkey (the Bing-maps tile addressing scheme — digit i
    * interleaves the i-th bits of the tile x/y), then ONE rollup
    * produces the per-tile counts at every zoom level 0–3 in a single
    * aggregation — the tile-pyramid build every map-rendering pipeline
    * runs. Digits are pure integer div/mod arithmetic on the grid
    * coordinates (no trig, no floating tile math — a mercator ln/tan
    * would sit on libm ulp boundaries between engines).
    *
    * Scale: map-only digit derivation, then one Expand(4 rollup
    * groupings)+hash-aggregate — partial aggregation collapses each
    * executor's points to ≤ (tiles × 4) rows before the wire, so the
    * shuffle carries tile cardinality, not point cardinality. The same
    * single-pass pyramid holds at any zoom depth; deeper pyramids
    * (z ≤ 20) just widen the Expand factor, which is why production
    * tilers batch zoom RANGES exactly like this. */
  def geoTileRollup(s: SparkSession, dir: String): DataFrame = {
    def dv(c: org.apache.spark.sql.Column, k: Long) = call_function("div", c, lit(k))
    val q = points(s, dir)
      .withColumn("qx", dv(col("x"), 64L))
      .withColumn("qy", dv(col("y"), 64L))
      .withColumn("d1", dv(col("qy"), 4L) * 2 + dv(col("qx"), 4L))
      .withColumn("d2", pmod(dv(col("qy"), 2L), lit(2L)) * 2 + pmod(dv(col("qx"), 2L), lit(2L)))
      .withColumn("d3", pmod(col("qy"), lit(2L)) * 2 + pmod(col("qx"), lit(2L)))
    q.rollup("d1", "d2", "d3")
      .agg(count(lit(1)).as("n_pts"), sum("id").as("sum_ids"))
      .select(
        // organic digits are never null, so rollup nulls are unambiguous
        // zoom markers — CASE beats grouping() here because both engines
        // evaluate the identical expression
        when(col("d3").isNotNull, 3)
          .when(col("d2").isNotNull, 2)
          .when(col("d1").isNotNull, 1)
          .otherwise(0).as("zoom"),
        concat_ws("", col("d1"), col("d2"), col("d3")).as("quadkey"),
        col("n_pts"), col("sum_ids"))
      .orderBy("zoom", "quadkey")
  }

  /** Grid-density clustering — the distributed DBSCAN shape: snap
    * points to 20×20 cells, keep cells with ≥ 4 points (density
    * threshold), connect dense cells through their 3×3 neighborhood
    * (the grid analogue of ε-reachability), and label the connected
    * components. Per cluster: dense-cell count, point count, bounding
    * box in cell space. This is how production engines run DBSCAN at
    * scale — exact point-level ε-graphs are quadratic, but the
    * cell-granular version needs one map-side-combined cell census
    * (corpus collapses to ≤ grid² rows), one 9×-replicated equi-join
    * over DENSE CELLS ONLY (grid-bounded, corpus-independent), and a
    * component labeling on a graph no larger than the grid. The (0,0)
    * offset keeps singleton dense cells as their own clusters.
    *
    * Component labeling is `Components.minLabel`, which picks its
    * engine from the measured edge count: at the graded grid the cell
    * graph is bounded by the GRID (25×25 ⇒ ≤ 625 nodes, ≤ 5 625 edges)
    * independent of corpus size and is labelled by a driver-side
    * union-find; a finer grid or a wider plane runs the distributed
    * min-label loop. Both assign each component its minimum cell id. */
  def geoGridDbscan(s: SparkSession, dir: String): DataFrame = {
    val cellId = (cx: Column, cy: Column) => cx * 1000L + cy
    val dense = points(s, dir)
      .groupBy(call_function("div", col("x"), lit(20L)).as("cx"),
        call_function("div", col("y"), lit(20L)).as("cy"))
      .agg(count(lit(1)).as("n_pts"))
      .filter(col("n_pts") >= 4)
      .persist()
    val nbr = array((-1 to 1).map(i => lit(i.toLong)): _*)
    val probe = dense
      .withColumn("dx", explode(nbr)).withColumn("dy", explode(nbr))
      .select((col("cx") + col("dx")).as("cx"), (col("cy") + col("dy")).as("cy"),
        cellId(col("cx") + col("dx"), col("cy") + col("dy")).as("src_probe"),
        cellId(col("cx"), col("cy")).as("dst"))
    // symmetric with a self-loop per cell by construction of the 3×3
    // probe: the shape minLabel expects
    val edgeDf = dense.select(col("cx"), col("cy"), cellId(col("cx"), col("cy")).as("src"))
      .join(probe, Seq("cx", "cy"))
      .select(col("src"), col("dst"))
    val labelDf = graft.operators.Components.minLabel(edgeDf)
      .select(col("node").as("cell"), col("label"))
    dense
      .select(cellId(col("cx"), col("cy")).as("cell"), col("cx"), col("cy"), col("n_pts"))
      .join(labelDf, "cell")
      .groupBy(col("label").as("cluster"))
      .agg(count(lit(1)).as("n_cells"), sum("n_pts").as("n_points"),
        min("cx").as("cx_min"), max("cx").as("cx_max"),
        min("cy").as("cy_min"), max("cy").as("cy_max"))
      .orderBy("cluster")
  }

  /** k-nearest-neighbor join (k = 3) from a probe subset (id ≡ 0 mod 7)
    * to the full cloud, bounded to Euclidean radius R = 40 so the grid
    * candidate join is EXACT: with cell size = R, a probe's 3×3 cell
    * neighborhood contains every point within R of it, so ranking
    * candidates by exact integer d² inside the neighborhood IS the
    * radius-bounded k-NN. (Unbounded k-NN needs ring expansion until k
    * are found; a radius bound is also what keeps the join
    * output-sensitive over sparse regions at 100 TB — a probe in an
    * empty region costs 9 empty cell lookups, not a corpus scan.)
    * The probe side — the smaller by construction — replicates 9×; the
    * neighbor side hashes once by its OWN cell, so each qualifying pair
    * meets in exactly one cell and no post-join dedup is needed. The
    * per-probe top-k window ranks only that probe's 3×3 candidates
    * (density-bounded, never the corpus). Ties break on (d², neighbor
    * id) — a total order both engines reproduce. */
  def geoKnnJoin(s: SparkSession, dir: String): DataFrame =
    knnOn(points(s, dir), radius = 40L, k = 3)

  /** The radius-bounded k-NN engine over an arbitrary (id, x, y) cloud —
    * parameterized so specs can drive clouds with known neighbor sets
    * (exact-radius boundaries, d² ties, probes in empty regions). */
  private[graft] def knnOn(pts: DataFrame, radius: Long, k: Int): DataFrame = {
    val R = radius
    val nbr = array((-1 to 1).map(i => lit(i.toLong)): _*)
    val probes = pts.filter(col("id") % 7L === 0L)
      .withColumn("dx", explode(nbr))
      .withColumn("dy", explode(nbr))
      .select(col("id").as("qid"), col("x").as("qx"), col("y").as("qy"),
        (call_function("div", col("x"), lit(R)) + col("dx")).as("cx"),
        (call_function("div", col("y"), lit(R)) + col("dy")).as("cy"))
    val cand = pts.select(col("id").as("nid"), col("x").as("nx"), col("y").as("ny"),
      call_function("div", col("x"), lit(R)).as("cx"),
      call_function("div", col("y"), lit(R)).as("cy"))
    val d2 = (col("qx") - col("nx")) * (col("qx") - col("nx")) +
      (col("qy") - col("ny")) * (col("qy") - col("ny"))
    probes.join(cand, Seq("cx", "cy"))
      .filter(col("nid") =!= col("qid") && d2 <= lit(R * R))
      .select(col("qid"), col("nid"), d2.as("d2"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("qid").orderBy(col("d2"), col("nid"))).cast("long"))
      .filter(col("rk") <= k.toLong)
      .orderBy("qid", "rk")
  }
}
