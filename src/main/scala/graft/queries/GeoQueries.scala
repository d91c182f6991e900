package graft.queries

import graft.{QueryDef, Tables}
import graft.functions.H3
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Geospatial queries over the H3-analog DGGS ([[graft.functions.H3]];
  * ref `plugins/h3/lib_h3.ecllib`). DuckDB has no hexagonal DGGS, so:
  *   - q173 generates its oracle literal table from the DRIVER-side engine
  *     and runs the same functions DISTRIBUTED — a consistency gate across
  *     UDF serialization and the codegen parent bit-path (hand-pinned
  *     index literals guarding against algorithm drift live in H3Spec);
  *   - q174 rolls customer-derived points up the cell hierarchy and pins
  *     its scalar summary as literals (the q166/BPE pattern) — any change
  *     to projection, lattice math, or bit layout breaks the hash gate.
  */
object GeoQueries {

  /** (id, lat, lng, res) probe points: landmark-ish coordinates plus a
    * face-diverse deterministic sweep, at mixed resolutions.
    */
  val probes: Seq[(Int, Double, Double, Int)] = {
    val landmarks = Seq(
      (48.86, 2.35), (40.71, -74.01), (-33.87, 151.21), (35.68, 139.69),
      (-1.29, 36.82), (55.75, 37.62), (19.43, -99.13), (64.13, -21.82),
      (-54.8, -68.3), (78.22, 15.63), (0.0, 0.0), (-89.0, 45.0))
    val sweep = (0 until 12).map(i =>
      ((i * 37 % 160 - 80).toDouble, (i * 91 % 360 - 180).toDouble))
    (landmarks ++ sweep).zipWithIndex.map { case ((la, ln), i) =>
      (i, la, ln, Seq(2, 4, 6, 9)(i % 4))
    }
  }

  /** Dynamic-resolution parent: same bit math as [[H3.parent]] but with
    * the target res as a column (res nibble swap + 7-marker OR) — pure
    * codegen, no UDF, the path a 100-TB re-rollup takes.
    */
  def parentAt(cell: Column, res: Column): Column = {
    val cleared = cell.bitwiseAND(lit(~(0xFL << 56)))
      .bitwiseOR(shiftleft(res.cast("long"), 56))
    (1 to H3.MaxRes).foldLeft(cleared) { (acc, k) =>
      acc.bitwiseOR(when(res < k, lit(7L << (45 - 3 * k))).otherwise(lit(0L)))
    }
  }

  /** STRING16 form of a cell column (lowercase, matching
    * [[H3.toEclIndex]]).
    */
  private def ecl16(cell: Column): Column =
    lower(lpad(hex(cell), 16, "0"))

  /** q174's pinned summary — regenerate with
    * `graft.tools.Probe time q174_h3_rollup` after any intended engine
    * change: (n_rows, n_cells4, n_cells2, max_cell2, distinct parents
    * check).
    */
  private val RollupPin = (1500L, 1100L, 134L, 102L)

  def defs: Seq[QueryDef] = Seq(

    // ---- q173: DGGS vector gate (driver oracle vs distributed run) -------
    QueryDef("q173_h3_vectors", {
      val rows = probes.map { case (i, la, ln, r) =>
        val c = H3.latLngToCell(la, ln, r)
        val parent = if (r > 0) H3.toEclIndex(H3.parent(c, r - 1)) else ""
        s"($i, CAST($la AS DOUBLE), CAST($ln AS DOUBLE), $r, " +
          s"'${H3.toEclIndex(c)}', ${H3.resolution(c)}, ${H3.baseCell(c)}, " +
          s"'$parent', ${H3.kRing(c, 1).size}, ${H3.isValid(c)})"
      }.mkString(",\n  ")
      s"""SELECT * FROM (VALUES
         |  $rows)
         |AS t(id, lat, lng, res, cell, cell_res, face, parent, kring1, ok)
         |ORDER BY id""".stripMargin
    }) { (s, dir) =>
      import s.implicits._
      val base = probes.toDF("id", "lat", "lng", "res")
      val cell = H3.cellCol(col("lat"), col("lng"), col("res"))
      base.select(col("id"), col("lat"), col("lng"), col("res"),
          H3.eclIndexCol(col("lat"), col("lng"), col("res")).as("cell"),
          H3.resolutionCol(cell).as("cell_res"),
          H3.baseCellCol(cell).as("face"),
          when(col("res") > 0, ecl16(parentAt(cell, col("res") - 1)))
            .otherwise(lit("")).as("parent"),
          H3.kRingSizeCol(cell, lit(1)).as("kring1"),
          H3.isValidCol(cell).as("ok"))
        .orderBy(col("id"))
    },

    // ---- q174: cell-keyed rollup — ONE hash shuffle for the groupBy, ----
    // then parent re-rollup as pure bit math on the aggregated (tiny)
    // frame. The geo join/rollup shape at 100 TB: index points once
    // (scan-speed UDF projection), aggregate by the 64-bit sortable cell
    // key, regroup coarser WITHOUT touching geometry again.
    QueryDef("q174_h3_rollup",
      s"""SELECT CAST(${RollupPin._1} AS BIGINT) AS n_rows,
         |  CAST(${RollupPin._2} AS BIGINT) AS n_cells4,
         |  CAST(${RollupPin._3} AS BIGINT) AS n_cells2,
         |  CAST(${RollupPin._4} AS BIGINT) AS max_cell2""".stripMargin) {
      (s, dir) =>
      // deterministic synthetic coordinates from the customer key (away
      // from the poles); DuckDB could reproduce these, but not the cells.
      // The key RANGE (0..1499, BOTH ends pinned) keeps the input
      // identical at every SF so the pinned summary is scale-independent:
      // customer keys start at 0, and the sf0.01 table stops at 1499, so
      // the original `<= 1500` cap admitted a 1501st key (1500) at
      // sf0.1 — caught by a round-12 sf0.1 oracle sweep. Smaller SFs
      // can't supply the range — fail clearly, not with a hash mismatch.
      val nKeys = Tables.customer(s, dir)
        .filter(col("c_custkey").between(0, 1499)).count()
      require(nKeys >= 1500,
        s"q174_h3_rollup needs sf >= 0.01 (the pinned summary covers 1500 " +
          s"customer keys 0..1499); this dataset has only $nKeys")
      val pts = Tables.customer(s, dir)
        .filter(col("c_custkey").between(0, 1499)).select(
        ((col("c_custkey") * 37 % 160) - 80 + 0.25).cast("double").as("lat"),
        ((col("c_custkey") * 91 % 360) - 180 + 0.25).cast("double").as("lng"))
      // one linear chain — every summary stat folds out of the cells2
      // aggregate, so the full-data scan crosses exactly one hash shuffle
      // and the re-rollup + summary run on frames the size of the cell
      // count, not the data
      val cells4 = pts
        .select(H3.cellCol(col("lat"), col("lng"), lit(4)).as("cell4"))
        .groupBy(col("cell4")).agg(count(lit(1)).as("n")) // the ONE shuffle
      cells4
        .groupBy(parentAt(col("cell4"), lit(2)).as("cell2"))
        .agg(sum(col("n")).as("n2"), count(lit(1)).as("k4"))
        .agg(sum(col("n2")).as("n_rows"), sum(col("k4")).as("n_cells4"),
          count(lit(1)).as("n_cells2"), max(col("n2")).as("max_cell2"))
    },

    // ---- q176: geo join by cell prefilter + exact refine ------------------
    // The at-scale geo-join pattern: polyfill the region to cells ONCE on
    // the driver, kRing-expand for a guaranteed superset, push the cell
    // set into the scan as an IN-filter (no shuffle, no join), then refine
    // with the exact predicate. Because the refine is exact, the ORACLE is
    // real SQL (plain box arithmetic in DuckDB) — the hash gate proves the
    // cell prefilter is a superset at every tested point, not just sane.
    QueryDef("q176_h3_geojoin",
      """SELECT c_custkey,
        |  CAST((c_custkey * 37 % 160) - 80 + 0.25 AS DOUBLE) AS lat,
        |  CAST((c_custkey * 91 % 360) - 180 + 0.25 AS DOUBLE) AS lng
        |FROM customer
        |WHERE (c_custkey * 37 % 160) - 80 + 0.25 BETWEEN 10.0 AND 25.0
        |  AND (c_custkey * 91 % 360) - 180 + 0.25 BETWEEN -20.0 AND 5.0
        |ORDER BY c_custkey""".stripMargin) { (s, dir) =>
      val (laMin, laMax, lnMin, lnMax) = (10.0, 25.0, -20.0, 5.0)
      val res = 5
      val poly = Seq((laMin, lnMin), (laMin, lnMax), (laMax, lnMax),
        (laMax, lnMin))
      // driver-side, O(region cells): never touches the data
      val cells = H3.polyfill(poly, res).flatMap(c => H3.kRing(c, 1)).distinct
      val pts = Tables.customer(s, dir).select(col("c_custkey"),
        ((col("c_custkey") * 37 % 160) - 80 + 0.25).cast("double").as("lat"),
        ((col("c_custkey") * 91 % 360) - 180 + 0.25).cast("double").as("lng"))
      pts
        .withColumn("cell", H3.cellCol(col("lat"), col("lng"), lit(res)))
        .where(col("cell").isInCollection(cells)) // coarse: scan-shaped IN
        .where(col("lat").between(laMin, laMax) &&
          col("lng").between(lnMin, lnMax)) // exact refine
        .select(col("c_custkey"), col("lat"), col("lng"))
        .orderBy(col("c_custkey"))
    })
}
