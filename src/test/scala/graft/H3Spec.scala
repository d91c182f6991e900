package graft

import graft.functions.H3
import org.scalatest.funsuite.AnyFunSuite

/** Geospatial DGGS invariants (ref plugin surface
  * `plugins/h3/lib_h3.ecllib:27-69`). These are the properties the
  * reference plugin's users rely on — hierarchy exactness, k-ring
  * adjacency, roundtrip stability — asserted over a deterministic global
  * point sweep rather than recalled index values (the index space is
  * clean-room, documented in [[H3]]'s scaladoc).
  */
class H3Spec extends AnyFunSuite {

  /** Deterministic global sample: a Fibonacci-ish lat/lng sweep. */
  private val points: Seq[(Double, Double)] =
    (0 until 400).map { i =>
      val lat = -84.0 + (i * 167) % 169
      val lng = -179.0 + (i * 241) % 359
      (lat.toDouble, lng.toDouble)
    }

  test("roundtrip: re-indexing a cell center returns the same cell") {
    // Seam slivers (cells clipped by the face Voronoi boundary) may have
    // their nominal center across the seam — the analog of H3's pentagon
    // special-casing, documented in H3.scala. They must be a small
    // minority; every interior center must roundtrip exactly.
    var seam = 0; var total = 0
    for ((lat, lng) <- points; res <- Seq(0, 1, 3, 6, 9, 12, 15)) {
      val c = H3.latLngToCell(lat, lng, res)
      assert(H3.isValid(c), s"invalid index for ($lat,$lng,$res)")
      assert(H3.resolution(c) == res)
      val (cla, cln) = H3.cellToLatLng(c)
      val c2 = H3.latLngToCell(cla, cln, res)
      total += 1
      if (H3.baseCell(c2) == H3.baseCell(c))
        assert(c2 == c, s"center of ($lat,$lng,$res) re-indexed elsewhere")
      else seam += 1
    }
    assert(seam < total / 5, s"too many seam cells: $seam of $total")
  }

  test("hierarchy: parent of each of the 7 children is the cell itself") {
    for ((lat, lng) <- points.take(120); res <- Seq(0, 2, 5, 9)) {
      val c = H3.latLngToCell(lat, lng, res)
      val kids = H3.children(c, res + 1)
      assert(kids.size == 7 && kids.distinct.size == 7)
      kids.foreach(k => assert(H3.parent(k, res) == c))
      // two levels down: 49, all mapping back
      val grand = H3.children(c, res + 2)
      assert(grand.size == 49 && grand.distinct.size == 49)
      grand.foreach(g => assert(H3.parent(g, res) == c))
    }
  }

  test("hierarchy: a point's coarse cell is the parent or its neighbor") {
    // Geographic containment is approximate in ANY aperture-7 DGGS —
    // children stick out of the parent hexagon (Uber documents the same
    // for H3) — so the digit-path parent must be the point's coarse cell
    // or one of its immediate neighbors, and is the coarse cell itself
    // for the large majority of points.
    var exact = 0; var total = 0
    for ((lat, lng) <- points; res <- Seq(1, 4, 8, 12)) {
      val fine = H3.latLngToCell(lat, lng, res)
      val coarse = H3.latLngToCell(lat, lng, res - 1)
      val p = H3.parent(fine, res - 1)
      total += 1
      if (p == coarse) exact += 1
      else if (H3.baseCell(p) == H3.baseCell(coarse))
        assert(H3.gridDistance(p, coarse) == 1,
          s"parent drifted beyond a neighbor at ($lat,$lng,$res)")
      // cross-face pairs are seam cells; bounded by the exactness floor
    }
    assert(exact * 10 >= total * 7, s"only $exact/$total exact parents")
  }

  test("kRing: sizes 1/7/19 away from seams; center included; hexRing") {
    // interior probe: face-center-ish points (project near plane origin)
    val interior = points.filter { case (la, ln) =>
      val c = H3.latLngToCell(la, ln, 6)
      val k2 = H3.kRing(c, 2)
      // interior = the whole 2-disc stays on this face (no seam rewrites)
      k2.size == 19 && k2.forall(x => H3.baseCell(x) == H3.baseCell(c))
    }
    assert(interior.size > points.size / 2, "too few interior points")
    for ((lat, lng) <- interior.take(60)) {
      val c = H3.latLngToCell(lat, lng, 6)
      assert(H3.kRing(c, 0) == Seq(c))
      val k1 = H3.kRing(c, 1)
      assert(k1.size == 7 && k1.contains(c) && k1.forall(H3.isValid))
      val ring1 = H3.hexRing(c, 1)
      assert(ring1.size == 6 && !ring1.contains(c))
      assert(k1.toSet == ring1.toSet + c)
      // ring cells are at grid distance exactly 1
      ring1.foreach(n => assert(H3.gridDistance(c, n) == 1))
    }
  }

  test("gridDistance: symmetric, triangle inequality on a ring walk") {
    val c = H3.latLngToCell(20.0, 30.0, 7)
    val far = H3.kRing(c, 4).filter(x => H3.gridDistance(c, x) == 4)
    assert(far.nonEmpty)
    far.take(10).foreach { f =>
      assert(H3.gridDistance(f, c) == 4)
      H3.kRing(c, 1).filter(_ != c).take(3).foreach { mid =>
        assert(H3.gridDistance(c, mid) + H3.gridDistance(mid, f) >=
          H3.gridDistance(c, f))
      }
    }
  }

  test("compact/uncompact roundtrip; complete sets collapse") {
    val c = H3.latLngToCell(-33.9, 151.2, 5)
    val kids = H3.children(c, 7) // 49 cells
    assert(H3.compact(kids) == Seq(c))
    assert(H3.uncompact(Seq(c), 7).toSet == kids.toSet)
    // drop one child from EVERY sibling set: nothing may collapse
    val partial = kids.groupBy(k => H3.parent(k, 6)).values
      .flatMap(_.drop(1)).toSeq
    assert(H3.compact(partial).toSet == partial.toSet)
  }

  test("boundary: 6 vertices enclosing the center") {
    for ((lat, lng) <- points.take(50)) {
      val c = H3.latLngToCell(lat, lng, 6)
      val b = H3.cellToBoundary(c)
      assert(b.size == 6)
      val (cla, cln) = H3.cellToLatLng(c)
      // vertices sit at ~vertex-radius from the center at res-6 scale:
      // great-circle distance well under 150 km (degree math breaks at
      // the poles, so measure on the sphere)
      def hav(la1: Double, ln1: Double, la2: Double, ln2: Double): Double = {
        val (p1, p2) = (math.toRadians(la1), math.toRadians(la2))
        val (dp, dl) = (p2 - p1, math.toRadians(ln2 - ln1))
        val a = math.pow(math.sin(dp / 2), 2) +
          math.cos(p1) * math.cos(p2) * math.pow(math.sin(dl / 2), 2)
        6371.0 * 2 * math.asin(math.min(1.0, math.sqrt(a)))
      }
      b.foreach { case (vla, vln) =>
        val km = hav(cla, cln, vla, vln)
        assert(km < 150.0, s"boundary vertex far from center: $km km")
      }
    }
  }

  test("pinned index literals: algorithm drift breaks these") {
    // Frozen outputs (the q147 Metaphone pinning discipline): any change
    // to the projection, lattice rotation, or bit layout must be a
    // DELIBERATE format break that re-pins these and q174's rollup summary.
    assert(H3.eclIndex(48.86, 2.35, 2) == "2208007fffffffff")
    assert(H3.eclIndex(35.68, 139.69, 9) == "2910000cdd3bffff")
    assert(H3.eclIndex(-54.8, -68.3, 2) == "2238027fffffffff")
    assert(H3.eclIndex(-89.0, 45.0, 9) == "292c00105c8fffff")
    assert(H3.toEclIndex(H3.parent(
      H3.fromEclIndex("2910000cdd3bffff"), 8)) == "2810000cdd3fffff")
    assert(H3.baseCell(H3.fromEclIndex("2634000da7ffffff")) == 13)
  }

  test("string forms: hex / STRING16 ECLIndex family roundtrip") {
    val c = H3.latLngToCell(48.86, 2.35, 9)
    assert(H3.fromHexString(H3.toHexString(c)) == c)
    val s16 = H3.toEclIndex(c)
    assert(s16.length == 16 && H3.fromEclIndex(s16) == c)
    assert(H3.eclIndex(48.86, 2.35, 9) == s16)
    assert(H3.eclIndexResolution(s16) == 9)
    assert(H3.fromEclIndex(H3.eclIndexParent(s16, 4)) == H3.parent(c, 4))
  }

  test("isValid rejects malformed bit patterns") {
    val c = H3.latLngToCell(10.0, 10.0, 4)
    assert(H3.isValid(c))
    assert(!H3.isValid(0L))
    assert(!H3.isValid(c ^ (1L << 63))) // wrong mode
    assert(!H3.isValid(c | (25L << 50))) // face bits forced ≥ 20
    // corrupt an unused digit slot (must read 7 beyond the cell's res)
    assert(!H3.isValid(c ^ (7L << (45 - 3 * 15))))
  }

  test("area/count figures shrink 7x per resolution") {
    (0 until 10).foreach { r =>
      assert(math.abs(H3.hexAreaKm2(r) / H3.hexAreaKm2(r + 1) - 7.0) < 1e-9)
      assert(H3.numCells(r + 1) == 7L * H3.numCells(r))
    }
    assert(H3.hexAreaM2(3) == H3.hexAreaKm2(3) * 1e6)
    // degsToRads/radsToDegs: 180° is π radians
    assert(math.abs(H3.degsToRads(180.0) - math.Pi) < 1e-12)
    assert(math.abs(H3.degsToRads(-90.0) + math.Pi / 2) < 1e-12)
    assert(math.abs(H3.radsToDegs(math.Pi / 4) - 45.0) < 1e-12)
  }

  test("polyfill: center-containment fill of a convex polygon") {
    val poly = Seq((10.0, 10.0), (10.0, 12.0), (12.0, 12.0), (12.0, 10.0))
    val cells = H3.polyfill(poly, 5)
    assert(cells.nonEmpty)
    cells.foreach { c =>
      val (la, ln) = H3.cellToLatLng(c)
      assert(la >= 9.9 && la <= 12.1 && ln >= 9.9 && ln <= 12.1)
    }
    // finer resolution: ~7x more cells (center containment, so ±edge noise)
    val finer = H3.polyfill(poly, 6)
    assert(finer.size > cells.size * 4 && finer.size < cells.size * 11)
  }

  test("polyfill: concave polygon fills both lobes, excludes the notch") {
    // U-shape: two vertical lobes joined at the bottom; the notch between
    // the lobes (lat > 12, 13 < lng < 17) is OUTSIDE the polygon
    val u = Seq(
      (10.0, 10.0), (20.0, 10.0), (20.0, 13.0), (12.0, 13.0),
      (12.0, 17.0), (20.0, 17.0), (20.0, 20.0), (10.0, 20.0))
    val cells = H3.polyfill(u, 6)
    assert(cells.nonEmpty)
    val centers = cells.map(H3.cellToLatLng)
    // both lobes reached through the connected bottom (flood fill)
    assert(centers.exists { case (la, ln) => la > 15 && ln < 13 })
    assert(centers.exists { case (la, ln) => la > 15 && ln > 17 })
    // no cell center inside the notch
    assert(!centers.exists { case (la, ln) =>
      la > 12.5 && ln > 13.5 && ln < 16.5 })
    // ray-casting containment: every emitted center is inside the U
    centers.foreach { case (la, ln) =>
      val inLeftLobe = la >= 10 && la <= 20 && ln >= 9.9 && ln <= 13.1
      val inRightLobe = la >= 10 && la <= 20 && ln >= 16.9 && ln <= 20.1
      val inBottom = la >= 9.9 && la <= 12.1 && ln >= 9.9 && ln <= 20.1
      assert(inLeftLobe || inRightLobe || inBottom, s"($la,$ln) escaped")
    }
  }
}
