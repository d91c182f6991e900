package graft.functions

/** Geospatial hexagonal indexing — the H3 plugin analog
  * (ref `plugins/h3/lib_h3.ecllib:27-69`, which wraps Uber's libh3; the
  * reference ships no grid math of its own).
  *
  * This is a clean-room icosahedral aperture-7 hexagonal DGGS built from
  * published mathematics only: gnomonic projection onto the 20 icosahedron
  * faces, a triangular lattice per face, and the Eisenstein-integer
  * aperture-7 subdivision (multiply by u = 2 + ω, ω = e^{iπ/3}, |u|² = 7 —
  * the same ~19.1° Class-III rotation Uber documents). It intentionally
  * does NOT reproduce Uber's index values: H3's base-cell numbering and
  * face-rotation tables are implementation data, not published spec. What
  * IS preserved is every analytical property the reference plugin's users
  * rely on:
  *   - exact 7-child hierarchy: parent(child(c)) == c, children are
  *     disjoint and cover (the Eisenstein remainder after nearest-lattice
  *     rounding has norm² ∈ {0,1}, so each parent owns exactly its center
  *     + the 6 units — a provable partition, unlike a recalled table);
  *   - k-ring adjacency with |kRing(k)| = 1+3k(k+1) away from face seams;
  *   - ~uniform cell area shrinking 7× per resolution;
  *   - 64-bit sortable indexes whose bit layout embeds resolution + the
  *     digit path, so parent extraction is bit truncation (scan-speed,
  *     no trig) — the property that makes cell-keyed rollups one hash
  *     shuffle at 100 TB.
  * Differences, documented: no pentagons (each face tiles independently;
  * seam cells are clipped by the face Voronoi boundary instead), and
  * cross-face grid distance is undefined (-1), matching H3's own failure
  * mode for cross-pentagon paths.
  *
  * Layout of the 64-bit index:
  *   bits 63..60  mode tag (0x2)
  *   bits 59..56  resolution r (0..15)
  *   bits 55..50  face (0..19)
  *   bits 49..45  zero
  *   bits 44..0   15 aperture-7 digits, 3 bits each (digit k of a res-r
  *                cell at bits (45-3k)..(47-3k); digits beyond r are 7)
  */
object H3 {

  val MaxRes = 15
  private val Mode = 0x2L

  // ---- icosahedron geometry (golden-ratio vertices, public knowledge) ----

  private val phi = (1.0 + math.sqrt(5.0)) / 2.0

  /** The 12 icosahedron vertices: cyclic permutations of (0, ±1, ±φ). */
  private val verts: Array[Array[Double]] = {
    val raw = for {
      s1 <- Seq(1.0, -1.0); s2 <- Seq(1.0, -1.0)
      p <- Seq(Array(0.0, s1, s2 * phi), Array(s1, s2 * phi, 0.0),
        Array(s2 * phi, 0.0, s1))
    } yield p
    raw.distinct.map(normalize).toArray
  }

  private def normalize(v: Array[Double]): Array[Double] = {
    val n = math.sqrt(v(0) * v(0) + v(1) * v(1) + v(2) * v(2))
    Array(v(0) / n, v(1) / n, v(2) / n)
  }

  private def dot(a: Array[Double], b: Array[Double]): Double =
    a(0) * b(0) + a(1) * b(1) + a(2) * b(2)

  private def cross(a: Array[Double], b: Array[Double]): Array[Double] =
    Array(a(1) * b(2) - a(2) * b(1), a(2) * b(0) - a(0) * b(2),
      a(0) * b(1) - a(1) * b(0))

  /** The 20 faces: triples of vertex indices whose pairwise distances are
    * minimal (edge length 2/φ... derived, not tabled): enumerate vertex
    * triples that are mutually adjacent (closest-neighbor graph).
    */
  private val faces: Array[Array[Int]] = {
    val n = verts.length
    val edge = {
      // the minimal pairwise chord distance is the icosahedron edge
      val ds = for (i <- 0 until n; j <- i + 1 until n)
        yield math.sqrt((0 to 2).map(k =>
          math.pow(verts(i)(k) - verts(j)(k), 2)).sum)
      ds.min
    }
    def adj(i: Int, j: Int): Boolean =
      math.sqrt((0 to 2).map(k =>
        math.pow(verts(i)(k) - verts(j)(k), 2)).sum) < edge * 1.01
    (for {
      i <- 0 until n; j <- i + 1 until n if adj(i, j)
      k <- j + 1 until n if adj(i, k) && adj(j, k)
    } yield Array(i, j, k)).toArray.sortBy(f =>
      (f(0), f(1), f(2))) // deterministic face numbering
  }
  require(faces.length == 20)

  /** Face center unit vectors + a deterministic tangent basis (e1 toward
    * the face's first vertex, e2 = n × e1).
    */
  private val faceCenter: Array[Array[Double]] = faces.map { f =>
    normalize(Array(
      verts(f(0))(0) + verts(f(1))(0) + verts(f(2))(0),
      verts(f(0))(1) + verts(f(1))(1) + verts(f(2))(1),
      verts(f(0))(2) + verts(f(1))(2) + verts(f(2))(2)))
  }
  private val faceE1: Array[Array[Double]] = faces.indices.map { fi =>
    val n = faceCenter(fi); val v0 = verts(faces(fi)(0))
    val d = dot(v0, n)
    normalize(Array(v0(0) - d * n(0), v0(1) - d * n(1), v0(2) - d * n(2)))
  }.toArray
  private val faceE2: Array[Array[Double]] =
    faces.indices.map(fi => cross(faceCenter(fi), faceE1(fi))).toArray

  /** Res-0 lattice spacing B on the gnomonic plane. The digit encoding
    * ups the parent chain with nearest-lattice rounding, so the res-0
    * ancestor of every in-face point must round to the origin even after
    * worst-case accumulated rounding drift: each up-step moves the center
    * by ≤ (1/√3)·spacing_l, summing to ≤ 0.577·B·Σ_{l≥1}7^{-l/2} =
    * 0.3506·B, and the face region's gnomonic circumradius is
    * tan(37.38°) ≈ 0.764 (icosa vertex angular distance). The invariant
    * 0.764 + 0.3506·B < B/2 (res-0 Voronoi inradius) needs B > 5.12;
    * B = 6 leaves comfortable margin. Res-15 cells are still ~18 m across.
    */
  private val BaseScale = 6.0

  // ---- Eisenstein / axial hex lattice math (public hex-grid algebra) ----
  // A lattice point is (a, b) meaning a + b·ω with ω = (1/2, √3/2).

  private val Sqrt3_2 = math.sqrt(3.0) / 2.0

  /** The digit set: center + the six Eisenstein units. */
  private val Digits: Array[(Int, Int)] =
    Array((0, 0), (1, 0), (0, 1), (-1, 1), (-1, 0), (0, -1), (1, -1))
  private val DigitIndex: Map[(Int, Int), Int] =
    Digits.zipWithIndex.toMap

  @inline private def toXY(a: Double, b: Double): (Double, Double) =
    (a + 0.5 * b, Sqrt3_2 * b)

  /** Nearest lattice point (cube rounding — the hex Voronoi cell owner,
    * i.e. the Euclidean-nearest center).
    */
  private def eisRound(a: Double, b: Double): (Int, Int) = {
    val x = a; val z = b; val y = -x - z
    var rx = math.round(x).toInt; var rz = math.round(z).toInt
    val ry = math.round(y).toInt
    val dx = math.abs(rx - x); val dy = math.abs(ry - y)
    val dz = math.abs(rz - z)
    if (dx > dy && dx > dz) rx = -ry - rz
    else if (dz > dy) rz = -rx - ry
    (rx, rz)
  }

  /** Complex multiply in the (1, ω) basis: (a+bω)(c+dω), using
    * ω² = ω − 1.
    */
  @inline private def eisMul(a: Int, b: Int, c: Int, d: Int): (Int, Int) =
    (a * c - b * d, a * d + b * c + b * d)

  /** u = 2 + ω (norm 7). uConj in the SAME basis: conj(2+ω) = 3 − ω
    * (since conj(ω) = 1 − ω). z / u = z·conj(u) / 7.
    */
  private val U: (Int, Int) = (2, 1)

  private def divU(a: Int, b: Int): (Int, Int) = {
    val (na, nb) = eisMul(a, b, 3, -1)
    eisRound(na / 7.0, nb / 7.0)
  }

  // ---- projection ----

  private def llToVec(latDeg: Double, lngDeg: Double): Array[Double] = {
    val lat = math.toRadians(latDeg); val lng = math.toRadians(lngDeg)
    Array(math.cos(lat) * math.cos(lng), math.cos(lat) * math.sin(lng),
      math.sin(lat))
  }

  private def vecToLl(v: Array[Double]): (Double, Double) =
    (math.toDegrees(math.asin(math.max(-1, math.min(1, v(2))))),
      math.toDegrees(math.atan2(v(1), v(0))))

  private def nearestFace(v: Array[Double]): Int = {
    var best = 0; var bestD = -2.0
    var i = 0
    while (i < 20) {
      val d = dot(v, faceCenter(i))
      if (d > bestD) { bestD = d; best = i }
      i += 1
    }
    best
  }

  /** Gnomonic projection onto `face`'s tangent plane → (x, y) in the
    * face basis.
    */
  private def project(face: Int, v: Array[Double]): (Double, Double) = {
    val n = faceCenter(face)
    val d = dot(v, n)
    require(d > 1e-9, "point on far hemisphere of face")
    val px = v(0) / d - n(0); val py = v(1) / d - n(1); val pz = v(2) / d - n(2)
    val p = Array(px, py, pz)
    (dot(p, faceE1(face)), dot(p, faceE2(face)))
  }

  private def unproject(face: Int, x: Double, y: Double): Array[Double] = {
    val n = faceCenter(face); val e1 = faceE1(face); val e2 = faceE2(face)
    normalize(Array(
      n(0) + x * e1(0) + y * e2(0),
      n(1) + x * e1(1) + y * e2(1),
      n(2) + x * e1(2) + y * e2(2)))
  }

  /** Axial lattice coords of the res-r cell containing plane point (x,y):
    * the res-r lattice is the Eisenstein lattice scaled by B·u^{-r}, so
    * divide by B, multiply by u^r, round.
    */
  private def planeToCoord(x: Double, y: Double, res: Int): (Int, Int) = {
    // complex multiply by u^res in doubles (exact integers up to 2^53;
    // |coord| ≤ 0.48·√7^15 ≈ 8.9e5 at res 15 — far inside)
    var zr = x / BaseScale; var zi = y / BaseScale
    val (ur, ui) = { val (a, b) = toXY(U._1, U._2); (a, b) }
    var i = 0
    while (i < res) {
      val nr = zr * ur - zi * ui; val ni = zr * ui + zi * ur
      zr = nr; zi = ni; i += 1
    }
    // back to (a, b) axial: x = a + b/2, y = b·√3/2
    val b = zi / Sqrt3_2; val a = zr - 0.5 * b
    eisRound(a, b)
  }

  /** Plane point of a res-r cell's center. */
  private def coordToPlane(a: Int, b: Int, res: Int): (Double, Double) = {
    var (zr, zi) = toXY(a.toDouble, b.toDouble)
    // divide by u^res: multiply by conj(u)/7 each step
    val (cr, ci) = { val (x, y) = toXY(3, -1); (x, y) }
    var i = 0
    while (i < res) {
      val nr = (zr * cr - zi * ci) / 7.0; val ni = (zr * ci + zi * cr) / 7.0
      zr = nr; zi = ni; i += 1
    }
    (zr * BaseScale, zi * BaseScale)
  }

  // ---- index encode/decode ----

  private def encode(face: Int, res: Int, coord: (Int, Int)): Long = {
    var digits = List.empty[Int]
    var c = coord
    var r = res
    while (r > 0) {
      val p = divU(c._1, c._2)
      val (pu1, pu2) = eisMul(p._1, p._2, U._1, U._2)
      val rem = (c._1 - pu1, c._2 - pu2)
      digits = DigitIndex(rem) :: digits // norm² ∈ {0,1}: always present
      c = p
      r -= 1
    }
    require(c == ((0, 0)),
      s"res-0 overflow for face $face — point outside face region")
    var idx = (Mode << 60) | (res.toLong << 56) | (face.toLong << 50)
    var k = 1
    digits.foreach { d => idx |= d.toLong << (45 - 3 * k); k += 1 }
    while (k <= MaxRes) { idx |= 7L << (45 - 3 * k); k += 1 }
    idx
  }

  private def decode(idx: Long): (Int, Int, (Int, Int)) = {
    val res = ((idx >> 56) & 0xF).toInt
    val face = ((idx >> 50) & 0x3F).toInt
    var c = (0, 0)
    var k = 1
    while (k <= res) {
      val d = ((idx >> (45 - 3 * k)) & 0x7).toInt
      val (ca, cb) = eisMul(c._1, c._2, U._1, U._2)
      c = (ca + Digits(d)._1, cb + Digits(d)._2)
      k += 1
    }
    (face, res, c)
  }

  // ---- public surface (lib_h3.ecllib API) ----

  /** h3.index(lat, lng, res). */
  def latLngToCell(latDeg: Double, lngDeg: Double, res: Int): Long = {
    require(res >= 0 && res <= MaxRes, s"resolution $res out of [0,15]")
    val v = llToVec(latDeg, lngDeg)
    val face = nearestFace(v)
    val (x, y) = project(face, v)
    encode(face, res, planeToCoord(x, y, res))
  }

  /** h3.center(idx) → (lat, lng) degrees. */
  def cellToLatLng(idx: Long): (Double, Double) = {
    val (face, res, c) = decode(idx)
    val (x, y) = coordToPlane(c._1, c._2, res)
    vecToLl(unproject(face, x, y))
  }

  /** h3.boundary(idx): the 6 hex vertices (lat, lng), CCW. */
  def cellToBoundary(idx: Long): Seq[(Double, Double)] = {
    val (face, res, c) = decode(idx)
    val (cx, cy) = coordToPlane(c._1, c._2, res)
    // vertex radius = spacing/√3 at this res; spacing = B/√7^res, rotated
    // with the lattice (u^-res direction); vertices at 30°+60°k from the
    // neighbor directions — equivalently midpoints of the 6 unit rotations
    val spacing = BaseScale / math.pow(math.sqrt(7.0), res)
    val rot = res * math.atan2(Sqrt3_2, 2.5) // arg(u) per level
    (0 until 6).map { k =>
      val ang = -rot + math.Pi / 6.0 + k * math.Pi / 3.0
      val r = spacing / math.sqrt(3.0)
      vecToLl(unproject(face, cx + r * math.cos(ang), cy + r * math.sin(ang)))
    }
  }

  /** h3.resolution(idx). */
  def resolution(idx: Long): Int = ((idx >> 56) & 0xF).toInt

  /** h3.baseCell(idx) — here: the face (the res-0 ancestor's identity). */
  def baseCell(idx: Long): Int = ((idx >> 50) & 0x3F).toInt

  /** h3.isValid. */
  def isValid(idx: Long): Boolean = {
    if ((idx >>> 60) != Mode) return false
    val res = resolution(idx)
    val face = baseCell(idx)
    if (face >= 20 || ((idx >> 45) & 0x1F) != 0) return false
    (1 to MaxRes).forall { k =>
      val d = ((idx >> (45 - 3 * k)) & 0x7).toInt
      if (k <= res) d <= 6 else d == 7
    }
  }

  /** h3.toString / fromString (hex form, like H3's). */
  def toHexString(idx: Long): String = java.lang.Long.toHexString(idx)
  def fromHexString(s: String): Long = java.lang.Long.parseUnsignedLong(s, 16)

  /** The STRING16 "ECL-optimized" fixed-width form
    * (lib_h3.ecllib:63-67 ECLIndex family).
    */
  def toEclIndex(idx: Long): String = f"$idx%016x"
  def fromEclIndex(s: String): Long = java.lang.Long.parseUnsignedLong(s.trim, 16)
  def eclIndex(lat: Double, lng: Double, res: Int): String =
    toEclIndex(latLngToCell(lat, lng, res))
  def eclIndexResolution(s: String): Int = resolution(fromEclIndex(s))
  def eclIndexParent(s: String, res: Int): String =
    toEclIndex(parent(fromEclIndex(s), res))

  /** h3.parent(idx, res): bit truncation — digits beyond `res` reset to 7.
    * Scan-speed (no trig): the property that lets a 100-TB rollup regroup
    * to a coarser resolution without recomputing geometry.
    */
  def parent(idx: Long, res: Int): Long = {
    val r = resolution(idx)
    require(res >= 0 && res <= r, s"parent res $res above cell res $r")
    var out = (idx & ~(0xFL << 56)) | (res.toLong << 56)
    var k = res + 1
    while (k <= MaxRes) { out |= 7L << (45 - 3 * k); k += 1 }
    out
  }

  /** h3.children(idx, res): the 7^(res-r) descendants (digit expansion). */
  def children(idx: Long, res: Int): Seq[Long] = {
    val r = resolution(idx)
    require(res >= r && res <= MaxRes, s"children res $res below cell res $r")
    var acc = Seq(idx & ~(0xFL << 56) | (res.toLong << 56))
    // clear the 7-markers for levels (r, res]
    acc = acc.map { base =>
      var b = base
      var k = r + 1
      while (k <= res) { b &= ~(7L << (45 - 3 * k)); k += 1 }
      b
    }
    var k = r + 1
    while (k <= res) {
      val sh = 45 - 3 * k
      acc = acc.flatMap(b => (0 to 6).map(d => b | (d.toLong << sh)))
      k += 1
    }
    acc
  }

  /** h3.kRing(idx, k): all cells within grid distance k, BFS over the 6
    * axial neighbors. Face seams: a neighbor coordinate whose center
    * leaves this face's region re-indexes through the globe (consistent
    * seam behavior; |kRing| can dip below 1+3k(k+1) there, the analog of
    * H3's pentagon distortion).
    */
  def kRing(idx: Long, k: Int): Seq[Long] = {
    val (face, res, c0) = decode(idx)
    val out = scala.collection.mutable.LinkedHashSet.empty[Long]
    var a = -k
    while (a <= k) {
      var b = math.max(-k, -a - k)
      val bMax = math.min(k, -a + k)
      while (b <= bMax) {
        val cand = (c0._1 + a, c0._2 + b)
        val (x, y) = coordToPlane(cand._1, cand._2, res)
        // far corners of the plane can leave the face region: re-index
        // through the globe so seam neighbors resolve to their true face
        val v = unproject(face, x, y)
        val f2 = nearestFace(v)
        out += (if (f2 == face) encode(face, res, cand)
                else {
                  val (ll1, ll2) = vecToLl(v)
                  latLngToCell(ll1, ll2, res)
                })
        b += 1
      }
      a += 1
    }
    out.toSeq
  }

  /** h3.hexRing(idx, k): exactly distance k (kRing shell). */
  def hexRing(idx: Long, k: Int): Seq[Long] =
    if (k == 0) Seq(idx)
    else {
      val inner = kRing(idx, k - 1).toSet
      kRing(idx, k).filterNot(inner.contains)
    }

  /** h3.distance: grid distance (same face + res only; -1 otherwise, the
    * reference plugin's own failure contract for unreachable pairs).
    */
  def gridDistance(aIdx: Long, bIdx: Long): Int = {
    val (fa, ra, ca) = decode(aIdx); val (fb, rb, cb) = decode(bIdx)
    if (fa != fb || ra != rb) -1
    else {
      val dq = ca._1 - cb._1; val dr = ca._2 - cb._2
      (math.abs(dq) + math.abs(dr) + math.abs(dq + dr)) / 2
    }
  }

  /** h3.compact: replace complete 7-child sets with the parent,
    * iterating to a fixed point.
    */
  def compact(cells: Seq[Long]): Seq[Long] = {
    var cur = cells.distinct
    var changed = true
    while (changed) {
      changed = false
      val (root, rest) = cur.partition(c => resolution(c) == 0)
      val byParent = rest.groupBy(c => parent(c, resolution(c) - 1))
      val next = root ++ byParent.flatMap { case (p, kids) =>
        if (kids.toSet.size == 7) { changed = true; Seq(p) } else kids
      }
      cur = next.toSeq
    }
    cur.sorted
  }

  /** h3.uncompact to a uniform resolution. */
  def uncompact(cells: Seq[Long], res: Int): Seq[Long] =
    cells.flatMap(c => children(c, res)).distinct.sorted

  /** h3.polyfill: cells whose CENTER falls inside the (lat, lng) polygon —
    * H3's own containment contract — via BFS flood fill from the vertex
    * and centroid cells.
    */
  def polyfill(poly: Seq[(Double, Double)], res: Int): Seq[Long] = {
    def inside(lat: Double, lng: Double): Boolean = {
      // ray casting in lat/lng space (small polygons; public algorithm)
      var in = false
      var j = poly.length - 1
      for (i <- poly.indices) {
        val (yi, xi) = poly(i); val (yj, xj) = poly(j)
        if ((yi > lat) != (yj > lat) &&
          lng < (xj - xi) * (lat - yi) / (yj - yi + 1e-300) + xi) in = !in
        j = i
      }
      in
    }
    val centroid = (poly.map(_._1).sum / poly.length,
      poly.map(_._2).sum / poly.length)
    val seeds = (poly :+ centroid).map { case (la, ln) =>
      latLngToCell(la, ln, res)
    }.distinct
    val seen = scala.collection.mutable.Set[Long](seeds: _*)
    val queue = scala.collection.mutable.Queue[Long](seeds: _*)
    val out = scala.collection.mutable.Set.empty[Long]
    while (queue.nonEmpty) {
      val c = queue.dequeue()
      val (la, ln) = cellToLatLng(c)
      if (inside(la, ln)) {
        out += c
        kRing(c, 1).foreach { n =>
          if (!seen.contains(n)) { seen += n; queue += n }
        }
      }
    }
    out.toSeq.sorted
  }

  /** h3.hexAreaKm2 / hexAreaM2 / numHexagons: nominal (average) figures
    * for a 20·7^res tiling of the 510.0656M-km² sphere.
    */
  def hexAreaKm2(res: Int): Double = 510065621.724 / (20.0 * math.pow(7.0, res))
  def hexAreaM2(res: Int): Double = hexAreaKm2(res) * 1e6
  def numCells(res: Int): Long = 20L * math.pow(7.0, res).toLong

  def degsToRads(d: Double): Double = math.toRadians(d)
  def radsToDegs(r: Double): Double = math.toDegrees(r)

  // ---- Spark Column surface ------------------------------------------------
  // UDFs by necessity: icosahedral projection has no Catalyst equivalent
  // (the Metaphone/ICU policy). parent() IS expressible as pure bit math on
  // a long column, so the hot rollup path gets a codegen-friendly
  // expression instead of a UDF — regrouping 100 TB of indexed points to a
  // coarser resolution never touches trigonometry.

  import org.apache.spark.sql.Column
  import org.apache.spark.sql.functions.{udf, lit => flit, shiftright,
    bitwise_not}

  private lazy val cellUdf =
    udf((lat: Double, lng: Double, res: Int) => latLngToCell(lat, lng, res))
  private lazy val eclUdf =
    udf((lat: Double, lng: Double, res: Int) => eclIndex(lat, lng, res))
  private lazy val validUdf = udf((c: Long) => isValid(c))
  private lazy val kRingSizeUdf = udf((c: Long, k: Int) => kRing(c, k).size)

  def cellCol(lat: Column, lng: Column, res: Column): Column =
    cellUdf(lat, lng, res)
  def eclIndexCol(lat: Column, lng: Column, res: Column): Column =
    eclUdf(lat, lng, res)
  def isValidCol(c: Column): Column = validUdf(c)
  def kRingSizeCol(c: Column, k: Column): Column = kRingSizeUdf(c, k)

  /** resolution() as pure column bit math (codegen'd). */
  def resolutionCol(c: Column): Column =
    shiftright(c, 56).bitwiseAND(flit(0xFL)).cast("int")

  /** baseCell()/face as pure column bit math. */
  def baseCellCol(c: Column): Column =
    shiftright(c, 50).bitwiseAND(flit(0x3FL)).cast("int")
}
