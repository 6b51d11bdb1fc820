package graft.functions

import org.apache.spark.sql.functions.udf

import scala.collection.mutable

/** The reference's boost::geometry polygon family re-expressed for Spark
  * (`/root/reference/src/Functions/{polygonArea,polygonPerimeter,
  * polygonConvexHull,polygonsDistance,polygonsEquals,polygonsIntersection,
  * polygonsUnion,polygonsSymDifference,polygonsWithin,readWkt,wkt,svg}.cpp`).
  *
  * Geometry model mirrors ClickHouse: Point = Tuple(Float64, Float64)
  * (lon, lat for the *Spherical forms), Ring = Array(Point), Polygon =
  * Array(Ring) (first ring outer, rest holes), MultiPolygon =
  * Array(Polygon). All functions are registered as Spark scalar UDFs over
  * `ARRAY<ARRAY<ARRAY<STRUCT<double, double>>>>` — polygon values are
  * row-local, so the UDF parallelizes embarrassingly across partitions and
  * never shuffles.
  *
  * Boolean ops use the Martinez–Rueda sweep in [[PolygonClip]]. The
  * *Spherical boolean forms treat edges as great-circle arcs exactly, via
  * a gnomonic projection about the input's spherical centroid: gnomonic
  * maps every great circle to a straight line, so planar intersection
  * points in the projected plane are exactly the great-circle intersection
  * points on the sphere (valid while the input stays within a hemisphere
  * of its centroid — the same regional regime the reference's own tests
  * exercise). Spherical measures are exact great-circle formulas on the
  * unit sphere (the reference/boost convention: steradians for area,
  * radians for perimeter/distance).
  *
  * Deviations (documented): Spark scalar UDFs are monomorphic, so `wkt`/
  * `svg` bind to the MultiPolygon shape and `wktPoint/wktRing/wktPolygon`,
  * `svgPoint/svgRing/svgPolygon` cover the narrower geometries the
  * reference dispatches on dynamically.
  */
object Geometry extends Serializable {

  import PolygonClip.{MultiPoly, Poly, Pt, Ring}

  private type TP = (Double, Double)
  private type TMulti = Seq[Seq[Seq[TP]]]
  private type TPoly = Seq[Seq[TP]]
  private type TRing = Seq[TP]

  private def toMp(m: TMulti): MultiPoly =
    if (m == null) IndexedSeq.empty
    else m.map(p => p.map(r => r.toIndexedSeq).toIndexedSeq).toIndexedSeq

  private def fromMp(m: MultiPoly): TMulti =
    m.map(p => p.map(r => r: Seq[TP]): Seq[Seq[TP]])

  // ---- WKT ---------------------------------------------------------------

  /** ClickHouse Float64 text form: integral values print without a
    * fractional part, everything else shortest round-trip.
    */
  def fmtNum(v: Double): String =
    if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else {
      val s = java.lang.Double.toString(v)
      if (s.endsWith(".0")) s.dropRight(2) else s
    }

  private def fmtPt(p: Pt): String = fmtNum(p._1) + " " + fmtNum(p._2)

  private def closeRing(r: Ring): Ring =
    if (r.length > 1 && r.head != r.last) r :+ r.head else r

  def wktPoint(p: Pt): String = s"POINT(${fmtPt(p)})"

  /** boost prints a ring verbatim (no implicit closing) under POLYGON */
  def wktRing(r: Ring): String =
    "POLYGON((" + r.map(fmtPt).mkString(",") + "))"

  /** polygons/multipolygons print with rings explicitly closed */
  def wktPolygon(p: Poly): String =
    "POLYGON(" + p.map(r => "(" + closeRing(r).map(fmtPt).mkString(",") + ")").mkString(",") + ")"

  def wktMulti(m: MultiPoly): String =
    "MULTIPOLYGON(" + m.map(p =>
      "(" + p.map(r => "(" + closeRing(r).map(fmtPt).mkString(",") + ")").mkString(",") + ")").mkString(",") + ")"

  private def parsePointList(s: String): IndexedSeq[Pt] =
    s.split(",").iterator.map { t =>
      val parts = t.trim.split("\\s+")
      (parts(0).toDouble, parts(1).toDouble)
    }.toIndexedSeq

  /** split "(...),(...)" at top-level commas */
  private def splitGroups(s: String): Seq[String] = {
    val out = mutable.ArrayBuffer.empty[String]
    var depth = 0
    var start = 0
    var i = 0
    while (i < s.length) {
      s.charAt(i) match {
        case '(' => depth += 1
        case ')' => depth -= 1
        case ',' if depth == 0 =>
          out += s.substring(start, i); start = i + 1
        case _ =>
      }
      i += 1
    }
    out += s.substring(start)
    out.toSeq.map(_.trim).filter(_.nonEmpty)
  }

  private def stripParens(s: String): String = {
    val t = s.trim
    require(t.startsWith("(") && t.endsWith(")"), s"malformed WKT group: $s")
    t.substring(1, t.length - 1)
  }

  def parseWktPoint(s: String): Pt = {
    val body = stripParens(s.trim.stripPrefix("POINT").trim)
    val parts = body.trim.split("\\s+")
    (parts(0).toDouble, parts(1).toDouble)
  }

  def parseWktRing(s: String): Ring = {
    val body = stripParens(s.trim.stripPrefix("POLYGON").trim)
    parsePointList(stripParens(splitGroups(body).head))
  }

  def parseWktPolygon(s: String): Poly = {
    val body = stripParens(s.trim.stripPrefix("POLYGON").trim)
    splitGroups(body).map(g => parsePointList(stripParens(g))).toIndexedSeq
  }

  def parseWktMulti(s: String): MultiPoly = {
    val body = stripParens(s.trim.stripPrefix("MULTIPOLYGON").trim)
    splitGroups(body).map { pg =>
      splitGroups(stripParens(pg)).map(g => parsePointList(stripParens(g))).toIndexedSeq
    }.toIndexedSeq
  }

  // ---- SVG ---------------------------------------------------------------

  /** boost `correct()` then close: closes the ring first, then reverses the
    * whole closed sequence when the orientation is wrong (outer rings
    * clockwise, holes counter-clockwise) — reproduces the reference's svg
    * output byte-for-byte (test 01300_svg).
    */
  private def correctedClosed(r: Ring, outer: Boolean): Ring = {
    val closed = closeRing(r)
    val ccw = PolygonClip.shoelace(r) > 0
    // outer wants clockwise; hole wants counter-clockwise
    if (outer == ccw) closed.reverse else closed
  }

  private def svgCoord(p: Pt): String = fmtNum(p._1) + "," + fmtNum(p._2)

  def svgPoint(p: Pt, style: String): String =
    s"""<circle cx="${fmtNum(p._1)}" cy="${fmtNum(p._2)}" r="5" style="$style"/>"""

  def svgRing(r: Ring, style: String): String =
    s"""<polygon points="${correctedClosed(r, outer = true).map(svgCoord).mkString(" ")}" style="$style"/>"""

  def svgPolygon(p: Poly, style: String): String = {
    val d = p.zipWithIndex.map { case (r, i) =>
      "M " + correctedClosed(r, i == 0).map(svgCoord).mkString(" L ")
    }.mkString("")
    s"""<g fill-rule="evenodd"><path d="$d z " style="$style"/></g>"""
  }

  def svgMulti(m: MultiPoly, style: String): String =
    m.map(svgPolygon(_, style)).mkString("")

  // ---- Cartesian measures ------------------------------------------------

  /** boost area convention: clockwise outer positive; holes subtract */
  def areaCartesian(m: MultiPoly): Double = PolygonClip.area(m)

  def perimeterCartesian(m: MultiPoly): Double = {
    var s = 0.0
    for (poly <- m; ring <- poly) {
      val r = PolygonClip.dedupClosed(ring)
      val n = r.length
      if (n >= 2) {
        var i = 0
        while (i < n) {
          val p1 = r(i); val p2 = r((i + 1) % n)
          s += math.hypot(p2._1 - p1._1, p2._2 - p1._2)
          i += 1
        }
      }
    }
    s
  }

  /** Andrew monotone chain; closed clockwise ring from the smallest vertex
    * (matches the reference's 01300_polygon_convex_hull golden).
    */
  def convexHull(m: MultiPoly): Poly = {
    val pts = m.flatMap(_.flatMap(identity)).distinct.sortBy(p => (p._1, p._2))
    if (pts.length < 3) return IndexedSeq(closeRing(pts.toIndexedSeq))
    def cross(o: Pt, a: Pt, b: Pt): Double =
      (a._1 - o._1) * (b._2 - o._2) - (a._2 - o._2) * (b._1 - o._1)
    val lower = mutable.ArrayBuffer.empty[Pt]
    for (p <- pts) {
      while (lower.length >= 2 && cross(lower(lower.length - 2), lower.last, p) <= 0)
        lower.remove(lower.length - 1)
      lower += p
    }
    val upper = mutable.ArrayBuffer.empty[Pt]
    for (p <- pts.reverse) {
      while (upper.length >= 2 && cross(upper(upper.length - 2), upper.last, p) <= 0)
        upper.remove(upper.length - 1)
      upper += p
    }
    // ccw hull starting at the smallest vertex
    val ccw = (lower.dropRight(1) ++ upper.dropRight(1)).toIndexedSeq
    // clockwise from the same start
    val cw = ccw.head +: ccw.tail.reverse
    IndexedSeq(closeRing(cw))
  }

  private def pointInRing(p: Pt, ring: Ring): Boolean = {
    val r = PolygonClip.dedupClosed(ring)
    val n = r.length
    var inside = false
    var i = 0
    var j = n - 1
    while (i < n) {
      val (xi, yi) = r(i); val (xj, yj) = r(j)
      // on-edge counts as inside (boundary intersects)
      val minx = math.min(xi, xj); val maxx = math.max(xi, xj)
      val miny = math.min(yi, yj); val maxy = math.max(yi, yj)
      if (p._1 >= minx && p._1 <= maxx && p._2 >= miny && p._2 <= maxy &&
          (xj - xi) * (p._2 - yi) - (yj - yi) * (p._1 - xi) == 0.0) return true
      if ((yi > p._2) != (yj > p._2) &&
          p._1 < (xj - xi) * (p._2 - yi) / (yj - yi) + xi) inside = !inside
      j = i
      i += 1
    }
    inside
  }

  /** boundary-inclusive containment in a multipolygon with holes */
  def pointInMulti(p: Pt, m: MultiPoly): Boolean =
    m.exists { poly =>
      poly.nonEmpty && pointInRing(p, poly.head) &&
        !poly.tail.exists(h => {
          val r = PolygonClip.dedupClosed(h)
          // strictly interior to a hole = outside (hole boundary still inside)
          pointInRing(p, h) && !onBoundary(p, r)
        })
    }

  private def onBoundary(p: Pt, r: Ring): Boolean = {
    val n = r.length
    var i = 0
    while (i < n) {
      val a = r(i); val b = r((i + 1) % n)
      val minx = math.min(a._1, b._1); val maxx = math.max(a._1, b._1)
      val miny = math.min(a._2, b._2); val maxy = math.max(a._2, b._2)
      if (p._1 >= minx && p._1 <= maxx && p._2 >= miny && p._2 <= maxy &&
          (b._1 - a._1) * (p._2 - a._2) - (b._2 - a._2) * (p._1 - a._1) == 0.0)
        return true
      i += 1
    }
    false
  }

  private def segPointDist(p: Pt, a: Pt, b: Pt): Double = {
    val vx = b._1 - a._1; val vy = b._2 - a._2
    val len2 = vx * vx + vy * vy
    if (len2 == 0.0) return math.hypot(p._1 - a._1, p._2 - a._2)
    val t = math.max(0.0, math.min(1.0, ((p._1 - a._1) * vx + (p._2 - a._2) * vy) / len2))
    math.hypot(p._1 - (a._1 + t * vx), p._2 - (a._2 + t * vy))
  }

  private def segments(m: MultiPoly): IndexedSeq[(Pt, Pt)] = {
    val out = mutable.ArrayBuffer.empty[(Pt, Pt)]
    for (poly <- m; ring <- poly) {
      val r = PolygonClip.dedupClosed(ring)
      val n = r.length
      if (n == 1) out += ((r(0), r(0)))
      else {
        var i = 0
        while (i < n) { out += ((r(i), r((i + 1) % n))); i += 1 }
      }
    }
    out.toIndexedSeq
  }

  def distanceCartesian(a: MultiPoly, b: MultiPoly): Double = {
    // overlapping or nested → 0
    if (PolygonClip.clip(a, b, PolygonClip.Intersection).nonEmpty) return 0.0
    val va = a.flatMap(_.headOption).flatMap(r => r.headOption)
    if (va.exists(p => pointInMulti(p, b)) ||
        b.flatMap(_.headOption).flatMap(_.headOption).exists(p => pointInMulti(p, a)))
      return 0.0
    val sa = segments(a); val sb = segments(b)
    var best = Double.PositiveInfinity
    for ((a1, a2) <- sa; (b1, b2) <- sb) {
      if (PolygonClip.shoelace(IndexedSeq(a1, a2, b1)) *
          PolygonClip.shoelace(IndexedSeq(a1, a2, b2)) < 0 &&
          PolygonClip.shoelace(IndexedSeq(b1, b2, a1)) *
          PolygonClip.shoelace(IndexedSeq(b1, b2, a2)) < 0) return 0.0 // crossing
      best = math.min(best, math.min(
        math.min(segPointDist(a1, b1, b2), segPointDist(a2, b1, b2)),
        math.min(segPointDist(b1, a1, a2), segPointDist(b2, a1, a2))))
    }
    if (best.isInfinity) 0.0 else best
  }

  def equalsCartesian(a: MultiPoly, b: MultiPoly): Boolean = {
    val x = PolygonClip.clip(a, b, PolygonClip.Xor)
    val scale = 1.0 + math.max(math.abs(areaCartesian(a)), math.abs(areaCartesian(b)))
    x.isEmpty || math.abs(areaCartesian(x)) < 1e-12 * scale
  }

  def withinCartesian(a: MultiPoly, b: MultiPoly): Boolean = {
    val diff = PolygonClip.clip(a, b, PolygonClip.Difference)
    val scale = 1.0 + math.abs(areaCartesian(a))
    val diffEmpty = diff.isEmpty || math.abs(areaCartesian(diff)) < 1e-12 * scale
    if (!diffEmpty) return false
    val inter = PolygonClip.clip(a, b, PolygonClip.Intersection)
    math.abs(areaCartesian(inter)) > 0
  }

  // ---- Spherical ---------------------------------------------------------

  private def unit(p: Pt): (Double, Double, Double) = {
    val lon = math.toRadians(p._1); val lat = math.toRadians(p._2)
    (math.cos(lat) * math.cos(lon), math.cos(lat) * math.sin(lon), math.sin(lat))
  }

  private def dot(a: (Double, Double, Double), b: (Double, Double, Double)): Double =
    a._1 * b._1 + a._2 * b._2 + a._3 * b._3

  private def crossV(a: (Double, Double, Double), b: (Double, Double, Double)): (Double, Double, Double) =
    (a._2 * b._3 - a._3 * b._2, a._3 * b._1 - a._1 * b._3, a._1 * b._2 - a._2 * b._1)

  private def norm(a: (Double, Double, Double)): Double =
    math.sqrt(dot(a, a))

  private def normalize(a: (Double, Double, Double)): (Double, Double, Double) = {
    val n = norm(a)
    (a._1 / n, a._2 / n, a._3 / n)
  }

  /** central angle between unit vectors (stable at small angles) */
  private def angleBetween(a: (Double, Double, Double), b: (Double, Double, Double)): Double =
    math.atan2(norm(crossV(a, b)), dot(a, b))

  /** signed solid angle of the spherical triangle (a,b,c) — the Van
    * Oosterom–Strackee formula; exact for great-circle edges.
    */
  private def triangleSolidAngle(a: (Double, Double, Double),
      b: (Double, Double, Double), c: (Double, Double, Double)): Double = {
    val num = dot(a, crossV(b, c))
    val den = 1.0 + dot(a, b) + dot(b, c) + dot(c, a)
    2.0 * math.atan2(num, den)
  }

  private def ringSolidAngle(ring: Ring): Double = {
    val r = PolygonClip.dedupClosed(ring)
    if (r.length < 3) return 0.0
    val vs = r.map(unit)
    var s = 0.0
    var i = 1
    while (i + 1 < vs.length) {
      s += triangleSolidAngle(vs(0), vs(i), vs(i + 1))
      i += 1
    }
    s
  }

  /** unit-sphere area in steradians (orientation-insensitive outer rings,
    * holes subtract — boost's `correct()`d semantics)
    */
  def areaSpherical(m: MultiPoly): Double = {
    var total = 0.0
    for (poly <- m; (ring, idx) <- poly.zipWithIndex) {
      val a = math.abs(ringSolidAngle(ring))
      if (idx == 0) total += a else total -= a
    }
    total
  }

  /** great-circle perimeter in radians on the unit sphere */
  def perimeterSpherical(m: MultiPoly): Double = {
    var s = 0.0
    for (poly <- m; ring <- poly) {
      val r = PolygonClip.dedupClosed(ring)
      val n = r.length
      if (n >= 2) {
        val vs = r.map(unit)
        var i = 0
        while (i < n) {
          s += angleBetween(vs(i), vs((i + 1) % n))
          i += 1
        }
      }
    }
    s
  }

  /** great-circle distance from a point to an arc (radians) */
  private def pointToArc(p: (Double, Double, Double),
      a: (Double, Double, Double), b: (Double, Double, Double)): Double = {
    val ab = crossV(a, b)
    val abn = norm(ab)
    if (abn < 1e-15) return angleBetween(p, a) // degenerate arc
    val n = (ab._1 / abn, ab._2 / abn, ab._3 / abn)
    val sinCross = dot(p, n)
    // foot of the great-circle perpendicular
    val f = normalize((p._1 - sinCross * n._1, p._2 - sinCross * n._2, p._3 - sinCross * n._3))
    val within =
      math.abs(angleBetween(a, f) + angleBetween(f, b) - angleBetween(a, b)) < 1e-9
    if (within) math.abs(math.asin(math.max(-1.0, math.min(1.0, sinCross))))
    else math.min(angleBetween(p, a), angleBetween(p, b))
  }

  def distanceSpherical(a: MultiPoly, b: MultiPoly): Double = {
    val aReal = a.exists(_.exists(r => PolygonClip.dedupClosed(r).length >= 3))
    val bReal = b.exists(_.exists(r => PolygonClip.dedupClosed(r).length >= 3))
    if (aReal && bReal &&
        clipSpherical(a, b, PolygonClip.Intersection).nonEmpty) return 0.0
    val sa = segments(a); val sb = segments(b)
    var best = Double.PositiveInfinity
    for ((a1, a2) <- sa; (b1, b2) <- sb) {
      val ua1 = unit(a1); val ua2 = unit(a2)
      val ub1 = unit(b1); val ub2 = unit(b2)
      best = math.min(best, math.min(
        math.min(pointToArc(ua1, ub1, ub2), pointToArc(ua2, ub1, ub2)),
        math.min(pointToArc(ub1, ua1, ua2), pointToArc(ub2, ua1, ua2))))
    }
    if (best.isInfinity) 0.0 else best
  }

  /** Gnomonic plane about the joint centroid: great circles ↔ straight
    * lines, so the planar Martinez–Rueda sweep computes exact spherical
    * topology; original vertices round-trip bit-exact via a passthrough
    * map.
    */
  def clipSpherical(a: MultiPoly, b: MultiPoly, op: PolygonClip.Op): MultiPoly = {
    val allPts = (a ++ b).flatMap(_.flatMap(identity))
    if (allPts.isEmpty) return IndexedSeq.empty
    val sum = allPts.map(unit).foldLeft((0.0, 0.0, 0.0)) { (acc, v) =>
      (acc._1 + v._1, acc._2 + v._2, acc._3 + v._3)
    }
    val c =
      if (norm(sum) < 1e-9) unit(allPts.head)
      else normalize(sum)
    // orthonormal basis perpendicular to c
    val ref = if (math.abs(c._3) < 0.9) (0.0, 0.0, 1.0) else (1.0, 0.0, 0.0)
    val e1 = normalize(crossV(ref, c))
    val e2 = crossV(c, e1)

    val back = mutable.HashMap.empty[Pt, Pt] // projected -> original lon/lat
    def fwd(p: Pt): Pt = {
      val v = unit(p)
      val d = math.max(dot(v, c), 1e-12)
      val q = (dot(v, e1) / d, dot(v, e2) / d)
      back.getOrElseUpdate(q, p)
      q
    }
    def inv(q: Pt): Pt =
      back.getOrElse(q, {
        val v = normalize((c._1 + q._1 * e1._1 + q._2 * e2._1,
          c._2 + q._1 * e1._2 + q._2 * e2._2,
          c._3 + q._1 * e1._3 + q._2 * e2._3))
        val lat = math.toDegrees(math.asin(math.max(-1.0, math.min(1.0, v._3))))
        val lon = math.toDegrees(math.atan2(v._2, v._1))
        (lon, lat)
      })

    def proj(m: MultiPoly): MultiPoly =
      m.map(poly => poly.map(ring => ring.map(fwd)))
    val out = PolygonClip.clip(proj(a), proj(b), op)
    out.map(poly => poly.map(ring => ring.map(inv)))
  }

  def withinSpherical(a: MultiPoly, b: MultiPoly): Boolean = {
    val diff = clipSpherical(a, b, PolygonClip.Difference)
    val scale = 1.0 + areaSpherical(a)
    val diffEmpty = diff.isEmpty || areaSpherical(diff) < 1e-12 * scale
    if (!diffEmpty) return false
    areaSpherical(clipSpherical(a, b, PolygonClip.Intersection)) > 0
  }

  // ---- spatial-join bucketing --------------------------------------------

  /** pack a signed 2-d cell coordinate into one long (32 bits each) */
  def cellId(cx: Long, cy: Long): Long = (cx << 32) | (cy & 0xffffffffL)

  /** all grid cells overlapped by the multipolygon's bounding box —
    * conservative superset (exact verify happens after the cell join)
    */
  def coveringCells(m: MultiPoly, cell: Double): Seq[Long] = {
    var minX = Double.PositiveInfinity; var minY = Double.PositiveInfinity
    var maxX = Double.NegativeInfinity; var maxY = Double.NegativeInfinity
    for (poly <- m; ring <- poly; p <- ring) {
      if (p._1 < minX) minX = p._1
      if (p._2 < minY) minY = p._2
      if (p._1 > maxX) maxX = p._1
      if (p._2 > maxY) maxY = p._2
    }
    if (minX > maxX) return Seq.empty
    val cx0 = math.floor(minX / cell).toLong
    val cx1 = math.floor(maxX / cell).toLong
    val cy0 = math.floor(minY / cell).toLong
    val cy1 = math.floor(maxY / cell).toLong
    val out = mutable.ArrayBuffer.empty[Long]
    var cx = cx0
    while (cx <= cx1) {
      var cy = cy0
      while (cy <= cy1) { out += cellId(cx, cy); cy += 1 }
      cx += 1
    }
    out.toSeq
  }

  // ---- registration ------------------------------------------------------

  def register(r: FunctionSurface.Registrar): Unit = {
    def mp(m: TMulti): MultiPoly = toMp(m)

    r.udf("readWKTPoint", udf((s: String) => parseWktPoint(s)))
    r.udf("readWKTRing", udf((s: String) => parseWktRing(s): TRing))
    r.udf("readWKTPolygon", udf((s: String) => parseWktPolygon(s): TPoly))
    r.udf("readWKTMultiPolygon", udf((s: String) => fromMp(parseWktMulti(s))))

    r.udf("wkt", udf((m: TMulti) => wktMulti(mp(m))))
    r.udf("wktPoint", udf((p: TP) => wktPoint(p)))
    r.udf("wktRing", udf((r: TRing) => wktRing(r.toIndexedSeq)))
    r.udf("wktPolygon", udf((p: TPoly) =>
      wktPolygon(p.map(_.toIndexedSeq).toIndexedSeq)))

    r.udf("svg", udf((m: TMulti, style: String) =>
      svgMulti(mp(m), if (style == null) "" else style)))
    r.udf("svgPoint", udf((p: TP, style: String) =>
      svgPoint(p, if (style == null) "" else style)))
    r.udf("svgRing", udf((r: TRing, style: String) =>
      svgRing(r.toIndexedSeq, if (style == null) "" else style)))
    r.udf("svgPolygon", udf((p: TPoly, style: String) =>
      svgPolygon(p.map(_.toIndexedSeq).toIndexedSeq, if (style == null) "" else style)))

    r.udf("polygonAreaCartesian", udf((m: TMulti) =>
      if (m == null || m.isEmpty) null.asInstanceOf[java.lang.Double]
      else java.lang.Double.valueOf(areaCartesian(mp(m)))))
    r.udf("polygonPerimeterCartesian", udf((m: TMulti) =>
      if (m == null || m.isEmpty) null.asInstanceOf[java.lang.Double]
      else java.lang.Double.valueOf(perimeterCartesian(mp(m)))))
    r.udf("polygonConvexHullCartesian", udf((m: TMulti) =>
      convexHull(mp(m)).map(r => r: Seq[TP]): TPoly))
    r.udf("polygonsDistanceCartesian", udf((a: TMulti, b: TMulti) =>
      distanceCartesian(mp(a), mp(b))))
    r.udf("polygonsEqualsCartesian", udf((a: TMulti, b: TMulti) =>
      equalsCartesian(mp(a), mp(b))))
    r.udf("polygonsWithinCartesian", udf((a: TMulti, b: TMulti) =>
      withinCartesian(mp(a), mp(b))))
    r.udf("polygonsIntersectionCartesian", udf((a: TMulti, b: TMulti) =>
      fromMp(PolygonClip.clip(mp(a), mp(b), PolygonClip.Intersection))))
    r.udf("polygonsUnionCartesian", udf((a: TMulti, b: TMulti) =>
      fromMp(PolygonClip.clip(mp(a), mp(b), PolygonClip.Union))))
    r.udf("polygonsSymDifferenceCartesian", udf((a: TMulti, b: TMulti) =>
      fromMp(PolygonClip.clip(mp(a), mp(b), PolygonClip.Xor))))

    // spatial-join kernels: exact containment + integer-grid bucketing
    // (points and polygons hash to the same cell ids, so a huge
    // point-in-polygon join becomes an equi-join on cell + exact verify —
    // the 100 TB reverse-geocode shape; see operators/SpatialJoin)
    r.udf("pointInMultiPolygon", udf((x: Double, y: Double, m: TMulti) =>
      pointInMulti((x, y), toMp(m))))
    r.udf("polygonCoveringCells", udf((m: TMulti, cell: Double) =>
      coveringCells(toMp(m), cell)))
    r.udf("pointCell", udf((x: Double, y: Double, cell: Double) =>
      cellId(math.floor(x / cell).toLong, math.floor(y / cell).toLong)))

    r.udf("polygonAreaSpherical", udf((m: TMulti) =>
      if (m == null || m.isEmpty) null.asInstanceOf[java.lang.Double]
      else java.lang.Double.valueOf(areaSpherical(mp(m)))))
    r.udf("polygonPerimeterSpherical", udf((m: TMulti) =>
      if (m == null || m.isEmpty) null.asInstanceOf[java.lang.Double]
      else java.lang.Double.valueOf(perimeterSpherical(mp(m)))))
    r.udf("polygonsDistanceSpherical", udf((a: TMulti, b: TMulti) =>
      distanceSpherical(mp(a), mp(b))))
    r.udf("polygonsWithinSpherical", udf((a: TMulti, b: TMulti) =>
      withinSpherical(mp(a), mp(b))))
    r.udf("polygonsIntersectionSpherical", udf((a: TMulti, b: TMulti) =>
      fromMp(clipSpherical(mp(a), mp(b), PolygonClip.Intersection))))
    r.udf("polygonsUnionSpherical", udf((a: TMulti, b: TMulti) =>
      fromMp(clipSpherical(mp(a), mp(b), PolygonClip.Union))))
    r.udf("polygonsSymDifferenceSpherical", udf((a: TMulti, b: TMulti) =>
      fromMp(clipSpherical(mp(a), mp(b), PolygonClip.Xor))))
  }
}
