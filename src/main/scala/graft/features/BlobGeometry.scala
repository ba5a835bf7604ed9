package graft.features

/** Blob shape descriptors mirroring the reference kernel
  * (`ifcb-features/ifcb_features/blob_geometry.py`, `perimeter.py:24-38`,
  * `blobs.py:32-149`): convex-hull properties with the half-pixel
  * rasterization adjustment, Feret diameters, moment-based ellipse fit
  * and orientation, the Benkrid perimeter estimator, and the
  * MATLAB-compatible centered nearest-neighbor rotation the
  * solid-of-revolution biovolume path requires.
  */
object BlobGeometry {

  /** Convex hull of (y, x) points: monotone chain over lexicographically
    * sorted unique points, vertices in counterclockwise order (matching
    * scipy's 2D `ConvexHull.vertices` as used at blob_geometry.py:145-148).
    * Returns None for < 3 unique or collinear points (the QhullError /
    * rank-deficient fallback at all.py:84-96).
    */
  def convexHull(pts: Array[(Int, Int)]): Option[Array[(Double, Double)]] = {
    val uniq = pts.distinct.sortBy(p => (p._1, p._2))
    if (uniq.length < 3) return None
    def cross(o: (Int, Int), a: (Int, Int), b: (Int, Int)): Long =
      (a._1 - o._1).toLong * (b._2 - o._2) - (a._2 - o._2).toLong * (b._1 - o._1)
    val lower = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
    for (p <- uniq) {
      while (lower.length >= 2 && cross(lower(lower.length - 2), lower.last, p) <= 0)
        lower.remove(lower.length - 1)
      lower += p
    }
    val upper = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
    for (p <- uniq.reverse) {
      while (upper.length >= 2 && cross(upper(upper.length - 2), upper.last, p) <= 0)
        upper.remove(upper.length - 1)
      upper += p
    }
    val verts = (lower.dropRight(1) ++ upper.dropRight(1)).toArray
    if (verts.length < 3) None
    else Some(verts.map(p => (p._1.toDouble, p._2.toDouble)))
  }

  /** Perimeter and area of the hull polygon (blob_geometry.py:150-171):
    * edge lengths summed; area by Heron fans from the vertex centroid,
    * plus perimeter/2 as the half-pixel rasterization adjustment.
    */
  def hullProperties(hull: Array[(Double, Double)]): (Double, Double) = {
    val n = hull.length
    def roll(i: Int): Int = (i - 1 + n) % n
    val c = Array.tabulate(n) { i =>
      val (ay, ax) = hull(i); val (by, bx) = hull(roll(i))
      math.sqrt((ay - by) * (ay - by) + (ax - bx) * (ax - bx))
    }
    val perimeter = c.sum
    val cy = hull.map(_._1).sum / n
    val cx = hull.map(_._2).sum / n
    val a = Array.tabulate(n) { i =>
      val (y, x) = hull(i)
      math.sqrt((y - cy) * (y - cy) + (x - cx) * (x - cx))
    }
    var area = 0.0
    var i = 0
    while (i < n) {
      val ai = a(i); val bi = a(roll(i)); val ci = c(i)
      val s = (ai + bi + ci) / 2
      area += math.sqrt(s * (s - ai) * (s - bi) * (s - ci))
      i += 1
    }
    (perimeter, area + perimeter / 2)
  }

  /** Min/max rotating-projection Feret diameters over 360 one-degree
    * angles with the |cos|+|sin| pixel-width adjustment
    * (blob_geometry.py:197-208).
    */
  def feretDiameters(hull: Array[(Double, Double)]): (Double, Double) = {
    var mn = Double.MaxValue; var mx = Double.MinValue
    var k = 0
    while (k < 360) {
      // linspace(0,-359,360) = 0, -1, ..., -359 degrees
      val theta = -k.toDouble * (math.Pi / 180.0)
      val ct = math.cos(theta); val st = math.sin(theta)
      var lo = Double.MaxValue; var hi = Double.MinValue
      var i = 0
      while (i < hull.length) {
        val v = hull(i)._2 * ct - hull(i)._1 * st
        if (v < lo) lo = v
        if (v > hi) hi = v
        i += 1
      }
      val d = hi - lo + math.abs(ct) + math.abs(st)
      if (d < mn) mn = d
      if (d > mx) mx = d
      k += 1
    }
    (mn, mx)
  }

  /** Major/minor axis lengths and first eccentricity from the
    * eigendecomposition of the pixel-coordinate covariance (sample
    * covariance, N-1), blob_geometry.py:22-44: axes are 4·sqrt(eigenvalue).
    */
  def ellipseProperties(m: Mask): (Double, Double, Double) = {
    var n = 0; var sy = 0.0; var sx = 0.0
    for (i <- 0 until m.h; j <- 0 until m.w) if (m(i, j)) { n += 1; sy += i; sx += j }
    val my = sy / n; val mx = sx / n
    var cyy = 0.0; var cxx = 0.0; var cyx = 0.0
    for (i <- 0 until m.h; j <- 0 until m.w) if (m(i, j)) {
      val dy = i - my; val dx = j - mx
      cyy += dy * dy; cxx += dx * dx; cyx += dy * dx
    }
    val d = (n - 1).toDouble
    val a = cyy / d; val b = cyx / d; val c = cxx / d
    val mid = (a + c) / 2
    val disc = math.sqrt(((a - c) / 2) * ((a - c) / 2) + b * b)
    val l1 = 4 * math.sqrt(mid + disc)
    val l2 = 4 * math.sqrt(math.max(mid - disc, 0.0))
    val maj = math.max(l1, l2); val min_ = math.min(l1, l2)
    val ecc = math.sqrt(1 - (min_ / maj) * (min_ / maj))
    (maj, min_, ecc)
  }

  /** Deterministic image-moment orientation in degrees
    * (`explicit_orientation`, blob_geometry.py:47-86): central second
    * moments over 1-based (x, y), theta = -0.5·atan2(2µ11, µ20-µ02)
    * wrapped to (-90, 90].
    */
  def orientation(m: Mask): Double = {
    var m00 = 0.0; var m10 = 0.0; var m01 = 0.0
    for (i <- 0 until m.h; j <- 0 until m.w) if (m(i, j)) {
      m00 += 1.0; m10 += (j + 1).toDouble; m01 += (i + 1).toDouble
    }
    if (m00 == 0) return 0.0
    val xbar = m10 / m00; val ybar = m01 / m00
    var mu20 = 0.0; var mu02 = 0.0; var mu11 = 0.0
    for (i <- 0 until m.h; j <- 0 until m.w) if (m(i, j)) {
      val dx = (j + 1) - xbar; val dy = (i + 1) - ybar
      mu20 += dx * dx; mu02 += dy * dy; mu11 += dx * dy
    }
    var theta = -0.5 * math.toDegrees(math.atan2(2.0 * mu11, mu20 - mu02))
    while (theta > 90.0) theta -= 180.0
    while (theta <= -90.0) theta += 180.0
    theta
  }

  /** Benkrid perimeter estimator (perimeter.py:24-38): each border pixel's
    * 3x3 neighborhood is coded by a {1,2,10} kernel and mapped through a
    * sparse weight table (straight steps 1, diagonal sqrt(2), knight
    * (1+sqrt(2))/2).
    */
  def benkridPerimeter(border: Mask): Double = {
    val s2 = math.sqrt(2.0)
    val weights = new Array[Double](50)
    for (k <- Seq(5, 7, 15, 17, 25, 27)) weights(k) = 1.0
    for (k <- Seq(21, 33)) weights(k) = s2
    for (k <- Seq(13, 23)) weights(k) = (1 + s2) / 2
    val kernel = Array(Array(10, 2, 10), Array(2, 1, 2), Array(10, 2, 10))
    var sum = 0.0
    for (i <- 0 until border.h; j <- 0 until border.w) {
      var code = 0.0
      for (di <- -1 to 1; dj <- -1 to 1) {
        val y = i + di; val x = j + dj
        if (y >= 0 && y < border.h && x >= 0 && x < border.w && border(y, x))
          code += kernel(1 + di)(1 + dj)
      }
      val c = math.min(math.max(math.rint(code).toInt, 0), 49)
      sum += weights(c)
    }
    sum
  }

  /** Centers the blob on its centroid in a square canvas (`center_blob`,
    * blobs.py:32-60): canvas side from the float centroid, placement from
    * the integer-exact offsets.
    */
  def centerBlob(m: Mask): Mask = {
    var n = 0; var sumY = 0L; var sumX = 0L
    for (i <- 0 until m.h; j <- 0 until m.w) if (m(i, j)) { n += 1; sumY += i; sumX += j }
    if (n == 0) return m.copyMask
    val yc = sumY.toDouble / n; val xc = sumX.toDouble / n
    val s = math.max(math.max(yc, m.h - yc), math.max(xc, m.w - xc))
    val side = math.ceil(s * 2).toInt
    val sN = Seq(sumY, m.h.toLong * n - sumY, sumX, m.w.toLong * n - sumX).max
    val y0 = ((sN - sumY) / n).toInt
    val x0 = ((sN - sumX) / n).toInt
    val out = Mask.empty(side, side)
    for (i <- 0 until m.h; j <- 0 until m.w)
      if (m(i, j) && y0 + i < side && x0 + j < side) out.set(y0 + i, x0 + j, true)
    out
  }

  /** MATLAB-compatible `imrotate(img, theta, 'nearest', 'crop')`
    * (blobs.py:70-134): center-preserving world coordinates with the
    * two-ULP half-pixel nudge, inverse-mapped with ties-away-from-zero
    * rounding.
    */
  def imrotateNearestCrop(m: Mask, thetaDeg: Double): Mask = {
    val h = m.h; val w = m.w
    val ang = math.toRadians(-thetaDeg)
    val cosA = math.cos(ang); val sinA = math.sin(ang)
    val xLim = (0.5, w + 0.5); val yLim = (0.5, h + 0.5)
    val corners = Array((xLim._1, yLim._1), (xLim._1, yLim._2), (xLim._2, yLim._1), (xLim._2, yLim._2))
    val xo = corners.map { case (x, y) => x * cosA + y * sinA }
    val yo = corners.map { case (x, y) => -x * sinA + y * cosA }
    val xTrans = (xo.min + xo.max) / 2.0 - (xLim._1 + xLim._2) / 2.0
    val yTrans = (yo.min + yo.max) / 2.0 - (yLim._1 + yLim._2) / 2.0
    var xWorldMin = xLim._1 + xTrans
    var yWorldMin = yLim._1 + yTrans
    xWorldMin = Math.nextAfter(Math.nextAfter(xWorldMin, Double.NegativeInfinity), Double.NegativeInfinity)
    yWorldMin = Math.nextAfter(Math.nextAfter(yWorldMin, Double.NegativeInfinity), Double.NegativeInfinity)
    val out = Mask.empty(h, w)
    var i = 0
    while (i < h) {
      var j = 0
      while (j < w) {
        val xw = xWorldMin + (j + 1.0 - 0.5)
        val yw = yWorldMin + (i + 1.0 - 0.5)
        val xi = xw * cosA - yw * sinA
        val yi = xw * sinA + yw * cosA
        val xIdx = (math.signum(xi) * math.floor(math.abs(xi) + 0.5)).toLong
        val yIdx = (math.signum(yi) * math.floor(math.abs(yi) + 0.5)).toLong
        if (xIdx >= 1 && xIdx <= w && yIdx >= 1 && yIdx <= h)
          out.set(i, j, m(yIdx.toInt - 1, xIdx.toInt - 1))
        j += 1
      }
      i += 1
    }
    out
  }

  /** Rotate blob counterclockwise after centering (`rotate_blob`). */
  def rotateBlob(m: Mask, thetaDeg: Double): Mask =
    imrotateNearestCrop(centerBlob(m), thetaDeg)
}
