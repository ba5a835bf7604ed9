package graft.features

import org.apache.spark.sql.{DataFrame, Dataset}

/** The slim per-ROI feature contract of the reference pipeline
  * (`ifcb-features/extract_slim_features.py:16-47`,
  * `ifcb_features/all.py:494-539`): blob geometry + Moberg-Sosik
  * biovolume for the largest blob, counts and sums over all blobs.
  *
  * Scale shape: [[extract]] runs the kernel as a `mapPartitions` over a
  * binary image column — pure per-row CPU work with no shuffle, so it
  * parallelizes linearly with input splits at 100 TB. The kernel itself
  * (segmentation → labeling → geometry → biovolume) is the executor-side
  * scalar path.
  */
object Features {

  /** The 30 slim feature columns, reference order. */
  final case class FeatureRow(
      roi_id: Long,
      Area: Double, Biovolume: Double,
      BoundingBox_xwidth: Double, BoundingBox_ywidth: Double,
      ConvexArea: Double, ConvexPerimeter: Double,
      Eccentricity: Double, EquivDiameter: Double, Extent: Double,
      MajorAxisLength: Double, MinorAxisLength: Double, Orientation: Double,
      Perimeter: Double, RepresentativeWidth: Double, Solidity: Double,
      SurfaceArea: Double, maxFeretDiameter: Double, minFeretDiameter: Double,
      numBlobs: Double,
      summedArea: Double, summedBiovolume: Double, summedConvexArea: Double,
      summedConvexPerimeter: Double, summedMajorAxisLength: Double,
      summedMinorAxisLength: Double, summedPerimeter: Double,
      summedSurfaceArea: Double,
      Area_over_PerimeterSquared: Double, Area_over_Perimeter: Double,
      summedConvexPerimeter_over_Perimeter: Double)

  /** Per-blob features (all.py BlobFeatures, slim subset). */
  final case class Blob(
      area: Double, biovolume: Double, bboxX: Double, bboxY: Double,
      convexArea: Double, convexPerimeter: Double, eccentricity: Double,
      equivDiameter: Double, extent: Double, majorAxis: Double,
      minorAxis: Double, orientation: Double, perimeter: Double,
      repWidth: Double, solidity: Double, surfaceArea: Double,
      maxFeret: Double, minFeret: Double)

  /** Finds blobs in a mask: 8-connected components sorted by
    * (-area, bbox col start, bbox row start) (blobs.py:13-30), cropped to
    * their bounding boxes.
    */
  def findBlobs(mask: Mask): Seq[Mask] = {
    val (lab, n) = Raster.label(mask, conn8 = true)
    val h = mask.h; val w = mask.w
    // ONE pass accumulates every label's area + bbox extrema — the
    // per-label full-image rescans were O(numBlobs·h·w) on the per-row
    // extraction hot path (round-11 review); crops then touch only
    // their own bbox regions
    val area = new Array[Int](n + 1)
    val ry0 = Array.fill(n + 1)(h); val ry1 = Array.fill(n + 1)(-1)
    val rx0 = Array.fill(n + 1)(w); val rx1 = Array.fill(n + 1)(-1)
    var p = 0
    while (p < lab.length) {
      val k = lab(p)
      if (k > 0) {
        area(k) += 1
        val y = p / w; val x = p % w
        if (y < ry0(k)) ry0(k) = y
        if (y > ry1(k)) ry1(k) = y
        if (x < rx0(k)) rx0(k) = x
        if (x > rx1(k)) rx1(k) = x
      }
      p += 1
    }
    (1 to n).map { k =>
      val y0 = ry0(k); val x0 = rx0(k)
      val bh = ry1(k) - y0 + 1; val bw = rx1(k) - x0 + 1
      val cropped = Mask.empty(bh, bw)
      for (i <- 0 until bh; j <- 0 until bw)
        cropped.set(i, j, lab((y0 + i) * w + (x0 + j)) == k)
      (area(k), x0, y0, cropped)
    }.sortBy { case (a, x0, y0, _) => (-a, x0, y0) }
      .map(_._4)
  }

  /** All slim features of one cropped blob (all.py:25-316). */
  /** Lazily-computed expensive intermediates of ONE blob mask, shared
    * between the slim kernel ([[blobFeatures]]) and the extended kernel
    * ([[ExtendedFeatures.compute]]) on the extractFull hot path
    * (round-12 review): perimeter image + points, the full-mask
    * orientation moment pass, and the center+rotate — each O(h·w) —
    * previously ran twice per row for the head blob. Lazy so the SOR
    * branch's rotate is still skipped when neither kernel needs it.
    * Consumers use the shared values ONLY when the instance wraps the
    * same mask (`blob eq`), so semantics never change for other blobs.
    */
  final class BlobShared(val blob: Mask) {
    lazy val perimImage: Mask = Raster.perimeter(blob)
    lazy val perimPts: Array[(Int, Int)] = Raster.truePoints(perimImage)
    lazy val orientation: Double = BlobGeometry.orientation(blob)
    lazy val rotated: Mask = BlobGeometry.rotateBlob(blob, orientation)
  }

  def blobFeatures(blob: Mask, shared: Option[BlobShared] = None,
      singleComponent: Boolean = false): Blob = {
    val sh = shared.filter(_.blob eq blob)
    // largest 8-connected region (MATLAB blob_geomprop parity). The
    // kernel path's blobs come from findBlobs — single components,
    // already tight-cropped to their bbox — so `singleComponent` skips
    // a full re-labeling + counts + label-compare crop per blob per
    // row (round-13 review; the last redundant labeling pass after
    // rounds 11/12 removed the others): the largest region IS the
    // blob, by the caller's stated contract. Arbitrary multi-component
    // masks keep the labeling path.
    val (area, region) =
      if (singleComponent) {
        (blob.count.toDouble, blob)
      } else {
        val (lab, n) = Raster.label(blob, conn8 = true)
        // an all-false mask has NO region: without this gate the bbox
        // scan below built a spurious mask from negative extents and
        // died with a raw AIOOBE (round-14 review) — public API, loud
        // contract
        require(n >= 1, "blobFeatures: mask has no set pixels")
        val counts = new Array[Int](n + 1)
        lab.foreach(counts(_) += 1)
        counts(0) = 0
        var largest = 1
        for (k <- 2 to n) if (counts(k) > counts(largest)) largest = k
        // tight crop of the largest region for the distmap algorithm
        var y0 = blob.h; var y1 = -1; var x0 = blob.w; var x1 = -1
        for (i <- 0 until blob.h; j <- 0 until blob.w) if (lab(i * blob.w + j) == largest) {
          if (i < y0) y0 = i
          if (i > y1) y1 = i
          if (j < x0) x0 = j
          if (j > x1) x1 = j
        }
        val r = Mask.empty(y1 - y0 + 1, x1 - x0 + 1)
        for (i <- 0 until r.h; j <- 0 until r.w)
          r.set(i, j, lab((y0 + i) * blob.w + (x0 + j)) == largest)
        (counts(largest).toDouble, r)
      }

    val equivDiameter = math.sqrt(4.0 * area / math.Pi)
    val extent = area / (region.h * region.w).toDouble
    val perimImage = sh.map(_.perimImage).getOrElse(Raster.perimeter(blob))
    val perimeter = BlobGeometry.benkridPerimeter(perimImage)
    val perimPts = sh.map(_.perimPts).getOrElse(Raster.truePoints(perimImage))
    val hullOpt = BlobGeometry.convexHull(perimPts)
    val (convexPerimeter, convexArea) = hullOpt match {
      case Some(hull) => BlobGeometry.hullProperties(hull)
      case None       => (perimeter, area) // degenerate-hull fallback (all.py:93-96)
    }
    val (minFeret, maxFeret) = hullOpt match {
      case Some(hull) => BlobGeometry.feretDiameters(hull)
      case None =>
        // degenerate (collinear) perimeter: the reference falls back to
        // the raw points (all.py:84-88) — rotating projections still work
        BlobGeometry.feretDiameters(perimPts.map(p => (p._1.toDouble, p._2.toDouble)))
    }
    val (majA, minA, ecc) = BlobGeometry.ellipseProperties(blob)
    val orient = sh.map(_.orientation).getOrElse(BlobGeometry.orientation(blob))
    // shape rule (all.py:225-233): near-convex or round-ish blobs take the
    // solid-of-revolution path, everything else the distance map
    val areaRatio = convexArea / area
    val p = equivDiameter / majA
    val volSa =
      if (areaRatio < 1.2 || (ecc < 0.8 && p > 0.8))
        VolumeKernel.sor(sh.map(_.rotated)
          .getOrElse(BlobGeometry.rotateBlob(blob, orient)))
      else
        VolumeKernel.distmap(region)
    Blob(
      area = area, biovolume = volSa.volume,
      bboxX = blob.w.toDouble, bboxY = blob.h.toDouble,
      convexArea = convexArea, convexPerimeter = convexPerimeter,
      eccentricity = ecc, equivDiameter = equivDiameter, extent = extent,
      majorAxis = majA, minorAxis = minA, orientation = orient,
      perimeter = perimeter, repWidth = volSa.rep, solidity = area / convexArea,
      surfaceArea = volSa.surfaceArea, maxFeret = maxFeret, minFeret = minFeret)
  }

  /** `compute_features` (all.py:494-539): headline features from the
    * largest blob, counts/sums over all blobs, zero→NaN ratios.
    */
  def compute(roiId: Long, mask: Mask): FeatureRow =
    computeFromBlobs(roiId, findBlobs(mask))

  /** [[compute]] over an already-labeled blob list — the extractFull
    * path labels ONCE and shares the blobs with the extended kernel
    * (round-12 review: the previous shape re-ran the full
    * connected-component labeling + crops inside ExtendedFeatures for
    * the same mask, on the per-row hot path).
    */
  def computeFromBlobs(roiId: Long, rawBlobs: Seq[Mask],
      headShared: Option[BlobShared] = None): FeatureRow = {
    val blobs = rawBlobs.zipWithIndex.map { case (b, i) =>
      // this entry point's contract IS findBlobs output ("an
      // already-labeled blob list"): single components, tight-cropped
      blobFeatures(b, if (i == 0) headShared else None,
        singleComponent = true)
    }
    def nan0(v: Double): Double = if (v == 0.0) Double.NaN else v
    if (blobs.isEmpty) {
      FeatureRow(roiId, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0,
        0, 0, 0, 0, 0, 0, 0, 0, 0, Double.NaN, Double.NaN, Double.NaN)
    } else {
      val b = blobs.maxBy(_.area) // sorted desc already; maxBy keeps first
      val sumPerim = blobs.map(_.perimeter).sum
      val sumConvexPerim = blobs.map(_.convexPerimeter).sum
      FeatureRow(
        roiId,
        Area = b.area, Biovolume = b.biovolume,
        BoundingBox_xwidth = b.bboxX, BoundingBox_ywidth = b.bboxY,
        ConvexArea = b.convexArea, ConvexPerimeter = b.convexPerimeter,
        Eccentricity = b.eccentricity, EquivDiameter = b.equivDiameter,
        Extent = b.extent, MajorAxisLength = b.majorAxis,
        MinorAxisLength = b.minorAxis, Orientation = b.orientation,
        Perimeter = b.perimeter, RepresentativeWidth = b.repWidth,
        Solidity = b.solidity, SurfaceArea = b.surfaceArea,
        maxFeretDiameter = b.maxFeret, minFeretDiameter = b.minFeret,
        numBlobs = blobs.size.toDouble,
        summedArea = blobs.map(_.area).sum,
        summedBiovolume = blobs.map(_.biovolume).sum,
        summedConvexArea = blobs.map(_.convexArea).sum,
        summedConvexPerimeter = sumConvexPerim,
        summedMajorAxisLength = blobs.map(_.majorAxis).sum,
        summedMinorAxisLength = blobs.map(_.minorAxis).sum,
        summedPerimeter = sumPerim,
        summedSurfaceArea = blobs.map(_.surfaceArea).sum,
        Area_over_PerimeterSquared = nan0(b.area / (b.perimeter * b.perimeter)),
        Area_over_Perimeter = nan0(b.area / b.perimeter),
        summedConvexPerimeter_over_Perimeter = nan0(sumConvexPerim / sumPerim))
    }
  }

  /** Segment + extract in one step (raw grayscale ROI → features). */
  def computeFromRoi(roiId: Long, roi: Segmentation.Gray): FeatureRow =
    compute(roiId, Segmentation.segmentRoi(roi))

  /** Distributed extraction over a binary image column:
    * (roi_id, image bytes, height, width) rows → [[FeatureRow]]s. Images
    * are row-major 8-bit grayscale — the layout [[graft.sources.RoiSource]]
    * produces. One task per input split, no shuffle; the kernel never
    * leaves the executor.
    */
  def extract(images: Dataset[(Long, Array[Byte], Int, Int)]): DataFrame = {
    val spark = images.sparkSession
    import spark.implicits._
    images.mapPartitions { it =>
      it.map { case (id, bytes, h, w) =>
        computeFromRoi(id,
          Segmentation.Gray(h, w, graft.multimodal.Media.grayPixels(bytes, w, h)))
      }
    }.toDF()
  }

  /** Like [[extract]] but also computing the extended feature tail
    * ([[ExtendedFeatures]]: perimeter stats, symmetry, rotated box,
    * invariant moments, texture, HOG) — the full EcoTaxa population.
    * Same mapPartitions shape; ~3x the per-row CPU of the slim path.
    */
  def extractFull(images: Dataset[(Long, Array[Byte], Int, Int)]): DataFrame = {
    val spark = images.sparkSession
    import spark.implicits._
    val rows = images.mapPartitions { it =>
      it.map { case (id, bytes, h, w) =>
        val roi = Segmentation.Gray(h, w,
          graft.multimodal.Media.grayPixels(bytes, w, h))
        val mask = Segmentation.segmentRoi(roi)
        // label ONCE and share: slim + extended both need the blob
        // list, and the largest blob rides into the extended kernel
        // directly (round-11 removed a labeling pass for the guard;
        // round-12 removed ExtendedFeatures' own re-labeling too)
        val rawBlobs = findBlobs(mask)
        // ONE BlobShared for the head blob: slim + extended both need
        // its perimeter/orientation/rotation intermediates (round-12
        // review — previously each kernel recomputed them)
        val headShared = rawBlobs.headOption.map(new BlobShared(_))
        val slim = computeFromBlobs(id, rawBlobs, headShared)
        val ext =
          if (rawBlobs.isEmpty) Map.empty[String, Double]
          else ExtendedFeatures.compute(mask, roi, rawBlobs.head, headShared)
        (slim, ext)
      }
    }
    import org.apache.spark.sql.functions.{col, element_at}
    val base = rows.toDF("slim", "ext")
    base.select(
      (base.schema("slim").dataType.asInstanceOf[org.apache.spark.sql.types.StructType]
        .fieldNames.map(f => col(s"slim.$f").as(f)) ++
        ExtendedFeatures.keys.map(k => element_at(col("ext"), k).as(k))): _*)
  }
}
