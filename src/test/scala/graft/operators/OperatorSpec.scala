package graft.operators

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.core._
import graft.corpus.Synth

/** Distributed-operator parity vs the RefKernel oracle: exact join row
  * counts + tile/cell assignments (the BASELINE.md correctness gate). */
class OperatorSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  val res = 6

  /** Burned pixels of the sequential oracle burn on Synth.demRef. */
  private def oracleBurn(features: Seq[Feature]): Map[(Int, Int), Double] = {
    val oracle = RefKernel.rasterize(Synth.demRef, features, useAttr = true)
    (for {
      r <- 0 until Synth.demRef.nrows
      c <- 0 until Synth.demRef.ncols
      v = oracle(r, c) if !v.isNaN
    } yield (r, c) -> v).toMap
  }

  // 50 DISTINCT features (distinct burn values -> no exact-dup collapse)
  // piled onto one cell: the skew the north rule calls out
  private val hot = (0 until 50).map { i =>
    val cx = Synth.demRef.left + 20.0 + i * 0.01
    val cy = Synth.demRef.top - 20.0 - i * 0.01
    Feature(i.toLong, "polygon",
      Array(cx, cx + 5.0, cx + 5.0, cx, cx),
      Array(cy - 5.0, cy - 5.0, cy, cy, cy - 5.0),
      attr = i.toDouble, seq = i)
  }

  test("rasterize burn matches oracle exactly (cells, values, counts)") {
    import graft.core.{Fixtures => F}
    val got = Rasterize(spark, Synth.ca1Features, Synth.demRef, res, useAttr = true)
      .collect().map(p => (p.row, p.col) -> p.v).toMap
    val want = oracleBurn(Synth.ca1Features)
    assert(got.size == want.size, s"burned-cell count ${got.size} != ${want.size}")
    assert(got == want)
    assert(F.demRef == Synth.demRef) // fixtures stay in sync
  }

  test("rasterize index burn (attribute=None path, Raster.py:316-330)") {
    val got = Rasterize(spark, Synth.ca1Features, Synth.demRef, res, useAttr = false)
      .collect()
    assert(got.map(_.v).distinct.sorted.sameElements(Array(0.0, 1.0, 2.0, 3.0)))
  }

  test("mosaic matches RefKernel.combine exactly incl. NaN precedence") {
    import graft.core.{Fixtures => F}
    val a = TileOps.tileGrid(spark, Synth.gridARef, res)(Synth.gridAValue)
    val b = TileOps.tileGrid(spark, Synth.gridBRef, res)(Synth.gridBValue)
    val patches = TileOps.alignedPatches(a, Synth.gridARef, Synth.mosaicRef,
        res, seq = 0, coverAll = true)
      .union(TileOps.alignedPatches(b, Synth.gridBRef, Synth.mosaicRef,
        res, seq = 1, coverAll = true))
    val got = TileOps.cells(TileOps.mosaic(patches)).collect()
      .map(r => (r.getInt(0), r.getInt(1)) ->
        (if (r.isNullAt(2)) Double.NaN else r.getDouble(2)))
      .filterNot(_._2.isNaN).toMap
    val oracle = RefKernel.combine(Seq(F.gridA, F.gridB))
    assert(oracle.ref == Synth.mosaicRef)
    val want = (for {
      r <- 0 until oracle.ref.nrows
      c <- 0 until oracle.ref.ncols
      v = oracle(r, c) if !v.isNaN
    } yield (r, c) -> v).toMap
    assert(got.size == want.size)
    assert(got == want)
  }

  test("mosaic ignore-NaN mode keeps base under NaN source (Raster.py:546-549)") {
    // base = gridA re-gridded to itself (seq 0), overlay = gridB (seq 1,
    // coverAll=false): gridB's NaN holes must NOT erase gridA values.
    val a = TileOps.tileGrid(spark, Synth.gridARef, res)(Synth.gridAValue)
    val b = TileOps.tileGrid(spark, Synth.gridBRef, res)(Synth.gridBValue)
    val target = Synth.gridARef
    val patches = TileOps.asPatches(a, 0)
      .union(TileOps.alignedPatches(b, Synth.gridBRef, target, res,
        seq = 1, coverAll = false))
    val got = TileOps.cells(TileOps.mosaic(patches)).collect()
      .map(r => (r.getInt(0), r.getInt(1)) ->
        (if (r.isNullAt(2)) Double.NaN else r.getDouble(2))).toMap
    import graft.core.{Fixtures => F}
    val want = RefKernel.merge(F.gridA, F.gridB)
    for (r <- 0 until target.nrows; c <- 0 until target.ncols) {
      val w = want(r, c)
      val g = got((r, c))
      assert(g == w || (g.isNaN && w.isNaN), s"($r,$c): got $g want $w")
    }
  }

  test("rect_clip matches oracle window and values") {
    import graft.core.{Fixtures => F}
    val dem = TileOps.tileGrid(spark, Synth.demRef, res)(Synth.demValue)
    val (clipped, (r0, r1, c0, c1)) =
      TileOps.rectClip(dem, Synth.demRef, Synth.tutorialClip, res)
    val got = TileOps.cells(clipped).collect()
      .map(r => (r.getInt(0), r.getInt(1)) ->
        (if (r.isNullAt(2)) Double.NaN else r.getDouble(2))).toMap
    val oracle = RefKernel.rectClip(F.demGrid, Synth.tutorialClip)
    assert(oracle.ref == Synth.demRef.windowRef(r0, r1, c0, c1))
    assert(got.size == oracle.ref.numCells)
    for (r <- 0 until oracle.ref.nrows; c <- 0 until oracle.ref.ncols) {
      val w = oracle(r, c)
      val g = got((r + r0, c + c0))
      assert(g == w || (g.isNaN && w.isNaN))
    }
  }

  test("grid stats match oracle (NaN-ignoring, Raster.py:844-854)") {
    import graft.core.{Fixtures => F}
    val dem = TileOps.tileGrid(spark, Synth.demRef, res)(Synth.demValue)
    val row = TileOps.stats(dem).collect()(0)
    val (mx, mn, med, n) = RefKernel.stats(F.demGrid)
    assert(row.getDouble(0) == mx)
    assert(row.getDouble(1) == mn)
    assert(row.getDouble(2) == med)
    assert(row.getLong(3) == n)
  }

  test("salted burn == plain burn (hot-cell skew split preserves last-wins)") {
    // every salt reproduces the oracle's sequential burn, on the CA1
    // fixture and on 50 overlapping features piled onto one cell
    for (fixture <- Seq(Synth.ca1Features, hot)) {
      val want = oracleBurn(fixture)
      assert(want.nonEmpty)
      for (salt <- Seq(1, 2, 4, 7)) {
        val got = Rasterize.burn(
          Rasterize.cover(spark, fixture, Synth.demRef, res, useAttr = true),
          Synth.demRef, salt)
          .collect().map(p => (p.row, p.col) -> p.v).toMap
        assert(got == want, s"salt=$salt")
      }
    }
  }

  test("skewed cover auto-selects the salted path; result == plain burn") {
    val ref = Synth.demRef
    assert(Rasterize.autoSalt(hot, ref, res, useAttr = true) > 1, "salted path not chosen")
    // homogeneous covers stay on the plain path
    assert(Rasterize.autoSalt(Synth.ca1Features, ref, res, useAttr = true) == 1)
    val auto = Rasterize(spark, hot, ref, res, useAttr = true)
      .collect().map(p => (p.row, p.col) -> p.v).toMap
    val plain = Rasterize.burn(
      Rasterize.cover(spark, hot, ref, res, useAttr = true), ref)
      .collect().map(p => (p.row, p.col) -> p.v).toMap
    assert(auto == plain)
    assert(auto.nonEmpty)

    // Dataset[Feature] ingestion path: the distributed skew agg must equal
    // the driver-computed statistic on both fixtures, and the end-to-end
    // result must match the driver-Seq path exactly
    import spark.implicits._
    for (fixture <- Seq(hot, Synth.ca1Features)) {
      val ds = spark.createDataset(fixture)
      val covDs = Rasterize.coverDs(ds, ref, res, useAttr = true)
      assert(Rasterize.autoSaltFromCover(covDs) ==
        Rasterize.autoSalt(fixture, ref, res, useAttr = true))
      val viaDs = Rasterize(ds, ref, res, useAttr = true)
        .collect().map(p => (p.row, p.col) -> p.v).toMap
      val viaSeq = Rasterize(spark, fixture, ref, res, useAttr = true)
        .collect().map(p => (p.row, p.col) -> p.v).toMap
      assert(viaDs == viaSeq)
    }
  }

  test("ClipPolygon with 1000 features == brute per-pixel mask (bbox prefilter is exact)") {
    val ref = Synth.demRef
    val cs = ref.cellsize
    def ring(cx: Double, cy: Double, a0: Double, radii: Seq[Double]): Feature = {
      val n = radii.length
      val xs = radii.indices.map(k => cx + radii(k) * math.cos(a0 + 2 * math.Pi * k / n))
      val ys = radii.indices.map(k => cy + radii(k) * math.sin(a0 + 2 * math.Pi * k / n))
      Feature(0L, "polygon", (xs :+ xs.head).toArray, (ys :+ ys.head).toArray, 1.0, 0)
    }
    // pixel-centre coordinates, so some edges and vertices sit exactly on
    // pixel centres
    def px(c: Int) = ref.left + (c + 0.5) * cs
    def py(r: Int) = ref.top - (r + 0.5) * cs
    val feats = (0 until 1000).map { i =>
      val f =
        if (i < 600) { // small axis-aligned boxes scattered over the grid
          val x0 = ref.left + ((i * 37) % 745) * 1.0 + 0.2
          val y0 = ref.bottom + ((i * 53) % 985) * 1.0 + 0.2
          Feature(0L, "polygon", Array(x0, x0 + 15.0, x0 + 15.0, x0, x0),
            Array(y0, y0, y0 + 15.0, y0 + 15.0, y0), 1.0, 0)
        } else if (i < 850) // rotated pentagons: slanted edges
          ring(ref.left + 20.3 + (i * 59) % 730, ref.bottom + 20.7 + (i * 71) % 970,
            i * 0.61, Seq.fill(5)(6.0 + (i % 5) * 3))
        else if (i < 950) // rotated five-point stars: concave, slanted
          ring(ref.left + 25.1 + (i * 43) % 720, ref.bottom + 25.9 + (i * 67) % 960,
            i * 0.29, Seq.tabulate(10)(k => if (k % 2 == 0) 24.0 else 9.0))
        else { // L shapes with every vertex on a pixel centre
          val (c0, r0) = ((i * 13) % 140, (i * 17) % 190)
          Feature(0L, "polygon",
            Array(px(c0), px(c0 + 8), px(c0 + 8), px(c0 + 3), px(c0 + 3), px(c0), px(c0)),
            Array(py(r0 + 8), py(r0 + 8), py(r0 + 5), py(r0 + 5), py(r0), py(r0), py(r0 + 8)),
            1.0, 0)
        }
      f.copy(featureId = i.toLong, seq = i)
    }
    val dem = TileOps.tileGrid(spark, ref, res)(Synth.demValue)
    val got = ClipPolygon(dem, ref, res, feats)
    val cells = TileOps.cells(got).collect()
      .map(r => (r.getInt(0), r.getInt(1)) ->
        (if (r.isNullAt(2)) Double.NaN else r.getDouble(2)))
      .filterNot(_._2.isNaN).toMap
    // brute oracle: PIP over ALL features at every pixel
    var checkedIn = 0
    var checkedOut = 0
    for (r <- 0 until ref.nrows; c <- 0 until ref.ncols) {
      val inside = feats.exists(f => RefKernel.pointInPolygon(px(c), py(r), f.xs, f.ys))
      val v = Synth.demValue(r, c)
      if (inside && !v.isNaN) { assert(cells.get((r, c)).contains(v), s"($r,$c)"); checkedIn += 1 }
      else { assert(!cells.contains((r, c)), s"($r,$c) should be masked"); checkedOut += 1 }
    }
    assert(checkedIn > 3000 && checkedOut > 10000, s"in=$checkedIn out=$checkedOut")
  }

  test("mosaic is deterministic under different partitioning (seam rule)") {
    val a = TileOps.tileGrid(spark, Synth.gridARef, res)(Synth.gridAValue)
    val b = TileOps.tileGrid(spark, Synth.gridBRef, res)(Synth.gridBValue)
    def run(parts: Int): Map[(Int, Int), Double] = {
      val patches = TileOps.alignedPatches(a, Synth.gridARef, Synth.mosaicRef,
          res, 0, coverAll = true)
        .union(TileOps.alignedPatches(b, Synth.gridBRef, Synth.mosaicRef,
          res, 1, coverAll = true))
        .repartition(parts)
      TileOps.cells(TileOps.mosaic(patches)).collect()
        .map(r => (r.getInt(0), r.getInt(1)) ->
          (if (r.isNullAt(2)) Double.NaN else r.getDouble(2)))
        .filterNot(_._2.isNaN).toMap
    }
    assert(run(1) == run(7))
  }

  test("tilesFromCells is the inverse of cells (NaN holes, partial tiles)") {
    import spark.implicits._
    import graft.core.GridRef
    // 37x29 grid: partial edge tiles at res 4 (16px); NaN holes planted
    val ref = GridRef(29, 37, 0.0, 0.0, 1.0, -9999.0, "")
    val dem = TileOps.tileGrid(spark, ref, 4)((r, c) =>
      if ((r * 29 + c) % 11 == 0) Double.NaN else (r * 31 + c * 17).toDouble)
    val back = TileOps.tilesFromCells(TileOps.cells(dem), ref, 4)
    def dump(t: graft.core.Tile) = (t.cellId, t.row0, t.col0, t.h, t.w,
      t.payload.map(v => if (v.isNaN) "nan" else v.toString).toSeq)
    val a = dem.collect().map(dump).sortBy(_._1).toSeq
    val b = back.collect().map(dump).sortBy(_._1).toSeq
    assert(a == b)
  }

  test("spatial autocorrelation: sufficient-stat assembly == brute Moran/Geary") {
    // pure-JVM check of the r59 algebra: the seven integer sufficient
    // statistics assemble (in BigDecimal) to EXACTLY the textbook
    // Moran's I and Geary's C computed brute-force with float means
    val h = 5; val w = 6
    def q(r: Int, c: Int): Option[Long] =
      if ((r * w + c) % 7 == 3) None else Some(((r * 31 + c * 17) % 50).toLong)
    val cells = for { r <- 0 until h; c <- 0 until w; v <- q(r, c) }
      yield (r, c, v)
    val byPos = cells.map { case (r, c, v) => ((r, c), v) }.toMap
    val prs = for {
      (r, c, v) <- cells
      (dr, dc) <- Seq((0, 1), (0, -1), (1, 0), (-1, 0))
      vn <- byPos.get((r + dr, c + dc))
    } yield (v, vn)
    // sufficient statistics (what r59 emits)
    val n = cells.size.toLong
    val sSum = cells.map(_._3).sum
    val q2 = cells.map(x => x._3 * x._3).sum
    val wPairs = prs.size.toLong
    val pairProd = prs.map { case (a1, b1) => a1 * b1 }.sum
    val degVal = prs.map(_._1).sum
    val degValSq = prs.map(x => x._1 * x._1).sum
    // assembly: A = n^2*P - 2nS*D + W*S^2 (= n^2 * sum z_i z_j over pairs)
    //           B = n*Q2 - S^2            (= n   * sum z_i^2)
    //           G = 2*DSQ - 2*P           (=      sum (q_i - q_j)^2)
    // Moran's I = A / (W*B); Geary's C = n*(n-1)*G / (2*W*B)
    val A = BigDecimal(n) * BigDecimal(n) * BigDecimal(pairProd) -
      BigDecimal(2) * BigDecimal(n) * BigDecimal(sSum) * BigDecimal(degVal) +
      BigDecimal(wPairs) * BigDecimal(sSum) * BigDecimal(sSum)
    val B = BigDecimal(n) * BigDecimal(q2) - BigDecimal(sSum) * BigDecimal(sSum)
    val G = BigDecimal(2 * degValSq - 2 * pairProd)
    val moran = (A / (BigDecimal(wPairs) * B)).toDouble
    val geary = (BigDecimal(n) * BigDecimal(n - 1) * G /
      (BigDecimal(2 * wPairs) * B)).toDouble
    // brute force with the float mean
    val mean = sSum.toDouble / n
    val bruteNum = prs.map { case (a1, b1) => (a1 - mean) * (b1 - mean) }.sum
    val bruteDen = cells.map(x => (x._3 - mean) * (x._3 - mean)).sum
    val bruteMoran = n * bruteNum / (wPairs * bruteDen)
    val bruteGeary = (n - 1) * prs.map { case (a1, b1) =>
      (a1 - b1).toDouble * (a1 - b1) }.sum / (2 * wPairs * bruteDen)
    assert(math.abs(moran - bruteMoran) < 1e-12, s"moran $moran vs $bruteMoran")
    assert(math.abs(geary - bruteGeary) < 1e-12, s"geary $geary vs $bruteGeary")
  }
}
