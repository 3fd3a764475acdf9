package graft.core

/** Single-threaded transliteration of the reference's kernel formulas
  * (mingxiaodong/hydro-raster) — the in-repo parity oracle (SURVEY.md §5).
  * Operates on a whole grid as one row-major Array[Double] (NaN = nodata).
  * Each method cites its reference source. The distributed engine must match
  * these outputs exactly (join row counts, tile/cell assignments, burned
  * masks); the oracle is deliberately simple and eager, like the reference.
  */
object RefKernel {

  final case class Grid(ref: GridRef, data: Array[Double]) {
    def apply(r: Int, c: Int): Double = data(r * ref.ncols + c)
    def update(r: Int, c: Int, v: Double): Unit = data(r * ref.ncols + c) = v
    def copyGrid: Grid = Grid(ref, data.clone())
  }

  /** Ray-casting even-odd point-in-polygon on a closed or open ring.
    * Matches the pixel-center-inside rule of the reference's rasterize
    * (GDAL all_touched=False, `Raster.py:330-333`); boundary behavior is the
    * standard crossing convention (lower-inclusive in y). The engine's
    * scanline kernel (`Rasterize.scanRow`) computes the same crossings
    * from the same formula, so engine and oracle share one boundary
    * convention. */
  def pointInPolygon(px: Double, py: Double, xs: Array[Double], ys: Array[Double]): Boolean = {
    var inside = false
    val n = xs.length
    var i = 0
    var j = n - 1
    while (i < n) {
      val yi = ys(i); val yj = ys(j)
      if ((yi > py) != (yj > py)) {
        val xCross = (xs(j) - xs(i)) * (py - yi) / (yj - yi) + xs(i)
        if (px < xCross) inside = !inside
      }
      j = i
      i += 1
    }
    inside
  }

  /** Rasterize: burn polygon features into a fresh all-NaN grid, pixel
    * burned iff its CENTER is inside the polygon; features burned
    * sequentially so a LATER feature overwrites an earlier one on overlap;
    * burn value = feature index when attr is NaN-for-all (reference
    * `attribute=None` burns the index, `Raster.py:316-330`) else the
    * feature's attribute. Reference `Raster.rasterize` (Raster.py:277-338).
    */
  def rasterize(ref: GridRef, features: Seq[Feature], useAttr: Boolean): Grid = {
    val out = Grid(ref, Array.fill(ref.ncols * ref.nrows)(Double.NaN))
    features.sortBy(_.seq).foreach { f =>
      val burn = if (useAttr) f.attr else f.seq.toDouble
      // envelope cull, then per-pixel center test
      var xmin = Double.MaxValue; var xmax = Double.MinValue
      var ymin = Double.MaxValue; var ymax = Double.MinValue
      var k = 0
      while (k < f.xs.length) {
        val x = f.xs(k); val y = f.ys(k)
        if (x < xmin) xmin = x; if (x > xmax) xmax = x
        if (y < ymin) ymin = y; if (y > ymax) ymax = y
        k += 1
      }
      var r = 0
      while (r < ref.nrows) {
        var c = 0
        while (c < ref.ncols) {
          val (px, py) = ref.sub2map(r, c)
          if (px >= xmin && px <= xmax && py >= ymin && py <= ymax &&
            pointInPolygon(px, py, f.xs, f.ys)) out(r, c) = burn
          c += 1
        }
        r += 1
      }
    }
    out
  }

  /** rect_clip: snap requested extent to the grid and slice inclusively.
    * Reference `Raster.rect_clip` (Raster.py:185-233). */
  def rectClip(g: Grid, e: Extent): Grid = {
    val (r0, r1, c0, c1) = g.ref.clipWindow(e)
    val nref = g.ref.windowRef(r0, r1, c0, c1)
    val out = new Array[Double](nref.ncols * nref.nrows)
    var r = r0
    while (r <= r1) {
      System.arraycopy(g.data, r * g.ref.ncols + c0, out, (r - r0) * nref.ncols, nref.ncols)
      r += 1
    }
    Grid(nref, out)
  }

  /** combine_raster: union-extent mosaic with sequential paste — LATER
    * source overwrites earlier INCLUDING nodata cells (the reference pastes
    * the raw sub-rectangle, `spatial_analysis.py:288-295`); union nrows/ncols
    * use int truncation (`spatial_analysis.py:267-279`); cellsize taken from
    * the LAST header (`:262`). */
  def combine(grids: Seq[Grid]): Grid = {
    val cs = grids.last.ref.cellsize
    val nodata = grids.last.ref.nodata
    val xmin = grids.map(_.ref.left).min
    val xmax = grids.map(_.ref.right).max
    val ymin = grids.map(_.ref.bottom).min
    val ymax = grids.map(_.ref.top).max
    val ncols = ((xmax - xmin) / cs).toInt
    val nrows = ((ymax - ymin) / cs).toInt
    val ref = GridRef(ncols, nrows, xmin, ymin, cs, nodata)
    val out = Grid(ref, Array.fill(ncols * nrows)(Double.NaN))
    grids.foreach { g =>
      // paste at offset computed from lower-left corners (reference uses
      // map2sub of the source extent corners into the union grid)
      val colOff = Math.rint((g.ref.left - xmin) / cs).toInt
      val rowOff = Math.rint((ymax - g.ref.top) / cs).toInt
      var r = 0
      while (r < g.ref.nrows) {
        var c = 0
        while (c < g.ref.ncols) {
          val rr = r + rowOff; val cc = c + colOff
          if (rr >= 0 && rr < nrows && cc >= 0 && cc < ncols) out(rr, cc) = g(r, c)
          c += 1
        }
        r += 1
      }
    }
    out
  }

  /** merge: transfer origin cell values into target at matching cell
    * centers; only in-bounds, NON-NaN origin cells scatter (origin wins).
    * Reference `hydro_raster.merge` (Raster.py:873-895). */
  def merge(target: Grid, origin: Grid): Grid = {
    val out = target.copyGrid
    var r = 0
    while (r < origin.ref.nrows) {
      var c = 0
      while (c < origin.ref.ncols) {
        val v = origin(r, c)
        if (!v.isNaN) {
          val (x, y) = origin.ref.sub2map(r, c)
          val (tr, tc) = target.ref.map2sub(x, y)
          if (target.ref.inBounds(tr, tc)) out(tr, tc) = v
        }
        c += 1
      }
      r += 1
    }
    out
  }

  /** paste_on: paste small raster into target at computed offset.
    * QUIRK preserved for goldens only: the reference's bounds filter uses
    * `rows > 0 & cols > 0`, EXCLUDING target row/col 0 (Raster.py:539-541).
    * `ignoreNan=true` keeps the target value under a NaN source pixel
    * (Raster.py:546-549). The engine standardizes on >= 0; this oracle
    * reproduces the quirk when `index0Quirk=true`. */
  def pasteOn(target: Grid, src: Grid, ignoreNan: Boolean, index0Quirk: Boolean): Grid = {
    val out = target.copyGrid
    var r = 0
    while (r < src.ref.nrows) {
      var c = 0
      while (c < src.ref.ncols) {
        val (x, y) = src.ref.sub2map(r, c)
        val (tr, tc) = target.ref.map2sub(x, y)
        val lo = if (index0Quirk) 1 else 0
        if (tr >= lo && tr < target.ref.nrows && tc >= lo && tc < target.ref.ncols) {
          val v = src(r, c)
          if (!(ignoreNan && v.isNaN)) out(tr, tc) = v
        }
        c += 1
      }
      r += 1
    }
    out
  }

  /** line2sub: rasterize a polyline to cell subscripts. Endpoints are
    * rounded to INTEGER subscripts first (the reference's map2sub array
    * path, np.round = rint), then per segment steps = max(|Δrow|, |Δcol|)+1
    * linspace points between the integer subscripts, rounded half-even; the
    * LAST point of EVERY segment is dropped — linspace between integer
    * endpoints always lands exactly on p1, so the reference's
    * `(seg_subs[-1]==subs_p1).all()` guard (Raster.py:356) is always true
    * and the polyline's final endpoint is dropped too. Out-of-grid points
    * filtered. Reference `Raster.line2sub` (Raster.py:340-366). */
  def line2sub(ref: GridRef, xs: Array[Double], ys: Array[Double]): Array[(Int, Int)] = {
    val buf = Array.newBuilder[(Int, Int)]
    val n = xs.length
    val rs = new Array[Int](n)
    val cs = new Array[Int](n)
    var i = 0
    while (i < n) {
      val (r, c) = ref.map2sub(xs(i), ys(i))
      rs(i) = r; cs(i) = c
      i += 1
    }
    i = 0
    while (i < n - 1) {
      val steps = math.max(math.abs(rs(i + 1) - rs(i)),
        math.abs(cs(i + 1) - cs(i))) + 1
      var j = 0
      while (j <= steps - 2) { // drop each segment's last point
        val t = j.toDouble / (steps - 1)
        val r = Math.rint(rs(i) + t * (rs(i + 1) - rs(i))).toInt
        val c = Math.rint(cs(i) + t * (cs(i + 1) - cs(i))).toInt
        if (r >= 0 && r < ref.nrows && c >= 0 && c < ref.ncols) buf += ((r, c))
        j += 1
      }
      i += 1
    }
    buf.result()
  }

  /** Nearest-point interpolation of scattered (x, y, v) points onto a grid:
    * each cell center takes the value of its nearest point (squared
    * euclidean; ties broken by LOWEST point index — matches cKDTree's
    * first-found stable order). Reference `point_interpolate(method=
    * 'nearest')` (Raster.py:409-429, scipy griddata nearest). */
  def nearestInterp(ref: GridRef, pxs: Array[Double], pys: Array[Double],
      pvs: Array[Double]): Grid = {
    val out = new Array[Double](ref.ncols * ref.nrows)
    var r = 0
    while (r < ref.nrows) {
      var c = 0
      while (c < ref.ncols) {
        val (x, y) = ref.sub2map(r, c)
        var best = Double.MaxValue
        var bi = -1
        var i = 0
        while (i < pxs.length) {
          val dx = pxs(i) - x; val dy = pys(i) - y
          val d = dx * dx + dy * dy
          if (d < best) { best = d; bi = i }
          i += 1
        }
        out(r * ref.ncols + c) = pvs(bi)
        c += 1
      }
      r += 1
    }
    Grid(ref, out)
  }

  /** grid_resample_nearest: target cell centers gathered from the source via
    * map2sub; out-of-source-range targets get NaN (the reference meshgrid
    * gather would raise/garbage — our engine clamps only in assign_to W4).
    * Reference `Raster.grid_resample_nearest` (Raster.py:457-487). */
  def resampleNearest(src: Grid, target: GridRef): Grid = {
    val out = new Array[Double](target.ncols * target.nrows)
    var r = 0
    while (r < target.nrows) {
      var c = 0
      while (c < target.ncols) {
        val (x, y) = target.sub2map(r, c)
        val (sr, sc) = src.ref.map2sub(x, y)
        out(r * target.ncols + c) =
          if (src.ref.inBounds(sr, sc)) src(sr, sc) else Double.NaN
        c += 1
      }
      r += 1
    }
    Grid(target, out)
  }

  /** Bilinear regrid oracle: 2x2 source-pixel-center interpolation, NaN if
    * any corner NaN or outside (reference resample 'bilinear',
    * Raster.py:382-384). */
  def resampleBilinear(src: Grid, target: GridRef): Grid = {
    val out = new Array[Double](target.ncols * target.nrows)
    var r = 0
    while (r < target.nrows) {
      var c = 0
      while (c < target.ncols) {
        val (x, y) = target.sub2map(r, c)
        val (fr, fc) = src.ref.map2subFrac(x, y)
        val fl = math.floor(fr).toInt
        val cl = math.floor(fc).toInt
        out(r * target.ncols + c) =
          if (fl < 0 || cl < 0 || fl + 1 >= src.ref.nrows || cl + 1 >= src.ref.ncols)
            Double.NaN
          else {
            val dr = fr - fl
            val dc = fc - cl
            val tl = src(fl, cl); val tr = src(fl, cl + 1)
            val bl = src(fl + 1, cl); val br = src(fl + 1, cl + 1)
            if (tl.isNaN || tr.isNaN || bl.isNaN || br.isNaN) Double.NaN
            else (1 - dr) * ((1 - dc) * tl + dc * tr) + dr * ((1 - dc) * bl + dc * br)
          }
        c += 1
      }
      r += 1
    }
    Grid(target, out)
  }

  /** Connected components (4-connectivity) of equal-valued regions over the
    * validity mask — the vectorize oracle (Raster.py:735-778 region
    * semantics). Returns (value -> (componentCount, pixelCount)). */
  def componentStats(g: Grid): Map[Double, (Long, Long)] = {
    val n = g.ref.ncols * g.ref.nrows
    val seen = new Array[Boolean](n)
    val stats = scala.collection.mutable.Map.empty[Double, (Long, Long)]
    val stack = new java.util.ArrayDeque[Int]()
    var i = 0
    while (i < n) {
      if (!seen(i) && !g.data(i).isNaN) {
        val v = g.data(i)
        var px = 0L
        stack.push(i)
        seen(i) = true
        while (!stack.isEmpty) {
          val j = stack.pop()
          px += 1
          val r = j / g.ref.ncols
          val c = j % g.ref.ncols
          def visit(k: Int): Unit =
            if (!seen(k) && g.data(k) == v) { seen(k) = true; stack.push(k) }
          if (r > 0) visit(j - g.ref.ncols)
          if (r < g.ref.nrows - 1) visit(j + g.ref.ncols)
          if (c > 0) visit(j - 1)
          if (c < g.ref.ncols - 1) visit(j + 1)
        }
        val (nc, np) = stats.getOrElse(v, (0L, 0L))
        stats(v) = (nc + 1, np + px)
      }
      i += 1
    }
    stats.toMap
  }

  /** assign_to: regrid with EDGE CLAMPING of out-of-range subscripts
    * (Raster.py:505-508). */
  def assignTo(src: Grid, target: GridRef): Grid = {
    val out = new Array[Double](target.ncols * target.nrows)
    var r = 0
    while (r < target.nrows) {
      var c = 0
      while (c < target.ncols) {
        val (x, y) = target.sub2map(r, c)
        val (sr0, sc0) = src.ref.map2sub(x, y)
        val sr = math.max(0, math.min(src.ref.nrows - 1, sr0))
        val sc = math.max(0, math.min(src.ref.ncols - 1, sc0))
        out(r * target.ncols + c) = src(sr, sc)
        c += 1
      }
      r += 1
    }
    Grid(target, out)
  }

  /** NaN-ignoring stats (np.nanmax/nanmin/nanmedian, Raster.py:844-854;
    * num_valid_cells Raster.py:122). Median interpolates the two middle
    * values for even counts (numpy convention). */
  def stats(g: Grid): (Double, Double, Double, Long) = {
    val valid = g.data.filter(v => !v.isNaN).sorted
    val n = valid.length
    val med =
      if (n == 0) Double.NaN
      else if (n % 2 == 1) valid(n / 2)
      else (valid(n / 2 - 1) + valid(n / 2)) / 2.0
    if (n == 0) (Double.NaN, Double.NaN, Double.NaN, 0L)
    else (valid.last, valid.head, med, n.toLong)
  }
}
