package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.LongAccumulator
import graft.core._

/** Raster←vector burn join — the flagship operator (reference
  * `Raster.rasterize`, Raster.py:277-338), re-expressed as:
  *
  *   features --cell_cover generator--> (cell_id, feature)   [explode]
  *        join/groupBy cell_id                               [shuffle]
  *   per-cell burn kernel: pixel-center scanline (`scanRow`),
  *   features applied in seq order so the LATER feature wins [kernel]
  *
  * The shuffle key is the Z-ordered cell id, so at 100TB this is a
  * range-bucketed exchange; with few features the cover side is tiny and
  * broadcast; hot cells (many distinct features) are split by `burn` into
  * `salt` row-interleaved shards, the factor picked by `autoSalt` (driver)
  * or `autoSaltFromCover` (distributed).
  */
object Rasterize {

  /** One feature's burn task for one cell. */
  final case class CoverTask(cellId: Long, seq: Int, value: Double,
      xs: Array[Double], ys: Array[Double])

  /** Explode features to their cell covers. `useAttr=false` burns the
    * feature seq/index (the reference's `attribute=None` default,
    * Raster.py:316-330). */
  def cover(spark: SparkSession, features: Seq[Feature], ref: GridRef,
      res: Int, useAttr: Boolean): Dataset[CoverTask] =
    coverDs(spark.createDataset(features)(org.apache.spark.sql.Encoders.product[Feature]),
      ref, res, useAttr)

  /** Fully distributed cover explode over a feature DATASET — the scale
    * ingestion path: with millions of features the driver never sees a
    * geometry or a cover cell; the explode runs where the features live. */
  def coverDs(features: Dataset[Feature], ref: GridRef,
      res: Int, useAttr: Boolean): Dataset[CoverTask] = {
    import features.sparkSession.implicits._
    features.flatMap { f =>
      val burn = if (useAttr) f.attr else f.seq.toDouble
      CellId.coverPolygon(ref, f.xs.zip(f.ys), res)
        .map(cid => CoverTask(cid, f.seq, burn, f.xs, f.ys))
    }
  }

  /** Collapse EXACT duplicates (same geometry + same burn value) to the
    * max-seq representative: under sequential last-wins, re-burning an
    * identical shape is a no-op, so this is semantics-preserving — and on
    * skewed inputs (the same feature replicated many times onto one hot
    * cell) it removes the duplicate factor from the kernel cost. */
  private def dedupTasks(fs: Array[CoverTask]): Array[CoverTask] =
    fs.groupBy(f => (f.value, f.xs.toSeq, f.ys.toSeq))
      .map(_._2.maxBy(_.seq)).toArray.sortBy(_.seq)

  /** Bounding box of a ring. */
  private[operators] def bbox(xs: Array[Double], ys: Array[Double]): Extent = {
    var xmin = Double.MaxValue; var xmax = Double.MinValue
    var ymin = Double.MaxValue; var ymax = Double.MinValue
    var k = 0
    while (k < xs.length) {
      val x = xs(k); val y = ys(k)
      if (x < xmin) xmin = x; if (x > xmax) xmax = x
      if (y < ymin) ymin = y; if (y > ymax) ymax = y
      k += 1
    }
    Extent(xmin, xmax, ymin, ymax)
  }

  /** Pixels of `ref` whose centres lie in `e`, inside rows [r0, r1] and
    * columns [c0, c1]: (fr0, fr1, fc0, fc1), empty when fr0 > fr1 or
    * fc0 > fc1. A centre left + (c + 0.5) cs is >= e.left iff
    * c >= (e.left - left) / cs - 0.5; rows count down from the top. */
  private[operators] def window(ref: GridRef, e: Extent,
      r0: Int, r1: Int, c0: Int, c1: Int): (Int, Int, Int, Int) = (
    math.max(r0, math.ceil((ref.top - e.top) / ref.cellsize - 0.5).toInt),
    math.min(r1, math.floor((ref.top - e.bottom) / ref.cellsize - 0.5).toInt),
    math.max(c0, math.ceil((e.left - ref.left) / ref.cellsize - 0.5).toInt),
    math.min(c1, math.floor((e.right - ref.left) / ref.cellsize - 0.5).toInt))

  /** Even-odd SCANLINE burn of one pixel row [cFrom, cTo] of a polygon,
    * the engine's one pixel-center inside test: bit-identical pixel set to
    * the oracle's per-pixel ray cast ([[RefKernel]]) — for fixed py its
    * inside(px) is exactly the PARITY of {crossing edges : px < xCross},
    * and the xCross values computed here are the same doubles from the
    * same formula — but at O(V + m log m + W) per row instead of O(W * V):
    * the crossing set is built once per row and a single pointer sweep
    * over the sorted crossings classifies every pixel center. `emit`
    * receives each inside column. */
  private[operators] def scanRow(xs: Array[Double], ys: Array[Double], py: Double,
      left: Double, cellsize: Double, cFrom: Int, cTo: Int,
      scratch: Array[Double])(emit: Int => Unit): Unit = {
    val n = xs.length
    var m = 0
    var i = 0
    var j = n - 1
    while (i < n) {
      val yi = ys(i); val yj = ys(j)
      if ((yi > py) != (yj > py)) {
        scratch(m) = (xs(j) - xs(i)) * (py - yi) / (yj - yi) + xs(i)
        m += 1
      }
      j = i
      i += 1
    }
    if (m > 0) {
      java.util.Arrays.sort(scratch, 0, m)
      var idx = 0 // count of crossings <= px so far (px increases with c)
      var c = cFrom
      while (c <= cTo) {
        val px = left + (c + 0.5) * cellsize
        while (idx < m && scratch(idx) <= px) idx += 1
        if (((m - idx) & 1) == 1) emit(c)
        c += 1
      }
    }
  }

  /** Burn: group cover tasks by (cell, shard) with shard in [0, salt), run
    * the pixel-center scanline kernel over the pixel rows r = shard (mod
    * salt) of the cell window (clipped to grid), and apply features in seq
    * order (last wins — Raster.py:330 sequential burn). Emits only burned
    * pixels; the background stays NaN implicitly (out array init,
    * Raster.py:330). Salting spreads a hot cell (many distinct features on
    * one cell id) over `salt` tasks while last-wins stays exact: every
    * pixel still sees ALL its features, in seq order. */
  def burn(tasks: Dataset[CoverTask], ref: GridRef, salt: Int = 1,
      burnedPx: Option[LongAccumulator] = None): Dataset[CellPx] = {
    import tasks.sparkSession.implicits._
    require(salt >= 1, s"salt must be >= 1, got $salt")
    val nrows = ref.nrows
    val ncols = ref.ncols
    val salted = tasks.flatMap(t => Iterator.tabulate(salt)(s => (s, t)))
    salted.groupByKey { case (s, t) => (t.cellId, s) }.flatMapGroups {
      (key: (Long, Int), it: Iterator[(Int, CoverTask)]) =>
        val (cid, shard) = key
        val fs = dedupTasks(it.map(_._2).toArray)
        val (r0L, c0L, size) = CellId.pixelWindow(cid)
        val r0 = r0L.toInt
        val c0 = c0L.toInt
        val r1 = math.min(nrows - 1, r0 + size - 1)
        val c1 = math.min(ncols - 1, c0 + size - 1)
        // per-feature pixel windows (bbox ∩ cell window), first row moved
        // onto this shard. The burn buffer covers the UNION of these
        // windows, one buffer row per shard row, not the full cell — a
        // feature rarely fills its cell, so this cuts the 512KB cell buffer
        // (pure allocation-bandwidth, the local-mode scaling ceiling) to
        // the burnable sub-window.
        val live = fs.iterator.map { f =>
          val (fr0, fr1, fc0, fc1) = window(ref, bbox(f.xs, f.ys), r0, r1, c0, c1)
          (f, fr0 + Math.floorMod(shard - fr0, salt), fr1, fc0, fc1)
        }.filter { case (_, fr0, fr1, fc0, fc1) => fr0 <= fr1 && fc0 <= fc1 }.toArray
        if (live.isEmpty) Iterator.empty
        else {
          val ur0 = live.map(_._2).min
          val ur1 = live.map(_._3).max
          val uc0 = live.map(_._4).min
          val uc1 = live.map(_._5).max
          val bw = uc1 - uc0 + 1
          val bh = (ur1 - ur0) / salt + 1
          val vals = Array.fill(bh * bw)(Double.NaN)
          val scratch = new Array[Double](live.map(_._1.xs.length).max)
          live.foreach { case (f, fr0, fr1, fc0, fc1) =>
            var r = fr0
            while (r <= fr1) {
              val py = ref.top - (r + 0.5) * ref.cellsize
              val rowBase = (r - ur0) / salt * bw - uc0
              scanRow(f.xs, f.ys, py, ref.left, ref.cellsize, fc0, fc1,
                scratch)(c => vals(rowBase + c) = f.value)
              r += salt
            }
          }
          // lazy emission: no intermediate CellPx array per cell
          val emit = Iterator.range(0, bh * bw)
            .filter(i => !vals(i).isNaN)
            .map(i => CellPx(ur0 + i / bw * salt, uc0 + i % bw, vals(i)))
          burnedPx.fold(emit)(acc => emit.map { p => acc.add(1L); p })
        }
    }
  }

  /** Salt factor for a cell carrying `hot` distinct tasks: one shard per 8
    * tasks, at most 16. */
  private def saltFor(hot: Long): Int = math.max(1L, math.min(16L, hot / 8)).toInt

  /** Skew statistic -> salt factor: max number of DISTINCT (value,
    * geometry) tasks landing on one cell (exact duplicates collapse in the
    * kernel, so they are not skew), computed driver-side from the feature
    * seq — no extra Spark job. A cell with F distinct features costs
    * F x cellArea in the PIP kernel; salting by ~F/8 splits that one hot
    * task into row-interleaved shards while last-wins stays exact. */
  private[operators] def autoSalt(features: Seq[Feature], ref: GridRef,
      res: Int, useAttr: Boolean): Int = {
    // dedup the DISTINCT (value, geometry) tasks ONCE — O(#features)
    // vertex hashing — then count covers with plain Long keys. Keying a
    // seen-set by (cid, value, xs, ys) re-wrapped and re-hashed the full
    // vertex arrays once per covered cell: O(cells x vertices) driver CPU
    // serialized in front of every pipeline's job submission.
    val seenTasks =
      scala.collection.mutable.Set[(Double, Seq[Double], Seq[Double])]()
    val perCell = scala.collection.mutable.Map[Long, Int]().withDefaultValue(0)
    features.foreach { f =>
      val burnValue = if (useAttr) f.attr else f.seq.toDouble // kernel's dedup key
      if (seenTasks.add((burnValue, f.xs.toSeq, f.ys.toSeq)))
        // a distinct task covers each of its cells exactly once, so the
        // per-cell increment needs no per-cell dedup key
        CellId.coverPolygon(ref, f.xs.zip(f.ys), res).foreach(perCell(_) += 1)
    }
    saltFor(if (perCell.isEmpty) 0 else perCell.values.max)
  }

  /** The same skew statistic as [[autoSalt]], computed as a cheap
    * DISTRIBUTED aggregate over the already-exploded cover: max over cells
    * of distinct (value, geometry) tasks. No driver geometry walk — at
    * 100 TB the cover is exploded exactly once (persisted by the caller)
    * and this agg shuffles only (cellId, task-hash) pairs. */
  private[operators] def autoSaltFromCover(cover: Dataset[CoverTask]): Int = {
    import cover.sparkSession.implicits._
    val hotRow = cover
      .groupBy($"cellId")
      .agg(countDistinct(struct($"value", $"xs", $"ys")).as("n"))
      .agg(max($"n")).collect()
    saltFor(if (hotRow.isEmpty || hotRow(0).isNullAt(0)) 0L else hotRow(0).getLong(0))
  }

  /** End-to-end rasterize: features -> cover -> burn -> burned pixels.
    * Salt is selected AUTOMATICALLY from the hot-cell distinct-task max
    * (autoSalt); homogeneous covers burn with one task per cell
    * (salt = 1). The driver-Seq form delegates to the Dataset form —
    * one distributed cover explode feeds both the skew agg and the burn. */
  def apply(spark: SparkSession, features: Seq[Feature], ref: GridRef,
      res: Int, useAttr: Boolean): Dataset[CellPx] =
    apply(spark, features, ref, res, useAttr, burnedPx = None)

  def apply(spark: SparkSession, features: Seq[Feature], ref: GridRef,
      res: Int, useAttr: Boolean,
      burnedPx: Option[LongAccumulator]): Dataset[CellPx] = {
    // features are already driver-resident here, so the skew statistic is
    // FREE on the driver (same max-distinct-tasks-per-cell number as
    // autoSaltFromCover) — routing it through the distributed agg would
    // prepend one blocking collect job to every call (measured ~20% of
    // the r4 bench pipeline wall; the Dataset form below keeps the
    // distributed agg for corpus-scale feature tables).
    val salt = autoSalt(features, ref, res, useAttr)
    val ds = spark.createDataset(features)(
      org.apache.spark.sql.Encoders.product[Feature])
    burn(coverDs(ds, ref, res, useAttr), ref, salt, burnedPx)
  }

  /** Dataset[Feature] rasterize — the 100 TB ingestion API: cover explode,
    * skew statistic and burn are all executor-side. The cover is exploded
    * twice (salt agg + burn) rather than persisted: coverPolygon is cheap
    * next to the PIP burn, recomputation is deterministic, and a persist
    * here would leak one cached dataset per rasterize call (callers can
    * still persist `coverDs(...)` themselves and use `burn` +
    * `autoSaltFromCover` directly when the explode dominates). */
  def apply(features: Dataset[Feature], ref: GridRef,
      res: Int, useAttr: Boolean,
      burnedPx: Option[LongAccumulator] = None): Dataset[CellPx] = {
    val salt = autoSaltFromCover(coverDs(features, ref, res, useAttr))
    burn(coverDs(features, ref, res, useAttr), ref, salt, burnedPx)
  }

  /** Burned-pixel DataFrame joined back as a mask/edit layer: the tutorial
    * "edit DEM by features" pipeline (demo/tutorial_edit_DEM.ipynb cells
    * 4-12): burned value per pixel left-joined onto the DEM cells.
    * NO broadcast hint: burned area is O(feature area in pixels) — GBs at
    * scale — so this must stay a shuffled equi-join on (row, col); AQE
    * still demotes it to broadcast adaptively when the burn layer happens
    * to be small. */
  def editJoin(demCells: DataFrame, burned: Dataset[CellPx]): DataFrame = {
    val b = burned.toDF("row", "col", "burn")
    demCells.join(b, Seq("row", "col"), "left")
  }
}
