package hostbench

import java.io.File
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{Feature, GridRef, Tile}
import graft.icelite.IceLite
import graft.operators.{CellPx, Flow, Rasterize, TileOps}

/** `dem_edit_flow`: hydro-raster's edit-the-DEM-then-route flow. Set-up
  * generates a seeded DEM with `TileOps.tileGrid` and seeded polygons. A
  * pass commits the DEM with `IceLite.commitResumable` and reads it back
  * with `IceLite.read`, while `Rasterize` burns the polygons on a second
  * submitter; then `Rasterize.editJoin` over `TileOps.cells` and
  * `TileOps.tilesFromCells` lower the DEM under each polygon by its burn
  * value, and `Flow.fillSinksTiles` and `Flow.flowAcc` condition and route
  * the edited surface. Each layer's result is materialised so the next
  * layer starts from it, in the untraced run as in the traced one. */
final class DemEditFlow(side: Int, polygons: Int, seed: Long, cpus: Int) extends Workload {
  private val res = 8
  private val cs = 5.0
  private val ref = GridRef(ncols = side, nrows = side, xll = 0, yll = 0, cellsize = cs)
  def units: Long = side.toLong * side

  /** Smooth slope plus one seeded pit per 32x32 block. */
  private val z: (Int, Int) => Double = {
    val s = seed
    val (ph1, ph2) = (Workload.unit(s, 10, 0) * 6.28, Workload.unit(s, 10, 1) * 6.28)
    (r: Int, c: Int) => {
      val h = Workload.mix(s ^ ((r >> 5).toLong << 32) ^ (c >> 5).toLong)
      val pr = (r & ~31) + 4 + ((h & 0xFFL) % 24).toInt
      val pc = (c & ~31) + 4 + (((h >>> 8) & 0xFFL) % 24).toInt
      val d2 = (r - pr) * (r - pr) + (c - pc) * (c - pc)
      0.02 * (r + c) + 3.0 * math.sin(r * 0.021 + ph1) * math.cos(c * 0.017 + ph2) -
        (if (d2 < 36) 2.0 * (1.0 - d2 / 36.0) else 0.0)
    }
  }

  /** Seeded convex pentagons, 4..20 px across, burning 1..4 m. */
  private val features: Seq[Feature] = (0 until polygons).map { k =>
    def u(j: Int) = Workload.unit(seed, 20 + j, k.toLong)
    val (cr, cc) = (u(0) * side, u(1) * side)
    val rad = 2 + u(2) * 8
    val a0 = u(3) * 6.28
    val angles = (0 until 5).map(i => a0 + i * 2 * math.Pi / 5)
    val xs = angles.map(a => ref.left + (cc + rad * math.cos(a)) * cs)
    val ys = angles.map(a => ref.top - (cr + rad * math.sin(a)) * cs)
    def clampX(x: Double) = math.max(ref.left + 1, math.min(ref.right - 1, x))
    def clampY(y: Double) = math.max(ref.bottom + 1, math.min(ref.top - 1, y))
    Feature(k.toLong, "polygon", (xs :+ xs.head).map(clampX).toArray,
      (ys :+ ys.head).map(clampY).toArray, attr = 1.0 + k % 4, seq = k)
  }

  private var dem: Dataset[Tile] = _
  // (acc sum, fill bit-sum) of the first pass; every later pass, in any
  // set-up, must repeat it
  private var reference: Option[(Long, Long)] = None

  def prepare(spark: SparkSession, dir: File): Unit =
    dem = TileOps.tileGrid(spark, ref, res)(z).localCheckpoint(true)

  def pass(spark: SparkSession, ctx: Layers, passDir: File): () => Unit = {
    import spark.implicits._
    val table = new File(passDir, "dem").getPath
    val burning = Forked(ctx("Rasterize.burn")(
      Rasterize(spark, features, ref, res, useAttr = true).localCheckpoint(true)))
    val snap = ctx("IceLite.commit")(
      IceLite.commitResumable(spark, dem, table, buckets = 2 * cpus, snap = 1L))
    val read = ctx("IceLite.read")(IceLite.read(spark, table, snap).localCheckpoint(true))
    val burned: Dataset[CellPx] = burning.join()
    val edited = ctx("Rasterize.editJoin") {
      val cells = Rasterize.editJoin(TileOps.cells(read), burned)
        .select($"row", $"col", when($"burn".isNull, $"v").otherwise($"v" - $"burn").as("v"))
      TileOps.tilesFromCells(cells, ref, res).localCheckpoint(true)
    }
    val filled = ctx("Flow.fillSinks")(Flow.fillSinksTiles(edited, ref, res))
    val (accRows, accSum) = ctx("Flow.flowAcc") {
      val r = Flow.flowAcc(filled, ref, res).agg(count(lit(1)), sum($"acc")).collect()(0)
      (r.getLong(0), r.getLong(1))
    }

    () => {
      val zf = z
      val cells = units
      val burnedPx = burned.count()
      // pixels the edit changed, and the fill >= z invariant, tile by tile
      val editedPx = edited.map { t =>
        var k = 0L
        var i = 0
        while (i < t.payload.length) {
          if (t.payload(i) != zf(t.row0 + i / t.w, t.col0 + i % t.w)) k += 1
          i += 1
        }
        k
      }.reduce(_ + _)
      val fillCheck = filled.joinWith(edited, filled("cellId") === edited("cellId"))
        .map { case (f, e) =>
          var valid = 0L
          var below = 0L
          var bits = 0L
          var i = 0
          while (i < f.payload.length) {
            val v = f.payload(i)
            if (!v.isNaN) {
              valid += 1
              if (v < e.payload(i)) below += 1
              bits += java.lang.Double.doubleToLongBits(v)
            }
            i += 1
          }
          (valid, below, bits)
        }.reduce((a, b) => (a._1 + b._1, a._2 + b._2, a._3 + b._3))
      val committed = IceLite.countRows(table, snap)
      expect("committed tiles", committed, dem.count())
      expect("edited cells", editedPx, burnedPx)
      expect("filled cells", fillCheck._1, cells)
      expect("cells below z after fill", fillCheck._2, 0L)
      expect("flowAcc rows", accRows, cells)
      val sums = (accSum, fillCheck._3)
      expect("checksum (acc sum, fill bits)", sums, reference.getOrElse(sums))
      reference = Some(sums)
      ctx.rows ++= Seq("IceLite.commit" -> committed, "IceLite.read" -> read.count(),
        "Rasterize.burn" -> burnedPx, "Rasterize.editJoin" -> cells,
        "Flow.fillSinks" -> fillCheck._1, "Flow.flowAcc" -> accRows)
      ctx.ratios("Rasterize.editJoin.edited_ratio") = burnedPx.toDouble / cells
    }
  }
}
