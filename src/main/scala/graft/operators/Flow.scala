package graft.operators

import scala.reflect.ClassTag
import scala.reflect.runtime.universe.TypeTag
import org.apache.spark.sql.{DataFrame, Dataset, Encoder}
import org.apache.spark.sql.functions._
import graft.core._

/** D8 hydrological flow operators — beyond-reference additions in the
  * reference's own problem domain (hydro-raster feeds flood models;
  * `Raster.py` stops at terrain prep, so flow routing is the natural
  * next operator a user would reach for).
  *
  * Semantics (public-textbook D8, O'Callaghan & Mark 1984):
  *   - `flowDir`: each valid cell drains to the neighbor with the
  *     steepest positive drop `(z - zn) / dist`, `dist = cs` for
  *     cardinal and `cs * sqrt(2)` for diagonal neighbors. ESRI-style
  *     power-of-two codes (E=1, SE=2, S=4, SW=8, W=16, NW=32, N=64,
  *     NE=128); ties break to the smallest code; no positive drop
  *     (pit / flat / all-NaN ring) -> 0. NaN cells emit nothing and
  *     never receive flow.
  *   - `flowAcc`: number of cells draining through each cell,
  *     INCLUDING the cell itself (so a ridge cell has acc = 1).
  *
  * Scale shape: `flowDir` is one halo exchange ([[Stencil.padded]],
  * shuffle volume ~4/2^res of the payload) + a per-tile loop. `flowAcc`
  * is the tile-condensation pattern (same seam idea as [[Vectorize]]):
  *   1. per-tile LOCAL topological accumulation (in-tile upstream
  *      counts) + the tile's boundary summary — crossing edges
  *      (cell -> neighbor-tile cell, carrying the in-tile count) and
  *      border-cell routing (which crossing edge an inflow entering at
  *      a border cell would exit through);
  *   2. a condensed solve over CROSSING EDGES ONLY (O(perimeter), the
  *      same ~4/2^res fraction) — a weighted accumulation on a
  *      functional DAG (acyclic because z strictly decreases along
  *      flow), by the shared [[peel]] kernel: a Kahn queue on the driver
  *      under `driverLimit`, a batched topological peel on the cluster
  *      above it;
  *   3. a second per-tile pass seeding resolved external inflows at
  *      entry cells and re-running the local accumulation.
  * Both DuckDB-oracled: flowDir per-cell (identical IEEE operand order,
  * so drops are bit-equal cross-engine) and flowAcc against a
  * WITH RECURSIVE downstream-closure count (r24/r25).
  */
object Flow {

  private val Sqrt2 = math.sqrt(2.0)

  /** Round cap of the iterative fill: a guard against a non-converging
    * relaxation, far above any grid's real round count. */
  private val MaxRounds = 10000

  /** (code, dr, dc) in ascending code order — the iteration order IS the
    * tie-break (first strict improvement wins -> smallest code). */
  private val D8: Array[(Int, Int, Int)] = Array(
    (1, 0, 1), (2, 1, 1), (4, 1, 0), (8, 1, -1),
    (16, 0, -1), (32, -1, -1), (64, -1, 0), (128, -1, 1))

  /** Per-tile D8 kernel over a padded tile: dir(i) for local index i,
    * -1 for NaN cells. */
  private def dirPlane(pt: Stencil.Padded, cs: Double): Array[Int] = {
    val out = new Array[Int](pt.h * pt.w)
    var r = 0
    while (r < pt.h) {
      var c = 0
      while (c < pt.w) {
        val gz = pt.at(pt.row0 + r, pt.col0 + c)
        if (gz.isNaN) out(r * pt.w + c) = -1
        else {
          var best = 0
          var bestDrop = 0.0
          var k = 0
          while (k < 8) {
            val (code, dr, dc) = D8(k)
            val zn = pt.at(pt.row0 + r + dr, pt.col0 + c + dc)
            if (!zn.isNaN) {
              val dist = if (dr != 0 && dc != 0) cs * Sqrt2 else cs
              val drop = (gz - zn) / dist
              if (drop > bestDrop) { bestDrop = drop; best = code }
            }
            k += 1
          }
          out(r * pt.w + c) = best
        }
        c += 1
      }
      r += 1
    }
    out
  }

  /** SQL CASE for the D8 code's row/col step — ONE source of truth for
    * every DataFrame-side edge construction (streamNetwork, strahler). */
  private[operators] val D8RowCase =
    "CASE dir WHEN 1 THEN 0 WHEN 2 THEN 1 WHEN 4 THEN 1 WHEN 8 THEN 1 " +
      "WHEN 16 THEN 0 WHEN 32 THEN -1 WHEN 64 THEN -1 WHEN 128 THEN -1 END"
  private[operators] val D8ColCase =
    "CASE dir WHEN 1 THEN 1 WHEN 2 THEN 1 WHEN 4 THEN 0 WHEN 8 THEN -1 " +
      "WHEN 16 THEN -1 WHEN 32 THEN -1 WHEN 64 THEN 0 WHEN 128 THEN 1 END"

  private def delta(code: Int): (Int, Int) = code match {
    case 1 => (0, 1); case 2 => (1, 1); case 4 => (1, 0); case 8 => (1, -1)
    case 16 => (0, -1); case 32 => (-1, -1); case 64 => (-1, 0); case 128 => (-1, 1)
  }

  /** D8 flow direction: (row, col, dir) for every valid cell. */
  def flowDir(tiles: Dataset[Tile], ref: GridRef, res: Int): DataFrame = {
    import tiles.sparkSession.implicits._
    val cs = ref.cellsize
    Stencil.padded(tiles, ref, res).flatMap { pt =>
      val dirs = dirPlane(pt, cs)
      val out = Array.newBuilder[(Long, Long, Int)]
      var i = 0
      while (i < dirs.length) {
        if (dirs(i) >= 0)
          out += (((pt.row0 + i / pt.w).toLong, (pt.col0 + i % pt.w).toLong, dirs(i)))
        i += 1
      }
      out.result().iterator
    }.toDF("row", "col", "dir")
  }

  /** Local topological accumulation over one padded tile. `seeds` maps a
    * GLOBAL (row, col) to an external inflow count added at that cell.
    * Returns acc(i) for valid cells (0 where NaN). */
  private def localAcc(pt: Stencil.Padded, dirs: Array[Int],
      seeds: scala.collection.Map[(Long, Long), Long]): Array[Long] = {
    val n = pt.h * pt.w
    val acc = new Array[Long](n)
    val indeg = new Array[Int](n)
    // in-tile successor index, -1 if none (pit, NaN, or crossing)
    val succ = new Array[Int](n)
    var i = 0
    while (i < n) {
      succ(i) = -1
      if (dirs(i) > 0) {
        val (dr, dc) = delta(dirs(i))
        val tr = i / pt.w + dr
        val tc = i % pt.w + dc
        if (tr >= 0 && tr < pt.h && tc >= 0 && tc < pt.w) {
          succ(i) = tr * pt.w + tc
          indeg(succ(i)) += 1
        }
      }
      i += 1
    }
    val queue = new java.util.ArrayDeque[Int]()
    i = 0
    while (i < n) {
      if (dirs(i) >= 0) {
        acc(i) = 1L + seeds.getOrElse(
          ((pt.row0 + i / pt.w).toLong, (pt.col0 + i % pt.w).toLong), 0L)
        if (indeg(i) == 0) queue.add(i)
      }
      i += 1
    }
    while (!queue.isEmpty) {
      val u = queue.poll()
      val v = succ(u)
      if (v >= 0) {
        acc(v) += acc(u)
        indeg(v) -= 1
        if (indeg(v) == 0) queue.add(v)
      }
    }
    acc
  }

  /** Follow the in-tile path from local index `i`; returns the local index
    * of the cell that exits the tile (its dir crosses the boundary), or -1
    * if the path terminates inside (pit). */
  private def pathExit(pt: Stencil.Padded, dirs: Array[Int], start: Int): Int = {
    var i = start
    var steps = 0
    val n = pt.h * pt.w
    while (steps <= n) { // z strictly decreases -> cycle-free; bound is a guard
      if (dirs(i) <= 0) return -1
      val (dr, dc) = delta(dirs(i))
      val tr = i / pt.w + dr
      val tc = i % pt.w + dc
      if (tr < 0 || tr >= pt.h || tc < 0 || tc >= pt.w) return i
      i = tr * pt.w + tc
      steps += 1
    }
    throw new IllegalStateException("flow path cycle — non-monotone dir plane")
  }

  // ---------------------------------------------------------------------
  // Condensed solves. Every routing operator below has one shape: pass 1
  // condenses each tile to its seam rows, one solve over the condensed
  // functional graph (O(perimeter) rows) resolves them, and pass 2 re-runs
  // the tile kernel seeded with the result. The solve is one of two
  // kernels, each with a driver arm and a distributed arm: [[chase]] walks
  // downstream to the first terminal, [[peel]] folds upstream from the
  // sources. One row-count [[gate]] on the solve's input picks the arm.

  /** One pass-1 seam row (public for encoder derivation), keyed by the
    * cell (kr, kc) it is about. Either a crossing edge (xr, xc) -> (kr, kc)
    * that leaves x's tile (`route` false; (a, b) = x's tile-local value),
    * or the in-tile routing of border cell (kr, kc) (`route` true; (xr, xc)
    * = its terminal, `kind` 1 pit / 2 exit crossing / 4 stream stop, and
    * (a, b) = the cardinal/diagonal steps to it). */
  final case class SeamRow(kr: Long, kc: Long, route: Boolean,
      xr: Long, xc: Long, kind: Int, a: Long, b: Long)

  /** Row of [[chase]] (public for encoder derivation): cell (xr, xc) is
    * `done` with label (ok, lr, lc), or points at the row of cell (lr, lc);
    * (nc, nd) are the steps it adds on the way. */
  final case class ChaseRow(xr: Long, xc: Long, done: Boolean, ok: Boolean,
      lr: Long, lc: Long, nc: Long, nd: Long)

  /** Row of [[peel]] (public for encoder derivation): node (xr, xc) with
    * successor (sr, sc), (-1, -1) for none, and value (a, b). (ea, eb) is a
    * constant its offer may add on the way out; (tr, tc) rides along for
    * pass 2 (a crossing's target cell). */
  final case class PeelRow(xr: Long, xc: Long, sr: Long, sc: Long,
      a: Long, b: Long, ea: Long, eb: Long, tr: Long, tc: Long)

  /** A condensed solve's rows: collected on the driver, or distributed. */
  private type Solved[T] = Either[Array[T], Dataset[T]]

  /** The one driver-vs-distributed gate: counts exactly the rows the
    * driver arm collects, and collects them when there are at most
    * `driverLimit`; every later step of the solve stays in the arm this
    * picks. The checkpoint is lazy, so the count is the job that
    * materialises the rows and both arms read cached blocks. A count, not
    * a `limit(n).collect()` probe: Spark's incremental take can launch
    * several jobs and scan only part of a lazy checkpoint. */
  private def gate[T](rows: Dataset[T], driverLimit: Int): Solved[T] = {
    val ck = rows.localCheckpoint(false)
    if (ck.rdd.count() <= driverLimit) Left(ck.collect()) else Right(ck)
  }

  /** Pairs every crossing seam row with the routing row of its target
    * cell and builds one solve row from each pair: both kinds group on the
    * cell they are keyed by, on the driver or in one exchange. A crossing
    * whose target has no routing row breaks pass 1's invariant and fails
    * loudly. */
  private def joinRoutes[T: Encoder : ClassTag](seams: Solved[SeamRow])(
      row: (SeamRow, SeamRow) => T): Solved[T] = {
    def pairs(k: (Long, Long), group: Iterator[SeamRow]): Iterator[T] = {
      val (routes, crossings) = group.toArray.partition(_.route)
      crossings.iterator.map(x => row(x, routes.headOption.getOrElse(
        throw new IllegalStateException(s"no routing for crossing target (${k._1},${k._2})"))))
    }
    seams match {
      case Left(in) =>
        Left(in.groupBy(s => (s.kr, s.kc)).iterator.flatMap { case (k, g) => pairs(k, g.iterator) }
          .toArray)
      case Right(ds) =>
        import ds.sparkSession.implicits._
        Right(ds.groupByKey(s => (s.kr, s.kc)).flatMapGroups(pairs))
    }
  }

  /** (cardinal, diagonal) count of the D8 step from (r0, c0) to (r1, c1). */
  private def step(r0: Long, c0: Long, r1: Long, c1: Long): (Long, Long) =
    if (r0 != r1 && c0 != c1) (0L, 1L) else (1L, 0L)

  /** Downstream walk over a functional graph of [[ChaseRow]]s: every row
    * ends done, with the label (ok, lr, lc) of the first done row on its
    * path and the sum of (nc, nd) along it, that row's included. Driver
    * arm: one memoised pointer walk. Distributed arm:
    * [[resolveChainsDoubling]]. */
  private def chase(rows: Solved[ChaseRow]): Solved[ChaseRow] = {
    rows match {
      case Right(ds) =>
        import ds.sparkSession.implicits._
        Right(resolveChainsDoubling(ds.toDF()).as[ChaseRow])
      case Left(in) =>
        val at = scala.collection.mutable.HashMap[(Long, Long), Int]()
        in.indices.foreach(i => at((in(i).xr, in(i).xc)) = i)
        val out = new Array[ChaseRow](in.length)
        val path = scala.collection.mutable.ArrayBuffer[Int]()
        in.indices.foreach { i0 =>
          var i = i0
          path.clear()
          while (out(i) == null && !in(i).done) {
            path += i
            require(path.length <= in.length, "chain cycle — non-monotone dirs")
            i = at.getOrElse((in(i).lr, in(i).lc), throw new IllegalStateException(
              s"chain points at a missing row (${in(i).lr},${in(i).lc})"))
          }
          var end = if (out(i) == null) in(i) else out(i)
          out(i) = end
          path.reverseIterator.foreach { j =>
            end = in(j).copy(done = true, ok = end.ok, lr = end.lr, lc = end.lc,
              nc = in(j).nc + end.nc, nd = in(j).nd + end.nd)
            out(j) = end
          }
        }
        Left(out)
    }
  }

  /** Upstream fold over a functional DAG of [[PeelRow]]s: a row's final
    * value is its own (a, b) with the `offer` of every predecessor
    * `combine`d in, each offer made once its row is final. `combine` must
    * be commutative and associative. An offer to a successor that is not a
    * row is dropped, in both arms. Driver arm: one Kahn queue.
    * Distributed arm: a batched topological peel; each round finalises
    * every row with no pending predecessor and folds its offer into its
    * successor, so rounds = DAG depth, rows stay O(perimeter) and nothing
    * reaches the driver. */
  private def peel(rows: Solved[PeelRow])(offer: PeelRow => (Long, Long))(
      combine: ((Long, Long), (Long, Long)) => (Long, Long)): Solved[PeelRow] = {
    def fold(n: PeelRow, o: (Long, Long)): PeelRow = {
      val (a, b) = combine((n.a, n.b), o)
      n.copy(a = a, b = b)
    }
    rows match {
      case Left(in) =>
        val at = scala.collection.mutable.HashMap[(Long, Long), Int]()
        in.indices.foreach(i => at((in(i).xr, in(i).xc)) = i)
        val succ = in.map(n => at.getOrElse((n.sr, n.sc), -1))
        val indeg = new Array[Int](in.length)
        succ.foreach(v => if (v >= 0) indeg(v) += 1)
        val out = in.clone()
        val queue = new java.util.ArrayDeque[Int]()
        in.indices.foreach(i => if (indeg(i) == 0) queue.add(i))
        var seen = 0
        while (!queue.isEmpty) {
          val u = queue.poll()
          seen += 1
          val v = succ(u)
          if (v >= 0) {
            out(v) = fold(out(v), offer(out(u)))
            indeg(v) -= 1
            if (indeg(v) == 0) queue.add(v)
          }
        }
        require(seen == in.length, "condensed graph is cyclic — non-monotone dirs")
        Left(out)
      case Right(ds) =>
        import ds.sparkSession.implicits._
        var active = ds.localCheckpoint(false)
        var remaining = active.count()
        val done = scala.collection.mutable.ArrayBuffer[Dataset[PeelRow]]()
        while (remaining > 0) {
          val blocked = active.where($"sr" >= 0)
            .select($"sr".as("xr"), $"sc".as("xc")).distinct()
          val frontier = active.join(blocked, Seq("xr", "xc"), "left_anti")
            .as[PeelRow].localCheckpoint(true)
          val nf = frontier.count()
          require(nf > 0, "condensed graph is cyclic — non-monotone dirs")
          done += frontier
          val offers = frontier.filter(_.sr >= 0)
            .map { n => val (a, b) = offer(n); (n.sr, n.sc, a, b) }
            .groupByKey(o => (o._1, o._2))
            .reduceGroups { (p, q) =>
              val (a, b) = combine((p._3, p._4), (q._3, q._4)); (p._1, p._2, a, b) }
            .map(_._2)
          val rest = active.join(frontier.select("xr", "xc"), Seq("xr", "xc"), "left_anti")
            .as[PeelRow]
          active = rest
            .joinWith(offers, rest("xr") === offers("_1") && rest("xc") === offers("_2"),
              "left_outer")
            .map { case (n, o) => if (o == null) n else fold(n, (o._3, o._4)) }
            .localCheckpoint(true)
          remaining -= nf
        }
        Right(done.reduce(_ union _))
    }
  }

  /** Pass 2 of every condensed solve: hands each padded tile the solved
    * rows whose `cell` lies in it and runs `finish` over the two. Rows
    * solved on the driver ride one broadcast; distributed rows are grouped
    * by tile and equi-joined on the tile id (column `idCol` of `padded`,
    * read by `tileId`), so they never reach the driver. */
  private def perTile[P, T <: Product : TypeTag : ClassTag, O: Encoder](
      padded: Dataset[P], idCol: String, solved: Solved[T], res: Int)(
      tileId: P => Long, cell: T => (Long, Long))(
      finish: (P, Array[T]) => Iterator[O]): Dataset[O] = {
    import padded.sparkSession.implicits._
    def tileOf(t: T): Long = { val (r, c) = cell(t); CellId.ofPixel(r, c, res) }
    solved match {
      case Left(rows) =>
        val bc = padded.sparkSession.sparkContext.broadcast(rows.groupBy(tileOf))
        padded.flatMap(p => finish(p, bc.value.getOrElse(tileId(p), Array.empty[T])))
      case Right(ds) =>
        val byTile = ds.groupByKey(tileOf).mapGroups((k, it) => (k, it.toArray))
        padded.joinWith(byTile, padded(idCol) === byTile("_1"), "left_outer")
          .flatMap { case (p, g) => finish(p, if (g == null) Array.empty[T] else g._2) }
    }
  }

  /** D8 flow accumulation: (row, col, acc) for every valid cell; acc
    * includes the cell itself. `driverLimit` bounds the seam rows
    * (crossing edges plus border-cell routing) the condensed solve
    * collects on the driver. */
  def flowAcc(tiles: Dataset[Tile], ref: GridRef, res: Int,
      driverLimit: Int = 2000000): DataFrame = {
    import tiles.sparkSession.implicits._
    val cs = ref.cellsize
    // consumed twice (pass 1 and pass 2); the eager checkpoint of the
    // result lets it go before returning
    val padded = Stencil.padded(tiles, ref, res).localCheckpoint(false)
    try {
      // pass 1: per-tile local accumulation. A crossing edge carries its
      // source's in-tile count; a border cell routes an inflow entering
      // there to the crossing it leaves through (kind 2) or drops it in
      // the tile (kind 1).
      val seams = padded.flatMap { pt =>
        val dirs = dirPlane(pt, cs)
        val acc = localAcc(pt, dirs, Map.empty)
        val out = Array.newBuilder[SeamRow]
        var i = 0
        while (i < dirs.length) {
          val r = i / pt.w
          val c = i % pt.w
          if (dirs(i) > 0) {
            val (dr, dc) = delta(dirs(i))
            if (r + dr < 0 || r + dr >= pt.h || c + dc < 0 || c + dc >= pt.w)
              out += SeamRow(pt.row0 + r + dr, pt.col0 + c + dc, route = false,
                pt.row0 + r, pt.col0 + c, 0, acc(i), 0L)
          }
          if ((r == 0 || r == pt.h - 1 || c == 0 || c == pt.w - 1) && dirs(i) >= 0) {
            val ex = pathExit(pt, dirs, i)
            out += (
              if (ex < 0) SeamRow(pt.row0 + r, pt.col0 + c, route = true, -1L, -1L, 1, 0L, 0L)
              else SeamRow(pt.row0 + r, pt.col0 + c, route = true,
                pt.row0 + ex / pt.w, pt.col0 + ex % pt.w, 2, 0L, 0L))
          }
          i += 1
        }
        out.result().iterator
      }
      // the crossing DAG (acyclic: z strictly decreases along flow): x's
      // successor is the exit crossing its target routes to; every
      // crossing's subtree count sums into it
      val nodes = joinRoutes(gate(seams, driverLimit)) { (x, t) =>
        val exit = t.kind == 2
        PeelRow(x.xr, x.xc, if (exit) t.xr else -1L, if (exit) t.xc else -1L,
          x.a, 0L, 0L, 0L, x.kr, x.kc)
      }
      val solved = peel(nodes)(n => (n.a, 0L))((p, q) => (p._1 + q._1, 0L))
      // pass 2: seed each entry cell with the inflow of the crossings into
      // it and re-run the local accumulation
      perTile(padded, "cellId", solved, res)(_.cellId, n => (n.tr, n.tc)) { (pt, in) =>
        val seeds = scala.collection.mutable.HashMap[(Long, Long), Long]()
        in.foreach(n => seeds((n.tr, n.tc)) = seeds.getOrElse((n.tr, n.tc), 0L) + n.a)
        val dirs = dirPlane(pt, cs)
        val acc = localAcc(pt, dirs, seeds)
        val out = Array.newBuilder[(Long, Long, Long)]
        var i = 0
        while (i < dirs.length) {
          if (dirs(i) >= 0)
            out += (((pt.row0 + i / pt.w).toLong, (pt.col0 + i % pt.w).toLong, acc(i)))
          i += 1
        }
        out.result().iterator
      }.toDF("row", "col", "acc").localCheckpoint(true)
    } finally padded.unpersist()
  }

  // ---------------------------------------------------------------------
  // Downstream trace (watershed basins + flow path length) and longest
  // upstream drainage path — both ride the same tile-condensation shape
  // as flowAcc: per-tile memoized traces, a crossing-edge-only condensed
  // solve (O(perimeter), [[chase]] or [[peel]]), and a seeded second pass. Path lengths are kept
  // as INTEGER (cardinal, diagonal) step counts so results are exact
  // cross-engine; physical length = cellsize * (ncard + ndiag * sqrt(2)).

  /** Per-cell in-tile trace memo. For every local index i:
    * `typ` 1 = path ends at in-tile pit `term(i)`, 2 = path reaches the
    * crossing cell `term(i)` (whose dir leaves the tile), 3 = NaN cell,
    * 4 = path reaches an in-tile `stop` cell (first-touched, inclusive of
    * the start cell itself — [[nearestDrainage]]'s stream mask);
    * `cnc`/`cnd` = cardinal/diagonal steps from i to that terminal
    * (exclusive of the crossing step itself). Memoized stack walk, O(n). */
  private def localTrace(pt: Stencil.Padded, dirs: Array[Int],
      stop: Array[Boolean] = null)
      : (Array[Byte], Array[Int], Array[Int], Array[Int]) = {
    val n = pt.h * pt.w
    val typ = new Array[Byte](n)
    val term = new Array[Int](n)
    val cnc = new Array[Int](n)
    val cnd = new Array[Int](n)
    val stack = new scala.collection.mutable.ArrayBuffer[Int]
    var i = 0
    while (i < n) {
      if (dirs(i) == -1) typ(i) = 3
      else if (typ(i) == 0) {
        stack.clear()
        var j = i
        var resolved = false
        while (!resolved) {
          if (typ(j) != 0) resolved = true
          else if (stop != null && stop(j)) { typ(j) = 4; term(j) = j; resolved = true }
          else if (dirs(j) == 0) { typ(j) = 1; term(j) = j; resolved = true }
          else {
            val (dr, dc) = delta(dirs(j))
            val tr = j / pt.w + dr
            val tc = j % pt.w + dc
            if (tr < 0 || tr >= pt.h || tc < 0 || tc >= pt.w) {
              typ(j) = 2; term(j) = j; resolved = true
            } else { stack += j; j = tr * pt.w + tc }
          }
        }
        var k = stack.length - 1
        while (k >= 0) {
          val u = stack(k)
          val (dr, dc) = delta(dirs(u))
          val v = (u / pt.w + dr) * pt.w + (u % pt.w + dc)
          val diag = dr != 0 && dc != 0
          typ(u) = typ(v); term(u) = term(v)
          cnc(u) = cnc(v) + (if (diag) 0 else 1)
          cnd(u) = cnd(v) + (if (diag) 1 else 0)
          k -= 1
        }
      }
      i += 1
    }
    (typ, term, cnc, cnd)
  }

  /** weighted-length comparator: is (anc, and) strictly better than
    * (bnc, bnd)? Longer `nc + nd*sqrt2`; ties -> larger cardinal count.
    * Operand order matches the DuckDB oracle's ORDER BY expression. */
  private def longer(anc: Long, and: Long, bnc: Long, bnd: Long): Boolean = {
    val la = anc + and * Sqrt2
    val lb = bnc + bnd * Sqrt2
    la > lb || (la == lb && anc > bnc)
  }

  /** In-tile longest-upstream DAG solve (max-plus mirror of [[localAcc]]).
    * `seeds` maps a global (row, col) to external best (nc, nd) arriving
    * at that cell (crossing step already counted). Returns (bnc, bnd). */
  private def localLongest(pt: Stencil.Padded, dirs: Array[Int],
      seeds: scala.collection.Map[(Long, Long), (Long, Long)])
      : (Array[Long], Array[Long]) = {
    val n = pt.h * pt.w
    val bnc = new Array[Long](n)
    val bnd = new Array[Long](n)
    val indeg = new Array[Int](n)
    val succ = new Array[Int](n)
    val diag = new Array[Boolean](n)
    var i = 0
    while (i < n) {
      succ(i) = -1
      if (dirs(i) > 0) {
        val (dr, dc) = delta(dirs(i))
        val tr = i / pt.w + dr
        val tc = i % pt.w + dc
        if (tr >= 0 && tr < pt.h && tc >= 0 && tc < pt.w) {
          succ(i) = tr * pt.w + tc
          diag(i) = dr != 0 && dc != 0
          indeg(succ(i)) += 1
        }
      }
      i += 1
    }
    val queue = new java.util.ArrayDeque[Int]()
    i = 0
    while (i < n) {
      if (dirs(i) >= 0) {
        seeds.get(((pt.row0 + i / pt.w).toLong, (pt.col0 + i % pt.w).toLong))
          .foreach { case (snc, snd) =>
            if (longer(snc, snd, bnc(i), bnd(i))) { bnc(i) = snc; bnd(i) = snd }
          }
        if (indeg(i) == 0) queue.add(i)
      }
      i += 1
    }
    while (!queue.isEmpty) {
      val u = queue.poll()
      val v = succ(u)
      if (v >= 0) {
        val nc2 = bnc(u) + (if (diag(u)) 0 else 1)
        val nd2 = bnd(u) + (if (diag(u)) 1 else 0)
        if (longer(nc2, nd2, bnc(v), bnd(v))) { bnc(v) = nc2; bnd(v) = nd2 }
        indeg(v) -= 1
        if (indeg(v) == 0) queue.add(v)
      }
    }
    (bnc, bnd)
  }
  /** Pass-1 seam rows of the trace solves ([[downstream]],
    * [[longestUpstream]], [[nearestDrainage]]): each crossing edge carries
    * its source's tile-local longest-upstream counts, each border cell its
    * in-tile trace terminal and the steps to it. `tile` gives a row's
    * padded tile and its stream stop mask (null: no stops). */
  private def traceSummariesDs[P](padded: Dataset[P], cs: Double)(
      tile: P => (Stencil.Padded, Array[Boolean])): Dataset[SeamRow] = {
    import padded.sparkSession.implicits._
    padded.flatMap { p =>
      val (pt, stop) = tile(p)
      val dirs = dirPlane(pt, cs)
      val (typ, term, cnc, cnd) = localTrace(pt, dirs, stop)
      val (bnc, bnd) = localLongest(pt, dirs, Map.empty)
      val out = Array.newBuilder[SeamRow]
      var i = 0
      while (i < dirs.length) {
        val r = i / pt.w
        val c = i % pt.w
        if (typ(i) == 2 && term(i) == i) {
          val (dr, dc) = delta(dirs(i))
          out += SeamRow(pt.row0 + r + dr, pt.col0 + c + dc, route = false,
            pt.row0 + r, pt.col0 + c, 0, bnc(i), bnd(i))
        }
        if ((r == 0 || r == pt.h - 1 || c == 0 || c == pt.w - 1) && typ(i) != 3)
          out += SeamRow(pt.row0 + r, pt.col0 + c, route = true,
            pt.row0 + term(i) / pt.w, pt.col0 + term(i) % pt.w, typ(i), cnc(i), cnd(i))
        i += 1
      }
      out.result().iterator
    }
  }


  /** Distributed chain resolve over a FUNCTIONAL graph by pointer
    * doubling with additive carry — the distributed arm of [[chase]].
    * Init columns (xr, xc, done, ok, lr, lc, nc, nd): done rows carry the
    * terminal label in (lr, lc) and final counts; active rows point (lr,
    * lc) at ANOTHER crossing with (nc, nd) covering the walked segment.
    * Each round every active row jumps to its pointer's pointer and adds
    * its pointer's carry — O(log chainLen) rounds, each a descriptor-only
    * self-join + eager localCheckpoint (constant-size plan). */
  private def resolveChainsDoubling(init: DataFrame): DataFrame = {
    val spark = init.sparkSession
    import spark.implicits._
    // lazy checkpoints: the per-round remaining-count is the round's only
    // job and materializes the checkpoint as a side effect
    var l = init.localCheckpoint(false)
    var remaining = l.where(!$"done").count()
    while (remaining > 0) {
      val tgt = l.select($"xr".as("lr"), $"xc".as("lc"),
        $"done".as("tdone"), $"ok".as("tok"), $"lr".as("tlr"),
        $"lc".as("tlc"), $"nc".as("tnc"), $"nd".as("tnd"))
      l = l.join(tgt, Seq("lr", "lc"), "left")
        .select($"xr", $"xc",
          ($"done" || coalesce($"tdone", lit(false))).as("done"),
          when($"done", $"ok").otherwise(coalesce($"tok", lit(false))).as("ok"),
          when($"done", $"lr").otherwise($"tlr").as("lr"),
          when($"done", $"lc").otherwise($"tlc").as("lc"),
          when($"done", $"nc").otherwise($"nc" + $"tnc").as("nc"),
          when($"done", $"nd").otherwise($"nd" + $"tnd").as("nd"))
        .localCheckpoint(false)
      val next = l.where(!$"done").count()
      require(next < remaining, "pointer doubling stalled — crossing chain cycle")
      remaining = next
    }
    l
  }
  /** Watershed + downstream flow length: for every valid cell, the basin
    * outlet (terminal pit) its D8 path drains to and the path step counts
    * to that outlet — `(row, col, basin_r, basin_c, ncard, ndiag)`. Pits
    * map to themselves with (0, 0). Same condensation scale shape as
    * [[flowAcc]], solved by [[chase]]; `driverLimit` bounds the seam rows
    * collected on the driver. */
  def downstream(tiles: Dataset[Tile], ref: GridRef, res: Int,
      driverLimit: Int = 2000000): DataFrame = {
    import tiles.sparkSession.implicits._
    val cs = ref.cellsize
    val padded = Stencil.padded(tiles, ref, res).localCheckpoint(false)
    try {
      // a crossing is done at the pit its target drains to, or points at
      // the exit crossing its target routes to; counts include the
      // crossing step
      val seams = gate(traceSummariesDs(padded, cs)(pt => (pt, null)), driverLimit)
      val links = joinRoutes(seams) { (x, t) =>
        val (snc, snd) = step(x.xr, x.xc, x.kr, x.kc)
        ChaseRow(x.xr, x.xc, done = t.kind == 1, ok = true, t.xr, t.xc, snc + t.a, snd + t.b)
      }
      perTile(padded, "cellId", chase(links), res)(_.cellId, l => (l.xr, l.xc)) {
        (pt, in) =>
          val m = in.iterator.map(l => (l.xr, l.xc) -> l).toMap
          val dirs = dirPlane(pt, cs)
          val (typ, term, cnc, cnd) = localTrace(pt, dirs)
          val out = Array.newBuilder[(Long, Long, Long, Long, Long, Long)]
          var i = 0
          while (i < dirs.length) {
            if (typ(i) == 1) {
              out += (((pt.row0 + i / pt.w).toLong, (pt.col0 + i % pt.w).toLong,
                (pt.row0 + term(i) / pt.w).toLong, (pt.col0 + term(i) % pt.w).toLong,
                cnc(i).toLong, cnd(i).toLong))
            } else if (typ(i) == 2) {
              val l = m(((pt.row0 + term(i) / pt.w).toLong, (pt.col0 + term(i) % pt.w).toLong))
              out += (((pt.row0 + i / pt.w).toLong, (pt.col0 + i % pt.w).toLong,
                l.lr, l.lc, cnc(i) + l.nc, cnd(i) + l.nd))
            }
            i += 1
          }
          out.result().iterator
      }.toDF("row", "col", "basin_r", "basin_c", "ncard", "ndiag").localCheckpoint(true)
    } finally padded.unpersist()
  }

  /** Longest upstream drainage path per cell (time-of-concentration /
    * hydraulic-length analog): `(row, col, ncard, ndiag)` of the longest
    * weighted path `nc + nd*sqrt2` ending at the cell; ridge cells (0,0);
    * ties broken to the larger cardinal count. The max-plus mirror of
    * [[flowAcc]]'s sum over the same crossing DAG. */
  def longestUpstream(tiles: Dataset[Tile], ref: GridRef, res: Int,
      driverLimit: Int = 2000000): DataFrame = {
    import tiles.sparkSession.implicits._
    val cs = ref.cellsize
    val padded = Stencil.padded(tiles, ref, res).localCheckpoint(false)
    try {
      // a crossing offers its best path plus the crossing step and the
      // in-tile path from its target to the exit it routes to
      val seams = gate(traceSummariesDs(padded, cs)(pt => (pt, null)), driverLimit)
      val nodes = joinRoutes(seams) { (x, t) =>
        val (snc, snd) = step(x.xr, x.xc, x.kr, x.kc)
        val exit = t.kind == 2
        PeelRow(x.xr, x.xc, if (exit) t.xr else -1L, if (exit) t.xc else -1L,
          x.a, x.b, snc + t.a, snd + t.b, x.kr, x.kc)
      }
      val pick = (p: (Long, Long), q: (Long, Long)) =>
        if (longer(q._1, q._2, p._1, p._2)) q else p
      val solved = peel(nodes)(n => (n.a + n.ea, n.b + n.eb))(pick)
      // pass 2: seed each entry cell with the best path arriving over a
      // crossing into it (step counted)
      perTile(padded, "cellId", solved, res)(_.cellId, n => (n.tr, n.tc)) { (pt, in) =>
        val seeds = scala.collection.mutable.HashMap[(Long, Long), (Long, Long)]()
        in.foreach { n =>
          val (snc, snd) = step(n.xr, n.xc, n.tr, n.tc)
          val cand = (n.a + snc, n.b + snd)
          seeds((n.tr, n.tc)) = seeds.get((n.tr, n.tc)).fold(cand)(pick(_, cand))
        }
        val dirs = dirPlane(pt, cs)
        val (bnc, bnd) = localLongest(pt, dirs, seeds)
        val out = Array.newBuilder[(Long, Long, Long, Long)]
        var i = 0
        while (i < dirs.length) {
          if (dirs(i) >= 0)
            out += (((pt.row0 + i / pt.w).toLong, (pt.col0 + i % pt.w).toLong,
              bnc(i), bnd(i)))
          i += 1
        }
        out.result().iterator
      }.toDF("row", "col", "ncard", "ndiag").localCheckpoint(true)
    } finally padded.unpersist()
  }


  // ---------------------------------------------------------------------
  // Depression filling (Priority-Flood) — the standard DEM-conditioning
  // step before D8 routing (Barnes, Lehman & Mulla 2014; the parallel
  // tile-iteration shape follows Barnes 2016). The filled surface is the
  // minimax fixpoint  fill(c) = max(z(c), min over 8-neighbors fill(n))
  // with fill = z on DRAIN cells (grid border or NaN-adjacent — NODATA is
  // treated as ocean). Fill values are max/min selections of input z
  // values (no arithmetic), so results are bit-exact cross-engine.

  /** One tile-local Priority-Flood given halo fill estimates. `zt` is the
    * tile's elevation payload, `pf` the padded CURRENT fill plane (halo =
    * neighbor-tile estimates, NaN off-grid / at NODATA). Returns the new
    * fill payload. Exact within the tile for the given boundary values;
    * monotone non-increasing vs the current estimates. */
  private def localFill(pf: Stencil.Padded, zt: Array[Double]): Array[Double] = {
    val h = pf.h
    val w = pf.w
    val n = h * w
    val INF = Double.PositiveInfinity
    val cand = new Array[Double](n)
    val done = new Array[Boolean](n)
    var i = 0
    while (i < n) {
      cand(i) = if (zt(i).isNaN) Double.NaN else pf.at(pf.row0 + i / w, pf.col0 + i % w)
      i += 1
    }
    // seed border cells from halo estimates: entering the tile at c costs
    // max(z(c), fill(outside neighbor))
    var r = 0
    while (r < h) {
      var c = 0
      while (c < w) {
        if ((r == 0 || r == h - 1 || c == 0 || c == w - 1) && !zt(r * w + c).isNaN) {
          var k = 0
          while (k < 8) {
            val (_, dr, dc) = D8(k)
            val rr = r + dr
            val cc = c + dc
            if (rr < 0 || rr >= h || cc < 0 || cc >= w) {
              val f = pf.at(pf.row0 + r + dr, pf.col0 + c + dc)
              if (!f.isNaN && f != INF) {
                val cnd = math.max(zt(r * w + c), f)
                if (cnd < cand(r * w + c)) cand(r * w + c) = cnd
              }
            }
            k += 1
          }
        }
        c += 1
      }
      r += 1
    }
    // Priority-Flood: grow from the lowest candidate outward; lazy-deleted
    // binary heap of (fill, idx). Tie order does not affect the fixpoint.
    val pq = new java.util.PriorityQueue[(Double, Int)](
      (a: (Double, Int), b: (Double, Int)) => java.lang.Double.compare(a._1, b._1))
    i = 0
    while (i < n) {
      if (!cand(i).isNaN && cand(i) != INF) pq.add((cand(i), i))
      i += 1
    }
    while (!pq.isEmpty) {
      val (v, u) = pq.poll()
      if (!done(u) && v == cand(u)) {
        done(u) = true
        val ur = u / w
        val uc = u % w
        var k = 0
        while (k < 8) {
          val (_, dr, dc) = D8(k)
          val rr = ur + dr
          val cc = uc + dc
          if (rr >= 0 && rr < h && cc >= 0 && cc < w) {
            val j = rr * w + cc
            if (!done(j) && !zt(j).isNaN) {
              val cnd = math.max(zt(j), v)
              if (cnd < cand(j)) { cand(j) = cnd; pq.add((cnd, j)) }
            }
          }
          k += 1
        }
      }
    }
    cand
  }

  /** Depression-filled DEM: `(row, col, fill)` for every valid cell.
    * Two-pass parallel Priority-Flood (Barnes 2016) via
    * [[fillSinksTiles]]. */
  def fillSinks(tiles: Dataset[Tile], ref: GridRef, res: Int): DataFrame = {
    import tiles.sparkSession.implicits._
    fillSinksTiles(tiles, ref, res).flatMap { t =>
      val out = Array.newBuilder[(Long, Long, Double)]
      var i = 0
      while (i < t.payload.length) {
        if (!t.payload(i).isNaN)
          out += (((t.row0 + i / t.w).toLong, (t.col0 + i % t.w).toLong, t.payload(i)))
        i += 1
      }
      out.result().iterator
    }.toDF("row", "col", "fill")
  }

  /** [[fillSinks]] keeping the tile representation (for pipelines that
    * continue with routing over the conditioned surface).
    *
    * Two-pass parallel Priority-Flood (Barnes 2016): pass 1 runs ONE
    * tile-local multi-seed flood that condenses each tile to its
    * "spillover graph" — border-cell terminals plus min-saddle edges
    * between the flood's watershed labels (O(perimeter) nodes, the same
    * ~4/2^res fraction as a halo); the driver solves global
    * minimax-to-drain over the union of those graphs plus cross-tile
    * border adjacencies; pass 2 re-floods each tile once, seeded with
    * the exact resolved border fills. Round count is O(1) in the
    * tile/grid ratio — the fixpoint `fill(c) = max(z(c), min over
    * neighbors fill(n))` is unique, so the result is bit-identical to
    * the iterative halo relaxation (FlowSpec gates both against each
    * other and the Jacobi oracle). Above `driverLimit` condensed border
    * cells the driver solve would not be driver-safe, so
    * [[fillSinksIterative]] takes over: a halo-relaxation loop with one
    * job per round, whose round count grows with the grid/tile ratio. */
  def fillSinksTiles(tiles: Dataset[Tile], ref: GridRef, res: Int,
      driverLimit: Int = 2000000): Dataset[Tile] = {
    val tilesX = ((ref.ncols - 1) >> res) + 1
    val tilesY = ((ref.nrows - 1) >> res) + 1
    val estBorder = tilesX.toLong * tilesY * (4L << res)
    if (estBorder > driverLimit)
      fillSinksIterative(tiles, ref, res)
    else
      fillSinksTwoPass(tiles, ref, res)
  }

  /** Pass-1 kernel: multi-seed Priority-Flood labeling every valid cell
    * with the seed of minimal flood value. Seeds: every valid tile-edge
    * cell (a terminal, seeded at z, labeled by its global cell index)
    * and every interior drain (seeded at z, labeled DRAIN = -1). Emits
    * `(key, -2, z)` per terminal, `(key, -1, z)` per drain terminal, and
    * `(a, b, w)` min-saddle edges between labels — the tile's spillover
    * graph, which preserves pairwise minimax between its terminals. */
  private def tileSpillGraph(pf: Stencil.Padded, ncols: Long)
      : Iterator[(Long, Long, Double)] = {
    val h = pf.h
    val w = pf.w
    val n = h * w
    val INF = Double.PositiveInfinity
    val z = new Array[Double](n)
    var i = 0
    while (i < n) {
      z(i) = pf.at(pf.row0 + i / w, pf.col0 + i % w)
      i += 1
    }
    def isDrain(idx: Int): Boolean = {
      val r = idx / w
      val c = idx % w
      var k = 0
      var d = false
      while (k < 8 && !d) {
        val (_, dr, dc) = D8(k)
        if (pf.at(pf.row0 + r + dr, pf.col0 + c + dc).isNaN) d = true
        k += 1
      }
      d
    }
    val cand = Array.fill(n)(INF)
    val lab = Array.fill(n)(Long.MinValue)
    val done = new Array[Boolean](n)
    val pq = new java.util.PriorityQueue[(Double, Int)](
      (a: (Double, Int), b: (Double, Int)) => java.lang.Double.compare(a._1, b._1))
    val out = Array.newBuilder[(Long, Long, Double)]
    i = 0
    while (i < n) {
      if (!z(i).isNaN) {
        val r = i / w
        val c = i % w
        val edge = r == 0 || r == h - 1 || c == 0 || c == w - 1
        if (edge) {
          val key = (pf.row0 + r).toLong * ncols + (pf.col0 + c)
          out += ((key, -2L, z(i)))
          if (isDrain(i)) out += ((key, -1L, z(i)))
          cand(i) = z(i); lab(i) = key; pq.add((z(i), i))
        } else if (isDrain(i)) {
          cand(i) = z(i); lab(i) = -1L; pq.add((z(i), i))
        }
      }
      i += 1
    }
    val saddle = scala.collection.mutable.HashMap.empty[(Long, Long), Double]
    while (!pq.isEmpty) {
      val (v, u) = pq.poll()
      if (!done(u) && v == cand(u)) {
        done(u) = true
        val ur = u / w
        val uc = u % w
        var k = 0
        while (k < 8) {
          val (_, dr, dc) = D8(k)
          val rr = ur + dr
          val cc = uc + dc
          if (rr >= 0 && rr < h && cc >= 0 && cc < w) {
            val j = rr * w + cc
            if (!z(j).isNaN) {
              if (done(j)) {
                if (lab(j) != lab(u)) {
                  val p = if (lab(u) < lab(j)) (lab(u), lab(j)) else (lab(j), lab(u))
                  val sw = math.max(v, cand(j))
                  if (sw < saddle.getOrElse(p, INF)) saddle(p) = sw
                }
              } else {
                val cnd = math.max(z(j), v)
                if (cnd < cand(j)) { cand(j) = cnd; lab(j) = lab(u); pq.add((cnd, j)) }
              }
            }
          }
          k += 1
        }
      }
    }
    // (max, min) order: a saddle against the DRAIN label (-1) then lands
    // in the edge's b slot, where the driver reads it as a drain seed —
    // the same meaning (label a reaches a drain at weight w)
    saddle.foreach { case (p, sw) => out += ((p._2, p._1, sw)) }
    out.result().iterator
  }

  /** Pass-2 kernel: one tile-local flood seeded with the globally
    * resolved border fills (and interior drains at z). */
  private def refloodTile(pf: Stencil.Padded,
      bfill: scala.collection.Map[Long, Double], ncols: Long): Tile = {
    val h = pf.h
    val w = pf.w
    val n = h * w
    val INF = Double.PositiveInfinity
    val z = new Array[Double](n)
    var i = 0
    while (i < n) {
      z(i) = pf.at(pf.row0 + i / w, pf.col0 + i % w)
      i += 1
    }
    def isDrain(idx: Int): Boolean = {
      val r = idx / w
      val c = idx % w
      var k = 0
      var d = false
      while (k < 8 && !d) {
        val (_, dr, dc) = D8(k)
        if (pf.at(pf.row0 + r + dr, pf.col0 + c + dc).isNaN) d = true
        k += 1
      }
      d
    }
    val cand = new Array[Double](n)
    val done = new Array[Boolean](n)
    val pq = new java.util.PriorityQueue[(Double, Int)](
      (a: (Double, Int), b: (Double, Int)) => java.lang.Double.compare(a._1, b._1))
    i = 0
    while (i < n) {
      if (z(i).isNaN) cand(i) = Double.NaN
      else {
        val r = i / w
        val c = i % w
        var seed = INF
        if (r == 0 || r == h - 1 || c == 0 || c == w - 1) {
          val key = (pf.row0 + r).toLong * ncols + (pf.col0 + c)
          seed = bfill.getOrElse(key, INF)
        }
        if (isDrain(i)) seed = math.min(seed, z(i))
        cand(i) = seed
        if (seed != INF) pq.add((seed, i))
      }
      i += 1
    }
    while (!pq.isEmpty) {
      val (v, u) = pq.poll()
      if (!done(u) && v == cand(u)) {
        done(u) = true
        val ur = u / w
        val uc = u % w
        var k = 0
        while (k < 8) {
          val (_, dr, dc) = D8(k)
          val rr = ur + dr
          val cc = uc + dc
          if (rr >= 0 && rr < h && cc >= 0 && cc < w) {
            val j = rr * w + cc
            if (!done(j) && !z(j).isNaN) {
              val cnd = math.max(z(j), v)
              if (cnd < cand(j)) { cand(j) = cnd; pq.add((cnd, j)) }
            }
          }
          k += 1
        }
      }
    }
    Tile(pf.cellId, pf.row0, pf.col0, h, w, cand)
  }

  /** Two-pass fill body: condense (1 job) -> driver minimax solve ->
    * re-flood (1 job, eager). */
  private def fillSinksTwoPass(tiles: Dataset[Tile], ref: GridRef,
      res: Int): Dataset[Tile] = {
    import tiles.sparkSession.implicits._
    val INF = Double.PositiveInfinity
    val ncols = ref.ncols.toLong
    val nrows = ref.nrows.toLong
    val pad = Stencil.padded(tiles, ref, res)
      .localCheckpoint(false)
    try {
      val rows = pad.flatMap(pf => tileSpillGraph(pf, ncols)).collect()
      // assemble the global border graph: terminals carry z; DRAIN edges
      // seed the solve; saddles + cross-tile adjacencies connect it
      val zOf = scala.collection.mutable.HashMap.empty[Long, Double]
      val adj = scala.collection.mutable.HashMap
        .empty[Long, scala.collection.mutable.ArrayBuffer[(Long, Double)]]
      def nbrs(k: Long) =
        adj.getOrElseUpdate(k, scala.collection.mutable.ArrayBuffer.empty)
      val dist = scala.collection.mutable.HashMap.empty[Long, Double]
      val pq = new java.util.PriorityQueue[(Double, Long)](
        (a: (Double, Long), b: (Double, Long)) =>
          java.lang.Double.compare(a._1, b._1))
      rows.foreach {
        case (k, -2L, zv) => zOf(k) = zv
        case (a, -1L, wv) =>
          if (wv < dist.getOrElse(a, INF)) { dist(a) = wv; pq.add((wv, a)) }
        case (a, b, wv) => nbrs(a) += ((b, wv)); nbrs(b) += ((a, wv))
      }
      zOf.foreach { case (k, zv) =>
        val r = k / ncols
        val c = k % ncols
        var i = 0
        while (i < 8) {
          val (_, dr, dc) = D8(i)
          val rr = r + dr
          val cc = c + dc
          if (rr >= 0 && rr < nrows && cc >= 0 && cc < ncols &&
              ((rr >> res) != (r >> res) || (cc >> res) != (c >> res))) {
            val nk = rr * ncols + cc
            // one direction per iteration; the reverse is added at nk
            zOf.get(nk).foreach(zn => nbrs(k) += ((nk, math.max(zv, zn))))
          }
          i += 1
        }
      }
      while (!pq.isEmpty) {
        val (v, u) = pq.poll()
        if (v == dist.getOrElse(u, INF)) {
          adj.get(u).foreach(_.foreach { case (nb, wv) =>
            val nd = math.max(v, wv)
            if (nd < dist.getOrElse(nb, INF)) { dist(nb) = nd; pq.add((nd, nb)) }
          })
        }
      }
      val bfill: scala.collection.Map[Long, Double] = dist
      val bc = tiles.sparkSession.sparkContext.broadcast(bfill)
      pad.map(pf => refloodTile(pf, bc.value, ncols)).localCheckpoint(true)
    } finally pad.unpersist()
  }

  /** Iterative halo-relaxation fill (the pre-Barnes path, kept as the
    * above-`driverLimit` branch and as the FlowSpec equivalence gate). */
  private[operators] def fillSinksIterative(tiles: Dataset[Tile], ref: GridRef,
      res: Int): Dataset[Tile] = {
    import tiles.sparkSession.implicits._
    val INF = Double.PositiveInfinity
    val z = tiles.localCheckpoint(false)
    try {
      // init: drains (grid border / NaN-adjacent, via the padded z halo
      // which is NaN off-grid) start at z; everything else at +inf
      var state: Dataset[Tile] = Stencil.padded(z, ref, res).map { pz =>
        val h = pz.h
        val w = pz.w
        val payload = new Array[Double](h * w)
        var i = 0
        while (i < h * w) {
          val gz = pz.at(pz.row0 + i / w, pz.col0 + i % w)
          payload(i) =
            if (gz.isNaN) Double.NaN
            else {
              var drain = false
              var k = 0
              while (k < 8 && !drain) {
                val (_, dr, dc) = D8(k)
                if (pz.at(pz.row0 + i / w + dr, pz.col0 + i % w + dc).isNaN) drain = true
                k += 1
              }
              if (drain) gz else INF
            }
          i += 1
        }
        Tile(pz.cellId, pz.row0, pz.col0, h, w, payload)
      }.localCheckpoint(false)

      var rounds = 0
      var changed = 1L
      while (changed > 0) {
        rounds += 1
        require(rounds <= MaxRounds, s"fillSinks did not converge in $MaxRounds rounds")
        val pfDs = Stencil.padded(state, ref, res)
        // lazy checkpoint: the convergence agg below is the round's ONLY
        // job — it materializes (and caches) the (tile, changed) pairs,
        // and the next round's state reads the cached blocks. One job
        // per round instead of persist + agg + eager-checkpoint.
        val stepped = pfDs
          .joinWith(z, pfDs("cellId") === z("cellId"), "inner")
          .map { case (pf, zt) =>
            val out = localFill(pf, zt.payload)
            var ch = 0L
            var i = 0
            while (i < out.length) {
              val prev = pf.at(pf.row0 + i / pf.w, pf.col0 + i % pf.w)
              if (out(i) != prev && !(out(i).isNaN && prev.isNaN)) ch += 1
              i += 1
            }
            (Tile(pf.cellId, pf.row0, pf.col0, pf.h, pf.w, out), ch)
          }.localCheckpoint(false)
        // agg, not reduce: total over an EMPTY tiling is 0, not a crash
        changed = stepped.map(_._2)
          .agg(org.apache.spark.sql.functions.coalesce(
            org.apache.spark.sql.functions.sum("value"),
            org.apache.spark.sql.functions.lit(0L)))
          .head().getLong(0)
        state = stepped.map(_._1)
      }
      state
    } finally z.unpersist()
  }

  /** Nearest drainage along the D8 path — the routing core of HAND (Height
    * Above Nearest Drainage, Rennó et al. 2008): for every valid cell whose
    * downstream path touches a stream cell (flow accumulation >=
    * `threshold`), the FIRST stream cell touched and the exact step counts
    * to it — `(row, col, stream_r, stream_c, ncard, ndiag)`. Stream cells
    * map to themselves with (0, 0); cells draining to a pit without
    * crossing a stream are omitted (HAND undefined). Same condensation
    * scale shape as [[downstream]], with tile-local traces that STOP at
    * stream cells; the stream mask itself arrives per tile via an
    * equi-join on the tile cell id (never collected). */
  def nearestDrainage(tiles: Dataset[Tile], ref: GridRef, res: Int,
      threshold: Long, driverLimit: Int = 2000000): DataFrame = {
    import tiles.sparkSession.implicits._
    val cs = ref.cellsize
    val size = 1 << res
    val ncols = ref.ncols
    // per-tile stream mask as LOCAL indices, keyed by the owning tile's id
    val stops = flowAcc(tiles, ref, res).where($"acc" >= threshold)
      .select($"row", $"col").as[(Long, Long)]
      .map { case (r, c) =>
        val col0 = (c >> res) << res
        val w = math.min(size.toLong, ncols - col0)
        (CellId.ofPixel(r, c, res), ((r - ((r >> res) << res)) * w + (c - col0)).toInt)
      }
      .groupByKey(_._1).mapValues(_._2).mapGroups((cid, it) => (cid, it.toArray))
    val bare = Stencil.padded(tiles, ref, res)
    val padded = bare
      .joinWith(stops, bare("cellId") === stops("_1"), "left_outer")
      .map { case (pt, st) => (pt, if (st == null) Array.empty[Int] else st._2) }
      .persist()
    def stopMask(pt: Stencil.Padded, idx: Array[Int]): Array[Boolean] = {
      val stop = new Array[Boolean](pt.h * pt.w)
      idx.foreach(stop(_) = true)
      stop
    }
    try {
      // a crossing is done at the first stream cell past its target (ok)
      // or at the pit its target drains to first (not ok: undefined), or
      // points at the exit crossing its target routes to
      val seams = gate(traceSummariesDs(padded, cs) { case (pt, idx) => (pt, stopMask(pt, idx)) },
        driverLimit)
      val links = joinRoutes(seams) { (x, t) =>
        val (snc, snd) = step(x.xr, x.xc, x.kr, x.kc)
        ChaseRow(x.xr, x.xc, done = t.kind != 2, ok = t.kind == 4, t.xr, t.xc,
          snc + t.a, snd + t.b)
      }
      perTile(padded, "_1.cellId", chase(links), res)(_._1.cellId, l => (l.xr, l.xc)) {
        case ((pt, idx), in) =>
          val m = in.iterator.map(l => (l.xr, l.xc) -> l).toMap
          val dirs = dirPlane(pt, cs)
          val (typ, term, cnc, cnd) = localTrace(pt, dirs, stopMask(pt, idx))
          val out = Array.newBuilder[(Long, Long, Long, Long, Long, Long)]
          var i = 0
          while (i < dirs.length) {
            if (typ(i) == 4) {
              out += (((pt.row0 + i / pt.w).toLong, (pt.col0 + i % pt.w).toLong,
                (pt.row0 + term(i) / pt.w).toLong, (pt.col0 + term(i) % pt.w).toLong,
                cnc(i).toLong, cnd(i).toLong))
            } else if (typ(i) == 2) {
              val l = m(((pt.row0 + term(i) / pt.w).toLong, (pt.col0 + term(i) % pt.w).toLong))
              if (l.ok)
                out += (((pt.row0 + i / pt.w).toLong, (pt.col0 + i % pt.w).toLong,
                  l.lr, l.lc, cnc(i) + l.nc, cnd(i) + l.nd))
            }
            i += 1
          }
          out.result().iterator
      }.toDF("row", "col", "stream_r", "stream_c", "ncard", "ndiag").localCheckpoint(true)
    } finally padded.unpersist()
  }

  /** Strahler stream order (Strahler 1957): for every stream cell (flow
    * accumulation >= `threshold`), its order in the D8 stream forest —
    * sources are 1; a confluence takes the max parent order, +1 when two
    * or more parents share that max; chain cells (exactly one stream
    * parent) carry their chain head's order unchanged.
    *
    * Scale shape, three stages:
    *   1. classify: stream cells with in-degree != 1 are NODES (sources,
    *      junctions); in-degree-1 cells are CHAIN cells with a unique
    *      parent pointer.
    *   2. [[chase]] UP the parent pointers to the first node gives every
    *      stream cell its chain HEAD.
    *   3. the junction forest (each node's one out-edge: the stream edge
    *      that leaves its chain into the next node, O(#nodes) rows) is
    *      solved by [[peel]] with the Strahler rule as its fold.
    * `driverLimit` bounds the rows each solve collects on the driver:
    * every stream cell for the chase, every node for the forest. */
  def strahlerOrder(tiles: Dataset[Tile], ref: GridRef, res: Int,
      threshold: Long, driverLimit: Int = 2000000): DataFrame = {
    val spark = tiles.sparkSession
    import spark.implicits._
    // ONE flowAcc feeds both the channel mask and the edge set (calling
    // streamNetwork here would run the whole tile condensation twice)
    val streamCells = flowAcc(tiles, ref, res).where($"acc" >= threshold)
      .select($"row", $"col").persist()
    val dirs = flowDir(tiles, ref, res).where($"dir" > 0)
      .select($"row", $"col", $"dir")
    val net = streamCells.join(dirs, Seq("row", "col"))
      .select($"row", $"col",
        ($"row" + expr(D8RowCase)).as("to_r"),
        ($"col" + expr(D8ColCase)).as("to_c"))
      .persist()
    val indeg = net.groupBy($"to_r".as("row"), $"to_c".as("col"))
      .agg(count(lit(1)).as("indeg"))
    val deg = streamCells.join(indeg, Seq("row", "col"), "left")
      .na.fill(0L, Seq("indeg")).persist()
    try {
      val nodes = deg.where($"indeg" =!= 1).select($"row", $"col")
      // a node is its own head; a chain cell points at its unique parent
      val parents = net.select($"to_r".as("row"), $"to_c".as("col"),
        $"row".as("pr"), $"col".as("pc"))
      val links = nodes
        .select($"row".as("xr"), $"col".as("xc"), lit(true).as("done"), lit(true).as("ok"),
          $"row".as("lr"), $"col".as("lc"), lit(0L).as("nc"), lit(0L).as("nd"))
        .unionByName(deg.where($"indeg" === 1).join(parents, Seq("row", "col"))
          .select($"row".as("xr"), $"col".as("xc"), lit(false).as("done"), lit(true).as("ok"),
            $"pr".as("lr"), $"pc".as("lc"), lit(0L).as("nc"), lit(0L).as("nd")))
        .as[ChaseRow]
      def ds[T: Encoder](s: Solved[T]): Dataset[T] = s.fold(a => spark.createDataset(a.toSeq), identity)
      val lab = ds(chase(gate(links, driverLimit)))
        .select($"xr".as("row"), $"xc".as("col"), $"lr".as("hr"), $"lc".as("hc"))
      val outEdge = net
        .join(nodes.select($"row".as("to_r"), $"col".as("to_c")), Seq("to_r", "to_c"))
        .join(lab, Seq("row", "col"))
        .select($"hr".as("xr"), $"hc".as("xc"), $"to_r".as("sr"), $"to_c".as("sc"))
      val forest = nodes.select($"row".as("xr"), $"col".as("xc"))
        .join(outEdge, Seq("xr", "xc"), "left")
        .select($"xr", $"xc", coalesce($"sr", lit(-1L)).as("sr"), coalesce($"sc", lit(-1L)).as("sc"),
          lit(0L).as("a"), lit(0L).as("b"), lit(0L).as("ea"), lit(0L).as("eb"),
          lit(0L).as("tr"), lit(0L).as("tc"))
        .as[PeelRow]
      // (a, b) = (largest parent order, how many parents share it)
      val order = (n: PeelRow) => if (n.b == 0) 1L else n.a + (if (n.b >= 2) 1L else 0L)
      val orders = ds(peel(gate(forest, driverLimit))(n => (order(n), 1L)) { (p, q) =>
        if (q._1 > p._1) q else if (q._1 == p._1) (p._1, p._2 + q._2) else p
      }).map(n => (n.xr, n.xc, order(n))).toDF("hr", "hc", "strahler")
      lab.join(orders, Seq("hr", "hc"))
        .select($"row", $"col", $"strahler")
        .localCheckpoint(true)
    } finally { deg.unpersist(); net.unpersist(); streamCells.unpersist() }
  }

  /** Stream-network extraction: the D8 edges whose source cell's flow
    * accumulation meets `threshold` — `(row, col, to_r, to_c, acc)`. The
    * classic channel-initiation rule (acc >= support area). One join of
    * [[flowAcc]] and [[flowDir]] on the cell key. */
  def streamNetwork(tiles: Dataset[Tile], ref: GridRef, res: Int,
      threshold: Long): DataFrame = {
    import tiles.sparkSession.implicits._
    val acc = flowAcc(tiles, ref, res).where($"acc" >= threshold)
    val dir = flowDir(tiles, ref, res).where($"dir" > 0)
      .select($"row", $"col", $"dir")
    acc.join(dir, Seq("row", "col"))
      .select($"row", $"col",
        ($"row" + expr(D8RowCase)).as("to_r"),
        ($"col" + expr(D8ColCase)).as("to_c"),
        $"acc")
  }
}
