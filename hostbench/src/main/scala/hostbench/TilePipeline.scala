package hostbench

import java.io.File
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{CellId, Feature, GridRef}
import graft.corpus.{ImageCorpus, ImageRow}
import graft.codecs.ImageCodec
import graft.operators.{Knn, PtRec, Rasterize}

/** `tile_pipeline`: the composition `graft.Bench.pipeline` runs — corpus
  * parquet scan, descriptor dedup by cell id, `ImageCodec.decodeStats` on
  * the winners, `Rasterize` with 50x hot-cell features on tile row 0, and a
  * `Knn.nearestBucketed` slab. Untraced it keeps that composition's two
  * submitters (stats+burn as one job, kNN on a second thread). Traced, the
  * dedup is materialised first and decode, burn and kNN each run on their
  * own submitter thread under their own job group.
  *
  * `ImageCorpus.generate` takes no seed, so the seed moves only what the
  * benchmark builds itself: the quads' inset and the kNN points. */
final class TilePipeline(n: Long, seed: Long) extends Workload {
  private val gridW = 32
  private val ref = ImageCorpus.corpusRef(n, gridW)
  private val tileRows = ((n + gridW - 1) / gridW).toInt
  def units: Long = n

  private var corpusPath: String = _

  def prepare(spark: SparkSession, dir: File): Unit = {
    corpusPath = new File(dir, "corpus").getPath
    ImageCorpus.generate(spark, n, gridW).write.mode("overwrite").parquet(corpusPath)
  }

  private val winners = n - (n - 1) / 251

  /** One quad per 2x2 tile block, inset by a seeded 60..67 px, burning
    * tx + ty; tile row 0 carries 50 copies of each (the hot cells). */
  private val quads: Seq[Feature] = for {
    ty <- 0 until tileRows by 2
    tx <- 0 until gridW by 2
    rep <- 0 until (if (ty == 0) 50 else 1)
  } yield {
    val e = CellId.extent(ref, CellId.encode(ImageCorpus.TileRes, tx, ty))
    val inset = (60 + (Workload.unit(seed, 1, ty.toLong * gridW + tx) * 8).toInt) * ref.cellsize
    Feature((ty * gridW + tx) * 64L + rep, "polygon",
      Array(e.left + inset, e.right + inset, e.right - inset, e.left - inset, e.left + inset)
        .map(x => math.max(ref.left + 1, math.min(ref.right - 1, x))),
      Array(e.bottom + inset, e.bottom + inset, e.top - inset, e.top - inset, e.bottom + inset)
        .map(y => math.max(ref.bottom + 1, math.min(ref.top - 1, y))),
      attr = (tx + ty).toDouble, seq = ty * gridW + tx)
  }
  // burn values are the sums tx + ty of even coordinates: 0, 2, ..., maxTx + maxTy
  private val burnValues = ((gridW - 1) / 2 * 2 + (tileRows - 1) / 2 * 2) / 2 + 1

  // kNN slab with 2 seeded points per tile at one point per 64 cells, the
  // density of Bench.pipeline's slab at its 16,384-tile size: the height
  // follows Bench.pipeline (256 px per 512 tile rows) and the width holds
  // the density, so a smaller corpus gets a narrower slab, not a sparser
  // one (sparse points make every ring search escalate)
  private val slabHpx = 256 * math.max(1, tileRows / 512)
  private val slabW = math.max(256, ((128 * n / slabHpx + 63) / 64 * 64).toInt)
  private val slabRef = GridRef(slabW, slabHpx, ref.left,
    ref.top - slabHpx * ref.cellsize, ref.cellsize)

  def pass(spark: SparkSession, ctx: Layers, passDir: File): () => Unit = {
    import spark.implicits._
    val corpus = spark.read.parquet(corpusPath).as[ImageRow]
    val gw = gridW
    val desc = corpus.select("image_id").as[String].map { id =>
      val (cid, seq) = TilePipeline.cellOf(id, gw)
      (cid, seq, id)
    }
    val losers = desc.groupByKey(_._1).flatMapGroups { (_, it) =>
      val rows = it.toArray
      if (rows.length <= 1) Iterator.empty
      else rows.sortBy(-_._2).iterator.drop(1).map(_._3)
    }.toDF("image_id")
    def stats(losers: DataFrame) = corpus.join(losers, Seq("image_id"), "left_anti")
      .as[ImageRow].map { row =>
        val (cid, seq) = TilePipeline.cellOf(row.image_id, gw)
        val (valid, mx, px) = ImageCodec.decodeStats(row.bytes, row.fmt)
        (cid, seq, valid, mx, px)
      }.toDF("cell_id", "seq", "valid", "max_v", "px")
    val burned = Rasterize(spark, quads, ref, ImageCorpus.TileRes, useAttr = true)
      .groupBy($"v").count()
    val (left, bottom, wM, hM, s) = (slabRef.left, slabRef.bottom,
      slabW * ref.cellsize, slabHpx * ref.cellsize, seed)
    val pts = spark.range(2 * n).map { i =>
      PtRec(i, left + Workload.unit(s, 2, i) * wM, bottom + Workload.unit(s, 3, i) * hM,
        (i % 400) / 4.0)
    }
    def knn = Knn.nearestBucketed(spark, pts, slabRef, res = 6, ringK = 1)
    def countOf(df: DataFrame): Long = df.agg(count(lit(1))).collect()(0).getLong(0)

    val total =
      if (!ctx.traced) {
        val main = Forked(stats(losers).agg(count(lit(1)).as("v"))
          .unionByName(burned.agg(count(lit(1)).as("v")))
          .collect().map(_.getLong(0)).sum)
        val nearest = Forked(countOf(knn))
        main.join() + nearest.join()
      } else {
        val nearest = Forked(ctx("Knn.nearest")(countOf(knn)))
        val burn = Forked(ctx("Rasterize.burn")(countOf(burned)))
        val losersDone = ctx("TileOps.dedup")(losers.localCheckpoint(true))
        // a checkpoint carries no size statistics, so without the hint the
        // planner shuffles the payload side the way the untraced plan,
        // where AQE sees the small loser side, never does
        val decoded = Forked(ctx("ImageCodec.decode")(countOf(stats(broadcast(losersDone)))))
        val (d, b, k) = (decoded.join(), burn.join(), nearest.join())
        ctx.rows ++= Seq("TileOps.dedup" -> n, "ImageCodec.decode" -> d,
          "Rasterize.burn" -> b, "Knn.nearest" -> k)
        ctx.ratios("TileOps.dedup.winner_ratio") = d.toDouble / n
        d + b + k
      }
    () => expect("tile_pipeline total", total, winners + burnValues + slabW.toLong * slabHpx)
  }
}

object TilePipeline {
  /** (cell id, sequence) of a corpus image; the corpus plants a duplicate of
    * row i-1 at every i % 251 == 0, i > 0. */
  def cellOf(imageId: String, gridW: Int): (Long, Long) = {
    val i = imageId.stripPrefix("img-").toLong
    val src = if (i > 0 && i % 251 == 0) i - 1 else i
    (CellId.encode(ImageCorpus.TileRes, (src % gridW).toInt, (src / gridW).toInt), i)
  }
}
