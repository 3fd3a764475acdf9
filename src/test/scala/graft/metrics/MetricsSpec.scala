package graft.metrics

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.core._
import graft.corpus.Synth
import graft.operators.Rasterize

/** Accumulator-backed metrics (north rule): counters captured into
  * operator closures must roll up to exactly the work the job did. */
class MetricsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  val res = 6

  test("rasterize burnedPx accumulator equals emitted burn count (plain path)") {
    val m = PipelineMetrics.register(spark)
    val n = Rasterize(spark, Synth.ca1Features, Synth.demRef, res,
      useAttr = true, burnedPx = Some(m.cellsBurned)).count()
    assert(n > 0)
    assert(m.cellsBurned.value == n)
    assert(m.tilesDecoded.value == 0) // untouched counters stay zero
  }

  test("rasterize burnedPx accumulator equals emitted burn count (salted path)") {
    import spark.implicits._
    val m = PipelineMetrics.register(spark)
    val cover = Rasterize.cover(spark, Synth.ca1Features, Synth.demRef, res,
      useAttr = true)
    val salted = Rasterize.burn(cover, Synth.demRef, salt = 4,
      burnedPx = Some(m.cellsBurned))
    val n = salted.count()
    assert(n > 0)
    assert(m.cellsBurned.value == n)
    // salting must not change the burn itself
    val plain = Rasterize.burn(cover, Synth.demRef)
      .collect().map(p => (p.row, p.col) -> p.v).toMap
    assert(salted.collect().map(p => (p.row, p.col) -> p.v).toMap == plain)
    // the second action re-ran the salted burn: accumulator grows (metric,
    // not exactly-once count) — documented semantics
    assert(m.cellsBurned.value == 2 * n)
  }

  test("icelite commitResumable rowsCommitted accumulator equals lineage row total") {
    import spark.implicits._
    val m = PipelineMetrics.register(spark)
    val dir = java.nio.file.Files.createTempDirectory("metrics_ice").toString
    val r = res // local copy: the task closure must not capture the suite
    val ds = spark.range(16).map { i =>
      Tile(CellId.encode(r, i % 4, i / 4), 0, 0, 2, 2,
        Array(i.toDouble, i + 0.5, i + 0.25, i + 0.75))
    }
    graft.icelite.IceLite.commitResumable(spark, ds, dir, buckets = 4,
      snap = 1L, rowsCommitted = Some(m.rowsCommitted))
    assert(m.rowsCommitted.value == 16L)
  }

  test("pipeline metrics snapshot: decode + burn counters populate through Bench.pipeline") {
    val m = PipelineMetrics.register(spark)
    val n = 64L
    val gridW = 8
    val path = java.nio.file.Files.createTempDirectory("metrics_corpus").toString + "/c"
    graft.corpus.ImageCorpus.generate(spark, n, gridW)
      .write.mode("overwrite").parquet(path)
    graft.Bench.pipeline(spark, path, n, gridW, Some(m))
    // n = 64 < 251: the duplicate rule never fires, so every tile wins
    assert(m.tilesDecoded.value == n)
    assert(m.pixelsDecoded.value ==
      n * graft.corpus.ImageCorpus.TileSize * graft.corpus.ImageCorpus.TileSize)
    assert(m.cellsBurned.value > 0)
    val snap = m.snapshot.toMap
    assert(snap("tiles_decoded") == n)
    assert(m.json.contains("\"cells_burned\":"))
  }
}
