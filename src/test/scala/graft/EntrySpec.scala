package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class EntrySpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("flagship entry: rows > 0, caption lineage intact, burn stats present") {
    val rows = SparkEntry.entry(spark).collect()
    assert(rows.length >= 6)
    val byStage = rows.map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byStage("corpus_caption_ok") == 64L)
    assert(byStage("corpus_mosaic_valid_px") > 0L)
    assert(rows.count(_.getString(0).startsWith("edit_burn_")) == 4)
  }

  test("every oracleSql key has a matching queries entry") {
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }

  test("README quickstart flow: tif -> rect_clip -> rasterize(shp) -> edit -> write") {
    // the reference quickstart (README.md:36-60): Raster(tif) -> rect_clip
    // -> rasterize(shp) -> edit cells inside polygons -> write. Runs here
    // end-to-end on the engine's own GeoTIFF reader and the CA1 shapefile
    // rebuilt from its FIXTURES.md decode (the reference's .tif is stripped
    // from the snapshot, so the deterministic fixture DEM stands in for the
    // pixel content).
    import org.apache.spark.sql.functions._
    import spark.implicits._
    import graft.core._
    import graft.corpus.Synth
    import graft.operators.{Rasterize, TileOps}
    import graft.sources.{AscIO, GeoTiffReader, GeoTiffWriter, ShpReader}
    val shp = getClass.getResource("/CA1_overhead_features.shp").getPath
    val dir = java.nio.file.Files.createTempDirectory("quickstart")
    val ref = Synth.demRef.withEpsg(27700)
    val data = Array.tabulate(ref.nrows * ref.ncols)(i =>
      Synth.demValue(i / ref.ncols, i % ref.ncols))
    val tif = dir.resolve("dem.tif").toString
    GeoTiffWriter.write(tif, ref, data, tileSize = 64)

    // 1. read raster  2. clip  3. rasterize shapefile  4. edit  5. write
    val tiles = GeoTiffReader.readTiles(spark, tif, 6).map(_._2)
    val (clipped, (r0, r1, c0, c1)) =
      TileOps.rectClip(tiles, ref, Extent(340761, 341528, 554668, 555682), 6)
    val features = ShpReader.readFeatures(shp, "adjust_val")
    val burned = Rasterize(spark, features, ref, 6, useAttr = true)
    val edited = Rasterize.editJoin(TileOps.cells(clipped), burned)
      .withColumn("v2",
        when($"burn".isNotNull && $"v".isNotNull, $"v" - $"burn")
          .otherwise($"v"))
    val nEdited = edited.filter($"burn".isNotNull && $"v".isNotNull).count()
    assert(nEdited > 0)
    // write the edited clip back out as ASC and GeoTIFF; round-trip checks
    val outRef = ref.windowRef(r0, r1, c0, c1)
    val cellRows = edited.select($"row", $"col", $"v2").collect()
    val out = Array.fill(outRef.ncols * outRef.nrows)(Double.NaN)
    cellRows.foreach { r =>
      if (!r.isNullAt(2))
        out((r.getInt(0) - r0) * outRef.ncols + (r.getInt(1) - c0)) = r.getDouble(2)
    }
    val asc = dir.resolve("edited.asc").toString
    AscIO.writeFile(asc, outRef, out)
    val (refBack, dataBack) = AscIO.readFile(asc)
    assert(refBack == outRef) // incl. the EPSG:27700 crs via .prj sidecar
    assert(dataBack.count(!_.isNaN) == out.count(!_.isNaN))
    val tifOut = dir.resolve("edited.tif").toString
    GeoTiffWriter.write(tifOut, outRef, out)
    val back = GeoTiffReader.read(tifOut)
    assert(back.ref == outRef && back.epsg == 27700)
  }
}
