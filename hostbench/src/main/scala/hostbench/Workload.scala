package hostbench

import java.io.File
import org.apache.spark.sql.SparkSession

/** A pass's output disagreed with the value derived from its inputs. */
final class WrongOutput(msg: String) extends RuntimeException(msg)

/** One benchmark workload. Inputs are generated from the seed in `prepare`
  * (part of set-up); the engine only ever sees those generated inputs. */
trait Workload {
  /** Input units one pass processes (corpus tiles, DEM cells). */
  def units: Long

  /** Set-up: generate this workload's inputs, writing any files under
    * `dir`. */
  def prepare(spark: SparkSession, dir: File): Unit

  /** The timed part of one pass, writing any files under `passDir`.
    * Returns the pass's output check, which runs after the timer stops,
    * throws [[WrongOutput]] on a wrong result, and fills in each layer's
    * row count on `ctx`. */
  def pass(spark: SparkSession, ctx: Layers, passDir: File): () => Unit

  def expect(what: String, got: Any, want: Any): Unit =
    if (got != want) throw new WrongOutput(s"$what: got $got, expected $want")
}

object Workload {
  /** Every layer either workload calls; the traced run reports all of them
    * on both workloads, so a layer a workload bypasses reads 0. */
  val LayerNames: Seq[String] = Seq("TileOps.dedup", "ImageCodec.decode",
    "Rasterize.burn", "Knn.nearest", "IceLite.commit", "IceLite.read",
    "Rasterize.editJoin", "Flow.fillSinks", "Flow.flowAcc")

  /** Useful-outcome ratios of the layers that can waste work; 0 on the
    * workload that bypasses the layer. */
  val Ratios: Seq[String] = Seq("TileOps.dedup.winner_ratio",
    "Rasterize.editJoin.edited_ratio")

  /** splitmix64: the benchmark's only source of seeded variation. */
  def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Uniform double in [0, 1) from (seed, stream, index). */
  def unit(seed: Long, stream: Long, i: Long): Double =
    (mix(seed * 0x632BE59BD9B4E019L ^ mix(stream * 0x8CB92BA72F3D8DD7L ^ i)) >>> 11) *
      (1.0 / (1L << 53))
}
