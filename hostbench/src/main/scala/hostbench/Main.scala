package hostbench

import java.io.File
import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.ListenerBusDrain
import org.apache.spark.sql.SparkSession

/** Benchmark process for one run of one workload. `run.py` builds the
  * classpath, sizes the heap from the host and launches this with:
  *
  *   --workload tile_pipeline|dem_edit_flow  --seed N  --seconds S
  *   --trace 0|1  --cpus N  --scratch DIR  --out DIR
  *   [--smoke 1] [--inject-failure 1]
  *
  * A run sets up three times (once with --smoke 1): a fresh session, input
  * generation and one warm pass. It runs one more untimed pass, and then
  * runs passes back to back, one closed-loop client, until S seconds have
  * gone. With --trace 1 untraced and traced passes alternate, so the
  * trace's cost is measured in the same run. Every pass checks its output;
  * a pass that throws or checks wrong counts as failed and gives no time.
  * The last stdout line is one JSON object. */
object Main {

  private final case class Opts(workload: String, seed: Long, seconds: Double,
      trace: Boolean, cpus: Int, scratch: File, out: File, smoke: Boolean,
      injectFailure: Boolean) {
    def setups: Int = if (smoke) 1 else 3
  }

  private def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def get(k: String) = kv.getOrElse(k, sys.error(s"missing --$k"))
    Opts(get("workload"), get("seed").toLong, get("seconds").toDouble,
      get("trace") == "1", get("cpus").toInt, new File(get("scratch")),
      new File(get("out")), kv.get("smoke").contains("1"),
      kv.get("inject-failure").contains("1"))
  }

  /** Input sizes. The defaults are the measured sizes; they shrink when the
    * heap (itself sized from the host's memory) is small. */
  private def sizes(o: Opts): Map[String, Long] = {
    val heapMb = Runtime.getRuntime.maxMemory / 1048576
    if (o.smoke) Map("tiles" -> 96L, "dem_side" -> 256L, "polygons" -> 40L)
    else Map(
      "tiles" -> math.min(1024L, heapMb / 2),
      "dem_side" -> (if (heapMb >= 2048) 1024L else 512L),
      "polygons" -> 1500L)
  }

  private def workload(o: Opts, sz: Map[String, Long]): Workload = o.workload match {
    case "tile_pipeline" => new TilePipeline(sz("tiles"), o.seed)
    case "dem_edit_flow" =>
      new DemEditFlow(sz("dem_side").toInt, sz("polygons").toInt, o.seed, o.cpus)
    case w => sys.error(s"unknown workload $w")
  }

  /** The session `graft.Bench` uses for its pipeline, with Spark's scratch
    * space moved into the benchmark's own directory. */
  private def session(o: Opts): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${o.cpus}]")
      .appName(s"hostbench-${o.workload}")
      .config("spark.sql.shuffle.partitions", (o.cpus * 4).toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
      .config("spark.sql.parquet.columnarReaderBatchSize", "256")
      .config("spark.scheduler.mode", "FAIR")
      .config("spark.local.dir", new File(o.scratch, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(o.scratch, "warehouse").getPath)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  private def num(x: Double): String =
    if (x.isNaN || x.isInfinite) "0.0" else x.toString

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val sz = sizes(o)
    val wl = workload(o, sz)
    val tracer = new Tracer(s"${o.workload}-seed${o.seed}-trace${if (o.trace) 1 else 0}")
    val runSpan = tracer.nextId()
    val runStart = tracer.now
    val listener = new LayerListener
    var spark: SparkSession = null
    var attempted = 0
    var failed = 0
    var passNo = 0

    final case class Pass(wall: Double, traced: Boolean, layers: Map[String, Double])

    def runPass(traced: Boolean): Option[Pass] = {
      passNo += 1
      attempted += 1
      val sc = spark.sparkContext
      val passDir = new File(o.scratch, s"pass-$passNo")
      val persisted = sc.getPersistentRDDs.keySet
      val passSpan = tracer.nextId()
      val ctx = new Layers(spark, if (traced) Some(tracer) else None, passNo, passSpan)
      if (traced) sc.addSparkListener(listener)
      val t0 = tracer.now
      var t1 = t0
      try {
        if (o.injectFailure && attempted == o.setups + 1)
          spark.range(1).map(_ => throw new IllegalStateException("injected failure"))(
            org.apache.spark.sql.Encoders.scalaLong).count()
        val check = wl.pass(spark, ctx, passDir)
        t1 = tracer.now
        check()
        val layers =
          if (!traced) Map.empty[String, Double]
          else {
            ListenerBusDrain(sc)
            val spans = tracer.all.filter(_.parent == passSpan)
            val covered = LayerMetrics.unionLength(spans.map(s => (s.start, s.end)), t0, t1)
            LayerMetrics.ofPass(Workload.LayerNames, spans, listener, ctx) ++
              Workload.Ratios.map(r => r -> ctx.ratios.getOrElse(r, 0.0)) ++
              Map("trace.coverage" -> covered / (t1 - t0))
          }
        Some(Pass((t1 - t0) / 1e3, traced, layers))
      } catch {
        case e: Throwable =>
          failed += 1
          System.err.println(s"[hostbench] pass $passNo failed: $e")
          None
      } finally {
        if (t1 == t0) t1 = tracer.now
        tracer.record(Span(passSpan, if (traced) "pass.traced" else "pass", t0, t1,
          runSpan, tracer.run))
        if (traced) sc.removeSparkListener(listener)
        sc.getPersistentRDDs.foreach { case (id, rdd) =>
          if (!persisted.contains(id)) rdd.unpersist(blocking = true)
        }
        deleteTree(passDir)
      }
    }

    try {
      val setupSecs = (1 to o.setups).map { i =>
        val t0 = System.nanoTime()
        if (spark != null) spark.stop()
        val dir = new File(o.scratch, s"setup-$i")
        spark = session(o)
        wl.prepare(spark, dir)
        runPass(traced = false)
        val secs = (System.nanoTime() - t0) / 1e9
        deleteTree(new File(o.scratch, s"setup-${i - 1}"))
        secs
      }

      // one more untimed pass: the JIT is still compiling Spark and the
      // engine's kernels after the set-ups' warm passes
      if (!o.smoke) runPass(traced = false)

      // closed loop: the next pass starts when the previous one returns
      val passes = ArrayBuffer.empty[Pass]
      val deadline = System.nanoTime() + (o.seconds * 1e9).toLong
      var k = 0
      def inWindow = if (o.smoke) k < 1 else System.nanoTime() < deadline
      // past the window, keep going (a few passes at most) until each kind
      // of pass has at least one success
      def missing(traced: Boolean) = !passes.exists(_.traced == traced)
      while (inWindow || (missing(false) || o.trace && missing(true)) && k < 4) {
        runPass(traced = o.trace && k % 2 == 1).foreach(passes += _)
        k += 1
      }

      val plain = passes.filterNot(_.traced).map(_.wall).toSeq
      val runS = median(plain)
      val metrics: Seq[(String, Double, String)] =
        if (!o.trace) Seq(
          ("setup_s", median(setupSecs), "s"),
          ("run_s", runS, "s"),
          ("items_per_s", wl.units / runS, "1/s"),
          ("ok_ratio", (attempted - failed).toDouble / attempted, "ratio"))
        else {
          val traced = passes.filter(_.traced).toSeq
          val names = traced.headOption.map(_.layers.keys.toSeq.sorted).getOrElse(Seq.empty)
          val units = LayerMetrics.Quantities.toMap
          names.map { n =>
            val unit =
              if (n.endsWith("_ratio") || n == "trace.coverage") "ratio"
              else units(n.substring(n.lastIndexOf('.') + 1))
            (n, median(traced.map(_.layers(n))), unit)
          } :+ ("trace.overhead_s", median(traced.map(_.wall)) - runS, "s")
        }

      tracer.record(Span(runSpan, "run", runStart, tracer.now, 0, tracer.run))
      o.out.mkdirs()
      Files.writeString(Paths.get(o.out.getPath, s"spans-${tracer.run}.json"), tracer.json)
      val correct = failed == 0 && plain.nonEmpty
      val m = metrics.map { case (n, v, u) => s""""$n":{"value":${num(v)},"unit":"$u"}""" }
      val s = sz.map { case (k, v) => s""""$k":$v""" } ++ Seq(
        s""""cpus":${o.cpus}""", s""""heap_mb":${Runtime.getRuntime.maxMemory / 1048576}""",
        s""""passes":${passes.size}""", s""""setups":${o.setups}""")
      println(s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,""" +
        s""""metrics":{${m.mkString(",")}},"sizes":{${s.mkString(",")}}}""")
    } finally {
      if (spark != null) spark.stop()
    }
  }
}
