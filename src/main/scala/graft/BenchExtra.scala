package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Extra measurement harness (guide §1: measure first) — NOT part of the
  * frozen driver contract. Times individual SparkEntry queries with a
  * per-job breakdown so optimization targets the right stage:
  *
  *   SPARK_GRAFT_EXTRA_QUERIES=q23_cdc_apply,s4_stream_join \
  *     sbt "runMain graft.BenchExtra"
  *
  * Unset SPARK_GRAFT_EXTRA_QUERIES times every SparkEntry query. The
  * summary line per query gives its row count next to the times.
  * Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS (default 32),
  * SPARK_GRAFT_EXTRA_REPS (timed reps after one warm pass, default 2),
  * SPARK_GRAFT_EXTRA_JOBS=1 to print every Spark job (wall, description).
  * Uses the same session settings as Bench so numbers are comparable. */
object BenchExtra {

  private final class JobLog extends SparkListener {
    case class J(id: Int, t0: Long, desc: String)
    private val open = scala.collection.concurrent.TrieMap[Int, J]()
    val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    @volatile var enabled = false
    override def onJobStart(js: SparkListenerJobStart): Unit = if (enabled) {
      def prop(k: String) = Option(js.properties)
        .flatMap(p => Option(p.getProperty(k))).getOrElse("")
      val desc = prop("spark.job.description") match {
        case "" => prop("callSite.short")
        case d => d
      }
      open.put(js.jobId, J(js.jobId, System.nanoTime(), desc))
      ()
    }
    override def onJobEnd(je: SparkListenerJobEnd): Unit = if (enabled) {
      open.remove(je.jobId).foreach { j =>
        lines.add(f"    job ${j.id}%4d ${(System.nanoTime() - j.t0) / 1e9}%7.3fs  ${j.desc}")
      }
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val reps = sys.env.getOrElse("SPARK_GRAFT_EXTRA_REPS", "2").toInt
    val logJobs = sys.env.contains("SPARK_GRAFT_EXTRA_JOBS")
    val names = sys.env.get("SPARK_GRAFT_EXTRA_QUERIES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(SparkEntry.queries.keys.toSeq.sorted)
    val spark = Bench.session(cpus, coalesce = true)
    val jl = new JobLog
    spark.sparkContext.addSparkListener(jl)
    if (sys.env.contains("SPARK_GRAFT_EXTRA_STREAM")) {
      spark.streams.addListener(
        new org.apache.spark.sql.streaming.StreamingQueryListener {
          import org.apache.spark.sql.streaming.StreamingQueryListener._
          override def onQueryStarted(e: QueryStartedEvent): Unit = ()
          override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
          override def onQueryProgress(e: QueryProgressEvent): Unit = {
            val p = e.progress
            import scala.jdk.CollectionConverters._
            val d = p.durationMs.asScala.toSeq.sortBy(-_._2)
              .map { case (k, v) => s"$k=$v" }.mkString(" ")
            val so = p.stateOperators.map { o =>
              s"${o.operatorName}[commit=${o.commitTimeMs} rows=${o.numRowsTotal} mem=${o.memoryUsedBytes}]"
            }.mkString(" ")
            println(s"    [stream ${p.name} batch ${p.batchId}] rows=${p.numInputRows} $d | $so")
          }
        })
    }
    val qs = SparkEntry.queries
    names.foreach { name =>
      val fn = qs.getOrElse(name,
        throw new IllegalArgumentException(s"unknown query $name"))
      // one untimed warm pass (JIT/codegen/footers), as in Bench
      fn(spark, sfDir).count()
      val runs = (1 to reps).map { r =>
        jl.lines.clear()
        jl.enabled = logJobs
        val t0 = System.nanoTime()
        val n = fn(spark, sfDir).count()
        val s = (System.nanoTime() - t0) / 1e9
        jl.enabled = false
        if (logJobs && r == reps) {
          println(f"  [$name rep$r] jobs:")
          jl.lines.forEach(println(_))
        }
        (n, s)
      }
      val secs = runs.map(_._2)
      println(f"$name%-28s rows=${runs.map(_._1).distinct.mkString("/")}  min=${secs.min}%7.3fs  reps=${secs.map(x => f"$x%.3f").mkString(",")}")
    }
    spark.stop()
  }
}
