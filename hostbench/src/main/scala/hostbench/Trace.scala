package hostbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger
import scala.collection.concurrent.TrieMap
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** One traced interval: a run, a pass, or one call into a layer. Times are
  * epoch milliseconds; `parent` is the id of the enclosing span (0 for the
  * run itself) and `run` identifies the process run the span belongs to. */
final case class Span(id: Int, name: String, start: Double, end: Double,
    parent: Int, run: String) {
  def dur: Double = end - start
}

/** In-memory span store for one run; written out once, at exit. */
final class Tracer(val run: String) {
  private val nano0 = System.nanoTime()
  private val epoch0 = System.currentTimeMillis().toDouble
  private val ids = new AtomicInteger(0)
  private val spans = new ConcurrentLinkedQueue[Span]()

  def now: Double = epoch0 + (System.nanoTime() - nano0) / 1e6
  def nextId(): Int = ids.incrementAndGet()
  def record(s: Span): Unit = spans.add(s)
  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.id)

  def json: String = all.map { s =>
    f"""{"id":${s.id},"name":"${s.name}","start":${s.start}%.3f,"end":${s.end}%.3f,"parent":${s.parent},"run":"${s.run}"}"""
  }.mkString("[\n", ",\n", "\n]\n")
}

/** Task-metric sums of the Spark jobs issued under one job group. */
final class GroupStats {
  var jobs = 0
  var taskMs = 0L
  var gcMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  val taskIntervals = ArrayBuffer.empty[(Double, Double)]
}

/** Sums task metrics per job group. Every job the benchmark submits inside
  * a layer call carries the group `<layer>@<pass>`; stages inherit their
  * job's group. */
final class LayerListener extends SparkListener {
  private val stageGroup = TrieMap.empty[Int, String]
  private val groups = TrieMap.empty[String, GroupStats]

  def stats(group: String): GroupStats = groups.getOrElseUpdate(group, new GroupStats)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .foreach { g =>
        val st = stats(g)
        st.synchronized(st.jobs += 1)
        e.stageIds.foreach(stageGroup(_) = g)
      }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    stageGroup.get(e.stageId).foreach { g =>
      val st = stats(g)
      val info = e.taskInfo
      val m = e.taskMetrics
      st.synchronized {
        st.taskIntervals += ((info.launchTime.toDouble, info.finishTime.toDouble))
        if (m != null) {
          st.taskMs += m.executorRunTime
          st.gcMs += m.jvmGCTime
          st.shuffleBytes += m.shuffleWriteMetrics.bytesWritten +
            m.shuffleReadMetrics.totalBytesRead
          st.spillBytes += m.diskBytesSpilled
        }
      }
    }
}

/** How a pass calls into the engine. Untraced, a layer call is the bare
  * call. Traced, the call runs under its own job group and records a span
  * whose parent is the pass. `rows` collects each layer's output row count,
  * filled in by the pass's check once its timed part is over. */
final class Layers(spark: SparkSession, tracer: Option[Tracer], val pass: Int,
    val passSpan: Int) {
  val rows = TrieMap.empty[String, Long]
  val ratios = TrieMap.empty[String, Double]

  def traced: Boolean = tracer.isDefined

  def apply[A](name: String)(f: => A): A = tracer match {
    case None => f
    case Some(t) =>
      val sc = spark.sparkContext
      sc.setJobGroup(s"$name@$pass", name, interruptOnCancel = false)
      val id = t.nextId()
      val t0 = t.now
      try f
      finally {
        t.record(Span(id, name, t0, t.now, passSpan, t.run))
        sc.clearJobGroup()
      }
  }
}

/** A call running on its own, fresh submitter thread; `join` returns its
  * value or rethrows its failure. Spark's job group is an inheritable
  * thread-local, so a pooled thread could carry a stale group into the
  * next layer's jobs. */
final class Forked[A](f: => A) {
  @volatile private var result: Either[Throwable, A] = _
  private val thread = new Thread(() => {
    result = try Right(f) catch { case t: Throwable => Left(t) }
  })
  thread.setDaemon(true)
  thread.start()

  def join(): A = {
    thread.join()
    result.fold(t => throw t, identity)
  }
}

object Forked {
  def apply[A](f: => A): Forked[A] = new Forked(f)
}

/** Per-layer quantities of one traced pass. */
object LayerMetrics {
  val Quantities: Seq[(String, String)] = Seq("wall_s" -> "s", "task_s" -> "s",
    "driver_s" -> "s", "gc_s" -> "s", "shuffle_mb" -> "MB", "spill_mb" -> "MB",
    "jobs" -> "count", "rows" -> "count")

  /** Total length of the union of intervals, each clipped to [lo, hi]. */
  def unionLength(intervals: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    clipped.foreach { case (a, b) =>
      if (curB.isNaN || a > curB) {
        if (!curB.isNaN) total += curB - curA
        curA = a
        curB = b
      } else curB = math.max(curB, b)
    }
    if (!curB.isNaN) total += curB - curA
    total
  }

  /** `<layer>.<quantity>` values of one traced pass, for every layer in
    * `layers`; a layer the pass never called reads 0 throughout. */
  def ofPass(layers: Seq[String], spans: Seq[Span], listener: LayerListener,
      ctx: Layers): Map[String, Double] = layers.flatMap { layer =>
    val mine = spans.filter(_.name == layer)
    val st = listener.stats(s"$layer@${ctx.pass}")
    val (jobs, taskMs, gcMs, shuffle, spill, tasks) = st.synchronized(
      (st.jobs, st.taskMs, st.gcMs, st.shuffleBytes, st.spillBytes, st.taskIntervals.toSeq))
    val wallMs = mine.map(_.dur).sum
    val busyMs = mine.map(s => unionLength(tasks, s.start, s.end)).sum
    Seq(
      s"$layer.wall_s" -> wallMs / 1e3,
      s"$layer.task_s" -> taskMs / 1e3,
      s"$layer.driver_s" -> math.max(0.0, wallMs - busyMs) / 1e3,
      s"$layer.gc_s" -> gcMs / 1e3,
      s"$layer.shuffle_mb" -> shuffle / 1048576.0,
      s"$layer.spill_mb" -> spill / 1048576.0,
      s"$layer.jobs" -> jobs.toDouble,
      s"$layer.rows" -> ctx.rows.getOrElse(layer, 0L).toDouble)
  }.toMap
}
