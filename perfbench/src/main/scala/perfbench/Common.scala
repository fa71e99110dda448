package perfbench

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** Options shared by every workload. `work` is the run's private work
  * directory; `smoke` shrinks every input to a few seconds of work.
  */
final case class Opts(workload: String, seed: Int, seconds: Int,
    trace: Boolean, work: String, smoke: Boolean, queryData: String)

/** What a workload hands back to [[Main]]: the end-to-end metrics and, in
  * a traced run, the per-layer ones, each as (name, value, unit). `detail`
  * carries the workload's own named figures, printed on the line before
  * the result.
  */
final case class Outcome(attempted: Long, failures: Seq[String],
    metrics: Seq[(String, Double, String)], layers: Seq[(String, Double, String)],
    detail: Seq[(String, Double)])

object Session {
  /** One local[4] session with 4 shuffle partitions; every file Spark
    * writes (shuffle, spill, warehouse) stays under `work`.
    */
  def create(work: String): SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.default.parallelism", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (the "inclusive" method). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, secondsSince(t0))
  }

  /** Order-independent digest of a multiset of row hashes. */
  def mix(h: Long): Long = {
    var z = h + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }
}

/** In-memory spans: name, start, end and parent, written out once at the
  * end of the run.
  */
object Tracer {
  final case class Span(id: Int, parent: Int, name: String,
      startNs: Long, var endNs: Long)
}

final class Tracer {
  import Tracer.Span
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var current = -1

  def span[A](name: String)(f: => A): A = {
    val s = Span(spans.size, current, name, System.nanoTime(), 0L)
    spans += s
    val saved = current
    current = s.id
    try f
    finally { s.endNs = System.nanoTime(); current = saved }
  }

  def wallS(s: Span): Double = (s.endNs - s.startNs) / 1e9

  def totalByName: Map[String, Double] =
    spans.groupBy(_.name).map { case (n, ss) => n -> ss.map(wallS).sum }

  def write(path: String): Unit = {
    val t0 = spans.headOption.map(_.startNs).getOrElse(0L)
    val lines = spans.map { s =>
      f"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
        f""""start_s":${(s.startNs - t0) / 1e9}%.6f,"end_s":${(s.endNs - t0) / 1e9}%.6f}"""
    }
    val w = new java.io.PrintWriter(path)
    try lines.foreach(w.println) finally w.close()
  }
}

/** Engine-level totals read through a SparkListener: task time, GC,
  * shuffle write, spill and task count. `snapshot` lets a caller take the
  * difference across one call.
  */
object SparkCounters {
  final case class Snap(taskS: Double, gcS: Double, shuffleBytes: Long,
      spillBytes: Long, tasks: Long) {
    def -(o: Snap): Snap = Snap(taskS - o.taskS, gcS - o.gcS,
      shuffleBytes - o.shuffleBytes, spillBytes - o.spillBytes, tasks - o.tasks)
  }
}

final class SparkCounters extends SparkListener {
  import SparkCounters.Snap
  val taskNs = new AtomicLong
  val gcMs = new AtomicLong
  val shuffleWriteBytes = new AtomicLong
  val spillBytes = new AtomicLong
  val tasks = new AtomicLong

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    tasks.incrementAndGet()
    if (m != null) {
      taskNs.addAndGet(m.executorRunTime * 1000000L)
      gcMs.addAndGet(m.jvmGCTime)
      shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  def snapshot(spark: SparkSession): Snap = {
    // task-end events reach the listener asynchronously: wait until the
    // task count has been still for a few polls
    var last = -1L
    var still = 0
    var waited = 0
    while (still < 3 && waited < 100) {
      val n = tasks.get
      if (n == last) still += 1 else { still = 0; last = n }
      Thread.sleep(10); waited += 1
    }
    Snap(taskNs.get / 1e9, gcMs.get / 1e3, shuffleWriteBytes.get,
      spillBytes.get, tasks.get)
  }

  def metrics(spark: SparkSession): Seq[(String, Double, String)] = {
    val s = snapshot(spark)
    Seq(("spark.task_s", s.taskS, "s"), ("spark.gc_s", s.gcS, "s"),
      ("spark.shuffle_write_bytes", s.shuffleBytes.toDouble, "bytes"),
      ("spark.spill_bytes", s.spillBytes.toDouble, "bytes"),
      ("spark.tasks", s.tasks.toDouble, "count"))
  }
}
