package graft.tools

import graft.SparkEntry
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FormattedMode

/** Per-query probe of the driver's `SparkEntry.queries` leaves, separate
  * from the frozen graft.Bench. Each query runs `reps` noop-sink passes in
  * one session: the first (cold) pass pays plan compilation and codegen,
  * the later (warm) ones show steady-state execution. Every pass is split
  * into build (DataFrame construction), plan (analysis, optimisation,
  * physical planning) and exec (the noop write). The single-threaded
  * host-speed canary (graft.Bench.canarySec) is read before and after each
  * query, so a host throttle wave shows in the output instead of silently
  * polluting an A/B comparison. With `--plans <dir>` the cold pass's
  * formatted plan is written to `<dir>/<query>.txt`.
  *
  * Prints one JSON line per query (all queries when none is named). Usage:
  *   sbt "runMain graft.tools.Probe <sfDir> <reps> [--plans <dir>] [query ...]"
  */
object Probe {

  final case class Opts(sfDir: String, reps: Int, plans: Option[String],
      queries: Seq[String])

  /** One timed pass of a query, in seconds. */
  private final case class Pass(df: DataFrame, build: Double, plan: Double,
      exec: Double) {
    def wall: Double = build + plan + exec
  }

  /** Parses and checks the arguments; fails before any session starts. */
  def parse(args: Array[String]): Opts = {
    val usage = "usage: Probe <sfDir> <reps> [--plans <dir>] [query ...]"
    require(args.length >= 2, usage)
    val reps = args(1).toIntOption.getOrElse(
      throw new IllegalArgumentException(s"reps '${args(1)}' is not a number; $usage"))
    require(reps >= 2, s"reps must be >= 2 (one cold pass plus at least one warm pass), got $reps")
    val (plans, rest) = args.drop(2).toSeq match {
      case "--plans" +: dir +: tail => (Some(dir), tail)
      case "--plans" +: _ => throw new IllegalArgumentException(s"--plans needs a directory; $usage")
      case tail => (None, tail)
    }
    val unknown = rest.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    Opts(args(0), reps, plans,
      if (rest.nonEmpty) rest else SparkEntry.queries.keys.toSeq.sorted)
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    o.plans.foreach(d => new java.io.File(d).mkdirs())
    val cores = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = Kit.session(cores, "graft-probe")
    try o.queries.foreach { n =>
      val fn = SparkEntry.queries(n)
      val canaryBefore = graft.Bench.canarySec()
      val passes = (1 to o.reps).map { _ =>
        val t0 = System.nanoTime()
        val df = fn(spark, o.sfDir)
        val t1 = System.nanoTime()
        df.queryExecution.executedPlan // force analysis+optimize+planning
        val t2 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        val t3 = System.nanoTime()
        Pass(df, (t1 - t0) / 1e9, (t2 - t1) / 1e9, (t3 - t2) / 1e9)
      }
      val canaryAfter = graft.Bench.canarySec()
      val planFile = o.plans.map { d =>
        val f = java.nio.file.Paths.get(d, s"$n.txt")
        java.nio.file.Files.writeString(f,
          passes.head.df.queryExecution.explainString(FormattedMode))
        f.toString
      }
      val warm = passes.tail.map(_.wall)
      def list(xs: Seq[Double]) = xs.map(x => f"$x%.3f").mkString("[", ",", "]")
      println(f"""{"query":"$n","reps":${o.reps},"cold_s":${passes.head.wall}%.3f,""" +
        f""""warm_min_s":${warm.min}%.3f,"warm_median_s":${Kit.median(warm)}%.3f,""" +
        s""""build_s":${list(passes.map(_.build))},"plan_s":${list(passes.map(_.plan))},""" +
        s""""exec_s":${list(passes.map(_.exec))},""" +
        f""""canary_before_s":$canaryBefore%.3f,"canary_after_s":$canaryAfter%.3f,""" +
        f""""canary_ref_s":${graft.Bench.CanaryRefSec}%.3f,""" +
        s""""plan_file":${planFile.map(f => s""""$f"""").getOrElse("null")}}""")
    } finally spark.stop()
  }
}
