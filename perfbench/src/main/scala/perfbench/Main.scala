package perfbench

/** JVM side of the benchmark. run.py builds and launches it as
  *   perfbench.Main <workload> <seed> <seconds> <trace 0|1> <workDir>
  *     <full|smoke> <queryDataDir>
  * and turns the `PERFBENCH {...}` line it prints into the result line.
  */
object Main {

  /** Every per-layer metric a traced run prints, on every workload; a layer
    * a workload does not run reads 0.
    */
  val layerMetrics: Seq[(String, String)] = Seq(
    "codec.decode_calls" -> "count", "codec.decode_s" -> "s",
    "codec.tokens_per_s" -> "1/s",
    "convert.jvm_s" -> "s", "convert.spark_s" -> "s", "convert.rows_out" -> "count",
    "convert.keypass_join_s" -> "s",
    "vaep.jvm_s" -> "s", "vaep.spark_s" -> "s", "vaep.shuffle_bytes" -> "bytes",
    "jvm.full_1t_s" -> "s", "jvm.full_4t_s" -> "s",
    "scan.spark_s" -> "s",
    "features.plan_s" -> "s", "features.exec_s" -> "s",
    "batch.write_s" -> "s",
    "stream.latestOffset_s" -> "s", "stream.getBatch_s" -> "s",
    "stream.queryPlanning_s" -> "s", "stream.addBatch_s" -> "s",
    "stream.walCommit_s" -> "s", "stream.commitOffsets_s" -> "s",
    "stream.batches" -> "count", "stream.empty_batches" -> "count",
    "state.update_s" -> "s", "state.commit_s" -> "s",
    "state.rows_total_max" -> "count", "state.memory_bytes_max" -> "bytes",
    "state.rows_removed" -> "count",
    "sink.write_s" -> "s",
    "stream.emitted_per_input" -> "share", "stream.late_rows" -> "count",
    "stream.generator_late_ms_max" -> "ms") ++
    Seq("relational", "dedup", "textops", "similarity", "spadlq").flatMap(m =>
      Seq(s"$m.build_s" -> "s", s"$m.plan_s" -> "s", s"$m.exec_s" -> "s",
        s"$m.shuffle_bytes" -> "bytes", s"$m.spill_bytes" -> "bytes")) ++
    Seq("spark.task_s" -> "s", "spark.gc_s" -> "s",
      "spark.shuffle_write_bytes" -> "bytes", "spark.spill_bytes" -> "bytes",
      "spark.tasks" -> "count",
      "ladder.e2e_s" -> "s", "ladder.layers_s" -> "s", "unattributed_s" -> "s",
      "trace.overhead_share" -> "share")

  private val started = System.nanoTime()

  /** Prints to stderr how far into the run a phase ends; run.py keeps
    * stderr in the run's jvm.log and shows its tail when a run fails.
    */
  def mark(what: String): Unit =
    System.err.println(f"[perfbench ${Stats.secondsSince(started)}%7.2f s] $what")

  /** Peak resident set of this JVM, from the kernel's high-water mark. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else v.toString

  private def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => " "; case c => c.toString
    } + "\""

  def main(args: Array[String]): Unit = {
    val o = Opts(args(0), args(1).toInt, args(2).toInt, args(3) == "1",
      args(4), args.lift(5).contains("smoke"), args.lift(6).getOrElse(""))
    new java.io.File(o.work).mkdirs()
    val canaryBefore = graft.Bench.canarySec()
    mark("canary")
    val spark = Session.create(o.work)
    mark("session")
    val res =
      try o.workload match {
        case "stream_matchday" => StreamMatchday.run(spark, o)
        case "query_suite" => QuerySuite.run(spark, o)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      } finally spark.stop()
    mark("workload")
    val canaryAfter = graft.Bench.canarySec()
    mark("canary")

    val metrics: Seq[(String, Double, String)] =
      if (o.trace) {
        val got = res.layers.map { case (n, v, u) => n -> (v, u) }.toMap
        val unlisted = got.keySet -- layerMetrics.map(_._1)
        require(unlisted.isEmpty, s"per-layer metrics not listed: $unlisted")
        layerMetrics.map { case (n, u) =>
          val (v, gu) = got.getOrElse(n, (0.0, u))
          require(gu == u, s"metric $n has unit $gu, expected $u")
          (n, v, u)
        }
      } else res.metrics :+ (("peak_rss_mb", peakRssMb(), "MB"))

    // host-speed diagnostic, never folded into a metric
    val canarySlow = math.max(canaryBefore, canaryAfter) >
      Main.CanaryLimit * graft.Bench.CanaryRefSec
    val detail = res.detail ++ Seq("canary_before_s" -> canaryBefore,
      "canary_after_s" -> canaryAfter, "canary_ref_s" -> graft.Bench.CanaryRefSec)
    val json = new StringBuilder
    json ++= s"""{"attempted":${res.attempted},"""
    json ++= res.failures.map(str).mkString("\"failures\":[", ",", "],")
    json ++= metrics.map { case (n, v, u) =>
      s"""${str(n)}:{"value":${num(v)},"unit":${str(u)}}""" }
      .mkString("\"metrics\":{", ",", "},")
    json ++= detail.map { case (n, v) => s"${str(n)}:${num(v)}" }
      .mkString("\"detail\":{", ",", s""","canary_slow":$canarySlow}}""")
    println("PERFBENCH " + json)
  }

  /** A canary reading above this multiple of the reference flags the run
    * as measured on a slowed host.
    */
  val CanaryLimit = 2.0
}
