package perfbench

import graft.SparkEntry
import graft.fixtures.FixtureGen
import graft.model.{KeypassRow, TokenDoc}
import graft.operators.SpadlQueries
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Many short jobs: a fixed subset of `SparkEntry.queries` over the
  * sf0.001 test tables in one session, a cold pass, then warm passes. The
  * seed sets the order of the queries in each pass. Every pass writes each
  * result as parquet, which run.py checks against DuckDB (oracle queries)
  * or the recorded digests (rows-only queries).
  */
object QuerySuite {

  /** Module -> queries: two cheap leaves per operator module, and the
    * feature-frame leaf. The whole inventory does not fit a run's time
    * budget on 4 cores.
    */
  val modules: Seq[(String, Seq[String])] = Seq(
    "relational" -> Seq("q01_pricing_summary", "q13_topk_per_group"),
    "dedup" -> Seq("q21_dedup_exact", "q22_dedup_bag"),
    "textops" -> Seq("q27_token_counts", "q41_term_freq"),
    "similarity" -> Seq("q32_embedding_norms", "q33_cosine_topk"),
    "spadlq" -> Seq("spadl_model_data"))

  val names: Seq[String] = modules.flatMap(_._2)

  private def write(df: DataFrame, out: String): Unit =
    df.write.mode("overwrite").parquet(out)

  /** Set-up: Spark reads every table in full (a noop write), five times;
    * returns the median round in seconds.
    */
  private def loadTables(spark: SparkSession, dir: String): Double = {
    val tables = Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
      .map(_.getName).filter(_.endsWith(".parquet")).sorted.toSeq
    require(tables.nonEmpty, s"no query tables in $dir")
    Stats.median((1 to 5).map(_ => Stats.timed(tables.foreach(t =>
      spark.read.parquet(s"$dir/$t").write.format("noop").mode("overwrite")
        .save()))._2))
  }

  def run(spark: SparkSession, o: Opts): Outcome = {
    val setupS = loadTables(spark, o.queryData)
    Main.mark("setup")
    val qs = SparkEntry.queries
    val out = s"${o.work}/query_out"
    val order = new scala.util.Random(o.seed)
    var failed = Seq.empty[String]
    var attempted = 0L
    /** One pass in a seeded order; (query, seconds) in the order run. */
    def pass(): Seq[(String, Double)] = order.shuffle(names).map { n =>
      attempted += 1
      n -> Stats.timed {
        try write(qs(n)(spark, o.queryData), s"$out/$n")
        catch { case e: Exception => failed :+= s"$n: ${String.valueOf(e).take(200)}" }
      }._2
    }
    def show(p: Seq[(String, Double)]): String =
      p.map { case (n, t) => f"$n=$t%.2f" }.mkString(" ")
    val cold = pass()
    Main.mark("cold " + show(cold))
    val warm = collection.mutable.ArrayBuffer.empty[Seq[(String, Double)]]
    val t0 = System.nanoTime()
    // at least three passes, so that each query has a median; another
    // pass starts only while it is expected to end in time
    while (warm.size < 3 ||
        Stats.secondsSince(t0) + warm.last.map(_._2).sum <= o.seconds) {
      val p = pass()
      Main.mark("warm " + show(p))
      warm += p
    }
    // a warm pass: the sum of each query's median time, so that one slow
    // sample does not move the whole pass
    val warmPass = warm.flatten.groupBy(_._1).values
      .map(ts => Stats.median(ts.map(_._2).toSeq)).sum
    val samples = warm.flatten.map(_._2).toSeq

    // oracle SQL for run.py's DuckDB check
    val oracle = SparkEntry.oracleSql.filter { case (n, _) => names.contains(n) }
    val w = new java.io.PrintWriter(s"$out/oracle_sql.tsv")
    try oracle.toSeq.sortBy(_._1).foreach { case (n, sql) =>
      w.println(n + "\t" + sql.replace('\n', ' ').replace('\t', ' ')) }
    finally w.close()

    val traced = if (o.trace) trace(spark, o, warmPass) else Nil
    Outcome(attempted, failed,
      Seq(("setup_s", setupS, "s"), ("throughput_per_s", names.size / warmPass, "1/s"),
        ("latency_p50_s", Stats.median(samples), "s"),
        ("latency_p90_s", Stats.quantile(samples, 0.9), "s")), traced,
      Seq("query_suite_cold_s" -> cold.map(_._2).sum, "query_suite_warm_s" -> warmPass,
        "query_p50_s" -> Stats.median(samples),
        "query_p90_s" -> Stats.quantile(samples, 0.9),
        "query_warm_samples" -> samples.size.toDouble,
        "query_count" -> names.size.toDouble))
  }

  /** Per module: build (the query function), plan (physical planning) and
    * execution time, with shuffle and spill bytes from the listener.
    */
  private def trace(spark: SparkSession, o: Opts,
      untracedPass: Double): Seq[(String, Double, String)] = {
    val counters = new SparkCounters
    spark.sparkContext.addSparkListener(counters)
    val tracer = new Tracer
    val qs = SparkEntry.queries
    final case class Q(module: String, name: String, build: Double,
        plan: Double, exec: Double, snap: SparkCounters.Snap)
    // the listener snapshots wait for task-end events, so they stay
    // outside the timed query spans
    val perQuery = for ((m, ns) <- modules; n <- ns) yield {
      val before = counters.snapshot(spark)
      val (b, p, e) = tracer.span("query") {
        val (df, b) = Stats.timed(tracer.span("build")(qs(n)(spark, o.queryData)))
        val (_, p) = Stats.timed(tracer.span("plan")(df.queryExecution.executedPlan))
        val (_, e) = Stats.timed(tracer.span("exec")(write(df, s"${o.work}/query_out/$n")))
        (b, p, e)
      }
      Q(m, n, b, p, e, counters.snapshot(spark) - before)
    }
    val tracedPass = tracer.totalByName("query")
    val perModule = modules.flatMap { case (m, _) =>
      val in = perQuery.filter(_.module == m)
      Seq((s"$m.build_s", in.map(_.build).sum, "s"), (s"$m.plan_s", in.map(_.plan).sum, "s"),
        (s"$m.exec_s", in.map(_.exec).sum, "s"),
        (s"$m.shuffle_bytes", in.map(_.snap.shuffleBytes).sum.toDouble, "bytes"),
        (s"$m.spill_bytes", in.map(_.snap.spillBytes).sum.toDouble, "bytes"))
    }
    val layers = perModule.filter(_._3 == "s").map(_._2).sum
    // the spadlq leaves' pipeline, layer by layer, on their own fixture
    import spark.implicits._
    val (docs, kp) = SpadlQueries.corpus(spark)
    val spadl = SpadlLadder.metrics(spark, docs.as[TokenDoc], kp.as[KeypassRow],
      s"${o.work}/spadl_ladder", tracer, counters)
    tracer.write(s"${o.work}/trace.jsonl")
    val fixture = JvmLadder.docs(FixtureGen.corpus(SpadlQueries.NGames,
      SpadlQueries.EventsPerGame))
    perModule ++ spadl ++ Seq(
      ("ladder.e2e_s", untracedPass, "s"),
      ("ladder.layers_s", layers, "s"),
      ("unattributed_s", untracedPass - layers, "s"),
      ("trace.overhead_share", tracedPass / untracedPass - 1.0, "share")) ++
      counters.metrics(spark) ++ JvmLadder.metrics(fixture)
  }
}
