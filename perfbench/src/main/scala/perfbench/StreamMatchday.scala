package perfbench

import graft.fixtures.FixtureGen
import graft.model.ValuedAction
import graft.streaming.{ExactlyOnceSink, SpadlStream, StreamJob}
import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import java.sql.Timestamp
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress, Trigger}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Open loop: a matchday of games, all kicking off together, arrives as
  * time-ordered event files plus keypass files. One scheduler thread
  * releases file i into the source directories at `start + i / rate` by
  * atomic rename, whether or not the job keeps up. A final phase releases
  * a fixed burst plus the closing sentinels at once and times the drain.
  */
object StreamMatchday {

  /** Arrival rate in events/s, events per game, files released per
    * second, files in the final burst, trigger interval. The full rate is
    * about half the drain capacity measured at the seed: over ten seeds, a
    * 200-game matchday drained its burst at a median of 7,641 events/s
    * (`stream_drain_events_per_s`, 5,681 to 8,485) on 4 cores.
    */
  final case class Size(eventsPerS: Double, events: Int, filesPerS: Double,
      burstFiles: Int, triggerMs: Long)
  def size(o: Opts): Size =
    if (o.smoke) Size(960.0, 120, 2.0, 8, 500L) else Size(3800.0, 400, 2.0, 16, 500L)

  /** Games in the matchday: enough for every file to carry
    * `eventsPerS / filesPerS` events.
    */
  def nGames(o: Opts): Int = {
    val sz = size(o)
    math.ceil(sz.eventsPerS / sz.filesPerS * files(o) / sz.events).toInt
  }

  /** The longest the run waits for the job to read the open phase's files,
    * and then to drain; both fit inside run.py's JVM timeout.
    */
  val CatchUpCapMs = 30000L
  val DrainCapMs = 30000L

  /** First FixtureGen game index of a seed. */
  def gameBase(seed: Int): Int = Math.floorMod(seed, 10000) * 100000

  val Base = 1704067200000L
  val WatermarkDelay = "10 seconds"
  /** Longer than the Opta half-time offset, so a game is one session. */
  val SessionGap = "2 hours"

  final case class KpEvent(doc_id: String, event_id: Int, pass_type: String,
      event_time: Timestamp)

  /** Far-future rows that close every session (period-3 events, which the
    * converter drops) and advance the keypass watermark with them.
    */
  def sentinel: SpadlStream.StreamEvent = SpadlStream.StreamEvent("991", "opta",
    0, 10, 1, new Timestamp(Base + 30L * 86400000L),
    Array(1, 1, 3, 0, 0, 1, 10, 1, 5000, 5000, 0), None)
  def kpSentinel: KpEvent =
    KpEvent("998", -1, "none", new Timestamp(Base + 30L * 86400000L))

  /** A game's keypass stream. Each row is timed with the event it refers
    * to, on the stream's clock: KeypassRow.event_time_sec leaves out the
    * second-half offset that toStreamEvents applies, which would put
    * second-half keypasses outside the join's +-30 s window.
    */
  def keypassEvents(g: FixtureGen.Game): Seq[KpEvent] = {
    val at = SpadlStream.toStreamEvents(g.doc, Base)
      .map(e => e.group(0) -> e.event_time).toMap
    g.keypasses.map(k => KpEvent(k.doc_id, k.event_id, k.pass_type, at(k.event_id)))
  }

  def games(o: Opts): Seq[FixtureGen.Game] = {
    val sz = size(o)
    val base = gameBase(o.seed)
    (0 until nGames(o)).map(i => FixtureGen.game(base + i, sz.events))
  }

  def files(o: Opts): Int =
    math.ceil(o.seconds * size(o).filesPerS).toInt + size(o).burstFiles

  /** Write the staged event and keypass files; returns the seconds taken
    * and the events of each file. File i holds the i-th slice of the
    * matchday in event time; file `files(o)` holds the closing sentinels.
    */
  def stage(spark: SparkSession, dir: String, o: Opts): (Double, Map[Int, Long]) = {
    import spark.implicits._
    val sz = size(o)
    val base = gameBase(o.seed)
    val nFiles = files(o)
    var perFile = Map.empty[Int, Long]
    val s = Stats.timed {
      val gs = spark.range(0L, nGames(o).toLong, 1L, 8)
        .map(i => FixtureGen.game(base + i.toInt, sz.events)).cache()
      val events = gs.flatMap(g => SpadlStream.toStreamEvents(g.doc, Base))
      val kps = gs.flatMap(keypassEvents)
      // equal-count slices of the matchday's event times
      val times = events.select(unix_millis($"event_time")).as[Long].collect().sorted
      val bounds = (1 until nFiles).map(i => times(i * times.length / nFiles)).toArray
      def fileOf(t: Long): Int =
        if (t >= sentinel.event_time.getTime) nFiles
        else {
          val i = java.util.Arrays.binarySearch(bounds, t + 1)
          if (i >= 0) i else -i - 1
        }
      val slice = udf((t: Timestamp) => fileOf(t.getTime))
      events.union(Seq(sentinel).toDS()).withColumn("file", slice($"event_time"))
        .repartition($"file").write.partitionBy("file").parquet(s"$dir/stage/ev")
      kps.union(Seq(kpSentinel).toDS()).withColumn("file", slice($"event_time"))
        .repartition($"file").write.partitionBy("file").parquet(s"$dir/stage/kp")
      perFile = times.groupBy(fileOf).map { case (k, v) => k -> v.length.toLong }
      gs.unpersist()
    }._2
    (s, perFile)
  }

  /** Move every parquet part of a staged directory into `to`. */
  private def release(from: File, to: File, tag: String): Unit =
    Option(from.listFiles()).getOrElse(Array.empty[File])
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .zipWithIndex.foreach { case (f, j) =>
        Files.move(f.toPath, new File(to, s"$tag-$j.parquet").toPath,
          StandardCopyOption.ATOMIC_MOVE)
      }

  /** Progress of each finished micro-batch, with its completion time. */
  final class Progress extends StreamingQueryListener {
    val batches = new java.util.concurrent.ConcurrentLinkedQueue[(StreamingQueryProgress, Long)]
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli
      Main.mark(s"batch ${p.batchId} rows=${p.numInputRows} ${p.durationMs}")
      batches.add(p -> (start + p.durationMs.getOrDefault("triggerExecution", 0L)))
    }
    def all: Seq[(StreamingQueryProgress, Long)] = batches.asScala.toSeq
  }

  /** batchId that first read each released file, from the file-source logs
    * in the checkpoint.
    */
  private def readBy(ck: String): Map[String, Long] = {
    val json = """"path":"([^"]+)".*"batchId":(\d+)""".r.unanchored
    Option(new File(ck, "sources").listFiles()).getOrElse(Array.empty[File])
      .flatMap(d => Option(d.listFiles()).getOrElse(Array.empty[File]))
      .filter(f => !f.getName.startsWith("."))
      .flatMap { f =>
        val src = scala.io.Source.fromFile(f)
        try src.getLines().collect { case json(p, b) =>
          new File(new java.net.URI(p).getPath).getName -> b.toLong }.toVector
        finally src.close()
      }.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).min }
  }

  def run(spark: SparkSession, o: Opts): Outcome = {
    import spark.implicits._
    val sz = size(o)
    val dirs = (0 until 3).map(i => s"${o.work}/stream$i")
    val staged = dirs.map(d => stage(spark, d, o))
    Main.mark("setup")
    val dir = dirs.last
    val perFile = staged.last._2
    val nFiles = files(o)
    val openFiles = nFiles - sz.burstFiles
    Seq("src/ev", "src/kp").foreach(d => new File(dir, d).mkdirs())
    val out = s"$dir/out"
    val ck = s"$dir/ck"

    val events = spark.readStream
      .schema(spark.createDataset(Seq(sentinel)).schema)
      .parquet(s"$dir/src/ev").as[SpadlStream.StreamEvent]
    val kp = spark.readStream.schema(spark.createDataset(Seq(kpSentinel)).schema)
      .parquet(s"$dir/src/kp")
    val progress = new Progress
    spark.streams.addListener(progress)
    val counters = new SparkCounters
    if (o.trace) spark.sparkContext.addSparkListener(counters)
    val tracer = new Tracer
    val late = spark.sparkContext.longAccumulator("perfbench.late_rows")
    val trigger = Trigger.ProcessingTime(sz.triggerMs)
    val q =
      if (!o.trace)
        StreamJob.start(spark, events, out, ck, Some(kp), WatermarkDelay,
          SessionGap, trigger)
      else {
        val sink = new ExactlyOnceSink(out)
        SpadlStream.valuedActions(spark, events, Some(kp), WatermarkDelay,
          SessionGap, lateCounter = Some(late))
          .writeStream.outputMode("append")
          .option("checkpointLocation", ck).trigger(trigger)
          .foreachBatch((b: Dataset[ValuedAction], id: Long) =>
            tracer.span("sink.write")(sink.write(b.toDF(), id)))
          .start()
      }
    // event rows read so far, from the event source's progress
    def eventsRead(ps: Seq[StreamingQueryProgress]): Long = ps.map(_.sources
      .filter(_.description.contains("src/ev")).map(_.numInputRows).sum).sum

    // open loop: file i is due at t0 + i / rate, however the job is doing
    val t0 = System.currentTimeMillis() + 500L
    val due = (0 until openFiles).map(i => t0 + (i * 1000.0 / sz.filesPerS).toLong)
    val lateMs = mutable.ArrayBuffer.empty[Long]
    def put(i: Int): Unit = {
      release(new File(dir, s"stage/kp/file=$i"), new File(dir, "src/kp"), f"k$i%04d")
      release(new File(dir, s"stage/ev/file=$i"), new File(dir, "src/ev"), f"e$i%04d")
    }
    due.zipWithIndex.foreach { case (d, i) =>
      val wait = d - System.currentTimeMillis()
      if (wait > 0) Thread.sleep(wait)
      put(i)
      lateMs += System.currentTimeMillis() - d
    }
    Main.mark("open phase")
    // final phase: once the job has read every released file, the burst
    // and the sentinels at once
    val openEvents = (0 until openFiles).map(i => perFile.getOrElse(i, 0L)).sum
    val caughtUpCap = System.currentTimeMillis() + CatchUpCapMs
    while (eventsRead(progress.all.map(_._1)) < openEvents &&
        System.currentTimeMillis() < caughtUpCap && q.isActive) Thread.sleep(10)
    val lastOpenBatch = progress.all.map(_._1.batchId).foldLeft(-1L)(_ max _)
    // the batch that starts as the last one ends lists its files first, so
    // the burst is not split between it and the next
    Thread.sleep(300)
    Main.mark("caught up")
    (openFiles to nFiles).foreach(put)
    // drained: the first batch without input after every event was read,
    // which flushes the sessions the sentinels closed
    val allEvents = perFile.values.sum
    def drained: Option[Long] = {
      val ps = progress.all.sortBy(_._1.batchId)
      ps.indices.collectFirst(Function.unlift { i =>
        val (p, done) = ps(i)
        if (p.numInputRows == 0 && eventsRead(ps.take(i).map(_._1)) >= allEvents)
          Some(done) else None
      })
    }
    val deadline = System.currentTimeMillis() + DrainCapMs
    while (drained.isEmpty && System.currentTimeMillis() < deadline && q.isActive)
      Thread.sleep(20)
    val drainEnd = drained
    Main.mark("drained")
    q.stop()
    Main.mark("stopped")
    spark.streams.removeListener(progress)
    val failures = mutable.ArrayBuffer.empty[String]
    q.exception.foreach(e => failures += s"stream failed: ${String.valueOf(e).take(300)}")
    if (drainEnd.isEmpty) failures += s"stream did not drain within ${DrainCapMs / 1000} s"

    // per-file lag: due time -> end of the batch that first read the file
    val doneAt = progress.all.map { case (p, done) => p.batchId -> done }.toMap
    val firstRead = readBy(ck)
    val lags = (0 until openFiles).map { i =>
      firstRead.collect { case (f, b) if f.startsWith(f"e$i%04d-") => b }
        .reduceOption(_ min _).flatMap(doneAt.get).map(d => (d - due(i)) / 1000.0)
    }
    if (lags.exists(_.isEmpty)) failures += s"${lags.count(_.isEmpty)} files never read"
    val lagS = lags.flatten
    val burstEvents = (openFiles until nFiles).map(i => perFile.getOrElse(i, 0L)).sum
    // the drain runs from the start of the batch that picks the burst up
    val drainStart = progress.all.map(_._1)
      .filter(p => p.batchId > lastOpenBatch && p.numInputRows > 0)
      .sortBy(_.batchId).headOption
      .map(p => java.time.Instant.parse(p.timestamp).toEpochMilli)
    val drainS = (for (s <- drainStart; e <- drainEnd) yield (e - s) / 1000.0)
      .getOrElse(Double.NaN)

    // correctness: exactly once per key, and the batch truth with keypasses
    val gs = games(o)
    val want = SpadlLadder.truth(gs)
    val sinkRows = new ExactlyOnceSink(out).read(spark)
    val got =
      if (sinkRows.columns.isEmpty) (0L, 0L)
      else SpadlLadder.digest(spark, sinkRows)
    val keys = if (sinkRows.columns.isEmpty) 0L
      else sinkRows.select("game_id", "action_idx").distinct().count()
    if (keys != got._1) failures += s"duplicate (game_id, action_idx): ${got._1 - keys}"
    if (got != want) failures += s"stream rows/digest $got != batch truth $want"

    Main.mark("checked")
    val all = progress.all.map(_._1)
    val traced =
      if (!o.trace) Nil
      else traceMetrics(spark, all, tracer, counters, late.sum,
        got._1.toDouble / math.max(1L, allEvents), lateMs.max.toDouble, gs)
    val lagP50 = if (lagS.isEmpty) Double.NaN else Stats.median(lagS)
    val lagP90 = if (lagS.isEmpty) Double.NaN else Stats.quantile(lagS, 0.9)
    Outcome(nFiles + 1L + 2L, failures.toSeq,
      Seq(("setup_s", Stats.median(staged.map(_._1)), "s"),
        ("throughput_per_s", burstEvents / drainS, "1/s"),
        ("latency_p50_s", lagP50, "s"),
        ("latency_p90_s", lagP90, "s")), traced,
      Seq("stream_lag_p50_s" -> lagP50, "stream_lag_p90_s" -> lagP90,
        "stream_drain_events_per_s" -> burstEvents / drainS,
        "stream_drain_s" -> drainS,
        "stream_rate_events_per_s" -> allEvents.toDouble / nFiles * sz.filesPerS,
        "stream_games" -> nGames(o).toDouble,
        "stream_files" -> nFiles.toDouble, "stream_events" -> allEvents.toDouble,
        "stream_batches" -> all.size.toDouble,
        "stream_generator_late_ms_max" -> lateMs.max.toDouble))
  }

  private def traceMetrics(spark: SparkSession, ps: Seq[StreamingQueryProgress],
      tracer: Tracer, counters: SparkCounters, lateRows: Long,
      emittedPerInput: Double, generatorLateMs: Double,
      gs: Seq[FixtureGen.Game]): Seq[(String, Double, String)] = {
    def phase(n: String): Double =
      ps.map(_.durationMs.asScala.get(n).map(_.toLong).getOrElse(0L)).sum / 1000.0
    val phases = Seq("latestOffset", "getBatch", "queryPlanning", "addBatch",
      "walCommit", "commitOffsets")
    val ops = ps.flatMap(_.stateOperators.toSeq)
    val e2e = phase("triggerExecution")
    val layers = phases.map(phase).sum
    val sinkS = tracer.totalByName.getOrElse("sink.write", 0.0)
    val sample = JvmLadder.docs(gs.take(512))
    phases.map(n => (s"stream.${n}_s", phase(n), "s")) ++ Seq(
      ("stream.batches", ps.size.toDouble, "count"),
      ("stream.empty_batches", ps.count(_.numInputRows == 0).toDouble, "count"),
      ("state.update_s", ops.map(_.allUpdatesTimeMs).sum / 1000.0, "s"),
      ("state.commit_s", ops.map(_.commitTimeMs).sum / 1000.0, "s"),
      ("state.rows_total_max", ps.map(_.stateOperators.map(_.numRowsTotal).sum)
        .foldLeft(0L)(_ max _).toDouble, "count"),
      ("state.memory_bytes_max", ps.map(_.stateOperators.map(_.memoryUsedBytes).sum)
        .foldLeft(0L)(_ max _).toDouble, "bytes"),
      ("state.rows_removed", ops.map(_.numRowsRemoved).sum.toDouble, "count"),
      ("sink.write_s", sinkS, "s"),
      ("stream.emitted_per_input", emittedPerInput, "share"),
      ("stream.late_rows", lateRows.toDouble, "count"),
      ("stream.generator_late_ms_max", generatorLateMs, "ms"),
      ("ladder.e2e_s", e2e, "s"),
      ("ladder.layers_s", layers, "s"),
      ("unattributed_s", e2e - layers, "s")) ++
      counters.metrics(spark) ++ JvmLadder.metrics(sample)
  }
}
