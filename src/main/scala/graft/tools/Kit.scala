package graft.tools

import graft.convert.SpadlPipeline
import graft.model.{TokenDoc, ValuedAction}
import graft.streaming.{ExactlyOnceSink, SpadlStream}
import graft.vaep.ValuationCore
import org.apache.spark.sql.{Dataset, Encoders, SparkSession}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Helpers the tool mains share: the local session, medians, the host-speed
  * canary, stream progress totals and the batch-truth / sink digests that
  * gate every stream run.
  */
object Kit {

  /** Local session with `cores` task threads and as many shuffle
    * partitions, UTC session time and no UI; `conf` is applied last.
    */
  def session(cores: Int, app: String,
      conf: Map[String, String] = Map.empty): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(app)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    conf.foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of an empty sample")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Host-speed factor right now: the Bench pure-CPU canary vs its
    * throttle-clean reference. 1.0 = clean host; >1 = the whole JVM is
    * running that much slower (hypervisor steal).
    */
  def canaryFactor(): Double = graft.Bench.canarySec() / graft.Bench.CanaryRefSec

  /** Canary factor at or under which a rep counts as throttle-clean. */
  val CleanCanary = 1.3

  /** Canary factor entering and leaving each rep of a bench. */
  final class CanaryLog {
    val before = scala.collection.mutable.ArrayBuffer[Double]()
    val after = scala.collection.mutable.ArrayBuffer[Double]()
    def enter(): Unit = before += canaryFactor()
    def leave(): Unit = after += canaryFactor()
    /** reps whose canary read clean both entering and leaving — the
      * artifact-level adjudication of host state */
    def clean: Seq[Int] = before.indices.filter(i =>
      before(i) <= CleanCanary && after(i) <= CleanCanary)
    def list(xs: collection.Seq[Double]): String =
      xs.map(c => f"$c%.2f").mkString("[", ",", "]")
  }

  /** Progress totals of the stream queries on one session. A data batch
    * has >= 1000 input rows; `busyMs` sums batchDuration over ALL batches
    * (ingest, the state-timeout emission batch and empty flushes).
    */
  final class ProgressTotals extends StreamingQueryListener {
    @volatile var busyMs = 0L
    @volatile var dataRows = 0L
    @volatile var dataMs = 0L
    @volatile var dataBatches = 0
    @volatile var firstCommitNs = 0L
    @volatile private var terminated = false

    override def onQueryStarted(
        e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(
        e: StreamingQueryListener.QueryProgressEvent): Unit = synchronized {
      val p = e.progress
      if (firstCommitNs == 0L) firstCommitNs = System.nanoTime()
      busyMs += p.batchDuration
      if (p.numInputRows >= 1000) {
        dataRows += p.numInputRows
        dataMs += p.batchDuration
        dataBatches += 1
      }
      notifyAll()
    }
    override def onQueryTerminated(
        e: StreamingQueryListener.QueryTerminatedEvent): Unit = synchronized {
      terminated = true
      notifyAll()
    }

    /** Blocks until `n` data batches have committed or the query ended
      * (a short run must not hang its caller); returns the count reached.
      */
    def awaitDataBatches(n: Int): Int = synchronized {
      while (dataBatches < n && !terminated) wait()
      dataBatches
    }
  }

  /** File-source stream of raw events under `srcDir`. */
  def eventStream(spark: SparkSession, srcDir: String,
      maxFilesPerTrigger: Int): Dataset[SpadlStream.StreamEvent] =
    spark.readStream
      .schema(Encoders.product[SpadlStream.StreamEvent].schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger.toString)
      .parquet(s"$srcDir/*")
      .as(Encoders.product[SpadlStream.StreamEvent])

  /** Order-independent digest of row hashes. */
  private def digestOf(hashes: Seq[Long]): Long =
    hashes.sorted.foldLeft(17L)((a, b) => a * 31L + b)

  /** Batch truth of the docs' stream without keypasses (the tools stream
    * none), through the pure cores: row count and a digest over every
    * field of every row.
    */
  def truth(docs: Seq[TokenDoc]): (Long, Long) = {
    import scala.collection.parallel.CollectionConverters._
    val hashes = docs.par.flatMap { d =>
      ValuationCore.value(SpadlPipeline.convertDoc(d.doc_id, d.tokens, Nil))
        .map(_.hashCode.toLong)
    }.seq
    (hashes.size.toLong, digestOf(hashes))
  }

  /** Row count and digest of an exactly-once sink, comparable to [[truth]].
    * Rows are hashed on executors and only the longs are collected (the
    * full rows would blow maxResultSize at 10M+ actions).
    */
  def sinkDigest(spark: SparkSession, outDir: String): (Long, Long) = {
    import spark.implicits._
    val hashes = new ExactlyOnceSink(outDir).read(spark)
      .drop("_lineage_partition", "_batch_id")
      .as[ValuedAction].map(_.hashCode.toLong)
      .collect().toSeq
    (hashes.size.toLong, digestOf(hashes))
  }
}
