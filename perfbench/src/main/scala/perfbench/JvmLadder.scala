package perfbench

import graft.codec.TokenCodec
import graft.convert.SpadlPipeline
import graft.convert.SpadlPipeline.Kp
import graft.fixtures.FixtureGen
import graft.vaep.ValuationCore
import java.util.concurrent.{Callable, Executors}
import scala.jdk.CollectionConverters._

/** The Spark-free ladder over one workload's games: `TokenCodec.decode`,
  * then decode + `convertDoc`, then decode + convert + `ValuationCore`,
  * each on 1 thread; the full rung also on 4 threads. A layer's JVM time
  * is the difference between its rung and the one below.
  */
object JvmLadder {

  final case class Doc(docId: String, tokens: Array[Int], kps: Seq[Kp])

  def docs(games: Seq[FixtureGen.Game]): IndexedSeq[Doc] =
    games.map(g => Doc(g.doc.doc_id, g.doc.tokens,
      g.keypasses.map(k => Kp(k.event_id, k.pass_type)))).toIndexedSeq

  private def decodeOnly(d: Doc): Long = TokenCodec.decode(d.tokens) match {
    case TokenCodec.OptaGame(_, es) => es.size.toLong
    case TokenCodec.InstatGame(_, es) => es.size.toLong
  }
  private def convertOnly(d: Doc): Long =
    SpadlPipeline.convertDoc(d.docId, d.tokens, d.kps).size.toLong
  private def full(d: Doc): Long =
    ValuationCore.value(SpadlPipeline.convertDoc(d.docId, d.tokens, d.kps))
      .size.toLong

  private def pass(ds: IndexedSeq[Doc], f: Doc => Long): Double = {
    val (n, s) = Stats.timed(ds.foldLeft(0L)((a, d) => a + f(d)))
    require(n > 0, "ladder rung produced nothing")
    s
  }

  private def pass4(ds: IndexedSeq[Doc], f: Doc => Long): Double = {
    val pool = Executors.newFixedThreadPool(4)
    try {
      val chunks = ds.grouped(math.max(1, (ds.size + 15) / 16)).toSeq
      val tasks = chunks.map(c => new Callable[Long] {
        def call(): Long = c.foldLeft(0L)((a, d) => a + f(d))
      })
      val (_, s) = Stats.timed(pool.invokeAll(tasks.asJava).asScala
        .map(_.get).sum)
      s
    } finally pool.shutdownNow()
  }

  /** Median of `reps` timed passes after one untimed warm pass. */
  private def med(reps: Int)(p: => Double): Double = {
    p
    Stats.median((1 to reps).map(_ => p))
  }

  def metrics(ds: IndexedSeq[Doc], reps: Int = 3): Seq[(String, Double, String)] = {
    val tokens = ds.map(_.tokens.length.toLong).sum.toDouble
    val decodeS = med(reps)(pass(ds, decodeOnly))
    val convertS = med(reps)(pass(ds, convertOnly))
    val fullS = med(reps)(pass(ds, full))
    val full4S = med(reps)(pass4(ds, full))
    Seq(
      ("codec.decode_calls", ds.size.toDouble, "count"),
      ("codec.decode_s", decodeS, "s"),
      ("codec.tokens_per_s", tokens / decodeS, "1/s"),
      ("convert.jvm_s", math.max(0.0, convertS - decodeS), "s"),
      ("vaep.jvm_s", math.max(0.0, fullS - convertS), "s"),
      ("jvm.full_1t_s", fullS, "s"),
      ("jvm.full_4t_s", full4S, "s"))
  }
}
