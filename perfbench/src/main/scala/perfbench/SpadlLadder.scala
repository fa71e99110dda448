package perfbench

import graft.convert.SpadlPipeline
import graft.features.Features
import graft.fixtures.FixtureGen
import graft.model.{KeypassRow, SpadlAction, TokenDoc, ValuedAction}
import graft.vaep.{Valuation, ValuationCore}
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions.col

/** The SPADL batch path (`SpadlPipeline.convert` with keypasses ->
  * `Valuation.value` -> parquet, then `Features.modelData`) and its truth.
  */
object SpadlLadder {

  private val spadlCols: Seq[String] =
    Encoders.product[SpadlAction].schema.fieldNames.toSeq

  /** Row count and order-independent digest of the JVM truth. */
  def truth(games: Seq[FixtureGen.Game]): (Long, Long) = {
    import scala.collection.parallel.CollectionConverters._
    val hs = games.par.map { g =>
      val rows = ValuationCore.value(SpadlPipeline.convertDoc(g.doc.doc_id,
        g.doc.tokens, g.keypasses.map(k => SpadlPipeline.Kp(k.event_id, k.pass_type))))
      (rows.size.toLong, rows.foldLeft(0L)((a, r) => a + Stats.mix(r.hashCode)))
    }.seq
    (hs.map(_._1).sum, hs.map(_._2).sum)
  }

  /** The same digest over a valued DataFrame. */
  def digest(spark: SparkSession, valued: DataFrame): (Long, Long) = {
    import spark.implicits._
    valued.select(Encoders.product[ValuedAction].schema.fieldNames.map(col)
        .toIndexedSeq: _*).as[ValuedAction]
      .map(v => (1L, Stats.mix(v.hashCode)))
      .reduce((a, b) => (a._1 + b._1, a._2 + b._2))
  }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Spark ladder over one corpus: each rung runs one more layer than the
    * rung before (noop sink), so a layer's time is the difference. The
    * last two rungs plan and run `Features.modelData` over the valued
    * output. Every rung is a span of `tracer`.
    */
  def metrics(spark: SparkSession, docs: Dataset[TokenDoc], kp: Dataset[KeypassRow],
      dir: String, tracer: Tracer, counters: SparkCounters): Seq[(String, Double, String)] = {
    def converted(withKp: Boolean): DataFrame =
      SpadlPipeline.convert(spark, docs, if (withKp) Some(kp) else None).toDF()
    final case class Rung(s: Double, shuffle: Long)
    def rung(name: String)(f: => Unit): Rung = {
      val before = counters.snapshot(spark)
      val s = Stats.timed(tracer.span(name)(f))._2
      Rung(s, (counters.snapshot(spark) - before).shuffleBytes)
    }
    val valuedDir = s"$dir/valued"
    val Seq(scan, conv, convKp, vaep, write, plan, exec) = tracer.span("spadl_ladder") {
      var md: DataFrame = null
      Seq(rung("scan")(noop(docs.toDF())),
        rung("convert")(noop(converted(withKp = false))),
        rung("convert_keypass")(noop(converted(withKp = true))),
        rung("vaep")(noop(Valuation.value(converted(withKp = true)))),
        rung("write")(Valuation.value(converted(withKp = true))
          .write.mode("overwrite").parquet(valuedDir)),
        rung("features_plan") {
          md = Features.modelData(spark.read.parquet(valuedDir).select(spadlCols.map(col): _*))
          md.queryExecution.executedPlan
        },
        rung("features_exec")(md.write.mode("overwrite").parquet(s"$dir/model_data")))
    }
    def above(hi: Rung, lo: Rung): Double = math.max(0.0, hi.s - lo.s)
    Seq(("scan.spark_s", scan.s, "s"),
      ("convert.spark_s", above(conv, scan), "s"),
      ("convert.keypass_join_s", above(convKp, conv), "s"),
      ("convert.rows_out", spark.read.parquet(valuedDir).count().toDouble, "count"),
      ("vaep.spark_s", above(vaep, convKp), "s"),
      ("vaep.shuffle_bytes", math.max(0L, vaep.shuffle - convKp.shuffle).toDouble, "bytes"),
      ("batch.write_s", above(write, vaep), "s"),
      ("features.plan_s", plan.s, "s"),
      ("features.exec_s", exec.s, "s"))
  }
}
