package graft.tools

import graft.fixtures.FixtureGen
import graft.convert.SpadlPipeline
import graft.vaep.Valuation
import graft.features.Features

/** Local end-to-end drive of the public pipeline: generate the fixture token
  * table as parquet (the engine's real input shape), read it back, convert,
  * value, and print samples. Usage:
  *   sbt "runMain graft.tools.RunLocal [nGames] [eventsPerGame] [outDir]"
  */
object RunLocal {
  def main(args: Array[String]): Unit = {
    val nGames = if (args.length > 0) args(0).toInt else 8
    val perGame = if (args.length > 1) args(1).toInt else 120
    val outDir = if (args.length > 2) args(2)
      else java.nio.file.Files.createTempDirectory("graft_demo").toString
    val spark = Kit.session(8, "graft-runlocal")
    import spark.implicits._

    // 1. write the input tables (token docs + keypass side stream)
    val corpus = FixtureGen.corpus(nGames, perGame)
    corpus.map(_.doc).toDS().write.mode("overwrite")
      .parquet(s"$outDir/docs.parquet")
    corpus.flatMap(_.keypasses).toDS().write.mode("overwrite")
      .parquet(s"$outDir/keypass.parquet")

    // 2. read back through the public scan path
    val docs = spark.read.parquet(s"$outDir/docs.parquet")
      .as[graft.model.TokenDoc]
    val kp = spark.read.parquet(s"$outDir/keypass.parquet")
      .as[graft.model.KeypassRow]

    // 3. convert -> value -> features
    val actions = SpadlPipeline.convert(spark, docs, Some(kp))
    actions.cache()
    println(s"docs=${docs.count()} actions=${actions.count()}")
    println("-- actions by type --")
    actions.groupBy("type_name").count().orderBy($"count".desc).show(30, false)
    println("-- sample actions --")
    actions.orderBy($"game_id", $"action_idx").show(12, false)
    val valued = Valuation.value(actions.toDF())
    println("-- top players by VAEP index (ex_opta.R:14-16) --")
    valued.groupBy("player_id")
      .agg(org.apache.spark.sql.functions.sum("vaep_value").as("index"))
      .orderBy($"index".desc).show(10, false)
    val feats = Features.trainingFrame(valued.drop("scores", "concedes",
      "offensive_value", "defensive_value", "vaep_value"))
    println(s"training frame rows=${feats.count()} cols=${feats.columns.length}")
    feats.select("game_id", "event_id", "type_id_a0", "start_dist_to_goal_a0",
      "time_delta_1", "goalscore_diff", "scores", "concedes").show(8, false)
    println(s"outDir=$outDir")
    spark.stop()
  }
}
