package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Markov-chain attribution (Anderl et al. 2014 "Mapping the customer
  * journey", the standard data-driven alternative to the positional rules
  * in [[Sessions.touchAttribution]]): model each user's channel sequence as
  * a first-order Markov chain with absorbing CONV / NULL states, and credit
  * a channel by its REMOVAL EFFECT — how much the chain's conversion
  * probability drops when every transition into the channel is redirected
  * to NULL (the no-renormalization form: journeys that needed the channel
  * fail).
  *
  * Bounded-step semantics: conversion probability is the CONV mass after
  * `steps` propagation rounds from START (covers journeys of ≤ `steps`
  * touches — the [[Graph.hits]]/[[Graph.kTruss]] bounded-round contract;
  * absorbing states carry their mass via explicit self-loops, so mass is
  * conserved and the estimate is monotone in `steps`).
  *
  * Scale design: paths/edges are two window passes + one aggregate over
  * ONE shuffle of the event log; everything after lives on the
  * (channels+3)² transition matrix — all |channels|+1 removal variants
  * propagate in one frame tagged by variant, so the step loop is `steps`
  * joins over a matrix-sized frame regardless of how many channels are
  * being scored. `channels` is the caller's bounded category domain (the
  * [[Profile.behaviorEntropy]] contract); nothing is collected.
  */
object Attribution {

  def removalEffects(df: DataFrame, userCol: String, tsCol: String,
                     tieCol: String, typeCol: String, convType: String,
                     channels: Seq[String], steps: Int): DataFrame = {
    require(steps >= 1, s"removalEffects: steps must be >= 1, got $steps")
    require(channels.nonEmpty && !channels.contains(convType),
      "removalEffects: channels must be non-empty and exclude convType")
    val spark = df.sparkSession
    import spark.implicits._

    val w = Window.partitionBy(col(userCol)).orderBy(col(tsCol), col(tieCol))
    val perUser = Window.partitionBy(col(userCol))
    // journeys: channel/conversion events only, truncated at first CONV
    val kept = df
      .filter(col(typeCol).isin((channels :+ convType).map(x => x: Any): _*))
      .withColumn("_state",
        when(col(typeCol) === convType, lit("CONV")).otherwise(col(typeCol)))
      .withColumn("_idx", row_number().over(w))
      .withColumn("_cidx",
        min(when(col("_state") === "CONV", col("_idx"))).over(perUser))
      .filter(col("_cidx").isNull || col("_idx") <= col("_cidx"))
    val stepEdges = kept.select(
      coalesce(lag(col("_state"), 1).over(w), lit("START")).as("from"),
      col("_state").as("to"))
    // non-converting journeys end with an explicit (last state -> NULL)
    val endEdges = kept
      .withColumn("_last", max(col("_idx")).over(perUser))
      .filter(col("_idx") === col("_last") && col("_state") =!= "CONV")
      .select(col("_state").as("from"), lit("NULL").as("to"))
    val counts = stepEdges.unionByName(endEdges)
      .groupBy("from", "to").agg(count(lit(1)).as("_c"))
    val probs = counts.withColumn("p",
      col("_c") / sum(col("_c")).over(Window.partitionBy(col("from"))))
      .select("from", "to", "p")

    // one removal variant per channel + the intact chain, in one frame
    val variants = ("base" +: channels).toDF("variant")
    val redirected = probs.crossJoin(variants)
      .filter(col("variant") === "base" || col("from") =!= col("variant"))
      .withColumn("_to2",
        when(col("variant") =!= "base" && col("to") === col("variant"),
          lit("NULL")).otherwise(col("to")))
      .groupBy(col("variant"), col("from"), col("_to2").as("to"))
      .agg(sum(col("p")).as("p"))
    val selfLoops = variants.crossJoin(
      Seq("CONV", "NULL").toDF("s"))
      .select(col("variant"), col("s").as("from"), col("s").as("to"),
        lit(1.0).as("p"))
    // joined once per propagation step: without the materialization each of
    // the `steps` iterations re-evaluates the whole journey-extraction
    // pipeline (two windows over the raw events) inside its join — the
    // transition matrix is tiny ((channels+2)² × variants rows), the
    // re-evaluated subtree is not (guide §2.4: remove repeated passes)
    val trans = redirected.unionByName(selfLoops).localCheckpoint()

    var mass = variants.select(col("variant"), lit("START").as("state"),
      lit(1.0).as("m"))
    (1 to steps).foreach { _ =>
      mass = mass.withColumnRenamed("state", "_s")
        .join(trans, Seq("variant"))
        .filter(col("_s") === col("from"))
        .groupBy(col("variant"), col("to").as("state"))
        .agg(sum(col("m") * col("p")).as("m"))
    }
    val pConv = mass.filter(col("state") === "CONV")
      .select(col("variant"), col("m").as("_pc"))
    // aggregate, not filter: with zero CONV mass within `steps` the base row
    // would be absent and a bare crossJoin would empty the whole output —
    // agg on empty yields one null row, coalesced to 0
    val pBase = pConv.filter(col("variant") === "base")
      .agg(coalesce(sum(col("_pc")), lit(0.0)).as("_pb"))
    variants.join(pConv, Seq("variant"), "left")
      .crossJoin(pBase)
      .select(col("variant").as("removed_channel"),
        coalesce(col("_pc"), lit(0.0)).as("p_conv"),
        when(col("variant") === "base" || col("_pb") === 0.0,
          lit(null).cast("double"))
          .otherwise(lit(1.0) -
            coalesce(col("_pc"), lit(0.0)) / col("_pb")).as("removal_effect"))
  }
}
