package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Operations-research calculators over measured streams — the queueing /
  * inventory / capacity layer that turns rollup-tier rates into staffing
  * and stocking decisions. Every formula is closed-form with literal
  * design parameters (service rate, agent count, cost ratios, capacity),
  * so the plans are single aggregates plus per-row arithmetic — and every
  * recursion (Erlang B) is unrolled at PLAN TIME into a literal expression
  * chain the oracle can replay term for term.
  */
object OpsMath {

  /** Erlang B/C staffing readout per group (Erlang 1917): from a measured
    * arrival-rate column λ (per time unit) and literal service rate μ and
    * agent count N, offered load a = λ/μ,
    *   B(N, a) via the exact recursion B_k = a·B_{k−1}/(k + a·B_{k−1}),
    *   C(N, a) = N·B/(N − a(1−B))  (P(wait); requires a < N),
    * plus the mean-wait factor W = C/(N·μ − λ) (Erlang C delay formula).
    * The B recursion is unrolled into N plan-time nested expressions —
    * exact rational arithmetic per row, no iteration at runtime. C and W
    * are null when a ≥ N (unstable queue — the honest answer).
    * Output: (keys..., lambda, offered_a, erlang_b, erlang_c, mean_wait).
    */
  def erlangC(df: DataFrame, keyCols: Seq[String], lambdaCol: String,
              mu: Double, agents: Int): DataFrame = {
    require(mu > 0, s"service rate mu must be positive, got $mu")
    require(agents >= 1 && agents <= 64,
      s"agents must be in [1,64] (plan-time unroll), got $agents")
    val lam = col(lambdaCol).cast("double")
    val a = lam / lit(mu)
    val b = (1 to agents).foldLeft(lit(1.0): Column) { (prev, k) =>
      a * prev / (lit(k.toDouble) + a * prev)
    }
    val keys = keyCols.map(col)
    val staged = df.filter(lam.isNotNull)
      .withColumn("_a", a)
      .withColumn("_b", b)
      .withColumn("_c", when(col("_a") < agents,
        lit(agents.toDouble) * col("_b") /
          (lit(agents.toDouble) - col("_a") * (lit(1.0) - col("_b")))))
    staged
      .withColumn("mean_wait", when(col("_c").isNotNull,
        col("_c") / (lit(agents * mu) - lam)))
      .select((keys :+ lam.as("lambda") :+ col("_a").as("offered_a") :+
        col("_b").as("erlang_b") :+ col("_c").as("erlang_c") :+
        col("mean_wait")): _*)
  }

  /** Newsvendor stocking level (Arrow-Harris-Marschak 1951): with
    * underage cost cu and overage cost co, the optimal stock is the
    * critical-ratio quantile q* = Q_demand(cu/(cu+co)) (exact
    * interpolated quantile — a fractional stock convention, documented),
    * reported with the expected per-period shortage mean(max(d − q*, 0))
    * and leftover mean(max(q* − d, 0)) at that level. One exact-quantile
    * aggregate + one moment pass. Output: one row
    * (n, ratio, q_star, exp_short, exp_left).
    */
  def newsvendor(df: DataFrame, demandCol: String, cu: Double,
                 co: Double): DataFrame = {
    require(cu > 0 && co > 0, s"costs must be positive, got $cu/$co")
    val d = col(demandCol).cast("double")
    val ratio = cu / (cu + co)
    val q = df.filter(d.isNotNull)
      .agg(percentile(d, lit(ratio)).as("q_star"))
    df.filter(d.isNotNull).crossJoin(broadcast(q))
      .agg(count(lit(1)).as("n"), max(col("q_star")).as("q_star"),
        avg(greatest(d - col("q_star"), lit(0.0))).as("exp_short"),
        avg(greatest(col("q_star") - d, lit(0.0))).as("exp_left"))
      .select(col("n"), lit(ratio).as("ratio"), col("q_star"),
        col("exp_short"), col("exp_left"))
  }

  /** Capacity runway: with the cumulative level Σv, the recent run rate
    * r = mean(v over the last `recentN` buckets, time order), and a
    * literal capacity,
    *   runway = (capacity − level)/r buckets  (null once level ≥ capacity
    * or r ≤ 0 — the honest "already over / not growing" answers).
    * The one-number "days until full" that turns a rollup tier into a
    * provisioning ticket. The recent window is a distributed
    * top-N-by-time (TakeOrderedAndProject), not a global sort.
    * Output: one row (n, level, run_rate, runway_buckets).
    */
  def capacityRunway(df: DataFrame, tsCol: String, valCol: String,
                     capacity: Double, recentN: Int): DataFrame = {
    require(recentN >= 1, s"recentN must be >= 1, got $recentN")
    val v = col(valCol).cast("double")
    val base = df.filter(v.isNotNull)
    val total = base.agg(count(lit(1)).as("n"), sum(v).as("level"))
    val recent = base.select(col(tsCol).as("_t"), v.as("_v"))
      .orderBy(col("_t").desc).limit(recentN)
      .agg(avg(col("_v")).as("run_rate"))
    total.crossJoin(recent)
      .withColumn("runway_buckets",
        when(col("run_rate") > 0 && col("level") < capacity,
          (lit(capacity) - col("level")) / col("run_rate")))
      .select(col("n"), col("level"), col("run_rate"),
        col("runway_buckets"))
  }
}
