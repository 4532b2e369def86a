package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Pairwise association rules over baskets (Agrawal & Srikant 1994, the
  * support/confidence/lift core of Apriori at k=2) — "users who do A in a
  * day also do B": the co-occurrence analytics layer over the same
  * event streams the tiers aggregate.
  *
  *   support(a,b) = c_ab / n_baskets
  *   conf(a→b)    = c_ab / c_a         (both directions emitted)
  *   lift(a,b)    = n·c_ab / (c_a·c_b) (>1 = positive association)
  *
  * Everything is exact integer counts with divisions in the final
  * projection — an independent engine replays it bit-for-bit.
  *
  * Scale shape: baskets are deduplicated to (basket, item) ONCE (one
  * shuffle); the pair join is per-basket — cost Σ|basket|², bounded by the
  * item-vocabulary size per basket (event types, not events), the same
  * bound class as the per-key series folds. Item supports re-aggregate
  * from the deduped pairs, and the final joins are item-cardinality-sized
  * (broadcast). `minCount` prunes rare pairs BEFORE the stats joins.
  * Output: (item_a, item_b [a < b], c_a, c_b, c_ab, n_baskets, support,
  * conf_ab, conf_ba, lift).
  */
object Assoc {

  def pairRules(df: DataFrame, basketCols: Seq[String], itemCol: String,
                minCount: Long = 1L): DataFrame = {
    require(minCount >= 1, s"minCount must be >= 1, got $minCount")
    val bk = basketCols.map(col)
    val items = df.filter(col(itemCol).isNotNull)
      .select((bk :+ col(itemCol).as("_it")): _*).distinct()
    val nB = items.select(bk: _*).distinct().agg(count(lit(1)).as("n_baskets"))
    val supp = items.groupBy(col("_it")).agg(count(lit(1)).as("_c"))
    val a = items.select((bk :+ col("_it").as("item_a")): _*)
    val b = items.select((bk :+ col("_it").as("item_b")): _*)
    val pairs = a.join(b, basketCols)
      .filter(col("item_a") < col("item_b"))
      .groupBy("item_a", "item_b").agg(count(lit(1)).as("c_ab"))
      .filter(col("c_ab") >= minCount)
    pairs
      .join(broadcast(supp.select(col("_it").as("item_a"), col("_c").as("c_a"))), "item_a")
      .join(broadcast(supp.select(col("_it").as("item_b"), col("_c").as("c_b"))), "item_b")
      .join(nB)
      .withColumn("support", col("c_ab") / col("n_baskets"))
      .withColumn("conf_ab", col("c_ab") / col("c_a"))
      .withColumn("conf_ba", col("c_ab") / col("c_b"))
      // doubles BEFORE the products: long*long overflows at corpus scale
      .withColumn("lift", (col("n_baskets").cast("double") * col("c_ab")) /
        (col("c_a").cast("double") * col("c_b")))
      .select(col("item_a"), col("item_b"), col("c_a"), col("c_b"),
        col("c_ab"), col("n_baskets"), col("support"), col("conf_ab"),
        col("conf_ba"), col("lift"))
  }
}
