package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.sources.Pages
import graft.functions.Hier
import graft.operators.Rollup

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every implemented operator from SURVEY.md §2 gets a `queries` entry over
  * the driver testdata (`/root/testdata/sf*`) and, where ANSI-SQL
  * expressible, a DuckDB `oracleSql` twin. Column names and ordering are
  * aligned on both sides; float outputs are rounded to 6 dp on both sides so
  * summation-order ulp noise cannot flip the hash compare.
  *
  * The 514 query/oracle pairs live in the `EntriesQ*` part files (~2.3k
  * lines each, entries and oracles side by side per range); this object
  * only concatenates them and enforces that names are unique and every
  * oracle has a query.
  */
object SparkEntry {

  /** Flagship query: full page pipeline on synthetic pages — synthesize →
    * hierarchy → 1m rollup → promote to 1h → hierarchy rollup. Driver
    * smoke-checks rows > 0 on sf0.001.
    */
  def entry(spark: SparkSession): DataFrame = {
    val pages = Hier.withHierarchy(Pages.synthesize(spark, 20000L, seed = 42L))
    val t1m = Rollup.tier1m(pages)
    val t1h = Rollup.promote(t1m, 3600L)
    Rollup.rollupHierarchy(t1h, Hier.Levels)
      .drop("block", "lang_set")
  }

  private val parts: Seq[EntryPart] = Seq(EntriesQ001, EntriesQ099, EntriesQ169, EntriesQ242, EntriesQ310, EntriesQ372, EntriesQ438)

  /** One entry per implemented operator from SURVEY.md §2. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] = {
    val all = parts.flatMap(_.queries)
    val dup = all.groupBy(_._1).collect { case (n, vs) if vs.sizeIs > 1 => n }
    require(dup.isEmpty, s"duplicate query names across entry parts: $dup")
    all.toMap
  }

  /** DuckDB twins of `queries` (ANSI SQL over the same parquet tables). */
  lazy val oracleSql: Map[String, String] = {
    val all = parts.flatMap(_.oracles)
    val dup = all.groupBy(_._1).collect { case (n, vs) if vs.sizeIs > 1 => n }
    require(dup.isEmpty, s"duplicate oracle names across entry parts: $dup")
    val orphans = all.map(_._1).filterNot(queries.contains)
    require(orphans.isEmpty, s"oracles without a query (mispaired name?): $orphans")
    all.toMap
  }
}
