package graft

import org.apache.spark.sql.functions._

import graft.functions.{FingerprintExpr, MinHashSigExpr}
import graft.operators.Similarity

/** The SQL surface ([[GraftFunctions]] / [[GraftExtensions]]): every
  * registered function must be callable from `spark.sql` text and agree
  * exactly with its Column-API form on real table data.
  */
class SqlFunctionsSpec extends SparkSuite {

  private lazy val docs = {
    val d = spark.read.parquet(s"$sfDir/documents.parquet")
    d.createOrReplaceTempView("docs_sqlfn")
    d
  }

  test("functions are registered at session build via GraftExtensions") {
    // the suite's session is built through GraftSession.builder ->
    // withExtensions, the only registration path
    val names = spark.sql("SHOW FUNCTIONS").collect().map(_.getString(0)).toSet
    for (fn <- Seq("utf8_char_count", "bottomk_fingerprint", "minhash_sig",
                   "hyperplane_bucket", "vec_dot"))
      assert(names.contains(fn), s"$fn missing from SHOW FUNCTIONS")
    val desc = spark.sql("DESCRIBE FUNCTION utf8_char_count")
      .collect().map(_.getString(0)).mkString("\n")
    assert(desc.toLowerCase.contains("utf-8 code-point count"))
  }

  test("utf8_char_count SQL == length() on real text incl. multibyte") {
    docs
    val mismatches = spark.sql(
      "SELECT count(*) FROM docs_sqlfn WHERE utf8_char_count(text) != length(text)")
      .first().getLong(0)
    assert(mismatches == 0L)
    // multibyte sanity directly in SQL
    val r = spark.sql("SELECT utf8_char_count('héllo wörld — 漢字')").first().getLong(0)
    assert(r == "héllo wörld — 漢字".codePointCount(0, "héllo wörld — 漢字".length))
  }

  test("vec_dot SQL == the declarative HOF formulation, bit-exact") {
    val r = spark.sql(
      """SELECT vec_dot(a, b) AS nat,
        |  aggregate(zip_with(a, b, (x, y) -> double(x) * double(y)),
        |            0.0D, (s, v) -> s + v) AS hof
        |FROM VALUES
        |  (array(1.5D, -2.25D, 3.0D), array(0.5D, 4.0D, -1.25D)),
        |  (array(0.1D, 0.2D, 0.3D),   array(0.3D, 0.2D, 0.1D))
        |AS t(a, b)""".stripMargin).collect()
    r.foreach { row =>
      assert(java.lang.Double.doubleToLongBits(row.getDouble(0)) ===
        java.lang.Double.doubleToLongBits(row.getDouble(1)))
    }
    assert(spark.sql("SELECT vec_dot(array(1.0D), array(1.0D, 2.0D))").first().isNullAt(0))
  }

  test("bottomk_fingerprint SQL == FingerprintExpr column API") {
    val viaSql = spark.sql(
      "SELECT doc_id, bottomk_fingerprint(text, 8, 5) AS fp FROM docs_sqlfn")
    val viaCol = docs.select(col("doc_id"),
      FingerprintExpr(col("text"), 8, 5).as("fp"))
    assert(viaSql.exceptAll(viaCol).isEmpty && viaCol.exceptAll(viaSql).isEmpty)
  }

  test("minhash_sig SQL == MinHashSigExpr column API") {
    val sh = docs.select(col("doc_id"),
      filter(split(col("text"), "\\s+"), w => length(w) > 0).as("shingles"))
    sh.createOrReplaceTempView("sh_sqlfn")
    val viaSql = spark.sql("SELECT doc_id, minhash_sig(shingles, 16) AS sig FROM sh_sqlfn")
    val viaCol = sh.select(col("doc_id"), MinHashSigExpr(col("shingles"), 16).as("sig"))
    assert(viaSql.exceptAll(viaCol).isEmpty && viaCol.exceptAll(viaSql).isEmpty)
  }

  test("hyperplane_bucket SQL == Similarity.hyperplaneBucket, incl. table arg") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val dim = emb.select(size(col("embedding"))).first().getInt(0)
    emb.createOrReplaceTempView("emb_sqlfn")
    val viaSql = spark.sql(
      s"SELECT vec_id, hyperplane_bucket(embedding, 8, $dim) AS b0, " +
      s"hyperplane_bucket(embedding, 8, $dim, 1) AS b1 FROM emb_sqlfn")
    val viaCol = emb.select(col("vec_id"),
      Similarity.hyperplaneBucket(col("embedding"), 8, dim).as("b0"),
      Similarity.hyperplaneBucket(col("embedding"), 8, dim, table = 1).as("b1"))
    assert(viaSql.exceptAll(viaCol).isEmpty && viaCol.exceptAll(viaSql).isEmpty)
    // distinct tables must actually bucket differently somewhere
    assert(viaSql.filter(col("b0") =!= col("b1")).limit(1).count() == 1L)
  }

  test("non-literal scalar parameter is rejected with a clear error") {
    docs
    val e = intercept[Exception] {
      spark.sql("SELECT bottomk_fingerprint(text, n_chars, 5) FROM docs_sqlfn").collect()
    }
    assert(e.getMessage.contains("integer literal"))
  }
}
