package graft

import org.apache.spark.sql.functions._
import graft.operators.{Layout, Sharding}

class GraftExtensionsSpec extends SparkTestBase {

  // the shared test session lacks the extension; register the SAME
  // builders the extension injects as temp functions
  private def register(): Unit = {
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "z_value", GraftExtensions.zValueFn._3, "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "shuffle_key", GraftExtensions.shuffleKeyFn._3, "built-in")
  }

  test("SQL z_value equals the Column API on values and respects the bits arg") {
    register()
    val sqlOut = spark.sql(
      "SELECT z_value(12345, 54321) AS z16, z_value(3, 5, 4) AS z4")
      .collect().head
    val colOut = spark.range(1).select(
      Layout.zValue(lit(12345), lit(54321), 16).as("z16"),
      Layout.zValue(lit(3), lit(5), 4).as("z4")).collect().head
    assert(sqlOut.getLong(0) === colOut.getLong(0))
    assert(sqlOut.getLong(1) === colOut.getLong(1))
  }

  test("SQL z_value rejects a non-literal bits argument") {
    register()
    val err = intercept[Exception] {
      spark.sql("SELECT z_value(1, 2, CAST(rand() * 8 AS INT))").collect()
    }
    assert(err.getMessage.contains("integer literal"))
  }

  test("SQL int8_stats equals the Column API struct") {
    import graft.functions.Int8Stats
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "int8_stats", (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.length == 1); Int8Stats(children.head)
      }, "built-in")
    val sqlOut = spark.sql(
      "SELECT int8_stats(array(CAST(0.0 AS DOUBLE), 1.0, 2.0, 4.0)) AS s")
      .select("s.n_dims", "s.q_min", "s.q_max", "s.q_sum", "s.mse").collect().head
    val colOut = spark.range(1).select(
      Int8Stats.int8Stats(array(lit(0.0), lit(1.0), lit(2.0), lit(4.0))).as("s"))
      .select("s.n_dims", "s.q_min", "s.q_max", "s.q_sum", "s.mse").collect().head
    assert(sqlOut === colOut)
  }

  test("SQL char_dist_entropy equals the Column API struct") {
    import graft.functions.CharDistEntropy
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "char_dist_entropy", (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.length == 1); CharDistEntropy(children.head)
      }, "built-in")
    val sqlOut = spark.sql(
      "SELECT char_dist_entropy(lower('AbAb!! 12')) AS s")
      .select("s.n_alpha", "s.char_entropy").collect().head
    val colOut = spark.range(1).select(
      CharDistEntropy.charDistEntropy(lower(lit("AbAb!! 12"))).as("s"))
      .select("s.n_alpha", "s.char_entropy").collect().head
    assert(sqlOut === colOut)
    assert(sqlOut.getLong(0) === 4L)
    assert(math.abs(sqlOut.getDouble(1) - math.log(2)) < 1e-9)
    // letterless input -> null struct (the exploded form emits no row)
    assert(spark.sql("SELECT char_dist_entropy('123 .,!') AS s").collect().head.isNullAt(0))
  }

  test("SQL word_shingles generator equals the kernel through LATERAL VIEW") {
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "word_shingles", GraftExtensions.wordShinglesFn._3, "built-in")
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    docs.createOrReplaceTempView("docs_ws_v")
    val sqlOut = spark.sql(
      """SELECT doc_id, s.__sh FROM docs_ws_v
        |LATERAL VIEW word_shingles(text, 5) s
        |WHERE text IS NOT NULL""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    val apiOut = graft.operators.TextAnalysis.explodedShingles(docs, "text", "doc_id", 5)
      .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    assert(sqlOut.nonEmpty && sqlOut === apiOut)
  }

  test("SQL redact_pii equals the Column API chain and respects the minIdRun arg") {
    import graft.operators.TextAnalysis
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "redact_pii", GraftExtensions.redactPiiFn._3, "built-in")
    val s = "mail a1@b.co ip 10.0.0.1 tel 555-123-4567 acct 123456 ext 123"
    val sqlOut = spark.sql(
      s"SELECT redact_pii('$s') AS r4, redact_pii('$s', 3) AS r3").collect().head
    val colOut = spark.range(1).select(
      TextAnalysis.redactPii(lit(s)).as("r4"),
      TextAnalysis.redactPii(lit(s), minIdRun = 3).as("r3")).collect().head
    assert(sqlOut.getString(0) === colOut.getString(0))
    assert(sqlOut.getString(1) === colOut.getString(1))
    assert(sqlOut.getString(0) === "mail [EMAIL] ip [IP] tel [PHONE] acct [ID] ext 123")
    assert(sqlOut.getString(1) === "mail [EMAIL] ip [IP] tel [PHONE] acct [ID] ext [ID]")
    val err = intercept[Exception] {
      spark.sql("SELECT redact_pii('x', CAST(rand() * 4 AS INT))").collect()
    }
    assert(err.getMessage.contains("integer literal"))
  }

  test("SQL shuffle_key equals the Column API and the md5 derivation") {
    register()
    val sqlOut = spark.sql("SELECT shuffle_key(42) AS k").collect().head.getLong(0)
    val colOut = spark.range(1).select(Sharding.shuffleKey(lit(42)).as("k"))
      .collect().head.getLong(0)
    val raw = spark.range(1).select(
      conv(substring(md5(lit("42")), 1, 15), 16, 10).cast("long").as("k"))
      .collect().head.getLong(0)
    assert(sqlOut === colOut)
    assert(sqlOut === raw)
  }
}
