package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** KLL quantile-sketch table on Spark's `kll_sketch_agg_double` /
  * `kll_merge_agg_double` / `kll_sketch_get_quantile_double` (the forms
  * a14 runs): exactness below capacity, merge ≡ one-shot, and the
  * parquet round-trip the a14 tolerance oracle builds on. */
class QuantileSketchSpec extends SparkSpec {
  import spark.implicits._

  /** One KLL sketch (default k=200) of `v` per key. */
  private def sketchTable(df: DataFrame): DataFrame =
    df.groupBy(col("key")).agg(expr("kll_sketch_agg_double(v)").as("sketch"))

  /** Stored per-batch sketch rows merged back to one sketch per key. */
  private def merged(stored: DataFrame): DataFrame =
    stored.groupBy(col("key")).agg(expr("kll_merge_agg_double(sketch)").as("sketch"))

  /** Rank-`q` estimate of the table's single sketch. */
  private def quantile(sk: DataFrame, q: Double): Double =
    sk.select(expr(s"kll_sketch_get_quantile_double(sketch, ${q}D)")).head().getDouble(0)

  test("below sketch capacity the quantiles are exact") {
    val sk = sketchTable((1 to 100).map(i => ("k", i.toDouble)).toDF("key", "v"))
    // KLL getQuantile(q) inclusive: smallest item with rank >= q
    quantile(sk, 0.5) shouldBe 50.0
    quantile(sk, 0.9) shouldBe 90.0
    quantile(sk, 1.0) shouldBe 100.0
  }

  test("merging per-half sketches equals sketching the whole (below capacity)") {
    val a = (1 to 80).map(i => ("k", i.toDouble)).toDF("key", "v")
    val b = (81 to 160).map(i => ("k", i.toDouble)).toDF("key", "v")
    val halves = merged(sketchTable(a).unionByName(sketchTable(b)))
    val whole = sketchTable(a.unionByName(b).repartition(13))
    for (q <- Seq(0.25, 0.5, 0.75, 0.9))
      quantile(halves, q) shouldBe quantile(whole, q)
  }

  test("sketch rows survive a parquet round-trip") {
    val path = TempDirs.path("kll-spec/roundtrip")
    sketchTable((1 to 50).map(i => ("k", i.toDouble)).toDF("key", "v"))
      .write.mode("overwrite").parquet(path)
    quantile(merged(spark.read.parquet(path)), 0.5) shouldBe 25.0
  }

  test("SQL surface: kll_sketch_get_quantile_double reads a persisted sketch table from pure SQL") {
    val path = TempDirs.path("kll-spec/sql")
    sketchTable((1 to 100).map(i => ("k", i.toDouble)).toDF("key", "v"))
      .write.mode("overwrite").parquet(path)
    spark.read.parquet(path).createOrReplaceTempView("kll_sql_view")
    val r = spark.sql(
      """SELECT key, kll_sketch_get_quantile_double(sketch, 0.5) AS p50,
        |       kll_sketch_get_quantile_double(sketch, 0.9) AS p90
        |FROM kll_sql_view""".stripMargin).head()
    r.getString(0) shouldBe "k"
    r.getDouble(1) shouldBe 50.0
    r.getDouble(2) shouldBe 90.0
    // non-literal rank must fail at analysis, not mis-evaluate
    intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT kll_sketch_get_quantile_double(sketch, CAST(key AS DOUBLE)) " +
        "FROM kll_sql_view")
    }
  }

  test("a null sketch (a left-join miss) estimates NULL, not a crash") {
    spark.sql("SELECT kll_sketch_get_quantile_double(CAST(NULL AS BINARY), 0.5)")
      .head().isNullAt(0) shouldBe true
  }

  test("estimates stay within the rank-error bound well past capacity") {
    // 10k values 1..100 uniform: k=200 KLL ⇒ ~1.7% rank error ⇒ ±~2
    val sk = sketchTable(
      (0 until 10000).map(i => ("k", (i % 100 + 1).toDouble)).toDF("key", "v"))
    math.abs(quantile(sk, 0.5) - 50.0) should be <= 3.0
    math.abs(quantile(sk, 0.9) - 90.0) should be <= 3.0
  }
}
