package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Theta set algebra (Spark's `theta_sketch_agg` / `theta_intersection`
  * / `theta_difference` / `theta_sketch_estimate`, the forms a15 runs)
  * on planted partial overlaps (the sf corpus's types all share one
  * user set, so the declared query can't discriminate intersection
  * from union — this spec does). */
class ThetaSketchSpec extends SparkSpec {
  import spark.implicits._

  // a: 0..99, b: 50..179 → |a|=100, |b|=130, |a∩b|=50, |a\b|=50
  private def rows =
    ((0L until 100L).map(("a", _)) ++ (50L until 180L).map(("b", _)))
      .toDF("k", "id")

  /** One theta sketch (default lgNomEntries=12) per key. */
  private def sketchTable(df: DataFrame): DataFrame =
    df.groupBy(col("k").as("key")).agg(expr("theta_sketch_agg(id)").as("sketch"))

  /** |x|, |y|, |x∩y|, |x\y|, |y\x| off the sketches keyed `x` and `y`. */
  private def algebra(sk: DataFrame, x: String = "a", y: String = "b"): Seq[Long] = {
    val r = sk.filter(col("key") === x).select(col("sketch").as("sx"))
      .crossJoin(sk.filter(col("key") === y).select(col("sketch").as("sy")))
      .select(
        expr("theta_sketch_estimate(sx)"), expr("theta_sketch_estimate(sy)"),
        expr("theta_sketch_estimate(theta_intersection(sx, sy))"),
        expr("theta_sketch_estimate(theta_difference(sx, sy))"),
        expr("theta_sketch_estimate(theta_difference(sy, sx))"))
      .head()
    (0 until 5).map(r.getLong)
  }

  test("below capacity: estimate, intersection, and A-not-B are exact") {
    algebra(sketchTable(rows)) shouldBe Seq(100L, 130L, 50L, 50L, 80L)
  }

  test("sketches are partitioning-independent and parquet round-trip safe") {
    val path = TempDirs.path("theta-spec/rt")
    sketchTable(rows.repartition(13)).write.mode("overwrite").parquet(path)
    val rt = spark.read.parquet(path)
    algebra(rt) shouldBe algebra(sketchTable(rows))
    algebra(rt).head shouldBe 100L
  }

  test("duplicate ids count once; empty/disjoint sets intersect to zero") {
    val dup = (Seq.fill(500)(("d", 7L)) ++ Seq(("d", 8L))).toDF("k", "id")
    val far = (1000L until 1100L).map(("z", _)).toDF("k", "id")
    val sk = sketchTable(rows.unionByName(dup).unionByName(far))
    algebra(sk, "d", "a").head shouldBe 2L
    algebra(sk, "a", "z")(2) shouldBe 0L
    // the sketch of an empty set: no ids, estimate 0 in every operation
    val empty = rows.filter(lit(false))
      .agg(expr("theta_sketch_agg(id)").as("sketch")).withColumn("key", lit("e"))
    val withEmpty = sk.unionByName(empty)
    algebra(withEmpty, "a", "e") shouldBe Seq(100L, 0L, 0L, 100L, 0L)
  }

  test("SQL surface: theta_* built-ins read a persisted sketch table from pure SQL") {
    // the shared-sketch-table consumer story: sketches land in parquet,
    // a pure-SQL session estimates/intersects through Spark's own names
    val path = TempDirs.path("theta-spec/sql")
    sketchTable(rows).write.mode("overwrite").parquet(path)
    spark.read.parquet(path).createOrReplaceTempView("theta_sql_view")
    val est = spark.sql(
      "SELECT key, theta_sketch_estimate(sketch) AS est FROM theta_sql_view ORDER BY key")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    est shouldBe Map("a" -> 100L, "b" -> 130L)
    val pair = spark.sql(
      """SELECT theta_sketch_estimate(theta_intersection(a.sketch, b.sketch)) AS both,
        |       theta_sketch_estimate(theta_difference(a.sketch, b.sketch)) AS only_a
        |FROM theta_sql_view a JOIN theta_sql_view b
        |ON a.key = 'a' AND b.key = 'b'""".stripMargin).head()
    pair.getLong(0) shouldBe 50L
    pair.getLong(1) shouldBe 50L
  }

  test("above capacity the estimate stays within the published error band") {
    // 100k distinct ids vs lgNomEntries=12 (4096 retained): ~2.5% rse ⇒ ±4σ bound
    val big = (0L until 100000L).map(("k", _)).toDF("k", "id")
    val est = sketchTable(big).select(expr("theta_sketch_estimate(sketch)")).head().getLong(0)
    math.abs(est - 100000.0) / 100000.0 should be < 0.1
  }
}
