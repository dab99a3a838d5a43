package graft

import org.apache.spark.sql.functions._
import graft.operators.{CountMinTable, Retention, Snapshot}

/** Count-min sketch table: exactness at fixture scale (width >>
  * domain), partition-order independence, idempotent replay,
  * incompatible-shape refusal, SQL parity, and composition with
  * snapshot retention. The sf-scale one-sided bounds vs exact SQL are
  * a18's oracle gate. */
class CountMinTableSpec extends SparkSpec {
  import spark.implicits._

  private def fixture = (
    Seq.fill(7)(("click", 1L)) ++ Seq.fill(3)(("click", 2L)) ++
      Seq.fill(5)(("view", 1L)) ++ Seq.fill(2)(("view", 9L)))
    .toDF("event_type", "user_id")

  private def estMap(path: String, items: Seq[String]): Map[(String, String), Long] =
    CountMinTable.estimateCounts(spark, path, items)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap

  test("build + append estimate exactly at fixture scale; replay is idempotent") {
    val path = TempDirs.path("cms-spec/basic")
    CountMinTable.build(fixture, "event_type", "user_id", path)
    CountMinTable.appendBatch(fixture.filter(col("user_id") === 1L),
      "event_type", "user_id", path, 0L)
    val e1 = estMap(path, Seq("1", "2", "9"))
    // width 2000 vs 3 distinct users: no collision, estimates exact
    e1(("click", "1")) shouldBe 14L // 7 build + 7 appended
    e1(("click", "2")) shouldBe 3L
    e1(("click", "9")) shouldBe 0L
    e1(("view", "1")) shouldBe 10L
    e1(("view", "9")) shouldBe 2L
    // replayed batch overwrites its own partition: nothing double-counts
    CountMinTable.appendBatch(fixture.filter(col("user_id") === 1L),
      "event_type", "user_id", path, 0L)
    estMap(path, Seq("1", "2", "9")) shouldBe e1
  }

  test("the count_min_sketch aggregate's bytes equal an addString-fed sketch's") {
    import org.apache.spark.util.sketch.CountMinSketch
    // non-ASCII values too: both sides hash a value's UTF-8 bytes
    val rows = fixture.select(col("event_type"), col("user_id").cast("string"))
      .union(Seq(("view", "naïve"), ("日本", "🗺 map"), ("view", "naïve")).toDF())
    val got = CountMinTable.sketchRows(rows.repartition(3), "event_type", "user_id",
      eps = 1e-2, confidence = 0.95, seed = 7)
      .collect().map(r => r.getString(0) -> r.getAs[Array[Byte]](1).toSeq).toMap
    val want = rows.collect().groupBy(_.getString(0)).map { case (key, rs) =>
      val sk = CountMinSketch.create(1e-2, 0.95, 7)
      rs.foreach(r => sk.addString(r.getString(1)))
      key -> sk.toByteArray.toSeq
    }
    got shouldBe want
  }

  test("estimates are independent of input partitioning (counters add)") {
    val a = TempDirs.path("cms-spec/part-a")
    val b = TempDirs.path("cms-spec/part-b")
    CountMinTable.build(fixture, "event_type", "user_id", a)
    CountMinTable.build(fixture.repartition(13), "event_type", "user_id", b)
    estMap(a, Seq("1", "2", "9")) shouldBe estMap(b, Seq("1", "2", "9"))
  }

  test("sketches of a different shape refuse to merge, loudly") {
    val path = TempDirs.path("cms-spec/shape")
    CountMinTable.build(fixture, "event_type", "user_id", path, eps = 1e-3)
    CountMinTable.appendBatch(fixture, "event_type", "user_id", path, 0L,
      eps = 1e-2) // different width
    intercept[Exception] {
      CountMinTable.estimateCounts(spark, path, Seq("1")).collect()
    }
  }

  test("SQL surface: graft_cms_estimate equals estimateCounts") {
    val path = TempDirs.path("cms-spec/sql")
    CountMinTable.build(fixture, "event_type", "user_id", path)
    spark.read.parquet(path).createOrReplaceTempView("cms_sql_view")
    val viaSql = spark.sql(
      """SELECT key, graft_cms_estimate(sketch, '1') AS e
         FROM cms_sql_view""")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    viaSql shouldBe Map("click" -> 7L, "view" -> 5L)
    // null sketch OR null item estimates 0, never crashes the query
    spark.sql("SELECT graft_cms_estimate(CAST(NULL AS BINARY), '1')")
      .head().getLong(0) shouldBe 0L
    spark.sql(
      "SELECT graft_cms_estimate(sketch, CAST(NULL AS STRING)) FROM cms_sql_view")
      .collect().map(_.getLong(0)).toSet shouldBe Set(0L)
  }

  test("the V1 decode is pinned against the sketch's own accessors") {
    import org.apache.spark.util.sketch.CountMinSketch
    val sk = CountMinSketch.create(0.01, 0.95, 7)
    (1 to 100).foreach(i => sk.addString(s"item-${i % 10}"))
    val bytes = sk.toByteArray
    CountMinTable.decodedTotal(bytes) shouldBe sk.totalCount()
    // every hash row holds every increment exactly once
    CountMinTable.decodedRowSums(bytes).foreach(_ shouldBe sk.totalCount())
  }

  test("inner-product join-size estimate: exact on collision-free data, one-sided + bounded at sf scale") {
    import org.apache.spark.util.sketch.CountMinSketch
    def sketchOf(vals: Seq[Long], eps: Double = 1e-3) = {
      val sk = CountMinSketch.create(eps, 0.99, 42)
      vals.foreach(v => sk.addString(v.toString))
      sk.toByteArray
    }
    // planted: sum of f_a * f_b = 3*2 + 2*1 = 8, no collisions
    CountMinTable.innerProduct(
      sketchOf(Seq(1L, 1L, 1L, 2L, 2L, 3L)),
      sketchOf(Seq(1L, 1L, 2L, 4L, 4L, 4L, 4L, 4L))) shouldBe 8L
    // shape mismatch is loud
    intercept[IllegalArgumentException] {
      CountMinTable.innerProduct(sketchOf(Seq(1L)), sketchOf(Seq(1L), eps = 0.01))
    }.getMessage should include("shape/seed mismatch")
    // sf-scale self-join of events.user_id: estimate >= exact (one-
    // sided) and within the eps*N*N analytic bound
    val users = Tables(spark, sf, "events")
      .select(col("user_id").cast("long")).collect().map(_.getLong(0)).toSeq
    val exact = users.groupBy(identity).map { case (_, v) =>
      v.size.toLong * v.size }.sum
    val est = CountMinTable.innerProduct(sketchOf(users), sketchOf(users))
    est should be >= exact
    val bound = (2.0 / math.ceil(2 / 1e-3)) * users.size.toDouble * users.size
    (est - exact).toDouble should be <= bound
  }

  test("composes with snapshot retention: dropped batches forget their counts") {
    val path = TempDirs.path("cms-spec/retention")
    CountMinTable.appendBatch(fixture, "event_type", "user_id", path, 0L)
    CountMinTable.appendBatch(fixture, "event_type", "user_id", path, 1L)
    Snapshot.enable(spark, path)
    estMap(path, Seq("1"))(("click", "1")) shouldBe 14L
    Retention.dropBatchesBefore(spark, path, keepFrom = 1L) shouldBe Seq(0L)
    // logical drop: the live estimate halves while files still exist
    estMap(path, Seq("1"))(("click", "1")) shouldBe 7L
    Retention.batchIds(spark, path) shouldBe Seq(0L, 1L)
  }
}
