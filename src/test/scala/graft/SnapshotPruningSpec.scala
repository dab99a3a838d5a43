package graft

import java.sql.Timestamp

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.operators.Snapshot
import graft.plans.{SnapshotFileIndex, SnapshotPruning}

/** Plan-time zone-map pruning of governed reads ([[graft.plans.SnapshotPruning]]
  * over [[SnapshotFileIndex]]) is only ever an optimization: on generated
  * tables and predicates, `Snapshot.read(p).filter(c)` returns exactly
  * what the same filter returns over an unpruned `spark.read.parquet` of
  * the live batch dirs.
  *
  * Tables: a stat-less first batch (from `enable`), then batches that
  * are empty, multi-file, missing columns (null-filled) or written with
  * a second, narrower file beside the first (heterogeneous footers); one
  * table in three nests every batch under `_cell=` dirs. Values: int,
  * long, float, double, decimal and timestamp columns around a per-batch
  * centre, with floats whose decimal rendering is not exact, NaN, ±Inf,
  * -0.0, nulls and an all-null column. Predicates: comparisons with the
  * column on either side, `<=>`, `between`, `IN`, AND / OR / NOT, and
  * widening casts, over the data columns, `batch_id` and `_cell`.
  */
class SnapshotPruningSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("i", IntegerType), StructField("l", LongType),
    StructField("f", FloatType), StructField("d", DoubleType),
    StructField("dec", DecimalType(12, 3)), StructField("ts", TimestampType),
    StructField("nul", LongType), StructField("s", StringType)))

  private val T0 = Timestamp.valueOf("2020-01-01 00:00:00").getTime

  private val oddFloats = Seq(0.1f, 1.0e-5f, 16777217f, Float.MinPositiveValue,
    -0.0f, 3.4028235e38f, Float.NaN, Float.PositiveInfinity, Float.NegativeInfinity)
  private val oddDoubles = Seq(0.1, 1.0 / 3, 1.0e-300, -0.0, Double.MaxValue,
    Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity)

  private def nullable[A](g: Gen[A]): Gen[Any] =
    Gen.frequency(1 -> Gen.const(null), 9 -> g)

  private def row(centre: Int): Gen[Row] = for {
    di <- Gen.choose(0, 9)
    i <- nullable(Gen.const(centre + di))
    l <- nullable(Gen.choose(0L, 9L).map(x => centre * 1000L + x))
    f <- nullable(Gen.frequency(6 -> Gen.choose(0f, 9f).map(_ + centre),
      1 -> Gen.oneOf(oddFloats)))
    d <- nullable(Gen.frequency(6 -> Gen.choose(0.0, 9.0).map(_ + centre),
      1 -> Gen.oneOf(oddDoubles)))
    dec <- nullable(Gen.choose(0, 9999).map(x =>
      new java.math.BigDecimal(centre * 10 + x / 1000.0).setScale(3, java.math.RoundingMode.HALF_UP)))
    ts <- nullable(Gen.choose(0L, 9L).map(x => new Timestamp(T0 + (centre * 10L + x) * 3600000L)))
    s <- Gen.oneOf("a", "b", "c")
  } yield Row(i, l, f, d, dec, ts, null, s)

  private case class Batch(rows: Seq[Row], files: Int, dropCols: Seq[String],
                           narrowSecondFile: Boolean)

  /** Nested batches are never empty: an empty partitioned write leaves
    * no parquet file to take stats or a schema from. */
  private def batch(nested: Boolean): Gen[Batch] = for {
    centre <- Gen.choose(0, 60)
    n <- Gen.frequency((if (nested) 0 else 1) -> Gen.const(0), 6 -> Gen.choose(1, 8))
    rows <- Gen.listOfN(n, row(centre))
    files <- Gen.oneOf(1, 1, 3)
    drop <- Gen.frequency(4 -> Gen.const(Nil), 1 -> Gen.someOf("d", "dec", "ts").map(_.toSeq))
    narrow <- Gen.frequency(4 -> false, 1 -> true)
  } yield Batch(rows, files, drop, narrow)

  /** Writes one batch under `dir`: `files` parts, the dropped columns
    * absent, `_cell` (= i mod 3) as nested partition dirs if `nested`. */
  private def write(b: Batch, dir: String, nested: Boolean): Unit = {
    var df = spark.createDataFrame(java.util.Arrays.asList(b.rows: _*), schema)
      .drop(b.dropCols: _*)
    if (nested) df = df.withColumn("_cell", coalesce(col("i"), lit(0)) % 3)
    def out(d: DataFrame, mode: String) = {
      val w = d.repartition(b.files).write.mode(mode)
      (if (nested) w.partitionBy("_cell") else w).parquet(dir)
    }
    out(df, "overwrite")
    if (b.narrowSecondFile) out(df.select(df.columns.filterNot(Set("l", "f")).map(col): _*), "append")
  }

  private def table(seed: Long): (String, Boolean) = {
    val nested = seed % 3 == 0
    val g = for {
      first <- batch(nested = true).map(_.copy(dropCols = Nil, narrowSecondFile = false))
      rest <- Gen.choose(2, 5).flatMap(Gen.listOfN(_, batch(nested)))
    } yield first +: rest
    val batches = g(Gen.Parameters.default, Seed(seed)).get
    val path = TempDirs.path(s"snapshot-pruning/t$seed-${java.util.UUID.randomUUID()}")
    // batch 0 is written whole before enable, so it carries no stats
    write(batches.head, s"$path/batch_id=0", nested)
    Snapshot.enable(spark, path)
    batches.tail.zipWithIndex.foreach { case (b, k) =>
      val id = k + 1L
      Snapshot.stagedAppend(spark, path, id)(write(b, s"$path/batch_id=$id", nested))
    }
    (path, nested)
  }

  /** A literal drawn from the table's own values (so bounds are hit
    * exactly), or beside them, or one of the special values. */
  private def predicates(values: Map[String, Seq[Any]], nested: Boolean): Gen[Column] = {
    def pick(name: String, other: Gen[Any]): Gen[Any] = {
      val seen = values(name).filter(_ != null)
      if (seen.isEmpty) other else Gen.frequency(3 -> Gen.oneOf(seen), 1 -> other)
    }
    val operands: Seq[Gen[(Column, Any)]] = Seq(
      pick("i", Gen.choose(-5, 75)).map(v => (col("i"), v)),
      pick("i", Gen.choose(-5, 75)).map(v => (col("i").cast("long"), v)),
      pick("i", Gen.choose(-5.0, 75.0)).map(v => (col("i").cast("double"), v match {
        case x: Int => x + 0.5; case x => x })),
      pick("l", Gen.choose(-5L, 70000L)).map(v => (col("l"), v)),
      pick("l", Gen.choose(-5L, 70000L)).map(v => (col("l").cast("double"), v)),
      pick("f", Gen.oneOf(oddFloats)).map(v => (col("f"), v)),
      pick("f", Gen.oneOf(oddDoubles)).map(v => (col("f").cast("double"), v)),
      pick("f", Gen.oneOf(oddDoubles)).map(v => (col("f"), v)), // float vs double literal
      pick("d", Gen.oneOf(oddDoubles)).map(v => (col("d"), v)),
      pick("dec", Gen.choose(-5.0, 700.0).map(x => new java.math.BigDecimal(x)
        .setScale(3, java.math.RoundingMode.HALF_UP))).map(v => (col("dec"), v)),
      pick("ts", Gen.choose(-50L, 800L).map(h => new Timestamp(T0 + h * 3600000L)))
        .map(v => (col("ts"), v)),
      pick("ts", Gen.choose(-50L, 800L).map(h => new Timestamp(T0 + h * 3600000L)))
        .map(v => (unix_micros(col("ts")), v match {
          case t: Timestamp => t.getTime * 1000L; case x => x })),
      Gen.choose(-1L, 6L).map(v => (col("nul"), v)),
      Gen.choose(-1, 6).map(v => (col("batch_id"), v))) ++
      (if (nested) Seq(Gen.choose(-1, 3).map(v => (col("_cell"), v))) else Nil)
    val operand = Gen.oneOf(operands).flatMap(identity)
    val nullLit = Gen.frequency(12 -> false, 1 -> true)
    def litOf(v: Any, isNull: Boolean) = if (isNull) lit(null) else lit(v)
    val atom: Gen[Column] = for {
      (c, v) <- operand
      isNull <- nullLit
      op <- Gen.choose(0, 9)
      (_, w) <- operand // a second value for between / IN (same column family when it fits)
    } yield {
      val x = litOf(v, isNull)
      val y = if (w.getClass == v.getClass) lit(w) else x
      op match {
        case 0 => c < x
        case 1 => c <= x
        case 2 => c > x
        case 3 => c >= x
        case 4 => c === x
        case 5 => c <=> x
        case 6 => x < c // the column on the right
        case 7 => x >= c
        case 8 => c.between(x, y)
        case _ => c.isin(x, y)
      }
    }
    def tree(depth: Int): Gen[Column] =
      if (depth == 0) atom
      else Gen.frequency(
        3 -> atom,
        1 -> (for (a <- tree(depth - 1); b <- tree(depth - 1)) yield a && b),
        1 -> (for (a <- tree(depth - 1); b <- tree(depth - 1)) yield a || b),
        1 -> tree(depth - 1).map(a => !a))
    tree(2)
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  private def scannedBatches(df: DataFrame): Seq[Long] =
    df.queryExecution.optimizedPlan.collect {
      case lr: LogicalRelation => lr.relation match {
        case HadoopFsRelation(idx: SnapshotFileIndex, _, _, _, _, _) => idx.manifest.batches
        case _ => Nil
      }
    }.flatten

  test("property: a pruned governed read equals the same filter over an unpruned read " +
    "of the live dirs, the rule is idempotent, and some generated cases really prune") {
    var pruned = 0
    for (seed <- 1L to 12L) {
      val (path, nested) = table(seed)
      val m = Snapshot.latest(spark, path).get
      val unpruned = spark.read.option("basePath", path)
        .schema(Snapshot.structOf(m.schemaJson.get))
        .parquet(m.batches.map(b => s"$path/batch_id=$b"): _*)
      val values = unpruned.columns.map(c => c -> unpruned.select(c).collect().map(_.get(0)).toSeq).toMap
      val preds = Gen.listOfN(20, predicates(values, nested))(Gen.Parameters.default, Seed(seed * 7919)).get
      for (p <- preds) {
        val got = Snapshot.read(spark, path).filter(p)
        withClue(s"seed $seed, nested $nested, predicate $p: ") {
          rows(got) shouldBe rows(unpruned.filter(p))
        }
        if (scannedBatches(got).size < m.batches.size) pruned += 1
        // idempotent under the fixed-point batch: a pruned plan screens to itself
        val optimized = got.queryExecution.optimizedPlan
        SnapshotPruning(optimized) should be theSameInstanceAs optimized
      }
    }
    info(s"$pruned of 240 cases pruned at least one batch")
    // not vacuous: a good share of the generated cases drop batches
    pruned should be >= 60
  }

  test("two reads of one snapshot plan as the same result, so a cached read serves the next") {
    val (path, _) = table(100L)
    val a = Snapshot.read(spark, path)
    a.queryExecution.analyzed.sameResult(Snapshot.read(spark, path).queryExecution.analyzed) shouldBe true
    try {
      a.cache()
      Snapshot.read(spark, path).queryExecution.withCachedData.collectFirst {
        case r: org.apache.spark.sql.execution.columnar.InMemoryRelation => r
      } shouldBe defined
    } finally a.unpersist()
  }
}
