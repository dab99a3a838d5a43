package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.CountMinSketch

/** Persisted per-key COUNT-MIN sketch table — point-FREQUENCY
  * estimates over unbounded history with bounded state, completing the
  * sketch family: HLL answers "how many distinct" ([[SketchTable]]),
  * KLL "what quantile" (Spark's `kll_sketch_agg_*`, a14), theta "how
  * big is the overlap" (`theta_sketch_agg`, a15), Misra–Gries "which
  * items are heavy" ([[FreqItems]]) — count-min answers "how often
  * has THIS item appeared", for items chosen at query time, long after
  * the raw rows are gone. (Misra–Gries keeps only the top-k survivors; CMS can be
  * asked about ANY item, at the price of a one-sided overestimate.)
  *
  * Same lifecycle as every graft sketch table: one fixed-size sketch
  * row per key per ingest batch (`batch_id=N` partitions, idempotent
  * per-batch overwrite), readers merge the LIVE batches' sketches —
  * counter arrays add elementwise, so merge order never matters —
  * and [[Snapshot]]-enabled tables get atomic retention/compaction
  * for free. Estimates are DETERMINISTIC (seeded hashing, additive
  * counters) and one-sided: estimate ≥ true count always, and
  * estimate ≤ true + eps·N with the configured confidence — the a18
  * oracle gates exactly those two properties against exact SQL counts.
  *
  * All writes to one table must use the same (eps, confidence, seed):
  * sketches of different shape refuse to merge loudly
  * (IncompatibleMergeException) rather than mis-estimate silently.
  */
object CountMinTable {

  /** One CMS of `valCol` (as string) per `keyCol` group: Spark's
    * `count_min_sketch` aggregate, which builds the same
    * `CountMinSketch.create(eps, confidence, seed)` and adds each
    * value's UTF-8 bytes, as `addString` does (CountMinTableSpec pins
    * the bytes). Partial sketches combine map-side and merge per key. */
  def sketchRows(df: DataFrame, keyCol: String, valCol: String,
                 eps: Double = 1e-3, confidence: Double = 0.99,
                 seed: Int = 42): DataFrame =
    df.select(col(keyCol).cast("string").as("key"), col(valCol).cast("string").as("value"))
      .filter(col("key").isNotNull && col("value").isNotNull)
      .groupBy("key")
      .agg(count_min_sketch(col("value"), lit(eps), lit(confidence), lit(seed)).as("sketch"))

  /** Fresh build as the reserved batch -1 — a table reset, manifest
    * republished if the table was snapshot-enabled (the
    * [[SketchTable.build]] convention). */
  def build(df: DataFrame, keyCol: String, valCol: String, path: String,
            eps: Double = 1e-3, confidence: Double = 0.99,
            seed: Int = 42): Unit =
    Snapshot.withTableReset(df.sparkSession, path) {
      sketchRows(df, keyCol, valCol, eps, confidence, seed)
        .withColumn("batch_id", lit(-1L))
        .write.partitionBy("batch_id").mode("overwrite").parquet(path)
    }

  /** Append one batch under [[Snapshot.stagedAppend]]: plain tables
    * overwrite their own partition (idempotent redelivery); enabled
    * tables stage-then-publish, and a redelivered committed id is a
    * no-op (the [[SketchTable.appendBatch]] contract). */
  def appendBatch(df: DataFrame, keyCol: String, valCol: String,
                  path: String, batchId: Long, eps: Double = 1e-3,
                  confidence: Double = 0.99, seed: Int = 42): Unit = {
    require(batchId >= 0, s"batch ids start at 0 (-1 is the build): $batchId")
    Snapshot.stagedAppend(df.sparkSession, path, batchId) {
      sketchRows(df, keyCol, valCol, eps, confidence, seed)
        .write.mode("overwrite").parquet(s"$path/batch_id=$batchId")
    }
  }

  /** Frequency estimates for `items` per key across the LIVE batches:
    * one scan of the sketch table, one merge per key (counter adds —
    * order-free), then a lookup per item. Output: (key, item,
    * estimate), one row per key × item. Items ride the closure (a
    * query-sized list); history is never re-scanned. */
  def estimateCounts(spark: SparkSession, path: String,
                     items: Seq[String]): DataFrame = {
    require(items.nonEmpty, "no items to estimate")
    import spark.implicits._
    mergedSketches(spark, path)
      .flatMap { case (key, bytes) =>
        val merged = CountMinSketch.readFrom(bytes)
        items.iterator.map(i => (key, i, merged.estimateCount(i)))
      }
      .toDF("key", "item", "estimate")
  }

  /** Decoded Spark CMS V1 serialization: `writeTo` emits version(int),
    * totalCount(long), depth(int), width(int), hashA(depth longs),
    * table(depth × width longs). The format is versioned and public
    * (it IS the bytes the sketch table persists); decoding is guarded
    * by the version check and by CountMinTableSpec's round-trip pins
    * (decoded totalCount == sketch.totalCount, decoded row sums ==
    * totalCount), so a format bump fails loudly, never silently. */
  private final case class CmsParts(totalCount: Long, depth: Int,
      width: Int, hashA: Array[Long], table: Array[Array[Long]])

  private def decode(bytes: Array[Byte]): CmsParts = {
    val in = new java.io.DataInputStream(
      new java.io.ByteArrayInputStream(bytes))
    val version = in.readInt()
    require(version == 1, s"unknown CountMinSketch serialization v$version")
    val total = in.readLong()
    val depth = in.readInt()
    val width = in.readInt()
    val hashA = Array.fill(depth)(in.readLong())
    val table = Array.fill(depth)(Array.fill(width)(in.readLong()))
    CmsParts(total, depth, width, hashA, table)
  }

  private[graft] def decodedTotal(bytes: Array[Byte]): Long =
    decode(bytes).totalCount
  private[graft] def decodedRowSums(bytes: Array[Byte]): Seq[Long] =
    decode(bytes).table.map(_.sum).toSeq

  /** JOIN-SIZE ESTIMATE from two sketches over the join column — the
    * classic count-min inner product: |A ⋈ B| = Σ_v fA(v)·fB(v) is
    * estimated by min over hash rows of Σ_c tableA[r][c]·tableB[r][c].
    * One-sided like the point estimate (≥ true) with error ≤
    * eps·N_A·N_B at the sketches' confidence. THE pre-join sanity
    * probe at 100 TB: both sides' sketches are a few KB of standing
    * metadata, so "would this join explode" is answered without
    * touching either table. Sketches must share (eps, confidence,
    * seed) — a shape mismatch errors rather than mis-estimating. */
  def innerProduct(a: Array[Byte], b: Array[Byte]): Long = {
    val (pa, pb) = (decode(a), decode(b))
    require(pa.depth == pb.depth && pa.width == pb.width
      && java.util.Arrays.equals(pa.hashA, pb.hashA),
      "sketch shape/seed mismatch — join-size estimation needs both " +
        "tables sketched with the same (eps, confidence, seed)")
    (0 until pa.depth).map { r =>
      var s = 0L
      var c = 0
      while (c < pa.width) {
        s = math.addExact(s, math.multiplyExact(pa.table(r)(c), pb.table(r)(c)))
        c += 1
      }
      s
    }.min
  }

  /** Per-key merged live sketch of a table — the shared kernel of
    * [[estimateCounts]] and [[joinSizeByKey]]. */
  private def mergedSketches(spark: SparkSession, path: String) = {
    import spark.implicits._
    Snapshot.read(spark, path)
      .select(col("key").cast("string"), col("sketch"))
      .as[(String, Array[Byte])]
      .groupByKey(_._1)
      .mapGroups { (key, rows) =>
        val merged = rows.map(r => CountMinSketch.readFrom(r._2))
          .reduce((a, b) => { a.mergeInPlace(b); a })
        (key, merged.toByteArray)
      }
  }

  /** Estimated equi-join row counts PER KEY between two persisted CMS
    * tables sketched over their respective join columns: for each key
    * present in both, the inner-product estimate of joining the two
    * key-slices on the sketched value. Reads only the two sketch
    * tables (KBs), never the fact tables. */
  def joinSizeByKey(spark: SparkSession, pathA: String,
                    pathB: String): DataFrame = {
    import spark.implicits._
    mergedSketches(spark, pathA).toDF("key", "__a")
      .join(mergedSketches(spark, pathB).toDF("key", "__b"), "key")
      .as[(String, Array[Byte], Array[Byte])]
      .map { case (k, a, b) => (k, innerProduct(a, b)) }
      .toDF("key", "est_join_rows")
  }

  /** Point estimate off one serialized sketch (the SQL surface's
    * kernel — `graft_cms_estimate(sketch, 'item')`). Null/empty
    * sketch bytes AND null items estimate 0, so left-join misses on
    * EITHER side stay queryable instead of killing the job (a null
    * item would otherwise NPE inside CountMinSketch). */
  def estimate(sketch: Array[Byte], item: String): Long =
    if (sketch == null || sketch.isEmpty || item == null) 0L
    else CountMinSketch.readFrom(sketch).estimateCount(item)

  val estimateUdf = udf((b: Array[Byte], item: String) => estimate(b, item))
}
