package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, max, min}

/** Retention for the batch-partitioned table family (MinHash /
  * embedding / IVF / posting indexes, HLL/KLL sketch tables): every
  * one of them lands ingest batches as `<table>/batch_id=N`
  * directories, which makes AGE a partition boundary — so a rolling
  * window ("distinct users over the last 90 days", "dedup against the
  * last quarter's corpus") is a metadata-only DELETE of old batch
  * partitions. No rewrite, no re-scan, no tombstones: the readers all
  * take the union of whatever batch directories exist.
  *
  * This is the lifecycle step build/append/compact were missing —
  * without it a standing index only ever grows. Composition caveat,
  * documented here because it bites: COMPACTION folds all batches
  * into the reserved build batch (-1), destroying the age boundaries
  * retention cuts on. Rolling tables should retain, then compact the
  * survivors if fragmentation warrants it — not the other way round.
  */
object Retention {

  /** Batch ids present under `path` (from `batch_id=N` dir names).
    * Non-numeric ids (a `__HIVE_DEFAULT_PARTITION__` from a null
    * batch_id, foreign dirs) are SKIPPED, not fatal: one unparsable
    * dir must never abort the nightly retention pass — and skipping
    * means retention will also never delete a dir it can't order. */
  def batchIds(spark: SparkSession, path: String): Seq[Long] = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return Seq.empty
    fs.listStatus(root).toSeq
      .filter(_.isDirectory)
      .map(_.getPath.getName)
      .collect { case n if n.startsWith("batch_id=") => n.stripPrefix("batch_id=") }
      .flatMap(n => scala.util.Try(n.toLong).toOption)
      .sorted
  }

  /** A flat-layout call on a multi-table root would silently find no
    * batch dirs and no-op — the caller would believe the window was
    * applied while the index grows forever. Fail loudly instead. */
  private def assertFlatLayout(spark: SparkSession, path: String): Unit = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return
    val children = fs.listStatus(root).toSeq.filter(_.isDirectory).map(_.getPath)
    val hasRootBatches = children.exists(_.getName.startsWith("batch_id="))
    lazy val subTableBatches = children
      .filterNot(_.getName.startsWith("batch_id="))
      .filter(c => fs.listStatus(c).exists(s =>
        s.isDirectory && s.getPath.getName.startsWith("batch_id=")))
    require(hasRootBatches || subTableBatches.isEmpty,
      s"$path holds batch partitions under sub-tables " +
        s"(${subTableBatches.map(_.getName).mkString(", ")}), not at the root " +
        "— use dropBatchesBeforeAllTables for multi-table index layouts")
  }

  private def deleteBatches(spark: SparkSession, path: String,
                            doomed: Seq[Long]): Seq[Long] = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    doomed.foreach(b => fs.delete(new Path(root, s"batch_id=$b"), true))
    doomed
  }

  /** Drop every batch partition with `batch_id < keepFrom` (ids are
    * ingest order, so this is "forget everything older than").
    * Returns the dropped ids. RESERVED (negative) batch ids — the
    * build (-1) and [[Snapshot.compactLive]]'s folds (≤ -2) — are
    * protected by default: they hold the base / compacted corpus, and
    * silently dropping one would empty the table — pass
    * `includeBuild = true` for tables that treat the reserved batches
    * as just more aged data. Idempotent: re-running drops nothing new.
    * FLAT layouts only — refuses a multi-table root (see
    * [[dropBatchesBeforeAllTables]]).
    *
    * SNAPSHOT-enabled tables ([[Snapshot.enable]]) retire LOGICALLY: a
    * new manifest excluding the aged batches publishes and no file is
    * touched, so concurrent readers of the previous manifest are
    * unaffected ([[Snapshot.vacuum]] is the later physical sweep).
    * Non-enabled tables keep the historical in-place delete. */
  def dropBatchesBefore(spark: SparkSession, path: String, keepFrom: Long,
                        includeBuild: Boolean = false): Seq[Long] = {
    assertFlatLayout(spark, path)
    if (Snapshot.isEnabled(spark, path))
      Snapshot.retainFrom(spark, path, keepFrom, includeBuild)
    // NEGATIVE ids are reserved corpus batches — the build (-1) and
    // Snapshot.compactLive's folds (≤ -2, which hold the ENTIRE
    // compacted history). `b < keepFrom` is an age cut over INGEST
    // ids; it must never be able to retire a fold as "ancient".
    else deleteBatches(spark, path, batchIds(spark, path)
      .filter(b => b < keepFrom && (includeBuild || b >= 0)))
  }

  /** [[dropBatchesBefore]] across a MULTI-TABLE index layout
    * (`<index>/<table>/batch_id=N` — the MinHash/embedding/posting
    * shape): applies the cut to every immediate subdirectory holding
    * batch partitions, and to the root itself for flat layouts.
    * Dropping whole batch partitions keeps every such index
    * consistent BY CONSTRUCTION: signatures, buckets, payloads, and
    * additive stats all live batch-partitioned, so a batch vanishes
    * from all of them atomically-per-table with no read-modify-write.
    * Returns (table-relative dir → dropped ids). */
  def dropBatchesBeforeAllTables(spark: SparkSession, path: String,
                                 keepFrom: Long, includeBuild: Boolean = false)
      : Map[String, Seq[Long]] = {
    // a multi-table index governed by a ROOT manifest (Snapshot
    // .enableSub) retires with ONE manifest edit — the atomic form:
    // every sub-table flips together, no per-table window. The result
    // maps the root ("") to the retired ids.
    if (Snapshot.isEnabled(spark, path)) {
      val dropped = Snapshot.retainFrom(spark, path, keepFrom, includeBuild)
      return if (dropped.isEmpty) Map.empty else Map("" -> dropped)
    }
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return Map.empty
    val children = fs.listStatus(root).toSeq.filter(_.isDirectory)
      .map(_.getPath).filterNot(_.getName.startsWith("batch_id="))
    val targets = ("" -> path) +: children.map(c => c.getName -> c.toString)
    targets.map { case (name, dir) =>
      // unguarded delete: the root of a multi-table layout legitimately
      // holds no batch dirs (assertFlatLayout would refuse it);
      // snapshot-enabled sub-tables retire logically, like the flat form
      name -> (if (Snapshot.isEnabled(spark, dir))
        Snapshot.retainFrom(spark, dir, keepFrom, includeBuild)
      else deleteBatches(spark, dir, batchIds(spark, dir)
        .filter(b => b < keepFrom && (includeBuild || b >= 0))))
    }.filter(_._2.nonEmpty).toMap
  }

  /** Record one batch's EVENT-TIME bounds into the table's ledger
    * (`_batch_ledger/batch_id=N`, one (min_ts, max_ts) row) — the
    * mapping [[dropOlderThan]] resolves "forget everything older than
    * timestamp T" through. Call it at ingest beside the batch append,
    * with the SAME batch id; the overwrite makes a redelivered batch's
    * ledger row replace itself (the family's idempotency convention).
    * The `_`-prefixed dir is invisible to the table's own readers
    * (Hadoop hidden-path filter), like `_manifests`. Bounds are one
    * tiny agg over the batch being appended anyway — no extra scan at
    * ingest amortization scale. */
  def recordBatchEventTime(df: DataFrame, tsCol: String, path: String,
                           batchId: Long): Unit =
    df.agg(min(col(tsCol)).as("min_ts"), max(col(tsCol)).as("max_ts"))
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$path/_batch_ledger/batch_id=$batchId")

  /** The stored ledger: batch_id → (min_ts, max_ts). Batches that were
    * appended without a ledger row simply don't appear — and
    * [[dropOlderThan]] will never drop them (age unknown ⇒ protected,
    * the same never-delete-what-you-can't-order rule as
    * [[batchIds]]). */
  def batchLedger(spark: SparkSession, path: String)
      : Map[Long, (java.sql.Timestamp, java.sql.Timestamp)] = {
    val dir = new Path(s"$path/_batch_ledger")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) return Map.empty
    // a fully-swept ledger (dir exists, no batch rows) reads as empty,
    // not as an unable-to-infer-schema failure — retention must stay
    // idempotent across vacuum cycles
    if (!fs.listStatus(dir).exists(s =>
      s.isDirectory && s.getPath.getName.startsWith("batch_id=")))
      return Map.empty
    // read the batch dirs, not the `_`-prefixed ledger root: Spark
    // skips a hidden root path with an "All paths were ignored" warning
    spark.read.option("basePath", dir.toString)
      .parquet(s"$dir/batch_id=*").collect().map { r =>
      r.getAs[Number]("batch_id").longValue() ->
        (r.getTimestamp(r.fieldIndex("min_ts")),
          r.getTimestamp(r.fieldIndex("max_ts")))
    }.toMap
  }

  /** EVENT-TIME retention — the user-facing contract ("keep the last
    * 90 days") that batch-count cuts only approximate: drop every live
    * batch whose ledger `max_ts` is strictly before `cutoff`, i.e.
    * batches lying ENTIRELY in the forgotten past (a batch straddling
    * the cutoff is kept whole — retention is a partition-boundary
    * operation, never a row rewrite). Resolution is through the ledger
    * ([[recordBatchEventTime]]); unledgered batches and the build
    * batch (unless `includeBuild`) are protected. Snapshot-enabled
    * tables retire logically via a manifest publish, others delete in
    * place — the [[dropBatchesBefore]] split — and the physical path
    * sweeps the dropped batches' ledger rows with them. Returns the
    * dropped ids. */
  def dropOlderThan(spark: SparkSession, path: String,
                    cutoff: java.sql.Timestamp,
                    includeBuild: Boolean = false): Seq[Long] = {
    assertFlatLayout(spark, path)
    val ledger = batchLedger(spark, path)
    val live = Snapshot.liveBatches(spark, path)
    // null bounds (a ledger row written from an empty / all-null-ts
    // batch — the global agg still emits one row) mean age unknown ⇒
    // protected, same as having no ledger row at all; negatives
    // (build + folds) protected like dropBatchesBefore
    val doomed = live.filter(b => (includeBuild || b >= 0) &&
      ledger.get(b).exists(ts => ts._2 != null && ts._2.before(cutoff))).sorted
    if (doomed.isEmpty) Seq.empty
    else if (Snapshot.isEnabled(spark, path)) {
      // retention edit under the optimistic commit: commutes with a
      // concurrent append or another RETIREMENT (a concurrent fold of
      // a target aborts loudly inside commitEdit); report only the ids
      // this edit actually dropped
      Snapshot.commitEdit(spark, path, Snapshot.latest(spark, path).get,
        remove = doomed, tolerateConcurrentRemoves = true)
        .map(_.removed).getOrElse(Seq.empty)
    } else {
      deleteBatches(spark, path, doomed)
      val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
      doomed.foreach(b =>
        fs.delete(new Path(s"$path/_batch_ledger/batch_id=$b"), true))
      doomed
    }
  }

  /** Keep only the newest `n` batches (build batch counted unless
    * protected), dropping the rest. The rolling-window form; flat
    * layouts only, like [[dropBatchesBefore]]. */
  def keepLastBatches(spark: SparkSession, path: String, n: Int,
                      includeBuild: Boolean = false): Seq[Long] = {
    require(n >= 0, s"negative keep count: $n")
    assertFlatLayout(spark, path)
    if (Snapshot.isEnabled(spark, path))
      Snapshot.keepLast(spark, path, n, includeBuild)
    else {
      // negatives (build + compaction folds) protected — see
      // dropBatchesBefore
      val ids = batchIds(spark, path).filterNot(!includeBuild && _ < 0)
      deleteBatches(spark, path, ids.dropRight(n))
    }
  }
}
