package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sparse (BM25) retrieval and rank fusion — the lexical complement to
  * the dense path ([[Ann]]): keyword lookup over a corpus, and the
  * standard hybrid-search combiner (reciprocal-rank fusion) that merges
  * a lexical top-k with a dense top-k without score calibration.
  *
  * BM25 (Robertson/Sparck-Jones, the Lucene-default scoring):
  *   score(d, Q) = Σ_{t ∈ Q} idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))
  *   idf(t)     = ln(1 + (N − df + 0.5)/(df + 0.5))
  *
  * Distributed shape — the inverted index is implicit, built on the
  * fly for exactly the query's terms:
  *   1. corpus stats (N, avgdl): one 1-row aggregate, broadcast;
  *   2. postings: tokenize + explode, FILTERED TO THE QUERY TERMS at
  *      the explode (the query is a literal `isin` — tiny), then one
  *      partial-agged groupBy (doc, term) → tf. Only query-term hits
  *      ever shuffle — the corpus text itself never does;
  *   3. df per query term: a second tiny agg over the postings,
  *      broadcast back (|Q| rows);
  *   4. per-doc score: sum over the doc's matched terms, then top-k =
  *      `TakeOrderedAndProject` (no global sort materializes).
  * Serving many queries amortizes step 2 into a real persisted posting
  * table; this on-the-fly shape is the one-shot/audit path.
  */
object Retrieval {

  /** Case-folded whitespace tokens — the corpus convention
    * (TextFunctions.tokens) plus `lower` for term matching. */
  private def toks(text: Column): Column = split(trim(lower(text)), "\\s+")

  /** The one BM25 scoring formula, shared verbatim by the on-the-fly
    * and indexed paths so they can never drift. All inputs double. */
  private def bm25Score(tf: Column, df: Column, n: Column, dl: Column,
                        avgdl: Column, k1: Double, b: Double): Column =
    log(lit(1.0) + (n - df + 0.5) / (df + 0.5)) * tf * (k1 + 1) /
      (tf + lit(k1) * (lit(1 - b) + lit(b) * dl / avgdl))

  /** Top-k docs by BM25 over `queryTerms` (case-folded). Returns
    * (idCol, score), score descending, ties to the smaller id; docs
    * sharing no term with the query never appear. */
  def bm25TopK(docs: DataFrame, idCol: String, textCol: String,
               queryTerms: Seq[String], k: Int,
               k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val terms = queryTerms.map(_.toLowerCase)
    val base = docs.select(col(idCol),
      size(toks(col(textCol))).cast("double").as("_dl"),
      toks(col(textCol)).as("_toks"))
    val stats = base.agg(count(lit(1)).cast("double").as("_n"),
      avg(col("_dl")).as("_avgdl"))

    val tf = base.select(col(idCol), col("_dl"), explode(col("_toks")).as("_term"))
      .filter(col("_term").isin(terms: _*))
      .groupBy(col(idCol), col("_dl"), col("_term"))
      .agg(count(lit(1)).cast("double").as("_tf"))
    val df_ = tf.groupBy(col("_term")).agg(count(lit(1)).cast("double").as("_df"))

    tf.join(broadcast(df_), Seq("_term"))
      .crossJoin(broadcast(stats))
      .withColumn("_s", bm25Score(col("_tf"), col("_df"), col("_n"),
        col("_dl"), col("_avgdl"), k1, b))
      .groupBy(col(idCol)).agg(sum(col("_s")).as("score"))
      .orderBy(desc("score"), col(idCol)).limit(k)
  }

  // ── persisted posting index ───────────────────────────────────────
  //
  // The serving path the bm25TopK scaladoc promises: postings built
  // ONCE, partitioned by a term-hash bucket so a query's scan is
  // partition-pruned to its terms' buckets. Layout (the family
  // conventions of the MinHash/IVF indexes — batch_id level for
  // idempotent appends, `_index.json` written last as the commit marker):
  //
  //   postings/batch_id=N/bucket=B/  (idCol, dl, term, tf)
  //   terms/batch_id=N/bucket=B/     (term, df)   — df additive per batch
  //   stats/batch_id=N/              (n_docs, dl_sum) — additive, so
  //                                  avgdl folds exactly across appends
  //   _index.json                    (n_buckets)  — commit marker
  //
  // Because df, n_docs, and dl_sum are all additive over disjoint doc
  // batches, an APPEND needs no read-modify-write of global state: the
  // probe sums them across batch rows at query time (|Q| + #batches
  // rows — driver-trivial). A retried append overwrites only its own
  // batch_id directories → idempotent, like every graft index.

  private def bucketed(docs: DataFrame, idCol: String, textCol: String,
                       nBuckets: Int): (DataFrame, DataFrame, DataFrame) = {
    val base = docs.select(col(idCol),
      size(toks(col(textCol))).cast("double").as("dl"),
      toks(col(textCol)).as("_toks"))
    val postings = base
      .select(col(idCol), col("dl"), explode(col("_toks")).as("term"))
      .groupBy(col(idCol), col("dl"), col("term"))
      .agg(count(lit(1)).cast("double").as("tf"))
      .withColumn("bucket", pmod(xxhash64(col("term")), lit(nBuckets.toLong)))
    val termDf = postings.groupBy(col("term"), col("bucket"))
      .agg(count(lit(1)).as("df"))
    val stats = base.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("dl_sum"))
    (postings, termDf, stats)
  }

  private def writeBatch(indexPath: String, batchId: Long, postings: DataFrame,
                         termDf: DataFrame, stats: DataFrame): Unit = {
    // repartition on the partition key before partitionBy: one file
    // per bucket, not one per input partition (see buildIvfIndex)
    postings.repartition(col("bucket"))
      .write.mode("overwrite").partitionBy("bucket")
      .parquet(s"$indexPath/postings/batch_id=$batchId")
    termDf.repartition(col("bucket"))
      .write.mode("overwrite").partitionBy("bucket")
      .parquet(s"$indexPath/terms/batch_id=$batchId")
    stats.coalesce(1).write.mode("overwrite")
      .parquet(s"$indexPath/stats/batch_id=$batchId")
    // NO manifest work here: the index's unit of consistency is the
    // postings/terms/stats TRIPLE — a probe must never see batch N's
    // postings scored with df/N stats that exclude it — so the commit
    // is ONE Snapshot.stagedAppend at the index root, wrapped by
    // appendToPostingIndex around this whole write.
  }

  /** Build a PERSISTED BM25 index at `outPath` (build lands as batch
    * -1). A rebuild replaces everything including appended batches;
    * the marker-first / params-last discipline makes an interrupted
    * rebuild fail [[bm25TopKIndexed]] loudly instead of serving mixed
    * state. */
  def buildPostingIndex(docs: DataFrame, idCol: String, textCol: String,
                        outPath: String, nBuckets: Int = 64): Unit = {
    require(nBuckets > 0, s"nBuckets must be positive: $nBuckets")
    val spark = docs.sparkSession
    IndexControl.clear(spark, outPath)
    val fs = new org.apache.hadoop.fs.Path(outPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // rebuild = index reset: a previously enabled index re-seeds its
    // ROOT manifest on the fresh layout (probes pause for a rebuild)
    val wasEnabled = Snapshot.isEnabled(spark, outPath)
    Snapshot.clearManifests(spark, outPath) // history resets with the rebuild
    Seq("postings", "terms", "stats").foreach { t =>
      fs.delete(new org.apache.hadoop.fs.Path(s"$outPath/$t"), true)
    }
    val (postings, termDf, stats) = bucketed(docs, idCol, textCol, nBuckets)
    writeBatch(outPath, -1L, postings, termDf, stats)
    if (wasEnabled) Snapshot.enableSub(spark, outPath, "postings")
    IndexControl.write(spark, outPath, IndexControl(Map("n_buckets" -> nBuckets)))
  }

  /** The bucket count a [[buildPostingIndex]] index was built with — a
    * MinHash or IVF index at `indexPath` fails loudly, not with a bare
    * missing-key error. */
  private def storedBuckets(spark: SparkSession, indexPath: String): Long =
    IndexControl.param(Dedup.readIndexParams(spark, indexPath), indexPath, "n_buckets")

  /** Append a doc batch to a [[buildPostingIndex]] index. `batchId`
    * keys the write: a retry of the same batch overwrites its own
    * directories (REPLACE, not double-count). Docs must be NEW ids —
    * re-adding an indexed doc double-counts it, exactly like the
    * MinHash index append contract. */
  def appendToPostingIndex(docs: DataFrame, idCol: String, textCol: String,
                           indexPath: String, batchId: Long): Unit = {
    require(batchId >= 0, s"append batchId must be >= 0 (build owns -1): $batchId")
    val spark = docs.sparkSession
    val nBuckets = storedBuckets(spark, indexPath).toInt
    val (postings, termDf, stats) = bucketed(docs, idCol, textCol, nBuckets)
    // one root-manifest commit for the whole triple (enabled indexes);
    // redelivered committed batch ids are a no-op
    Snapshot.stagedAppend(spark, indexPath, batchId) {
      writeBatch(indexPath, batchId, postings, termDf, stats)
    }
  }

  /** BM25 top-k served FROM the index: the postings/terms scans are
    * partition-pruned to the query terms' buckets (plan-pinned), df
    * and corpus stats fold additively across batches, and the score
    * is [[bm25Score]] — bit-identical to the on-the-fly path. */
  def bm25TopKIndexed(spark: SparkSession, indexPath: String, idCol: String,
                      queryTerms: Seq[String], k: Int,
                      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val nBuckets = storedBuckets(spark, indexPath)
    val terms = queryTerms.map(_.toLowerCase).distinct
    // the build bucketed with Spark's xxhash64 — derive the probe
    // buckets with the same engine hash (tiny driver-bounded job)
    import spark.implicits._
    val buckets = terms.toDF("term")
      .select(pmod(xxhash64(col("term")), lit(nBuckets)).as("b"))
      .distinct().as[Long].collect().toSeq
    // all three sub-tables resolve through the index's ROOT manifest —
    // one snapshot, so df/N stats always match the postings scored
    val post = Snapshot.readSub(spark, indexPath, "postings")
      .filter(col("bucket").isin(buckets: _*) && col("term").isin(terms: _*))
    val termDf = Snapshot.readSub(spark, indexPath, "terms")
      .filter(col("bucket").isin(buckets: _*) && col("term").isin(terms: _*))
      .groupBy(col("term")).agg(sum(col("df")).cast("double").as("_df"))
    val stats = Snapshot.readSub(spark, indexPath, "stats")
      .agg(sum(col("n_docs")).cast("double").as("_n"),
        (sum(col("dl_sum")) / sum(col("n_docs"))).as("_avgdl"))
    post.join(broadcast(termDf), Seq("term"))
      .crossJoin(broadcast(stats))
      .withColumn("_s", bm25Score(col("tf"), col("_df"), col("_n"),
        col("dl"), col("_avgdl"), k1, b))
      .groupBy(col(idCol)).agg(sum(col("_s")).as("score"))
      .orderBy(desc("score"), col(idCol)).limit(k)
  }

  /** Reciprocal-rank fusion of already-ranked top-k lists: fused(d) =
    * Σ_lists 1/(c + rank_list(d)), rank 1-based by (scoreCol desc, id),
    * absent-from-list contributes 0. Inputs are top-k results (k rows
    * each) by contract — the unpartitioned rank window and the id
    * full-outer joins are driver-scale, not corpus-scale. c = 60 is the
    * published default; higher c flattens rank differences. */
  def rrfFuse(lists: Seq[(DataFrame, String)], idCol: String, k: Int,
              c: Double = 60.0): DataFrame = {
    val ranked = lists.zipWithIndex.map { case ((df, scoreCol), i) =>
      df.select(col(idCol),
        (lit(1.0) / (lit(c) + row_number().over(
          Window.orderBy(desc(scoreCol), col(idCol))))).as(s"_rrf$i"))
    }
    val joined = ranked.reduce((a, b) => a.join(b, Seq(idCol), "full_outer"))
    joined.select(col(idCol),
        ranked.indices.map(i => coalesce(col(s"_rrf$i"), lit(0.0)))
          .reduce(_ + _).as("score"))
      .orderBy(desc("score"), col(idCol)).limit(k)
  }
}
