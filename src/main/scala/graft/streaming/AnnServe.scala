package graft.streaming

import org.apache.spark.sql.DataFrame

/** STREAMING ANN SERVING — the QUERY side of the ingest loops: the
  * st5 family keeps the standing indexes fed (dedup-gated appends,
  * compaction); this answers a continuous stream of query vectors
  * against the standing IVF-PQ index, one batched search per
  * micro-batch.
  *
  * Execution shape: each micro-batch rides
  * [[graft.operators.Ann.searchIvfPqIndexBatch]] unchanged — per-query
  * probe cells from the broadcast centroids, partition-pruned codes
  * scan, bounded TopKByScore shortlists, float rerank only for probed
  * cells — so the serving cost per batch is the already-benched batch
  * path (`ann13`/`sx65`), not a new code path. The index is re-read
  * per micro-batch BY DESIGN: the ingest loop publishes new batches
  * and compactions under the snapshot protocol, and a serving batch
  * sees whatever manifest is current when it runs — continuous
  * serving over a live index, no restart on refresh. Param validation
  * happens ONCE at stream start, so a malformed index path fails the
  * start, not the Nth micro-batch at 3 a.m.
  *
  * The sink receives `(results, batchId)` with the batch-search
  * columns `(query_id, idCol, sim)` — compose with
  * [[Windows.idempotentParquetSink]] for the batch-keyed exactly-once
  * landing zone, as in the st5 loop. */
object AnnServe {

  def streamingAnnServe(queries: DataFrame, qidCol: String, qvecCol: String,
                        indexPath: String, idCol: String, vecCol: String,
                        k: Int, nProbe: Int = 2, shortlist: Int = 0)
                       (sink: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val spark = queries.sparkSession
    // EVERY start-knowable precondition validates here — the fail-at-
    // start contract covers the search params too, not just the index
    // record: a shortlist below k (or a non-positive k/nProbe, which
    // would serve empty results while the stream reports healthy) must
    // never surface as the Nth micro-batch dying mid-run (review r17)
    require(k >= 1, s"k must be >= 1: $k")
    require(nProbe >= 1, s"nProbe must be >= 1: $nProbe")
    require(shortlist == 0 || shortlist >= k,
      s"shortlist $shortlist smaller than k=$k")
    val params = graft.operators.Dedup.readIndexParams(spark, indexPath)
    require(params.contains("pq_m") && params.contains("n_cells"),
      s"${graft.operators.IndexControl.FileName} under $indexPath is not an IVF-PQ index record")
    queries.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      sink(graft.operators.Ann.searchIvfPqIndexBatch(batch.sparkSession,
        indexPath, idCol, vecCol, batch, qidCol, qvecCol, k,
        nProbe = nProbe, shortlist = shortlist), batchId)
    }.start()
  }
}
