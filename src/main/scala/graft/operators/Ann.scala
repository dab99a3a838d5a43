package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.{VectorFunctions => V}

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Two tiers:
  *  - [[bruteForceTopK]]: exact cosine top-k. The query vector is a
  *    one-row broadcast (never collected per-partition); the top-k is a
  *    `TakeOrderedAndProject` — each partition keeps k rows, only
  *    k·numPartitions rows ever move. This is the correct *baseline*
  *    even at scale when k is small: one scan, no index.
  *  - [[lshTopK]]: sign-random-projection LSH. Out of the box it runs
  *    two-stage SIGNATURE RANKING (sweep 64-byte Hamming sketches,
  *    exact-cosine only a top-C shortlist — recall-robust on any
  *    corpus geometry); with explicit `bits`/`tables` it runs the
  *    bucketed multiprobe scheme, which prunes the scan itself when
  *    the corpus clusters. See [[lshTopK]]'s scaladoc for the
  *    measured rationale.
  */
object Ann {

  /** Exact cosine top-k against a single query vector, supplied as a
    * one-row DataFrame (id, vec). Cosine is the native loop expression
    * — bit-identical to the HOF form (DedupSpec pins it), no per-row
    * scratch arrays. */
  def bruteForceTopK(embs: DataFrame, idCol: String, vecCol: String,
                     query: DataFrame, queryVecCol: String, k: Int): DataFrame = {
    val q = broadcast(query.select(col(queryVecCol).as("_qvec")))
    embs.crossJoin(q)
      .withColumn("sim", V.cosineSimilarityNative(col(vecCol), col("_qvec")))
      .select(col(idCol), col("sim"))
      .orderBy(desc("sim"), col(idCol))
      .limit(k)
  }

  /** Exact cosine top-k for a BATCH of queries — one scan of the
    * corpus serves every query. The query table (qid, vec) broadcasts;
    * each corpus row scores against all queries; the per-query
    * reduction is [[TopKByScore]], a bounded typed Aggregator whose
    * map-side partial pass keeps only k rows per (query × partition),
    * so the shuffle moves k·partitions rows per query — NOT the
    * queries × corpus cross product a `row_number()` window would
    * sort. Output: (query_id, idCol, sim), best-first ordering
    * recoverable by (sim desc, id); rows come back ordered by
    * (query_id, id) for deterministic comparison. */
  def bruteForceTopKBatch(embs: DataFrame, idCol: String, vecCol: String,
                          queries: DataFrame, qidCol: String,
                          qvecCol: String, k: Int): DataFrame = {
    val spark = embs.sparkSession
    import spark.implicits._
    val q = broadcast(queries.select(col(qidCol).cast("long").as("_qid"),
      col(qvecCol).as("_qvec")))
    val scored = embs.crossJoin(q)
      .select(col("_qid").as("qid"), col(idCol).cast("long").as("id"),
        V.cosineSimilarityNative(col(vecCol), col("_qvec")).as("sim"))
      .as[QueryScored]
    scored.groupByKey(_.qid)
      .agg(new TopKByScore(k).toColumn.name("hits"))
      .flatMap { case (qid, hits) => hits.map(h => (qid, h.id, h.sim)) }
      .toDF("query_id", idCol, "sim")
      .orderBy("query_id", idCol)
  }

  /** Batched IVF search against trained cells: every query probes its
    * nProbe nearest cells (computed in-plan from the broadcast
    * centroid literals — same per-row machinery as [[ivfSearch]]) and
    * scores only the rows of those cells; the per-query top-k is the
    * same bounded [[TopKByScore]] reduction as
    * [[bruteForceTopKBatch]]. On a cell-partitioned table the cell
    * join prunes the scan itself. */
  def ivfSearchBatch(embs: DataFrame, idCol: String, vecCol: String, dim: Int,
                     queries: DataFrame, qidCol: String, qvecCol: String,
                     k: Int, cents: Seq[Seq[Double]], nProbe: Int = 2): DataFrame = {
    val spark = embs.sparkSession
    import spark.implicits._
    val withCell = embs.withColumn("_cell", nearestCell(col(vecCol), cents))
    val unitCents = cents.map(unit)
    val probes = queries
      .select(col(qidCol).cast("long").as("_qid"), col(qvecCol).as("_qvec"),
        explode(slice(reverse(array_sort(array(unitCents.zipWithIndex.map { case (c, i) =>
          struct(V.dotUnrolled(col(qvecCol), typedLit(c), c.length).as("s"), lit(i).as("i"))
        }: _*))), 1, nProbe)).as("_p"))
      .select(col("_qid"), col("_qvec"), col("_p.i").as("_probe_cell"))
    val scored = withCell.join(broadcast(probes), col("_cell") === col("_probe_cell"))
      .select(col("_qid").as("qid"), col(idCol).cast("long").as("id"),
        V.cosineSimilarityNative(col(vecCol), col("_qvec")).as("sim"))
      .as[QueryScored]
    scored.groupByKey(_.qid)
      .agg(new TopKByScore(k).toColumn.name("hits"))
      .flatMap { case (qid, hits) => hits.map(h => (qid, h.id, h.sim)) }
      .toDF("query_id", idCol, "sim")
      .orderBy("query_id", idCol)
  }

  /** LSH-bucketed ANN: score only vectors whose signature matches the
    * query signature or any single-bit flip of it (multiprobe radius
    * 1). Recall is tunable via `bits` (fewer bits → bigger buckets →
    * higher recall, more work) and `tables` (independent signature
    * draws, seeds 42+t — recall 1-(1-r)^tables for per-table recall r,
    * at `tables`× the candidate cost). Size `bits` to the corpus:
    * 2^bits ≈ n / target-bucket-size (≈80), so a 5k-vector table wants
    * ~6 bits while 1B vectors want ~24 — recall comes from `tables`,
    * candidate volume stays bounded.
    *
    * THE OUT-OF-BOX DEFAULT (`bits = tables = 0`) is NOT the bucketed
    * scheme — it is two-stage SIGNATURE RANKING (Charikar'02 sign
    * random projections ranked by Hamming distance, the FAISS
    * `IndexLSH` recipe): every row carries a 504-bit sketch (8×63-bit
    * signature longs, 64 B vs 256 B of floats), a query sweeps the
    * sketches with XOR+popcount only, and full-precision cosine is
    * paid for just the top `min(10k, max(64, 0.15·n))` rows by
    * Hamming rank (the cap keeps the shortlist selection inside
    * TakeOrderedAndProject at every corpus size — see the constants'
    * scaladoc).
    * Why not buckets by default: bucketing prunes only when true
    * neighbors are CLOSE (small angle → signatures agree on almost
    * every bit). On the bench corpus — measured isotropic: mean
    * |dim-correlation| 0.017, flat covariance spectrum, a query's
    * top-10 cosines only 0.31..0.41 (~72°) — an r15 grid over
    * (bits 5..10 × tables 4..12), query-directed multiprobe (Lv'07)
    * and cross-polytope (Andoni'15) prototypes ALL needed ≥0.5 scan
    * fraction for 0.9 recall; data-adaptive k-means cells did worse.
    * Ranking is the recall-robust geometry-free path: 0.9994 mean /
    * 0.90 min recall@10 over 320 seed×query trials at a 0.15
    * shortlist (the per-round `lsh_recall_at_10` /
    * `lsh_default_scan_frac` gauges pin both). The cost model at
    * scale is the PQ-ADC shape, not the bucket shape: the sketch
    * sweep touches every row's 64-byte column (4× less I/O than the
    * floats, popcount-only arithmetic, no shuffle), and the scan
    * fraction gauge counts the rows that reach FULL-precision cosine.
    * Pass explicit `bits`/`tables` for the bucketed scheme — the
    * right call when the corpus clusters (real embedding corpora do)
    * or when a standing bucket-partitioned index exists
    * ([[graft.operators.Dedup.buildEmbeddingIndex]]).
    */
  /** (bits, tables) with the bucketed auto-sizing rule applied where
    * the caller passed 0 — used when at least ONE of the two is
    * explicit (both 0 → the signature-ranking default instead). */
  private def lshAutoSize(embs: DataFrame, bits: Int, tables: Int): (Int, Int) = {
    require(tables >= 0, "tables must be >= 1 (or 0 = auto)")
    val b =
      if (bits > 0) bits
      else math.min(24, math.max(1, math.round(
        math.log(math.max(embs.count(), 160).toDouble / 80) / math.log(2)).toInt))
    (b, if (tables > 0) tables else 8)
  }

  /** Per-table (t, sig) struct array for a vector column — the
    * signature side shared by the single-query and batched LSH paths. */
  private def hyperplaneSigArr(vec: Column, bits: Int, tables: Int,
                               dim: Int): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    array((0 until tables).map { t =>
      struct(lit(t).as("t"),
        ColumnBridge.column(graft.plans.HyperplaneSignatureExpr(
          ColumnBridge.expression(vec), bits, dim, seed = 42L + t)).as("sig"))
    }: _*)
  }

  /** Ranking-sketch constants: 8 longs × 63 hyperplane bits = a
    * 504-bit signature (seeds 42..49, shared with the bucketed
    * family), shortlist = 15% of the corpus floored at 64 rows and
    * CAPPED just under the session's `topKSortFallbackThreshold`
    * (default 10000) — the measured ≥0.9-recall-everywhere
    * configuration (see [[lshTopK]]). The cap is the scale fence:
    * STRICTLY below the threshold, `orderBy(…).limit(c)` plans as
    * TakeOrderedAndProject — a per-partition c-row heap, only
    * c·numPartitions rows ever move — while AT it (the planner's
    * comparison is `limit < threshold`) the same query becomes a FULL
    * global sort of the corpus' sketch rows (a range-exchange of all
    * n rows feeding a limit), exactly the corpus-wide shuffle the
    * ranking design exists to avoid. ~10k exact-cosine candidates for
    * a top-≈10 stays generous at any corpus size (the fraction term
    * only binds below ~67k rows, where rank noise is large relative
    * to the corpus); the [[graft.operators.Pq.rerankShortlist]]
    * recipe draws the same fence for the same reason. */
  private val RankSigTables = 8
  private val RankSigBits = 63
  private val RankShortlistFrac = 0.15
  private val RankShortlistFloor = 64L
  private def rankShortlistCap: Long = math.max(RankShortlistFloor,
    org.apache.spark.sql.internal.SQLConf.get.topKSortFallbackThreshold - 1L)

  /** array<long> of the ranking sketch's signature words. */
  private def rankSigArr(vec: Column, dim: Int): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    array((0 until RankSigTables).map { t =>
      ColumnBridge.column(graft.plans.HyperplaneSignatureExpr(
        ColumnBridge.expression(vec), RankSigBits, dim, seed = 42L + t))
    }: _*)
  }

  /** Hamming distance between two sketch arrays: 8 XOR+popcount terms,
    * all codegen'd scalar ops. */
  private def rankHamming(a: Column, b: Column): Column =
    (0 until RankSigTables).map(i =>
      bit_count(element_at(a, i + 1).bitwiseXOR(element_at(b, i + 1))))
      .reduce(_ + _)

  private def rankShortlistSize(n: Long): Int =
    math.min(n, math.min(rankShortlistCap, math.max(RankShortlistFloor,
      math.ceil(n * RankShortlistFrac).toLong))).toInt

  /** The signature-ranking default of [[lshTopK]]: Hamming-rank the
    * 64 B sketches, exact-cosine only the top-C shortlist
    * (C = max(64, 0.15n); one corpus count, the price of not knowing
    * n). The shortlist selection is `TakeOrderedAndProject` on
    * (hamming, id) — C·numPartitions rows move, never the corpus. */
  private def signatureRankTopK(embs: DataFrame, idCol: String,
                                vecCol: String, dim: Int, query: DataFrame,
                                queryVecCol: String, k: Int): DataFrame = {
    val c = rankShortlistSize(embs.count())
    val q = broadcast(query.select(col(queryVecCol).as("_qvec"),
      rankSigArr(col(queryVecCol), dim).as("_qsig")))
    embs.select(col(idCol), col(vecCol), rankSigArr(col(vecCol), dim).as("_sig"))
      .crossJoin(q)
      .withColumn("_ham", rankHamming(col("_sig"), col("_qsig")))
      // malformed vectors hash to a null sketch → null distance; they
      // must sink below every real row, not flood the shortlist (asc
      // sort default is nulls FIRST)
      .orderBy(col("_ham").asc_nulls_last, col(idCol))
      .limit(c)
      .withColumn("sim", V.cosineSimilarityNative(col(vecCol), col("_qvec")))
      .select(col(idCol), col("sim"))
      .orderBy(desc("sim"), col(idCol))
      .limit(k)
  }

  /** Batched twin of [[signatureRankTopK]] — the sketch sweep scores
    * every (query, row) Hamming distance against the broadcast query
    * table, the per-query top-C shortlist is the bounded
    * [[TopKByScore]] reduction (score = −hamming; C rows per query ×
    * partition shuffle, not the cross product), and only shortlist
    * rows join back to the corpus for the exact cosine. Tie behavior
    * matches the single-query path: equal distance → smaller id. */
  private def signatureRankTopKBatch(embs: DataFrame, idCol: String,
                                     vecCol: String, dim: Int,
                                     queries: DataFrame, qidCol: String,
                                     qvecCol: String, k: Int): DataFrame = {
    val spark = embs.sparkSession
    import spark.implicits._
    val c = rankShortlistSize(embs.count())
    val q = broadcast(queries.select(col(qidCol).cast("long").as("_qid"),
      col(qvecCol).as("_qvec"), rankSigArr(col(qvecCol), dim).as("_qsig")))
    val short = embs
      .select(col(idCol).cast("long").as("_rid"),
        rankSigArr(col(vecCol), dim).as("_sig"))
      .crossJoin(q)
      .withColumn("_ham", rankHamming(col("_sig"), col("_qsig")))
      .filter(col("_ham").isNotNull)
      .select(col("_qid").as("qid"), col("_rid").as("id"),
        (lit(0) - col("_ham")).cast("double").as("sim"))
      .as[QueryScored]
      .groupByKey(_.qid)
      .agg(new TopKByScore(c).toColumn.name("hits"))
      .flatMap { case (qid, hits) => hits.map(h => (qid, h.id)) }
      .toDF("_sqid", "_sid")
    val scored = short
      .join(embs.select(col(idCol).cast("long").as("_sid"), col(vecCol)), "_sid")
      .join(broadcast(q.select(col("_qid").as("_sqid"), col("_qvec"))), "_sqid")
      .select(col("_sqid").as("qid"), col("_sid").as("id"),
        V.cosineSimilarityNative(col(vecCol), col("_qvec")).as("sim"))
      .as[QueryScored]
    scored.groupByKey(_.qid)
      .agg(new TopKByScore(k).toColumn.name("hits"))
      .flatMap { case (qid, hits) => hits.map(h => (qid, h.id, h.sim)) }
      .toDF("query_id", idCol, "sim")
      .orderBy("query_id", idCol)
  }

  /** Expected fraction of an (isotropic) corpus that reaches full
    * cosine under the bucketed multiprobe path: each of `tables`
    * independent tables collides a random row with probability
    * ≈ (bits+1)/2^bits (its bucket plus the `bits` radius-1 probes of
    * a uniform 2^bits-bucket table), so the union touches
    * 1 − (1 − (bits+1)/2^bits)^tables of the rows. This is the
    * ADMISSION predicate for the bucketed path: when it predicts a
    * scan at or past the ranking default's shortlist fraction, the
    * bucketed work cannot be cheaper than the default AND its recall
    * is capped below the default's, so the config is dominated
    * (measured on the bench corpus: bits=6/tables=8 predicts 0.595,
    * recorded 0.574 scan for 0.9 recall vs the default's 0.15 scan
    * at 1.0 — VERDICT r18 task 9). Clustered corpora collide MORE
    * than the isotropic estimate, never less, so the prediction is a
    * lower bound and the fallback is conservative in the safe
    * direction. */
  private[graft] def predictedLshScanFrac(bits: Int, tables: Int): Double = {
    val perTable = math.min(1.0,
      (bits + 1).toDouble / (1L << math.min(bits, 62)).toDouble)
    1.0 - math.pow(1.0 - perTable, tables)
  }

  /** True when [[lshTopK]]'s default admission would reject this
    * bucketed config in favor of the ranking path. */
  private[graft] def lshConfigDominated(bits: Int, tables: Int): Boolean =
    predictedLshScanFrac(bits, tables) >= RankShortlistFrac

  def lshTopK(embs: DataFrame, idCol: String, vecCol: String, dim: Int,
              query: DataFrame, queryVecCol: String, k: Int,
              bits: Int = 0, tables: Int = 0,
              fallbackToRanking: Boolean = true): DataFrame = {
    if (bits == 0 && tables == 0)
      return signatureRankTopK(embs, idCol, vecCol, dim, query, queryVecCol, k)
    val (autoBits, autoTables) = lshAutoSize(embs, bits, tables)
    // AUTO-FALLBACK (VERDICT r18 task 9): an explicit bits/tables
    // config whose PREDICTED scan fraction meets or exceeds the
    // ranking default's shortlist fraction is dominated — fall back so
    // the explicit path can never record a worse (recall, scan) pair
    // than the default. `fallbackToRanking = false` pins the bucketed
    // operator regardless (fixture specs, crossover gauges, and the
    // clustered-corpus regime where buckets genuinely prune).
    if (fallbackToRanking && lshConfigDominated(autoBits, autoTables))
      return signatureRankTopK(embs, idCol, vecCol, dim, query, queryVecCol, k)
    def sigArr(vec: Column) = hyperplaneSigArr(vec, autoBits, autoTables, dim)
    val withSig = embs
      .select(col(idCol), col(vecCol), explode(sigArr(col(vecCol))).as("_ts"))
    // query side: per-table signature + radius-1 multiprobes, exploded
    // to (table, probe) rows; the data side joins on BOTH so probes
    // never cross tables
    val probes = query
      .select(col(queryVecCol).as("_qvec"), explode(sigArr(col(queryVecCol))).as("_qs"))
      // probe masks are driver-side literals (1L << i — exact at any
      // bit width, unlike the former pow(2.0, i).cast which is only
      // mantissa-exact to bit 52), so the whole probe array is a plain
      // codegen'd array of XORs, no interpreted HOF
      .select(col("_qvec"), col("_qs.t").as("_pt"), explode(array(
        col("_qs.sig") +: (0 until autoBits).map(i =>
          col("_qs.sig").bitwiseXOR(lit(1L << i))): _*)).as("_probe"))
    withSig.join(broadcast(probes),
        col("_ts.t") === col("_pt") && col("_ts.sig") === col("_probe"))
      .withColumn("sim", V.cosineSimilarityNative(col(vecCol), col("_qvec")))
      .select(col(idCol), col("sim"))
      .dropDuplicates(idCol)
      .orderBy(desc("sim"), col(idCol))
      .limit(k)
  }

  /** Batched LSH ANN — [[lshTopK]] for a query TABLE: every query's
    * per-table signature and radius-1 multiprobes join the same
    * signed corpus pass, candidates dedup per (query, id) across
    * tables/probes BEFORE the one cosine evaluation, and the per-query
    * top-k is the bounded [[TopKByScore]] reduction (k rows per query
    * × partition shuffle — see [[bruteForceTopKBatch]]). Auto-sizing
    * matches the single-query path. */
  def lshTopKBatch(embs: DataFrame, idCol: String, vecCol: String, dim: Int,
                   queries: DataFrame, qidCol: String, qvecCol: String, k: Int,
                   bits: Int = 0, tables: Int = 0,
                   fallbackToRanking: Boolean = true): DataFrame = {
    if (bits == 0 && tables == 0)
      return signatureRankTopKBatch(embs, idCol, vecCol, dim,
        queries, qidCol, qvecCol, k)
    val spark = embs.sparkSession
    import spark.implicits._
    val (autoBits, autoTables) = lshAutoSize(embs, bits, tables)
    // same dominated-config admission as [[lshTopK]]
    if (fallbackToRanking && lshConfigDominated(autoBits, autoTables))
      return signatureRankTopKBatch(embs, idCol, vecCol, dim,
        queries, qidCol, qvecCol, k)
    val withSig = embs
      .select(col(idCol), col(vecCol),
        explode(hyperplaneSigArr(col(vecCol), autoBits, autoTables, dim)).as("_ts"))
    val probes = queries
      .select(col(qidCol).cast("long").as("_qid"), col(qvecCol).as("_qvec"),
        explode(hyperplaneSigArr(col(qvecCol), autoBits, autoTables, dim)).as("_qs"))
      .select(col("_qid"), col("_qvec"), col("_qs.t").as("_pt"), explode(array(
        col("_qs.sig") +: (0 until autoBits).map(i =>
          col("_qs.sig").bitwiseXOR(lit(1L << i))): _*)).as("_probe"))
    val scored = withSig.join(broadcast(probes),
        col("_ts.t") === col("_pt") && col("_ts.sig") === col("_probe"))
      .select(col("_qid").as("qid"), col(idCol).cast("long").as("id"),
        col(vecCol), col("_qvec"))
      // a candidate reachable through several (table, probe) paths
      // must pay exactly one cosine
      .dropDuplicates("qid", "id")
      .select(col("qid"), col("id"),
        V.cosineSimilarityNative(col(vecCol), col("_qvec")).as("sim"))
      .as[QueryScored]
    scored.groupByKey(_.qid)
      .agg(new TopKByScore(k).toColumn.name("hits"))
      .flatMap { case (qid, hits) => hits.map(h => (qid, h.id, h.sim)) }
      .toDF("query_id", idCol, "sim")
      .orderBy("query_id", idCol)
  }

  /** Nearest-cell assignment against a small in-plan centroid set:
    * argmax over cells of cosine(vec, centroid), built as an
    * `array_max` over (sim, idx) structs — pure column expression, so
    * assignment runs executor-side with the centroids inlined as
    * literals (the broadcast-variable pattern, without a UDF). */
  def nearestCell(vec: Column, cents: Seq[Seq[Double]]): Column = {
    // argmax over cells of cosine(vec, c) == argmax of dot(vec, ĉ):
    // ‖vec‖ is constant across cells, so normalize the centroids ONCE
    // driver-side and drop all norm evaluation from the per-row path.
    // NearestCellExpr ships the normalized matrix as a codegen
    // reference object and emits one nCells×dim loop — at 8 cells ×
    // 64 dims the literal-unrolled Column form was a 512-term
    // expression past HotSpot's huge-method JIT cliff (VectorExprs
    // scaladoc); the loop stays compact at ANY index size.
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(graft.plans.NearestCellExpr(
      ColumnBridge.expression(vec), cents.map(unit(_).toArray).toArray))
  }

  private def unit(c: Seq[Double]): Seq[Double] = {
    val n = math.sqrt(c.map(v => v * v).sum)
    if (n > 0) c.map(_ / n) else c
  }

  /** Lloyd's k-means over the embedding column: init = first `nCells`
    * vectors in id order (deterministic), then `iters` rounds of
    * executor-side assignment (centroids ship TO the data as plan
    * literals) + one partial-aggregated VectorAvg pass per round.
    *
    * The centroid set (nCells × dim doubles) is the ONLY driver-
    * resident state — the standard k-means contract at any scale; the
    * vectors themselves never leave the executors.
    */
  def trainIvfCells(embs: DataFrame, idCol: String, vecCol: String, dim: Int,
                    nCells: Int, iters: Int = 3): Seq[Seq[Double]] = {
    val vecAvg = org.apache.spark.sql.functions.udaf(new VectorAvg(dim))
    // init: stride-sample across the id RANGE, not the first nCells —
    // adjacent ids often share a cluster, and nCells co-located seeds
    // make Lloyd split one cluster while merging others. id-mod filter
    // + orderBy.limit = scan + TakeOrderedAndProject: no global window
    // funneling the table through one partition.
    val cnt = embs.count()
    val stride = math.max(1L, cnt / nCells)
    var cents: Seq[Seq[Double]] = embs
      .filter(pmod(col(idCol).cast("long"), lit(stride)) === 0)
      .orderBy(col(idCol)).limit(nCells)
      .select(col(vecCol)).collect()
      .map(_.getSeq[Any](0).map(v => v.asInstanceOf[Number].doubleValue()).toSeq).toSeq
    for (_ <- 0 until iters) {
      cents = embs
        .groupBy(nearestCell(col(vecCol), cents).as("_cell"))
        .agg(vecAvg(col(vecCol)).as("_centroid"))
        .orderBy("_cell")
        .select("_centroid").collect()
        .map(_.getSeq[Double](0).toSeq).toSeq
    }
    cents
  }

  /** IVF SEARCH against an already-trained centroid set: probe the
    * `nProbe` cells whose centroids are nearest the query, score only
    * their members. The cell id is a pure expression of the vector, so
    * on a cell-partitioned table the probe prunes the scan itself.
    *
    * Train/search are split deliberately: at scale, training
    * ([[trainIvfCells]]) is a build step whose centroids persist with
    * the index layout; a query must never re-run Lloyd iterations.
    * [[ivfTopKTrained]] composes the two for the demo path. */
  def ivfSearch(embs: DataFrame, idCol: String, vecCol: String, dim: Int,
                query: DataFrame, queryVecCol: String, k: Int,
                cents: Seq[Seq[Double]], nProbe: Int = 2): DataFrame = {
    val withCell = embs.withColumn("_cell", nearestCell(col(vecCol), cents))
    val unitCents = cents.map(unit)
    val probes = query
      .select(col(queryVecCol).as("_qvec"),
        explode(slice(reverse(array_sort(array(unitCents.zipWithIndex.map { case (c, i) =>
          struct(V.dotUnrolled(col(queryVecCol), typedLit(c), c.length).as("s"), lit(i).as("i"))
        }: _*))), 1, nProbe)).as("_p"))
      .select(col("_qvec"), col("_p.i").as("_probe_cell"))
    withCell.join(broadcast(probes), col("_cell") === col("_probe_cell"))
      .withColumn("sim", V.cosineSimilarityNative(col(vecCol), col("_qvec")))
      .select(col(idCol), col("sim"))
      .orderBy(desc("sim"), col(idCol))
      .limit(k)
  }

  /** Build a PERSISTED IVF index: train centroids, then write the
    * vectors cell-PARTITIONED (parquet `partitionBy(_cell)`) with the
    * centroid matrix alongside. This is the real 100 TB shape:
    * [[searchIvfIndex]]'s probe filter becomes a PARTITION filter, so
    * the scan itself reads only the nProbe probed cell directories —
    * index-build cost paid once, per-query I/O proportional to probed
    * cells, not table size. */
  def buildIvfIndex(embs: DataFrame, idCol: String, vecCol: String, dim: Int,
                    nCells: Int, outPath: String, iters: Int = 3): Seq[Seq[Double]] = {
    val spark = embs.sparkSession
    // marker-first rebuild discipline (same as the LSH indexes): drop
    // the old _index.json before touching tables so an interrupted
    // rebuild fails validation loudly instead of probing mixed state
    IndexControl.clear(spark, outPath)
    val cents = trainIvfCells(embs, idCol, vecCol, dim, nCells, iters)
    // a REBUILD replaces everything, including append batches — clear
    // the whole vectors tree, not just the build batch's directory
    ivfFs(spark, outPath).delete(
      new org.apache.hadoop.fs.Path(s"$outPath/vectors"), true)
    // repartition on the partition key BEFORE partitionBy: without it
    // every input partition writes its own file into every cell
    // directory (numPartitions × nCells files — a metadata bomb in the
    // very index meant to accelerate reads); with it each cell's rows
    // land in one task → one file per cell. The build lands as batch
    // -1 (one `batch_id=` level above the cells — the same layout the
    // LSH indexes use) so that [[appendToIvfIndex]] batches sit beside
    // it and an idempotent retry can overwrite ITS directory alone;
    // `_cell` stays a partition column, so the probe filter still
    // prunes the scan to the probed cell directories in every batch.
    embs.withColumn("_cell", nearestCell(col(vecCol), cents))
      .repartition(col("_cell"))
      .write.mode("overwrite").partitionBy("_cell")
      .parquet(s"$outPath/vectors/batch_id=-1")
    // params + centroids LAST, in one atomic write: the commit marker —
    // a half-built index (crash after the vectors/ write, before here)
    // must fail [[searchIvfIndex]]'s validation instead of silently
    // probing readable-but-stale vectors/
    IndexControl.write(spark, outPath, IndexControl(
      Map("n_cells" -> nCells, "dim" -> dim), centroids = Some(cents)))
    cents
  }

  private def ivfFs(spark: org.apache.spark.sql.SparkSession,
                    path: String): org.apache.hadoop.fs.FileSystem =
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Stored centroid matrix of a [[buildIvfIndex]] index (driver
    * state: nCells × dim doubles, row i = cell i). */
  private def ivfCentroids(ctl: IndexControl, indexPath: String): Seq[Seq[Double]] =
    IndexControl.field(indexPath, "centroids", ctl.centroids)

  /** The stored codebooks of a [[buildIvfPqIndex]] index. */
  private def ivfCodebooks(ctl: IndexControl, indexPath: String): Pq.Codebooks =
    Pq.fromSpec(IndexControl.field(indexPath, "pq_spec", ctl.pqSpec))

  private val ivfAppendCounter = new java.util.concurrent.atomic.AtomicLong()

  /** APPEND a batch to a [[buildIvfIndex]] index — the write half of a
    * standing ANN corpus: new vectors are assigned to the EXISTING
    * trained cells (centroids are immutable between rebuilds — an
    * append must never shift cell boundaries under concurrent probes)
    * and land under their own `batch_id=` directory beside the build's
    * batch -1, cell-partitioned exactly like the build.
    *
    * Idempotency matches the LSH indexes: with an explicit `batchId`
    * (a foreachBatch loop's micro-batch id) the append OVERWRITES its
    * own batch directory, so an at-least-once retry is a replace;
    * without one each call gets a fresh auto id (accumulate semantics,
    * reconciled by [[compactIvfIndex]]'s dropDuplicates). Centroid
    * drift from appended mass is real but bounded — the periodic
    * [[buildIvfIndex]] rebuild retrains; appends keep ingest flowing
    * between rebuilds. */
  def appendToIvfIndex(embs: DataFrame, idCol: String, vecCol: String,
                       indexPath: String,
                       batchId: Option[Long] = None): Unit = {
    val spark = embs.sparkSession
    val ctl = IndexControl.read(spark, indexPath)
    val params = ctl.params
    require(params.contains("n_cells") && params.contains("dim"),
      s"${IndexControl.FileName} under $indexPath is not an IVF index record")
    // an IVF-PQ index's rows carry a pq_code column this append would
    // not produce — NULL codes would silently vanish from ADC ranking;
    // fail loudly instead (use appendToIvfPqIndex)
    require(!params.contains("pq_m"),
      s"$indexPath is an IVF-PQ index — append through appendToIvfPqIndex " +
        "so new rows carry their codes")
    val cents = ivfCentroids(ctl, indexPath)
    val id = batchId.getOrElse(
      System.currentTimeMillis() * 1000 + (ivfAppendCounter.incrementAndGet() % 1000))
    // vectors/ is this index's ONLY batch table (centroids are a
    // build artifact), so the per-directory manifest is already the
    // whole index's atomic commit; stagedAppend also makes a
    // redelivered committed batch id a no-op (Snapshot scaladoc)
    Snapshot.stagedAppend(spark, s"$indexPath/vectors", id) {
      embs.withColumn("_cell", nearestCell(col(vecCol), cents))
        .repartition(col("_cell"))
        .write.mode("overwrite").partitionBy("_cell")
        .parquet(s"$indexPath/vectors/batch_id=$id")
    }
  }

  /** COMPACT a [[buildIvfIndex]] index in place: fold the build + all
    * append batches into one fresh batch -1, deduplicating rows a
    * no-batchId retry may have double-landed, and restoring the
    * one-file-per-cell layout that many small appends fragment. Cell
    * assignments and centroids are untouched — compaction is pure
    * layout maintenance, so probe results are identical before and
    * after (pinned in AnnSpec). Same crash discipline as the LSH
    * compactions: stage under `_compact_tmp/`, drop the commit marker,
    * swap, rewrite the marker — an interrupted swap fails
    * [[searchIvfIndex]]'s validation loudly. The rewritten marker is
    * the record read at the start, unchanged: compaction is layout
    * maintenance, not a retrain, so `retrain_version` carries through
    * (resetting the monotone counter would let the NEXT maintain
    * re-issue a version and serving code miss that cell ids changed). */
  def compactIvfIndex(spark: org.apache.spark.sql.SparkSession,
                      indexPath: String): Unit = {
    val ctl = IndexControl.read(spark, indexPath)
    require(ctl.params.contains("n_cells") && ctl.params.contains("dim"),
      s"${IndexControl.FileName} under $indexPath is not an IVF index record")
    val fs = ivfFs(spark, indexPath)
    val tmp = s"$indexPath/_compact_tmp"
    fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
    Snapshot.read(spark, s"$indexPath/vectors")
      .drop("batch_id").dropDuplicates()
      .repartition(col("_cell"))
      .write.mode("overwrite").partitionBy("_cell")
      .parquet(s"$tmp/vectors/batch_id=-1")
    IndexControl.clear(spark, indexPath) // probes fail loudly
    // the swap replaces the vectors dir (manifests included): remember
    // and re-enable, like Dedup.compactIndex — pinned readers do not
    // survive an index-wide compaction (probes pause for the swap)
    val wasEnabled = Snapshot.isEnabled(spark, s"$indexPath/vectors")
    fs.delete(new org.apache.hadoop.fs.Path(s"$indexPath/vectors"), true)
    fs.rename(new org.apache.hadoop.fs.Path(s"$tmp/vectors"),
      new org.apache.hadoop.fs.Path(s"$indexPath/vectors"))
    fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
    if (wasEnabled) Snapshot.enable(spark, s"$indexPath/vectors")
    IndexControl.write(spark, indexPath, ctl)
  }

  /** Per-cell OCCUPANCY IMBALANCE of a persisted IVF/IVF-PQ index:
    * max cell size over mean cell size (mean over the TRAINED cell
    * count, so emptied cells count — 1.0 = perfectly balanced,
    * ≈ nCells = everything collapsed into one cell). The standing-index
    * drift signal: appends assign to FROZEN centroids, so a corpus
    * whose distribution moves piles rows into few cells — probe cost
    * and recall both degrade long before anyone re-reads a recall
    * gauge. One keyed count over the index's own rows; gauged per
    * round (`ivf_index_imbalance`) next to the recall it predicts. */
  def ivfCellImbalance(spark: org.apache.spark.sql.SparkSession,
                       indexPath: String): Double = {
    val params = Dedup.readIndexParams(spark, indexPath)
    require(params.contains("n_cells"),
      s"${IndexControl.FileName} under $indexPath is not an IVF index record")
    val counts = Snapshot.read(spark, s"$indexPath/vectors")
      .groupBy(col("_cell")).agg(count(lit(1)).as("n"))
      .select(col("n")).collect().map(_.getLong(0))
    if (counts.isEmpty) 1.0
    else counts.max / (counts.sum.toDouble / params("n_cells"))
  }

  /** DRIFT MAINTENANCE for a standing [[buildIvfIndex]] index: retrain
    * the centroids FROM THE INDEX'S OWN CURRENT ROWS (build + appends
    * — no corpus re-read, the compaction sourcing convention) and
    * re-partition every stored vector under the new cells. Appends
    * keep ingest flowing between rebuilds but assign to frozen
    * centroids; once the appended mass moves the distribution (gauge:
    * [[ivfCellImbalance]]), probes split drifted clusters across stale
    * cell boundaries and nProbe-bounded recall drops — retraining
    * gives the new mass its own cells (AnnSpec pins the degrade →
    * restore cycle).
    *
    * Same atomicity as [[compactIvfIndex]]: stage vectors under
    * `_maintain_tmp/`, drop the commit marker, swap, then write params
    * and the new centroids LAST, in one atomic write — an interrupted
    * swap fails
    * [[searchIvfIndex]]'s validation loudly instead of probing mixed
    * old/new state. The rewritten params carry `retrain_version`
    * (monotone counter, like the codebook registry's versions) so
    * serving code can detect that cell ids changed meaning. IVF-PQ
    * indexes refuse loudly: their codes derive from the centroids
    * (residual) or rotated basis — retrain those via a
    * [[buildIvfPqIndex]] rebuild so codes and cells move together. */
  def maintainIvfIndex(spark: org.apache.spark.sql.SparkSession,
                       indexPath: String, idCol: String, vecCol: String,
                       iters: Int = 3): Unit = {
    val params = Dedup.readIndexParams(spark, indexPath)
    require(params.contains("n_cells") && params.contains("dim"),
      s"${IndexControl.FileName} under $indexPath is not an IVF index record")
    require(!params.contains("pq_m"),
      s"$indexPath is an IVF-PQ index — its codes derive from the " +
        "centroids; maintain it with a buildIvfPqIndex rebuild instead")
    val nCells = params("n_cells").toInt
    val dim = params("dim").toInt
    val fs = ivfFs(spark, indexPath)
    val tmp = s"$indexPath/_maintain_tmp"
    fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
    // current contents, deduplicated like compaction (a no-batchId
    // retry may have double-landed rows); localCheckpoint: retrain
    // iterates over it AND the rewrite scans it again
    val rows = Snapshot.read(spark, s"$indexPath/vectors")
      .drop("batch_id", "_cell").dropDuplicates().localCheckpoint()
    val cents = trainIvfCells(rows, idCol, vecCol, dim, nCells, iters)
    rows.withColumn("_cell", nearestCell(col(vecCol), cents))
      .repartition(col("_cell"))
      .write.mode("overwrite").partitionBy("_cell")
      .parquet(s"$tmp/vectors/batch_id=-1")
    IndexControl.clear(spark, indexPath) // probes fail loudly
    val wasEnabled = Snapshot.isEnabled(spark, s"$indexPath/vectors")
    fs.delete(new org.apache.hadoop.fs.Path(s"$indexPath/vectors"), true)
    fs.rename(new org.apache.hadoop.fs.Path(s"$tmp/vectors"),
      new org.apache.hadoop.fs.Path(s"$indexPath/vectors"))
    fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
    if (wasEnabled) Snapshot.enable(spark, s"$indexPath/vectors")
    IndexControl.write(spark, indexPath, IndexControl(
      Map("n_cells" -> params("n_cells"), "dim" -> params("dim"),
        "retrain_version" -> (params.getOrElse("retrain_version", 0L) + 1L)),
      centroids = Some(cents)))
  }

  /** [[maintainIvfIndex]] for IVF-PQ indexes: drift maintenance must
    * retrain cells AND codebooks AND rotation TOGETHER — residual
    * codes quantize x − cent(cell) and rotated indexes encode in the
    * trained basis, so new centroids silently invalidate old codes.
    * Sourced from the index's OWN current rows (raw floats are stored
    * alongside the codes precisely so re-encoding never needs the
    * corpus — the compaction sourcing convention), then rebuilt
    * through [[buildIvfPqIndex]] with the index's recorded geometry
    * params, bumping the same monotone `retrain_version`. Atomicity is
    * the build's marker-first rebuild discipline: probes fail loudly
    * mid-rebuild rather than reading mixed cells/codes. */
  def maintainIvfPqIndex(spark: org.apache.spark.sql.SparkSession,
                         indexPath: String, idCol: String, vecCol: String,
                         iters: Int = 3, lloydIters: Int = 3): Unit = {
    val params = Dedup.readIndexParams(spark, indexPath)
    require(params.contains("pq_m"),
      s"${IndexControl.FileName} under $indexPath is not an IVF-PQ index record — use " +
        "maintainIvfIndex for plain IVF")
    // eager localCheckpoint: the rebuild DELETES vectors/ before its
    // rewrite, so the source rows must be materialized off the files
    val rows = Snapshot.read(spark, s"$indexPath/vectors")
      .drop("batch_id", "_cell", "pq_code").dropDuplicates()
      .localCheckpoint()
    buildIvfPq(rows, idCol, vecCol, params("dim").toInt,
      params("n_cells").toInt, params("pq_m").toInt, params("pq_k").toInt,
      indexPath, iters, lloydIters, maxTrainRows = 0,
      residual = params.getOrElse("pq_residual", 0L) == 1L,
      rotate = params.getOrElse("pq_rotate", 0L) == 1L,
      retrainVersion = Some(params.getOrElse("retrain_version", 0L) + 1L))
  }

  /** Search a [[buildIvfIndex]] index: pick the nProbe cells whose
    * centroids are nearest the query DRIVER-side (centroids are the
    * only driver state — nCells×dim doubles), then push `_cell IN
    * (probes)` as a PARTITION filter: only those directories are read.
    * `queryVec` is the raw query vector (driver-side, one vector — the
    * single-query entry point; batch queries broadcast instead). */
  def searchIvfIndex(spark: org.apache.spark.sql.SparkSession, indexPath: String,
                     idCol: String, vecCol: String, queryVec: Seq[Double],
                     k: Int, nProbe: Int = 2): DataFrame = {
    import spark.implicits._
    // validate against the stored build params (fail-loud commit-marker
    // semantics, matching requireIndexParams on the LSH indexes): a
    // params-less half-built index throws; a query vector whose dim
    // differs from the build's would mis-probe silently — error instead
    val ctl = IndexControl.read(spark, indexPath)
    val params = ctl.params
    require(params.contains("n_cells") && params.contains("dim"),
      s"${IndexControl.FileName} under $indexPath is not an IVF index record")
    require(params("dim") == queryVec.length.toLong,
      s"IVF index at $indexPath was built with dim=${params("dim")} but " +
        s"queried with a ${queryVec.length}-dim vector")
    val cents = ivfCentroids(ctl, indexPath)
    val qUnit = unit(queryVec)
    val probeCells = cents.map(unit).zipWithIndex
      .map { case (c, i) => (c.zip(qUnit).map { case (a, b) => a * b }.sum, i) }
      .sortBy { case (s, i) => (-s, -i) } // ties: larger index, matching nearestCell
      .take(nProbe).map(_._2)
    val q = broadcast(Seq(Tuple1(queryVec.map(_.toFloat))).toDF("_qvec"))
    Snapshot.read(spark, s"$indexPath/vectors")
      .filter(col("_cell").isin(probeCells: _*)) // partition-prunes the scan
      .crossJoin(q)
      .withColumn("sim", V.cosineSimilarityNative(col(vecCol), col("_qvec")))
      .select(col(idCol), col("sim"))
      .orderBy(desc("sim"), col(idCol))
      .limit(k)
  }

  /** Train + search in one call (demo/test path — benchmarks and real
    * deployments call [[trainIvfCells]] once and [[ivfSearch]] per
    * query). */
  def ivfTopKTrained(embs: DataFrame, idCol: String, vecCol: String, dim: Int,
                     query: DataFrame, queryVecCol: String, k: Int,
                     nCells: Int = 8, nProbe: Int = 2, iters: Int = 3): DataFrame =
    ivfSearch(embs, idCol, vecCol, dim, query, queryVecCol, k,
      trainIvfCells(embs, idCol, vecCol, dim, nCells, iters), nProbe)

  /** IVF-PQ composite index — the FAISS IVFADC architecture, raw-vector
    * variant: IVF cells give PARTITION pruning (the probe reads only
    * nProbe cell directories), PQ codes give COLUMN pruning inside
    * them (the ADC ranking pass reads the m-byte `pq_code` column, not
    * the floats), and the rerank fetches full vectors for shortlist
    * rows alone. Per-query I/O at 100 TB ≈ (probed fraction of the
    * corpus) × m bytes + shortlist × vector bytes — the two pruning
    * axes compose multiplicatively. Codes encode RAW vectors, not
    * per-cell residuals (the classic ADC refinement needs a residual
    * inner-product decomposition the cosine expression doesn't carry);
    * the shortlist rerank is the recall floor either way, exactly as
    * in [[Pq.topKReranked]]. The codebook spec persists INSIDE the
    * index (`pq_spec` in `_index.json`), so search rebuilds the exact books from disk —
    * params carry (pq_m, pq_k) and gate [[appendToIvfIndex]] loudly.
    * Same marker-first rebuild discipline as [[buildIvfIndex]]. */
  /** r = x − cent(cell): the residual the IVFADC codes quantize. The
    * centroid table rides the plan as a literal (nCells × dim doubles
    * — broadcast-class state); `zip_with` keeps the subtraction inside
    * codegen. */
  private def residualCol(vec: org.apache.spark.sql.Column,
                          cell: org.apache.spark.sql.Column,
                          cents: Seq[Seq[Double]]): org.apache.spark.sql.Column =
    zip_with(vec.cast("array<double>"),
      element_at(typedLit(cents), cell.cast("int") + 1),
      (a, b) => a - b)

  /** x̂ = cent(cell) + r̂: reconstruction from a residual code — the
    * batch query path's scoring form ([[Pq.decode]] scaladoc). */
  private def reconstructResidual(codes: org.apache.spark.sql.Column,
                                  cell: org.apache.spark.sql.Column,
                                  cb: Pq.Codebooks,
                                  cents: Seq[Seq[Double]]): org.apache.spark.sql.Column =
    zip_with(element_at(typedLit(cents), cell.cast("int") + 1),
      Pq.decode(codes, cb), (a, b) => a + b)

  def buildIvfPqIndex(embs: DataFrame, idCol: String, vecCol: String,
                      dim: Int, nCells: Int, m: Int, kCodes: Int,
                      outPath: String, iters: Int = 3, lloydIters: Int = 3,
                      maxTrainRows: Long = 0,
                      residual: Boolean = false,
                      rotate: Boolean = false): Seq[Seq[Double]] =
    buildIvfPq(embs, idCol, vecCol, dim, nCells, m, kCodes, outPath, iters,
      lloydIters, maxTrainRows, residual, rotate, retrainVersion = None)

  /** [[buildIvfPqIndex]], stamping `retrainVersion` (the
    * [[maintainIvfPqIndex]] counter) into the same atomic marker write. */
  private def buildIvfPq(embs: DataFrame, idCol: String, vecCol: String,
                         dim: Int, nCells: Int, m: Int, kCodes: Int,
                         outPath: String, iters: Int, lloydIters: Int,
                         maxTrainRows: Long, residual: Boolean, rotate: Boolean,
                         retrainVersion: Option[Long]): Seq[Seq[Double]] = {
    val spark = embs.sparkSession
    IndexControl.clear(spark, outPath)
    // rotate=true is the OPQ pretransform (Faiss "OPQ_d,IVFx,PQm"
    // lineage): an orthogonal R learned once on the raw vectors
    // (Opq.train's alternation — we keep the rotation, the IVF cells
    // and codebooks retrain in the ROTATED basis below), then the
    // whole index — cells, residuals, codes — lives in rotated space.
    // Because R is orthogonal, rotated-space cosine IS raw cosine, so
    // the rerank still reads the raw float column and the result
    // contract is unchanged; what changes is ADC-only precision on
    // cross-subspace-correlated data (the anisotropic-grid gauge
    // pair ivfpq_adc_recall_grid_{res,opq} measures it per round).
    val rot: Option[Array[Array[Double]]] =
      if (!rotate) None
      else Some(Opq.train(embs, vecCol, dim, m, kCodes, lloydIters,
        opqIters = 3, maxTrainRows = maxTrainRows).rotation)
    val workEmbs = rot match {
      case Some(r) => embs.withColumn("_rvec", Opq.rotate(col(vecCol), r))
      case None => embs
    }
    val workVecCol = if (rotate) "_rvec" else vecCol
    val cents = trainIvfCells(workEmbs, idCol, workVecCol, dim, nCells, iters)
    // residual=true trains the codebooks on r = x − cent(cell) pooled
    // across cells (classic IVFADC): the k entries describe the tight
    // within-cell offsets instead of re-describing cell placement, so
    // ADC-only precision rises at the same m — measured on the planted
    // clustered fixture (AnnSpec) and gauged per round
    // (ivfpq_adc_recall_res vs ivfpq_adc_recall_raw).
    val trainSrc =
      if (!residual) workEmbs
      else workEmbs.withColumn("_cell", nearestCell(col(workVecCol), cents))
        .withColumn("_res", residualCol(col(workVecCol), col("_cell"), cents))
    val trainCol = if (residual) "_res" else workVecCol
    val cb = Pq.train(trainSrc, trainCol, dim, m, kCodes, lloydIters,
      maxTrainRows)
    ivfFs(spark, outPath).delete(
      new org.apache.hadoop.fs.Path(s"$outPath/vectors"), true)
    val assigned = workEmbs.withColumn("_cell",
      nearestCell(col(workVecCol), cents))
    assigned
      .withColumn("pq_code", Pq.encode(
        if (residual) residualCol(col(workVecCol), col("_cell"), cents)
        else col(workVecCol), cb))
      .drop("_rvec") // the stored float column stays RAW — rerank reads it
      .repartition(col("_cell"))
      .write.mode("overwrite").partitionBy("_cell")
      .parquet(s"$outPath/vectors/batch_id=-1")
    // the whole model — params, centroids, codebooks, rotation — in
    // ONE atomic write, LAST: the commit marker
    IndexControl.write(spark, outPath, IndexControl(
      Map[String, Long]("n_cells" -> nCells, "dim" -> dim, "pq_m" -> m,
        "pq_k" -> kCodes, "pq_residual" -> (if (residual) 1L else 0L),
        "pq_rotate" -> (if (rotate) 1L else 0L)) ++
        retrainVersion.map("retrain_version" -> _),
      centroids = Some(cents), pqSpec = Some(Pq.spec(cb)),
      opqSpec = rot.map(Opq.rotationSpec)))
    cents
  }

  /** The persisted OPQ rotation of a rotate=true index, None otherwise
    * — the `pq_rotate` param is the authority, `opq_spec` the artifact
    * (orthonormality re-checked on every load). */
  private def ivfRotation(ctl: IndexControl,
                          indexPath: String): Option[Array[Array[Double]]] =
    if (ctl.params.getOrElse("pq_rotate", 0L) != 1L) None
    else Some(Opq.rotationFromSpec(
      IndexControl.field(indexPath, "opq_spec", ctl.opqSpec)))

  /** Append to an IVF-PQ index: rows are cell-assigned AND encoded
    * with the index's own persisted codebooks before landing — the
    * [[appendToIvfIndex]] idempotency contract otherwise. */
  def appendToIvfPqIndex(embs: DataFrame, idCol: String, vecCol: String,
                         indexPath: String,
                         batchId: Option[Long] = None): Unit = {
    val spark = embs.sparkSession
    val ctl = IndexControl.read(spark, indexPath)
    val params = ctl.params
    require(params.contains("pq_m"),
      s"${IndexControl.FileName} under $indexPath is not an IVF-PQ index record")
    val cents = ivfCentroids(ctl, indexPath)
    val cb = ivfCodebooks(ctl, indexPath)
    val id = batchId.getOrElse(
      System.currentTimeMillis() * 1000 + (ivfAppendCounter.incrementAndGet() % 1000))
    val residual = params.getOrElse("pq_residual", 0L) == 1L
    // a rotate=true index's appends go through the SAME stored
    // rotation: assign + encode in rotated space, store raw floats
    val rot = ivfRotation(ctl, indexPath)
    val workEmbs = rot match {
      case Some(r) => embs.withColumn("_rvec", Opq.rotate(col(vecCol), r))
      case None => embs
    }
    val wv = if (rot.isDefined) "_rvec" else vecCol
    Snapshot.stagedAppend(spark, s"$indexPath/vectors", id) {
      workEmbs.withColumn("_cell", nearestCell(col(wv), cents))
        .withColumn("pq_code", Pq.encode(
          if (residual) residualCol(col(wv), col("_cell"), cents)
          else col(wv), cb))
        .drop("_rvec")
        .repartition(col("_cell"))
        .write.mode("overwrite").partitionBy("_cell")
        .parquet(s"$indexPath/vectors/batch_id=$id")
    }
  }

  /** Search a [[buildIvfPqIndex]] index: driver-side probe selection
    * (nCells×dim doubles of state), `_cell IN (probes)` partition
    * filter, ADC over `pq_code` ranks a `shortlist` (default
    * max(10·k, 100)), exact cosine reranks only those rows. */
  def searchIvfPqIndex(spark: org.apache.spark.sql.SparkSession,
                       indexPath: String, idCol: String, vecCol: String,
                       queryVec: Seq[Double], k: Int, nProbe: Int = 2,
                       shortlist: Int = 0): DataFrame = {
    import spark.implicits._
    val ctl = IndexControl.read(spark, indexPath)
    val params = ctl.params
    require(params.contains("pq_m") && params.contains("n_cells"),
      s"${IndexControl.FileName} under $indexPath is not an IVF-PQ index record")
    require(params("dim") == queryVec.length.toLong,
      s"IVF-PQ index at $indexPath was built with dim=${params("dim")} but " +
        s"queried with a ${queryVec.length}-dim vector")
    val requested = if (shortlist > 0) shortlist else math.max(10 * k, 100)
    require(requested >= k, s"shortlist $requested smaller than k=$k")
    // cap caller-supplied shortlists under the TakeOrderedAndProject
    // fence (rankShortlistCap scaladoc): an uncapped shortlist AT the
    // threshold silently flips the ADC ranking into a corpus-wide
    // global sort. k itself wins if the caller truly asked past the cap.
    val n = math.max(k.toLong, math.min(requested.toLong, rankShortlistCap)).toInt
    val cents = ivfCentroids(ctl, indexPath)
    val cb = ivfCodebooks(ctl, indexPath)
    // a rotate=true index lives wholly in rotated space (cells, codes,
    // centroids) — rotate the query driver-side (one dim² mat-vec) and
    // probe/rank with it; the rerank below stays RAW query vs RAW
    // floats, because the orthogonal R preserves cosine exactly
    val qRanked = ivfRotation(ctl, indexPath)
      .map(r => Opq.rotateLocal(r, queryVec)).getOrElse(queryVec)
    val qUnit = unit(qRanked)
    val probeCells = cents.map(unit).zipWithIndex
      .map { case (c, i) => (c.zip(qUnit).map { case (a, b) => a * b }.sum, i) }
      .sortBy { case (s, i) => (-s, -i) } // ties: larger index, matching nearestCell
      .take(nProbe).map(_._2)
    val base = Snapshot.read(spark, s"$indexPath/vectors")
      .filter(col("_cell").isin(probeCells: _*)) // partition-prunes the scan
    // residual indexes rank via the IVFADC decomposition (per-probed-
    // cell scalars + the same m lookups — Pq.adcCosineResidual); raw
    // indexes keep the cell-free tables
    val adc =
      if (params.getOrElse("pq_residual", 0L) == 1L)
        Pq.adcCosineResidual(col("pq_code"), col("_cell"), qRanked, cb,
          cents, probeCells)
      else Pq.adcCosine(col("pq_code"), qRanked, cb)
    val cands = base
      .select(col(idCol), adc.as("sim"))
      .filter(col("sim").isNotNull)
      .orderBy(desc("sim"), col(idCol)).limit(n)
      .select(col(idCol))
    val q = broadcast(Seq(Tuple1(queryVec.map(_.toFloat))).toDF("_qvec"))
    base.join(broadcast(cands), Seq(idCol), "left_semi")
      .crossJoin(q)
      .withColumn("sim", V.cosineSimilarityNative(col(vecCol), col("_qvec")))
      .select(col(idCol), col("sim"))
      .orderBy(desc("sim"), col(idCol))
      .limit(k)
  }

  /** Batched twin of [[searchIvfPqIndex]]: every query's nProbe cells
    * come from the broadcast centroid literals in-plan (the
    * [[ivfSearchBatch]] machinery), the ADC ranking rides
    * decode→cosine over the codes column ([[Pq.decode]] — per-query
    * driver-side ADC tables are impossible for a query SET, and cosine
    * against the reconstruction is the same quantity), per-query
    * shortlists are the bounded [[TopKByScore]] reduction, and only
    * shortlist rows join back to the floats for the exact rerank. */
  def searchIvfPqIndexBatch(spark: org.apache.spark.sql.SparkSession,
                            indexPath: String, idCol: String, vecCol: String,
                            queries: DataFrame, qidCol: String, qvecCol: String,
                            k: Int, nProbe: Int = 2,
                            shortlist: Int = 0): DataFrame = {
    import spark.implicits._
    val ctl = IndexControl.read(spark, indexPath)
    val params = ctl.params
    require(params.contains("pq_m") && params.contains("n_cells"),
      s"${IndexControl.FileName} under $indexPath is not an IVF-PQ index record")
    val requested = if (shortlist > 0) shortlist else math.max(10 * k, 100)
    require(requested >= k, s"shortlist $requested smaller than k=$k")
    // same cap as the single-query path: the TopKByScore heap is
    // bounded per query, and per-query shortlists past the fence are
    // never useful — they only grow the rerank join
    val n = math.max(k.toLong, math.min(requested.toLong, rankShortlistCap)).toInt
    val cents = ivfCentroids(ctl, indexPath)
    val cb = ivfCodebooks(ctl, indexPath)
    val unitCents = cents.map(unit)
    // rotate=true: every query rotates IN-PLAN (one fused mat-vec per
    // query row — broadcast-class work, the query set is small by
    // contract) and probes/ranks against the rotated-space centroids
    // and reconstructions; the rerank keeps raw qvec vs raw floats
    val rot = ivfRotation(ctl, indexPath)
    val rankVec: Column = rot match {
      case Some(r) => Opq.rotate(col(qvecCol), r)
      case None => col(qvecCol)
    }
    val probes = queries
      .select(col(qidCol).cast("long").as("_qid"), rankVec.as("_qvec"),
        explode(slice(reverse(array_sort(array(unitCents.zipWithIndex.map { case (c, i) =>
          struct(V.dotUnrolled(rankVec, typedLit(c), c.length).as("s"), lit(i).as("i"))
        }: _*))), 1, nProbe)).as("_p"))
      .select(col("_qid"), col("_qvec"), col("_p.i").as("_probe_cell"))
    val base = Snapshot.read(spark, s"$indexPath/vectors")
    // batch scoring rides decode→cosine (per-query driver-side tables
    // are impossible for a query SET); a residual index reconstructs
    // x̂ = cent(_cell) + r̂ in-plan before the cosine
    val rec =
      if (params.getOrElse("pq_residual", 0L) == 1L)
        reconstructResidual(col("pq_code"), col("_cell"), cb, cents)
      else Pq.decode(col("pq_code"), cb)
    val short = base
      .select(col(idCol).cast("long").as("_rid"), col("_cell"),
        rec.as("_rec"))
      .join(broadcast(probes), col("_cell") === col("_probe_cell"))
      .select(col("_qid").as("qid"), col("_rid").as("id"),
        V.cosineSimilarityNative(col("_rec"), col("_qvec")).as("sim"))
      .filter(col("sim").isNotNull)
      .as[QueryScored]
      .groupByKey(_.qid)
      .agg(new TopKByScore(n).toColumn.name("hits"))
      .flatMap { case (qid, hits) => hits.map(h => (qid, h.id)) }
      .toDF("_sqid", "_sid")
    // rerank floats come ONLY from the union of probed cells (every
    // shortlist row lives there by construction): the cell semi-join
    // keeps the second scan's I/O proportional to probed cells — a
    // bare id join would read the whole table's float column back
    val probedCells = probes.select(col("_probe_cell").as("_cell")).distinct()
    val scored = base
      .join(broadcast(probedCells), Seq("_cell"), "left_semi")
      .select(col(idCol).cast("long").as("_sid"), col(vecCol))
      .join(broadcast(short), "_sid")
      .join(broadcast(queries.select(col(qidCol).cast("long").as("_sqid"),
        col(qvecCol).as("_qvec2"))), "_sqid")
      .select(col("_sqid").as("qid"), col("_sid").as("id"),
        V.cosineSimilarityNative(col(vecCol), col("_qvec2")).as("sim"))
      .as[QueryScored]
    scored.groupByKey(_.qid)
      .agg(new TopKByScore(k).toColumn.name("hits"))
      .flatMap { case (qid, hits) => hits.map(h => (qid, h.id, h.sim)) }
      .toDF("query_id", idCol, "sim")
      .orderBy("query_id", idCol)
  }

  /** IVF-style coarse quantization using label/partition assignment:
    * group vectors by an existing coarse key (e.g. a cluster id column),
    * compute per-cell centroids, then restrict search to the nProbe
    * nearest cells. On a 100 TB table the cell id is the partition
    * column — the scan itself prunes. */
  def ivfTopK(embs: DataFrame, idCol: String, vecCol: String, cellCol: String,
              dim: Int, query: DataFrame, queryVecCol: String, k: Int,
              nProbe: Int = 2): DataFrame = {
    // centroids: elementwise mean per cell via the typed VectorAvg
    // Aggregator — ONE partial-aggregated pass; the posexplode
    // alternative would shuffle dim× the rows and need two aggs to
    // reassemble order (VectorAgg scaladoc).
    val vecAvg = org.apache.spark.sql.functions.udaf(new VectorAvg(dim))
    val cent = embs
      .groupBy(col(cellCol).as("_cell"))
      .agg(vecAvg(col(vecCol)).as("_centroid"))
    val q = broadcast(query.select(col(queryVecCol).as("_qvec")))
    val nearCells = cent.crossJoin(q)
      .withColumn("_csim", V.cosineSimilarityNative(col("_centroid"), col("_qvec")))
      .orderBy(desc("_csim")).limit(nProbe)
      .select("_cell")
    embs.join(broadcast(nearCells), col(cellCol) === col("_cell"))
      .crossJoin(q)
      .withColumn("sim", V.cosineSimilarityNative(col(vecCol), col("_qvec")))
      .select(col(idCol), col("sim"))
      .orderBy(desc("sim"), col(idCol))
      .limit(k)
  }
}
