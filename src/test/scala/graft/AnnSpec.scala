package graft

import org.apache.spark.sql.functions._
import graft.operators.Ann
import graft.functions.{VectorFunctions => V}

/** ANN recall tests: LSH and IVF results measured against the exact
  * brute-force baseline on the real sf0.001 embeddings table — the
  * correctness gate for the oracle-less ann2/ann3 queries.
  */
class AnnSpec extends SparkSpec {
  private val dim = 64

  private lazy val embs = Tables(spark, sf, "embeddings").cache()
  private lazy val query =
    embs.filter(col("vec_id") === 0).select(col("embedding").as("qv"))

  private lazy val exactTop20: Seq[Long] =
    Ann.bruteForceTopK(embs, "vec_id", "embedding", query, "qv", 20)
      .select("vec_id").collect().map(_.getLong(0)).toSeq

  test("brute-force top-k: self is the top hit with sim 1.0", Slow) {
    val top = Ann.bruteForceTopK(embs, "vec_id", "embedding", query, "qv", 5)
      .collect()
    top.head.getLong(0) shouldBe 0L
    top.head.getDouble(1) shouldBe 1.0 +- 1e-9
    // descending similarity
    top.map(_.getDouble(1)).toSeq shouldBe top.map(_.getDouble(1)).sortBy(-_).toSeq
  }

  // The testdata embeddings are near-uniform random (top-10 "neighbors"
  // of a query have cosine ≈ 0.3, i.e. ~72° away), so recall targets
  // must follow hyperplane-LSH math: P(bit agrees) = 1 - θ/π ≈ 0.61 per
  // bit. With bits=2 and multiprobe radius 1 (≥1 of 2 bits agreeing
  // suffices) the per-neighbor hit probability is ≈ 0.85. On real
  // clustered embeddings (θ small) the same operator's recall → 1.
  test("LSH top-k: recall tracks the hyperplane-LSH math; self always found") {
    // fallbackToRanking = false: this test pins the BUCKETED path's
    // math — bits=2 predicts a 0.75 scan fraction, which the r18
    // dominated-config admission would re-route to ranking
    val got = Ann.lshTopK(embs, "vec_id", "embedding", dim, query, "qv", 10,
        bits = 2, fallbackToRanking = false)
      .collect().map(r => r.getLong(0) -> r.getDouble(1))
    val truth = exactTop20.take(10).toSet
    val recall = got.map(_._1).toSet.intersect(truth).size.toDouble / truth.size
    withClue(s"got=${got.map(_._1).toSeq} truth=$truth: ") { recall should be >= 0.6 }
    // identical signature → the query always retrieves itself, sim 1.0
    got.head._1 shouldBe 0L
    got.head._2 shouldBe 1.0 +- 1e-9
    // no fabricated similarities: every returned sim equals brute force
    val exactSims = Ann.bruteForceTopK(embs, "vec_id", "embedding", query, "qv",
      embs.count().toInt).collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    got.foreach { case (id, s) => s shouldBe exactSims(id) +- 1e-9 }
  }

  test("LSH top-k auto-sizing: out-of-box call reaches high recall") {
    // no bits/tables passed: the out-of-box path is signature RANKING
    // (504-bit sketches, Hamming-ranked shortlist, exact cosine on the
    // shortlist only) — recall-robust even on these near-uniform
    // embeddings, where every bucketed config needs ≥0.5 scan fraction
    // for 0.9 recall (the r15 grid; see lshTopK's scaladoc). The
    // out-of-box user must not get the 0.4-recall neighbors the old
    // bits=8/tables=1 default shipped.
    val got = Ann.lshTopK(embs, "vec_id", "embedding", dim, query, "qv", 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(1))
    val truth = exactTop20.take(10).toSet
    val recall = got.map(_._1).toSet.intersect(truth).size.toDouble / truth.size
    withClue(s"got=${got.map(_._1).toSeq} truth=$truth: ") { recall should be >= 0.9 }
    got.head._1 shouldBe 0L
    got.head._2 shouldBe 1.0 +- 1e-9
  }

  test("dominated LSH configs auto-fall back to ranking; adequate configs " +
    "stay bucketed (VERDICT r18 task 9)") {
    // the admission predicate itself: the bench's 0.9-recall config
    // predicts ~0.60 scan (measured 0.574) — dominated; a corpus-sized
    // config predicts ~1.3% — kept
    Ann.predictedLshScanFrac(6, 8) shouldBe 0.604 +- 0.005
    Ann.lshConfigDominated(6, 8) shouldBe true
    Ann.predictedLshScanFrac(12, 4) shouldBe 0.0127 +- 0.001
    Ann.lshConfigDominated(12, 4) shouldBe false
    // end-to-end: the dominated config's DEFAULT call returns exactly
    // the ranking default's neighbors — never a worse (recall, scan)
    // pair than out-of-box
    val viaFallback = Ann.lshTopK(embs, "vec_id", "embedding", dim,
      query, "qv", 10, bits = 2, tables = 2).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val ranking = Ann.lshTopK(embs, "vec_id", "embedding", dim,
      query, "qv", 10).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    viaFallback shouldBe ranking
    // an adequate config keeps the bucketed plan (the multiprobe join
    // column is its signature)
    val bucketedPlan = Ann.lshTopK(embs, "vec_id", "embedding", dim,
      query, "qv", 10, bits = 12, tables = 4)
      .queryExecution.analyzed.toString
    bucketedPlan should include("_probe")
    val fallbackPlan = Ann.lshTopK(embs, "vec_id", "embedding", dim,
      query, "qv", 10, bits = 2, tables = 2)
      .queryExecution.analyzed.toString
    fallbackPlan should not include "_probe"
  }

  test("IVF top-k: k results, all from probed cells, sims exact") {
    val got = Ann.ivfTopK(embs, "vec_id", "embedding", "label", dim,
      query, "qv", 10, nProbe = 2)
      .collect().map(r => r.getLong(0) -> r.getDouble(1))
    got.length shouldBe 10
    // every returned sim equals the exact brute-force value for that id
    val exactSims = Ann.bruteForceTopK(embs, "vec_id", "embedding", query, "qv",
      embs.count().toInt).collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    got.foreach { case (id, s) => s shouldBe exactSims(id) +- 1e-9 }
    // results are confined to nProbe cells (the pruning contract)
    val cells = embs.select(col("vec_id"), col("label")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    got.map { case (id, _) => cells(id) }.toSet.size should be <= 2
  }

  test("trained IVF: k-means cells partition planted clusters; query finds its cluster") {
    import spark.implicits._
    // 3 well-separated direction clusters + the query in cluster 0 —
    // the shape where coarse quantization must not lose neighbors
    val dimS = 8
    def base(c: Int): Seq[Float] =
      (0 until dimS).map(j => if (j == c) 10.0f else 0.0f)
    def jitter(c: Int, s: Int): Seq[Float] =
      base(c).zipWithIndex.map { case (v, j) => v + 0.1f * ((s * 7 + j) % 5) }
    val rows = for (c <- 0 until 3; s <- 0 until 20)
      yield ((c * 100 + s).toLong, jitter(c, s))
    val embsS = rows.toDF("vec_id", "embedding")
    val q = embsS.filter(col("vec_id") === 0).select(col("embedding").as("qv"))

    val got = Ann.ivfTopKTrained(embsS, "vec_id", "embedding", dimS, q, "qv", 10,
        nCells = 3, nProbe = 1, iters = 3)
      .collect().map(r => r.getLong(0) -> r.getDouble(1))
    got.length shouldBe 10
    got.head._1 shouldBe 0L
    got.head._2 shouldBe 1.0 +- 1e-9
    // with 1 probe on cleanly-clustered data, ALL results come from the
    // query's own cluster — coarse quantization learned the structure
    got.foreach { case (id, _) => id should be < 100L }
    // exact agreement with brute force restricted to that cluster
    val truth = Ann.bruteForceTopK(embsS, "vec_id", "embedding", q, "qv", 10)
      .collect().map(_.getLong(0)).toSeq
    got.map(_._1).toSeq shouldBe truth
  }

  test("trained IVF on real embeddings: self found, sims exact") {
    val got = Ann.ivfTopKTrained(embs, "vec_id", "embedding", dim,
        query, "qv", 10, nCells = 8, nProbe = 2)
      .collect().map(r => r.getLong(0) -> r.getDouble(1))
    got.length shouldBe 10
    got.head._1 shouldBe 0L
    got.head._2 shouldBe 1.0 +- 1e-9
    val exactSims = Ann.bruteForceTopK(embs, "vec_id", "embedding", query, "qv",
      embs.count().toInt).collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    got.foreach { case (id, s) => s shouldBe exactSims(id) +- 1e-9 }
  }

  test("persisted IVF index: _index.json is the commit marker and gates search") {
    import spark.implicits._
    val all = graft.queries.PlantedFixtures.embs(spark)
    val dimF = graft.queries.PlantedFixtures.EmbFixtureDim
    val idx = graft.TempDirs.path("ann-index/durability")
    Ann.buildIvfIndex(all, "vec_id", "embedding", dimF, nCells = 3, outPath = idx)
    val qv = all.filter(col("vec_id") === 0).select(col("embedding"))
      .collect()(0).getSeq[Float](0).map(_.toDouble).toSeq
    // committed index searches fine
    Ann.searchIvfIndex(spark, idx, "vec_id", "embedding", qv, k = 3)
      .count() shouldBe 3L
    // dim mismatch must throw, not mis-probe silently
    val exDim = intercept[IllegalArgumentException] {
      Ann.searchIvfIndex(spark, idx, "vec_id", "embedding", qv :+ 0.0, k = 3)
    }
    exDim.getMessage should include("dim")
    // half-built index (vectors readable, marker absent — the state a
    // crash before the final _index.json write leaves): the search
    // must fail loudly, matching requireIndexParams semantics
    new java.io.File(s"$idx/_index.json").delete() shouldBe true
    val exHalf = intercept[IllegalStateException] {
      Ann.searchIvfIndex(spark, idx, "vec_id", "embedding", qv, k = 3)
    }
    exHalf.getMessage should include("no readable _index.json")
  }

  test("maintainIvfIndex: retrain_version steps by exactly 1, centroids land with it, no scratch left") {
    val all = graft.queries.PlantedFixtures.embs(spark)
    val dimF = graft.queries.PlantedFixtures.EmbFixtureDim
    val idx = graft.TempDirs.path(s"ann-index/maintain-${java.util.UUID.randomUUID()}")
    Ann.buildIvfIndex(all, "vec_id", "embedding", dimF, nCells = 3, outPath = idx)
    def version = graft.operators.Dedup.readIndexParams(spark, idx)
      .getOrElse("retrain_version", 0L)
    for (_ <- 1 to 2) {
      val before = version
      Ann.maintainIvfIndex(spark, idx, "vec_id", "embedding", iters = 2)
      version shouldBe before + 1
      new java.io.File(idx).list().toSet should contain noneOf (
        "_maintain_tmp", "centroids", "params")
    }
    graft.operators.IndexControl.read(spark, idx).centroids.map(_.length) shouldBe Some(3)
    val qv = all.filter(col("vec_id") === 0).select(col("embedding"))
      .collect()(0).getSeq[Float](0).map(_.toDouble).toSeq
    Ann.searchIvfIndex(spark, idx, "vec_id", "embedding", qv, k = 3)
      .count() shouldBe 3L
  }

  test("batched top-k: one scan serves many queries, matching the single-query ops", Slow) {
    val qids = Seq(0L, 3L, 7L)
    val q = embs.filter(col("vec_id").isin(qids: _*))
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val batch = Ann.bruteForceTopKBatch(embs, "vec_id", "embedding",
        q, "qid", "qv", 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    batch.length shouldBe 15
    for (qid <- qids) {
      val single = Ann.bruteForceTopK(embs, "vec_id", "embedding",
          embs.filter(col("vec_id") === qid).select(col("embedding").as("qv")),
          "qv", 5)
        .collect().map(r => (qid, r.getLong(0), r.getDouble(1))).toSet
      batch.filter(_._1 == qid).toSet shouldBe single
    }
    // IVF batch: per-query results equal the single-query ivfSearch on
    // the same trained cells
    val cents = Ann.trainIvfCells(embs, "vec_id", "embedding", dim,
      nCells = 4, iters = 3)
    val ivfBatch = Ann.ivfSearchBatch(embs, "vec_id", "embedding", dim,
        q, "qid", "qv", 5, cents, nProbe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    for (qid <- qids) {
      val single = Ann.ivfSearch(embs, "vec_id", "embedding", dim,
          embs.filter(col("vec_id") === qid).select(col("embedding").as("qv")),
          "qv", 5, cents, nProbe = 2)
        .collect().map(r => (qid, r.getLong(0), r.getDouble(1))).toSet
      ivfBatch.filter(_._1 == qid).toSet shouldBe single
    }
    // LSH batch: each query's results match its single-query call
    // under the same explicit (bits, tables) config
    val lshBatch = Ann.lshTopKBatch(embs, "vec_id", "embedding", dim,
        q, "qid", "qv", 5, bits = 2, tables = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    for (qid <- qids) {
      val single = Ann.lshTopK(embs, "vec_id", "embedding", dim,
          embs.filter(col("vec_id") === qid).select(col("embedding").as("qv")),
          "qv", 5, bits = 2, tables = 4)
        .collect().map(r => (qid, r.getLong(0), r.getDouble(1))).toSet
      lshBatch.filter(_._1 == qid).toSet shouldBe single
    }
    // signature-RANKING batch (the out-of-box default, no
    // bits/tables): same per-query parity against the single-query
    // ranking path — shortlist tie-break (equal Hamming → smaller id)
    // must agree between TakeOrderedAndProject and TopKByScore
    val rankBatch = Ann.lshTopKBatch(embs, "vec_id", "embedding", dim,
        q, "qid", "qv", 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    for (qid <- qids) {
      val single = Ann.lshTopK(embs, "vec_id", "embedding", dim,
          embs.filter(col("vec_id") === qid).select(col("embedding").as("qv")),
          "qv", 5)
        .collect().map(r => (qid, r.getLong(0), r.getDouble(1))).toSet
      rankBatch.filter(_._1 == qid).toSet shouldBe single
    }
    // the batched reduction partial-aggregates (bounded buffers) and
    // never window-sorts the scored cross product
    val plan = Ann.bruteForceTopKBatch(embs, "vec_id", "embedding",
      q, "qid", "qv", 5).queryExecution.executedPlan.toString
    plan should include("ObjectHashAggregate")
    plan should not include "Window"
  }

  test("signature ranking: malformed vectors sink below every real row, never in top-k") {
    import spark.implicits._
    // null vector, wrong-dim vector, and a null-element vector ride in
    // the corpus: their sketches hash to NULL → null Hamming distance,
    // which the asc_nulls_last shortlist sort must sink (plain asc
    // would put nulls FIRST and flood the shortlist with garbage)
    val fix = graft.queries.PlantedFixtures.embs(spark)
      .select("vec_id", "embedding")
    val dimF = graft.queries.PlantedFixtures.EmbFixtureDim
    val bad = Seq(
      (100L, null.asInstanceOf[Seq[Float]]),
      (101L, Seq(1.0f, 2.0f)),
      (102L, Seq.tabulate(dimF)(i => if (i == 3) null.asInstanceOf[Float] else 1.0f))
    ).toDF("vec_id", "embedding")
      .select(col("vec_id"),
        when(col("vec_id") === 102L,
          // rebuild with a real SQL NULL element (Seq[Float] can't hold one)
          expr(s"transform(embedding, (x, i) -> IF(i = 3, CAST(NULL AS FLOAT), x))"))
          .otherwise(col("embedding")).as("embedding"))
    val corpus = fix.unionByName(bad)
    val q = fix.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
    val got = Ann.lshTopK(corpus, "vec_id", "embedding", dimF, q, "qv", 12)
      .collect().map(_.getLong(0)).toSet
    got.intersect(Set(100L, 101L, 102L)) shouldBe Set.empty
    // and the clean fixture's results are unchanged by the bad rows
    val clean = Ann.lshTopK(fix, "vec_id", "embedding", dimF, q, "qv", 12)
      .collect().map(_.getLong(0)).toSet
    got shouldBe clean
  }

  test("signature ranking: shortlist selection stays TakeOrderedAndProject at the cap", Slow) {
    // 70k rows push 0.15n past the cap (just under Spark's
    // topKSortFallbackThreshold); the shortlist limit must still plan
    // as a bounded per-partition heap — one row more and Spark swaps
    // in a FULL global sort of the corpus (planner comparison is
    // limit < threshold), the corpus-wide shuffle the ranking design
    // exists to avoid
    val dimS = 8
    val big = spark.range(70000).select(col("id").as("vec_id"),
      expr(s"transform(sequence(0, ${dimS - 1}), " +
        "x -> cast(pmod(hash(id, x), 97) - 48 as float))").as("embedding"))
    val q = big.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
    val df = Ann.lshTopK(big, "vec_id", "embedding", dimS, q, "qv", 10)
    val p = df.queryExecution.executedPlan.toString
    p should include("TakeOrderedAndProject")
    // and it executes: k rows back, self among them at sim 1.0
    val got = df.collect().map(r => r.getLong(0) -> r.getDouble(1))
    got.length shouldBe 10
    got.find(_._1 == 0L).map(_._2).getOrElse(0.0) shouldBe 1.0 +- 1e-6
    // recall in the CAPPED regime (shortlist 9999 of 70k = 14%): the
    // 504-bit sketches must still put the true top-10 inside the
    // Hamming shortlist — the cap claim is about plan shape AND recall
    val exact = Ann.bruteForceTopK(big, "vec_id", "embedding", q, "qv", 10)
      .collect().map(_.getLong(0)).toSet
    (exact & got.map(_._1).toSet).size should be >= 9
  }

  test("IVF index appends: batch-keyed idempotent growth, compaction preserves probes", Slow) {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val all = graft.queries.PlantedFixtures.embs(spark)
    val dimF = graft.queries.PlantedFixtures.EmbFixtureDim
    val idx = graft.TempDirs.path("ann-index/append")
    // build WITHOUT the colinear twins 1/2; append them in two batches
    Ann.buildIvfIndex(all.filter(!col("vec_id").isin(1L, 2L)),
      "vec_id", "embedding", dimF, nCells = 3, outPath = idx)
    Ann.appendToIvfIndex(all.filter(col("vec_id") === 1L),
      "vec_id", "embedding", idx, batchId = Some(0L))
    Ann.appendToIvfIndex(all.filter(col("vec_id") === 2L),
      "vec_id", "embedding", idx, batchId = Some(1L))
    def rowCount = spark.read.parquet(s"$idx/vectors").count()
    rowCount shouldBe 12L
    // at-least-once retry of batch 1 = REPLACE, not a second copy
    Ann.appendToIvfIndex(all.filter(col("vec_id") === 2L),
      "vec_id", "embedding", idx, batchId = Some(1L))
    rowCount shouldBe 12L
    // the appended colinear vectors are immediately searchable at their
    // true sims (assigned to 0's cell — centroids are immutable, so a
    // scalar multiple of 0 lands exactly where 0 did)
    val qv = all.filter(col("vec_id") === 0).select(col("embedding"))
      .collect()(0).getSeq[Float](0).map(_.toDouble).toSeq
    def top3 = Ann.searchIvfIndex(spark, idx, "vec_id", "embedding", qv,
        k = 3, nProbe = 2)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val before = top3
    before.map(_._1).toSet shouldBe Set(0L, 1L, 2L)
    before.foreach { case (_, s) => s shouldBe 1.0 +- 1e-9 }
    // compaction folds the batches and restores one-file-per-cell;
    // cells and centroids untouched → probe results identical
    Ann.compactIvfIndex(spark, idx)
    spark.read.parquet(s"$idx/vectors")
      .select(col("batch_id").cast("long")).distinct()
      .collect().map(_.getLong(0)).toSeq shouldBe Seq(-1L)
    rowCount shouldBe 12L
    top3 shouldBe before
    new java.io.File(s"$idx/vectors/batch_id=-1").listFiles
      .filter(f => f.isDirectory && f.getName.startsWith("_cell="))
      .foreach(d => d.listFiles.count(_.getName.endsWith(".parquet")) shouldBe 1)
    // appending to a marker-less (mid-rebuild) index fails loudly
    new java.io.File(s"$idx/_index.json").delete() shouldBe true
    intercept[IllegalStateException] {
      Ann.appendToIvfIndex(all.filter(col("vec_id") === 1L),
        "vec_id", "embedding", idx, batchId = Some(9L))
    }
  }

  test("IVF drift maintenance: skewing appends degrade nProbe recall, retrain restores it", Slow) {
    import spark.implicits._
    val dimS = 4
    def v(xs: Double*): Seq[Float] = xs.map(_.toFloat)
    // four tight axis clusters, one per cell: the id-stride init seeds
    // one member of each, so the trained centroids ARE the clusters
    val base = (0 until 4).flatMap { c =>
      (0 until 8).map { t =>
        val e = Array.fill(dimS)(0.0); e(c) = 1.0; e((c + 1) % 4) = 0.03 * t
        ((c * 8 + t).toLong, v(e.toSeq: _*))
      }
    }.toDF("vec_id", "embedding")
    val idx = TempDirs.path(s"ann-drift-${java.util.UUID.randomUUID()}")
    Ann.buildIvfIndex(base, "vec_id", "embedding", dimS, nCells = 4,
      outPath = idx, iters = 3)
    val imbalance0 = Ann.ivfCellImbalance(spark, idx)
    // DRIFT: a new 12-vector cluster on the e1/e2 BISECTOR — frozen
    // centroids split it across the two stale cells (the ±0.08 jitter
    // straddles the assignment boundary ≈ −0.039 that centroid 0's
    // jitter-axis component shifts off center), so a 1-probe query
    // sees only part of its true neighborhood
    val s2 = 1.0 / math.sqrt(2)
    val drift = (0 until 12).map { t =>
      val j = 0.08 * ((t % 3) - 1)
      (100L + t, v(s2 + j, s2 - j, 0.0, 0.0))
    }.toDF("vec_id", "embedding")
    Ann.appendToIvfIndex(drift, "vec_id", "embedding", idx,
      batchId = Some(1L))
    val q = Seq(s2, s2, 0.0, 0.0)
    // exact top-12 = the drift cluster BY CONSTRUCTION: its cosines to
    // q are ≥ 0.997 while the best base member reads ≈ 0.84 — no float
    // ties to adjudicate
    val driftIds = (100L until 112L).toSet
    def recallAt1: Double = {
      val got = Ann.searchIvfIndex(spark, idx, "vec_id", "embedding", q,
        k = 12, nProbe = 1).select("vec_id").collect().map(_.getLong(0)).toSet
      (driftIds & got).size.toDouble / 12
    }
    val degraded = recallAt1
    degraded should be < 0.8 // the drifted cluster straddles two cells
    val imbalanceDrifted = Ann.ivfCellImbalance(spark, idx)
    imbalanceDrifted should be > imbalance0
    // maintenance: retrain from the index's own rows, atomic swap
    Ann.maintainIvfIndex(spark, idx, "vec_id", "embedding", iters = 3)
    recallAt1 shouldBe 1.0 // the drift cluster owns a cell now
    // occupancy never worsens (five natural clusters in four cells
    // legitimately keep one doubled cell — the RECALL restore above is
    // the pinned deliverable, the gauge is the trigger signal)
    Ann.ivfCellImbalance(spark, idx) should be <= imbalanceDrifted
    graft.operators.Dedup.readIndexParams(spark, idx)("retrain_version") shouldBe 1L
    // a second maintenance bumps the version again (monotone registry)
    Ann.maintainIvfIndex(spark, idx, "vec_id", "embedding", iters = 2)
    graft.operators.Dedup.readIndexParams(spark, idx)("retrain_version") shouldBe 2L
    // IVF-PQ indexes refuse the plain path: codes derive from centroids
    val pqIdx = TempDirs.path(s"ann-drift-pq-${java.util.UUID.randomUUID()}")
    Ann.buildIvfPqIndex(graft.queries.PlantedFixtures.pqVectors(spark),
      "vec_id", "embedding", graft.queries.PlantedFixtures.PqFixtureDim,
      nCells = 2, m = 2, kCodes = 4, outPath = pqIdx, iters = 2,
      lloydIters = 2, residual = true)
    intercept[IllegalArgumentException] {
      Ann.maintainIvfIndex(spark, pqIdx, "vec_id", "embedding")
    }
    // ...and maintain through the PQ path instead: cells, residual
    // codebooks and codes retrain together from the index's own rows,
    // the version bumps, and a full-probe covered search still equals
    // the lossless fixture contract (ann14's oracle shape)
    def pqTop = Ann.searchIvfPqIndex(spark, pqIdx, "vec_id", "embedding",
        Seq(1.0, 0.0, 5.0, 0.0), 8, nProbe = 2, shortlist = 16)
      .collect().map(r => (r.getLong(0), math.rint(r.getDouble(1) * 1e4)))
      .toSeq
    val before = pqTop
    Ann.maintainIvfPqIndex(spark, pqIdx, "vec_id", "embedding",
      iters = 2, lloydIters = 2)
    graft.operators.Dedup.readIndexParams(spark, pqIdx)("retrain_version") shouldBe 1L
    graft.operators.Dedup.readIndexParams(spark, pqIdx)("pq_residual") shouldBe 1L
    pqTop shouldBe before // full-probe covered search: exact before and after
  }

  test("IVF-PQ index: partition + column pruning compose; appends carry codes; plain append rejected", Slow) {
    import org.apache.spark.sql.functions.col
    val fix = graft.queries.PlantedFixtures.pqVectors(spark)
    val dimF = graft.queries.PlantedFixtures.PqFixtureDim
    val idx = graft.TempDirs.path("ivfpq-index/spec")
    Ann.buildIvfPqIndex(fix.filter(col("vec_id") < 12), "vec_id", "embedding",
      dimF, nCells = 2, m = 2, kCodes = 4, outPath = idx,
      iters = 2, lloydIters = 2)
    // appends go through the PQ-aware path (codes from the index's own
    // persisted spec); the code-less append is rejected loudly
    Ann.appendToIvfPqIndex(fix.filter(col("vec_id") >= 12),
      "vec_id", "embedding", idx, batchId = Some(0L))
    intercept[IllegalArgumentException] {
      Ann.appendToIvfIndex(fix.filter(col("vec_id") >= 12),
        "vec_id", "embedding", idx)
    }
    val q = Seq(1.0, 0.0, 5.0, 0.0)
    // full probe + full shortlist: rerank is exact cosine over ALL rows
    // (build + append) — brute-force parity
    val got = Ann.searchIvfPqIndex(spark, idx, "vec_id", "embedding", q, 5,
        nProbe = 2, shortlist = 16)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    val brute = Ann.bruteForceTopK(fix, "vec_id", "embedding",
        fix.filter(col("vec_id") === 0).select(col("embedding").as("qv")),
        "qv", 5)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    got.map(_._1).toSeq shouldBe brute.map(_._1).toSeq
    got.zip(brute).foreach { case ((_, g), (_, b)) => g shouldBe b +- 1e-6 }
    // PARTITION pruning: at nProbe = 1 every file scan carries the
    // `_cell IN (probe)` PARTITION filter (inputFiles would lie — it
    // reports the relation pre-pruning; the scan metadata doesn't)
    val pruned = Ann.searchIvfPqIndex(spark, idx, "vec_id", "embedding", q, 3,
      nProbe = 1, shortlist = 8)
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case s: QueryStageExec => scans(s.plan)
      case f: FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(scans)
    }
    pruned.collect() // materialize so AQE finalizes the scans
    val ss = scans(pruned.queryExecution.executedPlan)
    ss should not be empty
    ss.foreach(_.metadata("PartitionFilters") should include("_cell"))
    // COLUMN pruning: the ADC ranking scan reads pq_code WITHOUT the
    // float vector (only the rerank's scan touches it)
    ss.map(_.metadata("ReadSchema")).exists(r =>
      r.contains("pq_code") && !r.contains("embedding")) shouldBe true
  }

  test("IVF-PQ batch search matches the single-query path per query", Slow) {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val fix = graft.queries.PlantedFixtures.pqVectors(spark)
    val dimF = graft.queries.PlantedFixtures.PqFixtureDim
    val idx = graft.TempDirs.path("ivfpq-index/batch")
    Ann.buildIvfPqIndex(fix, "vec_id", "embedding", dimF, nCells = 2,
      m = 2, kCodes = 4, outPath = idx, iters = 2, lloydIters = 2)
    val qids = Seq(0L, 5L, 10L)
    val q = fix.filter(col("vec_id").isin(qids: _*))
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val batch = Ann.searchIvfPqIndexBatch(spark, idx, "vec_id", "embedding",
        q, "qid", "qv", 5, nProbe = 2, shortlist = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    for (qid <- qids) {
      val qv = fix.filter(col("vec_id") === qid)
        .select(col("embedding").cast("array<double>"))
        .head().getSeq[Double](0).toSeq
      val single = Ann.searchIvfPqIndex(spark, idx, "vec_id", "embedding",
          qv, 5, nProbe = 2, shortlist = 16)
        .collect().map(r => (qid, r.getLong(0), r.getDouble(1))).toSet
      batch.filter(_._1 == qid).toSet shouldBe single
    }
  }

  test("IVF-PQ: an oversized caller shortlist is capped under the sort fallback", Slow) {
    import org.apache.spark.sql.functions.col
    val fix = graft.queries.PlantedFixtures.pqVectors(spark)
    val dimF = graft.queries.PlantedFixtures.PqFixtureDim
    val idx = graft.TempDirs.path("ivfpq-index/cap")
    Ann.buildIvfPqIndex(fix, "vec_id", "embedding", dimF, nCells = 2,
      m = 2, kCodes = 4, outPath = idx, iters = 2, lloydIters = 2)
    val q = Seq(1.0, 0.0, 5.0, 0.0)
    // shortlist == topKSortFallbackThreshold (default 10000): uncapped,
    // the ADC ranking's orderBy().limit() would plan a FULL global sort
    // (range exchange) of the scored cells; the cap keeps it a bounded
    // TakeOrderedAndProject heap
    val thr = org.apache.spark.sql.internal.SQLConf.get.topKSortFallbackThreshold
    val df = Ann.searchIvfPqIndex(spark, idx, "vec_id", "embedding", q,
      k = 5, nProbe = 2, shortlist = thr)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    p should include("TakeOrderedAndProject")
    p.toLowerCase should not include "rangepartitioning"
    // results unchanged vs the in-cap full-cover shortlist
    val got = df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val ref = Ann.searchIvfPqIndex(spark, idx, "vec_id", "embedding", q,
        k = 5, nProbe = 2, shortlist = 16)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    got.map(_._1) shouldBe ref.map(_._1)
    // the batch twin accepts the same oversized value (TopKByScore heap
    // size is bounded by the same cap) and still matches per query
    import spark.implicits._
    val qdf = fix.filter(col("vec_id") === 0L)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val batch = Ann.searchIvfPqIndexBatch(spark, idx, "vec_id", "embedding",
        qdf, "qid", "qv", 5, nProbe = 2, shortlist = thr)
      .collect().map(r => (r.getLong(1), r.getDouble(2))).toSeq
    batch.map(_._1).toSet shouldBe ref.map(_._1).toSet // batch orders by id
  }

  test("residual IVF-PQ: ADC-only recall beats raw codes on clustered data; rerank parity; appends carry residuals", Slow) {
    import org.apache.spark.sql.functions.col
    val fix = graft.queries.PlantedFixtures.residualClusters(spark)
    val dimF = graft.queries.PlantedFixtures.ResidualFixtureDim
    val rawIdx = graft.TempDirs.path("ivfpq-index/res-raw")
    val resIdx = graft.TempDirs.path("ivfpq-index/res-res")
    Ann.buildIvfPqIndex(fix, "vec_id", "embedding", dimF, nCells = 4,
      m = 2, kCodes = 4, outPath = rawIdx, iters = 3, lloydIters = 3)
    Ann.buildIvfPqIndex(fix, "vec_id", "embedding", dimF, nCells = 4,
      m = 2, kCodes = 4, outPath = resIdx, iters = 3, lloydIters = 3,
      residual = true)
    def qvOf(qid: Long): Seq[Double] = fix.filter(col("vec_id") === qid)
      .select(col("embedding").cast("array<double>"))
      .head().getSeq[Double](0).toSeq
    def truthOf(qid: Long): Set[Long] = Ann.bruteForceTopK(fix, "vec_id",
        "embedding", fix.filter(col("vec_id") === qid)
          .select(col("embedding").as("qv")), "qv", 7)
      .collect().map(_.getLong(0)).toSet
    // shortlist = k makes the returned SET exactly ADC's top-7 (the
    // rerank can only reorder it) — the ADC-only ranking quality, with
    // every cell probed so cell pruning is not a factor. k=7 sits on a
    // tie-group boundary of the fixture (self + 3 own-cluster + 3
    // cross-cluster offset-matches), so the truth set is deterministic.
    def adcRecall(idx: String): Double =
      (0L until 16L).map { qid =>
        val got = Ann.searchIvfPqIndex(spark, idx, "vec_id", "embedding",
            qvOf(qid), 7, nProbe = 4, shortlist = 7)
          .collect().map(_.getLong(0)).toSet
        (truthOf(qid) & got).size / 7.0
      }.sum / 16.0
    val raw = adcRecall(rawIdx)
    val res = adcRecall(resIdx)
    withClue(s"raw=$raw res=$res: ") {
      // residual codes are LOSSLESS on this fixture (scaladoc): the
      // reconstruction is the vector itself, ADC = true cosine
      res shouldBe 1.0 +- 1e-9
      // raw codes spend subspace-0 entries on cluster placement —
      // offset ranking degrades (measured 0.80 on this fixture)
      raw should be < 0.9
      res should be > raw
    }
    // rerank parity: a generous shortlist restores exact top-k on BOTH
    val g = Ann.searchIvfPqIndex(spark, resIdx, "vec_id", "embedding",
        qvOf(0L), 7, nProbe = 4, shortlist = 16)
      .collect().map(_.getLong(0)).toSet
    g shouldBe truthOf(0L)
    // appends to a residual index re-encode through the residual path:
    // rebuild without cluster 3, append it, search finds its members
    val resIdx2 = graft.TempDirs.path("ivfpq-index/res-append")
    Ann.buildIvfPqIndex(fix.filter(col("vec_id") < 12), "vec_id",
      "embedding", dimF, nCells = 3, m = 2, kCodes = 4, outPath = resIdx2,
      iters = 3, lloydIters = 3, residual = true)
    Ann.appendToIvfPqIndex(fix.filter(col("vec_id") >= 12), "vec_id",
      "embedding", resIdx2, batchId = Some(0L))
    val back = Ann.searchIvfPqIndex(spark, resIdx2, "vec_id", "embedding",
        qvOf(12L), 4, nProbe = 3, shortlist = 16)
      .collect().map(_.getLong(0))
    back should contain(12L)
    // batch twin reconstructs cent + r̂ in-plan: per-query parity with
    // the single path on the residual index
    import spark.implicits._
    val qdf = fix.filter(col("vec_id").isin(0L, 5L))
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val batch = Ann.searchIvfPqIndexBatch(spark, resIdx, "vec_id",
        "embedding", qdf, "qid", "qv", 5, nProbe = 4, shortlist = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
    for (qid <- Seq(0L, 5L)) {
      val single = Ann.searchIvfPqIndex(spark, resIdx, "vec_id",
          "embedding", qvOf(qid), 5, nProbe = 4, shortlist = 16)
        .collect().map(_.getLong(0)).toSet
      batch(qid).map(_._2).toSet shouldBe single
    }
  }

  test("OPQ-rotated residual IVF-PQ: rotation lifts ADC-only recall on the " +
      "anisotropic grid; rerank parity; appends and batch go through the rotation", Slow) {
    import org.apache.spark.sql.functions.col
    val fix = graft.queries.PlantedFixtures.anisotropicGrid(spark)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val dimF = graft.queries.PlantedFixtures.AnisotropicGridDim
    def qvOf(qid: Long): Seq[Double] = fix.filter(col("vec_id") === qid)
      .select(col("embedding").cast("array<double>"))
      .head().getSeq[Double](0).toSeq
    def truthOf(qid: Long): Set[Long] = Ann.bruteForceTopK(fix, "vec_id",
        "embedding", fix.filter(col("vec_id") === qid)
          .select(col("embedding").as("qv")), "qv", 10)
      .collect().map(_.getLong(0)).toSet
    val resIdx = graft.TempDirs.path("ivfpq-index/grid-res")
    val opqIdx = graft.TempDirs.path("ivfpq-index/grid-opq")
    Ann.buildIvfPqIndex(fix, "vec_id", "embedding", dimF, nCells = 2,
      m = 2, kCodes = 16, outPath = resIdx, iters = 3, lloydIters = 4,
      residual = true)
    Ann.buildIvfPqIndex(fix, "vec_id", "embedding", dimF, nCells = 2,
      m = 2, kCodes = 16, outPath = opqIdx, iters = 3, lloydIters = 4,
      residual = true, rotate = true)
    // shortlist = k isolates the RANKING pass (rerank can only
    // reorder); both cells probed, so the score is pure code quality.
    // Axis-aligned residual codes must describe the correlated 2-D
    // grid; the rotation separates it into two 1-D 8-level axes.
    def adcRecall(idx: String): Double = {
      val qids = Seq(9L, 18L, 27L, 36L, 45L, 54L)
      qids.map { qid =>
        val got = Ann.searchIvfPqIndex(spark, idx, "vec_id", "embedding",
            qvOf(qid), 10, nProbe = 2, shortlist = 10)
          .collect().map(_.getLong(0)).toSet
        (truthOf(qid) & got).size / 10.0
      }.sum / qids.size
    }
    val res = adcRecall(resIdx)
    val opq = adcRecall(opqIdx)
    withClue(s"res=$res opq=$opq: ") {
      opq should be >= res
      opq should be >= 0.8
    }
    // rerank parity: generous shortlist restores exact top-k — the
    // raw-float rerank against the UNROTATED query is exact because
    // the orthogonal R preserves cosine
    Ann.searchIvfPqIndex(spark, opqIdx, "vec_id", "embedding",
        qvOf(27L), 10, nProbe = 2, shortlist = 64)
      .collect().map(_.getLong(0)).toSet shouldBe truthOf(27L)
    // appends re-encode through the PERSISTED rotation (params +
    // opqspec round trip): withhold a corner, append it, find it
    val appIdx = graft.TempDirs.path("ivfpq-index/grid-opq-append")
    Ann.buildIvfPqIndex(fix.filter(col("vec_id") =!= 63L), "vec_id",
      "embedding", dimF, nCells = 2, m = 2, kCodes = 16, outPath = appIdx,
      iters = 3, lloydIters = 4, residual = true, rotate = true)
    Ann.appendToIvfPqIndex(fix.filter(col("vec_id") === 63L), "vec_id",
      "embedding", appIdx, batchId = Some(0L))
    Ann.searchIvfPqIndex(spark, appIdx, "vec_id", "embedding",
        qvOf(63L), 3, nProbe = 2, shortlist = 64)
      .collect().map(_.getLong(0)) should contain(63L)
    // batch twin rotates queries IN-PLAN: per-query parity with the
    // single path on the rotated index
    import spark.implicits._
    val qdf = fix.filter(col("vec_id").isin(9L, 54L))
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val batch = Ann.searchIvfPqIndexBatch(spark, opqIdx, "vec_id",
        "embedding", qdf, "qid", "qv", 5, nProbe = 2, shortlist = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
    for (qid <- Seq(9L, 54L)) {
      val single = Ann.searchIvfPqIndex(spark, opqIdx, "vec_id",
          "embedding", qvOf(qid), 5, nProbe = 2, shortlist = 64)
        .collect().map(_.getLong(0)).toSet
      batch(qid).map(_._2).toSet shouldBe single
    }
    fix.unpersist(blocking = false)
  }

  test("graft_cosine / graft_hyperplane_sig are SQL-callable") {
    import spark.implicits._
    Seq((Seq(3.0f, 4.0f), Seq(6.0f, 8.0f))).toDF("a", "b")
      .createOrReplaceTempView("graft_vec_test")
    val r = spark.sql(
      "SELECT graft_cosine(a, b) AS c, graft_hyperplane_sig(a, 4, 2) AS s FROM graft_vec_test")
      .collect()(0)
    r.getDouble(0) shouldBe 1.0 +- 1e-12
    val dsl = Seq(Seq(3.0f, 4.0f)).toDF("a")
      .select(V.hyperplaneSignatureNative(col("a"), 4, 2).as("s"))
      .collect()(0).getLong(0)
    r.getLong(1) shouldBe dsl
  }

  test("cosine/dot/norm building blocks") {
    import spark.implicits._
    val df = Seq((Seq(1.0f, 0.0f), Seq(0.0f, 1.0f)),
      (Seq(1.0f, 1.0f), Seq(1.0f, 1.0f)),
      (Seq(3.0f, 4.0f), Seq(3.0f, 4.0f))).toDF("a", "b")
      .select(V.dot(col("a"), col("b")).as("dot"),
        V.norm(col("a")).as("na"),
        V.cosineSimilarity(col("a"), col("b")).as("cos"))
      .collect()
    df(0).getDouble(0) shouldBe 0.0 +- 1e-9
    df(0).getDouble(2) shouldBe 0.0 +- 1e-9
    df(1).getDouble(2) shouldBe 1.0 +- 1e-9
    df(2).getDouble(1) shouldBe 5.0 +- 1e-9
  }
}
