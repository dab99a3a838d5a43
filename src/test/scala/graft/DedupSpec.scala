package graft

import org.apache.spark.sql.functions._
import graft.operators.Dedup
import graft.functions.{TextFunctions => T}

/** Dedup operator tests on planted fixtures: exact-dup counting,
  * MinHash-LSH recall against exact Jaccard ground truth, SimHash
  * near-dup detection. These are the oracle-less operators' correctness
  * gate (PipelineQueries scaladoc).
  */
class DedupSpec extends SparkSpec {

  private val base =
    "the quick brown fox jumps over the lazy dog while the cat sleeps " +
      "in the warm sun near the old stone wall by the river bank today"

  /** Corpus: 3 exact-dup groups, 4 near-dup pairs (1-2 word edits), and
    * unrelated filler docs. */
  private lazy val corpus = {
    import spark.implicits._
    val nearDup = base.replace("today", "tonight")
    val nearDup2 = base.replace("quick", "fast").replace("lazy", "idle")
    val far = "completely different text about spark catalyst optimizer " +
      "rules and tungsten codegen with whole stage compilation for joins"
    val farDup = far.replace("joins", "aggregations")
    val filler = (0 until 30).map(i =>
      s"unique filler document number $i with some entirely distinct words " +
        s"alpha$i beta$i gamma$i delta$i epsilon$i zeta$i eta$i theta$i")
    (Seq(
      1L -> base, 2L -> base, // exact dup
      3L -> nearDup, 4L -> nearDup2, // near dups of base
      5L -> far, 6L -> farDup, // near-dup pair
      7L -> (base + " "), 8L -> base.toUpperCase // normalize-equal dups
    ) ++ filler.zipWithIndex.map { case (t, i) => (100L + i) -> t })
      .toDF("doc_id", "text")
  }

  test("exact dedup counts normalize-equal docs as dups") {
    val r = Dedup.exactStats(corpus, col("text")).collect()(0)
    r.getAs[Long]("n_docs") shouldBe 38
    // {1,2,7,8} normalize to one text → 3 dups
    r.getAs[Long]("n_dups") shouldBe 3
    val kept = Dedup.dropExactDups(corpus, "doc_id", col("text"))
    kept.count() shouldBe 35
    // min-id representative survives
    kept.filter(col("doc_id") === 1).count() shouldBe 1
    kept.filter(col("doc_id").isin(2, 7, 8)).count() shouldBe 0
  }

  test("keepBestExact: the HIGHEST-quality cluster member survives, " +
    "ties to min id; the plan is an argmax aggregate, not a window") {
    val session = spark
    import session.implicits._
    val d = Seq(
      (1L, "The Quick Fox", 9L), (2L, "the  quick   fox", 12L), // cluster: 2 wins on quality
      (3L, "entirely different", 5L),
      (4L, "tie text", 7L), (5L, "tie  TEXT", 7L))              // tie: min id 4 wins
      .toDF("doc_id", "text", "q")
    val kept = Dedup.keepBestExact(d, "doc_id", col("text"), col("q"))
    kept.select("doc_id").as[Long].collect().sorted shouldBe
      Array(2L, 3L, 4L)
    val p = kept.queryExecution.executedPlan.toString
    p should not include "Window"
    // struct-max lowers to SortAggregate WITH a map-side partial_max —
    // only (hash, quality, id) triples cross the shuffle
    p should include("SortAggregate")
    p should include("partial_max")
  }

  test("MinHash-LSH finds every true near-dup pair (recall vs exact Jaccard)") {
    // ground truth: all-pairs exact Jaccard (fine at test scale)
    val sh = corpus.select(col("doc_id").as("gid"),
      Dedup.shingles(col("text"), 3).as("gsh"))
    val truth = sh.as("a").join(sh.as("b"), col("a.gid") < col("b.gid"))
      .withColumn("j", Dedup.jaccard(col("a.gsh"), col("b.gsh")))
      .filter(col("j") >= 0.5)
      .select(col("a.gid").as("id1"), col("b.gid").as("id2"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    truth should not be empty // the fixture plants real near-dups

    val found = Dedup.minhashNearDups(corpus, "doc_id", "text", threshold = 0.5)
      .select("id1", "id2")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    // verification step uses exact Jaccard → no false positives possible
    found.subsetOf(truth) shouldBe true
    // banded LSH (64 hashes / 16 bands) catches everything at j>=0.5
    // on this fixture; recall is the whole point of the banding choice
    found shouldBe truth
  }

  test("SimHash: identical docs collide; near-dups within hamming 3; far docs beyond") {
    import spark.implicits._
    val sigs = corpus.select(col("doc_id"), Dedup.simhash(col("text")).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    sigs(1L) shouldBe sigs(2L) // identical text → identical fingerprint
    java.lang.Long.bitCount(sigs(1L) ^ sigs(3L)) should be <= 3 // one-word edit
    java.lang.Long.bitCount(sigs(1L) ^ sigs(5L)) should be > 8  // unrelated
    val pairs = Dedup.simhashNearDups(corpus, "doc_id", "text", maxHamming = 3)
      .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    pairs should contain((1L, 2L))
    pairs should contain((1L, 3L))
    pairs.exists { case (a, b) => (a <= 8 && b >= 100) } shouldBe false // no cross-cluster junk
  }

  test("columnar signatures equal the array-fold reference forms value-for-value") {
    // MinHash: wide h0..h7 columns == fold-form sig array elements
    val n = 8
    val wide = Dedup.minhashSignatureWide(corpus, "doc_id", col("text"), 3, n)
    val fold = corpus.select(col("doc_id").as("doc"),
      Dedup.minhashSignature(Dedup.shingles(col("text"), 3), n).as("sig"))
    val mismatch = wide.join(fold, "doc")
      .filter((0 until n).map(i => col(s"h$i") =!= element_at(col("sig"), i + 1))
        .reduce(_ || _))
    mismatch.count() shouldBe 0

    // SimHash: wide packed sig == scalar-expression sig
    val wideS = Dedup.simhashWide(corpus, "doc_id", "text")
      .withColumnRenamed("sig", "sig_w")
    val foldS = corpus.select(col("doc_id").as("doc"), Dedup.simhash(col("text")).as("sig_f"))
    wideS.join(foldS, "doc").filter(col("sig_w") =!= col("sig_f")).count() shouldBe 0

    // native one-pass forms == the aggregation forms, draw for draw
    val natM = corpus.select(col("doc_id").as("doc"),
      Dedup.minhashSignatureArray(Dedup.shingles(col("text"), 3), n).as("siga"))
    natM.join(fold, "doc")
      .filter((0 until n).map(i =>
        element_at(col("siga"), i + 1) =!= element_at(col("sig"), i + 1)).reduce(_ || _))
      .count() shouldBe 0
    val natS = Dedup.simhashScalar(corpus, "doc_id", "text")
      .withColumnRenamed("sig", "sig_n")
    natS.join(foldS, "doc").filter(col("sig_n") =!= col("sig_f")).count() shouldBe 0
  }

  test("unrolled vector forms equal the HOF forms value-for-value") {
    import graft.functions.{VectorFunctions => V}
    // real embeddings: signature, dot, cosine must be bit-identical
    val embs = Tables(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding").as("e"))
    val self = embs.select(
      V.hyperplaneSignature(col("e"), 12, 64).as("s_hof"),
      V.hyperplaneSignatureUnrolled(col("e"), 12, 64).as("s_unr"),
      V.hyperplaneSignatureNative(col("e"), 12, 64).as("s_nat"),
      V.dot(col("e"), col("e")).as("d_hof"),
      V.dotUnrolled(col("e"), col("e"), 64).as("d_unr"),
      V.cosineSimilarity(col("e"), col("e")).as("c_hof"),
      V.cosineSimilarityUnrolled(col("e"), col("e"), 64).as("c_unr"),
      V.cosineSimilarityNative(col("e"), col("e")).as("c_nat"))
    self.filter(col("s_hof") =!= col("s_unr") ||
        col("s_hof") =!= col("s_nat") ||
        col("d_hof") =!= col("d_unr") ||
        col("c_hof") =!= col("c_unr") ||
        col("c_hof") =!= col("c_nat"))
      .count() shouldBe 0
    // cross-vector cosine parity too (self-cosine can't see asymmetry)
    val cross = embs.limit(200).crossJoin(
      embs.select(col("e").as("e2")).limit(7))
    cross.filter(V.cosineSimilarity(col("e"), col("e2")) =!=
        V.cosineSimilarityNative(col("e"), col("e2")))
      .count() shouldBe 0
  }

  test("native shingles equal the Column-form spec, edge cases included") {
    import spark.implicits._
    val edge = Seq(
      1L -> "plain three word shingles here",
      2L -> "  leading and trailing  spaces  ",
      3L -> "short doc",          // < k tokens → one whole-text shingle
      4L -> "exactly three words", // == k tokens
      5L -> "",                    // empty → one "" shingle
      6L -> "rep rep rep rep rep", // dedup kicks in
      7L -> "tab\tseparated\ttokens and\nnewlines",
      8L -> "unicode wörter müssen auch gehen ünd zwar exakt")
      .toDF("doc_id", "text")
    val cmp = (edge union corpus)
      .select(Dedup.shingles(col("text"), 3).as("nat"),
        Dedup.shinglesSpec(col("text"), 3).as("spec"))
    cmp.filter(col("nat") =!= col("spec")).count() shouldBe 0
  }

  test("native bucket pairs equal the Column-form spec (order included)") {
    import spark.implicits._
    import org.apache.spark.sql.graftbridge.ColumnBridge
    def native(df: org.apache.spark.sql.DataFrame) =
      df.select(explode(ColumnBridge.column(graft.plans.ArrayPairsExpr(
        ColumnBridge.expression(col("docs"))))).as("_pair"))
    // parity on the sizes the pipeline feeds it (buckets are filtered
    // to >= 2 members; the HOF spec form's sequence(1, n-1) would go
    // DESCENDING below that)
    val buckets = Seq(Seq(1L, 2L, 3L, 4L), Seq(7L, 9L)).toDF("docs")
    native(buckets).collect().map(_.toString).toSeq shouldBe
      Dedup.bucketPairsSpec(buckets, "docs").collect().map(_.toString).toSeq
    // native degrades gracefully on degenerate buckets: no pairs
    native(Seq(Seq(5L), Seq.empty[Long]).toDF("docs")).count() shouldBe 0
    // struct elements survive the defensive copy
    val sb = Seq(Seq((1L, 10L), (2L, 20L), (3L, 30L))).toDF("ds")
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val pairs = sb.select(explode(ColumnBridge.column(graft.plans.ArrayPairsExpr(
      ColumnBridge.expression(col("ds"))))).as("_pair"))
      .select(col("_pair")(0).getField("_1").as("a"), col("_pair")(1).getField("_1").as("b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    pairs shouldBe Seq((1L, 2L), (1L, 3L), (2L, 3L))
  }

  test("lshDropStats reports over-cap buckets instead of losing them silently") {
    import spark.implicits._
    // 10 byte-identical docs: one signature, so EVERY band's bucket
    // holds all 10 — over a cap of 5 they all drop, and the stats row
    // must say exactly that.
    val docs = ((0 until 10).map(i => i.toLong -> base) :+
      (100L -> "a completely unrelated loner document with its own words"))
      .toDF("doc_id", "text")
    Dedup.withMinhashPipeline(docs, "doc_id", "text", maxBucket = 5) { p =>
      val s = p.dropStats.collect()(0)
      s.getAs[Long]("n_dropped_buckets") shouldBe 16
      s.getAs[Long]("n_docs_in_dropped_buckets") shouldBe 10
      s.getAs[Long]("n_dropped_doc_slots") shouldBe 160
      // the capped pass then finds no candidates (the loner has no pair)
      p.scored.count() shouldBe 0L
    }
    // and with a roomy cap the same corpus yields all 45 clone pairs
    Dedup.withMinhashPipeline(docs, "doc_id", "text", maxBucket = 1000) { p =>
      p.scored.filter(col("jaccard") >= 0.99).count() shouldBe 45L
      p.dropStats.collect()(0).getAs[Long]("n_dropped_buckets") shouldBe 0
    }
  }

  test("connected components: chains close transitively, min id labels the cluster") {
    import spark.implicits._
    // chain 10-11-12-13 (diameter 3: needs >1 propagation round),
    // triangle 20-21-22, isolated pair 30-31
    val pairs = Seq((11L, 10L), (11L, 12L), (12L, 13L),
      (20L, 21L), (21L, 22L), (20L, 22L), (30L, 31L))
      .toDF("id1", "id2")
    val comp = Dedup.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    comp shouldBe Map(10L -> 10L, 11L -> 10L, 12L -> 10L, 13L -> 10L,
      20L -> 20L, 21L -> 20L, 22L -> 20L, 30L -> 30L, 31L -> 30L)
  }

  test("connected components: non-convergence at maxIter throws instead of returning split labels") {
    import spark.implicits._
    // a 6-chain has diameter 5: maxIter=2 leaves labels mid-flight, and
    // silently returning them would split the single true cluster
    val chain = (0L until 5L).map(i => (i, i + 1)).toDF("id1", "id2")
    val ex = intercept[IllegalStateException] {
      Dedup.connectedComponents(chain, maxIter = 2).collect()
    }
    ex.getMessage should include("did not converge")
    // with enough rounds the same chain closes to one component
    Dedup.connectedComponents(chain, maxIter = 10)
      .collect().map(_.getLong(1)).toSet shouldBe Set(0L)
  }

  test("connected components: empty pair table converges to empty labels") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Long)].toDF("id1", "id2")
    Dedup.connectedComponents(empty).count() shouldBe 0L
    Dedup.connectedComponentsStar(empty).count() shouldBe 0L
  }

  test("connected components restores session shuffle/AQE conf, even when throwing") {
    import spark.implicits._
    val parts = spark.conf.get("spark.sql.shuffle.partitions")
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    Dedup.connectedComponents(Seq((1L, 2L)).toDF("id1", "id2")).count()
    spark.conf.get("spark.sql.shuffle.partitions") shouldBe parts
    spark.conf.get("spark.sql.adaptive.enabled") shouldBe aqe
    // the non-convergence throw must not leak the loop's conf either
    intercept[IllegalStateException] {
      Dedup.connectedComponents(
        (0L until 30L).map(i => (i, i + 1)).toDF("id1", "id2"), maxIter = 2)
    }
    spark.conf.get("spark.sql.shuffle.partitions") shouldBe parts
    spark.conf.get("spark.sql.adaptive.enabled") shouldBe aqe
    Dedup.connectedComponentsStar(Seq((1L, 2L)).toDF("id1", "id2")).count()
    spark.conf.get("spark.sql.shuffle.partitions") shouldBe parts
    spark.conf.get("spark.sql.adaptive.enabled") shouldBe aqe
  }

  test("large-star/small-star closes a deep chain min-label propagation cannot") {
    import spark.implicits._
    // a 401-node chain (diameter 400): min-label would need ~130+
    // rounds even with the shortcut; the star alternation is O(log n).
    // smallGraphBound = 0 pins the DISTRIBUTED alternation — the
    // union-find fast path would otherwise absorb a 400-edge graph.
    val chain = (0L until 400L).map(i => (i, i + 1)).toDF("id1", "id2")
    val comp = Dedup.connectedComponentsStar(chain, smallGraphBound = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    comp.length shouldBe 401
    comp.map(_._2).toSet shouldBe Set(0L)
    // the small-graph union-find path must produce the identical labels
    val small = Dedup.connectedComponentsStar(chain)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    small.toMap shouldBe comp.toMap
  }

  test("large-star/small-star matches min-label propagation on a mixed graph") {
    import spark.implicits._
    // chains, a triangle, an isolated pair, a SELF-pair (a node that
    // appears nowhere else — both algorithms must still label it), plus
    // pseudo-random extra edges (deterministic arithmetic, duplicates
    // and both orders included) — identical label maps required
    val base = Seq((11L, 10L), (11L, 12L), (12L, 13L),
      (20L, 21L), (21L, 22L), (20L, 22L), (30L, 31L), (40L, 40L))
    val rand = (0 until 60).map { i =>
      val a = (i * 37 + 11) % 40 + 100L
      val b = (i * 53 + 29) % 40 + 100L
      (a, b)
    }.filter { case (a, b) => a != b }
    val pairs = (base ++ rand ++ rand.map(_.swap)).toDF("id1", "id2")
    def labelMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val minLabel = labelMap(Dedup.connectedComponents(pairs))
    // both star paths — the union-find fast path (default bound) and
    // the forced distributed alternation — must match min-label exactly
    labelMap(Dedup.connectedComponentsStar(pairs)) shouldBe minLabel
    labelMap(Dedup.connectedComponentsStar(pairs, smallGraphBound = 0L)) shouldBe minLabel
  }

  test("multi-table LSH with one table matches the single-table path (verify-order parity)") {
    val embs = graft.queries.PlantedFixtures.embs(spark)
    val dim = graft.queries.PlantedFixtures.EmbFixtureDim
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // tables=1 uses seed 42+0 = the single-table default draw, so the
    // distinct-keys-then-verify rewrite must reproduce the
    // verify-then-distinct path exactly: same pairs, same cosines
    rows(Dedup.embeddingNearDupsMulti(embs, "vec_id", "embedding", dim,
      threshold = 0.95, bits = 4, tables = 1)) shouldBe
      rows(Dedup.embeddingNearDups(embs, "vec_id", "embedding", dim,
        threshold = 0.95, bits = 4))
  }

  test("incremental index dedup equals the cross-restriction of the batch pass") {
    val all = graft.queries.PlantedFixtures.docs(spark)
    val incomingIds = Set(2L, 3L, 5L, 7L, 8L)
    val idx = graft.TempDirs.path("minhash-index/spec")
    import org.apache.spark.sql.functions.col
    Dedup.buildMinhashIndex(
      all.filter(!col("doc_id").isin(incomingIds.toSeq: _*)), "doc_id", "text", idx)
    val incremental = Dedup.minhashNearDupsAgainstIndex(
        all.filter(col("doc_id").isin(incomingIds.toSeq: _*)), "doc_id", "text",
        idx, threshold = 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // ground truth: the batch pass over the FULL corpus, restricted to
    // pairs with one side incoming and one side indexed
    val batchCross = Dedup.minhashNearDups(all, "doc_id", "text", threshold = 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .flatMap { case (a, b, j) =>
        if (incomingIds(a) && !incomingIds(b)) Some((a, b, j))
        else if (incomingIds(b) && !incomingIds(a)) Some((b, a, j))
        else None
      }.toSet
    incremental shouldBe batchCross
    // drop accounting persisted beside the index
    spark.read.parquet(s"$idx/drop_stats").count() shouldBe 1L
  }

  test("incremental embedding dedup equals the cross-restriction of the multi-table pass") {
    import org.apache.spark.sql.functions.col
    val all = graft.queries.PlantedFixtures.embs(spark)
    val dim = graft.queries.PlantedFixtures.EmbFixtureDim
    val incomingIds = Set(1L, 2L, 4L)
    val idx = graft.TempDirs.path("embedding-index/spec")
    Dedup.buildEmbeddingIndex(
      all.filter(!col("vec_id").isin(incomingIds.toSeq: _*)), "vec_id",
      "embedding", dim, idx, bits = 4, tables = 12)
    val incremental = Dedup.embeddingNearDupsAgainstIndex(
        all.filter(col("vec_id").isin(incomingIds.toSeq: _*)), "vec_id",
        "embedding", dim, idx, threshold = 0.95, bits = 4, tables = 12)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val batchCross = Dedup.embeddingNearDupsMulti(all, "vec_id", "embedding", dim,
        threshold = 0.95, bits = 4, tables = 12)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .flatMap { case (a, b, c) =>
        if (incomingIds(a) && !incomingIds(b)) Some((a, b, c))
        else if (incomingIds(b) && !incomingIds(a)) Some((b, a, c))
        else None
      }.toSet
    incremental shouldBe batchCross
  }

  test("ingest loop: appended survivors are visible to the next batch's probe") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val idx = graft.TempDirs.path("minhash-index/loop")
    val base = "the quick brown fox jumps over the lazy dog tonight again and again"
    // corpus: one unrelated doc; batch1: a novel doc (no dup → survives)
    Dedup.buildMinhashIndex(
      Seq(1L -> "completely unrelated corpus seed document with its own words")
        .toDF("doc_id", "text"), "doc_id", "text", idx)
    val batch1 = Seq(10L -> base).toDF("doc_id", "text")
    Dedup.minhashNearDupsAgainstIndex(batch1, "doc_id", "text", idx)
      .count() shouldBe 0L
    Dedup.appendToMinhashIndex(batch1, "doc_id", "text", idx)
    // batch2 contains a near-dup of batch1's survivor: the probe must
    // see the APPENDED doc, not just the original build
    val batch2 = Seq(20L -> (base + " extra")).toDF("doc_id", "text")
    val hits = Dedup.minhashNearDupsAgainstIndex(batch2, "doc_id", "text", idx,
        threshold = 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    hits.toSeq shouldBe Seq((20L, 10L))
    // the drop-stats gauge stays live across appends: one row per write
    spark.read.parquet(s"$idx/drop_stats").count() shouldBe 2L
    // probing with knobs that differ from the build must ERROR, never
    // silently return an empty (all-dups-ingested) result
    val ex = intercept[IllegalArgumentException] {
      Dedup.minhashNearDupsAgainstIndex(batch2, "doc_id", "text", idx, bands = 8)
    }
    ex.getMessage should include("built with bands=16")
  }

  test("appendToMinhashIndex with a batchId is idempotent: a retried batch changes nothing", Slow) {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val idx = graft.TempDirs.path("minhash-index/idempotent")
    Dedup.buildMinhashIndex(
      Seq(1L -> "unrelated corpus seed document with entirely distinct words")
        .toDF("doc_id", "text"), "doc_id", "text", idx)
    val batch = Seq(10L -> base, 11L -> "another novel document body with fresh words")
      .toDF("doc_id", "text")
    Dedup.appendToMinhashIndex(batch, "doc_id", "text", idx, batchId = Some(7L))
    def state() = (
      spark.read.parquet(s"$idx/shingles").count(),
      spark.read.parquet(s"$idx/buckets").count(),
      spark.read.parquet(s"$idx/drop_stats").count(),
      spark.read.parquet(s"$idx/drop_stats")
        .agg(sum(col("n_dropped_doc_slots"))).first().getLong(0))
    def probeHits() = Dedup.minhashNearDupsAgainstIndex(
        Seq(20L -> (base + " extra")).toDF("doc_id", "text"), "doc_id", "text", idx)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val before = state()
    val hitsBefore = probeHits()
    hitsBefore shouldBe Set((20L, 10L))
    // the at-least-once retry: SAME batch, SAME id → a replace, not a
    // second copy — index row counts, drop accounting, and probe
    // results are all unchanged
    Dedup.appendToMinhashIndex(batch, "doc_id", "text", idx, batchId = Some(7L))
    state() shouldBe before
    probeHits() shouldBe hitsBefore
  }

  test("replayed batch does not self-match: re-probing after its own append drops nothing", Slow) {
    import spark.implicits._
    val idx = graft.TempDirs.path("minhash-index/replay")
    Dedup.buildMinhashIndex(
      Seq(1L -> "unrelated corpus seed document with entirely distinct words")
        .toDF("doc_id", "text"), "doc_id", "text", idx)
    val batch = Seq(10L -> base).toDF("doc_id", "text")
    Dedup.minhashNearDupsAgainstIndex(batch, "doc_id", "text", idx).count() shouldBe 0L
    Dedup.appendToMinhashIndex(batch, "doc_id", "text", idx, batchId = Some(0L))
    // the crash-between-append-and-sink replay: the batch's own indexed
    // copy (same id) must read as a RETRY, not as a jaccard-1.0 dup
    // that silently drops the whole redelivered batch
    Dedup.minhashNearDupsAgainstIndex(batch, "doc_id", "text", idx).count() shouldBe 0L
    // a genuinely different doc with near-identical content still hits
    Dedup.minhashNearDupsAgainstIndex(
        Seq(99L -> base).toDF("doc_id", "text"), "doc_id", "text", idx)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet shouldBe Set((99L, 10L))
  }

  test("appendToEmbeddingIndex: appended vectors are probe-visible; batchId retry idempotent", Slow) {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val all = graft.queries.PlantedFixtures.embs(spark)
    val dim = graft.queries.PlantedFixtures.EmbFixtureDim
    val idx = graft.TempDirs.path("embedding-index/append")
    // corpus: everything except vectors 1 and 2 (the scalar multiples of 0)
    Dedup.buildEmbeddingIndex(all.filter(!col("vec_id").isin(1L, 2L)),
      "vec_id", "embedding", dim, idx, bits = 4, tables = 12)
    val batch = all.filter(col("vec_id") === 1L)
    Dedup.appendToEmbeddingIndex(batch, "vec_id", "embedding", dim, idx,
      bits = 4, tables = 12, batchId = Some(3L))
    def state() = (
      spark.read.parquet(s"$idx/vectors").count(),
      spark.read.parquet(s"$idx/buckets").count())
    def probe() = Dedup.embeddingNearDupsAgainstIndex(
        all.filter(col("vec_id") === 2L), "vec_id", "embedding", dim, idx,
        threshold = 0.95, bits = 4, tables = 12)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val before = state()
    // vector 2 (cos 1.0 with both 0 and 1) must see the APPENDED vector
    // 1, not just the original build's vector 0
    probe() shouldBe Set((2L, 0L), (2L, 1L))
    Dedup.appendToEmbeddingIndex(batch, "vec_id", "embedding", dim, idx,
      bits = 4, tables = 12, batchId = Some(3L))
    state() shouldBe before
    probe() shouldBe Set((2L, 0L), (2L, 1L))
  }

  test("probe skips buckets grown over the cap by appends and reports them", Slow) {
    import spark.implicits._
    val idx = graft.TempDirs.path("minhash-index/grown-bucket")
    // build with a TINY cap (2); corpus = one unrelated seed doc
    Dedup.buildMinhashIndex(
      Seq(1L -> "unrelated corpus seed document with entirely distinct words")
        .toDF("doc_id", "text"), "doc_id", "text", idx, maxBucket = 2)
    // three appends of identical-text docs: each batch is under the cap
    // on its own (1 doc), but the shared (band, bh) buckets accumulate
    // 3 docs ACROSS batch partitions — past the cap no single append
    // could see
    Seq(10L, 11L, 12L).zipWithIndex.foreach { case (id, b) =>
      Dedup.appendToMinhashIndex(Seq(id -> base).toDF("doc_id", "text"),
        "doc_id", "text", idx, maxBucket = 2, batchId = Some(b.toLong))
    }
    // probe: doc 99 lands in the grown buckets (skipped — no pairs,
    // reported); doc 98 near-dups the seed through healthy size-1
    // buckets (the skip is per-key, not per-probe)
    val probe = Dedup.minhashNearDupsAgainstIndexWithStats(
      Seq(99L -> base,
        98L -> "unrelated corpus seed document with entirely distinct words extra")
        .toDF("doc_id", "text"), "doc_id", "text", idx)
    probe.pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet shouldBe
      Set((98L, 1L))
    val stats = probe.probeDropStats.collect()(0)
    // identical text → identical signature → one grown bucket per band
    stats.getLong(0) shouldBe 16L // n_skipped_buckets (bands = 16)
    stats.getLong(1) shouldBe 48L // n_docs_in_skipped_buckets (3 docs × 16)
    stats.getLong(2) shouldBe 2L  // max_bucket (read from stored params)
    // raising the cap at probe time un-skips them: the same probe finds
    // all three accumulated dups (proves the skip was the cap, not loss)
    Dedup.minhashNearDupsAgainstIndex(
        Seq(99L -> base).toDF("doc_id", "text"), "doc_id", "text", idx,
        maxBucket = Some(10))
      .collect().map(_.getLong(1)).toSet shouldBe Set(10L, 11L, 12L)
  }

  test("lazy probe pairs equal the stats-bearing probe's pairs, grown-bucket skip included", Slow) {
    import spark.implicits._
    // the LAZY form is what the unified ingest loop runs per
    // micro-batch (no internal checkpoints, silent grown-bucket skip);
    // its PAIR SEMANTICS must stay identical to the stats-bearing
    // form, including which buckets get skipped — pin it on the same
    // grown-bucket fixture shape as the test above
    val idx = graft.TempDirs.path("minhash-index/lazy-parity")
    Dedup.buildMinhashIndex(
      Seq(1L -> "unrelated corpus seed document with entirely distinct words")
        .toDF("doc_id", "text"), "doc_id", "text", idx, maxBucket = 2)
    Seq(10L, 11L, 12L).zipWithIndex.foreach { case (id, b) =>
      Dedup.appendToMinhashIndex(Seq(id -> base).toDF("doc_id", "text"),
        "doc_id", "text", idx, maxBucket = 2, batchId = Some(b.toLong))
    }
    val incoming = Seq(99L -> base,
      98L -> "unrelated corpus seed document with entirely distinct words extra")
      .toDF("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val eager = rows(Dedup.minhashNearDupsAgainstIndexWithStats(
      incoming, "doc_id", "text", idx).pairs)
    val lazyPairs = rows(Dedup.minhashProbePairsLazy(
      incoming, "doc_id", "text", idx, threshold = 0.8,
      shingleK = 3, numHashes = 64, bands = 16, cap = 2))
    lazyPairs shouldBe eager
    lazyPairs.map(t => (t._1, t._2)) shouldBe Set((98L, 1L)) // grown buckets skipped
    // embedding twin: lazy ≡ eager on the planted fixture
    val all = graft.queries.PlantedFixtures.embs(spark)
    val dimF = graft.queries.PlantedFixtures.EmbFixtureDim
    val eidx = graft.TempDirs.path("embedding-index/lazy-parity")
    Dedup.buildEmbeddingIndex(all.filter(col("vec_id") < 8), "vec_id",
      "embedding", dimF, eidx, bits = 4, tables = 12)
    val probe = all.filter(col("vec_id") >= 8)
      .select(col("vec_id"), col("embedding"))
    def erows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    erows(Dedup.embeddingProbePairsLazy(probe, "vec_id", "embedding", dimF,
      eidx, threshold = 0.9, bits = 4, tables = 12, cap = 1000)) shouldBe
      erows(Dedup.embeddingNearDupsAgainstIndex(probe, "vec_id", "embedding",
        dimF, eidx, threshold = 0.9, bits = 4, tables = 12))
  }

  test("embedding probe skips buckets grown over the cap across appends") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val all = graft.queries.PlantedFixtures.embs(spark)
    val dim = graft.queries.PlantedFixtures.EmbFixtureDim
    val idx = graft.TempDirs.path("embedding-index/grown-bucket")
    // corpus: everything except 0's scalar multiples (1, 2); cap = 1
    Dedup.buildEmbeddingIndex(all.filter(!col("vec_id").isin(1L, 2L)),
      "vec_id", "embedding", dim, idx, bits = 4, tables = 12, maxBucket = 1)
    // two appends: vectors 1 and 2 are colinear with 0, so 0's buckets
    // grow to 3 distinct docs — over the cap — across batch partitions
    Seq(1L, 2L).zipWithIndex.foreach { case (id, b) =>
      Dedup.appendToEmbeddingIndex(all.filter(col("vec_id") === id),
        "vec_id", "embedding", dim, idx, bits = 4, tables = 12,
        maxBucket = 1, batchId = Some(b.toLong))
    }
    // vector 0's own direction now probes only grown buckets → skipped
    val probe = Dedup.embeddingNearDupsAgainstIndexWithStats(
      all.filter(col("vec_id") === 0L), "vec_id", "embedding", dim, idx,
      threshold = 0.95, bits = 4, tables = 12)
    probe.pairs.count() shouldBe 0L
    val stats = probe.probeDropStats.collect()(0)
    stats.getLong(0) should be > 0L  // buckets skipped
    stats.getLong(2) shouldBe 1L     // cap from stored params
    // with the cap raised, the colinear vectors are found again
    Dedup.embeddingNearDupsAgainstIndex(
        all.filter(col("vec_id") === 0L), "vec_id", "embedding", dim, idx,
        threshold = 0.95, bits = 4, tables = 12, maxBucket = Some(10))
      .collect().map(_.getLong(1)).toSet shouldBe Set(1L, 2L)
  }

  test("compactMinhashIndex: build + appends + compact ≡ one fresh build", Slow) {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val all = graft.queries.PlantedFixtures.docs(spark)
    val corpus = all.filter(col("doc_id") <= 4)
    val batches = Seq(
      all.filter(col("doc_id").between(5, 8)),
      all.filter(col("doc_id").between(100, 105)),
      all.filter(col("doc_id") >= 106))
    val grown = graft.TempDirs.path("minhash-index/compact-grown")
    val fresh = graft.TempDirs.path("minhash-index/compact-fresh")
    Dedup.buildMinhashIndex(corpus, "doc_id", "text", grown)
    batches.zipWithIndex.foreach { case (b, i) =>
      Dedup.appendToMinhashIndex(b, "doc_id", "text", grown, batchId = Some(i.toLong))
    }
    Dedup.buildMinhashIndex(all, "doc_id", "text", fresh)
    Dedup.compactMinhashIndex(spark, grown)
    // one batch partition per table (the fresh-build layout, batch -1)
    Seq("shingles", "buckets", "drop_stats").foreach { t =>
      spark.read.parquet(s"$grown/$t")
        .select(col("batch_id").cast("long")).distinct()
        .collect().map(_.getLong(0)).toSeq shouldBe Seq(-1L)
    }
    // identical probe output to the fresh build over the same docs —
    // the probe text is planted doc 1's, so it near-dups the a1/a2/a3
    // cluster (a non-trivial hit set on both indexes)
    val a1Text = all.filter(col("doc_id") === 1L).select("text")
      .collect()(0).getString(0)
    val probeDocs = Seq(99L -> a1Text, 98L -> "novel words matching nothing")
      .toDF("doc_id", "text")
    def hits(idx: String) = Dedup.minhashNearDupsAgainstIndex(
        probeDocs, "doc_id", "text", idx, threshold = 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    hits(grown) shouldBe hits(fresh)
    // bucket CONTENT matches the fresh build exactly (not just probes)
    def buckets(idx: String) = spark.read.parquet(s"$idx/buckets")
      .select("band", "bh", "doc").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    buckets(grown) shouldBe buckets(fresh)
  }

  test("compactEmbeddingIndex: build + appends + compact ≡ one fresh build", Slow) {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val all = graft.queries.PlantedFixtures.embs(spark)
    val dim = graft.queries.PlantedFixtures.EmbFixtureDim
    val grown = graft.TempDirs.path("embedding-index/compact-grown")
    val fresh = graft.TempDirs.path("embedding-index/compact-fresh")
    Dedup.buildEmbeddingIndex(all.filter(col("vec_id") < 4), "vec_id",
      "embedding", dim, grown, bits = 4, tables = 12)
    Seq(all.filter(col("vec_id").between(4, 6)), all.filter(col("vec_id") > 6))
      .zipWithIndex.foreach { case (b, i) =>
        Dedup.appendToEmbeddingIndex(b, "vec_id", "embedding", dim, grown,
          bits = 4, tables = 12, batchId = Some(i.toLong))
      }
    Dedup.buildEmbeddingIndex(all, "vec_id", "embedding", dim, fresh,
      bits = 4, tables = 12)
    Dedup.compactEmbeddingIndex(spark, grown)
    Seq("vectors", "buckets", "drop_stats").foreach { t =>
      spark.read.parquet(s"$grown/$t")
        .select(col("batch_id").cast("long")).distinct()
        .collect().map(_.getLong(0)).toSeq shouldBe Seq(-1L)
    }
    def buckets(idx: String) = spark.read.parquet(s"$idx/buckets")
      .select("t", "sig", "doc").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    buckets(grown) shouldBe buckets(fresh)
    def probe(idx: String) = Dedup.embeddingNearDupsAgainstIndex(
        all.filter(col("vec_id") === 0L), "vec_id", "embedding", dim, idx,
        threshold = 0.95, bits = 4, tables = 12)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    probe(grown) shouldBe probe(fresh)
  }

  test("interrupted in-place rebuild fails the probe loudly (marker cleared first)") {
    import spark.implicits._
    val idx = graft.TempDirs.path("minhash-index/rebuild-crash")
    val docs = Seq(1L -> base).toDF("doc_id", "text")
    Dedup.buildMinhashIndex(docs, "doc_id", "text", idx)
    // simulate a compaction rebuild crashing after the marker clear but
    // before completion: buildMinhashIndex deletes _index.json FIRST, so
    // at every point before the final marker re-write the index reads as
    // not-committed instead of mixed old/new. Reproduce that state by
    // removing the marker the same way the rebuild's first step does.
    new java.io.File(s"$idx/_index.json").delete() shouldBe true
    val ex = intercept[IllegalStateException] {
      Dedup.minhashNearDupsAgainstIndex(docs, "doc_id", "text", idx)
    }
    ex.getMessage should include("no readable _index.json")
  }

  test("null-text docs drop from MinHash banding instead of colliding in one bucket") {
    import spark.implicits._
    val docs = ((0 until 20).map(i => (i.toLong, null: String)) :+
      (100L, base) :+ (101L, base))
      .toDF("doc_id", "text")
    Dedup.withMinhashPipeline(docs, "doc_id", "text") { p =>
      // only the one real dup pair; the 20 null docs contribute nothing
      p.scored.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq shouldBe
        Seq((100L, 101L))
      p.dropStats.collect()(0).getAs[Long]("n_dropped_buckets") shouldBe 0
    }
  }

  test("withMinhashPipeline leaves no persisted blocks behind") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    Dedup.withMinhashPipeline(corpus, "doc_id", "text") { p =>
      p.scored.count()
      spark.sparkContext.getPersistentRDDs.size should be > before.size
    }
    spark.sparkContext.getPersistentRDDs.keySet shouldBe before
  }

  test("multi-table LSH recovers the near-dup a single unlucky table misses") {
    val embs = graft.queries.PlantedFixtures.embs(spark)
    val dim = graft.queries.PlantedFixtures.EmbFixtureDim
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // the fixture's 0.9945 pair (3,4) lives in TWO coordinates, the
    // adversarial case for ±1 (Rademacher) hyperplanes: each bit
    // separates it with probability ½ (coefficients a=b never split,
    // a=-b always do), so a single 4-bit table holds it with p=1/16 —
    // and the default-seed table indeed loses it (why dd6 runs bits=2)
    val single = pairs(Dedup.embeddingNearDups(embs, "vec_id", "embedding", dim,
      threshold = 0.95, bits = 4))
    single should not contain ((3L, 4L))
    // independent tables make recall a CHOICE: the pair needs ONE lucky
    // table (12 × p=1/16 → 54% a priori; deterministic draws land it),
    // the guaranteed scalar-multiple cluster stays, and single ⊆ multi
    val multi = pairs(Dedup.embeddingNearDupsMulti(embs, "vec_id", "embedding", dim,
      threshold = 0.95, bits = 4, tables = 12))
    single.subsetOf(multi) shouldBe true
    multi should contain((3L, 4L))
    multi should contain((0L, 1L))
  }

  test("embedding near-dup finds planted high-cosine pairs only") {
    import spark.implicits._
    val dim = 8
    def vec(seed: Int): Seq[Float] =
      (0 until dim).map(j => math.sin(seed * 31 + j).toFloat)
    val rows = Seq(
      (1L, vec(1)), (2L, vec(1)), // identical
      (3L, vec(1).updated(0, vec(1)(0) + 0.01f)), // tiny perturbation
      (4L, vec(7)), (5L, vec(13))) // unrelated
    val embs = rows.toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingNearDups(embs, "vec_id", "embedding", dim,
      threshold = 0.999, bits = 4)
      .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    pairs should contain((1L, 2L))
    pairs should contain((1L, 3L))
    pairs.exists { case (a, b) => b >= 4L } shouldBe false
  }

  test("line dedup preserves blank lines and empties docs that were pure boilerplate") {
    import spark.implicits._
    val boiler = "all rights reserved"
    val docs = Seq(
      (1L, s"real text\n\n$boiler\n\nmore text"), // blank lines survive
      (2L, boiler),                               // pure boilerplate → empty
      (3L, s"$boiler  \nkeeper"),                 // trailing spaces still match (trimmed key)
      (4L, "untouched doc"))
      .toDF("doc_id", "text")
    val cleaned = Dedup.dropRepeatedLines(docs, "doc_id", "text", maxOccurrences = 2)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    cleaned(1L) shouldBe "real text\n\n\nmore text"
    cleaned(2L) shouldBe ""
    cleaned(3L) shouldBe "keeper"
    cleaned(4L) shouldBe "untouched doc"
  }

  test("contamination report finds exactly the planted cross-Jaccard pairs") {
    import graft.queries.PlantedFixtures
    val report = Dedup.contaminationReport(
      PlantedFixtures.docs(spark), "doc_id", "text",
      PlantedFixtures.benchDocs(spark), "bench_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    report shouldBe Set(
      (1L, 901L, 1.0), (2L, 901L, 0.931), (3L, 901L, 0.8065),
      (4L, 904L, 1.0), (5L, 904L, 1.0), (6L, 906L, 1.0))
  }

  test("decontaminate keeps exactly the clean docs, null text included") {
    import spark.implicits._
    import graft.queries.PlantedFixtures
    // a null-text training row must pass through unharmed (null sig
    // drops from banding; the anti-join keeps non-flagged rows)
    val train = PlantedFixtures.docs(spark)
      .union(Seq((500L, null.asInstanceOf[String])).toDF("doc_id", "text"))
    val kept = Dedup.decontaminate(train, "doc_id", "text",
      PlantedFixtures.benchDocs(spark), "bench_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    kept shouldBe ((100L until 112L).toSet + 7L + 8L + 500L)
  }
}
