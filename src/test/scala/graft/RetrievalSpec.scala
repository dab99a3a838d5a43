package graft

import org.apache.spark.sql.functions._
import graft.operators.Retrieval

/** Properties of BM25 + RRF that the ret1/ret2 oracles (full-formula
  * DuckDB twins over the sf corpus) don't isolate: idf ordering, tf
  * saturation, the no-shared-term exclusion, and RRF's exact rank
  * arithmetic. The fixture is built so dl = avgdl = 4 for every doc,
  * collapsing the length normalization to 1 — scores depend on tf/df
  * alone and the expected ordering is hand-checkable. */
class RetrievalSpec extends SparkSpec {
  import spark.implicits._

  private def fixture = Seq(
    (1L, "zebra apple apple apple"),
    (2L, "apple apple apple apple"),
    (3L, "apple banana banana apple"),
    (4L, "cherry plum fig date"))
    .toDF("doc_id", "text")

  test("docs sharing no query term never appear; rare term retrieves its doc") {
    val out = Retrieval.bm25TopK(fixture, "doc_id", "text", Seq("zebra"), 10)
      .collect()
    out.map(_.getLong(0)) shouldBe Array(1L)
    out.head.getDouble(1) should be > 0.0
  }

  test("tf orders within a term; saturation keeps the ratio sublinear") {
    val out = Retrieval.bm25TopK(fixture, "doc_id", "text", Seq("apple"), 10)
      .collect()
    // tf 4 (doc 2) > tf 3 (doc 1) > tf 2 (doc 3); doc 4 absent
    out.map(_.getLong(0)) shouldBe Array(2L, 1L, 3L)
    val byId = out.map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // doubling tf (2 -> 4 at equal dl) must NOT double the score
    byId(2L) / byId(3L) should be < 2.0
  }

  test("rarer term carries higher idf: one zebra outranks one apple") {
    // doc 1 holds both at tf 1-vs-3; compare single-term queries on tf-1 docs
    val zebra = Retrieval.bm25TopK(fixture, "doc_id", "text", Seq("zebra"), 1)
      .collect().head.getDouble(1)
    // apple at tf 2 (doc 3) still scores below zebra at tf 1: df 3-of-4
    // vs 1-of-4 dominates the tf saturation gap
    val apple = Retrieval.bm25TopK(fixture, "doc_id", "text", Seq("apple"), 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    zebra should be > apple(3L)
  }

  test("case folding: query terms and corpus match case-insensitively") {
    val docs = Seq((1L, "Zebra Stripes"), (2L, "plain horse")).toDF("doc_id", "text")
    Retrieval.bm25TopK(docs, "doc_id", "text", Seq("ZEBRA"), 10)
      .collect().map(_.getLong(0)) shouldBe Array(1L)
  }

  test("indexed BM25 is score-identical to the on-the-fly path") {
    val idx = graft.TempDirs.path("posting-index/spec-parity")
    Retrieval.buildPostingIndex(fixture, "doc_id", "text", idx, nBuckets = 4)
    val direct = Retrieval.bm25TopK(fixture, "doc_id", "text", Seq("apple", "zebra"), 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    val served = Retrieval.bm25TopKIndexed(spark, idx, "doc_id", Seq("apple", "zebra"), 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    served.map(_._1) shouldBe direct.map(_._1)
    served.zip(direct).foreach { case ((_, a), (_, b)) => a shouldBe b +- 1e-12 }
  }

  test("posting-index append folds df and corpus stats exactly: append ≡ rebuild on the union", Slow) {
    import spark.implicits._
    val batchA = fixture.filter($"doc_id" <= 2)
    val batchB = fixture.filter($"doc_id" > 2)
    val grown = graft.TempDirs.path("posting-index/spec-grown")
    Retrieval.buildPostingIndex(batchA, "doc_id", "text", grown, nBuckets = 4)
    Retrieval.appendToPostingIndex(batchB, "doc_id", "text", grown, batchId = 0)
    // retried append REPLACES its own batch, never double-counts
    Retrieval.appendToPostingIndex(batchB, "doc_id", "text", grown, batchId = 0)
    val fresh = graft.TempDirs.path("posting-index/spec-fresh")
    Retrieval.buildPostingIndex(fixture, "doc_id", "text", fresh, nBuckets = 4)
    val a = Retrieval.bm25TopKIndexed(spark, grown, "doc_id", Seq("apple", "banana"), 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    val b = Retrieval.bm25TopKIndexed(spark, fresh, "doc_id", Seq("apple", "banana"), 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    a.map(_._1) shouldBe b.map(_._1)
    a.zip(b).foreach { case ((_, x), (_, y)) => x shouldBe y +- 1e-12 }
  }

  test("a half-built posting index (no params commit marker) fails loudly") {
    val idx = graft.TempDirs.path("posting-index/spec-halfbuilt")
    Retrieval.buildPostingIndex(fixture, "doc_id", "text", idx, nBuckets = 4)
    val p = new org.apache.hadoop.fs.Path(s"$idx/_index.json")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, false) shouldBe true
    an[IllegalStateException] should be thrownBy
      Retrieval.bm25TopKIndexed(spark, idx, "doc_id", Seq("apple"), 5).collect()
  }

  test("a MinHash index path fails the posting-index calls with the layout error") {
    val idx = graft.TempDirs.path(s"posting-index/spec-wrongtype-${java.util.UUID.randomUUID()}")
    graft.operators.Dedup.buildMinhashIndex(fixture, "doc_id", "text", idx)
    val probe = intercept[IllegalStateException] {
      Retrieval.bm25TopKIndexed(spark, idx, "doc_id", Seq("apple"), 5)
    }
    probe.getMessage should include("has no field n_buckets")
    probe.getMessage should include(idx)
    val append = intercept[IllegalStateException] {
      Retrieval.appendToPostingIndex(fixture, "doc_id", "text", idx, batchId = 0)
    }
    append.getMessage should include("has no field n_buckets")
  }

  test("rrfFuse: exact rank arithmetic, absent lists contribute 0, id tie-break") {
    val a = Seq((1L, 10.0), (2L, 5.0)).toDF("doc_id", "s")
    val b = Seq((1L, 0.9), (3L, 0.8)).toDF("doc_id", "s")
    val out = Retrieval.rrfFuse(Seq((a, "s"), (b, "s")), "doc_id", 3).collect()
    // doc 1: rank 1 in both = 2/61; docs 2 and 3: rank 2 in one = 1/62,
    // tied -> ordered by id
    out.map(_.getLong(0)) shouldBe Array(1L, 2L, 3L)
    out(0).getDouble(1) shouldBe (2.0 / 61.0)
    out(1).getDouble(1) shouldBe (1.0 / 62.0)
    out(2).getDouble(1) shouldBe (1.0 / 62.0)
  }
}
