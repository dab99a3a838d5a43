package graft

/** Machine-checked scale posture: the physical plans the 100 TB design
  * depends on, asserted as plan-shape invariants rather than eyeballed
  * `.explain` output. If a refactor silently drops a pushdown or turns
  * a broadcast join into a shuffle, this spec fails.
  */
class PlanAuditSpec extends SparkSpec {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  test("p1: equality predicate is pushed to the parquet scan") {
    val p = plan("p1_eq_filter")
    p should include("PushedFilters: [IsNotNull(l_returnflag), EqualTo(l_returnflag,R)]")
  }

  test("p1/p6: column pruning — the scan reads only referenced columns") {
    val p = plan("p6_project_rename")
    p should include("ReadSchema")
    // customer has 5 columns; the query touches exactly these 3
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).get
    readSchema should include("c_name")
    readSchema should include("c_acctbal")
    readSchema should include("c_mktsegment")
    readSchema should not include "c_custkey"
    readSchema should not include "c_nationkey"
  }

  test("o1+o2: sort+limit fuses to TakeOrderedAndProject (top-k, no full sort)") {
    plan("o1_o2_top_groups") should include("TakeOrderedAndProject")
    plan("o3_top_users") should include("TakeOrderedAndProject")
  }

  test("j2b: dimension joins are broadcast, fact side never shuffles for the join") {
    val p = plan("j2b_broadcast_dims")
    p should include("BroadcastHashJoin")
    p should not include "SortMergeJoin"
  }

  test("j3: anti/semi joins use hash strategies, not cartesian") {
    plan("j3_anti_join") should not include "Cartesian"
    plan("j3b_semi_join") should not include "Cartesian"
  }

  test("a4: grouped count partial-aggregates before the shuffle") {
    val p = plan("a4_grouped_count")
    // partial & final HashAggregate pair around the exchange
    "HashAggregate".r.findAllIn(p).size should be >= 2
    p should include("Exchange hashpartitioning")
  }

  test("dd3: LSH candidate generation contains no cartesian product and no full sort-merge self-join") {
    val p = plan("dd3_minhash_lsh")
    p should not include "CartesianProduct"
  }

  test("ann1: brute-force top-k is a broadcast + TakeOrderedAndProject, never a shuffle of vectors") {
    val p = plan("ann1_brute_topk")
    p should include("TakeOrderedAndProject")
    p should include("BroadcastNestedLoopJoin") // 1-row query side broadcast
  }

  test("vector hot paths use the native loop expressions, not giant unrolled trees") {
    import org.apache.spark.sql.functions._
    import graft.functions.{VectorFunctions => V}
    import graft.operators.{Ann, Dedup}
    val embs = Tables(spark, sf, "embeddings")
    val q = embs.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
    // signature + cosine appear as single named expressions in the plan
    // (a 768-term folded tree would blow past HotSpot's huge-method JIT
    // cliff — VectorExprs scaladoc; the unrolled forms measured 2.7×
    // slower than even the interpreted HOFs)
    val dd6 = Dedup.embeddingNearDups(embs, "vec_id", "embedding", 64)
      .queryExecution.optimizedPlan.toString
    dd6 should include("graft_hyperplane_sig")
    dd6 should include("graft_cosine")
    val ivf = Ann.ivfSearch(embs, "vec_id", "embedding", 64, q, "qv", 10,
      graft.queries.ScaleWorkloads.trainedCents(spark, sf))
      .queryExecution.optimizedPlan.toString
    ivf should include("graft_nearest_cell")
    // and the expressions stay INSIDE whole-stage codegen
    val df = embs.select(V.hyperplaneSignatureNative(col("embedding"), 12, 64).as("s"))
      .agg(sum(col("s")))
    df.collect()
    "\\*\\(\\d+\\)".r.findAllIn(df.queryExecution.executedPlan.toString).size should be >= 1
  }

  test("persisted IVF index search partition-prunes to the probed cells") {
    import org.apache.spark.sql.functions._
    import graft.operators.Ann
    val embs = Tables(spark, sf, "embeddings")
    val idx = graft.TempDirs.path("ann-index/planaudit")
    Ann.buildIvfIndex(embs, "vec_id", "embedding", 64, nCells = 8, outPath = idx)
    val qv = embs.filter(col("vec_id") === 0).select(col("embedding"))
      .collect()(0).getSeq[Float](0).map(_.toDouble).toSeq
    val search = Ann.searchIvfIndex(spark, idx, "vec_id", "embedding", qv, 10, nProbe = 2)
    search.collect()
    val p = search.queryExecution.executedPlan.toString
    // the probe filter reaches the scan as a PARTITION filter — only
    // the probed cell directories are read, the rest never open
    p should include("PartitionFilters: [_cell")
    "PartitionFilters: \\[_cell#\\d+ IN \\(".r.findFirstIn(p).isDefined shouldBe true
    // and the self-hit comes back exact
    search.collect().head.getLong(0) shouldBe 0L
    // writer discipline: the build repartitions on _cell before
    // partitionBy, so each cell directory holds exactly ONE data file
    // (not one per input partition — the small-files metadata bomb);
    // the build lands as batch -1, appends sit beside it
    val cellDirs = new java.io.File(s"$idx/vectors/batch_id=-1").listFiles
      .filter(f => f.isDirectory && f.getName.startsWith("_cell="))
    cellDirs.length shouldBe 8
    cellDirs.foreach { d =>
      d.listFiles.count(_.getName.endsWith(".parquet")) shouldBe 1
    }
  }

  test("OsmXmlSource parallelizes a monolith: one task per byte range") {
    val p = graft.queries.ScaleWorkloads.monolithPath()
    val df = spark.read.format("graft.sources.OsmXmlSource")
      .option("splitBytes", (64 * 1024).toString).load(p)
    df.rdd.getNumPartitions should be >= 8 // ~2 MB / 64 KB ranges
  }

  test("s6: the ts range predicate reaches the range-partitioned scan") {
    val p = plan("s6_range_pruning")
    p should include("PushedFilters")
    p should include("GreaterThanOrEqual(ts")
    p should include("LessThan(ts")
  }

  test("ct1: contamination sweep broadcasts the benchmark side; the corpus shuffles only for the pair collapse") {
    val p = plan("ct1_contamination")
    p should include("BroadcastHashJoin")
    p should not include "SortMergeJoin"
    p should not include "Cartesian"
    // the ONLY hash exchange is the final (train_doc, bench_doc)
    // collapse of multi-band hits — the corpus-side scan pipeline
    // (shingle → signature → band explode → probe → verify) is
    // exchange-free, which is the whole point of the broadcast shape
    "Exchange hashpartitioning".r.findAllIn(p).size shouldBe 1
  }

  test("dd14: line-dedup hot set broadcasts; counts partial-aggregate before their shuffle") {
    val p = plan("dd14_line_dedup")
    p should include("BroadcastHashJoin")   // hot-set anti-join
    p should not include "Cartesian"
    // the hash-count agg pairs partial/final around its exchange
    "HashAggregate".r.findAllIn(p).size should be >= 2
  }

  test("j4: as-of join is union + ONE window pass — no join node, one keyed shuffle") {
    val p = plan("j4_asof_join")
    p should not include "Join"       // no SortMerge/Hash/NestedLoop anywhere
    p should include("Window")
    // exactly one hash exchange (the user_id window partition); the
    // second exchange is the query's final ORDER BY (range), not the op
    "Exchange hashpartitioning".r.findAllIn(p).size shouldBe 1
  }

  test("tq17: correlated scalar subquery decorrelates to agg + equi-join — " +
      "no nested-loop, no cartesian, no per-row rescan") {
    val p = plan("tq17_small_qty_revenue")
    p should not include "BroadcastNestedLoopJoin"
    p should not include "CartesianProduct"
    // the rewrite's shape: the subquery became a per-partkey aggregate
    // joined back on the correlation key
    p should include("HashAggregate")
    (p.contains("SortMergeJoin") || p.contains("BroadcastHashJoin") ||
      p.contains("ShuffledHashJoin")) shouldBe true
  }

  test("tq20: nested IN + correlated scalar decorrelate to semi-joins + agg — " +
      "no nested-loop, no cartesian") {
    val p = plan("tq20_excess_shippers")
    p should not include "BroadcastNestedLoopJoin"
    p should not include "CartesianProduct"
    // both INs became keyed semi-joins and the correlated scalar a
    // per-suppkey aggregate joined back on the correlation key
    p should include("LeftSemi")
    p should include("HashAggregate")
    (p.contains("SortMergeJoin") || p.contains("BroadcastHashJoin") ||
      p.contains("ShuffledHashJoin")) shouldBe true
  }

  test("tq21: correlated EXISTS + NOT EXISTS decorrelate to semi + anti hash joins") {
    val p = plan("tq21_sole_failing_supplier")
    p should not include "BroadcastNestedLoopJoin"
    p should not include "CartesianProduct"
    // both subqueries hash-join on the correlation key, the <> riding
    // as a join condition — the EXISTS a LeftSemi, the NOT EXISTS a
    // LeftAnti
    p should include("LeftSemi")
    p should include("LeftAnti")
  }

  test("tq22: NOT IN plans as null-aware anti hash joins — no cartesian") {
    val p = plan("tq22_not_in_nulls")
    p should not include "CartesianProduct"
    // single-key NOT IN → null-aware BroadcastHashJoin LeftAnti (the
    // trailing `true` flag), never the pre-NAAJ nested-loop rewrite
    p should not include "BroadcastNestedLoopJoin"
    p should include("LeftAnti")
    p should include("BroadcastHashJoin")
  }

  test("tq2: multi-table correlated scalar MIN decorrelates to agg + equi-join") {
    val p = plan("tq2_min_cost_supplier")
    p should not include "BroadcastNestedLoopJoin"
    p should not include "CartesianProduct"
    // the correlated min became a per-partkey aggregate joined back
    p should include("HashAggregate")
    p should include("min(")
  }

  test("tq13: outer-join count keeps LeftOuter — the non-join predicate lives " +
      "in the join, zero-order customers survive") {
    val p = plan("tq13_cust_distribution")
    p should include("LeftOuter")
    p should not include "CartesianProduct"
    // two aggregate levels (per-customer count, then the distribution),
    // each partial+final
    "HashAggregate".r.findAllIn(p).size should be >= 4
  }

  test("tq15: view reused as join input and under scalar max — no nested loop") {
    val p = plan("tq15_top_supplier")
    p should not include "BroadcastNestedLoopJoin"
    p should not include "CartesianProduct"
    (p.contains("SortMergeJoin") || p.contains("BroadcastHashJoin") ||
      p.contains("ShuffledHashJoin")) shouldBe true
  }

  test("tq19: OR-of-ANDs derives per-side pushed filters; join stays broadcast hash") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    val df = SparkEntry.queries("tq19_or_of_ands")(spark, sf)
    val p = df.queryExecution.executedPlan
    def scans(n: SparkPlan): Seq[FileSourceScanExec] = n match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case s: QueryStageExec => scans(s.plan)
      case f: FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(scans) ++
        other.subqueries.flatMap(scans)
    }
    val all = scans(p)
    p.toString should include("BroadcastHashJoin")
    p.toString should not include "CartesianProduct"
    // Catalyst extracts the convertible per-side implications of the
    // disjunction: the part scan prunes to the three brands, the
    // lineitem scan to the union quantity band — at 100 TB that is
    // three brands' row groups read instead of every part
    val partScan = all.find(_.relation.location.rootPaths
      .exists(_.toString.contains("part.parquet")))
    partScan should not be empty
    partScan.get.metadata("PushedFilters") should include("p_brand")
    val liScan = all.find(_.relation.location.rootPaths
      .exists(_.toString.contains("lineitem.parquet")))
    liScan should not be empty
    liScan.get.metadata("PushedFilters") should include("l_quantity")
  }

  test("dd15: n-gram span dedup has no cartesian; dup-set joins are keyed") {
    val p = plan("dd15_ngram_spans")
    p should not include "Cartesian"
    p should not include "BroadcastNestedLoopJoin"
  }

  test("dd17: bloom probe is a map-side filter — ZERO shuffle in the probe plan") {
    import spark.implicits._
    val corpus = (0 until 100).map(i => (i.toLong, s"doc $i")).toDF("doc_id", "text")
    val batch = (0 until 100).map(i => (200L + i, s"new $i")).toDF("doc_id", "text")
    val bf = graft.operators.BloomDedup.buildBloom(corpus, "text", 1000L)
    val probed = graft.operators.BloomDedup.dropBloomMembers(batch, "text", bf)
    probed.queryExecution.executedPlan.toString should not include "Exchange"
  }

  test("ret1: BM25 top-k is TakeOrderedAndProject; stats/df sides broadcast, no cartesian") {
    val p = plan("ret1_bm25_topk")
    p should include("TakeOrderedAndProject")   // no global sort of scored docs
    p should not include "CartesianProduct"
    // corpus stats (1 row) and per-term df (|Q| rows) ride broadcasts
    "BroadcastNestedLoopJoin".r.findAllIn(p).size shouldBe 1
    p should include("BroadcastHashJoin")
  }

  test("sp1: split assignment is a pure per-row projection — zero shuffle") {
    // pin the operator, not the declared query (whose orderBy is for the oracle dump)
    val out = graft.operators.Sampling.assignSplits(
      Tables(spark, sf, "documents").select("doc_id"), "doc_id",
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), 42)
    out.queryExecution.executedPlan.toString should not include "Exchange"
  }

  test("sp5: sample-then-split composes as ONE zero-shuffle projection+filter") {
    // the two hash gates (different seeds) fold into a single stage:
    // no Exchange, and both evaluate in one whole-stage-codegen span
    val sampled = graft.operators.Sampling.stratifiedSample(
      Tables(spark, sf, "documents").select("doc_id", "lang"), "doc_id", "lang",
      Map("en" -> 0.25, "de" -> 0.25, "zh" -> 0.25), seed = 11,
      defaultFraction = 0.25)
    val out = graft.operators.Sampling.assignSplits(
      sampled, "doc_id", Seq("train" -> 0.8, "val" -> 0.2), 42)
    val p = out.queryExecution.executedPlan.toString
    p should not include "Exchange"
    // exactly one codegen span id (`*(1)`) across the whole plan
    "\\*\\(\\d+\\)".r.findAllIn(p).toSet.size shouldBe 1
  }

  test("sp2: epoch shuffle is ONE hash exchange on shard, never a global sort") {
    val out = graft.operators.Sampling.epochShuffle(
      Tables(spark, sf, "documents").select("doc_id"), "doc_id", 3, 8)
    val p = out.queryExecution.executedPlan.toString
    "Exchange hashpartitioning".r.findAllIn(p).size shouldBe 1
    p should not include "Exchange rangepartitioning"
  }

  test("sp3: weighted sample is TakeOrderedAndProject — driver holds k rows, no full sort") {
    val out = graft.operators.Sampling.weightedTopK(
      Tables(spark, sf, "documents").select("doc_id", "n_chars"),
      "doc_id", "n_chars", 20, 9)
    val p = out.queryExecution.executedPlan.toString
    p should include("TakeOrderedAndProject")
    p should not include "Exchange"
  }

  test("sp4: stratified sample is a CASE-gated filter — zero shuffle, no join") {
    val out = graft.operators.Sampling.stratifiedSample(
      Tables(spark, sf, "documents").select("doc_id", "lang"), "doc_id",
      "lang", Map("en" -> 0.5, "de" -> 0.25), 13)
    val p = out.queryExecution.executedPlan.toString
    p should not include "Exchange"
    p should not include "Join"
  }

  test("ret3: indexed BM25 partition-prunes postings to the query terms' buckets") {
    import graft.operators.Retrieval
    val idx = graft.TempDirs.path("posting-index/planaudit")
    Retrieval.buildPostingIndex(Tables(spark, sf, "documents"),
      "doc_id", "text", idx, nBuckets = 16)
    val search = Retrieval.bm25TopKIndexed(spark, idx, "doc_id",
      Seq("spark", "window"), 10)
    search.collect()
    val p = search.queryExecution.executedPlan.toString
    // the bucket filter reaches the postings scan as a PARTITION
    // filter — only the query terms' bucket directories are read
    "PartitionFilters: \\[bucket#\\d+ IN \\(".r.findFirstIn(p).isDefined shouldBe true
    p should include("TakeOrderedAndProject")
  }

  test("vb1/vb3: vocab scans are partial-agged TakeOrdered passes, no global sort") {
    for (name <- Seq("vb1_term_stats", "vb3_bpe_pairs")) {
      val p = plan(name)
      p should include("TakeOrderedAndProject")
      p should not include "Exchange rangepartitioning"
      p should include("partial_count") // map-side combine before the term shuffle
    }
  }

  test("vb2: the vocabulary joins in by broadcast — the corpus never shuffles for it") {
    val p = plan("vb2_oov_rate")
    p should include("BroadcastHashJoin")
    p should not include "SortMergeJoin"
  }

  test("iv1: the interval join is an equi-join on the grid cell — never nested-loop") {
    val p = plan("iv1_interval_join")
    p should not include "BroadcastNestedLoopJoin"
    p should not include "CartesianProduct"
  }

  test("j5: the bucketed join runs with NO exchange on either side") {
    import org.apache.spark.sql.functions.col
    val (liT, ordT) = graft.queries.RelationalQueries.bucketedTables(spark, sf)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // disable broadcast so the bucketed SortMergeJoin is what plans —
      // at sf the small side would otherwise broadcast and hide the
      // layout's zero-exchange property
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val out = spark.table(liT)
        .join(spark.table(ordT), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderstatus")).count()
      val p = out.queryExecution.executedPlan.toString
      p should include("SortMergeJoin")
      // the ONLY exchange is the aggregation's — none below the join
      val joinPart = p.substring(p.indexOf("SortMergeJoin"))
      joinPart should not include "Exchange"
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("iv2: broadcast interval join probes the points side in place — zero shuffle") {
    // pin the OPERATOR plan (the declared query's orderBy adds a range
    // exchange for the oracle dump)
    val ev = Tables(spark, sf, "events")
    val out = graft.operators.IntervalJoin.intervalJoin(
      ev.select(org.apache.spark.sql.functions.col("event_id"),
        org.apache.spark.sql.functions.col("ts")), "ts",
      ev.filter(org.apache.spark.sql.functions.col("event_id") % 97 === 0)
        .select(org.apache.spark.sql.functions.col("event_id").as("int_id"),
          org.apache.spark.sql.functions.col("ts").as("start_ts"),
          (org.apache.spark.sql.functions.col("ts") +
            org.apache.spark.sql.functions.expr("INTERVAL 10 MINUTES")).as("end_ts")),
      "start_ts", "end_ts", gridMicros = 600L * 1000000,
      broadcastIntervals = true)
    val p = out.queryExecution.executedPlan.toString
    p should include("BroadcastHashJoin")
    p should not include "Exchange hashpartitioning"
    p should not include "BroadcastNestedLoopJoin"
  }

  test("gk1: group top-k partial-aggregates the bounded buffer — no Window node") {
    val p = plan("gk1_group_topk")
    p should not include "Window"
    // typed-Aggregator partial/final pair around the group shuffle
    "ObjectHashAggregate".r.findAllIn(p).size should be >= 2
  }

  test("cd2: the per-cluster argmin partial-aggregates before its one shuffle — no window") {
    val p = plan("cd2_canonical_per_cluster")
    p should include("partial_min")
    p should not include "Window"
  }

  test("cur1: curriculum binning broadcasts the 1-row cutpoints, no global sort of docs") {
    val p = plan("cur1_curriculum_bins")
    p should include("BroadcastNestedLoopJoin") // 1-row cutpoint cross
    // ntile would need a single-partition window; the design avoids it
    p should not include "Window"
  }

  test("qc: classifier scoring is a zero-shuffle scan-project — no exchange, no join") {
    // the corpus sweep (sx50 shape, minus its final 1-row rollup):
    // one fused native expression per row, weights in the task closure
    val model = graft.operators.QualityClassifier.train(
      graft.queries.PlantedFixtures.labeledDocs(spark).repartition(2),
      "text", "label", dim = 64, iters = 5)
    val p = graft.operators.QualityClassifier
      .classify(Tables(spark, sf, "documents"), "text", model)
      .queryExecution.executedPlan.toString
    p should not include "Exchange"
    p should not include "Join"
    p should include("graft_quality_score")
  }

  test("bpe: the tokenize sweep is a zero-shuffle scan-project (ranks in closure)") {
    val merges = Seq(("e", "s"), ("es", "t"), ("l", "o"), ("lo", "w"))
    val p = Tables(spark, sf, "documents")
      .select(graft.operators.Bpe.encode(
        org.apache.spark.sql.functions.col("text"), merges).as("toks"))
      .queryExecution.executedPlan.toString
    p should not include "Exchange"
    p should include("graft_bpe_encode")
  }

  test("a19/a20: rollup and cube are ONE Expand + one aggregate pair — no per-grouping-set re-scan") {
    for (name <- Seq("a19_rollup_subtotals", "a20_cube_matrix")) {
      val p = plan(name)
      "Expand".r.findAllIn(p).size shouldBe 1
      // one partial/final HashAggregate pair over the single Expand;
      // a per-level union-of-scans plan would multiply the Scan count
      "Scan parquet".r.findAllIn(p).size shouldBe 1
      p should include("Exchange hashpartitioning")
    }
  }

  test("a21: pinned-values pivot is a single aggregate pass — no values-discovery job, one scan") {
    val p = plan("a21_pivot_wide")
    "Scan parquet".r.findAllIn(p).size shouldBe 1
    p should not include "CartesianProduct"
  }

  test("a22: unpivot melts AFTER aggregation — the Expand sits above the tiny agg, not the fact scan") {
    val df = SparkEntry.queries("a22_unpivot_long")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // Expand present (the melt), and the scan still prunes to the two
    // aggregated columns + key, proving the melt never saw raw rows
    p should include("Expand")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).get
    readSchema should include("l_quantity")
    readSchema should include("l_extendedprice")
    readSchema should not include "l_orderkey"
  }

  test("tq5: the 6-table star broadcasts every dimension — one fact-side shuffle join at most") {
    val p = plan("tq5_local_supplier")
    "BroadcastHashJoin".r.findAllIn(p).size should be >= 3
    p should include("PushedFilters: [IsNotNull(r_name), EqualTo(r_name,ASIA)")
    // the only sort-merge join permitted is the fact-fact orders⋈lineitem
    "SortMergeJoin".r.findAllIn(p).size should be <= 1
  }

  test("fn1: funnel-step + slice predicates reach the scan; one entity exchange") {
    val p = plan("fn1_funnel")
    // both the high-intent slice and the step membership die at the scan
    p should include("GreaterThan(value,97.0)")
    p should include("In(event_type")
    // scan reads only the four referenced event columns
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).get
    readSchema should include("user_id")
    readSchema should not include "event_id"
    readSchema should not include "props"
    // the entity groupBy is the operator's ONLY keyed shuffle (the
    // 3-row report agg is a SinglePartition exchange, not a reshuffle)
    "Exchange hashpartitioning".r.findAllIn(p).size shouldBe 1
    p should not include "Cartesian"
  }

  test("sx66: HTML extraction is a pure map over a text-only scan — no shuffle, no UDF") {
    val p = graft.queries.ScaleWorkloads.defs("sx66_html_extract")(spark, sf)
      .queryExecution.executedPlan.toString
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).get
    readSchema should include("text")
    readSchema should not include "doc_id"
    readSchema should not include "lang"
    "Exchange hashpartitioning".r.findAllIn(p).size shouldBe 0
    p should not include "UDF"
  }

  test("dc1: decontamination screens on a two-column scan; confirm join broadcasts") {
    val p = plan("dc1_contamination_report")
    val readSchema = p.linesIterator.filter(_.contains("ReadSchema"))
      .mkString("\n")
    // the corpus scan reads only (doc_id, text) — never lang/source
    readSchema should include("doc_id")
    readSchema should include("text")
    readSchema should not include "lang"
    readSchema should not include "n_chars"
    p should include("BroadcastHashJoin")
    p should not include "SortMergeJoin"
    p should not include "CartesianProduct"
  }

  test("ds1: DSIR scoring is one broadcast model join + one keyed sum") {
    val p = plan("ds1_importance_weights")
    p should include("BroadcastHashJoin")
    p should not include "SortMergeJoin"
    // partial & final HashAggregate pair around one id exchange
    "HashAggregate".r.findAllIn(p).size should be >= 2
  }

  test("ds2: DSIR selection fuses to TakeOrderedAndProject (no full sort)") {
    // the outer orderBy is presentation; the inner top-k must fuse
    val scored = graft.operators.Dsir.score(
      Tables(spark, sf, "documents"), "doc_id", "text",
      graft.operators.Dsir.fit(
        Tables(spark, sf, "documents").filter(
          org.apache.spark.sql.functions.col("lang") === "en"),
        Tables(spark, sf, "documents"), "text", k = 30))
    val p = graft.operators.Dsir.selectTopK(scored, "doc_id", 50)
      .queryExecution.executedPlan.toString
    p should include("TakeOrderedAndProject")
  }

  test("governed-dim join strategy is MANIFEST-stats-driven: true row counts flip broadcast on and off") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.operators.Snapshot
    def governed(tag: String, df: org.apache.spark.sql.DataFrame): String = {
      val p = graft.TempDirs.path(
        s"snapshot/pa-$tag-${java.util.UUID.randomUUID()}")
      df.write.mode("overwrite").parquet(s"$p/batch_id=0")
      Snapshot.enable(spark, p)
      Snapshot.backfillStats(spark, p) // row-count stats for batch 0
      p
    }
    // SMALL dim: 100 true rows → manifest statistics read well under
    // the broadcast threshold → broadcasts with NO hint
    val small = governed("small",
      spark.range(100).select(col("id").as("k"), (col("id") * 2).as("dv")))
    // LARGE dim: 2M true rows of 8 DISTINCT values — parquet
    // dictionary-compresses it to a few hundred KB on disk (under the
    // 10MB threshold: the classic broadcast-OOM trap), while the
    // deserialized size is ~50MB. Manifest row counts must say NO.
    val big = governed("big",
      spark.range(2000000).select((col("id") % 8).as("k"),
        (col("id") % 8 * 2).as("dv")))
    // fact side big enough that IT never broadcasts — the strategy
    // question is entirely about the dim side's statistics
    val fact = spark.range(3000000).select((col("id") % 8).as("k"))
    val pSmall = fact.join(Snapshot.read(spark, small), "k")
      .queryExecution.executedPlan.toString
    pSmall should include("BroadcastHashJoin")
    val pBig = fact.join(Snapshot.read(spark, big), "k")
      .queryExecution.executedPlan.toString
    pBig should include("graft_governed_scan") // the rule fired
    pBig should not include "BroadcastHashJoin"
    // the CONTRAST that proves it's the manifest talking: the same
    // 2M rows in an UNREGISTERED copy look tiny on disk and (wrongly)
    // broadcast — file bytes are the lying statistic. (Reading the
    // governed dir itself raw picks up the registered stats too — the
    // registry keys on the dir set, and same files = same true rows.)
    val rawCopy = graft.TempDirs.path(
      s"snapshot/pa-rawcopy-${java.util.UUID.randomUUID()}")
    spark.read.parquet(s"$big/batch_id=0").write.parquet(rawCopy)
    val pRaw = fact.join(spark.read.parquet(rawCopy), "k")
      .queryExecution.executedPlan.toString
    pRaw should include("BroadcastHashJoin")
  }

  test("ManifestStatsRule registry is per-session and LRU-bounded: no " +
    "cross-session clobber, no wholesale clear (r21, VERDICT r20 #7)") {
    import graft.plans.ManifestStatsRule
    val other = spark.newSession()
    val dirsA = Set("file:/graft-msr-spec/a/batch_id=0")
    ManifestStatsRule.register(spark, dirsA, 42L)
    // registered session resolves; the OTHER session must not see it
    ManifestStatsRule.lookup(spark, dirsA) shouldBe Some(42L)
    ManifestStatsRule.lookup(other, dirsA) shouldBe None
    // clearing the other session must not clobber this session's entry
    ManifestStatsRule.clear(other)
    ManifestStatsRule.lookup(spark, dirsA) shouldBe Some(42L)
    // LRU at the cap: flood the OTHER session's registry past 1024
    // entries while touching a pinned key — the pinned (recently-used)
    // entry survives where r20's wholesale clear dropped EVERYTHING,
    // and untouched old keys are the ones evicted
    val pinned = Set("file:/graft-msr-spec/pinned/batch_id=0")
    ManifestStatsRule.register(other, pinned, 7L)
    (0 until 1500).foreach { i =>
      ManifestStatsRule.register(other,
        Set(s"file:/graft-msr-spec/flood/batch_id=$i"), i.toLong)
      if (i % 100 == 0) // keep the pinned entry recently used
        ManifestStatsRule.lookup(other, pinned) shouldBe Some(7L)
    }
    ManifestStatsRule.lookup(other, pinned) shouldBe Some(7L)
    ManifestStatsRule.lookup(other,
      Set("file:/graft-msr-spec/flood/batch_id=0")) shouldBe None // evicted
    ManifestStatsRule.lookup(other,
      Set("file:/graft-msr-spec/flood/batch_id=1499")) shouldBe Some(1499L)
    ManifestStatsRule.clear(other)
    // and the flood never touched the base session
    ManifestStatsRule.lookup(spark, dirsA) shouldBe Some(42L)
  }

  test("readTopK: order-limit fuses to TakeOrderedAndProject over the pruned scan") {
    import spark.implicits._
    import graft.operators.Snapshot
    val path = graft.TempDirs.path(
      s"snapshot/pa-topk-${java.util.UUID.randomUUID()}")
    (1L to 4L).map(v => (v, v)).toDF("id", "v")
      .write.mode("overwrite").parquet(s"$path/batch_id=0")
    Snapshot.enable(spark, path)
    Snapshot.stagedAppend(spark, path, 1L) {
      (10L to 19L).map(v => (v, v)).toDF("id", "v")
        .write.mode("overwrite").parquet(s"$path/batch_id=1")
    }
    Snapshot.backfillStats(spark, path)
    val r = Snapshot.readTopK(spark, path, "v", 3)
    r.queryExecution.executedPlan.toString should
      include("TakeOrderedAndProject")
    // losing batch 0's files are never opened: certificate, not filter
    r.inputFiles.foreach(f => f should include("batch_id=1"))
  }

  test("a14/a15: the sketch queries run on built-in aggregates — no Scala UDF, " +
      "Aggregator or typed map kernel") {
    import org.apache.spark.sql.catalyst.expressions.ScalaUDF
    import org.apache.spark.sql.execution.{AppendColumnsExec, MapGroupsExec,
      MapPartitionsExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.aggregate.ScalaAggregator
    def nodes(n: SparkPlan): Seq[SparkPlan] = n match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case s: QueryStageExec => nodes(s.plan)
      case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
    }
    for (q <- Seq("a14_quantile_sketch_table", "a15_theta_overlap")) {
      val all = nodes(SparkEntry.queries(q)(spark, sf).queryExecution.executedPlan)
      all.collect { case k @ (_: MapPartitionsExec | _: MapGroupsExec |
        _: AppendColumnsExec) => k.nodeName } shouldBe empty
      all.flatMap(_.expressions.flatMap(_.collect {
        case e @ (_: ScalaUDF | _: ScalaAggregator[_, _, _]) => e.prettyName
      })) shouldBe empty
    }
  }

  test("whole-stage codegen covers the relational hot paths") {
    // under AQE the codegen stages only materialize in the FINAL plan,
    // so execute first, then inspect
    val df = SparkEntry.queries("j2_join_group")(spark, sf)
    df.collect()
    // codegen'd stages carry the `*(n)` marker in the plan string
    val finalPlan = df.queryExecution.executedPlan.toString
    finalPlan should include("isFinalPlan=true")
    "\\*\\(\\d+\\)".r.findAllIn(finalPlan).size should be >= 3
    // both scan sides pushed their join-key null filters + pruned columns
    finalPlan should include("PushedFilters: [IsNotNull(o_orderkey)]")
    finalPlan should include("PushedFilters: [IsNotNull(l_orderkey)]")
  }
}
