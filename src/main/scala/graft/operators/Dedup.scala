package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.{TextFunctions => T, VectorFunctions => V}

/** Deduplication operators for a large-scale training-data pipeline.
  *
  * Scale posture (the 100 TB design point): NOTHING here is all-pairs.
  * Every near-dup variant is banded/bucketed — candidate pairs come
  * from an equi-join on (band, band-hash) buckets, so the shuffle is
  * keyed and the comparison count is |bucket|² summed over buckets, not
  * n². Pathological buckets (a boilerplate shingle shared by millions
  * of docs) are capped with `maxBucket`; at cluster scale the same knob
  * is the salting/AQE-skew-split point.
  *
  * All hashing is `xxhash64` (codegen'd, seed-able via extra literal
  * args), so signatures are computable executor-side with no model
  * state to ship.
  */
object Dedup {

  // -------------------------------------------------------------------
  // Exact dedup
  // -------------------------------------------------------------------

  /** Exact-duplicate statistics after whitespace/case normalization:
    * one hash-aggregate pass, no shuffle of document text (only 32-byte
    * hashes move). */
  def exactStats(docs: DataFrame, text: Column): DataFrame =
    docs.select(sha2(T.normalizeForDedup(text), 256).as("h"))
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("h")).as("n_distinct"),
        (count(lit(1)) - countDistinct(col("h"))).as("n_dups"))

  /** Keep one representative per normalized-text hash (min doc id). */
  def dropExactDups(docs: DataFrame, idCol: String, text: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(sha2(T.normalizeForDedup(text), 256))
      .orderBy(col(idCol))
    docs.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1).drop("_rn")
  }

  /** QUALITY-AWARE canonicalization: each exact-duplicate cluster
    * keeps its BEST member — max `quality`, ties to the smaller id —
    * instead of [[dropExactDups]]'s first-seen convention. This is the
    * form production dedup actually ships: among N crawls of the same
    * page, the longest/cleanest copy survives, not whichever arrived
    * first.
    *
    * Scale shape: the winner per cluster is ONE aggregate — max of an
    * ordered struct keyed by the 32-byte normalization hash (struct
    * max lowers to SortAggregate with a map-side partial_max,
    * spec-pinned), so only (hash, quality, id) triples move and
    * map-side combine collapses dup-heavy partitions before the
    * shuffle — followed by an id semi-join to recover the full rows.
    * No window: the window form sorts EVERY row of every cluster
    * inside a full-width shuffle just to discard all but one. */
  def keepBestExact(docs: DataFrame, idCol: String, text: Column,
                    quality: Column): DataFrame = {
    val winners = docs
      .select(sha2(T.normalizeForDedup(text), 256).as("_h"),
        struct(quality.as("q"), (-col(idCol).cast("long")).as("nid"),
          col(idCol).cast("long").as("id")).as("_cand"))
      .groupBy(col("_h")).agg(max(col("_cand")).as("_w"))
      .select(col("_w.id").as("_win_id"))
    docs.join(winners, col(idCol).cast("long") === col("_win_id"),
      "left_semi")
  }

  // -------------------------------------------------------------------
  // MinHash + LSH
  // -------------------------------------------------------------------

  /** Word k-shingles of the whitespace-token stream (distinct) —
    * native one-pass expression (plans.ShinglesExpr); the Column-chain
    * reference form is [[shinglesSpec]], pinned value-equal in
    * DedupSpec. */
  def shingles(text: Column, k: Int): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(graft.plans.ShinglesExpr(ColumnBridge.expression(text), k))
  }

  /** The Column-form value spec for [[shingles]] (interpreted HOF
    * chain; kept as the executable semantics reference). */
  def shinglesSpec(text: Column, k: Int): Column = {
    val toks = T.tokens(text)
    array_distinct(
      transform(sequence(lit(1), greatest(size(toks) - (k - 1), lit(1))),
        i => concat_ws(" ", slice(toks, i, lit(k)))))
  }

  /** MinHash signature: `n` permutations approximated by `n` seeded
    * xxhash64 functions; sig[s] = min over shingles of hash(shingle, s).
    *
    * Single-pass form: ONE `aggregate` traversal of the shingle array,
    * folding an n-length running-minimum vector. The naive nested form
    * (`transform(0..n-1, s => array_min(transform(shingles, ...)))`)
    * references the shingle-array expression inside the outer lambda,
    * and after Catalyst collapses projections that means the whole
    * shingle CONSTRUCTION re-evaluates n times per row — a 64×
    * slowdown observed at sf0.1 (BENCH r2/r3 dd3 timeouts). */
  def minhashSignature(shingleArr: Column, n: Int): Column =
    aggregate(shingleArr,
      array_repeat(lit(Long.MaxValue), n),
      (acc, sh) => zip_with(acc,
        transform(sequence(lit(0), lit(n - 1)), s => xxhash64(sh, s)),
        (a, h) => least(a, h)))

  /** Columnar MinHash signature: one row per doc, one LongType column
    * `h0..h{n-1}` per hash function — via explode + codegen'd
    * hash-aggregate instead of the array-fold form.
    *
    * Why this beats [[minhashSignature]] for the pipeline: higher-order
    * functions (`aggregate`/`transform`) evaluate INTERPRETED, outside
    * whole-stage codegen, allocating three n-length arrays per shingle.
    * `explode` + n×`min(xxhash64)` stays codegen'd end-to-end, and
    * map-side partial aggregation means the shuffle carries one
    * n-long vector per doc per partition. Identical values:
    * sig[s] = min over shingles of xxhash64(shingle, s).
    */
  def minhashSignatureWide(docs: DataFrame, idCol: String, text: Column,
                           shingleK: Int, n: Int): DataFrame =
    wideSignature(
      docs.select(col(idCol).as("sid"), shingles(text, shingleK).as("sh")), n)

  /** The one definition of the wide-signature aggregation, over a
    * prepared (sid, sh) shingle table. */
  private def wideSignature(sh: DataFrame, n: Int): DataFrame =
    sh.select(col("sid").as("doc"), explode(col("sh")).as("_s"))
      .groupBy("doc")
      .agg(min(xxhash64(col("_s"), lit(0))).as("h0"),
        (1 until n).map(s => min(xxhash64(col("_s"), lit(s))).as(s"h$s")): _*)

  /** All unordered (ascending) element pairs within each bucket row,
    * generated INSIDE the aggregated bucket — explode of the native
    * pair expression (plans.ArrayPairsExpr; value-parity with the
    * Column form pinned in DedupSpec). This replaces a bucket
    * self-join: one shuffle total, the expensive upstream expressions
    * (signatures) evaluate exactly once per row instead of once per
    * join side, and the quadratic work is bounded by maxBucket² per
    * bucket. `bucketCol` must be an array column; emits `_pair` =
    * 2-element array. */
  private def bucketPairs(buckets: DataFrame, bucketCol: String): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    buckets.select(explode(ColumnBridge.column(graft.plans.ArrayPairsExpr(
      ColumnBridge.expression(col(bucketCol))))).as("_pair"))
  }

  /** Column-form value spec for [[bucketPairs]]' pair expression. */
  private[graft] def bucketPairsSpec(buckets: DataFrame, bucketCol: String): DataFrame = {
    val arr = col(bucketCol)
    val n = size(arr)
    buckets.select(explode(flatten(
      transform(sequence(lit(1), n - 1), i =>
        transform(slice(arr, i + 1, n - i), x =>
          array(element_at(arr, i), x))))).as("_pair"))
  }

  /** Candidate pairs from banded MinHash-LSH. Never all-pairs: explode
    * bands → group per (band, bandHash) bucket → in-bucket pair
    * generation → distinct.
    *
    * @param maxBucket drop degenerate buckets larger than this (at 100 TB
    *        these are boilerplate clusters that would quadratically blow
    *        up a single key; real pipelines route them to a separate
    *        exact-dup pass, which [[exactStats]] covers).
    */
  def minhashCandidates(docs: DataFrame, idCol: String, text: Column,
                        shingleK: Int = 3, numHashes: Int = 64,
                        bands: Int = 16, maxBucket: Int = 1000): DataFrame =
    candidatesFromShingles(
      docs.select(col(idCol).as("sid"), shingles(text, shingleK).as("sh")),
      numHashes, bands, maxBucket)

  /** Full signature as ONE per-row array (plans.MinHashSignatureExpr):
    * value-identical to [[minhashSignatureWide]]'s columns, but the
    * shingle string hashes once (not numHashes times) and there is NO
    * aggregation shuffle — the signature is a scalar map. */
  def minhashSignatureArray(shingleArr: Column, n: Int): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(graft.plans.MinHashSignatureExpr(
      ColumnBridge.expression(shingleArr), n))
  }

  /** The banded (band, bh) key construction over a signature array —
    * ONE definition, shared by the batch bucketing and the incremental
    * index path, so an incoming doc is guaranteed the byte-identical
    * band hashes its corpus-side twin was indexed under. Band hashes
    * are built from `element_at` lanes, producing byte-identical
    * (band, bh) keys to the old wide-column aggregation form (same
    * long→string casts into the same "_"-joined xxhash64); `sig` is
    * referenced by every band column, so CollapseProject cannot inline
    * and re-evaluate it per band (the r2 HOF-collapse lesson). */
  private def bandHashCols(sigCol: Column, numHashes: Int, bands: Int): Seq[Column] = {
    val r = numHashes / bands
    (0 until bands).map { b =>
      struct(lit(b).as("band"),
        xxhash64(concat_ws("_",
          (b * r until (b + 1) * r).map(i =>
            element_at(sigCol, i + 1).cast("string")): _*)).as("bh"))
    }
  }

  /** Per-doc (band, bh) rows from a (doc, sh) shingle table — the
    * shared head of [[minhashBuckets]] and the incremental probe. */
  private def bandedDocRows(sh: DataFrame, numHashes: Int, bands: Int): DataFrame =
    sh.select(col("doc"),
        minhashSignatureArray(col("sh"), numHashes).as("sig"))
      // null text → null shingles → null sig: drop, as the old
      // explode-based aggregation did implicitly (otherwise every
      // null-text doc collides into one hash("") bucket per band)
      .filter(col("sig").isNotNull)
      .select(col("doc"),
        explode(array(bandHashCols(col("sig"), numHashes, bands): _*)).as("b"))
      .select(col("doc"), col("b.band").as("band"), col("b.bh").as("bh"))

  /** Banded bucket table over a prepared (sid, sh) shingle table:
    * (band, bh, docs) with docs sorted — UNcapped, so both candidate
    * generation and drop accounting derive from the same table. The
    * signature is the one-pass array expression; the only shuffle in
    * candidate generation is this bucketing groupBy. */
  private def minhashBuckets(sh: DataFrame, numHashes: Int, bands: Int): DataFrame =
    bandedDocRows(sh.select(col("sid").as("doc"), col("sh")), numHashes, bands)
      .groupBy("band", "bh")
      .agg(sort_array(collect_set(col("doc"))).as("docs"))

  /** Candidate pairs from an UNcapped bucket table ([[minhashBuckets]]
    * shape: any (band, bh, <array>) table). */
  private def candidatesFromBuckets(buckets: DataFrame, bucketCol: String,
                                    maxBucket: Int): DataFrame =
    bucketPairs(buckets.filter(size(col(bucketCol)).between(2, maxBucket)), bucketCol)
      .select(col("_pair")(0).as("id1"), col("_pair")(1).as("id2"))
      .distinct()

  /** Drop accounting for the `maxBucket` cap — the candidate loss the
    * cap introduces, measured instead of silent: one agg over the
    * filtered-OUT side of the bucket table. `n_docs_in_dropped_buckets`
    * is the distinct members of over-cap buckets (an upper bound on
    * docs whose near-dups the banded pass can miss; a doc also present
    * in a surviving bucket can still pair there). At 100 TB this row is
    * the pipeline's own recall-hole gauge: route the over-cap keys to
    * the exact pass ([[exactStats]] catches byte-identical boilerplate,
    * which is what mega-buckets overwhelmingly are) or raise the cap.
    *
    * `bucketCol` may be an array of ids or of structs with a `doc`
    * field ([[simhashNearDups]]' (doc, sig) buckets); `keyCols` are the
    * bucket-identity columns ((band, bh) for the banded variants, (sig)
    * for [[embeddingNearDups]]). */
  def lshDropStats(buckets: DataFrame, bucketCol: String, maxBucket: Int,
                   keyCols: Seq[String] = Seq("band", "bh")): DataFrame =
    buckets.filter(size(col(bucketCol)) > maxBucket)
      .select(struct(keyCols.map(col): _*).as("_k"), explode(col(bucketCol)).as("_d"))
      .agg(
        count_distinct(col("_k")).as("n_dropped_buckets"),
        count_distinct(col("_d")).as("n_docs_in_dropped_buckets"),
        count(lit(1)).as("n_dropped_doc_slots"))

  /** Candidate generation over a prepared (sid, sh) shingle table —
    * the shared core of [[minhashCandidates]] (inline shingling) and
    * [[minhashScoredCandidates]] (materialized shingle table). */
  private def candidatesFromShingles(sh: DataFrame, numHashes: Int,
                                     bands: Int, maxBucket: Int): DataFrame =
    candidatesFromBuckets(minhashBuckets(sh, numHashes, bands), "docs", maxBucket)

  /** Connected components over a near-dup PAIR table (id1, id2) —
    * transitive dup-cluster closure: every doc gets the MINIMUM id
    * reachable through any chain of pairs as its component label (so
    * component = dup cluster, label = the kept representative).
    *
    * Algorithm: iterative min-label propagation. Each round every node
    * takes min(own label, neighbors' labels) via ONE groupBy over the
    * (undirected) edge list. Rounds needed = graph diameter (near-dup
    * clusters are shallow — a handful); each round is a keyed shuffle,
    * no driver-side data.
    *
    * Convergence is detected INSIDE the label pass: the new-label
    * projection carries a `_chg` flag (did `_nmin` beat the old
    * label?), and the one action per round — `max(_chg)` over the
    * freshly persisted table — both materializes the round's labels
    * and answers "did anything move?". No separate old-vs-new join, no
    * second job (the r4 finding: the compare join + count() doubled
    * stage count per round). Lineage is truncated by a localCheckpoint
    * every [[CcCheckpointEvery]] rounds so deep graphs never stack an
    * unbounded plan.
    *
    * If the loop hits `maxIter` with changes still flowing, the labels
    * are NOT component ids yet — returning them would be silently
    * wrong (a >maxIter-diameter chain gets split clusters). We throw
    * instead; callers with genuinely deep graphs raise `maxIter` or
    * switch to [[connectedComponentsStar]], whose round count does not
    * depend on diameter at all.
    *
    * Returns (doc_id, component) for every id present in `pairs`;
    * singleton docs (no pairs) are their own components and need no row.
    */
  private val CcCheckpointEvery = 5

  /** Rows per shuffle partition the CC loop aims for — ~32 MB of
    * (long, long) edges. The loop re-keys the same small-ish tables
    * `diameter` times, so partition count is sized to the EDGE table
    * (one count on the already-persisted cache), not inherited from
    * the session default: a 4k-edge dup graph runs its rounds in 1
    * partition (per-round cost = one task, not 32 empty ones), while a
    * planetary edge list keeps the session's parallelism. */
  private val CcRowsPerPartition = 2L * 1000 * 1000

  /** The loop-scoped session for an iterative operator: a true CLONE
    * of the caller's session (same SparkContext, shared cache manager
    * and extensions, COPIED SessionState — runtime conf like ANSI /
    * timezone / legacy parquet flags carries over) with shuffle
    * parallelism sized to `nRows` and AQE dropped when the frontier
    * fits one partition (per-stage re-planning is pure driver overhead
    * paid `rounds` times; big graphs keep it — skew-join splitting
    * matters there). Mutating a clone instead of the caller's session
    * means no save/restore and NO RACE with concurrent work in the
    * caller's session (e.g. a bench harness whose timed-out query
    * thread is still running when the next measurement starts).
    *
    * Clones are cached per (caller, partition-count) — weakly on the
    * caller, so neither the cache nor the clone's listener-bus
    * registration outlives the caller session — because every live
    * session registers an execution listener on the shared bus and a
    * clone-per-call loop would accumulate them between GCs. */
  private val loopSessions =
    new java.util.WeakHashMap[org.apache.spark.sql.SparkSession,
      scala.collection.concurrent.TrieMap[Long, org.apache.spark.sql.SparkSession]]

  private def loopSession(caller: org.apache.spark.sql.SparkSession,
                          nRows: Long): org.apache.spark.sql.SparkSession = {
    val parts = math.max(1L,
      math.min(caller.conf.get("spark.sql.shuffle.partitions").toLong,
        nRows / CcRowsPerPartition + 1))
    val perCaller = loopSessions.synchronized {
      var m = loopSessions.get(caller)
      if (m == null) {
        m = scala.collection.concurrent.TrieMap.empty
        loopSessions.put(caller, m)
      }
      m
    }
    val clone = perCaller.getOrElseUpdate(parts,
      org.apache.spark.sql.graftbridge.ColumnBridge.cloneSession(caller))
    // re-sync the caller's CURRENT runtime conf onto the (possibly
    // cached) clone on every loop entry — a cached clone would
    // otherwise freeze the conf as of its first use, silently ignoring
    // later caller-side spark.conf.set changes (ANSI, timezone, legacy
    // flags) and breaking the "inherits exactly the caller's
    // semantics" contract. Driver-side map diff, trivial next to one
    // loop round; the two loop-owned knobs are then overridden last.
    caller.conf.getAll.foreach { case (key, v) =>
      if (clone.conf.getOption(key) != Some(v) && clone.conf.isModifiable(key))
        clone.conf.set(key, v)
    }
    clone.conf.set("spark.sql.shuffle.partitions", parts.toString)
    if (parts == 1L) clone.conf.set("spark.sql.adaptive.enabled", "false")
    clone
  }

  /** Edge-count ceiling for [[connectedComponentsStar]]'s driver-side
    * union-find fast path. */
  private val SmallGraphEdgeBound = 10000L

  def connectedComponents(pairs: DataFrame, maxIter: Int = 20): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge.rebindSession
    val caller = pairs.sparkSession
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    // undirected edge list, both directions: (src, dst) — built in the
    // caller's session (full parallelism), counted once (the count
    // doubles as the cache materialization round 1 would pay anyway),
    // then the loop re-plans against a frontier-sized cloned session
    val edges0 = pairs.select(col("id1").as("src"), col("id2").as("dst"))
      .union(pairs.select(col("id2").as("src"), col("id1").as("dst")))
      .distinct()
      .persist(lvl)
    var pinned: DataFrame = null // currently persisted table backing `labels`
    try {
      val edges = rebindSession(edges0, loopSession(caller, edges0.count()))
      var labels = edges.groupBy(col("src").as("doc_id"))
        .agg(least(min(col("dst")), col("src")).as("component"))
        .persist(lvl) // round 1 reads it twice (neighbor-min + rejoin)
      pinned = labels
      var converged = false
      var iter = 0
      while (!converged && iter < maxIter) {
        // neighbor-min pass: my new label = min(my label, min over
        // neighbors of THEIR labels); `_chg` rides along so the same
        // pass answers convergence
        val neighborMin = edges
          .join(labels.withColumnRenamed("doc_id", "dst")
            .withColumnRenamed("component", "_dst_comp"), "dst")
          .groupBy(col("src").as("doc_id"))
          .agg(min(col("_dst_comp")).as("_nmin"))
        // shortcut (pointer-jump) against the PREVIOUS round's cached
        // labels: the stepped label `_c1` is itself a node id, so its
        // old label is a same-component id at least as small — one
        // extra keyed join per round cuts round count ~3× on chains
        // (label distance advances ~3 hops/round instead of 1) without
        // re-materializing mid-round state
        val stepped = labels.join(neighborMin, "doc_id")
          .select(col("doc_id"), col("component"),
            least(col("component"), col("_nmin")).as("_c1"))
        val next = stepped
          .join(labels.select(col("doc_id").as("_jd"), col("component").as("_jc")),
            col("_c1") === col("_jd"), "left")
          .select(col("doc_id"),
            least(col("_c1"), coalesce(col("_jc"), col("_c1"))).as("component"),
            (least(col("_c1"), coalesce(col("_jc"), col("_c1"))) < col("component"))
              .cast("int").as("_chg"))
          .persist(lvl)
        // the round's ONE action: materializes `next` into the cache
        // and reduces the changed flag off it (coalesce: empty pair
        // table → null max → converged)
        val t0 = System.nanoTime()
        converged = next.agg(coalesce(max(col("_chg")), lit(0)))
          .first().getInt(0) == 0
        if (sys.env.contains("SPARK_GRAFT_CC_DEBUG"))
          System.err.println(f"[cc] round $iter: ${(System.nanoTime() - t0) / 1e9}%.2fs converged=$converged")
        pinned.unpersist(blocking = false)
        labels = next.drop("_chg") // projection over the cached table
        pinned = next
        iter += 1
        if (!converged && iter % CcCheckpointEvery == 0) {
          // truncate lineage: deep graphs would otherwise stack
          // join-upon-cached-join plans `iter` levels deep
          labels = labels.localCheckpoint(true)
          pinned.unpersist(blocking = false)
          pinned = labels
        }
      }
      if (!converged) throw new IllegalStateException(
        s"connectedComponents did not converge within maxIter=$maxIter rounds; " +
          "labels would be partial (split clusters). Raise maxIter past the " +
          "pair graph's diameter.")
      // break lineage before the caches release: localCheckpoint
      // materializes the final labels into executor storage (cleaned by
      // the ContextCleaner once unreferenced), so the returned DF
      // neither recomputes the iteration nor pins the edge cache —
      // rebound to the CALLER's session so downstream composition runs
      // under the caller's conf, not the loop clone's
      rebindSession(labels.localCheckpoint(true), caller)
    } finally {
      // finally owns every release so failure paths (non-convergence
      // throw, cancelled jobs) can't leak the round cache
      if (pinned != null) pinned.unpersist(blocking = false)
      edges0.unpersist(blocking = false)
    }
  }

  /** Connected components by ALTERNATING LARGE-STAR / SMALL-STAR edge
    * rewriting (Kiveris et al., "Connected Components in MapReduce and
    * Beyond", SoCC'14) — the deep-graph companion to
    * [[connectedComponents]]: rounds are O(log n) REGARDLESS of
    * diameter, where min-label propagation needs `diameter` rounds. A
    * 10k-link chain closes in ~10 alternations here and never finishes
    * there. Prefer min-label for shallow near-dup graphs (cheaper per
    * round: labels shuffle, not edges); prefer this when cluster depth
    * is unknown or unbounded.
    *
    * Both operators rewrite the EDGE set toward a star forest whose
    * roots are the component minima:
    *  - large-star (center u over ALL neighbors, m = min(N(u) ∪ {u})):
    *    every neighbor v > u re-points to m;
    *  - small-star (center u over SMALLER neighbors only, i.e. each
    *    edge keyed by its larger endpoint): those neighbors and u
    *    itself re-point to their min.
    * Each is ONE keyed shuffle — a window min over the center key — on
    * the canonical (u < v) edge table; both preserve connectivity and
    * strictly shrink a potential function, and the fixpoint (edge set
    * unchanged) is exactly the star forest (v, component-min). Convergence is checked with an
    * order-independent edge-set fingerprint — (count, XOR of row
    * hashes) — read in the same action that materializes the round's
    * edges, no extra compare join.
    *
    * SMALL GRAPHS take a driver-side union-find fast path: once the
    * canonical edge count is MEASURED at ≤ `smallGraphBound` (default
    * 10k — ~160 KB of (u, v) longs, the codebook/centroid class of
    * bounded driver state) and the id columns are integral, the edges
    * collect and label in one pass instead of paying the alternation's
    * per-round checkpoint actions — what a per-micro-batch in-batch
    * dedup (a handful of edges) costs in the streaming ingest loops.
    * The labels are identical by contract either way; pass
    * `smallGraphBound = 0` to force the distributed alternation (the
    * deep-chain spec and the sx13 bench workload do, so the
    * distributed path stays pinned and measured).
    *
    * Output contract matches [[connectedComponents]] exactly:
    * (doc_id, component) for every id in `pairs`, component = minimum
    * reachable id (equivalence pinned property-style in DedupSpec). */
  def connectedComponentsStar(pairs: DataFrame, maxIter: Int = 50,
                              smallGraphBound: Long = SmallGraphEdgeBound): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge.rebindSession
    val caller = pairs.sparkSession
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK

    def canonical(df: DataFrame): DataFrame =
      df.select(least(col("a"), col("b")).as("u"),
          greatest(col("a"), col("b")).as("v"))
        .filter(col("u") =!= col("v"))
        .distinct()

    // One star rewrite; `large` selects which operator. The per-center
    // neighborhood min rides a WINDOW (one shuffle) instead of a
    // groupBy + join-back (two shuffles of the same rows); `dedup`
    // controls the canonicalizing distinct — the inner op of each
    // alternation skips it (duplicate edges don't change any min; one
    // distinct per alternation, on the final set, suffices).
    def star(e: DataFrame, large: Boolean, dedup: Boolean): DataFrame = {
      val byC = org.apache.spark.sql.expressions.Window.partitionBy("c")
      val rewritten = if (large) {
        // centers see ALL neighbors; only larger neighbors re-point
        e.select(col("u").as("c"), col("v").as("n"))
          .union(e.select(col("v").as("c"), col("u").as("n")))
          .withColumn("m", least(min(col("n")).over(byC), col("c")))
          .filter(col("n") > col("c"))
          .select(col("n").as("a"), col("m").as("b"))
      } else {
        // centers keyed by the LARGER endpoint; smaller neighbors and
        // the center itself re-point to the neighborhood min — both
        // emissions in ONE pass over the windowed rows (a second
        // reference would re-run the window shuffle)
        e.select(col("v").as("c"), col("u").as("n"))
          .withColumn("m", min(col("n")).over(byC))
          .select(explode(array(
            struct(col("n").as("a"), col("m").as("b")),
            struct(col("c").as("a"), col("m").as("b")))).as("p"))
          .select(col("p.a").as("a"), col("p.b").as("b"))
      }
      val canon = rewritten.filter(col("a") =!= col("b"))
        .select(least(col("a"), col("b")).as("u"),
          greatest(col("a"), col("b")).as("v"))
      if (dedup) canon.distinct() else canon
    }

    // edge-set fingerprint, computed in the SAME action that
    // materializes the persisted round: bit-xor is order-independent
    // and overflow-free (ANSI-safe, unlike sum)
    def fingerprint(e: DataFrame): (Long, Long) = {
      val r = e.agg(count(lit(1)),
        coalesce(bit_xor(xxhash64(col("u"), col("v"))), lit(0L))).first()
      (r.getLong(0), r.getLong(1))
    }

    // persist the RAW pair projection once: the caller's plan (in the
    // ingest loops a broadcast-heavy lazy probe union) is evaluated a
    // single time, and every later reference — canonical edges, the id
    // universe, the isolates anti-join — reads the cached rows instead
    // of re-running the whole subtree (measured: ~1/3 of st5's
    // in-batch-cc jobs were exactly these re-evaluations)
    val p0 = pairs.select(col("id1").as("a"), col("id2").as("b")).persist(lvl)
    // id universe in ONE pass over p0 (explode, not a 2-scan self-union)
    def idUniverse: DataFrame = p0
      .select(explode(array(col("a"), col("b"))).as("doc_id")).distinct()
    val edges0 = canonical(p0).persist(lvl)
    var edges: DataFrame = edges0
    try {
      val nEdges = edges0.count()
      if (nEdges == 0L) {
        // fast path: no canonical edges → every id labels itself. Skips
        // the fingerprint action and the forest/isolates anti-join — a
        // per-micro-batch saving in the ingest loops, where most
        // batches carry no in-batch dup edges.
        val ids = idUniverse
          .select(col("doc_id"), col("doc_id").as("component"))
        return rebindSession(ids.localCheckpoint(true), caller)
      }
      val integralIds = Seq("id1", "id2").forall(c =>
        pairs.schema(c).dataType match {
          case org.apache.spark.sql.types.LongType |
               org.apache.spark.sql.types.IntegerType |
               org.apache.spark.sql.types.ShortType => true
          case _ => false
        })
      if (nEdges <= smallGraphBound && integralIds) {
        // SMALL-GRAPH path: the edge count is MEASURED above before
        // anything moves, so this collect is explicitly bounded
        // (≤10k (u,v) longs ≈ 160 KB — the codebook/centroid class of
        // driver state, not an unbounded data path). Union-find with
        // min-root labels produces EXACTLY the distributed fixpoint's
        // (doc_id, component-min) contract in one pass — for the
        // streaming ingest loops this turns the per-micro-batch CC
        // (fingerprint + N star alternations, each a checkpoint action
        // and two window shuffles) into one collect and one broadcast
        // join. Graphs past the bound take the distributed alternation
        // below, unchanged.
        val es = edges0.selectExpr("cast(u as long) u", "cast(v as long) v")
          .collect().map(r => (r.getLong(0), r.getLong(1)))
        val parent = scala.collection.mutable.HashMap.empty[Long, Long]
        def find(x: Long): Long = {
          var r = x
          while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
          var c = x
          while (parent.getOrElse(c, c) != c) {
            val nxt = parent.getOrElse(c, c); parent(c) = r; c = nxt
          }
          r
        }
        es.foreach { case (u, v) =>
          val (ru, rv) = (find(u), find(v))
          if (ru != rv) { // min id becomes the root → component = min
            if (ru < rv) parent(rv) = ru else parent(ru) = rv
          }
        }
        val nodes = es.iterator.flatMap(e => Iterator(e._1, e._2)).toArray.distinct
        val forestRows = nodes.map(n => (n, find(n)))
        import caller.implicits._
        val idType = pairs.schema("id1").dataType
        val forest = forestRows.toSeq.toDF("doc_id", "component")
          .select(col("doc_id").cast(idType).as("doc_id"),
            col("component").cast(idType).as("component"))
        // ids appearing only in self-pairs label themselves — contract
        // parity with the distributed path (one anti-join, broadcast
        // side is the bounded forest)
        val isolates = idUniverse
          .join(broadcast(forest.select("doc_id")), Seq("doc_id"), "left_anti")
          .select(col("doc_id"), col("doc_id").as("component"))
        return forest.union(isolates).localCheckpoint(true)
      }
      // loop re-plans against a frontier-sized CLONED session — the
      // caller's conf is never touched (see [[loopSession]])
      val clone = loopSession(caller, nEdges)
      edges = rebindSession(edges0, clone)

      var fp = fingerprint(edges)
      var converged = false
      var iter = 0
      while (!converged && iter < maxIter) {
        // localCheckpoint EVERY round, not every k: each star op
        // references its input ~4 times (bidirectional union + join +
        // mins), so an uncheckpointed round would grow the LOGICAL plan
        // ~9× per alternation — Catalyst analysis (DeduplicateRelations)
        // goes exponential long before execution is the problem. The
        // checkpoint truncates the plan to a leaf; its job is also the
        // round's materialization.
        val next = star(star(edges, large = true, dedup = false),
            large = false, dedup = true)
          .localCheckpoint(true)
        val nfp = fingerprint(next) // reads the checkpointed blocks
        edges.unpersist(blocking = false)
        edges = next
        converged = nfp == fp
        fp = nfp
        iter += 1
      }
      if (!converged) throw new IllegalStateException(
        s"connectedComponentsStar did not converge within maxIter=$maxIter " +
          "alternations — pathological for O(log n) convergence; raise maxIter.")
      // fixpoint edge set IS the star forest: v → root u (= component
      // min), roots label themselves
      val forest = edges.select(col("v").as("doc_id"), col("u").as("component"))
        .union(edges.select(col("u").as("doc_id"), col("u").as("component")).distinct())
      // ids present in `pairs` but in NO canonical edge (nodes that
      // appear only in self-pairs, which the u≠v filter drops) label
      // themselves — output-contract parity with [[connectedComponents]],
      // which emits a row for every id in `pairs`. One anti-join, once,
      // after the loop; the cached p0 rebinds into the loop session so
      // the join doesn't mix sessions.
      val isolates = rebindSession(idUniverse, edges.sparkSession)
        .join(forest.select("doc_id"), Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("doc_id").as("component"))
      // rebound to the CALLER's session for downstream composition
      rebindSession(forest.union(isolates).localCheckpoint(true), caller)
    } finally {
      edges0.unpersist(blocking = false)
      p0.unpersist(blocking = false)
    }
  }

  /** Exact Jaccard similarity of two precomputed distinct-shingle arrays. */
  def jaccard(a: Column, b: Column): Column =
    when(size(array_union(a, b)) === 0, 0.0)
      .otherwise(size(array_intersect(a, b)).cast("double") /
        size(array_union(a, b)).cast("double"))

  /** The MinHash pipeline's shared intermediates, handed to
    * [[withMinhashPipeline]]'s callback while the shingle table is
    * persisted. `scored` = candidate pairs with exact Jaccard;
    * `buckets` = the UNcapped banded bucket table (for
    * [[lshDropStats]] drop accounting). */
  final case class MinhashPipeline(scored: DataFrame, buckets: DataFrame, maxBucket: Int) {
    def dropStats: DataFrame = lshDropStats(buckets, "docs", maxBucket)
  }

  /** Scoped MinHash-LSH pipeline: persists the shingle table once (the
    * signature pass, both verify-join sides, and the drop-stats agg all
    * read it), runs `use`, and ALWAYS unpersists on the way out — no
    * storage blocks outlive the call (DedupSpec pins this via
    * getPersistentRDDs). The caller must materialize everything it
    * needs inside `use`; DataFrames that escape will silently recompute
    * from scratch.
    *
    * This is also the real-pipeline shape at 100 TB — the shingle
    * table is a materialized intermediate (checkpointed there,
    * MEMORY_AND_DISK here; a few KB per doc, LRU-evicted when cold),
    * released as soon as the pass that needs it completes. */
  def withMinhashPipeline[T](docs: DataFrame, idCol: String, textCol: String,
                             shingleK: Int = 3, numHashes: Int = 64,
                             bands: Int = 16, maxBucket: Int = 1000)
                            (use: MinhashPipeline => T): T = {
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val sh = docs.select(col(idCol).as("sid"), shingles(col(textCol), shingleK).as("sh"))
      .persist(lvl)
    // the bucket table is persisted too: candidates AND drop stats read
    // it, and without the cache each consumer re-runs the whole
    // signature aggregation (it's bands rows per distinct signature —
    // tiny next to the shingle table)
    val buckets = minhashBuckets(sh, numHashes, bands).persist(lvl)
    try use(MinhashPipeline(
      scoredFromBuckets(sh, buckets, maxBucket), buckets, maxBucket))
    finally {
      buckets.unpersist(blocking = false)
      sh.unpersist(blocking = false)
    }
  }

  /** All LSH candidate pairs with their exact Jaccard — the shared
    * tail for candidate statistics and thresholded near-dup extraction
    * (one pipeline, so callers never run the signature pass twice).
    *
    * Lazy/unpersisted form: the shingle construction re-evaluates on
    * each of its three consumers. Prefer [[withMinhashPipeline]] when
    * the result is consumed eagerly — it persists the shingle table
    * for the duration of the call and releases it after. */
  def minhashScoredCandidates(docs: DataFrame, idCol: String, textCol: String,
                              shingleK: Int = 3, numHashes: Int = 64,
                              bands: Int = 16): DataFrame = {
    val sh = docs.select(col(idCol).as("sid"), shingles(col(textCol), shingleK).as("sh"))
    scoredFromShingles(sh, numHashes, bands, maxBucket = 1000)
  }

  private def scoredFromShingles(sh: DataFrame, numHashes: Int, bands: Int,
                                 maxBucket: Int): DataFrame =
    scoredFromBuckets(sh, minhashBuckets(sh, numHashes, bands), maxBucket)

  /** Exact-Jaccard verify join over candidates derived from an
    * existing bucket table. */
  private def scoredFromBuckets(sh: DataFrame, buckets: DataFrame,
                                maxBucket: Int): DataFrame = {
    val cands = candidatesFromBuckets(buckets, "docs", maxBucket)
    // broadcast the CANDIDATE side, not the shingle table: pairs are
    // the post-LSH survivors (orders of magnitude fewer than docs);
    // without the hint Spark broadcasts the full shingle table —
    // harmless at test SF, exactly backwards at 100 TB (and if cands
    // ever outgrew the broadcast limit, AQE's sort-merge fallback on
    // the UNhinted join keys is the right degradation)
    broadcast(cands)
      .join(sh.select(col("sid").as("id1"), col("sh").as("sh1")), "id1")
      .join(sh.select(col("sid").as("id2"), col("sh").as("sh2")), "id2")
      .withColumn("jaccard", jaccard(col("sh1"), col("sh2")))
      .select(col("id1"), col("id2"), col("jaccard"))
  }

  /** Full MinHash-LSH near-dup pass: candidates → verify with exact
    * Jaccard on shingle sets → pairs with jaccard >= threshold.
    *
    * EAGER: runs through [[withMinhashPipeline]] (the shingle table —
    * the pass's dominant cost — is persisted once and read by the
    * signature pass and both verify-join sides, instead of
    * re-shingling 3× as the bare lazy plan would) and the tiny
    * surviving pair table is localCheckpoint-materialized before the
    * scope releases its caches. This mirrors the real pipeline shape:
    * near-dup pairs are a materialized intermediate (the input of
    * keep-first filtering / [[connectedComponents]]), not a plan to
    * re-derive per consumer. */
  def minhashNearDups(docs: DataFrame, idCol: String, textCol: String,
                      threshold: Double = 0.7, shingleK: Int = 3,
                      numHashes: Int = 64, bands: Int = 16): DataFrame =
    withMinhashPipeline(docs, idCol, textCol, shingleK, numHashes, bands) { p =>
      p.scored
        .filter(col("jaccard") >= threshold)
        .select(col("id1"), col("id2"), round(col("jaccard"), 4).as("jaccard"))
        .localCheckpoint(true)
    }

  /** Build a PERSISTED MinHash-LSH corpus index at `path` — the
    * incremental-dedup shape for a standing corpus: signatures and
    * shingles compute ONCE at build, and every future ingest batch
    * dedups against the index ([[minhashNearDupsAgainstIndex]])
    * without touching corpus text again. Layout:
    *
    *  - `buckets/`  — exploded (band, bh, doc) rows, the LSH probe
    *    target (a plain keyed equi-join at read time);
    *  - `shingles/` — (doc, sh), the exact-Jaccard verify side;
    *  - `drop_stats/` — loss accounting for buckets over `maxBucket`,
    *    excluded at BUILD time (boilerplate mega-clusters would
    *    quadratically blow up every future batch; their ids belong to
    *    an exact-dup pass instead) — measured, not silent. One row per
    *    write (build + each append): `n_dropped_doc_slots` sums
    *    exactly; the distinct-count columns are per-write gauges whose
    *    sum is an UPPER bound (the same bucket over-cap in several
    *    writes counts once per write) — a compaction rebuild resets
    *    them to exact;
    *  - `_index.json` — the build knobs ([[IndexControl]]), validated
    *    on every probe/append (mismatched key knobs compute keys that
    *    match nothing — an error, never an empty result). Written LAST:
    *    it is also the build's commit marker.
    *
    * Singleton buckets ARE indexed (unlike the batch pass): an
    * incoming doc must be able to match a corpus doc that had no
    * in-corpus near-dup. */
  /** The stored build parameters of an index at `path`, as a name→value
    * map — the read half of the params contract: consumers that should
    * FOLLOW the index's knobs instead of asserting their own (e.g. the
    * streaming ingest loop) read them here, so an index built with
    * tuned parameters is usable without re-threading every knob. Throws
    * (via the same fail-loud path as [[requireIndexParams]]) on a
    * params-less / half-built index. */
  def readIndexParams(spark: org.apache.spark.sql.SparkSession,
                      path: String): Map[String, Long] =
    IndexControl.read(spark, path).params

  private[operators] def requireIndexParams(spark: org.apache.spark.sql.SparkSession,
                                            path: String, params: (String, Long)*): Unit = {
    val stored = readIndexParams(spark, path)
    params.foreach { case (k, v) =>
      val s = IndexControl.param(stored, path, k)
      require(s == v,
        s"index at $path was built with $k=$s but probed with $k=$v — " +
          "keys would match nothing; probe with the build parameters")
    }
  }

  /** Every index table is laid out as ONE parquet dataset partitioned
    * by `batch_id` (the build is batch 0; each append is its own batch
    * directory). The partition directory is the append's idempotency
    * unit: writing a batch is an OVERWRITE of `<table>/batch_id=N`, so
    * a retried batch REPLACES its own earlier (possibly partial) rows
    * instead of stacking duplicates — at-least-once ingest loops stop
    * bloating the index and double-counting `drop_stats/`. Readers see
    * the plain union of all batch directories (batch_id is a partition
    * column consumers simply don't select). */
  private def writeIndexTable(df: DataFrame, tableDir: String,
                              batch: Option[Long]): Unit = batch match {
    case None =>
      // fresh build: batch -1, RESERVED for the build — streaming
      // micro-batch ids start at 0, so an ingest loop's first append
      // must never be able to replace the corpus build's partition
      df.withColumn("batch_id", lit(-1L))
        .write.partitionBy("batch_id").mode("overwrite").parquet(tableDir)
    case Some(b) =>
      // append/replace of one batch: overwrite ITS partition dir only.
      // Manifest governance happens ONE level up — the index's unit of
      // consistency is the whole sub-table triple, so the commit is a
      // single Snapshot.stagedAppend around ALL the sub-table writes
      // (writeMinhashIndexTables / writeEmbeddingIndexTables), never a
      // per-sub-table publish (three non-atomic flips would let a
      // probe see batch N's buckets without its shingles).
      df.write.mode("overwrite").parquet(s"$tableDir/batch_id=$b")
  }

  /** Manifest-aware read of one index sub-table: on a snapshot-enabled
    * index the sub-table resolves through the index's ROOT manifest
    * ([[Snapshot.readSub]] — one manifest governs the whole triple);
    * non-enabled indexes keep the plain directory-union read. One
    * helper so every probe/maintenance read in this file gets
    * isolation the moment an index is enabled. */
  private def readIndexTable(spark: org.apache.spark.sql.SparkSession,
                             indexPath: String, table: String): DataFrame =
    Snapshot.readSub(spark, indexPath, table)

  /** The one write sequence for the minhash index tables — shared by
    * build (batch = None → full overwrite as batch 0) and append
    * (batch = Some(id) → replace that batch's directories) so the two
    * paths cannot drift. */
  private def writeMinhashIndexTables(sh: DataFrame, buckets: DataFrame,
                                      path: String, maxBucket: Int,
                                      batch: Option[Long]): Unit = {
    def writeAll(b: Option[Long]): Unit = {
      writeIndexTable(lshDropStats(buckets, "docs", maxBucket).coalesce(1),
        s"$path/drop_stats", b)
      writeIndexTable(sh, s"$path/shingles", b)
      writeIndexTable(
        buckets.filter(size(col("docs")) <= maxBucket)
          .select(col("band"), col("bh"), explode(col("docs")).as("doc"))
          .repartition(col("band"), col("bh")),
        s"$path/buckets", b)
    }
    batch match {
      case None => writeAll(None)
      case Some(b) =>
        // ONE root-manifest commit for the whole triple on enabled
        // indexes; redelivered committed batch ids are a no-op
        // (Snapshot.stagedAppend)
        Snapshot.stagedAppend(sh.sparkSession, path, b)(writeAll(Some(b)))
    }
  }

  def buildMinhashIndex(docs: DataFrame, idCol: String, textCol: String,
                        path: String, shingleK: Int = 3, numHashes: Int = 64,
                        bands: Int = 16, maxBucket: Int = 1000): Unit = {
    // drop the OLD commit marker before touching tables: an in-place
    // rebuild (the documented compaction path) must fail validation if
    // interrupted, not pass it on the stale marker (see
    // [[IndexControl.clear]]); probes pause during a rebuild
    IndexControl.clear(docs.sparkSession, path)
    // a rebuild resets content to batch -1 AND resets the manifest
    // HISTORY (Snapshot.clearManifests): a surviving stale root
    // manifest would point readers at deleted batch dirs and make
    // stagedAppend silently no-op post-rebuild appends that reuse
    // micro-batch ids. A previously enabled index re-seeds a fresh
    // root manifest from the rebuilt layout afterwards (probes pause
    // during a rebuild either way).
    val wasEnabled = Snapshot.isEnabled(docs.sparkSession, path)
    Snapshot.clearManifests(docs.sparkSession, path)
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val sh = docs.select(col(idCol).as("doc"), shingles(col(textCol), shingleK).as("sh"))
      .persist(lvl)
    try {
      val buckets = minhashBuckets(
        sh.select(col("doc").as("sid"), col("sh")), numHashes, bands).persist(lvl)
      try {
        writeMinhashIndexTables(sh, buckets, path, maxBucket, batch = None)
        if (wasEnabled) Snapshot.enableSub(docs.sparkSession, path, "buckets")
        // params LAST: the commit marker
        IndexControl.write(docs.sparkSession, path, IndexControl(Map(
          "shingle_k" -> shingleK, "num_hashes" -> numHashes, "bands" -> bands,
          "max_bucket" -> maxBucket)))
      } finally buckets.unpersist(blocking = false)
    } finally sh.unpersist(blocking = false)
  }

  /** Auto-assigned batch id for appends whose caller supplies none:
    * unique per call (wall-clock nanos + a process counter), so legacy
    * no-batch-id appends keep their old semantics — each call lands its
    * own rows; RETRYING such a call appends a second copy (the probe
    * tolerates duplicate index rows, but prefer an explicit batchId,
    * which makes the retry a no-op replace). */
  private val appendCounter = new java.util.concurrent.atomic.AtomicLong()
  private def autoBatchId(): Long =
    System.currentTimeMillis() * 1000 + (appendCounter.incrementAndGet() % 1000)

  /** APPEND a (deduplicated) batch to a [[buildMinhashIndex]] corpus
    * index — the write half of the standing ingest loop:
    * probe ([[minhashNearDupsAgainstIndex]]) → drop dups → append the
    * survivors → next batch sees them. Key parameters (shingleK,
    * numHashes, bands — the ones that shape bucket keys) are validated
    * against the stored `_index.json`; `maxBucket` is NOT validated — it
    * only caps this batch's bucket fanout, and raising it on later
    * batches after reading `drop_stats/` is legitimate.
    *
    * Idempotency contract: with an explicit `batchId` (what a
    * foreachBatch ingest loop passes — its micro-batch id), the append
    * is a REPLACE of that batch's partition directories, so an
    * at-least-once retry of the same batch leaves index row counts and
    * `drop_stats/` unchanged instead of stacking duplicates. The
    * replace itself is still not atomic across the three tables — a
    * crash mid-append leaves a partial batch — but the NEXT retry of
    * the same batchId repairs it in place. Without a batchId each call
    * gets a fresh auto id (legacy accumulate semantics). The periodic
    * compaction ([[buildMinhashIndex]] rebuild) remains the global
    * reconciliation point and re-applies the global `maxBucket` cap,
    * which appends only enforce within their batch. */
  def appendToMinhashIndex(docs: DataFrame, idCol: String, textCol: String,
                           path: String, shingleK: Int = 3, numHashes: Int = 64,
                           bands: Int = 16, maxBucket: Int = 1000,
                           batchId: Option[Long] = None): Unit = {
    requireIndexParams(docs.sparkSession, path, "shingle_k" -> shingleK,
      "num_hashes" -> numHashes, "bands" -> bands)
    appendToMinhashIndexPrechecked(docs, idCol, textCol, path, shingleK,
      numHashes, bands, maxBucket, batchId)
  }

  /** [[appendToMinhashIndex]] minus the per-call `_index.json` validation
    * read — for the streaming loops that validated at stream start
    * (per-micro-batch params reads are scheduler tax; see
    * [[minhashProbePrechecked]]). */
  private[graft] def appendToMinhashIndexPrechecked(
      docs: DataFrame, idCol: String, textCol: String, path: String,
      shingleK: Int, numHashes: Int, bands: Int, maxBucket: Int,
      batchId: Option[Long]): Unit = {
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val sh = docs.select(col(idCol).as("doc"), shingles(col(textCol), shingleK).as("sh"))
      .persist(lvl)
    try {
      val buckets = minhashBuckets(
        sh.select(col("doc").as("sid"), col("sh")), numHashes, bands).persist(lvl)
      try writeMinhashIndexTables(sh, buckets, path, maxBucket,
        batch = Some(batchId.getOrElse(autoBatchId())))
      finally buckets.unpersist(blocking = false)
    } finally sh.unpersist(blocking = false)
  }

  /** Hadoop-FS delete + rename for the compaction swap. */
  private def fsFor(spark: org.apache.spark.sql.SparkSession,
                    path: String): org.apache.hadoop.fs.FileSystem =
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** COMPACT a batch-partitioned index in place: fold the build + all
    * append partitions back into ONE fresh batch (-1), re-applying the
    * GLOBAL `maxBucket` cap that appends could only enforce within
    * their own batch, and resetting `drop_stats/` to exact. The input
    * is the index's OWN `<dataTable>/` rows — at 100 TB nobody re-reads
    * the corpus to compact an index; the stored shingles/vectors are
    * the materialized intermediates precisely so maintenance never
    * touches corpus text again.
    *
    * Crash discipline: the compacted tables are staged under
    * `_compact_tmp/` while the live tables (and the commit marker) are
    * still intact; only then is the marker dropped, the live tables
    * swapped for the staged ones (cheap FS renames), and the marker
    * rewritten. A crash before the marker drop leaves the old index
    * fully live; a crash inside the swap window leaves a marker-less
    * index that [[requireIndexParams]] rejects loudly — rerun the
    * compaction to repair. Probes must pause for the swap window, same
    * as an in-place rebuild.
    *
    * `dataTable`/`rebuild` parameterize the two index layouts: minhash
    * (shingles/) and embedding (vectors/). */
  private def compactIndex(spark: org.apache.spark.sql.SparkSession, path: String,
                           dataTable: String,
                           rebuild: (DataFrame, String) => Unit): Unit = {
    val fs = fsFor(spark, path)
    val tmp = s"$path/_compact_tmp"
    fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
    // one row per doc: a doc re-appended under several auto batch ids
    // (legacy no-batchId retries) folds to one copy — compaction IS the
    // reconciliation point for that documented accumulate semantics
    val rows = readIndexTable(spark, path, dataTable)
      .select(col("doc"), col(if (dataTable == "shingles") "sh" else "vec"))
      .dropDuplicates("doc")
    rebuild(rows, tmp) // stage the fresh build; live tables untouched
    IndexControl.clear(spark, path) // probes now fail loudly
    // the swap replaces each sub-table directory wholesale; an enabled
    // index re-seeds its ROOT manifest on the fresh layout afterwards,
    // or compaction would leave a stale manifest pointing at batch
    // dirs the swap just deleted. Pinned readers do not survive an
    // index-wide compaction (probes pause — scaladoc above).
    val wasEnabled = Snapshot.isEnabled(spark, path)
    Snapshot.clearManifests(spark, path) // history resets with the fold
    Seq(dataTable, "buckets", "drop_stats").foreach { t =>
      fs.delete(new org.apache.hadoop.fs.Path(s"$path/$t"), true)
      fs.rename(new org.apache.hadoop.fs.Path(s"$tmp/$t"),
        new org.apache.hadoop.fs.Path(s"$path/$t"))
    }
    fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
    if (wasEnabled) Snapshot.enableSub(spark, path, dataTable)
  }

  /** Compact a [[buildMinhashIndex]] index in place from its own
    * `shingles/` table — build + N appends become one batch, global
    * `maxBucket` re-applied, probe results identical to a fresh build
    * over the same docs (pinned in DedupSpec). */
  def compactMinhashIndex(spark: org.apache.spark.sql.SparkSession,
                          path: String): Unit = {
    val ctl = IndexControl.read(spark, path)
    def p(key: String) = IndexControl.param(ctl.params, path, key).toInt
    val (k, nh, bands) = (p("shingle_k"), p("num_hashes"), p("bands"))
    val cap = ctl.params.getOrElse("max_bucket", 1000L).toInt
    compactIndex(spark, path, "shingles", (sh, tmp) => {
      val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
      val shP = sh.persist(lvl)
      try {
        val buckets = minhashBuckets(
          shP.select(col("doc").as("sid"), col("sh")), nh, bands).persist(lvl)
        try writeMinhashIndexTables(shP, buckets, tmp, cap, batch = None)
        finally buckets.unpersist(blocking = false)
      } finally shP.unpersist(blocking = false)
    })
    IndexControl.write(spark, path, ctl) // marker LAST — the index is live again
  }

  /** Compact a [[buildEmbeddingIndex]] index in place from its own
    * `vectors/` table — the embedding twin of [[compactMinhashIndex]]. */
  def compactEmbeddingIndex(spark: org.apache.spark.sql.SparkSession,
                            path: String): Unit = {
    val ctl = IndexControl.read(spark, path)
    def p(key: String) = IndexControl.param(ctl.params, path, key).toInt
    val (bits, tables, dim) = (p("bits"), p("tables"), p("dim"))
    val cap = ctl.params.getOrElse("max_bucket", 1000L).toInt
    compactIndex(spark, path, "vectors", (dv, tmp) => {
      val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
      val dvP = dv.persist(lvl)
      try {
        val buckets = embeddingIndexBuckets(dvP, bits, dim, tables).persist(lvl)
        try writeEmbeddingIndexTables(dvP, buckets, tmp, cap, batch = None)
        finally buckets.unpersist(blocking = false)
      } finally dvP.unpersist(blocking = false)
    })
    IndexControl.write(spark, path, ctl)
  }

  /** Near-dups of an INCOMING batch against a [[buildMinhashIndex]]
    * corpus — cross pairs only (batch-internal dups are
    * [[minhashNearDups]]' job). The ingest-time dedup discipline at
    * 100 TB: the corpus is touched only through the index (banded
    * probe join + shingle verify join), never re-shingled; the
    * incoming batch — orders of magnitude smaller than the corpus —
    * broadcasts into both joins, so the corpus side streams with no
    * shuffle. Returns (in_doc, corpus_doc, jaccard), eagerly
    * materialized (the tiny output of an expensive pass — the
    * [[minhashNearDups]] convention).
    *
    * SELF-matches (in_doc == corpus_doc) are excluded: ids are the
    * corpus's unique keys, so an incoming doc whose own id is already
    * indexed is a REPLAY of a batch that already appended (standard
    * at-least-once redelivery), not a duplicate of other content —
    * without the exclusion every replayed survivor would self-match at
    * jaccard 1.0 and the ingest loop would silently drop the whole
    * redelivered batch from the sink. */
  def minhashNearDupsAgainstIndex(incoming: DataFrame, idCol: String,
                                  textCol: String, indexPath: String,
                                  threshold: Double = 0.7, shingleK: Int = 3,
                                  numHashes: Int = 64, bands: Int = 16,
                                  maxBucket: Option[Int] = None): DataFrame =
    minhashNearDupsAgainstIndexWithStats(incoming, idCol, textCol, indexPath,
      threshold, shingleK, numHashes, bands, maxBucket).pairs

  /** A probe's output pair table plus its GROWN-bucket drop accounting
    * (one row: n_skipped_buckets, n_docs_in_skipped_buckets,
    * max_bucket). `pairs` is eagerly materialized; `probeDropStats` is
    * a lazy one-row agg over the probe's checkpointed grown-bucket
    * table — deterministic, cheap, and free for callers that never
    * read it. */
  final case class IndexProbeResult(pairs: DataFrame, probeDropStats: DataFrame)

  /** [[minhashNearDupsAgainstIndex]] with the probe-side cap's drop
    * accounting returned alongside the pairs.
    *
    * PROBE-SIDE maxBucket enforcement (the append-path completion of
    * the build-time cap): each append caps buckets only WITHIN its own
    * batch partition, so a hot (band, bh) key can grow past the cap
    * across many small appends — and an uncapped probe of that key is
    * exactly the quadratic blowup the cap exists to prevent, reachable
    * in the steady-state ingest loop long before a compaction rebuild.
    * The probe therefore sizes the buckets it is about to read
    * ACROSS batch partitions — restricted to the incoming batch's own
    * (band, bh) keys, a broadcast-pruned keyed count, never a full
    * index pass — and skips over-cap keys, reporting what it skipped
    * instead of silently degrading (the write-side `drop_stats/`
    * convention). `maxBucket` defaults to the index's stored
    * `max_bucket` build knob. */
  def minhashNearDupsAgainstIndexWithStats(
      incoming: DataFrame, idCol: String, textCol: String, indexPath: String,
      threshold: Double = 0.7, shingleK: Int = 3, numHashes: Int = 64,
      bands: Int = 16, maxBucket: Option[Int] = None): IndexProbeResult = {
    val spark = incoming.sparkSession
    requireIndexParams(spark, indexPath, "shingle_k" -> shingleK,
      "num_hashes" -> numHashes, "bands" -> bands)
    val cap = maxBucket.getOrElse(
      readIndexParams(spark, indexPath).getOrElse("max_bucket", 1000L).toInt)
    minhashProbePrechecked(incoming, idCol, textCol, indexPath, threshold,
      shingleK, numHashes, bands, cap)
  }

  /** LAZY pair plan of the corpus probe — no persists, no checkpoints,
    * no drop-stats side output: for the unified ingest loop, which
    * materializes its batch-minus-dups frame ONCE per micro-batch
    * instead of paying each probe's internal checkpoint actions
    * (~6 scheduler jobs per batch on a fixed-cost audit). The shingle
    * subtree re-evaluates per consumer inside the caller's one action —
    * bounded by micro-batch size, the documented tradeoff of the lazy
    * form (cf. [[minhashScoredCandidates]]). Grown buckets are still
    * skipped, but silently; use [[minhashProbePrechecked]] when the
    * drop accounting must be observable. */
  private[graft] def minhashProbePairsLazy(
      incoming: DataFrame, idCol: String, textCol: String, indexPath: String,
      threshold: Double, shingleK: Int, numHashes: Int,
      bands: Int, cap: Int): DataFrame = {
    val spark = incoming.sparkSession
    val inSh = incoming
      .select(col(idCol).as("doc"), shingles(col(textCol), shingleK).as("sh"))
    val inBands = bandedDocRows(inSh, numHashes, bands)
      .select(col("doc").as("in_doc"), col("band"), col("bh"))
    val probed = inBands.select(col("band"), col("bh")).distinct()
    val grown = readIndexTable(spark, indexPath, "buckets")
      .join(broadcast(probed), Seq("band", "bh"), "left_semi")
      .groupBy(col("band"), col("bh"))
      .agg(countDistinct(col("doc")).as("_bsz"))
      .filter(col("_bsz") > cap)
    val inOk = inBands.join(broadcast(grown.select(col("band"), col("bh"))),
      Seq("band", "bh"), "left_anti")
    val cands = broadcast(inOk)
      .join(readIndexTable(spark, indexPath, "buckets"), Seq("band", "bh"))
      .filter(col("in_doc") =!= col("doc"))
      .select(col("in_doc"), col("doc")).distinct()
    broadcast(cands)
      .join(readIndexTable(spark, indexPath, "shingles"), "doc")
      .join(broadcast(inSh.select(col("doc").as("in_doc"), col("sh").as("in_sh"))),
        "in_doc")
      .withColumn("jaccard", jaccard(col("in_sh"), col("sh")))
      .filter(col("jaccard") >= threshold)
      .select(col("in_doc"), col("doc").as("corpus_doc"),
        round(col("jaccard"), 4).as("jaccard"))
      .dropDuplicates("in_doc", "corpus_doc")
  }

  /** [[minhashNearDupsAgainstIndexWithStats]] MINUS the per-call
    * `_index.json` round-trips — for callers that validated the index once
    * and own every probe/append against it (the streaming ingest
    * loops, which pay this per MICRO-BATCH: two params reads per
    * modality per batch are pure scheduler tax when the loop read
    * them at stream start). `cap` is the caller-supplied stored
    * `max_bucket`. */
  private[graft] def minhashProbePrechecked(
      incoming: DataFrame, idCol: String, textCol: String, indexPath: String,
      threshold: Double, shingleK: Int, numHashes: Int,
      bands: Int, cap: Int): IndexProbeResult = {
    val spark = incoming.sparkSession
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val inSh = incoming
      .select(col(idCol).as("doc"), shingles(col(textCol), shingleK).as("sh"))
      .persist(lvl) // probe + verify both read it; released on exit
    try {
      val inBands = bandedDocRows(inSh, numHashes, bands)
        .select(col("doc").as("in_doc"), col("band"), col("bh"))
        .persist(lvl) // sizing pass + candidate probe both read it
      try {
        // grown-bucket guard: size ONLY the probed keys, summing the
        // per-batch partition directories the appends wrote. The
        // broadcast semi-join prunes the scan to probed keys; only
        // (key, count) rows aggregate.
        val probed = inBands.select(col("band"), col("bh")).distinct()
        val grown = readIndexTable(spark, indexPath, "buckets")
          .join(broadcast(probed), Seq("band", "bh"), "left_semi")
          .groupBy(col("band"), col("bh"))
          .agg(countDistinct(col("doc")).as("_bsz"))
          .filter(col("_bsz") > cap)
          .localCheckpoint(true) // tiny: over-cap keys only
        // stats stay LAZY: a one-row agg over the already-checkpointed
        // `grown` — deterministic and cheap when a consumer reads it,
        // zero jobs when none does (the unified ingest loop)
        val probeDropStats = grown
          .agg(count(lit(1)).as("n_skipped_buckets"),
            coalesce(sum(col("_bsz")), lit(0L)).as("n_docs_in_skipped_buckets"),
            lit(cap.toLong).as("max_bucket"))
        val inOk = inBands.join(grown.select(col("band"), col("bh")),
          Seq("band", "bh"), "left_anti")
        val cands = broadcast(inOk)
          .join(readIndexTable(spark, indexPath, "buckets"), Seq("band", "bh"))
          .filter(col("in_doc") =!= col("doc")) // replay ≠ duplicate
          .select(col("in_doc"), col("doc")).distinct()
        val pairs = broadcast(cands)
          .join(readIndexTable(spark, indexPath, "shingles"), "doc")
          .join(inSh.select(col("doc").as("in_doc"), col("sh").as("in_sh")), "in_doc")
          .withColumn("jaccard", jaccard(col("in_sh"), col("sh")))
          .filter(col("jaccard") >= threshold)
          .select(col("in_doc"), col("doc").as("corpus_doc"),
            round(col("jaccard"), 4).as("jaccard"))
          // duplicate index rows (partial-append retry) must not produce
          // duplicate output pairs; exchange is tiny (survivors only)
          .dropDuplicates("in_doc", "corpus_doc")
          .localCheckpoint(true)
        IndexProbeResult(pairs, probeDropStats)
      } finally inBands.unpersist(blocking = false)
    } finally inSh.unpersist(blocking = false)
  }

  // -------------------------------------------------------------------
  // Corpus-level line dedup (boilerplate removal)
  // -------------------------------------------------------------------

  /** Remove every occurrence of lines repeated more than
    * `maxOccurrences` times ACROSS the corpus — the boilerplate pass of
    * the published web-pipeline recipes (nav bars, cookie banners,
    * "subscribe" footers repeat across thousands of pages; no per-doc
    * gauge can see that). Line identity is the sha256 of the
    * space-trimmed line; empty/whitespace-only lines are structure,
    * never counted or dropped, and surviving lines rejoin in their
    * original order.
    *
    * Scale shape: the count pass shuffles 32-byte line hashes (never
    * line text); the hot set — lines OVER the threshold — is bounded
    * by boilerplate diversity, tiny relative to the corpus, and
    * broadcasts into the anti-join. The reassembly is the one real
    * shuffle, line rows keyed by doc; that is inherent to cross-doc
    * line surgery (the per-doc alternative would need the hot set as
    * driver state, which nothing bounds a priori).
    *
    * Returns (idCol, textCol) with the cleaned text — column names
    * preserved so the pass composes with the other document
    * operators. */
  def dropRepeatedLines(docs: DataFrame, idCol: String, textCol: String,
                        maxOccurrences: Int = 2): DataFrame = {
    require(maxOccurrences >= 1, "maxOccurrences must be >= 1")
    val lines = docs.select(col(idCol).as("_doc"),
      posexplode(split(col(textCol), "\n")).as(Seq("_idx", "_line")))
    val hot = lines
      .filter(length(trim(col("_line"))) > 0)
      .groupBy(sha2(trim(col("_line")), 256).as("_k"))
      .agg(count(lit(1)).as("_n"))
      .filter(col("_n") > maxOccurrences)
      .select(col("_k"))
    val rebuilt = lines
      .join(broadcast(hot), sha2(trim(col("_line")), 256) === col("_k"), "left_anti")
      .groupBy(col("_doc"))
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("_idx"), col("_line")))),
          x => x.getField("_line")), "\n").as("_clean"))
    // a doc whose EVERY line was boilerplate has no surviving line rows
    // — restore it as empty text instead of silently dropping the row
    docs.select(col(idCol))
      .join(rebuilt, col(idCol) === col("_doc"), "left")
      .select(col(idCol), coalesce(col("_clean"), lit("")).as(textCol))
  }

  // -------------------------------------------------------------------
  // Benchmark contamination
  // -------------------------------------------------------------------

  /** Benchmark-contamination sweep: training documents that
    * near-duplicate an evaluation-benchmark item — the audit an LLM
    * data pipeline runs before training (the n-gram-overlap
    * decontamination of the published LM training recipes, here as the
    * same MinHash-verified k-shingle-Jaccard predicate as
    * [[minhashNearDups]], so the contamination gate and the dedup gate
    * agree on what "near-duplicate" means).
    *
    * Shape, chosen for the corpus : benchmark asymmetry (100 TB vs a
    * few MB by construction):
    *
    *  - the WHOLE benchmark side broadcasts — both its banded
    *    (band, bh) probe keys and its verify shingle sets;
    *  - the training corpus is scanned ONCE and never shuffled: the
    *    shingle array rides through the banding explode, so the LSH
    *    probe (broadcast hash join on (band, bh)) and the exact-Jaccard
    *    verify (broadcast join on bench_doc) both evaluate inside the
    *    scan's own pipeline. Non-colliding rows — the overwhelming
    *    majority — die at the probe join without leaving their stage;
    *    the bands-× amplification from the explode is transient
    *    pipelined compute, never materialized or shuffled state;
    *  - the only exchange is the final collapse of multi-band hits to
    *    one row per (train_doc, bench_doc) — map-side partial-agged,
    *    and bounded by the contamination actually present.
    *
    * Contrast [[minhashNearDupsAgainstIndex]]: that is the INCREMENTAL
    * shape (big persisted corpus index, small incoming batch); this is
    * the inverse one-shot sweep (tiny transient "index", full corpus
    * pass) — benchmarks change too often to amortize a persisted
    * corpus-side index against them.
    *
    * Returns (train_doc, bench_doc, jaccard ≥ threshold), one row per
    * contaminated pair. [[decontaminate]] is the write side;
    * per-benchmark contamination RATES are one groupBy over the report.
    */
  def contaminationReport(train: DataFrame, idCol: String, textCol: String,
                          bench: DataFrame, benchIdCol: String, benchTextCol: String,
                          threshold: Double = 0.7, shingleK: Int = 3,
                          numHashes: Int = 64, bands: Int = 16): DataFrame = {
    val bsh = bench.select(col(benchIdCol).as("doc"),
      shingles(col(benchTextCol), shingleK).as("sh"))
    val bBuckets = bandedDocRows(bsh, numHashes, bands)
      .select(col("band"), col("bh"), col("doc").as("bench_doc"))
    val bShingles = bsh.select(col("doc").as("bench_doc"), col("sh").as("bench_sh"))
    val tBanded = train
      .select(col(idCol).as("train_doc"), shingles(col(textCol), shingleK).as("sh"))
      .withColumn("sig", minhashSignatureArray(col("sh"), numHashes))
      .filter(col("sig").isNotNull) // null text never contaminates
      .select(col("train_doc"), col("sh"),
        explode(array(bandHashCols(col("sig"), numHashes, bands): _*)).as("b"))
      .select(col("train_doc"), col("sh"),
        col("b.band").as("band"), col("b.bh").as("bh"))
    tBanded
      .join(broadcast(bBuckets), Seq("band", "bh"))
      .join(broadcast(bShingles), Seq("bench_doc"))
      .withColumn("jaccard", jaccard(col("sh"), col("bench_sh")))
      .filter(col("jaccard") >= threshold)
      .groupBy(col("train_doc"), col("bench_doc"))
      .agg(round(max(col("jaccard")), 4).as("jaccard"))
  }

  /** Decontaminated training corpus: `train` minus every document
    * [[contaminationReport]] flags. Two passes over `train` (the sweep
    * and the output scan) — inherent to any filter whose predicate is a
    * global property of the corpus; the flagged-id table between them
    * is small and broadcasts into the anti-join.
    *
    * This is SIMILARITY decontamination (doc-level near-dup of a
    * benchmark doc); its complement is
    * [[Decontaminate.decontaminate]]'s n-gram COLLISION sweep, which
    * catches a short answer string leaked inside an otherwise-unrelated
    * document — invisible to whole-doc Jaccard. Run both. */
  def decontaminate(train: DataFrame, idCol: String, textCol: String,
                    bench: DataFrame, benchIdCol: String, benchTextCol: String,
                    threshold: Double = 0.7, shingleK: Int = 3,
                    numHashes: Int = 64, bands: Int = 16): DataFrame =
    train.join(
      broadcast(contaminationReport(train, idCol, textCol,
          bench, benchIdCol, benchTextCol,
          threshold, shingleK, numHashes, bands)
        .select(col("train_doc").as(idCol)).distinct()),
      Seq(idCol), "left_anti")

  // -------------------------------------------------------------------
  // SimHash
  // -------------------------------------------------------------------

  /** SimHash fingerprint over whitespace tokens, `bits` sign-bits packed
    * into a Long (bits <= 48 so the 2^i packing stays exact in double).
    * Bit i = sign( Σ_tok ±1 ), with the ±1 drawn from xxhash64(tok, i).
    */
  def simhash(text: Column, bits: Int = 32): Column = {
    val toks = T.tokens(text)
    val bitVals = transform(sequence(lit(0), lit(bits - 1)), i =>
      aggregate(toks, lit(0L), (acc, t) =>
        acc + when(pmod(xxhash64(t, i), lit(2)) === 0, 1L).otherwise(-1L)))
    aggregate(
      zip_with(bitVals, sequence(lit(0), lit(bits - 1)), (v, i) =>
        when(v >= 0, pow(lit(2.0), i).cast("long")).otherwise(lit(0L))),
      lit(0L), (acc, v) => acc + v)
  }

  /** Columnar SimHash: one row per doc with the packed `sig` Long —
    * explode tokens → codegen'd hash-agg of `bits` signed counters →
    * pack. Identical values to [[simhash]] (same per-token ±1 draws,
    * same bit packing), but the doubly-nested interpreted HOF
    * (bits × tokens lambda evals per row) becomes whole-stage codegen
    * with map-side partial aggregation. */
  def simhashWide(docs: DataFrame, idCol: String, textCol: String,
                  bits: Int = 32): DataFrame = {
    val counters = docs
      // NULL text coalesces to "" so explode never drops the doc (a
      // NULL would otherwise silently vanish from the signature table)
      .select(col(idCol).as("doc"),
        explode(T.tokens(coalesce(col(textCol), lit("")))).as("tok"))
      .groupBy("doc")
      .agg(
        sum(when(pmod(xxhash64(col("tok"), lit(0)), lit(2)) === 0, 1L).otherwise(-1L)).as("b0"),
        (1 until bits).map(i =>
          sum(when(pmod(xxhash64(col("tok"), lit(i)), lit(2)) === 0, 1L).otherwise(-1L)).as(s"b$i")): _*)
    counters.select(col("doc"),
      (0 until bits).map(i =>
          when(col(s"b$i") >= 0, lit(1L << i)).otherwise(lit(0L)))
        .reduce(_ + _).as("sig"))
  }

  /** Hamming distance between two packed fingerprints. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** Per-row one-pass SimHash (plans.SimHashExpr): value-identical to
    * [[simhashWide]]'s packed sig, no explode/agg shuffle, each token
    * hashed once. NULL text coalesces to "" like the wide form. */
  def simhashScalar(docs: DataFrame, idCol: String, textCol: String,
                    bits: Int = 32): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    docs.select(col(idCol).as("doc"),
      ColumnBridge.column(graft.plans.SimHashExpr(
        ColumnBridge.expression(T.tokens(coalesce(col(textCol), lit("")))), bits)).as("sig"))
  }

  /** UNcapped SimHash band-bucket table: (band, bh, ds) where ds is the
    * sorted array of (doc, sig) structs sharing that band slice — the
    * shared input of [[simhashNearDups]] and [[lshDropStats]]. */
  def simhashBuckets(docs: DataFrame, idCol: String, textCol: String,
                     bits: Int = 32, bands: Int = 4): DataFrame = {
    val r = bits / bands
    val withSig = simhashScalar(docs, idCol, textCol, bits)
    // band value = (sig >> (band*r)) & (2^r - 1); shift amount must be a
    // literal per Spark's shiftrightunsigned, so unroll the small loop.
    val bandCols = (0 until bands).map { b =>
      struct(lit(b).as("band"),
        shiftrightunsigned(col("sig"), b * r).bitwiseAND(lit((1L << r) - 1)).as("bh"))
    }
    withSig
      .select(struct(col("doc"), col("sig")).as("ds"), explode(array(bandCols: _*)).as("b"))
      .select(col("ds"), col("b.band").as("band"), col("b.bh").as("bh"))
      .groupBy("band", "bh")
      .agg(sort_array(collect_set(col("ds"))).as("ds"))
  }

  /** SimHash near-dup pairs: band the fingerprint into `bands` slices
    * (pigeonhole: hamming <= bands-1 guarantees >= 1 identical band),
    * group per (band, slice) bucket, generate in-bucket (doc, sig)
    * pairs, verify with full hamming. Same single-shuffle shape as
    * [[minhashCandidates]] — the signature computes once per doc.
    */
  def simhashNearDups(docs: DataFrame, idCol: String, textCol: String,
                      bits: Int = 32, bands: Int = 4,
                      maxHamming: Int = 3, maxBucket: Int = 1000): DataFrame = {
    val buckets = simhashBuckets(docs, idCol, textCol, bits, bands)
      .filter(size(col("ds")).between(2, maxBucket))
    bucketPairs(buckets, "ds")
      .select(col("_pair")(0).getField("doc").as("id1"),
        col("_pair")(1).getField("doc").as("id2"),
        hamming(col("_pair")(0).getField("sig"),
          col("_pair")(1).getField("sig")).as("hamming"))
      // verify BEFORE the dedup shuffle: hamming is a per-row bit_count
      // on values already in hand, so the distinct exchange carries
      // only true near-dups instead of every banded collision
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  // -------------------------------------------------------------------
  // Embedding near-dup (cosine)
  // -------------------------------------------------------------------

  /** UNcapped hyperplane-signature bucket table: (sig, dv) with dv the
    * sorted (doc, vec) structs sharing the signature — shared input of
    * [[embeddingNearDups]] and [[lshDropStats]] (keyCols = Seq("sig")).
    * The signature is the native loop expression
    * ([[V.hyperplaneSignatureNative]]): compact JIT-friendly codegen,
    * still a pure scalar computable in a scan filter for bucket
    * pruning. */
  def embeddingBuckets(embs: DataFrame, idCol: String, vecCol: String, dim: Int,
                       bits: Int = 12): DataFrame =
    embs.select(
      struct(col(idCol).as("doc"), col(vecCol).as("vec")).as("dv"),
      V.hyperplaneSignatureNative(col(vecCol), bits, dim).as("sig"))
      .groupBy("sig")
      .agg(sort_array(collect_list(col("dv"))).as("dv"))

  /** The multi-table hyperplane signature column set — ONE definition
    * (seeds 42+t), shared by the batch pass and the incremental index
    * so probes land in byte-identical buckets. */
  private def hyperplaneSigCols(vecCol: Column, bits: Int, dim: Int,
                                tables: Int): Seq[Column] = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    require(tables >= 1, "tables must be >= 1")
    (0 until tables).map { t =>
      struct(lit(t).as("t"),
        ColumnBridge.column(graft.plans.HyperplaneSignatureExpr(
          ColumnBridge.expression(vecCol), bits, dim, seed = 42L + t)).as("sig"))
    }
  }

  /** Embedding-cosine near-dups via hyperplane-LSH buckets: vectors in
    * the same signature bucket are compared exactly; cosine >= threshold
    * survives. Bucketing keys the shuffle — no n² pass.
    *
    * SINGLE-table form: recall for a pair at angle θ is (1-θ/π)^bits —
    * one unlucky hyperplane loses the pair. [[embeddingNearDupsMulti]]
    * is the standard completion for recall-critical pipelines.
    */
  def embeddingNearDups(embs: DataFrame, idCol: String, vecCol: String, dim: Int,
                        threshold: Double = 0.99, bits: Int = 12,
                        maxBucket: Int = 1000): DataFrame = {
    val buckets = embeddingBuckets(embs, idCol, vecCol, dim, bits)
      .filter(size(col("dv")).between(2, maxBucket))
    verifiedPairsFromBuckets(buckets, threshold)
  }

  private def verifiedPairsFromBuckets(buckets: DataFrame, threshold: Double): DataFrame =
    bucketPairs(buckets, "dv")
      .select(col("_pair")(0).getField("doc").as("id1"),
        col("_pair")(1).getField("doc").as("id2"),
        V.cosineSimilarityNative(col("_pair")(0).getField("vec"),
          col("_pair")(1).getField("vec")).as("cosine"))
      .filter(col("cosine") >= threshold)
      .distinct()
      .select(col("id1"), col("id2"), round(col("cosine"), 4).as("cosine"))

  /** MULTI-table hyperplane LSH near-dups: `tables` INDEPENDENT
    * signature tables (distinct hash seeds), candidates = union of
    * in-bucket pairs across tables, then one exact-cosine verify. For
    * a pair with per-bit agreement p = 1-θ/π, recall rises from
    * p^bits (single table) to 1-(1-p^bits)^tables — the knob that
    * makes recall a CHOICE instead of a bet on one draw, at `tables`×
    * the signature and shuffle cost. Verify-before-distinct keeps the
    * dedup exchange to true near-dups.
    *
    * Each table's signature is the same native expression with seed
    * 42+t, so everything stays scalar/scan-computable; the per-table
    * bucket explode is a UNION (one job, tables× the banding rows),
    * not `tables` sequential passes.
    *
    * Unlike the single-table path (verify-before-distinct, keeping the
    * dedup exchange to true near-dups), the multi-table union dedupes
    * the candidate (id1, id2) KEY set before verification: a pair
    * colliding in all `tables` tables would otherwise pay the exact
    * cosine `tables`× (r4 finding). The keys-only distinct exchange is
    * tiny; vectors rejoin once per surviving pair via broadcast of the
    * candidate set (the minhash verify-join shape).
    *
    * Caveat (measured in DedupSpec): the ±1 Rademacher draws are
    * adversarial for vectors living in FEW coordinates — a pair
    * differing in 2 coords is separated by each bit with probability
    * ½ regardless of its cosine. Dense embeddings follow the usual
    * 1-θ/π per-bit agreement; for sparse/axis-aligned data, lower
    * `bits` or raise `tables`.
    */
  def embeddingNearDupsMulti(embs: DataFrame, idCol: String, vecCol: String, dim: Int,
                             threshold: Double = 0.99, bits: Int = 12,
                             tables: Int = 4, maxBucket: Int = 1000): DataFrame = {
    val dv = struct(col(idCol).as("doc"), col(vecCol).as("vec")).as("dv")
    val sigCols = hyperplaneSigCols(col(vecCol), bits, dim, tables)
    val buckets = embs
      .select(dv, explode(array(sigCols: _*)).as("ts"))
      .groupBy(col("ts.t").as("t"), col("ts.sig").as("sig"))
      .agg(sort_array(collect_list(col("dv"))).as("dv"))
      .filter(size(col("dv")).between(2, maxBucket))
    // keys-only distinct across the table union, then ONE exact-cosine
    // verify per unique pair
    val cands = bucketPairs(buckets, "dv")
      .select(col("_pair")(0).getField("doc").as("id1"),
        col("_pair")(1).getField("doc").as("id2"))
      .distinct()
    broadcast(cands)
      .join(embs.select(col(idCol).as("id1"), col(vecCol).as("vec1")), "id1")
      .join(embs.select(col(idCol).as("id2"), col(vecCol).as("vec2")), "id2")
      .withColumn("cosine", V.cosineSimilarityNative(col("vec1"), col("vec2")))
      .filter(col("cosine") >= threshold)
      .select(col("id1"), col("id2"), round(col("cosine"), 4).as("cosine"))
  }

  /** Build a PERSISTED hyperplane-LSH embedding index at `path` — the
    * embedding twin of [[buildMinhashIndex]]: multi-table signatures
    * compute once at build; every future batch dedups against the
    * index without re-reading corpus vectors. Layout mirrors the
    * minhash index: `buckets/` = exploded (t, sig, doc) rows (vectors
    * NOT duplicated per table), `vectors/` = (doc, vec) for the
    * exact-cosine verify, `drop_stats/` = over-cap loss accounting
    * (keyed (t, sig)). Singleton buckets are indexed. */
  /** The one write sequence for the embedding index tables — shared by
    * build and append, mirroring [[writeMinhashIndexTables]]' batch
    * partition-directory discipline. */
  private def writeEmbeddingIndexTables(dv: DataFrame, buckets: DataFrame,
                                        path: String, maxBucket: Int,
                                        batch: Option[Long]): Unit = {
    def writeAll(b: Option[Long]): Unit = {
      writeIndexTable(
        lshDropStats(buckets, "docs", maxBucket, keyCols = Seq("t", "sig")).coalesce(1),
        s"$path/drop_stats", b)
      writeIndexTable(dv, s"$path/vectors", b)
      writeIndexTable(
        buckets.filter(size(col("docs")) <= maxBucket)
          .select(col("t"), col("sig"), explode(col("docs")).as("doc"))
          .repartition(col("t"), col("sig")),
        s"$path/buckets", b)
    }
    batch match {
      case None => writeAll(None)
      case Some(b) => // one root-manifest commit for the whole triple
        Snapshot.stagedAppend(dv.sparkSession, path, b)(writeAll(Some(b)))
    }
  }

  def buildEmbeddingIndex(embs: DataFrame, idCol: String, vecCol: String,
                          dim: Int, path: String, bits: Int = 12,
                          tables: Int = 4, maxBucket: Int = 1000): Unit = {
    // marker-first rebuild discipline — see [[IndexControl.clear]]
    IndexControl.clear(embs.sparkSession, path)
    val wasEnabled = Snapshot.isEnabled(embs.sparkSession, path) // see buildMinhashIndex
    Snapshot.clearManifests(embs.sparkSession, path)
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    // one corpus scan: the persisted (doc, vec) projection feeds both
    // the signature/bucket pass and the vectors/ write
    val dv = embs.select(col(idCol).as("doc"), col(vecCol).as("vec")).persist(lvl)
    try {
      val buckets = embeddingIndexBuckets(dv, bits, dim, tables).persist(lvl)
      try {
        writeEmbeddingIndexTables(dv, buckets, path, maxBucket, batch = None)
        if (wasEnabled) Snapshot.enableSub(embs.sparkSession, path, "buckets")
        // params LAST: the commit marker
        IndexControl.write(embs.sparkSession, path, IndexControl(Map(
          "bits" -> bits, "tables" -> tables, "dim" -> dim,
          "max_bucket" -> maxBucket)))
      } finally buckets.unpersist(blocking = false)
    } finally dv.unpersist(blocking = false)
  }

  private def embeddingIndexBuckets(dv: DataFrame, bits: Int, dim: Int,
                                    tables: Int): DataFrame =
    dv.select(col("doc"),
        explode(array(hyperplaneSigCols(col("vec"), bits, dim, tables): _*)).as("ts"))
      .select(col("ts.t").as("t"), col("ts.sig").as("sig"), col("doc"))
      .groupBy("t", "sig")
      .agg(sort_array(collect_set(col("doc"))).as("docs"))

  /** APPEND a (deduplicated) embedding batch to a
    * [[buildEmbeddingIndex]] corpus index — the embedding twin of
    * [[appendToMinhashIndex]], same idempotency contract: an explicit
    * `batchId` makes the append a replace of that batch's partition
    * directories, so at-least-once retries leave the index unchanged. */
  def appendToEmbeddingIndex(embs: DataFrame, idCol: String, vecCol: String,
                             dim: Int, path: String, bits: Int = 12,
                             tables: Int = 4, maxBucket: Int = 1000,
                             batchId: Option[Long] = None): Unit = {
    requireIndexParams(embs.sparkSession, path, "bits" -> bits,
      "tables" -> tables, "dim" -> dim)
    appendToEmbeddingIndexPrechecked(embs, idCol, vecCol, dim, path, bits,
      tables, maxBucket, batchId)
  }

  /** The embedding twin of [[appendToMinhashIndexPrechecked]]. */
  private[graft] def appendToEmbeddingIndexPrechecked(
      embs: DataFrame, idCol: String, vecCol: String, dim: Int, path: String,
      bits: Int, tables: Int, maxBucket: Int,
      batchId: Option[Long]): Unit = {
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val dv = embs.select(col(idCol).as("doc"), col(vecCol).as("vec")).persist(lvl)
    try {
      val buckets = embeddingIndexBuckets(dv, bits, dim, tables).persist(lvl)
      try writeEmbeddingIndexTables(dv, buckets, path, maxBucket,
        batch = Some(batchId.getOrElse(autoBatchId())))
      finally buckets.unpersist(blocking = false)
    } finally dv.unpersist(blocking = false)
  }

  /** Near-dups of an INCOMING embedding batch against a
    * [[buildEmbeddingIndex]] corpus — cross pairs only, the embedding
    * twin of [[minhashNearDupsAgainstIndex]]: the batch's (t, sig)
    * keys broadcast into the bucket probe, candidate keys broadcast
    * into the vector verify, the corpus side streams both times.
    * Returns (in_doc, corpus_doc, cosine), eagerly materialized.
    * Self-matches (in_doc == corpus_doc) are excluded — the replayed-
    * batch contract documented on [[minhashNearDupsAgainstIndex]]. */
  def embeddingNearDupsAgainstIndex(incoming: DataFrame, idCol: String,
                                    vecCol: String, dim: Int, indexPath: String,
                                    threshold: Double = 0.99, bits: Int = 12,
                                    tables: Int = 4,
                                    maxBucket: Option[Int] = None): DataFrame =
    embeddingNearDupsAgainstIndexWithStats(incoming, idCol, vecCol, dim,
      indexPath, threshold, bits, tables, maxBucket).pairs

  /** [[embeddingNearDupsAgainstIndex]] with grown-bucket drop
    * accounting — the embedding twin of
    * [[minhashNearDupsAgainstIndexWithStats]], keyed (t, sig): probed
    * buckets are sized across batch partitions, over-cap keys skipped
    * and reported. `maxBucket` defaults to the stored build knob
    * (indexes built before the knob was stored fall back to 1000). */
  def embeddingNearDupsAgainstIndexWithStats(
      incoming: DataFrame, idCol: String, vecCol: String, dim: Int,
      indexPath: String, threshold: Double = 0.99, bits: Int = 12,
      tables: Int = 4, maxBucket: Option[Int] = None): IndexProbeResult = {
    val spark = incoming.sparkSession
    requireIndexParams(spark, indexPath, "bits" -> bits, "tables" -> tables,
      "dim" -> dim)
    val cap = maxBucket.getOrElse(
      readIndexParams(spark, indexPath).getOrElse("max_bucket", 1000L).toInt)
    embeddingProbePrechecked(incoming, idCol, vecCol, dim, indexPath,
      threshold, bits, tables, cap)
  }

  /** The embedding twin of [[minhashProbePairsLazy]]. */
  private[graft] def embeddingProbePairsLazy(
      incoming: DataFrame, idCol: String, vecCol: String, dim: Int,
      indexPath: String, threshold: Double, bits: Int,
      tables: Int, cap: Int): DataFrame = {
    val spark = incoming.sparkSession
    val inVec = incoming.select(col(idCol).as("in_doc"), col(vecCol).as("in_vec"))
    val inSig = inVec
      .select(col("in_doc"),
        explode(array(hyperplaneSigCols(col("in_vec"), bits, dim, tables): _*)).as("ts"))
      .select(col("in_doc"), col("ts.t").as("t"), col("ts.sig").as("sig"))
    val probed = inSig.select(col("t"), col("sig")).distinct()
    val grown = readIndexTable(spark, indexPath, "buckets")
      .join(broadcast(probed), Seq("t", "sig"), "left_semi")
      .groupBy(col("t"), col("sig"))
      .agg(countDistinct(col("doc")).as("_bsz"))
      .filter(col("_bsz") > cap)
    val inOk = inSig.join(broadcast(grown.select(col("t"), col("sig"))),
      Seq("t", "sig"), "left_anti")
    val cands = broadcast(inOk)
      .join(readIndexTable(spark, indexPath, "buckets"), Seq("t", "sig"))
      .filter(col("in_doc") =!= col("doc"))
      .select(col("in_doc"), col("doc")).distinct()
    broadcast(cands)
      .join(readIndexTable(spark, indexPath, "vectors"), "doc")
      .join(broadcast(inVec), "in_doc")
      .withColumn("cosine", V.cosineSimilarityNative(col("in_vec"), col("vec")))
      .filter(col("cosine") >= threshold)
      .select(col("in_doc"), col("doc").as("corpus_doc"),
        round(col("cosine"), 4).as("cosine"))
      .dropDuplicates("in_doc", "corpus_doc")
  }

  /** The embedding twin of [[minhashProbePrechecked]]: no per-call
    * `_index.json` round-trips — for the streaming loops that validated
    * once at stream start. */
  private[graft] def embeddingProbePrechecked(
      incoming: DataFrame, idCol: String, vecCol: String, dim: Int,
      indexPath: String, threshold: Double, bits: Int,
      tables: Int, cap: Int): IndexProbeResult = {
    val spark = incoming.sparkSession
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    // persist the batch: the signature probe and the verify join both
    // read it, and a re-evaluated non-deterministic source could
    // otherwise verify a different vector than the one that bucketed
    val inVec = incoming.select(col(idCol).as("in_doc"), col(vecCol).as("in_vec"))
      .persist(lvl)
    try {
      val inSig = inVec
        .select(col("in_doc"),
          explode(array(hyperplaneSigCols(col("in_vec"), bits, dim, tables): _*)).as("ts"))
        .select(col("in_doc"), col("ts.t").as("t"), col("ts.sig").as("sig"))
        .persist(lvl) // sizing pass + candidate probe both read it
      try {
        // grown-bucket guard across batch partitions (see the minhash
        // twin's scaladoc): probed keys only, counts only, skip + report
        val probed = inSig.select(col("t"), col("sig")).distinct()
        val grown = readIndexTable(spark, indexPath, "buckets")
          .join(broadcast(probed), Seq("t", "sig"), "left_semi")
          .groupBy(col("t"), col("sig"))
          .agg(countDistinct(col("doc")).as("_bsz"))
          .filter(col("_bsz") > cap)
          .localCheckpoint(true) // tiny: over-cap keys only
        // lazy stats over the checkpointed `grown` — see the minhash
        // twin
        val probeDropStats = grown
          .agg(count(lit(1)).as("n_skipped_buckets"),
            coalesce(sum(col("_bsz")), lit(0L)).as("n_docs_in_skipped_buckets"),
            lit(cap.toLong).as("max_bucket"))
        val inOk = inSig.join(grown.select(col("t"), col("sig")),
          Seq("t", "sig"), "left_anti")
        val cands = broadcast(inOk)
          .join(readIndexTable(spark, indexPath, "buckets"), Seq("t", "sig"))
          .filter(col("in_doc") =!= col("doc")) // replay ≠ duplicate
          .select(col("in_doc"), col("doc")).distinct()
        val pairs = broadcast(cands)
          .join(readIndexTable(spark, indexPath, "vectors"), "doc")
          .join(inVec, "in_doc")
          .withColumn("cosine", V.cosineSimilarityNative(col("in_vec"), col("vec")))
          .filter(col("cosine") >= threshold)
          .select(col("in_doc"), col("doc").as("corpus_doc"),
            round(col("cosine"), 4).as("cosine"))
          // duplicate index rows must not produce duplicate output pairs
          .dropDuplicates("in_doc", "corpus_doc")
          .localCheckpoint(true)
        IndexProbeResult(pairs, probeDropStats)
      } finally inSig.unpersist(blocking = false)
    } finally inVec.unpersist(blocking = false)
  }
}
