package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

/** Structured Streaming (SURVEY §2.10, the north-star extension):
  * a real readStream → watermark → tumbling window → writeStream
  * pipeline driven through MemoryStream, including late-data handling.
  * The batch twins of these plans are the oracle-checked
  * st1/st2 queries; this spec pins the streaming semantics
  * (watermark drops, incremental emission) that batch can't.
  */
class StreamingSpec extends SparkSpec {

  test("tumbling-window count over a stream with watermark drops late data") {
    val session = spark
    import session.implicits._
    implicit val sqlCtx = spark.sqlContext

    val input = MemoryStream[(Timestamp, String)]
    val windowed = input.toDF().toDF("ts", "event_type")
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("window.start").as("ws"), col("event_type"), col("cnt"))

    val q = windowed.writeStream
      .format("memory").queryName("st_windows")
      .outputMode(OutputMode.Append())
      .start()
    try {
      def t(s: String) = Timestamp.valueOf(s)
      // batch 1: two events in hour 10, one in hour 11
      input.addData((t("2024-01-01 10:05:00"), "click"),
        (t("2024-01-01 10:45:00"), "click"),
        (t("2024-01-01 11:05:00"), "view"))
      q.processAllAvailable()
      // batch 2: advance watermark past hour 10 (event at 12:30 →
      // watermark 12:20), closing the hour-10 window
      input.addData((t("2024-01-01 12:30:00"), "view"))
      q.processAllAvailable()
      // batch 3: a LATE event for hour 10 — behind the watermark, dropped
      input.addData((t("2024-01-01 10:50:00"), "click"))
      q.processAllAvailable()
      // batch 4: advance watermark to flush everything still open
      input.addData((t("2024-01-01 23:00:00"), "flush"))
      q.processAllAvailable()

      val rows = spark.table("st_windows")
        .collect().map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2)))
        .toSet
      // hour-10 window emitted with cnt=2: the late event did NOT count
      rows should contain(("2024-01-01 10:00:00.0", "click", 2L))
      rows should contain(("2024-01-01 11:00:00.0", "view", 1L))
      rows should contain(("2024-01-01 12:00:00.0", "view", 1L))
    } finally q.stop()
  }

  test("file-source stream: new files are picked up incrementally") {
    val session = spark
    import session.implicits._
    val dir = java.nio.file.Files.createTempDirectory("stream-in").toString
    def t(s: String) = Timestamp.valueOf(s)
    // batch 1 lands before the stream starts
    Seq((t("2024-01-01 10:05:00"), "click"), (t("2024-01-01 10:10:00"), "view"))
      .toDF("ts", "event_type").write.parquet(s"$dir/b1")

    val stream = spark.readStream
      .schema("ts timestamp, event_type string")
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$dir/*")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))

    val q = stream.writeStream
      .format("memory").queryName("st_files")
      .outputMode(OutputMode.Complete())
      .start()
    try {
      q.processAllAvailable()
      spark.table("st_files").count() shouldBe 2L
      // batch 2 arrives while the stream runs — incremental pickup
      Seq((t("2024-01-01 10:20:00"), "click"))
        .toDF("ts", "event_type").write.parquet(s"$dir/b2")
      q.processAllAvailable()
      val clicks = spark.table("st_files")
        .filter(col("event_type") === "click").select("cnt").collect()(0).getLong(0)
      clicks shouldBe 2L // state carried across micro-batches
    } finally q.stop()
  }

  test("custom state: mapGroupsWithState running count across micro-batches") {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
    val session = spark
    import session.implicits._
    implicit val sqlCtx = spark.sqlContext

    val input = MemoryStream[(String, Long)]
    val counted = input.toDS()
      .groupByKey(_._1)
      .mapGroupsWithState[Long, (String, Long)](GroupStateTimeout.NoTimeout) {
        (key: String, rows: Iterator[(String, Long)], state: GroupState[Long]) =>
          val next = state.getOption.getOrElse(0L) + rows.size
          state.update(next)
          (key, next)
      }

    val q = counted.toDF("user", "cnt").writeStream
      .format("memory").queryName("st_state")
      .outputMode(OutputMode.Update())
      .start()
    try {
      input.addData(("a", 1L), ("a", 2L), ("b", 1L))
      q.processAllAvailable()
      input.addData(("a", 3L), ("c", 1L))
      q.processAllAvailable()
      // latest Update-mode emission per key reflects accumulated state
      val latest = spark.table("st_state")
        .groupBy("user").agg(max("cnt").as("cnt"))
        .collect().map(r => (r.getString(0), r.getLong(1))).toMap
      latest shouldBe Map("a" -> 3L, "b" -> 1L, "c" -> 1L)
    } finally q.stop()
  }

  test("session windows merge across micro-batches under a watermark") {
    val session = spark
    import session.implicits._
    implicit val sqlCtx = spark.sqlContext

    val input = MemoryStream[(Timestamp, String)]
    // through the library helper (watermarked, Append-safe) — this is
    // streamingSessionCounts' coverage, not just session_window's
    val sessions = graft.streaming.Windows.streamingSessionCounts(
        input.toDF().toDF("ts", "user"), "ts", gap = "30 minutes",
        late = "10 minutes", col("user"))
      .select(col("session_window.start").as("ss"),
        col("session_window.end").as("se"), col("user"), col("cnt").as("n"))

    val q = sessions.writeStream
      .format("memory").queryName("st_sessions")
      .outputMode(OutputMode.Append())
      .start()
    try {
      def t(s: String) = Timestamp.valueOf(s)
      // two events 20 min apart → ONE session (gap < 30m); the second
      // batch extends it, the third closes it via watermark advance
      input.addData((t("2024-01-01 10:00:00"), "u1"))
      q.processAllAvailable()
      input.addData((t("2024-01-01 10:20:00"), "u1"))
      q.processAllAvailable()
      input.addData((t("2024-01-01 14:00:00"), "u1")) // watermark → 13:50
      q.processAllAvailable()
      input.addData((t("2024-01-01 23:00:00"), "u1")) // flush
      q.processAllAvailable()

      val rows = spark.table("st_sessions")
        .collect().map(r => (r.getTimestamp(0).toString, r.getTimestamp(1).toString,
          r.getString(2), r.getLong(3))).toSet
      // merged session: start 10:00, end 10:20+30m=10:50, TWO events
      rows should contain(("2024-01-01 10:00:00.0", "2024-01-01 10:50:00.0", "u1", 2L))
    } finally q.stop()
  }

  test("watermark-closed sessions: append-mode emissions equal the batch result (st6 twin, unbounded posture)") {
    // st6 gates the same merging-window engine in COMPLETE mode (its
    // bounded input never closes the final sessions); this is the
    // UNBOUNDED posture: withWatermark + Append, where a session row
    // emits exactly once — when the watermark passes its close — and
    // the full emitted SET must equal the batch session result over
    // the same rows. 300 deterministic events, 5 users, arithmetic
    // gaps 5..54 min (so some gaps >= 30 break sessions), fed in
    // event-time order across 4 micro-batches; a far-future flush
    // event closes everything, and only the flush's own still-open
    // session is exempt from the comparison.
    val session = spark
    import session.implicits._
    implicit val sqlCtx = spark.sqlContext

    val base = Timestamp.valueOf("2024-01-01 00:00:00").getTime
    val events = (0 until 5).flatMap { u =>
      var t = base + u * 60000L
      (0 until 60).map { j =>
        t += (5 + (j * 7 + u * 3) % 50) * 60000L
        (new Timestamp(t), s"u$u")
      }
    }.sortBy(_._1.getTime)

    val input = MemoryStream[(Timestamp, String)]
    val sessions = graft.streaming.Windows.streamingSessionCounts(
        input.toDF().toDF("ts", "user"), "ts", gap = "30 minutes",
        late = "10 minutes", col("user"))
      .select(col("session_window.start").as("ss"),
        col("session_window.end").as("se"), col("user"), col("cnt"))
    val q = sessions.writeStream
      .format("memory").queryName("st_sessions_append")
      .outputMode(OutputMode.Append())
      .start()
    try {
      events.grouped(75).foreach { chunk =>
        input.addData(chunk)
        q.processAllAvailable()
      }
      val flush = new Timestamp(events.map(_._1.getTime).max + 36000000L)
      input.addData((flush, "u0"))
      q.processAllAvailable()

      val emitted = spark.table("st_sessions_append")
        .collect().map(r => (r.getTimestamp(0), r.getTimestamp(1),
          r.getString(2), r.getLong(3))).toSet
      val batch = graft.streaming.Windows.session(
          events.toDF("ts", "user"), col("ts"), "30 minutes", col("user"),
          Seq(count(lit(1)).as("cnt")))
        .select(col("session_window.start"), col("session_window.end"),
          col("user"), col("cnt"))
        .collect().map(r => (r.getTimestamp(0), r.getTimestamp(1),
          r.getString(2), r.getLong(3))).toSet
      batch.size should be > 20 // the fixture really exercises breaks
      emitted shouldBe batch // flush's own session never emitted (still open)
    } finally q.stop()
  }

  test("streaming dedup: dropDuplicates within watermark") {
    val session = spark
    import session.implicits._
    implicit val sqlCtx = spark.sqlContext

    val input = MemoryStream[(Timestamp, Long)]
    val deduped = input.toDF().toDF("ts", "doc_id")
      .withWatermark("ts", "1 hour")
      .dropDuplicates("doc_id")

    val q = deduped.writeStream
      .format("memory").queryName("st_dedup")
      .outputMode(OutputMode.Append())
      .start()
    try {
      def t(s: String) = Timestamp.valueOf(s)
      input.addData((t("2024-01-01 10:00:00"), 1L), (t("2024-01-01 10:01:00"), 1L),
        (t("2024-01-01 10:02:00"), 2L))
      q.processAllAvailable()
      input.addData((t("2024-01-01 10:03:00"), 1L), (t("2024-01-01 10:04:00"), 3L))
      q.processAllAvailable()
      val ids = spark.table("st_dedup").collect().map(_.getLong(1)).sorted.toSeq
      ids shouldBe Seq(1L, 2L, 3L)
    } finally q.stop()
  }

  test("streaming content dedup: exact and signature modes suppress dups at ingest") {
    val session = spark
    import session.implicits._
    implicit val sqlCtx = spark.sqlContext

    def t(s: String) = Timestamp.valueOf(s)
    val base = "the quick brown fox jumps over the lazy dog tonight"
    val perm = base.split(" ").sorted.mkString(" ") // same bag, reordered

    // exact mode: whitespace/case-normalized content hash
    val in1 = MemoryStream[(Timestamp, Long, String)]
    val q1 = graft.streaming.Windows.streamingDedup(
        in1.toDF().toDF("ts", "doc_id", "text"), "ts", "text", late = "1 hour")
      .writeStream.format("memory").queryName("st_dedup_exact")
      .outputMode(OutputMode.Append()).start()
    try {
      in1.addData(
        (t("2024-01-01 10:00:00"), 1L, base),
        (t("2024-01-01 10:01:00"), 2L, base.toUpperCase + "  "), // normalize-equal
        (t("2024-01-01 10:02:00"), 3L, perm))                    // different content
      q1.processAllAvailable()
      spark.table("st_dedup_exact").collect().map(_.getLong(1)).sorted.toSeq shouldBe
        Seq(1L, 3L)
    } finally q1.stop()

    // signature mode: SimHash collapses bag-identical reorderings too
    val in2 = MemoryStream[(Timestamp, Long, String)]
    val q2 = graft.streaming.Windows.streamingDedup(
        in2.toDF().toDF("ts", "doc_id", "text"), "ts", "text",
        late = "1 hour", exact = false)
      .writeStream.format("memory").queryName("st_dedup_sig")
      .outputMode(OutputMode.Append()).start()
    try {
      in2.addData(
        (t("2024-01-01 10:00:00"), 1L, base),
        (t("2024-01-01 10:01:00"), 2L, perm), // same token bag → same simhash
        (t("2024-01-01 10:02:00"), 3L, "completely different words in this doc"))
      q2.processAllAvailable()
      spark.table("st_dedup_sig").collect().map(_.getLong(1)).sorted.toSeq shouldBe
        Seq(1L, 3L)
    } finally q2.stop()
  }

  test("snapshot stream: manifest versions are offsets — commits flow in order, " +
    "maintenance never re-emits, startingVersion=latest skips history") {
    val session = spark
    import session.implicits._
    import graft.operators.Snapshot
    import graft.sources.SnapshotStream
    val path = TempDirs.path(s"snapstream/${java.util.UUID.randomUUID()}")
    Seq((1L, "a"), (2L, "b")).toDF("id", "v").write.parquet(s"$path/batch_id=0")
    Snapshot.enable(spark, path) // v1: batch 0 committed

    def rows(table: String): Seq[(Int, Long)] =
      spark.table(table).select("batch_id", "id").collect()
        .map(r => (r.getInt(0), r.getLong(1))).sorted.toSeq

    val q = SnapshotStream.readStream(spark, path)
      .writeStream.format("memory").queryName("snapstream_sink")
      .outputMode(OutputMode.Append()).start()
    try {
      q.processAllAvailable() // earliest: history arrives in batch 0
      rows("snapstream_sink") shouldBe Seq((0, 1L), (0, 2L))
      // a new commit flows through with its provenance
      Snapshot.stagedAppend(spark, path, 1L) {
        Seq((3L, "c")).toDF("id", "v").write.mode("overwrite")
          .parquet(s"$path/batch_id=1")
      }
      q.processAllAvailable()
      rows("snapstream_sink") shouldBe Seq((0, 1L), (0, 2L), (1, 3L))
      // compaction re-homes every row into a fold batch — the stream
      // must NOT serve them again (appends-only contract)
      Snapshot.compactLive(spark, path)
      q.processAllAvailable()
      rows("snapstream_sink") shouldBe Seq((0, 1L), (0, 2L), (1, 3L))
      // and appends after maintenance still flow
      Snapshot.stagedAppend(spark, path, 2L) {
        Seq((4L, "d")).toDF("id", "v").write.mode("overwrite")
          .parquet(s"$path/batch_id=2")
      }
      q.processAllAvailable()
      rows("snapstream_sink") shouldBe
        Seq((0, 1L), (0, 2L), (1, 3L), (2, 4L))
    } finally q.stop()

    // startingVersion=latest: only commits AFTER stream start
    val q2 = SnapshotStream.readStream(spark, path, startingVersion = "latest")
      .writeStream.format("memory").queryName("snapstream_sink2")
      .outputMode(OutputMode.Append()).start()
    try {
      q2.processAllAvailable()
      spark.table("snapstream_sink2").count() shouldBe 0L
      Snapshot.stagedAppend(spark, path, 3L) {
        Seq((5L, "e")).toDF("id", "v").write.mode("overwrite")
          .parquet(s"$path/batch_id=3")
      }
      q2.processAllAvailable()
      rows("snapstream_sink2") shouldBe Seq((3, 5L))
    } finally q2.stop()

    // fail at stream START on a non-governed path, not at first batch
    an[Exception] should be thrownBy
      SnapshotStream.readStream(spark, TempDirs.path("snapstream/none"))
  }

  test("snapshot stream initial batch is the LIVE set: retired rows never " +
    "resurrect, a pre-stream compaction's folds serve exactly once") {
    val session = spark
    import session.implicits._
    import graft.operators.Snapshot
    import graft.sources.SnapshotStream
    val path = TempDirs.path(s"snapstream/live-${java.util.UUID.randomUUID()}")
    Seq((1L, "a"), (2L, "b")).toDF("id", "v").write.parquet(s"$path/batch_id=0")
    Snapshot.enable(spark, path)
    Snapshot.stagedAppend(spark, path, 1L) {
      Seq((3L, "c")).toDF("id", "v").write.mode("overwrite")
        .parquet(s"$path/batch_id=1")
    }
    // retire batch 0 (rows 1, 2 logically deleted), then fold the rest
    Snapshot.retainFrom(spark, path, keepFrom = 1L)
    Snapshot.compactLive(spark, path)
    // a stream started NOW must serve the live content (3) exactly
    // once — the cumulative committed history would resurrect 1 and 2
    // (and read dirs vacuum is free to sweep)
    val q = SnapshotStream.readStream(spark, path)
      .writeStream.format("memory").queryName("snapstream_live_sink")
      .outputMode(OutputMode.Append()).start()
    try {
      q.processAllAvailable()
      spark.table("snapstream_live_sink").select("id")
        .collect().map(_.getLong(0)).toSeq shouldBe Seq(3L)
      // and a post-start append still flows normally
      Snapshot.stagedAppend(spark, path, 2L) {
        Seq((4L, "d")).toDF("id", "v").write.mode("overwrite")
          .parquet(s"$path/batch_id=2")
      }
      q.processAllAvailable()
      spark.table("snapstream_live_sink").select("id")
        .collect().map(_.getLong(0)).sorted.toSeq shouldBe Seq(3L, 4L)
    } finally q.stop()
  }

  test("snapshot stream pins its start horizon in the metadata dir: a " +
    "rebuilt latest-mode source replays the ORIGINAL horizon") {
    val session = spark
    import session.implicits._
    import graft.operators.Snapshot
    val path = TempDirs.path(s"snapstream/pin-${java.util.UUID.randomUUID()}")
    val meta = TempDirs.path(s"snapstream/pin-meta-${java.util.UUID.randomUUID()}")
    Seq((1L, "a")).toDF("id", "v").write.parquet(s"$path/batch_id=0")
    Snapshot.enable(spark, path) // v1
    val first = new graft.sources.SnapshotStreamSource(
      spark, path, earliest = false, metadataPath = meta)
    // a commit lands between the crash and the restart
    Snapshot.stagedAppend(spark, path, 1L) {
      Seq((2L, "b")).toDF("id", "v").write.mode("overwrite")
        .parquet(s"$path/batch_id=1")
    } // v2
    // the REBUILT source (same metadata dir — the engine's restart)
    // must replay from the pinned v1 horizon, not from "latest is now
    // v2" (which would skip batch 1's rows in the WAL'd first batch)
    val rebuilt = new graft.sources.SnapshotStreamSource(
      spark, path, earliest = false, metadataPath = meta)
    // the rebuilt source adopted the PINNED v1 horizon, so the WAL'd
    // first batch (None, v2] re-covers batch 1's commit; a fresh
    // metadata dir pins "latest is now v2" and that window is empty
    first.pinnedInitialVersion shouldBe 1L
    rebuilt.pinnedInitialVersion shouldBe 1L
    val fresh = new graft.sources.SnapshotStreamSource(
      spark, path, earliest = false,
      metadataPath = TempDirs.path(
        s"snapstream/pin-meta2-${java.util.UUID.randomUUID()}"))
    fresh.pinnedInitialVersion shouldBe 2L
    first.stop(); rebuilt.stop(); fresh.stop()
  }

  test("change data feed stream: per-commit deletes/inserts in one window, " +
    "compaction and COW folds emit only real changes, latest skips history") {
    val session = spark
    import session.implicits._
    import graft.operators.Snapshot
    import graft.sources.SnapshotStream
    val path = TempDirs.path(s"cdf/${java.util.UUID.randomUUID()}")
    Seq((1L, "a"), (2L, "b")).toDF("id", "v").write.parquet(s"$path/batch_id=0")
    Snapshot.enable(spark, path) // v1
    def rows(t: String): Seq[(String, Long, Long)] =
      spark.table(t).select("_change_type", "id", "_commit_version").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    val q = SnapshotStream.readChanges(spark, path, startingVersion = "earliest")
      .writeStream.format("memory").queryName("cdf_sink")
      .outputMode(OutputMode.Append()).start()
    try {
      q.processAllAvailable() // v1 content as inserts tagged 1
      rows("cdf_sink") shouldBe Seq(("insert", 1L, 1L), ("insert", 2L, 1L))
      // ONE window covering append (v2), retention (v3), compaction
      // (v4): per-commit granularity must survive the multi-version
      // window, and the compaction must contribute NOTHING
      Snapshot.stagedAppend(spark, path, 1L) {
        Seq((3L, "c")).toDF("id", "v").write.mode("overwrite")
          .parquet(s"$path/batch_id=1")
      }
      Snapshot.retainFrom(spark, path, keepFrom = 1L) // retire batch 0
      Snapshot.compactLive(spark, path)
      q.processAllAvailable()
      rows("cdf_sink") shouldBe Seq(
        ("delete", 1L, 3L), ("delete", 2L, 3L),
        ("insert", 1L, 1L), ("insert", 2L, 1L), ("insert", 3L, 2L))
      // a COW predicate delete emits exactly the removed row
      Snapshot.deleteWhere(spark, path, col("id") === 3L)
      q.processAllAvailable()
      rows("cdf_sink").count(_ == ("delete", 3L, 5L)) shouldBe 1
    } finally q.stop()

    // latest mode: only post-start commits flow
    val q2 = SnapshotStream.readChanges(spark, path) // default latest
      .writeStream.format("memory").queryName("cdf_sink2")
      .outputMode(OutputMode.Append()).start()
    try {
      q2.processAllAvailable()
      spark.table("cdf_sink2").count() shouldBe 0L
      Snapshot.stagedAppend(spark, path, 2L) {
        Seq((4L, "d")).toDF("id", "v").write.mode("overwrite")
          .parquet(s"$path/batch_id=2")
      }
      q2.processAllAvailable()
      spark.table("cdf_sink2").select("_change_type", "id").collect()
        .map(r => (r.getString(0), r.getLong(1))).toSeq shouldBe
        Seq(("insert", 4L))
    } finally q2.stop()
  }

  test("snapshot stream admission control: maxBatchesPerTrigger splits the " +
    "initial snapshot AND catch-up windows across micro-batches with an " +
    "identical union (VERDICT r18 task 2)") {
    val session = spark
    import session.implicits._
    import graft.operators.Snapshot
    import graft.sources.SnapshotStream
    val path = TempDirs.path(s"snapadm/${java.util.UUID.randomUUID()}")
    // a 6-batch table committed before the stream starts
    Seq((0L, "a")).toDF("id", "v").write.parquet(s"$path/batch_id=0")
    Snapshot.enable(spark, path)
    (1L to 5L).foreach { b =>
      Snapshot.stagedAppend(spark, path, b) {
        Seq((b * 10, s"v$b")).toDF("id", "v").write.mode("overwrite")
          .parquet(s"$path/batch_id=$b")
      }
    }
    val q = SnapshotStream.readStream(spark, path,
        maxBatchesPerTrigger = Some(2))
      .writeStream.format("memory").queryName("snapadm_sink")
      .outputMode(OutputMode.Append()).start()
    try {
      q.processAllAvailable()
      // identical union: every live row exactly once, right provenance
      spark.table("snapadm_sink").select("batch_id", "id").collect()
        .map(r => (r.getInt(0), r.getLong(1))).sorted.toSeq shouldBe
        Seq((0, 0L), (1, 10L), (2, 20L), (3, 30L), (4, 40L), (5, 50L))
      // ...delivered as 3 micro-batches of 2 dirs each, never one big one
      val withData = q.recentProgress.filter(_.numInputRows > 0)
      withData.length shouldBe 3
      all(withData.map(_.numInputRows).toSeq) shouldBe 2L
      // commits landing under a LIVE stream flow through normally (the
      // engine keeps up, so each drains as it lands — admission only
      // bounds windows, never withholds available data)
      (6L to 8L).foreach { b =>
        Snapshot.stagedAppend(spark, path, b) {
          Seq((b * 10, s"v$b")).toDF("id", "v").write.mode("overwrite")
            .parquet(s"$path/batch_id=$b")
        }
      }
      q.processAllAvailable()
      spark.table("snapadm_sink").count() shouldBe 9L
    } finally q.stop()
    // CATCH-UP window: a capped latest-mode source sitting BEHIND a
    // 3-commit backlog must split it 2 + 1 — driven source-side,
    // engine-style, because a live local engine consumes each commit
    // the moment it lands and never accumulates a backlog
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val src = new graft.sources.SnapshotStreamSource(
      spark, path, earliest = false,
      metadataPath = TempDirs.path(s"snapadm/cu-${java.util.UUID.randomUUID()}"),
      admission = graft.sources.Admission(Some(2), None))
    try {
      (9L to 11L).foreach { b =>
        Snapshot.stagedAppend(spark, path, b) {
          Seq((b * 10, s"v$b")).toDF("id", "v").write.mode("overwrite")
            .parquet(s"$path/batch_id=$b")
        }
      }
      val o1 = src.getOffset.get
      ColumnBridge.asBatch(src.getBatch(None, o1))
        .select("id").collect().map(_.getLong(0)).sorted.toSeq shouldBe
        Seq(90L, 100L)
      val o2 = src.getOffset.get
      ColumnBridge.asBatch(src.getBatch(Some(o1), o2))
        .select("id").collect().map(_.getLong(0)).toSeq shouldBe Seq(110L)
      // drained: the next offset does not advance
      src.getOffset.get.json shouldBe o2.json
    } finally src.stop()
  }

  test("admission chunk phase only on checkpoints BORN capped: a rebuilt " +
    "capped source re-reads its pinned snapshot version; a pre-cap " +
    "checkpoint never re-enters the chunk phase") {
    val session = spark
    import session.implicits._
    import graft.operators.Snapshot
    val path = TempDirs.path(s"snapadm/pin-${java.util.UUID.randomUUID()}")
    Seq((1L, "a")).toDF("id", "v").write.parquet(s"$path/batch_id=0")
    Snapshot.enable(spark, path) // v1
    val cap = graft.sources.Admission(Some(2), None)
    val meta = TempDirs.path(s"snapadm/meta-${java.util.UUID.randomUUID()}")
    val born = new graft.sources.SnapshotStreamSource(
      spark, path, earliest = true, metadataPath = meta, admission = cap)
    born.pinnedChunkSnapshotVersion shouldBe Some(1L)
    // restart (same checkpoint): marker read back, even uncapped
    val rebuilt = new graft.sources.SnapshotStreamSource(
      spark, path, earliest = true, metadataPath = meta)
    rebuilt.pinnedChunkSnapshotVersion shouldBe Some(1L)
    // a checkpoint that started UNCAPPED already served its snapshot
    // whole — capping it later must not re-enter the chunk phase
    val meta2 = TempDirs.path(s"snapadm/meta2-${java.util.UUID.randomUUID()}")
    val uncapped = new graft.sources.SnapshotStreamSource(
      spark, path, earliest = true, metadataPath = meta2)
    uncapped.pinnedChunkSnapshotVersion shouldBe None
    val cappedLater = new graft.sources.SnapshotStreamSource(
      spark, path, earliest = true, metadataPath = meta2, admission = cap)
    cappedLater.pinnedChunkSnapshotVersion shouldBe None
    born.stop(); rebuilt.stop(); uncapped.stop(); cappedLater.stop()
  }

  test("re-capping an existing checkpoint never re-serves: the admission " +
    "high-water stays fresh through uncapped stretches, and a legacy " +
    "checkpoint without one gets a single catch-up window (review r18 #1)") {
    val session = spark
    import session.implicits._
    import graft.operators.Snapshot
    import graft.sources.SnapshotStream
    val path = TempDirs.path(s"recap/${java.util.UUID.randomUUID()}")
    Seq((0L, "a")).toDF("id", "v").write.parquet(s"$path/batch_id=0")
    Snapshot.enable(spark, path)
    (1L to 2L).foreach { b =>
      Snapshot.stagedAppend(spark, path, b) {
        Seq((b * 10, s"v$b")).toDF("id", "v").write.mode("overwrite")
          .parquet(s"$path/batch_id=$b")
      }
    }
    val out = TempDirs.path(s"recap/out-${java.util.UUID.randomUUID()}")
    val ckpt = TempDirs.path(s"recap/ckpt-${java.util.UUID.randomUUID()}")
    def run(cap: Option[Int]): Unit = {
      val q = SnapshotStream.readStream(spark, path, maxBatchesPerTrigger = cap)
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch(graft.streaming.Windows.idempotentParquetSink(out))
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    def servedIds(): Seq[Long] = spark.read.parquet(out)
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    run(cap = None) // uncapped: snapshot serves whole
    servedIds() shouldBe Seq(0L, 10L, 20L)
    // two commits land while stopped; the restart ADDS a cap — it must
    // serve exactly the backlog (1 commit per trigger), never replay
    // the already-delivered history from the horizon
    (3L to 4L).foreach { b =>
      Snapshot.stagedAppend(spark, path, b) {
        Seq((b * 10, s"v$b")).toDF("id", "v").write.mode("overwrite")
          .parquet(s"$path/batch_id=$b")
      }
    }
    run(cap = Some(1))
    servedIds() shouldBe Seq(0L, 10L, 20L, 30L, 40L)
    // LEGACY shape: a pre-admission checkpoint has no high-water file
    // at all — delete it, land one more commit, re-cap again: one
    // catch-up window from the committed offset, still no re-serve
    val fs = new org.apache.hadoop.fs.Path(ckpt)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val status = fs.listFiles(new org.apache.hadoop.fs.Path(ckpt), true)
    var deleted = false
    while (status.hasNext) {
      val f = status.next().getPath
      if (f.getName == "graft-admission-high") {
        fs.delete(f, false); deleted = true
      }
    }
    deleted shouldBe true
    Snapshot.stagedAppend(spark, path, 5L) {
      Seq((50L, "v5")).toDF("id", "v").write.mode("overwrite")
        .parquet(s"$path/batch_id=5")
    }
    run(cap = Some(1))
    servedIds() shouldBe Seq(0L, 10L, 20L, 30L, 40L, 50L)
  }

  test("capped stream crash-restart: a planted failure mid-snapshot " +
    "resumes from the checkpoint — every row exactly once, every " +
    "micro-batch within the cap") {
    val session = spark
    import session.implicits._
    import graft.operators.Snapshot
    import graft.sources.SnapshotStream
    val path = TempDirs.path(s"snapcrash/${java.util.UUID.randomUUID()}")
    Seq((0L, "a")).toDF("id", "v").write.parquet(s"$path/batch_id=0")
    Snapshot.enable(spark, path)
    (1L to 5L).foreach { b =>
      Snapshot.stagedAppend(spark, path, b) {
        Seq((b * 10, s"v$b")).toDF("id", "v").write.mode("overwrite")
          .parquet(s"$path/batch_id=$b")
      }
    } // 6 live batch dirs; cap 2 → 3 snapshot chunks
    val out = TempDirs.path(s"snapcrash/out-${java.util.UUID.randomUUID()}")
    val ckpt = TempDirs.path(s"snapcrash/ckpt-${java.util.UUID.randomUUID()}")
    val land = graft.streaming.Windows.idempotentParquetSink(out)
    @volatile var planted = false
    def run(crashAtBatch: Option[Long]): Unit = {
      val q = SnapshotStream.readStream(spark, path,
          maxBatchesPerTrigger = Some(2))
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, b: Long) =>
          if (crashAtBatch.contains(b) && !planted) {
            planted = true
            throw new RuntimeException("planted mid-snapshot crash")
          }
          land(df, b)
        }.start()
      try q.processAllAvailable()
      catch { case _: Exception => () } // the planted crash terminates it
      finally q.stop()
    }
    run(crashAtBatch = Some(1L)) // dies on the SECOND chunk
    planted shouldBe true
    // restart from the same checkpoint: the WAL'd window replays, the
    // remaining chunks follow — nothing skipped, nothing doubled
    run(crashAtBatch = None)
    val landed = spark.read.parquet(out)
      .select(col("batch_id").cast("long"), col("id"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    landed.map(_._2).sorted.toSeq shouldBe Seq(0L, 10L, 20L, 30L, 40L, 50L)
    // admission held across the crash: no micro-batch above the cap
    landed.groupBy(_._1).values.foreach(_.length should be <= 2)
  }

  test("numeric startingVersion: both stream modes serve from the named " +
    "commit INCLUSIVE (the Delta convention), raw history not a snapshot") {
    val session = spark
    import session.implicits._
    import graft.operators.Snapshot
    import graft.sources.SnapshotStream
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val path = TempDirs.path(s"snapver/${java.util.UUID.randomUUID()}")
    Seq((1L, "a")).toDF("id", "v").write.parquet(s"$path/batch_id=0")
    Snapshot.enable(spark, path) // v1: batch 0
    (1L to 2L).foreach { b =>
      Snapshot.stagedAppend(spark, path, b) {
        Seq((b * 10, s"v$b")).toDF("id", "v").write.mode("overwrite")
          .parquet(s"$path/batch_id=$b")
      }
    } // v2: batch 1, v3: batch 2
    // appends mode from v2: batches 1 and 2, NOT the snapshot (batch 0)
    val q = SnapshotStream.readStream(spark, path, startingVersion = "2")
      .writeStream.format("memory").queryName("snapver_sink")
      .outputMode(OutputMode.Append()).start()
    try {
      q.processAllAvailable()
      spark.table("snapver_sink").select("id").collect()
        .map(_.getLong(0)).sorted.toSeq shouldBe Seq(10L, 20L)
    } finally q.stop()
    // changes mode from v3: only the last commit's inserts
    val src = new graft.sources.SnapshotChangesSource(
      spark, path, earliest = false,
      metadataPath = TempDirs.path(s"snapver/meta-${java.util.UUID.randomUUID()}"),
      startAtVersion = Some(3L))
    try {
      val end = src.getOffset.get
      ColumnBridge.asBatch(src.getBatch(None, end))
        .select("_change_type", "id", "_commit_version").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq shouldBe
        Seq(("insert", 20L, 3L))
    } finally src.stop()
    // invalid numerics fail at stream construction (the engine wraps
    // the provider's require into its query exception)
    val e = intercept[Exception] {
      val bad = SnapshotStream.readStream(spark, path, startingVersion = "0")
        .writeStream.format("noop").start()
      try bad.processAllAvailable() finally bad.stop()
    }
    e.getMessage should include("startingVersion must be >= 1")
  }

  test("admission byte budget: maxBytesPerTrigger serves one batch dir " +
    "per trigger when the budget fits exactly one; union identical") {
    val session = spark
    import session.implicits._
    import graft.operators.Snapshot
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val path = TempDirs.path(s"snapbytes/${java.util.UUID.randomUUID()}")
    Seq((0L, "a")).toDF("id", "v").write.parquet(s"$path/batch_id=0")
    Snapshot.enable(spark, path)
    (1L to 2L).foreach { b =>
      Snapshot.stagedAppend(spark, path, b) {
        Seq((b, s"v$b")).toDF("id", "v").write.mode("overwrite")
          .parquet(s"$path/batch_id=$b")
      }
    }
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val smallest = (0L to 2L).map(b => fs.getContentSummary(
      new org.apache.hadoop.fs.Path(s"$path/batch_id=$b")).getLength).min
    val src = new graft.sources.SnapshotStreamSource(
      spark, path, earliest = true,
      metadataPath = TempDirs.path(s"snapbytes/meta-${java.util.UUID.randomUUID()}"),
      admission = graft.sources.Admission(None, Some(smallest)))
    try {
      var start: Option[org.apache.spark.sql.execution.streaming.Offset] = None
      val seen = scala.collection.mutable.ArrayBuffer.empty[Long]
      var triggers = 0
      var done = false
      while (!done && triggers < 6) {
        val end = src.getOffset.get
        if (start.exists(_.json == end.json)) done = true
        else {
          val ids = ColumnBridge.asBatch(src.getBatch(start, end))
            .select("id").collect().map(_.getLong(0)).toSeq
          ids.length shouldBe 1 // the budget fits exactly one dir
          seen ++= ids
          start = Some(end)
          triggers += 1
        }
      }
      triggers shouldBe 3
      seen.sorted.toSeq shouldBe Seq(0L, 1L, 2L)
    } finally src.stop()
  }

  test("change feed admission: a 20-commit replay is bounded to " +
    "maxBatchesPerTrigger diff legs per getBatch, union identical " +
    "(VERDICT r18 task 3)") {
    val session = spark
    import session.implicits._
    import graft.operators.Snapshot
    val path = TempDirs.path(s"cdfadm/${java.util.UUID.randomUUID()}")
    Seq((0L, "a")).toDF("id", "v").write.parquet(s"$path/batch_id=0")
    Snapshot.enable(spark, path) // v1
    (1L to 19L).foreach { b =>
      Snapshot.stagedAppend(spark, path, b) {
        Seq((b, s"v$b")).toDF("id", "v").write.mode("overwrite")
          .parquet(s"$path/batch_id=$b")
      }
    } // v20: a 20-commit history
    val src = new graft.sources.SnapshotChangesSource(
      spark, path, earliest = true,
      metadataPath = TempDirs.path(s"cdfadm/meta-${java.util.UUID.randomUUID()}"),
      admission = graft.sources.Admission(Some(5), None))
    try {
      // drive the source like the engine: alternate getOffset/getBatch
      var start: Option[org.apache.spark.sql.execution.streaming.Offset] = None
      val seen = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      var batches = 0
      var done = false
      while (!done && batches < 10) {
        val end = src.getOffset.get
        if (start.exists(_.json == end.json)) done = true
        else {
          val df = org.apache.spark.sql.graftbridge.ColumnBridge.asBatch(
            src.getBatch(start, end))
          val versions = df.select("_commit_version", "id").collect()
            .map(r => (r.getLong(0), r.getLong(1)))
          // the window is BOUNDED: at most 5 commits' legs per batch
          versions.map(_._1).distinct.length should be <= 5
          seen ++= versions
          start = Some(end)
          batches += 1
        }
      }
      batches shouldBe 4 // 20 commits / 5 per trigger
      // identical union: every commit's insert exactly once
      seen.sorted.toSeq shouldBe (0L to 19L).map(i => (i + 1, i)).sorted
    } finally src.stop()
  }

  test("change feed byte budget: maxBytesPerTrigger splits a fat-commit " +
    "replay by diff cost, one commit per trigger; union identical " +
    "(VERDICT r18 missing #2)") {
    val session = spark
    import session.implicits._
    import graft.operators.Snapshot
    val path = TempDirs.path(s"cdfbytes/${java.util.UUID.randomUUID()}")
    Seq((0L, "a")).toDF("id", "v").write.parquet(s"$path/batch_id=0")
    Snapshot.enable(spark, path) // v1
    (1L to 3L).foreach { b =>
      Snapshot.stagedAppend(spark, path, b) {
        Seq((b, s"v$b")).toDF("id", "v").write.mode("overwrite")
          .parquet(s"$path/batch_id=$b")
      }
    } // v4: a 4-commit history, maxBatchesPerTrigger alone would
      // admit them all — the byte cap must split the window instead
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val smallest = (0L to 3L).map(b => fs.getContentSummary(
      new org.apache.hadoop.fs.Path(s"$path/batch_id=$b")).getLength).min
    val src = new graft.sources.SnapshotChangesSource(
      spark, path, earliest = true,
      metadataPath = TempDirs.path(s"cdfbytes/meta-${java.util.UUID.randomUUID()}"),
      admission = graft.sources.Admission(None, Some(smallest)))
    try {
      var start: Option[org.apache.spark.sql.execution.streaming.Offset] = None
      val seen = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      var triggers = 0
      var done = false
      while (!done && triggers < 8) {
        val end = src.getOffset.get
        if (start.exists(_.json == end.json)) done = true
        else {
          val df = org.apache.spark.sql.graftbridge.ColumnBridge.asBatch(
            src.getBatch(start, end))
          val versions = df.select("_commit_version", "id").collect()
            .map(r => (r.getLong(0), r.getLong(1)))
          // each commit's diff dir meets the budget alone → one
          // commit per micro-batch
          versions.map(_._1).distinct.length shouldBe 1
          seen ++= versions
          start = Some(end)
          triggers += 1
        }
      }
      triggers shouldBe 4
      seen.sorted.toSeq shouldBe (0L to 3L).map(i => (i + 1, i)).sorted
    } finally src.stop()
  }

  test("governedSink lineage guard: the same query drains behind-head " +
    "replays; a NEW lineage behind the head fails loudly; appending past " +
    "the head adopts the lineage") {
    val session = spark
    import session.implicits._
    import graft.operators.Snapshot
    val path = TempDirs.path(s"govsink/${java.util.UUID.randomUUID()}")
    val sink = graft.streaming.Windows.governedSink(path)
    def df(ids: Long*) = ids.map(i => (i, s"v$i")).toDF("id", "v")
    def liveIds(): Seq[Long] =
      Snapshot.read(spark, path).select("id").collect().map(_.getLong(0)).sorted.toSeq
    try {
      spark.sparkContext.setLocalProperty("sql.streaming.queryId", "q-one")
      sink(df(1L), 0L) // bootstrap: enable + lineage record
      sink(df(2L), 1L)
      liveIds() shouldBe Seq(1L, 2L)
      // checkpoint restored from an OLDER backup: the same query
      // replays batch 0 — a safe exactly-once drain, NOT an error
      // (and the original rows are untouched)
      noException should be thrownBy sink(df(99L), 0L)
      liveIds() shouldBe Seq(1L, 2L)
      // a FRESH checkpoint (new query id) restarting at 0 over the
      // populated table is the data-loss case — loud
      spark.sparkContext.setLocalProperty("sql.streaming.queryId", "q-two")
      an[IllegalArgumentException] should be thrownBy sink(df(98L), 0L)
      // AT the head is equally the data-loss case (ADVICE r17: with a
      // >= guard the lineage was adopted and stagedAppendFrom then
      // no-op'd — the new query's batch silently dropped): strict >
      an[IllegalArgumentException] should be thrownBy sink(df(96L), 1L)
      // ...and the failed attempts must NOT have flipped the lineage
      // record: q-one's behind-head replay still no-ops safely
      spark.sparkContext.setLocalProperty("sql.streaming.queryId", "q-one")
      noException should be thrownBy sink(df(95L), 1L)
      liveIds() shouldBe Seq(1L, 2L)
      // but a new lineage appending STRICTLY past the head is
      // legitimate — and adopts the record, so ITS later replays drain
      spark.sparkContext.setLocalProperty("sql.streaming.queryId", "q-two")
      sink(df(3L), 2L)
      liveIds() shouldBe Seq(1L, 2L, 3L)
      noException should be thrownBy sink(df(97L), 1L) // now same lineage
      liveIds() shouldBe Seq(1L, 2L, 3L)
    } finally
      spark.sparkContext.setLocalProperty("sql.streaming.queryId", null)
  }

  test("governedSink single-writer contract: a second LIVE query on the " +
    "same table fails loudly at its first commit and never steals the " +
    "recorded lineage (VERDICT r17 #4)") {
    val session = spark
    import session.implicits._
    import graft.operators.Snapshot
    val path = TempDirs.path(s"govsink2/${java.util.UUID.randomUUID()}")
    val sink = graft.streaming.Windows.governedSink(path)
    def df(ids: Long*) = ids.map(i => (i, s"v$i")).toDF("id", "v")
    def liveIds(): Seq[Long] =
      Snapshot.read(spark, path).select("id").collect().map(_.getLong(0)).sorted.toSeq
    try {
      // writer A drains batches 0 and 1
      spark.sparkContext.setLocalProperty("sql.streaming.queryId", "writer-A")
      sink(df(1L), 0L)
      sink(df(2L), 1L)
      // writer B starts CONCURRENTLY on its own checkpoint: ids restart
      // at 0 → rejected at its first commit, loudly (not adopted, not
      // silently no-op'd)
      spark.sparkContext.setLocalProperty("sql.streaming.queryId", "writer-B")
      an[IllegalArgumentException] should be thrownBy sink(df(50L), 0L)
      an[IllegalArgumentException] should be thrownBy sink(df(51L), 1L)
      liveIds() shouldBe Seq(1L, 2L)
      // writer A is undisturbed: next batch commits, a redelivered old
      // batch still no-ops — exactly-once never narrowed to B
      spark.sparkContext.setLocalProperty("sql.streaming.queryId", "writer-A")
      sink(df(3L), 2L)
      noException should be thrownBy sink(df(99L), 0L)
      liveIds() shouldBe Seq(1L, 2L, 3L)
    } finally
      spark.sparkContext.setLocalProperty("sql.streaming.queryId", null)
  }

  test("quality gates run unchanged on a stream: gopher + PII scrub at ingest") {
    val session = spark
    import session.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.functions.{TextFunctions => T}

    def t(s: String) = Timestamp.valueOf(s)
    // pure column expressions compose into the streaming plan exactly
    // as in batch — the unified-model contract the whole quality
    // surface is built on
    val in = MemoryStream[(Timestamp, Long, String)]
    val gated = in.toDF().toDF("ts", "doc_id", "text")
      .filter(T.gopherFlags(col("text")).getField("pass") === 1)
      .select(col("doc_id"), T.redactPii(col("text")).as("clean"))
    val q = gated.writeStream.format("memory").queryName("st_quality")
      .outputMode(OutputMode.Append()).start()
    try {
      val good = ((1 to 60).map(i => f"word$i%02d") ++ Seq("the", "and"))
        .mkString(" ")
      in.addData(
        (t("2024-01-01 10:00:00"), 1L, good + " mail me at a.b@example.com"),
        (t("2024-01-01 10:01:00"), 2L, "too short to pass the word count"),
        (t("2024-01-01 10:02:00"), 3L, good))
      q.processAllAvailable()
      val out = spark.table("st_quality").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      out.keySet shouldBe Set(1L, 3L)
      out(1L) should endWith("mail me at <EMAIL>")
      out(3L) shouldBe good
    } finally q.stop()
  }

  test("trained classifier scores a stream exactly as batch (model in the closure)") {
    val session = spark
    import session.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.QualityClassifier
    import graft.queries.PlantedFixtures

    // train once (batch build step), then the SAME fused scoring
    // expression gates a stream — weights ride the closure like any
    // literal, no state store, no extra plan nodes
    val model = QualityClassifier.train(
      PlantedFixtures.labeledDocs(spark).repartition(2),
      "text", "label", dim = 64, iters = 20)
    val docs = PlantedFixtures.labeledDocs(spark)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val in = MemoryStream[(Long, String)]
    val scored = QualityClassifier.classify(
      in.toDF().toDF("doc_id", "text"), "text", model)
      .select("doc_id", "quality_prob", "pred")
    val q = scored.writeStream.format("memory").queryName("st_classifier")
      .outputMode(OutputMode.Append()).start()
    try {
      in.addData(docs.take(8)); q.processAllAvailable()
      in.addData(docs.drop(8)); q.processAllAvailable()
      val stream = spark.table("st_classifier").collect()
        .map(r => r.getLong(0) -> ((r.getDouble(1), r.getInt(2)))).toMap
      val batch = QualityClassifier.classify(
        PlantedFixtures.labeledDocs(spark), "text", model)
        .select("doc_id", "quality_prob", "pred").collect()
        .map(r => r.getLong(0) -> ((r.getDouble(1), r.getInt(2)))).toMap
      stream shouldBe batch // bit-identical probs, not just labels
    } finally q.stop()
  }

  test("split assignment and NFC cleanup run unchanged at streaming ingest") {
    val session = spark
    import session.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.functions.{TextFunctions => T}
    import graft.operators.Sampling

    // per-row arithmetic-hash ops are streaming-safe by construction
    // (no state, no RNG): the same rows land in the same split whether
    // they arrive in batch or on a stream
    val in = MemoryStream[(Long, String)]
    val routed = Sampling.assignSplits(
      in.toDF().toDF("doc_id", "text"), "doc_id",
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), seed = 42)
      .select(col("doc_id"), col("split"), T.cleanText(col("text")).as("clean"))
    val q = routed.writeStream.format("memory").queryName("st_split")
      .outputMode(OutputMode.Append()).start()
    try {
      in.addData((1L, "café  doc"), (2L, "plain doc"), (3L, "x  y"))
      q.processAllAvailable()
      val out = spark.table("st_split").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      out.length shouldBe 3
      // batch-twin parity: identical assignment + cleanup off-stream
      val batch = Sampling.assignSplits(
        Seq((1L, "café  doc"), (2L, "plain doc"), (3L, "x  y"))
          .toDF("doc_id", "text"), "doc_id",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), seed = 42)
        .select(col("doc_id"), col("split"),
          T.cleanText(col("text")).as("clean"))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      out.sortBy(_._1) shouldBe batch.sortBy(_._1)
      out.find(_._1 == 1L).get._3 shouldBe "café doc"
    } finally q.stop()
  }

  test("streaming corpus dedup: micro-batches probe and grow the persisted index", Slow) {
    val session = spark
    import session.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.col
    val idx = graft.TempDirs.path("minhash-index/streaming")
    val base = "the quick brown fox jumps over the lazy dog tonight again and again"
    graft.operators.Dedup.buildMinhashIndex(
      Seq(1L -> "unrelated corpus seed document with entirely distinct words")
        .toDF("doc_id", "text"), "doc_id", "text", idx)
    val sunk = scala.collection.mutable.ArrayBuffer.empty[Long]
    val in = MemoryStream[(Long, String)]
    val q = graft.streaming.Windows.streamingDedupAgainstIndex(
        in.toDF().toDF("doc_id", "text"), "doc_id", "text", idx) { survivors =>
      sunk ++= survivors.select(col("doc_id")).collect().map(_.getLong(0))
    }
    try {
      // batch 1: novel doc → survives, appended to the index
      in.addData((10L, base))
      q.processAllAvailable()
      sunk.toSeq shouldBe Seq(10L)
      // batch 2: a near-dup of batch 1's survivor (dropped — the index
      // remembers doc 10 across batches) plus a novel doc (survives)
      in.addData((20L, base + " extra"), (30L, "a different novel document"))
      q.processAllAvailable()
      sunk.sorted.toSeq shouldBe Seq(10L, 30L)
    } finally q.stop()
  }

  test("streaming corpus dedup: two near-dup docs in ONE micro-batch collapse to the min id", Slow) {
    val session = spark
    import session.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.col
    val idx = graft.TempDirs.path("minhash-index/streaming-inbatch")
    val base = "the quick brown fox jumps over the lazy dog tonight again and again"
    graft.operators.Dedup.buildMinhashIndex(
      Seq(1L -> "unrelated corpus seed document with entirely distinct words")
        .toDF("doc_id", "text"), "doc_id", "text", idx)
    val sunk = scala.collection.mutable.ArrayBuffer.empty[Long]
    val in = MemoryStream[(Long, String)]
    val q = graft.streaming.Windows.streamingDedupAgainstIndex(
        in.toDF().toDF("doc_id", "text"), "doc_id", "text", idx) { survivors =>
      sunk ++= survivors.select(col("doc_id")).collect().map(_.getLong(0))
    }
    try {
      // docs 10 and 11 are near-dups of EACH OTHER (neither matches the
      // corpus yet): exactly the min id survives to the sink — the
      // batch-internal pass the r6 loop documented as a pass-through
      in.addData((11L, base + " extra"), (10L, base))
      q.processAllAvailable()
      sunk.sorted.toSeq shouldBe Seq(10L)
      // and only the survivor entered the index: the next batch's
      // near-dup matches doc 10, and a novel doc passes
      in.addData((20L, base + " more"), (30L, "a different novel document"))
      q.processAllAvailable()
      sunk.sorted.toSeq shouldBe Seq(10L, 30L)
    } finally q.stop()
  }

  test("ingest-loop stats: per-batch dedup rates and probe-cap skips surface to the operator", Slow) {
    val session = spark
    import session.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.col
    val idx = graft.TempDirs.path("minhash-index/streaming-stats")
    val seed = "unrelated corpus seed document with entirely distinct words"
    val dup = "the quick brown fox jumps over the lazy dog tonight again and again"
    graft.operators.Dedup.buildMinhashIndex(
      Seq(1L -> seed).toDF("doc_id", "text"), "doc_id", "text", idx, maxBucket = 2)
    // three pre-stream appends of identical text grow one bucket per
    // band to 3 docs — past the cap no single append could see
    Seq(10L, 11L, 12L).zipWithIndex.foreach { case (id, b) =>
      graft.operators.Dedup.appendToMinhashIndex(
        Seq(id -> dup).toDF("doc_id", "text"), "doc_id", "text", idx,
        maxBucket = 2, batchId = Some(100L + b))
    }
    val stats = scala.collection.mutable.ArrayBuffer
      .empty[graft.streaming.Windows.IngestBatchStats]
    val in = MemoryStream[(Long, String)]
    val q = graft.streaming.Windows.streamingDedupAgainstIndexKeyed(
        in.toDF().toDF("doc_id", "text"), "doc_id", "text", idx,
        onStats = Some(stats += _)) { (_, _) => () }
    try {
      in.addData(
        (99L, dup),                // probes only grown buckets → skipped, SURVIVES
        (98L, seed + " extra"),    // corpus dup of the seed → dropped
        (20L, "a fresh novel sentence with plenty of distinct words"),
        (21L, "a fresh novel sentence with plenty of distinct words too"), // in-batch dup of 20
        (22L, "completely different final content body"))
      q.processAllAvailable()
      stats.toSeq shouldBe Seq(graft.streaming.Windows.IngestBatchStats(
        batchId = 0L, nIn = 5L, nCorpusDups = 1L, nInBatchCollapsed = 1L,
        nSurvivors = 3L, nSkippedBuckets = 16L, nDocsInSkippedBuckets = 48L))
    } finally q.stop()
  }

  test("compactEvery: the ingest loop folds batch partitions in the serial batch slot", Slow) {
    val session = spark
    import session.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.col
    val idx = graft.TempDirs.path("minhash-index/streaming-compact")
    val t1 = "the quick brown fox jumps over the lazy dog tonight again and again"
    graft.operators.Dedup.buildMinhashIndex(
      Seq(1L -> "unrelated corpus seed document with entirely distinct words")
        .toDF("doc_id", "text"), "doc_id", "text", idx)
    def batchIds: Seq[Long] = spark.read.parquet(s"$idx/buckets")
      .select(col("batch_id").cast("long")).distinct()
      .collect().map(_.getLong(0)).sorted.toSeq
    val sunk = scala.collection.mutable.ArrayBuffer.empty[Long]
    val in = MemoryStream[(Long, String)]
    val q = graft.streaming.Windows.streamingDedupAgainstIndexKeyed(
        in.toDF().toDF("doc_id", "text"), "doc_id", "text", idx,
        compactEvery = Some(2)) { (survivors, _) =>
      sunk ++= survivors.select(col("doc_id")).collect().map(_.getLong(0))
    }
    try {
      // batch 0: novel doc appends under its own batch partition
      in.addData((10L, t1))
      q.processAllAvailable()
      batchIds shouldBe Seq(-1L, 0L)
      // batch 1: second novel doc, then the every-2nd-batch compaction
      // fires in the same serial slot — all partitions fold to -1
      in.addData((11L, "another entirely different novel document"))
      q.processAllAvailable()
      batchIds shouldBe Seq(-1L)
      // batch 2: the COMPACTED index still answers — doc 10's near-dup
      // is dropped, and the stream is alive
      in.addData((20L, t1 + " extra"))
      q.processAllAvailable()
      q.isActive shouldBe true
      sunk.sorted.toSeq shouldBe Seq(10L, 11L)
    } finally q.stop()
  }

  test("streaming corpus dedup: a 64-link in-batch near-dup chain collapses without killing the stream", Slow) {
    val session = spark
    import session.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.col
    val idx = graft.TempDirs.path("minhash-index/streaming-chain")
    graft.operators.Dedup.buildMinhashIndex(
      Seq(1L -> "unrelated corpus seed document with entirely distinct words")
        .toDF("doc_id", "text"), "doc_id", "text", idx)
    // 65 docs forming a 64-LINK drift chain: doc i is a 20-token
    // window sliding one token per doc over a unique-token stream, so
    // adjacent docs share 17/19 shingles (jaccard ≈ 0.89 ≥ 0.7) while
    // the endpoints share nothing — one connected dup cluster whose
    // diameter exceeds the min-label loop's default maxIter. The OLD
    // in-batch collapse (connectedComponents, maxIter=20) threw inside
    // foreachBatch on exactly this shape and terminated the stream;
    // the star variant closes it in O(log n) alternations.
    val words = (0 until 84).map(i => s"tok$i")
    val chain = (0 until 65).map(i =>
      (100L + i, words.slice(i, i + 20).mkString(" ")))
    val sunk = scala.collection.mutable.ArrayBuffer.empty[Long]
    val in = MemoryStream[(Long, String)]
    val q = graft.streaming.Windows.streamingDedupAgainstIndex(
        in.toDF().toDF("doc_id", "text"), "doc_id", "text", idx) { survivors =>
      sunk ++= survivors.select(col("doc_id")).collect().map(_.getLong(0))
    }
    try {
      in.addData(chain: _*)
      q.processAllAvailable()
      q.isActive shouldBe true // the stream survived the deep chain
      sunk.sorted.toSeq shouldBe Seq(100L) // one representative: the min id
    } finally q.stop()
  }

  test("streaming corpus dedup follows the index's stored (non-default) knobs", Slow) {
    val session = spark
    import session.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.col
    // index built with NON-default key knobs: the stream must read them
    // from _index.json and keep working (r6 hardcoded the defaults and
    // failed requireIndexParams on any tuned index)
    val idx = graft.TempDirs.path("minhash-index/streaming-tuned")
    val base = "the quick brown fox jumps over the lazy dog tonight again and again"
    graft.operators.Dedup.buildMinhashIndex(
      Seq(1L -> base).toDF("doc_id", "text"), "doc_id", "text", idx,
      shingleK = 2, numHashes = 32, bands = 8)
    val sunk = scala.collection.mutable.ArrayBuffer.empty[Long]
    val in = MemoryStream[(Long, String)]
    val q = graft.streaming.Windows.streamingDedupAgainstIndex(
        in.toDF().toDF("doc_id", "text"), "doc_id", "text", idx) { survivors =>
      sunk ++= survivors.select(col("doc_id")).collect().map(_.getLong(0))
    }
    try {
      in.addData((10L, base + " extra"), (20L, "novel content with its own words"))
      q.processAllAvailable()
      sunk.sorted.toSeq shouldBe Seq(20L) // 10 deduped against the tuned index
    } finally q.stop()
  }

  test("snapshot-enabled index makes the ingest loop's appends exactly-once", Slow) {
    val session = spark
    import session.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.col
    import graft.operators.{Dedup, Snapshot}
    val idx = graft.TempDirs.path("minhash-index/streaming-snapshot")
    val out = graft.TempDirs.path("sink/streaming-snapshot")
    Dedup.buildMinhashIndex(
      Seq(1L -> "unrelated corpus seed document with entirely distinct words")
        .toDF("doc_id", "text"), "doc_id", "text", idx)
    Snapshot.enableSub(spark, idx, "buckets") // ROOT manifest governs the triple
    val in = MemoryStream[(Long, String)]
    val q = graft.streaming.Windows.streamingDedupAgainstIndexKeyed(
      in.toDF().toDF("doc_id", "text"), "doc_id", "text", idx)(
      graft.streaming.Windows.idempotentParquetSink(out))
    try {
      in.addData((10L, "a novel document body with fresh words"),
        (11L, "another entirely different novel document"))
      q.processAllAvailable()
    } finally q.stop()
    // the loop's append committed micro-batch 0 through the manifest
    Snapshot.liveBatches(spark, idx).toSet shouldBe Set(-1L, 0L)
    val v = Snapshot.latestVersion(spark, idx).get
    def probeHits(): Long = Dedup.minhashNearDupsAgainstIndex(
      Seq(20L -> "a novel document body with fresh words")
        .toDF("doc_id", "text"), "doc_id", "text", idx).count()
    probeHits() should be >= 1L // doc 10 is in the index
    // at-least-once REDELIVERY of micro-batch 0 (crash after the index
    // append, before the offset commit — the loop re-runs the batch):
    // the committed id makes the re-append a NO-OP — no manifest bump,
    // no directory rewrite under concurrent probes, identical probes
    Dedup.appendToMinhashIndex(
      Seq(10L -> "a novel document body with fresh words")
        .toDF("doc_id", "text"), "doc_id", "text", idx,
      batchId = Some(0L))
    Snapshot.latestVersion(spark, idx) shouldBe Some(v)
    Snapshot.liveBatches(spark, idx).toSet shouldBe Set(-1L, 0L)
    probeHits() should be >= 1L
  }

  test("idempotent sink: a redelivered batch replaces its rows, counts unchanged", Slow) {
    val session = spark
    import session.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.col
    val idx = graft.TempDirs.path("minhash-index/streaming-sink")
    val out = graft.TempDirs.path("sink/replay")
    graft.operators.Dedup.buildMinhashIndex(
      Seq(1L -> "unrelated corpus seed document with entirely distinct words")
        .toDF("doc_id", "text"), "doc_id", "text", idx)
    val sink = graft.streaming.Windows.idempotentParquetSink(out)
    val in = MemoryStream[(Long, String)]
    val q = graft.streaming.Windows.streamingDedupAgainstIndexKeyed(
      in.toDF().toDF("doc_id", "text"), "doc_id", "text", idx)(sink)
    try {
      in.addData((10L, "a novel document body with fresh words"),
        (11L, "another entirely different novel document"))
      q.processAllAvailable()
      val afterFirst = spark.read.parquet(out).count()
      afterFirst shouldBe 2L
      // at-least-once redelivery of batch 0 (crash between sink write
      // and offset commit): the SAME (rows, batchId) land again — the
      // partition overwrite makes it a replace, not a second copy
      sink(Seq((10L, "a novel document body with fresh words"),
        (11L, "another entirely different novel document"))
        .toDF("doc_id", "text"), 0L)
      spark.read.parquet(out).count() shouldBe afterFirst
      // a partial first attempt is also repaired, not stacked
      sink(Seq((10L, "a novel document body with fresh words"))
        .toDF("doc_id", "text"), 0L)
      sink(Seq((10L, "a novel document body with fresh words"),
        (11L, "another entirely different novel document"))
        .toDF("doc_id", "text"), 0L)
      spark.read.parquet(out).count() shouldBe 2L
      // reader-side contract: batch_id is a partition column consumers
      // simply don't select
      spark.read.parquet(out).select("doc_id").collect()
        .map(_.getLong(0)).sorted.toSeq shouldBe Seq(10L, 11L)
    } finally q.stop()
  }

  test("unified loop: one stream maintains the text, embedding and IVF serving indexes", Slow) {
    val session = spark
    import session.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.col
    def v(xs: Double*): Seq[Float] = xs.map(_.toFloat)
    val textIdx = graft.TempDirs.path("minhash-index/streaming-unified")
    val embIdx = graft.TempDirs.path("embedding-index/streaming-unified")
    val ivfIdx = graft.TempDirs.path("ann-index/streaming-unified")
    val seedText = "unrelated corpus seed document with entirely distinct words"
    val base = "the quick brown fox jumps over the lazy dog tonight again and again"
    graft.operators.Dedup.buildMinhashIndex(
      Seq(1L -> seedText).toDF("doc_id", "text"), "doc_id", "text", textIdx)
    graft.operators.Dedup.buildEmbeddingIndex(
      Seq((1L, v(2, 1, 0, 0, 0, 0, 0, 0))).toDF("doc_id", "vec"),
      "doc_id", "vec", 8, embIdx)
    // the SERVING index the loop keeps in step with the dedup gates
    graft.operators.Ann.buildIvfIndex(
      Seq((1L, v(2, 1, 0, 0, 0, 0, 0, 0))).toDF("doc_id", "vec"),
      "doc_id", "vec", 8, nCells = 1, outPath = ivfIdx)
    val sunk = scala.collection.mutable.ArrayBuffer.empty[Long]
    val in = MemoryStream[(Long, String, Seq[Float])]
    val q = graft.streaming.Windows.streamingDedupAgainstIndexes(
        in.toDF().toDF("doc_id", "text", "vec"), "doc_id", "text", "vec",
        textIdx, embIdx, compactEvery = Some(2), ivfIndexPath = Some(ivfIdx)) {
        (survivors, _) =>
      sunk ++= survivors.select(col("doc_id")).collect().map(_.getLong(0))
    }
    try {
      // 10: TEXT near-dup of the corpus seed (novel vector)   → dropped
      // 11: EMBEDDING colinear with the corpus vector         → dropped
      // 12+13: in-batch TEXT near-dups of each other          → keep 12
      // 14: novel in both modalities                          → survives
      in.addData(
        (10L, seedText + " extra", v(0, 0, 1, 0, 0, 0, 0, 0)),
        (11L, "some other entirely fresh sentence about nothing", v(4, 2, 0, 0, 0, 0, 0, 0)),
        (12L, base, v(0, 0, 0, 1, 0, 0, 0, 0)),
        (13L, base + " extra", v(0, 0, 0, 0, 1, 0, 0, 0)),
        (14L, "completely novel words forming a unique document", v(0, 0, 0, 0, 0, 1, 0, 0)))
      q.processAllAvailable()
      q.isActive shouldBe true
      sunk.sorted.toSeq shouldBe Seq(12L, 14L)
      // batch 2 proves BOTH indexes advanced with batch 1's survivors:
      // 20 text-dups doc 12's appended text, 21 is colinear with doc
      // 14's appended vector, 22 is novel → only 22 lands
      in.addData(
        (20L, base + " more", v(1, 0, 0, 0, 0, 0, 0, 1)),
        (21L, "yet another run of fresh words here", v(0, 0, 0, 0, 0, 2, 0, 0)),
        (22L, "final genuinely new content body", v(0, 0, 0, 0, 0, 0, 1, 0)))
      q.processAllAvailable()
      sunk.sorted.toSeq shouldBe Seq(12L, 14L, 22L)
      // the SERVING index advanced batch-by-batch with exactly the
      // dedup survivors (seed + 12/14/22), and the every-2nd-batch
      // compaction folded its append partitions
      spark.read.parquet(s"$ivfIdx/vectors").select("doc_id").collect()
        .map(_.getLong(0)).sorted.toSeq shouldBe Seq(1L, 12L, 14L, 22L)
      spark.read.parquet(s"$ivfIdx/vectors")
        .select(col("batch_id").cast("long")).distinct()
        .collect().map(_.getLong(0)).toSeq shouldBe Seq(-1L)
      // an ingested vector is immediately searchable: doc 14's exact
      // direction tops the serving-index probe at sim 1.0
      val hit = graft.operators.Ann.searchIvfIndex(spark, ivfIdx,
        "doc_id", "vec", Seq(0, 0, 0, 0, 0, 1, 0, 0).map(_.toDouble),
        k = 1, nProbe = 1).collect()(0)
      hit.getLong(0) shouldBe 14L
      hit.getDouble(1) shouldBe 1.0 +- 1e-9
    } finally q.stop()
  }

  test("streaming dedup: null-text rows get a deterministic signature in BOTH modes") {
    val session = spark
    import session.implicits._
    implicit val sqlCtx = spark.sqlContext
    def t(s: String) = Timestamp.valueOf(s)
    // exact mode coalesces null → "" (matching the simhash branch), so
    // the two null-text rows dedup against EACH OTHER (and against ""),
    // not via null-safe equality semantics that depend on sig nullability
    val in = MemoryStream[(Timestamp, Long, String)]
    val q = graft.streaming.Windows.streamingDedup(
        in.toDF().toDF("ts", "doc_id", "text"), "ts", "text", late = "1 hour")
      .writeStream.format("memory").queryName("st_dedup_null")
      .outputMode(OutputMode.Append()).start()
    try {
      in.addData(
        (t("2024-01-01 10:00:00"), 1L, null),
        (t("2024-01-01 10:01:00"), 2L, null),  // dups row 1 (both "")
        (t("2024-01-01 10:02:00"), 3L, ""),    // dups row 1 too
        (t("2024-01-01 10:03:00"), 4L, "real text survives"))
      q.processAllAvailable()
      spark.table("st_dedup_null").collect().map(_.getLong(1)).sorted.toSeq shouldBe
        Seq(1L, 4L)
    } finally q.stop()
  }

  test("stream-stream interval join matches the batch grid join (iv1 twin)") {
    val session = spark
    import session.implicits._
    implicit val sqlCtx = spark.sqlContext
    def t(s: String) = Timestamp.valueOf(s)

    // points and 10-minute intervals; includes both-ends-inclusive
    // boundary points and a point matching two overlapping intervals
    val pointRows = Seq(
      (1L, t("2024-01-01 10:00:00")), // == i1.start (inclusive)
      (2L, t("2024-01-01 10:10:00")), // == i1.end (inclusive) AND in i2
      (3L, t("2024-01-01 10:14:00")), // in i2 only
      (4L, t("2024-01-01 11:00:00"))) // in none
    val intervalRows = Seq(
      (10L, t("2024-01-01 10:00:00"), t("2024-01-01 10:10:00")),
      (20L, t("2024-01-01 10:05:00"), t("2024-01-01 10:15:00")))

    val pIn = MemoryStream[(Long, Timestamp)]
    val iIn = MemoryStream[(Long, Timestamp, Timestamp)]
    val joined = graft.streaming.StreamJoins.streamingIntervalJoin(
        pIn.toDF().toDF("event_id", "ts"),
        "ts",
        iIn.toDF().toDF("int_id", "start_ts", "end_ts"),
        "start_ts", "end_ts", gridMicros = 600L * 1000000,
        maxIntervalSec = 900L, late = "10 minutes")
      .select(col("int_id"), col("event_id"))
    val q = joined.writeStream.format("memory").queryName("st_interval")
      .outputMode(OutputMode.Append()).start()
    try {
      // intervals land first, points trickle in over two batches
      iIn.addData(intervalRows: _*)
      q.processAllAvailable()
      pIn.addData(pointRows.take(2): _*)
      q.processAllAvailable()
      pIn.addData(pointRows.drop(2): _*)
      q.processAllAvailable()

      val streamed = spark.table("st_interval")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val batch = graft.operators.IntervalJoin.intervalJoin(
          pointRows.toDF("event_id", "ts"), "ts",
          intervalRows.toDF("int_id", "start_ts", "end_ts"),
          "start_ts", "end_ts", gridMicros = 600L * 1000000)
        .select(col("int_id"), col("event_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      streamed shouldBe batch
      streamed shouldBe Set((10L, 1L), (10L, 2L), (20L, 2L), (20L, 3L))
    } finally q.stop()
  }

  test("streaming as-of drops input behind the watermark (explicit — fMGWS gets no automatic filter)") {
    val session = spark
    import session.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.{AsOf, AsofIn}
    def t(s: String) = Timestamp.valueOf(s)
    val input = MemoryStream[AsofIn]
    val q = AsOf.streamingAsof(input.toDS(), late = "30 minutes")
      .writeStream.format("memory").queryName("st_asof_late")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(
        AsofIn("u", t("2024-01-01 10:00:00"), 0, 1L, 5.0),
        AsofIn("u", t("2024-01-01 10:05:00"), 1, 100L, 0.0),
        AsofIn("u", t("2024-01-01 12:00:00"), 0, 2L, 9.0)) // wm → 11:30
      q.processAllAvailable()
      // a left at 10:30 is now 1h behind the watermark: must be DROPPED,
      // not bound against the collapsed right state
      input.addData(AsofIn("u", t("2024-01-01 10:30:00"), 1, 101L, 0.0))
      q.processAllAvailable()
      input.addData(AsofIn("u", t("2024-01-02 12:00:00"), 0, 3L, 1.0)) // flush
      q.processAllAvailable()
      input.addData(AsofIn("u", t("2024-01-02 13:00:00"), 0, 4L, 2.0))
      q.processAllAvailable()
      val ids = spark.table("st_asof_late").collect().map(_.getLong(2)).toSet
      ids should contain(100L)
      ids should not contain 101L
    } finally q.stop()
  }

  test("streaming as-of matches the batch asofJoin on the same rows (j4 twin)") {
    val session = spark
    import session.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.{AsOf, AsofIn}
    def t(s: String) = Timestamp.valueOf(s)

    // two keys; rights (side 0) carry values, lefts (side 1) probe.
    // Includes: a left before any right (null match), a right at
    // exactly a left's ts (inclusive as-of), a tie between two rights
    // at one ts (greatest tie wins), and cross-batch DISORDER within
    // the watermark slack (u1's 10:20 left arrives a batch after the
    // 10:30 right).
    val all = Seq(
      AsofIn("u1", t("2024-01-01 09:50:00"), 1, 100L, 0.0), // left, no prior right
      AsofIn("u1", t("2024-01-01 10:00:00"), 0, 1L, 1.5),
      AsofIn("u1", t("2024-01-01 10:00:00"), 0, 2L, 2.5),   // tie: tie=2 wins
      AsofIn("u1", t("2024-01-01 10:05:00"), 1, 101L, 0.0), // → 2.5
      AsofIn("u1", t("2024-01-01 10:30:00"), 0, 3L, 3.5),
      AsofIn("u1", t("2024-01-01 10:20:00"), 1, 102L, 0.0), // late-arriving → 2.5
      AsofIn("u1", t("2024-01-01 10:30:00"), 1, 103L, 0.0), // at right's ts → 3.5
      AsofIn("u2", t("2024-01-01 10:10:00"), 0, 4L, 9.0),
      AsofIn("u2", t("2024-01-01 10:40:00"), 1, 104L, 0.0)) // → 9.0

    val input = MemoryStream[AsofIn]
    val q = AsOf.streamingAsof(input.toDS(), late = "30 minutes")
      .writeStream.format("memory").queryName("st_asof")
      .outputMode(OutputMode.Append()).start()
    try {
      // batch 1: everything up to 10:05; batch 2 delivers the 10:30
      // right BEFORE the 10:20 left (disorder inside the 30 min slack)
      input.addData(all.take(4): _*)
      q.processAllAvailable()
      input.addData(all.slice(4, 9): _*)
      q.processAllAvailable()
      // flush: advance the watermark far past every left
      input.addData(AsofIn("zz", t("2024-01-02 12:00:00"), 0, 0L, 0.0))
      q.processAllAvailable()
      // second flush batch: keys without fresh data drain via the
      // event-time timeout set on their pending lefts
      input.addData(AsofIn("zz", t("2024-01-02 13:00:00"), 0, 0L, 0.0))
      q.processAllAvailable()

      val streamed = spark.table("st_asof")
        .collect().map(r => (r.getString(0), r.getTimestamp(1).toString,
          r.getLong(2), Option(r.getTimestamp(3)).map(_.toString),
          Option(r.get(4)).map(_.asInstanceOf[Double]))).toSet

      // batch twin over the SAME rows through the production asofJoin
      val lefts = all.filter(_.side == 1)
        .map(e => (e.key, e.ts, e.tie)).toDF("key", "ts", "left_id")
      val rights = all.filter(_.side == 0)
        .map(e => (e.key, e.ts, e.tie, e.value)).toDF("key", "ts", "tie", "value")
      val batch = AsOf.asofJoin(lefts, rights, "key", "ts",
          rightCols = Seq("value"), tieCol = "tie")
        .collect().map(r => (r.getString(0), r.getTimestamp(1).toString,
          r.getLong(2), Option(r.getTimestamp(3)).map(_.toString),
          Option(r.get(4)).map(_.asInstanceOf[Double]))).toSet

      streamed shouldBe batch
      // and the planted expectations hold on both
      streamed.map(x => (x._3, x._5)) shouldBe Set(
        (100L, None), (101L, Some(2.5)), (102L, Some(2.5)),
        (103L, Some(3.5)), (104L, Some(9.0)))
    } finally q.stop()
  }

  test("streaming fuzzy match: micro-batches match a standing dictionary exactly as batch", Slow) {
    val session = spark
    import session.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.FuzzyJoin
    // the reference's street-name repair domain as a continuous
    // pipeline: dirty names stream in, the canonical dictionary is
    // standing (its deletion-neighborhood keys built once at stream
    // start), matches land batch-keyed in the idempotent sink
    val dict = Seq((1L, "North Bond Street"), (2L, "Main Street"),
      (3L, "Pennsylvania Avenue"), (4L, "Smith")).toDF("dict_id", "name")
    val out = graft.TempDirs.path("sink/fuzzy-match")
    val sink = graft.streaming.Windows.idempotentParquetSink(out)
    val in = MemoryStream[(Long, String)]
    val fm = graft.streaming.Windows.streamingFuzzyMatch(
      in.toDF().toDF("row_id", "dirty"), "row_id", "dirty",
      dict, "dict_id", "name", maxDist = 2)(sink)
    try {
      // batch 0 carries a position-0 edit ("mith"/"Smith" — the block
      // the pre-FastSS demo missed) and a no-match row
      in.addData((10L, "North Bond Stret"), (11L, "mith"),
        (12L, "unmatchable zzz"))
      fm.query.processAllAvailable()
      in.addData((20L, "Main Steet"), (21L, "Pennsylvania Avenue"))
      fm.query.processAllAvailable()
    } finally fm.query.stop()
    try {
      val streamed = spark.read.parquet(out)
        .select("left_id", "dict_id", "dist")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      // batch twin over the SAME rows through the production two-table
      // join — identical matches regardless of micro-batch slicing
      val allRows = Seq((10L, "North Bond Stret"), (11L, "mith"),
        (12L, "unmatchable zzz"), (20L, "Main Steet"),
        (21L, "Pennsylvania Avenue")).toDF("row_id", "dirty")
      val expect = FuzzyJoin.join(allRows, "row_id", "dirty",
          dict, "dict_id", "name", maxDist = 2)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      streamed shouldBe expect
      // planted: position-0 edit found, exact match at dist 0, the
      // no-match row emits nothing
      streamed should contain ((11L, 4L, 1))
      streamed should contain ((21L, 3L, 0))
      streamed.map(_._1) should not contain 12L
      // exactly-once sink semantics, as in the st5 loop: an
      // at-least-once redelivery of batch 0's matches is a partition
      // replace, not a second copy
      val before = spark.read.parquet(out).count()
      val b0 = spark.read.parquet(s"$out/batch_id=0")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
      sink(b0.toDF("left_id", "dict_id", "dist"), 0L)
      spark.read.parquet(out).count() shouldBe before
    } finally fm.unpersist()
  }

  test("streaming ANN serving: every served micro-batch equals the direct " +
    "batch-path search; a non-index path fails the START, not batch N") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators.Ann
    import graft.queries.PlantedFixtures
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val embs = PlantedFixtures.pqVectors(spark)
    val idx = graft.TempDirs.path(
      s"ivfpq-index/annserve-${java.util.UUID.randomUUID()}")
    Ann.buildIvfPqIndex(embs, "vec_id", "embedding",
      PlantedFixtures.PqFixtureDim, nCells = 2, m = 2, kCodes = 4,
      outPath = idx, iters = 2, lloydIters = 2)
    val qvecs = embs.filter(col("vec_id").isin(0L, 5L, 8L))
      .select(col("vec_id"), col("embedding"))
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1))).toMap
    val out = graft.TempDirs.path(
      s"sink/annserve-${java.util.UUID.randomUUID()}")
    val in = MemoryStream[(Long, Seq[Float])]
    val q = graft.streaming.AnnServe.streamingAnnServe(
      in.toDF().toDF("qid", "qv"), "qid", "qv", idx, "vec_id",
      "embedding", k = 3, nProbe = 2, shortlist = 16)(
      graft.streaming.Windows.idempotentParquetSink(out))
    try {
      in.addData((0L, qvecs(0L)), (5L, qvecs(5L)))
      q.processAllAvailable()
      in.addData((8L, qvecs(8L)))
      q.processAllAvailable()
    } finally q.stop()
    val served = spark.read.parquet(out)
      .select("query_id", "vec_id", "sim").collect()
      .map(r => (r.getLong(0), r.getLong(1), math.rint(r.getDouble(2) * 1e9)))
      .toSet
    val direct = Ann.searchIvfPqIndexBatch(spark, idx, "vec_id", "embedding",
        embs.filter(col("vec_id").isin(0L, 5L, 8L))
          .select(col("vec_id").as("qid"), col("embedding").as("qv")),
        "qid", "qv", 3, nProbe = 2, shortlist = 16)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), math.rint(r.getDouble(2) * 1e9)))
      .toSet
    served shouldBe direct
    // malformed index: the stream must refuse to START
    intercept[Exception] { // params read/validated at START, not batch N
      graft.streaming.AnnServe.streamingAnnServe(
        in.toDF().toDF("qid", "qv"), "qid", "qv",
        graft.TempDirs.path("not-an-index"), "vec_id", "embedding", 3)(
        graft.streaming.Windows.idempotentParquetSink(out))
    }
  }

  test("streaming gold hop: standing refresh stays exactly-once across " +
    "sink redelivery AND a gold-hop crash replay", Slow) {
    val session = spark
    import session.implicits._
    import graft.operators.{IncrementalView, Snapshot}
    val id = java.util.UUID.randomUUID()
    val silver = TempDirs.path(s"goldhop/silver-$id")
    val gold = TempDirs.path(s"goldhop/gold-$id")
    val sink = graft.streaming.Windows.governedSink(silver)
    spark.sparkContext.setLocalProperty("sql.streaming.queryId", s"q-$id")
    def goldRows: Seq[(String, Long, Long)] =
      IncrementalView.read(spark, gold).select("k", "n_rows", "v_sum")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        .sortBy(_._1).toSeq
    try {
      sink(Seq(("a", 1L), ("b", 2L)).toDF("k", "v"), 0L)
      IncrementalView.build(spark, silver, gold, Seq("k"), Seq("v"))
      val q = graft.streaming.Windows.streamingGoldRefresh(
        spark, silver, gold)
      try {
        sink(Seq(("a", 3L), ("c", 7L)).toDF("k", "v"), 1L)
        q.processAllAvailable()
        val want = Seq(("a", 2L, 4L), ("b", 1L, 2L), ("c", 1L, 7L))
        goldRows shouldBe want
        // SINK REDELIVERY (at-least-once upstream): batch 1 re-arrives,
        // silver's version must not move, the standing refresh has
        // nothing to apply — totals unchanged
        val vSilver = Snapshot.latestVersion(spark, silver).get
        sink(Seq(("a", 999L)).toDF("k", "v"), 1L)
        Snapshot.latestVersion(spark, silver).get shouldBe vSilver
        q.processAllAvailable()
        goldRows shouldBe want
        // GOLD-HOP CRASH: the gold commit landed but the sync pointer
        // didn't move (rollbackSync simulates dying in the window).
        // The standing stream's next trigger replays the same window
        // and must CONVERGE, not double-count
        sink(Seq(("b", 5L)).toDF("k", "v"), 2L)
        q.processAllAvailable()
        val want2 = Seq(("a", 2L, 4L), ("b", 2L, 7L), ("c", 1L, 7L))
        goldRows shouldBe want2
        IncrementalView.rollbackSync(spark, gold,
          Snapshot.latestVersion(spark, silver).get - 1)
        sink(Seq(("d", 9L)).toDF("k", "v"), 3L) // new commit wakes the stream
        q.processAllAvailable()
        goldRows shouldBe (want2 :+ ("d", 1L, 9L))
      } finally q.stop()
    } finally
      spark.sparkContext.setLocalProperty("sql.streaming.queryId", null)
  }
}
