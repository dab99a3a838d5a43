package osmbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._

import graft.GraftSession
import graft.operators.{Repairs, Snapshot}
import graft.sources.OsmSource

/** The paper's OSM pipeline at the reference's scale, timed through the
  * library's public API. One JVM runs one workload:
  *
  *  - `osm_query`: one readme battery query per op over the table that
  *    set-up ingested (XML -> OsmXmlSource -> Repairs.clean ->
  *    OsmSource.writeParquet), cycling through the twelve in a fixed
  *    order; the traced run also probes that ingest path;
  *  - `osm_append`: parse a fresh ~1% delta, clean it, commit it with
  *    Snapshot.stagedAppend as batch k, read the table back through
  *    Snapshot.read and count by type and box.
  *
  * Every op's output is checked against `Gen`'s truth outside the timed
  * span. The last stdout line is the JSON result. */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        work: Path, spans: Path, cores: Int, selftest: Boolean)

  private def parse(argv: Array[String]): Args = {
    val m = argv.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    Args(m.getOrElse("workload", ""), m("seed").toLong, m("seconds").toInt,
      m.getOrElse("trace", "0") == "1", Paths.get(m("work")), Paths.get(m("spans")), m("cores").toInt,
      m.getOrElse("selftest", "0") == "1")
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val spark = GraftSession.local(a.cores)
    val out =
      try {
        if (a.selftest) SelfTest.run(spark, a)
        else new Run(spark, a).result()
      } finally spark.stop()
    println(out)
  }

  // ------------------------------------------------------------------
  // shared pieces
  // ------------------------------------------------------------------

  private val XmlFormat = "graft.sources.OsmXmlSource"
  private val elementEncoder = Encoders.product[OsmSource.OsmElement]

  /** Split size of the set-up loads: they are not timed ops, and at the
    * source's default split a cold reference-scale parse runs on one core
    * for about 20 s; four splits keep set-up inside the run budget. Timed
    * ops and the traced ingest probes use the default. */
  val SetupSplitBytes: Long = 16L << 20

  def readXml(spark: SparkSession, path: Path, splitBytes: Option[Long] = None): DataFrame =
    splitBytes.foldLeft(spark.read.format(XmlFormat))((r, b) => r.option("splitBytes", b.toString))
      .load(path.toString)

  /** The ingest op: parse (default options unless set-up), repair, write. */
  def ingest(spark: SparkSession, xml: Path, out: Path, splitBytes: Option[Long] = None): Unit =
    OsmSource.writeParquet(Repairs.clean(readXml(spark, xml, splitBytes)).as(elementEncoder), out.toString)

  /** Parquet bytes and files under `dir`. */
  def parquetSize(dir: Path): (Long, Int) = {
    val s = Files.walk(dir)
    try {
      val fs = s.iterator().asScala.filter(p => p.toString.endsWith(".parquet")).toSeq
      (fs.map(Files.size).sum, fs.size)
    } finally s.close()
  }

  /** Failures of a stored table against the extract's truth: counts by
    * type, every id exactly once, every repaired address and cleaned
    * street. */
  def checkTable(t: DataFrame, truth: Truth): Seq[String] = {
    val f = ArrayBuffer.empty[String]
    val id = col("id").cast("decimal(38,0)")
    val r = t.agg(count(when(col("type") === "node", 1)), count(when(col("type") === "way", 1)),
      count(lit(1)), countDistinct(col("id")), sum(id), sum(id * id)).collect()(0)
    if (r.getLong(0) != truth.nodes || r.getLong(1) != truth.ways)
      f += s"counts by type ${r.getLong(0)}/${r.getLong(1)}, want ${truth.nodes}/${truth.ways}"
    if (r.getLong(2) != truth.idCount || r.getLong(3) != truth.idCount)
      f += s"rows ${r.getLong(2)}, distinct ids ${r.getLong(3)}, want ${truth.idCount}"
    if (BigInt(r.getDecimal(4).toBigInteger) != truth.idSum || BigInt(r.getDecimal(5).toBigInteger) != truth.idSq)
      f += "id sums differ from the generated ids"
    val got = t.filter(col("address").isNotNull)
      .select(col("id"), col("address.street"), col("address.housenumber"), col("address.postcode"),
        col("address.city"), col("address.state")).collect()
      .map(r => r.getString(0) -> Addr(r.getString(1), r.getString(2), r.getString(3), r.getString(4), r.getString(5)))
      .toMap
    if (got.size != truth.addresses.size) f += s"${got.size} addresses, want ${truth.addresses.size}"
    val wrong = truth.addresses.filter { case (k, v) => !got.get(k).contains(v) }
    wrong.take(3).foreach { case (k, v) => f += s"address of $k = ${got.get(k)}, want $v" }
    if (wrong.size > 3) f += s"... ${wrong.size} addresses wrong"
    f.toSeq
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Harrell-Davis quantile estimate: a Beta-weighted mean of the order
    * statistics. A round of `osm_query` mixes twelve queries whose times
    * cluster in groups; the plain sample median jumps between the groups
    * either side of the middle from run to run, this estimate moves
    * smoothly with every op near the middle. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    val n = s.size
    if (n == 1) return s.head
    val (a, b) = ((n + 1) * q, (n + 1) * (1 - q))
    // regularized incomplete beta I_x(a, b) by Simpson's rule on the pdf
    val steps = 2000
    val logNorm = logGamma(a + b) - logGamma(a) - logGamma(b)
    def pdf(x: Double) = if (x <= 0 || x >= 1) 0.0 else math.exp(logNorm + (a - 1) * math.log(x) + (b - 1) * math.log1p(-x))
    val h = 1.0 / steps
    val cdf = new Array[Double](steps + 1)
    var i = 2
    while (i <= steps) {
      cdf(i) = cdf(i - 2) + h / 3 * (pdf((i - 2) * h) + 4 * pdf((i - 1) * h) + pdf(i * h))
      cdf(i - 1) = (cdf(i - 2) + cdf(i)) / 2
      i += 2
    }
    def at(x: Double) = cdf(math.min(steps, math.round(x * steps).toInt))
    val total = at(1.0)
    (1 to n).map(k => (at(k.toDouble / n) - at((k - 1).toDouble / n)) / total * s(k - 1)).sum
  }

  /** Lanczos approximation of ln Γ(x), x > 0. */
  private def logGamma(x: Double): Double = {
    val g = Array(676.5203681218851, -1259.1392167224028, 771.32342877765313, -176.61502916214059,
      12.507343278686905, -0.13857109526572012, 9.9843695780195716e-6, 1.5056327351493116e-7)
    if (x < 0.5) math.log(math.Pi / math.abs(math.sin(math.Pi * x))) - logGamma(1 - x)
    else {
      val y = x - 1
      var acc = 0.99999999999980993
      g.indices.foreach(i => acc += g(i) / (y + i + 1))
      val t = y + g.length - 0.5
      0.5 * math.log(2 * math.Pi) + (y + 0.5) * math.log(t) - t + math.log(acc)
    }
  }

  def json(correct: Boolean, attempted: Long, failed: Long, metrics: Seq[(String, Double, String)]): String = {
    val ms = metrics.map { case (n, v, u) =>
      require(!v.isNaN && !v.isInfinite, s"metric $n is $v")
      s""""$n": {"value": $v, "unit": "$u"}""" }
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {${ms.mkString(", ")}}}"""
  }
}

/** One benchmark run of one workload. */
final class Run(spark: SparkSession, a: Main.Args) {
  import Main._

  private val spans = new Spans(a.trace)
  private val counters = if (a.trace) Some(SparkCounters.install(spark)) else None
  private val failures = ArrayBuffer.empty[String]
  private var checkNs = 0L
  private var failedOps = 0L

  private def check(f: => Seq[String]): Unit = {
    val t0 = System.nanoTime()
    failures ++= f
    checkNs += System.nanoTime() - t0
  }

  private def phase(p: String): Unit =
    if (a.trace) spark.sparkContext.setLocalProperty("osmbench.phase", p)

  stderr(f"session up at ${(System.currentTimeMillis() - Jvm.startMs) / 1e3}%.2f s")
  private val xml = a.work.resolve("base.osm")
  private val truth = spans("gen.extract")(Gen.extract(a.seed, xml))
  private val inputMb = truth.xmlBytes / 1e6
  stderr(f"extract: ${truth.xmlBytes / 1e6}%.3f MB, ${truth.idCount} docs, at ${sinceStart()}%.2f s")

  private def sinceStart(): Double = (System.currentTimeMillis() - Jvm.startMs) / 1e3

  private def stderr(s: String): Unit = System.err.println(s"[osmbench] $s")


  def result(): String = a.workload match {
    case "osm_query" => queryWorkload()
    case "osm_append" => appendWorkload()
    case w => throw new IllegalArgumentException(s"unknown workload '$w'")
  }

  private var lastOp: Op = _
  /** Readings summed over the timed spans of the timed phase. */
  private var acc = Snap.zero

  /** The timed span of an op; checks and input making stay outside it,
    * and so do the readings taken around it. */
  private def timed[A](f: => A): A = {
    val s0 = snap()
    val e0 = System.currentTimeMillis(); val t0 = System.nanoTime()
    try f finally {
      lastOp = Op((System.nanoTime() - t0) / 1e6, e0, System.currentTimeMillis(), 0)
      acc = acc + (snap() - s0)
    }
  }

  /** Runs `op` in whole rounds until `seconds` have passed; a throwing op
    * counts as failed. Returns the timed ops and their summed seconds. */
  private def timedLoop(roundSize: Int)(op: Int => Unit): (Seq[Op], Double) = {
    val ops = ArrayBuffer.empty[Op]
    acc = Snap.zero
    val start = System.nanoTime()
    var i = 0
    while ((System.nanoTime() - start) / 1e9 < a.seconds || i % roundSize != 0) {
      try op(i) catch { case e: Exception => failedOps += 1; stderr(s"op $i failed: $e") }
      ops += lastOp.copy(query = i % roundSize)
      i += 1
    }
    (ops.toSeq, ops.map(_.ms).sum / 1e3)
  }

  private def snap(): Snap = {
    val c = counters
    c.foreach(_ => SparkCounters.drain(spark))
    Snap(Vector(Jvm.cpuNs, Jvm.gcMs, Jvm.jitMs, Jvm.allocBytes) ++
      c.map(c => Vector(c.jobs, c.stages, c.tasks, c.taskMs, c.taskCpuNs, c.inputBytes, c.shuffleBytes,
        c.spillBytes)).getOrElse(Vector.fill(8)(0L)))
  }

  /** Metrics every workload reports: end-to-end ones untraced, the
    * Spark / JVM per-layer ones plus `extra` traced. */
  private def finish(setupS: Double, ops: Seq[Op], wallS: Double,
                     docsPerOp: Double, storedBytesPerDoc: Double,
                     extra: => Seq[(String, Double, String)]): String = {
    val n = ops.size.toDouble
    val ms = ops.map(_.ms)
    val heap = Jvm.liveHeapMb()
    if (ops.size >= 100)
      stderr(f"op_p90_ms ${quantile(ms, 0.9)}%.3f over ${ops.size} timed ops")
    stderr(s"op ms: ${ms.map(m => f"$m%.0f").mkString(" ")}")
    stderr(f"${ops.size} timed ops in $wallS%.2f s, op_p50_ms ${median(ms)}%.3f, setup_s $setupS%.3f")
    val metrics =
      if (!a.trace) Seq(
        ("setup_s", setupS, "s"),
        ("op_p50_ms", median(ms), "ms"),
        ("docs_per_s", docsPerOp * n / wallS, "1/s"),
        ("cpu_ms_per_op", acc.cpu / 1e6 / n, "ms"),
        ("live_heap_mb", heap, "MB"),
        ("stored_bytes_per_doc", storedBytesPerDoc, "B"))
      else {
        val c = counters.get
        val gap = ops.map(o => (o.t1 - o.t0) - c.jobCoverMs(o.t0, o.t1)).sum / n
        extra ++ Seq(
          ("spark.jobs_per_op", acc.jobs / n, "count"),
          ("spark.stages_per_op", acc.stages / n, "count"),
          ("spark.tasks_per_op", acc.tasks / n, "count"),
          ("spark.task_ms_per_op", acc.taskMs / n, "ms"),
          ("spark.task_cpu_ms_per_op", acc.taskCpu / 1e6 / n, "ms"),
          ("spark.input_bytes_per_op", acc.input / n, "B"),
          ("spark.shuffle_bytes_per_op", acc.shuffle / n, "B"),
          ("spark.spill_bytes_per_op", acc.spill / n, "B"),
          ("spark.driver_gap_ms_per_op", gap, "ms"),
          ("spark.core_busy_ratio", acc.taskMs / (wallS * 1000 * a.cores), "ratio"),
          ("jvm.gc_ms_per_op", acc.gc / n, "ms"),
          ("jvm.jit_ms_per_op", acc.jit / n, "ms"),
          ("jvm.alloc_mb_per_op", acc.alloc / 1048576.0 / n, "MB"),
          ("trace.op_p50_ms", median(ms), "ms"))
      }
    failures.take(20).foreach(f => stderr(s"CHECK FAILED: $f"))
    if (a.trace) spans.writeJsonl(a.spans.resolve(s"spans-${a.workload}-${a.seed}.jsonl"))
    val all = PerLayer.names.map(n => n -> (n, 0.0, PerLayer.unit(n))).toMap ++ metrics.map(m => m._1 -> m)
    val shown = if (a.trace) PerLayer.names.map(all) else metrics
    json(failures.isEmpty, ops.size.toLong, failedOps, shown)
  }

  private def setupSeconds(): Double = (System.currentTimeMillis() - Jvm.startMs) / 1e3 - checkNs / 1e9

  // ------------------------------------------------------------------
  // the reference-scale ingest path, probed in the traced osm_query run
  // ------------------------------------------------------------------

  /** Per-layer figures of the ingest op (default options) on the base
    * extract: the scan alone, scan + repair, and the whole op. */
  private def ingestProbes(): Seq[(String, Double, String)] = {
    val out = a.work.resolve("ingest_probe")
    val parts = readXml(spark, xml).rdd.getNumPartitions
    val a0 = Jvm.allocBytes
    val parseMs = timeMs(readXml(spark, xml).write.format("noop").mode("overwrite").save())
    val allocMb = (Jvm.allocBytes - a0) / 1048576.0
    val cleanMs = timeMs(Repairs.clean(readXml(spark, xml)).write.format("noop").mode("overwrite").save())
    val opMs = timeMs(ingest(spark, xml, out))
    check(checkTable(spark.read.parquet(out.toString), truth))
    val changed = readXml(spark, xml).withColumn("address0", col("address")).transform(Repairs.clean)
      .filter(!(col("address") <=> col("address0"))).count()
    if (changed != truth.rowsChanged) failures += s"repairs changed $changed rows, planted ${truth.rowsChanged}"
    val (bytes, files) = parquetSize(out)
    Seq(("sources.input_partitions", parts.toDouble, "count"),
      ("sources.parse_ms", parseMs, "ms"),
      ("sources.alloc_mb_per_input_mb", allocMb / inputMb, "MB/MB"),
      ("repairs.ms", cleanMs - parseMs, "ms"),
      ("repairs.rows_changed", changed.toDouble, "count"),
      ("sink.write_ms", opMs - cleanMs, "ms"),
      ("sink.files", files.toDouble, "count"),
      ("sink.bytes", bytes.toDouble, "B"))
  }

  private def timeMs(f: => Unit): Double = { val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e6 }

  // ------------------------------------------------------------------
  // osm_query
  // ------------------------------------------------------------------

  /** Queries per round: the battery four times over. */
  private val QueryRound = 4 * Battery.queries.size

  private def queryWorkload(): String = {
    val tablePath = a.work.resolve("table")
    spans("setup.load")(ingest(spark, xml, tablePath, Some(SetupSplitBytes)))
    // the set-up load is not an op: its counts, states, postcodes and
    // users are what the battery's answers check, and the traced run
    // checks every row of its own ingest (`ingestProbes`)
    val table = spark.read.parquet(tablePath.toString)
    val qs = Battery.queries
    val planMs = Array.fill(qs.size)(ArrayBuffer.empty[Double])
    val execMs = Array.fill(qs.size)(ArrayBuffer.empty[Double])
    var pipPushed = 0.0
    var measuring = false
    def op(i: Int): Unit = {
      val q = qs(i % qs.size)
      val df = q.build(table)
      val rows = timed {
        if (!a.trace) df.collect()
        else {
          val t0 = System.nanoTime()
          spans("plans.executedPlan")(df.queryExecution.executedPlan)
          val t1 = System.nanoTime()
          val r = spans(s"queries.${q.name}")(df.collect())
          if (measuring) { planMs(i % qs.size) += (t1 - t0) / 1e6; execMs(i % qs.size) += (System.nanoTime() - t1) / 1e6 }
          r
        }
      }
      if (a.trace && q.name == "q10_box_split") {
        val plan = df.queryExecution.executedPlan.toString
        pipPushed = if (plan.linesIterator.exists(l => l.contains("PushedFilters") && l.contains("pos.lon"))) 1.0 else 0.0
      }
      check {
        val got = q.answer(rows)
        Battery.compare(q.name, got, truth.answers(i % qs.size)) ++
          (if (q.name == "q10_box_split" && !Battery.conserved(got)) Seq("box split not conserved") else Nil)
      }
    }
    (0 until 2 * qs.size).foreach(op) // warm-up: the battery twice
    val setupS = setupSeconds()
    measuring = true
    val (ops, wall) = timedLoop(QueryRound)(op)
    val (bytes, _) = parquetSize(tablePath)
    finish(setupS, ops, wall, truth.idCount, bytes.toDouble / truth.idCount, {
      val perQuery = qs.indices.map(i => (s"queries.${qs(i).name}_ms", median(ops.filter(_.query == i).map(_.ms)), "ms"))
      ingestProbes() ++ Seq(("plans.planning_ms_per_query", planMs.flatten.sum / ops.size, "ms"),
        ("queries.exec_ms_per_query", execMs.flatten.sum / ops.size, "ms"),
        ("plans.pip_pushed", pipPushed, "bool")) ++ perQuery
    })
  }

  // ------------------------------------------------------------------
  // osm_append
  // ------------------------------------------------------------------

  /** Appends per round. A run times whole rounds, so that every run of
    * a workload does the same work and state that grows per op (batch
    * list, manifest versions, retained query metadata) ends equal. */
  private val AppendRound = 20

  private def appendWorkload(): String = {
    val table = a.work.resolve("snap").toString
    val deltas = a.work.resolve("deltas")
    spans("setup.load") {
      Repairs.clean(readXml(spark, xml, Some(SetupSplitBytes))).write.parquet(s"$table/batch_id=0")
      Snapshot.enable(spark, table)
    }
    val deltaDocs = Gen.DeltaNodes + Gen.DeltaWays
    val stageMs = ArrayBuffer.empty[Double]
    val commitMs = ArrayBuffer.empty[Double]
    val readPlanMs = ArrayBuffer.empty[Double]
    var commitJobs = 0L
    var k = 0
    var measuring = false
    def op(i: Int): Unit = {
      val n = k + 1
      val path = deltas.resolve(s"delta-$n.osm")
      Gen.delta(a.seed, n, path)
      val jobs0 = counters.map { c => SparkCounters.drain(spark); c.phaseJobs("commit") }.getOrElse(0L)
      var st = 0L; var sw = 0L; var sc = 0L
      val committed = timed {
        val d = Repairs.clean(readXml(spark, Paths.get(path.toString)))
        phase("commit")
        sc = System.nanoTime()
        val ok = spans("snapshot.stagedAppend")(Snapshot.stagedAppend(spark, table, n) {
          phase("stage_write"); st = System.nanoTime()
          spans("snapshot.stage_write")(d.write.mode("overwrite").parquet(s"$table/batch_id=$n"))
          sw = System.nanoTime(); phase("commit")
        })
        val sce = System.nanoTime()
        phase("read")
        val r0 = System.nanoTime()
        val counts = spans("snapshot.read")(Snapshot.read(spark, table)).agg(
          count(when(col("type") === "node", 1)), count(when(col("type") === "way", 1)),
          count(when(col("type") === "node" && Battery.inRing(Gen.WaRing), 1)),
          count(when(col("type") === "node" && Battery.inRing(Gen.IdRing), 1)))
        spans("plans.executedPlan")(counts.queryExecution.executedPlan)
        val r1 = System.nanoTime()
        val row = counts.collect()(0)
        if (measuring && a.trace) {
          stageMs += (sw - st) / 1e6; commitMs += ((sce - sc) - (sw - st)) / 1e6; readPlanMs += (r1 - r0) / 1e6
        }
        (ok, (row.getLong(0), row.getLong(1), row.getLong(2), row.getLong(3)))
      }
      k = n
      if (measuring) counters.foreach { c => SparkCounters.drain(spark); commitJobs += c.phaseJobs("commit") - jobs0 }
      check {
        val (ok, got) = committed
        val want = Gen.afterDeltas(truth, n)
        val v = Snapshot.latestVersion(spark, table)
        var reran = false
        val again = Snapshot.stagedAppend(spark, table, n) { reran = true }
        Files.deleteIfExists(path)
        (if (!ok) Seq(s"batch $n not committed") else Nil) ++
          (if (got != want) Seq(s"after batch $n: node/way/WA/ID $got, want $want") else Nil) ++
          (if (again || reran || Snapshot.latestVersion(spark, table) != v)
            Seq(s"re-sent batch $n was applied again") else Nil)
      }
    }
    (0 until 10).foreach(op) // warm-up
    val setupS = setupSeconds()
    measuring = true
    val (ops, wall) = timedLoop(AppendRound)(op)
    check {
      val t = Snapshot.read(spark, table)
      val r = t.agg(count(lit(1)), countDistinct(col("id"))).collect()(0)
      val want = truth.idCount + k.toLong * deltaDocs
      if (r.getLong(0) != want || r.getLong(1) != want) Seq(s"final table ${r.getLong(0)} rows, ${r.getLong(1)} ids, want $want")
      else Nil
    }
    val deltaBytes = (1 to k).map(b => parquetSize(Paths.get(s"$table/batch_id=$b"))._1).sum
    finish(setupS, ops, wall, deltaDocs, deltaBytes.toDouble / (k.toLong * deltaDocs), {
      val n = ops.size.toDouble
      Seq(("snapshot.stage_write_ms", median(stageMs.toSeq), "ms"),
        ("snapshot.commit_ms", median(commitMs.toSeq), "ms"),
        ("snapshot.commit_jobs", commitJobs / n, "count"),
        ("snapshot.read_plan_ms", median(readPlanMs.toSeq), "ms"),
        ("snapshot.manifest_versions", Snapshot.listVersions(spark, table).size.toDouble, "count"))
    })
  }
}

/** A timed op: its wall time, its epoch-ms interval and its place in
  * the round. */
final case class Op(ms: Double, t0: Long, t1: Long, query: Int)

/** Process and Spark counters at one instant, or summed deltas. */
final case class Snap(v: Vector[Long]) {
  def +(o: Snap): Snap = Snap(v.zip(o.v).map { case (x, y) => x + y })
  def -(o: Snap): Snap = Snap(v.zip(o.v).map { case (x, y) => x - y })
  def cpu: Long = v(0); def gc: Long = v(1); def jit: Long = v(2); def alloc: Long = v(3)
  def jobs: Long = v(4); def stages: Long = v(5); def tasks: Long = v(6); def taskMs: Long = v(7)
  def taskCpu: Long = v(8); def input: Long = v(9); def shuffle: Long = v(10); def spill: Long = v(11)
}
object Snap { val zero: Snap = Snap(Vector.fill(12)(0L)) }

/** The per-layer metric names, in the order the traced run prints them. */
object PerLayer {
  val specs: Seq[(String, String)] = Seq(
    "sources.input_partitions" -> "count", "sources.parse_ms" -> "ms",
    "sources.alloc_mb_per_input_mb" -> "MB/MB", "repairs.ms" -> "ms", "repairs.rows_changed" -> "count",
    "sink.write_ms" -> "ms", "sink.files" -> "count", "sink.bytes" -> "B",
    "snapshot.stage_write_ms" -> "ms", "snapshot.commit_ms" -> "ms", "snapshot.commit_jobs" -> "count",
    "snapshot.read_plan_ms" -> "ms", "snapshot.manifest_versions" -> "count",
    "plans.planning_ms_per_query" -> "ms", "queries.exec_ms_per_query" -> "ms", "plans.pip_pushed" -> "bool") ++
    Battery.queries.map(q => s"queries.${q.name}_ms" -> "ms") ++ Seq(
    "spark.jobs_per_op" -> "count", "spark.stages_per_op" -> "count", "spark.tasks_per_op" -> "count",
    "spark.task_ms_per_op" -> "ms", "spark.task_cpu_ms_per_op" -> "ms", "spark.input_bytes_per_op" -> "B",
    "spark.shuffle_bytes_per_op" -> "B", "spark.spill_bytes_per_op" -> "B",
    "spark.driver_gap_ms_per_op" -> "ms", "spark.core_busy_ratio" -> "ratio",
    "jvm.gc_ms_per_op" -> "ms", "jvm.jit_ms_per_op" -> "ms", "jvm.alloc_mb_per_op" -> "MB",
    "trace.op_p50_ms" -> "ms")
  val names: Seq[String] = specs.map(_._1)
  def unit(n: String): String = specs.toMap.apply(n)
}
