package osmbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Shows that the checks reject corrupted output: the true output of one
  * ingest op passes, and the same output with one row dropped, with one
  * postcode left unrepaired, or with one battery count off by one, fails.
  * Prints one JSON line; exits non-zero when any case goes the wrong way. */
object SelfTest {
  def run(spark: SparkSession, a: Main.Args): String = {
    val xml = a.work.resolve("base.osm")
    val out = a.work.resolve("selftest_out")
    val truth = Gen.extract(a.seed, xml)
    Main.ingest(spark, xml, out)
    val t = spark.read.parquet(out.toString).cache()

    val (victim, addr) = truth.addresses.toSeq.sortBy(_._1)
      .find { case (_, w) => w.city != null && w.state == "WA" && w.postcode != null && w.postcode.length == 5 }.get
    val unrepaired = t.withColumn("address",
      when(col("id") === victim, col("address").withField("postcode", lit(s"${addr.city}, WA ${addr.postcode}")))
        .otherwise(col("address")))
    val q = Battery.queries(0)
    val want = truth.answers(0)
    val offByOne = Answer(want.rows.updated(0, want.rows(0)._1 -> (want.rows(0)._2 + 1)))

    val cases = Seq(
      ("true output passes", Main.checkTable(t, truth).isEmpty),
      ("one dropped row fails", Main.checkTable(t.filter(col("id") =!= victim), truth).nonEmpty),
      ("one unrepaired postcode fails", Main.checkTable(unrepaired, truth).nonEmpty),
      ("true battery answer passes", Battery.compare(q.name, q.answer(q.build(t).collect()), want).isEmpty),
      ("battery count off by one fails", Battery.compare(q.name, offByOne, want).nonEmpty))
    cases.foreach { case (n, ok) => System.err.println(s"[osmbench] selftest ${if (ok) "ok  " else "FAIL"} $n") }
    val ok = cases.forall(_._2)
    if (!ok) { spark.stop(); sys.exit(1) }
    s"""{"selftest": "passed", "cases": ${cases.size}}"""
  }
}
