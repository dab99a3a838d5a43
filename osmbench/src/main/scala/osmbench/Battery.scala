package osmbench

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.functions.{GeoFunctions => G}

/** The readme's query battery (readme.md:114-561) over the shaped OSM
  * table, as twelve DataFrame builders. Each returns the plan unexecuted,
  * so a traced run can time planning apart from execution; `answer`
  * turns the collected rows into the form `Gen` computes its truth in. */
object Battery {
  final case class Query(name: String, build: DataFrame => DataFrame,
                         answer: Array[Row] => Answer)

  private def num(v: Any): Double = v match {
    case n: java.lang.Number => n.doubleValue()
    case s: String => s.toDouble
  }
  private def pairs(rows: Array[Row]): Answer =
    Answer(rows.toSeq.map(r => r.getString(0) -> num(r.get(1))))
  private def single(names: String*)(rows: Array[Row]): Answer =
    Answer(names.zipWithIndex.map { case (n, i) => n -> num(rows(0).get(i)) })

  private def user = col("created.user")
  private def withinRadius(c: Gen.City): Column =
    col("amenity").isNotNull && col("pos").isNotNull &&
      G.haversineMeters(lit(c.lat), lit(c.lon), col("pos.lat"), col("pos.lon")) <= lit(Gen.RadiusM)
  private def nearAmenities(t: DataFrame, c: Gen.City): DataFrame =
    t.filter(withinRadius(c)).select(lit(c.name).as("city"), col("amenity"))
  def inRing(ring: Array[(Double, Double)]): Column =
    G.pointInPolygonNative(col("pos.lon"), col("pos.lat"), ring)
  private def nodes(t: DataFrame) = t.filter(col("type") === "node")
  private def count1 = count(lit(1))

  val queries: Vector[Query] = Vector(
    Query("q01_counts_by_type",
      _.groupBy("type").agg(count1).orderBy("type"), pairs),
    Query("q02_distinct_users",
      _.agg(countDistinct(user)), single("users")),
    Query("q03_state_counts",
      _.agg(count(when(col("address.state") === "WA", 1)), count(when(col("address.state") === "ID", 1)),
        count(when(col("address.state").isNull, 1))), single("WA", "ID", "missing")),
    Query("q04_postcode_counts",
      _.agg(count(when(col("address.postcode").rlike("^99"), 1)),
        count(when(col("address.postcode").rlike("^83"), 1)),
        count(when(col("address.postcode").isNull, 1))), single("^99", "^83", "missing")),
    Query("q05_describe_contributions",
      _.groupBy(user).agg(count1.as("c")).agg(count(col("c")), avg(col("c")), stddev(col("c")),
        min(col("c")), expr("percentile(c, 0.25)"), expr("percentile(c, 0.5)"),
        expr("percentile(c, 0.75)"), max(col("c"))),
      single("count", "mean", "std", "min", "25%", "50%", "75%", "max")),
    Query("q06_top_users",
      _.groupBy(user.as("u")).agg(count1.as("c")).orderBy(desc("c"), asc("u")).limit(10), pairs),
    Query("q07_city_centres",
      _.filter(col("place") === "city").select(col("name"), col("population"), col("pos.lat"), col("pos.lon"))
        .orderBy("name"),
      rows => Answer(rows.toSeq.flatMap(r => Seq(s"${r.getString(0)}|population" -> num(r.get(1)),
        s"${r.getString(0)}|lat" -> num(r.get(2)), s"${r.getString(0)}|lon" -> num(r.get(3)))))),
    Query("q08_top_amenities",
      _.filter(col("amenity").isNotNull).groupBy("amenity").agg(count1.as("c"))
        .orderBy(desc("c"), asc("amenity")).limit(20), pairs),
    Query("q09_amenities_near_cities",
      t => nearAmenities(t, Gen.Spokane).unionByName(nearAmenities(t, Gen.CdA))
        .groupBy("city", "amenity").agg(count1).orderBy("city", "amenity"),
      rows => Answer(rows.toSeq.map(r => s"${r.getString(0)}|${r.getString(1)}" -> num(r.get(2))).sortBy(_._1))),
    Query("q10_box_split",
      t => nodes(t).filter(inRing(Gen.WaRing)).agg(count1.as("n")).select(lit("WA").as("box"), col("n"))
        .unionByName(nodes(t).filter(inRing(Gen.IdRing)).agg(count1.as("n")).select(lit("ID").as("box"), col("n")))
        .unionByName(nodes(t).agg(count1.as("n")).select(lit("all").as("box"), col("n"))),
      pairs),
    Query("q11_natural_per_box",
      t => {
        val nat = t.filter(col("natural").isNotNull)
        nat.filter(inRing(Gen.WaRing)).select(lit("WA").as("box"), col("natural"))
          .unionByName(nat.filter(inRing(Gen.IdRing)).select(lit("ID").as("box"), col("natural")))
          .groupBy("box", "natural").agg(count1).orderBy("box", "natural")
      },
      rows => Answer(rows.toSeq.map(r => s"${r.getString(0)}|${r.getString(1)}" -> num(r.get(2))).sortBy(_._1))),
    Query("q12_shared_amenities",
      t => nearAmenities(t, Gen.Spokane).select("amenity")
        .intersect(nearAmenities(t, Gen.CdA).select("amenity")).orderBy("amenity"),
      rows => Answer(rows.toSeq.map(_.getString(0) -> 1.0))))

  /** Failures of `got` against `want`: same keys in the same order,
    * numbers equal to 1e-9 relative (mean and std are floating). */
  def compare(name: String, got: Answer, want: Answer): Seq[String] =
    if (got.rows.map(_._1) != want.rows.map(_._1))
      Seq(s"$name: keys ${got.rows.map(_._1).mkString(",")} != ${want.rows.map(_._1).mkString(",")}")
    else got.rows.zip(want.rows).collect {
      case ((k, g), (_, w)) if math.abs(g - w) > 1e-9 * math.max(1.0, math.abs(w)) => s"$name: $k = $g, want $w"
    }

  /** The box split's own conservation check: WA + ID = all nodes. */
  def conserved(a: Answer): Boolean = {
    val m = a.rows.toMap
    m.get("WA").exists(wa => m.get("ID").exists(id => m.get("all").contains(wa + id)))
  }
}
