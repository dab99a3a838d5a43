package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.{TextFunctions => T}

/** Reference model for [[graft.operators.Repairs.clean]]: the readme's
  * six repairs (readme.md:42-103) as chained `withField` rewrites of
  * the `address` struct, one built-in `Column` expression per rule, in
  * the reference order. Slow to plan (six nested `UpdateFields`, ~300
  * expression nodes) but built only from Spark's own functions, so it
  * is the oracle RepairsSpec holds the native kernel to.
  *
  * One pass of the model is not idempotent on cities with a trailing
  * ", ST": "spokane, WA" → "spokane" → "Spokane". The kernel strips
  * every such suffix before the other city fixes, so it equals the
  * model applied until nothing changes ([[RepairsSpec]]).
  */
object RepairsModel {

  private def addr(field: String): Column = col("address").getField(field)

  /** Merged-field splitter for dirty postcodes like "Spokane, WA 99218"
    * (readme.md:43-52,94-103) → (city, state, postcode); empty string
    * when a group is absent. */
  private val mergedPat = "(\\w+)?,? ?([A-Z][A-Z]) (\\d{5})"
  def mergedCity(c: Column): Column = regexp_extract(c, mergedPat, 1)
  def mergedState(c: Column): Column = regexp_extract(c, mergedPat, 2)
  def mergedPostcode(c: Column): Column = regexp_extract(c, mergedPat, 3)

  /** M3/F8: fields only change when the pattern captures. */
  def splitMergedPostcode(df: DataFrame): DataFrame = {
    val pc = addr("postcode")
    val city = mergedCity(pc)
    val state = mergedState(pc)
    val post = mergedPostcode(pc)
    val matched = state =!= "" && post =!= ""
    df.withColumn("address", col("address")
      .withField("city", when(matched && city =!= "", city).otherwise(addr("city")))
      .withField("state", when(matched, state).otherwise(addr("state")))
      .withField("postcode", when(matched, post).otherwise(pc)))
  }

  /** M2: a bare state code in the postcode field moves to state. */
  def movePostcodeToState(df: DataFrame): DataFrame = {
    val pc = addr("postcode")
    val isState = pc.rlike("^[A-Z]{2}$")
    df.withColumn("address", col("address")
      .withField("state", when(isState, pc).otherwise(addr("state")))
      .withField("postcode", when(isState, lit(null).cast("string")).otherwise(pc)))
  }

  /** M1: the TIGER range artifact cross-referenced to its real ZIP. */
  def fixTigerPostcode(df: DataFrame): DataFrame =
    df.withColumn("address", col("address")
      .withField("postcode",
        when(addr("postcode") === "189872421:189872425", "99224")
          .otherwise(addr("postcode"))))

  /** F7/M1: lowercase state codes uppercased. */
  def normalizeState(df: DataFrame): DataFrame =
    df.withColumn("address", col("address")
      .withField("state",
        when(addr("state").rlike("^[a-z]{2}$"), upper(addr("state")))
          .otherwise(addr("state"))))

  /** M1: Coeur d'Alene spellings, a trailing ", ST", then initcap of
    * an all-lowercase start — one branch per pass. */
  def normalizeCity(df: DataFrame): DataFrame = {
    val city = addr("city")
    val fixed =
      when(city.rlike("^Coeur d[^']Alene$"), "Coeur d'Alene")
        .when(city.rlike(", [A-Z]{2}$"), regexp_replace(city, ", [A-Z]{2}$", ""))
        .when(city.rlike("^[a-z]"), initcap(city))
        .otherwise(city)
    df.withColumn("address", col("address").withField("city", fixed))
  }

  private val mappedEnding: String = T.streetMapping.values.toSeq.distinct
    .map(_.replace(" ", "\\s+")).mkString("(^|\\s)(", "|", ")\\s*$")

  /** F4: `update_name`, unless the name already ends in an image of
    * the mapping; a name whose last token is no mapping key comes back
    * as it was. */
  def normalizeStreets(df: DataFrame): DataFrame = {
    val street = addr("street")
    df.withColumn("address", col("address")
      .withField("street",
        when(!street.rlike(mappedEnding), T.normalizeStreet(street)).otherwise(street)))
  }

  def clean(df: DataFrame): DataFrame =
    df.transform(splitMergedPostcode)
      .transform(movePostcodeToState)
      .transform(fixTigerPostcode)
      .transform(normalizeState)
      .transform(normalizeCity)
      .transform(normalizeStreets)
}
