package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.{TextFunctions => T}

/** The reference's in-database repair sequence
  * (/root/reference/readme.md:42-103) as composable, immutable
  * `DataFrame => DataFrame` transforms over the canonical OSM schema
  * (`address` struct — FIXTURES.md §2). MongoDB's predicate-matched
  * `update(..., {$set/$unset}, multi=True)` loops become single
  * `withField` scan-rewrites: each repair is one codegen'd pass, and
  * composing them stays ONE pass after Catalyst collapses the
  * projections — the reference's row-at-a-time rewrite (readme.md:374
  * "quite slow") disappears structurally.
  *
  * Order matters and mirrors the reference: merged-field split first
  * (it *produces* city/state/postcode values), then field moves, then
  * value fixes.
  */
object Repairs {

  private def addr(field: String): Column = col("address").getField(field)

  /** M3/F8 — readme.md:43-52,94-103: a merged postcode like
    * "Spokane, WA 99218" splits into city/state/postcode; fields only
    * change when the pattern captures (the reference writes each group
    * conditionally). */
  def splitMergedPostcode(df: DataFrame): DataFrame = {
    val pc = addr("postcode")
    val city = T.mergedCity(pc)
    val state = T.mergedState(pc)
    val post = T.mergedPostcode(pc)
    val matched = state =!= "" && post =!= ""
    df.withColumn("address", col("address")
      .withField("city", when(matched && city =!= "", city).otherwise(addr("city")))
      .withField("state", when(matched, state).otherwise(addr("state")))
      .withField("postcode", when(matched, post).otherwise(pc)))
  }

  /** M2 — readme.md:53-64: a bare state code in the postcode field
    * moves to state ($set + $unset). */
  def movePostcodeToState(df: DataFrame): DataFrame = {
    val pc = addr("postcode")
    val isState = pc.rlike("^[A-Z]{2}$")
    df.withColumn("address", col("address")
      .withField("state", when(isState, pc).otherwise(addr("state")))
      .withField("postcode", when(isState, lit(null).cast("string")).otherwise(pc)))
  }

  /** M1 — readme.md:59-64: the TIGER range artifact
    * '189872421:189872425' cross-referenced to its real ZIP. */
  def fixTigerPostcode(df: DataFrame): DataFrame =
    df.withColumn("address", col("address")
      .withField("postcode",
        when(addr("postcode") === "189872421:189872425", "99224")
          .otherwise(addr("postcode"))))

  /** F7/M1 — readme.md:72-80: lowercase state codes uppercased. */
  def normalizeState(df: DataFrame): DataFrame =
    df.withColumn("address", col("address")
      .withField("state",
        when(addr("state").rlike("^[a-z]{2}$"), upper(addr("state")))
          .otherwise(addr("state"))))

  /** M1 — readme.md:81-92: city repairs — initcap the all-lowercase
    * ones, unify the Coeur d'Alene spellings (regex `Coeur d[^']Alene`
    * catches the missing/typo'd apostrophe), strip a trailing ", ST". */
  def normalizeCity(df: DataFrame): DataFrame = {
    val city = addr("city")
    val fixed =
      when(city.rlike("^Coeur d[^']Alene$"), "Coeur d'Alene")
        .when(city.rlike(", [A-Z]{2}$"), regexp_replace(city, ", [A-Z]{2}$", ""))
        .when(city.rlike("^[a-z]"), initcap(city))
        .otherwise(city)
    df.withColumn("address", col("address").withField("city", fixed))
  }

  /** Whole-word endings equal to an image of [[T.streetMapping]]
    * ("Arthur St", "Wellesley Avenue", "Street", ...). */
  private val mappedEnding: String = T.streetMapping.values.toSeq.distinct
    .map(_.replace(" ", "\\s+")).mkString("(^|\\s)(", "|", ")\\s*$")

  /** F4 — street-suffix normalization as a repair pass (update_name,
    * ProjectCodeUsed/data.py:110-118), for data ingested uncleaned.
    * The reference mapping is not idempotent ("Arthur" → "Arthur St" →
    * "Arthur Street"), so a name that already ends in one of its
    * images is left alone: ingest-time cleaning followed by this pass
    * stops where the reference does ("North Arthur St"). */
  def normalizeStreets(df: DataFrame): DataFrame = {
    val street = addr("street")
    df.withColumn("address", col("address")
      .withField("street",
        when(street.isNotNull && !street.rlike(mappedEnding), T.normalizeStreet(street))
          .otherwise(street)))
  }

  /** The full repair pipeline, reference order. Idempotent: a repaired
    * snapshot passes through unchanged (RepairsSpec pins it). */
  def clean(df: DataFrame): DataFrame =
    df.transform(splitMergedPostcode)
      .transform(movePostcodeToState)
      .transform(fixTigerPostcode)
      .transform(normalizeState)
      .transform(normalizeCity)
      .transform(normalizeStreets)
}
