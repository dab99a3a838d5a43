package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.functions.{TextFunctions => T}
import graft.operators.Repairs
import graft.plans.RepairAddressExpr

/** Every dirty-data case from the reference's repair log
  * (readme.md:42-103; FIXTURES.md §2), through the composed clean().
  */
class RepairsSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("id", StringType),
    StructField("address", StructType(Seq(
      StructField("street", StringType), StructField("housenumber", StringType),
      StructField("postcode", StringType), StructField("city", StringType),
      StructField("state", StringType))))))

  private def mk(rows: (String, (String, String, String, String, String))*): DataFrame =
    spark.createDataFrame(
      java.util.Arrays.asList(rows.map { case (id, (st, hn, pc, ct, sa)) =>
        Row(id, Row(st, hn, pc, ct, sa)) }: _*),
      schema)

  private def addrOf(df: DataFrame, id: String): (String, String, String, String) = {
    val r = df.filter(col("id") === id).select(
      col("address.street"), col("address.postcode"),
      col("address.city"), col("address.state")).collect()(0)
    (r.getString(0), r.getString(1), r.getString(2), r.getString(3))
  }

  test("the reference's dirty cases all repair in one composed pass") {
    val dirty = mk(
      "merged" -> (("Main St", "1", "Spokane, WA 99218", null, null)),
      "merged_nocity" -> (("Oak Rd.", "2", "WA 99021", null, null)),
      "bare_state" -> (("Elm Ave", "3", "WA", null, null)),
      "tiger" -> (("Pine Blvd", "4", "189872421:189872425", "Spokane", "WA")),
      "zip4" -> (("Ash St.", "5", "99218-1929", "Spokane", "WA")),
      "low_state" -> (("Fir Rd", "6", "99201", "Spokane", "wa")),
      "low_city" -> (("Birch Blvd.", "7", "99202", "spokane", "WA")),
      "cda_typo" -> (("Cedar St", "8", "83814", "Coeur d\"Alene", "ID")),
      "cda_space" -> (("Cedar St", "9", "83814", "Coeur d Alene", "ID")),
      "city_st" -> (("Hemlock Ave", "10", "99027", "Otis Orchards, WA", "WA")),
      "clean" -> (("Maple Street", "11", "99203", "Spokane", "WA")))

    val fixed = Repairs.clean(dirty)

    addrOf(fixed, "merged") shouldBe (("Main Street", "99218", "Spokane", "WA"))
    // no city captured → city stays absent, state+postcode land
    addrOf(fixed, "merged_nocity") shouldBe (("Oak Road", "99021", null, "WA"))
    // bare "WA" moves out of postcode ($set + $unset)
    addrOf(fixed, "bare_state") shouldBe (("Elm Avenue", null, null, "WA"))
    addrOf(fixed, "tiger") shouldBe (("Pine Boulevard", "99224", "Spokane", "WA"))
    // ZIP+4 kept as-is (readme.md:66-71: valid, left alone)
    addrOf(fixed, "zip4") shouldBe (("Ash Street", "99218-1929", "Spokane", "WA"))
    addrOf(fixed, "low_state") shouldBe (("Fir Road", "99201", "Spokane", "WA"))
    addrOf(fixed, "low_city") shouldBe (("Birch Boulevard", "99202", "Spokane", "WA"))
    addrOf(fixed, "cda_typo") shouldBe (("Cedar Street", "83814", "Coeur d'Alene", "ID"))
    addrOf(fixed, "cda_space") shouldBe (("Cedar Street", "83814", "Coeur d'Alene", "ID"))
    addrOf(fixed, "city_st") shouldBe (("Hemlock Avenue", "99027", "Otis Orchards", "WA"))
    addrOf(fixed, "clean") shouldBe (("Maple Street", "99203", "Spokane", "WA"))
  }

  test("tab- and newline-padded streets map as the reference's name.split() does, " +
    "at ingest and under clean alike") {
    val fixed = Repairs.clean(mk(
      "tab" -> (("Main St\t", "1", "99201", "Spokane", "WA")),
      "nl" -> (("\nOak Rd.", "2", "99201", "Spokane", "WA")),
      "kept" -> (("Elm Lane\t", "3", "99201", "Spokane", "WA"))))
    addrOf(fixed, "tab")._1 shouldBe "Main Street"
    addrOf(fixed, "nl")._1 shouldBe "Oak Road"
    addrOf(fixed, "kept")._1 shouldBe "Elm Lane\t" // no mapping key: left as it was
    T.updateName("Main St\t") shouldBe "Main Street"
    T.updateName("\nOak Rd.") shouldBe "Oak Road"
  }

  test("clean is idempotent: a repaired snapshot passes through unchanged") {
    val dirty = mk(
      "a" -> (("Main St", "1", "Spokane, WA 99218", null, null)),
      "b" -> (("Elm Ave", "3", "WA", null, null)),
      "c" -> (("Cedar St", "8", "83814", "Coeur d Alene", "ID")),
      // the reference's one-off: "Arthur" → "Arthur St", and no further
      "d" -> (("North Arthur", "4", "99201", "Spokane", "WA")),
      "e" -> (("Oak St", "5", "99201", "Spokane", "WA")))
    val once = Repairs.clean(dirty)
    addrOf(once, "d")._1 shouldBe "North Arthur St"
    addrOf(once, "e")._1 shouldBe "Oak Street"
    val twice = Repairs.clean(once)
    once.exceptAll(twice).count() shouldBe 0
    twice.exceptAll(once).count() shouldBe 0
  }

  test("clean plans as one repair expression: one Project, under 60 expression nodes") {
    // an RDD-backed input: over a local relation the optimizer evaluates
    // the Project away (ConvertToLocalRelation) and no plan is left
    val dirty = spark.createDataFrame(spark.sparkContext.parallelize(
      Seq(Row("a", Row("Main St", "1", "99201", "Spokane", "WA")))), schema)
    val plan = Repairs.clean(dirty).queryExecution.optimizedPlan
    plan.collect { case p: org.apache.spark.sql.catalyst.plans.logical.Project => p }.size shouldBe 1
    val nodes = plan.collect { case p => p.expressions.flatMap(_.collect { case e => e }) }.flatten
    nodes.count(_.isInstanceOf[RepairAddressExpr]) shouldBe 1
    nodes.size should be < 60
  }

  // -------------------------------------------------------------------
  // The kernel against the Column-form reference model, on generated
  // address structs
  // -------------------------------------------------------------------

  private val pad = Gen.oneOf("", "", "", " ", "  ", "\t", " \t", "\n")
  private def padded(g: Gen[String]): Gen[String] =
    for { a <- pad; s <- g; b <- pad } yield a + s + b
  private def maybe(g: Gen[String]): Gen[String] =
    Gen.frequency(1 -> Gen.const(null), 1 -> Gen.const(""), 8 -> g)

  private val states = Gen.oneOf("WA", "ID", "MT", "wa", "id", "Wa", "w", "WAS")
  private val properCity = Gen.oneOf("Spokane", "Post Falls", "Otis Orchards",
    "Spokane Valley", "Liberty Lake")
  private val lowerCity = Gen.oneOf("spokane", "spokane valley", "post falls",
    "o'fallon", "sedro-woolley", "d'arcy", "ǆungla town", "ébène", "zürich",
    "straße ville", "x", "spokane-valley heights")
  private val coeurDAlene = Gen.oneOf("Coeur d Alene", "Coeur d\"Alene",
    "Coeur d'Alene", "Coeur d-Alene", "Coeur dAlene", "coeur d alene", "Coeur d\tAlene")
  private val city: Gen[String] = maybe(padded(for {
    base <- Gen.frequency(3 -> properCity, 3 -> lowerCity, 2 -> coeurDAlene)
    suffixes <- Gen.choose(0, 2).flatMap(Gen.listOfN(_, states.map(", " + _)))
  } yield base + suffixes.mkString))

  private val zip = Gen.choose(10000, 99999).map(_.toString)
  private val postcode: Gen[String] = maybe(padded(Gen.frequency(
    3 -> zip,
    2 -> (for { z <- zip; p4 <- Gen.choose(1000, 9999) } yield s"$z-$p4"),
    2 -> (for { c <- Gen.oneOf(properCity, lowerCity, coeurDAlene); s <- states; z <- zip }
          yield s"$c, $s $z"),
    2 -> (for { s <- states; z <- zip } yield s"$s $z"),
    2 -> states,
    2 -> Gen.const("189872421:189872425"))))

  private val streetWord = Gen.oneOf(T.streetMapping.keys.toSeq ++ T.streetMapping.values.toSeq ++
    Seq("Drive", "Lane", "St.x", "st", "Avenue St"))
  private val street: Gen[String] = maybe(padded(for {
    prefix <- Gen.oneOf("", "North ", "West Lexington ", "Oak  ", "E\t", "North Arthur ")
    last <- streetWord
  } yield prefix + last))

  private val address: Gen[Row] = Gen.frequency(1 -> Gen.const(null), 12 -> (for {
    st <- street; hn <- maybe(Gen.choose(1, 9999).map(_.toString))
    pc <- postcode; ct <- city; sa <- maybe(padded(states))
  } yield Row(st, hn, pc, ct, sa)))

  private def generated(seed: Long, n: Int): DataFrame = {
    val addrs = Gen.listOfN(n, address)(Gen.Parameters.default, Seed(seed)).get
    spark.createDataFrame(java.util.Arrays.asList(
      addrs.zipWithIndex.map { case (a, i) => Row(f"$i%05d", a) }: _*), schema)
  }

  private def rows(df: DataFrame): Seq[Row] = df.orderBy("id").collect().toSeq

  /** The model applied until nothing changes, each pass on a fresh
    * local relation so its plan stays six rewrites deep. */
  private def modelFixpoint(df: DataFrame): Seq[Row] = {
    def pass(in: Seq[Row]): Seq[Row] =
      rows(RepairsModel.clean(spark.createDataFrame(java.util.Arrays.asList(in: _*), schema)))
    Iterator.iterate(rows(df))(pass).sliding(2).take(8)
      .collectFirst { case Seq(a, b) if a == b => a }
      .getOrElse(fail("the model did not settle within 8 passes"))
  }

  test("property: clean equals the Column-form model on generated address structs") {
    for (seed <- 1L to 4L) {
      val df = generated(seed, 300)
      val got = Repairs.clean(df)
      got.schema shouldBe RepairsModel.clean(df).schema
      val want = modelFixpoint(df)
      withClue(s"seed $seed: ") {
        rows(got).zip(want).filter { case (g, w) => g != w } shouldBe empty
      }
    }
  }

  test("property: clean is idempotent on generated address structs") {
    for (seed <- 11L to 14L) {
      val once = Repairs.clean(generated(seed, 300))
      val twice = Repairs.clean(spark.createDataFrame(
        java.util.Arrays.asList(rows(once): _*), schema))
      withClue(s"seed $seed: ") {
        rows(twice).zip(rows(once)).filter { case (t, o) => t != o } shouldBe empty
      }
    }
  }

  test("the composed pipeline stays a single scan (projection collapse)") {
    val dirty = mk("a" -> (("Main St", "1", "99201", "Spokane", "WA")))
    val plan = Repairs.clean(dirty).queryExecution.optimizedPlan.toString
    // one relation leaf — no chained exchanges/scans. The repair is an
    // evaluable expression, so over this local input the optimizer folds
    // the Project into a new LocalRelation (the plan's root line)
    plan.linesIterator.count(_.trim.stripPrefix("+- ").startsWith("LocalRelation")) shouldBe 1
    plan should not include "Exchange"
  }
}
