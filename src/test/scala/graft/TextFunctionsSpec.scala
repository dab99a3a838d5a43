package graft

import org.apache.spark.sql.functions._
import graft.functions.{TextFunctions => T}

/** Column-expression twins of the reference's cleaning kernel, pinned
  * to the reference's own asserts plus ScalaCheck-generated properties
  * (SURVEY.md §5 strategy items a+b; generators driven directly — the
  * scalatest/scalacheck bridge artifact isn't in the offline cache).
  */
class TextFunctionsSpec extends SparkSpec {

  test("native languageId equals the Column-form spec on real docs and edges") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val docs = Tables(spark, sf, "documents").select(col("text"))
      .union(Seq("", "   ", "the la de und 的", "THE THE THE", "el la le der die",
        "xyzzy plugh nothing matches here").toDF("text"))
    docs.filter(graft.functions.TextFunctions.languageId(col("text")) =!=
        graft.functions.TextFunctions.languageIdSpec(col("text")))
      .count() shouldBe 0
  }

  private def normalize(names: String*): Map[String, String] = {
    import spark.implicits._
    names.toDF("name")
      .select(col("name"), T.normalizeStreet(col("name")).as("fixed"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
  }

  test("update_name golden asserts (audit.py:73-79, data.py mapping)") {
    val m = normalize(
      "West Lexington St.", "Baldwin Rd.", "North Lincoln Ave",
      "Martin Luther King Jr Blvd", "South Wabash Blvd.",
      "North Arthur", "Wellesley", "E Main",
      "North Lincoln Avenue", "Mozart Street")
    m("West Lexington St.") shouldBe "West Lexington Street"
    m("Baldwin Rd.") shouldBe "Baldwin Road"
    m("North Lincoln Ave") shouldBe "North Lincoln Avenue"
    m("Martin Luther King Jr Blvd") shouldBe "Martin Luther King Jr Boulevard"
    m("South Wabash Blvd.") shouldBe "South Wabash Boulevard"
    // the three whole-suffix one-offs (ProjectCodeUsed/data.py:105-107)
    m("North Arthur") shouldBe "North Arthur St"
    m("Wellesley") shouldBe "Wellesley Avenue"
    m("E Main") shouldBe "E Main Avenue"
    // names already expected are untouched
    m("North Lincoln Avenue") shouldBe "North Lincoln Avenue"
    m("Mozart Street") shouldBe "Mozart Street"
  }

  test("normalizeStreet strips whitespace of every kind, as updateName and name.split() do") {
    val padded = Seq("Main St\t", "\nOak Rd.", " \tElm Ave\r\n", "Pine Blvd\u000b")
    val m = normalize(padded: _*)
    m("Main St\t") shouldBe "Main Street"
    m("\nOak Rd.") shouldBe "Oak Road"
    m(" \tElm Ave\r\n") shouldBe "Elm Avenue"
    m("Pine Blvd\u000b") shouldBe "Pine Boulevard"
    padded.foreach(n => m(n) shouldBe T.updateName(n))
    // an unmapped padded name still comes back exactly as it was
    normalize("Mozart Street\t")("Mozart Street\t") shouldBe "Mozart Street\t"
  }

  test("normalizeStreet property: only the last token ever changes") {
    import spark.implicits._
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val words = Gen.oneOf(
      "North", "South", "Lincoln", "St", "St.", "Ave", "Rd", "Street", "x1")
    val nameGen = Gen.nonEmptyListOf(words).map(_.mkString(" "))
    val names = (0 until 100).flatMap(i =>
      nameGen(Gen.Parameters.default, Seed(i.toLong))).distinct
    val fixed = names.toDF("n")
      .select(col("n"), T.normalizeStreet(col("n")).as("f"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    names.foreach { name =>
      val (pIn, pOut) = (name.split("\\s+"), fixed(name).split("\\s+"))
      withClue(s"input '$name': ") {
        // prefix (all but last input token) is preserved verbatim
        pOut.take(pIn.length - 1).toSeq shouldBe pIn.dropRight(1).toSeq
        val expectTail = T.streetMapping.getOrElse(pIn.last, pIn.last)
        pOut.drop(pIn.length - 1).mkString(" ") shouldBe expectTail
      }
    }
  }

  test("keyType matches tags.py:21-38 classifier on edge cases") {
    import spark.implicits._
    val cases = Seq(
      "amenity" -> "lower", "addr:street" -> "lower_colon",
      "PHONE" -> "other", "addr.street" -> "problemchars",
      "a b" -> "problemchars", "snake_case" -> "lower",
      "" -> "lower", // ^([a-z]|_)*$ matches empty — same as Python
      "UPPER:case" -> "other")
    val got = cases.map(_._1).toDF("k")
      .select(col("k"), T.keyType(col("k")).as("cls"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    cases.foreach { case (k, want) => got(k) shouldBe want }
  }

  test("merged-field splitter (readme.md:94-103)") {
    import spark.implicits._
    val v = Seq("Spokane, WA 99218", "WA 99021", "plain text").toDF("v")
    // the Column-form splitter of the repairs' reference model
    val r = v.select(RepairsModel.mergedCity(col("v")).as("city"),
        RepairsModel.mergedState(col("v")).as("state"),
        RepairsModel.mergedPostcode(col("v")).as("post"))
      .collect()
    (r(0).getString(0), r(0).getString(1), r(0).getString(2)) shouldBe (("Spokane", "WA", "99218"))
    (r(1).getString(1), r(1).getString(2)) shouldBe (("WA", "99021"))
    r(2).getString(1) shouldBe "" // no capture
    // and the native repair splits the same postcodes the same way
    val none = lit(null).cast("string")
    val fixed = graft.operators.Repairs.clean(v.select(col("v"), struct(none.as("street"),
        col("v").as("postcode"), none.as("city"), none.as("state")).as("address")))
      .select(col("address.city"), col("address.state"), col("address.postcode"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSeq
    fixed shouldBe Seq(("Spokane", "WA", "99218"), (null, "WA", "99021"), (null, null, "plain text"))
  }

  test("token counters, fingerprints: order sensitivity contract") {
    import spark.implicits._
    val df = Seq("the quick brown fox", "fox brown quick the").toDF("t")
      .select(
        T.tokenCount(col("t")).as("n"),
        T.bpeishTokenCount(col("t")).as("nb"),
        T.sortedTokenFingerprint(col("t")).as("fp"),
        T.rollingHash(col("t")).as("rh"))
      .collect()
    df(0).getInt(0) shouldBe 4
    df(0).getInt(1) shouldBe 4
    // same bag of words → same sorted fingerprint, different rolling hash
    df(0).getString(2) shouldBe df(1).getString(2)
    df(0).getLong(3) should not be df(1).getLong(3)
  }

  test("languageId predicts the dominant stopword language") {
    import spark.implicits._
    val r = Seq(
      "the cat sat on the mat and it is warm",
      "el gato es grande y la casa es de madera",
      "qwerty zzz xxx").toDF("t")
      .select(T.languageId(col("t"))).collect().map(_.getString(0))
    r(0) shouldBe "en"
    r(1) shouldBe "es"
    r(2) shouldBe "und"
  }

  test("repetition gauges: hand-derived fractions and degenerate-input edges") {
    import spark.implicits._
    val rows = Seq(
      1L -> "aa bb cc dd\naa bb cc dd\nee ff gg hh",
      2L -> "foo bar foo bar foo bar foo",
      3L -> "abcd efgh ijkl mnop qrst",
      4L -> "", // empty doc: every gauge 0
      5L -> "single").toDF("doc_id", "text")
    val r = rows.select(col("doc_id"),
        T.dupLineFraction(col("text")).as("dl"),
        T.dupLineCharFraction(col("text")).as("dlc"),
        T.topNgramCharFraction(col("text"), 2).as("tb"),
        T.dupNgramCharFraction(col("text"), 3).as("dt"))
      .orderBy("doc_id").collect()
      .map(x => (x.getLong(0), x.getDouble(1), x.getDouble(2), x.getDouble(3), x.getDouble(4)))
    r(0) shouldBe ((1L, 0.3333, 0.6667, 0.3333, 1.0))
    r(1) shouldBe ((2L, 0.0, 0.0, 0.8571, 1.0))
    r(2) shouldBe ((3L, 0.0, 0.0, 0.4, 0.0))
    r(3) shouldBe ((4L, 0.0, 0.0, 0.0, 0.0))
    // one-token doc: its only "bigram" is the token itself → full cover
    r(4) shouldBe ((5L, 0.0, 0.0, 1.0, 0.0))
  }

  test("native repetitionStats equals the four Column-form gauges on fixtures, edges, and sf docs") {
    import spark.implicits._
    val fixtures = graft.queries.PlantedFixtures.repetitionDocs(spark).select(col("text"))
    val edges = Seq("", " ", "single", "a a a a a", "x\nx\nx",
      "one line\none line\n  \n\ttabbed line", "aa bb\naa bb cc\naa bb")
      .toDF("text")
    val sf001 = Tables(spark, sf, "documents").select(col("text")).limit(500)
    for (docs <- Seq(fixtures, edges, sf001)) {
      val mismatch = docs.filter(col("text").isNotNull).select(
          T.repetitionStats(col("text")).as("n"),
          struct(
            T.dupLineFraction(col("text")).as("dup_line_frac"),
            T.dupLineCharFraction(col("text")).as("dup_line_char_frac"),
            T.topNgramCharFraction(col("text"), 2).as("top_ngram_char_frac"),
            T.dupNgramCharFraction(col("text"), 3).as("dup_ngram_char_frac"))
            .as("s"))
        .filter(!(col("n") <=> col("s")))
      mismatch.count() shouldBe 0L
    }
  }

  test("native gopherFlags equals the Column-form spec on fixtures, edges, and sf docs") {
    import spark.implicits._
    val fixtures = graft.queries.PlantedFixtures.gopherDocs(spark).select(col("text"))
    val edges = Seq("", " ", "\tword one two", "a\n\n   \nb",
      "..... ...... …", "- bullet\n* star\n• dot", "line one...\nline two…",
      "###", "12 34 ab", (1 to 60).map(_ => "the").mkString(" "))
      .toDF("text")
    val sf001 = Tables(spark, sf, "documents").select(col("text")).limit(500)
    for (docs <- Seq(fixtures, edges, sf001)) {
      val mismatch = docs.filter(col("text").isNotNull).select(
          T.gopherFlags(col("text")).as("n"),
          graft.functions.TextFunctions.gopherFlagsSpec(col("text")).as("s"))
        .filter(!(col("n") <=> col("s")))
      mismatch.count() shouldBe 0L
    }
  }

  test("native text expressions are SQL-callable via GraftExtensions") {
    import spark.implicits._
    Seq((1L, "the cat and the cat"), (2L, null.asInstanceOf[String]))
      .toDF("id", "text").createOrReplaceTempView("sqldocs")
    val rows = spark.sql(
      """SELECT id, graft_langid(text) AS lang,
                size(graft_shingles(text, 2)) AS n_sh,
                graft_gopher_stats(text).pass AS pass,
                graft_repetition_stats(text).top_ngram_char_frac AS tf
         FROM sqldocs ORDER BY id""").collect()
    rows(0).getString(1) shouldBe "en"
    rows(0).getInt(2) shouldBe 3 // the cat / cat and / and the (distinct)
    rows(0).getInt(3) shouldBe 0 // 5 words, below the Gopher floor
    rows(0).getDouble(4) shouldBe 0.8 // "the cat" x2 covers 12/15 chars
    rows(1).getString(1) shouldBe "und" // null coalesces like the Scala surface
    rows(1).isNullAt(3) shouldBe true
  }

  test("gopher rules: each fixture doc fails exactly its planted gate") {
    val r = graft.queries.PlantedFixtures.gopherDocs(spark)
      .select(col("doc_id"), T.gopherFlags(col("text")).as("g"))
      .orderBy("doc_id").collect()
      .map(x => (x.getLong(0), x.getStruct(1).toSeq.map(_.asInstanceOf[Int])))
    r(0) shouldBe ((1L, Seq(1, 1, 1, 1, 1, 1, 1, 1)))
    r(1) shouldBe ((2L, Seq(0, 1, 1, 1, 1, 1, 1, 0)))
    r(2) shouldBe ((3L, Seq(1, 0, 1, 1, 1, 1, 1, 0)))
    r(3) shouldBe ((4L, Seq(1, 1, 1, 1, 1, 1, 0, 0)))
    r(4) shouldBe ((5L, Seq(1, 1, 1, 0, 1, 1, 1, 0)))
    r(5) shouldBe ((6L, Seq(1, 1, 1, 1, 0, 1, 1, 0)))
    r(6) shouldBe ((7L, Seq(1, 1, 0, 1, 1, 1, 1, 0)))
    r(7) shouldBe ((8L, Seq(1, 1, 1, 1, 1, 0, 1, 0)))
    // the filter form keeps exactly the passing doc
    graft.functions.TextFunctions.gopherFilter(
      graft.queries.PlantedFixtures.gopherDocs(spark), "text")
      .select("doc_id").collect().map(_.getLong(0)).toSeq shouldBe Seq(1L)
  }
}
