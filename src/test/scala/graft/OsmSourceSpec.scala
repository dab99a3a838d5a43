package graft

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.Encoders
import org.apache.spark.sql.catalyst.encoders.{AgnosticEncoder, ExpressionEncoder}
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.sources.{OsmSource, OsmXmlSource}

/** S1-S3 golden tests, reproducing every assert from the reference's
  * quiz modules on the reconstructed fixtures (OsmFixture, FIXTURES.md).
  */
class OsmSourceSpec extends SparkSpec {

  private val encoder = ExpressionEncoder(Encoders.product[OsmSource.OsmElement]
    .asInstanceOf[AgnosticEncoder[OsmSource.OsmElement]])

  /** The parser's rows over one stream, decoded with the `OsmElement`
    * encoder. */
  private def decoded(in: java.io.InputStream, cleanStreets: Boolean,
                      includeRelations: Boolean): Seq[OsmSource.OsmElement] = {
    val decode = encoder.resolveAndBind().createDeserializer()
    OsmSource.parseRows(in, OsmXmlSource.schema.fieldNames, cleanStreets, includeRelations)
      .map(decode).toSeq
  }

  /** The whole-document view the range reader is checked against. */
  private def parseElements(xml: String, cleanStreets: Boolean,
                            includeRelations: Boolean = false): Seq[OsmSource.OsmElement] =
    decoded(new java.io.ByteArrayInputStream(xml.getBytes(UTF_8)), cleanStreets, includeRelations)

  test("S2 tag histogram matches mapparser.py:28-35 golden dict") {
    val p = OsmFixture.write("example.osm", OsmFixture.xml)
    val hist = OsmSource.tagHistogram(spark, p.toString)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    hist shouldBe Map(
      "osm" -> 1L, "bounds" -> 1L, "node" -> 20L, "way" -> 1L,
      "relation" -> 1L, "nd" -> 4L, "member" -> 3L, "tag" -> 7L)
  }

  test("users.py:26-30 — exactly 6 distinct users") {
    val p = OsmFixture.write("example.osm", OsmFixture.xml)
    val n = OsmSource.elements(spark, p.toString)
      .select(col("created.user")).distinct().count()
    n shouldBe 6L // relations drop, but all 6 users appear on nodes/ways
  }

  test("tags.py:50-55 — key classification counts on the tags fixture") {
    import spark.implicits._
    val xml = OsmFixture.tagsXml
    val tagKeys = "k=\"([^\"]*)\"".r.findAllMatchIn(xml).map(_.group(1)).toSeq
    val counts = tagKeys.toDF("k")
      .groupBy(graft.functions.TextFunctions.keyType(col("k")).as("cls"))
      .count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    counts shouldBe Map("lower" -> 5L, "other" -> 1L, "problemchars" -> 1L)
  }

  test("audit.py:67-79 — 3 unexpected street types; update_name fixes them") {
    val p = OsmFixture.write("example.osm", OsmFixture.xml)
    import graft.functions.{TextFunctions => T}
    val raw = OsmSource.elements(spark, p.toString, cleanStreets = false)
      .filter(col("address.street").isNotNull)
      .select(col("address.street").as("street"))
    val unexpected = raw.filter(T.isUnexpectedStreetType(col("street")))
      .select(T.streetType(col("street")).as("st")).distinct().collect().map(_.getString(0))
    unexpected.toSet shouldBe Set("St.", "Rd.", "Ave")

    val fixed = raw.select(col("street"), T.normalizeStreet(col("street")).as("better"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    fixed("West Lexington St.") shouldBe "West Lexington Street"
    fixed("Baldwin Rd.") shouldBe "Baldwin Road"
    fixed("North Mozart Ave") shouldBe "North Mozart Avenue"
  }

  test("data.py:183-210 — golden shaped rows (first node, last way)") {
    val p = OsmFixture.write("data.osm", OsmFixture.dataXml)
    val els = OsmSource.elements(spark, p.toString, cleanStreets = false).collect()

    els.length shouldBe 2 // the relation dropped (data.py:173)

    val first = els.head
    first.id shouldBe "261114295"
    first.`type` shouldBe "node"
    first.visible shouldBe "true"
    first.pos.lat shouldBe 41.9730791 +- 1e-9
    first.pos.lon shouldBe -87.6866303 +- 1e-9
    first.created.changeset shouldBe "11129782"
    first.created.user shouldBe "bbmiller"
    first.created.version shouldBe "7"
    first.created.uid shouldBe "451048"
    first.created.timestamp.toInstant.toString shouldBe "2012-03-28T18:31:23Z"

    val last = els.last
    last.`type` shouldBe "way"
    last.address.street shouldBe "West Lexington St." // raw (lesson variant)
    last.address.housenumber shouldBe "1412"
    // order preserved, first == last (closed ring) — data.py:204-210
    last.node_refs shouldBe Seq("2199822281", "2199822390", "2199822392",
      "2199822369", "2199822370", "2199822284", "2199822281")
    // addr:street:name / addr:street:prefix dropped (second colon)
    last.tags.keys.exists(_.startsWith("addr:street:")) shouldBe false
    last.tags.get("building") shouldBe Some("yes")
  }

  test("ProjectCodeUsed shaping cleans streets in flight (data.py:163-165)") {
    val p = OsmFixture.write("data.osm", OsmFixture.dataXml)
    val way = OsmSource.elements(spark, p.toString, cleanStreets = true)
      .filter(col("type") === "way").collect().head
    way.address.street shouldBe "West Lexington Street"
  }

  test("relations parse on opt-in: members in document order; default still drops") {
    val p = OsmFixture.write("example.osm", OsmFixture.xml)
    // default: the reference's drop rule (data.py:173) is preserved
    OsmSource.elements(spark, p.toString)
      .filter(col("type") === "relation").count() shouldBe 0
    val rel = OsmSource.elements(spark, p.toString, includeRelations = true)
      .filter(col("type") === "relation").collect()
    rel.length shouldBe 1
    rel.head.id shouldBe "2634203"
    rel.head.members.map(m => (m.member_type, m.ref, m.role)) shouldBe Seq(
      ("way", "209809850", "outer"),
      ("node", "261114295", ""),
      ("node", "261114296", ""))
    rel.head.node_refs shouldBe null
  }

  test("DSv2 source: byte-range-parallel monolith ingest equals whole-file parse") {
    import spark.implicits._
    // a monolith big enough for many splits: the fixture's 20 nodes
    // cloned with unique ids + the way + relation
    val body = new StringBuilder
    body ++= "<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n<osm version=\"0.6\">\n"
    for (i <- 0 until 400)
      body ++= s""" <node id="${9000000 + i}" visible="true" version="1" changeset="1" timestamp="2013-01-01T00:00:00Z" user="u${i % 7}" uid="${i % 7}" lat="${41.9 + i * 1e-4}" lon="${-87.7 + i * 1e-4}">
  <tag k="name" v="n√$i"/>
 </node>
"""
    body ++= """ <way id="7000001" visible="true" version="1" changeset="1" timestamp="2013-01-01T00:00:00Z" user="w" uid="9">
  <nd ref="9000000"/>
  <nd ref="9000001"/>
  <tag k="highway" v="residential"/>
 </way>
 <relation id="8000001" visible="true" version="1" changeset="1" timestamp="2013-01-01T00:00:00Z" user="r" uid="10">
  <member type="way" ref="7000001" role="outer"/>
 </relation>
</osm>
"""
    val p = OsmFixture.write("monolith.osm", body.toString)
    val whole = parseElements(body.toString, cleanStreets = false,
      includeRelations = true).toSeq.sortBy(_.id)
    // 4 KB splits → ~dozens of ranges, elements spanning boundaries
    val dsv2 = spark.read.format("graft.sources.OsmXmlSource")
      .option("splitBytes", "4096")
      .option("cleanStreets", "false")
      .option("includeRelations", "true")
      .load(p.toString)
    dsv2.rdd.getNumPartitions should be > 10
    val split = dsv2.as[OsmSource.OsmElement].collect().toSeq.sortBy(_.id)
    split.length shouldBe 402
    split shouldBe whole
  }

  // -------------------------------------------------------------------
  // A generator of whole OSM documents, for the DSv2 reader properties
  // -------------------------------------------------------------------

  // attribute text: 2-, 3- and 4-byte UTF-8 sequences, so range edges
  // land inside characters, plus escaped markup the aligner must skip
  private val text = Gen.choose(0, 6).flatMap(n => Gen.listOfN(n,
    Gen.oneOf("a", "Z", " ", "é", "ß", "√", "日本", "🗺", "&amp;", "&lt;node ", "&quot;")))
    .map(_.mkString)
  private val tag = for {
    k <- Gen.oneOf("name", "amenity", "note", "natural", "place", "population",
      "addr:street", "addr:postcode", "addr:city", "addr:street:name")
    v <- text
  } yield s"""<tag k="$k" v="$v"/>"""
  private val tagLines = Gen.choose(0, 4).flatMap(Gen.listOfN(_, tag))
  private val ref = Gen.choose(1L, 99L).map(r => s"""ref="$r"""")
  // (type, extra attributes, children); ids are assigned in order below
  private val node = for {
    lat <- Gen.choose(-90.0, 90.0); lon <- Gen.choose(-180.0, 180.0); ts <- tagLines
  } yield ("node", s"""lat="$lat" lon="$lon"""", ts)
  private val way = for {
    nds <- Gen.choose(0, 5).flatMap(Gen.listOfN(_, ref.map(r => s"<nd $r/>"))); ts <- tagLines
  } yield ("way", "", nds ++ ts)
  private val relation = for {
    ms <- Gen.choose(0, 3).flatMap(Gen.listOfN(_, for {
      t <- Gen.oneOf("node", "way"); r <- ref; role <- text
    } yield s"""<member type="$t" $r role="$role"/>"""))
    ts <- tagLines
  } yield ("relation", "", ms ++ ts)
  // the created attributes, with a timestamp anywhere in 1970-2037
  // (sub-second digits included); one element in six has none
  private val created = Gen.frequency(1 -> Gen.const(""), 5 -> (for {
    user <- text; secs <- Gen.choose(0L, 2100000000L); millis <- Gen.choose(0, 999)
  } yield {
    val ts = java.time.Instant.ofEpochSecond(secs).plusMillis(millis.toLong)
    s"""version="1" changeset="7" timestamp="$ts" user="$user" uid="3" """
  }))
  private val osmDoc = for {
    els <- Gen.choose(0, 30).flatMap(Gen.listOfN(_, Gen.frequency(5 -> node, 2 -> way, 1 -> relation)))
    attrs <- Gen.listOfN(els.size, created)
    seps <- Gen.listOfN(els.size, Gen.oneOf("", " ", "\n ", "\n\n  "))
  } yield {
    val body = els.zip(attrs).zip(seps).zipWithIndex.map { case ((((t, extra, kids), attr), sep), i) =>
      val open = s"""<$t id="${i + 1}" $attr$extra"""
      sep + (if (kids.isEmpty) s"$open/>" else kids.mkString(s"$open>\n  ", "\n  ", s"\n</$t>"))
    }
    "<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n<osm version=\"0.6\">\n" +
      """ <bounds minlat="1" minlon="2" maxlat="3" maxlon="4"/>""" + body.mkString + "\n</osm>\n"
  }

  test("DSv2 source property: range reads equal the whole-document parse") {
    import spark.implicits._
    val params = for {
      xml <- osmDoc; anySize <- Gen.choose(64, 4096)
      onStart <- Gen.oneOf(true, false); pick <- Gen.choose(0, 1000)
      cleanStreets <- Gen.oneOf(true, false); includeRelations <- Gen.oneOf(true, false)
    } yield {
      // half the cases end the first range exactly on an element's start
      // byte, the boundary a uniform size rarely hits
      val starts = "<(node|way|relation)[ />]".r.findAllMatchIn(xml)
        .map(m => xml.substring(0, m.start).getBytes("UTF-8").length)
        .filter(b => b >= 64 && b <= 4096).toSeq
      val splitBytes = if (onStart && starts.nonEmpty) starts(pick % starts.size) else anySize
      (xml, splitBytes, cleanStreets, includeRelations)
    }
    def check(name: String, onDisk: String, xml: String, splitBytes: Long,
              cleanStreets: Boolean, includeRelations: Boolean): Unit = {
      val p = OsmFixture.write(s"property/$name.osm", onDisk)
      val got = spark.read.format("graft.sources.OsmXmlSource")
        .option("splitBytes", splitBytes.toString)
        .option("cleanStreets", cleanStreets.toString)
        .option("includeRelations", includeRelations.toString)
        .load(p.toString).as[OsmSource.OsmElement].collect().toSeq
      val want = parseElements(xml, cleanStreets, includeRelations)
      withClue(s"$name, splitBytes $splitBytes, ${onDisk.length} chars: ") {
        got.sortBy(e => (e.`type`, e.id)) shouldBe want.sortBy(e => (e.`type`, e.id))
      }
    }
    // 25 cases keep the spec within seconds
    for (i <- 0 until 25) {
      val (xml, splitBytes, cleanStreets, includeRelations) =
        params(Gen.Parameters.default, Seed(i.toLong)).get
      check(s"doc-$i", xml, xml, splitBytes, cleanStreets, includeRelations)
    }

    // Layouts a uniform size rarely hits. The first range ends at byte
    // `edge`: inside an attribute value, inside a multi-byte UTF-8
    // character, in or just before the root's close tag, or right after
    // an element's last byte; or every range is one byte long. Each
    // layout also runs on the file without its trailing newline and
    // without its root close tag, which the reader must not need.
    def offsets(bytes: Array[Byte], regex: String, group: Int, atEnd: Boolean): Seq[Int] = {
      val text = new String(bytes, "ISO-8859-1") // one char per byte
      regex.r.findAllMatchIn(text).map(m => if (atEnd) m.end(group) else m.start(group)).toSeq
    }
    val layouts = Seq[(String, Array[Byte] => Seq[Int])](
      "in-value" -> { b =>
        val r = "=\"([^\"]*)\"".r
        r.findAllMatchIn(new String(b, "ISO-8859-1")).flatMap(m => m.start(1) + 1 until m.end(1)).toSeq
      },
      "in-utf8" -> (b => b.indices.filter(i => (b(i) & 0xc0) == 0x80)),
      "root-close" -> { b =>
        val close = offsets(b, "</osm>", 0, atEnd = false).headOption.getOrElse(b.length)
        (close - 1 to close + 6).filter(_ < b.length)
      },
      "element-end" -> (b => offsets(b, "<(node|way|relation) [^>]*/>|</(node|way|relation)>", 0, atEnd = true)),
      "one-byte" -> (_ => Seq(1)))
    val endings = Seq[(String, String => String)](
      "whole" -> identity, "no-newline" -> (_.stripSuffix("\n")),
      "no-root-close" -> (_.stripSuffix("\n").stripSuffix("</osm>")))
    for (((layout, edges), l) <- layouts.zipWithIndex; ((ending, cut), e) <- endings.zipWithIndex) {
      val seed = 1000L + 10 * l + e
      // one-byte ranges mean a task per byte: a small document keeps it quick
      val doc = if (layout == "one-byte") osmDoc.suchThat(x => x.length < 700 && x.contains(" id=")) else osmDoc
      val (xml, pick, cleanStreets, includeRelations) = (for {
        xml <- doc; pick <- Gen.choose(0, 1000)
        cleanStreets <- Gen.oneOf(true, false); includeRelations <- Gen.oneOf(true, false)
      } yield (xml, pick, cleanStreets, includeRelations))
        .retryUntil(t => edges(cut(t._1).getBytes(UTF_8)).exists(_ > 0))(Gen.Parameters.default, Seed(seed)).get
      val onDisk = cut(xml)
      val candidates = edges(onDisk.getBytes(UTF_8)).filter(_ > 0)
      check(s"$layout-$ending", onDisk, xml, candidates(pick % candidates.size).toLong,
        cleanStreets, includeRelations)
    }
  }

  test("range streams over trickling reads concatenate to the whole-document parse") {
    // a file system may return any count of bytes per read: every
    // buffer refill, lookahead and range edge lands somewhere new
    val params = for {
      xml <- osmDoc; splitBytes <- Gen.choose(1, 700); chunk <- Gen.choose(1, 13)
      cleanStreets <- Gen.oneOf(true, false); includeRelations <- Gen.oneOf(true, false)
    } yield (xml, splitBytes, chunk, cleanStreets, includeRelations)
    for (i <- 0 until 40) {
      val (xml, splitBytes, chunk, cleanStreets, includeRelations) =
        params(Gen.Parameters.default, Seed(2000L + i)).get
      val bytes = xml.getBytes(UTF_8)
      val got = (0 until bytes.length by splitBytes).flatMap { start =>
        val trickle = new java.io.ByteArrayInputStream(bytes, start, bytes.length - start) {
          override def read(b: Array[Byte], off: Int, len: Int): Int =
            super.read(b, off, math.min(len, chunk))
        }
        val end = math.min(start + splitBytes, bytes.length).toLong
        decoded(new OsmSource.RangeStream(trickle, start.toLong, end), cleanStreets, includeRelations)
      }
      withClue(s"seed ${2000 + i}, splitBytes $splitBytes, chunk $chunk: ") {
        got shouldBe parseElements(xml, cleanStreets, includeRelations)
      }
    }
  }

  test("DSv2 reader rows equal the OsmElement encoder's, in full and on pruned columns") {
    import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, UnsafeProjection}
    import org.apache.spark.sql.types.StructType
    val full = OsmXmlSource.schema
    val serialize = encoder.createSerializer()
    val params = for {
      xml <- osmDoc; splitBytes <- Gen.choose(64, 4096)
      cleanStreets <- Gen.oneOf(true, false); includeRelations <- Gen.oneOf(true, false)
      n <- Gen.choose(1, full.length); picked <- Gen.pick(n, full.fieldNames.toSeq)
      shuffled <- Gen.choose(0, 1)
    } yield (xml, splitBytes, cleanStreets, includeRelations,
      if (shuffled == 0) picked.toSeq else full.fieldNames.filter(picked.toSet).toSeq)
    for (i <- 0 until 16) {
      val (xml, splitBytes, cleanStreets, includeRelations, picked) =
        params(Gen.Parameters.default, Seed(100L + i)).get
      // the first four cases read every column
      val cols = if (i < 4) full.fieldNames.toSeq else picked
      val p = OsmFixture.write(s"rows/doc-$i.osm", xml)
      val df = spark.read.format("graft.sources.OsmXmlSource")
        .option("splitBytes", splitBytes.toString)
        .option("cleanStreets", cleanStreets.toString)
        .option("includeRelations", includeRelations.toString)
        .load(p.toString).select(cols.map(col): _*)
      val got = df.queryExecution.toRdd.map(_.copy()).collect().toSeq
      // the whole document's rows, decoded to OsmElements and encoded
      // again, cut to the same columns, as the same bytes
      val idx = cols.map(full.fieldIndex)
      val toUnsafe = UnsafeProjection.create(StructType(cols.map(full(_))))
      val want = parseElements(xml, cleanStreets, includeRelations).map { e =>
        val r = serialize(e)
        toUnsafe(new GenericInternalRow(idx.map(j => r.get(j, full(j).dataType)).toArray[Any])).copy()
      }.toSeq
      withClue(s"seed ${100 + i}, columns ${cols.mkString(",")}: ") {
        got.length shouldBe want.length
        got.zip(want).zipWithIndex.filter { case ((g, w), _) => g != w }.map(_._2) shouldBe empty
      }
    }
  }

  test("DSv2 source: format-based read equals the RDD-based parse, ranges parallel") {
    import spark.implicits._
    val p = OsmFixture.write("example.osm", OsmFixture.xml)
    val dsv2 = spark.read.format("graft.sources.OsmXmlSource")
      .option("includeRelations", "true")
      .option("cleanStreets", "false")
      .option("splitBytes", "1024")
      .load(p.toString)
    val whole = parseElements(OsmFixture.xml, cleanStreets = false,
      includeRelations = true).toSeq.toDS().toDF()
    dsv2.count() shouldBe 22 // 20 nodes + way + relation
    // identical rows (stable projection; timestamps included)
    val proj = Seq("id", "type", "visible", "created.user", "created.timestamp",
      "address.street", "node_refs", "tags")
    import org.apache.spark.sql.functions.col
    val a = dsv2.select(proj.map(col): _*).collect().map(_.toString).sorted
    val b = whole.select(proj.map(col): _*).collect().map(_.toString).sorted
    a shouldBe b
    // members survive the DSv2 encode
    dsv2.filter(col("type") === "relation")
      .selectExpr("size(members)").collect()(0).getInt(0) shouldBe 3
    // 1 KB ranges → multiple input partitions
    dsv2.rdd.getNumPartitions should be >= 2
  }

  test("DSv2 source: the default split follows Spark's file-source rule") {
    val p = OsmFixture.write("example.osm", OsmFixture.xml).toString
    def parts(): Int = OsmSource.elements(spark, p).rdd.getNumPartitions
    val len = java.nio.file.Files.size(java.nio.file.Path.of(p))
    val cores = spark.sparkContext.defaultParallelism
    val keys = Seq("spark.sql.files.openCostInBytes", "spark.sql.files.maxPartitionBytes")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    try {
      // the 4 MB default open cost keeps a small file in one range
      parts() shouldBe 1
      // below the open cost, the file spreads over the session's cores
      spark.conf.set("spark.sql.files.openCostInBytes", "1")
      parts() shouldBe cores
      // and maxPartitionBytes caps the range size
      spark.conf.set("spark.sql.files.maxPartitionBytes", "128")
      parts() shouldBe ((len + 127) / 128).toInt
      parts() should be > cores
      OsmSource.elements(spark, p).count() shouldBe 21
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("DSv2 source: splitBytes has no upper bound; it must be positive") {
    val p = OsmFixture.write("example.osm", OsmFixture.xml).toString
    def read(splitBytes: Long) = spark.read.format("graft.sources.OsmXmlSource")
      .option("splitBytes", splitBytes.toString).load(p)
    val huge = read(1L << 32)
    huge.rdd.getNumPartitions shouldBe 1
    huge.count() shouldBe 21
    intercept[IllegalArgumentException](read(0).count())
  }

  test("split reader and DSv2 source handle paths containing spaces") {
    // raw path strings with spaces are valid Hadoop paths but
    // malformed java.net.URIs — the source must route through
    // Path.getFileSystem, never FileSystem.get(new URI(path))
    val p = OsmFixture.write("dir with spaces/example 2.osm", OsmFixture.xml)
    OsmSource.elements(spark, p.toString).count() shouldBe 21
    spark.read.format("graft.sources.OsmXmlSource")
      .option("splitBytes", "1024")
      .load(p.toString).count() shouldBe 21
  }

  test("DSv2 source: projection prunes the scan to the selected top-level columns") {
    import org.apache.spark.sql.functions.col
    val p = OsmFixture.write("example.osm", OsmFixture.xml)
    val df = spark.read.format("graft.sources.OsmXmlSource").load(p.toString)
      .select(col("id"), col("amenity"))
      .filter(col("amenity") === "restaurant")
    val rows = df.collect()
    rows.map(_.getString(1)).toSet shouldBe Set("restaurant")
    // the pushed read schema reaches the BatchScan node: only the two
    // projected columns survive, the other 12 never serialize
    val scanDesc = df.queryExecution.executedPlan.toString
    scanDesc should include("ReadSchema: [id,amenity]")
    (scanDesc should not).include("ReadSchema: [id,type")
    // nested projection still answers through Catalyst's Project above
    // the (top-level) pruned scan
    val nested = spark.read.format("graft.sources.OsmXmlSource").load(p.toString)
      .select(col("created.user").as("u")).distinct()
    nested.collect().length shouldBe 6
    nested.queryExecution.executedPlan.toString should include("ReadSchema: [created]")
  }

  test("DSv2 source: multi-path load and missing-path error") {
    val p1 = OsmFixture.write("example.osm", OsmFixture.xml)
    val p2 = OsmFixture.write("tags.osm", OsmFixture.tagsXml)
    val both = spark.read.format("graft.sources.OsmXmlSource")
      .load(p1.toString, p2.toString)
    both.count() shouldBe 23 // 21 (ex-relation) + 2 tags-fixture nodes
    // a glob fans out over every file it matches
    val dir = OsmFixture.write("multi/example.osm", OsmFixture.xml).getParent
    OsmFixture.write("multi/tags.osm", OsmFixture.tagsXml)
    OsmSource.elements(spark, s"$dir/*.osm").count() shouldBe 23
    val err = intercept[java.io.FileNotFoundException] {
      spark.read.format("graft.sources.OsmXmlSource")
        .load("/tmp/does-not-exist-osm.xml").count()
    }
    err.getMessage should include("does not exist")
  }

  test("S3 JSON-lines + parquet sinks round-trip") {
    val p = OsmFixture.write("example.osm", OsmFixture.xml)
    val els = OsmSource.elements(spark, p.toString)
    val out = java.nio.file.Files.createTempDirectory("osm-sink").toString
    OsmSource.writeJsonLines(els, s"$out/json")
    OsmSource.writeParquet(els, s"$out/parquet")
    spark.read.json(s"$out/json").count() shouldBe 21 // 20 nodes + 1 way
    val back = spark.read.parquet(s"$out/parquet")
    back.count() shouldBe 21
    // partitioned by type → node-only scan prunes to the node directory
    back.filter(col("type") === "node").count() shouldBe 20
  }

  test("S3 pretty mode renders the data.py:13-34 documented element shape") {
    import spark.implicits._
    import graft.sources.OsmSource._
    // the reference's documented example element (data.py:13-34),
    // reconstructed as a typed row
    val el = OsmElement(
      id = "2406124091", `type` = "node", visible = "true",
      pos = OsmPos(41.9757030, -87.6921867),
      created = OsmCreated("2", "17206049",
        java.sql.Timestamp.from(java.time.Instant.parse("2013-08-03T16:43:42Z")),
        "linuxUser16", "1219059"),
      address = OsmAddress("North Lincoln Ave", "5157", "60625", null, null),
      node_refs = null, members = null,
      tags = Map("cuisine" -> "mexican", "phone" -> "1 (773)-271-5176"),
      amenity = "restaurant", natural = null, place = null,
      name = "La Cabana De Don Luis", population = null)
    val ds = Seq(el).toDS()
    val out = java.nio.file.Files.createTempDirectory("osm-pretty").toString
    OsmSource.writeJsonLines(ds, s"$out/pretty", pretty = true)
    val text = spark.read.text(s"$out/pretty").collect().map(_.getString(0))
      .mkString("\n")
    // golden: Python json.dumps(el, indent=2) over the same dict
    // (schema field order, nulls omitted, 2-space indent, ": " sep)
    text shouldBe
      """{
        |  "id": "2406124091",
        |  "type": "node",
        |  "visible": "true",
        |  "pos": {
        |    "lat": 41.975703,
        |    "lon": -87.6921867
        |  },
        |  "created": {
        |    "version": "2",
        |    "changeset": "17206049",
        |    "timestamp": "2013-08-03T16:43:42Z",
        |    "user": "linuxUser16",
        |    "uid": "1219059"
        |  },
        |  "address": {
        |    "street": "North Lincoln Ave",
        |    "housenumber": "5157",
        |    "postcode": "60625"
        |  },
        |  "tags": {
        |    "cuisine": "mexican",
        |    "phone": "1 (773)-271-5176"
        |  },
        |  "amenity": "restaurant",
        |  "name": "La Cabana De Don Luis"
        |}""".stripMargin
    // ensure_ascii parity: python's json.dumps default escapes every
    // non-ASCII char as \uXXXX, and \b/\f use their short escapes —
    // while ASCII DEL (0x7f) stays LITERAL (python only escapes
    // c < 0x20 and c > 0x7f)
    val el2 = el.copy(tags = Map("alt_name" -> "Straße Café",
      "odd" -> "a\bb\fc", "del" -> "x\u007fy"))
    OsmSource.writeJsonLines(Seq(el2).toDS(), s"$out/pretty2", pretty = true)
    val t2 = spark.read.text(s"$out/pretty2").collect().map(_.getString(0))
      .mkString("\n")
    t2 should include("\"alt_name\": \"Stra\\u00dfe Caf\\u00e9\"")
    t2 should include("\"odd\": \"a\\bb\\fc\"")
    t2 should include("\"del\": \"x\u007fy\"")
    // and the compact default still reads back as one object
    OsmSource.writeJsonLines(ds, s"$out/compact")
    spark.read.json(s"$out/compact").count() shouldBe 1
  }
}
