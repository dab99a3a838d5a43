package graft.queries

import java.nio.file.Path

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.sources.{OsmFixtureData, OsmSource}

/** The source/sink operator surface from SURVEY.md §2.1 (S1-S4, S6) as
  * driver-checkable queries. S1-S4 run the OSM XML ingest end-to-end on
  * the reconstructed deterministic golden fixture, so their oracles are
  * literal VALUES rows — exact hash-checked correctness, not just
  * rows>0. S6 exercises the "geo index" analogue on the shared testdata
  * (range-partitioned + sorted parquet layout, then a pruned read) with
  * a plain SQL oracle.
  *
  * Side-effect discipline: each query writes only under /tmp (fixture
  * file, sink outputs), `mode(overwrite)`, re-entrant across Verify /
  * Bench reruns.
  */
object OsmQueries {
  type Q = (SparkSession, String) => DataFrame

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables(s, dir, name)

  /** Fixture on disk for the OSM XML source. */
  private def fixturePath(): String =
    OsmFixtureData.write(graft.TempDirs.dir("osm-fixture"), "example.osm",
      OsmFixtureData.xml).toString

  val defs: Map[String, Q] = Map(

    // S1+S5 — streaming XML scan → typed Dataset (data.py:188-201),
    // projected to the stable identity columns. Raw (uncleaned) shaping:
    // the Lesson6Quizes variant.
    "s1_osm_ingest" -> ((s, _) => {
      OsmSource.elements(s, fixturePath(), cleanStreets = false).toDF()
        .select(col("id"), col("type").as("el_type"),
          col("created.user").as("osm_user"),
          col("address.street").as("street"),
          when(col("node_refs").isNull, 0L)
            .otherwise(size(col("node_refs")).cast("long")).as("n_refs"))
        .orderBy("id")
    }),

    // S2 — element-type histogram (mapparser.py:16-21); the golden
    // counts from the reference's assert (mapparser.py:28-35).
    "s2_tag_histogram" -> ((s, _) => {
      OsmSource.tagHistogram(s, fixturePath())
    }),

    // S3 — JSON-lines sink (process_map's output, data.py:195-200):
    // write, read back through schema inference, aggregate.
    "s3_jsonl_sink" -> ((s, _) => {
      val ds = OsmSource.elements(s, fixturePath(), cleanStreets = true)
      val out = graft.TempDirs.path("osm-out/jsonl")
      OsmSource.writeJsonLines(ds, out)
      s.read.json(out)
        .groupBy(col("type").as("el_type"))
        .agg(count(lit(1)).as("cnt"),
          countDistinct(col("created.user")).as("n_users"))
        .orderBy("el_type")
    }),

    // S4 — bulk load (the mongoimport analogue): parquet sink
    // partitioned by element type, read back, street repair visible
    // (ProjectCodeUsed cleaning ran at ingest).
    "s4_parquet_load" -> ((s, _) => {
      val ds = OsmSource.elements(s, fixturePath(), cleanStreets = true)
      val out = graft.TempDirs.path("osm-out/parquet")
      OsmSource.writeParquet(ds, out)
      s.read.parquet(out)
        .filter(col("address.street").isNotNull)
        .select(col("id"), col("address.street").as("street"))
        .orderBy("id")
    }),

    // J2d — the reference's described-but-unimplemented way→node
    // dereference (readme.md:488-494) ON OSM DATA: posexplode keeps
    // each ref's position, the equi-join scrambles row order, and the
    // explicit seq restores ring order — the order-preserving
    // reassembly the reference worried about, survives any shuffle.
    "j2d_osm_way_deref" -> ((s, _) => {
      val docs = OsmSource.elements(s, fixturePath(), cleanStreets = true).toDF()
      val nodes = docs.filter(col("type") === "node")
        .select(col("id").as("nid"), col("pos.lat").as("lat"), col("pos.lon").as("lon"))
      val refs = docs.filter(col("type") === "way")
        .select(col("id").as("way_id"), posexplode(col("node_refs")))
      refs.join(nodes, col("col") === col("nid"))
        .select(col("way_id"), (col("pos") + 1).cast("long").as("seq"),
          col("lon"), col("lat"))
        .orderBy("way_id", "seq")
    }),

    // J2e — the COMPLETE relation→way→node two-hop dereference the
    // reference describes as future work (readme.md:488-494): relation
    // members (opt-in parse) → way members resolved to ways → node_refs
    // posexploded → node positions, ring order restored by seq.
    "j2e_relation_deref" -> ((s, _) => {
      val els = OsmSource.elements(s, fixturePath(), cleanStreets = true,
        includeRelations = true).toDF()
      val rels = els.filter(col("type") === "relation")
        .select(col("id").as("relation_id"), explode(col("members")).as("m"))
        .filter(col("m.member_type") === "way")
        .select(col("relation_id"), col("m.ref").as("way_ref"), col("m.role").as("role"))
      val ways = els.filter(col("type") === "way")
        .select(col("id").as("way_id"), posexplode(col("node_refs")))
      val nodes = els.filter(col("type") === "node")
        .select(col("id").as("nid"), col("pos.lat").as("lat"), col("pos.lon").as("lon"))
      rels.join(ways, col("way_ref") === col("way_id"))
        .join(nodes, col("col") === col("nid"))
        .select(col("relation_id"), col("role"), col("way_id"),
          (col("pos") + 1).cast("long").as("seq"), col("lon"), col("lat"))
        .orderBy("relation_id", "way_id", "seq")
    }),

    // S7 — split-PARALLEL monolith ingest (OsmXmlSource byte ranges):
    // the fixture parsed as byte ranges (1 KB splits → elements span
    // range boundaries) must produce exactly the whole-file shaping,
    // relations included.
    "s7_split_ingest" -> ((s, _) => {
      s.read.format("graft.sources.OsmXmlSource")
        .option("splitBytes", "1024")
        .option("cleanStreets", "false")
        .option("includeRelations", "true")
        .load(fixturePath())
        .groupBy(col("type").as("el_type"))
        .agg(count(lit(1)).as("cnt"),
          countDistinct(col("created.user")).as("n_users"))
        .orderBy("el_type")
    }),

    // S8 — the same ingest through the DataSourceV2 TableProvider
    // (spark.read.format — the idiomatic split-aware source form):
    // street cleaning at ingest visible through the scan, relation
    // dropped by default.
    "s8_dsv2_scan" -> ((s, _) => {
      s.read.format("graft.sources.OsmXmlSource")
        .option("splitBytes", "2048")
        .load(fixturePath())
        .filter(col("address.street").isNotNull)
        .select(col("id"), col("address.street").as("street"))
        .orderBy("id")
    }),

    // M1-M4+F4+F7+F8 composed — the reference's full in-DB repair
    // sequence (readme.md:42-103) in reference order over dirty rows
    // covering every rule: merged-field split, postcode→state move,
    // TIGER cross-ref, state/city case & spelling fixes, street
    // normalization. One codegen'd pass after projection collapse.
    "m1_m4_repairs_composed" -> ((s, _) => {
      val dirty: Seq[(String, String, String, String, String)] = Seq(
        ("1", "Spokane, WA 99218", null, null, "Main St."),
        ("2", "WA", null, "spokane", null),
        ("3", "189872421:189872425", "wa", "Coeur d Alene", null),
        ("4", "99021", "ID", "Post Falls, ID", null),
        ("5", null, null, null, "Baldwin Rd."))
      import s.implicits._
      val df = dirty.toDF("id", "postcode", "state", "city", "street")
        .select(col("id"), struct(col("street"),
          lit(null).cast("string").as("housenumber"),
          col("postcode"), col("city"), col("state")).as("address"))
      graft.operators.Repairs.clean(df)
        .select(col("id"), col("address.postcode").as("postcode"),
          col("address.state").as("state"), col("address.city").as("city"),
          col("address.street").as("street"))
        .orderBy("id")
    }),

    // P2 (map form) — $exists over the open-ended tags MAP
    // (readme.md:135,139,246): map_contains_key on tag keys, checked
    // equal to the promoted-column isNotNull counts (the §1.4 dual
    // representation — same answer from either surface).
    "p2b_map_exists" -> ((s, _) => {
      OsmSource.elements(s, fixturePath(), cleanStreets = false).toDF()
        .agg(
          sum(when(map_contains_key(col("tags"), "amenity"), 1L).otherwise(0L)).as("amenity_in_map"),
          sum(when(col("amenity").isNotNull, 1L).otherwise(0L)).as("amenity_promoted"),
          sum(when(map_contains_key(col("tags"), "place"), 1L).otherwise(0L)).as("place_in_map"),
          sum(when(map_contains_key(col("tags"), "population"), 1L).otherwise(0L)).as("population_in_map"),
          sum(when(col("name").isNull, 1L).otherwise(0L)).as("no_name"))
    }),

    // S6 — geo-index analogue (readme.md:382-384): the 2dsphere index
    // becomes a range-partitioned, sorted-within-partition parquet
    // layout; a range predicate on the read side then prunes both
    // files (min/max footer stats) and row groups. Keyed on ts here —
    // the same layout applies to a (lon, lat) sort for geo pruning.
    "s6_range_pruning" -> ((s, dir) => {
      val out = graft.TempDirs.path("osm-out/events_ranged")
      t(s, dir, "events")
        .repartitionByRange(8, col("ts"))
        .sortWithinPartitions("ts")
        .write.mode("overwrite").parquet(out)
      s.read.parquet(out)
        .filter(col("ts") >= lit("2024-01-10 00:00:00").cast("timestamp") &&
          col("ts") < lit("2024-01-11 00:00:00").cast("timestamp"))
        .agg(count(lit(1)).as("cnt"),
          countDistinct(col("user_id")).as("n_users"),
          sum(round(col("value") * 100, 0).cast("long")).as("value_cents"))
    }),

    // S9 — Z-ORDER layout + 2-D box scan: the multi-dimensional
    // extension of s6's range layout. Events get the f14 synthetic
    // lat/lon, are written clustered by the Morton interleave of both
    // dims (ZOrder.writeZOrdered — one range exchange), and the query
    // reads a lat×lon box back through the layout. The oracle computes
    // the same box over the raw table — layout must never change
    // results, only which files a stats-pruning reader touches
    // (ZOrderSpec pins the scan-fraction win over a linear layout;
    // the bench gauges report it at sf scale).
    "s9_zorder_box" -> ((s, dir) => {
      s.read.parquet(zLayout(s, dir))
        .filter(col("lat") >= 46.5 && col("lat") <= 46.8 &&
          col("lon") >= -119.0 && col("lon") <= -118.6)
        .agg(count(lit(1)).as("cnt"),
          countDistinct(col("user_id")).as("n_users"),
          sum(round(col("value") * 100, 0).cast("long")).as("value_cents"))
    })
  )

  /** f14's deterministic synthetic coordinates, shared by s9 and the
    * Z-order gauges: lat ∈ [46, 48.99], lon ∈ [-120, -116.01]. */
  def withSyntheticLatLon(ev: DataFrame): DataFrame =
    ev.withColumn("lat", lit(46.0) + pmod(col("event_id"), lit(300)) / 100.0)
      .withColumn("lon", lit(-120.0) + pmod(col("event_id") * 7, lit(400)) / 100.0)

  /** Z-ordered events layout per sfDir, built once per JVM (queries
    * and gauges then measure the read side only). */
  private val zLayouts = scala.collection.concurrent.TrieMap.empty[String, String]
  def zLayout(s: SparkSession, dir: String): String =
    zLayouts.getOrElseUpdate(dir, {
      val out = graft.TempDirs.forSf("osm-out/events_zorder", dir)
      graft.operators.ZOrder.writeZOrdered(
        withSyntheticLatLon(t(s, dir, "events")), "lat", "lon",
        aLo = 46.0, aHi = 49.0, bLo = -120.0, bHi = -116.0,
        bits = 8, nFiles = 32, path = out)
      out
    })

  val oracles: Map[String, String] = Map(
    "s1_osm_ingest" ->
      """SELECT * FROM (VALUES
           ('1683602133','node','mpinnau','Baldwin Rd.',CAST(0 AS BIGINT)),
           ('1683602134','node','mpinnau','North Mozart Ave',0),
           ('209809850','way','Umbugbene','West Lexington St.',4),
           ('2199822281','node','Umbugbene',NULL,0),
           ('2199822369','node','TomH',NULL,0),
           ('2199822370','node','TomH',NULL,0),
           ('2199822390','node','Umbugbene',NULL,0),
           ('2199822392','node','Umbugbene',NULL,0),
           ('261114295','node','bbmiller',NULL,0),
           ('261114296','node','bbmiller',NULL,0),
           ('261114299','node','bbmiller',NULL,0),
           ('261146436','node','bbmiller',NULL,0),
           ('261147304','node','bbmiller',NULL,0),
           ('261224274','node','uboot',NULL,0),
           ('293816175','node','bbmiller',NULL,0),
           ('305896090','node','Umbugbene',NULL,0),
           ('317636971','node','Umbugbene',NULL,0),
           ('317636974','node','Umbugbene',NULL,0),
           ('317637398','node','Zol87',NULL,0),
           ('317637399','node','Zol87',NULL,0),
           ('365214872','node','bbmiller',NULL,0)
         ) AS t(id, el_type, osm_user, street, n_refs) ORDER BY id""",
    "s2_tag_histogram" ->
      """SELECT * FROM (VALUES
           ('bounds',CAST(1 AS BIGINT)), ('member',3), ('nd',4), ('node',20),
           ('osm',1), ('relation',1), ('tag',7), ('way',1)
         ) AS t(xml_tag, cnt) ORDER BY xml_tag""",
    "s3_jsonl_sink" ->
      """SELECT * FROM (VALUES
           ('node',CAST(20 AS BIGINT),CAST(6 AS BIGINT)), ('way',1,1)
         ) AS t(el_type, cnt, n_users) ORDER BY el_type""",
    "s4_parquet_load" ->
      """SELECT * FROM (VALUES
           ('1683602133','Baldwin Road'),
           ('1683602134','North Mozart Avenue'),
           ('209809850','West Lexington Street')
         ) AS t(id, street) ORDER BY id""",
    "j2d_osm_way_deref" ->
      """SELECT * FROM (VALUES
           ('209809850', CAST(1 AS BIGINT), CAST(-87.6976913 AS DOUBLE), CAST(41.9707220 AS DOUBLE)),
           ('209809850', 2, -87.6976914, 41.9707230),
           ('209809850', 3, -87.6976915, 41.9707240),
           ('209809850', 4, -87.6976916, 41.9707250)
         ) AS t(way_id, seq, lon, lat) ORDER BY way_id, seq""",
    "j2e_relation_deref" ->
      """SELECT * FROM (VALUES
           ('2634203', 'outer', '209809850', CAST(1 AS BIGINT), CAST(-87.6976913 AS DOUBLE), CAST(41.9707220 AS DOUBLE)),
           ('2634203', 'outer', '209809850', 2, -87.6976914, 41.9707230),
           ('2634203', 'outer', '209809850', 3, -87.6976915, 41.9707240),
           ('2634203', 'outer', '209809850', 4, -87.6976916, 41.9707250)
         ) AS t(relation_id, role, way_id, seq, lon, lat) ORDER BY relation_id, way_id, seq""",
    "s7_split_ingest" ->
      """SELECT * FROM (VALUES
           ('node', CAST(20 AS BIGINT), CAST(6 AS BIGINT)),
           ('relation', 1, 1),
           ('way', 1, 1)
         ) AS t(el_type, cnt, n_users) ORDER BY el_type""",
    "s8_dsv2_scan" ->
      """SELECT * FROM (VALUES
           ('1683602133','Baldwin Road'),
           ('1683602134','North Mozart Avenue'),
           ('209809850','West Lexington Street')
         ) AS t(id, street) ORDER BY id""",
    "m1_m4_repairs_composed" ->
      """SELECT * FROM (VALUES
           ('1', '99218', 'WA', 'Spokane', 'Main Street'),
           ('2', NULL, 'WA', 'Spokane', NULL),
           ('3', '99224', 'WA', 'Coeur d''Alene', NULL),
           ('4', '99021', 'ID', 'Post Falls', NULL),
           ('5', NULL, NULL, NULL, 'Baldwin Road')
         ) AS t(id, postcode, state, city, street) ORDER BY id""",
    "p2b_map_exists" ->
      """SELECT CAST(1 AS BIGINT) AS amenity_in_map, CAST(1 AS BIGINT) AS amenity_promoted,
                CAST(1 AS BIGINT) AS place_in_map, CAST(0 AS BIGINT) AS population_in_map,
                CAST(20 AS BIGINT) AS no_name""",
    "s6_range_pruning" ->
      """SELECT count(*) AS cnt, count(DISTINCT user_id) AS n_users,
                CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS value_cents
         FROM events
         WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
           AND ts < TIMESTAMP '2024-01-11 00:00:00'""",
    "s9_zorder_box" ->
      """SELECT count(*) AS cnt, count(DISTINCT user_id) AS n_users,
                CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS value_cents
         FROM (SELECT user_id, value,
                      46.0 + (event_id % 300) / 100.0 AS lat,
                      -120.0 + ((event_id * 7) % 400) / 100.0 AS lon
               FROM events)
         WHERE lat >= 46.5 AND lat <= 46.8 AND lon >= -119.0 AND lon <= -118.6"""
  ).map { case (k, v) => k -> v.linesIterator.map(_.trim).mkString(" ") }
}
