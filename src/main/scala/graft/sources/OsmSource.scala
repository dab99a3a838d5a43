package graft.sources

import java.io.StringReader
import java.sql.Timestamp
import java.time.Instant
import javax.xml.stream.{XMLInputFactory, XMLStreamConstants, XMLStreamReader}

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** OSM XML ingest (SURVEY.md §2.1 S1-S3): the reference's streaming
  * `ET.iterparse` ETL (/root/reference/ProjectCodeUsed/data.py:188-201)
  * re-expressed as a Spark source producing a typed
  * `Dataset[OsmElement]` with the fixed schema of SURVEY.md §1.4.
  *
  * Execution shape: one ingest path, the DataSourceV2 reader
  * [[OsmXmlSource]]. The driver lists the input files and cuts each
  * into byte ranges (metadata only); each task aligns its range to
  * element boundaries ([[parseRange]]) and StAX-pulls the elements
  * whose start byte it owns — the reference's single iterparse pass,
  * range-parallel, so one monolithic planet.xml and many sharded
  * extracts parallelize alike with no landing rewrite. Everything
  * downstream of this source is columnar parquet.
  *
  * Shaping semantics mirror `shape_element`
  * (ProjectCodeUsed/data.py:120-185):
  *  - only `node` and `way` become rows; relations drop (:173) unless
  *    the caller opts in via `includeRelations` (the two-hop
  *    relation→way→node dereference needs them).
  *  - lat/lon → `pos` struct, Double (:124-127).
  *  - version/changeset/timestamp/user/uid → `created` struct (:129-134),
  *    timestamp parsed to a real TimestampType.
  *  - `<nd ref>` → `node_refs`, document order preserved (:141-143).
  *  - `addr:` tags → `address` struct (:153-168): keys with problem
  *    chars or a second colon drop; street is normalized iff
  *    `cleanStreets` (the ProjectCodeUsed variant cleans, the
  *    Lesson6Quizes variant does not — data.py:163-165 vs :147-148).
  *  - all other tags land in the `tags` map; hot keys the reference
  *    queries touch (amenity, natural, place, name, population) are
  *    also promoted to top-level columns so parquet column pruning
  *    works (SURVEY.md §1.4).
  */
object OsmSource {

  case class OsmPos(lat: Double, lon: Double)
  case class OsmCreated(version: String, changeset: String,
                        timestamp: Timestamp, user: String, uid: String)
  case class OsmAddress(street: String, housenumber: String,
                        postcode: String, city: String, state: String)
  /** A `<member>` of a `<relation>` (type = node|way|relation). */
  case class OsmMember(member_type: String, ref: String, role: String)
  case class OsmElement(
      id: String,
      `type`: String,
      visible: String,
      pos: OsmPos,
      created: OsmCreated,
      address: OsmAddress,
      node_refs: Seq[String],
      members: Seq[OsmMember],
      tags: Map[String, String],
      amenity: String,
      natural: String,
      place: String,
      name: String,
      population: String)

  /** The reference's tag-key filters (ProjectCodeUsed/data.py:89-91). */
  private val problemChars = "[=\\+/&<>;'\"\\?%#$@,\\. \t\r\n]".r
  private val lowerColon = "^([a-z]|_)*:([a-z]|_)*$".r

  private val addressFields = Set("street", "housenumber", "postcode", "city", "state")
  private val promotedKeys = Seq("amenity", "natural", "place", "name", "population")

  /** S2 — element-type histogram (mapparser.py:16-21): count of every
    * XML tag name in the file(s), as a DataFrame. */
  def tagHistogram(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    spark.sparkContext.wholeTextFiles(path)
      .flatMap { case (_, xml) => tagNames(xml) }
      .toDF("xml_tag")
      .groupBy("xml_tag").agg(count(lit(1)).as("cnt"))
      .orderBy("xml_tag")
  }

  /** S1 — parse OSM XML file(s) into the canonical typed Dataset,
    * read through [[OsmXmlSource]] at its default split size.
    * @param cleanStreets apply street normalization at ingest (the
    *        ProjectCodeUsed behavior); pass false for the raw
    *        Lesson6Quizes shaping.
    * @param includeRelations also emit `<relation>` rows (type =
    *        "relation", members populated). Default false — the
    *        reference DROPS relations (data.py:173), and its golden
    *        shaping contracts are pinned on that behavior; the
    *        relation→way→node dereference (readme.md:488-494's future
    *        work) opts in. */
  def elements(spark: SparkSession, path: String,
               cleanStreets: Boolean = true,
               includeRelations: Boolean = false): Dataset[OsmElement] = {
    import spark.implicits._
    spark.read.format(classOf[OsmXmlSource].getName)
      .option("cleanStreets", cleanStreets.toString)
      .option("includeRelations", includeRelations.toString)
      .load(path)
      .as[OsmElement]
  }

  /** S3 — JSON-lines sink (process_map's `file_in + ".json"` output,
    * data.py:188-201). Distributed write; one JSON object per line.
    *
    * `pretty = true` mirrors the reference's `process_map(file_in,
    * pretty)` branch (data.py:198-199, `json.dumps(el, indent=2)`):
    * each element renders as an indented multi-line object, elements
    * separated by a newline — same 2-space indent, `": "` key
    * separator, and per-item lines as Python's encoder, with null
    * fields omitted (shape_element builds its dicts conditionally) and
    * map keys sorted for determinism. Still a distributed text write;
    * the reference itself warns pretty mode is for small files
    * (data.py:203-205), so the compact default stays the scale path. */
  def writeJsonLines(ds: Dataset[OsmElement], path: String,
                     pretty: Boolean = false): Unit =
    if (!pretty) ds.write.mode("overwrite").json(path)
    else {
      val spark = ds.sparkSession
      import spark.implicits._
      val schema = ds.schema
      ds.toDF().map(row => PrettyJson.render(row, schema))
        .write.mode("overwrite").text(path)
    }

  /** Parquet sink — the engine's canonical storage (S4's mongoimport
    * analogue). Partitioned by element type so node-only / way-only
    * queries prune at the directory level. */
  def writeParquet(ds: Dataset[OsmElement], path: String): Unit =
    ds.write.mode("overwrite").partitionBy("type").parquet(path)

  /** Each task buffers its range in memory, so splits are capped well
    * under Int.MaxValue (a >2 GiB range would also be a terrible task
    * granularity); [[parseRange]]'s range length is then an exact Int. */
  private[sources] val MaxSplitBytes: Long = 512L * 1024 * 1024

  private val topLevelNames = Seq("node", "way", "relation")

  /** Is `buf(pos)` the '<' of a top-level element start tag? STRICT:
    * the delimiter byte after the name must be visible in [pos, end) —
    * a candidate truncated at a scan-window edge therefore defers to
    * the next (overlapped) window instead of matching early. */
  private def isTopLevelStart(buf: Array[Byte], pos: Int, end: Int): Boolean = {
    if (buf(pos) != '<') return false
    topLevelNames.exists { n =>
      val after = pos + 1 + n.length
      after < end && {
        var i = 0
        var ok = true
        while (ok && i < n.length) { ok = buf(pos + 1 + i) == n(i).toByte; i += 1 }
        ok && (buf(after) == ' ' || buf(after) == '\t' ||
          buf(after) == '\n' || buf(after) == '\r' || buf(after) == '/' || buf(after) == '>')
      }
    }
  }

  /** Executor-side range parse for [[OsmXmlSource]]: reads
    * [start, end) plus the read-ahead needed to complete the last
    * owned element, returns the shaped elements whose start byte falls
    * in the range — the range aligns forward to its first top-level
    * element START and parses until the first top-level start at/after
    * its end, so every element is parsed exactly once, by the range
    * containing its start byte. Tail alignment scans each newly read
    * chunk with a 16-byte overlap window — no per-chunk copy of the
    * whole buffer.
    *
    * Alignment is a byte-level scan for `<node` / `<way` / `<relation`
    * followed by a delimiter: in well-formed XML a raw '<' cannot
    * appear inside attribute values (it must be escaped as &lt;), and
    * OSM's nested children are only nd/tag/member, so the name match
    * alone identifies top level. (Caveat, documented not defended: an
    * XML comment containing literal "<node " would confuse the
    * aligner; OSM planet dumps contain no comments.) */
  private[sources] def parseRange(path: String, start: Long, end: Long,
                                  cleanStreets: Boolean,
                                  includeRelations: Boolean,
                                  conf: Configuration): Iterator[OsmElement] = {
    import org.apache.hadoop.fs.{Path => HPath}
    // getFileSystem off the Path itself — java.net.URI(path) throws on
    // paths needing escaping (spaces etc.)
    val hPath = new HPath(path)
    val fs = hPath.getFileSystem(conf)
    val in = fs.open(hPath)
    try {
      in.seek(start)
      val base = math.toIntExact(end - start) // ranges cap at MaxSplitBytes
      val bos = new java.io.ByteArrayOutputStream(base + 1024)
      val chunk = new Array[Byte](1 << 20)
      // read the range itself
      var remaining = base
      var eof = false
      while (remaining > 0 && !eof) {
        val n = in.read(chunk, 0, math.min(chunk.length, remaining))
        if (n < 0) eof = true else { bos.write(chunk, 0, n); remaining -= n }
      }
      // read ahead until the first top-level start at/after the range
      // end (elements are small — ways cap at ~2k nd refs — so this
      // tail is a few KB in practice, bounded by one element's size).
      // Scan window = 16-byte overlap + new chunk, so a tag spanning a
      // chunk boundary is re-scanned; matches needing bytes beyond the
      // window defer to the next round.
      val Overlap = 16
      var tailStart = -1L
      var overlap = Array.emptyByteArray
      while (tailStart < 0 && !eof) {
        val sizeBefore = bos.size()
        val n = in.read(chunk)
        if (n < 0) eof = true
        else {
          bos.write(chunk, 0, n)
          val window = new Array[Byte](overlap.length + n)
          System.arraycopy(overlap, 0, window, 0, overlap.length)
          System.arraycopy(chunk, 0, window, overlap.length, n)
          val windowStartAbs = sizeBefore.toLong - overlap.length
          // scan the FULL window: a complete tag is accepted where it
          // stands; a tag truncated at the window edge fails
          // isTopLevelStart's bounds check here and is re-scanned via
          // the overlap bytes next round
          var p = 0
          while (tailStart < 0 && p < window.length) {
            if (windowStartAbs + p >= base && isTopLevelStart(window, p, window.length))
              tailStart = windowStartAbs + p
            else p += 1
          }
          overlap = window.takeRight(math.min(Overlap - 1, window.length))
        }
      }
      val buf = bos.toByteArray
      val stop = if (tailStart >= 0) tailStart.toInt else buf.length
      // first top-level start INSIDE the range — this split's first element
      var first = -1
      var p = 0
      while (first < 0 && p < math.min(base, stop)) {
        if (isTopLevelStart(buf, p, buf.length)) first = p
        else p += 1
      }
      if (first < 0) Iterator.empty
      else {
        var frag = new String(buf, first, stop - first, java.nio.charset.StandardCharsets.UTF_8)
        // final split: trim the document's own root close tag
        val rootClose = frag.lastIndexOf("</osm>")
        if (tailStart < 0 && rootClose >= 0) frag = frag.substring(0, rootClose)
        parseElements(s"<osm>$frag</osm>", cleanStreets, includeRelations)
      }
    } finally in.close()
  }

  // -------------------------------------------------------------------
  // StAX parsing (executor-side, one range in memory at a time)
  // -------------------------------------------------------------------

  private def newReader(xml: String): XMLStreamReader = {
    val f = XMLInputFactory.newInstance()
    f.setProperty(XMLInputFactory.SUPPORT_DTD, false)
    f.setProperty(XMLInputFactory.IS_SUPPORTING_EXTERNAL_ENTITIES, false)
    f.createXMLStreamReader(new StringReader(xml))
  }

  /** All element names in document order (for the S2 histogram). */
  private[sources] def tagNames(xml: String): Iterator[String] = {
    val r = newReader(xml)
    new Iterator[String] {
      private var nextName: String = advance()
      private def advance(): String = {
        while (r.hasNext) {
          if (r.next() == XMLStreamConstants.START_ELEMENT)
            return r.getLocalName
        }
        null
      }
      def hasNext: Boolean = nextName != null
      def next(): String = { val n = nextName; nextName = advance(); n }
    }
  }

  /** Incremental pull-parse: yields one shaped OsmElement per
    * `<node>`/`<way>` (and `<relation>` when `includeRelations`);
    * everything else skips. Over a whole document it is the reference
    * the range reader is tested against. */
  private[graft] def parseElements(xml: String, cleanStreets: Boolean,
                                     includeRelations: Boolean = false): Iterator[OsmElement] = {
    val r = newReader(xml)
    new Iterator[OsmElement] {
      private var nextEl: OsmElement = advance()
      private def advance(): OsmElement = {
        while (r.hasNext) {
          if (r.next() == XMLStreamConstants.START_ELEMENT) {
            val tag = r.getLocalName
            if (tag == "node" || tag == "way" ||
                (includeRelations && tag == "relation")) return parseOne(r, tag)
          }
        }
        null
      }
      def hasNext: Boolean = nextEl != null
      def next(): OsmElement = { val e = nextEl; nextEl = advance(); e }

      /** Reads attributes of the current start element, then consumes
        * children until the matching end element. */
      private def parseOne(r: XMLStreamReader, tag: String): OsmElement = {
        val attrs = (0 until r.getAttributeCount)
          .map(i => r.getAttributeLocalName(i) -> r.getAttributeValue(i)).toMap

        val pos =
          if (attrs.contains("lat") && attrs.contains("lon"))
            OsmPos(attrs("lat").toDouble, attrs("lon").toDouble)
          else null
        val created =
          if (Seq("version", "changeset", "timestamp", "user", "uid").exists(attrs.contains))
            OsmCreated(
              attrs.getOrElse("version", null), attrs.getOrElse("changeset", null),
              attrs.get("timestamp").map(t => Timestamp.from(Instant.parse(t))).orNull,
              attrs.getOrElse("user", null), attrs.getOrElse("uid", null))
          else null

        var nodeRefs = List.empty[String]
        var members = List.empty[OsmMember]
        var address = Map.empty[String, String]
        var tags = Map.empty[String, String]
        var depth = 1
        while (r.hasNext && depth > 0) {
          r.next() match {
            case XMLStreamConstants.START_ELEMENT =>
              depth += 1
              r.getLocalName match {
                case "nd" =>
                  val ref = attrValue(r, "ref")
                  if (ref != null) nodeRefs ::= ref
                case "member" =>
                  val ref = attrValue(r, "ref")
                  if (ref != null)
                    members ::= OsmMember(attrValue(r, "type"), ref,
                      attrValue(r, "role"))
                case "tag" =>
                  val k = attrValue(r, "k")
                  val v = attrValue(r, "v")
                  if (k != null && v != null) {
                    if (k.startsWith("addr:")) {
                      val key = k.substring(5)
                      // drop problemchars / second-colon keys (data.py:158-162)
                      if (problemChars.findFirstIn(key).isEmpty &&
                          lowerColon.findFirstMatchIn(key).isEmpty) {
                        val value =
                          if (key == "street" && cleanStreets) updateName(v)
                          else v
                        if (addressFields.contains(key)) address += key -> value
                        else tags += k -> value // fixed-schema overflow
                      }
                    } else tags += k -> v
                  }
                case _ =>
              }
            case XMLStreamConstants.END_ELEMENT => depth -= 1
            case _ =>
          }
        }

        val addr =
          if (address.nonEmpty)
            OsmAddress(address.getOrElse("street", null),
              address.getOrElse("housenumber", null),
              address.getOrElse("postcode", null),
              address.getOrElse("city", null),
              address.getOrElse("state", null))
          else null

        OsmElement(
          id = attrs.getOrElse("id", null),
          `type` = tag,
          visible = attrs.getOrElse("visible", null),
          pos = pos,
          created = created,
          address = addr,
          node_refs = if (tag == "way" && nodeRefs.nonEmpty) nodeRefs.reverse else null,
          members = if (tag == "relation" && members.nonEmpty) members.reverse else null,
          tags = tags,
          amenity = tags.getOrElse("amenity", null),
          natural = tags.getOrElse("natural", null),
          place = tags.getOrElse("place", null),
          name = tags.getOrElse("name", null),
          population = tags.getOrElse("population", null))
      }

      private def attrValue(r: XMLStreamReader, name: String): String = {
        var i = 0
        while (i < r.getAttributeCount) {
          if (r.getAttributeLocalName(i) == name) return r.getAttributeValue(i)
          i += 1
        }
        null
      }
    }
  }

  /** `update_name` (ProjectCodeUsed/data.py:110-118) — driver/executor
    * Scala twin of TextFunctions.normalizeStreet (same mapping, same
    * last-token rule); used during ingest shaping where we're already
    * row-at-a-time inside the parser. */
  private[sources] def updateName(name: String): String = {
    val parts = name.trim.split("\\s+")
    graft.functions.TextFunctions.streetMapping.get(parts.last) match {
      case Some(rep) => (parts.init :+ rep).mkString(" ")
      case None => name
    }
  }
}

/** Python-`json.dumps(indent=2)`-compatible renderer for
  * [[OsmSource.writeJsonLines]]' pretty mode (reference
  * ProjectCodeUsed/data.py:198-199 and the documented element shape at
  * data.py:13-34): 2-space indent, `": "` key separator, one item per
  * line, `{}`/`[]` for empty containers. Schema-driven and recursive,
  * so it renders any Row shape; null fields are omitted (the
  * reference's shape_element only sets present keys), map entries are
  * key-sorted for deterministic output, and timestamps render in the
  * raw OSM form (`2013-08-03T16:43:42Z`, UTC). Known divergence:
  * extreme-magnitude doubles render Scala-style (`1.0E20`) where
  * python writes `1e+20` — OSM lat/lon/measure values never reach
  * E-notation. */
private[graft] object PrettyJson {
  import org.apache.spark.sql.Row
  import org.apache.spark.sql.types._

  private val TsFmt = java.time.format.DateTimeFormatter
    .ofPattern("yyyy-MM-dd'T'HH:mm:ss'Z'").withZone(java.time.ZoneOffset.UTC)

  def render(row: Row, schema: StructType): String = struct(row, schema, 0)

  // python json.dumps default escaping: the named short escapes (incl.
  // \b and \f), \uXXXX for other control chars, and ensure_ascii=True —
  // every NON-ASCII char (>= 0x80) escapes too (surrogate halves escape
  // individually, same as python). ASCII DEL (0x7f) stays LITERAL:
  // python's encoder only escapes c < 0x20 and c > 0x7f
  private def esc(s: String): String = s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case '\b' => "\\b"
    case '\f' => "\\f"
    case c if c < ' ' || c > '\u007f' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  private def value(v: Any, dt: DataType, level: Int): String = (v, dt) match {
    case (null, _) => "null"
    case (r: Row, st: StructType) => struct(r, st, level)
    case (s: scala.collection.Seq[_], at: ArrayType) =>
      wrap(s.map(value(_, at.elementType, level + 1)).toSeq, "[", "]", level)
    case (m: scala.collection.Map[_, _], mt: MapType) =>
      val items = m.toSeq
        .collect { case (k, mv) if mv != null => (k.toString, mv) }
        .sortBy(_._1)
        .map { case (k, mv) =>
          "\"" + esc(k) + "\": " + value(mv, mt.valueType, level + 1) }
      wrap(items, "{", "}", level)
    case (t: Timestamp, _) => "\"" + TsFmt.format(t.toInstant) + "\""
    case (s: String, _) => "\"" + esc(s) + "\""
    case (b: Boolean, _) => b.toString
    case (other, _) => other.toString
  }

  private def struct(r: Row, st: StructType, level: Int): String = {
    val items = st.fields.zipWithIndex.toSeq
      .collect { case (f, i) if !r.isNullAt(i) =>
        "\"" + esc(f.name) + "\": " + value(r.get(i), f.dataType, level + 1) }
    wrap(items, "{", "}", level)
  }

  private def wrap(items: Seq[String], open: String, close: String,
                   level: Int): String =
    if (items.isEmpty) open + close
    else {
      val ind = "  " * (level + 1)
      open + "\n" + items.map(ind + _).mkString(",\n") + "\n" + "  " * level + close
    }
}
