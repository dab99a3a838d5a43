package graft.sources

import java.io.InputStream
import java.nio.charset.StandardCharsets.UTF_8
import java.sql.Timestamp
import java.time.Instant
import javax.xml.stream.{XMLInputFactory, XMLStreamConstants, XMLStreamReader}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, DateTimeUtils, GenericArrayData}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** OSM XML ingest (SURVEY.md §2.1 S1-S3): the reference's streaming
  * `ET.iterparse` ETL (/root/reference/ProjectCodeUsed/data.py:188-201)
  * re-expressed as a Spark source producing a typed
  * `Dataset[OsmElement]` with the fixed schema of SURVEY.md §1.4.
  *
  * Execution shape: one ingest path, the DataSourceV2 reader
  * [[OsmXmlSource]]. The driver lists the input files and cuts each
  * into byte ranges (metadata only); each task streams its range,
  * aligned to element boundaries ([[RangeStream]]), through one StAX
  * pass that writes the requested columns of every element it owns
  * straight into a row ([[parseRows]]) — the reference's single
  * constant-memory iterparse pass, range-parallel, so one monolithic
  * planet.xml and many sharded extracts parallelize alike with no
  * landing rewrite. No range, file or element is held whole as text.
  * Everything downstream of this source is columnar parquet.
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

  /** The `address` struct's fields, in its order. */
  private val addressFields = Seq("street", "housenumber", "postcode", "city", "state")
  private val promotedKeys = Seq("amenity", "natural", "place", "name", "population")

  /** S2 — element-type histogram (mapparser.py:16-21): count of every
    * XML tag name in the file(s), as a DataFrame. Each file streams
    * through one StAX pass that counts its names; the per-file counts
    * then add up. */
  def tagHistogram(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    spark.sparkContext.binaryFiles(path)
      .flatMap { case (_, file) =>
        val counts = scala.collection.mutable.HashMap.empty[String, Long]
        val in = file.open()
        try tagNames(in).foreach(n => counts(n) = counts.getOrElse(n, 0L) + 1)
        finally in.close()
        counts
      }
      .toDF("xml_tag", "cnt")
      .groupBy("xml_tag").agg(sum("cnt").as("cnt"))
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

  private val topLevelNames = Seq("node", "way", "relation")

  /** Bytes [[isTopLevelStart]] may look at: '<', the longest name and
    * the delimiter after it. */
  private val StartLookahead = topLevelNames.map(_.length).max + 2

  /** Is `buf(pos)` the '<' of a top-level element start tag? STRICT:
    * the delimiter byte after the name must be visible in [pos, end) —
    * a candidate truncated at `end` is no match. */
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

  /** Opens `path` at `start` as the [[RangeStream]] of [start, end). */
  private[sources] def openRange(path: String, start: Long, end: Long,
                                 conf: Configuration): InputStream = {
    // getFileSystem off the Path itself — java.net.URI(path) throws on
    // paths needing escaping (spaces etc.)
    val hPath = new HPath(path)
    val in = hPath.getFileSystem(conf).open(hPath)
    try in.seek(start) catch { case t: Throwable => in.close(); throw t }
    new RangeStream(in, start, end)
  }

  /** The bytes one [[OsmXmlSource]] task parses for its range
    * [start, end) of an OSM file, as a document of their own: a
    * synthetic `<osm>`, then the file from the first top-level element
    * start inside the range up to the first top-level start at or after
    * `end` (or EOF), then `</osm>`. So every element is parsed exactly
    * once, by the range containing its start byte, and a range holding
    * no start reads as `<osm></osm>`. The final range carries the
    * document's own `</osm>`, which closes the synthetic root;
    * [[parseRows]] stops there and never reads the second close. A
    * file whose root close is missing parses all the same.
    *
    * Alignment is a byte-level scan for `<node` / `<way` / `<relation`
    * followed by a delimiter: in well-formed XML a raw '<' cannot
    * appear inside attribute values (it must be escaped as &lt;), and
    * OSM's nested children are only nd/tag/member, so the name match
    * alone identifies top level. (Caveat, documented not defended: an
    * XML comment containing literal "<node " would confuse the
    * aligner; OSM planet dumps contain no comments.) Only the bytes
    * before the first start and from `end` on are scanned, each with
    * [[StartLookahead]] bytes in view; the rest pass through one 64 KiB
    * buffer. `in` is positioned at `start`; closing this stream closes
    * it. */
  private[graft] final class RangeStream(in: InputStream, start: Long, end: Long)
      extends InputStream {
    private val buf = new Array[Byte](1 << 16)
    private var pos = 0            // next byte of buf to hand out
    private var lim = 0            // end of the file bytes in buf
    private var bufStart = start   // file offset of buf(0)
    private var eof = false
    private val rootOpen = "<osm>".getBytes(UTF_8)
    private val rootClose = "</osm>".getBytes(UTF_8)
    private var phase = 0          // 0: rootOpen, 1: file bytes, 2: rootClose
    private var sent = 0           // bytes of rootOpen / rootClose handed out
    private val one = new Array[Byte](1)

    /** Makes `n` bytes visible from `pos`, unless the file ends first. */
    private def fill(n: Int): Unit =
      if (lim - pos < n && !eof) {
        System.arraycopy(buf, pos, buf, 0, lim - pos)
        bufStart += pos; lim -= pos; pos = 0
        while (lim < n && !eof) {
          val r = in.read(buf, lim, buf.length - lim)
          if (r < 0) eof = true else lim += r
        }
      }

    /** Moves to the first top-level start inside [start, end); false
      * when the range holds none. */
    private def align(): Boolean = {
      var found = false
      while (!found && bufStart + pos < end && { fill(StartLookahead); pos < lim })
        if (isTopLevelStart(buf, pos, lim)) found = true else pos += 1
      found
    }

    private def emit(src: Array[Byte], b: Array[Byte], off: Int, len: Int): Int =
      if (sent == src.length) -1
      else {
        val n = math.min(len, src.length - sent)
        System.arraycopy(src, sent, b, off, n)
        sent += n
        n
      }

    override def read(b: Array[Byte], off: Int, len: Int): Int =
      if (len == 0) 0
      else if (phase == 0) {
        val n = emit(rootOpen, b, off, len)
        if (sent == rootOpen.length) { sent = 0; phase = if (align()) 1 else 2 }
        n
      } else if (phase == 1) {
        fill(StartLookahead)
        val avail = math.min(len, lim - pos)
        // bytes before `end` pass as they are; from `end` on, every
        // position with its lookahead in view is checked for a start
        var n = math.min(avail.toLong, math.max(0L, end - (bufStart + pos))).toInt
        val scanTo = math.min(avail, if (eof) lim - pos else lim - pos - StartLookahead + 1)
        while (n < scanTo && !isTopLevelStart(buf, pos + n, lim)) n += 1
        if (avail == 0 || n < scanTo) phase = 2 // EOF, or the next range's first start
        if (n == 0) read(b, off, len)
        else { System.arraycopy(buf, pos, b, off, n); pos += n; n }
      } else emit(rootClose, b, off, len)

    override def read(): Int = if (read(one, 0, 1) < 0) -1 else one(0) & 0xff

    override def close(): Unit = in.close()
  }

  // -------------------------------------------------------------------
  // StAX parsing (executor-side, streaming)
  // -------------------------------------------------------------------

  private def newReader(in: InputStream): XMLStreamReader = {
    val f = XMLInputFactory.newInstance()
    f.setProperty(XMLInputFactory.SUPPORT_DTD, false)
    f.setProperty(XMLInputFactory.IS_SUPPORTING_EXTERNAL_ENTITIES, false)
    f.createXMLStreamReader(in)
  }

  /** All element names of one document in order (for the S2 histogram). */
  private[sources] def tagNames(in: InputStream): Iterator[String] = {
    val r = newReader(in)
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

  /** Incremental pull-parse of an OSM document — a whole file, or a
    * task's [[RangeStream]] — straight into Catalyst rows of `fields`
    * (names of [[OsmXmlSource.schema]], in any order): one row per
    * `<node>`/`<way>` (and `<relation>` when `includeRelations`), read
    * in one pass over its attributes and children, with only the
    * requested columns built. Everything else skips, and the parse
    * stops at the root's end element.
    *
    * The values are the `OsmElement` encoder's: `UTF8String`s, nested
    * `GenericInternalRow`s, `GenericArrayData`, and `ArrayBasedMapData`
    * for `tags`, whose entries keep the iteration order of the
    * immutable `Map` the tags make in document order (OsmSourceSpec
    * pins the rows against the encoder's). Each element gets a fresh
    * row: DSv2 consumers may hold rows. */
  private[graft] def parseRows(in: InputStream, fields: Array[String],
                               cleanStreets: Boolean,
                               includeRelations: Boolean): Iterator[InternalRow] = {
    val r = newReader(in)
    val Array(iId, iType, iVisible, iPos, iCreated, iAddress, iNodeRefs, iMembers, iTags) =
      Array("id", "type", "visible", "pos", "created", "address", "node_refs", "members", "tags")
        .map(fields.indexOf(_))
    val iPromoted = promotedKeys.map(fields.indexOf(_))
    val children = scala.collection.mutable.ArrayBuffer.empty[Any] // node_refs or members

    def str(s: String): UTF8String = UTF8String.fromString(s) // null stays null
    def struct(values: Any*): InternalRow = new GenericInternalRow(values.toArray)
    def attrValue(name: String): String = {
      var i = 0
      while (i < r.getAttributeCount) {
        if (r.getAttributeLocalName(i) == name) return r.getAttributeValue(i)
        i += 1
      }
      null
    }

    /** The row of the current start element; consumes its children up
      * to the matching end element. */
    def parseOne(tag: String): InternalRow = {
      val row = new GenericInternalRow(fields.length)
      def put(i: Int, s: String): Unit = if (i >= 0) row.update(i, str(s))
      put(iType, tag)
      var lat, lon, version, changeset, timestamp, user, uid: String = null
      var i = 0
      while (i < r.getAttributeCount) {
        val v = r.getAttributeValue(i)
        r.getAttributeLocalName(i) match {
          case "id" => put(iId, v)
          case "visible" => put(iVisible, v)
          case "lat" => lat = v
          case "lon" => lon = v
          case "version" => version = v
          case "changeset" => changeset = v
          case "timestamp" => timestamp = v
          case "user" => user = v
          case "uid" => uid = v
          case _ =>
        }
        i += 1
      }
      if (iPos >= 0 && lat != null && lon != null) row.update(iPos, struct(lat.toDouble, lon.toDouble))
      if (iCreated >= 0 && (version != null || changeset != null || timestamp != null ||
          user != null || uid != null))
        row.update(iCreated, struct(str(version), str(changeset),
          if (timestamp == null) null
          else DateTimeUtils.fromJavaTimestamp(Timestamp.from(Instant.parse(timestamp))),
          str(user), str(uid)))

      children.clear()
      var address: Array[Any] = null
      var tags = Map.empty[String, String]
      var depth = 1
      while (r.hasNext && depth > 0) {
        r.next() match {
          case XMLStreamConstants.START_ELEMENT =>
            depth += 1
            r.getLocalName match {
              case "nd" if tag == "way" && iNodeRefs >= 0 =>
                val ref = attrValue("ref")
                if (ref != null) children += str(ref)
              case "member" if tag == "relation" && iMembers >= 0 =>
                val ref = attrValue("ref")
                if (ref != null)
                  children += struct(str(attrValue("type")), str(ref), str(attrValue("role")))
              case "tag" =>
                val k = attrValue("k")
                val v = attrValue("v")
                if (k != null && v != null) {
                  if (k.startsWith("addr:")) {
                    val key = k.substring(5)
                    val j = addressFields.indexOf(key)
                    if (j >= 0) {
                      if (iAddress >= 0) {
                        if (address == null) address = new Array[Any](addressFields.length)
                        address(j) = str(
                          if (key == "street" && cleanStreets) graft.functions.TextFunctions.updateName(v)
                          else v)
                      }
                    } else if (iTags >= 0 && problemChars.findFirstIn(key).isEmpty &&
                        lowerColon.findFirstMatchIn(key).isEmpty)
                      tags += k -> v // fixed-schema overflow; problemchars / second-colon keys drop (data.py:158-162)
                  } else {
                    if (iTags >= 0) tags += k -> v
                    val j = promotedKeys.indexOf(k)
                    if (j >= 0 && iPromoted(j) >= 0) row.update(iPromoted(j), str(v))
                  }
                }
              case _ =>
            }
          case XMLStreamConstants.END_ELEMENT => depth -= 1
          case _ =>
        }
      }

      if (address != null) row.update(iAddress, new GenericInternalRow(address))
      if (children.nonEmpty)
        row.update(if (tag == "way") iNodeRefs else iMembers, new GenericArrayData(children.toArray))
      if (iTags >= 0)
        row.update(iTags, ArrayBasedMapData(tags, k => str(k.asInstanceOf[String]),
          v => str(v.asInstanceOf[String])))
      row
    }

    new Iterator[InternalRow] {
      private var depth = 0
      private var nextRow: InternalRow = advance()
      private def advance(): InternalRow = {
        while (r.hasNext) {
          r.next() match {
            case XMLStreamConstants.START_ELEMENT =>
              val tag = r.getLocalName
              if (tag == "node" || tag == "way" ||
                  (includeRelations && tag == "relation")) return parseOne(tag)
              depth += 1
            case XMLStreamConstants.END_ELEMENT =>
              depth -= 1
              if (depth == 0) return null // the root's end: whatever follows stays unread
            case _ =>
          }
        }
        null
      }
      def hasNext: Boolean = nextRow != null
      def next(): InternalRow = { val row = nextRow; nextRow = advance(); row }
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
