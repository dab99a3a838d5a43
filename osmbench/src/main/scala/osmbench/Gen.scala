package osmbench

import java.io.{BufferedWriter, OutputStreamWriter}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.SplittableRandom

import scala.collection.mutable.ArrayBuffer

/** One expected address after ingest-time street cleaning and
  * `Repairs.clean`, in the program's struct order. */
final case class Addr(street: String, housenumber: String, postcode: String,
                      city: String, state: String)

/** A battery answer: ordered (key, number) pairs. */
final case class Answer(rows: Seq[(String, Double)])

/** What a generated extract must produce. `ids` holds count, sum and
  * sum of squares of every document id, so a lost, duplicated or
  * substituted id shows. */
final case class Truth(nodes: Long, ways: Long, waNodes: Long, idNodes: Long,
                       idCount: Long, idSum: BigInt, idSq: BigInt,
                       addresses: Map[String, Addr], rowsChanged: Long,
                       answers: Vector[Answer], xmlBytes: Long)

/** Seeded synthetic OSM extract with the published shape of the
  * reference's Spokane / Coeur d'Alene extract (BASELINE.md), plus the
  * ground truth the benchmark's checks compare against.
  *
  * Deliberately self-contained: it keeps its own copies of the street
  * mapping, of haversine and of each repair rule's outcome, and calls
  * no library code, so a fault in the library cannot hide in the truth.
  * The seed moves ids, positions, users, names and which documents carry
  * the planted values; every count the battery asks for is fixed by
  * construction, so the answers are the same shape on every seed. */
object Gen {
  val Nodes = 241729
  val Ways = 25144
  val WaNodes = 147184
  val IdNodes: Int = Nodes - WaNodes // 94,545
  val Users = 315
  val MaxContrib = 92327
  val Relations = 40

  val MinLon = -117.5543; val MaxLon = -116.6192
  val MinLat = 47.5560; val MaxLat = 47.8898
  val Divide = -117.039971
  /** 10 miles, the reference's `$maxDistance` (readme.md:393). */
  val RadiusM = 16093.44
  private val EarthR = 6371008.8
  /** No planted amenity lies within this many metres of the radius. */
  private val RadiusMarginM = 60.0

  val WaRing: Array[(Double, Double)] = Array((MinLon, MinLat), (Divide, MinLat),
    (Divide, MaxLat), (MinLon, MaxLat), (MinLon, MinLat))
  val IdRing: Array[(Double, Double)] = Array((Divide, MinLat), (MaxLon, MinLat),
    (MaxLon, MaxLat), (Divide, MaxLat), (Divide, MinLat))

  final case class City(name: String, lat: Double, lon: Double, population: Int)
  val Spokane = City("Spokane", 47.6588, -117.4260, 208916)
  val CdA = City("Coeur d'Alene", 47.6777, -116.7805, 41328)
  val PostFalls = City("Post Falls", 47.7180, -116.9516, 30123)
  val Cities: Seq[City] = Seq(Spokane, CdA, PostFalls)

  /** The reference's street mapping (ProjectCodeUsed/data.py:98-108)
    * without the three bare one-off names, which are never planted. */
  private val Abbrev = Seq("St" -> "Street", "St." -> "Street", "Rd" -> "Road",
    "Rd." -> "Road", "Ave" -> "Avenue", "Blvd" -> "Boulevard", "Blvd." -> "Boulevard")
  private val FullSuffix = Seq("Street", "Avenue", "Drive", "Lane", "Court", "Way", "Road")
  private val StreetBase = Seq("Division", "Monroe", "Sprague", "Ruby", "Nevada",
    "Francis", "Mission", "Trent", "Sherman", "Government", "Seltice", "Appleway",
    "Pines", "Sullivan", "Argonne", "Hamilton", "Lincoln", "Grand", "Regal", "Ash")

  /** (amenity, total, within 10 mi of Spokane, within 10 mi of Coeur
    * d'Alene, on ways). The top of the list is readme.md:265-363; the
    * near counts of the first five types are readme.md:426-481. */
  private val AmenityPlan: Seq[(String, Int, Int, Int, Int)] = Seq(
    ("parking", 740, 150, 45, 420), ("school", 224, 96, 34, 60),
    ("restaurant", 64, 18, 1, 10), ("fast_food", 44, 5, 2, 6),
    ("toilets", 33, 8, 3, 2), ("place_of_worship", 31, 12, 4, 5),
    ("fuel", 28, 9, 4, 3), ("grave_yard", 20, 2, 1, 12), ("bank", 18, 6, 3, 1),
    ("cafe", 17, 7, 0, 0), ("hospital", 15, 3, 6, 2), ("library", 13, 4, 2, 1),
    ("post_office", 12, 3, 1, 0), ("fire_station", 11, 4, 2, 0),
    ("pharmacy", 10, 3, 0, 0), ("bench", 9, 2, 2, 0), ("dentist", 8, 0, 1, 0),
    ("police", 7, 2, 1, 0), ("townhall", 6, 1, 1, 0), ("doctors", 5, 1, 0, 0),
    ("bar", 4, 1, 0, 0), ("pub", 3, 0, 1, 0), ("theatre", 2, 1, 0, 0),
    ("cinema", 1, 0, 0, 0))

  /** Natural features on nodes per box (readme.md:560-561). */
  private val NaturalWa = Seq("spring" -> 1, "tree" -> 216, "bay" -> 6, "wood" -> 23,
    "peak" -> 22, "cliff" -> 1)
  private val NaturalId = Seq("bay" -> 29, "peak" -> 26, "beach" -> 4, "cliff" -> 1)

  private val Towns = Seq(("Liberty Lake", 47.6743, -117.1124), ("Millwood", 47.6880, -117.2830),
    ("Hayden", 47.7660, -116.7866), ("Rathdrum", 47.8120, -116.8960))

  // ------------------------------------------------------------------
  // documents
  // ------------------------------------------------------------------

  private final class Doc(val isNode: Boolean, val lat7: Long, val lon7: Long) {
    var id: Long = 0L
    var user: Int = 0
    var tags: List[(String, String)] = Nil
    var refs: Array[Long] = null
  }

  private def lat7(d: Double): Long = math.round(d * 1e7)
  private def deg(v7: Long): Double = v7 / 1e7

  /** Decimal rendering of a 1e-7-degree integer, exact (no locale, no
    * binary rounding): "-117.4260000". */
  private def fmt7(v: Long): String = {
    val a = math.abs(v)
    val frac = (a % 10000000L).toString
    (if (v < 0) "-" else "") + (a / 10000000L) + "." + ("0" * (7 - frac.length)) + frac
  }

  private def haversine(lat1: Double, lon1: Double, lat2: Double, lon2: Double): Double = {
    val dLat = math.toRadians(lat2 - lat1) / 2
    val dLon = math.toRadians(lon2 - lon1) / 2
    val a = math.pow(math.sin(dLat), 2) +
      math.cos(math.toRadians(lat1)) * math.cos(math.toRadians(lat2)) * math.pow(math.sin(dLon), 2)
    2 * EarthR * math.asin(math.sqrt(a))
  }

  /** Margin kept from the bounds and from the divide, so that no node
    * lies on a box edge whatever the containment convention. */
  private val Edge7 = 10L

  private def isWa(lon7: Long): Boolean = lon7 < lat7(Divide)

  private def inBounds(la7: Long, lo7: Long): Boolean =
    la7 > lat7(MinLat) + Edge7 && la7 < lat7(MaxLat) - Edge7 &&
      lo7 > lat7(MinLon) + Edge7 && lo7 < lat7(MaxLon) - Edge7 &&
      math.abs(lo7 - lat7(Divide)) > Edge7

  private def uniform(r: SplittableRandom, lo: Double, hi: Double): Long =
    lat7(lo) + Edge7 + 1 + r.nextLong(lat7(hi) - lat7(lo) - 2 * Edge7 - 1)

  /** A point inside the side's box ("wa" / "id"). */
  private def inSide(r: SplittableRandom, wa: Boolean): (Long, Long) =
    (uniform(r, MinLat, MaxLat),
      if (wa) uniform(r, MinLon, Divide) else uniform(r, Divide, MaxLon))

  /** A point within the radius of `c`, at least the margin inside it. */
  private def near(r: SplittableRandom, c: City): (Long, Long) = {
    var p: (Long, Long) = null
    while (p == null) {
      val la = c.lat + (r.nextDouble() * 2 - 1) * 0.16
      val lo = c.lon + (r.nextDouble() * 2 - 1) * 0.24
      val (a, b) = (lat7(la), lat7(lo))
      if (inBounds(a, b) && haversine(c.lat, c.lon, deg(a), deg(b)) < RadiusM - RadiusMarginM) p = (a, b)
    }
    p
  }

  /** A point in bounds, at least the margin outside both radii. */
  private def far(r: SplittableRandom): (Long, Long) = {
    var p: (Long, Long) = null
    while (p == null) {
      val (a, b) = (uniform(r, MinLat, MaxLat), uniform(r, MinLon, MaxLon))
      if (inBounds(a, b) && Seq(Spokane, CdA).forall(c =>
          haversine(c.lat, c.lon, deg(a), deg(b)) > RadiusM + RadiusMarginM)) p = (a, b)
    }
    p
  }

  /** Contributions per user, ascending: min 1, quartiles 2 / 21 / 141,
    * max 92,327 (readme.md:184-191), summing to the document count. */
  def contributions(total: Int): Array[Int] = {
    val c = new Array[Int](Users)
    def logFill(from: Int, to: Int, a: Double, b: Double): Unit =
      for (i <- from to to) c(i) = math.round(a * math.pow(b / a, (i - from).toDouble / (to - from))).toInt
    for (i <- 0 until 40) c(i) = 1
    for (i <- 40 to 79) c(i) = 2
    logFill(79, 157, 2, 21)
    logFill(157, 236, 21, 141)
    c(235) = 141; c(236) = 141
    c(Users - 1) = MaxContrib
    val rest = total - c.take(237).sum - MaxContrib
    // geometric run from 141 up to x over ranks 237..313; x solves the sum
    def run(x: Double) = (237 to 313).map(i => math.round(141 * math.pow(x / 141, (i - 236).toDouble / 77)).toInt)
    var lo = 142.0; var hi = MaxContrib.toDouble
    for (_ <- 0 until 100) { val m = (lo + hi) / 2; if (run(m).sum < rest) lo = m else hi = m }
    val top = run(lo)
    top.indices.foreach(i => c(237 + i) = top(i))
    c(313) += rest - top.sum
    require(c.sum == total && c.sliding(2).forall(p => p(0) <= p(1)) && c(313) < MaxContrib,
      "contribution vector")
    c
  }

  // ------------------------------------------------------------------
  // addresses: every repair rule of readme.md:42-103, at fixed counts
  // ------------------------------------------------------------------

  /** One planted address: the raw `addr:*` values and what ingest plus
    * `Repairs.clean` must make of them. */
  private final case class Plant(raw: Addr, want: Addr, repaired: Boolean)

  private def plants(r: SplittableRandom): Seq[Plant] = {
    def pick[A](xs: Seq[A]): A = xs(r.nextInt(xs.size))
    def street(): (String, String) = {
      val base = pick(StreetBase)
      if (r.nextInt(2) == 0) { val (k, v) = pick(Abbrev); (s"$base $k", s"$base $v") }
      else { val s = s"$base ${pick(FullSuffix)}"; (s, s) }
    }
    def hn() = (1 + r.nextInt(9999)).toString
    def zip(p: String) = p + "%03d".format(r.nextInt(1000))
    val out = ArrayBuffer.empty[Plant]
    def add(n: Int, repaired: Boolean)(f: (String, String) => (Addr, Addr)): Unit =
      for (_ <- 0 until n) {
        val (rawSt, st) = street()
        val (raw, want) = f(rawSt, st)
        out += Plant(raw, want, repaired)
      }
    val waCities = Seq("Spokane", "Cheney", "Mead")
    val idCities = Seq("Hayden", "Rathdrum")
    // merged "City, ST 99999" -> city / state / postcode
    add(6, true) { (s0, s) => val c = pick(waCities); val z = zip("99")
      (Addr(s0, hn(), s"$c, WA $z", null, null), Addr(s, null, z, c, "WA")) }
    add(4, true) { (s0, s) => val c = pick(idCities); val z = zip("83")
      (Addr(s0, hn(), s"$c, ID $z", null, null), Addr(s, null, z, c, "ID")) }
    // merged without a city: "WA 99021"
    add(4, true) { (s0, s) => val z = zip("99")
      (Addr(s0, hn(), s"WA $z", null, null), Addr(s, null, z, null, "WA")) }
    // a bare state code in the postcode field moves to state
    add(5, true) { (s0, s) => (Addr(s0, hn(), "WA", null, null), Addr(s, null, null, null, "WA")) }
    add(3, true) { (s0, s) => (Addr(s0, hn(), "ID", null, null), Addr(s, null, null, null, "ID")) }
    // the TIGER range artefact
    add(4, true) { (s0, s) =>
      (Addr(s0, hn(), "189872421:189872425", "Spokane", "WA"), Addr(s, null, "99224", "Spokane", "WA")) }
    // lowercase state codes
    add(6, true) { (s0, s) => val z = zip("99")
      (Addr(s0, hn(), z, "Spokane", "wa"), Addr(s, null, z, "Spokane", "WA")) }
    add(4, true) { (s0, s) => val z = zip("83")
      (Addr(s0, hn(), z, "Post Falls", "id"), Addr(s, null, z, "Post Falls", "ID")) }
    // lowercase cities
    add(6, true) { (s0, s) => val z = zip("99")
      val (c0, c) = pick(Seq("spokane" -> "Spokane", "spokane valley" -> "Spokane Valley", "mead" -> "Mead"))
      (Addr(s0, hn(), z, c0, "WA"), Addr(s, null, z, c, "WA")) }
    // Coeur d'Alene spellings
    add(6, true) { (s0, s) => val z = zip("83")
      val c0 = pick(Seq("Coeur d Alene", "Coeur d\"Alene", "Coeur d`Alene"))
      (Addr(s0, hn(), z, c0, "ID"), Addr(s, null, z, "Coeur d'Alene", "ID")) }
    // a trailing ", ST" on the city
    add(4, true) { (s0, s) => val z = zip("99")
      (Addr(s0, hn(), z, "Otis Orchards, WA", "WA"), Addr(s, null, z, "Otis Orchards", "WA")) }
    add(2, true) { (s0, s) => val z = zip("83")
      (Addr(s0, hn(), z, "Post Falls, ID", "ID"), Addr(s, null, z, "Post Falls", "ID")) }
    // ZIP+4 is valid and stays as it is
    add(5, false) { (s0, s) => val z = zip("99") + "-" + (1000 + r.nextInt(9000))
      (Addr(s0, hn(), z, "Spokane", "WA"), Addr(s, null, z, "Spokane", "WA")) }
    // clean documents: full WA / ID addresses, bare postcodes, bare streets
    add(42, false) { (s0, s) => val z = zip("99"); val c = pick(Seq("Spokane", "Spokane Valley", "Liberty Lake"))
      (Addr(s0, hn(), z, c, "WA"), Addr(s, null, z, c, "WA")) }
    add(30, false) { (s0, s) => val z = zip("83"); val c = pick(Seq("Coeur d'Alene", "Post Falls", "Hayden"))
      (Addr(s0, hn(), z, c, "ID"), Addr(s, null, z, c, "ID")) }
    add(333, false) { (s0, s) => val z = zip("99"); (Addr(s0, hn(), z, null, null), Addr(s, null, z, null, null)) }
    add(56, false) { (s0, s) => val z = zip("83"); (Addr(s0, hn(), z, null, null), Addr(s, null, z, null, null)) }
    add(200, false) { (s0, s) => (Addr(s0, hn(), null, null, null), Addr(s, null, null, null, null)) }
    // housenumbers pass through unchanged
    out.map(p => p.copy(want = p.want.copy(housenumber = p.raw.housenumber))).toSeq
  }

  private def addrTags(a: Addr): List[(String, String)] =
    List("addr:street" -> a.street, "addr:housenumber" -> a.housenumber,
      "addr:postcode" -> a.postcode, "addr:city" -> a.city, "addr:state" -> a.state)
      .filter(_._2 != null)

  private def shuffle[A](r: SplittableRandom, a: Array[A]): Unit = {
    var i = a.length - 1
    while (i > 0) { val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t; i -= 1 }
  }

  private def userNames(seed: Long): Array[String] = {
    val r = new SplittableRandom(seed ^ 0x5bd1e995L)
    val names = scala.collection.mutable.LinkedHashSet.empty[String]
    val syll = Seq("ka", "lo", "mi", "ra", "to", "ne", "su", "vi", "do", "pe", "an", "or")
    while (names.size < Users)
      names += (0 until 2 + r.nextInt(3)).map(_ => syll(r.nextInt(syll.size))).mkString +
        (if (r.nextInt(3) == 0) "_" + r.nextInt(100) else "")
    names.toArray
  }

  // ------------------------------------------------------------------
  // the base extract
  // ------------------------------------------------------------------

  /** Writes the reference-scale extract for `seed` to `out` and returns
    * its truth. */
  def extract(seed: Long, out: Path): Truth = {
    val root = new SplittableRandom(seed)
    val rPos = root.split(); val rTag = root.split(); val rUser = root.split(); val rRef = root.split()

    val special = ArrayBuffer.empty[Doc]
    def node(p: (Long, Long), tags: (String, String)*): Unit = {
      val d = new Doc(true, p._1, p._2); d.tags = tags.toList; special += d
    }
    Cities.foreach(c => node((lat7(c.lat), lat7(c.lon)), "place" -> "city", "name" -> c.name,
      "population" -> c.population.toString))
    Towns.foreach { case (n, la, lo) => node((lat7(la), lat7(lo)), "place" -> "town", "name" -> n) }
    val amenityWays = ArrayBuffer.empty[String]
    for ((a, total, s, c, w) <- AmenityPlan) {
      for (_ <- 0 until s) node(near(rPos, Spokane), "amenity" -> a)
      for (_ <- 0 until c) node(near(rPos, CdA), "amenity" -> a)
      for (_ <- 0 until total - s - c - w) node(far(rPos), "amenity" -> a)
      for (_ <- 0 until w) amenityWays += a
    }
    for ((side, plan) <- Seq(true -> NaturalWa, false -> NaturalId); (n, k) <- plan; _ <- 0 until k)
      node(inSide(rPos, side), "natural" -> n)
    val spWa = special.count(d => isWa(d.lon7))
    require(special.forall(d => inBounds(d.lat7, d.lon7)), "planted node out of bounds")
    val nodes = new Array[Doc](Nodes)
    special.copyToArray(nodes)
    var i = special.size
    for (k <- 0 until WaNodes - spWa) { val p = inSide(rPos, true); nodes(i) = new Doc(true, p._1, p._2); i += 1 }
    while (i < Nodes) { val p = inSide(rPos, false); nodes(i) = new Doc(true, p._1, p._2); i += 1 }
    shuffle(rPos, nodes)
    var id = 20000000L
    nodes.foreach { d => id += 1 + rPos.nextInt(4); d.id = id }

    val highway = Seq("residential", "service", "footway", "track", "primary", "secondary", "tertiary")
    val ways = new Array[Doc](Ways)
    i = 0
    amenityWays.foreach { a => val d = new Doc(false, 0, 0); d.tags = List("amenity" -> a, "building" -> "yes"); ways(i) = d; i += 1 }
    for ((n, k) <- Seq("water" -> 150, "wood" -> 80); _ <- 0 until k) {
      val d = new Doc(false, 0, 0); d.tags = List("natural" -> n); ways(i) = d; i += 1
    }
    while (i < Ways) {
      val d = new Doc(false, 0, 0)
      d.tags =
        if (rTag.nextInt(3) == 0) List("building" -> "yes")
        else List("highway" -> highway(rTag.nextInt(highway.size)),
          "name" -> s"${StreetBase(rTag.nextInt(StreetBase.size))} ${FullSuffix(rTag.nextInt(FullSuffix.size))}")
      ways(i) = d; i += 1
    }
    shuffle(rTag, ways)
    id = 300000000L
    ways.foreach { d =>
      id += 1 + rRef.nextInt(4); d.id = id
      d.refs = Array.fill(2 + rRef.nextInt(32))(nodes(rRef.nextInt(Nodes)).id)
    }

    // addresses on distinct documents of either type
    val all: Array[Doc] = nodes ++ ways
    val ps = plants(rTag)
    val slots = new java.util.HashSet[Integer]()
    val addresses = Map.newBuilder[String, Addr]
    ps.foreach { p =>
      var k = rTag.nextInt(all.length)
      while (!slots.add(k) || all(k).tags.exists(_._1 == "place")) k = rTag.nextInt(all.length)
      all(k).tags = all(k).tags ++ addrTags(p.raw)
      addresses += all(k).id.toString -> p.want
    }
    // a key with a second colon is dropped by the parser, not an address
    for (_ <- 0 until 25) { val d = all(rTag.nextInt(all.length)); d.tags = d.tags :+ ("addr:street:prefix" -> "North") }

    val contrib = contributions(all.length)
    val assign = new Array[Int](all.length)
    i = 0
    for (u <- 0 until Users; _ <- 0 until contrib(u)) { assign(i) = u; i += 1 }
    shuffle(rUser, assign)
    all.indices.foreach(k => all(k).user = assign(k))
    val names = userNames(seed)

    val bytes = writeXml(out, nodes, ways, names, root.split(), relations = Relations)

    val want = addresses.result()
    Truth(nodes = Nodes, ways = Ways, waNodes = WaNodes, idNodes = IdNodes,
      idCount = all.length, idSum = all.map(d => BigInt(d.id)).sum,
      idSq = all.map(d => BigInt(d.id) * d.id).sum,
      addresses = want, rowsChanged = ps.count(_.repaired),
      answers = battery(all, want, contrib, names), xmlBytes = bytes)
  }

  // ------------------------------------------------------------------
  // XML
  // ------------------------------------------------------------------

  private def esc(s: String): String =
    if (s.indexOf('"') < 0 && s.indexOf('&') < 0 && s.indexOf('<') < 0) s
    else s.replace("&", "&amp;").replace("\"", "&quot;").replace("<", "&lt;")

  private def writeXml(out: Path, nodes: Array[Doc], ways: Array[Doc], names: Array[String],
                       r: SplittableRandom, relations: Int): Long = {
    Files.createDirectories(out.getParent)
    val w = new BufferedWriter(new OutputStreamWriter(Files.newOutputStream(out), UTF_8), 1 << 20)
    try {
      w.write("<?xml version='1.0' encoding='UTF-8'?>\n<osm version=\"0.6\" generator=\"osmbench\">\n")
      w.write(s""" <bounds minlat="$MinLat" minlon="$MinLon" maxlat="$MaxLat" maxlon="$MaxLon"/>\n""")
      def attrs(d: Doc): Unit = {
        val ts = java.time.Instant.ofEpochSecond(1199145600L + r.nextLong(252460800L)).toString
        w.write(s""" id="${d.id}" visible="true" version="${1 + r.nextInt(9)}" changeset="${1000000 + r.nextInt(30000000)}" timestamp="$ts" user="${esc(names(d.user))}" uid="${10000 + d.user * 37}"""")
      }
      def tags(d: Doc): Unit =
        d.tags.foreach { case (k, v) => w.write(s"""    <tag k="$k" v="${esc(v)}"/>\n""") }
      nodes.foreach { d =>
        w.write("  <node"); attrs(d)
        w.write(s""" lat="${fmt7(d.lat7)}" lon="${fmt7(d.lon7)}"""")
        if (d.tags.isEmpty) w.write("/>\n")
        else { w.write(">\n"); tags(d); w.write("  </node>\n") }
      }
      ways.foreach { d =>
        w.write("  <way"); attrs(d); w.write(">\n")
        d.refs.foreach(ref => w.write(s"""    <nd ref="$ref"/>\n"""))
        tags(d)
        w.write("  </way>\n")
      }
      for (k <- 0 until relations) {
        w.write(s"""  <relation id="${900000000L + k}" visible="true" version="1" changeset="1" timestamp="2012-01-01T00:00:00Z" user="${esc(names(0))}" uid="10000">\n""")
        for (_ <- 0 until 3) w.write(s"""    <member type="way" ref="${ways(r.nextInt(ways.length)).id}" role="outer"/>\n""")
        w.write("""    <tag k="type" v="multipolygon"/>""" + "\n  </relation>\n")
      }
      w.write("</osm>\n")
    } finally w.close()
    Files.size(out)
  }

  // ------------------------------------------------------------------
  // the battery's answers, computed here from the documents
  // ------------------------------------------------------------------

  private def pct(sorted: Array[Int], q: Double): Double = {
    val pos = q * (sorted.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    sorted(lo) + (sorted(hi) - sorted(lo)) * (pos - lo)
  }

  private def battery(all: Array[Doc], addr: Map[String, Addr], contrib: Array[Int],
                      names: Array[String]): Vector[Answer] = {
    def tag(d: Doc, k: String) = d.tags.collectFirst { case (`k`, v) => v }
    val total = all.length.toDouble
    val states = addr.values.flatMap(a => Option(a.state)).toSeq
    val zips = addr.values.flatMap(a => Option(a.postcode)).toSeq
    val n = contrib.length
    val mean = contrib.map(_.toDouble).sum / n
    val std = math.sqrt(contrib.map(c => (c - mean) * (c - mean)).sum / (n - 1))
    val byUser = names.indices.map(u => names(u) -> contrib(u))
    val amen = all.flatMap(d => tag(d, "amenity")).groupBy(identity).view.mapValues(_.length).toSeq
    def nearSet(c: City) = all.filter(d => d.isNode && tag(d, "amenity").isDefined &&
      haversine(c.lat, c.lon, deg(d.lat7), deg(d.lon7)) <= RadiusM).map(d => tag(d, "amenity").get)
    val nodes = all.filter(_.isNode)
    val waN = nodes.count(d => isWa(d.lon7)).toDouble
    val nat = nodes.flatMap(d => tag(d, "natural").map(n => (if (isWa(d.lon7)) "WA" else "ID") -> n))
    Vector(
      Answer(Seq("node" -> Nodes.toDouble, "way" -> Ways.toDouble)),
      Answer(Seq("users" -> contrib.count(_ > 0).toDouble)),
      Answer(Seq("WA" -> states.count(_ == "WA").toDouble, "ID" -> states.count(_ == "ID").toDouble,
        "missing" -> (total - states.size))),
      Answer(Seq("^99" -> zips.count(_.startsWith("99")).toDouble,
        "^83" -> zips.count(_.startsWith("83")).toDouble, "missing" -> (total - zips.size))),
      Answer(Seq("count" -> n.toDouble, "mean" -> mean, "std" -> std, "min" -> contrib.min.toDouble,
        "25%" -> pct(contrib, 0.25), "50%" -> pct(contrib, 0.5), "75%" -> pct(contrib, 0.75),
        "max" -> contrib.max.toDouble)),
      Answer(byUser.sortBy { case (u, c) => (-c, u) }.take(10).map { case (u, c) => u -> c.toDouble }),
      Answer(Cities.sortBy(_.name).flatMap(c => Seq(s"${c.name}|population" -> c.population.toDouble,
        s"${c.name}|lat" -> c.lat, s"${c.name}|lon" -> c.lon))),
      Answer(amen.sortBy { case (a, c) => (-c, a) }.take(20).map { case (a, c) => a -> c.toDouble }),
      Answer(Seq(Spokane, CdA).flatMap(c => nearSet(c).groupBy(identity).toSeq
        .map { case (a, xs) => s"${c.name}|$a" -> xs.length.toDouble }).sortBy(_._1)),
      Answer(Seq("WA" -> waN, "ID" -> (nodes.length - waN), "all" -> nodes.length.toDouble)),
      Answer(nat.groupBy(identity).toSeq.map { case ((b, nn), xs) => s"$b|$nn" -> xs.length.toDouble }.sortBy(_._1)),
      Answer((nearSet(Spokane).toSet intersect nearSet(CdA).toSet).toSeq.sorted.map(_ -> 1.0)))
  }

  // ------------------------------------------------------------------
  // deltas for the append workload
  // ------------------------------------------------------------------

  val DeltaNodes = 2417
  val DeltaWaNodes = 1472
  val DeltaWays = 251

  /** Delta `k` (k >= 1) of `seed`: about 1% of the base, with ids no
    * base or other delta uses, a few dirty addresses, users from the
    * base's pool. Returns its number of documents. */
  def delta(seed: Long, k: Int, out: Path): Long = {
    val r = new SplittableRandom(seed * 1000003L + k)
    val nodes = Array.tabulate(DeltaNodes) { i =>
      val p = inSide(r, i < DeltaWaNodes); val d = new Doc(true, p._1, p._2)
      d.id = 2000000000L + k.toLong * 10000 + i; d.user = r.nextInt(Users); d
    }
    val ways = Array.tabulate(DeltaWays) { i =>
      val d = new Doc(false, 0, 0)
      d.id = 3000000000L + k.toLong * 1000 + i; d.user = r.nextInt(Users)
      d.refs = Array.fill(2 + r.nextInt(18))(nodes(r.nextInt(DeltaNodes)).id)
      d.tags = List("highway" -> "residential"); d
    }
    plants(r).take(12).zipWithIndex.foreach { case (p, i) =>
      val d = if (i % 2 == 0) nodes(i) else ways(i)
      d.tags = d.tags ++ addrTags(p.raw)
    }
    writeXml(out, nodes, ways, userNames(seed), r, relations = 0)
    DeltaNodes + DeltaWays
  }

  /** Expected node / way / WA / ID counts after `k` deltas. */
  def afterDeltas(t: Truth, k: Int): (Long, Long, Long, Long) =
    (t.nodes + k.toLong * DeltaNodes, t.ways + k.toLong * DeltaWays,
      t.waNodes + k.toLong * DeltaWaNodes, t.idNodes + k.toLong * (DeltaNodes - DeltaWaNodes))
}
