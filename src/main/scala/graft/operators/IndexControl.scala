package graft.operators

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.core.{JsonFactoryBuilder, StreamReadConstraints}
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** The control record of a persisted graft index: its build params
  * and, for the IVF family, the centroid matrix (row i = cell i), the
  * PQ codebook spec ([[Pq.spec]]) and the OPQ rotation spec
  * ([[Opq.rotationSpec]]). Probes and appends read it on every call,
  * to validate their knobs and to get the driver-side model state. */
private[graft] final case class IndexControl(
    params: Map[String, Long],
    centroids: Option[Seq[Seq[Double]]] = None,
    pqSpec: Option[String] = None,
    opqSpec: Option[String] = None)

/** The one reader and writer of the index control layout: ONE JSON file
  * at the index root,
  * {{{
  *   $index/_index.json
  *   {"params": {"n_cells": 8, "dim": 64},
  *    "centroids": [[0.1, -0.0, ...], ...],   (IVF family only)
  *    "pq_spec": "pqv1;...",                  (IVF-PQ only)
  *    "opq_spec": "opqrotv1~..."}             (rotate=true only)
  * }}}
  * Doubles are written in Java's round-trip form, so a read gives back
  * every centroid bit for bit; NaN and ±Infinity travel as the quoted
  * names "NaN" / "Infinity" / "-Infinity". The leading `_` hides the
  * file from Spark's readers of the index root.
  *
  * COMMIT MARKER: every build writes this file LAST, in one
  * [[Snapshot.atomicOverwrite]] (the record is either the old one or
  * the new one, never partial), so a half-built index has none and
  * fails [[read]] loudly instead of probing empty or stale tables. */
private[graft] object IndexControl {
  val FileName = "_index.json"

  /** One mapper for every render/parse. The string-length cap is lifted:
    * an OPQ rotation spec is dim² doubles as one JSON string, which
    * passes Jackson's default 20M-char cap near dim 1000. */
  private lazy val Json = new ObjectMapper(new JsonFactoryBuilder()
    .streamReadConstraints(
      StreamReadConstraints.builder().maxStringLength(Int.MaxValue).build())
    .build())

  private def file(indexPath: String): Path = new Path(indexPath, FileName)

  def write(spark: SparkSession, indexPath: String, c: IndexControl): Unit =
    Snapshot.atomicOverwrite(spark.sparkContext.hadoopConfiguration,
      file(indexPath), render(c))

  /** Delete the commit marker at the START of an in-place rebuild. The
    * written-LAST discipline only protects FRESH builds: on a rebuild at
    * the same path the OLD marker (same knob values) would stay readable
    * while the tables underneath are overwritten, so a crash mid-rebuild
    * would leave a mixed old/new index that PASSES validation. With the
    * marker gone first, that crash leaves an index [[read]] rejects
    * loudly. Probes must pause during a rebuild either way. */
  def clear(spark: SparkSession, indexPath: String): Unit = {
    val p = file(indexPath)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, false)
  }

  /** The stored record; a missing, truncated or malformed file throws
    * one [[IllegalStateException]] naming the path. */
  def read(spark: SparkSession, indexPath: String): IndexControl = {
    val p = file(indexPath)
    try {
      val in = p.getFileSystem(spark.sparkContext.hadoopConfiguration).open(p)
      parse(try new String(in.readAllBytes(), "UTF-8") finally in.close())
    } catch {
      case e: java.io.FileNotFoundException =>
        throw new IllegalStateException(
          s"no readable $FileName under $indexPath — not a completed graft " +
            "index (interrupted build, or an older layout); rebuild it", e)
      case e @ (_: java.io.IOException | _: IllegalArgumentException) =>
        throw new IllegalStateException(
          s"malformed index control record $p (${e.getMessage}); rebuild the index", e)
    }
  }

  /** `value`, or the loud not-this-layout error. */
  def field[T](indexPath: String, key: String, value: Option[T]): T =
    value.getOrElse(throw new IllegalStateException(
      s"$FileName under $indexPath has no field $key — not this index type's layout"))

  def param(params: Map[String, Long], indexPath: String, key: String): Long =
    field(indexPath, key, params.get(key))

  private def render(c: IndexControl): String = {
    val root = Json.createObjectNode()
    val ps = root.putObject("params")
    c.params.toSeq.sortBy(_._1).foreach { case (k, v) => ps.put(k, v) }
    c.centroids.foreach { cents =>
      val rows = root.putArray("centroids")
      cents.foreach { c => val row = rows.addArray(); c.foreach(x => row.add(x)) }
    }
    c.pqSpec.foreach(root.put("pq_spec", _))
    c.opqSpec.foreach(root.put("opq_spec", _))
    Json.writeValueAsString(root)
  }

  /** Throws a Jackson `IOException` or an `IllegalArgumentException`
    * on anything that is not a render of a record. */
  private def parse(text: String): IndexControl = {
    val root = Json.readTree(text)
    require(root.isObject, "not a JSON object")
    val ps = root.path("params")
    require(ps.isObject, "no params object")
    val params = ps.properties().asScala.map { e =>
      val v = e.getValue
      require(v.isIntegralNumber && v.canConvertToLong,
        s"param ${e.getKey} is not a long: $v")
      e.getKey -> v.longValue
    }.toMap
    def array(n: JsonNode, what: String): Seq[JsonNode] = {
      require(n.isArray, s"$what is not an array")
      n.elements().asScala.toSeq
    }
    def string(key: String): Option[String] = Option(root.get(key)).map { n =>
      require(n.isTextual, s"$key is not a string"); n.textValue
    }
    IndexControl(params,
      Option(root.get("centroids")).map(array(_, "centroids")
        .map(array(_, "a centroid").map(double))),
      string("pq_spec"), string("opq_spec"))
  }

  private def double(n: JsonNode): Double =
    if (n.isNumber) n.doubleValue
    else n.asText match {
      case "NaN" => Double.NaN
      case "Infinity" => Double.PositiveInfinity
      case "-Infinity" => Double.NegativeInfinity
      case _ => throw new IllegalArgumentException(s"not a double: $n")
    }
}
