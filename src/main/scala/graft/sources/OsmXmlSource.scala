package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.fs.{FileStatus, Path => HPath}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Encoders, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader,
  PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.util.SerializableConfiguration

/** DataSourceV2 TableProvider for OSM XML — the one ingest path
  * ([[OsmSource.elements]] is a typed read of it):
  *
  * {{{
  *   spark.read.format("graft.sources.OsmXmlSource")
  *     .option("splitBytes", "67108864")     // default: worked out from the input
  *     .option("cleanStreets", "true")       // street normalization at ingest
  *     .option("includeRelations", "false")  // reference drop rule by default
  *     .load("/data/planet.xml")             // file, directory, or glob
  * }}}
  *
  * Split planning is DRIVER-side metadata only (file listing + byte
  * ranges); each InputPartition aligns itself to element boundaries
  * executor-side via [[OsmSource.RangeStream]] — a monolithic planet.xml
  * parallelizes across the cluster on first touch, and many files fan
  * out file×range wide. Without `splitBytes` the range size follows
  * Spark's file-source rule, `min(spark.sql.files.maxPartitionBytes,
  * max(spark.sql.files.openCostInBytes, totalBytes /
  * defaultParallelism))`, so an input a few times the open cost still
  * spreads over every core, while a small one stays one task. A task
  * streams its range, so a range's size bounds its time, not its
  * memory. Schema is the fixed [[OsmSource.OsmElement]] shape.
  *
  * TOP-LEVEL column pruning IS implemented
  * (SupportsPushDownRequiredColumns): XML parse cost is unavoidable —
  * every byte is scanned regardless — but the parser builds only the
  * projected columns, so a `select(id, amenity)` over a planet-scale
  * scan makes 2 fields per element instead of 14 and never assembles
  * tags, node refs or timestamps. The StAX pass writes each
  * `InternalRow` itself ([[OsmSource.parseRows]]), so no encoder
  * serializer is built per task and no row is copied; the values equal
  * the `OsmElement` encoder's (OsmSourceSpec pins it). Nested pruning
  * is left to Catalyst's Project above the scan — the pruned read
  * schema keeps each requested top-level field's full type.
  * Filter pushdown stays unimplemented: there is no sub-file statistic
  * to skip by; filtering happens one hop later at the parquet landing
  * table.
  */
class OsmXmlSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    OsmXmlSource.schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new OsmXmlTable(new CaseInsensitiveStringMap(properties))
}

object OsmXmlSource {
  val schema: StructType = Encoders.product[OsmSource.OsmElement].schema
}

private[sources] class OsmXmlTable(options: CaseInsensitiveStringMap)
    extends Table with SupportsRead {
  override def name(): String = s"osmxml(${options.get("path")})"
  override def schema(): StructType = OsmXmlSource.schema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ).asJava

  override def newScanBuilder(caseInsensitiveOptions: CaseInsensitiveStringMap): ScanBuilder = {
    // getTable properties include the load() path; prefer the runtime map
    val merged = new util.HashMap[String, String](options.asCaseSensitiveMap())
    merged.putAll(caseInsensitiveOptions.asCaseSensitiveMap())
    new OsmScanBuilder(new CaseInsensitiveStringMap(merged))
  }
}

private[sources] class OsmScanBuilder(options: CaseInsensitiveStringMap)
    extends ScanBuilder with SupportsPushDownRequiredColumns with Scan with Batch {

  /** load(p) arrives as `path`; load(p1, p2, …) arrives as `paths`, a
    * JSON-encoded string array. */
  private val paths: Seq[String] =
    Option(options.get("path")).map(Seq(_))
      .orElse(Option(options.get("paths")).map(json =>
        new ObjectMapper().readValue(json, classOf[Array[String]]).toSeq))
      .filter(_.nonEmpty)
      .getOrElse(throw new IllegalArgumentException("osmxml: path is required"))
  private val splitBytesOption = Option(options.get("splitBytes")).map(_.toLong)
  splitBytesOption.foreach(b => require(b > 0, s"osmxml: splitBytes must be positive: $b"))
  private val cleanStreets = Option(options.get("cleanStreets")).forall(_.toBoolean)
  private val includeRelations = Option(options.get("includeRelations")).exists(_.toBoolean)

  /** Top-level fields Catalyst asked for, in full-schema order (full
    * nested types kept — nested pruning is Catalyst's Project above). */
  private var requiredFields: Array[String] = OsmXmlSource.schema.fieldNames

  override def pruneColumns(requiredSchema: StructType): Unit = {
    val asked = requiredSchema.fieldNames.toSet
    requiredFields = OsmXmlSource.schema.fieldNames.filter(asked)
  }

  override def build(): Scan = this
  override def readSchema(): StructType =
    StructType(requiredFields.map(OsmXmlSource.schema(_)))
  override def toBatch: Batch = this
  override def description(): String =
    s"osmxml paths=${paths.mkString(",")} splitBytes=$splitBytes " +
      s"ReadSchema: ${requiredFields.mkString("[", ",", "]")}"

  private def spark = SparkSession.active

  /** The input files, listed once per scan on the driver. */
  private lazy val files: Array[FileStatus] = {
    val conf = spark.sparkContext.hadoopConfiguration
    paths.toArray.flatMap { path =>
      // getFileSystem off the Path — java.net.URI(path) throws on
      // paths needing escaping (spaces etc.)
      val hPath = new HPath(path)
      val fs = hPath.getFileSystem(conf)
      fs.globStatus(hPath) match {
        case null | Array() =>
          throw new java.io.FileNotFoundException(s"osmxml: path does not exist: $path")
        case arr => arr.flatMap { st =>
          if (st.isDirectory) fs.listStatus(st.getPath).filter(_.isFile) else Array(st)
        }
      }
    }
  }

  private lazy val splitBytes: Long = splitBytesOption.getOrElse {
    val sql = SQLConf.get
    // rounded up, so a file of totalBytes splits into exactly
    // defaultParallelism ranges rather than gaining a few-byte sliver
    val cores = spark.sparkContext.defaultParallelism
    val perCore = (files.map(_.getLen).sum + cores - 1) / cores
    math.max(1L, math.min(sql.filesMaxPartitionBytes, math.max(sql.filesOpenCostInBytes, perCore)))
  }

  override def planInputPartitions(): Array[InputPartition] =
    files.flatMap { st =>
      val len = st.getLen
      (0L until len by splitBytes).map { s =>
        OsmRangePartition(st.getPath.toString, s, math.min(s + splitBytes, len)): InputPartition
      }
    }

  /** The session's Hadoop settings (credentials, fs impls) reach the
    * executor-side file opens through one broadcast per scan, as in
    * Spark's own file scans. */
  override def createReaderFactory(): PartitionReaderFactory = {
    val sc = spark.sparkContext
    new OsmReaderFactory(requiredFields, cleanStreets, includeRelations,
      sc.broadcast(new SerializableConfiguration(sc.hadoopConfiguration)))
  }
}

private[sources] case class OsmRangePartition(path: String, start: Long, end: Long)
    extends InputPartition

private[sources] class OsmReaderFactory(requiredFields: Array[String],
                                        cleanStreets: Boolean,
                                        includeRelations: Boolean,
                                        conf: Broadcast[SerializableConfiguration])
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[OsmRangePartition]
    val in = OsmSource.openRange(p.path, p.start, p.end, conf.value.value)
    val rows =
      try OsmSource.parseRows(in, requiredFields, cleanStreets, includeRelations)
      catch { case t: Throwable => in.close(); throw t }
    new PartitionReader[InternalRow] {
      private var current: InternalRow = _
      override def next(): Boolean = rows.hasNext && { current = rows.next(); true }
      override def get(): InternalRow = current
      override def close(): Unit = in.close()
    }
  }
}
