package graft.plans

import java.util.regex.Pattern

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{CollationFactory, CollationSupport}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{DataType, StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** The reference's six address repairs (readme.md:42-103) as ONE
  * native expression over the `address` struct: it reads the struct
  * once, applies the rules in the reference order, and writes one
  * struct. Six chained `withField` rewrites nest six `UpdateFields`
  * and re-derive every field from the layer below, ~300 expression
  * nodes that the analyzer, the optimizer and the write planner walk
  * on every call; this node keeps the plan one `Project` of a few
  * dozen.
  *
  * Each rule runs on `UTF8String` through the same routines Spark's
  * built-ins call — `java.util.regex` `find` for `rlike` /
  * `regexp_extract` / `regexp_replace`, and `CollationSupport`'s
  * `upper` / `initcap` under the session's ICU case-mapping flag — so a
  * value the rule touches comes out byte-identical to the `Column`
  * form (RepairsSpec pins the equality on generated structs):
  *
  *  1. M3/F8 (readme.md:43-52,94-103) — a merged postcode
  *     "Spokane, WA 99218" splits into city/state/postcode; the city
  *     only changes when the pattern captures one.
  *  1. M2 (readme.md:53-64) — a bare state code in the postcode field
  *     moves to state ($set + $unset).
  *  1. M1 (readme.md:59-64) — the TIGER range '189872421:189872425'
  *     becomes its real ZIP, 99224.
  *  1. F7/M1 (readme.md:72-80) — lowercase state codes are uppercased.
  *  1. M1 (readme.md:81-92) — city: trailing ", ST" suffixes are
  *     stripped (all of them: one pass reaches what repeated passes
  *     would), then the Coeur d'Alene spellings unify and an
  *     all-lowercase start is initcapped.
  *  1. F4 (update_name, ProjectCodeUsed/data.py:110-118) — the last
  *     street token is mapped by `TextFunctions.updateName`, the
  *     ingest path's own body, unless the name
  *     already ends in one of its images ("Arthur St", "Street", ...):
  *     the mapping is not idempotent ("Arthur" → "Arthur St" →
  *     "Arthur Street"), and the reference stops at the first step.
  *
  * Every other field of the struct passes through untouched; a null
  * struct stays null.
  */
case class RepairAddressExpr(child: Expression) extends UnaryExpression with CodegenFallback {
  import RepairAddressExpr._

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case st: StructType
        if RepairedFields.forall(n => st.fields.exists(f => f.name == n && f.dataType == StringType)) =>
      TypeCheckResult.TypeCheckSuccess
    case other =>
      TypeCheckResult.TypeCheckFailure(s"$prettyName expects a struct with string fields " +
        s"${RepairedFields.mkString(", ")}, got ${other.simpleString}")
  }

  @transient private lazy val inType = child.dataType.asInstanceOf[StructType]

  override def dataType: DataType = StructType(inType.fields.map(f =>
    if (RepairedFields.contains(f.name)) f.copy(nullable = true) else f))
  override def prettyName: String = "graft_repair_address"

  @transient private lazy val fieldTypes = inType.fields.map(_.dataType)
  @transient private lazy val Seq(street, postcode, city, state) = RepairedFields.map(inType.fieldIndex)
  @transient private lazy val useICU = SQLConf.get.getConf(SQLConf.ICU_CASE_MAPPINGS_ENABLED)

  override protected def nullSafeEval(input: Any): Any = {
    val in = input.asInstanceOf[InternalRow]
    val out = new Array[Any](fieldTypes.length)
    var i = 0
    while (i < out.length) { out(i) = in.get(i, fieldTypes(i)); i += 1 }
    var pc = out(postcode).asInstanceOf[UTF8String]
    var ct = out(city).asInstanceOf[UTF8String]
    var st = out(state).asInstanceOf[UTF8String]

    if (pc != null) {
      val m = Merged.matcher(pc.toString)
      if (m.find()) { // groups 2 and 3 are mandatory, so never empty here
        if (m.group(1) != null) ct = UTF8String.fromString(m.group(1))
        st = UTF8String.fromString(m.group(2))
        pc = UTF8String.fromString(m.group(3))
      }
    }
    if (pc != null && finds(BareState, pc)) { st = pc; pc = null }
    if (Tiger == pc) pc = TigerZip
    if (st != null && finds(LowerState, st))
      st = CollationSupport.Upper.exec(st, Binary, useICU)
    if (ct != null) ct = repairCity(ct)
    val sn = out(street).asInstanceOf[UTF8String]
    if (sn != null && !finds(MappedEnding, sn))
      out(street) = UTF8String.fromString(graft.functions.TextFunctions.updateName(sn.toString))

    out(postcode) = pc
    out(city) = ct
    out(state) = st
    new GenericInternalRow(out)
  }

  private def repairCity(c: UTF8String): UTF8String = {
    var s = c
    while (finds(TrailingState, s))
      s = UTF8String.fromString(TrailingState.matcher(s.toString).replaceAll(""))
    if (finds(CoeurDAlene, s)) CoeurDAleneFixed
    else if (finds(LowerStart, s)) CollationSupport.InitCap.exec(s, Binary, useICU)
    else s
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object RepairAddressExpr {
  /** The fields the repairs read and write; all must be strings. */
  val RepairedFields: Seq[String] = Seq("street", "postcode", "city", "state")

  private val Binary = CollationFactory.UTF8_BINARY_COLLATION_ID
  private val Merged = Pattern.compile("(\\w+)?,? ?([A-Z][A-Z]) (\\d{5})")
  private val BareState = Pattern.compile("^[A-Z]{2}$")
  private val LowerState = Pattern.compile("^[a-z]{2}$")
  private val Tiger = UTF8String.fromString("189872421:189872425")
  private val TigerZip = UTF8String.fromString("99224")
  private val TrailingState = Pattern.compile(", [A-Z]{2}$")
  private val CoeurDAlene = Pattern.compile("^Coeur d[^']Alene$")
  private val CoeurDAleneFixed = UTF8String.fromString("Coeur d'Alene")
  private val LowerStart = Pattern.compile("^[a-z]")
  /** Whole-word endings equal to an image of the street mapping. */
  private val MappedEnding = Pattern.compile(
    graft.functions.TextFunctions.streetMapping.values.toSeq.distinct
      .map(_.replace(" ", "\\s+")).mkString("(^|\\s)(", "|", ")\\s*$"))

  /** `rlike`: an unanchored `find` over the whole string. */
  private def finds(p: Pattern, s: UTF8String): Boolean = p.matcher(s.toString).find(0)
}
