package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{And, Cast, Expression, ExpressionInfo,
  GreaterThanOrEqual, LessThanOrEqual, Literal}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.DoubleType

/** Optimizer rule: point-in-polygon over an AXIS-ALIGNED box becomes a
  * conjunction of range comparisons (SURVEY §4.3 — "the one worthwhile
  * custom rule"). The payoff is structural, not micro: comparisons on
  * plain attributes are scan-pushable (`PushedFilters` + parquet
  * row-group min/max pruning + partition pruning), while an opaque
  * predicate — UDF or custom expression alike — forces a full scan.
  * At 100 TB that's the difference between reading one region's row
  * groups and reading everything.
  *
  * Exactly semantics-preserving: [[PointInPolygonExpr]] itself
  * evaluates closed-interval containment when its ring is a box, which
  * is precisely the predicate emitted here.
  */
object BoxPipRewrite extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    // Filter context ONLY: there `false` and `null` both drop the row,
    // so the three-valued AND the ranges produce on a null coordinate
    // is equivalent to the null-intolerant original. In a projection
    // the rewrite would turn null into false — so it doesn't fire
    // there. Children must be deterministic: the rewrite references
    // each coordinate twice.
    case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
      f.transformExpressions {
        case p @ PointInPolygonExpr(lon, lat, _, _)
            if p.boxBounds.isDefined && lon.deterministic && lat.deterministic =>
          val (x0, x1, y0, y1) = p.boxBounds.get
          And(
            And(GreaterThanOrEqual(lon, Literal(x0, DoubleType)),
              LessThanOrEqual(lon, Literal(x1, DoubleType))),
            And(GreaterThanOrEqual(lat, Literal(y0, DoubleType)),
              LessThanOrEqual(lat, Literal(y1, DoubleType))))
      }
  }
}

/** Session extensions installer: `spark.sql.extensions =
  * graft.plans.GraftExtensions` (GraftSession sets it). Injects the
  * box-PIP optimizer rule and registers `graft_pip` as a SQL-callable
  * function: `graft_pip(lon, lat, x0, y0, x1, y1, ...)` with the ring
  * as literal (lon, lat) pairs — so the same native expression (and
  * the same rewrite) is reachable from pure SQL, not just the Scala
  * DSL.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(_ => BoxPipRewrite)
    ext.injectOptimizerRule(_ => SnapshotPruning)
    ext.injectFunction(GraftExtensions.pipDescriptor)
    ext.injectFunction(GraftExtensions.haversineDescriptor)
    ext.injectFunction(GraftExtensions.cosineDescriptor)
    ext.injectFunction(GraftExtensions.hyperplaneSigDescriptor)
    ext.injectFunction(GraftExtensions.shinglesDescriptor)
    ext.injectFunction(GraftExtensions.langidDescriptor)
    ext.injectFunction(GraftExtensions.gopherStatsDescriptor)
    ext.injectFunction(GraftExtensions.repetitionStatsDescriptor)
    ext.injectFunction(GraftExtensions.nfcDescriptor)
    ext.injectFunction(GraftExtensions.idHashDescriptor)
    ext.injectFunction(GraftExtensions.bpeEncodeDescriptor)
    ext.injectFunction(GraftExtensions.qualityScoreDescriptor)
    ext.injectFunction(GraftExtensions.cmsEstimateDescriptor)
    ext.injectFunction(GraftExtensions.canonicalUrlDescriptor)
    ext.injectFunction(GraftExtensions.pqEncodeDescriptor)
    ext.injectFunction(GraftExtensions.pqDecodeDescriptor)
    // materialized-aggregate query rewrite (no-op while nothing is
    // registered — MatAggRewrite scaladoc)
    ext.injectOptimizerRule(s => new MatAggRewrite(s))
  }
}

object GraftExtensions {

  private def litDouble(e: Expression, what: String): Double = e match {
    case Literal(v: Double, DoubleType) => v
    case Literal(v: java.math.BigDecimal, _) => v.doubleValue()
    case other if other.foldable =>
      other.eval() match {
        case d: Double => d
        case d: org.apache.spark.sql.types.Decimal => d.toDouble
        case d: java.math.BigDecimal => d.doubleValue()
        case f: Float => f.toDouble
        case i: Int => i.toDouble
        case l: Long => l.toDouble
        case v => throw new IllegalArgumentException(s"$what: non-numeric literal $v")
      }
    case other =>
      throw new IllegalArgumentException(s"$what must be a literal, got $other")
  }

  /** `graft_haversine(lat1, lon1, lat2, lon2)` → meters. The built-in
    * trig composition from GeoFunctions, exposed to SQL by converting
    * the argument expressions through the Column bridge — one
    * definition of the formula, two call surfaces. */
  val haversineDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_haversine"),
    new ExpressionInfo(graft.functions.GeoFunctions.getClass.getName, "graft_haversine"),
    (args: Seq[Expression]) => {
      require(args.length == 4, "usage: graft_haversine(lat1, lon1, lat2, lon2)")
      import org.apache.spark.sql.graftbridge.ColumnBridge._
      val Seq(lat1, lon1, lat2, lon2) =
        args.map(a => column(Cast(a, DoubleType)))
      toCatalyst(graft.functions.GeoFunctions.haversineMeters(lat1, lon1, lat2, lon2))
    })

  /** `graft_cosine(vecA, vecB)` → double: the native fused-loop cosine
    * ([[CosineSimilarityExpr]]) from SQL. */
  val cosineDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_cosine"),
    new ExpressionInfo(classOf[CosineSimilarityExpr].getName, "graft_cosine"),
    (args: Seq[Expression]) => {
      require(args.length == 2, "usage: graft_cosine(vec_a, vec_b)")
      CosineSimilarityExpr(args(0), args(1))
    })

  /** `graft_hyperplane_sig(vec, bits, dim[, seed])` → long: the native
    * LSH signature ([[HyperplaneSignatureExpr]]) from SQL — bits/dim/
    * seed must be literals (they parameterize the generated loop). */
  val hyperplaneSigDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_hyperplane_sig"),
    new ExpressionInfo(classOf[HyperplaneSignatureExpr].getName, "graft_hyperplane_sig"),
    (args: Seq[Expression]) => {
      require(args.length == 3 || args.length == 4,
        "usage: graft_hyperplane_sig(vec, bits, dim[, seed])")
      def litInt(e: Expression, what: String): Int = litDouble(e, what).toInt
      HyperplaneSignatureExpr(args(0), litInt(args(1), "bits"), litInt(args(2), "dim"),
        if (args.length == 4) litDouble(args(3), "seed").toLong else 42L)
    })

  /** `graft_shingles(text, k)` → array<string>: the native distinct
    * word-k-shingle expression ([[ShinglesExpr]]) from SQL. */
  val shinglesDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_shingles"),
    new ExpressionInfo(classOf[ShinglesExpr].getName, "graft_shingles"),
    (args: Seq[Expression]) => {
      require(args.length == 2, "usage: graft_shingles(text, k)")
      ShinglesExpr(args(0), litDouble(args(1), "k").toInt)
    })

  /** `graft_langid(text)` → string: stopword-overlap language ID
    * ([[LanguageIdExpr]]); null maps to 'und' exactly like the Scala
    * surface (TextFunctions.languageId's coalesce). */
  val langidDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_langid"),
    new ExpressionInfo(classOf[LanguageIdExpr].getName, "graft_langid"),
    (args: Seq[Expression]) => {
      require(args.length == 1, "usage: graft_langid(text)")
      LanguageIdExpr(
        org.apache.spark.sql.catalyst.expressions.Coalesce(Seq(args(0),
          Literal.create("", org.apache.spark.sql.types.StringType))),
        graft.functions.TextFunctions.stopwords.view.mapValues(_.toSeq).toMap)
    })

  /** `graft_nfc(text)` → Unicode-NFC-composed text
    * ([[NfcNormalizeExpr]]). */
  val nfcDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_nfc"),
    new ExpressionInfo(classOf[NfcNormalizeExpr].getName, "graft_nfc"),
    (args: Seq[Expression]) => {
      require(args.length == 1, "usage: graft_nfc(text)")
      NfcNormalizeExpr(args(0))
    })

  /** `graft_gopher_stats(text)` → struct of the Gopher quality flags
    * ([[GopherStatsExpr]], English stopword list). */
  val gopherStatsDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_gopher_stats"),
    new ExpressionInfo(classOf[GopherStatsExpr].getName, "graft_gopher_stats"),
    (args: Seq[Expression]) => {
      require(args.length == 1, "usage: graft_gopher_stats(text)")
      GopherStatsExpr(args(0), graft.functions.TextFunctions.stopwords("en"))
    })

  /** `graft_repetition_stats(text[, topN, dupN])` → struct of the four
    * repetition gauges ([[RepetitionStatsExpr]]; defaults 2, 3). */
  val repetitionStatsDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_repetition_stats"),
    new ExpressionInfo(classOf[RepetitionStatsExpr].getName, "graft_repetition_stats"),
    (args: Seq[Expression]) => {
      require(args.length == 1 || args.length == 3,
        "usage: graft_repetition_stats(text[, topN, dupN])")
      val (tn, dn) =
        if (args.length == 3)
          (litDouble(args(1), "topN").toInt, litDouble(args(2), "dupN").toInt)
        else (2, 3)
      RepetitionStatsExpr(args(0), tn, dn)
    })

  /** `graft_canonical_url(url)` → string: the URL-dedup canonical form
    * ([[UrlCanon]] scaladoc) from SQL. Null propagates. */
  val canonicalUrlDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_canonical_url"),
    new ExpressionInfo(classOf[UrlCanonExpr].getName, "graft_canonical_url"),
    (args: Seq[Expression]) => {
      require(args.length == 1, "usage: graft_canonical_url(url)")
      UrlCanonExpr(args.head)
    })

  /** `graft_cms_estimate(sketch, item)` → bigint: count-min frequency
    * estimate of one item off a serialized CMS
    * ([[graft.operators.CountMinTable]]) — one-sided (never under the
    * true count); null/empty sketch estimates 0. The scalar runs over
    * few-KB sketch rows — sketch-table cardinality, not data-path
    * cardinality — so the UDF bridge is the right cost class here. */
  val cmsEstimateDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_cms_estimate"),
    new ExpressionInfo(graft.operators.CountMinTable.getClass.getName, "graft_cms_estimate"),
    (args: Seq[Expression]) => {
      require(args.length == 2, "usage: graft_cms_estimate(sketch, item)")
      import org.apache.spark.sql.graftbridge.ColumnBridge._
      toCatalyst(graft.operators.CountMinTable.estimateUdf(column(args(0)), column(args(1))))
    })

  /** `graft_id_hash(id, seed)` → the deterministic sampling hash every
    * split/sample/mix gate decides on ([[graft.operators.Sampling
    * .idHash]]) — from SQL, so a pure-SQL session can reproduce any
    * gate ("which split is doc 123 in?", "would this row survive the
    * 0.3 sample?") without the Scala surface. Seed must be a literal
    * (it's mixed driver-side into the column constants). */
  val idHashDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_id_hash"),
    new ExpressionInfo(graft.operators.Sampling.getClass.getName, "graft_id_hash"),
    (args: Seq[Expression]) => {
      require(args.length == 2, "usage: graft_id_hash(id, seed)")
      // exact integral extraction — routing through a Double would
      // silently round seeds past 2^53 and truncate fractions, making
      // the SQL gate disagree with the Scala gate it must reproduce
      val seed = args(1) match {
        case Literal(l: Long, org.apache.spark.sql.types.LongType) => l
        case Literal(i: Int, org.apache.spark.sql.types.IntegerType) => i.toLong
        case other if other.foldable => other.eval() match {
          case l: Long => l
          case i: Int => i.toLong
          case s: Short => s.toLong
          case b: Byte => b.toLong
          case v => throw new IllegalArgumentException(
            s"seed must be an integral literal, got $v")
        }
        case other => throw new IllegalArgumentException(
          s"seed must be a literal, got $other")
      }
      import org.apache.spark.sql.graftbridge.ColumnBridge._
      toCatalyst(graft.operators.Sampling.idHash(
        column(Cast(args(0), org.apache.spark.sql.types.LongType)), seed))
    })

  /** `graft_bpe_encode(text, merges)` → array<string> BPE tokens from
    * SQL, with the trained merge list as a LITERAL spec string — the
    * space-separated symbol list `graft.operators.Bpe.mergesSpec`
    * prints — so a merge list trained in Scala serves SQL-only
    * consumers as a pasted literal. Null text folds to '' (empty
    * array) exactly like the Column form, via the same Coalesce wrap
    * `graft_langid` uses. */
  val bpeEncodeDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_bpe_encode"),
    new ExpressionInfo(classOf[BpeEncodeExpr].getName, "graft_bpe_encode"),
    (args: Seq[Expression]) => {
      require(args.length == 2, "usage: graft_bpe_encode(text, 'l1 r1 l2 r2 ...')")
      val spec = args(1) match {
        case other if other.foldable && other.dataType ==
            org.apache.spark.sql.types.StringType =>
          val v = other.eval()
          if (v == null) throw new IllegalArgumentException(
            "merge spec must be a non-null string literal")
          v.toString
        case other =>
          throw new IllegalArgumentException(
            s"merge spec must be a string literal, got $other")
      }
      BpeEncodeExpr(
        org.apache.spark.sql.catalyst.expressions.Coalesce(Seq(args(0),
          Literal.create("", org.apache.spark.sql.types.StringType))),
        graft.operators.Bpe.parseMergesSpec(spec))
    })

  /** `graft_quality_score(text, 'seed ngrams bias w1 … wd')` → double
    * P(label=1) under a trained linear quality model, from SQL — the
    * literal-spec pattern of `graft_bpe_encode`: the spec is
    * [[graft.operators.QualityClassifier.Model.spec]]'s whitespace
    * -separated print, so a classifier trained in Scala filters a
    * pure-SQL session bit-identically (Double.toString round-trips).
    * Null text folds to '' and scores the class prior, exactly like
    * the Column form. */
  val qualityScoreDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_quality_score"),
    new ExpressionInfo(classOf[LinearScoreExpr].getName, "graft_quality_score"),
    (args: Seq[Expression]) => {
      require(args.length == 2,
        "usage: graft_quality_score(text, 'seed ngrams bias w1 ...')")
      val spec = args(1) match {
        case other if other.foldable && other.dataType ==
            org.apache.spark.sql.types.StringType =>
          val v = other.eval()
          if (v == null) throw new IllegalArgumentException(
            "model spec must be a non-null string literal")
          v.toString
        case other =>
          throw new IllegalArgumentException(
            s"model spec must be a string literal, got $other")
      }
      val m = graft.operators.QualityClassifier.parseModelSpec(spec)
      LinearScoreExpr(
        org.apache.spark.sql.catalyst.expressions.Coalesce(Seq(args(0),
          Literal.create("", org.apache.spark.sql.types.StringType))),
        m.bias, m.weights, m.seed, m.ngrams)
    })

  private def literalSpec(e: Expression, what: String): String = e match {
    case other if other.foldable && other.dataType ==
        org.apache.spark.sql.types.StringType =>
      val v = other.eval()
      if (v == null) throw new IllegalArgumentException(
        s"$what must be a non-null string literal")
      v.toString
    case other =>
      throw new IllegalArgumentException(
        s"$what must be a string literal, got $other")
  }

  /** `graft_pq_encode(vec, '<Pq.spec string>')` → binary m-byte PQ
    * code and `graft_pq_decode(code, '<Pq.spec string>')` → the
    * reconstruction, from SQL — the literal-spec pattern of
    * `graft_bpe_encode`: codebooks trained in Scala and published
    * through the model registry serve SQL-only consumers as a pasted
    * spec (exact `Double.toString` round-trip). A SQL session can
    * therefore compress, rank (via `graft_cosine` against the decoded
    * reconstruction — the ADC quantity), and audit PQ codes with no
    * Scala on the path. */
  val pqEncodeDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_pq_encode"),
    new ExpressionInfo(classOf[PqEncodeExpr].getName, "graft_pq_encode"),
    (args: Seq[Expression]) => {
      require(args.length == 2, "usage: graft_pq_encode(vec, '<pq spec>')")
      PqEncodeExpr(args(0),
        graft.operators.Pq.fromSpec(literalSpec(args(1), "pq codebook spec")).books)
    })

  val pqDecodeDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_pq_decode"),
    new ExpressionInfo(classOf[PqDecodeExpr].getName, "graft_pq_decode"),
    (args: Seq[Expression]) => {
      require(args.length == 2, "usage: graft_pq_decode(code, '<pq spec>')")
      PqDecodeExpr(args(0),
        graft.operators.Pq.fromSpec(literalSpec(args(1), "pq codebook spec")).books)
    })

  val pipDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_pip"),
    new ExpressionInfo(classOf[PointInPolygonExpr].getName, "graft_pip"),
    (args: Seq[Expression]) => {
      require(args.length >= 10 && args.length % 2 == 0,
        "usage: graft_pip(lon, lat, x0, y0, x1, y1, ... closed ring of >= 4 points)")
      val ring = args.drop(2).grouped(2).toIndexedSeq
      PointInPolygonExpr(
        Cast(args(0), DoubleType), Cast(args(1), DoubleType),
        ring.map(p => litDouble(p(0), "ring lon")),
        ring.map(p => litDouble(p(1), "ring lat")))
    })
}
