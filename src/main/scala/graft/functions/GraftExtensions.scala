package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SparkSessionExtensions entry point: makes the engine's native
  * functions available in any session via configuration —
  *
  *   spark.sql.extensions=graft.functions.GraftExtensions
  *
  * or programmatically:
  *
  *   SparkSession.builder().withExtensions(new GraftExtensions)
  *
  * This is the library-grade registration path (survives session
  * cloning, visible in `SHOW FUNCTIONS`); the per-session
  * `VectorFunctions.register(spark)` remains for ad-hoc use.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("cosine_similarity"),
      new ExpressionInfo(classOf[CosineSimilarity].getName, "cosine_similarity"),
      (exprs: Seq[Expression]) => CosineSimilarity(exprs(0), exprs(1))))
    ext.injectFunction((
      FunctionIdentifier("dot_product"),
      new ExpressionInfo(classOf[DotProduct].getName, "dot_product"),
      (exprs: Seq[Expression]) => DotProduct(exprs(0), exprs(1))))
    ext.injectFunction((
      FunctionIdentifier("dot_product_i8"),
      new ExpressionInfo(classOf[DotProductI8].getName, "dot_product_i8"),
      (exprs: Seq[Expression]) => DotProductI8(exprs(0), exprs(1))))
    // rolling_hash(s) or rolling_hash(s, base, mod)
    ext.injectFunction((
      FunctionIdentifier("rolling_hash"),
      new ExpressionInfo(classOf[RollingHash].getName, "rolling_hash"),
      (exprs: Seq[Expression]) => exprs match {
        case Seq(c) => RollingHash(c, 131L, 1000000007L)
        case Seq(c, b, m) =>
          RollingHash(c, GraftExtensions.constLong(b, "base"),
            GraftExtensions.constLong(m, "mod"))
        case _ => throw new IllegalArgumentException(
          "rolling_hash(str[, base, mod])")
      }))
    ext.injectFunction((
      FunctionIdentifier("top_bigram_count"),
      new ExpressionInfo(classOf[TopBigramCount].getName, "top_bigram_count"),
      (exprs: Seq[Expression]) => TopBigramCount(exprs(0))))
    ext.injectFunction((
      FunctionIdentifier("term_counts"),
      new ExpressionInfo(classOf[TermCounts].getName, "term_counts"),
      (exprs: Seq[Expression]) => TermCounts(exprs(0))))
    ext.injectFunction((
      FunctionIdentifier("lang_id"),
      new ExpressionInfo(classOf[LangIdExpr].getName, "lang_id"),
      (exprs: Seq[Expression]) => LangIdExpr(exprs(0))))
    ext.injectFunction((
      FunctionIdentifier("quality_score"),
      new ExpressionInfo(classOf[QualityScoreExpr].getName, "quality_score"),
      (exprs: Seq[Expression]) => QualityScoreExpr(exprs(0))))
    ext.injectFunction((
      FunctionIdentifier("bigram_counts"),
      new ExpressionInfo(classOf[BigramCounts].getName, "bigram_counts"),
      (exprs: Seq[Expression]) => BigramCounts(exprs(0))))
    ext.injectFunction((
      FunctionIdentifier("hashed_ngram_buckets"),
      new ExpressionInfo(classOf[HashedNgramBuckets].getName, "hashed_ngram_buckets"),
      (exprs: Seq[Expression]) => HashedNgramBuckets(exprs(0),
        GraftExtensions.constLong(exprs(1), "num_buckets").toInt)))
    // Delta-style change-feed TVF over registered snapshot tables:
    //   SELECT * FROM table_changes('t', fromV[, toV])
    ext.injectTableFunction((
      FunctionIdentifier("table_changes"),
      new ExpressionInfo(graft.lake.TableFunctions.getClass.getName, "table_changes"),
      (exprs: Seq[Expression]) => graft.lake.TableFunctions.tableChanges(exprs)))
    // SQL-syntax time travel over registered snapshot tables:
    //   SELECT * FROM name VERSION AS OF 2 / TIMESTAMP AS OF '...'
    ext.injectResolutionRule(s => graft.lake.ResolveSnapshotRelation(s))
    // branch/tag ref DDL statements (ALTER TABLE t CREATE BRANCH ...)
    // — syntax Spark's grammar lacks; everything else delegates
    ext.injectParser((_, delegate) => new graft.lake.GraftSqlParser(delegate))
  }
}

object GraftExtensions {
  /** Scalar-parameter extraction for SQL registration: the parameter
    * position carries a foldable constant, not data. */
  private[functions] def constLong(e: Expression, what: String): Long = {
    require(e.foldable, s"$what must be a constant")
    e.eval() match {
      case n: java.lang.Number => n.longValue()
      case other => throw new IllegalArgumentException(
        s"$what must be an integer, got $other")
    }
  }
}
