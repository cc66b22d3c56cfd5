package graft.core

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.graftbridge.{Bridge => ExpressionUtils}
import org.apache.spark.sql.types.{BooleanType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** UTF8String-facing shims so generated code calls straight into the
  * kernels without per-row closure dispatch (whole-stage codegen keeps
  * these calls inline in the produced Java). */
object UrlCodegen {
  def normalizeUrl(u: UTF8String): UTF8String =
    UTF8String.fromString(UrlKernels.normalizeUrl(u.toString))
  def canonicalHost(u: UTF8String): UTF8String = {
    val r = UrlKernels.canonicalHost(u.toString)
    if (r == null) null else UTF8String.fromString(r)
  }
  def isValidUrl(u: UTF8String): Boolean = UrlKernels.isValidUrl(u.toString)
  def checkIsArticle(u: UTF8String): Boolean =
    UrlKernels.checkIsArticle(u.toString)
}

/** `normalize_url(url)` — the frontier dedup key (url_utils.py:9-56).
  * Native expression (not a UDF) so it participates in whole-stage
  * codegen and constant folding. */
case class NormalizeUrl(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def nullSafeEval(v: Any): Any =
    UrlCodegen.normalizeUrl(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.core.UrlCodegen$$.MODULE$$.normalizeUrl($c)")
  override protected def withNewChildInternal(c: Expression): NormalizeUrl = copy(c)
}

/** `canonical_host(url_or_host)` — the bucket key (discovery.py:436-457).
  * Null-producing: empty hosts normalize to NULL as in the reference. */
case class CanonicalHost(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) null else UrlCodegen.canonicalHost(v.asInstanceOf[UTF8String])
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.core.UrlCodegen$$.MODULE$$.canonicalHost($c);
      ${ev.isNull} = ${ev.value} == null;
    """)
  override protected def withNewChildInternal(c: Expression): CanonicalHost = copy(c)
}

/** `is_valid_url(url)` — scheme∈{http,https} ∧ netloc nonempty
  * (crawler/__init__.py:185-194). */
case class IsValidUrl(child: Expression) extends UnaryExpression {
  override def dataType: DataType = BooleanType
  override def nullSafeEval(v: Any): Any =
    UrlCodegen.isValidUrl(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.core.UrlCodegen$$.MODULE$$.isValidUrl($c)")
  override protected def withNewChildInternal(c: Expression): IsValidUrl = copy(c)
}

/** `check_is_article(url)` — conservative positive classifier
  * (url_filters.py:6-80, deterministic subset). */
case class CheckIsArticle(child: Expression) extends UnaryExpression {
  override def dataType: DataType = BooleanType
  override def nullSafeEval(v: Any): Any =
    UrlCodegen.checkIsArticle(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.core.UrlCodegen$$.MODULE$$.checkIsArticle($c)")
  override protected def withNewChildInternal(c: Expression): CheckIsArticle = copy(c)
}

/** Column-level API for the crawl kernels, mirroring
  * org.apache.spark.sql.functions style. */
object functions {
  import org.apache.spark.sql.functions._

  def normalize_url(c: Column): Column =
    ExpressionUtils.column(NormalizeUrl(ExpressionUtils.expression(c)))
  def canonical_host(c: Column): Column =
    ExpressionUtils.column(CanonicalHost(ExpressionUtils.expression(c)))
  def is_valid_url(c: Column): Column =
    ExpressionUtils.column(IsValidUrl(ExpressionUtils.expression(c)))
  def check_is_article(c: Column): Column =
    ExpressionUtils.column(CheckIsArticle(ExpressionUtils.expression(c)))

  /** JVM-side mirror of `pmod(xxhash64(host), nBuckets)` — bit-identical
    * to the Catalyst expression; used to pre-compute the wave's touched
    * buckets from the (host-cardinality) due set for scan pruning. */
  def hostBucketJvm(host: String, nBuckets: Int): Int = {
    import org.apache.spark.sql.catalyst.expressions.XxHash64Function
    val h = XxHash64Function.hash(UTF8String.fromString(host), StringType, 42L)
    java.lang.Math.floorMod(h, nBuckets.toLong).toInt
  }

  /** Skip-pattern predicate (F4): true ⇔ url passes the substring
    * blacklist. Pure built-ins → codegen'd. */
  def passes_skip_patterns(url: Column): Column = {
    val lower = org.apache.spark.sql.functions.lower(url)
    UrlKernels.SkipPatterns
      .map(p => !lower.contains(lit(p)))
      .reduce(_ && _)
  }

  /** Non-article regex classifier (F5) on the path component. */
  def is_likely_article_path(path: Column): Column =
    !org.apache.spark.sql.functions.lower(path).rlike(UrlKernels.NonArticlePathRegex)

  /** parse_frequency_to_days as a when-chain (C3, scheduling.py:30-62). */
  def frequency_days(freq: Column): Column = {
    val f = org.apache.spark.sql.functions.lower(freq)
    when(freq.isNull, lit(7.0))
      .when(f.contains("daily") || f === "day", lit(0.25))
      .when(f.contains("broadcast"), lit(0.25))
      .when(f.contains("bi-week") || f.contains("biweekly") || f.contains("every 2"), lit(14.0))
      .when(f.contains("tri-week") || f.contains("triweekly"), lit(7.0))
      .when(f.contains("weekly") || f.contains("week"), lit(7.0))
      .when(f.contains("monthly") || f.contains("month"), lit(30.0))
      .when(f.contains("hour"), lit(1.0))
      .otherwise(lit(7.0))
  }

  /** Deterministic cross-host mixing key replacing ORDER BY RANDOM()
    * (extraction.py:888): seeded hash order, reproducible across engines
    * and partitionings. md5-hex form — kept for the SQL-expressible
    * oracle queries (DuckDB has md5); the engine's ranking uses the
    * 64-bit `mix` column of `CrawlEngine.rankPerHost`. */
  def mix_key(seed: Long, c: Column): Column =
    md5(concat_ws("|", lit(seed.toString), c.cast("string")))

  /** JVM-side mirror of `CrawlEngine.rankPerHost`'s `mix` column,
    * `xxhash64(seed, s)`, for the single-threaded oracle — bit-identical
    * to the Catalyst expression. Spark's xxhash64 chains children from
    * seed 42: hash(str, hash(seedLong, 42)). */
  def mixKey64(seed: Long, s: String): Long = {
    import org.apache.spark.sql.catalyst.expressions.XxHash64Function
    import org.apache.spark.sql.types.LongType
    val h1 = XxHash64Function.hash(seed, LongType, 42L)
    XxHash64Function.hash(UTF8String.fromString(s), StringType, h1)
  }
}
