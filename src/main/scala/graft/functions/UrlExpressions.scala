package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.GraftShim.{column, expression}
import org.apache.spark.sql.types.{BooleanType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Custom Catalyst expressions for the URL algebra (SURVEY §2.2 O5/O6/O7).
  *
  * These generate code that calls the static [[UrlOps]] helpers — the call
  * stays inside whole-stage codegen (no UDF boxing, no serialization of a
  * closure per task), which is the preference order from the build notes:
  * native Expression > Scala UDF.
  */
object UrlExpressions {

  /** `canonicalize_url(url)` — north-rule canonical form; null for
    * invalid / non-http(s) input. */
  case class CanonicalizeUrl(child: Expression) extends UnaryExpression {
    override def dataType: DataType = StringType
    override def nullable: Boolean = true
    override def nullSafeEval(v: Any): Any = {
      val r = UrlOps.canonicalize(v.asInstanceOf[UTF8String].toString)
      if (r == null) null else UTF8String.fromString(r)
    }
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c => {
        val tmp = ctx.freshName("canon")
        s"""
           |String $tmp = graft.functions.UrlOps.canonicalize($c.toString());
           |if ($tmp == null) { ${ev.isNull} = true; }
           |else { ${ev.value} = org.apache.spark.unsafe.types.UTF8String.fromString($tmp); }
         """.stripMargin
      })
    override protected def withNewChildInternal(c: Expression): CanonicalizeUrl = copy(c)
  }

  /** `resolve_url(base, href)` — RFC 3986 strict resolution + canonical
    * form (the reference's AbsoluteURL, crawler.go:198, plus the
    * north-rule canonicalization in one pass). */
  case class ResolveUrl(left: Expression, right: Expression) extends BinaryExpression {
    override def dataType: DataType = StringType
    override def nullable: Boolean = true
    override def nullSafeEval(base: Any, href: Any): Any = {
      val r = UrlOps.resolveAndCanonicalize(
        base.asInstanceOf[UTF8String].toString, href.asInstanceOf[UTF8String].toString)
      if (r == null) null else UTF8String.fromString(r)
    }
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (b, h) => {
        val tmp = ctx.freshName("resolved")
        s"""
           |String $tmp = graft.functions.UrlOps.resolveAndCanonicalize($b.toString(), $h.toString());
           |if ($tmp == null) { ${ev.isNull} = true; }
           |else { ${ev.value} = org.apache.spark.unsafe.types.UTF8String.fromString($tmp); }
         """.stripMargin
      })
    override protected def withNewChildrenInternal(l: Expression, r: Expression): ResolveUrl =
      copy(left = l, right = r)
  }

  /** `is_media_url(url)` — substring media-extension predicate
    * (crawler.go:295-306, substring semantics kept faithfully). */
  case class IsMediaUrl(child: Expression) extends UnaryExpression {
    override def dataType: DataType = BooleanType
    override def nullSafeEval(v: Any): Any =
      UrlOps.isMediaUrl(v.asInstanceOf[UTF8String].toString)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = graft.functions.UrlOps.isMediaUrl($c.toString());")
    override protected def withNewChildInternal(c: Expression): IsMediaUrl = copy(c)
  }

  /** `url_host(url)` — lowercase host component (reference
    * `validURL.Hostname()`, crawler.go:60). */
  case class UrlHost(child: Expression) extends UnaryExpression {
    override def dataType: DataType = StringType
    override def nullable: Boolean = true
    override def nullSafeEval(v: Any): Any = {
      val p = UrlOps.parse(v.asInstanceOf[UTF8String].toString)
      val h = UrlOps.hostOf(p.authority)
      if (h == null || h.isEmpty) null else UTF8String.fromString(h)
    }
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c => {
        val tmp = ctx.freshName("host")
        s"""
           |String $tmp = graft.functions.UrlOps.hostOf(
           |  graft.functions.UrlOps.parse($c.toString()).authority());
           |if ($tmp == null || $tmp.isEmpty()) { ${ev.isNull} = true; }
           |else { ${ev.value} = org.apache.spark.unsafe.types.UTF8String.fromString($tmp); }
         """.stripMargin
      })
    override protected def withNewChildInternal(c: Expression): UrlHost = copy(c)
  }

  // Column-level API
  def canonicalize_url(c: Column): Column = column(CanonicalizeUrl(expression(c)))
  def resolve_url(base: Column, href: Column): Column =
    column(ResolveUrl(expression(base), expression(href)))
  def is_media_url(c: Column): Column = column(IsMediaUrl(expression(c)))
  def url_host(c: Column): Column = column(UrlHost(expression(c)))

  /** Register SQL-callable names on a session. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    reg.createOrReplaceTempFunction("canonicalize_url", es => CanonicalizeUrl(es.head), "built-in")
    reg.createOrReplaceTempFunction("resolve_url", es => ResolveUrl(es.head, es(1)), "built-in")
    reg.createOrReplaceTempFunction("is_media_url", es => IsMediaUrl(es.head), "built-in")
    reg.createOrReplaceTempFunction("url_host", es => UrlHost(es.head), "built-in")
  }
}
