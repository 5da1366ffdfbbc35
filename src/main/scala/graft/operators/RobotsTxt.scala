package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.GraftShim.{column, expression}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import java.util.regex.Pattern

/** robots.txt rules (RFC 9309): the parser and the engine's one robots
  * decision. Semantics follow what the reference effectively enforces —
  * colly → temoto/robotstxt (go.mod:22, active because IgnoreRobotsTxt
  * defaults false at pkg/crawler/crawler.go:76):
  *
  *  - `field: value` lines, case-insensitive field names, `#` comments;
  *  - groups = runs of consecutive `User-agent` lines + the rules after
  *    them; multiple groups for the same agent merge;
  *  - group selection: the group whose agent token is the LONGEST
  *    case-insensitive prefix of the crawler's product token wins;
  *    otherwise the `*` group; otherwise everything is allowed;
  *  - patterns: `*` matches any char sequence, trailing `$` anchors the
  *    end; an empty Disallow value means "no restriction" (dropped);
  *  - decision: among matching rules, the longest pattern (raw octet
  *    length) wins; equal lengths tie toward Allow; no match → allowed;
  *  - `Crawl-delay: N` (the de-facto extension colly surfaces) parses to
  *    ceil(N) and drives the per-host politeness budget.
  *
  * Prefix rows ([[graft.model.RobotsRule]]) enter as rules whose pattern
  * is `path_prefix` ([[Robots.groups]], [[Robots.txtRows]]). Consumption
  * paths:
  *  - [[parse]] / [[allowed]] — driver/oracle-side (also the golden twin
  *    in tests and the decision [[graft.oracle.CrawlOracle]] applies);
  *  - [[parse_robots_txt]] — a codegen Catalyst expression for
  *    DISTRIBUTED parsing of a (host, body) table: robots corpora at
  *    10^7 hosts parse where the data lives, and only the resulting
  *    rule rows move;
  *  - [[CompiledTxt]] / [[JoinedTxt]] — the two [[Robots.RobotsPolicy]]
  *    forms, one [[cutover]] between them for rule Seqs, rule tables and
  *    parsed bodies alike.
  */
object RobotsTxt {

  final case class TxtRule(pattern: String, allow: Boolean)
  final case class Group(rules: Seq[TxtRule], crawlDelay: Option[Int])

  /** Parse one robots.txt body for one crawler product token. */
  def parse(body: String, agent: String): Group = {
    final case class RawGroup(agents: Vector[String], rules: Vector[TxtRule],
        delay: Option[Int])
    var groups = Vector.empty[RawGroup]
    var cur: RawGroup = null
    var inAgentRun = false
    body.split("\r?\n").foreach { raw =>
      val line = raw.indexOf('#') match {
        case -1 => raw.trim
        case i => raw.substring(0, i).trim
      }
      val colon = line.indexOf(':')
      if (line.nonEmpty && colon > 0) {
        val key = line.substring(0, colon).trim.toLowerCase
        val value = line.substring(colon + 1).trim
        key match {
          case "user-agent" =>
            if (!inAgentRun) { // a new group starts
              if (cur != null) groups :+= cur
              cur = RawGroup(Vector(value.toLowerCase), Vector.empty, None)
            } else cur = cur.copy(agents = cur.agents :+ value.toLowerCase)
            inAgentRun = true
          case "allow" | "disallow" =>
            inAgentRun = false
            // rules before any User-agent line are ignored (RFC 9309 §2.1);
            // an empty Disallow means "no restriction" — dropped
            if (cur != null && value.nonEmpty)
              cur = cur.copy(rules = cur.rules :+ TxtRule(value, key == "allow"))
          case "crawl-delay" =>
            inAgentRun = false
            if (cur != null)
              try cur = cur.copy(delay = Some(math.ceil(value.toDouble).toInt))
              catch { case _: NumberFormatException => () }
          case _ => inAgentRun = false // unknown fields end an agent run
        }
      }
    }
    if (cur != null) groups :+= cur

    // group selection: longest agent token that prefixes ours; '*' fallback
    val a = agent.toLowerCase
    val best = groups.flatMap(g => g.agents.filter(t => t != "*" && a.startsWith(t)))
      .sortBy(-_.length).headOption
    val chosenAgent = best.getOrElse("*")
    val chosen = groups.filter(_.agents.contains(chosenAgent))
    if (chosen.isEmpty) Group(Seq.empty, None)
    else Group(chosen.flatMap(_.rules),
      chosen.flatMap(_.delay).reduceOption(math.max))
  }

  /** Wildcard-pattern match: `*` = any sequence, trailing `$` = anchor,
    * otherwise prefix semantics. */
  def matches(pattern: String, path: String): Boolean = {
    if (!isWild(pattern)) return path.startsWith(pattern) // the hot case
    patternCache.computeIfAbsent(pattern, compileRegex).matcher(path).find()
  }

  private val patternCache =
    new java.util.concurrent.ConcurrentHashMap[String, Pattern]()

  private def compileRegex(pattern: String): Pattern =
    Pattern.compile(toRegex(pattern))

  /** Java-regex translation shared by the driver matcher and the Catalyst
    * rlike column (Spark's rlike is Java regex with find() semantics, so
    * `^`-anchoring gives prefix matching). */
  def toRegex(pattern: String): String = {
    val (core, anchored) =
      if (pattern.endsWith("$")) (pattern.dropRight(1), true) else (pattern, false)
    val chunks = core.split("\\*", -1).map(c => if (c.isEmpty) "" else Pattern.quote(c))
    "^" + chunks.mkString(".*") + (if (anchored) "$" else "")
  }

  /** Longest-match decision (allow wins length ties); no match → allowed. */
  def allowed(group: Group, path: String): Boolean = {
    var bestLen = -1
    var bestAllow = true
    group.rules.foreach { r =>
      if (matches(r.pattern, path)) {
        val l = r.pattern.length
        if (l > bestLen || (l == bestLen && r.allow && !bestAllow)) {
          bestLen = l; bestAllow = r.allow
        }
      }
    }
    bestAllow
  }

  /** Compile parsed per-host groups into a Boolean Column over
    * (host, path) — rules sorted longest-first with allow before
    * disallow on ties, so the FIRST match is the decision. Wildcard-free
    * patterns stay `startswith` (codegen, no regex); wildcard patterns
    * become anchored rlike. Use below ~64 ruled hosts
    * ([[Robots.MaxCompileHosts]]). */
  def compileColumn(byHost: Map[String, Group], host: Column, path: Column): Column =
    byHost.foldLeft(lit(true)) { case (acc, (h, g)) =>
      val ordered = g.rules.sortBy(r => (-r.pattern.length, !r.allow))
      val decision = ordered.foldRight(lit(true)) { (r, els) =>
        when(matchColumn(r.pattern, path), lit(r.allow)).otherwise(els)
      }
      when(host === lit(h), decision).otherwise(acc)
    }

  private def isWild(pattern: String): Boolean =
    pattern.contains('*') || pattern.endsWith("$")

  private def matchColumn(pattern: String, path: Column): Column =
    if (!isWild(pattern)) startswith(path, lit(pattern))
    else if (!pattern.contains('*')) path === lit(pattern.dropRight(1))
    else path.rlike(toRegex(pattern))

  /** Crawl-delay budget column: max(1, hostBudget / max(1, crawl_delay));
    * hosts without a delay get hostBudget. */
  def budgetColumn(byHost: Map[String, Group], host: Column, hostBudget: Int): Column =
    byHost.foldLeft(lit(hostBudget)) { case (acc, (h, g)) =>
      g.crawlDelay match {
        case Some(d) =>
          when(host === lit(h), lit(math.max(1, hostBudget / math.max(1, d)))).otherwise(acc)
        case None => acc
      }
    }

  /** The compiled [[Robots.RobotsPolicy]] over per-host groups. */
  final case class CompiledTxt(byHost: Map[String, Group]) extends Robots.RobotsPolicy {
    def withAllowed(df: DataFrame, path: Column, out: String): DataFrame =
      df.withColumn(out, compileColumn(byHost, col("host"), path))
    def withBudget(df: DataFrame, hostBudget: Int, out: String): DataFrame =
      df.withColumn(out, budgetColumn(byHost, col("host"), hostBudget))
    def withDelay(df: DataFrame, out: String): DataFrame =
      df.withColumn(out,
        byHost.foldLeft(lit(1L)) { case (acc, (h, g)) =>
          g.crawlDelay match {
            case Some(d) => when(col("host") === lit(h),
              lit(math.max(1, d).toLong)).otherwise(acc)
            case None => acc
          }
        })
  }

  /** Join-path twin of [[CompiledTxt]] for rule sets past the compile
    * cutover: one packed row per host ([[packTxt]]) — rules sorted
    * (longest pattern first, allow before disallow on ties) so the FIRST
    * matching rule IS the RFC 9309 decision — joined on `host` alone.
    * Wildcard-free patterns probe via codegen `startswith`; wildcard /
    * anchored patterns carry their pre-translated regex (`rx`) and probe
    * via rlike. `hosts` (the packed row count; -1 = unknown/assume small)
    * picks the join: broadcast up to [[Robots.MaxBroadcastHosts]],
    * shuffle-hash on host above — no O(rules) broadcast at the 10^7
    * regime. */
  final case class JoinedTxt(packed: DataFrame, hosts: Long = -1L)
      extends Robots.RobotsPolicy {
    /** Hash map built from the per-partition slice of the PACKED side
      * above the cutover — O(rules/P) per task, never sorted, never
      * resident whole. */
    private def rulesJoin(df: DataFrame, packedCol: String): DataFrame = {
      val side = packed.select(col("host"), col(packedCol))
      if (hosts >= 0 && hosts > Robots.MaxBroadcastHosts)
        df.join(side.hint("shuffle_hash"), Seq("host"), "left_outer")
      else df.join(broadcast(side), Seq("host"), "left_outer")
    }
    def withAllowed(df: DataFrame, path: Column, out: String): DataFrame =
      rulesJoin(df, "__rules")
        .withColumn(out, coalesce(
          get(filter(col("__rules"), r =>
            when(r.getField("rx").isNotNull, rlike(path, r.getField("rx")))
              .otherwise(startswith(path, r.getField("pattern")))), lit(0))
            .getField("allow"),
          lit(true)))
        .drop("__rules")
    def withBudget(df: DataFrame, hostBudget: Int, out: String): DataFrame =
      rulesJoin(df, "__delay")
        .withColumn(out,
          when(col("__delay").isNull, lit(hostBudget))
            .otherwise(greatest(lit(1),
              floor(lit(hostBudget) / greatest(lit(1), col("__delay"))).cast("int"))))
        .drop("__delay")
    def withDelay(df: DataFrame, out: String): DataFrame =
      rulesJoin(df, "__delay")
        .withColumn(out, greatest(lit(1L), coalesce(col("__delay").cast("long"), lit(1L))))
        .drop("__delay")
    override def release(): Unit = { packed.unpersist(); () }
  }

  /** Pack exploded (host, pattern, allow, delay) rows — a null pattern is
    * a host with no rules — into the one-row-per-host layout [[JoinedTxt]]
    * consumes. `rx` is filled only for wildcard patterns, so a packed
    * prefix-rule row carries no regex. */
  def packTxt(rows: DataFrame): DataFrame = {
    val wild = col("pattern").contains("*") || col("pattern").endsWith("$")
    rows.groupBy(col("host")).agg(
      transform(
        sort_array(collect_list(when(col("pattern").isNotNull, struct(
          (-length(col("pattern"))).as("nl"),
          (!col("allow")).as("na"),
          col("pattern").as("pattern"),
          when(wild, robots_pattern_regex(col("pattern"))).as("rx"),
          col("allow").as("allow"))))),
        r => struct(r.getField("pattern").as("pattern"), r.getField("rx").as("rx"),
          r.getField("allow").as("allow"))
      ).as("__rules"),
      max(col("delay")).as("__delay"))
  }

  /** The one compile→join cutover, for rule Seqs, rule tables and parsed
    * bodies alike: up to [[Robots.MaxCompileHosts]] ruled hosts compile
    * to the `when`-chain, more pack into a persisted [[JoinedTxt]]. */
  private[operators] def cutover(nHosts: Long, byHost: => Map[String, Group],
      rows: => DataFrame): Robots.RobotsPolicy =
    if (nHosts <= Robots.MaxCompileHosts) CompiledTxt(byHost)
    else JoinedTxt(packTxt(rows).persist(), nHosts)

  /** [[cutover]] over exploded (host, pattern, allow, delay) rows: one
    * distinct-host count; only below the cutover do the rows reach the
    * driver. */
  private[operators] def policyFromRows(rows: DataFrame): Robots.RobotsPolicy =
    cutover(rows.select(col("host")).distinct().count(),
      rows.collect().groupBy(_.getString(0)).map { case (h, rs) =>
        val rules = rs.filterNot(_.isNullAt(1)).map(r => TxtRule(r.getString(1), r.getBoolean(2)))
        h -> Group(rules.toSeq, rs.filterNot(_.isNullAt(3)).map(_.getInt(3)).reduceOption(math.max))
      },
      rows)

  /** A (host, body) robots.txt corpus as exploded (host, pattern, allow,
    * delay) rows, each body parsed once where it lives. */
  def bodyRows(bodies: DataFrame, agent: String): DataFrame =
    bodies.select(col("host"), parse_robots_txt(col("body"), lit(agent)).as("p"))
      .select(col("host"), col("p").getField("crawl_delay").as("delay"),
        explode_outer(col("p").getField("rules")).as("r"))
      .select(col("host"), col("r").getField("pattern").as("pattern"),
        col("r").getField("allow").as("allow"), col("delay"))

  /** Size-adaptive policy straight from a (host, body) robots.txt corpus
    * — the CLI/production entry point (`--robots-txt`). Bodies parse
    * DISTRIBUTED; below the cutover the parsed groups collect into the
    * codegen'd compiled chain, above it only the packed per-host rows
    * ever move and the driver never holds a rule. */
  def policyFromTxt(bodies: DataFrame, agent: String): Robots.RobotsPolicy =
    policyFromRows(bodyRows(bodies, agent))

  // ---- distributed parse: a codegen Catalyst expression ------------------

  val parsedType: StructType = StructType(Seq(
    StructField("rules", ArrayType(StructType(Seq(
      StructField("pattern", StringType, nullable = false),
      StructField("allow", BooleanType, nullable = false))), containsNull = false)),
    StructField("crawl_delay", IntegerType, nullable = true)))

  /** Static evaluator the generated code calls. */
  def parseToInternal(body: UTF8String, agent: UTF8String): InternalRow = {
    val g = parse(body.toString, agent.toString)
    val rules = new GenericArrayData(g.rules.map(r =>
      InternalRow(UTF8String.fromString(r.pattern), r.allow)).toArray[Any])
    InternalRow(rules, g.crawlDelay.map(Int.box).orNull)
  }

  /** `parse_robots_txt(body, agent)` → struct(rules: array<struct<pattern,
    * allow>>, crawl_delay: int). Parsing runs where the robots corpus
    * lives — at 10^7 hosts only the packed rule rows ever move. */
  case class ParseRobotsTxt(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = parsedType
    override def nullable: Boolean = true
    override def nullSafeEval(body: Any, agent: Any): Any =
      parseToInternal(body.asInstanceOf[UTF8String], agent.asInstanceOf[UTF8String])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (b, a) =>
        s"${ev.value} = graft.operators.RobotsTxt.parseToInternal($b, $a);")
    override protected def withNewChildrenInternal(l: Expression, r: Expression): ParseRobotsTxt =
      copy(left = l, right = r)
  }

  def parse_robots_txt(body: Column, agent: Column): Column =
    column(ParseRobotsTxt(expression(body), expression(agent)))

  /** `robots_pattern_regex(pattern)` — [[toRegex]] as codegen, so the
    * pack step translates wildcard patterns where the rules live. */
  case class RobotsPatternRegex(child: Expression)
      extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
    override def dataType: DataType = StringType
    override def nullSafeEval(v: Any): Any =
      UTF8String.fromString(toRegex(v.asInstanceOf[UTF8String].toString))
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c =>
        s"""${ev.value} = org.apache.spark.unsafe.types.UTF8String.fromString(
           |  graft.operators.RobotsTxt.toRegex($c.toString()));""".stripMargin)
    override protected def withNewChildInternal(c: Expression): RobotsPatternRegex = copy(c)
  }

  def robots_pattern_regex(pattern: Column): Column =
    column(RobotsPatternRegex(expression(pattern)))
}
