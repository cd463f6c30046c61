package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** robots.txt (RFC 9309) parsing + crawl-policy application — the missing
  * front half of [[Curation.applyUrlPolicy]]: that operator consumes
  * pre-structured (host, path_prefix, allow) rows; real crawl corpora carry
  * raw robots.txt BYTES per host, wildcard patterns included. This module
  * owns the full path: raw text → per-agent rule set (group state machine)
  * → per-URL decision (longest-pattern precedence with `*`/`$` wildcards).
  *
  * Parsing is a ROW-LOCAL kernel (one robots.txt is one document — the
  * same doc-kernel shape as the DIMACS/WARC parsers, zero shuffle);
  * matching is a row-local binary expression over the packed rule array.
  */
object Robots {

  /** One effective rule for the selected agent, in document order. */
  final case class Rule(pattern: String, allow: Boolean)

  /** Parse one robots.txt body and select the rule group(s) for `agent`
    * per RFC 9309 §2.2.1:
    *
    *  - lines are `key: value`, keys case-insensitive, `#` starts a
    *    comment, CR stripped (CRLF files), unparseable lines ignored;
    *  - one or more CONSECUTIVE `user-agent` lines open a group; the
    *    allow/disallow lines that follow belong to every agent named;
    *    blank lines do NOT close a group (only the next user-agent line
    *    after at least one rule does);
    *  - rules before any user-agent line belong to no group — ignored;
    *  - group selection: all groups naming `agent` (exact product-token
    *    match, case-insensitive) combine; if none name it, the `*` groups
    *    combine; if neither exists the rule set is empty (everything
    *    allowed);
    *  - `allow:`/`disallow:` with an EMPTY pattern is a no-op (RFC: an
    *    empty pattern matches nothing);
    *  - other directives (sitemap, crawl-delay, ...) are ignored.
    *
    * Deterministic: output preserves document order of the kept rules.
    */
  def parse(text: String, agent: String): Seq[Rule] = {
    val agentLc = agent.toLowerCase
    val specific = scala.collection.mutable.ArrayBuffer[Rule]()
    val generic = scala.collection.mutable.ArrayBuffer[Rule]()
    // state: agents of the currently-open group header; null = no group
    var groupAgents: scala.collection.mutable.ArrayBuffer[String] = null
    var groupHasRules = false
    var sawSpecific = false
    for (raw <- text.split("\n", -1)) {
      val noComment = raw.indexOf('#') match {
        case -1 => raw
        case i => raw.substring(0, i)
      }
      val line = noComment.stripSuffix("\r").trim
      val colonAt = line.indexOf(':')
      if (line.nonEmpty && colonAt > 0) {
        val key = line.substring(0, colonAt).trim.toLowerCase
        val value = line.substring(colonAt + 1).trim
        key match {
          case "user-agent" =>
            // a user-agent line AFTER rules starts a NEW group; consecutive
            // user-agent lines extend the open header
            if (groupAgents == null || groupHasRules) {
              groupAgents = scala.collection.mutable.ArrayBuffer[String]()
              groupHasRules = false
            }
            groupAgents += value.toLowerCase
            // a group NAMING the agent exists -> the * groups don't apply,
            // even if the group turns out to hold no (effective) rules
            if (value.equalsIgnoreCase(agentLc)) sawSpecific = true
          case "allow" | "disallow" if groupAgents != null =>
            groupHasRules = true
            if (value.nonEmpty) {
              val rule = Rule(value, allow = key == "allow")
              if (groupAgents.contains(agentLc)) specific += rule
              else if (groupAgents.contains("*")) generic += rule
            }
          case _ => () // sitemap, crawl-delay, unknown keys, rules w/o group
        }
      }
    }
    // a specific group EXISTS (even an empty one) -> the * groups don't apply
    (if (sawSpecific) specific else generic).toSeq
  }

  /** RFC 9309 pattern match: `pattern` must match a PREFIX of `path`;
    * `*` matches any run of characters; a trailing `$` anchors the match
    * to the end of the path (elsewhere `$` is literal). Two-pointer greedy
    * with backtracking — deterministic, no regex compilation per row.
    */
  def patternMatches(pattern: String, path: String): Boolean = {
    val anchored = pattern.endsWith("$")
    val pat = if (anchored) pattern.substring(0, pattern.length - 1) else pattern
    var p = 0; var s = 0
    var starP = -1; var starS = -1
    while (s < path.length) {
      if (p >= pat.length) {
        if (!anchored) return true // pattern consumed: prefix match
        if (starP < 0) return false // anchored, path has a tail, no star
        p = starP + 1; starS += 1; s = starS
      } else if (pat.charAt(p) == '*') { starP = p; p += 1; starS = s }
      else if (pat.charAt(p) == path.charAt(s)) { p += 1; s += 1 }
      else if (starP >= 0) { p = starP + 1; starS += 1; s = starS }
      else return false
    }
    // path consumed: remaining pattern must be all '*'
    while (p < pat.length && pat.charAt(p) == '*') p += 1
    p >= pat.length // anchored or not, the full path matched the pattern
  }

  /** Decide one path against a rule set: the longest matching pattern wins
    * (pattern octet length, wildcards counted — RFC 9309 "most specific");
    * on a length tie the ALLOW rule wins (RFC: least restrictive); a
    * residual same-length-same-verdict tie reports the bytewise-largest
    * pattern (total order — the verdict is already fixed). No matching
    * rule → allowed with null pattern.
    */
  def decide(path: String, rules: Seq[Rule]): (Boolean, String) = {
    var best: Rule = null
    for (r <- rules if patternMatches(r.pattern, path)) {
      if (best == null) best = r
      else {
        val c = java.lang.Integer.compare(r.pattern.length, best.pattern.length)
        if (c > 0 || (c == 0 && r.allow && !best.allow) ||
          (c == 0 && r.allow == best.allow && r.pattern > best.pattern)) best = r
      }
    }
    if (best == null) (true, null) else (best.allow, best.pattern)
  }

  val ruleSchema: StructType = StructType(Seq(
    StructField("pattern", StringType, nullable = false),
    StructField("allow", BooleanType, nullable = false)))

  /** Entry of [[RobotsRulesExpr]]: the packed rule array. */
  def robots_rules(text: Array[Byte], agent: UTF8String): ArrayData =
    new GenericArrayData(parse(new String(text, "UTF-8"), agent.toString).map { r =>
      InternalRow(UTF8String.fromString(r.pattern), r.allow)
    }.toArray[Any])

  /** Entry of [[RobotsDecisionExpr]]: struct(allowed, pattern). */
  def robots_decision(path: UTF8String, rules: ArrayData): InternalRow = {
    val packed = (0 until rules.numElements()).map { i =>
      val row = rules.getStruct(i, 2)
      Rule(row.getUTF8String(0).toString, row.getBoolean(1))
    }
    val (allowed, pattern) = decide(path.toString, packed)
    InternalRow(allowed, if (pattern == null) null else UTF8String.fromString(pattern))
  }

  /** Per-host robots tables → per-page crawl decision, composable with the
    * rest of the corpus pipeline. `robots` has one row per host:
    * (hostCol2, textCol) raw robots.txt. Emits every page column +
    * `matched_pattern` (null = no rule) + `allowed`.
    *
    * Scale shape: robots.txt parses ONCE per host into a packed rule array
    * (host-sized table, rows ~ hosts, each a few hundred bytes), then ONE
    * host equi-join against the pages — AQE picks broadcast when the host
    * table is small and skew-splits hot hosts otherwise; the decision is a
    * row-local expression over (path, packed rules). The page payload
    * crosses that single exchange at most once; robots text never does.
    */
  def applyPolicy(pages: DataFrame, hostCol: String, pathCol: String,
                  robots: DataFrame, robotsHostCol: String, textCol: String,
                  agent: String): DataFrame = {
    val packed = robots.select(
      col(robotsHostCol).as("_rb_host"),
      graft.functions.robots_rules(col(textCol), agent).as("_rb_rules"))
    pages.join(packed, col(hostCol) === col("_rb_host"), "left")
      .withColumn("_rb_d",
        graft.functions.robots_decision(col(pathCol), col("_rb_rules")))
      // hosts with no robots.txt (null rules) are unrestricted
      .withColumn("matched_pattern", col("_rb_d.pattern"))
      .withColumn("allowed", coalesce(col("_rb_d.allowed"), lit(true)))
      .drop("_rb_host", "_rb_rules", "_rb_d")
  }
}

/** `robots_rules(text, agent)` — raw robots.txt → the agent's effective
  * rule array (document order), a doc-local kernel like the WARC parser.
  */
case class RobotsRulesExpr(child: Expression, agent: String)
    extends graft.functions.DocKernelExpression {
  override def dataType: DataType = ArrayType(Robots.ruleSchema, containsNull = false)
  override def prettyName: String = "robots_rules"
  override lazy val replacement: Expression = docCall(Robots, prettyName, agent)
  override protected def withNewChildInternal(newChild: Expression): RobotsRulesExpr =
    copy(child = newChild)
}

/** `robots_decision(path, rules)` — RFC 9309 longest-pattern decision over
  * a packed rule array: struct(allowed boolean, pattern string-or-null).
  * Null path or null rules → null (the caller coalesces absent robots to
  * an empty array = everything allowed).
  */
case class RobotsDecisionExpr(left: Expression, right: Expression)
    extends graft.functions.KernelExpression with BinaryLike[Expression] {
  override def prettyName: String = "robots_decision"
  override def dataType: DataType = StructType(Seq(
    StructField("allowed", BooleanType, nullable = false),
    StructField("pattern", StringType, nullable = true)))
  override lazy val replacement: Expression = call(Robots, prettyName, Seq(
    graft.functions.KernelExpression.typed(left, StringType),
    graft.functions.KernelExpression.typed(right, ArrayType(Robots.ruleSchema))))
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): RobotsDecisionExpr =
    copy(left = newLeft, right = newRight)
}
