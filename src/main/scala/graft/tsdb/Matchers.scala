package graft.tsdb

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Label matchers — the reference's entire WHERE-clause surface
  * (SURVEY.md §2.2, P1-P5).
  *
  * Reference semantics:
  *  - `=` exact string equality (`vendor/.../tsdb/labels/selector.go:42-59`)
  *  - `=~` regex; Prometheus proper anchors the pattern `^(?:re)$`
  *    (`vendor/.../prometheus/storage/metric/matcher.go:83`). The reference
  *    drops the anchoring when converting matchers (`server.go:116-121`) —
  *    a documented bug; we follow Prometheus semantics and anchor.
  *  - `!=` / `!~` negation wrappers (`selector.go:79-89`)
  *  - prefix matcher (`selector.go:91-108`)
  *  - matching against an ABSENT label uses the empty string: a matcher on
  *    `l` where the series has no `l` sees value "" (`querier.go:189-195`,
  *    `querier.go:457-462`).
  *
  * Each matcher compiles to a Catalyst predicate over a string column; the
  * inverted-index machinery of the reference (postings lookup, leapfrog
  * intersection, sorted union — P6-P9) is subsumed by Parquet predicate
  * pushdown + dictionary/stats filtering, which Catalyst applies to these
  * predicates for free.
  */
sealed trait MatchType
object MatchType {
  case object Eq extends MatchType
  case object Neq extends MatchType
  case object Re extends MatchType
  case object NotRe extends MatchType
  case object Prefix extends MatchType
}

final case class LabelMatcher(tpe: MatchType, name: String, value: String) {

  /** Predicate over the label's string value; `valueCol` must evaluate to
    * "" when the label is absent (the caller arranges
    * `coalesce(labels[name], "")` for map-typed label columns). */
  def predicate(valueCol: Column): Column = tpe match {
    case MatchType.Eq     => valueCol === value
    case MatchType.Neq    => valueCol =!= value
    case MatchType.Re     => valueCol.rlike(LabelMatcher.anchored(value))
    case MatchType.NotRe  => !valueCol.rlike(LabelMatcher.anchored(value))
    case MatchType.Prefix => valueCol.startsWith(value)
  }

  /** [[predicate]] as a driver-side function, deciding exactly as
    * Catalyst does: binary string comparison, and `rlike`'s
    * `matcher(s).find()` over the anchored pattern (so `$` also matches
    * before a final line terminator). The regex compiles here, so an
    * invalid pattern throws at construction, not at the first value. */
  def evaluator: String => Boolean = tpe match {
    case MatchType.Eq     => _ == value
    case MatchType.Neq    => _ != value
    case MatchType.Re | MatchType.NotRe =>
      val p = java.util.regex.Pattern.compile(LabelMatcher.anchored(value))
      val want = tpe == MatchType.Re
      s => p.matcher(s).find() == want
    case MatchType.Prefix => _.startsWith(value)
  }

  /** Plain-Scala evaluation (for the brute-force test oracle). */
  def matches(v: String): Boolean = tpe match {
    case MatchType.Eq     => v == value
    case MatchType.Neq    => v != value
    case MatchType.Re     => LabelMatcher.compiled(value).matcher(v).matches()
    case MatchType.NotRe  => !LabelMatcher.compiled(value).matcher(v).matches()
    case MatchType.Prefix => v.startsWith(value)
  }
}

object LabelMatcher {
  /** Prometheus-anchored form: the full value must match.
    *
    * Dialect note: regexes evaluate in Java's engine (Spark `rlike`),
    * not Prometheus's RE2. On the surface PromQL users write
    * (character classes, alternation, repetition, anchoring) the two
    * agree; the divergences are handled explicitly:
    *  - Java-only constructs RE2 REJECTS — backreferences, lookaround,
    *    atomic groups, possessive quantifiers — are rejected here too
    *    ([[validateRe2Dialect]], called by the `re`/`notRe`
    *    constructors), so a selector that errors on Prometheus errors
    *    here instead of silently matching;
    *  - RE2's named-group spelling `(?P<name>…)` is bridged to Java's
    *    `(?<name>…)` ([[toJavaDialect]]) so RE2-style patterns run
    *    unchanged;
    *  - RE2 guarantees linear-time matching while Java can backtrack
    *    pathologically, so a hostile pattern is a DoS vector upstream
    *    callers should bound with their own timeouts.
    * Bare equality-shaped patterns are rewritten to postings lookups
    * before any regex runs (TsdbRegexRewrite). */
  def anchored(pattern: String): String = "^(?:" + toJavaDialect(pattern) + ")$"

  /** RE2 → Java spelling bridge. A literal `(?P<` cannot survive
    * escaping as that byte sequence, so the blind replace is safe. */
  def toJavaDialect(pattern: String): String = pattern.replace("(?P<", "(?<")

  /** Reject the Java-regex constructs RE2 has no equivalent for —
    * mirroring the `error parsing regexp` a user would get from
    * Prometheus (`vendor/.../labels/selector.go:61-77` compiles
    * matchers through Go's regexp). Without this, a selector relying on
    * a backreference or lookaround would silently change meaning when
    * ported between engines. Scanner-level check: escapes and character
    * classes are tracked, nothing is compiled. */
  def validateRe2Dialect(pattern: String): Unit = {
    def fail(what: String): Nothing = throw new IllegalArgumentException(
      s"error parsing regexp: $what not supported (RE2 dialect): `$pattern`")
    var i = 0
    var inClass = false
    while (i < pattern.length) {
      val c = pattern.charAt(i)
      if (c == '\\') {
        if (i + 1 < pattern.length) {
          val n = pattern.charAt(i + 1)
          if (!inClass && n.isDigit && n != '0') fail(s"backreference \\$n")
          if (!inClass && n == 'k') fail("named backreference \\k")
          i += 2
        } else i += 1
      } else if (inClass) {
        if (c == ']') inClass = false
        i += 1
      } else {
        c match {
          case '[' => inClass = true
          case '(' if pattern.startsWith("(?", i) =>
            val rest = pattern.substring(i + 2)
            if (rest.startsWith("=")) fail("lookahead (?=")
            else if (rest.startsWith("!")) fail("negative lookahead (?!")
            else if (rest.startsWith("<=")) fail("lookbehind (?<=")
            else if (rest.startsWith("<!")) fail("negative lookbehind (?<!")
            else if (rest.startsWith(">")) fail("atomic group (?>")
          case '*' | '+' | '?' | '}' =>
            if (i + 1 < pattern.length && pattern.charAt(i + 1) == '+' &&
                // `++` only possessive when the FIRST + quantifies
                // something; "a++" bad, but "++" alone would be a Java
                // syntax error anyway — flag conservatively
                (c != '+' || i > 0))
              fail(s"possessive quantifier $c+")
          case _ => ()
        }
        i += 1
      }
    }
  }

  private val cache = new java.util.concurrent.ConcurrentHashMap[String, java.util.regex.Pattern]()
  private def compiled(p: String): java.util.regex.Pattern =
    cache.computeIfAbsent(p,
      s => java.util.regex.Pattern.compile("(?:" + toJavaDialect(s) + ")"))

  def eq(name: String, value: String) = LabelMatcher(MatchType.Eq, name, value)
  def neq(name: String, value: String) = LabelMatcher(MatchType.Neq, name, value)
  def re(name: String, value: String) = {
    validateRe2Dialect(value)
    LabelMatcher(MatchType.Re, name, value)
  }
  def notRe(name: String, value: String) = {
    validateRe2Dialect(value)
    LabelMatcher(MatchType.NotRe, name, value)
  }
  def prefix(name: String, value: String) = LabelMatcher(MatchType.Prefix, name, value)

  /** Matcher for "label is absent": equality with "" (P5). */
  def absent(name: String) = eq(name, "")
}
