package graft.functions

import java.util.regex.Pattern

import scala.collection.mutable
import scala.util.Try
import scala.util.control.ControlThrowable

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{And, Contains, Expression, Literal, RLike, RuntimeReplaceable}
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.graftshim.Shims
import org.apache.spark.sql.types.{BooleanType, DataType}

/** `rlike` behind exact required-literal guards: `text rlike p` becomes
  * `contains(text, l1) && … && text rlike p` for the literal runs `li` that
  * every match of `p` must contain, so rows lacking one never reach
  * `java.util.regex` (whose `find()` with a leading greedy class backtracks
  * over every position of a non-matching row). The prefilter behind Cox's
  * trigram regex index and Hyperscan's literal decomposition, reduced to
  * one conservative scan of the pattern's top level.
  *
  * Exact by construction: a non-null row lacking a required literal cannot
  * match, null stays null on both sides, and an ASCII literal's byte never
  * occurs inside a multi-byte UTF-8 sequence. The guard applies only to a
  * `UTF8_BINARY` string column (resolved in [[GuardedRLike]]): under
  * `UTF8_LCASE`, `'ſ' rlike 's'` is true while `contains('ſ', 's')` is not. */
object RegexGuard {

  /** Guarded `c rlike pattern`. Compiles the pattern here, so an invalid
    * one fails the Column's construction rather than the Spark job that
    * evaluates it. */
  def rlike(c: Column, pattern: String): Column = {
    if (pattern != null) Pattern.compile(pattern)
    val lits = requiredLiterals(pattern)
    if (lits.isEmpty) c.rlike(pattern)
    else Shims.toColumn(GuardedRLike(Shims.toExpression(c.rlike(pattern)), lits))
  }

  /** The maximal literal runs every match of `pattern` contains, scanned
    * from its top level: printable-ASCII literals (plain or escaped
    * punctuation) form runs; classes, groups, `.`, `^`, `$` and
    * `\b \B \d \D \s \S \w \W` end them; an atom under `?`, `*` or
    * `{0,…}` is optional and under `+` or `{n≥1,…}` ends the run after
    * itself (so `ab+c` gives `ab`, `bc`). Nil for anything outside that
    * subset — a top-level `|`, `(?` other than `(?:`, `\Q`, any other
    * letter or digit escape (`\p`, `\x`, backreferences, …), stacked
    * quantifiers, non-printable or non-ASCII characters — and for a
    * pattern `Pattern.compile` rejects. Runs contained in another run are
    * dropped. */
  def requiredLiterals(pattern: String): Seq[String] =
    if (pattern == null || !pattern.forall(ch => ch >= ' ' && ch < '\u007f') ||
        Try(Pattern.compile(pattern)).isFailure) Nil
    else try {
      val runs = new Scanner(pattern).top().distinct
      runs.filterNot(r => runs.exists(o => o != r && o.contains(r)))
    } catch { case GiveUp => Nil }

  private object GiveUp extends ControlThrowable

  /** Recursive-descent scan of a pattern that compiles; every position it
    * reads exists because the pattern is well-formed. */
  private final class Scanner(p: String) {
    private var i = 0
    private val runs = mutable.ArrayBuffer.empty[String]
    private val run = new StringBuilder

    private def flush(): Unit = { if (run.nonEmpty) runs += run.toString; run.clear() }

    def top(): Seq[String] = {
      while (i < p.length) {
        val lit = atom()
        quantifier() match {
          case 1 => if (lit >= 0) run += lit.toChar else flush()
          case 0 => flush()
          case _ => if (lit >= 0) { run += lit.toChar; flush(); run += lit.toChar } else flush()
        }
      }
      flush()
      runs.toSeq
    }

    /** Consumes one top-level atom: its char if it is a literal, else -1. */
    private def atom(): Int = p(i) match {
      case '(' => group(); -1
      case '[' => charClass(); -1
      case '.' | '^' | '$' => i += 1; -1
      case '\\' => escape()
      case '|' | ')' | '*' | '+' | '?' | '{' => throw GiveUp
      case c => i += 1; c
    }

    /** Consumes the quantifier after an atom with its lazy/possessive
      * suffix: 1 when there is none, 0 when the atom may be absent, 2 when
      * it may repeat. */
    private def quantifier(): Int = {
      val q = if (i >= p.length) 1 else p(i) match {
        case '?' | '*' => i += 1; 0
        case '+' => i += 1; 2
        case '{' =>
          val close = p.indexOf('}', i)
          val min = p.substring(i + 1, close).takeWhile(_ != ',')
          i = close + 1
          if (min.forall(_ == '0')) 0 else 2
        case _ => 1
      }
      if (q != 1 && i < p.length && (p(i) == '?' || p(i) == '+')) i += 1
      q
    }

    /** `\` + char: the escaped punctuation char, -1 for a one-char class
      * or word boundary; any other letter or digit escape gives up. */
    private def escape(): Int = {
      val c = p(i + 1)
      i += 2
      if ("bBdDsSwW".indexOf(c) >= 0) -1
      else if (c.isLetterOrDigit) throw GiveUp
      else c
    }

    /** Skips `(…)` or `(?:…)`, nested groups and classes included. */
    private def group(): Unit = {
      i += 1
      if (p(i) == '?') { if (p(i + 1) == ':') i += 2 else throw GiveUp }
      while (p(i) != ')') p(i) match {
        case '(' => group()
        case '[' => charClass()
        case '\\' => escape()
        case _ => i += 1
      }
      i += 1
    }

    /** Skips `[…]`, nested classes included; a `]` right after `[` or `[^`
      * is a member, as in `java.util.regex`. */
    private def charClass(): Unit = {
      i += 1
      if (p(i) == '^') i += 1
      if (p(i) == ']') i += 1
      while (p(i) != ']') p(i) match {
        case '[' => charClass()
        case '\\' => escape()
        case _ => i += 1
      }
      i += 1
    }
  }
}

/** `child` is an `rlike`; once analysis has resolved it, the replacement
  * puts `Contains` guards in front of it when its input is a `UTF8_BINARY`
  * string, and is the bare `rlike` otherwise. `And` evaluates left to
  * right and stops at the first false, so the regex runs only on rows that
  * hold every literal. Prints as its `rlike`. */
case class GuardedRLike(child: Expression, literals: Seq[String])
    extends RuntimeReplaceable with UnaryLike[Expression] {

  override def dataType: DataType = BooleanType
  override def nullable: Boolean = child.nullable

  // lazy: the child's type is known only after analysis
  override lazy val replacement: Expression = child match {
    case r @ RLike(s, _) if r.resolved && Shims.isBinaryString(s.dataType) =>
      literals.foldRight(r: Expression)((l, acc) => And(Contains(s, Literal(l)), acc))
    case _ => child
  }

  override def toString: String = sql
  override def sql: String = Shims.sql(child)

  override protected def withNewChildInternal(newChild: Expression): GuardedRLike =
    copy(child = newChild)
}
