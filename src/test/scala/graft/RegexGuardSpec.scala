package graft

import org.apache.spark.sql.catalyst.expressions.{And, Contains, Expression, RLike}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.core._
import graft.functions.RegexGuard
import graft.transcripts.QualityFilter

/** Fixed cases for the required-literal guard on `rlike`: the extractor's
  * output on the shipped patterns, the collation gate, the planned guard
  * shape, and the literals `QfScore`'s hand-written gates rely on. The
  * guard's exactness over generated patterns is `RegexGuardProps`. */
class RegexGuardSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  import RegexGuard.requiredLiterals

  test("required literals of the shipped and edge-case patterns") {
    assert(requiredLiterals(QualityFilter.EmailRe) == Seq("@", "."))
    assert(requiredLiterals(QualityFilter.SsnRe) == Seq("-"))
    assert(requiredLiterals(QualityFilter.PhoneRe) == Seq("555-"))
    assert(requiredLiterals(QualityFilter.ToxRe) == Seq("damn"))
    assert(requiredLiterals("ab+c") == Seq("ab", "bc"))
    assert(requiredLiterals("ab?c") == Seq("a", "c"))
    assert(requiredLiterals("ab{0,2}c") == Seq("a", "c"))
    assert(requiredLiterals("ab{2}+c\\.") == Seq("ab", "bc."))
    assert(requiredLiterals("[]x]y(z|w)v") == Seq("y", "v"))
    assert(requiredLiterals("a\\]b") == Seq("a]b"))
    // nothing required, or outside the scanned subset
    assert(requiredLiterals("^[OF]$") == Nil)
    assert(requiredLiterals("x|y") == Nil)
    assert(requiredLiterals("(?i)abc") == Nil)
    assert(requiredLiterals("a(?=b)") == Nil)
    assert(requiredLiterals("\\Qa.b\\E") == Nil)
    assert(requiredLiterals("a\\p{L}") == Nil)
    assert(requiredLiterals("(a)\\1") == Nil)
    assert(requiredLiterals("é") == Nil)
    assert(requiredLiterals("a{2}{3}") == Nil)
    assert(requiredLiterals("(") == Nil)
    assert(requiredLiterals(null) == Nil)
  }

  test("QfScore's hand-written gates hold: EmailRe needs '@', ToxRe needs 'damn'") {
    // QfScore skips the e-mail matcher on texts without '@' and the tox
    // matcher on texts without "damn"; an edit of the shared patterns
    // that drops either literal must fail here
    assert(requiredLiterals(QualityFilter.EmailRe).contains("@"))
    assert(requiredLiterals(QualityFilter.ToxRe).contains("damn"))
  }

  test("an invalid pattern fails the Column's construction") {
    intercept[java.util.regex.PatternSyntaxException](RegexGuard.rlike(col("s"), "("))
  }

  test("non-binary collation: no guard, same answer as plain rlike") {
    // under UTF8_LCASE, 'ſ' rlike 's' is true while contains('ſ', 's') is not
    val df = Seq("ſ", "x", null).toDF("s")
      .selectExpr("collate(s, 'UTF8_LCASE') AS s")
    val got = df.select(RegexGuard.rlike(col("s"), "s").as("g"),
      col("s").rlike("s").as("r")).collect().toSeq
    assert(got.map(r => (r.get(0), r.get(1))) ==
      Seq((true, true), (false, false), (null, null)))
  }

  private def conditions(e: MapExpectation): Seq[Expression] = {
    // repartitioned, so the optimizer keeps the projection instead of
    // folding it into a local relation
    val df = Seq("a@b.com", "O", null).toDF("text").repartition(2)
    val (fused, _) = new SuiteRunner().fusedFrame(df, Seq((e, 0)), Nil,
      _.unexpectedCondition)
    fused.queryExecution.optimizedPlan.flatMap(_.expressions)
  }

  test("planned guard: Contains ahead of RLike, bare RLike without literals") {
    val guarded = conditions(
      ExpectColumnValuesToNotMatchRegex("text", QualityFilter.EmailRe))
    val ands = guarded.flatMap(_.collect {
      case a @ And(_: Contains, r) if r.exists(_.isInstanceOf[RLike]) => a
    })
    assert(ands.nonEmpty, guarded)
    val bare = conditions(ExpectColumnValuesToMatchRegex("text", "^[OF]$"))
    assert(bare.exists(_.exists(_.isInstanceOf[RLike])), bare)
    assert(!bare.exists(_.exists(_.isInstanceOf[Contains])), bare)
  }

  test("the guard prints as its rlike") {
    assert(RegexGuard.rlike(col("s"), "a+b").toString == col("s").rlike("a+b").toString)
  }
}
