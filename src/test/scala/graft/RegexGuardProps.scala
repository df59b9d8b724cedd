package graft

import java.util.regex.Pattern

import org.apache.spark.sql.functions.{col, not}
import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.{classify, forAll, propBoolean}

import graft.functions.RegexGuard

/** The literal guard is exact: `RegexGuard.rlike(s, p)` ≡ `s rlike p`
  * under `<=>` on generated patterns and strings. The pattern grammar
  * reaches every branch of the literal scanner — plain and escaped
  * literals, classes with `^`, a leading `]` and nesting, groups with an
  * inner `|`, `? * + {m} {m,} {m,n}` with lazy and possessive suffixes,
  * anchors, `\b \d \w \s` — plus the forms it gives up on (top-level `|`,
  * `(?i)`, `(?=`, `\Q…\E`, `\p{L}`). Each pattern piece carries a witness
  * generator, so many strings match and a guard literal that a match can
  * lack shows up as a mismatch; the rest are drawn from letters of both
  * cases, digits, `@ . - _ :`, space, é, U+017F, U+212A and a
  * supplementary character, plus "" and null. */
object RegexGuardProps extends Properties("graft.regex_guard") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(40)

  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** A pattern piece and text it usually matches (anchors, `\b` and
    * possessive repeats can make the witness miss; that is fine). */
  private case class Piece(re: String, witness: Gen[String])

  private val alphabet: Seq[String] =
    (('a' to 'e') ++ ('x' to 'z') ++ ('A' to 'C') ++ ('X' to 'Z') ++ ('0' to '9'))
      .map(_.toString) ++ Seq("@", ".", "-", "_", ":", " ", "é", "ſ", "K", "𝔘")

  private val genChar: Gen[String] = Gen.oneOf(alphabet)

  private def fixed(re: String, witness: String*): Piece =
    Piece(re, Gen.oneOf(witness))

  private val genLiteral: Gen[Piece] = Gen.oneOf(
    Seq("a", "b", "c", "x", "A", "Z", "0", "5", "@", "-", "_", ":", " ")
      .map(c => fixed(c, c)) ++
    Seq(".", "-", "@", "]", "+", "(", "{").map(c => fixed("\\" + c, c)))

  private val genClass: Gen[Piece] = Gen.oneOf(
    fixed("[a-c]", "a", "b", "c"),
    fixed("[^a-z]", "A", "5", "@", " ", "é"),
    fixed("[]x]", "]", "x"),
    fixed("[^]a]", "b", "Z", "-"),
    fixed("[a[0-9]]", "a", "7"),
    fixed("[\\].@]", "]", ".", "@"),
    fixed("[A-Za-z0-9._%+-]", "q", "Q", "3", ".", "-"))

  private val genOneChar: Gen[Piece] = Gen.oneOf(
    Piece(".", genChar),
    fixed("\\d", "0", "4", "9"),
    fixed("\\w", "a", "Z", "_", "3"),
    fixed("\\s", " "),
    fixed("\\D", "a", "@"))

  private val genZeroWidth: Gen[Piece] = Gen.oneOf(
    fixed("^", ""), fixed("$", ""), fixed("\\b", ""), fixed("\\B", ""))

  private def genGroup(depth: Int): Gen[Piece] = for {
    open <- Gen.oneOf("(", "(?:")
    alts <- Gen.choose(1, 2).flatMap(Gen.listOfN(_, genSeq(depth + 1)))
  } yield Piece(alts.map(_.re).mkString(open, "|", ")"),
    Gen.oneOf(alts).flatMap(_.witness))

  private def genAtom(depth: Int): Gen[Piece] =
    if (depth >= 2) Gen.frequency(6 -> genLiteral, 2 -> genClass, 2 -> genOneChar)
    else Gen.frequency(6 -> genLiteral, 2 -> genClass, 2 -> genOneChar,
      1 -> genZeroWidth, 1 -> Gen.lzy(genGroup(depth)))

  /** Quantifier text and the repeat counts a witness may use. */
  private val genQuant: Gen[(String, Int, Int)] = Gen.frequency(
    8 -> Gen.const(("", 1, 1)),
    2 -> Gen.const(("?", 0, 1)),
    2 -> Gen.const(("*", 0, 3)),
    2 -> Gen.const(("+", 1, 3)),
    1 -> Gen.choose(0, 2).map(m => (s"{$m}", m, m)),
    1 -> Gen.choose(0, 2).map(m => (s"{$m,}", m, m + 2)),
    1 -> Gen.choose(0, 2).flatMap(m => Gen.choose(m, 3).map(n => (s"{$m,$n}", m, n))))

  private def genQuantified(depth: Int): Gen[Piece] = for {
    atom <- genAtom(depth)
    (q, lo, hi) <- genQuant
    suffix <- if (q.isEmpty) Gen.const("") else Gen.frequency(4 -> "", 1 -> "?", 1 -> "+")
  } yield Piece(atom.re + q + suffix, Gen.choose(lo, hi)
    .flatMap(k => Gen.listOfN(k, atom.witness)).map(_.mkString))

  private def genSeq(depth: Int): Gen[Piece] =
    Gen.choose(1, 6).flatMap(n => Gen.listOfN(n, genQuantified(depth))).map { ps =>
      Piece(ps.map(_.re).mkString, Gen.sequence[List[String], String](ps.map(_.witness))
        .map(_.mkString))
    }

  /** Forms outside the scanned subset: the scanner returns Nil. */
  private val genGiveUp: Gen[Piece] = Gen.oneOf(
    Gen.zip(genSeq(0), genSeq(0)).map { case (a, b) =>
      Piece(a.re + "|" + b.re, Gen.oneOf(a.witness, b.witness)) },
    genSeq(0).map(s => Piece("(?i)" + s.re, s.witness.map(_.toUpperCase))),
    genSeq(0).map(s => Piece(s.re + "(?=b)", s.witness.map(_ + "b"))),
    genSeq(0).map(s => Piece("\\Qa.b\\E" + s.re, s.witness.map("a.b" + _))),
    genSeq(0).map(s => Piece("\\p{L}" + s.re, s.witness.map("é" + _))))

  private val genPiece: Gen[Piece] =
    Gen.frequency(8 -> genSeq(0), 1 -> genGiveUp)
      .suchThat(p => scala.util.Try(Pattern.compile(p.re)).isSuccess)

  private val genRandom: Gen[String] =
    Gen.choose(0, 12).flatMap(Gen.listOfN(_, genChar)).map(_.mkString)

  private def genText(ps: Seq[Piece]): Gen[String] = Gen.frequency(
    1 -> Gen.const(null),
    1 -> Gen.const(""),
    4 -> genRandom,
    6 -> (for {
      pre <- genRandom.map(_.take(3))
      w <- Gen.oneOf(ps).flatMap(_.witness)
      post <- genRandom.map(_.take(3))
    } yield pre + w + post))

  private def genCase(nPatterns: Int): Gen[(Seq[String], Seq[String])] = for {
    ps <- Gen.listOfN(nPatterns, genPiece)
    texts <- Gen.listOfN(40, genText(ps))
  } yield (ps.map(_.re), texts)

  property("every regex match contains every required literal") =
    forAll(genCase(30)) { case (patterns, texts) =>
      val hits = for {
        p <- patterns
        lits = RegexGuard.requiredLiterals(p) if lits.nonEmpty
        t <- texts if t != null && Pattern.compile(p).matcher(t).find()
      } yield (p, t, lits)
      val bad = hits.flatMap { case (p, t, lits) =>
        lits.filterNot(t.contains).map(l => (p, t, l)) }
      classify(hits.size >= 20, "≥ 20 guarded matches") {
        bad.isEmpty :| s"(pattern, matching text, missing literal): ${bad.take(5)}"
      }
    }

  property("guarded rlike ≡ rlike under <=>") =
    forAll(genCase(6)) { case (patterns, texts) =>
      val df = texts.toDF("s")
      val same = patterns.zipWithIndex.map { case (p, k) =>
        (RegexGuard.rlike(col("s"), p) <=> col("s").rlike(p)).as(s"e$k")
      }
      // a local frame evaluates the projection in the optimizer
      // (interpreted); a repartitioned one runs it in generated code
      val bad = Seq(df, df.repartition(2)).flatMap { d =>
        d.select(col("s") +: same: _*)
          .filter(not(same.indices.map(k => col(s"e$k")).reduce(_ && _)))
          .collect().toSeq.flatMap { r =>
            patterns.indices.filterNot(k => r.getBoolean(k + 1))
              .map(k => (patterns(k), r.getString(0)))
          }
      }
      val guarded = patterns.count(RegexGuard.requiredLiterals(_).nonEmpty)
      classify(guarded >= 3, "mostly guarded patterns") {
        bad.isEmpty :| s"(pattern, text) where guarded ≠ rlike: ${bad.take(5)}"
      }
    }
}
