package graft

import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.{forAll, propBoolean}

/** `qf_score` ≡ [[QfReference]] on generated text. The alphabet reaches
  * every kernel branch: ASCII letters of both cases (vocab, stopword and
  * OOV words), digits, spaces and other whitespace, `@` `.` `-` and other
  * punctuation, non-ASCII letters (including U+212A KELVIN SIGN, which is
  * not an ASCII letter to the kernel), a supplementary-plane character,
  * repeated tokens, and whole PII/toxicity hits. */
object QfScoreProps extends Properties("graft.qf_score") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(30)

  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val pieces: Seq[String] = Seq(
    "a", "b", "e", "k", "z", "A", "K", "Q", "Z", "0", "5", "9",
    " ", " ", " ", "  ", "\t", "@", ".", "-", ",", "!", "#", "%", "_", "+", "[",
    "é", "K", "𝔘",
    "the", "The", "WE", "and", "quick", "Brown", "fox", "dog", "noise", "xyzzy",
    "damn", "Damn", "damned", "555-123-4567", "219-09-9999", "a@b.com",
    "user42@example.com", "com")

  private val genText: Gen[Option[String]] = Gen.frequency(
    1 -> Gen.const(None),
    12 -> Gen.choose(0, 40).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf(pieces)).map(p => Some(p.mkString)))
  )

  property("qf_score ≡ plain-Scala reference on every field") =
    forAll(Gen.listOfN(40, genText)) { texts =>
      val bad = QfReference.mismatches(texts.toDF("text"), "text")
      bad.isEmpty :| s"(text, field, kernel, reference): ${bad.take(5)}"
    }
}
