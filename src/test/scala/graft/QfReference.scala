package graft

import java.util.regex.Pattern

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col

import graft.functions.QfScore.qf_score
import graft.transcripts.QualityFilter._

/** Plain-Scala reference for the fused `qf_score` kernel, written from the
  * scoring contract alone — `String.split` and chained `replaceAll`, no
  * shared code with the kernel beyond the model constants:
  *
  *   - words: non-empty `split("[^A-Za-z]+")` runs, ASCII-lowercased, looked
  *     up in `unigramLogProb` (OOV → `OovLogProb`); `en_hits` counts
  *     stopwords; `avg_logprob` is the left-to-right sum over the word
  *     count, `OovLogProb` with no words;
  *   - tokens: non-empty runs between `' '` separators (no other
  *     whitespace splits); `n_distinct` is their exact distinct count;
  *   - symbols: codepoints outside `[A-Za-z0-9 ]`;
  *   - flags: `find()` of each pattern on the ORIGINAL text;
  *   - scrubbed text: `replaceAll` chained email → ssn → phone → tox;
  *   - null: zero counts, `OovLogProb`, false flags, null scrubbed text.
  */
object QfReference {

  /** Field order and names of the `qf_score` struct. */
  val Fields: Seq[String] = Seq("en_hits", "avg_logprob", "n_tokens",
    "n_distinct", "n_symbols", "email_found", "phone_found", "ssn_found",
    "tox_found", "scrubbed_text")

  def score(text: String): Row = {
    if (text == null)
      return Row(0, OovLogProb, 0, 0, 0, false, false, false, false, null)
    val words = text.split("[^A-Za-z]+").filter(_.nonEmpty)
      .map(_.map(c => if (c >= 'A' && c <= 'Z') (c + 32).toChar else c))
    val hits = words.count(enStopwords.contains)
    val lp = words.foldLeft(0.0)((s, w) => s + unigramLogProb.getOrElse(w, OovLogProb))
    val avg = if (words.isEmpty) OovLogProb else lp / words.length
    val tokens = text.split(" ").filter(_.nonEmpty)
    val symbols = text.codePoints().filter(cp =>
      !((cp >= 'a' && cp <= 'z') || (cp >= 'A' && cp <= 'Z') ||
        (cp >= '0' && cp <= '9') || cp == ' ')).count().toInt
    def found(re: String) = Pattern.compile(re).matcher(text).find()
    val scrubbed = text.replaceAll(EmailRe, "[EMAIL]").replaceAll(SsnRe, "[SSN]")
      .replaceAll(PhoneRe, "[PHONE]").replaceAll(ToxRe, "[REDACTED]")
    Row(hits, avg, tokens.length, tokens.distinct.length, symbols,
      found(EmailRe), found(PhoneRe), found(SsnRe), found(ToxRe), scrubbed)
  }

  /** Every (text, field, kernel value, reference value) where `qf_score`
    * over `df`'s `textCol` disagrees with [[score]]; empty when they agree
    * column by column. */
  def mismatches(df: DataFrame, textCol: String): Seq[(String, String, Any, Any)] =
    df.select(col(textCol), qf_score(col(textCol)).as("q"))
      .select(col(textCol) +: Fields.map(f => col(s"q.$f")): _*)
      .collect().toSeq.flatMap { r =>
        val text = r.getString(0)
        val want = score(text)
        Fields.indices.collect {
          case i if r.get(i + 1) != want.get(i) =>
            (text, Fields(i), r.get(i + 1), want.get(i))
        }
      }
}
