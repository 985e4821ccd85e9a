package graft.functions

import java.util.regex.Pattern

import org.apache.spark.sql.Column
import org.apache.spark.unsafe.types.UTF8String

/** F9 — the reference's title postprocess family, re-expressed as one
  * native scalar expression.
  *
  * Faithful to `lambdas/title_generation/postprocess/postprocess_functions
  * .py:6-141` plus the junk-prefix scrub of `title_generation.py:60-70`:
  *
  *  1. junk regex removal (`Microsoft Word - `, `.Doc`, `.doc` — the dots
  *     are regex wildcards in the reference and stay wildcards here) and
  *     whitespace collapse ([[TitleImpl.cleanJunk]]);
  *  2. `remove_other_patterns`: splice out the FIRST `page N of M`, then
  *     truncate at `Crown [Cc]opyright`;
  *  3. `remove_open_brackets`: if '(' outnumbers ')', truncate before the
  *     last '(';
  *  4. `delete_repeated_ngrams`: order-preserving word dedup that always
  *     keeps stopwords (case-sensitive membership, as in the reference);
  *  5. `remove_trailing_stopwords_and_single_chars`: strip trailing
  *     stopwords / single non-digit chars (lowercased membership);
  *  6. per-word capital casing (`custom_title`, first word always);
  *  7. `remove_table_of_contents` truncation;
  *  8. `capitalize_if_majority_uppercase`.
  *
  * The whole pipeline is sequential per-row string logic (find-first
  * splices, stateful dedup), which is why it is ONE JVM-native expression
  * rather than a chain of `regexp_replace` columns: Spark's
  * `regexp_replace` replaces every match, the reference splices only the
  * first. It is a [[graft.plans.NativeFn]] over [[TitleImpl.full]], so
  * it stays inside whole-stage codegen like the other natives.
  *
  * Divergence (documented): where the reference would crash when every
  * word is trimmed (`text_list[-1]` on an empty list), this returns "".
  */
object TitleImpl {

  /** NLTK english stopword list (the corpus `postprocess_functions.py`
    * loads at `:14`) — embedded so the engine has no runtime download and
    * oracles can interpolate the same literal. */
  val NltkStopwords: Seq[String] = Seq(
    "i", "me", "my", "myself", "we", "our", "ours", "ourselves", "you",
    "you're", "you've", "you'll", "you'd", "your", "yours", "yourself",
    "yourselves", "he", "him", "his", "himself", "she", "she's", "her",
    "hers", "herself", "it", "it's", "its", "itself", "they", "them",
    "their", "theirs", "themselves", "what", "which", "who", "whom",
    "this", "that", "that'll", "these", "those", "am", "is", "are", "was",
    "were", "be", "been", "being", "have", "has", "had", "having", "do",
    "does", "did", "doing", "a", "an", "the", "and", "but", "if", "or",
    "because", "as", "until", "while", "of", "at", "by", "for", "with",
    "about", "against", "between", "into", "through", "during", "before",
    "after", "above", "below", "to", "from", "up", "down", "in", "out",
    "on", "off", "over", "under", "again", "further", "then", "once",
    "here", "there", "when", "where", "why", "how", "all", "any", "both",
    "each", "few", "more", "most", "other", "some", "such", "no", "nor",
    "not", "only", "own", "same", "so", "than", "too", "very", "s", "t",
    "can", "will", "just", "don", "don't", "should", "should've", "now",
    "d", "ll", "m", "o", "re", "ve", "y", "ain", "aren", "aren't",
    "couldn", "couldn't", "didn", "didn't", "doesn", "doesn't", "hadn",
    "hadn't", "hasn", "hasn't", "haven", "haven't", "isn", "isn't", "ma",
    "mightn", "mightn't", "mustn", "mustn't", "needn", "needn't", "shan",
    "shan't", "shouldn", "shouldn't", "wasn", "wasn't", "weren",
    "weren't", "won", "won't", "wouldn", "wouldn't")

  private val Stop = NltkStopwords.toSet

  private val JunkRes =
    Seq("Microsoft Word - ", ".Doc", ".doc").map(Pattern.compile)
  private val WsRe    = Pattern.compile("\\s+")
  private val PageRe  = Pattern.compile("page (\\d+) of (\\d+)")
  private val CrownRe = Pattern.compile("\\b(Crown Copyright|Crown copyright)\\b")
  private val TocRe   = Pattern.compile(
    "\\b(Contents|Table of Contents|Table of contents)\\b\\s*1\\s+\\D+?\\s+2")

  /** `title_generation.py:60-70` minus regulator names (that scrub is the
    * engine's own F10 op; compose in the query when both are wanted). */
  def cleanJunk(t: String): String = {
    var s = t
    JunkRes.foreach(p => s = p.matcher(s).replaceAll(""))
    WsRe.matcher(s).replaceAll(" ")
  }

  /** `str.isupper()`: at least one cased char and every cased char upper. */
  private def isUpperPy(s: String): Boolean = {
    var sawCased = false
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (Character.isLetter(c)) {
        sawCased = true
        if (!Character.isUpperCase(c)) return false
      }
      i += 1
    }
    sawCased
  }

  private def customTitle(w: String): String =
    if (w.nonEmpty && Character.isLetter(w.charAt(0)))
      w.charAt(0).toUpper.toString + w.substring(1)
    else w

  def postprocessTitle(in: String): String = {
    // remove_other_patterns: splice FIRST page-of; truncate at Crown.
    var title = in
    val pm = PageRe.matcher(title)
    if (pm.find()) title = title.substring(0, pm.start) + title.substring(pm.end)
    val cm = CrownRe.matcher(title)
    if (cm.find()) title = title.substring(0, cm.start).strip()
    // remove_open_brackets: unbalanced '(' → cut before the last one.
    var open = 0; var close = 0
    title.foreach { c =>
      if (c == '(') open += 1 else if (c == ')') close += 1
    }
    if (open > close) title = title.substring(0, title.lastIndexOf('('))
    // delete_repeated_ngrams (stopwords always kept; membership is
    // case-sensitive against the lowercase list, as in the reference).
    val toks = title.strip().split(" ", -1)
    val cleaned = scala.collection.mutable.ArrayBuffer.empty[String]
    val seen = scala.collection.mutable.HashSet.empty[String]
    toks.foreach { w =>
      if (Stop(w)) cleaned += w
      else if (seen.add(w)) cleaned += w
    }
    // remove_trailing_stopwords_and_single_chars
    var n = cleaned.length
    // NOTE (r20 review): the `!= "a"` exemption is UNREACHABLE — "a" is
    // in the NLTK stop list, so the first disjunct already strips a
    // trailing 'a'/'A'. The reference's own clause is dead the same way
    // (transcribed verbatim in tools/dev_f9.py:47-50); it is kept here
    // for parity, not because it ever fires — do not "fix" it into a
    // divergence.
    def bad(w: String): Boolean =
      Stop(w.toLowerCase) ||
        (w.length == 1 && !w.forall(_.isDigit) && w.toLowerCase != "a")
    while (n > 0 && bad(cleaned(n - 1))) n -= 1
    // capital case: first word always; others unless ALL-CAPS or stopword.
    val sb = new StringBuilder
    var i = 0
    while (i < n) {
      val w = cleaned(i)
      if (i > 0) sb.append(' ')
      sb.append(
        if (i == 0 || (!isUpperPy(w) && !Stop(w))) customTitle(w) else w)
      i += 1
    }
    var s = sb.toString
    val tm = TocRe.matcher(s)
    if (tm.find()) s = s.substring(0, tm.start).strip()
    // capitalize_if_majority_uppercase
    var upper = 0; var digit = false
    s.foreach { c =>
      if (Character.isUpperCase(c)) upper += 1
      if (Character.isDigit(c)) digit = true
    }
    if (upper > s.length / 2.0 && !digit) s.toUpperCase else s
  }

  def full(t: UTF8String): UTF8String =
    UTF8String.fromString(postprocessTitle(cleanJunk(t.toString)))
}

object TitlePostprocess {
  import org.apache.spark.sql.graftbridge.Bridge.{column, expression}
  def title_postprocess(c: Column): Column =
    column(graft.plans.NativeFn.titlePostprocess(expression(c)))
}
