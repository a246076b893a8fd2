package graft.filters

import graft.text.{Constants, PyText, TextUtils}

/** Per-document tokenization cache: words/sentences/paragraphs are
  * computed at most once per document no matter how many cascade filters
  * consume them (the Spark-side analogue of the reference's
  * `self._sentences`/`self._paragraphs` caching hooks). This is the
  * dominant allocation in the cascade hot path — sharing it roughly
  * halves per-doc cost and GC pressure at high thread counts.
  */
final class DocCtx(val text: String) {
  lazy val words: Array[String] = TextUtils.words(PyText.strip(text))
  lazy val sentences: Array[String] = TextUtils.sentences(text)
  lazy val paragraphs: Array[String] = TextUtils.paragraphs(text)
  /** Per-word double hashes (java hashCode + FNV-1a), shared by the nine
    * n-gram repetition filters so each doesn't re-hash every word.
    */
  lazy val wordHashes: (Array[Long], Array[Long]) = {
    val ws = words
    val wh1 = new Array[Long](ws.length)
    val wh2 = new Array[Long](ws.length)
    var w = 0
    while (w < ws.length) {
      val word = ws(w)
      wh1(w) = word.hashCode.toLong
      var f = 0xcbf29ce484222325L
      var c = 0
      while (c < word.length) { f ^= word.charAt(c); f *= 0x100000001b3L; c += 1 }
      wh2(w) = f
      w += 1
    }
    (wh1, wh2)
  }
}

/** A document-level quality filter: score + keep decision.
  * Mirrors the reference DocumentFilter contract
  * (stages/text/filters/doc_filter.py:18-104) as a pure Scala trait —
  * stateless, thread-safe, executor-side. Filters that consume
  * words/sentences/paragraphs override scoreCtx to share the per-doc
  * tokenization.
  */
trait DocFilter extends Serializable {
  def name: String
  def score(text: String): Double = scoreCtx(new DocCtx(text))
  def scoreCtx(ctx: DocCtx): Double
  def keep(score: Double): Boolean
  final def keepDocument(text: String): Boolean = keep(score(text))
}

/** The ~25 Gopher/C4 heuristic filters, semantics ported line-for-line
  * from reference stages/text/filters/heuristic_filter.py (Apache-2.0).
  * Each Scaladoc cites the reference lines. All operate on Python-str
  * semantics via [[graft.text.PyText]].
  *
  * Empty-input edge cases: several reference filters divide by zero on
  * empty token/sentence lists (they only ever run after earlier cascade
  * stages dropped empty docs). We return the DROP-side score in those
  * cases and note it per filter.
  */
object HeuristicFilters {

  /** heuristic_filter.py:47-65 — keep iff non-alphanumeric ratio ≤ 0.25. */
  final case class NonAlphaNumeric(cutoff: Double = 0.25) extends DocFilter {
    val name = "alpha_numeric"
    def scoreCtx(ctx: DocCtx): Double = {
      val text = ctx.text
      val nchar = PyText.len(text)
      if (nchar == 0) return 1.0
      var alnum = 0
      var i = 0
      while (i < text.length) {
        if (Constants.isAlphanumForFilter(text.charAt(i))) alnum += 1
        i += 1
      }
      (nchar - alnum).toDouble / nchar
    }
    def keep(s: Double): Boolean = s <= cutoff
  }

  /** heuristic_filter.py:68-97 — frac of words that are an ellipsis mark or
    * >50% '#'-runs; keep iff ≤ 0.1. Empty word list → 0.0 (reference would
    * raise; unreachable after WordCount in cascade).
    */
  final case class SymbolsToWords(cutoff: Double = 0.1) extends DocFilter {
    val name = "symbol_to_word"
    def scoreCtx(ctx: DocCtx): Double = {
      val ws = ctx.words
      if (ws.isEmpty) return 0.0
      var symbolWords = 0
      var i = 0
      while (i < ws.length) {
        val w = ws(i)
        // runs of '#' (constants.py:77 regex_hash = "#+", findall counts runs)
        var runs = 0
        var j = 0
        var inRun = false
        while (j < w.length) {
          if (w.charAt(j) == '#') { if (!inRun) { runs += 1; inRun = true } }
          else inRun = false
          j += 1
        }
        val symbolRatio = runs.toDouble / PyText.len(w)
        if (Constants.ellipsisMarks.contains(w) || symbolRatio > 0.5) symbolWords += 1
        i += 1
      }
      symbolWords.toDouble / ws.length
    }
    def keep(s: Double): Boolean = s <= cutoff
  }

  /** heuristic_filter.py:100-116 — digit chars / nchar ≤ 0.15. */
  final case class Numbers(cutoff: Double = 0.15) extends DocFilter {
    val name = "numbers_ratio"
    def scoreCtx(ctx: DocCtx): Double = {
      val text = ctx.text
      val nchar = PyText.len(text)
      if (nchar == 0) return 1.0
      var digits = 0
      var i = 0
      while (i < text.length) {
        val cp = text.codePointAt(i)
        if (Character.isDigit(cp)) digits += 1
        i += Character.charCount(cp)
      }
      digits.toDouble / nchar
    }
    def keep(s: Double): Boolean = s <= cutoff
  }

  /** heuristic_filter.py:119-137 — chars inside http(s) URL matches / nchar ≤ 0.2. */
  final case class Urls(cutoff: Double = 0.2) extends DocFilter {
    val name = "urls_ratio"
    def scoreCtx(ctx: DocCtx): Double = {
      val text = ctx.text
      val nchar = PyText.len(text)
      if (nchar == 0) return 1.0
      // cheap pre-check: regex engine only engages if "http" occurs
      if (!text.contains("http")) return 0.0
      val m = Constants.urlPattern.matcher(text)
      var urlChars = 0
      while (m.find()) urlChars += PyText.len(m.group())
      urlChars.toDouble / nchar
    }
    def keep(s: Double): Boolean = s <= cutoff
  }

  /** heuristic_filter.py:140-166 — lines starting with a bullet glyph /
    * lines ≤ 0.9. Empty sentence list → 1.0 (drop side).
    */
  final case class Bullets(cutoff: Double = 0.9) extends DocFilter {
    val name = "bullet_ratio"
    def scoreCtx(ctx: DocCtx): Double = {
      val sents = ctx.sentences
      if (sents.isEmpty) return 1.0
      var bulletLines = 0
      var i = 0
      while (i < sents.length) {
        val s = PyText.strip(sents(i))
        if (Constants.bullets.exists(s.startsWith)) bulletLines += 1
        i += 1
      }
      bulletLines.toDouble / sents.length
    }
    def keep(s: Double): Boolean = s <= cutoff
  }

  /** heuristic_filter.py:169-188 — whitespace chars (\t\n\r\b' ') / nchar ≤ 0.25. */
  final case class WhiteSpace(cutoff: Double = 0.25) extends DocFilter {
    val name = "white_space"
    def scoreCtx(ctx: DocCtx): Double = {
      val text = ctx.text
      val nchar = PyText.len(text)
      if (nchar == 0) return 1.0
      var ws = 0
      var i = 0
      while (i < text.length) {
        val c = text.charAt(i)
        if (c == ' ' || c == '\t' || c == '\n' || c == '\r' || c == '\b') ws += 1
        i += 1
      }
      ws.toDouble / nchar
    }
    def keep(s: Double): Boolean = s <= cutoff
  }

  /** heuristic_filter.py:191-207 — bracket chars / nchar ≤ 0.1. */
  final case class Parentheses(cutoff: Double = 0.1) extends DocFilter {
    val name = "parentheses_ratio"
    def scoreCtx(ctx: DocCtx): Double = {
      val text = ctx.text
      val nchar = PyText.len(text)
      if (nchar == 0) return 1.0
      var parens = 0
      var i = 0
      while (i < text.length) {
        if (Constants.isParen(text.charAt(i))) parens += 1
        i += 1
      }
      parens.toDouble / nchar
    }
    def keep(s: Double): Boolean = s <= cutoff
  }

  /** heuristic_filter.py:210-232 — max word length ≤ 1000.
    * Empty word list → reference max() raises; we return cutoff+1 (drop).
    */
  final case class LongWord(maxWordLength: Int = 1000) extends DocFilter {
    val name = "max_word_length"
    def scoreCtx(ctx: DocCtx): Double = {
      val ws = ctx.words
      if (ws.isEmpty) return (maxWordLength + 1).toDouble
      var mx = 0
      var i = 0
      while (i < ws.length) { val l = PyText.len(ws(i)); if (l > mx) mx = l; i += 1 }
      mx.toDouble
    }
    def keep(s: Double): Boolean = s <= maxWordLength
  }

  /** heuristic_filter.py:235-256 — 50 ≤ word count ≤ 100000. */
  final case class WordCount(minWords: Int = 50, maxWords: Int = 100000) extends DocFilter {
    val name = "word_count"
    def scoreCtx(ctx: DocCtx): Double = ctx.words.length.toDouble
    def keep(s: Double): Boolean = minWords <= s && s <= maxWords
  }

  /** heuristic_filter.py:259-296 — boilerplate-paragraph fraction ≤ 0.4;
    * any "lorem ipsum" paragraph → score 1.0.
    */
  final case class BoilerPlateString(cutoff: Double = 0.4) extends DocFilter {
    val name = "boilerplate_string_ratio"
    def scoreCtx(ctx: DocCtx): Double = {
      val paras = ctx.paragraphs
      var count = 0
      var i = 0
      while (i < paras.length) {
        val p = PyText.lower(PyText.strip(paras(i)))
        if (p.contains("lorem ipsum")) return 1.0
        if (Constants.policySubstrings.exists(p.contains)) count += 1
        i += 1
      }
      count.toDouble / paras.length // paragraphs ≥ 1 always (split of "" is [""])
    }
    def keep(s: Double): Boolean = s <= cutoff
  }

  /** heuristic_filter.py:299-325 — 3 ≤ mean word length ≤ 10.
    * Empty word list → reference raises; we return 0.0 (drop side, <3).
    */
  final case class MeanWordLength(minLen: Double = 3, maxLen: Double = 10) extends DocFilter {
    val name = "mean_word_length"
    def scoreCtx(ctx: DocCtx): Double = {
      val ws = ctx.words
      if (ws.isEmpty) return 0.0
      var sum = 0L
      var i = 0
      while (i < ws.length) { sum += PyText.len(ws(i)); i += 1 }
      sum.toDouble / ws.length
    }
    def keep(s: Double): Boolean = minLen <= s && s <= maxLen
  }

  /** heuristic_filter.py:328-347 — unique lines / lines ≥ 0.7.
    * Empty → 0.0 (drop).
    */
  final case class RepeatedLines(cutoff: Double = 0.7) extends DocFilter {
    val name = "repeated_lines"
    def scoreCtx(ctx: DocCtx): Double = {
      val sents = ctx.sentences
      if (sents.isEmpty) return 0.0
      val seen = new java.util.HashSet[String]()
      var uniq = 0
      var i = 0
      while (i < sents.length) { if (seen.add(sents(i))) uniq += 1; i += 1 }
      uniq.toDouble / sents.length
    }
    def keep(s: Double): Boolean = s >= cutoff
  }

  /** heuristic_filter.py:350-369 — unique paragraphs / paragraphs ≥ 0.7. */
  final case class RepeatedParagraphs(cutoff: Double = 0.7) extends DocFilter {
    val name = "repeated_paragraphs"
    def scoreCtx(ctx: DocCtx): Double = {
      val paras = ctx.paragraphs
      val seen = new java.util.HashSet[String]()
      var uniq = 0
      var i = 0
      while (i < paras.length) { if (seen.add(paras(i))) uniq += 1; i += 1 }
      uniq.toDouble / paras.length
    }
    def keep(s: Double): Boolean = s >= cutoff
  }

  /** heuristic_filter.py:372-392 — chars of unique lines / chars of all
    * lines ≥ 0.8. Empty joined text → 0.0 (drop; reference raises).
    */
  final case class RepeatedLinesByChar(cutoff: Double = 0.8) extends DocFilter {
    val name = "repeated_lines_char"
    def scoreCtx(ctx: DocCtx): Double = {
      val sents = ctx.sentences
      var total = 0L
      var i = 0
      while (i < sents.length) { total += PyText.len(sents(i)); i += 1 }
      if (total == 0) return 0.0
      var uniq = 0L
      val seen = new java.util.HashSet[String]()
      i = 0
      while (i < sents.length) {
        if (seen.add(sents(i))) uniq += PyText.len(sents(i))
        i += 1
      }
      uniq.toDouble / total
    }
    def keep(s: Double): Boolean = s >= cutoff
  }

  /** heuristic_filter.py:395-415 — chars of unique paragraphs / chars of
    * all paragraphs ≥ 0.8.
    */
  final case class RepeatedParagraphsByChar(cutoff: Double = 0.8) extends DocFilter {
    val name = "repeated_paragraphs_char"
    def scoreCtx(ctx: DocCtx): Double = {
      val paras = ctx.paragraphs
      var total = 0L
      var i = 0
      while (i < paras.length) { total += PyText.len(paras(i)); i += 1 }
      if (total == 0) return 0.0
      var uniq = 0L
      val seen = new java.util.HashSet[String]()
      i = 0
      while (i < paras.length) {
        if (seen.add(paras(i))) uniq += PyText.len(paras(i))
        i += 1
      }
      uniq.toDouble / total
    }
    def keep(s: Double): Boolean = s >= cutoff
  }

  /** heuristic_filter.py:418-458 — chars covered by the single most
    * frequent word n-gram / nchar ≤ cutoff. Fewer than n words → 1.0.
    * Char coverage counts NON-OVERLAPPING occurrences of the space-joined
    * ngram string in the ORIGINAL text (the reference's
    * `text.replace(ngram, "")` length diff, heuristic_filter.py:453).
    * Tie-break: reference iterates a Python set (hash-order,
    * PYTHONHASHSEED-dependent → itself nondeterministic); we pick the
    * most frequent ngram with the earliest first occurrence.
    */
  final case class RepeatingTopNGrams(n: Int, cutoff: Double) extends DocFilter {
    val name = s"repeating_top_${n}grams"
    def scoreCtx(ctx: DocCtx): Double = {
      val text = ctx.text
      val ws = ctx.words
      if (ws.length < n) return 1.0
      // count by double-hashed ngram key (no per-window string build);
      // remember the winner's first occurrence to rebuild its string once.
      // Word hashes come from the shared ctx (computed once per doc for
      // all nine n-gram filters); the counter is a reusable open-address
      // table with the same (h1, h2) key identity as the old HashMap.
      val (wh1, wh2) = ctx.wordHashes
      val counts = ngramCounter(ws.length - n + 1)
      var bestCount = 0
      var bestPos = 0
      var i = 0
      while (i <= ws.length - n) {
        var h1 = 1125899906842597L
        var h2 = 0x9e3779b97f4a7c15L
        var j = 0
        while (j < n) {
          h1 = h1 * 31 + wh1(i + j)
          h2 = (h2 ^ wh2(i + j)) * 0xff51afd7ed558ccdL
          j += 1
        }
        val c = counts.inc(h1, h2)
        // ties keep the earlier first-occurrence (same winner as the
        // sequential strictly-greater update over joined strings)
        if (c > bestCount) { bestCount = c; bestPos = i }
        i += 1
      }
      counts.release()
      val sb = new java.lang.StringBuilder()
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(ws(bestPos + j))
        j += 1
      }
      val best = sb.toString
      val nchar = PyText.len(text)
      if (nchar == 0) return 1.0
      val lenDiff = PyText.countOccurrences(text, best).toLong * PyText.len(best)
      lenDiff.toDouble / nchar
    }
    def keep(s: Double): Boolean = s <= cutoff
  }

  /** heuristic_filter.py:461-507 — chars inside duplicated n-grams
    * (overlap-adjusted, ported verbatim from :488-500) / nchar ≤ cutoff.
    * Hashes n-gram word slices instead of building joined strings —
    * no per-window string allocation.
    */
  final case class RepeatingDuplicateNGrams(n: Int, cutoff: Double) extends DocFilter {
    val name = s"repeating_dup_${n}gram"
    def scoreCtx(ctx: DocCtx): Double = {
      val text = ctx.text
      val ws = ctx.words
      if (ws.length < n) return 1.0
      // seen-set over ngram identity: a composite 128-bit-ish key of
      // per-word hashes (shared via ctx — two independent word hashes,
      // so a false ngram merge needs a simultaneous collision in both,
      // ~2^-64 per pair) avoids building the joined string per window
      val (wh1, wh2) = ctx.wordHashes
      val counts = ngramCounter(ws.length - n + 1)
      var duplicatedNchar = 0L
      var overlapping = 0
      var i = 0
      while (i <= ws.length - n) {
        var h1 = 1125899906842597L
        var h2 = 0x9e3779b97f4a7c15L
        var j = 0
        while (j < n) {
          h1 = h1 * 31 + wh1(i + j)
          h2 = (h2 ^ wh2(i + j)) * 0xff51afd7ed558ccdL
          j += 1
        }
        val c = counts.inc(h1, h2)
        if (c > 1) {
          var dup = 0L
          var k = overlapping
          while (k < n) { dup += PyText.len(ws(i + k)); k += 1 }
          val nspaces = math.min(n - overlapping, n - 1)
          duplicatedNchar += dup + nspaces
          overlapping = n
        }
        overlapping = math.max(overlapping - 1, 0)
        i += 1
      }
      counts.release()
      val nchar = PyText.len(text)
      if (nchar == 0) return 1.0
      duplicatedNchar.toDouble / nchar
    }
    def keep(s: Double): Boolean = s <= cutoff
  }

  /** Reusable per-thread open-addressing (h1, h2) -> count table for the
    * n-gram repetition filters: same key identity as the old boxed
    * NGramKey HashMap (equality on the exact 128-bit pair) with zero
    * per-window allocation. counts==0 marks an empty slot; reset only
    * zeroes the capacity a document needs.
    */
  private[filters] final class NGramCounter {
    private var keys1 = new Array[Long](DefaultNGramCap)
    private var keys2 = new Array[Long](DefaultNGramCap)
    private var counts = new Array[Int](DefaultNGramCap)
    private var mask = DefaultNGramCap - 1
    def capacity: Int = keys1.length
    def reset(windows: Int): Unit = {
      val cap = ngramTableCap(windows)
      if (keys1.length < cap) resize(cap)
      mask = cap - 1
      java.util.Arrays.fill(counts, 0, cap, 0)
    }
    /** Drops a table grown past [[MaxRetainedNGramCap]] for an oversized
      * doc, so a thread does not pin it for the JVM's lifetime. */
    def release(): Unit = if (keys1.length > MaxRetainedNGramCap) resize(DefaultNGramCap)
    private def resize(cap: Int): Unit = {
      keys1 = new Array[Long](cap)
      keys2 = new Array[Long](cap)
      counts = new Array[Int](cap)
    }
    /** Increment the count of (h1, h2); returns the new count. */
    def inc(h1: Long, h2: Long): Int = {
      val x = (h1 * -7046029254386353131L) ^ h2
      var idx = ((x ^ (x >>> 32)) & mask).toInt
      while (true) {
        val c = counts(idx)
        if (c == 0) {
          keys1(idx) = h1; keys2(idx) = h2; counts(idx) = 1
          return 1
        }
        if (keys1(idx) == h1 && keys2(idx) == h2) {
          counts(idx) = c + 1
          return c + 1
        }
        idx = (idx + 1) & mask
      }
      0 // unreachable
    }
  }

  private val DefaultNGramCap = 1 << 11
  /** Tables beyond this capacity (~1.3 MB) are shrunk back after use. */
  private[filters] val MaxRetainedNGramCap = 1 << 16

  /** Power-of-two table size at most half full for `windows` keys. Long
    * arithmetic: an Int `windows * 2` past 2^30 went negative and left a
    * 2048-slot table to probe forever. */
  private[filters] def ngramTableCap(windows: Int): Int = {
    var cap = DefaultNGramCap.toLong
    while (cap < windows.toLong * 2) cap <<= 1
    require(cap <= (1 << 30), s"$windows n-gram windows exceed the largest counter table")
    cap.toInt
  }

  private[filters] val ngramScratch: ThreadLocal[NGramCounter] =
    ThreadLocal.withInitial(() => new NGramCounter)

  /** The thread's counter, reset for `windows` keys; call `release()` after use. */
  private def ngramCounter(windows: Int): NGramCounter = {
    val c = ngramScratch.get()
    c.reset(windows)
    c
  }

  /** heuristic_filter.py:510-530 — sentences not ending in .?!"' / sentences
    * ≤ 0.85. Empty → 1.0 (drop).
    */
  final case class Punctuation(cutoff: Double = 0.85) extends DocFilter {
    val name = "punctuation"
    def scoreCtx(ctx: DocCtx): Double = {
      val sents = ctx.sentences
      if (sents.isEmpty) return 1.0
      var noEnd = 0
      var i = 0
      while (i < sents.length) {
        val s = PyText.strip(sents(i))
        if (!Constants.endMarks.exists(s.endsWith)) noEnd += 1
        i += 1
      }
      noEnd.toDouble / sents.length
    }
    def keep(s: Double): Boolean = s <= cutoff
  }

  /** heuristic_filter.py:533-557 — sentences ending with an ellipsis mark /
    * sentences ≤ 0.3. Empty → 1.0 (drop).
    */
  final case class Ellipsis(cutoff: Double = 0.3) extends DocFilter {
    val name = "ellipsis"
    def scoreCtx(ctx: DocCtx): Double = {
      val sents = ctx.sentences
      if (sents.isEmpty) return 1.0
      var count = 0
      var i = 0
      while (i < sents.length) {
        val s = PyText.lower(PyText.strip(sents(i)))
        if (Constants.ellipsisMarks.exists(s.endsWith)) count += 1
        i += 1
      }
      count.toDouble / sents.length
    }
    def keep(s: Double): Boolean = s <= cutoff
  }

  /** heuristic_filter.py:560-589 — count of common lowercase English words,
    * early-exit at cutoff; keep iff ≥ 2.
    */
  final case class CommonEnglishWords(cutoff: Int = 2, stopAtFalse: Boolean = true) extends DocFilter {
    val name = "common_english_words"
    def scoreCtx(ctx: DocCtx): Double = {
      val ws = ctx.words
      var count = 0
      var i = 0
      while (i < ws.length) {
        if (Constants.commonEnglishWords.contains(ws(i))) count += 1
        if (stopAtFalse && count >= cutoff) return count.toDouble
        i += 1
      }
      count.toDouble
    }
    def keep(s: Double): Boolean = s >= cutoff
  }

  /** heuristic_filter.py:592-618 — words containing an alphabetic char /
    * words ≥ 0.8. Empty word list → 0.0 (drop; reference raises).
    */
  final case class WordsWithoutAlphabets(cutoff: Double = 0.8) extends DocFilter {
    val name = "words_without_alphabets"
    def scoreCtx(ctx: DocCtx): Double = {
      val ws = ctx.words
      if (ws.isEmpty) return 0.0
      var withAlpha = 0
      var i = 0
      while (i < ws.length) {
        val w = ws(i)
        var j = 0
        var found = false
        while (j < w.length && !found) {
          val cp = w.codePointAt(j)
          if (Character.isLetter(cp)) found = true
          j += Character.charCount(cp)
        }
        if (found) withAlpha += 1
        i += 1
      }
      withAlpha.toDouble / ws.length
    }
    def keep(s: Double): Boolean = s >= cutoff
  }

  /** heuristic_filter.py:621-638 — 1 if any URL contains "porn", else 0;
    * keep iff score != 1.
    */
  final case class PornographicUrls() extends DocFilter {
    val name = "pornographic_urls"
    def scoreCtx(ctx: DocCtx): Double = {
      if (!ctx.text.contains("http")) return 0.0
      val m = Constants.urlPattern.matcher(ctx.text)
      while (m.find()) if (m.group().contains("porn")) return 1.0
      0.0
    }
    def keep(s: Double): Boolean = s != 1.0
  }

  /** heuristic_filter.py:706-737 — substring presence at prefix/suffix/any. */
  final case class Substring(substring: String, position: String) extends DocFilter {
    require(Set("prefix", "suffix", "any").contains(position))
    val name = s"substring_$position"
    def scoreCtx(ctx: DocCtx): Double = position match {
      case "prefix" => if (ctx.text.startsWith(substring)) 1.0 else 0.0
      case "suffix" => if (ctx.text.endsWith(substring)) 1.0 else 0.0
      case _        => if (ctx.text.contains(substring)) 1.0 else 0.0
    }
    def keep(s: Double): Boolean = s == 1.0
  }

  /** heuristic_filter.py:740-837 — NLLB histogram filter: 1 iff the
    * fraction of chars from the per-language trusted char set exceeds the
    * threshold (cheap language-ID). Char set is injected (broadcast at the
    * call site), not downloaded.
    */
  final case class Histogram(chars: Set[Char], threshold: Double = 0.8) extends DocFilter {
    val name = "histogram"
    def scoreCtx(ctx: DocCtx): Double = {
      val text = ctx.text
      val stripped = PyText.strip(text)
      var cnt = 0
      var i = 0
      while (i < stripped.length) {
        if (chars.contains(stripped.charAt(i))) cnt += 1
        i += 1
      }
      val nchar = PyText.len(text) // reference divides by len(text), not stripped
      if (nchar == 0) return 0.0
      if (cnt.toDouble / nchar > threshold) 1.0 else 0.0
    }
    def keep(s: Double): Boolean = s == 1.0
  }

  /** Token count filter (heuristic_filter.py:641-703 uses an HF
    * tokenizer; offline we plug any `String => Int` tokenizer; default is
    * the BPE-ish regex tokenizer in [[graft.analysis.TextStats]]).
    */
  final case class TokenCount(countFn: String => Int, minTokens: Int = 0,
                              maxTokens: Int = Int.MaxValue) extends DocFilter {
    val name = "token_count"
    def scoreCtx(ctx: DocCtx): Double = countFn(ctx.text).toDouble
    def keep(s: Double): Boolean = minTokens <= s && s <= maxTokens
  }

  /** The 28-stage English cascade, exact order and thresholds of
    * config/text/heuristic_filter_english_pipeline.yaml:50-239.
    */
  val englishCascade: Array[DocFilter] = Array(
    NonAlphaNumeric(0.25),
    SymbolsToWords(0.1),
    Numbers(0.15),
    Urls(0.2),
    WhiteSpace(0.25),
    Parentheses(0.1),
    BoilerPlateString(0.4),
    RepeatedLines(0.7),
    RepeatedParagraphs(0.7),
    RepeatedLinesByChar(0.8),
    RepeatedParagraphsByChar(0.8),
    WordCount(50, 100000),
    Punctuation(0.85),
    WordsWithoutAlphabets(0.8),
    CommonEnglishWords(2, stopAtFalse = true),
    MeanWordLength(3, 10),
    LongWord(1000),
    Ellipsis(0.3),
    RepeatingTopNGrams(2, 0.2),
    RepeatingTopNGrams(3, 0.18),
    RepeatingTopNGrams(4, 0.16),
    RepeatingDuplicateNGrams(5, 0.15),
    RepeatingDuplicateNGrams(6, 0.14),
    RepeatingDuplicateNGrams(7, 0.13),
    RepeatingDuplicateNGrams(8, 0.12),
    RepeatingDuplicateNGrams(9, 0.11),
    RepeatingDuplicateNGrams(10, 0.10),
    Bullets(0.9)
  )

  /** The 25-stage NON-English cascade, exact order and thresholds of
    * config/text/heuristic_filter_non_english_pipeline.yaml — the
    * English cascade minus its language-specific stages
    * (NonAlphaNumeric, CommonEnglishWords, WordsWithoutAlphabets).
    */
  val nonEnglishCascade: Array[DocFilter] = Array(
    SymbolsToWords(0.1),
    Numbers(0.15),
    Urls(0.2),
    WhiteSpace(0.25),
    Parentheses(0.1),
    BoilerPlateString(0.4),
    RepeatedLines(0.7),
    RepeatedParagraphs(0.7),
    RepeatedLinesByChar(0.8),
    RepeatedParagraphsByChar(0.8),
    WordCount(50, 100000),
    Punctuation(0.85),
    MeanWordLength(3, 10),
    LongWord(1000),
    Ellipsis(0.3),
    RepeatingTopNGrams(2, 0.2),
    RepeatingTopNGrams(3, 0.18),
    RepeatingTopNGrams(4, 0.16),
    RepeatingDuplicateNGrams(5, 0.15),
    RepeatingDuplicateNGrams(6, 0.14),
    RepeatingDuplicateNGrams(7, 0.13),
    RepeatingDuplicateNGrams(8, 0.12),
    RepeatingDuplicateNGrams(9, 0.11),
    RepeatingDuplicateNGrams(10, 0.10),
    Bullets(0.9)
  )
}
