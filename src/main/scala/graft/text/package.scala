package graft

/** Shared helpers for the pure text operators (SURVEY §2.3–2.4).
  *
  * The reference is Python; a few of its primitives need care to reproduce
  * byte-identically on the JVM:
  *  - Python `round(x, n)` rounds the exact binary double, ties-to-even.
  *  - Python `re` treats `\d`/`\w`/`\s`/`\b` as Unicode classes on `str`.
  *  - Python `str.isdigit`/`isalnum` are Unicode-aware.
  *
  * BMP-ONLY CONTRACT: the per-`Char` class helpers (isPyDigit,
  * isRegexWordChar, isRegexWs, …) iterate UTF-16 code UNITS, while
  * Python's regex engine iterates code POINTS. They agree on every BMP
  * character (exhaustively fuzzed in RegexParitySpec) but diverge on
  * supplementary-plane characters — e.g. U+1D7CE MATHEMATICAL BOLD DIGIT
  * ZERO matches Python `\d` but is two surrogates here, neither a digit.
  * The counters built on them (digitCount, maxDigitRun, countWords
  * gates) therefore treat astral digits/letters as noise. This is a
  * deliberate trade: code-point iteration costs a branch per char in the
  * hottest loops, and astral DIGITS in crawled fintech documents are
  * adversarial-exotic (the reference's own OCR route can't even emit
  * them — its recognizer alphabet is BMP). RegexParitySpec pins the
  * divergence explicitly so a future contract change is a conscious one.
  *
  * ONE SCAN PER DOCUMENT: the operators `Extractor.finish` runs
  * (CardIntel, FieldExtractor, Confidence, Quality, LangHints) read the
  * document's [[TextProfile]] — its counts, longest digit run, lowercase
  * copy, fold-safety verdict and keyword hits — and must not rescan the
  * text for any of them. A new per-document count belongs in the
  * profile's one pass; the String-taking entry points build a profile
  * of their own.
  */
package object text {

  /** Python-compatible round(x, n): exact binary value, HALF_EVEN. */
  def pyRound(x: Double, n: Int): Double = {
    if (x.isNaN || x.isInfinite) x
    else new java.math.BigDecimal(x)
      .setScale(n, java.math.RoundingMode.HALF_EVEN)
      .doubleValue()
  }

  // The per-char classes below answer ASCII from its ranges and defer
  // to `Character` above it; CharClassSpec checks all 65,536 BMP chars
  // against the plain `Character` definitions.

  /** Python str.isdigit() per char (Unicode decimal digits). */
  @inline def isPyDigit(c: Char): Boolean =
    if (c < 0x80) c >= '0' && c <= '9' else Character.isDigit(c)

  @inline private def isAsciiAlnum(c: Char): Boolean =
    (c >= '0' && c <= '9') || ((c | 0x20) >= 'a' && (c | 0x20) <= 'z')

  /** Python str.isalnum() per char (letters or digits, Unicode). */
  @inline def isPyAlnum(c: Char): Boolean =
    if (c < 0x80) isAsciiAlnum(c) else Character.isLetterOrDigit(c)

  /** Python str.isspace() per char. */
  @inline def isPySpace(c: Char): Boolean =
    Character.isWhitespace(c) || Character.isSpaceChar(c)

  /** Count of digit chars — `_digit_count`, ocr_engine.py:361-364. */
  def digitCount(s: String): Int = {
    var n = 0; var i = 0
    while (i < s.length) { if (isPyDigit(s.charAt(i))) n += 1; i += 1 }
    n
  }

  /** Non-digit, non-space char count ("noise"), ocr_engine.py:1057. */
  def noiseCount(s: String): Int = {
    var n = 0; var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (!isPyDigit(c) && !isPySpace(c)) n += 1
      i += 1
    }
    n
  }

  /** Digits-only projection (re.sub(r"\D", "", s)). */
  def digitsOnly(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (isPyDigit(c)) sb.append(c)
      i += 1
    }
    sb.toString
  }

  import java.util.regex.Pattern
  /** Compile with Unicode classes to match Python `re` semantics. */
  def uPattern(regex: String, flags: Int = 0): Pattern =
    Pattern.compile(regex, flags | Pattern.UNICODE_CHARACTER_CLASS)

  /** Exactly the char set Java regex `\s` matches under
    * UNICODE_CHARACTER_CLASS (Unicode White_Space) — NOT the same as
    * `Character.isWhitespace` (which excludes NEL/NBSP-family chars).
    * Kept in sync by the RegexParitySpec fuzz test. */
  @inline def isRegexWs(c: Char): Boolean =
    if (c <= ' ') c == ' ' || (c >= 0x09 && c <= 0x0d)
    else c >= 0x85 && (c == 0x85 || c == 0xa0 || c == 0x1680 ||
      (c >= 0x2000 && c <= 0x200a) || c == 0x2028 || c == 0x2029 ||
      c == 0x202f || c == 0x205f || c == 0x3000)

  /** re.sub(r"\s+", " ", s) with Unicode whitespace. */
  def collapseWs(s: String): String = collapseRange(s, 0, s.length)

  /** re.sub(r"\s+", " ", s).strip() (Java `trim`: chars <= ' '). The
    * edge runs of whitespace and control chars are exactly what the
    * collapse-then-trim drops, so only the range between them is
    * collapsed. */
  def collapseWsStrip(s: String): String = {
    var a = 0
    var b = s.length
    while (a < b && (s.charAt(a) <= ' ' || isRegexWs(s.charAt(a)))) a += 1
    while (b > a && (s.charAt(b - 1) <= ' ' || isRegexWs(s.charAt(b - 1)))) b -= 1
    collapseRange(s, a, b)
  }

  /** collapseWs of `s[a, b)`: one scan that copies the runs between
    * whitespace in bulk, and no copy at all when nothing collapses (the
    * common case on the sanitize→analyze hot path returns `s` itself). */
  private def collapseRange(s: String, a: Int, b: Int): String = {
    var out: Array[Char] = null // getChars copies in bulk; the JDK 17
    var len = 0 // StringBuilder.append(CharSequence, …) goes char by char
    var from = a // first char not yet copied
    var i = a
    while (i < b) {
      if (isRegexWs(s.charAt(i))) {
        var j = i + 1
        while (j < b && isRegexWs(s.charAt(j))) j += 1
        if (j - i > 1 || s.charAt(i) != ' ') {
          if (out == null) out = new Array[Char](b - a)
          s.getChars(from, i, out, len)
          len += i - from
          out(len) = ' '; len += 1
          from = j
        }
        i = j
      } else i += 1
    }
    if (out != null) {
      s.getChars(from, b, out, len)
      new String(out, 0, len + b - from)
    } else if (a == 0 && b == s.length) s
    else s.substring(a, b)
  }

  /** Python str.strip(): strips Unicode whitespace at both ends
    * (Java's String.trim is ASCII-only). */
  def pyStrip(s: String): String = {
    var a = 0
    var b = s.length
    while (a < b && isPySpace(s.charAt(a))) a += 1
    while (b > a && isPySpace(s.charAt(b - 1))) b -= 1
    if (a == 0 && b == s.length) s else s.substring(a, b)
  }

  /** All runs of digits (re.findall(r"\d+", s)) — hand-rolled single
    * pass; `isPyDigit` is exactly `\d` under UNICODE_CHARACTER_CLASS
    * (`\p{Nd}`, fuzz-checked in RegexParitySpec). */
  def digitGroups(s: String): List[String] = {
    val b = List.newBuilder[String]
    var i = 0
    val n = s.length
    while (i < n) {
      if (isPyDigit(s.charAt(i))) {
        val start = i
        while (i < n && isPyDigit(s.charAt(i))) i += 1
        b += s.substring(start, i)
      } else i += 1
    }
    b.result()
  }

  /** Exactly Java regex `\w` under UNICODE_CHARACTER_CLASS:
    * [\p{Alpha}\p{gc=Mn}\p{gc=Me}\p{gc=Mc}\p{Digit}\p{gc=Pc}\p{Join_Control}].
    * Kept in sync by the RegexParitySpec fuzz test. */
  @inline def isRegexWordChar(c: Char): Boolean = {
    if (c < 0x80) isAsciiAlnum(c) || c == '_'
    else if (Character.isAlphabetic(c) || Character.isDigit(c)) true
    else {
      val t = Character.getType(c)
      t == Character.NON_SPACING_MARK || t == Character.ENCLOSING_MARK ||
        t == Character.COMBINING_SPACING_MARK ||
        t == Character.CONNECTOR_PUNCTUATION || c == 0x200c || c == 0x200d
    }
  }

  /** Chars whose one-to-one `String.toLowerCase` image disagrees with
    * the fold a case-insensitive matcher applies, so the aligned
    * lowercase probe copy lies about matchability and the length check
    * alone cannot catch it:
    *  - regex double fold `toLower(toUpper(c))` differs from
    *    `toLower(c)`: U+0131 ı and U+017F ſ match I/S under
    *    CASE_INSENSITIVE|UNICODE_CASE yet never equal an i/s gate in
    *    the lowercase copy (a missed match);
    *  - a non-ASCII char lowercases INTO ASCII: U+212A KELVIN SIGN →
    *    'k' gate-hits the probe copy where an ASCII-CI Pattern (no
    *    UNICODE_CASE) would not match (a false positive).
    * Fast-path scanners fall back to the real Pattern when any such
    * char is present — the fallback is always-correct, just slower. */
  @inline def isFoldDivergent(c: Char): Boolean =
    (FoldDivergent(c >>> 6) & (1L << c)) != 0

  /** [[isFoldDivergent]] as a bitmap over the BMP, built once. */
  private val FoldDivergent: Array[Long] = {
    val bits = new Array[Long](1024)
    var c = 0x80
    while (c <= 0xffff) {
      val lo = Character.toLowerCase(c.toChar)
      if (lo != Character.toLowerCase(Character.toUpperCase(c.toChar)) || lo < 0x80)
        bits(c >>> 6) |= 1L << c
      c += 1
    }
    bits
  }

  /** Any fold-divergent char in `s` (scan the ORIGINAL text — Kelvin K
    * is invisible in the lowercase copy). */
  def hasFoldDivergent(s: String): Boolean = {
    var i = 0
    while (i < s.length) {
      if (isFoldDivergent(s.charAt(i))) return true
      i += 1
    }
    false
  }

  /** Longest run of consecutive digit chars — cheap necessary-condition
    * gate for digit-shaped regexes (a pattern needing k consecutive
    * digits cannot match when maxDigitRun < k). */
  def maxDigitRun(s: String): Int = {
    var best = 0
    var run = 0
    var i = 0
    while (i < s.length) {
      if (isPyDigit(s.charAt(i))) { run += 1; if (run > best) best = run }
      else run = 0
      i += 1
    }
    best
  }

  /** " ".join(s[i:i+4] for i in range(0,len,4)).strip() — group in 4s. */
  def groupIn4s(s: String): String = {
    if (s.isEmpty) return ""
    val sb = new java.lang.StringBuilder(s.length + s.length / 4 + 1)
    var i = 0
    while (i < s.length) {
      if (i > 0) sb.append(' ')
      sb.append(s, i, math.min(i + 4, s.length))
      i += 4
    }
    sb.toString.trim
  }
}
