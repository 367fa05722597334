package graft.text

/** One scan of a document's text, taken once and read by every operator
  * of `Extractor.finish` (classification, fields, confidence, quality,
  * language hints) instead of each rescanning the text for the same
  * counts. The lowercase copy and the keyword hits are taken on first
  * use, so a profile the escalation ladder builds for its quality check
  * costs no lowercasing unless the extractor goes on to use that text.
  *
  * @param lowerIn the caller's `text.toLowerCase`, or null to take it here
  */
final class TextProfile private (
    val text: String,
    lowerIn: String,
    val alnum: Int,        // isPyAlnum chars
    val printable: Int,    // ASCII printable plus \n \r \t
    val cardSpanDigits: Int, // most digits in one run of digits, ws, '-', astral
    val maxDigitRun: Int,  // longest run of consecutive digits
    foldDivergent: Boolean) {

  /** `pyStrip(text) == text`: the text is its own stripped view. */
  def stripped: Boolean = text.isEmpty ||
    !(isPySpace(text.charAt(0)) || isPySpace(text.charAt(text.length - 1)))

  lazy val lower: String = if (lowerIn != null) lowerIn else text.toLowerCase

  /** The lowercase copy is index-aligned with the text and folds like a
    * case-insensitive matcher (see [[graft.text.isFoldDivergent]]). */
  lazy val foldSafe: Boolean = lower.length == text.length && !foldDivergent

  /** Presence of every `CardIntel` keyword and `Confidence` marker, one
    * Aho-Corasick pass over [[lower]]. */
  lazy val keywordHits: Array[Boolean] = CardIntel.keywordHits(lower)
}

object TextProfile {
  // per char: bit 0 alnum, bit 1 printable, bit 2 digit, bit 3 continues
  // a card span without a digit — ws, '-', and surrogates (the card
  // regex reads an astral digit as `\d`; the candidate drops it)
  private def kind(c: Char): Int =
    (if (isPyAlnum(c)) 1 else 0) |
      (if ((c > 31 && c < 127) || c == '\n' || c == '\r' || c == '\t') 2 else 0) |
      (if (isPyDigit(c)) 4 else 0) |
      (if (isRegexWs(c) || c == '-' || Character.isSurrogate(c)) 8 else 0)
  private val ascii: Array[Int] = Array.tabulate(128)(i => kind(i.toChar))

  def apply(text: String, lower: String = null): TextProfile = {
    var alnum = 0; var printable = 0
    var run = 0; var maxRun = 0; var span = 0; var maxSpan = 0
    var fold = false
    var i = 0
    while (i < text.length) {
      val c = text.charAt(i)
      val k = if (c < 128) ascii(c) // only non-ASCII can fold divergently
        else { if (isFoldDivergent(c)) fold = true; kind(c) }
      alnum += k & 1
      printable += (k >> 1) & 1
      if ((k & 4) != 0) {
        run += 1; if (run > maxRun) maxRun = run
        span += 1; if (span > maxSpan) maxSpan = span
      } else {
        run = 0
        if ((k & 8) == 0) span = 0
      }
      i += 1
    }
    new TextProfile(text, lower, alnum, printable, maxSpan, maxRun, fold)
  }
}
