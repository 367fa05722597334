package graft.text

/** Card-text candidate scoring & partial-capture handling.
  *
  * Ports (from /root/reference/ocr_service/modules/ocr_engine.py):
  *  - `_last_group_is_truncated`              :1032-1038
  *  - `_score_card_text`                      :1040-1066
  *  - `_has_suspicious_partial_zero_tail`     :1072-1096
  *  - `_trim_spurious_trailing_zero_variant`  :1098-1129
  *  - `_mark_uncertain_partial_card_tail`     :1131-1140
  *  - `_format_digits_like_base`              :551-562
  *  - `_is_usable_card_capture`               :2166-2180
  */
object CardScore {

  /** 7-tuple lexicographic score: (luhn_valid_count, plausible≥13 count,
    * truncated bonus, -suspicious-tail, max_len, digit_count, -noise). */
  final case class Score(
      validCount: Int, plausibleCount: Int, truncatedBonus: Int,
      negSuspiciousTail: Int, maxLen: Int, digitCount: Int, negNoise: Int)

  object Score {
    implicit val ordering: Ordering[Score] =
      Ordering.by(s => (s.validCount, s.plausibleCount, s.truncatedBonus,
        s.negSuspiciousTail, s.maxLen, s.digitCount, s.negNoise))
  }

  /** Last numeric group is a partial (1–3 digit) capture. */
  def lastGroupIsTruncated(text: String): Boolean = {
    val groups = digitGroups(if (text == null) "" else text)
    groups.nonEmpty && (1 to 3).contains(groups.last.length)
  }

  def scoreCardText(text: String): Score = {
    val cards = CardIntel.cardAnalysis(if (text == null) "" else text)
    val plausible = cards.candidates.count(_.length >= 13)
    val maxLen =
      if (cards.candidates.isEmpty) 0 else cards.candidates.map(_.length).max
    val truncatedBonus =
      if (maxLen < 13 && lastGroupIsTruncated(text)) 1 else 0
    val suspiciousTail = if (hasSuspiciousPartialZeroTail(text)) 1 else 0
    Score(
      validCount = cards.luhn_valid_count,
      plausibleCount = plausible,
      truncatedBonus = truncatedBonus,
      negSuspiciousTail = -suspiciousTail,
      maxLen = maxLen,
      digitCount = graft.text.digitCount(if (text == null) "" else text),
      negNoise = -noiseCount(if (text == null) "" else text))
  }

  /** Likely spurious trailing zero in a short/partial card-like string. */
  def hasSuspiciousPartialZeroTail(text: String): Boolean = {
    val cleaned = collapseWsStrip(if (text == null) "" else text)
    if (cleaned.isEmpty || !cleaned.endsWith("0")) return false
    val groups = digitGroups(cleaned)
    if (groups.isEmpty || !groups.last.endsWith("0")) return false
    val compact = groups.mkString
    if (compact.length < 9 || compact.length >= 13) return false
    val cards = CardIntel.cardAnalysis(cleaned)
    if (cards.luhn_valid_count > 0) return false
    if (cards.candidates.isEmpty) return false
    cards.candidates.forall(_.length < 13)
  }

  /** Conservative variant dropping one trailing zero of an over-read tail;
    * "" when not applicable. */
  def trimSpuriousTrailingZeroVariant(text: String): String = {
    val cleaned = collapseWsStrip(if (text == null) "" else text)
    if (cleaned.isEmpty || !cleaned.endsWith("0")) return ""
    val groups = digitGroups(cleaned)
    if (groups.length < 2 || groups.last.length != 4) return ""
    val compact = groups.mkString
    if (compact.length < 9 || compact.length >= 13) return ""
    val cards = CardIntel.cardAnalysis(cleaned)
    if (cards.luhn_valid_count > 0) return ""
    if (cards.candidates.isEmpty) return ""
    if (cards.candidates.exists(_.length >= 13)) return ""
    val trimmed = compact.dropRight(1)
    if (trimmed.length < 8) return ""
    formatDigitsLikeBase(trimmed, cleaned)
  }

  /** Re-group `digits` following the base text's digit-group lengths when
    * total lengths agree; otherwise group in 4s. ocr_engine.py:551-562 */
  def formatDigitsLikeBase(digits: String, baseText: String): String = {
    val groups = digitGroups(if (baseText == null) "" else baseText)
    if (groups.nonEmpty && groups.map(_.length).sum == digits.length) {
      val out = new java.lang.StringBuilder(digits.length + groups.length)
      var offset = 0
      groups.foreach { g =>
        if (out.length() > 0) out.append(' ')
        out.append(digits, offset, offset + g.length)
        offset += g.length
      }
      out.toString.trim
    } else groupIn4s(digits)
  }

  /** Replace suspicious trailing `0` with `?` (manual-review marker). */
  def markUncertainPartialCardTail(text: String): String =
    markCollapsedTail(collapseWsStrip(if (text == null) "" else text))

  /** [[markUncertainPartialCardTail]] of a text that collapsing and
    * stripping leaves unchanged — as `Sanitizer.sanitize` output always
    * is (SanitizerSpec) — without that scan. */
  def markCollapsedTail(cleaned: String): String =
    // the tail first: only a text ending in '0' can be marked, and the
    // full check collapses its input once more
    if (!cleaned.endsWith("0") || !hasSuspiciousPartialZeroTail(cleaned)) cleaned
    else cleaned.dropRight(1) + "?"

  /** Usable-card gate — suppress gibberish in explicit card mode. */
  def isUsableCardCapture(text: String): Boolean = {
    if (text == null || text.isEmpty) return false
    val s = scoreCardText(text)
    val noise = noiseCount(text)
    if (s.validCount > 0 || s.maxLen >= 13) return true
    if (s.digitCount < 8) return false
    (s.maxLen >= 8 && noise <= 2) || (s.digitCount >= 12 && noise <= 3)
  }
}
