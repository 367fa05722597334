package graft.text

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** The extraction kernel's fast paths against the definitions they
  * stand for: the per-char classes over every BMP char, and the fused or
  * bulk text passes against their sequential references on generated
  * strings rich in the chars each pass branches on. */
class FastPathParitySpec extends AnyFunSuite {

  private def checkProp(prop: Prop, n: Int = 500): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(n), prop)
    // escaped: a lone surrogate in a report cannot be written out
    assert(res.passed, res.status.toString.flatMap(c =>
      if (c < 32 || c > 126) f"\\u${c.toInt}%04x" else c.toString))
  }

  private def everyBmpChar(check: Char => Unit): Unit = {
    var c = 0
    while (c <= 0xffff) { check(c.toChar); c += 1 }
  }

  test("isPyDigit / isPyAlnum == Character.isDigit / isLetterOrDigit for every BMP char") {
    everyBmpChar { c =>
      assert(isPyDigit(c) == Character.isDigit(c), f"U+${c.toInt}%04X")
      assert(isPyAlnum(c) == Character.isLetterOrDigit(c), f"U+${c.toInt}%04X")
    }
  }

  test("isRegexWordChar == its Character definition for every BMP char") {
    everyBmpChar { c =>
      val t = Character.getType(c)
      val expected = Character.isAlphabetic(c) || Character.isDigit(c) ||
        t == Character.NON_SPACING_MARK || t == Character.ENCLOSING_MARK ||
        t == Character.COMBINING_SPACING_MARK ||
        t == Character.CONNECTOR_PUNCTUATION || c == 0x200c || c == 0x200d
      assert(isRegexWordChar(c) == expected, f"U+${c.toInt}%04X")
    }
  }

  test("isFoldDivergent table == its Character definition for every BMP char") {
    everyBmpChar { c =>
      val lo = Character.toLowerCase(c)
      val expected = c >= 0x80 &&
        (lo != Character.toLowerCase(Character.toUpperCase(c)) || lo < 0x80)
      assert(isFoldDivergent(c) == expected, f"U+${c.toInt}%04X")
    }
  }

  // chars every pass below branches on: ASCII word/digit/punct/control,
  // each whitespace species, span separators, non-ASCII digits and
  // letters, fold-divergent chars, valid pairs and lone surrogates
  private val atoms: IndexedSeq[String] = IndexedSeq(
    "a", "Z", "7", "0", "_", " ", "  ", "\t", "\n", "\r", "\u000b", "\f",
    "\u0001", "\u001f", "\u007f", "\u0085", " ", " ", "　",
    " ", "-", ".", ",", ":", ";", "/", "|", "\\", "'", "\"", "—",
    "’", "“", "#", "!", "é", "ñ", "ß", "١", "１", "ı",
    "ſ", "K", "İ", "́", "😀", "\ud835\udfce", "\ud83d", "\ude00",
    "�", "4111", "12/05", "1234-5678", "date", "Total", "iva", "dni ", "Name")

  private val text: Gen[String] =
    Gen.listOf(Gen.oneOf(atoms)).map(_.mkString)

  test("collapseWs / collapseWsStrip == the regex reference") {
    val wsRun = uPattern("\\s+")
    checkProp(Prop.forAll(text) { s =>
      val expected = wsRun.matcher(s).replaceAll(" ")
      collapseWs(s) == expected && collapseWsStrip(s) == expected.trim
    })
  }

  test("fused Sanitizer phase 1 == scrubFilterCollapseReference + digitStats") {
    checkProp(Prop.forAll(text) { s =>
      val p = Sanitizer.phase1(s)
      val ref = Sanitizer.scrubFilterCollapseReference(s)
      p.text == ref &&
        (p.digits, p.maxRun, p.maxSpanDigits) == Sanitizer.digitStats(ref)
    })
  }

  test("sanitize output is already collapsed and stripped") {
    checkProp(Prop.forAll(text) { s =>
      val out = Sanitizer.sanitize(s)
      collapseWsStrip(out) == out
    }, 2000)
  }

  /** Most BMP digits in one run of digits, `\s`, '-' and surrogates. */
  private def maxCardSpanDigits(s: String): Int =
    s.map(c => if (isPyDigit(c) || isRegexWs(c) || c == '-' ||
      Character.isSurrogate(c)) c else '|').split('|')
      .map(digitCount).maxOption.getOrElse(0)

  test("the card-span gate never changes the card candidates") {
    val cardPattern = uPattern("(?:\\d[\\s\\-]*){11,19}")
    checkProp(Prop.forAll(text) { s =>
      val m = cardPattern.matcher(s)
      val seen = scala.collection.mutable.LinkedHashSet.empty[String]
      while (m.find()) {
        val d = digitsOnly(m.group())
        if (d.length >= 11 && d.length <= 19) seen += d
      }
      CardIntel.extractCardCandidates(s) == seen.toList
    }, 2000)
  }

  test("TextProfile counts == one pass per count") {
    checkProp(Prop.forAll(text) { s =>
      val p = TextProfile(s)
      p.alnum == s.count(isPyAlnum) &&
        p.printable == s.count(c => (c > 31 && c < 127) || "\n\r\t".indexOf(c) >= 0) &&
        p.cardSpanDigits == maxCardSpanDigits(s) &&
        p.maxDigitRun == maxDigitRun(s) &&
        p.foldSafe == (s.toLowerCase.length == s.length && !hasFoldDivergent(s)) &&
        p.stripped == (pyStrip(s) == s)
    })
  }

  test("one keyword pass marks Confidence's markers as substring tests would") {
    checkProp(Prop.forAll(text) { s =>
      val p = TextProfile(s)
      val hits = p.keywordHits.drop(CardIntel.MarkerBase).toSeq
      hits == Confidence.Markers.map(p.lower.contains(_))
    })
  }

  test("Confidence counts words only up to its cap") {
    checkProp(Prop.forAll(text) { s =>
      Confidence.countWords(s, 10) == math.min(Confidence.countWords(s), 10)
    })
  }
}
