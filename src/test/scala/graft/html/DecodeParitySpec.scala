package graft.html

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.{Gen, Prop, Test => SCTest}
import java.nio.charset.StandardCharsets.UTF_8

/** The tokenizer's bulk decode paths against the char-at-a-time loops
  * they replaced, on generated inputs rich in the cases each branches on. */
class DecodeParitySpec extends AnyFunSuite {

  private def checkProp(prop: Prop): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(1000), prop)
    assert(res.passed, res.status.toString)
  }

  private def bytes(xs: Int*): Array[Byte] = xs.map(_.toByte).toArray

  // a BOM, overlongs, encoded surrogates, sequences above U+10FFFF, a
  // literal U+FFFD, truncated and stray continuation bytes, valid 2/3/4
  // byte chars, ASCII
  private val byteAtoms: IndexedSeq[Array[Byte]] = IndexedSeq(
    bytes(0xef, 0xbb, 0xbf), bytes(0xc0, 0xaf), bytes(0xc1, 0xbf),
    bytes(0xe0, 0x80, 0xaf), bytes(0xf0, 0x80, 0x80, 0xaf),
    bytes(0xed, 0xa0, 0x80), bytes(0xed, 0xbf, 0xbf),
    bytes(0xf4, 0x90, 0x80, 0x80), bytes(0xf5, 0x80, 0x80, 0x80),
    bytes(0xf8, 0x88, 0x80, 0x80, 0x80), bytes(0xef, 0xbf, 0xbd),
    bytes(0xe2, 0x82), bytes(0xf0, 0x9f, 0x98), bytes(0x80), bytes(0xbf),
    bytes(0xfe), bytes(0xff), bytes(0xc2),
    "é".getBytes(UTF_8), "€".getBytes(UTF_8), "😀".getBytes(UTF_8),
    "￿".getBytes(UTF_8), "a".getBytes(UTF_8), "<p>x</p> ".getBytes(UTF_8))

  test("decodeUtf8Ignore == the byte loop on hostile UTF-8") {
    val gen = Gen.oneOf(
      Gen.listOf(Gen.oneOf(byteAtoms)).map(_.toArray.flatten),
      Gen.listOf(Gen.choose(Byte.MinValue, Byte.MaxValue)).map(_.toArray))
    checkProp(Prop.forAll(gen) { b =>
      HtmlTokenizer.decodeUtf8Ignore(b) == HtmlTokenizer.decodeUtf8IgnoreLoop(b)
    })
  }

  /** The char-at-a-time entity decoder the bulk one replaced. */
  private def entityDecodedReference(s: String, start: Int, end: Int): String = {
    val out = new java.lang.StringBuilder
    var i = start
    while (i < end) {
      val c = s.charAt(i)
      if (c != '&') { out.append(c); i += 1 }
      else {
        var j = i + 1
        val lim = math.min(end, i + 33)
        var semi = -1
        while (j < lim && semi < 0) {
          val cj = s.charAt(j)
          if (cj == ';') semi = j
          else if (cj == '&' || cj == '<' || Character.isWhitespace(cj)) j = lim
          else j += 1
        }
        if (semi < 0) { out.append('&'); i += 1 }
        else {
          val body = s.substring(i + 1, semi)
          if (body.startsWith("#")) {
            val cp =
              try {
                if (body.length > 1 && (body.charAt(1) == 'x' || body.charAt(1) == 'X'))
                  Integer.parseInt(body.substring(2), 16)
                else Integer.parseInt(body.substring(1))
              } catch { case _: NumberFormatException => -1 }
            if (cp > 0 && cp <= 0x10ffff && !(cp >= 0xd800 && cp <= 0xdfff)) {
              out.appendCodePoint(cp); i = semi + 1
            } else { out.append('&'); i += 1 }
          } else {
            val rep = HtmlTokenizer.NamedEntities.get(body)
            if (rep != null) { out.append(rep); i = semi + 1 }
            else { out.append('&'); i += 1 }
          }
        }
      }
    }
    out.toString
  }

  test("bulk appendEntityDecoded == the char-at-a-time decoder, on any range") {
    val atoms = IndexedSeq("&", "&amp;", "&lt;", "&nbsp;", "&eacute;", "&bogus;",
      "&#65;", "&#x41;", "&#X1F600;", "&#xD800;", "&#0;", "&#;", "&#x;",
      "&#1114112;", "&&amp;", "& amp;", "&amp", ";", "<", " ", "\n", "a", "bc",
      "é", "&" + "x" * 40 + ";")
    val gen = for {
      s <- Gen.listOf(Gen.oneOf(atoms)).map(_.mkString)
      a <- Gen.choose(0, s.length)
      b <- Gen.choose(a, s.length)
    } yield (s, a, b)
    checkProp(Prop.forAll(gen) { case (s, a, b) =>
      val out = new java.lang.StringBuilder("pre")
      HtmlTokenizer.appendEntityDecoded(out, s, a, b)
      out.toString == "pre" + entityDecodedReference(s, a, b)
    })
  }
}
