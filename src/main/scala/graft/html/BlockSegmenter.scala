package graft.html

import graft.text.collapseWsStrip

/** A candidate text region — the DOM analog of the reference's layout
  * regions (`detect_regions`, /root/reference/ocr_service/modules/
  * layout.py:28-72): bbox → (tag, depth), area → chars, plus
  * link-character counts for density classification.
  */
final case class Block(
    text: String,       // whitespace-collapsed, trimmed
    words: Int,
    chars: Int,
    linkChars: Int,
    tagId: Int,          // enclosing block element
    depth: Int,
    inBoiler: Boolean,   // under nav/header/footer/aside/form
    heading: Boolean
) {
  def linkDensity: Double = if (chars == 0) 0.0 else linkChars.toDouble / chars
}

final case class Segmentation(blocks: Vector[Block], title: String) {
  /** `classify_layout` thresholds over block stats (K7,
    * layout.py:74-93): area_ratio := chars/totalChars. */
  def layoutType: String = {
    if (blocks.isEmpty) return "empty"
    val total = blocks.map(_.chars.toLong).sum.toDouble
    if (total <= 0) return "empty"
    val ratios = blocks.map(_.chars / total)
    val avg = ratios.sum / blocks.size
    if (blocks.size > 20 && avg < 0.05) "dense_text"
    else if (blocks.size < 10 && ratios.exists(_ > 0.4)) "large_blocks"
    else "standard_form"
  }
}

/** Walks the [[DomArena]] and emits [[Block]]s at block-element boundaries.
  * Iterative traversal (no recursion — arbitrary nesting depth is safe).
  */
object BlockSegmenter {

  private val aTag = HtmlTags.id("a")
  private val headTag = HtmlTags.id("head")
  private val brTag = HtmlTags.id("br")
  private val titleTag = HtmlTags.id("title")

  def segment(dom: DomArena): Segmentation = {
    val blocks = Vector.newBuilder[Block]
    var title = ""

    // accumulation state for the current block
    val raw = new java.lang.StringBuilder(256)
    val linkRaw = new java.lang.StringBuilder(64)
    var curTag = HtmlTags.id("body")
    var curDepth = 0
    var curBoiler = false

    var aDepth = 0
    var boilerDepth = 0
    var headDepth = 0
    var depth = 0

    def flush(): Unit = {
      if (raw.length() > 0) {
        val text = collapseWsStrip(raw.toString)
        if (text.nonEmpty) {
          val linkText = collapseWsStrip(linkRaw.toString)
          // collapsed and trimmed: words are the single spaces plus one
          var words = 1
          var sp = text.indexOf(' ')
          while (sp >= 0) { words += 1; sp = text.indexOf(' ', sp + 1) }
          blocks += Block(
            text = text,
            words = words,
            chars = text.length,
            linkChars = math.min(linkText.length, text.length),
            tagId = curTag,
            depth = curDepth,
            inBoiler = curBoiler,
            heading = HtmlTags.isHeading(curTag))
        }
        raw.setLength(0)
        linkRaw.setLength(0)
      } else {
        raw.setLength(0); linkRaw.setLength(0)
      }
    }

    def enter(node: Int): Unit = {
      val t = dom.tag(node)
      if (t == DomArena.TextKind) {
        if (headDepth == 0) {
          val s = dom.text(node)
          raw.append(s)
          if (raw.length() > 0 && aDepth > 0) linkRaw.append(s)
          else if (aDepth == 0 && linkRaw.length() > 0 &&
                   linkRaw.charAt(linkRaw.length() - 1) != ' ')
            linkRaw.append(' ') // word boundary between link runs
        } else if (dom.parent(node) >= 0 &&
                   dom.tag(dom.parent(node)) == titleTag) {
          title = collapseWsStrip(dom.text(node))
        }
      } else {
        depth += 1
        if (t == headTag) headDepth += 1
        if (t == aTag) aDepth += 1
        if (HtmlTags.isBoilerScope(t)) boilerDepth += 1
        if (t == brTag && headDepth == 0) raw.append('\n')
        if (HtmlTags.isBlock(t) && headDepth == 0) {
          flush()
          curTag = t
          curDepth = depth
          curBoiler = boilerDepth > 0
        }
      }
    }

    def exit(node: Int): Unit = {
      val t = dom.tag(node)
      if (t != DomArena.TextKind) {
        if (HtmlTags.isBlock(t) && headDepth == 0) {
          flush()
          // restore enclosing context
          val p = dom.parent(node)
          curTag = if (p >= 0 && dom.tag(p) >= 0) dom.tag(p) else HtmlTags.id("body")
          curDepth = math.max(0, depth - 1)
          curBoiler = boilerDepth > (if (HtmlTags.isBoilerScope(t)) 1 else 0)
        }
        if (t == headTag) headDepth -= 1
        if (t == aTag) aDepth -= 1
        if (HtmlTags.isBoilerScope(t)) boilerDepth -= 1
        depth -= 1
      }
    }

    // iterative pre/post-order over the arena
    if (dom.size > 0) {
      var node = 0
      enter(node)
      var done = false
      while (!done) {
        if (dom.firstChild(node) != DomArena.NoNode) {
          node = dom.firstChild(node)
          enter(node)
        } else {
          exit(node)
          var advanced = false
          while (!advanced && !done) {
            if (dom.nextSibling(node) != DomArena.NoNode) {
              node = dom.nextSibling(node)
              enter(node)
              advanced = true
            } else {
              node = dom.parent(node)
              if (node == DomArena.NoNode) done = true
              else exit(node)
            }
          }
        }
      }
    }
    flush()
    Segmentation(blocks.result(), title)
  }
}
