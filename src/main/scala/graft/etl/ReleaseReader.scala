package graft.etl

import java.io.InputStream
import java.nio.charset.StandardCharsets.UTF_8
import java.util.Arrays

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.unsafe.types.UTF8String

/** Single-pass pull parser over one decompressed Discogs `releases`
  * document, yielding one row of [[ReleaseSchema.xmlSchema]] per
  * `<release>` element — the reference's quick-xml loop
  * (`main.rs:436-917`) in one byte-level walk.
  *
  * It reads bytes, never a String per record: tag and attribute names
  * are compared as bytes, character data is decoded (the five
  * predefined entities, numeric character references, CDATA, line-end
  * normalization) into one reused buffer, and only the kept fields
  * become `UTF8String`s. Values are the ones Spark's XML source gave
  * for the same schema: text and attribute values are trimmed, an
  * empty text element is `""`, an empty `<master_id>` is null,
  * comments and processing instructions vanish, and undeclared
  * children and attributes are walked over and dropped. `<release>`
  * elements are found at any depth outside another release.
  *
  * The XML source's checks are kept, and fail with "Malformed" in the
  * message: a non-numeric `id` or `master_id`, a non-boolean
  * `is_main_release`, an undeclared entity or bad character reference,
  * a mismatched end tag, invalid UTF-8 or a control character, and a
  * second root element. Two more inputs fail: end of input inside any
  * open element (the XML source silently dropped a release cut off at
  * EOF), and an element nested inside a text field (the XML source
  * stringified it, or dropped it inside `<master_id>`). Duplicate
  * attributes, which the XML source rejected, are not checked.
  */
final class ReleaseReader(in: InputStream, source: String) extends Iterator[InternalRow] {
  import ReleaseReader._

  private val buf = new Array[Byte](BufferSize)
  private var pos = 0
  private var lim = 0
  private var base = 0L // input offset of buf(0)

  // Decoded character data of the current text run or attribute value.
  private var txt = new Array[Byte](256)
  private var tlen = 0
  // Name of the last tag read, and of the last attribute read.
  private var name = new Array[Byte](64)
  private var nlen = 0
  private var attr = new Array[Byte](64)
  private var alen = 0
  private val ref = new Array[Byte](8) // an entity name
  // Names of the open elements, concatenated; level d's name ends at ends(d).
  private var open = new Array[Byte](256)
  private var ends = new Array[Int](16)
  private var depth = 0
  private var started = false
  private var rootSeen = false

  private var pending: InternalRow = _
  private var done = false

  override def hasNext: Boolean = {
    if (pending == null && !done) pending = advance()
    pending != null
  }

  override def next(): InternalRow = {
    if (!hasNext) throw new NoSuchElementException
    val r = pending
    pending = null
    r
  }

  /** Walks to the next `<release>` and parses it; null at end of input. */
  private def advance(): InternalRow = {
    if (!started) {
      started = true
      if (peek() == 0xEF) skipBom()
    }
    while (true) {
      val prolog = depth == 0
      val event = content(keep = prolog)
      if (prolog && !blank) malformed("text outside the root element")
      event match {
        case Start =>
          if (prolog && rootSeen) malformed("a second root element")
          rootSeen = true
          if (is(Release)) return release()
          startTag(Other, null) // a container: keep walking inside it
        case End =>
        case _ =>
          done = true
          in.close()
          return null
      }
    }
    null
  }

  /** One row in the field order of ReleaseSchema.xmlSchema. */
  private def release(): InternalRow = {
    val row = new Array[Any](8)
    if (startTag(ReleaseAttrs, row)) while (content(keep = false) == Start) {
      if (is(Title)) row(2) = text()
      else if (is(Artists)) row(3) = list(ArtistTag, () => artist())
      else if (is(Genres)) row(4) = list(Genre, () => text())
      else if (is(Styles)) row(5) = list(Style, () => text())
      else if (is(Labels)) row(6) = list(Label, () => label())
      else if (is(MasterId)) row(7) = master()
      else skip()
    }
    new GenericInternalRow(row)
  }

  /** A container of repeated `child` elements: a struct whose only
    * field is the array of children, null when there are none.
    */
  private def list(child: Array[Byte], item: () => Any): InternalRow = {
    var items: ArrayBuffer[Any] = null
    if (startTag(Other, null)) while (content(keep = false) == Start) {
      if (is(child)) {
        if (items == null) items = new ArrayBuffer[Any](4)
        items += item()
      } else skip()
    }
    new GenericInternalRow(Array[Any](if (items == null) null else new GenericArrayData(items.toArray)))
  }

  private def artist(): InternalRow = {
    val f = new Array[Any](4)
    if (startTag(Other, null)) while (content(keep = false) == Start) {
      val i = if (is(Id)) 0 else if (is(Name)) 1 else if (is(Anv)) 2 else if (is(Join)) 3 else -1
      if (i >= 0) f(i) = text() else skip()
    }
    new GenericInternalRow(f)
  }

  private def label(): InternalRow = {
    val f = new Array[Any](3)
    if (startTag(LabelAttrs, f)) skipContent()
    new GenericInternalRow(f)
  }

  /** `<master_id is_main_release="…">N</master_id>`: (_VALUE, _is_main_release). */
  private def master(): InternalRow = {
    val f = new Array[Any](2)
    textContent(MasterAttrs, f)
    if (!blank) f(0) = number()
    new GenericInternalRow(f)
  }

  /** A text-only element's trimmed content; `""` when empty. */
  private def text(): UTF8String = {
    textContent(Other, null)
    string()
  }

  /** Reads the start tag whose name is in `name`, then its character
    * data into `txt`.
    */
  private def textContent(kind: Int, vals: Array[Any]): Unit =
    if (!startTag(kind, vals)) tlen = 0
    else if (content(keep = true) == Start) malformed(s"element <${str(name, 0, nlen)}> inside a text field")

  private def skip(): Unit = if (startTag(Other, null)) skipContent()

  private def skipContent(): Unit = while (content(keep = false) == Start) skip()

  // ---- markup ----

  /** Consumes character data, comments, processing instructions, CDATA
    * and DOCTYPE up to the next tag. Returns Start with the tag's name
    * in `name` (its attributes not yet read), or End once the current
    * element's end tag has been read and matched. Character data is
    * decoded into `txt` when `keep`, and only checked otherwise. End of
    * input returns Eof outside the root and is malformed inside it.
    */
  private def content(keep: Boolean): Int = {
    tlen = 0
    while (true) {
      if (!chars(TextStops, keep)) {
        if (depth > 0) malformed(s"end of input inside <${openName(depth - 1)}>")
        return Eof
      }
      val b = need()
      if (b == '/') {
        endTag()
        return End
      } else if (b == '?') {
        until(PiEnd, keep = false)
      } else if (b == '!') {
        if (accept(CommentOpen)) until(CommentEnd, keep = false)
        else if (accept(CdataOpen)) until(CdataEnd, keep)
        else if (depth == 0 && accept(DoctypeOpen)) doctype()
        else malformed("unsupported markup after '<!'")
      } else {
        readName(b, name = true)
        return Start
      }
    }
    Eof
  }

  /** Reads the attributes of the start tag just named, storing the
    * ones `kind` declares into `vals`. Returns true, with the element
    * open, unless the tag was self-closed.
    */
  private def startTag(kind: Int, vals: Array[Any]): Boolean = {
    while (true) {
      var b = skipWs()
      if (b == '>') {
        push()
        return true
      }
      if (b == '/') {
        if (need() != '>') malformed("expected '>' after '/'")
        return false
      }
      readName(b, name = false)
      b = skipWs()
      if (b != '=') malformed(s"expected '=' after attribute ${str(attr, 0, alen)}")
      b = skipWs()
      if (b != '"' && b != '\'') malformed(s"unquoted value of attribute ${str(attr, 0, alen)}")
      tlen = 0
      if (!chars(if (b == '"') DqStops else SqStops, kind != Other)) malformed("end of input in an attribute value")
      kind match {
        case ReleaseAttrs =>
          if (isAttr(Id)) vals(0) = number() else if (isAttr(Status)) vals(1) = string()
        case LabelAttrs =>
          if (isAttr(Id)) vals(0) = string()
          else if (isAttr(Catno)) vals(1) = string()
          else if (isAttr(Name)) vals(2) = string()
        case MasterAttrs =>
          if (isAttr(IsMainRelease)) vals(1) = boolean()
        case _ =>
      }
    }
    false
  }

  private def endTag(): Unit = {
    readName(need(), name = true)
    if (skipWs() != '>') malformed("expected '>' in end tag")
    if (depth == 0) malformed(s"end tag </${str(name, 0, nlen)}> with no open element")
    val from = if (depth == 1) 0 else ends(depth - 2)
    if (nlen != ends(depth - 1) - from || !same(name, open, from, nlen))
      malformed(s"mismatched end tag </${str(name, 0, nlen)}>, expected </${openName(depth - 1)}>")
    depth -= 1
  }

  private def push(): Unit = {
    val from = if (depth == 0) 0 else ends(depth - 1)
    if (from + nlen > open.length) open = Arrays.copyOf(open, 2 * (from + nlen))
    if (depth == ends.length) ends = Arrays.copyOf(ends, 2 * depth)
    System.arraycopy(name, 0, open, from, nlen)
    ends(depth) = from + nlen
    depth += 1
  }

  private def openName(d: Int): String = str(open, if (d == 0) 0 else ends(d - 1), ends(d))

  /** Reads a tag (`name`) or attribute name starting with byte `first`. */
  private def readName(first: Int, name: Boolean): Unit = {
    if (!NameByte(first)) malformed("expected a name")
    var dst = if (name) this.name else attr
    dst(0) = first.toByte
    var n = 1
    var more = true
    while (more) {
      if (pos == lim && !fill()) malformed("end of input in a tag")
      while (pos < lim && NameByte(buf(pos) & 0xFF)) {
        if (n == dst.length) {
          dst = Arrays.copyOf(dst, 2 * n)
          if (name) this.name = dst else attr = dst
        }
        dst(n) = buf(pos)
        n += 1
        pos += 1
      }
      more = pos == lim
    }
    if (name) nlen = n else alen = n
  }

  private def doctype(): Unit = {
    var b = need()
    while (b != '>' && b != '[') b = need()
    if (b == '[') {
      while (need() != ']') {}
      while (need() != '>') {}
    }
  }

  // ---- character data ----

  /** Scans character data up to (and consuming) a byte in `stops` that
    * ends the run — `<` for text, the quote for an attribute value —
    * decoding references and normalizing line ends (and, in attribute
    * values, whitespace) into `txt` when `keep`. False at end of input.
    */
  private def chars(stops: Array[Byte], keep: Boolean): Boolean = {
    while (true) {
      if (pos == lim && !fill()) return false
      var i = pos
      val end = lim
      while (i < end && stops(buf(i) & 0xFF) == 0) i += 1
      if (keep) append(buf, pos, i - pos)
      pos = i
      if (i < end) {
        val b = buf(i) & 0xFF
        pos += 1
        stops(b) match {
          case Stop => return true
          case Ref => reference(keep)
          case Cr =>
            if (peek() != '\n' && keep) append1(if (stops eq TextStops) '\n' else ' ')
          case Space => if (keep) append1(' ')
          case Utf8 => multibyte(b, keep)
          case _ =>
            if (b == '<') malformed("'<' in an attribute value")
            malformed(f"illegal character 0x$b%02x")
        }
      }
    }
    false
  }

  /** Checks (and keeps) one UTF-8 sequence whose lead byte was read. */
  private def multibyte(lead: Int, keep: Boolean): Unit = {
    val n = if (lead >= 0xC2 && lead <= 0xDF) 1 else if (lead >= 0xE0 && lead <= 0xEF) 2
      else if (lead >= 0xF0 && lead <= 0xF4) 3 else malformed(f"invalid UTF-8 byte 0x$lead%02x")
    var cp = lead & (0x3F >> n)
    var k = 0
    while (k < n) {
      val b = need()
      if ((b & 0xC0) != 0x80) malformed(f"invalid UTF-8 continuation byte 0x$b%02x")
      cp = (cp << 6) | (b & 0x3F)
      k += 1
    }
    if (!xmlChar(cp) || cp < MinCodePoint(n)) malformed(f"invalid UTF-8 sequence for U+$cp%04X")
    if (keep) appendCodePoint(cp)
  }

  /** Decodes the reference after `&`. */
  private def reference(keep: Boolean): Unit = {
    var b = need()
    if (b == '#') {
      b = need()
      val radix = if (b == 'x') { b = need(); 16 } else 10
      var cp = 0
      var digits = 0
      while (b != ';') {
        val d = Character.digit(b, radix)
        if (d < 0) malformed("bad character reference")
        cp = math.min(cp * radix + d, 0x110000)
        digits += 1
        b = need()
      }
      if (digits == 0 || !xmlChar(cp)) malformed("bad character reference")
      if (keep) appendCodePoint(cp)
    } else {
      var n = 0
      while (b != ';') {
        if (n == ref.length || b <= ' ' || b == '<' || b == '&')
          malformed(s"undeclared entity &${str(ref, 0, n)}…")
        ref(n) = b.toByte
        n += 1
        b = need()
      }
      val c = entity(n)
      if (c < 0) malformed(s"undeclared entity &${str(ref, 0, n)};")
      if (keep) append1(c)
    }
  }

  /** The character a predefined entity named `ref(0 until n)` stands for; -1 if none. */
  private def entity(n: Int): Int =
    if (n == 2 && ref(1) == 't') { if (ref(0) == 'l') '<' else if (ref(0) == 'g') '>' else -1 }
    else if (n == 3 && ref(0) == 'a' && ref(1) == 'm' && ref(2) == 'p') '&'
    else if (n == 4 && ref(0) == 'q' && ref(1) == 'u' && ref(2) == 'o' && ref(3) == 't') '"'
    else if (n == 4 && ref(0) == 'a' && ref(1) == 'p' && ref(2) == 'o' && ref(3) == 's') '\''
    else -1

  /** Skips to just past `term` (a run of one byte, then another: `-->`,
    * `]]>`, `?>`), checking the bytes on the way; with `keep`, appends
    * them (CDATA content, line ends normalized).
    */
  private def until(term: Array[Byte], keep: Boolean): Unit = {
    var matched = 0
    while (matched < term.length) {
      val b = need()
      if (b == term(matched)) matched += 1
      else if ((term eq CommentEnd) && matched == 2) malformed("'--' inside a comment")
      else if (b != term(0)) matched = 0
      if (b >= 0x80) multibyte(b, keep)
      else if (b < ' ' && b != '\t' && b != '\n' && b != '\r') malformed(f"illegal character 0x$b%02x")
      else if (keep) {
        if (b != '\r') append1(b) else if (peek() != '\n') append1('\n')
      }
    }
    if (keep) tlen -= term.length
  }

  // ---- values ----

  // `txt` without surrounding whitespace spans trimStart until trimEnd(trimStart).
  private def trimStart: Int = {
    var s = 0
    while (s < tlen && (txt(s) & 0xFF) <= ' ') s += 1
    s
  }

  private def trimEnd(s: Int): Int = {
    var e = tlen
    while (e > s && (txt(e - 1) & 0xFF) <= ' ') e -= 1
    e
  }

  private def blank: Boolean = trimStart == tlen

  /** `txt` trimmed as a string. The bytes are valid UTF-8: every
    * multibyte sequence was checked on the way in.
    */
  private def string(): UTF8String = {
    val s = trimStart
    UTF8String.fromBytes(Arrays.copyOfRange(txt, s, trimEnd(s)))
  }

  /** `txt` trimmed, as a String. */
  private def trimmed: String = {
    val s = trimStart
    str(txt, s, trimEnd(s))
  }

  /** `txt` trimmed as a signed decimal long. */
  private def number(): java.lang.Long = {
    val v = trimmed
    try java.lang.Long.parseLong(v)
    catch { case _: NumberFormatException => malformed(s"not a number: '$v'") }
  }

  /** `txt` trimmed as a boolean: true/false (any case) or 1/0. */
  private def boolean(): java.lang.Boolean = {
    val v = trimmed
    if (v.equalsIgnoreCase("true") || v == "1") true
    else if (v.equalsIgnoreCase("false") || v == "0") false
    else malformed(s"not a boolean: '$v'")
  }

  // ---- buffers ----

  private def append(src: Array[Byte], from: Int, n: Int): Unit = {
    if (tlen + n > txt.length) txt = Arrays.copyOf(txt, math.max(2 * txt.length, tlen + n))
    System.arraycopy(src, from, txt, tlen, n)
    tlen += n
  }

  private def append1(b: Int): Unit = {
    if (tlen == txt.length) txt = Arrays.copyOf(txt, 2 * tlen)
    txt(tlen) = b.toByte
    tlen += 1
  }

  private def appendCodePoint(cp: Int): Unit =
    if (cp < 0x80) append1(cp)
    else if (cp < 0x800) { append1(0xC0 | cp >> 6); append1(0x80 | cp & 0x3F) }
    else if (cp < 0x10000) {
      append1(0xE0 | cp >> 12); append1(0x80 | cp >> 6 & 0x3F); append1(0x80 | cp & 0x3F)
    } else {
      append1(0xF0 | cp >> 18); append1(0x80 | cp >> 12 & 0x3F)
      append1(0x80 | cp >> 6 & 0x3F); append1(0x80 | cp & 0x3F)
    }

  private def is(tag: Array[Byte]): Boolean =
    nlen == tag.length && same(name, tag, 0, nlen)

  private def isAttr(a: Array[Byte]): Boolean =
    alen == a.length && same(attr, a, 0, alen)

  /** `a(0 until n)` equals `b(from until from + n)`; a plain loop beats
    * `Arrays.equals` on names this short.
    */
  private def same(a: Array[Byte], b: Array[Byte], from: Int, n: Int): Boolean = {
    var i = 0
    while (i < n && a(i) == b(from + i)) i += 1
    i == n
  }

  /** Refills `buf` once everything in it has been consumed. */
  private def fill(): Boolean = {
    var n = 0
    while (n == 0) n = in.read(buf, 0, buf.length)
    if (n < 0) false
    else {
      base += lim
      pos = 0
      lim = n
      true
    }
  }

  /** The next byte without consuming it; -1 at end of input. */
  private def peek(): Int =
    if (pos < lim || fill()) buf(pos) & 0xFF else -1

  /** The next byte; end of input is malformed. */
  private def need(): Int = {
    if (pos == lim && !fill()) {
      malformed(if (depth > 0) s"end of input inside <${openName(depth - 1)}>" else "end of input")
    }
    val b = buf(pos) & 0xFF
    pos += 1
    b
  }

  private def skipWs(): Int = {
    var b = need()
    while (b == ' ' || b == '\n' || b == '\t' || b == '\r') b = need()
    b
  }

  /** Consumes `s` if the input continues with it; an input that starts
    * with only part of `s` is malformed (no markup shares a prefix).
    */
  private def accept(s: Array[Byte]): Boolean =
    if (peek() != s(0)) false
    else {
      s.foreach(c => if (need() != c) malformed(s"expected <!${new String(s, UTF_8)}"))
      true
    }

  private def skipBom(): Unit =
    Bom.foreach(c => if (need() != c) malformed("bad byte-order mark"))

  private def str(b: Array[Byte], from: Int, until: Int): String =
    new String(b, from, until - from, UTF_8)

  private def malformed(what: String): Nothing =
    throw new IllegalArgumentException(
      s"Malformed releases XML in $source at byte ${base + pos}: $what")
}

private object ReleaseReader {
  private val BufferSize = 1 << 16

  private val Start = 1
  private val End = 2
  private val Eof = 3

  private val Other = 0
  private val ReleaseAttrs = 1
  private val LabelAttrs = 2
  private val MasterAttrs = 3

  private def bytes(s: String): Array[Byte] = s.getBytes(UTF_8)
  private val Release = bytes("release")
  private val Title = bytes("title")
  private val Artists = bytes("artists")
  private val ArtistTag = bytes("artist")
  private val Genres = bytes("genres")
  private val Genre = bytes("genre")
  private val Styles = bytes("styles")
  private val Style = bytes("style")
  private val Labels = bytes("labels")
  private val Label = bytes("label")
  private val MasterId = bytes("master_id")
  private val Id = bytes("id")
  private val Name = bytes("name")
  private val Anv = bytes("anv")
  private val Join = bytes("join")
  private val Status = bytes("status")
  private val Catno = bytes("catno")
  private val IsMainRelease = bytes("is_main_release")

  private val CommentOpen = bytes("--")
  private val CommentEnd = bytes("-->")
  private val CdataOpen = bytes("[CDATA[")
  private val CdataEnd = bytes("]]>")
  private val PiEnd = bytes("?>")
  private val DoctypeOpen = bytes("DOCTYPE")
  private val Bom = Array(0xEF, 0xBB, 0xBF)

  // Byte classes for `chars`: 0 = plain, else what to do.
  private val Stop: Byte = 1
  private val Ref: Byte = 2
  private val Cr: Byte = 3
  private val Space: Byte = 4
  private val Utf8: Byte = 5
  private val Illegal: Byte = 6

  private def stops(stop: Char, attribute: Boolean): Array[Byte] = {
    val t = new Array[Byte](256)
    (0 until 0x20).foreach(b => t(b) = Illegal)
    (0x80 until 0x100).foreach(b => t(b) = Utf8)
    t('\t') = if (attribute) Space else 0
    t('\n') = if (attribute) Space else 0
    t('\r') = Cr
    t('&') = Ref
    t('<') = if (attribute) Illegal else Stop
    t(stop) = Stop
    t
  }
  private val TextStops = stops('<', attribute = false)
  private val DqStops = stops('"', attribute = true)
  private val SqStops = stops('\'', attribute = true)

  /** Bytes that continue a tag or attribute name. */
  private val NameByte: Array[Boolean] =
    Array.tabulate(256)(b => b > ' ' && b != '>' && b != '/' && b != '=')

  /** Smallest code point a sequence with n continuation bytes may encode. */
  private val MinCodePoint = Array(0, 0x80, 0x800, 0x10000)

  private def xmlChar(cp: Int): Boolean =
    cp == 0x9 || cp == 0xA || cp == 0xD || (cp >= 0x20 && cp <= 0xD7FF) ||
      (cp >= 0xE000 && cp <= 0xFFFD) || (cp >= 0x10000 && cp <= 0x10FFFF)
}
