package graft.operators

import graft.Mapper
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Text scalar mappers.
  * Ref: /root/reference/src/smashed/mappers/text.py and
  * /root/reference/src/smashed/utils/wordsplitter.py:26-96.
  * All splitters compile to codegen'd regex expressions — no UDFs —
  * except `break` (BreakIterator), the sanctioned irreducible-UDF case.
  */

object Splitters {
  /** `ws`  — WhitespaceSplit pre-tokenizer: split on runs of whitespace. */
  val Ws = "ws"
  /** `plus` — Whitespace pre-tokenizer: `\w+|[^\w\s]+`. */
  val Plus = "plus"
  /** `trail` — like `plus` but each token keeps its trailing whitespace
    * (wordsplitter.py:84-96). */
  val Trail = "trail"
  /** `break` — locale-aware word segmentation via
    * `java.text.BreakIterator` (UAX #29 word boundaries), the JVM-native
    * closing of the reference's model-based blingfire splitter
    * (wordsplitter.py:49-63): keeps contractions ("don't") and decimal
    * numbers ("3.14") whole — boundaries a regex can't express. The one
    * splitter that is an irreducible UDF (BreakIterator is an imperative
    * stateful scanner), same sanctioned boundary as FixText. */
  val BreakIter = "break"

  private lazy val breakWordsUdf =
    udf { (s: String) =>
      if (s == null) null
      else {
        val bi =
          java.text.BreakIterator.getWordInstance(java.util.Locale.ROOT)
        bi.setText(s)
        val out = scala.collection.mutable.ArrayBuffer.empty[String]
        var start = bi.first()
        var end = bi.next()
        while (end != java.text.BreakIterator.DONE) {
          val w = s.substring(start, end)
          if (w.trim.nonEmpty) out += w
          start = end
          end = bi.next()
        }
        out.toSeq
      }
    }

  def toColumn(c: Column, splitter: String): Column = splitter match {
    case Ws        => filter(split(c, "\\s+"), w => w =!= lit(""))
    case Plus      => regexp_extract_all(c, lit("\\w+|[^\\w\\s]+"), lit(0))
    case Trail     => regexp_extract_all(c, lit("(?:\\w+|[^\\w\\s]+)\\s*"), lit(0))
    case BreakIter => breakWordsUdf(c)
    case other => throw new IllegalArgumentException(s"Unknown splitter: $other")
  }
}

/** Split text fields into word arrays. Ref: text.py:67-93. Accepts string
  * columns or array-of-string columns (reference handles both,
  * wordsplitter.py:33-39). */
final case class TextToWords(fields: Seq[String], splitter: String = "plus")
    extends Mapper {
  override def inputFields: Seq[String] = fields
  override def outputFields: Seq[String] = fields
  override protected def build(df: DataFrame): DataFrame =
    fields.foldLeft(df) { (acc, f) =>
      val c = acc.schema(f).dataType match {
        case ArrayType(StringType, _) =>
          transform(col(f), x => Splitters.toColumn(x, splitter))
        case StringType => Splitters.toColumn(col(f), splitter)
        case other =>
          throw new IllegalArgumentException(
            s"TextToWords: field $f has type $other, expected string"
          )
      }
      acc.withColumn(f, c)
    }
}

/** Join word arrays back to text (or list-of-word-lists to list of texts).
  * Ref: text.py:96-114. */
final case class WordsToText(fields: Seq[String], joiner: String = " ")
    extends Mapper {
  override def inputFields: Seq[String] = fields
  override def outputFields: Seq[String] = fields
  override protected def build(df: DataFrame): DataFrame =
    fields.foldLeft(df) { (acc, f) =>
      val c = acc.schema(f).dataType match {
        case ArrayType(ArrayType(StringType, _), _) =>
          transform(col(f), x => array_join(x, joiner))
        case ArrayType(StringType, _) => array_join(col(f), joiner)
        case other =>
          throw new IllegalArgumentException(
            s"WordsToText: field $f has type $other, expected array<string>"
          )
      }
      acc.withColumn(f, c)
    }
}

/** Replace tokens made entirely of the given Unicode categories with
  * `replaceToken`. Ref: tokenize.py:232-271. Java regex supports
  * `\p{Cc}`-style category classes natively; Python's
  * `all(category(ch) in cats for ch in token)` is vacuously true on the
  * empty token, hence `*` not `+` in the pattern. */
final case class ValidUnicode(
    fields: Seq[String],
    unicodeCategories: Seq[String],
    replaceToken: String
) extends Mapper {
  override def inputFields: Seq[String] = fields
  override def outputFields: Seq[String] = fields
  private def pattern: String =
    "^(?:" + unicodeCategories.map(c => s"\\p{$c}").mkString("|") + ")*$"
  override protected def build(df: DataFrame): DataFrame =
    fields.foldLeft(df) { (acc, f) =>
      acc.withColumn(
        f,
        transform(
          col(f),
          t => when(t.rlike(pattern), lit(replaceToken)).otherwise(t)
        )
      )
    }
}

/** Text fixer in the spirit of the reference's FtfyMapper (text.py:16-64,
  * which delegates to the ftfy library). JVM-built-ins-only implementation
  * of ftfy's default fix chain: HTML entity unescape (named + numeric),
  * terminal-escape removal, iterated sloppy-windows-1252 AND MacRoman
  * mojibake repair guarded by a UTF-8-byte-pattern score (handles
  * doubly-encoded text, latin-1/C1 mojibake, and the '√©'/'‚Äú' MacRoman
  * class like ftfy does; MacRoman needs ≥2 evidence pairs since its lead
  * chars are legit math symbols), line-break normalization (CRLF/CR
  * before repair; NEL/LS/PS after, since U+0085 is itself a mojibake
  * continuation char), BOM removal, latin-ligature expansion,
  * fullwidth->ASCII width fixing, quote uncurling, unpaired-surrogate
  * replacement, control-char stripping, and NFC normalization. Documented
  * divergence from ftfy: a lone NEL in clean text becomes '\n' (ftfy's
  * fix_c1_controls turns it into an ellipsis via cp1252 first — we treat
  * it as the line break ISO 8859 says it is). */
final case class FixText(fields: Seq[String]) extends Mapper {
  override def inputFields: Seq[String] = fields
  override def outputFields: Seq[String] = fields
  override protected def build(df: DataFrame): DataFrame = {
    val fix = udf(FixText.fixText _)
    fields.foldLeft(df)((acc, f) => acc.withColumn(f, fix(col(f))))
  }
}

object FixText {
  private val cp1252 = java.nio.charset.Charset.forName("windows-1252")
  private val utf8 = java.nio.charset.StandardCharsets.UTF_8

  /** The complete HTML 4.01 named-entity table (the set ftfy's
    * html.unescape covers for pre-HTML5 corpora): the 96 Latin-1 names
    * are exactly codepoints U+00A0..U+00FF in order, Greek letters are
    * two consecutive alphabet runs, and the symbol/punctuation block is
    * enumerated. `nbsp` maps to a plain space (ftfy's uncurl_quotes-era
    * convention this operator documented from the start). */
  private val namedEntities: Map[String, String] = {
    val latin1 =
      ("nbsp iexcl cent pound curren yen brvbar sect uml copy ordf laquo " +
        "not shy reg macr deg plusmn sup2 sup3 acute micro para middot " +
        "cedil sup1 ordm raquo frac14 frac12 frac34 iquest Agrave Aacute " +
        "Acirc Atilde Auml Aring AElig Ccedil Egrave Eacute Ecirc Euml " +
        "Igrave Iacute Icirc Iuml ETH Ntilde Ograve Oacute Ocirc Otilde " +
        "Ouml times Oslash Ugrave Uacute Ucirc Uuml Yacute THORN szlig " +
        "agrave aacute acirc atilde auml aring aelig ccedil egrave eacute " +
        "ecirc euml igrave iacute icirc iuml eth ntilde ograve oacute " +
        "ocirc otilde ouml divide oslash ugrave uacute ucirc uuml yacute " +
        "thorn yuml")
        .split(" ").zipWithIndex
        .map { case (n, i) => n -> (160 + i).toChar.toString }
    val greek =
      ("Alpha Beta Gamma Delta Epsilon Zeta Eta Theta Iota Kappa Lambda " +
        "Mu Nu Xi Omicron Pi Rho").split(" ").zipWithIndex
        .map { case (n, i) => n -> (913 + i).toChar.toString } ++
        "Sigma Tau Upsilon Phi Chi Psi Omega".split(" ").zipWithIndex
          .map { case (n, i) => n -> (931 + i).toChar.toString } ++
        ("alpha beta gamma delta epsilon zeta eta theta iota kappa lambda " +
          "mu nu xi omicron pi rho sigmaf sigma tau upsilon phi chi psi " +
          "omega").split(" ").zipWithIndex
          .map { case (n, i) => n -> (945 + i).toChar.toString } ++
        Seq("thetasym" -> 977, "upsih" -> 978, "piv" -> 982)
          .map { case (n, cp) => n -> cp.toChar.toString }
    val symbols = Seq(
      "quot" -> 34, "amp" -> 38, "apos" -> 39, "lt" -> 60, "gt" -> 62,
      "OElig" -> 338, "oelig" -> 339, "Scaron" -> 352, "scaron" -> 353,
      "Yuml" -> 376, "fnof" -> 402, "circ" -> 710, "tilde" -> 732,
      "ensp" -> 8194, "emsp" -> 8195, "thinsp" -> 8201, "zwnj" -> 8204,
      "zwj" -> 8205, "lrm" -> 8206, "rlm" -> 8207, "ndash" -> 8211,
      "mdash" -> 8212, "lsquo" -> 8216, "rsquo" -> 8217, "sbquo" -> 8218,
      "ldquo" -> 8220, "rdquo" -> 8221, "bdquo" -> 8222, "dagger" -> 8224,
      "Dagger" -> 8225, "bull" -> 8226, "hellip" -> 8230, "permil" -> 8240,
      "prime" -> 8242, "Prime" -> 8243, "lsaquo" -> 8249, "rsaquo" -> 8250,
      "oline" -> 8254, "frasl" -> 8260, "euro" -> 8364, "weierp" -> 8472,
      "image" -> 8465, "real" -> 8476, "trade" -> 8482, "alefsym" -> 8501,
      "larr" -> 8592, "uarr" -> 8593, "rarr" -> 8594, "darr" -> 8595,
      "harr" -> 8596, "crarr" -> 8629, "lArr" -> 8656, "uArr" -> 8657,
      "rArr" -> 8658, "dArr" -> 8659, "hArr" -> 8660, "forall" -> 8704,
      "part" -> 8706, "exist" -> 8707, "empty" -> 8709, "nabla" -> 8711,
      "isin" -> 8712, "notin" -> 8713, "ni" -> 8715, "prod" -> 8719,
      "sum" -> 8721, "minus" -> 8722, "lowast" -> 8727, "radic" -> 8730,
      "prop" -> 8733, "infin" -> 8734, "ang" -> 8736, "and" -> 8743,
      "or" -> 8744, "cap" -> 8745, "cup" -> 8746, "int" -> 8747,
      "there4" -> 8756, "sim" -> 8764, "cong" -> 8773, "asymp" -> 8776,
      "ne" -> 8800, "equiv" -> 8801, "le" -> 8804, "ge" -> 8805,
      "sub" -> 8834, "sup" -> 8835, "nsub" -> 8836, "sube" -> 8838,
      "supe" -> 8839, "oplus" -> 8853, "otimes" -> 8855, "perp" -> 8869,
      "sdot" -> 8901, "lceil" -> 8968, "rceil" -> 8969, "lfloor" -> 8970,
      "rfloor" -> 8971, "lang" -> 9001, "rang" -> 9002, "loz" -> 9674,
      "spades" -> 9824, "clubs" -> 9827, "hearts" -> 9829, "diams" -> 9830
    ).map { case (n, cp) => n -> new String(Character.toChars(cp)) }
    (latin1 ++ greek ++ symbols).toMap + ("nbsp" -> " ")
  }
  // entity names may carry digits (sup2, frac12, there4)
  private val entityRe = "&(#[xX]?[0-9a-fA-F]+|[a-zA-Z][a-zA-Z0-9]*);".r

  private def unescapeEntities(s: String): String =
    if (!s.contains('&')) s
    else
      entityRe.replaceAllIn(s, m => {
        val body = m.group(1)
        val rep =
          try {
            if (body.startsWith("#x") || body.startsWith("#X"))
              new String(Character.toChars(Integer.parseInt(body.drop(2), 16)))
            else if (body.startsWith("#"))
              new String(Character.toChars(Integer.parseInt(body.drop(1))))
            else namedEntities.getOrElse(body, m.matched)
          } catch { case _: Exception => m.matched }
        scala.util.matching.Regex.quoteReplacement(rep)
      })

  // UTF-8-as-cp1252 pattern: a misdecoded multibyte char shows up as a
  // LEAD char (byte 0xC2-0xF4 through cp1252) followed by CONTINUATION
  // chars (bytes 0x80-0xBF through cp1252). Counting those ADJACENT
  // pairs is ftfy's core badness signal, minus the language model.
  // Latin-1 mojibake decodes those same bytes to the raw U+0080-U+00BF
  // chars (C1 controls included), so both alphabets are in the sets.
  private val leadChars: Set[Char] =
    (0xc2 to 0xf4).map(b => new String(Array(b.toByte), cp1252).charAt(0)).toSet ++
      (0xc2 to 0xf4).map(_.toChar)
  private val contChars: Set[Char] =
    (0x80 to 0xbf).map(b => new String(Array(b.toByte), cp1252).charAt(0)).toSet ++
      (0x80 to 0xbf).map(_.toChar)

  // the same signal through MacRoman (ftfy probes it alongside cp1252):
  // UTF-8 seen through MacRoman yields '√©' for é, '‚Äú' for a curly
  // quote — lead bytes 0xC2-0xF4 and continuations 0x80-0xBF decode to a
  // DIFFERENT char alphabet than cp1252, so they get their own sets.
  private val macRoman = java.nio.charset.Charset.forName("x-MacRoman")
  private val macLeadChars: Set[Char] =
    (0xc2 to 0xf4).map(b => new String(Array(b.toByte), macRoman).charAt(0)).toSet
  private val macContChars: Set[Char] =
    (0x80 to 0xbf).map(b => new String(Array(b.toByte), macRoman).charAt(0)).toSet

  // full byte→char decode table reversed: maps each cp1252-decoded char
  // back to its byte, INCLUDING the five undefined positions Java decodes
  // to C1 controls — so the reverse map alone gives cp1252 proper.
  private val cp1252Reverse: Map[Char, Byte] =
    (0 to 255).map(b => new String(Array(b.toByte), cp1252).charAt(0) -> b.toByte).toMap

  // MacRoman defines all 256 bytes, so its reverse map is total — no
  // latin-1 passthrough needed for this alphabet.
  private val macRomanReverse: Map[Char, Byte] =
    (0 to 255).map(b => new String(Array(b.toByte), macRoman).charAt(0) -> b.toByte).toMap

  private def mojibakeScore(s: String): Int = {
    var n = 0
    var i = 0
    while (i < s.length - 1) {
      val a = s.charAt(i)
      val b = s.charAt(i + 1)
      if ((leadChars.contains(a) && contChars.contains(b)) ||
        (macLeadChars.contains(a) && macContChars.contains(b)))
        n += 1
      i += 1
    }
    n
  }

  private def macPairScore(s: String): Int = {
    var n = 0
    var i = 0
    while (i < s.length - 1) {
      if (macLeadChars.contains(s.charAt(i)) &&
        macContChars.contains(s.charAt(i + 1))) n += 1
      i += 1
    }
    n
  }

  /** ftfy's "sloppy-windows-1252" re-encode + UTF-8 decode, applied
    * SEGMENT-WISE: each maximal run of byte-mappable chars (cp1252
    * reverse image, or latin-1 passthrough below U+0100 — so C1-control
    * continuations like U+0085, e.g. '\u00c5\u0085' for '\u0145', are
    * repairable) is re-decoded independently, and chars outside any run
    * (real Unicode already) pass through untouched — one emoji or
    * ligature elsewhere in the string doesn't make its mojibake
    * unrepairable. A run is replaced only if its bytes form valid UTF-8
    * (never corrupt); None when nothing changed. */
  private def byteFor(c: Char): Int = cp1252Reverse.get(c) match {
    case Some(b) => b & 0xff
    case None => if (c < 0x100) c.toInt else -1
  }

  private def byteForMac(c: Char): Int =
    macRomanReverse.get(c).map(_ & 0xff).getOrElse(-1)

  private def tryRedecode(
      t: String,
      byteOf: Char => Int = byteFor
  ): Option[String] = {
    val sb = new StringBuilder(t.length)
    var changed = false
    var i = 0
    while (i < t.length) {
      if (byteOf(t.charAt(i)) >= 0) {
        var j = i
        while (j < t.length && byteOf(t.charAt(j)) >= 0) j += 1
        val bytes = new Array[Byte](j - i)
        var k = i
        while (k < j) { bytes(k - i) = byteOf(t.charAt(k)).toByte; k += 1 }
        val re = new String(bytes, utf8)
        val seg = t.substring(i, j)
        if (!re.contains('\ufffd') && re != seg) { sb.append(re); changed = true }
        else sb.append(seg)
        i = j
      } else { sb.append(t.charAt(i)); i += 1 }
    }
    if (changed) Some(sb.result()) else None
  }

  // ftfy remove_terminal_escapes: strip ANSI CSI sequences (color codes
  // etc.) — ESC is ASCII so this is safe before mojibake repair, where
  // ftfy also runs it
  private val terminalEscapeRe = "\u001b\\[[0-9;]*[a-zA-Z]".r

  // ftfy fix_latin_ligatures: expand the Unicode alphabetic presentation
  // ligatures (U+FB00-FB06) so search/tokenization see the letters
  private val ligatures = Map(
    '\ufb00' -> "ff", '\ufb01' -> "fi", '\ufb02' -> "fl",
    '\ufb03' -> "ffi", '\ufb04' -> "ffl", '\ufb05' -> "ft",
    '\ufb06' -> "st"
  )

  private def fixLigatures(s: String): String =
    if (!s.exists(ligatures.contains)) s
    else s.flatMap(c => ligatures.getOrElse(c, c.toString))

  // ftfy fix_surrogates: a surrogate code unit with no partner can't be
  // encoded to UTF-8 — replace it with U+FFFD (valid pairs are left for
  // the JVM to treat as their supplementary code point)
  private def fixSurrogates(s: String): String = {
    if (!s.exists(Character.isSurrogate)) return s
    val sb = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (Character.isHighSurrogate(c) && i + 1 < s.length &&
        Character.isLowSurrogate(s.charAt(i + 1))) {
        sb.append(c).append(s.charAt(i + 1))
        i += 2
      } else if (Character.isSurrogate(c)) {
        sb.append('\ufffd')
        i += 1
      } else {
        sb.append(c)
        i += 1
      }
    }
    sb.result()
  }

  private def fixWidthAndQuotes(s: String): String =
    s.map {
      case c if c >= '！' && c <= '～' => (c - 0xfee0).toChar // fullwidth
      case '　' => ' ' // ideographic space
      case '‘' | '’' | '‚' | '‛' => '\''
      case '“' | '”' | '„' | '‟' => '"'
      case c => c
    }

  /** ftfy's outer discipline: re-apply the WHOLE fix chain until the
    * text is stable (capped at 3 iterations like the inner mojibake
    * loop) — layered damage like `&amp;eacute;` (an entity-escaped
    * entity) or entities that UNESCAPE INTO mojibake only converges
    * when the chain runs again over its own output. Clean text is a
    * fixpoint after one pass, so the loop costs one extra string
    * compare on the fast path. */
  def fixText(s: String): String = {
    if (s == null) return null
    var t = s
    var iter = 0
    var stable = false
    while (iter < 3 && !stable) {
      val next = fixTextOnce(t)
      stable = next == t
      t = next
      iter += 1
    }
    t
  }

  /** One pass of the default fix chain. */
  private def fixTextOnce(s: String): String = {
    var t = unescapeEntities(s)
    t = terminalEscapeRe.replaceAllIn(t, "")
    // only ASCII line breaks and the BOM are normalized BEFORE repair:
    // \r can't be a mojibake byte, and a genuine U+FEFF would abort the
    // redecode. NEL/LS/PS wait until AFTER the loop: U+0085 IS a
    // latin-1-mojibake continuation char, so eagerly turning it into \n
    // would make such text unrepairable.
    t = t.replace("\r\n", "\n").replace('\r', '\n').replace("﻿", "")
    // iterate like ftfy: doubly-encoded mojibake needs multiple passes.
    // Each pass tries sloppy-cp1252/latin-1 first, then MacRoman — the
    // two byte alphabets ftfy's encoding probe covers that occur in
    // practice for western-language corpora.
    var iter = 0
    var continue = mojibakeScore(t) > 0
    while (iter < 3 && continue) {
      val repaired = tryRedecode(t) match {
        case Some(r) if mojibakeScore(r) < mojibakeScore(t) => Some(r)
        case _ =>
          // MacRoman lead chars (√ ≈ Δ « …) are common in legit math
          // text, so unlike cp1252 this alphabet needs ≥2 evidence
          // pairs before a repair is attempted ("√π" alone stays; ftfy
          // resolves such single-pair cases with its language model)
          if (macPairScore(t) >= 2)
            tryRedecode(t, byteForMac) match {
              case Some(r) if mojibakeScore(r) < mojibakeScore(t) => Some(r)
              case _ => None
            }
          else None
      }
      repaired match {
        case Some(r) =>
          t = r
          iter += 1
          continue = mojibakeScore(t) > 0
        case None => continue = false
      }
    }
    t = t.replace('', '\n').replace(' ', '\n').replace(' ', '\n')
      .replace("﻿", "")
    t = fixLigatures(t)
    t = fixWidthAndQuotes(t)
    t = fixSurrogates(t)
    t = t.filter(ch => ch == '\n' || ch == '\t' || !Character.isISOControl(ch))
    java.text.Normalizer.normalize(t, java.text.Normalizer.Form.NFC)
  }
}

/** Canonical text normalization for DEDUP KEYS (the Dolma/FineWeb
  * pre-hash step: near-identical docs differing only in case, punctuation
  * or whitespace should collide exactly). Pure Column expressions —
  * lowercase, strip everything that is not a letter / digit / whitespace
  * (unicode classes, so accented letters survive), collapse whitespace
  * runs to single spaces, trim. Row-local, codegen'd, zero shuffle; the
  * regex classes (`\p{L}`, `\p{N}`, `\s`) mean the same thing in Java
  * regex and RE2, so any engine replays the key byte-for-byte. */
object NormalizeText {

  /** The normalized dedup key of `text`. */
  def dedupKey(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(lower(text), "[^\\p{L}\\p{N}\\s]", ""),
      "\\s+", " "))
}

/** Append `<dest>` = [[NormalizeText.dedupKey]] of `textField` — feed it
  * to [[ExactDedup]] (`byField = dest`) for normalization-robust exact
  * dedup. */
final case class NormalizeForDedup(
    textField: String = "text",
    dest: String = "dedup_key"
) extends Mapper {
  override def inputFields: Seq[String] = Seq(textField)
  override def outputFields: Seq[String] = Seq(dest)
  override protected def build(df: DataFrame): DataFrame =
    df.withColumn(dest, NormalizeText.dedupKey(col(textField)))
}

/** Budgeted text chunking (the RAG / long-context ingestion step:
  * split a document into pieces that each fit a character budget,
  * breaking only on unit boundaries). Units come from any
  * [[Splitters]] mode — `ws` words (engine-replayable) or `break`
  * (UAX #29, the production default for natural text); consecutive
  * units pack greedily into a chunk until adding the next one would
  * exceed `maxChars` (or `maxUnits`), the same policy as
  * [[MultiSequenceStrider]] via the shared
  * [[graft.functions.GreedyPackBreaks]] expression. A single unit
  * longer than the budget becomes its own (oversized) chunk — nothing
  * is ever silently dropped. Unit lengths count characters WITHOUT the
  * rejoining separator, so the budget is a property of the content,
  * not the join char.
  *
  * One row per chunk out (`chunk_idx` 0-based, `dest` text). Row-local
  * work only — the explode scales with output rows; zero shuffle. */
final case class TextChunker(
    textField: String = "text",
    dest: String = "chunk",
    maxChars: Long = 1000L,
    maxUnits: Long = Long.MaxValue,
    splitter: String = Splitters.Ws
) extends Mapper {
  override def inputFields: Seq[String] = Seq(textField)
  override def outputFields: Seq[String] = Seq(dest, "chunk_idx")
  override protected def build(df: DataFrame): DataFrame = {
    val units = Splitters.toColumn(col(textField), splitter)
    val breaks = graft.functions.functions.greedy_pack_breaks(
      transform(col("__tc_units"), u => length(u).cast(LongType)),
      lit(maxUnits), lit(maxChars))
    val nb = size(col("__tc_breaks"))
    val chunks = when(size(col("__tc_units")) === 0,
      array().cast(ArrayType(StringType)))
      .otherwise(transform(sequence(lit(1), nb), i => array_join(
        slice(
          col("__tc_units"),
          (element_at(col("__tc_breaks"), i) + 1L).cast(IntegerType),
          (when(i < nb, element_at(col("__tc_breaks"), i + 1))
            .otherwise(size(col("__tc_units")).cast(LongType)) -
            element_at(col("__tc_breaks"), i)).cast(IntegerType)
        ), " ")))
    df.withColumn("__tc_units", units)
      .withColumn("__tc_breaks", breaks)
      .withColumn("__tc_chunks", chunks)
      .select(
        (df.columns.map(col) :+
          posexplode(col("__tc_chunks")).as(Seq("chunk_idx", dest))): _*)
      .withColumn("chunk_idx", col("chunk_idx").cast(LongType))
  }
}

/** Content-defined chunking (the Rabin/CDC family — FastCDC without
  * the min/max bounds, documented): chunk boundaries fall AFTER any
  * position whose rolling window hash satisfies `H % divisor == 0`, so
  * boundaries are a function of local CONTENT, not offsets — an edit
  * early in a document shifts only the chunks it touches, and every
  * later chunk re-synchronizes byte-identically. That is the property
  * budget-based chunking ([[TextChunker]]) lacks, and what makes CDC
  * chunks the right dedup unit: chunk-level exact dedup then catches
  * shared content across near-identical docs.
  *
  * Expected chunk length ≈ `divisor` chars (geometric; no min/max
  * clamps — FastCDC's bounds need sequential state, out of scope).
  * Window hash is an exact integer fold ((h·31 + code) mod 1000003 over
  * `window` code points), replayable on any engine. The boundary scan
  * is ONE O(n) rolling-hash pass per row via the native
  * [[graft.functions.CdcBoundariesExpr]] scalar expression; slicing is
  * a cheap lambda over the O(n/divisor) point list. Explode by output
  * chunk; zero shuffle. */
final case class CdcChunker(
    textField: String = "text",
    dest: String = "chunk",
    window: Int = 8,
    divisor: Long = 64L
) extends Mapper {
  require(window >= 2 && divisor >= 2, s"bad cdc params: $window/$divisor")
  override def inputFields: Seq[String] = Seq(textField)
  override def outputFields: Seq[String] = Seq(dest, "chunk_idx")
  override protected def build(df: DataFrame): DataFrame = {
    val w = window
    val m = 1000003L
    val text = col(textField)
    val n = length(text).cast(LongType)
    // Boundary scan = ONE native rolling-hash pass per row
    // ([[graft.functions.CdcBoundariesExpr]] — bit-identical to the
    // per-window fold). Earlier HOF formulations were O(n²): per-char
    // substr probes rescan the UTF-8 prefix, and a precomputed code
    // array gets inlined by CollapseProject and re-evaluated per lambda
    // element (measured 300 s on the sf0.1 bench; now milliseconds).
    // The point list is bound as a lambda variable so the expression
    // evaluates once even though the slicing references it twice.
    val points = concat(
      array(lit(0L)),
      transform(
        graft.functions.functions.cdc_boundaries(text, w, divisor, m),
        i => i + 1),
      array(n))
    val chunks = element_at(
      transform(array(points), ps =>
        filter(
          transform(sequence(lit(1), size(ps) - 1), k =>
            text.substr(
              (element_at(ps, k) + 1).cast("int"),
              (element_at(ps, k + 1) - element_at(ps, k)).cast("int"))),
          c => length(c) > 0)),
      lit(1))
    df.withColumn("__cdc_chunks", chunks)
      .select(
        (df.columns.map(col) :+
          posexplode(col("__cdc_chunks")).as(Seq("chunk_idx", dest))): _*)
      .withColumn("chunk_idx", col("chunk_idx").cast(LongType))
  }
}

/** Chunk-level duplication statistics — the metric [[CdcChunker]]
  * exists to feed (the DataComp/RefinedWeb "duplicate fraction"
  * signal): what fraction of each document's content-defined chunks
  * also appear elsewhere in the corpus? High-fraction docs are
  * near-duplicates or templated spam that document-level exact dedup
  * misses (one edited byte defeats it) and that CDC boundaries
  * survive.
  *
  * Shape: chunk frequencies aggregate on xxhash64(chunk) with map-side
  * partial aggregation; the join-back is keyed on the same 8-byte
  * hash; one per-doc partial-agg computes the fraction as a scaled
  * integral division (engine-replayable, up to 64-bit collisions). */
object ChunkDupStats {

  /** (idField, n_chunks, dup_pct) with dup_pct = ppm of the doc's
    * chunks whose corpus frequency exceeds 1. Docs with no chunks
    * (empty text) are absent, like [[CdcChunker]]'s output. */
  def perDoc(
      chunks: DataFrame,
      idField: String,
      chunkField: String = "chunk",
      scale: Long = 1000000L
  ): DataFrame = {
    import graft.functions.functions.integral_divide
    // NOTE (r13, measured-and-rejected): persisting the 16-byte
    // (id, hash) projection so the CDC chunker lineage runs once (the
    // PrefixFilterJoin `ordered` discipline: persist + count +
    // localCheckpoint + release) was tried and measured WORSE at sf0.1
    // — q183 1.44 → 2.0-2.8 s min-of-6: the three extra materialization
    // jobs cost more than the saved chunker pass. The double evaluation
    // stays; revisit only if chunking cost grows superlinearly with
    // document length.
    val hashed = chunks.select(col(idField), xxhash64(col(chunkField)).as("__cd_h"))
    val freq = hashed.groupBy(col("__cd_h"))
      .agg(count(lit(1)).as("__cd_f"))
    hashed.join(freq, "__cd_h")
      .groupBy(col(idField))
      .agg(
        count(lit(1)).as("n_chunks"),
        sum((col("__cd_f") > 1).cast("long")).as("__cd_dup"))
      .select(col(idField), col("n_chunks"),
        integral_divide(lit(scale) * col("__cd_dup"), col("n_chunks"))
          .as("dup_pct"))
  }
}

/** Keyed pseudonymization (GDPR-style tokenization of identifying
  * columns): replace each value with `sha2-256(salt || value)` — the
  * same (value, salt) always maps to the same token, so joins and
  * groupBys on the column keep working across tables and runs, but
  * without the salt the mapping is one-way. Complements [[RedactPii]]
  * (which DESTROYS in-text identifiers); this preserves linkability of
  * column-level identifiers. Row-local codegen'd hash, zero shuffle.
  * Nulls stay null (a hashed null would fabricate a joinable token). */
final case class Pseudonymize(
    fields: Seq[String],
    salt: String
) extends Mapper {
  override def inputFields: Seq[String] = fields
  override def outputFields: Seq[String] = fields
  override protected def build(df: DataFrame): DataFrame =
    fields.foldLeft(df) { (acc, f) =>
      acc.withColumn(f,
        when(col(f).isNull, lit(null).cast(StringType))
          .otherwise(sha2(concat(lit(salt), col(f).cast(StringType)), 256)))
    }
}

/** ftfy's "badness" signal as first-class quality COLUMNS — scoring how
  * mojibake-damaged a document is without fixing it (the reference's
  * FtfyMapper delegates to ftfy, whose `badness` module decides WHEN a
  * fix is warranted; exposed here as a corpus-filter signal the way
  * quality classifiers expose theirs — rank, gate, or route documents
  * to [[FixText]] only when the score says so, which at 100 TB turns a
  * per-row UDF fix pass into a cheap codegen'd scan plus a fix pass
  * over the tiny damaged fraction).
  *
  * Signal: UTF-8 text misdecoded through windows-1252/latin-1 turns
  * each multibyte character into a LEAD char (bytes 0xC2-0xF4, which
  * BOTH alphabets map to U+00C2-U+00F4) immediately followed by
  * CONTINUATION chars (bytes 0x80-0xBF: latin-1 maps them to
  * U+0080-U+00BF, cp1252 remaps 27 of them to the €‚ƒ… symbol class).
  * Clean text essentially never contains those adjacent pairs, and
  * never contains lone C1 controls (U+0080-U+009F) at all — the two
  * counts are ftfy's core heuristic minus its language model.
  *
  * Engine parity: the patterns are plain character classes of literal
  * chars — no anchors, no lookaround, nothing Java-regex-specific — so
  * a DuckDB (RE2) oracle replays the exact counts, and the scaled
  * score is an integral division. Row-local, codegen'd, zero shuffle. */
object MojibakeScore {
  import graft.functions.functions.integral_divide

  private val cp1252 = java.nio.charset.Charset.forName("windows-1252")

  /** `[U+0080-U+00BF]` plus the 27 chars cp1252 remaps 0x80-0x9F to. */
  val contClass: String = {
    val remapped = (0x80 to 0xbf)
      .map(b => new String(Array(b.toByte), cp1252).charAt(0))
      .filter(_ > 0xbf).distinct.mkString
    "[\u0080-\u00BF" + remapped + "]"
  }

  /** A misdecoded-UTF-8 pair: lead char then continuation char. */
  val pairPattern: String = "[\u00C2-\u00F4]" + contClass

  /** Lone C1 controls — absent from any clean text. */
  val c1Pattern: String = "[\u0080-\u009F]"

  def pairs(text: Column): Column =
    size(regexp_extract_all(text, lit(pairPattern), lit(0)))

  def c1Controls(text: Column): Column =
    size(regexp_extract_all(text, lit(c1Pattern), lit(0)))

  /** `floor(1000 * (pairs + c1) / chars)` — damage per 1000 chars. */
  def badnessPermille(text: Column): Column =
    integral_divide(
      lit(1000L) * (pairs(text) + c1Controls(text)).cast(LongType),
      greatest(length(text), lit(1)).cast(LongType))
}

/** Mapper wrapper over [[MojibakeScore]]: appends the three score
  * columns next to the text field. */
final case class MojibakeScoreMapper(textField: String) extends Mapper {
  override def inputFields: Seq[String] = Seq(textField)
  override def outputFields: Seq[String] =
    Seq("mojibake_pairs", "c1_controls", "badness_permille")
  override protected def build(df: DataFrame): DataFrame =
    df.withColumn("mojibake_pairs", MojibakeScore.pairs(col(textField)))
      .withColumn("c1_controls", MojibakeScore.c1Controls(col(textField)))
      .withColumn("badness_permille",
        MojibakeScore.badnessPermille(col(textField)))
}

/** Sentence segmentation — the unit between [[TextToWords]] words and
  * whole documents that chunking, per-sentence dedup (the exact-substr
  * family), and bitext mining all consume.
  *
  * Two modes, mirroring the word-splitter design ([[Splitters]]):
  *   - `rule`: a deterministic terminator-run split whose pattern is
  *     anchor-free Java-regex/RE2 common ground (`\z`, no lookaround —
  *     RE2 has none), so a DuckDB oracle replays segmentation exactly:
  *     a sentence is a maximal run of non-terminators followed by a
  *     `[.!?]+` run and trailing whitespace, or the final unterminated
  *     run. Abbreviation handling ("Mr. X") is out of scope for the
  *     rule mode by design — that's what the ICU mode is for.
  *   - `break_iterator`: `java.text.BreakIterator.getSentenceInstance`
  *     (UAX #29), the documented JVM stand-in for model-based splitters
  *     (blingfire) — locale-aware, spec-covered, not SQL-replayable.
  * Both are row-local (narrow, zero shuffle). */
object SentenceSplitters {
  val Rule = "rule"
  val BreakIter = "break_iterator"

  /** Shared with oracles verbatim; `\z` not `$` (Java's `$` also
    * matches before a final newline, RE2's does not). */
  val rulePattern: String = "[^.!?]*[.!?]+\\s*|[^.!?]+\\z"

  /** Strip leading/trailing whitespace with `\A`/`\z` (same reason). */
  private def strip(c: Column): Column =
    regexp_replace(c, "\\A\\s+|\\s+\\z", "")

  private val breakSentencesUdf =
    udf { (s: String) =>
      if (s == null) null
      else {
        val bi =
          java.text.BreakIterator.getSentenceInstance(java.util.Locale.ROOT)
        bi.setText(s)
        val out = scala.collection.mutable.ArrayBuffer.empty[String]
        var start = bi.first()
        var end = bi.next()
        while (end != java.text.BreakIterator.DONE) {
          val sent = s.substring(start, end).trim
          if (sent.nonEmpty) out += sent
          start = end
          end = bi.next()
        }
        out.toSeq
      }
    }

  def toColumn(c: Column, mode: String): Column = mode match {
    case Rule =>
      filter(
        transform(regexp_extract_all(c, lit(rulePattern), lit(0)), strip(_)),
        x => x =!= lit(""))
    case BreakIter => breakSentencesUdf(c)
    case other => throw new IllegalArgumentException(s"Unknown mode: $other")
  }
}

/** Split text fields into sentence arrays (see [[SentenceSplitters]]). */
final case class TextToSentences(
    fields: Seq[String],
    mode: String = SentenceSplitters.Rule
) extends Mapper {
  override def inputFields: Seq[String] = fields
  override def outputFields: Seq[String] = fields
  override protected def build(df: DataFrame): DataFrame =
    fields.foldLeft(df) { (acc, f) =>
      acc.schema(f).dataType match {
        case StringType =>
          acc.withColumn(f, SentenceSplitters.toColumn(col(f), mode))
        case other =>
          throw new IllegalArgumentException(
            s"TextToSentences: field $f has type $other, expected string")
      }
    }
}

/** Per-document Unicode-script composition — the routing signal next
  * to [[TextAnalysis.langId]]'s n-gram guess: per-mille of non-space
  * characters in each major script block, plus the dominant script.
  * Mixed-script documents (spam, mojibake survivors, bilingual pages)
  * show up as no-majority rows; per-script routing (different
  * tokenizers, different quality models) keys on `dominant`.
  *
  * The classes are explicit codepoint RANGES, not `\p{script=...}`
  * properties, so the patterns are shared verbatim with SQL oracles
  * and immune to Unicode-version skew between regex engines (Java and
  * RE2 ship different Unicode tables; U+4DBF moved blocks between
  * versions). Covered blocks: basic Latin letters + Latin-1/Extended
  * (incl. Extended-B), Cyrillic, Greek, CJK Unified + Hiragana/
  * Katakana, Arabic, ASCII digits. Row-local codegen'd regex counts,
  * zero shuffle. */
object ScriptProfile {
  import graft.functions.functions.integral_divide

  /** (name, character-class) in dominance tie-break order. */
  val classes: Seq[(String, String)] = Seq(
    "latin" -> "[A-Za-z\u00C0-\u024F]",
    "cyrillic" -> "[\u0400-\u04FF]",
    "greek" -> "[\u0370-\u03FF]",
    "cjk" -> "[\u3040-\u30FF\u4E00-\u9FFF]",
    "arabic" -> "[\u0600-\u06FF]",
    "digit" -> "[0-9]"
  )

  def count(text: Column, cls: String): Column =
    size(regexp_extract_all(text, lit(cls), lit(0))).cast(LongType)

  /** Non-space character count (the per-mille denominator). */
  def nonSpaceChars(text: Column): Column =
    greatest(length(regexp_replace(text, " ", "")), lit(1)).cast(LongType)

  def permille(text: Column, cls: String): Column =
    integral_divide(lit(1000L) * count(text, cls), nonSpaceChars(text))

  /** First maximal script in `classes` order (deterministic tie-break). */
  def dominant(text: Column): Column = {
    val counts = classes.map { case (n, c) => n -> count(text, c) }
    val mx = greatest(counts.map(_._2): _*)
    counts.foldRight(lit("other")) { case ((n, c), acc) =>
      when(c === mx && mx > 0, lit(n)).otherwise(acc)
    }
  }
}

/** Mapper wrapper over [[ScriptProfile]]: appends `<name>_pm` per
  * script class plus `dominant`. */
final case class ScriptProfileMapper(textField: String) extends Mapper {
  override def inputFields: Seq[String] = Seq(textField)
  override def outputFields: Seq[String] =
    ScriptProfile.classes.map(_._1 + "_pm") :+ "dominant"
  override protected def build(df: DataFrame): DataFrame = {
    val withPm = ScriptProfile.classes.foldLeft(df) { case (acc, (n, c)) =>
      acc.withColumn(n + "_pm", ScriptProfile.permille(col(textField), c))
    }
    withPm.withColumn("dominant", ScriptProfile.dominant(col(textField)))
  }
}

/** Tokenizer-evaluation aggregates — the per-language cost report a
  * team reads before committing to a tokenizer: FERTILITY (subword
  * pieces per whitespace word; high fertility on a language means its
  * text costs more sequence length per word, the classic multilingual
  * tokenizer-bias metric) and compression (characters per piece).
  * One map-side-combined groupBy(lang); ratios are integral divisions
  * so the report replays exactly in SQL. */
object TokenizerEval {

  /** Per-language fertility using the ws-word / BPE-ish piece counters
    * (same counters as the per-doc q89 signals):
    * (lang, n_docs, n_words, n_pieces, n_chars, fertility_ppm,
    * chars_per_piece_milli). */
  def fertility(
      df: DataFrame,
      langField: String,
      textField: String,
      wordsField: String
  ): DataFrame = {
    import graft.functions.functions.integral_divide
    df.groupBy(col(langField).as("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(size(col(wordsField)).cast(LongType)).as("n_words"),
        sum(size(regexp_extract_all(col(textField),
          lit("\\w+|[^\\w\\s]+"), lit(0))).cast(LongType)).as("n_pieces"),
        sum(length(col(textField)).cast(LongType)).as("n_chars"))
      .select(col("lang"), col("n_docs"), col("n_words"), col("n_pieces"),
        col("n_chars"),
        integral_divide(lit(1000000L) * col("n_pieces"), col("n_words"))
          .as("fertility_ppm"),
        integral_divide(lit(1000L) * col("n_chars"), col("n_pieces"))
          .as("chars_per_piece_milli"))
  }
}

/** Degenerate-repetition detection — the "buy now buy now buy now"
  * filter: longest run of consecutive IDENTICAL words per document.
  * Gopher's repetition stats catch global duplicate fractions; a long
  * immediate-repeat run is a sharper signal for generation loops and
  * keyword-stuffed spam, and it's invisible to fraction-based stats on
  * long documents. Row-local fold with an integer (current-run,
  * best-run) state — zero shuffle, SQL-replayable. */
object RepetitionRun {

  /** Longest run of equal consecutive elements (>= 1 for non-empty,
    * 0 for empty arrays). State = cur·1000000 + best; word arrays are
    * bounded far below 10^6 elements per row. */
  def maxRun(words: Column): Column = {
    val flags = zip_with(
      slice(words, lit(1), greatest(size(words) - 1, lit(0))),
      slice(words, lit(2), greatest(size(words) - 1, lit(0))),
      (a, b) => when(a === b, 1L).otherwise(0L))
    val folded = aggregate(
      flags,
      lit(1000001L), // cur=1, best=1
      (st, f) => {
        // integer field extraction; st < 10^12 so the double division
        // truncates exactly
        val cur = (st / lit(1000000L)).cast(LongType)
        val best = st % lit(1000000L)
        val ncur = when(f === 1L, cur + 1L).otherwise(lit(1L))
        ncur * lit(1000000L) + greatest(best, ncur)
      })
    when(size(words) === 0, lit(0L))
      .otherwise(folded % lit(1000000L))
  }
}

/** Hard-wrap repair for extraction artifacts (PDF/OCR/plain-text email
  * corpora): words hyphen-split across line breaks are rejoined, and
  * single newlines inside a paragraph become spaces while paragraph
  * breaks (blank lines) survive. Every step is an RE2-safe regex (no
  * lookaround — DuckDB and Spark replay the identical passes), so the
  * whole repair is one codegen'd scan-stage projection: zero shuffle.
  *
  * Pass order matters and is part of the contract:
  *   1. de-hyphenate `letter-\n letter` seams (the split word rejoins
  *      BEFORE unwrapping would turn the break into a space);
  *   2. collapse 3+ newline runs to exactly one blank line;
  *   3. protect `\n\n` with a U+0001 sentinel, flatten remaining
  *      single `\n` to spaces, restore the sentinel (lookaround-free
  *      paragraph preservation).
  */
object TextRepair {

  private val Sentinel = "\u0001"

  def dehyphenate(text: Column): Column =
    regexp_replace(text, "(\\p{L})-[ \\t]*\\n[ \\t]*(\\p{L})", "$1$2")

  def normalizeBlankRuns(text: Column): Column =
    regexp_replace(text, "\\n{3,}", "\n\n")

  def unwrapSingleNewlines(text: Column): Column = {
    val guarded = call_function("replace",
      text, lit("\n\n"), lit(Sentinel))
    call_function("replace",
      regexp_replace(guarded, "\\n", " "),
      lit(Sentinel), lit("\n\n"))
  }

  /** The full repair chain. */
  def repair(text: Column): Column =
    unwrapSingleNewlines(normalizeBlankRuns(dehyphenate(text)))
}

/** Quotation profile — how much of a document is quoted speech:
  * forum scrapes, chat logs, and quote-farm spam carry high quote
  * density, while encyclopedic prose sits low; the longest-quote
  * length separates "cites a sentence" from "wraps someone else's
  * article in quotation marks" (a reuse/attribution signal next to
  * the ROUGE-L and containment families). One codegen'd projection:
  * a regexp scan plus HOF folds, zero shuffle. */
object QuoteStats {

  private val quoteRe = "\"([^\"]{1,400})\""

  private def wordCount(q: Column): Column =
    size(filter(split(q, "\\s+"), w => length(w) > 0)).cast(LongType)

  /** Appends n_quotes / quote_chars / quote_char_ppm /
    * longest_quote_words, counting only quotes of ≥ `minWords`. */
  def annotate(df: DataFrame, textField: String, minWords: Int = 3): DataFrame = {
    val quotes = filter(
      regexp_extract_all(col(textField), lit(quoteRe), lit(1)),
      q => wordCount(q) >= minWords)
    df.withColumn("n_quotes", size(quotes).cast(LongType))
      .withColumn("quote_chars",
        aggregate(quotes, lit(0L), (acc, q) => acc + length(q).cast(LongType)))
      .withColumn("quote_char_ppm",
        when(length(col(textField)) > 0,
          floor((lit(1000000L) * col("quote_chars")).cast("double")
            / length(col(textField))).cast(LongType)).otherwise(lit(0L)))
      .withColumn("longest_quote_words",
        aggregate(quotes, lit(0L), (acc, q) => greatest(acc, wordCount(q))))
  }
}
