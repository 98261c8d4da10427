package graft

import graft.operators.{BytePairTokenizer, SpmBpeTokenizer, UnigramTokenizer}
import java.nio.charset.StandardCharsets
import scala.collection.mutable.ArrayBuffer

/** The earlier, engine-by-engine encode and decode paths of the three
  * merge/byte-fallback tokenizers, kept as parity oracles: each engine
  * had its own merge loop, its own `<0xNN>` tables, its own unk fusion and
  * its own UTF-8 byte-run decoder. Each reference reads its configuration
  * from the engine instance it mirrors. */

/** Byte-level BPE: a per-char merge loop that merges every occurrence of
  * the lowest-ranked pair, with no memo cache. */
final case class BytePairReference(tok: BytePairTokenizer) {
  import BytePairTokenizer.{byteToChar, charToByte}

  private val inv: Map[Long, String] = tok.vocab.map(_.swap)
  private val specialInv: Map[Long, String] = tok.specialTokens.map(_.swap)
  private val eotId: Long =
    tok.specialTokens.getOrElse(tok.eotToken, tok.vocab.getOrElse(tok.eotToken, -1L))
  private val preTokPat = java.util.regex.Pattern.compile(
    tok.preTokenRegex.getOrElse(
      """'s|'t|'re|'ve|'m|'ll|'d| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+(?!\S)|\s+"""),
    java.util.regex.Pattern.UNICODE_CHARACTER_CLASS)
  private val bosIds: Seq[Long] = tok.bosToken
    .flatMap(t => tok.specialTokens.get(t).orElse(tok.vocab.get(t))).toSeq

  private def bpe(preTok: String): Array[String] = {
    var word: Array[String] = preTok.map(_.toString).toArray
    var done = word.length < 2
    while (!done) {
      var bestRank = Int.MaxValue
      var bestIdx = -1
      var i = 0
      while (i < word.length - 1) {
        val r = tok.mergeRanks.getOrElse((word(i), word(i + 1)), Int.MaxValue)
        if (r < bestRank) { bestRank = r; bestIdx = i }
        i += 1
      }
      if (bestIdx < 0) done = true
      else {
        val (a, b) = (word(bestIdx), word(bestIdx + 1))
        val out = ArrayBuffer.empty[String]
        var j = 0
        while (j < word.length) {
          if (j < word.length - 1 && word(j) == a && word(j + 1) == b) {
            out += (a + b); j += 2
          } else { out += word(j); j += 1 }
        }
        word = out.toArray
        if (word.length < 2) done = true
      }
    }
    word
  }

  private def splitSpecials(text: String): Seq[(String, Boolean, Int)] = {
    if (tok.specialTokens.isEmpty) return Seq((text, false, 0))
    val out = ArrayBuffer.empty[(String, Boolean, Int)]
    var pos = 0
    while (pos < text.length) {
      var hit: Option[String] = None
      var hitAt = text.length
      tok.specialTokens.keysIterator.foreach { s =>
        val i = text.indexOf(s, pos)
        if (i >= 0 && (i < hitAt || (i == hitAt && hit.exists(_.length < s.length)))) {
          hit = Some(s); hitAt = i
        }
      }
      hit match {
        case Some(s) =>
          if (hitAt > pos) out += ((text.substring(pos, hitAt), false, pos))
          out += ((s, true, hitAt))
          pos = hitAt + s.length
        case None =>
          out += ((text.substring(pos), false, pos))
          pos = text.length
      }
    }
    out.toSeq
  }

  def encodePieces(text: String): Array[(Long, Int, Int)] = {
    val out = ArrayBuffer.empty[(Long, Int, Int)]
    splitSpecials(text).foreach {
      case (seg, true, segStart) =>
        out += ((tok.specialTokens(seg), segStart, segStart + seg.length))
      case (seg, false, segStart) =>
        val m = preTokPat.matcher(seg)
        while (m.find()) {
          val pre = m.group()
          val preStart = segStart + m.start()
          val bpeChars = new StringBuilder
          val posStart = ArrayBuffer.empty[Int]
          val posEnd = ArrayBuffer.empty[Int]
          var ci = 0
          while (ci < pre.length) {
            val cp = pre.codePointAt(ci)
            val w = Character.charCount(cp)
            new String(Character.toChars(cp)).getBytes(StandardCharsets.UTF_8)
              .foreach { b =>
                bpeChars.append(byteToChar(b & 0xff))
                posStart += ci; posEnd += ci + w
              }
            ci += w
          }
          val mapped = bpeChars.result()
          val pieces =
            if (tok.ignoreMerges && tok.vocab.contains(mapped)) Array(mapped)
            else bpe(mapped)
          var p = 0
          pieces.foreach { piece =>
            val id = tok.vocab.getOrElse(piece, eotId)
            out += ((id, preStart + posStart(p), preStart + posEnd(p + piece.length - 1)))
            p += piece.length
          }
        }
    }
    out.toArray
  }

  def encode(text: String, addSpecialTokens: Boolean): Array[Long] = {
    val body = encodePieces(text).map(_._1)
    if (addSpecialTokens && bosIds.nonEmpty) (bosIds ++ body).toArray
    else body
  }

  def decode(ids: Seq[Long], skipSpecialTokens: Boolean): String = {
    val sb = new StringBuilder
    val bytes = ArrayBuffer.empty[Byte]
    def flushBytes(): Unit =
      if (bytes.nonEmpty) {
        sb.append(new String(bytes.toArray, StandardCharsets.UTF_8))
        bytes.clear()
      }
    ids.foreach { id =>
      specialInv.get(id) match {
        case Some(s) =>
          if (!skipSpecialTokens) { flushBytes(); sb.append(s) }
        case None =>
          inv.get(id).foreach(_.foreach(c => bytes += charToByte(c)))
      }
    }
    flushBytes()
    val raw = sb.result()
    if (!tok.cleanUpTokenizationSpaces) raw
    else
      raw
        .replace(" .", ".").replace(" ?", "?").replace(" !", "!")
        .replace(" ,", ",").replace(" ' ", "' ").replace(" n't", "n't")
        .replace(" 'm", "'m").replace(" 's", "'s").replace(" 've", "'ve")
        .replace(" 're", "'re")
  }
}

/** SentencePiece BPE: a merge loop over (piece, start, end) symbols that
  * merges every adjacency whose rank equals the lowest rank, and inline
  * byte fallback and unk fusion. */
final case class SpmBpeReference(tok: SpmBpeTokenizer) {
  private val inv: Map[Long, String] = tok.vocab.map(_.swap)
  private val bosId: Long = tok.vocab.getOrElse(tok.bosToken, 1L)
  private val eosId: Long = tok.vocab.getOrElse(tok.eosToken, 2L)
  private val byteIds: Array[Long] =
    Array.tabulate(256)(b => tok.vocab.getOrElse(f"<0x$b%02X>", -1L))
  private val byteTokenIds: Set[Long] = byteIds.filter(_ >= 0L).toSet

  private def mergeWord(text: String): Array[(String, Int, Int)] = {
    var syms = ArrayBuffer.empty[(String, Int, Int)]
    var i = 0
    while (i < text.length) {
      val cp = text.codePointAt(i)
      val w = Character.charCount(cp)
      syms += ((text.substring(i, i + w), i, i + w))
      i += w
    }
    if (tok.merges.nonEmpty) {
      var done = false
      while (!done && syms.length > 1) {
        var bestRank = Int.MaxValue
        var k = 0
        while (k < syms.length - 1) {
          val r = tok.merges.getOrElse((syms(k)._1, syms(k + 1)._1), Int.MaxValue)
          if (r < bestRank) bestRank = r
          k += 1
        }
        if (bestRank == Int.MaxValue) done = true
        else {
          val next = ArrayBuffer.empty[(String, Int, Int)]
          var k2 = 0
          while (k2 < syms.length) {
            if (k2 < syms.length - 1 &&
              tok.merges.getOrElse((syms(k2)._1, syms(k2 + 1)._1),
                Int.MaxValue) == bestRank) {
              next += ((syms(k2)._1 + syms(k2 + 1)._1, syms(k2)._2, syms(k2 + 1)._3))
              k2 += 2
            } else {
              next += syms(k2)
              k2 += 1
            }
          }
          syms = next
        }
      }
    }
    syms.toArray
  }

  def encodePieces(text: String): Array[(Long, Int, Int)] = {
    if (text.isEmpty) return Array.empty
    val out = ArrayBuffer.empty[(Long, Int, Int)]
    mergeWord(text).foreach { case (piece, s, e) =>
      tok.vocab.get(piece) match {
        case Some(id) => out += ((id, s, e))
        case None =>
          val bytes =
            if (tok.byteFallback) piece.getBytes(StandardCharsets.UTF_8)
            else Array.empty[Byte]
          val allPresent =
            bytes.nonEmpty && bytes.forall(b => byteIds(b & 0xff) >= 0L)
          if (allPresent)
            bytes.foreach(b => out += ((byteIds(b & 0xff), s, e)))
          else if (tok.fuseUnk && out.nonEmpty && out.last._1 == tok.unkId &&
            out.last._3 == s)
            out(out.length - 1) = (tok.unkId, out.last._2, e)
          else out += ((tok.unkId, s, e))
      }
    }
    out.toArray
  }

  def encode(text: String, addSpecialTokens: Boolean): Array[Long] = {
    val body = encodePieces(text).map(_._1)
    if (!addSpecialTokens) body
    else {
      val withBos = if (tok.addBos) bosId +: body else body
      if (tok.addEos) withBos :+ eosId else withBos
    }
  }

  def decode(ids: Seq[Long], skipSpecialTokens: Boolean): String = {
    val sb = new StringBuilder
    val buf = ArrayBuffer.empty[Byte]
    def flushBytes(): Unit =
      if (buf.nonEmpty) {
        sb.append(new String(buf.toArray, StandardCharsets.UTF_8))
        buf.clear()
      }
    ids.foreach { id =>
      if (id == bosId || id == eosId || (tok.padId >= 0 && id == tok.padId)) {
        flushBytes()
        if (!skipSpecialTokens) sb.append(inv.getOrElse(id, ""))
      } else if (id == tok.unkId) {
        flushBytes()
        if (!skipSpecialTokens) sb.append(tok.unkToken)
      } else if (byteTokenIds.contains(id)) {
        buf += Integer.parseInt(inv(id).substring(3, 5), 16).toByte
      } else {
        flushBytes()
        sb.append(inv.getOrElse(id, ""))
      }
    }
    flushBytes()
    sb.toString.replace('▁', ' ').stripPrefix(" ")
  }
}

/** Unigram: Viterbi with a separate unk-fusion pass, then inline byte
  * fallback of each uncovered normalized span. */
final case class UnigramReference(tok: UnigramTokenizer) {
  private val inv: Map[Long, String] = tok.pieces.map { case (p, (id, _)) => id -> p }
  private val maxPieceLen: Int =
    if (tok.pieces.isEmpty) 1 else tok.pieces.keysIterator.map(_.length).max
  private val byteIds: Array[Long] =
    Array.tabulate(256)(b => tok.pieces.get(f"<0x$b%02X>").map(_._1).getOrElse(-1L))
  private val byteTokenIds: Set[Long] =
    if (tok.byteFallback) byteIds.filter(_ >= 0L).toSet else Set.empty

  private def normalizeWithMap(text: String): (String, Array[Int]) = {
    val sb = new java.lang.StringBuilder(text.length + 1)
    val map = ArrayBuffer.empty[Int]
    if (tok.addDummyPrefix) { sb.append('▁'); map += 0 }
    var i = 0
    while (i < text.length) {
      val c = text.charAt(i)
      sb.append(if (Character.isWhitespace(c)) '▁' else c)
      map += i
      i += 1
    }
    (sb.toString, map.toArray)
  }

  private def viterbi(norm: String): Array[(Long, Int, Int)] = {
    val n = norm.length
    val best = Array.fill(n + 1)(Double.NegativeInfinity)
    val from = Array.fill(n + 1)(-1)
    val ids = Array.fill(n + 1)(-1L)
    best(0) = 0.0
    var i = 1
    while (i <= n) {
      var j = math.max(0, i - maxPieceLen)
      while (j < i) {
        if (best(j) != Double.NegativeInfinity) {
          tok.pieces.get(norm.substring(j, i)) match {
            case Some((id, score)) if best(j) + score > best(i) =>
              best(i) = best(j) + score; from(i) = j; ids(i) = id
            case _ => ()
          }
        }
        j += 1
      }
      if (best(i - 1) != Double.NegativeInfinity &&
        best(i - 1) + tok.unkScore > best(i)) {
        best(i) = best(i - 1) + tok.unkScore; from(i) = i - 1; ids(i) = tok.unkId
      }
      i += 1
    }
    val out = ArrayBuffer.empty[(Long, Int, Int)]
    var p = n
    while (p > 0) {
      out += ((ids(p), from(p), p))
      p = from(p)
    }
    val fused = ArrayBuffer.empty[(Long, Int, Int)]
    out.reverseIterator.foreach { case t @ (id, s, e) =>
      if (id == tok.unkId && fused.nonEmpty && fused.last._1 == tok.unkId &&
        fused.last._3 == s)
        fused(fused.length - 1) = (tok.unkId, fused.last._2, e)
      else fused += t
    }
    fused.toArray
  }

  def encodePieces(text: String): Array[(Long, Int, Int)] = {
    if (text.isEmpty) return Array.empty
    val (norm, map) = normalizeWithMap(text)
    viterbi(norm).flatMap { case (id, a, b) =>
      val so = if (tok.addDummyPrefix && a == 0) 0 else map(a)
      val eo = map(b - 1) + (if (tok.addDummyPrefix && b - 1 == 0) 0 else 1)
      if (id == tok.unkId && tok.byteFallback) {
        val bytes = norm.substring(a, b).getBytes(StandardCharsets.UTF_8)
        if (bytes.nonEmpty && bytes.forall(x => byteIds(x & 0xff) >= 0L))
          bytes.toSeq.map(x => (byteIds(x & 0xff), so, eo))
        else Seq((id, so, eo))
      } else Seq((id, so, eo))
    }
  }

  def encode(text: String, addSpecialTokens: Boolean): Array[Long] = {
    val body = encodePieces(text).map(_._1)
    if (addSpecialTokens) tok.bosId +: body :+ tok.eosId else body
  }

  def decode(ids: Seq[Long], skipSpecialTokens: Boolean): String = {
    val specials = Set(tok.padId, tok.bosId, tok.eosId)
    val sb = new StringBuilder
    val buf = ArrayBuffer.empty[Byte]
    def flushBytes(): Unit =
      if (buf.nonEmpty) {
        sb.append(new String(buf.toArray, StandardCharsets.UTF_8))
        buf.clear()
      }
    ids.foreach { id =>
      if (specials.contains(id)) {
        flushBytes()
        if (!skipSpecialTokens) sb.append(
          if (id == tok.padId) "<pad>" else if (id == tok.bosId) "<s>" else "</s>")
      } else if (id == tok.unkId) {
        flushBytes()
        if (!skipSpecialTokens) sb.append("<unk>")
      } else if (byteTokenIds.contains(id)) {
        buf += Integer.parseInt(inv(id).substring(3, 5), 16).toByte
      } else {
        flushBytes()
        sb.append(inv.getOrElse(id, ""))
      }
    }
    flushBytes()
    sb.toString.replace('▁', ' ').stripPrefix(" ")
  }
}
