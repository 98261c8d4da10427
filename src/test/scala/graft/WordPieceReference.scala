package graft

/** The straightforward WordPiece encode path, kept as the parity oracle
  * for [[graft.operators.WordPieceTokenizer]]: basic tokenization into
  * substrings, per-char lowercase + NFD + mark-strip for EVERY word (no
  * ASCII shortcut), greedy longest-match by vocab lookups (no trie), and
  * one tuple per piece. Same constructor parameters as the tokenizer. */
final case class WordPieceReference(
    vocab: Map[String, Long],
    lowercase: Boolean = true,
    clsToken: String = "[CLS]",
    sepToken: String = "[SEP]",
    padToken: String = "[PAD]",
    unkToken: String = "[UNK]",
    maxInputCharsPerWord: Int = 100
) {
  private val unkId: Long = vocab.getOrElse(unkToken, 100L)
  private val clsId: Long = vocab.getOrElse(clsToken, 101L)
  private val sepId: Long = vocab.getOrElse(sepToken, 102L)
  private val specialTokens = Set(clsToken, sepToken, padToken, unkToken)

  /** Split on whitespace, then split punctuation into standalone tokens;
    * track char offsets. */
  private def basicTokenize(text: String): Array[(String, Int, Int)] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, Int, Int)]
    var i = 0
    val n = text.length
    while (i < n) {
      val c = text.charAt(i)
      if (Character.isWhitespace(c)) i += 1
      else if (isPunct(c)) { out += ((text.substring(i, i + 1), i, i + 1)); i += 1 }
      else {
        var j = i
        while (j < n && !Character.isWhitespace(text.charAt(j)) &&
          !isPunct(text.charAt(j))) j += 1
        out += ((text.substring(i, j), i, j))
        i = j
      }
    }
    out.toArray
  }

  private def isPunct(c: Char): Boolean = {
    // BERT's definition: ASCII non-alphanumeric printables + Unicode P*
    val cp = c.toInt
    val asciiPunct = (cp >= 33 && cp <= 47) || (cp >= 58 && cp <= 64) ||
      (cp >= 91 && cp <= 96) || (cp >= 123 && cp <= 126)
    val unicodePunct = Character.getType(c) match {
      case Character.CONNECTOR_PUNCTUATION | Character.DASH_PUNCTUATION |
          Character.START_PUNCTUATION | Character.END_PUNCTUATION |
          Character.INITIAL_QUOTE_PUNCTUATION |
          Character.FINAL_QUOTE_PUNCTUATION | Character.OTHER_PUNCTUATION =>
        true
      case _ => false
    }
    asciiPunct || unicodePunct
  }

  /** Per-char lowercase + NFD accent-strip with the index map back to the
    * original word. */
  private def normalizeWithMap(w: String): (String, Array[Int]) = {
    val sb = new java.lang.StringBuilder(w.length)
    val map = scala.collection.mutable.ArrayBuffer.empty[Int]
    var i = 0
    while (i < w.length) {
      val c = if (lowercase) Character.toLowerCase(w.charAt(i)) else w.charAt(i)
      val nfd = java.text.Normalizer
        .normalize(String.valueOf(c), java.text.Normalizer.Form.NFD)
      var j = 0
      while (j < nfd.length) {
        val ch = nfd.charAt(j)
        if (Character.getType(ch) != Character.NON_SPACING_MARK) {
          sb.append(ch); map += i
        }
        j += 1
      }
      i += 1
    }
    (sb.toString, map.toArray)
  }

  /** Greedy longest-match-first split of one normalized word, with the
    * char bounds of each piece within the word. */
  private def wordpieceBounds(word: String): Array[(Long, Int, Int)] = {
    val n = word.length
    if (n == 0) return Array.empty
    if (n > maxInputCharsPerWord) return Array((unkId, 0, n))
    val pieces = scala.collection.mutable.ArrayBuffer.empty[(Long, Int, Int)]
    var start = 0
    while (start < n) {
      val prefix = if (start == 0) "" else "##"
      val end = (n until start by -1)
        .find(e => vocab.contains(prefix + word.substring(start, e)))
      end match {
        case None => return Array((unkId, 0, n)) // whole word becomes UNK
        case Some(e) =>
          pieces += ((vocab(prefix + word.substring(start, e)), start, e))
          start = e
      }
    }
    pieces.toArray
  }

  def encodePieces(text: String): Array[(Long, Int, Int)] =
    basicTokenize(text).flatMap { case (w, s, e) =>
      if (specialTokens.contains(w)) Array((vocab(w), s, e))
      else {
        val (norm, map) = normalizeWithMap(w)
        wordpieceBounds(norm).map { case (id, a, b) =>
          val so = if (a < map.length) s + map(a) else e
          val eo = if (b > 0 && b - 1 < map.length) s + map(b - 1) + 1 else e
          (id, so, eo)
        }
      }
    }

  def encode(text: String, addSpecialTokens: Boolean): Array[Long] = {
    val body = encodePieces(text).map(_._1)
    if (addSpecialTokens) clsId +: body :+ sepId else body
  }
}
