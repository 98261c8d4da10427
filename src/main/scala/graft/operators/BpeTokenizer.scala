package graft.operators

import java.nio.charset.StandardCharsets

/** Byte-level BPE tokenizer (GPT-2 family) — the decoder-only half of the
  * reference's tokenizer surface. The reference's `TokenizerMapper` accepts
  * any HF tokenizer and its own tests run GPT-2 alongside BERT
  * (/root/reference/tests/test_decoding.py:11-13,30,
  * /root/reference/tests/test_collators.py). This is an independent
  * implementation of the *published* GPT-2 algorithm (Radford et al. 2019;
  * the byte-to-unicode table and pre-tokenizer regex are from the public
  * GPT-2 release): no HF code involved.
  *
  * Pieces:
  *   - bytes→unicode: a reversible map from every byte to a printable
  *     char, so BPE operates on char strings while staying lossless on
  *     arbitrary UTF-8 (no UNK — every byte is encodable).
  *   - pre-tokenizer: the GPT-2 regex splits text into contraction /
  *     letter-run / digit-run / punct-run / whitespace pre-tokens, each
  *     keeping its leading space.
  *   - merges: greedy lowest-rank adjacent-pair merging per pre-token,
  *     memoized per task (`@transient` cache — the tokenizer ships to
  *     executors once per task via closure serialization, same
  *     amortization as [[WordPieceTokenizer]]).
  *
  * Like HF's GPT-2 tokenizer, `addSpecialTokens` adds nothing (GPT-2 has
  * no CLS/SEP; `bosIds`/`eosIds` are empty) and `padId`/`unkId` fall back
  * to `<|endoftext|>`. Decode is the exact byte-level inverse, then the
  * same HF-style `clean_up_tokenization_spaces` pass as WordPiece
  * (disable via `cleanUpTokenizationSpaces` for strict round-trips).
  *
  * Round-trip caveat: `decode(encode(text))` is byte-identical only when
  * `cleanUpTokenizationSpaces` is off AND either the input contains no
  * registered special-token literal or `skipSpecialTokens` is false —
  * with skipping on, special-token text is (by request) dropped from the
  * output, like HF's `skip_special_tokens`.
  */
final case class BytePairTokenizer(
    vocab: Map[String, Long],
    mergeRanks: Map[(String, String), Int],
    specialTokens: Map[String, Long] = Map.empty,
    eotToken: String = "<|endoftext|>",
    cleanUpTokenizationSpaces: Boolean = true,
    /** Llama-3-family knobs (tokenizer.json `Split` pre_tokenizer +
      * model `ignore_merges`): a custom pre-token regex replacing the
      * GPT-2 default, and whole-pre-token vocab lookup BEFORE the merge
      * loop (HF BPE ignore_merges — common words hit the vocab directly
      * and merges only cover the tail). */
    preTokenRegex: Option[String] = None,
    ignoreMerges: Boolean = false,
    /** bos added by `encode(addSpecialTokens=true)` (Llama-3's
      * `<|begin_of_text|>` TemplateProcessing); GPT-2 files have none. */
    bosToken: Option[String] = None
) extends GraftTokenizer {
  import BytePairTokenizer._

  private val inv: Map[Long, String] = vocab.map(_.swap)
  private val specialInv: Map[Long, String] = specialTokens.map(_.swap)
  private val eotId: Long =
    specialTokens.getOrElse(eotToken, vocab.getOrElse(eotToken, -1L))

  override def bosIds: Seq[Long] = bosToken
    .flatMap(t => specialTokens.get(t).orElse(vocab.get(t))).toSeq
  override def eosIds: Seq[Long] = Seq.empty
  override def sepIds: Seq[Long] = Seq.empty
  override def padId: Long = eotId // HF convention: pad = eos for GPT-2
  override def unkId: Long = eotId // byte-level: unreachable in encode

  @transient private lazy val preTokPat: java.util.regex.Pattern =
    preTokenRegex.map(r => java.util.regex.Pattern.compile(r,
      java.util.regex.Pattern.UNICODE_CHARACTER_CLASS))
      .getOrElse(preTokenPattern)

  /** Write this tokenizer in the public GPT-2 release format —
    * `vocab.json` (token → id) + `merges.txt` (`#version` header, one
    * space-separated pair per line in rank order) — so a corpus-trained
    * tokenizer ([[BpeTrainer]]) can ship to any HF-compatible consumer.
    * Exact inverse of [[BytePairTokenizer.fromFiles]]. */
  def save(vocabJsonPath: String, mergesPath: String): Unit = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = mapper.createObjectNode()
    vocab.toSeq.sortBy(_._2).foreach { case (tok, id) =>
      node.put(tok, id)
    }
    java.nio.file.Files.write(
      java.nio.file.Paths.get(vocabJsonPath),
      mapper.writeValueAsBytes(node))
    val lines = "#version: 0.2" +:
      mergeRanks.toSeq.sortBy(_._2).map { case ((a, b), _) => s"$a $b" }
    java.nio.file.Files.write(
      java.nio.file.Paths.get(mergesPath),
      lines.mkString("\n").concat("\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  /** Memoized BPE splits; rebuilt lazily on each executor after
    * deserialization. Bounded so a pathological corpus can't OOM a task. */
  @transient private lazy val bpeCache =
    new java.util.concurrent.ConcurrentHashMap[String, Array[String]]()

  /** [[BytePairTokenizer.merge]] of one pre-token's chars, memoized. */
  private def bpe(preTok: String): Array[String] = {
    val cached = bpeCache.get(preTok)
    if (cached != null) return cached
    val word = merge(preTok.toArray.map(_.toString), mergeRanks)
    if (bpeCache.size < 65536) bpeCache.put(preTok, word)
    word
  }

  /** Split on literal special tokens first (specials bypass BPE), like
    * HF's added-token pre-split. Returns (segment, isSpecial, charStart). */
  private def splitSpecials(text: String): Seq[(String, Boolean, Int)] = {
    if (specialTokens.isEmpty) return Seq((text, false, 0))
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, Boolean, Int)]
    var pos = 0
    while (pos < text.length) {
      var hit: Option[String] = None
      var hitAt = text.length
      specialTokens.keysIterator.foreach { s =>
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

  override def encodePieces(text: String): Array[(Long, Int, Int)] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Int, Int)]
    splitSpecials(text).foreach {
      case (seg, true, segStart) =>
        out += ((specialTokens(seg), segStart, segStart + seg.length))
      case (seg, false, segStart) =>
        val m = preTokPat.matcher(seg)
        while (m.find()) {
          val pre = m.group()
          val preStart = segStart + m.start()
          // BPE space: one char per UTF-8 byte. Map each BPE position back
          // to the source char span of the code point that produced it.
          val bpeChars = new StringBuilder
          val posStart = scala.collection.mutable.ArrayBuffer.empty[Int]
          val posEnd = scala.collection.mutable.ArrayBuffer.empty[Int]
          var ci = 0
          while (ci < pre.length) {
            val cp = pre.codePointAt(ci)
            val w = Character.charCount(cp)
            val bytes =
              new String(Character.toChars(cp)).getBytes(StandardCharsets.UTF_8)
            bytes.foreach { b =>
              bpeChars.append(byteToChar(b & 0xff))
              posStart += ci; posEnd += ci + w
            }
            ci += w
          }
          val mapped = bpeChars.result()
          // ignore_merges: the whole pre-token resolves in-vocab first
          val pieces =
            if (ignoreMerges && vocab.contains(mapped)) Array(mapped)
            else bpe(mapped)
          var p = 0
          pieces.foreach { piece =>
            val id = vocab.getOrElse(piece, eotId)
            out += ((id, preStart + posStart(p), preStart + posEnd(p + piece.length - 1)))
            p += piece.length
          }
        }
    }
    out.toArray
  }

  override def decode(ids: Seq[Long], skipSpecialTokens: Boolean): String = {
    val out = new ByteFallback.Utf8Text
    ids.foreach { id =>
      specialInv.get(id) match {
        case Some(s) => if (!skipSpecialTokens) out.append(s)
        case None    => inv.get(id).foreach(_.foreach(c => out.byte(charToByte(c))))
      }
    }
    val raw = out.result()
    if (!cleanUpTokenizationSpaces) raw
    else
      raw
        .replace(" .", ".").replace(" ?", "?").replace(" !", "!")
        .replace(" ,", ",").replace(" ' ", "' ").replace(" n't", "n't")
        .replace(" 'm", "'m").replace(" 's", "'s").replace(" 've", "'ve")
        .replace(" 're", "'re")
  }
}

object BytePairTokenizer {

  /** GPT-2 `bytes_to_unicode`: printable bytes map to themselves, the
    * rest to 256+n in ascending byte order — reversible by construction. */
  private[graft] val byteToChar: Array[Char] = {
    val printable =
      ('!'.toInt to '~'.toInt) ++ (0xa1 to 0xac) ++ (0xae to 0xff)
    val table = new Array[Char](256)
    var n = 0
    (0 until 256).foreach { b =>
      if (printable.contains(b)) table(b) = b.toChar
      else { table(b) = (256 + n).toChar; n += 1 }
    }
    table
  }

  private[graft] val charToByte: Map[Char, Byte] =
    byteToChar.zipWithIndex.map { case (c, b) => c -> b.toByte }.toMap

  /** The GPT-2 pre-tokenizer regex (public release). Unicode classes on;
    * keeps each pre-token's leading space (encoded as 'Ġ' downstream). */
  private[operators] val preTokenPattern: java.util.regex.Pattern =
    java.util.regex.Pattern.compile(
      """'s|'t|'re|'ve|'m|'ll|'d| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+(?!\S)|\s+""",
      java.util.regex.Pattern.UNICODE_CHARACTER_CLASS
    )

  /** Merge every left-to-right, non-overlapping occurrence of the
    * adjacent pair (a, b) in `symbols`. */
  private[operators] def applyMerge(symbols: Array[String], a: String,
      b: String): Array[String] = {
    val out = new Array[String](symbols.length)
    var n, j = 0
    while (j < symbols.length) {
      if (j + 1 < symbols.length && symbols(j) == a && symbols(j + 1) == b) {
        out(n) = a + b; j += 2
      } else { out(n) = symbols(j); j += 1 }
      n += 1
    }
    java.util.Arrays.copyOf(out, n)
  }

  /** The GPT-2 `bpe()` loop: apply the merge of the lowest-ranked adjacent
    * pair until no adjacent pair has a rank. Ranks are unique, so the pair
    * with that rank is the one merged everywhere. */
  private[operators] def merge(symbols: Array[String],
      ranks: Map[(String, String), Int]): Array[String] = {
    var word = symbols
    while (word.length > 1) {
      var best = -1
      var bestRank = Int.MaxValue
      var i = 0
      while (i < word.length - 1) {
        val r = ranks.getOrElse((word(i), word(i + 1)), Int.MaxValue)
        if (r < bestRank) { bestRank = r; best = i }
        i += 1
      }
      if (best < 0) return word
      word = applyMerge(word, word(best), word(best + 1))
    }
    word
  }

  /** Merge ranks by list position. Fails fast when a merge's product is
    * not in `vocab`: that piece would otherwise encode silently as the
    * fallback id. Byte units may be absent (a deliberately restricted
    * vocab omits unused ones), so only merge products are required. */
  private[operators] def ranks(merges: Seq[(String, String)],
      vocab: Map[String, Long], source: String): Map[(String, String), Int] = {
    val missing = merges.iterator.map { case (a, b) => a + b }
      .filterNot(vocab.contains).take(5).toSeq
    require(missing.isEmpty, s"inconsistent $source: merge products " +
      s"missing from vocab, e.g. ${missing.mkString(", ")}")
    merges.zipWithIndex.toMap
  }

  /** Load from the public `vocab.json` + `merges.txt` file pair (the
    * GPT-2/RoBERTa release format; merges ranked by line order). */
  def fromFiles(
      vocabJsonPath: String,
      mergesPath: String,
      specials: Seq[String] = Seq("<|endoftext|>")
  ): BytePairTokenizer = {
    val vocab = HfTokenizerJson.vocabOf(
      new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(new java.io.File(vocabJsonPath)))
    val src = scala.io.Source.fromFile(mergesPath, "UTF-8")
    val merges =
      try
        src.getLines()
          .filter(line => !line.startsWith("#") && line.contains(' '))
          .map { line =>
            val Array(a, b) = line.split(" ", 2)
            (a, b)
          }
          .toList
      finally src.close()
    val spec = specials.flatMap(s => vocab.get(s).map(s -> _)).toMap
    BytePairTokenizer(vocab, ranks(merges, vocab, s"$vocabJsonPath/$mergesPath"),
      spec)
  }

  /** Build a self-consistent tokenizer from a merge list alone: vocab =
    * the 256 byte units (in `bytes_to_unicode` order) ++ merge products
    * (in rank order) ++ specials — the same id layout GPT-2 training
    * produces. Lets tests and corpus-trained tokenizers avoid external
    * files. */
  def fromMerges(
      merges: Seq[(String, String)],
      specials: Seq[String] = Seq("<|endoftext|>")
  ): BytePairTokenizer = {
    val base = byteToChar.map(_.toString)
    val ordered = base ++ merges.map { case (a, b) => a + b } ++ specials
    val vocab = ordered.zipWithIndex.map { case (t, i) => t -> i.toLong }.toMap
    val ranks = merges.zipWithIndex.toMap
    BytePairTokenizer(vocab, ranks, specials.map(s => s -> vocab(s)).toMap)
  }
}
