package graft.operators

import graft.Mapper
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Tokenization — the reference's irreducible UDF surface
  * (/root/reference/src/smashed/mappers/tokenize.py:84-229,
  * /root/reference/src/smashed/mappers/prompting.py:36-148,
  * /root/reference/src/smashed/mappers/decoding.py:23-79).
  *
  * Design (SURVEY §2.7): the tokenizer is a driver-built, serializable
  * vocabulary object shipped to executors once per task (Spark closure
  * serialization ~ the reference's pickle-to-HF-worker boundary,
  * /root/reference/src/smashed/base/mappers.py:116-137). Tokenization runs
  * in a UDF whose captured tokenizer deserializes once per task — the
  * same amortization as mapPartitions; everything before/after stays
  * native Catalyst expressions.
  *
  * The bundled implementation is a faithful WordPiece (BERT-style):
  * basic tokenizer (whitespace split, punctuation split, lowercase,
  * accent-strip) + greedy longest-match-first subword split with "##"
  * continuations — the algorithm published with BERT and implemented in
  * HF tokenizers; no external code used.
  */

/** Minimal tokenizer contract (mirrors the slice of the HF interface the
  * reference actually uses: encode, decode, special ids, pad id).
  *
  * `encode(text, addSpecialTokens)` is the ids of [[encodePieces]], with
  * [[bosIds]] before and [[eosIds]] after them when `addSpecialTokens` is
  * set. The default implements exactly that; an engine overrides it only
  * to produce the same ids faster. */
trait GraftTokenizer extends Serializable {
  def encode(text: String, addSpecialTokens: Boolean): Array[Long] = {
    val body = encodePieces(text).map(_._1)
    if (addSpecialTokens) (bosIds ++ body ++ eosIds).toArray else body
  }

  /** id → token string (inverse vocab). */
  def decode(ids: Seq[Long], skipSpecialTokens: Boolean): String

  /** Subword pieces of `text` with per-piece char spans (id, start, end),
    * no specials. Offsets are SUBWORD-granular: each continuation piece
    * covers only its own characters (tokenize.py:84-229 offset_mapping). */
  def encodePieces(text: String): Array[(Long, Int, Int)]

  /** (token ids, per-token (startChar, endChar) offsets), no specials. */
  def encodeWithOffsets(text: String): (Array[Long], Array[(Int, Int)]) = {
    val p = encodePieces(text)
    (p.map(_._1), p.map(t => (t._2, t._3)))
  }

  /** `is_split_into_words` encoding: each element of `words` is one word;
    * all pieces concatenate into ONE sequence. Returns (ids, word index
    * per id, per-piece char span RELATIVE to its word) — the reference's
    * word_ids / offset_mapping semantics under is_split_into_words
    * (tokenize.py:95,102-103,193-224). */
  def encodeWords(words: Seq[String]): (Array[Long], Array[Int], Array[(Int, Int)]) = {
    val ids = scala.collection.mutable.ArrayBuffer.empty[Long]
    val wids = scala.collection.mutable.ArrayBuffer.empty[Int]
    val offs = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
    var wi = 0
    words.foreach { w =>
      encodePieces(w).foreach { case (id, s, e) =>
        ids += id; wids += wi; offs += ((s, e))
      }
      wi += 1
    }
    (ids.toArray, wids.toArray, offs.toArray)
  }

  def bosIds: Seq[Long] // e.g. [CLS]
  def eosIds: Seq[Long] // e.g. [SEP]
  def sepIds: Seq[Long]
  def padId: Long
  def unkId: Long
}

/** BERT-style WordPiece over an explicit vocab (token → id).
  * `lowercase` mirrors bert-base-uncased's basic tokenizer.
  *
  * One scanner serves both [[encode]] and [[encodePieces]]: it splits on
  * whitespace, splits punctuation into one-char words, normalizes each
  * word, runs the greedy longest-match-first split with "##"
  * continuations, and appends ids (and, for pieces, char spans) to
  * growable primitive arrays — no per-word substring, no tuple per piece.
  *
  * An all-ASCII word takes a fast path: `A`–`Z` are lowercased
  * arithmetically and the offset map is the identity. This is exact, not
  * an approximation: NFD maps every ASCII char to itself and no ASCII
  * char is a non-spacing mark, so the general path would yield the same
  * chars and the same map. ASCII punctuation is likewise exactly BERT's
  * four ASCII ranges, with no `Character.getType` call. A word with any
  * non-ASCII char goes through the per-char lowercase + NFD + mark-strip
  * path, which keeps the map back to the original chars exact. */
final case class WordPieceTokenizer(
    vocab: Map[String, Long],
    lowercase: Boolean = true,
    clsToken: String = "[CLS]",
    sepToken: String = "[SEP]",
    padToken: String = "[PAD]",
    unkToken: String = "[UNK]",
    maxInputCharsPerWord: Int = 100
) extends GraftTokenizer {
  import WordPieceTokenizer.isPunct

  private val inv: Map[Long, String] = vocab.map(_.swap)
  override val padId: Long = vocab.getOrElse(padToken, 0L)
  override val unkId: Long = vocab.getOrElse(unkToken, 100L)
  private val clsId: Long = vocab.getOrElse(clsToken, 101L)
  private val sepId: Long = vocab.getOrElse(sepToken, 102L)
  override def bosIds: Seq[Long] = Seq(clsId)
  override def eosIds: Seq[Long] = Seq(sepId)
  override def sepIds: Seq[Long] = Seq(sepId)

  private val specialTokens = Set(clsToken, sepToken, padToken, unkToken)

  /** The special tokens the splitter can emit as one word (a run of word
    * chars, or one punctuation char), which map straight to their id;
    * bracketed ones like "[CLS]" are split and never match. */
  private val specialWords: Array[String] = specialTokens.iterator.filter { t =>
    t.nonEmpty && (t.forall(c => !Character.isWhitespace(c) && !isPunct(c)) ||
      (t.length == 1 && isPunct(t.charAt(0))))
  }.toArray

  /** Two tries (word-initial and "##"-continuation pieces) make the
    * greedy longest-match scan O(L) probes per position with ZERO
    * substring allocation — the hot path of the one irreducible UDF.
    * Built lazily per JVM (@transient) after closure deserialization. */
  @transient private lazy val rootTrie: WordPieceTokenizer.TrieNode =
    WordPieceTokenizer.buildTrie(vocab, continuation = false)
  @transient private lazy val contTrie: WordPieceTokenizer.TrieNode =
    WordPieceTokenizer.buildTrie(vocab, continuation = true)

  /** One call's scan of `text`: the normalized-word buffer with its map
    * back to word chars, and the growable output (spans only if asked). */
  private final class Scanner(text: String, spans: Boolean) {
    private val root = rootTrie
    private val cont = contTrie
    private var norm = new Array[Char](32)
    private var map = new Array[Int](32)
    var ids = new Array[Long](math.max(16, text.length / 4))
    var starts: Array[Int] = if (spans) new Array[Int](ids.length) else null
    var ends: Array[Int] = if (spans) new Array[Int](ids.length) else null
    var size = 0

    def emit(id: Long, start: Int, end: Int): Unit = {
      if (size == ids.length) {
        ids = java.util.Arrays.copyOf(ids, size * 2)
        if (spans) {
          starts = java.util.Arrays.copyOf(starts, size * 2)
          ends = java.util.Arrays.copyOf(ends, size * 2)
        }
      }
      ids(size) = id
      if (spans) { starts(size) = start; ends(size) = end }
      size += 1
    }

    def run(): Unit = {
      val n = text.length
      var i = 0
      while (i < n) {
        val c = text.charAt(i)
        if (Character.isWhitespace(c)) i += 1
        else {
          var ascii = c < 128
          var j = i + 1
          if (!isPunct(c)) {
            while (j < n && !Character.isWhitespace(text.charAt(j)) &&
              !isPunct(text.charAt(j))) {
              if (text.charAt(j) >= 128) ascii = false
              j += 1
            }
          }
          word(i, j, ascii)
          i = j
        }
      }
    }

    private def isSpecial(s: Int, e: Int): Boolean =
      specialWords.exists(t => t.length == e - s && text.regionMatches(s, t, 0, e - s))

    /** Greedy longest-match-first WordPiece split of text[s, e); an
      * unmatched remainder turns the whole word into one UNK. */
    private def word(s: Int, e: Int, ascii: Boolean): Unit = {
      if (specialWords.nonEmpty && isSpecial(s, e)) {
        emit(vocab(text.substring(s, e)), s, e)
        return
      }
      val len = if (ascii) e - s else normalize(s, e)
      if (len == 0) return
      if (len > maxInputCharsPerWord) { piece(unkId, 0, len, s, ascii); return }
      if (ascii) lowerAscii(s, e)
      val mark = size
      var start = 0
      while (start < len) {
        var node = if (start == 0) root else cont
        var k = start
        var found = -1L
        var foundEnd = -1
        while (k < len && node != null) {
          node = node.child(norm(k))
          k += 1
          if (node != null && node.id >= 0) { found = node.id; foundEnd = k }
        }
        if (found < 0) { size = mark; piece(unkId, 0, len, s, ascii); return }
        piece(found, start, foundEnd, s, ascii)
        start = foundEnd
      }
    }

    /** Emit normalized span [a, b) of the word starting at text char `s`,
      * mapped back to original chars. */
    private def piece(id: Long, a: Int, b: Int, s: Int, ascii: Boolean): Unit =
      if (ascii) emit(id, s + a, s + b)
      else emit(id, s + map(a), s + map(b - 1) + 1)

    /** Grow `norm` and `map` together to hold `n` chars. */
    private def reserve(n: Int): Unit =
      if (norm.length < n) {
        val cap = math.max(n, norm.length * 2)
        norm = java.util.Arrays.copyOf(norm, cap)
        map = java.util.Arrays.copyOf(map, cap)
      }

    private def lowerAscii(s: Int, e: Int): Unit = {
      reserve(e - s)
      var k = s
      while (k < e) {
        val c = text.charAt(k)
        norm(k - s) =
          if (lowercase && c >= 'A' && c <= 'Z') (c + ('a' - 'A')).toChar else c
        k += 1
      }
    }

    /** Per-char lowercase + NFD accent-strip (as bert-uncased does) into
      * `norm`, with `map(k)` = the word char normalized char k comes from.
      * Per-char lowercasing keeps the map exact (whole-string toLowerCase
      * may change length for a few code points). Returns the length. */
    private def normalize(s: Int, e: Int): Int = {
      var len = 0
      var i = s
      while (i < e) {
        val c = if (lowercase) Character.toLowerCase(text.charAt(i)) else text.charAt(i)
        val nfd = java.text.Normalizer
          .normalize(String.valueOf(c), java.text.Normalizer.Form.NFD)
        var j = 0
        while (j < nfd.length) {
          val ch = nfd.charAt(j)
          if (Character.getType(ch) != Character.NON_SPACING_MARK) {
            reserve(len + 1)
            norm(len) = ch
            map(len) = i - s
            len += 1
          }
          j += 1
        }
        i += 1
      }
      len
    }
  }

  override def encodePieces(text: String): Array[(Long, Int, Int)] = {
    val sc = new Scanner(text, spans = true)
    sc.run()
    Array.tabulate(sc.size)(k => (sc.ids(k), sc.starts(k), sc.ends(k)))
  }

  override def encode(text: String, addSpecialTokens: Boolean): Array[Long] = {
    val sc = new Scanner(text, spans = false)
    if (addSpecialTokens) sc.emit(clsId, 0, 0)
    sc.run()
    if (addSpecialTokens) sc.emit(sepId, 0, 0)
    java.util.Arrays.copyOf(sc.ids, sc.size)
  }

  override def decode(ids: Seq[Long], skipSpecialTokens: Boolean): String = {
    val toks = ids.flatMap { id =>
      inv.get(id) match {
        case Some(t) if skipSpecialTokens && specialTokens.contains(t) => None
        case Some(t) => Some(t)
        case None    => Some(unkToken)
      }
    }
    val sb = new StringBuilder
    toks.foreach { t =>
      if (t.startsWith("##")) sb.append(t.drop(2))
      else {
        if (sb.nonEmpty) sb.append(' ')
        sb.append(t)
      }
    }
    // HF-style clean_up_tokenization_spaces: detach the space the
    // word-joining pass put before punctuation/contractions
    sb.result()
      .replace(" .", ".").replace(" ?", "?").replace(" !", "!")
      .replace(" ,", ",").replace(" ' ", "' ").replace(" n't", "n't")
      .replace(" 'm", "'m").replace(" 's", "'s").replace(" 've", "'ve")
      .replace(" 're", "'re")
  }
}

object WordPieceTokenizer {

  /** BERT's punctuation: the four ASCII ranges of non-alphanumeric
    * printables (a superset of every ASCII Unicode P* char), plus Unicode
    * P* beyond ASCII. */
  private[operators] def isPunct(c: Char): Boolean =
    if (c < 128)
      (c >= 33 && c <= 47) || (c >= 58 && c <= 64) ||
        (c >= 91 && c <= 96) || (c >= 123 && c <= 126)
    else
      Character.getType(c) match {
        case Character.CONNECTOR_PUNCTUATION | Character.DASH_PUNCTUATION |
            Character.START_PUNCTUATION | Character.END_PUNCTUATION |
            Character.INITIAL_QUOTE_PUNCTUATION |
            Character.FINAL_QUOTE_PUNCTUATION | Character.OTHER_PUNCTUATION =>
          true
        case _ => false
      }

  /** Sparse char trie; `id` >= 0 marks a vocab piece ending here. */
  final class TrieNode {
    var id: Long = -1L
    private var keys: Array[Char] = Array.empty
    private var kids: Array[TrieNode] = Array.empty
    def child(c: Char): TrieNode = {
      var i = 0
      while (i < keys.length) {
        if (keys(i) == c) return kids(i)
        i += 1
      }
      null
    }
    def childOrAdd(c: Char): TrieNode = {
      val existing = child(c)
      if (existing != null) existing
      else {
        val n = new TrieNode
        keys = keys :+ c
        kids = kids :+ n
        n
      }
    }
  }

  private[operators] def buildTrie(
      vocab: Map[String, Long],
      continuation: Boolean
  ): TrieNode = {
    val root = new TrieNode
    vocab.foreach { case (tok, id) =>
      val isCont = tok.startsWith("##")
      if (isCont == continuation) {
        val body = if (isCont) tok.drop(2) else tok
        if (body.nonEmpty) {
          var node = root
          body.foreach(c => node = node.childOrAdd(c))
          node.id = id
        }
      }
    }
    root
  }

  /** Build from a BERT-format vocab.txt (one token per line, id = line
    * number) — the public file format, no HF code involved. */
  def fromVocabFile(path: String, lowercase: Boolean = true): WordPieceTokenizer = {
    val lines = scala.io.Source.fromFile(path, "UTF-8")
    try WordPieceTokenizer(
      lines.getLines().zipWithIndex.map { case (t, i) => (t, i.toLong) }.toMap,
      lowercase
    )
    finally lines.close()
  }
}

/** Run the tokenizer over a text field; emits `<prefix>input_ids` and
  * optionally attention_mask / special_tokens_mask / length, or one row
  * per window with overflow_to_sample_mapping.
  * Ref: tokenize.py:28-229. Truncation to `maxLength` happens before
  * special tokens are counted, like HF's `truncation=True`.
  *
  * The reference's token_type_ids, offset_mapping, word_ids and words
  * outputs are not built here: [[EncodeFields]] emits char offsets and
  * [[FillEncodedPrompt]] emits token type ids.
  *
  * Output naming mirrors the reference mixin (tokenize.py:28-81): either
  * an `outputPrefix` ("<prefix>_<field>") or an `outputRenameMap` (every
  * emitted field must have an entry), never both.
  *
  * An array<string> input is the batched-sentences shape: one encoding
  * per element, and a null element stays null.
  *
  * Scale: the vocab Map serializes once into the task closure; work is
  * a narrow mapPartitions (no shuffle). This is the one deliberate
  * codegen barrier in the engine (SURVEY §4.2). */
final case class TokenizerMapper(
    tokenizer: GraftTokenizer,
    inputField: String,
    outputPrefix: Option[String] = None,
    addSpecialTokens: Boolean = true,
    maxLength: Option[Int] = None,
    truncation: Boolean = false,
    returnAttentionMask: Boolean = true,
    returnSpecialTokensMask: Boolean = false,
    returnLength: Boolean = false,
    returnOverflowingTokens: Boolean = false,
    strideOverlap: Int = 0,
    outputRenameMap: Option[Map[String, String]] = None
) extends Mapper {
  require(outputPrefix.isEmpty || outputRenameMap.isEmpty,
    "You cannot specify both outputPrefix and outputRenameMap.")

  private def fname(f: String): String = outputPrefix match {
    case Some(p) => s"${p}_$f"
    case None =>
      outputRenameMap match {
        case Some(m) =>
          m.getOrElse(f,
            throw new IllegalArgumentException(
              s"Field '$f' is not in the rename map."))
        case None => f
      }
  }

  override def inputFields: Seq[String] = Seq(inputField)
  // canonical order mirrors output_fields_from_tokenizer_kwargs
  // (tokenize.py:47-68)
  override def outputFields: Seq[String] =
    (Seq("input_ids") ++
      (if (returnAttentionMask) Seq("attention_mask") else Nil) ++
      (if (returnOverflowingTokens) Seq("overflow_to_sample_mapping") else Nil) ++
      (if (returnSpecialTokensMask) Seq("special_tokens_mask") else Nil) ++
      (if (returnLength) Seq("length") else Nil)).map(fname)

  override protected def build(df: DataFrame): DataFrame = {
    val tok = tokenizer
    val addSpecials = addSpecialTokens
    val nSpecial =
      if (addSpecials) tok.bosIds.size + tok.eosIds.size else 0
    // ids between the specials: all of them, or maxLength - nSpecial
    val budget = maxLength.filter(_ => truncation).map(m => math.max(0, m - nSpecial))
    val window = math.max(1, maxLength.getOrElse(Int.MaxValue) - nSpecial)
    val step = math.max(1, window - strideOverlap)
    val withSpecials: Array[Long] => Array[Long] = ids =>
      if (addSpecials) (tok.bosIds ++ ids ++ tok.eosIds).toArray else ids
    val encodeOne: String => Array[Long] = text =>
      if (text == null) null
      else {
        val body = tok.encode(text, addSpecialTokens = false)
        withSpecials(budget.fold(body)(n => body.take(n)))
      }

    val encodeUdf = udf(encodeOne)
    // HF-style overflow (tokenize.py return_overflowing_tokens): instead
    // of truncating, emit one row per maxLength-nSpecial window (with
    // strideOverlap overlap); overflow_to_sample_mapping carries the
    // source row index within this micro-batch semantics — we use a
    // window ordinal per input row (0,1,2,…), which is the stable,
    // distributable analog.
    val overflowUdf = udf { (text: String) =>
      if (text == null) null
      else {
        val body = tok.encode(text, addSpecialTokens = false)
        val chunks =
          if (body.length <= window) Array(body)
          else (0 to (body.length - window + step - 1) / step)
            .map(k => body.slice(k * step, math.min(k * step + window, body.length)))
            .filter(_.nonEmpty)
            .toArray
        chunks.map(withSpecials)
      }
    }
    // array<string> input: tokenize each element (the reference's
    // batched-sentences shape, README.md:33-75) → array<array<bigint>>
    val encodeManyUdf = udf { (texts: Seq[String]) =>
      if (texts == null) null else texts.map(encodeOne)
    }
    val isArrayInput =
      df.schema(inputField).dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType]
    var out =
      if (isArrayInput) {
        require(!returnOverflowingTokens,
          "returnOverflowingTokens is not defined for array<string> input")
        df.withColumn(fname("input_ids"), encodeManyUdf(col(inputField)))
      } else if (returnOverflowingTokens) {
        df.withColumn("__graft_chunks", overflowUdf(col(inputField)))
          .select(
            col("*"),
            posexplode(col("__graft_chunks"))
              .as(Seq(fname("overflow_to_sample_mapping"), fname("input_ids")))
          )
          .drop("__graft_chunks")
          .withColumn(
            fname("overflow_to_sample_mapping"),
            col(fname("overflow_to_sample_mapping")).cast(LongType)
          )
      } else df.withColumn(fname("input_ids"), encodeUdf(col(inputField)))
    if (returnAttentionMask)
      out = out.withColumn(
        fname("attention_mask"),
        if (isArrayInput)
          transform(col(fname("input_ids")),
            s => transform(s, _ => lit(1L)))
        else
          transform(col(fname("input_ids")), _ => lit(1L))
      )
    if (returnSpecialTokensMask) {
      val nBos = tok.bosIds.size
      out = out.withColumn(
        fname("special_tokens_mask"),
        transform(
          col(fname("input_ids")),
          (_, i) =>
            when(
              lit(addSpecials) &&
                (i < nBos || i >= size(col(fname("input_ids"))) - tok.eosIds.size),
              lit(1L)
            ).otherwise(lit(0L))
        )
      )
    }
    if (returnLength)
      out = out.withColumn(
        fname("length"),
        size(col(fname("input_ids"))).cast(LongType)
      )
    out
  }
}

/** Tokenize N fields without special tokens; optional char-offset columns
  * `offset_<field>` for span alignment. Ref: prompting.py:36-148. */
final case class EncodeFields(
    fieldsToEncode: Seq[String],
    tokenizer: GraftTokenizer,
    fieldsToReturnOffsetMapping: Seq[String] = Nil,
    offsetPrefix: String = "offset"
) extends Mapper {
  override def inputFields: Seq[String] = fieldsToEncode
  override def outputFields: Seq[String] =
    fieldsToEncode ++ fieldsToReturnOffsetMapping.map(f => s"${offsetPrefix}_$f")

  override protected def build(df: DataFrame): DataFrame = {
    val tok = tokenizer
    val encodeUdf = udf { (text: String) =>
      if (text == null) null else tok.encode(text, addSpecialTokens = false)
    }
    val offsetsUdf = udf { (text: String) =>
      if (text == null) null
      else tok.encodeWithOffsets(text)._2.map { case (s, e) => Array(s.toLong, e.toLong) }
    }
    val withOffsets = fieldsToReturnOffsetMapping.foldLeft(df) { (acc, f) =>
      acc.withColumn(s"${offsetPrefix}_$f", offsetsUdf(col(f)))
    }
    fieldsToEncode.foldLeft(withOffsets) { (acc, f) =>
      acc.withColumn(f, encodeUdf(col(f)))
    }
  }
}

/** ids → text via inverse vocab. Ref: decoding.py:23-79. */
final case class Decoding(
    tokenizer: GraftTokenizer,
    fields: Seq[String] = Seq("input_ids"),
    skipSpecialTokens: Boolean = false
) extends Mapper {
  override def inputFields: Seq[String] = fields
  override def outputFields: Seq[String] = fields
  override protected def build(df: DataFrame): DataFrame = {
    val tok = tokenizer
    val skip = skipSpecialTokens
    val decodeUdf = udf { (ids: Seq[Long]) =>
      if (ids == null) null else tok.decode(ids, skip)
    }
    fields.foldLeft(df)((acc, f) => acc.withColumn(f, decodeUdf(col(f))))
  }
}
