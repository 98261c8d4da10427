package graft.operators

/** SentencePiece-style Unigram-LM tokenizer — the third major HF
  * tokenizer family next to WordPiece and byte-level BPE (the reference
  * wraps all three behind one AutoTokenizer surface,
  * /root/reference/src/smashed/mappers/tokenize.py:84-229).
  *
  * Model: a vocabulary of pieces with unigram log-probabilities; encoding
  * picks the segmentation maximizing the sum of piece scores, found by
  * exact Viterbi over the normalized text (Kudo 2018, "Subword
  * Regularization", §3; deterministic best-path — no sampling).
  *
  * SentencePiece conventions honored:
  *   - whitespace is part of the piece: spaces become `▁` (U+2581) and a
  *     dummy `▁` prefix is prepended (add_dummy_prefix=true);
  *   - characters not coverable by any piece emit `<unk>`, consecutive
  *     unknowns fusing into ONE unk piece (sentencepiece's
  *     ws-normalized unk fusion);
  *   - specials are `<pad>`=padId, `<s>`/`</s>` bos/eos, `<unk>`.
  *
  * The per-row work is Viterbi over an L-char string with pieces capped
  * at `maxPieceLen` — O(L·maxPieceLen) hash probes, executor-local, no
  * shuffle: the same irreducible-UDF boundary as the other tokenizers.
  *
  * @param pieces piece → (id, logProb). Ids must not collide with the
  *               four special ids.
  * @param addDummyPrefix prepend the dummy `▁` (sentencepiece
  *               add_dummy_prefix / HF Metaspace prepend_scheme
  *               "always"); `false` mirrors prepend_scheme "never".
  * @param byteFallback sentencepiece byte fallback: spans no piece
  *               covers decompose into their UTF-8 bytes' `<0xNN>`
  *               vocab tokens instead of emitting `<unk>` (and decode
  *               re-fuses byte-token runs back to UTF-8, invalid
  *               sequences → U+FFFD). Only applies when the byte
  *               tokens exist in `pieces`; a span with any missing
  *               byte token falls back to `<unk>`.
  */
final case class UnigramTokenizer(
    pieces: Map[String, (Long, Double)],
    padId: Long = 0L,
    bosId: Long = 1L,
    eosId: Long = 2L,
    unkId: Long = 3L,
    unkScore: Double = -100.0,
    addDummyPrefix: Boolean = true,
    byteFallback: Boolean = false
) extends GraftTokenizer {

  override def bosIds: Seq[Long] = Seq(bosId)
  override def eosIds: Seq[Long] = Seq(eosId)
  override def sepIds: Seq[Long] = Seq(eosId)

  @transient private lazy val inv: Map[Long, String] =
    pieces.map { case (p, (id, _)) => id -> p }
  @transient private lazy val maxPieceLen: Int =
    if (pieces.isEmpty) 1 else pieces.keysIterator.map(_.length).max

  @transient private lazy val byteIds: Array[Long] =
    ByteFallback.ids(pieces.get(_).map(_._1))
  @transient private lazy val byteOf: Map[Long, Int] =
    if (byteFallback) ByteFallback.bytes(byteIds) else Map.empty

  private val Space = '▁'

  /** Normalize to sentencepiece space-marking, with an index map from
    * normalized position → original char position (the dummy prefix maps
    * to position 0 with zero width). */
  private def normalizeWithMap(text: String): (String, Array[Int]) = {
    val sb = new java.lang.StringBuilder(text.length + 1)
    val map = scala.collection.mutable.ArrayBuffer.empty[Int]
    if (addDummyPrefix) { sb.append(Space); map += 0 } // dummy prefix
    var i = 0
    while (i < text.length) {
      val c = text.charAt(i)
      sb.append(if (Character.isWhitespace(c)) Space else c)
      map += i
      i += 1
    }
    (sb.toString, map.toArray)
  }

  /** Exact Viterbi best segmentation of the normalized string: for each
    * end position keep the best (score, pieceStart, pieceId). Unknown
    * coverage is a single-char fallback at `unkScore`. */
  private def viterbi(norm: String): collection.Seq[(Long, Int, Int)] = {
    val n = norm.length
    val best = Array.fill(n + 1)(Double.NegativeInfinity)
    val from = Array.fill(n + 1)(-1)
    val ids = Array.fill(n + 1)(-1L)
    best(0) = 0.0
    var i = 1
    while (i <= n) {
      val lo = math.max(0, i - maxPieceLen)
      var j = lo
      while (j < i) {
        if (best(j) != Double.NegativeInfinity) {
          pieces.get(norm.substring(j, i)) match {
            case Some((id, score)) if best(j) + score > best(i) =>
              best(i) = best(j) + score; from(i) = j; ids(i) = id
            case _ => ()
          }
        }
        j += 1
      }
      // single-char unk fallback keeps the lattice connected
      if (best(i - 1) != Double.NegativeInfinity &&
        best(i - 1) + unkScore > best(i)) {
        best(i) = best(i - 1) + unkScore; from(i) = i - 1; ids(i) = unkId
      }
      i += 1
    }
    val path = scala.collection.mutable.ArrayBuffer.empty[(Long, Int, Int)]
    var p = n
    while (p > 0) {
      path += ((ids(p), from(p), p))
      p = from(p)
    }
    // fuse runs of single-char unks into one unk piece (sp semantics)
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Int, Int)]
    path.reverseIterator.foreach { case t @ (id, s, e) =>
      if (id == unkId) ByteFallback.appendUnk(out, unkId, s, e) else out += t
    }
    out
  }

  override def encodePieces(text: String): Array[(Long, Int, Int)] = {
    if (text.isEmpty) return Array.empty
    val (norm, map) = normalizeWithMap(text)
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Int, Int)]
    viterbi(norm).foreach { case (id, a, b) =>
      // normalized span → original chars; the dummy prefix (when
      // present) occupies normalized position 0 with zero width
      val so = if (addDummyPrefix && a == 0) 0 else map(a)
      val eo = map(b - 1) + (if (addDummyPrefix && b - 1 == 0) 0 else 1)
      // byte fallback: the uncovered NORMALIZED span decomposes into its
      // UTF-8 bytes' <0xNN> tokens, all spanning the same chars
      if (id == unkId && byteFallback)
        ByteFallback.emit(out, norm.substring(a, b), so, eo, byteIds, unkId,
          fuseUnk = false)
      else out += ((id, so, eo))
    }
    out.toArray
  }

  override def decode(ids: Seq[Long], skipSpecialTokens: Boolean): String = {
    val out = new ByteFallback.Utf8Text
    ids.foreach { id =>
      if (id == padId || id == bosId || id == eosId)
        out.append(if (skipSpecialTokens) ""
          else if (id == padId) "<pad>" else if (id == bosId) "<s>" else "</s>")
      else if (id == unkId)
        // <unk> is a special too: HF skip_special_tokens drops it, and the
        // WordPiece sibling (TokenizeOps) skips unk in that mode
        out.append(if (skipSpecialTokens) "" else "<unk>")
      else byteOf.get(id) match {
        // ByteFallback + Fuse: byte-token runs collapse back to UTF-8
        case Some(b) => out.byte(b)
        case None    => out.append(inv.getOrElse(id, ""))
      }
    }
    out.result().replace(Space, ' ').stripPrefix(" ")
  }
}

object UnigramTokenizer {

  /** Build from the sentencepiece-dump shape: ordered (piece, logProb)
    * rows, ids assigned by position after the four specials — the layout
    * `spm_export_vocab` emits. */
  def fromScores(
      scored: Seq[(String, Double)],
      firstId: Long = 4L
  ): UnigramTokenizer =
    UnigramTokenizer(
      scored.zipWithIndex.map { case ((p, s), i) =>
        p -> ((firstId + i, s))
      }.toMap
    )

  /** Load the `spm_export_vocab` TSV dump: one `piece<TAB>logprob` line
    * per piece in id order. Ids are the file's row positions — exactly
    * the ids the originating SentencePiece/HF model uses — so exported
    * token ids line up with that model's embedding rows. Special rows
    * (`<pad>`, `<s>`, `</s>`, `<unk>`) claim the special ids from their
    * own positions; sentencepiece's default layout has only three
    * (`<unk>`=0, `<s>`=1, `</s>`=2, pad disabled), in which case the pad
    * id is allocated past the vocabulary so it collides with nothing. */
  def fromVocabFile(path: String): UnigramTokenizer = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    try fromRows(src.getLines().map(_.split('\t')).collect {
        case Array(p, s) => (p, s.toDouble)
      }.toVector, unkRow = None)
    finally src.close()
  }

  /** Build from positional (piece, logProb) rows, ids = row positions.
    * The `<pad>`, `<s>` and `</s>` rows claim those special ids, and so
    * does the `<unk>` row unless `unkRow` names the unk row (which then
    * is no piece). A special with no row takes its id from `added`, else
    * the next id past the rows, so it collides with nothing. */
  private[operators] def fromRows(
      rows: IndexedSeq[(String, Double)],
      unkRow: Option[Long],
      added: Map[String, Long] = Map.empty
  ): UnigramTokenizer = {
    val named = Set("<pad>", "<s>", "</s>") ++ unkRow.fold(Set("<unk>"))(_ => Set.empty)
    val found = scala.collection.mutable.Map.empty[String, Long]
    val pieces = Map.newBuilder[String, (Long, Double)]
    rows.indices.foreach { i =>
      val (p, score) = rows(i)
      if (named(p)) found(p) = i.toLong
      else if (!unkRow.contains(i.toLong)) pieces += (p -> ((i.toLong, score)))
    }
    var next = rows.size.toLong
    def id(special: String): Long =
      found.get(special).orElse(added.get(special))
        .getOrElse { next += 1; next - 1 }
    val pad = id("<pad>")
    val bos = id("<s>")
    val eos = id("</s>")
    UnigramTokenizer(pieces.result(), padId = pad, bosId = bos, eosId = eos,
      unkId = unkRow.getOrElse(id("<unk>")))
  }
}
