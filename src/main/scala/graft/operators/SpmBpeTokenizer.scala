package graft.operators

/** SentencePiece-style BPE with BYTE FALLBACK — the engine behind the
  * Llama/Mistral-family `tokenizer.json` serialization (model.type=BPE
  * with `byte_fallback: true`): merges apply over the ▁-space-marked
  * UNICODE text (not GPT-2's byte-to-unicode alphabet), and a final
  * piece absent from the vocab decomposes into its UTF-8 bytes'
  * `<0xNN>` tokens instead of `<unk>` (sentencepiece byte fallback).
  *
  * Ref: the reference delegates these files to HF AutoTokenizer
  * (/root/reference/src/smashed/mappers/tokenize.py:84-229); this
  * engine implements the public serialization's semantics on the JVM.
  *
  * Space-marking (`Prepend ▁` / `Replace " "→▁`) arrives through the
  * loader's normalizer CHAIN ([[HfTokenizerJson.NormalizingTokenizer]])
  * — this engine consumes already-marked text and treats the whole
  * input as ONE merge word (the family's files carry no splitting
  * pre_tokenizer).
  *
  * Decode implements the family's standard decoder chain
  * (`Replace ▁→" "` + `ByteFallback` + `Fuse` + `Strip` one leading
  * space): runs of `<0xNN>` tokens collapse to bytes and decode as
  * UTF-8 (invalid sequences → U+FFFD, the JVM's and HF's replacement
  * behavior), then the space marking is undone.
  *
  * Scale shape: per-row work is the merge loop — each applied merge is
  * one adjacent-pair scan, so O(L · #applied) with L the row's char
  * count, executor-local behind the same irreducible-UDF boundary as
  * the other three engines; the model broadcasts once with the task
  * closure. Unknown-coverage work is O(bytes). No shuffle, no state.
  *
  * @param fuseUnk  consecutive `<unk>` emissions fuse into one (HF BPE
  *                 `fuse_unk`, always true in the family's files).
  * @param byteFallback vocab-missing pieces decompose to `<0xNN>` byte
  *                 tokens when all 256 are present; a missing byte
  *                 token falls back to `<unk>`.
  * @param addBos/addEos specials added by `encode(addSpecialTokens =
  *                 true)` — the family's TemplateProcessing prepends
  *                 `<s>` only. */
final case class SpmBpeTokenizer(
    vocab: Map[String, Long],
    merges: Map[(String, String), Int],
    unkToken: String = "<unk>",
    bosToken: String = "<s>",
    eosToken: String = "</s>",
    padToken: String = "<pad>",
    fuseUnk: Boolean = true,
    byteFallback: Boolean = true,
    addBos: Boolean = true,
    addEos: Boolean = false
) extends GraftTokenizer {

  @transient private lazy val inv: Map[Long, String] = vocab.map(_.swap)

  override val unkId: Long = vocab.getOrElse(unkToken, 0L)
  private val bosId: Long = vocab.getOrElse(bosToken, 1L)
  private val eosId: Long = vocab.getOrElse(eosToken, 2L)
  override val padId: Long = vocab.getOrElse(padToken, -1L)
  // bosIds/eosIds are WHAT SPECIALS-ADDITION ADDS (TokenizerMapper
  // composes bosIds ++ body ++ eosIds): the family's template is
  // <s>-only, so eosIds is empty unless the file's template says
  // otherwise; sep remains </s> for consumers that need a separator.
  override def bosIds: Seq[Long] = if (addBos) Seq(bosId) else Seq.empty
  override def eosIds: Seq[Long] = if (addEos) Seq(eosId) else Seq.empty
  override def sepIds: Seq[Long] = Seq(eosId)

  @transient private lazy val byteIds: Array[Long] =
    ByteFallback.ids(vocab.get)
  @transient private lazy val byteOf: Map[Long, Int] =
    ByteFallback.bytes(byteIds)

  private val Space = '▁'

  /** The whole text is one merge word over unicode-scalar symbols; the
    * pieces concatenate to the text, so each piece's char span follows
    * from the lengths before it. */
  override def encodePieces(text: String): Array[(Long, Int, Int)] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Int, Int)]
    val symbols = text.codePoints().toArray.map(cp => Character.toString(cp))
    var s = 0
    BytePairTokenizer.merge(symbols, merges).foreach { piece =>
      val e = s + piece.length
      vocab.get(piece) match {
        case Some(id) => out += ((id, s, e))
        case None => ByteFallback.emit(out, piece, s, e,
          if (byteFallback) byteIds else null, unkId, fuseUnk)
      }
      s = e
    }
    out.toArray
  }

  override def decode(ids: Seq[Long], skipSpecialTokens: Boolean): String = {
    val out = new ByteFallback.Utf8Text
    ids.foreach { id =>
      if (id == bosId || id == eosId || (padId >= 0 && id == padId))
        out.append(if (skipSpecialTokens) "" else inv.getOrElse(id, ""))
      else if (id == unkId)
        out.append(if (skipSpecialTokens) "" else unkToken)
      else byteOf.get(id) match {
        // ByteFallback + Fuse: runs of byte tokens collapse to bytes
        case Some(b) => out.byte(b)
        case None    => out.append(inv.getOrElse(id, ""))
      }
    }
    // Replace ▁→' ' then Strip one leading space (the family's chain)
    out.result().replace(Space, ' ').stripPrefix(" ")
  }
}
