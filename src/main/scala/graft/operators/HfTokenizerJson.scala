package graft.operators

import com.fasterxml.jackson.databind.JsonNode

/** Loader for the HF fast-tokenizer single-file `tokenizer.json` format
  * (the public huggingface/tokenizers serialization most modern models
  * ship), feeding the existing JVM engines: `model.type` dispatches to
  * [[WordPieceTokenizer]], [[BytePairTokenizer]] or [[UnigramTokenizer]].
  *
  * Ref: the reference accepts any HF tokenizer object
  * (/root/reference/src/smashed/mappers/tokenize.py:84-229), which HF
  * constructs from this file via `AutoTokenizer.from_pretrained`; this
  * loader covers the file format itself so no HF code is involved.
  *
  * Honored config:
  *  - `model`: WordPiece (vocab, unk_token, continuing_subword_prefix,
  *    max_input_chars_per_word), BPE (vocab + merges in both public
  *    layouts — `"a b"` strings and `["a","b"]` pairs; `byte_fallback:
  *    true` routes to the sentencepiece-BPE engine
  *    [[SpmBpeTokenizer]] — the Llama/Mistral-family serialization,
  *    with unknown pieces decomposing to `<0xNN>` byte tokens and the
  *    Replace/ByteFallback/Fuse/Strip decoder chain), Unigram
  *    (positional `[piece, score]` vocab + unk_id; `byte_fallback`
  *    honored the same way).
  *  - `normalizer`: BertNormalizer.lowercase / Lowercase (possibly
  *    inside a Sequence) set the WordPiece lowercase flag (which
  *    carries bert-uncased's accent-strip). The REST of the public
  *    normalizer algebra is interpreted as a pre-encode chain
  *    ([[NormalizingTokenizer]]): NFD/NFC/NFKD/NFKC, StripAccents
  *    (incl. BertNormalizer.strip_accents=true on cased models),
  *    Replace (String or Regex pattern), Prepend, Strip — so
  *    Llama-family (Prepend ▁ + Replace " "→▁, absorbed into the
  *    Unigram space-marking) and sentencepiece-NFKC files load
  *    faithfully.
  *  - `pre_tokenizer`: BertPreTokenizer/Whitespace (WordPiece),
  *    ByteLevel with add_prefix_space (BPE), Split(Regex, Isolated)
  *    replacing the GPT-2 regex (the Llama-3-family layout, together
  *    with model `ignore_merges` and the template's bos token),
  *    Metaspace with replacement ▁ and prepend_scheme/add_prefix_space
  *    (Unigram — mapped onto add_dummy_prefix; also accepted on
  *    byte_fallback BPE). Unknown pre-tokenizer types reject with a
  *    clear error.
  *  - `added_tokens`: special entries extend/override the vocab and
  *    register as specials (BPE) or claim the special-id slots
  *    (Unigram: <pad>/<s>/</s>/<unk> by content).
  *  - `post_processor`: TemplateProcessing / BertProcessing single-
  *    sequence template picks the WordPiece cls/sep token names.
  *
  * Anything else (truncation/padding blocks, exotic model types,
  * Precompiled charsmaps) is rejected fast on the driver with a clear
  * error, mirroring the repo-wide partial-depth contract. */
object HfTokenizerJson {

  /** One pre-encode text-normalization step — the serializable
    * interpretation of a `normalizer` (or normalizing pre-tokenizer)
    * entry. Applied driver-side-configured, executor-side-executed,
    * before the wrapped tokenizer sees the text. */
  sealed trait NormStep extends Serializable {
    def apply(s: String): String
  }
  object NormStep {
    final case class UnicodeForm(form: String) extends NormStep {
      @transient private lazy val f = java.text.Normalizer.Form.valueOf(form)
      def apply(s: String): String = java.text.Normalizer.normalize(s, f)
    }
    case object Lower extends NormStep {
      def apply(s: String): String = s.toLowerCase(java.util.Locale.ROOT)
    }
    /** NFD then drop combining marks (Mn) — HF StripAccents /
      * BertNormalizer.strip_accents. */
    case object StripAccents extends NormStep {
      def apply(s: String): String = {
        val nfd = java.text.Normalizer
          .normalize(s, java.text.Normalizer.Form.NFD)
        nfd.filter(c => Character.getType(c) !=
          Character.NON_SPACING_MARK.toInt)
      }
    }
    final case class Replace(pattern: String, isRegex: Boolean,
        content: String) extends NormStep {
      @transient private lazy val rx =
        if (isRegex) pattern.r else null
      def apply(s: String): String =
        if (isRegex) rx.replaceAllIn(s,
          scala.util.matching.Regex.quoteReplacement(content))
        else s.replace(pattern, content)
    }
    final case class Prepend(prefix: String) extends NormStep {
      def apply(s: String): String = if (s.isEmpty) s else prefix + s
    }
    final case class Strip(left: Boolean, right: Boolean) extends NormStep {
      def apply(s: String): String = {
        var a = 0
        var b = s.length
        if (left) while (a < b && Character.isWhitespace(s.charAt(a))) a += 1
        if (right) while (b > a && Character.isWhitespace(s.charAt(b - 1)))
          b -= 1
        s.substring(a, b)
      }
    }
    /** ByteLevel add_prefix_space: one leading space unless present. */
    case object PrefixSpace extends NormStep {
      def apply(s: String): String =
        if (s.isEmpty || s.charAt(0) == ' ') s else " " + s
    }
  }

  /** A [[GraftTokenizer]] behind a normalizer chain. `encodePieces`
    * offsets refer to the NORMALIZED text (the chain may change
    * lengths); `encode`/`decode`/ids delegate unchanged. */
  final case class NormalizingTokenizer(
      steps: Seq[NormStep],
      inner: GraftTokenizer
  ) extends GraftTokenizer {
    private def norm(s: String): String =
      steps.foldLeft(s)((acc, st) => st(acc))
    override def encode(text: String, addSpecialTokens: Boolean): Array[Long] =
      inner.encode(norm(text), addSpecialTokens)
    override def encodePieces(text: String): Array[(Long, Int, Int)] =
      inner.encodePieces(norm(text))
    override def decode(ids: Seq[Long], skipSpecialTokens: Boolean): String =
      inner.decode(ids, skipSpecialTokens)
    override def bosIds: Seq[Long] = inner.bosIds
    override def eosIds: Seq[Long] = inner.eosIds
    override def sepIds: Seq[Long] = inner.sepIds
    override def padId: Long = inner.padId
    override def unkId: Long = inner.unkId
  }

  private def wrap(steps: Seq[NormStep], t: GraftTokenizer): GraftTokenizer =
    if (steps.isEmpty) t else NormalizingTokenizer(steps, t)

  def load(path: String): GraftTokenizer = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = mapper.readTree(new java.io.File(path))
    val model = Option(root.get("model")).getOrElse(
      throw new IllegalArgumentException(s"$path: no `model` object"))
    val modelType =
      Option(model.get("type")).map(_.asText()).getOrElse("missing")
    modelType match {
      case "WordPiece" => loadWordPiece(root, model, path)
      case "BPE"       => loadBpe(root, model, path)
      case "Unigram"   => loadUnigram(root, model, path)
      case other =>
        throw new IllegalArgumentException(
          s"$path: unsupported model.type `$other` " +
            "(supported: WordPiece, BPE, Unigram)")
    }
  }

  /** added_tokens entries as (content, id, special). */
  private def addedTokens(root: JsonNode): Seq[(String, Long, Boolean)] =
    Option(root.get("added_tokens")).toSeq.flatMap { arr =>
      (0 until arr.size).map { i =>
        val t = arr.get(i)
        (t.get("content").asText(), t.get("id").asLong(),
          Option(t.get("special")).exists(_.asBoolean()))
      }
    }

  /** A `vocab` object (token → id), as in `tokenizer.json` models and the
    * GPT-2 `vocab.json` file. */
  private[operators] def vocabOf(node: JsonNode): Map[String, Long] = {
    val vocab = Map.newBuilder[String, Long]
    node.properties().forEach(e => vocab += e.getKey -> e.getValue.asLong())
    vocab.result()
  }

  private def typeOf(n: JsonNode): String =
    Option(n.get("type")).map(_.asText()).getOrElse("missing")

  /** The `field` config flattened to a Sequence-free list; a `Sequence`
    * holds its children under `children`. */
  private def flat(root: JsonNode, field: String,
      children: String): Seq[JsonNode] = {
    def go(n: JsonNode): Seq[JsonNode] =
      if (typeOf(n) == "Sequence")
        Option(n.get(children)).toSeq.flatMap(ns =>
          (0 until ns.size).flatMap(i => go(ns.get(i))))
      else Seq(n)
    Option(root.get(field)).filterNot(_.isNull).toSeq.flatMap(go)
  }
  private def normalizers(root: JsonNode) =
    flat(root, "normalizer", "normalizers")
  private def preTokenizers(root: JsonNode) =
    flat(root, "pre_tokenizer", "pretokenizers")
  private def decoders(root: JsonNode) = flat(root, "decoder", "decoders")

  /** Lowercase flag from the normalizer config (BertNormalizer /
    * Lowercase, possibly nested in a Sequence). */
  private def lowercaseOf(root: JsonNode): Boolean =
    normalizers(root).exists { n =>
      typeOf(n) match {
        case "BertNormalizer" =>
          Option(n.get("lowercase")).forall(_.asBoolean())
        case "Lowercase" => true
        case _ => false
      }
    }

  /** Replace node's pattern: `{"String": s}` or `{"Regex": r}`. */
  private def replaceOf(n: JsonNode, path: String): NormStep.Replace = {
    val pat = Option(n.get("pattern")).getOrElse(
      throw new IllegalArgumentException(s"$path: Replace without pattern"))
    val (p, isRx) =
      if (pat.has("String")) (pat.get("String").asText(), false)
      else if (pat.has("Regex")) (pat.get("Regex").asText(), true)
      else if (pat.isTextual) (pat.asText(), false)
      else throw new IllegalArgumentException(
        s"$path: Replace pattern must be {String}/{Regex}")
    NormStep.Replace(p, isRx, n.get("content").asText())
  }

  /** Interpret one normalizer node into chain steps.
    * `absorbLowercase` = the model itself lowercases (WordPiece flag,
    * which carries bert-uncased's accent-strip), so Lowercase /
    * BertNormalizer emit nothing there. Unknown types reject. */
  private def stepsOf(n: JsonNode, absorbLowercase: Boolean,
      path: String): Seq[NormStep] =
    typeOf(n) match {
      case "NFD"  => Seq(NormStep.UnicodeForm("NFD"))
      case "NFC"  => Seq(NormStep.UnicodeForm("NFC"))
      case "NFKD" => Seq(NormStep.UnicodeForm("NFKD"))
      case "NFKC" => Seq(NormStep.UnicodeForm("NFKC"))
      case "Lowercase" =>
        if (absorbLowercase) Seq.empty else Seq(NormStep.Lower)
      case "StripAccents" => Seq(NormStep.StripAccents)
      case "BertNormalizer" =>
        val lower = Option(n.get("lowercase")).forall(_.asBoolean())
        val strip = Option(n.get("strip_accents")).filterNot(_.isNull)
          .map(_.asBoolean())
        if (absorbLowercase)
          // model flag covers lowercase+strip; the one residual case is
          // an EXPLICIT strip_accents=true on a cased (non-lowering) file
          (if (strip.contains(true) && !lower) Seq(NormStep.StripAccents)
           else Seq.empty)
        else
          (if (lower) Seq(NormStep.Lower) else Seq.empty) ++
            (if (strip.getOrElse(lower)) Seq(NormStep.StripAccents)
             else Seq.empty)
      case "Precompiled" =>
        // sentencepiece's compiled charsmap: an EMPTY map is a genuine
        // no-op (common in re-serialized files); a populated one cannot
        // be interpreted without the sp runtime — reject, don't guess
        if (Option(n.get("precompiled_charsmap"))
            .forall(c => c.isNull || c.asText().isEmpty)) Seq.empty
        else throw new IllegalArgumentException(
          s"$path: non-empty Precompiled charsmap unsupported " +
            "(re-export the tokenizer with explicit normalizers)")
      case "Replace" => Seq(replaceOf(n, path))
      case "Prepend" =>
        Seq(NormStep.Prepend(Option(n.get("prepend")).map(_.asText())
          .getOrElse("▁")))
      case "Strip" =>
        Seq(NormStep.Strip(
          Option(n.get("strip_left")).forall(_.asBoolean()),
          Option(n.get("strip_right")).forall(_.asBoolean())))
      case other =>
        throw new IllegalArgumentException(
          s"$path: unsupported normalizer type `$other` (supported: " +
            "NFD/NFC/NFKD/NFKC, Lowercase, StripAccents, " +
            "BertNormalizer, Replace, Prepend, Strip, Sequence)")
    }

  /** The normalizer chain's steps (see [[stepsOf]]). */
  private def normSteps(root: JsonNode, absorbLowercase: Boolean,
      path: String): Seq[NormStep] =
    normalizers(root).flatMap(stepsOf(_, absorbLowercase, path))

  /** Validate the pre_tokenizer against what the model engine does
    * internally; return any extra chain steps it implies. */
  private def preTokenizerSteps(root: JsonNode, modelType: String,
      path: String): Seq[NormStep] =
    preTokenizers(root).flatMap { n =>
      (modelType, typeOf(n)) match {
        // WordPiece's word split IS Bert/Whitespace pre-tokenization
        case ("WordPiece", "BertPreTokenizer" | "Whitespace" |
            "WhitespaceSplit") => Seq.empty
        // BPE's GPT-2 regex IS ByteLevel(use_regex=true)
        case ("BPE", "ByteLevel") =>
          if (Option(n.get("add_prefix_space")).exists(_.asBoolean()))
            Seq(NormStep.PrefixSpace)
          else Seq.empty
        // a Split(Regex, Isolated) replaces the GPT-2 regex — consumed
        // by loadBpe via splitRegexOf, not a chain step
        case ("BPE", "Split") =>
          require(Option(n.get("behavior")).map(_.asText())
              .forall(_ == "Isolated") &&
            !Option(n.get("invert")).exists(_.asBoolean()),
            s"$path: only Split(behavior=Isolated, invert=false) supported")
          Seq.empty
        // Unigram's space-marking IS Metaspace; its prepend intent is
        // consumed by loadUnigram, not a chain step
        case ("Unigram", "Metaspace") =>
          metaspacePrepends(n, path)
          Seq.empty
        case (_, other) =>
          throw new IllegalArgumentException(
            s"$path: unsupported pre_tokenizer `$other` for $modelType")
      }
    }

  /** A Metaspace pre_tokenizer's dummy-prefix intent: prepend_scheme
    * "never" or add_prefix_space=false turn it off. Only the ▁
    * replacement is supported. */
  private def metaspacePrepends(n: JsonNode, path: String): Boolean = {
    val repl = Option(n.get("replacement")).map(_.asText()).getOrElse("▁")
    require(repl == "▁",
      s"$path: Metaspace replacement `$repl` unsupported (need ▁)")
    Option(n.get("prepend_scheme")).map(_.asText()) match {
      case Some(scheme) => scheme != "never" // always / first
      case None => Option(n.get("add_prefix_space")).forall(_.asBoolean())
    }
  }

  /** The TemplateProcessing single-sequence template's SpecialToken ids
    * before and after the `A` sequence; None for any other (or no)
    * post_processor. */
  private def templateSpecials(
      root: JsonNode): Option[(Seq[String], Seq[String])] =
    Option(root.get("post_processor")).filterNot(_.isNull)
      .filter(typeOf(_) == "TemplateProcessing")
      .flatMap(pp => Option(pp.get("single")))
      .map { single =>
        val (before, after) =
          (0 until single.size).map(i => single.get(i)).span(!_.has("Sequence"))
        def ids(items: Seq[JsonNode]): Seq[String] =
          items.filter(_.has("SpecialToken"))
            .map(_.get("SpecialToken").get("id").asText())
        (ids(before), ids(after))
      }

  /** (clsToken, sepToken): the template's specials around `A`, or
    * BertProcessing's cls/sep pair. */
  private def clsSepOf(root: JsonNode): Option[(String, String)] =
    Option(root.get("post_processor")).filterNot(_.isNull) match {
      case Some(pp) if typeOf(pp) == "BertProcessing" =>
        // [["[SEP]", id], ["[CLS]", id]] pair fields
        for {
          sep <- Option(pp.get("sep")).map(_.get(0).asText())
          cls <- Option(pp.get("cls")).map(_.get(0).asText())
        } yield (cls, sep)
      case _ =>
        templateSpecials(root).flatMap { case (before, after) =>
          for (c <- before.headOption; s <- after.headOption) yield (c, s)
        }
    }

  private def loadWordPiece(
      root: JsonNode, model: JsonNode, path: String): GraftTokenizer = {
    val prefix = Option(model.get("continuing_subword_prefix"))
      .map(_.asText()).getOrElse("##")
    require(prefix == "##",
      s"$path: continuing_subword_prefix `$prefix` unsupported (need ##)")
    val added = addedTokens(root)
    val vocab = vocabOf(model.get("vocab")) ++
      added.map { case (tok, id, _) => tok -> id }
    val unk = Option(model.get("unk_token")).map(_.asText())
      .getOrElse("[UNK]")
    val (cls, sep) = clsSepOf(root).getOrElse(("[CLS]", "[SEP]"))
    val pad = added
      .collectFirst { case (t, _, true) if t.toUpperCase
        .contains("PAD") => t }
      .getOrElse("[PAD]")
    val wp = WordPieceTokenizer(
      vocab,
      lowercase = lowercaseOf(root),
      clsToken = cls, sepToken = sep, padToken = pad, unkToken = unk,
      maxInputCharsPerWord = Option(model.get("max_input_chars_per_word"))
        .map(_.asInt()).getOrElse(100))
    // lowercase (and its bert-uncased accent-strip) is absorbed by the
    // model flag; everything else in the normalizer algebra chains
    wrap(normSteps(root, absorbLowercase = true, path) ++
      preTokenizerSteps(root, "WordPiece", path), wp)
  }

  private def loadBpe(
      root: JsonNode, model: JsonNode, path: String): GraftTokenizer = {
    val added = addedTokens(root)
    val vocab = vocabOf(model.get("vocab")) ++
      added.map { case (tok, id, _) => tok -> id }
    val mergesNode = model.get("merges")
    val merges = BytePairTokenizer.ranks((0 until mergesNode.size).map { i =>
      val m = mergesNode.get(i)
      if (m.isArray) (m.get(0).asText(), m.get(1).asText())
      else {
        val parts = m.asText().split(" ", 2)
        (parts(0), parts(1))
      }
    }, vocab, path)
    if (Option(model.get("byte_fallback")).exists(_.asBoolean()))
      return loadSpmBpe(root, model, path, vocab, merges)
    val specials = added.collect { case (tok, id, true) => tok -> id }.toMap
    val eot = specials.keys.find(_ == "<|endoftext|>")
      .orElse(specials.keys.headOption).getOrElse("<|endoftext|>")
    val bpe = BytePairTokenizer(vocab, merges, specials, eotToken = eot,
      preTokenRegex = splitRegexOf(root, path),
      ignoreMerges = Option(model.get("ignore_merges"))
        .exists(_.asBoolean()),
      // Llama-3's <|begin_of_text|>
      bosToken = templateSpecials(root).flatMap(_._1.headOption))
    wrap(normSteps(root, absorbLowercase = false, path) ++
      preTokenizerSteps(root, "BPE", path), bpe)
  }

  /** The `Split` pre_tokenizer's regex (Llama-3-family layout: a
    * Sequence of Split(Regex pattern, Isolated) + ByteLevel). */
  private def splitRegexOf(root: JsonNode, path: String): Option[String] =
    preTokenizers(root).find(typeOf(_) == "Split").map { n =>
      val pat = Option(n.get("pattern")).getOrElse(
        throw new IllegalArgumentException(s"$path: Split without pattern"))
      if (pat.has("Regex")) pat.get("Regex").asText()
      else if (pat.has("String"))
        java.util.regex.Pattern.quote(pat.get("String").asText())
      else throw new IllegalArgumentException(
        s"$path: Split pattern must be {Regex}/{String}")
    }

  /** Llama/Mistral-family sentencepiece-BPE (`byte_fallback: true`):
    * [[SpmBpeTokenizer]] behind the normalizer chain. The family's
    * space-marking may arrive as the normalizer pair (Prepend ▁ +
    * Replace " "→▁, kept as chain steps — the engine consumes marked
    * text) or as a Metaspace pre_tokenizer (mapped onto the same
    * steps); any splitting pre_tokenizer rejects. The decoder chain
    * (`Replace`/`ByteFallback`/`Fuse`/`Strip`, possibly in a Sequence)
    * is what the engine's decode implements — other decoder types
    * reject rather than silently mis-decode. bos/eos placement comes
    * from the TemplateProcessing single-sequence template: a special
    * before `A` adds bos, one after adds eos; without a template, bos
    * only when `<s>` exists in the vocab (the family convention). */
  private def loadSpmBpe(
      root: JsonNode, model: JsonNode, path: String,
      vocab: Map[String, Long],
      merges: Map[(String, String), Int]): GraftTokenizer = {
    val unk = Option(model.get("unk_token")).filterNot(_.isNull)
      .map(_.asText()).getOrElse("<unk>")
    val fuseUnk = Option(model.get("fuse_unk")).forall(_.asBoolean())
    val norm = normSteps(root, absorbLowercase = false, path)
    // space marking: normalizer chain steps pass through; a Metaspace
    // pre_tokenizer contributes the equivalent steps
    val metaSteps = preTokenizers(root).flatMap { n =>
      typeOf(n) match {
        case "Metaspace" =>
          (if (metaspacePrepends(n, path)) Seq(NormStep.Prepend("▁"))
           else Seq.empty) :+ NormStep.Replace(" ", isRegex = false, "▁")
        case other =>
          throw new IllegalArgumentException(
            s"$path: unsupported pre_tokenizer `$other` for " +
              "byte_fallback BPE (supported: Metaspace or none)")
      }
    }
    // reject decoder types outside the chain the engine implements
    validateByteFallbackDecoder(root, path)
    val (addBos, addEos) = templateSpecials(root)
      .map { case (before, after) => (before.nonEmpty, after.nonEmpty) }
      .getOrElse((vocab.contains("<s>"), false))
    val spm = SpmBpeTokenizer(vocab, merges,
      unkToken = unk, fuseUnk = fuseUnk, byteFallback = true,
      addBos = addBos, addEos = addEos)
    wrap(norm ++ metaSteps, spm)
  }

  /** The family's decoder algebra: Replace / ByteFallback / Fuse /
    * Strip (flattened through Sequence) — exactly what the engines'
    * decode implements. Anything else rejects with a clear error. */
  private def validateByteFallbackDecoder(root: JsonNode,
      path: String): Unit = {
    val ok = Set("Replace", "ByteFallback", "Fuse", "Strip")
    decoders(root).map(typeOf).filterNot(ok).foreach { t =>
      throw new IllegalArgumentException(
        s"$path: unsupported decoder type `$t` for byte_fallback " +
          "models (supported: Replace, ByteFallback, Fuse, Strip, " +
          "Sequence)")
    }
  }

  private def loadUnigram(
      root: JsonNode, model: JsonNode, path: String): GraftTokenizer = {
    val vocabArr = model.get("vocab")
    val rows = (0 until vocabArr.size).map { i =>
      (vocabArr.get(i).get(0).asText(), vocabArr.get(i).get(1).asDouble())
    }
    // the Llama-style normalizer pair (Prepend ▁ + Replace " "→▁) IS
    // the engine's internal space-marking: absorb it (honoring its
    // presence for the dummy prefix) instead of double-applying
    val rawSteps = normSteps(root, absorbLowercase = false, path)
    val prependMark = NormStep.Prepend("▁")
    val spaceMark = NormStep.Replace(" ", isRegex = false, "▁")
    val chain = rawSteps
      .filterNot(s => s == prependMark || s == spaceMark) ++
      preTokenizerSteps(root, "Unigram", path)
    val addDummy = preTokenizers(root).find(typeOf(_) == "Metaspace") match {
      case Some(n) => metaspacePrepends(n, path)
      // llama-style normalizer, else sentencepiece's add_dummy_prefix
      case None => !rawSteps.contains(spaceMark) || rawSteps.contains(prependMark)
    }
    // byte fallback: the model flag, or a ByteFallback decoder in the
    // chain (some exports carry only the latter)
    val byteFb = Option(model.get("byte_fallback")).exists(_.asBoolean()) ||
      decoders(root).exists(typeOf(_) == "ByteFallback")
    if (byteFb) validateByteFallbackDecoder(root, path)
    val uni = UnigramTokenizer.fromRows(rows,
      unkRow = Some(Option(model.get("unk_id")).map(_.asLong()).getOrElse(0L)),
      added = addedTokens(root).map { case (t, id, _) => t -> id }.toMap)
      .copy(addDummyPrefix = addDummy, byteFallback = byteFb)
    wrap(chain, uni)
  }
}
