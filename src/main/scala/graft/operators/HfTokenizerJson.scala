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

  /** Lowercase flag from the normalizer config (BertNormalizer /
    * Lowercase, possibly nested in a Sequence). */
  private def lowercaseOf(root: JsonNode): Boolean =
    flatNormalizers(root).exists { n =>
      Option(n.get("type")).map(_.asText()) match {
        case Some("BertNormalizer") =>
          Option(n.get("lowercase")).forall(_.asBoolean())
        case Some("Lowercase") => true
        case _ => false
      }
    }

  /** The normalizer config flattened to a Sequence-free list. */
  private def flatNormalizers(root: JsonNode): Seq[JsonNode] = {
    def flat(n: JsonNode): Seq[JsonNode] =
      Option(n.get("type")).map(_.asText()) match {
        case Some("Sequence") =>
          Option(n.get("normalizers")).toSeq.flatMap(ns =>
            (0 until ns.size).flatMap(i => flat(ns.get(i))))
        case _ => Seq(n)
      }
    Option(root.get("normalizer")).filterNot(_.isNull).toSeq.flatMap(flat)
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
    Option(n.get("type")).map(_.asText()).getOrElse("missing") match {
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

  /** The pre_tokenizer config flattened to a Sequence-free list. */
  private def flatPreTokenizers(root: JsonNode): Seq[JsonNode] = {
    def flat(n: JsonNode): Seq[JsonNode] =
      Option(n.get("type")).map(_.asText()) match {
        case Some("Sequence") =>
          Option(n.get("pretokenizers")).toSeq.flatMap(ns =>
            (0 until ns.size).flatMap(i => flat(ns.get(i))))
        case _ => Seq(n)
      }
    Option(root.get("pre_tokenizer")).filterNot(_.isNull).toSeq.flatMap(flat)
  }

  /** Validate the pre_tokenizer against what the model engine does
    * internally; return any extra chain steps it implies. */
  private def preTokenizerSteps(root: JsonNode, modelType: String,
      path: String): Seq[NormStep] =
    flatPreTokenizers(root).flatMap { n =>
      val t = Option(n.get("type")).map(_.asText()).getOrElse("missing")
      (modelType, t) match {
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
        // Unigram's space-marking IS Metaspace; prepend_scheme maps to
        // add_dummy_prefix (consumed by loadUnigram, not a chain step)
        case ("Unigram", "Metaspace") =>
          val repl = Option(n.get("replacement")).map(_.asText())
            .getOrElse("▁")
          require(repl == "▁",
            s"$path: Metaspace replacement `$repl` unsupported (need ▁)")
          Seq.empty
        case (_, other) =>
          throw new IllegalArgumentException(
            s"$path: unsupported pre_tokenizer `$other` for $modelType")
      }
    }

  /** Metaspace/Llama dummy-prefix intent: prepend_scheme "never" or
    * add_prefix_space=false turn the Unigram dummy prefix OFF. */
  private def dummyPrefixOf(root: JsonNode): Boolean =
    flatPreTokenizers(root)
      .find(n => Option(n.get("type")).exists(_.asText() == "Metaspace"))
      .forall { n =>
        Option(n.get("prepend_scheme")).map(_.asText()) match {
          case Some("never") => false
          case Some(_)       => true // always / first
          case None =>
            Option(n.get("add_prefix_space")).forall(_.asBoolean())
        }
      }

  /** (clsToken, sepToken) from the post_processor's single-sequence
    * template: the SpecialToken before the `A` sequence and the first
    * one after it. */
  private def clsSepOf(root: JsonNode): Option[(String, String)] =
    Option(root.get("post_processor")).filterNot(_.isNull).flatMap { pp =>
      Option(pp.get("type")).map(_.asText()) match {
        case Some("TemplateProcessing") =>
          Option(pp.get("single")).flatMap { single =>
            var cls: Option[String] = None
            var sep: Option[String] = None
            var seenA = false
            (0 until single.size).foreach { i =>
              val item = single.get(i)
              if (item.has("Sequence")) seenA = true
              else if (item.has("SpecialToken")) {
                val id = item.get("SpecialToken").get("id").asText()
                if (!seenA && cls.isEmpty) cls = Some(id)
                else if (seenA && sep.isEmpty) sep = Some(id)
              }
            }
            for (c <- cls; s <- sep) yield (c, s)
          }
        case Some("BertProcessing") =>
          // [["[SEP]", id], ["[CLS]", id]] pair fields
          for {
            sep <- Option(pp.get("sep")).map(_.get(0).asText())
            cls <- Option(pp.get("cls")).map(_.get(0).asText())
          } yield (cls, sep)
        case _ => None
      }
    }

  private def loadWordPiece(
      root: JsonNode, model: JsonNode, path: String): GraftTokenizer = {
    val prefix = Option(model.get("continuing_subword_prefix"))
      .map(_.asText()).getOrElse("##")
    require(prefix == "##",
      s"$path: continuing_subword_prefix `$prefix` unsupported (need ##)")
    val vocab = scala.collection.mutable.Map.empty[String, Long]
    model.get("vocab").properties().forEach { e =>
      vocab(e.getKey) = e.getValue.asLong()
    }
    addedTokens(root).foreach { case (tok, id, _) => vocab(tok) = id }
    val unk = Option(model.get("unk_token")).map(_.asText())
      .getOrElse("[UNK]")
    val (cls, sep) = clsSepOf(root).getOrElse(("[CLS]", "[SEP]"))
    val pad = addedTokens(root)
      .collectFirst { case (t, _, true) if t.toUpperCase
        .contains("PAD") => t }
      .getOrElse("[PAD]")
    val wp = WordPieceTokenizer(
      vocab.toMap,
      lowercase = lowercaseOf(root),
      clsToken = cls, sepToken = sep, padToken = pad, unkToken = unk,
      maxInputCharsPerWord = Option(model.get("max_input_chars_per_word"))
        .map(_.asInt()).getOrElse(100))
    // lowercase (and its bert-uncased accent-strip) is absorbed by the
    // model flag; everything else in the normalizer algebra chains
    val chain = flatNormalizers(root)
      .flatMap(stepsOf(_, absorbLowercase = true, path)) ++
      preTokenizerSteps(root, "WordPiece", path)
    wrap(chain, wp)
  }

  private def loadBpe(
      root: JsonNode, model: JsonNode, path: String): GraftTokenizer = {
    val vocab = scala.collection.mutable.Map.empty[String, Long]
    model.get("vocab").properties().forEach { e =>
      vocab(e.getKey) = e.getValue.asLong()
    }
    val mergesNode = model.get("merges")
    val merges = (0 until mergesNode.size).map { i =>
      val m = mergesNode.get(i)
      val (a, b) =
        if (m.isArray) (m.get(0).asText(), m.get(1).asText())
        else {
          val parts = m.asText().split(" ", 2)
          (parts(0), parts(1))
        }
      (a, b) -> i
    }.toMap
    val added = addedTokens(root)
    added.foreach { case (tok, id, _) => vocab(tok) = id }
    if (Option(model.get("byte_fallback")).exists(_.asBoolean()))
      return loadSpmBpe(root, model, path, vocab.toMap, merges)
    val specials = added.collect { case (tok, id, true) => tok -> id }.toMap
    val eot = specials.keys.find(_ == "<|endoftext|>")
      .orElse(specials.keys.headOption).getOrElse("<|endoftext|>")
    val bpe = BytePairTokenizer(vocab.toMap, merges, specials, eotToken = eot,
      preTokenRegex = splitRegexOf(root, path),
      ignoreMerges = Option(model.get("ignore_merges"))
        .exists(_.asBoolean()),
      bosToken = bosTokenOf(root))
    val chain = flatNormalizers(root)
      .flatMap(stepsOf(_, absorbLowercase = false, path)) ++
      preTokenizerSteps(root, "BPE", path)
    wrap(chain, bpe)
  }

  /** The `Split` pre_tokenizer's regex (Llama-3-family layout: a
    * Sequence of Split(Regex pattern, Isolated) + ByteLevel). */
  private def splitRegexOf(root: JsonNode, path: String): Option[String] =
    flatPreTokenizers(root)
      .find(n => Option(n.get("type")).exists(_.asText() == "Split"))
      .map { n =>
        val pat = Option(n.get("pattern")).getOrElse(
          throw new IllegalArgumentException(s"$path: Split without pattern"))
        if (pat.has("Regex")) pat.get("Regex").asText()
        else if (pat.has("String"))
          java.util.regex.Pattern.quote(pat.get("String").asText())
        else throw new IllegalArgumentException(
          s"$path: Split pattern must be {Regex}/{String}")
      }

  /** First SpecialToken before the `A` Sequence in a TemplateProcessing
    * single template — the family's bos (Llama-3 `<|begin_of_text|>`). */
  private def bosTokenOf(root: JsonNode): Option[String] =
    Option(root.get("post_processor")).filterNot(_.isNull).flatMap { pp =>
      Option(pp.get("type")).map(_.asText()) match {
        case Some("TemplateProcessing") =>
          Option(pp.get("single")).flatMap { single =>
            var bos: Option[String] = None
            var seenA = false
            (0 until single.size).foreach { i =>
              val item = single.get(i)
              if (item.has("Sequence")) seenA = true
              else if (item.has("SpecialToken") && !seenA && bos.isEmpty)
                bos = Some(item.get("SpecialToken").get("id").asText())
            }
            bos
          }
        case _ => None
      }
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
    * from the TemplateProcessing single-sequence template (`<s>` only,
    * in the family's files). */
  private def loadSpmBpe(
      root: JsonNode, model: JsonNode, path: String,
      vocab: Map[String, Long],
      merges: Map[(String, String), Int]): GraftTokenizer = {
    val unk = Option(model.get("unk_token")).filterNot(_.isNull)
      .map(_.asText()).getOrElse("<unk>")
    val fuseUnk = Option(model.get("fuse_unk")).forall(_.asBoolean())
    // space marking: normalizer chain steps pass through; a Metaspace
    // pre_tokenizer contributes the equivalent steps
    val normSteps = flatNormalizers(root)
      .flatMap(stepsOf(_, absorbLowercase = false, path))
    val metaSteps = flatPreTokenizers(root).flatMap { n =>
      Option(n.get("type")).map(_.asText()).getOrElse("missing") match {
        case "Metaspace" =>
          val repl = Option(n.get("replacement")).map(_.asText())
            .getOrElse("▁")
          require(repl == "▁",
            s"$path: Metaspace replacement `$repl` unsupported (need ▁)")
          val prepend = Option(n.get("prepend_scheme")).map(_.asText()) match {
            case Some("never") => false
            case Some(_)       => true
            case None =>
              Option(n.get("add_prefix_space")).forall(_.asBoolean())
          }
          (if (prepend) Seq(NormStep.Prepend("▁")) else Seq.empty) ++
            Seq(NormStep.Replace(" ", isRegex = false, "▁"))
        case other =>
          throw new IllegalArgumentException(
            s"$path: unsupported pre_tokenizer `$other` for " +
              "byte_fallback BPE (supported: Metaspace or none)")
      }
    }
    // reject decoder types outside the chain the engine implements
    validateByteFallbackDecoder(root, path)
    val (addBos, addEos) = bosEosOf(root, vocab.keySet)
    val spm = SpmBpeTokenizer(vocab, merges,
      unkToken = unk, fuseUnk = fuseUnk, byteFallback = true,
      addBos = addBos, addEos = addEos)
    wrap(normSteps ++ metaSteps, spm)
  }

  /** The family's decoder algebra: Replace / ByteFallback / Fuse /
    * Strip (flattened through Sequence) — exactly what the engines'
    * decode implements. Anything else rejects with a clear error. */
  private def validateByteFallbackDecoder(root: JsonNode,
      path: String): Unit = {
    def flat(n: JsonNode): Seq[JsonNode] =
      Option(n.get("type")).map(_.asText()) match {
        case Some("Sequence") =>
          Option(n.get("decoders")).toSeq.flatMap(ns =>
            (0 until ns.size).flatMap(i => flat(ns.get(i))))
        case _ => Seq(n)
      }
    val ok = Set("Replace", "ByteFallback", "Fuse", "Strip")
    Option(root.get("decoder")).filterNot(_.isNull).toSeq
      .flatMap(flat).foreach { n =>
        val t = Option(n.get("type")).map(_.asText()).getOrElse("missing")
        if (!ok.contains(t))
          throw new IllegalArgumentException(
            s"$path: unsupported decoder type `$t` for byte_fallback " +
              "models (supported: Replace, ByteFallback, Fuse, Strip, " +
              "Sequence)")
      }
  }

  /** (addBos, addEos) from the TemplateProcessing single-sequence
    * template: a SpecialToken before the `A` Sequence adds bos, one
    * after adds eos. Default (no/other post_processor): bos only when
    * `<s>` exists in the vocab — the family convention. */
  private def bosEosOf(root: JsonNode,
      vocabKeys: Set[String]): (Boolean, Boolean) =
    Option(root.get("post_processor")).filterNot(_.isNull).flatMap { pp =>
      Option(pp.get("type")).map(_.asText()) match {
        case Some("TemplateProcessing") =>
          Option(pp.get("single")).map { single =>
            var before = false
            var after = false
            var seenA = false
            (0 until single.size).foreach { i =>
              val item = single.get(i)
              if (item.has("Sequence")) seenA = true
              else if (item.has("SpecialToken")) {
                if (seenA) after = true else before = true
              }
            }
            (before, after)
          }
        case _ => None
      }
    }.getOrElse((vocabKeys.contains("<s>"), false))

  private def loadUnigram(
      root: JsonNode, model: JsonNode, path: String): GraftTokenizer = {
    val vocabArr = model.get("vocab")
    val unkIdx = Option(model.get("unk_id")).map(_.asLong()).getOrElse(0L)
    val added = addedTokens(root).map { case (t, id, _) => t -> id }.toMap
    var pad, bos, eos = -1L
    val pieces = Map.newBuilder[String, (Long, Double)]
    (0 until vocabArr.size).foreach { i =>
      val entry = vocabArr.get(i)
      val piece = entry.get(0).asText()
      val score = entry.get(1).asDouble()
      piece match {
        case "<pad>"          => pad = i.toLong
        case "<s>"            => bos = i.toLong
        case "</s>"           => eos = i.toLong
        case _ if i.toLong == unkIdx => () // unk piece is the fallback
        case _                => pieces += (piece -> ((i.toLong, score)))
      }
    }
    // added specials may live outside the positional vocab
    pad = if (pad >= 0) pad else added.getOrElse("<pad>", -1L)
    bos = if (bos >= 0) bos else added.getOrElse("<s>", -1L)
    eos = if (eos >= 0) eos else added.getOrElse("</s>", -1L)
    var next = vocabArr.size.toLong
    def alloc(id: Long): Long =
      if (id >= 0) id else { val v = next; next += 1; v }
    // the Llama-style normalizer pair (Prepend ▁ + Replace " "→▁) IS
    // the engine's internal space-marking: absorb it (honoring its
    // presence for the dummy prefix) instead of double-applying
    val rawSteps = flatNormalizers(root)
      .flatMap(stepsOf(_, absorbLowercase = false, path))
    val prependMark = NormStep.Prepend("▁")
    val spaceMark = NormStep.Replace(" ", isRegex = false, "▁")
    val hasPrependMark = rawSteps.contains(prependMark)
    val hasSpaceMark = rawSteps.contains(spaceMark)
    val chain = rawSteps
      .filterNot(s => s == prependMark || s == spaceMark) ++
      preTokenizerSteps(root, "Unigram", path)
    val addDummy =
      if (flatPreTokenizers(root).exists(n =>
        Option(n.get("type")).exists(_.asText() == "Metaspace")))
        dummyPrefixOf(root)
      else if (hasSpaceMark) hasPrependMark // llama-style normalizer
      else true // sentencepiece default add_dummy_prefix
    // byte fallback: the model flag, or a ByteFallback decoder in the
    // chain (some exports carry only the latter)
    val byteFb = Option(model.get("byte_fallback")).exists(_.asBoolean()) ||
      {
        def hasByteFb(n: JsonNode): Boolean =
          Option(n.get("type")).map(_.asText()) match {
            case Some("ByteFallback") => true
            case Some("Sequence") =>
              Option(n.get("decoders")).exists(ns =>
                (0 until ns.size).exists(i => hasByteFb(ns.get(i))))
            case _ => false
          }
        Option(root.get("decoder")).filterNot(_.isNull).exists(hasByteFb)
      }
    if (byteFb) validateByteFallbackDecoder(root, path)
    val uni = UnigramTokenizer(pieces.result(),
      padId = alloc(pad), bosId = alloc(bos), eosId = alloc(eos),
      unkId = unkIdx, addDummyPrefix = addDummy, byteFallback = byteFb)
    wrap(chain, uni)
  }
}
