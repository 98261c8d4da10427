package graft

import graft.operators._
import org.scalatest.funsuite.AnyFunSuite

/** Golden specs for the HF fast-tokenizer single-file `tokenizer.json`
  * loader, against fixtures laid out exactly like the public format
  * (version header, added_tokens with full flag set, normalizer,
  * pre_tokenizer, post_processor, decoder, model). */
class HfTokenizerJsonSpec extends AnyFunSuite {

  private def write(name: String, json: String): String = {
    val f = java.nio.file.Files.createTempFile(name, ".json")
    java.nio.file.Files.write(f, json.getBytes("UTF-8"))
    f.toString
  }

  test("WordPiece tokenizer.json: vocab, normalizer, template, added tokens") {
    val path = write("wp", """{
      "version": "1.0",
      "truncation": null,
      "padding": null,
      "added_tokens": [
        {"id": 0, "content": "[PAD]", "single_word": false, "lstrip": false,
         "rstrip": false, "normalized": false, "special": true},
        {"id": 1, "content": "[UNK]", "single_word": false, "lstrip": false,
         "rstrip": false, "normalized": false, "special": true},
        {"id": 2, "content": "[CLS]", "single_word": false, "lstrip": false,
         "rstrip": false, "normalized": false, "special": true},
        {"id": 3, "content": "[SEP]", "single_word": false, "lstrip": false,
         "rstrip": false, "normalized": false, "special": true}
      ],
      "normalizer": {"type": "BertNormalizer", "clean_text": true,
        "handle_chinese_chars": true, "strip_accents": null,
        "lowercase": true},
      "pre_tokenizer": {"type": "BertPreTokenizer"},
      "post_processor": {"type": "TemplateProcessing",
        "single": [
          {"SpecialToken": {"id": "[CLS]", "type_id": 0}},
          {"Sequence": {"id": "A", "type_id": 0}},
          {"SpecialToken": {"id": "[SEP]", "type_id": 0}}],
        "pair": [],
        "special_tokens": {
          "[CLS]": {"id": "[CLS]", "ids": [2], "tokens": ["[CLS]"]},
          "[SEP]": {"id": "[SEP]", "ids": [3], "tokens": ["[SEP]"]}}},
      "decoder": {"type": "WordPiece", "prefix": "##", "cleanup": true},
      "model": {"type": "WordPiece", "unk_token": "[UNK]",
        "continuing_subword_prefix": "##",
        "max_input_chars_per_word": 100,
        "vocab": {"[PAD]": 0, "[UNK]": 1, "[CLS]": 2, "[SEP]": 3,
          "un": 4, "##want": 5, "##ed": 6, "run": 7, "##ning": 8,
          "this": 9}}
    }""")
    val t = HfTokenizerJson.load(path)
    assert(t.isInstanceOf[WordPieceTokenizer])
    // id layout straight from the file; normalizer lowercase honored
    assert(t.encode("UNWANTED running", addSpecialTokens = true).toSeq ==
      Seq(2L, 4L, 5L, 6L, 7L, 8L, 3L))
    assert(t.padId == 0L && t.unkId == 1L)
    assert(t.bosIds == Seq(2L) && t.sepIds == Seq(3L))
    assert(t.encode("xyzzy", addSpecialTokens = false).toSeq == Seq(1L))
  }

  test("WordPiece: cased model (no lowercase normalizer) keeps case") {
    val path = write("wpc", """{
      "version": "1.0",
      "added_tokens": [
        {"id": 0, "content": "[UNK]", "special": true}],
      "normalizer": null,
      "model": {"type": "WordPiece", "unk_token": "[UNK]",
        "continuing_subword_prefix": "##",
        "vocab": {"[UNK]": 0, "Hello": 1, "hello": 2}}
    }""")
    val t = HfTokenizerJson.load(path)
    assert(t.encode("Hello", addSpecialTokens = false).toSeq == Seq(1L))
    assert(t.encode("hello", addSpecialTokens = false).toSeq == Seq(2L))
  }

  test("BPE tokenizer.json: string merges (classic layout)") {
    // GPT-2-style byte-level BPE: 'l' 'o' 'w' base chars + merges
    val path = write("bpe", """{
      "version": "1.0",
      "added_tokens": [
        {"id": 6, "content": "<|endoftext|>", "special": true}],
      "normalizer": null,
      "pre_tokenizer": {"type": "ByteLevel", "add_prefix_space": false,
        "trim_offsets": true, "use_regex": true},
      "model": {"type": "BPE", "dropout": null, "unk_token": null,
        "continuing_subword_prefix": "", "end_of_word_suffix": "",
        "fuse_unk": false,
        "vocab": {"l": 0, "o": 1, "w": 2, "lo": 3, "low": 4, "er": 5,
          "<|endoftext|>": 6, "e": 7, "r": 8},
        "merges": ["l o", "lo w", "e r"]}
    }""")
    val t = HfTokenizerJson.load(path)
    assert(t.encode("low", addSpecialTokens = false).toSeq == Seq(4L))
    assert(t.padId == 6L) // pad = eot, GPT-2 convention
  }

  test("BPE tokenizer.json: pair-array merges (current layout)") {
    val path = write("bpe2", """{
      "version": "1.0",
      "added_tokens": [],
      "model": {"type": "BPE",
        "vocab": {"a": 0, "b": 1, "ab": 2},
        "merges": [["a", "b"]]}
    }""")
    val t = HfTokenizerJson.load(path)
    assert(t.encode("ab", addSpecialTokens = false).toSeq == Seq(2L))
  }

  test("BPE tokenizer.json: a merge whose product is not in the vocab " +
    "fails fast, on both BPE paths") {
    // "t h" makes "th", but "th e" makes "the", which the vocab lacks:
    // without the check "the" would encode silently as the eot id
    for (byteFallback <- Seq(false, true)) {
      val path = write("bpe_bad", s"""{
        "version": "1.0",
        "added_tokens": [
          {"id": 4, "content": "<|endoftext|>", "special": true}],
        "model": {"type": "BPE", "byte_fallback": $byteFallback,
          "vocab": {"t": 0, "h": 1, "e": 2, "th": 3},
          "merges": ["t h", "th e"]}
      }""")
      val err = intercept[IllegalArgumentException](HfTokenizerJson.load(path))
      assert(err.getMessage.contains("merge products missing from vocab") &&
        err.getMessage.contains("the"), err.getMessage)
    }
  }

  test("Unigram tokenizer.json: positional vocab, unk_id, specials") {
    val path = write("uni", """{
      "version": "1.0",
      "added_tokens": [
        {"id": 0, "content": "<unk>", "special": true},
        {"id": 1, "content": "<s>", "special": true},
        {"id": 2, "content": "</s>", "special": true}],
      "normalizer": {"type": "Sequence", "normalizers": [
        {"type": "Precompiled", "precompiled_charsmap": ""}]},
      "model": {"type": "Unigram", "unk_id": 0,
        "vocab": [["<unk>", 0.0], ["<s>", 0.0], ["</s>", 0.0],
          ["▁the", -2.0], ["▁cat", -3.0], ["s", -4.0]],
        "byte_fallback": false}
    }""")
    val t = HfTokenizerJson.load(path)
    // ids are the vocab array positions; bos/eos claimed from <s>/</s>
    assert(t.encode("the cats", addSpecialTokens = true).toSeq ==
      Seq(1L, 3L, 4L, 5L, 2L))
    assert(t.unkId == 0L)
  }

  test("unsupported model type fails fast with a clear error") {
    val path = write("bad", """{
      "version": "1.0",
      "model": {"type": "WordLevel", "vocab": {}}
    }""")
    val e = intercept[IllegalArgumentException] { HfTokenizerJson.load(path) }
    assert(e.getMessage.contains("WordLevel"))
    assert(e.getMessage.contains("supported"))
  }

  test("cased WordPiece with explicit strip_accents=true strips accents " +
    "but keeps case (the multilingual-cased layout)") {
    val path = write("wpsa", """{
      "added_tokens": [{"id": 0, "content": "[UNK]", "special": true}],
      "normalizer": {"type": "BertNormalizer", "clean_text": true,
        "handle_chinese_chars": true, "strip_accents": true,
        "lowercase": false},
      "pre_tokenizer": {"type": "BertPreTokenizer"},
      "model": {"type": "WordPiece", "unk_token": "[UNK]",
        "continuing_subword_prefix": "##",
        "vocab": {"[UNK]": 0, "Cafe": 1, "cafe": 2, "Café": 3}}
    }""")
    val t = HfTokenizerJson.load(path)
    // é -> e (accent stripped), C stays upper: "Café" -> "Cafe" = id 1
    assert(t.encode("Café", addSpecialTokens = false).toSeq == Seq(1L))
    assert(t.encode("cafe", addSpecialTokens = false).toSeq == Seq(2L))
  }

  test("NFKC normalizer chain: compatibility forms fold before lookup") {
    val path = write("nfkc", """{
      "added_tokens": [{"id": 0, "content": "<unk>", "special": true}],
      "normalizer": {"type": "Sequence", "normalizers": [
        {"type": "NFKC"}]},
      "model": {"type": "Unigram", "unk_id": 0,
        "vocab": [["<unk>", 0.0], ["▁fi", -1.0], ["▁", -2.0]]}
    }""")
    val t = HfTokenizerJson.load(path)
    // U+FB01 LATIN SMALL LIGATURE FI -> "fi" under NFKC
    assert(t.encode("ﬁ", addSpecialTokens = false).toSeq == Seq(1L))
  }

  test("Llama-style Unigram: Prepend+Replace normalizer absorbed into " +
    "the engine's space-marking (no double prefix), ids unchanged vs " +
    "the plain file") {
    val plain = write("uplain", """{
      "added_tokens": [],
      "model": {"type": "Unigram", "unk_id": 0,
        "vocab": [["<unk>", 0.0], ["▁the", -2.0], ["▁cat", -3.0],
          ["s", -4.0], ["▁", -5.0]]}
    }""")
    val llama = write("ullama", """{
      "added_tokens": [],
      "normalizer": {"type": "Sequence", "normalizers": [
        {"type": "Prepend", "prepend": "▁"},
        {"type": "Replace", "pattern": {"String": " "}, "content": "▁"}]},
      "model": {"type": "Unigram", "unk_id": 0,
        "vocab": [["<unk>", 0.0], ["▁the", -2.0], ["▁cat", -3.0],
          ["s", -4.0], ["▁", -5.0]]}
    }""")
    val tp = HfTokenizerJson.load(plain)
    val tl = HfTokenizerJson.load(llama)
    assert(tp.encode("the cats", addSpecialTokens = false).toSeq ==
      tl.encode("the cats", addSpecialTokens = false).toSeq)
  }

  test("Metaspace prepend_scheme never turns the dummy prefix off") {
    def uni(pretok: String) = write("umeta", s"""{
      "added_tokens": [],
      "pre_tokenizer": $pretok,
      "model": {"type": "Unigram", "unk_id": 0,
        "vocab": [["<unk>", 0.0], ["▁the", -2.0], ["the", -3.0]]}
    }""")
    val always = HfTokenizerJson.load(uni(
      """{"type": "Metaspace", "replacement": "▁",
         "prepend_scheme": "always"}"""))
    val never = HfTokenizerJson.load(uni(
      """{"type": "Metaspace", "replacement": "▁",
         "prepend_scheme": "never"}"""))
    // with the dummy prefix "the" sees a leading marker -> ▁the (id 1);
    // without it the bare-piece "the" (id 2) wins
    assert(always.encode("the", addSpecialTokens = false).toSeq == Seq(1L))
    assert(never.encode("the", addSpecialTokens = false).toSeq == Seq(2L))
  }

  test("ByteLevel add_prefix_space chains a leading space for BPE") {
    def bpe(pretok: String) = write("blps", s"""{
      "added_tokens": [],
      "pre_tokenizer": $pretok,
      "model": {"type": "BPE",
        "vocab": {"a": 0, "Ġ": 1, "Ġa": 2},
        "merges": ["Ġ a"]}
    }""")
    val without = HfTokenizerJson.load(bpe(
      """{"type": "ByteLevel", "add_prefix_space": false,
         "trim_offsets": true, "use_regex": true}"""))
    val withPs = HfTokenizerJson.load(bpe(
      """{"type": "ByteLevel", "add_prefix_space": true,
         "trim_offsets": true, "use_regex": true}"""))
    // Ġ is the byte-level image of the space; with add_prefix_space the
    // bare word encodes as the space-prefixed merge
    assert(without.encode("a", addSpecialTokens = false).toSeq == Seq(0L))
    assert(withPs.encode("a", addSpecialTokens = false).toSeq == Seq(2L))
  }

  test("unsupported normalizer / pre_tokenizer / populated Precompiled " +
    "reject with clear errors") {
    val badNorm = write("badn", """{
      "normalizer": {"type": "Nmt"},
      "model": {"type": "BPE", "vocab": {"a": 0}, "merges": []}
    }""")
    val e1 = intercept[IllegalArgumentException] {
      HfTokenizerJson.load(badNorm)
    }
    assert(e1.getMessage.contains("Nmt"))
    val badPre = write("badp", """{
      "pre_tokenizer": {"type": "Digits"},
      "model": {"type": "BPE", "vocab": {"a": 0}, "merges": []}
    }""")
    val e2 = intercept[IllegalArgumentException] {
      HfTokenizerJson.load(badPre)
    }
    assert(e2.getMessage.contains("Digits"))
    val badPc = write("badpc", """{
      "normalizer": {"type": "Precompiled", "precompiled_charsmap": "AAEC"},
      "model": {"type": "Unigram", "unk_id": 0, "vocab": [["<unk>", 0.0]]}
    }""")
    val e3 = intercept[IllegalArgumentException] {
      HfTokenizerJson.load(badPc)
    }
    assert(e3.getMessage.contains("Precompiled"))
  }

  test("non-## continuation prefix is rejected, not silently wrong") {
    val path = write("pre", """{
      "model": {"type": "WordPiece", "unk_token": "[UNK]",
        "continuing_subword_prefix": "@@", "vocab": {"[UNK]": 0}}
    }""")
    val e = intercept[IllegalArgumentException] { HfTokenizerJson.load(path) }
    assert(e.getMessage.contains("@@"))
  }

  /** `<0x00>`..`<0xFF>` vocab entries at ids 3..258, JSON fragment. */
  private def byteVocabJson: String =
    (0 until 256).map(b => f""""<0x$b%02X>": ${b + 3}""").mkString(", ")

  /** A Llama-family-layout file: BPE + byte_fallback + fuse_unk,
    * Prepend/Replace normalizer pair, Replace/ByteFallback/Fuse/Strip
    * decoder Sequence, `<s>`-only TemplateProcessing. Word pieces:
    * merges build `llo` from l+l, ll+o. */
  private def llamaStyleJson: String = s"""{
    "version": "1.0",
    "added_tokens": [
      {"id": 0, "content": "<unk>", "single_word": false, "lstrip": false,
       "rstrip": false, "normalized": false, "special": true},
      {"id": 1, "content": "<s>", "single_word": false, "lstrip": false,
       "rstrip": false, "normalized": false, "special": true},
      {"id": 2, "content": "</s>", "single_word": false, "lstrip": false,
       "rstrip": false, "normalized": false, "special": true}
    ],
    "normalizer": {"type": "Sequence", "normalizers": [
      {"type": "Prepend", "prepend": "▁"},
      {"type": "Replace", "pattern": {"String": " "}, "content": "▁"}]},
    "pre_tokenizer": null,
    "post_processor": {"type": "TemplateProcessing",
      "single": [
        {"SpecialToken": {"id": "<s>", "type_id": 0}},
        {"Sequence": {"id": "A", "type_id": 0}}],
      "pair": [],
      "special_tokens": {
        "<s>": {"id": "<s>", "ids": [1], "tokens": ["<s>"]}}},
    "decoder": {"type": "Sequence", "decoders": [
      {"type": "Replace", "pattern": {"String": "▁"}, "content": " "},
      {"type": "ByteFallback"},
      {"type": "Fuse"},
      {"type": "Strip", "content": " ", "start": 1, "stop": 0}]},
    "model": {"type": "BPE", "dropout": null, "unk_token": "<unk>",
      "continuing_subword_prefix": null, "end_of_word_suffix": null,
      "fuse_unk": true, "byte_fallback": true,
      "vocab": {"<unk>": 0, "<s>": 1, "</s>": 2, $byteVocabJson,
        "▁": 259, "h": 260, "e": 261, "l": 262, "o": 263,
        "ll": 264, "llo": 265, "n": 266, "i": 267},
      "merges": ["l l", "ll o"]}
  }"""

  test("byte_fallback BPE (Llama-family layout): merges over marked " +
    "text, unknown chars -> <0xNN> tokens, <s>-only template") {
    val t = HfTokenizerJson.load(write("llama", llamaStyleJson))
    // "hello né": ▁ h e llo ▁ n, then é (U+00E9) = bytes C3 A9 ->
    // ids 3+0xC3=198+... <0xC3>=198, <0xA9>=172
    assert(t.encode("hello né", addSpecialTokens = true).toSeq ==
      Seq(1L, 259L, 260L, 261L, 265L, 259L, 266L, 198L, 172L))
    // no eos: the template carries <s> only
    assert(t.encode("h", addSpecialTokens = true).toSeq ==
      Seq(1L, 259L, 260L))
    // bosIds/eosIds mirror the template: <s> only, no trailing </s>
    assert(t.unkId == 0L && t.bosIds == Seq(1L) && t.eosIds.isEmpty &&
      t.sepIds == Seq(2L))
  }

  test("byte_fallback BPE: round-trip decode of a string with unseen " +
    "bytes (multi-byte UTF-8 via <0xNN> runs)") {
    val t = HfTokenizerJson.load(write("llama", llamaStyleJson))
    // U+1F600 has NO vocab piece: 4-byte UTF-8 run F0 9F 98 80
    val ids = t.encode("hi 😀 ollé", addSpecialTokens = true)
    assert(ids.count(id => id >= 3L && id <= 258L) == 6) // 4 + 2 bytes
    assert(t.decode(ids.toSeq, skipSpecialTokens = true) ==
      "hi 😀 ollé")
    // lone continuation byte decodes to U+FFFD (invalid sequence)
    assert(t.decode(Seq(198L), skipSpecialTokens = true) == "�")
  }

  test("byte_fallback BPE: unsupported decoder type rejects") {
    val bad = llamaStyleJson.replace("""{"type": "Fuse"}""",
      """{"type": "CTC"}""")
    val e = intercept[IllegalArgumentException] {
      HfTokenizerJson.load(write("llamabad", bad))
    }
    assert(e.getMessage.contains("CTC"))
  }

  test("Llama-3-layout BPE: Split regex pre-tokenizer, ignore_merges, " +
    "bos from the template") {
    // byte-level alphabet: ' ' maps to Ġ; vocab carries whole words so
    // ignore_merges resolves them without any merge path
    val path = write("llama3", """{
      "version": "1.0",
      "added_tokens": [
        {"id": 100, "content": "<|begin_of_text|>", "single_word": false,
         "lstrip": false, "rstrip": false, "normalized": false,
         "special": true}
      ],
      "normalizer": null,
      "pre_tokenizer": {"type": "Sequence", "pretokenizers": [
        {"type": "Split",
         "pattern": {"Regex": "(?i:'s|'t|'re|'ve|'m|'ll|'d)|[^\\r\\n\\p{L}\\p{N}]?\\p{L}+|\\p{N}{1,3}| ?[^\\s\\p{L}\\p{N}]+[\\r\\n]*|\\s*[\\r\\n]+|\\s+(?!\\S)|\\s+"},
         "behavior": "Isolated", "invert": false},
        {"type": "ByteLevel", "add_prefix_space": false,
         "use_regex": false}]},
      "post_processor": {"type": "TemplateProcessing",
        "single": [
          {"SpecialToken": {"id": "<|begin_of_text|>", "type_id": 0}},
          {"Sequence": {"id": "A", "type_id": 0}}],
        "pair": [],
        "special_tokens": {"<|begin_of_text|>":
          {"id": "<|begin_of_text|>", "ids": [100],
           "tokens": ["<|begin_of_text|>"]}}},
      "model": {"type": "BPE", "unk_token": null, "fuse_unk": false,
        "byte_fallback": false, "ignore_merges": true,
        "vocab": {"hello": 0, "Ġhi": 1, "123": 2, "4": 3,
          "1234": 4, "<|endoftext|>": 5},
        "merges": []}
    }""")
    val t = HfTokenizerJson.load(path)
    // whole pre-tokens resolve straight from the vocab (no merges
    // exist); ' hi' arrives byte-mapped as Ġhi; bos prepends
    assert(t.encode("hello hi", addSpecialTokens = true).toSeq ==
      Seq(100L, 0L, 1L))
    // the Split regex groups digits 1-3 at a time (GPT-2's default
    // would take '1234' whole and hit the decoy vocab entry)
    assert(t.encode("1234", addSpecialTokens = false).toSeq ==
      Seq(2L, 3L))
  }

  test("Unigram with ByteFallback decoder: uncovered span -> byte " +
    "tokens, decode re-fuses") {
    val vocabArr = (Seq("<unk>" -> 0.0) ++
      (0 until 256).map(b => f"<0x$b%02X>" -> -20.0) ++
      Seq("▁ab" -> -1.0, "▁" -> -2.0)).map {
        case (p, s) => s"""["$p", $s]"""
      }.mkString(", ")
    val t = HfTokenizerJson.load(write("unibf", s"""{
      "normalizer": null,
      "pre_tokenizer": {"type": "Metaspace", "replacement": "▁",
        "prepend_scheme": "always"},
      "decoder": {"type": "Sequence", "decoders": [
        {"type": "Replace", "pattern": {"String": "▁"}, "content": " "},
        {"type": "ByteFallback"},
        {"type": "Fuse"}]},
      "model": {"type": "Unigram", "unk_id": 0,
        "byte_fallback": true, "vocab": [$vocabArr]}
    }"""))
    // "ab é": ▁ab matches; ▁ matches; é uncovered -> C3 A9 byte ids.
    // Byte pieces score -20 > unkScore -100, and the single-char unk
    // fallback then byte-expands; either path yields the byte ids.
    val ids = t.encode("ab é", addSpecialTokens = false)
    val c3 = 1L + 0xC3
    val a9 = 1L + 0xA9
    assert(ids.takeRight(2).toSeq == Seq(c3, a9))
    assert(t.decode(ids.toSeq, skipSpecialTokens = true) == "ab é")
  }
}
