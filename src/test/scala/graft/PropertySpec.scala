package graft

import graft.operators._
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property tests (SURVEY §5 plan): cardinality/shape invariants that
  * must hold for ANY input, complementing the golden cases.
  * (scalatestplus bridge is not in the offline cache, so properties
  * sample ScalaCheck generators directly with fixed seeds.) */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private val seqGen: Gen[List[Long]] =
    Gen.chooseNum(0, 40).flatMap(n => Gen.listOfN(n, Gen.chooseNum(-5L, 100L)))

  /** Deterministically sample `n` values and run the property on each. */
  private def forAll[A](g: Gen[A], n: Int = 12)(body: A => Unit): Unit =
    (0 until n).foreach { i =>
      g(Gen.Parameters.default, Seed(42L + i)).foreach(body)
    }

  private def whenever(cond: Boolean)(body: => Unit): Unit =
    if (cond) body

  test("strider: every window has length <= max; count matches formula") {
    forAll(Gen.zip(seqGen, Gen.chooseNum(1, 8), Gen.chooseNum(1, 8))) {
      case (xs: List[Long], maxLen: Int, stride: Int) =>
        val df = Seq(Tuple1(xs)).toDF("x")
        val out = SingleSequenceStrider(Seq("x"), maxLen, Some(stride))(df)
        val wins = out.select("x").as[Seq[Long]].collect()
        assert(wins.forall(_.size <= maxLen))
        val expected =
          if (xs.size < maxLen) 1
          else (xs.size - maxLen) / stride + 1
        assert(wins.length == expected)
        // windows concatenated at stride==maxLen reconstruct a prefix
        if (stride == maxLen && xs.nonEmpty)
          assert(wins.flatten.toList == xs.take(wins.map(_.size).sum))
    }
  }

  test("truncation never exceeds budget; preserves under-budget inputs") {
    forAll(Gen.zip(seqGen, seqGen, Gen.chooseNum(1, 60))) {
      case (a: List[Long], b: List[Long], budget: Int) =>
        val df = Seq((a, b)).toDF("a", "b")
        for (strategy <- Seq("uniform", "longest")) {
          val out = TruncateMultipleFields(Seq("a", "b"), maxLength = budget,
            strategy = strategy)(df)
          val r = out.select("a", "b").as[(Seq[Long], Seq[Long])].head()
          val total = r._1.size + r._2.size
          if (a.size + b.size <= budget) {
            assert(r._1 == a && r._2 == b)
          } else {
            assert(total <= budget)
            // truncation only ever takes prefixes
            assert(r._1 == a.take(r._1.size) && r._2 == b.take(r._2.size))
          }
        }
    }
  }

  test("pad after truncate yields exactly padToLength") {
    forAll(Gen.zip(seqGen, Gen.chooseNum(1, 30))) { case (xs: List[Long], n: Int) =>
      val df = Seq(Tuple1(xs)).toDF("x")
      val out = (TruncateSingleField(Map("x" -> n)) >>
        operators.Padding(n, -1L, Seq("x")))(df)
      val r = out.select("x").as[Seq[Long]].head()
      assert(r.size == n)
      assert(r.take(math.min(n, xs.size)) == xs.take(n))
    }
  }

  test("collator output is rectangular and content-preserving") {
    val batchGen = Gen.chooseNum(1, 6).flatMap(n => Gen.listOfN(n, seqGen))
    forAll(batchGen) { (batch: List[List[Long]]) =>
      val df = Seq(Tuple1(batch)).toDF("xs")
      val out = ListCollator(Map("xs" -> -7L))(df)
      val r = out.select("xs").as[Seq[Seq[Long]]].head()
      val maxLen = batch.map(_.size).max
      assert(r.forall(_.size == maxLen))
      r.zip(batch).foreach { case (padded, orig) =>
        assert(padded.take(orig.size) == orig)
        assert(padded.drop(orig.size).forall(_ == -7L))
      }
    }
  }

  test("mask roundtrip: indices -> mask -> indices for arbitrary subsets") {
    forAll(Gen.chooseNum(1, 30).flatMap(n =>
      Gen.someOf(0 until n).map(sel => (n, sel.toList.sorted)))) {
      case (n: Int, sel: List[Int]) =>
        val df = Seq((sel.map(_.toLong), List.fill(n)("x"))).toDF("locs", "ref")
        val out = MaskToIndices("mask", "locs2")(
          IndicesToMask("mask", "ref", "locs")(df))
        assert(out.select("locs2").as[Seq[Long]].head().toList ==
          sel.map(_.toLong))
    }
  }

  test("greedy packing: chunks respect both caps, cover all, in order") {
    forAll(Gen.zip(seqGen.map(_.map(x => math.max(1L, math.abs(x) % 10 + 1))),
      Gen.chooseNum(1, 5), Gen.chooseNum(5, 25))) {
      case (lens: List[Long], maxCount: Int, maxLen: Int) =>
        whenever(lens.nonEmpty) {
          val df = Seq(Tuple1(lens)).toDF("l")
          val starts = df.select(
            graft.functions.functions.greedy_pack_breaks(
              col("l"), lit(maxCount.toLong), lit(maxLen.toLong)).as("s"))
            .as[Seq[Long]].head().toList
          val bounds = starts :+ lens.size.toLong
          val chunks = bounds.sliding(2).map(p =>
            lens.slice(p(0).toInt, p(1).toInt)).toList
          assert(chunks.flatten == lens)                 // full cover, in order
          assert(chunks.forall(_.size <= maxCount))      // count cap
          chunks.foreach { c =>
            // length cap holds unless a single over-long sequence forces it
            assert(c.sum <= maxLen || c.size == 1)
          }
        }
    }
  }

  test("exact dedup: output distinct on key, keeps min id, subset of input") {
    val docGen = Gen.listOfN(12,
      Gen.zip(Gen.chooseNum(0L, 100L), Gen.oneOf("aa", "bb", "cc", "dd")))
    forAll(docGen) { (docsL: List[(Long, String)]) =>
      whenever(docsL.map(_._1).distinct.size == docsL.size) {
        val df = docsL.toDF("doc_id", "text")
        val out = ExactDedup("text", "doc_id")(df)
          .select("doc_id", "text").as[(Long, String)].collect()
        val expect = docsL.groupBy(_._2).map { case (t, rs) =>
          (rs.map(_._1).min, t)
        }.toSet
        assert(out.toSet == expect)
      }
    }
  }

  test("quantize: codes bounded, reconstruction within one step, any vector") {
    val vecGen: Gen[List[Double]] = Gen.chooseNum(1, 24).flatMap(n =>
      Gen.listOfN(n, Gen.chooseNum(-1e6, 1e6)))
    forAll(vecGen, n = 20) { (v: List[Double]) =>
      val df = Seq(Tuple1(v)).toDF("embedding")
      val out = DequantizeEmbeddings("qe", Some("rec"))(
        QuantizeEmbeddings("embedding", Some("qe"))(df))
        .select("qe.q", "qe.lo", "qe.hi", "rec")
        .head()
      val q = out.getSeq[Int](0)
      val (lo, hi) = (out.getDouble(1), out.getDouble(2))
      val rec = out.getSeq[Double](3)
      assert(q.forall(c => c >= 0 && c <= 255))
      assert(lo == v.min && hi == v.max)
      val step = (hi - lo) / 255.0
      v.zip(rec).foreach { case (x, r) =>
        assert(math.abs(x - r) <= step * 1.0001 + 1e-9,
          s"err ${math.abs(x - r)} > step $step")
      }
    }
  }

  test("deterministic sampling: stable under repartition, nested fractions") {
    val df = (0L until 1500L).toDF("doc_id")
    forAll(Gen.chooseNum(0.1, 0.9), n = 6) { (f: Double) =>
      val base = DeterministicSample("doc_id", f)(df)
        .select("doc_id").as[Long].collect().toSet
      // partitioning must not change membership (row-local predicate)
      val reparted = DeterministicSample("doc_id", f)(df.repartition(17))
        .select("doc_id").as[Long].collect().toSet
      assert(base == reparted)
      // a smaller fraction selects a SUBSET (thresholds nest)
      val smaller = DeterministicSample("doc_id", f / 2)(df)
        .select("doc_id").as[Long].collect().toSet
      assert(smaller.subsetOf(base))
    }
  }

  test("decontaminate: any doc containing a benchmark doc verbatim flags") {
    val wordGen = Gen.listOfN(8, Gen.oneOf("aa", "bb", "cc", "dd", "ee"))
    forAll(Gen.zip(wordGen, wordGen), n = 8) {
      case (benchWords: List[String], prefix: List[String]) =>
        val bench = Seq(Tuple1(benchWords)).toDF("bwords")
        val corpus = Seq(
          (1L, prefix ++ benchWords), // contains the benchmark verbatim
          (2L, List("zz", "yy", "xx")) // too short for any 5-gram
        ).toDF("doc_id", "words")
        val flagged = Decontaminate
          .flag(corpus, "doc_id", "words", bench, "bwords", n = 5)
          .select("doc_id", "contaminated").as[(Long, Boolean)]
          .collect().toMap
        assert(flagged(1L), "superstring must always flag")
        assert(!flagged(2L))
    }
  }

  test("byte-level BPE: decode . encode is the identity on arbitrary text") {
    val tok = BytePairTokenizer.fromMerges(Seq(
      ("t", "h"), ("th", "e"), ("\u0120", "t"), ("i", "s"), ("e", "r")
    )).copy(cleanUpTokenizationSpaces = false)
    val textGen: Gen[String] = Gen.chooseNum(0, 60).flatMap(n =>
      Gen.listOfN(n, Gen.frequency(
        6 -> Gen.alphaNumChar,
        2 -> Gen.oneOf(' ', '\t', '\n', '.', ',', '!', '\''),
        1 -> Gen.oneOf('\u00e9', '\u00fc', '\u4e2d', '\u6587', '\u2014'),
        1 -> Gen.oneOf('\ud83c', '\u00df') // lone surrogate excluded below
      )).map(_.mkString))
    forAll(textGen, n = 40) { t0 =>
      // drop unpaired surrogates: they are not valid strings to encode
      val t = t0.filterNot(c => Character.isSurrogate(c))
      val ids = tok.encode(t, addSpecialTokens = false)
      assert(tok.decode(ids.toSeq, skipSpecialTokens = true) == t)
    }
  }

  test("WordPiece: encode and encodePieces equal the reference on any text") {
    // vocab: every lowercase letter/digit as word-initial and "##" piece,
    // a few multi-char and uppercase pieces, some punctuation and
    // accented/CJK pieces; everything else falls to UNK
    val single = ('a' to 'z') ++ ('0' to '9')
    val pieces = single.map(_.toString) ++ single.map("##" + _) ++ Seq(
      "the", "##the", "ing", "##ing", "un", "##un", "ab", "##ab", "cd",
      "The", "A", "##B", ".", ",", "-", "_", "!", "#", "[", "]", "|",
      "\u00e9", "##\u00e9", "\u00f1", "##\u00f1", "\u4e2d", "##\u6587",
      "\u00bf", "\u2014", "PAD", "[CLS]", "[SEP]", "[PAD]", "[UNK]")
    val vocab = pieces.distinct.zipWithIndex.map { case (t, i) => t -> i.toLong }.toMap
    val asciiWord = Gen.chooseNum(1, 6).flatMap(n =>
      Gen.listOfN(n, Gen.frequency(5 -> Gen.alphaLowerChar,
        2 -> Gen.alphaUpperChar, 1 -> Gen.numChar)).map(_.mkString))
    val fragment: Gen[String] = Gen.frequency(
      8 -> asciiWord,
      3 -> Gen.oneOf(" ", " ", "\t", "\n", "\u00a0"),
      3 -> Gen.oneOf(".", ",", "_", "-", "?", "'", "[", "]", "#", "~", "|",
        "\u00bf", "\u2014", "\u201c"),
      3 -> Gen.oneOf("\u00c9", "\u00f1", "\u00d1and\u00fa", "e\u0301", "\u4e2d\u6587",
        "\ud83d\ude00", "\u0130", "\u0301"),
      // over either word-length cap (10 and 100 below) and over the
      // scanner's initial 32-char word buffer
      1 -> Gen.oneOf("abcdefghijklmn", "ABCDEFGHIJKL", "\u00e9" * 11, "e\u0301" * 6,
        "ab" * 20, "\u00e9" * 40, "ab" * 51, "\u00f1" * 101),
      1 -> Gen.oneOf("[CLS]", "[UNK]", "PAD", "qqqz", "xyzzy"))
    val textGen: Gen[String] =
      Gen.chooseNum(0, 24).flatMap(n => Gen.listOfN(n, fragment).map(_.mkString))
    val configs = for {
      lower <- Seq(true, false)
      // a plain-word and a single-punctuation special token, which the
      // splitter emits as one word
      (pad, sep) <- Seq(("[PAD]", "[SEP]"), ("PAD", "|"))
      maxChars <- Seq(10, 100)
    } yield (WordPieceTokenizer(vocab, lower, padToken = pad, sepToken = sep,
        maxInputCharsPerWord = maxChars),
      WordPieceReference(vocab, lower, padToken = pad, sepToken = sep,
        maxInputCharsPerWord = maxChars))
    var nonAscii, unk = 0
    configs.foreach { case (tok, ref) =>
      def check(t: String): Unit = {
        for (specials <- Seq(false, true))
          assert(tok.encode(t, specials) sameElements ref.encode(t, specials),
            s"encode(specials=$specials) lowercase=${tok.lowercase} on '$t'")
        val got = tok.encodePieces(t)
        assert(got sameElements ref.encodePieces(t),
          s"encodePieces lowercase=${tok.lowercase} on '$t': ${got.toSeq}")
        if (t.exists(_ >= 128)) nonAscii += 1
        if (got.exists(_._1 == tok.unkId)) unk += 1
      }
      forAll(textGen, n = 100)(check)
      check("")
      // a long ASCII word, then a long accented one through the same buffer
      check("ab" * 20 + " " + "\u00e9" * 40)
    }
    // the sample exercised both word paths and the UNK fallback
    assert(nonAscii > 100 && unk > 100, s"nonAscii=$nonAscii unk=$unk")
  }

  test("unigram Viterbi: optimal vs exhaustive segmentation on random vocab/text") {
    // random piece vocab over {a,b} + random short text; the Viterbi
    // score must equal the max over ALL segmentations enumerated brute
    // force (pieces + single-char unk fallback)
    val pieceGen: Gen[Map[String, Double]] = for {
      k <- Gen.chooseNum(2, 8)
      ps <- Gen.listOfN(k, Gen.zip(
        Gen.chooseNum(1, 3).flatMap(n => Gen.listOfN(n, Gen.oneOf('a', 'b')).map(_.mkString)),
        Gen.chooseNum(-80, -1).map(_.toDouble)))
    } yield ps.toMap
    val textGen: Gen[String] =
      Gen.chooseNum(1, 7).flatMap(n => Gen.listOfN(n, Gen.oneOf('a', 'b')).map(_.mkString))
    val unkScore = -100.0
    def bestBrute(s: String, pieces: Map[String, Double]): Double =
      if (s.isEmpty) 0.0
      else (1 to s.length).foldLeft(Double.NegativeInfinity) { (acc, cut) =>
        val head = s.substring(0, cut)
        val headScore = pieces.get(head)
          .orElse(if (cut == 1) Some(unkScore) else None)
        headScore.map(h => math.max(acc, h + bestBrute(s.substring(cut), pieces)))
          .getOrElse(acc)
      }
    forAll(Gen.zip(pieceGen, textGen), n = 40) { case (rawPieces, text) =>
      // sp normalization: the tokenizer segments '▁'+text, so the
      // brute-force enumeration runs on the same normalized string
      val tok = UnigramTokenizer(
        rawPieces.zipWithIndex.map { case ((p, sc), i) =>
          p -> ((4L + i, sc))
        }.toMap,
        unkScore = unkScore)
      val norm = "▁" + text
      val expected = bestBrute(norm, rawPieces)
      val got = tok.encodePieces(text).map { case (id, _, _) => id }
      // rescore the emitted path independently: each known piece at its
      // vocab score; unk spans (possibly fused) cost unkScore PER CHAR,
      // with the char count recovered from what pieces don't cover
      val inv = rawPieces.zipWithIndex.map { case ((p, _), i) => (4L + i) -> p }.toMap
      val pieceScore = got.filter(_ != 3L).map(id => rawPieces(inv(id))).sum
      val pieceChars = got.filter(_ != 3L).map(id => inv(id).length).sum
      val viterbiScore = pieceScore + unkScore * (norm.length - pieceChars)
      assert(math.abs(viterbiScore - expected) < 1e-9,
        s"text=$text pieces=$rawPieces viterbi=$viterbiScore best=$expected")
    }
  }

  test("TextChunker is lossless and budget-respecting on random texts") {
    import graft.operators.TextChunker
    val wordGen = Gen.chooseNum(1, 12)
      .flatMap(n => Gen.listOfN(n, Gen.alphaLowerChar)).map(_.mkString)
    val textGen = Gen.chooseNum(0, 30)
      .flatMap(n => Gen.listOfN(n, wordGen)).map(_.mkString(" "))
    forAll(textGen, n = 10) { text =>
      val words = text.split("\\s+").filter(_.nonEmpty).toSeq
      val out = TextChunker("text", "chunk", maxChars = 20L)(
        Seq((1L, text)).toDF("doc_id", "text"))
        .orderBy("chunk_idx")
        .select("chunk").as[String].collect().toSeq
      // lossless: chunks re-split to exactly the original words
      assert(out.flatMap(_.split(" ")).filter(_.nonEmpty) == words)
      // budget: every multi-word chunk's content chars fit the budget
      out.foreach { c =>
        val ws = c.split(" ").filter(_.nonEmpty)
        if (ws.length > 1)
          assert(ws.map(_.length).sum <= 20, s"over budget: '$c'")
      }
      // chunk indexes are dense from 0
      val idx = TextChunker("text", "chunk", maxChars = 20L)(
        Seq((1L, text)).toDF("doc_id", "text"))
        .select("chunk_idx").as[Long].collect().sorted.toSeq
      assert(idx == (0L until idx.length).toSeq)
    }
  }

  test("BPE, SentencePiece-BPE and Unigram: encode, pieces and decode equal " +
    "the reference on any text") {
    val fragment: Gen[String] = Gen.frequency(
      6 -> Gen.chooseNum(1, 6).flatMap(n => Gen.listOfN(n, Gen.frequency(
        6 -> Gen.oneOf("a", "b", "e", "h", "r", "t", "aa", "the", "her"),
        2 -> Gen.alphaNumChar.map(_.toString),
        1 -> Gen.oneOf(".", ",", "'s", "!")))).map(_.mkString),
      3 -> Gen.oneOf(" ", " ", "  ", "\t", "\n", " \n ", "▁"),
      2 -> Gen.oneOf("\u00c9", "\u00e9", "e\u0301", "\u00e9t\u00e9", "\u4e2d\u6587",
        "\ud83d\ude00", "a\ud83d\ude00b"),
      // characters no piece covers, in runs
      1 -> Gen.oneOf("\u00a7", "\u0416\u0416", "\u03a9x\u03a9", "\u2603"),
      1 -> Gen.oneOf("<|endoftext|>", "<|begin_of_text|>", "<s>", "</s>",
        "<unk>", "<pad>"))
    val textGen: Gen[String] =
      Gen.chooseNum(0, 12).flatMap(n => Gen.listOfN(n, fragment).map(_.mkString))
    val texts = (0 until 80).flatMap(i =>
      textGen(Gen.Parameters.default, Seed(7L + i))) ++
      Seq("", "aaaaa", "the there", "\ud83d\ude00\ud83d\ude00", "\u0416\u0416 \u0416")

    /** Parity of one engine with its reference on every text, and on
      * decode of arbitrary ids drawn from `idPool`. */
    def parity(name: String, tok: graft.operators.GraftTokenizer,
        refEncode: (String, Boolean) => Array[Long],
        refPieces: String => Array[(Long, Int, Int)],
        refDecode: (Seq[Long], Boolean) => String, idPool: Seq[Long]): Unit = {
      texts.foreach { t =>
        for (specials <- Seq(false, true)) {
          val ids = tok.encode(t, specials)
          assert(ids sameElements refEncode(t, specials),
            s"$name encode(specials=$specials) on '$t': ${ids.toSeq}")
          for (skip <- Seq(false, true))
            assert(tok.decode(ids.toSeq, skip) == refDecode(ids.toSeq, skip),
              s"$name decode(skip=$skip) of '$t'")
        }
        val pieces = tok.encodePieces(t)
        assert(pieces sameElements refPieces(t),
          s"$name encodePieces on '$t': ${pieces.toSeq}")
      }
      forAll(Gen.listOf(Gen.oneOf(idPool)), n = 60) { ids =>
        for (skip <- Seq(false, true))
          assert(tok.decode(ids, skip) == refDecode(ids, skip),
            s"$name decode(skip=$skip) of $ids")
      }
    }

    // byte-level BPE: GPT-2 regex, and a Llama-3 Split regex with
    // ignore_merges, a bos and a vocab missing some byte units
    val g = BytePairTokenizer.byteToChar
    val sp = g(' ').toString
    // ("aa", "a") ranks before ("a", "a"): on "aaaa", merging every
    // occurrence of the winning pair at once gives aa|aa, merging only
    // the first would give aaa|a
    val merges = Seq(("t", "h"), ("th", "e"), (sp, "the"), ("aa", "a"),
      ("a", "a"), ("h", "e"), ("he", "r"), ("e", "r"), (sp, sp),
      (g(0xc3).toString, g(0xa9).toString), (g(0xe4).toString, g(0xb8).toString),
      (g(0xf0).toString, g(0x9f).toString))
    val gpt2 = BytePairTokenizer.fromMerges(merges)
    val llamaVocab = (gpt2.vocab - g('h').toString - g(0xa9).toString) ++
      Map(sp + "there" -> 900L, "her" -> 901L, "<|begin_of_text|>" -> 902L,
        "<|end_of_text|>" -> 903L)
    val llama3 = BytePairTokenizer(llamaVocab, gpt2.mergeRanks,
      Map("<|begin_of_text|>" -> 902L, "<|end_of_text|>" -> 903L),
      eotToken = "<|end_of_text|>",
      preTokenRegex = Some("(?i:'s|'t|'re|'ve|'m|'ll|'d)|[^\\r\\n\\p{L}\\p{N}]?" +
        "\\p{L}+|\\p{N}{1,3}| ?[^\\s\\p{L}\\p{N}]+[\\r\\n]*|\\s*[\\r\\n]+|\\s+(?!\\S)|\\s+"),
      ignoreMerges = true, bosToken = Some("<|begin_of_text|>"))
    for (tok <- Seq(gpt2, gpt2.copy(cleanUpTokenizationSpaces = false), llama3)) {
      val ref = BytePairReference(tok)
      parity(s"bpe(${tok.preTokenRegex.isDefined})", tok, ref.encode, ref.encodePieces,
        ref.decode, (tok.vocab.values ++ tok.specialTokens.values).toSeq.distinct :+ 7777L)
    }

    // SentencePiece-BPE over ▁-marked text; byte tokens for every byte
    // but 0x9F and 0xE4-0xE6, so an emoji or CJK char falls to <unk>
    val spmPieces = Seq("▁", "a", "b", "e", "h", "r", "t", "▁t", "th", "the",
      "▁the", "he", "her", "aa", "\u00c9", "\u00e9", "\u6587")
    val spmVocab = (Seq("<unk>", "<s>", "</s>", "<pad>") ++
      (0 until 256).filterNot(b => b == 0x9f || (b >= 0xe4 && b <= 0xe6))
        .map(b => f"<0x$b%02X>") ++ spmPieces).zipWithIndex
      .map { case (p, i) => p -> i.toLong }.toMap
    // ("e", "r") has no vocab piece: its product takes the byte path
    val spmMerges = Seq(("▁", "t"), ("t", "h"), ("th", "e"), ("▁t", "he"),
      ("▁", "the"), ("h", "e"), ("he", "r"), ("aa", "a"), ("a", "a"), ("e", "r"))
      .zipWithIndex.toMap
    var spmUnks = 0
    for {
      fuse <- Seq(true, false)
      fallback <- Seq(true, false)
      (bos, eos) <- Seq((true, false), (true, true))
    } {
      val tok = SpmBpeTokenizer(spmVocab, spmMerges, fuseUnk = fuse,
        byteFallback = fallback, addBos = bos, addEos = eos)
      val ref = SpmBpeReference(tok)
      parity(s"spm(fuse=$fuse, fallback=$fallback)", tok, ref.encode,
        ref.encodePieces, ref.decode, spmVocab.values.toSeq :+ 7777L)
      val marked = texts.map(t => "▁" + t.replace(' ', '▁'))
      marked.foreach { t =>
        assert(tok.encodePieces(t) sameElements ref.encodePieces(t),
          s"spm(fuse=$fuse, fallback=$fallback) encodePieces on '$t'")
        spmUnks += tok.encodePieces(t).count(p => p._1 == tok.unkId && p._3 - p._2 > 1)
      }
    }

    // Unigram with and without byte fallback and dummy prefix; byte
    // tokens miss 0xE4-0xE6 and 0xF0
    val uniRows = Seq("▁" -> -2.0, "a" -> -3.0, "aa" -> -3.5, "b" -> -4.0,
      "e" -> -3.0, "h" -> -4.0, "r" -> -4.0, "t" -> -3.0, "▁the" -> -4.0,
      "the" -> -4.5, "her" -> -5.0, "\u00e9" -> -6.0, "\u6587" -> -7.0) ++
      (0 until 256).filterNot(b => b == 0xf0 || (b >= 0xe4 && b <= 0xe6))
        .map(b => f"<0x$b%02X>" -> -20.0)
    for (fallback <- Seq(true, false); dummy <- Seq(true, false)) {
      val tok = UnigramTokenizer.fromScores(uniRows)
        .copy(byteFallback = fallback, addDummyPrefix = dummy)
      val ref = UnigramReference(tok)
      parity(s"unigram(fallback=$fallback, dummy=$dummy)", tok, ref.encode,
        ref.encodePieces, ref.decode, (0L until 4L) ++ (4L until 4L + uniRows.size) :+ 7777L)
    }
    // the texts reached fused unks (spans over one char)
    assert(spmUnks > 50, s"spmUnks=$spmUnks")
  }
}
