package graft

import graft.operators._
import org.apache.spark.sql.functions._

/** Dedup / similarity / contrib / multimodal / loaders / caching. */
class DedupContribSpec extends SparkSpec {
  import spark.implicits._

  private def docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog again and again"),
    (2L, "the quick brown fox jumps over the lazy dog again and again"), // exact dup of 1
    (3L, "the quick brown fox jumps over the lazy cat again and again"), // near dup of 1
    (4L, "completely different content about spark query engines at scale")
  ).toDF("doc_id", "text")
    .withColumn("words", split(col("text"), " "))

  test("ExactDedup keeps smallest id per text") {
    val out = ExactDedup("text", "doc_id")(docs)
    assert(out.select("doc_id").as[Long].collect().toSet == Set(1L, 3L, 4L))
  }

  test("ExactDedup keeps one survivor per NULL run (lag at bucket head)") {
    val df = Seq(
      (1L, Option.empty[String]),
      (2L, Option.empty[String]),
      (3L, Some("kept")),
      (4L, Some("kept"))
    ).toDF("doc_id", "text")
    val out = ExactDedup("text", "doc_id")(df)
    // min-id survivor of the NULL run AND of the "kept" run both remain
    assert(out.select("doc_id").as[Long].collect().toSet == Set(1L, 3L))
  }

  test("ExactDedup: colliding bucket hash still keeps distinct values") {
    // force EVERY row into one bucket: correctness must come entirely
    // from the in-bucket value comparison, not the hash
    val df = Seq(
      (1L, "alpha"), (2L, "alpha"), (3L, "beta"), (4L, "gamma")
    ).toDF("doc_id", "text")
    val out = ExactDedup("text", "doc_id", bucketHash = _ => lit(0L))(df)
    assert(out.select("doc_id").as[Long].collect().toSet == Set(1L, 3L, 4L))
  }

  test("MinHash signature identical for identical docs") {
    val sigs = MinHashSignature("words")(docs)
      .select("doc_id", "minhash_sig").as[(Long, Seq[Long])]
      .collect().toMap
    assert(sigs(1L) == sigs(2L))
    assert(sigs(1L) != sigs(4L))
  }

  test("MinHashLSH candidate pairs find dups, dedup removes them") {
    val withSig = MinHashSignature("words")(docs)
    val pairs = MinHashLSH.candidatePairs(withSig, "doc_id")
      .as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    val deduped = MinHashLSH.dedup(docs, "words", "doc_id", minJaccard = 0.5)
    val kept = deduped.select("doc_id").as[Long].collect().toSet
    assert(kept.contains(1L) && !kept.contains(2L) && kept.contains(4L))
  }

  test("uncapped candidatePairs and dedup leave nothing in the cache") {
    val emb = Seq((1L, Seq(1.0, 0.0)), (2L, Seq(0.99, 0.1)), (3L, Seq(0.0, 1.0)))
      .toDF("id", "e")
    val cents = emb.filter(col("id") === 1L).select(col("id").as("cid"), col("e").as("ce"))
    val hashes = Seq((1L, 77L), (2L, 77L), (3L, 1L << 40)).toDF("id", "sh")
    val calls: Seq[(String, () => org.apache.spark.sql.DataFrame)] = Seq(
      "MinHashLSH.candidatePairs" ->
        (() => MinHashLSH.candidatePairs(MinHashSignature("words")(docs), "doc_id")),
      "MinHashLSH.dedup" ->
        (() => MinHashLSH.dedup(docs, "words", "doc_id", minJaccard = 0.5)),
      "PrefixFilterJoin.pairs" ->
        (() => PrefixFilterJoin.pairs(docs, "doc_id", "words", 500000L)),
      "SortedNeighborhood.pairs" ->
        (() => SortedNeighborhood.pairs(docs, "doc_id", "text", window = 2)),
      "MinHashLSH.containmentPairs" ->
        (() => MinHashLSH.containmentPairs(docs, "words", "doc_id")),
      "SemDeDup.dedup" -> (() => SemDeDup.dedup(emb, "e", "id", cents, eps = 0.9)),
      "BitextMine.marginPairs" -> (() => BitextMine.marginPairs(emb, emb, "e", "id", k = 2)),
      "SimHashNearDup.candidatePairs" ->
        (() => SimHashNearDup.candidatePairs(hashes, "id", "sh")),
      "Postings.shared with a throwing build" -> { () =>
        intercept[IllegalStateException](Postings.shared("boom", docs)(_ =>
          throw new IllegalStateException("boom")))
        docs
      }
    )
    calls.foreach { case (name, call) =>
      spark.catalog.clearCache()
      assert(call().count() > 0, name)
      assert(spark.sharedState.cacheManager.isEmpty, name)
    }
  }

  test("LSH banding rejects a signature length the band count does not divide") {
    val withSig = MinHashSignature("words")(docs)
    intercept[IllegalArgumentException](
      MinHashLSH.candidatePairs(withSig, "doc_id", bands = 3, sigLen = 16))
    intercept[IllegalArgumentException](
      MinHashLSH.dedup(docs, "words", "doc_id", numHashes = 16, bands = 3))
  }

  test("ConnectedComponents: chains collapse, islands stay apart") {
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("id_a", "id_b")
    val comps = ConnectedComponents.components(pairs)
      .as[(Long, Long)].collect().toMap
    assert(Seq(1L, 2L, 3L, 4L).forall(comps(_) == 1L))
    assert(comps(10L) == 10L && comps(11L) == 10L)
  }

  test("ConnectedComponents: distributed loop matches local union-find") {
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (20L, 21L),
      (21L, 22L), (22L, 23L), (5L, 23L)).toDF("id_a", "id_b")
    val dist = ConnectedComponents.components(pairs, localThreshold = 0L)
      .as[(Long, Long)].collect().toMap
    val local = ConnectedComponents.components(pairs)
      .as[(Long, Long)].collect().toMap
    assert(dist == local)
    assert(local(23L) == 5L && local(4L) == 1L)
  }

  test("ConnectedComponents: distributed loop throws when maxIter ends unconverged") {
    // a 64-node path needs several path-halving rounds, never one
    val path = (0L until 63L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val e = intercept[IllegalStateException] {
      ConnectedComponents.components(path, maxIter = 1, localThreshold = 0L)
    }
    assert(e.getMessage.contains("maxIter = 1"), e.getMessage)
    assert(e.getMessage.matches("(?s).*: [1-9][0-9]* labels still changed.*"), e.getMessage)
    val comps = ConnectedComponents.components(path, localThreshold = 0L)
      .as[(Long, Long)].collect().toMap
    assert(comps.size == 64 && comps.values.toSet == Set(0L), comps)
  }

  test("dedupClusters keeps one survivor per transitive cluster") {
    // base = 20 words; doc2 changes word 10, doc3 changes words 10+5:
    // jaccard(1,2) ≈ jaccard(2,3) ≈ 0.71 (≥ 0.6) but jaccard(1,3) ≈ 0.5
    // (< 0.6) — only TRANSITIVITY via components collapses all three
    val base = (1 to 20).map(i => s"w$i").toArray
    def doc(changes: Map[Int, String]) =
      base.zipWithIndex.map { case (w, i) => changes.getOrElse(i, w) }.mkString(" ")
    val chain = Seq(
      (1L, doc(Map.empty)),
      (2L, doc(Map(9 -> "AAA"))),
      (3L, doc(Map(9 -> "AAA", 4 -> "BBB"))),
      (9L, "completely different text with other words entirely here now")
    ).toDF("doc_id", "text").withColumn("words", split(col("text"), " "))
    val kept = MinHashLSH.dedupClusters(chain, "words", "doc_id",
      bands = 8, minJaccard = 0.6)
      .select("doc_id").as[Long].collect().toSet
    assert(kept.contains(1L) && kept.contains(9L))
    assert(!kept.contains(2L) && !kept.contains(3L), kept.toString)
  }

  test("MinHashLSH band tuning: S-curve threshold tracks the target jaccard") {
    // sigLen 16 divisor thresholds (1/b)^(1/r): b=2 -> .917, b=4 -> .707,
    // b=8 -> .354 — tuning picks the nearest knee
    assert(MinHashLSH.tuneBands(16, 0.8) == 4)
    assert(MinHashLSH.tuneBands(16, 0.9) == 2)
    assert(MinHashLSH.tuneBands(16, 0.35) == 8)
    // the S-curve crosses ~1/2 at its knee and is monotone in s
    val b = 4; val r = 4
    val knee = math.pow(1.0 / b, 1.0 / r)
    val atKnee = MinHashLSH.sCurve(knee, b, r)
    assert(atKnee > 0.3 && atKnee < 0.7, atKnee.toString)
    val probs = (1 to 9).map(i => MinHashLSH.sCurve(i / 10.0, b, r))
    assert(probs == probs.sorted, probs.toString)
  }

  test("SimHash: identical → equal; near-dup closer than unrelated") {
    val hs = SimHash("words")(docs).select("doc_id", "simhash")
      .as[(Long, Long)].collect().toMap
    assert(hs(1L) == hs(2L))
    def dist(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(dist(hs(1L), hs(3L)) < dist(hs(1L), hs(4L)))
  }

  test("SimHashNearDup: pigeonhole banding finds exactly the <=maxHamming pairs") {
    // constructed 64-bit hashes: 10 xor 11 differ in 2 bits, 10 xor 12 in
    // 4 bits (> maxHamming=3), 13 is identical to 10
    val hs = Seq(
      (10L, 0x0123456789abcdefL),
      (11L, 0x0123456789abcdefL ^ 0x3L),
      (12L, 0x0123456789abcdefL ^ ((1L << 0) | (1L << 17) | (1L << 34) | (1L << 51))),
      (13L, 0x0123456789abcdefL)
    ).toDF("id", "sh")
    val got = SimHashNearDup.candidatePairs(hs, "id", "sh", maxHamming = 3)
      .orderBy("id_a", "id_b")
      .as[(Long, Long, Long)].collect().toSeq
    assert(got == Seq((10L, 11L, 2L), (10L, 13L, 0L), (11L, 13L, 2L)), got)
  }

  test("SimHashNearDup matches a brute-force popcount scan on real hashes") {
    val hs = SimHash("words")(docs.union(
      Seq((100L, "alpha beta gamma delta epsilon zeta"))
        .toDF("doc_id", "text")
        .withColumn("words", split(col("text"), " "))
        .select(docs.columns.map(col): _*)))
      .select(col("doc_id").as("id"), col("simhash").as("sh"))
    val rows = hs.as[(Long, Long)].collect()
    val brute = (for {
      (a, ha) <- rows; (b, hb) <- rows
      if a < b && java.lang.Long.bitCount(ha ^ hb) <= 3
    } yield (a, b)).toSet
    val got = SimHashNearDup.candidatePairs(hs, "id", "sh", maxHamming = 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(got == brute, s"got=$got brute=$brute")
  }

  test("SimHashNearDup rejects a bandless-guarantee config") {
    val df = Seq((1L, 2L)).toDF("id", "sh")
    val e = intercept[IllegalArgumentException](
      SimHashNearDup.candidatePairs(df, "id", "sh", bands = 4, maxHamming = 4))
    assert(e.getMessage.contains("pigeonhole"))
  }

  test("SemDeDup: dup groups keep the member farthest from its centroid") {
    val cents = Seq((0L, Seq(1.0, 0.0)), (1L, Seq(0.0, 1.0))).toDF("cid", "ce")
    val emb = Seq(
      (1L, Seq(1.0, 0.0)),   // cluster 0, centroid-sim 1.0      } group
      (2L, Seq(1.0, 0.01)),  // cluster 0, centroid-sim 0.99995  } pairwise
      (3L, Seq(1.0, 0.02)),  // cluster 0, centroid-sim 0.9998   } cos>=eps
      (4L, Seq(0.7, 0.5)),   // cluster 0, isolated (cos to 1-3 ~0.81)
      (5L, Seq(0.0, 1.0)),   // cluster 1 } identical pair:
      (6L, Seq(0.0, 1.0))    // cluster 1 } tie -> smaller id survives
    ).toDF("vec_id", "e")
    val out = SemDeDup.dedup(emb, "e", "vec_id", cents, eps = 0.999)
      .select("vec_id", "cluster", "semdedup_keep")
      .as[(Long, Long, Boolean)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(out(1L) == (0L, false) && out(2L) == (0L, false), out)
    assert(out(3L) == (0L, true), out)  // farthest from centroid survives
    assert(out(4L) == (0L, true), out)  // no dup group
    assert(out(5L) == (1L, true) && out(6L) == (1L, false), out)
  }

  test("SemDeDup with no pair above eps keeps everything") {
    val cents = Seq((0L, Seq(1.0, 0.0))).toDF("cid", "ce")
    val emb = Seq((1L, Seq(1.0, 0.0)), (2L, Seq(0.9, 0.3))).toDF("vec_id", "e")
    val keeps = SemDeDup.dedup(emb, "e", "vec_id", cents, eps = 0.9999)
      .select("semdedup_keep").as[Boolean].collect()
    assert(keeps.forall(identity), keeps.toSeq)
  }

  test("Quantize/Dequantize embeddings: codes in range, error bounded") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .limit(50)
    val q = QuantizeEmbeddings("embedding", Some("qe"))(emb)
    val d = DequantizeEmbeddings("qe", Some("rec"))(q)
      .select("embedding", "qe", "rec")
    val err = d
      .withColumn("span",
        col("qe.hi") - col("qe.lo"))
      .withColumn("maxerr",
        aggregate(
          zip_with(col("embedding").cast("array<double>"), col("rec"),
            (a, b) => abs(a - b)),
          lit(0.0), (acc, x) => greatest(acc, x)))
      .withColumn("codes_ok",
        forall(col("qe.q"), c => c >= 0 && c <= 255))
      .select("span", "maxerr", "codes_ok")
      .collect()
    err.foreach { r =>
      val span = r.getDouble(0)
      // one quantization step is span/255; allow a step of slack for
      // the floor
      assert(r.getDouble(1) <= span / 255.0 * 1.0001 + 1e-12,
        s"maxerr ${r.getDouble(1)} vs step ${span / 255.0}")
      assert(r.getBoolean(2))
    }
    // constant vector degenerates to all-zero codes, reconstructs to lo
    val const = Seq(Tuple1(Seq(2.5f, 2.5f, 2.5f))).toDF("embedding")
    val cq = DequantizeEmbeddings("qe", Some("rec"))(
      QuantizeEmbeddings("embedding", Some("qe"))(const))
    assert(rows(cq.select("rec")).head.head == List(2.5, 2.5, 2.5))
    // ANN quality preserved: top-1 neighbor by cosine unchanged for the
    // first 3 queries after a quantize→dequantize round trip
    val full = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = full.filter(col("vec_id") < 3)
    def top1(corpus: org.apache.spark.sql.DataFrame) =
      CosineKnn.bruteForce(corpus, queries, "embedding", "vec_id", k = 1)
        .select("query_id", "corpus_id").as[(Long, Long)].collect().toMap
    val recon = DequantizeEmbeddings("qe", Some("embedding2"))(
      QuantizeEmbeddings("embedding", Some("qe"))(full))
      .drop("embedding", "qe")
      .withColumnRenamed("embedding2", "embedding")
    assert(top1(full) == top1(recon))
  }

  test("CosineKnn bruteForce: self is rank 1") {
    val emb = Seq(
      (0L, Seq(1.0f, 0.0f, 0.0f)),
      (1L, Seq(0.9f, 0.1f, 0.0f)),
      (2L, Seq(0.0f, 0.0f, 1.0f))
    ).toDF("vec_id", "embedding")
    val out = CosineKnn.bruteForce(emb, emb.filter(col("vec_id") === 0), "embedding", "vec_id", 2)
    val got = out.select("corpus_id", "rank").as[(Long, Int)].collect().toMap
    assert(got.find(_._2 == 1).map(_._1).contains(0L) || got(0L) == 1)
    assert(got(1L) == 2)
  }

  test("CosineKnn annTopK bucket recall: identical vectors share bucket") {
    val emb = Seq(
      (0L, Seq(1.0f, 0.0f)), (1L, Seq(1.0f, 0.0f)), (2L, Seq(-1.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val out = CosineKnn.annTopK(emb, emb.filter(col("vec_id") === 0),
      "embedding", "vec_id", k = 3, nPlanes = 4)
    val ids = out.select("corpus_id").as[Long].collect().toSet
    assert(ids.contains(0L) && ids.contains(1L))
  }

  test("Decontaminate: shared n-gram flags, short docs never false-match") {
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"), // contains bench 5-gram
      (2L, "totally different words here now ok"),
      (3L, "alpha beta gamma"), // 3 words: no 5-gram, must NOT match
      (4L, "x alpha beta gamma delta epsilon y") // bench 5-gram inside
    ).toDF("doc_id", "text")
      .withColumn("words", split(col("text"), " "))
    val bench = Seq("alpha beta gamma delta epsilon").toDF("btext")
      .withColumn("bwords", split(col("btext"), " "))
    val flagged = Decontaminate
      .flag(corpus, "doc_id", "words", bench, "bwords", n = 5)
      .select("doc_id", "contaminated").as[(Long, Boolean)].collect().toMap
    assert(flagged(1L) && flagged(4L))
    assert(!flagged(2L) && !flagged(3L))
    val kept = Decontaminate
      .remove(corpus, "doc_id", "words", bench, "bwords", n = 5)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(2L, 3L))
  }

  test("Decontaminate.spanStats: run length in grams and words, zero for clean docs") {
    // bench doc: 8 words -> four 5-grams covering "a b c d e f g h"
    val bench = Seq("a b c d e f g h").toDF("btext")
      .withColumn("bwords", split(col("btext"), " "))
    val corpus = Seq(
      // full 8-word copy inside noise: 4 consecutive hit grams, span 8
      (1L, "x a b c d e f g h y"),
      // only the first 5 bench words: 1 hit gram, span 5
      (2L, "p q a b c d e r s t"),
      // two separate 5-word stretches with a break: runs of 1, not 2
      (3L, "a b c d e XX d e f g h"),
      // clean
      (4L, "nothing shared with the benchmark at all"),
      // 4 words: no 5-grams at all
      (5L, "a b c d")
    ).toDF("doc_id", "text")
      .withColumn("words", split(col("text"), " "))
    val out = Decontaminate
      .spanStats(corpus, "doc_id", "words", bench, "bwords", n = 5)
      .select("doc_id", "n_grams", "hit_grams", "max_run", "span_words")
      .as[(Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    assert(out(1L) == ((6L, 4L, 4L, 8L)), s"got ${out(1L)}")
    assert(out(2L) == ((6L, 1L, 1L, 5L)), s"got ${out(2L)}")
    assert(out(3L) == ((7L, 2L, 1L, 5L)), s"got ${out(3L)}")
    assert(out(4L) == ((3L, 0L, 0L, 0L)), s"got ${out(4L)}")
    assert(out(5L) == ((0L, 0L, 0L, 0L)), s"got ${out(5L)}")
  }

  test("DeterministicSample: reproducible, fraction-accurate, stratified") {
    val df = (0L until 4000L).toDF("doc_id")
      .withColumn("lang", when(col("doc_id") % 2 === 0, "en").otherwise("de"))
    val a = DeterministicSample("doc_id", 0.3)(df).count()
    val b = DeterministicSample("doc_id", 0.3)(df).count()
    assert(a == b, "same salt, same sample")
    assert(math.abs(a - 1200L) < 120, s"~30% expected, got $a")
    // portable md5 variant agrees with itself and hits its own fraction
    val m = DeterministicSample("doc_id", 0.3, portable = true)(df).count()
    assert(math.abs(m - 1200L) < 120, s"~30% (md5) expected, got $m")
    // different salt, different subset (overwhelmingly)
    val c = DeterministicSample("doc_id", 0.3, salt = "other")(df)
      .select("doc_id").as[Long].collect().toSet
    val aSet = DeterministicSample("doc_id", 0.3)(df)
      .select("doc_id").as[Long].collect().toSet
    assert(c != aSet)
    // stratified: per-lang fractions land near their targets, on BOTH
    // the production (xxhash64) and portable (md5) variants
    for (p <- Seq(false, true)) {
      val s = DeterministicSample("doc_id", 0.05, strataField = Some("lang"),
        strataFractions = Map("en" -> 0.5, "de" -> 0.1), portable = p)(df)
      val byLang = s.groupBy("lang").count().as[(String, Long)].collect().toMap
      assert(math.abs(byLang("en") - 1000L) < 120, s"portable=$p $byLang")
      assert(math.abs(byLang.getOrElse("de", 0L) - 200L) < 80, s"portable=$p $byLang")
    }
  }

  test("GopherQualityFilter: each published rule fails its bad doc") {
    // stopwords interleaved with unique words: no n-gram ever repeats
    val good = (1 to 60)
      .flatMap(i => Seq(GopherQuality.stopProbe(i % 8), s"word$i"))
      .mkString(" ")
    val bullety = (1 to 60).map(i => s"- the of and bullet item $i").mkString("\n")
    val ellipsisy = (1 to 60).map(i => s"the of and trailing line $i ...").mkString("\n")
    val dupParas = (Seq.fill(5)("the of and repeated paragraph here") ++
      (1 to 30).map(i => s"unique para $i the of and")).mkString("\n\n")
    val dup5grams = ("the of and that have with " * 30).trim
    val symbols = ("the of and " + Seq.fill(60)("!!! ### $$$").mkString(" ")).trim
    val short = "the of and tiny"
    val df = Seq(
      (1L, good), (2L, bullety), (3L, ellipsisy), (4L, dupParas),
      (5L, dup5grams), (6L, symbols), (7L, short)
    ).toDF("doc_id", "text")
      .withColumn("words", filter(split(col("text"), "\\s+"), w => w =!= lit("")))
    val out = GopherQualityFilter("text", "words")(df)
      .select("doc_id", "gopher_pass").as[(Long, Boolean)].collect().toMap
    assert(out(1L), "well-formed doc must pass")
    assert(!out(2L), "bullet-dominated doc must fail")
    assert(!out(3L), "ellipsis-dominated doc must fail")
    assert(!out(4L), "duplicate-paragraph doc must fail")
    assert(!out(5L), "repeated-5-gram doc must fail")
    assert(!out(6L), "symbol-heavy doc must fail")
    assert(!out(7L), "under-50-words doc must fail")
    // keepOnly filters to survivors
    assert(GopherQualityFilter("text", "words", keepOnly = true)(df)
      .count() == 1)
  }

  test("TextAnalysis.langId picks the stopword-rich language") {
    val df = Seq(
      ("the cat and the dog of the house", "en"),
      ("der hund und die katze ist nicht da", "de")
    ).toDF("text", "expect").withColumn("words", split(col("text"), " "))
    val out = df.withColumn("pred", TextAnalysis.langId(col("words")))
    assert(out.filter(col("pred") === col("expect")).count() == 2)
  }

  test("fingerprint stable + content-sensitive") {
    val df = Seq("abcdefghij klmnop qrstuv", "abcdefghij klmnop qrstuv",
      "totally other text here!").toDF("text")
    val fps = df.select(TextAnalysis.fingerprint(col("text")).as("fp"))
      .as[Seq[Long]].collect()
    assert(fps(0) == fps(1))
  }

  test("ConcatenateContext over sections with headers") {
    val df = Seq((Seq("H1", "H2"), Seq(Seq("p1", "p2"), Seq("p3")))).toDF("h", "context")
    val out = ConcatenateContext("context", headerField = Some("h"))(df)
    assert(rows(out.select("context")).head.head == "H1\np1 p2 \nH2\np3 \n")
  }

  test("AddEvidencesLocation finds spans, -1 when absent") {
    val df = Seq(("hello world", Seq("world", "mars"))).toDF("context", "evidences")
    val out = AddEvidencesLocation()(df)
    assert(
      rows(out.select("locations")).head.head ==
        List(List(6L, 11L), List(-1L, -1L))
    )
  }

  test("OneVsOtherAnnotator mean of the rest") {
    val df = Seq(Tuple1(Seq(1.0, 5.0, 3.0))).toDF("annotations")
    val out = OneVsOtherAnnotator(position = 1)(df)
    val r = out.select("preds", "label").head()
    assert(r.getDouble(0) == 5.0 && r.getDouble(1) == 2.0)
  }

  test("UniqueAnswer preserves first-appearance order") {
    val df = Seq(Tuple1(Seq("b", "a", "b", "c", "a"))).toDF("answers")
    assert(rows(UniqueAnswer()(df)).head.head == List("b", "a", "c"))
  }

  test("DecodeMedia: non-image bytes take the deterministic fallback") {
    val df = Seq("ab").toDF("t")
      .withColumn("media", Multimodal.asMedia(col("t").cast("binary"), "x"))
    val out = DecodeMedia("media", targetW = 2, targetH = 1)(df)
    assert(rows(out.select("features")).head.head == List(97.0f, 98.0f))
  }

  test("DecodeMedia: real PNG decodes via imageio with NN luma resample") {
    // 2×2 image: white, black / red, green — written through the JVM's
    // own PNG codec, decoded back through the operator
    val img = new java.awt.image.BufferedImage(
      2, 2, java.awt.image.BufferedImage.TYPE_INT_RGB)
    img.setRGB(0, 0, 0xffffff); img.setRGB(1, 0, 0x000000)
    img.setRGB(0, 1, 0xff0000); img.setRGB(1, 1, 0x00ff00)
    val baos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", baos)
    val bytes = baos.toByteArray
    val df = Seq(Tuple1(bytes)).toDF("b")
      .withColumn("media", Multimodal.asMedia(col("b"), "image/png"))
    // target 2×2 = identity sampling; integer BT.601 luma
    val out = DecodeMedia("media", targetW = 2, targetH = 2)(df)
    assert(rows(out.select("features")).head.head ==
      List(255.0f, 0.0f, (299 * 255 / 1000).toFloat, (587 * 255 / 1000).toFloat))
    // upsample 4×4 replicates pixels deterministically (nearest neighbor)
    val up = DecodeMedia("media", targetW = 4, targetH = 4)(df)
    val feats = rows(up.select("features")).head.head.asInstanceOf[List[Float]]
    assert(feats.length == 16 && feats.take(2) == List(255.0f, 255.0f))
    // header-only dims probe
    assert(Multimodal.imageDims(bytes).contains((2, 2)))
    val withDims = FillImageDims("media")(df)
    assert(rows(withDims.select("media.width", "media.height")).head == Seq(2, 2))
  }

  test("ImageDHash: near-identical PNGs within a few bits, inverted far") {
    def png(grays: Array[Int]): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        16, 16, java.awt.image.BufferedImage.TYPE_INT_RGB)
      var i = 0
      while (i < 256) {
        val g = grays(i) & 0xff
        img.setRGB(i % 16, i / 16, (g << 16) | (g << 8) | g)
        i += 1
      }
      val baos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", baos)
      baos.toByteArray
    }
    val rnd = new scala.util.Random(42)
    val grays = Array.fill(256)(rnd.nextInt(256))
    val tweaked = grays.clone(); tweaked(37) = (grays(37) + 8) % 256
    val inverted = grays.map(255 - _)
    val hA = Multimodal.imageDHash(png(grays))
    val hB = Multimodal.imageDHash(png(tweaked))
    val hC = Multimodal.imageDHash(png(inverted))
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(hA, hB) <= 4, s"near-identical drifted ${ham(hA, hB)} bits")
    assert(ham(hA, hC) >= 20, s"inverted image only ${ham(hA, hC)} bits away")
    assert(Multimodal.imageDHash(null) == 0L)
    assert(Multimodal.imageDHash(Array.emptyByteArray) == 0L)
    // the hash column feeds the same banded pairing layer as text simhash
    val df = Seq((1L, png(grays)), (2L, png(tweaked)), (3L, png(inverted)))
      .toDF("id", "b")
      .withColumn("media", Multimodal.asMedia(col("b"), "image/png"))
    val pairs = SimHashNearDup.candidatePairs(
      ImageDHash("media")(df), "id", "dhash",
      bits = 64, bands = 8, maxHamming = 4)
    assert(rows(pairs.select("id_a", "id_b")) == Seq(Seq(1L, 2L)))
  }

  test("containmentPairs: wrapped copy at c=1.0 where resemblance misses") {
    val body = (0 until 30).map(i => s"w$i")
    val boiler = (0 until 30).map(i => s"b$i")
    val other = (0 until 30).map(i => s"z$i")
    val df = Seq(
      (1L, body), (2L, body ++ boiler), (3L, other)
    ).toDF("id", "words")
    val pairs = MinHashLSH.containmentPairs(df, "words", "id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // doc 1 is fully contained in doc 2: containment exactly 1.0
    assert(pairs.toSeq == Seq((1L, 2L, 1000000L)), pairs.toSeq.toString)
    // and the pair's Jaccard (28/60) is far below any resemblance
    // threshold — the case this operator exists for
    val jac = 28.0 / 60.0
    assert(jac < 0.8)
    // the hot-boilerplate guard: shingles shared by MANY docs don't
    // block (df cap) — a corpus of 10 copies of the same boilerplate
    // yields no blocking shingles at maxShingleDf = 5
    val many = (0L until 10L).map(i => (i, boiler)).toDF("id", "words")
    assert(MinHashLSH.containmentPairs(many, "words", "id").count() == 0)
  }

  test("containmentPairs threshold is the decimal product: 23 of 1,465 misses 0.0157") {
    // 1,467 words give 1,465 3-shingles; b repeats a 25-word run of a,
    // so the two share 23 shingles: containment_scaled 15,699 < 15,700
    val a = (0 until 1467).map(i => s"a$i")
    val b = a.slice(100, 125) ++ (0 until 1442).map(i => s"b$i")
    val df = Seq((1L, a), (2L, b)).toDF("id", "words")
    def kept(t: Double) = MinHashLSH.containmentPairs(df, "words", "id",
      minContainment = t).collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(kept(0.01569).toSeq == Seq((1L, 2L, 15699L)))
    assert(kept(0.0157).isEmpty)
  }

  test("AudioDHash: real WAVs — local edit stays near, reshuffle goes far") {
    def wav(samples: Array[Short]): Array[Byte] = {
      val pcm = new Array[Byte](samples.length * 2)
      samples.zipWithIndex.foreach { case (v, k) =>
        pcm(k * 2) = (v & 0xff).toByte
        pcm(k * 2 + 1) = ((v >> 8) & 0xff).toByte
      }
      val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
      val ais = new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), fmt, samples.length.toLong)
      val baos = new java.io.ByteArrayOutputStream()
      javax.sound.sampled.AudioSystem.write(ais,
        javax.sound.sampled.AudioFileFormat.Type.WAVE, baos)
      baos.toByteArray
    }
    val rnd = new scala.util.Random(11)
    val base = Array.fill(1040)((rnd.nextInt(4000) - 2000).toShort)
    // edit confined to one window (samples 320-335) → at most 2 bits move
    val edited = base.clone()
    (320 until 336).foreach(i => edited(i) = (edited(i) / 4).toShort)
    // reshuffled windows → a different envelope entirely
    val shuffled = new scala.util.Random(12).shuffle(base.toVector).toArray
    val hA = Multimodal.audioDHash(wav(base))
    val hB = Multimodal.audioDHash(wav(edited))
    val hC = Multimodal.audioDHash(wav(shuffled))
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(hA, hB) <= 2, s"one-window edit moved ${ham(hA, hB)} bits")
    assert(ham(hA, hC) >= 8, s"reshuffled audio only ${ham(hA, hC)} bits away")
    assert(Multimodal.audioDHash(null) == 0L)
    assert(Multimodal.audioDHash(Array.emptyByteArray) == 0L)
    // mapper + the shared banded pairing layer
    val df = Seq((1L, wav(base)), (2L, wav(edited)), (3L, wav(shuffled)))
      .toDF("id", "b")
      .withColumn("media", Multimodal.asMedia(col("b"), "audio/wav"))
    val pairs = SimHashNearDup.candidatePairs(
      AudioDHash("media")(df), "id", "adhash",
      bits = 64, bands = 8, maxHamming = 2)
    assert(rows(pairs.select("id_a", "id_b")) == Seq(Seq(1L, 2L)))
  }

  test("SampleFrames: real MJPEG AVI — extract, sample by time, decode") {
    // build a spec-conformant MJPEG AVI: RIFF(AVI ) { LIST(hdrl){avih},
    // LIST(movi){ 00dc jpeg... } } with 5 solid-gray frames of rising
    // brightness, 100000 us/frame (10 fps), written via the JVM's own
    // JPEG codec
    def le(v: Int): Array[Byte] =
      Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
        ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
    def chunk(id: String, body: Array[Byte]): Array[Byte] = {
      val pad = if (body.length % 2 == 1) Array(0.toByte) else Array.empty[Byte]
      id.getBytes("US-ASCII") ++ le(body.length) ++ body ++ pad
    }
    def list(kind: String, body: Array[Byte]): Array[Byte] =
      chunk("LIST", kind.getBytes("US-ASCII") ++ body)
    def jpegGray(level: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        4, 4, java.awt.image.BufferedImage.TYPE_INT_RGB)
      val rgb = (level << 16) | (level << 8) | level
      for (y <- 0 until 4; x <- 0 until 4) img.setRGB(x, y, rgb)
      val baos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "jpg", baos)
      baos.toByteArray
    }
    val avih = chunk("avih", le(100000) ++ Array.fill(52)(0.toByte))
    val movi = list("movi",
      (0 until 5).map(i => chunk("00dc", jpegGray(40 + 50 * i)))
        .reduce(_ ++ _))
    val riffBody = "AVI ".getBytes("US-ASCII") ++ list("hdrl", avih) ++ movi
    val avi = "RIFF".getBytes("US-ASCII") ++ le(riffBody.length) ++ riffBody

    assert(Multimodal.isAvi(avi))
    assert(Multimodal.aviFrames(avi).length == 5)
    assert(Multimodal.aviMicrosPerFrame(avi).contains(100000L))

    val df = Seq(Tuple1(avi)).toDF("b")
      .withColumn("media", Multimodal.asMedia(col("b"), "video/avi"))
    // everyMs=200 at 10 fps → step 2 → frames 0, 2, 4
    val out = SampleFrames("media", everyMs = 200L, targetW = 2, targetH = 2)(df)
      .select("frame_idx", "frame_features")
    val got = rows(out).map(r =>
      (r(0), r(1).asInstanceOf[List[Float]].head))
    assert(got.map(_._1) == Seq(0L, 2L, 4L))
    // JPEG is lossy but solid-gray survives within a small tolerance,
    // and brightness must strictly rise across sampled frames
    val lumas = got.map(_._2)
    assert(lumas.zip(Seq(40f, 140f, 240f)).forall {
      case (l, e) => math.abs(l - e) <= 4f
    }, lumas.toString)
    assert(lumas == lumas.sorted)
    // determinism: decode twice, bit-identical
    assert(rows(out) == rows(out))
    // non-AVI payload falls back to duration-indexed stub frames
    val fb = Seq(("xy", 250L)).toDF("t", "dur")
      .withColumn("media", struct(
        col("t").cast("binary").as("bytes"), lit("x").as("mime"),
        lit(null).cast("int").as("width"), lit(null).cast("int").as("height"),
        col("dur").as("duration_ms")))
    val fbOut = SampleFrames("media", everyMs = 100L, targetW = 2, targetH = 1)(fb)
    val fbRows = rows(fbOut.select("frame_idx", "frame_features"))
    assert(fbRows.map(_(0)) == Seq(0L, 1L, 2L))
    assert(fbRows.head(1) == List(120.0f, 121.0f)) // 'x','y' byte floats
  }

  test("DecodeAudio: real WAV PCM decodes via javax.sound; downmix + clip") {
    // stereo 16-bit WAV, 8 frames: L = 1000*k, R = -1000*k
    val frames = 8
    val pcm = new Array[Byte](frames * 4)
    for (k <- 0 until frames) {
      val l = (1000 * k).toShort
      val r = (-1000 * k).toShort
      pcm(k * 4) = (l & 0xff).toByte; pcm(k * 4 + 1) = ((l >> 8) & 0xff).toByte
      pcm(k * 4 + 2) = (r & 0xff).toByte; pcm(k * 4 + 3) = ((r >> 8) & 0xff).toByte
    }
    val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 2, true, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, frames.toLong)
    val baos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, baos)
    val wav = baos.toByteArray
    // direct decode: stereo downmix (1000k + -1000k)/2 = 0 for every frame
    val direct = Multimodal.decodeAudio(wav, 16)
    assert(direct.length == frames && direct.forall(_ == 0.0f))
    // clip to maxSamples
    assert(Multimodal.decodeAudio(wav, 3).length == 3)
    // through the mapper; non-audio bytes fall back deterministically
    val df = Seq(Tuple1(wav)).toDF("b")
      .withColumn("media", Multimodal.asMedia(col("b"), "audio/wav"))
    val out = DecodeAudio("media", maxSamples = 16)(df)
    assert(rows(out.select("samples")).head.head ==
      List.fill(frames)(0.0f))
    val bad = Seq("ab").toDF("t")
      .withColumn("media", Multimodal.asMedia(col("t").cast("binary"), "x"))
    assert(rows(DecodeAudio("media", maxSamples = 2)(bad).select("samples"))
      .head.head == List(97.0f, 98.0f))
  }

  test("CachedStage: second run hits cache, same result") {
    val dir = java.nio.file.Files.createTempDirectory("graft_cache_test").toString
    val df = Seq(("a b c", 1L)).toDF("text", "id")
    val stage = CachedStage.around(dir)(TextToWords(Seq("text"), Splitters.Ws))
    val r1 = rows(stage(df))
    val r2 = rows(stage(df)) // cache hit
    assert(r1 == r2 && r1.head.head == List("a", "b", "c"))
    assert(new java.io.File(dir).listFiles().nonEmpty)
  }

  test("EnumerateField appearance-order matches reference memoization") {
    val df = Seq("b", "a", "b", "c", "a").toDF("v").coalesce(1)
    val out = EnumerateField("v", Some("id"), appearanceOrder = true)(df)
    val got = out.collect().map(r => (r.getString(0), r.getLong(1)))
    // first-appearance order: b=0, a=1, c=2 (vs value-order a=0,b=1,c=2)
    assert(got.toSeq == Seq(("b", 0L), ("a", 1L), ("b", 0L), ("c", 2L), ("a", 1L)))
  }

  test("CosineKnn ivfTopK finds same-cluster neighbors") {
    val emb = (0L until 20L).map { i =>
      val base = if (i % 2 == 0) Seq(1.0f, 0.0f) else Seq(0.0f, 1.0f)
      (i, base.map(_ + (i.toFloat / 1000f)))
    }.toDF("vec_id", "embedding")
    val out = CosineKnn.ivfTopK(emb, emb.filter(col("vec_id") === 0),
      "embedding", "vec_id", k = 5, nCentroids = 2)
    val ids = out.select("corpus_id").as[Long].collect().toSet
    assert(ids.contains(0L))           // self always found
    assert(ids.forall(_ % 2 == 0))     // only the [1,0]-direction cluster
  }

  test("JsonlLoader reads gzip transparently (reference test_decompression)") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_jsongz").toString
    val gz = new java.util.zip.GZIPOutputStream(
      new java.io.FileOutputStream(s"$tmp/d.jsonl.gz"))
    gz.write("{\"a\":1,\"b\":\"x\"}\n{\"a\":2,\"b\":\"y\"}\n".getBytes("UTF-8"))
    gz.close()
    val out = JsonlLoader("path")(Seq(s"$tmp/d.jsonl.gz").toDF("path"))
    assert(out.count() == 2)
    assert(out.select("b").as[String].collect().sorted.toSeq == Seq("x", "y"))
  }

  test("CsvLoader reads gzip transparently (Hadoop codec)") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_gz").toString
    val gz = new java.util.zip.GZIPOutputStream(
      new java.io.FileOutputStream(s"$tmp/x.csv.gz"))
    gz.write("x,y\n1,foo\n2,bar\n3,baz\n".getBytes("UTF-8")); gz.close()
    val out = CsvLoader("path")(Seq(s"$tmp/x.csv.gz").toDF("path"))
    assert(out.count() == 3)
  }

  test("CsvLoader reads from path rows") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_csv").toString
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$tmp/a.csv"), "x,y\n1,foo\n2,bar\n")
    val specs = Seq(s"$tmp/a.csv").toDF("path")
    val out = CsvLoader("path")(specs)
    assert(out.count() == 2 && out.columns.toSeq == Seq("x", "y"))
  }

  test("JsonlLoader reads from path rows") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_jsonl").toString
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$tmp/a.jsonl"),
      """{"x": 1, "y": "foo"}""" + "\n" + """{"x": 2, "y": "bar"}""" + "\n")
    val out = JsonlLoader("path")(Seq(s"$tmp/a.jsonl").toDF("path"))
    assert(out.count() == 2)
  }

  test("DatasetLoader loads mixed-format specs and combines") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_dsl").toString
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$tmp/a.csv"), "id,v\n1,x\n2,y\n")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$tmp/b.jsonl"),
      "{\"id\": \"3\", \"v\": \"z\"}\n")
    val specs = Seq((s"$tmp/a.csv", "csv"), (s"$tmp/b.jsonl", "jsonl"))
      .toDF("path", "fmt")
    val out = DatasetLoader("path", Some("fmt"), fieldsToKeep = Some(Seq("id", "v")))(specs)
    assert(out.count() == 3)
    val inter = DatasetLoader("path", Some("fmt"),
      combineStrategy = "interleave", fieldsToKeep = Some(Seq("id", "v")))(specs)
    assert(inter.count() == 3)
  }

  test("FixText repairs UTF-8-as-Latin-1 mojibake and entities") {
    val df = Seq("caf\u00c3\u00a9 &amp; cr\u00c3\u00a8me", "plain text").toDF("text")
    val out = FixText(Seq("text"))(df).as[String].collect()
    assert(out(0) == "caf\u00e9 & cr\u00e8me")
    assert(out(1) == "plain text")
  }

  test("BreakIterator splitter: contractions, decimals, CJK — boundaries regex can't express") {
    import graft.operators.{Splitters, TextToWords}
    val df = Seq(
      "don't stop; it's 3.14 now",
      "U.S.A. rocks",
      "hello, world"
    ).toDF("text")
    val out = TextToWords(Seq("text"), Splitters.BreakIter)(df)
      .as[Seq[String]].collect()
    // contractions and decimal numbers stay whole (Plus would split them)
    assert(out(0) == Seq("don't", "stop", ";", "it's", "3.14", "now"))
    assert(out(1) == Seq("U.S.A", ".", "rocks"))
    assert(out(2) == Seq("hello", ",", "world"))
    // plain space-separated ASCII matches the ws splitter exactly
    val plain = Seq("the fast key moves").toDF("text")
    val br = TextToWords(Seq("text"), Splitters.BreakIter)(plain).as[Seq[String]].collect()
    val ws = TextToWords(Seq("text"), Splitters.Ws)(plain).as[Seq[String]].collect()
    assert(br.head == ws.head)
  }

  test("FixText: cp1252 mojibake, double-encoding, width, quotes, entities") {
    import graft.operators.FixText.fixText
    // the classic cp1252 case: \u00e2\u20ac\u2122 is UTF-8 for ' through cp1252
    assert(fixText("doesn\u00e2\u20ac\u2122t") == "doesn't")
    // ftfy README golden: \u00e2\u0153\u201d -> \u2714 (check mark)
    assert(fixText("\u00e2\u0153\u201d works") == "\u2714 works")
    // DOUBLY-encoded curly quote collapses over two passes, then uncurls
    assert(fixText("\u00c3\u00a2\u00e2\u201a\u00ac\u00c5\u201c") == "\"")
    // numeric + named entities
    assert(fixText("&#233;t&#xE9; &eacute;") == "\u00e9t\u00e9 \u00e9")
    // fullwidth to ASCII, ideographic space
    assert(fixText("\uFF2C\uFF2F\uFF35\uFF24\u3000text") == "LOUD text")
    // curly quotes uncurl; CRLF normalizes; BOM dropped
    assert(fixText("\uFEFF\u201Cquoted\u201D\r\nnext") == "\"quoted\"\r".replace("\r","") + "\nnext")
    // valid text with real accents is untouched (no false redecode)
    assert(fixText("caf\u00e9 cr\u00e8me br\u00fbl\u00e9e") == "caf\u00e9 cr\u00e8me br\u00fbl\u00e9e")
    // CHAIN FIXPOINT: an entity-escaped entity needs the whole chain
    // to run twice (&amp;eacute; -> &eacute; -> \u00e9)
    assert(fixText("&amp;eacute;") == "\u00e9")
    // doubly cp1252-mojibake'd \u00e9 converges over two redecodes
    assert(fixText("\u00c3\u0192\u00c2\u00a9") == "\u00e9")
  }

  test("FixText: full HTML4 entity table \u2014 latin-1, greek, symbols, digit names") {
    import graft.operators.FixText.fixText
    // latin-1 run is positional: spot-check ends and middles
    assert(fixText("&iexcl;&Agrave;&divide;&yuml;") == "\u00a1\u00c0\u00f7\u00ff")
    // digit-bearing names need the widened entity regex
    assert(fixText("&frac12; &sup2; &there4;") == "\u00bd \u00b2 \u2234")
    // greek: two alphabet runs + the variant forms
    assert(fixText("&Alpha;&Sigma;&Omega; &alpha;&sigmaf;&sigma;&omega; &piv;") ==
      "\u0391\u03a3\u03a9 \u03b1\u03c2\u03c3\u03c9 \u03d6")
    // symbols: arrows, operators, card suits
    assert(fixText("&rarr;&hArr; &ne;&le;&infin; &spades;&hearts;") ==
      "\u2192\u21d4 \u2260\u2264\u221e \u2660\u2665")
    // curly-quote entities land in the uncurler like literal curls do
    assert(fixText("&ldquo;x&rdquo;&rsquo;s &euro;5") == "\"x\"'s \u20ac5")
    // nbsp keeps its documented plain-space mapping
    assert(fixText("a&nbsp;b") == "a b")
    // unknown names stay verbatim (never corrupt)
    assert(fixText("&notanentity; &x9;") == "&notanentity; &x9;")
  }

  test("FixText: MacRoman mojibake repairs with >=2 evidence pairs; math survives") {
    import graft.operators.FixText.fixText
    // UTF-8 seen through MacRoman: C3 A9 -> '√©'
    assert(fixText("caf√© √©lan") == "café élan")
    // C3 B1 / C3 B3 -> '√±' / '√≥'
    assert(fixText("Ca√±√≥n") == "Cañón")
    // the famous '‚Äú' curly-quote class (E2 80 9C), uncurled after repair
    assert(fixText("‚Äúquoted‚Äù") == "\"quoted\"")
    // single-pair math is left alone (needs >=2 pairs of evidence)
    assert(fixText("x = √π + 1") == "x = √π + 1")
    assert(fixText("≈±5 volts") == "≈±5 volts")
  }

  test("FixText: latin-1 mojibake with C1 continuation bytes repairs") {
    import graft.operators.FixText.fixText
    // U+0145 '\u0145' is UTF-8 C5 85; latin-1 decode gives '\u00c5' + NEL (U+0085).
    // Strict cp1252 can't re-encode NEL (0x85 = '\u2026'), so this needs the
    // sloppy C1-passthrough redecode \u2014 and NEL must NOT be eagerly
    // normalized to \n before the repair loop.
    assert(fixText("\u00c5\u0085u") == "\u0145u")
    // euro sign U+20AC is UTF-8 E2 82 AC; latin-1 decode = '\u00e2' + two C1
    // controls (U+0082, U+00AC is '\u00ac' \u2014 mixed C1/latin1 continuations)
    assert(fixText("\u00e2\u0082\u00ac5") == "\u20ac5")
    // a lone NEL in clean text still normalizes to \n after the loop
    assert(fixText("a\u0085b") == "a\nb")
    // LS/PS normalize to \n, as before
    assert(fixText("a\u2028b\u2029c") == "a\nb\nc")
  }

  test("FixText: ftfy long tail \u2014 ligatures, terminal escapes, surrogates") {
    import graft.operators.FixText.fixText
    // latin presentation ligatures expand (ftfy fix_latin_ligatures)
    assert(fixText("\ufb01le \ufb02ow o\ufb03ce") == "file flow office")
    // ANSI terminal color escapes are removed (ftfy README example shape)
    assert(fixText("\u001b[36;44mblue\u001b[0m text") == "blue text")
    // unpaired surrogates become U+FFFD; valid pairs survive
    assert(fixText("ok\ud800end") == "ok\ufffdend")
    val gclef = new String(Character.toChars(0x1D11E)) // valid pair
    assert(fixText(s"x${gclef}y") == s"x${gclef}y")
    // combined: mojibake + ligature in one string
    assert(fixText("caf\u00c3\u00a9 \ufb01x") == "caf\u00e9 fix")
  }

  test("CombineSources.interleave alternates sources row by row") {
    val a = Seq("a1", "a2", "a3").toDF("v").coalesce(1)
    val b = Seq("b1", "b2").toDF("v").coalesce(1)
    val out = CombineSources.interleave(Seq(a, b)).as[String].collect().toSeq
    assert(out == Seq("a1", "b1", "a2", "b2", "a3"))
  }

  test("CombineSources.concatenate unions by name") {
    val a = Seq((1L, "x")).toDF("id", "v")
    val b = Seq((2L, "y")).toDF("id", "v")
    assert(CombineSources.concatenate(Seq(a, b)).count() == 2)
  }

  test("candidatePairs maxBucketSize bounds hot buckets but keeps recall") {
    // 20 identical boilerplate docs flood one bucket per band; one small
    // identical pair sits in its own (size-2) buckets
    val boiler = (0L until 20L).map(i => (i, Seq("lorem", "ipsum", "dolor", "sit", "amet")))
    val pair = Seq(
      (100L, Seq("alpha", "beta", "gamma", "delta", "eps")),
      (101L, Seq("alpha", "beta", "gamma", "delta", "eps"))
    )
    val df = (boiler ++ pair).toDF("doc_id", "words")
    val sigs = MinHashSignature("words")(df)
    import org.apache.spark.sql.Encoders
    implicit val enc = Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong)
    val uncapped = MinHashLSH.candidatePairs(sigs, "doc_id")
      .as[(Long, Long)].collect().toSet
    val capped = MinHashLSH.candidatePairs(sigs, "doc_id", maxBucketSize = Some(10))
      .as[(Long, Long)].collect().toSet
    val hotUncapped = uncapped.count { case (x, y) => x < 20 && y < 20 }
    val hotCapped = capped.count { case (x, y) => x < 20 && y < 20 }
    assert(hotUncapped == 20 * 19 / 2) // exact banding: all 190 hot pairs
    // down-sampling (not bucket-drop): the hot cluster keeps SOME pairs —
    // each band keeps a different deterministic 10-of-20 subset, bounding
    // join work at cap^2 per bucket — but fewer than exact banding
    assert(hotCapped > 0 && hotCapped < hotUncapped)
    // per-band cap^2 bound: <= bands * C(cap,2) distinct hot pairs possible
    assert(hotCapped <= 4 * (10 * 9 / 2))
    // small buckets are untouched
    assert(uncapped.contains((100L, 101L)) && capped.contains((100L, 101L)))
    // determinism: same inputs, same kept subsets
    val capped2 = MinHashLSH.candidatePairs(sigs, "doc_id", maxBucketSize = Some(10))
      .as[(Long, Long)].collect().toSet
    assert(capped2 == capped)
  }

  test("ivfTopK assignment is pure expressions: only the final rank window") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val out = CosineKnn.ivfTopK(emb, emb.filter(col("vec_id") < 3),
      "embedding", "vec_id", k = 5, nCentroids = 4)
    val plan = out.queryExecution.optimizedPlan.toString
    val windows = "windowspecdefinition\\(".r.findAllIn(plan).length
    assert(windows == 1, s"expected only the rank window, got $windows:\n$plan")
    // the round-4 anti-pattern: a window partitioned on the raw vector
    assert(!plan.contains("windowspecdefinition(__ce") &&
      !plan.contains("windowspecdefinition(__qe"))
  }

  test("EnumerateField appearance-order is correct across many partitions") {
    val data = (0 until 1000).map(i => s"v${(i * 7) % 50}")
    val df = spark.sparkContext.parallelize(data, 8).toDF("v")
    val out = EnumerateField("v", Some("id"), appearanceOrder = true)(df)
    val collected = out.select("v", "id").as[(String, Long)].collect()
    val firstSeen = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    data.foreach(v =>
      if (!firstSeen.contains(v)) firstSeen(v) = firstSeen.size.toLong)
    collected.foreach { case (v, id) => assert(id == firstSeen(v)) }
    // row order restored (the mapper's row-order contract)
    assert(collected.map(_._1).toSeq == data)
  }

  test("Decontaminate.flagBloom: one-sided — always a superset of the exact flags") {
    val docsDf = Seq(
      (1L, "a b c d e f g h"),        // contains the bench 5-gram b..f
      (2L, "z y x w v u t s"),        // clean
      (3L, "q r b c d e f k")         // contains it mid-doc
    ).toDF("doc_id", "text").withColumn("words", split(col("text"), " "))
    val bench = Seq(Tuple1("b c d e f")).toDF("text")
      .withColumn("words", split(col("text"), " "))
    def hits(df: org.apache.spark.sql.DataFrame) = df
      .filter(col("contaminated")).select("doc_id").as[Long].collect().toSet
    val exact = hits(Decontaminate.flag(docsDf, "doc_id", "words",
      bench, "words", n = 5))
    val bloom = hits(Decontaminate.flagBloom(docsDf, "doc_id", "words",
      bench, "words", n = 5, fpp = 0.001))
    assert(exact == Set(1L, 3L))
    assert(exact.subsetOf(bloom), s"bloom $bloom must cover exact $exact")
    assert(bloom == exact, s"tiny fixture + fpp 0.001 should have no FPs: $bloom")
  }

  // ---------------------------------------------------------------- QualityClassifier

  test("QualityClassifier: JVM hash replica is in lockstep with the Column path") {
    val toks = Seq("the", "spark", "engine", "über", "a b", "", "日本語")
    val dim = 97
    val fromCol = toks.toDF("t")
      .select(QualityClassifier.hashIndex(col("t"), dim).as("h"))
      .as[Long].collect()
    val fromJvm = toks.map(t => QualityClassifier.jvmHashIndex(t, dim).toLong)
    assert(fromCol.toSeq == fromJvm, s"col=${fromCol.toSeq} jvm=$fromJvm")
  }

  test("QualityClassifier.logit is the mean of hashed-bucket weights plus bias") {
    val dim = 8
    val wts = (0 until dim).map(_.toDouble * 0.5)
    val words = Seq("x", "y", "z")
    val got = Seq(Tuple1(words)).toDF("words")
      .select(QualityClassifier.logit(col("words"), wts, bias = 1.0,
        includeBigrams = true, indexOf = t => QualityClassifier.hashIndex(t, dim)))
      .as[Double].head()
    val toks = words ++ Seq("x y", "y z")
    val expect = 1.0 + toks.map(t => wts(QualityClassifier.jvmHashIndex(t, dim))).sum / toks.size
    assert(math.abs(got - expect) < 1e-12, s"$got vs $expect")
  }

  test("QualityClassifier trains to separate clean from spam vocab") {
    val rnd = new scala.util.Random(7)
    val clean = (0 until 60).map(_ =>
      (1.0, Seq.fill(12)(s"word${rnd.nextInt(40)}")))
    val spam = (0 until 60).map(_ =>
      (0.0, Seq.fill(12)(s"zzspam${rnd.nextInt(40)}")))
    val df = (clean ++ spam).toDF("label", "words")
    val (wts, bias) = QualityClassifier.train(df, "words", "label",
      dim = 256, maxIter = 30)
    val score = (ws: Seq[String]) => {
      val toks = ws ++ ws.sliding(2).withFilter(_.size == 2).map(_.mkString(" "))
      bias + toks.map(t => wts(QualityClassifier.jvmHashIndex(t, 256))).sum / toks.size
    }
    // held-out docs from the same vocabularies separate by sign
    val posHeld = Seq.fill(10)(Seq.fill(12)(s"word${rnd.nextInt(40)}")).map(score)
    val negHeld = Seq.fill(10)(Seq.fill(12)(s"zzspam${rnd.nextInt(40)}")).map(score)
    assert(posHeld.forall(_ > 0) && negHeld.forall(_ < 0),
      s"pos=$posHeld neg=$negHeld")
  }

  test("SoftDedup: group counts, ppm weights, is_first; collision-safe") {
    val out = SoftDedup("text", "doc_id")(docs)
      .select($"doc_id", $"dup_count", $"weight_ppm", $"is_first")
      .as[(Long, Long, Long, Boolean)].collect().map(r => r._1 -> r).toMap
    assert(out(1L) == (1L, 2L, 500000L, true))
    assert(out(2L) == (2L, 2L, 500000L, false))
    assert(out(3L)._2 == 1L && out(3L)._3 == 1000000L && out(3L)._4)
    // a deliberately colliding bucket hash must not merge distinct texts
    val collide = SoftDedup("text", "doc_id", bucketHash = _ => lit(0L))(docs)
      .select($"doc_id", $"dup_count").as[(Long, Long)].collect().toMap
    assert(collide(1L) == 2L && collide(3L) == 1L && collide(4L) == 1L)
    // weights of each distinct value sum to ~1e6
    val sums = SoftDedup("text", "doc_id")(docs)
      .groupBy("text").agg(sum($"weight_ppm").as("s"))
      .select("s").as[Long].collect()
    assert(sums.forall(s => s == 1000000L))
  }

  test("ObservedStage: metrics ride the later action as a by-product") {
    val stage = ObservedStage("gate", Seq(
      "n" -> count(lit(1)),
      "v_sum" -> sum($"v"),
      "nulls" -> count(when($"v".isNull, 1))))
    val out = stage(Seq((1L, Some(2L)), (2L, Some(5L)), (3L, None))
      .toDF("id", "v"))
    assert(out.count() == 3L) // the action that materializes the metrics
    val m = stage.metricsMap
    assert(m("n") == 3L && m("v_sum") == 7L && m("nulls") == 1L)
  }

  test("jaccardSweep: decile histogram with descending cumulative") {
    val pairs = Seq(
      (1L, 2L, 0.31), (1L, 3L, 0.35), (2L, 3L, 0.74), (4L, 5L, 1.0)
    ).toDF("id_a", "id_b", "jac")
    val out = MinHashLSH.jaccardSweep(pairs)
      .orderBy("bucket")
      .as[(Long, Long, Long)].collect().toSeq
    // jac=1.0 clamps into the top bucket; cumulative counts ≥ bucket
    assert(out == Seq((3L, 2L, 4L), (7L, 1L, 2L), (9L, 1L, 1L)))
  }
}

class ImagePHashSpec extends SparkSpec {
  import graft.operators.Multimodal

  private def png(side: Int, gray: (Int, Int) => Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      side, side, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until side; x <- 0 until side) {
      val g = gray(x, y) & 0xff
      img.setRGB(x, y, (g << 16) | (g << 8) | g)
    }
    val baos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", baos)
    baos.toByteArray
  }

  private def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)

  test("cos table matches the analytic anchor values") {
    val c = Multimodal.pHashCosTable
    assert(c(0).forall(_ == 10000L)) // u=0 row is cos(0)=1
    assert(c(4)(0) == math.round(math.cos(math.Pi / 16) * 10000))
    // C[u][x] at (2x+1)u = 32 is cos(pi/2) = 0
    assert(c(1)(15) == math.round(math.cos(31 * math.Pi / 64) * 10000))
  }

  test("pHash survives 2x resize where the content is identical") {
    def pattern(x: Int, y: Int, s: Int) =
      if ((x * 7 / s + y * 5 / s) % 3 == 0) 220 else 40
    val small = png(32, (x, y) => pattern(x, y, 4))
    val big = png(64, (x, y) => pattern(x, y, 8))
    val h1 = Multimodal.imagePHash(small)
    val h2 = Multimodal.imagePHash(big)
    assert(ham(h1, h2) <= 8, s"resize drifted ${ham(h1, h2)} bits")
  }

  test("distinct structure lands far; tiny edits on textured images land near") {
    // textured (non-degenerate-spectrum) images — the realistic case;
    // grid-aligned synthetic patterns put exact zeros at most
    // frequencies, where any median threshold is noise (true of pHash
    // generally, not this implementation)
    val rnd = new scala.util.Random(7)
    val grays = Array.fill(1024)(rnd.nextInt(256))
    val edited = grays.clone(); edited(200) = (grays(200) + 8) % 256
    val base = png(32, (x, y) => grays(y * 32 + x))
    val hB = Multimodal.imagePHash(base)
    val hE = Multimodal.imagePHash(png(32, (x, y) => edited(y * 32 + x)))
    val hI = Multimodal.imagePHash(png(32, (x, y) => 255 - grays(y * 32 + x)))
    assert(ham(hB, hE) <= 6, s"one-pixel edit drifted ${ham(hB, hE)} bits")
    assert(ham(hB, hI) >= 16, s"inverted image only ${ham(hB, hI)} away")
  }

  test("deterministic, and null/empty/unreadable payloads are total") {
    val b = png(32, (x, y) => (x * 8 + y) % 256)
    assert(Multimodal.imagePHash(b) == Multimodal.imagePHash(b.clone()))
    assert(Multimodal.imagePHash(null) == 0L)
    assert(Multimodal.imagePHash(Array.emptyByteArray) == 0L)
    // unreadable payload -> stub decode, still a stable 64-bit value
    val junk = Array.tabulate[Byte](100)(i => (i * 37 % 251).toByte)
    assert(Multimodal.imagePHash(junk) == Multimodal.imagePHash(junk.clone()))
  }
}

class CompressionSignalSpec extends SparkSpec {
  import spark.implicits._
  import graft.operators.{CompressionRatio, CompressionSignal}

  test("prose sits between boilerplate and random noise") {
    val prose = "The quick brown fox jumps over the lazy dog. " * 8
    val boiler = "spam " * 72
    val rnd = new scala.util.Random(11)
    val noise = Array.fill(360)((33 + rnd.nextInt(90)).toChar).mkString
    val p = CompressionSignal.ratioPpm(prose)
    val b = CompressionSignal.ratioPpm(boiler)
    val z = CompressionSignal.ratioPpm(noise)
    assert(b < p && p < z, s"boiler=$b prose=$p noise=$z")
    assert(b < 120000L, s"boilerplate should collapse, got $b")
    assert(z > 700000L, s"noise should resist compression, got $z")
  }

  test("deterministic, total on null/empty, and the mapper wires through") {
    assert(CompressionSignal.ratioPpm(null) == 0L)
    assert(CompressionSignal.ratioPpm("") == 0L)
    val s = "some repeated text, some repeated text"
    assert(CompressionSignal.ratioPpm(s) == CompressionSignal.ratioPpm(s))
    val out = CompressionRatio("text")(
      Seq((1L, "aaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaa")).toDF("id", "text"))
      .select("compress_ppm").as[Long].head()
    assert(out > 0L && out < 500000L)
  }
}

class LuhnRedactSpec extends SparkSpec {
  import spark.implicits._
  import graft.operators.PiiRedact

  private def valid(nums: String*): Seq[Boolean] =
    nums.toSeq.toDF("n")
      .select(PiiRedact.luhnValid(col("n")).as("v"))
      .as[Boolean].collect().toSeq

  test("luhnValid: known card test numbers pass, perturbations fail") {
    // standard ISO 7812 test numbers
    assert(valid("4111111111111111", "5500005555555559", "378282246310005")
      == Seq(true, true, true))
    assert(valid("4111111111111112", "1234567890123456") == Seq(false, false))
    // length gate: 12 digits can sum to 0 mod 10 but is not a PAN
    assert(valid("000000000000") == Seq(false))
  }

  test("redactCards replaces only checksum-valid runs") {
    val got = Seq(
      "pay 4111111111111111 ref 1234567890123456 done",
      "order 999 total 55",
      "cards 4111111111111111 and 378282246310005"
    ).toDF("t").select(PiiRedact.redactCards(col("t")).as("r"))
      .as[String].collect().toSeq
    assert(got == Seq(
      "pay <CARD> ref 1234567890123456 done",
      "order 999 total 55",
      "cards <CARD> and <CARD>"))
  }
}

class IbanRedactSpec extends SparkSpec {
  import spark.implicits._
  import graft.operators.PiiRedact

  private def validIban(xs: String*): Seq[Boolean] =
    xs.toSeq.toDF("n")
      .select(PiiRedact.ibanValid(col("n")).as("v"))
      .as[Boolean].collect().toSeq

  test("ibanValid: published example IBANs pass, perturbations fail") {
    // the ISO 13616 / ECBS published examples
    assert(validIban(
      "GB82WEST12345698765432", // UK example from the standard
      "DE89370400440532013000", // Bundesbank example
      "FR1420041010050500013M02606" // with letters in the BBAN
    ) == Seq(true, true, true))
    // one digit off, transposed chars, too short
    assert(validIban(
      "GB82WEST12345698765433",
      "DE98370400440532013000",
      "GB82WEST123") == Seq(false, false, false))
  }

  test("redactIbans replaces only mod-97-valid runs") {
    val got = Seq(
      "wire GB82WEST12345698765432 ref GB82WEST12345698765433 end",
      "no candidates here 12345",
      "both DE89370400440532013000 and FR1420041010050500013M02606"
    ).toDF("t").select(PiiRedact.redactIbans(col("t")).as("r"))
      .as[String].collect().toSeq
    assert(got == Seq(
      "wire <IBAN> ref GB82WEST12345698765433 end",
      "no candidates here 12345",
      "both <IBAN> and <IBAN>"))
  }
}
