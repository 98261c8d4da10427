package graft

import graft.functions.functions.{pair_combos, pq_adc_dist, pq_encode}
import graft.operators.ProductQuantizer
import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Parity pins for the r13 optimization rewrites: each optimized shape
  * must reproduce the formulation it replaced EXACTLY (same rows, same
  * doubles), on data wide enough to exercise caps, ties, and empty
  * edges. These are the operator-internal twins of the DuckDB oracle
  * gate — they hold even for inputs the catalog queries don't reach. */
class OptimizedShapeParitySpec extends SparkSpec {
  import spark.implicits._

  private def det(i: Long, salt: Long): Long =
    // deterministic pseudo-random stream (splitmix64 step)
    { var z = i * 0x9E3779B97F4A7C15L + salt
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4B5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31) }

  test("pair_combos emits exactly the a.id < b.id self-join pair set (incl. 0/1-element postings)") {
    // postings of size 0..6 with distinct ids per posting
    val rows = (0L until 40L).map { p =>
      val n = (det(p, 1) % 7 + 7) % 7
      (p, (0L until n).map(i => (det(p * 10 + i, 2) % 1000 + 1000) % 1000).distinct)
    }
    val df = rows.toDF("p", "ids")
    val viaCombos = df
      .select(explode(pair_combos(col("ids"))).as("pr"))
      .select(col("pr.id_a"), col("pr.id_b"))
      .distinct()
    val ex = df.select(col("p"), explode(col("ids")).as("id"))
    val viaJoin = ex.as("a")
      .join(ex.as("b"),
        col("a.p") === col("b.p") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    assert(viaCombos.exceptAll(viaJoin).count() === 0)
    assert(viaJoin.exceptAll(viaCombos).count() === 0)
  }

  test("postings cap via array_sort(collect_list(struct(h, id))) keeps the row_number window's selection") {
    val cap = 3
    // hot keys: up to 9 members per key, hash ties possible via % 4
    val rows = (0L until 200L).map { i =>
      (s"k${i % 23}", i, s"h${(det(i, 3) % 4 + 4) % 4}")
    }
    val df = rows.toDF("key", "id", "h")
    val viaWindow = df
      .withColumn("rn", row_number().over(
        Window.partitionBy("key").orderBy(col("h"), col("id"))))
      .filter(col("rn") <= cap)
      .select("key", "id")
    val viaAgg = df
      .select(col("key"), struct(col("h"), col("id")).as("r"))
      .groupBy("key")
      .agg(slice(array_sort(collect_list(col("r"))), 1, cap).as("kept"))
      .select(col("key"), explode(col("kept")).as("r"))
      .select(col("key"), col("r.id").as("id"))
    assert(viaWindow.exceptAll(viaAgg).count() === 0)
    assert(viaAgg.exceptAll(viaWindow).count() === 0)
  }

  test("pair_combos kernel == HOF twin, exact arrays (long + string ids, 0/1-element, order)") {
    import graft.functions.functions.{pair_combos_hof => hofPairs}
    val rows = (0L until 60L).map { p =>
      val n = (det(p, 91) % 6 + 6) % 6
      (p, (0L until n).map(i => (det(p * 10 + i, 92) % 100 + 100) % 100))
    }
    val dfL = rows.toDF("p", "ids")
    val bothL = dfL
      .withColumn("nat", explode_outer(pair_combos(col("ids"))))
      .select(col("p"), col("nat"))
      .exceptAll(dfL
        .withColumn("nat", explode_outer(hofPairs(col("ids"))))
        .select(col("p"), col("nat")))
    assert(bothL.count() === 0)
    val dfS = rows.map { case (p, ids) => (p, ids.map(i => s"id$i")) }
      .toDF("p", "ids")
    val bothS = dfS
      .withColumn("nat", explode_outer(pair_combos(col("ids"))))
      .select(col("p"), col("nat"))
      .exceptAll(dfS
        .withColumn("nat", explode_outer(hofPairs(col("ids"))))
        .select(col("p"), col("nat")))
    assert(bothS.count() === 0)
  }

  test("one-intersection threshold twins == floor-division filters (exhaustive small ranges)") {
    // jaccard: floor(1e6*I/D) >= min  <=>  I*(1e6+min) >= min*(|A|+|B|),
    // D = |A|+|B|-I >= 1; containment: floor(s*I/D) >= T <=> s*I >= T*D
    for (min <- Seq(1L, 333333L, 500000L, 999999L, 1000000L);
         a <- 1 to 12; b <- 1 to 12; i <- 0 to math.min(a, b)) {
      val d = a.toLong + b - i
      val oldP = (1000000L * i) / d >= min
      val newP = i * (1000000L + min) >= min * (a.toLong + b)
      assert(oldP === newP, s"jaccard twin diverged at min=$min a=$a b=$b i=$i")
      val t = math.floor(1000000L * 0.9).toLong
      val dc = math.min(a, b).toLong
      val oldC = (1000000L * i) / dc >= t
      val newC = 1000000L * i >= t * dc
      assert(oldC === newC, s"containment twin diverged at a=$a b=$b i=$i")
    }
  }

  test("collect_min_k == slice(array_sort(collect_list), 1, k) incl. hot keys, ties, duplicates") {
    import graft.functions.functions.collect_min_k
    val cap = 3
    // one deliberately HOT key (80 members, far over cap — the 100 TB
    // skew case the bounded heap exists for), several keys under cap,
    // one exactly at cap, hash ties via % 4, plus duplicate (h, id)
    // entries on the hot key
    val rows = (0L until 200L).map { i =>
      val key = if (i < 80) "hot" else s"k${i % 23}"
      (key, i % 60, s"h${(det(i, 3) % 4 + 4) % 4}")
    }
    val df = rows.toDF("key", "id", "h")
      .select(col("key"), struct(col("h"), col("id")).as("r"))
    val viaSort = df.groupBy("key")
      .agg(slice(array_sort(collect_list(col("r"))), 1, cap).as("kept"))
    val viaHeap = df.groupBy("key")
      .agg(collect_min_k(col("r"), cap).as("kept"))
    // exact ARRAY equality (order included), not just set equality
    assert(viaSort.exceptAll(viaHeap).count() === 0)
    assert(viaHeap.exceptAll(viaSort).count() === 0)
    // and on scalar (long) elements, the containment-posting case
    val ids = rows.toDF("key", "id", "h").select("key", "id")
    val viaSortIds = ids.groupBy("key")
      .agg(slice(array_sort(collect_list(col("id"))), 1, cap + 1).as("kept"))
    val viaHeapIds = ids.groupBy("key")
      .agg(collect_min_k(col("id"), cap + 1).as("kept"))
    assert(viaSortIds.exceptAll(viaHeapIds).count() === 0)
    assert(viaHeapIds.exceptAll(viaSortIds).count() === 0)
  }

  test("bounded containment posting (collect_min_k cap+1 + size filter) == unbounded collect_list shape") {
    import graft.functions.functions.collect_min_k
    val maxDf = 4
    // posting sizes 0..9 across keys: below 2, inside [2, maxDf], at
    // maxDf+1 (the overflow edge), and far above (hot shingle)
    val rows = (0L until 300L).flatMap { i =>
      val key = s"s${i % 37}"
      Seq((key, (det(i, 5) % 500 + 500) % 500))
    } ++ (0L until 60L).map(i => ("hotshingle", i)) // hot: 60 members
    val df = rows.toDF("h", "id")
    def pairsOf(cand: org.apache.spark.sql.DataFrame) = cand
      .select(explode(pair_combos(col("ids"))).as("p"))
      .select(col("p.id_a"), col("p.id_b"))
      .distinct()
    val oldShape = pairsOf(
      df.groupBy("h").agg(collect_list(col("id")).as("ids"))
        .filter(size(col("ids")) >= 2 && size(col("ids")) <= maxDf))
    val newShape = pairsOf(
      df.groupBy("h").agg(collect_min_k(col("id"), maxDf + 1).as("ids"))
        .filter(size(col("ids")) >= 2 && size(col("ids")) <= maxDf))
    assert(oldShape.exceptAll(newShape).count() === 0)
    assert(newShape.exceptAll(oldShape).count() === 0)
  }

  test("capped LSH banding postings shape == row_number window + self-join (hot buckets, md5 hasher)") {
    import graft.operators.{MinHashLSH, MinHashSignature}
    // force HOT buckets: blocks of identical texts share every band
    // hash, so bucket sizes (up to 30) far exceed the cap
    val rows = (0L until 240L).map { i =>
      (i, s"text block ${i % 8} " * 3 + s"tail ${det(i, 81) % 4}")
    }
    val df = rows.toDF("doc_id", "text")
      .withColumn("words", split(col("text"), " "))
    val sigs = MinHashSignature("words", 3, 8)(df)
    val cap = 3
    val hasher: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
      c => md5(c) // string-typed rank hash, the q100 oracle-parity case
    val viaPostings = MinHashLSH.candidatePairs(
      sigs, "doc_id", "minhash_sig", bands = 4, sigLen = 8,
      maxBucketSize = Some(cap), hasher = hasher)
    // the pre-r14 formulation: rank window + filter + self-join
    val bandedAll = sigs.select(
      col("doc_id").as("id"),
      posexplode(transform(sequence(lit(0), lit(3)),
        b => hasher(concat_ws("|", slice(col("minhash_sig"), b * 2 + 1, lit(2))))))
        .as(Seq("band", "bh")))
    val kept = bandedAll
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("band"), col("bh"))
          .orderBy(hasher(concat_ws("|", col("id"), col("band"))), col("id"))))
      .filter(col("rn") <= cap)
    val viaWindow = kept.as("a")
      .join(kept.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    assert(viaPostings.exceptAll(viaWindow).count() === 0)
    assert(viaWindow.exceptAll(viaPostings).count() === 0)
  }

  /** Postings of the three key shapes the candidate sites use — a
    * string prefix token, an LSH (band, bucket) and a long fingerprint
    * — with one HOT key of 40 members on top of postings of 0..9, ids
    * distinct per key. Each entry: (name, postings, keys, rank). */
  private def postingShapes = {
    val ids = (k: Long) => (0L until (det(k, 61) % 10 + 10) % 10)
      .map(i => (det(k * 100 + i, 62) % 300 + 300) % 300).distinct
    val hot = (0L until 40L).map(_ * 7)
    val tok = ((0L until 30L).flatMap(k => ids(k).map(i => (s"t$k", i))) ++
      hot.map(i => ("hot", i))).toDF("ptok", "id")
    val band = ((0L until 30L).flatMap(k => ids(k).map(i => ((k % 4).toInt, s"b${k / 4}", i))) ++
      hot.map(i => (2, "hot", i))).toDF("band", "bh", "id")
    val fp = ((0L until 30L).flatMap(k => ids(k).map(i => (det(k, 63), i))) ++
      hot.map(i => (Long.MinValue, i))).toDF("fp", "id")
    Seq(
      ("string token", tok, Seq("ptok"),
        xxhash64(concat_ws("|", col("id"), col("ptok")))),
      ("(band, bh)", band, Seq("band", "bh"),
        md5(concat_ws("|", col("id"), col("band")))),
      ("long fingerprint", fp, Seq("fp"),
        xxhash64(concat_ws("|", col("id"), col("fp")))))
  }

  private def sameMultiset(a: org.apache.spark.sql.DataFrame,
      b: org.apache.spark.sql.DataFrame, what: String): Unit = {
    assert(a.exceptAll(b).count() === 0, what)
    assert(b.exceptAll(a).count() === 0, what)
  }

  test("Postings.candidatePairs: cap >= largest posting == the uncapped self-join (multiset)") {
    import graft.operators.Postings
    postingShapes.foreach { case (name, df, keys, rank) =>
      sameMultiset(
        Postings.candidatePairs(df, keys, "id", rank, Some(40)),
        Postings.candidatePairs(df, keys, "id", rank, None),
        s"$name: capped at the largest posting diverged from uncapped")
    }
  }

  test("Postings.candidatePairs: a hot key over cap == row_number window + self-join (multiset)") {
    import graft.operators.Postings
    val cap = 4
    postingShapes.foreach { case (name, df, keys, rank) =>
      val kept = df
        .withColumn("rn", row_number().over(
          Window.partitionBy(keys.map(col): _*).orderBy(rank, col("id"))))
        .filter(col("rn") <= cap)
      val sameKey = keys.map(k => col(s"a.$k") === col(s"b.$k")).reduce(_ && _)
      val reference = kept.as("a")
        .join(kept.as("b"), sameKey && col("a.id") < col("b.id"))
        .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      sameMultiset(
        Postings.candidatePairs(df, keys, "id", rank, Some(cap)), reference,
        s"$name: capped postings diverged from the window reference")
    }
  }

  /** The prefix-filter join as it stood before df ≥ 2 postings: df from
    * a groupBy joined back onto the exploded rows, and every prefix
    * token — df = 1 included — exploded into the postings. */
  private def prefixPairsRef(df: org.apache.spark.sql.DataFrame,
      minJaccardPpm: Long, maxPrefixDf: Option[Int], hasher: Column => Column) = {
    import graft.functions.functions.{integral_divide, intersect_size}
    import graft.operators.Postings
    val ex = df.select(col("id").as("__pf_id"),
      explode(array_distinct(col("toks"))).as("tok"))
    val dfreq = ex.groupBy("tok").agg(count(lit(1)).as("df"))
    val ordered = ex.join(dfreq, "tok")
      .groupBy("__pf_id")
      .agg(sort_array(collect_list(struct(col("df"), col("tok")))).as("__st"))
      .select(col("__pf_id"), transform(col("__st"), s => s.getField("tok")).as("toks"))
    val n = size(col("toks"))
    val p = n - integral_divide(
      lit(minJaccardPpm) * n.cast("long") + lit(999999L), lit(1000000L)).cast("int") + 1
    val prefAll = ordered.select(col("__pf_id"),
      explode(slice(col("toks"), lit(1), p)).as("ptok"))
    Postings.candidatePairs(prefAll, Seq("ptok"), "__pf_id",
        hasher(concat_ws("|", col("__pf_id"), col("ptok"))), maxPrefixDf)
      .distinct()
      .join(ordered.select(col("__pf_id").as("id_a"), col("toks").as("__ta")), "id_a")
      .join(ordered.select(col("__pf_id").as("id_b"), col("toks").as("__tb")), "id_b")
      .withColumn("__inter", intersect_size(col("__ta"), col("__tb")).cast("long"))
      .withColumn("jaccard_ppm", integral_divide(lit(1000000L) * col("__inter"),
        size(col("__ta")).cast("long") + size(col("__tb")).cast("long") - col("__inter")))
      .filter(col("jaccard_ppm") >= minJaccardPpm)
      .select("id_a", "id_b", "jaccard_ppm")
  }

  test("PrefixFilterJoin.pairs (window df, df >= 2 postings) == groupBy+join df over whole prefixes (multiset)") {
    import graft.operators.PrefixFilterJoin
    // near-dup corpus: 12 base documents of 10..19 tokens, half drawn
    // from a 60-word vocabulary (hot postings) and half private to the
    // base, each with 1..3 perturbed copies (one token swapped for a
    // unique one, a shared token repeated) — so clusters of two share
    // only df = 2 rare tokens
    val base = (0L until 12L).map { b =>
      (0L until (10 + b % 10)).map(i =>
        if (i % 2 == 0) s"r${b}_$i" else s"w${(det(b * 50 + i, 71) % 60 + 60) % 60}")
    }
    val nearDup = base.zipWithIndex.flatMap { case (toks, b) =>
      toks +: (1 to b % 3 + 1).map(c => toks.updated(c % toks.size, s"u${b}_$c") :+ toks.head)
    }.zipWithIndex.map { case (t, i) => (i.toLong, Option(t)) }
    // doc 100: at t = 0.5 its prefix (p = 5 of 8 tokens) is all df = 1
    // solo tokens; null / empty arrays, a null element; an exact copy
    val edges = Seq(
      (100L, Option(Seq("solo1", "solo2", "solo3", "solo4", "solo5", "solo6", "w1", "w2"))),
      (101L, None), (102L, Option(Seq.empty[String])),
      (103L, Option(Seq("w1", null, "w2", "w2"))), (104L, Option(Seq(null: String))),
      (105L, Option(base.head)))
    val mixed = (nearDup ++ edges).toDF("id", "toks")
    // identical documents: every token's df (30) is above the cap
    val identical = (0L until 30L).map(i => (i, Seq("x", "y", "z", "x"))).toDF("id", "toks")
    val xx: Column => Column = c => xxhash64(c)
    val md5Rank: Column => Column = c => substring(md5(c), 1, 8)
    val legs = Seq(("uncapped", None, xx), ("cap 3 xxhash64", Some(3), xx),
      ("cap 3 md5", Some(3), md5Rank))
    for ((corpus, df) <- Seq(("near-dup", mixed), ("identical", identical));
         t <- Seq(1L, 500000L, 1000000L);
         (leg, cap, h) <- legs) {
      val got = PrefixFilterJoin.pairs(df, "id", "toks", t, cap, h)
      val want = prefixPairsRef(df, t, cap, h)
      sameMultiset(got, want, s"$corpus, t = $t ppm, $leg")
      if (corpus == "near-dup" && cap.isEmpty)
        assert(want.count() > 0, s"$corpus, t = $t ppm: empty reference")
      if (corpus == "near-dup" && t == 500000L)
        assert(got.filter(col("id_a") === 100L || col("id_b") === 100L).count() === 0)
    }
  }

  /** `n` distinct words `p0 … p(n−1)`. */
  private def words(p: String, n: Int) = (0 until n).map(i => s"$p$i")

  /** `containmentPairs` as it stood before `Postings.verify`: its own
    * join-and-intersect block, T = ⌊scale·minContainment⌋ in doubles. */
  private def containmentPairsRef(df: org.apache.spark.sql.DataFrame,
      maxShingleDf: Int, minContainment: Double, scale: Long) = {
    import graft.functions.functions.{collect_min_k, integral_divide, intersect_size}
    import graft.operators.{Postings, TextShingles}
    val shingled = df.select(col("id").as("__ct_id"),
      array_distinct(TextShingles.shingles(col("words"), 3)).as("__ct_sh"))
    val cand = shingled
      .select(col("__ct_id"), explode(col("__ct_sh")).as("__ct_s"))
      .withColumn("__ct_h", xxhash64(col("__ct_s")))
      .groupBy(col("__ct_h"))
      .agg(collect_min_k(col("__ct_id"), maxShingleDf + 1).as("__ct_ids"))
      .filter(size(col("__ct_ids")) >= 2 && size(col("__ct_ids")) <= maxShingleDf)
      .transform(Postings.pairsOf(col("__ct_ids")))
      .distinct()
    cand
      .join(shingled.select(col("__ct_id").as("id_a"), col("__ct_sh").as("sh_a")), Seq("id_a"))
      .join(shingled.select(col("__ct_id").as("id_b"), col("__ct_sh").as("sh_b")), Seq("id_b"))
      .withColumn("__ct_i", intersect_size(col("sh_a"), col("sh_b")).cast(LongType))
      .withColumn("containment_scaled", integral_divide(lit(scale) * col("__ct_i"),
        least(size(col("sh_a")), size(col("sh_b"))).cast(LongType)))
      .filter(lit(scale) * col("__ct_i") >=
        lit(math.floor(scale * minContainment).toLong) *
          least(size(col("sh_a")), size(col("sh_b"))).cast(LongType))
      .select("id_a", "id_b", "containment_scaled")
  }

  test("containmentPairs via Postings.verify == its own verify block (contained docs, hot shingles, a pair at T, scales 1e6 and 1e3)") {
    import graft.operators.MinHashLSH
    val hot = words("h", 6)
    // twelve bases with 1..3 copies each: wrapped in private words,
    // wrapped in the hot boilerplate (df 16 > the cap of 5), or cut
    // short by a few words
    val bases = (0 until 12).map(b => words(s"x${b}_", 8 + b))
    val copies = bases.zipWithIndex.flatMap { case (w, b) =>
      w +: (0 to b % 3).map {
        case 0 => words(s"p${b}_", 3) ++ w ++ words(s"q${b}_", 2)
        case 1 => hot ++ w
        case _ => w.dropRight(1 + b % 2)
      }
    }
    // at T for 0.9 and 0.5: 9 and 5 of the 10 shingles of a 12-word doc
    val edge = words("e", 12)
    val docs = copies ++ Seq(edge, edge.take(11) ++ words("f", 15),
      words("g", 12), words("g", 7) ++ words("k", 15)) ++
      (0 until 8).map(i => hot ++ words(s"o${i}_", 4))
    val df = docs.zipWithIndex.map { case (w, i) => (i.toLong, w) }.toDF("id", "words")
    for (scale <- Seq(1000000L, 1000L); t <- Seq(0.9, 0.5)) {
      val got = MinHashLSH.containmentPairs(df, "words", "id", maxShingleDf = 5L,
        minContainment = t, scale = scale)
      val want = containmentPairsRef(df, 5, t, scale)
      sameMultiset(got, want, s"scale $scale, threshold $t")
      val atT = (BigDecimal(t) * scale).toLongExact
      assert(want.filter(col("containment_scaled") === atT).count() > 0,
        s"scale $scale, threshold $t: no pair exactly at T")
    }
  }

  /** `MinHashLSH.dedup` as it stood before `Postings.verify`, where a
    * document with an empty or null words array matches nothing. */
  private def dedupRef(df: org.apache.spark.sql.DataFrame, minJaccard: Double) = {
    import graft.functions.functions.intersect_size
    import graft.operators.{MinHashLSH, MinHashSignature, TextShingles}
    val worded = df.filter(size(col("words")) > 0)
    val pairs = MinHashLSH.candidatePairs(MinHashSignature("words", 3, 16)(worded),
      "id", "minhash_sig", 4, 16)
    val shingled = worded.select(col("id").as("__id"),
      array_distinct(TextShingles.shingles(col("words"), 3)).as("__sh"))
    val verified = pairs
      .join(shingled.withColumnRenamed("__id", "id_a")
        .withColumnRenamed("__sh", "sh_a"), Seq("id_a"))
      .join(shingled.withColumnRenamed("__id", "id_b")
        .withColumnRenamed("__sh", "sh_b"), Seq("id_b"))
      .withColumn("inter", intersect_size(col("sh_a"), col("sh_b")).cast(DoubleType))
      .withColumn("jac", col("inter") / (size(col("sh_a")) + size(col("sh_b")) - col("inter")))
      .filter(col("jac") >= minJaccard)
      .select("id_a", "id_b")
    df.join(verified.select(col("id_b").as("id")).distinct(), Seq("id"), "left_anti")
  }

  /** `MinHashLSH.nearDupAgainst` as it stood before `Postings.verify`
    * (bands 4 of an 8-long signature, xxhash64). */
  private def nearDupAgainstRef(existing: org.apache.spark.sql.DataFrame,
      incoming: org.apache.spark.sql.DataFrame, minJaccard: Double) = {
    import graft.functions.functions.intersect_size
    def banded(df: org.apache.spark.sql.DataFrame, side: String) = df.select(
      col("id").as(s"__${side}_id"),
      posexplode(transform(sequence(lit(0), lit(3)), b =>
        xxhash64(concat_ws("|", slice(col("sig"), b * 2 + 1, lit(2))))))
        .as(Seq("band", "bh")))
    val cand = banded(incoming, "in").join(banded(existing, "ex"), Seq("band", "bh"))
      .select(col("__in_id"), col("__ex_id")).distinct()
    val inWords = incoming.select(col("id").as("__in_id"), array_distinct(col("words")).as("__in_w"))
    val exWords = existing.select(col("id").as("__ex_id"), array_distinct(col("words")).as("__ex_w"))
    val dupIds = cand.join(inWords, Seq("__in_id")).join(exWords, Seq("__ex_id"))
      .withColumn("__inter", intersect_size(col("__in_w"), col("__ex_w")).cast(DoubleType))
      .withColumn("__jac",
        col("__inter") / (size(col("__in_w")) + size(col("__ex_w")) - col("__inter")))
      .filter(col("__jac") >= minJaccard)
      .select(col("__in_id").as("id")).distinct()
      .withColumn("dup_of_existing", lit(true))
    incoming.join(dupIds, Seq("id"), "left")
      .withColumn("dup_of_existing", coalesce(col("dup_of_existing"), lit(false)))
  }

  test("MinHashLSH.dedup via Postings.verify == its own verify block (a pair at jac = 0.8, empty word arrays)") {
    import graft.operators.MinHashLSH
    // 4 of 5 shingles: Jaccard exactly 0.8; near-dup clusters around
    // it; two empty word arrays and a null one, which match nothing
    val docs: Seq[(Long, Option[Seq[String]])] =
      Seq((0L, Some(words("a", 6))), (1L, Some(words("a", 7))),
        (2L, Some(Seq.empty[String])), (3L, Some(Seq.empty[String])), (4L, None)) ++
      (0 until 10).flatMap { c =>
        val base = words(s"c${c}_", 10 + c)
        Seq((100L + 10 * c, Some(base)),
          (101L + 10 * c, Some(base.updated(c % base.size, s"d$c"))),
          (102L + 10 * c, Some(base.take(base.size - 1 - c % 3))))
      }
    val df = docs.toDF("id", "words")
    for (t <- Seq(0.8, 0.5)) {
      val got = MinHashLSH.dedup(df, "words", "id", minJaccard = t)
      val want = dedupRef(df, t)
      sameMultiset(got, want, s"dedup at $t")
      assert(want.filter(col("id") === 1L).count() === 0,
        s"dedup at $t: the jac = 0.8 pair was not verified")
      for (kept <- Seq(want, MinHashLSH.dedupClusters(df, "words", "id", minJaccard = t),
          MinHashLSH.dedupClustersBy(df, "words", "id", lit(0L), minJaccard = t)))
        assert(kept.filter(col("id").isin(2L, 3L, 4L)).select("id").as[Long]
          .collect().sorted.toSeq === Seq(2L, 3L, 4L))
    }
  }

  test("MinHashLSH.nearDupAgainst via Postings.verify == its own verify block (jac = 0.8, 0.75, 0/0)") {
    import graft.operators.MinHashLSH
    // equal signatures make every (incoming, existing) pair of a
    // cluster a candidate; the words set the Jaccard
    val sig = (c: Long) => (0L until 8L).map(j => det(c, 40 + j))
    val existing = Seq(
      (10L, sig(1), Seq("a", "b", "c", "d", "e")),
      (11L, sig(2), Seq("p", "q", "r", "s")),
      (12L, sig(3), Seq.empty[String]),
      (13L, sig(4), Seq("x", "y", "x", "z"))).toDF("id", "sig", "words")
    val incoming = Seq(
      (1L, sig(1), Seq("a", "b", "c", "d", "d")), // 4/5 = 0.8
      (2L, sig(2), Seq("p", "q", "r")),           // 3/4 = 0.75
      (3L, sig(3), Seq.empty[String]),            // 0/0
      (4L, sig(4), Seq("z", "y", "x")),           // 3/3
      (5L, sig(5), Seq("a", "b", "c", "d", "e"))) // no candidate
      .toDF("id", "sig", "words")
    val got = MinHashLSH.nearDupAgainst(existing, incoming, "id", sigField = "sig",
      bands = 4, sigLen = 8, minJaccard = 0.8)
      .select("id", "dup_of_existing")
    val want = nearDupAgainstRef(existing, incoming, 0.8).select("id", "dup_of_existing")
    sameMultiset(got, want, "nearDupAgainst")
    assert(want.orderBy("id").as[(Long, Boolean)].collect().toSeq ===
      Seq((1L, true), (2L, false), (3L, false), (4L, true), (5L, false)))
  }

  test("word_shingles matches the TextShingles HOF (null array, null words, short, unicode)") {
    import graft.operators.TextShingles
    val vocab = Seq("a", "bb", "日本語", "", null, "x y", "zz")
    val rows: Seq[(Long, Option[Seq[String]])] = (0L until 150L).map { r =>
      val n = (det(r, 51) % 8 + 8) % 8
      if (r % 17 == 0) (r, None) // null words array
      else (r, Some((0 until n.toInt).map(i =>
        vocab(((det(r * 19 + i, 52) % 7 + 7) % 7).toInt))))
    }
    val df = rows.toDF("id", "words")
    Seq(1, 2, 3, 5).foreach { n =>
      val both = df
        .withColumn("s_nat", TextShingles.shingles(col("words"), n))
        .withColumn("s_hof", TextShingles.shinglesHof(col("words"), n))
      assert(both.filter(not(col("s_nat") <=> col("s_hof"))).count() === 0,
        s"word_shingles diverged from the HOF twin at n=$n")
    }
  }

  test("md5_window_fps matches the explode+substr+md5+filter+distinct chain (unicode, short, null)") {
    import graft.functions.functions.md5_window_fps
    val texts: Seq[(Long, Option[String])] = Seq(
      (0L, Some("")), (1L, Some("short")), (2L, Some("x" * 19)),
      (3L, Some("y" * 20)), (4L, None),
      (5L, Some("日本語のテキスト" * 10)), // multi-byte windows
      (6L, Some(("abcdefghij" * 8) + ("abcdefghij" * 8))), // repeated windows -> dedup
      (7L, Some("Ünïcødé mixed ascii and combininǵ marks " * 6))
    ) ++ (8L until 40L).map(i =>
      (i, Some((0 until ((det(i, 61) % 300 + 300) % 300).toInt)
        .map(k => (('a' + (det(i * 97 + k, 62) % 26 + 26) % 26).toChar))
        .mkString)))
    val df = texts.toDF("doc_id", "text")
    val viaKernel = df
      .select(col("doc_id"),
        explode(md5_window_fps(col("text"), 20, 1)).as("fp"))
    val viaChain = df
      .select(col("doc_id"), col("text"),
        explode(
          when(length(col("text")) >= 20,
            sequence(lit(1), length(col("text")) - 19))
            .otherwise(array().cast("array<int>"))).as("__i"))
      .select(col("doc_id"), md5(col("text").substr(col("__i"), lit(20))).as("fp"))
      .filter(substring(col("fp"), 1, 1) === "0")
      .distinct()
    assert(viaKernel.exceptAll(viaChain).count() === 0)
    assert(viaChain.exceptAll(viaKernel).count() === 0)
  }

  test("line_stats fractions match the split/filter HOF twins (bullets, ellipsis, dups, paras, null)") {
    import graft.operators.{GopherQuality, RepetitionStats}
    val texts: Seq[(Long, Option[String])] = Seq(
      (0L, Some("")), (1L, None), (2L, Some("\n\n")), (3L, Some("plain line")),
      (4L, Some("- bullet\n* bullet2\n•unicode bullet\n-nodash\nend...")),
      (5L, Some("trail…\nsame\nsame\n\nsame\n\n\npara\n")),
      (6L, Some("a\n\n\nb")), (7L, Some("...\n…\n- \n* \n•")),
      (8L, Some("x\n"))
    ) ++ (9L until 60L).map { i =>
      val lines = (0 until ((det(i, 71) % 12 + 12) % 12).toInt).map { k =>
        val opts = Seq("- item", "* item", "• item", "text...", "text…",
          "dup line", "dup line", "", "plain", "日本語…")
        opts(((det(i * 31 + k, 72) % 10 + 10) % 10).toInt)
      }
      (i, Some(lines.mkString("\n")))
    }
    val df = texts.toDF("id", "text")
    val t = col("text")
    val both = df
      .withColumn("b_nat", GopherQuality.bulletLineFraction(t))
      .withColumn("b_hof", GopherQuality.bulletLineFractionHof(t))
      .withColumn("e_nat", GopherQuality.ellipsisLineFraction(t))
      .withColumn("e_hof", GopherQuality.ellipsisLineFractionHof(t))
      .withColumn("p_nat", GopherQuality.duplicateParagraphFraction(t))
      .withColumn("p_hof", GopherQuality.duplicateParagraphFractionHof(t))
      .withColumn("l_nat", RepetitionStats.duplicateLineFraction(t))
      .withColumn("l_hof", RepetitionStats.duplicateLineFractionHof(t))
    Seq("b", "e", "p", "l").foreach { p =>
      assert(both.filter(not(col(s"${p}_nat") <=> col(s"${p}_hof"))).count() === 0,
        s"line_stats fraction '$p' diverged from the HOF twin")
    }
  }

  test("pq_encode / pq_adc_dist match the zip_with/aggregate HOF formulation bit-for-bit") {
    val m = 4
    val w = 4
    val k = 5
    val dim = m * w
    val vecs = (0L until 60L).map { r =>
      (r, (0 until dim).map(i => (det(r * 100 + i, 7) % 1000).toDouble / 250.0))
    }
    val df = vecs.toDF("id", "emb")
    val cbs: Seq[Seq[Seq[Double]]] = (0 until m).map(mi =>
      (0 until k).map(j =>
        (0 until w).map(i => (det((mi * k + j) * 50 + i, 11) % 1000).toDouble / 250.0)))

    def l2sqHof(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
        lit(0.0), (acc, x) => acc + x)

    // encode: HOF twin (the formulation encode() used before r13)
    val e = col("emb").cast(ArrayType(DoubleType))
    val hofCodes = array((0 until m).map { mi =>
      val sub = slice(e, mi * w + 1, w)
      val cands = array(cbs(mi).zipWithIndex.map { case (c, j) =>
        struct(l2sqHof(sub, typedlit(c)).as("d"), lit(j.toLong).as("code"))
      }: _*)
      aggregate(slice(cands, 2, k - 1), element_at(cands, 1),
        (acc, x) => when(x.getField("d") < acc.getField("d"), x).otherwise(acc)
      ).getField("code")
    }: _*)
    val both = df
      .withColumn("c_hof", hofCodes)
      .withColumn("c_nat", pq_encode(e, cbs))
    assert(both.filter(col("c_hof") =!= col("c_nat")).count() === 0)

    // adc dist: HOF twin over the native codes
    val hofDist = (0 until m).map { mi =>
      val cb = typedlit(cbs(mi))
      l2sqHof(slice(e, mi * w + 1, w),
        element_at(cb, (element_at(col("c_nat"), mi + 1) + 1).cast("int")))
    }.reduce(_ + _)
    val d = both
      .withColumn("d_hof", hofDist)
      .withColumn("d_nat", pq_adc_dist(e, col("c_nat"), cbs))
    // bit-for-bit: same accumulation order, so exact equality is required
    assert(d.filter(col("d_hof") =!= col("d_nat")).count() === 0)

    // and the operator entry points still agree with themselves end-to-end
    val enc = ProductQuantizer.encode(df, "emb", cbs)
    val top = ProductQuantizer.adcTopK(enc, df.filter(col("id") < 3), "emb", "id",
      k = 4, cbs)
    assert(top.count() === 12)
  }

  test("top/dup_ngram_chars match the HOF gram-count formulation (ties, nulls, unicode, < n words)") {
    import graft.operators.GopherQuality
    // word streams from a tiny vocab (forced duplicate grams + count
    // ties), lengths 0..9 straddling every n, null words, and
    // multi-byte unicode words (length must count chars, not bytes)
    val vocab = Seq("a", "bb", "ccc", "日本語", "a", null)
    val rows = (0L until 120L).map { r =>
      val n = (det(r, 31) % 10 + 10) % 10
      (r,
        (0 until n.toInt).map(i => vocab(((det(r * 17 + i, 32) % 6 + 6) % 6).toInt)),
        s"text-padding-${"x" * ((det(r, 33) % 50 + 50) % 50).toInt}")
    }
    val df = rows.toDF("id", "words", "text")
    Seq(1, 2, 3, 5).foreach { n =>
      val both = df
        .withColumn("t_nat", GopherQuality.topNgramCharFraction(col("text"), col("words"), n))
        .withColumn("t_hof", GopherQuality.topNgramCharFractionHof(col("text"), col("words"), n))
        .withColumn("d_nat", GopherQuality.dupNgramCharFraction(col("text"), col("words"), n))
        .withColumn("d_hof", GopherQuality.dupNgramCharFractionHof(col("text"), col("words"), n))
      // bit-for-bit: both sides divide the same exact integers
      assert(both.filter(col("t_nat") =!= col("t_hof")).count() === 0,
        s"topNgramCharFraction diverged from the HOF twin at n=$n")
      assert(both.filter(col("d_nat") =!= col("d_hof")).count() === 0,
        s"dupNgramCharFraction diverged from the HOF twin at n=$n")
    }
  }

  test("argmax_cosine matches the struct-fold twin (raw + scaled modes, ties, NaN sims)") {
    import graft.functions.functions.argmax_cosine
    val dim = 6
    val cents: Seq[Seq[Double]] = Seq(
      (0 until dim).map(i => (det(i, 41) % 100).toDouble / 25.0),
      (0 until dim).map(i => (det(i, 42) % 100).toDouble / 25.0),
      (0 until dim).map(i => (det(i, 41) % 100).toDouble / 25.0), // duplicate of 0 -> forced sim tie
      Seq.fill(dim)(0.0) // zero centroid -> NaN cosine candidate
    )
    val rows = (0L until 150L).map { r =>
      val zero = r % 29 == 0 // zero rows -> every sim NaN
      (r, (0 until dim).map(i =>
        if (zero) 0.0 else (det(r * 13 + i, 43) % 200).toDouble / 50.0 - 2.0))
    }
    val df = rows.toDF("id", "emb")
    val e = col("emb").cast(ArrayType(DoubleType))
    def foldTwin(key: Seq[Double] => org.apache.spark.sql.Column,
        pick: (org.apache.spark.sql.Column, org.apache.spark.sql.Column) => org.apache.spark.sql.Column) = {
      val cands = array(cents.zipWithIndex.map { case (c, j) =>
        struct(key(c).as("k"), lit(j).as("idx"))
      }: _*)
      aggregate(slice(cands, 2, cents.length - 1), element_at(cands, 1),
        (acc, x) => when(pick(x.getField("k"), acc.getField("k")), x).otherwise(acc)
      ).getField("idx")
    }
    // raw mode: when(x.sim > acc.sim) — Spark's NaN-beats-all `>`
    val raw = df
      .withColumn("i_hof", foldTwin(
        c => graft.functions.functions.cosine_sim(e, typedlit(c)),
        (x, acc) => x > acc))
      .withColumn("i_nat", argmax_cosine(e, cents).getField("idx"))
    assert(raw.filter(col("i_hof") =!= col("i_nat")).count() === 0,
      "argmax_cosine raw mode diverged from the struct fold")
    // winner's sim must equal the recomputed cosine of that winner
    val sims = raw
      .withColumn("s_nat", argmax_cosine(e, cents).getField("sim"))
      .withColumn("s_ref",
        graft.functions.functions.cosine_sim(e,
          element_at(typedlit(cents), col("i_nat") + 1)))
    assert(sims.filter(!(col("s_nat") === col("s_ref"))).count() === 0)
    // scaled mode: when(x.negsim < acc.negsim) over -floor(scale·cos)
    val scale = 1000000L
    val scaled = df
      .withColumn("i_hof", foldTwin(
        c => -floor(lit(scale) * graft.functions.functions.cosine_sim(e, typedlit(c)))
          .cast(LongType),
        (x, acc) => x < acc))
      .withColumn("i_nat", argmax_cosine(e, cents, scale).getField("idx"))
    assert(scaled.filter(col("i_hof") =!= col("i_nat")).count() === 0,
      "argmax_cosine scaled mode diverged from the negsim fold")

    // NULL contract (intended semantics, documented on the kernel): a
    // null embedding yields a NULL result — the old struct fold silently
    // assigned null rows to the FIRST centroid (null sim kept the
    // initial accumulator). Catalog callers never feed null embeddings;
    // this row pins the deliberate null-in/null-out divergence.
    val nullRows = Seq((0L, Some(Seq(1.0, 0.0, 0.0, 0.0, 0.0, 0.0))), (1L, None))
      .toDF("id", "emb")
    val nulled = nullRows
      .withColumn("b", argmax_cosine(col("emb").cast(ArrayType(DoubleType)), cents))
    assert(nulled.filter(col("id") === 1L && col("b").isNotNull).count() === 0,
      "argmax_cosine must be null for a null embedding")
    assert(nulled.filter(col("id") === 0L && col("b").isNull).count() === 0)
  }

  /** dot_product inputs: 1/5 of the rows have mismatched lengths, 1/11
    * of the elements are null, lengths 0-5. */
  private def dotRows: Seq[(Long, Seq[java.lang.Double], Seq[java.lang.Double])] =
    (0L until 200L).map { r =>
      def arr(salt: Long, n: Long) = (0L until n).map { i =>
        val v = det(r * 7 + i, salt)
        if (v % 11 == 0) null else java.lang.Double.valueOf((v % 500).toDouble / 100.0)
      }
      val na = (det(r, 51) % 6 + 6) % 6
      val nb = if (r % 5 == 0) (det(r, 52) % 6 + 6) % 6 else na // 1/5 mismatched
      (r, arr(53, na), arr(54, nb))
    }

  private def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  /** intersect_size inputs: duplicates, null elements, empty arrays. */
  private def intersectRows: Seq[(Long, Seq[String], Seq[String])] = {
    val vocab = Seq("x", "yy", "zzz", "x", null, "w", "日本")
    (0L until 300L).map { r =>
      def arr(salt: Long) = {
        val n = (det(r, salt) % 8 + 8) % 8
        (0L until n).map(i => vocab(((det(r * 11 + i, salt + 1) % 7 + 7) % 7).toInt))
      }
      (r, arr(71), arr(73))
    }
  }

  test("dot_product matches the zip_with/aggregate HOF (mismatched lengths, null elements, empty)") {
    import graft.functions.functions.dot_product
    val df = dotRows.toDF("id", "a", "b")
    val both = df
      .withColumn("d_hof", dotHof(col("a"), col("b")))
      .withColumn("d_nat", dot_product(col("a"), col("b")))
    assert(both.filter(!(col("d_hof") <=> col("d_nat"))).count() === 0,
      "dot_product diverged from the HOF fold (incl. null contract)")
  }

  test("char_ngrams matches the split/concat HOF (unicode, surrogates, short/empty, case fold)") {
    import graft.operators.LangIdNgram
    val pieces = Seq("ab", "Ж", "日本", "🌍", "x", " ", "ÉÈ", "")
    val rows = (0L until 150L).map { r =>
      val k = (det(r, 81) % 9 + 9) % 9
      (r, (0 until k.toInt)
        .map(i => pieces(((det(r * 13 + i, 82) % 8 + 8) % 8).toInt))
        .mkString)
    }
    val df = rows.toDF("id", "text")
    Seq(1, 2, 3).foreach { n =>
      val both = df
        .withColumn("nat", to_json(LangIdNgram.charNgrams(col("text"), n)))
        .withColumn("hof", to_json(LangIdNgram.charNgramsHof(col("text"), n)))
      assert(both.filter(!(col("nat") <=> col("hof"))).count() === 0,
        s"char_ngrams diverged from the HOF at n=$n")
    }
  }

  test("top_ngrams_ranked matches the explode+count+window docTop (ties, unicode, short text)") {
    import graft.functions.functions.top_ngrams_ranked
    import graft.operators.LangIdNgram
    val pieces = Seq("abab", "Жa", "日本日本", "🌍a🌍", "xy", " ", "aa", "")
    val rows = (0L until 120L).map { r =>
      val k = (det(r, 91) % 10 + 10) % 10
      (r, (0 until k.toInt)
        .map(i => pieces(((det(r * 7 + i, 92) % 8 + 8) % 8).toInt))
        .mkString)
    }
    val df = rows.toDF("id", "text")
    Seq((1, 3), (3, 5), (3, 100)).foreach { case (n, topN) =>
      val nat = df.select(col("id").as("__li_id"),
          explode(top_ngrams_ranked(lower(col("text")), n, topN)).as("g"))
        .select(col("__li_id"), col("g.gram").as("gram"), col("g.rank").as("__li_dr"))
      val sql = LangIdNgram.docTopSql(df, "id", "text", topN, n)
      assert(nat.exceptAll(sql).count() === 0 && sql.exceptAll(nat).count() === 0,
        s"top_ngrams_ranked diverged from the SQL docTop at n=$n topN=$topN")
    }
  }

  test("ct_classify kernel matches the SQL classify (distances, und rows, tie languages)") {
    import graft.operators.LangIdNgram
    val pieces = Seq("the cat sat", "der Hund lief", "le chat noir", "xyz", "ab", "")
    val train = (0L until 60L).map { r =>
      val l = Seq("de", "en", "fr")(((det(r, 95) % 3 + 3) % 3).toInt)
      (l, (0 until 4).map(i =>
        pieces(((det(r * 5 + i, 96) % 6 + 6) % 6).toInt)).mkString(" "))
    }.toDF("lang", "text")
    val profiles = LangIdNgram.trainProfiles(train, "lang", "text", topN = 20, n = 3)
    val docs = (0L until 80L).map { r =>
      val k = (det(r, 97) % 5 + 5) % 5
      (r, (0 until k.toInt).map(i =>
        pieces(((det(r * 3 + i, 98) % 6 + 6) % 6).toInt)).mkString(" "))
    }.toDF("id", "text")
    val nat = LangIdNgram.classify(docs, "id", "text", profiles, topN = 20, n = 3)
      .select(col("id"), col("pred_lang"), col("dist"))
    val sql = LangIdNgram.classifySql(docs, "id", "text", profiles, topN = 20, n = 3)
      .select(col("id"), col("pred_lang"), col("dist"))
    assert(nat.exceptAll(sql).count() === 0 && sql.exceptAll(nat).count() === 0,
      "ct_classify diverged from the SQL classify")
  }

  test("intersect_size matches size(array_intersect) (duplicates, nulls, empties)") {
    import graft.functions.functions.intersect_size
    val df = intersectRows.toDF("id", "a", "b")
    val both = df
      .withColumn("s_ref", size(array_intersect(col("a"), col("b"))))
      .withColumn("s_nat", intersect_size(col("a"), col("b")))
    assert(both.filter(!(col("s_ref") <=> col("s_nat"))).count() === 0,
      "intersect_size diverged from size(array_intersect)")
  }

  test("cosine_sim, dot_product, intersect_size, interleave_bits: generated and interpreted code equal the reference") {
    import graft.functions.functions.{cosine_sim, dot_product, interleave_bits, intersect_size}
    // the kernels' inputs come from a local relation; with
    // ConvertToLocalRelation excluded the projection runs as a plan
    // node, so the factory mode decides which code computes it
    // (without it, the optimizer evaluates the projection itself,
    // interpreted, whatever the mode)
    val modes = Seq(
      Map("spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
        "spark.sql.codegen.wholeStage" -> "true", "spark.sql.codegen.fallback" -> "false"),
      Map("spark.sql.codegen.factoryMode" -> "NO_CODEGEN",
        "spark.sql.codegen.wholeStage" -> "false"))
    val vecs = dotRows.toDF("id", "a", "b")
    // cosine_sim's domain: equal lengths, no null elements (incl. empties)
    val cos = dotRows
      .filter { case (_, a, b) => a.size == b.size && !a.contains(null) && !b.contains(null) }
      .toDF("id", "a", "b")
    val sets = intersectRows.toDF("id", "a", "b")
    val ints = (0L until 200L).map { r =>
      def v(salt: Long): java.lang.Long =
        if (det(r, salt) % 13 == 0) null else java.lang.Long.valueOf(det(r, salt + 1) >>> 1)
      (r, v(101), v(103), v(105))
    }.toDF("id", "x", "y", "w")
    def sumSq(a: Column) = aggregate(transform(a, x => x * x), lit(0.0), (acc, x) => acc + x)
    // the kernel divides in IEEE doubles: 0/0 is NaN where Spark's `/` gives null
    def ieeeDiv(n: Column, d: Column) = when(d === 0.0, lit(Double.NaN)).otherwise(n / d)
    def morton(cs: Seq[Column], bits: Int): Column =
      (for (b <- 0 until bits; (c, i) <- cs.zipWithIndex)
        yield shiftLeft(shiftRightUnsigned(c, b).bitwiseAND(lit(1L)), b * cs.size + i))
        .reduce(_.bitwiseOR(_))
    val (a, b) = (col("a"), col("b"))
    val (x, y, w) = (col("x"), col("y"), col("w"))
    val cases: Seq[(String, org.apache.spark.sql.DataFrame, Column, Column)] = Seq(
      ("dot_product", vecs, dot_product(a, b), dotHof(a, b)),
      ("cosine_sim", cos, cosine_sim(a, b),
        ieeeDiv(dotHof(a, b), sqrt(sumSq(a)) * sqrt(sumSq(b)))),
      ("intersect_size", sets, intersect_size(a, b), size(array_intersect(a, b))),
      ("interleave_bits/2", ints, interleave_bits(Seq(x, y), 21), morton(Seq(x, y), 21)),
      ("interleave_bits/3", ints, interleave_bits(Seq(x, y, w), 9), morton(Seq(x, y, w), 9)))
    // doubles compare by bits, so NaN equals NaN and -0.0 differs from 0.0
    def key(v: Any): Any = v match {
      case d: java.lang.Double => java.lang.Double.doubleToLongBits(d)
      case o => o
    }
    def run(df: org.apache.spark.sql.DataFrame, c: Column): Map[Long, Any] =
      df.select(col("id"), c).collect().map(r => r.getLong(0) -> key(r.get(1))).toMap
    val excluded = "spark.sql.optimizer.excludedRules"
    spark.conf.set(excluded, "org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation")
    try {
      modes.foreach { conf =>
        val mode = conf("spark.sql.codegen.factoryMode")
        conf.foreach { case (k, v) => spark.conf.set(k, v) }
        try {
          cases.foreach { case (name, df, kernel, ref) =>
            val got = run(df, kernel)
            val want = run(df, ref)
            assert(got.size === df.count())
            val diff = got.keys.toSeq.sorted.filter(id => got(id) != want(id))
            if (diff.nonEmpty) fail(s"$name under $mode: ${diff.size} rows differ, e.g. " +
              diff.take(5).map(id => s"id $id: ${got(id)} vs reference ${want(id)}").mkString(", "))
          }
          val mismatch = intercept[Exception](
            vecs.filter(size(a) =!= size(b)).select(cosine_sim(a, b)).collect())
          assert(Iterator.iterate[Throwable](mismatch)(_.getCause).takeWhile(_ != null)
            .exists(e => String.valueOf(e.getMessage).contains("cosine_sim: dimension mismatch")),
            s"cosine_sim under $mode: $mismatch")
        } finally conf.keys.foreach(spark.conf.unset)
      }
    } finally spark.conf.unset(excluded)
  }

  test("pca_project matches the HOF projection (normal, wrong-length, null-element rows)") {
    import graft.operators.PcaWhiten
    val d = 8
    val model = PcaWhiten.Model(
      means = Array.tabulate(d)(i => (det(i, 61) % 100).toDouble / 50.0),
      eigvals = Array.tabulate(d)(i => (det(i, 62) % 100).toDouble / 10.0 + 0.1),
      components = Array.tabulate(d)(r =>
        Array.tabulate(d)(i => (det(r * d + i, 63) % 200).toDouble / 100.0 - 1.0)))
    val rows = (0L until 100L).map { r =>
      val n = if (r % 13 == 0) d - 1 else if (r % 17 == 0) d + 2 else d
      (r, (0 until n).map { i =>
        val v = det(r * 19 + i, 64)
        if (r % 23 == 0 && i == 2) null
        else java.lang.Double.valueOf((v % 400).toDouble / 100.0 - 2.0)
      })
    }
    val df = rows.toDF("id", "emb")
    val both = PcaWhiten.projectHof(
      PcaWhiten.project(df, "emb", model, dest = "w_nat"),
      "emb", model, dest = "w_hof")
      .select(col("id"), to_json(col("w_nat")).as("n"), to_json(col("w_hof")).as("h"))
    assert(both.filter(!(col("n") <=> col("h"))).count() === 0,
      "pca_project diverged from the HOF projection")
  }

  test("winnow_select matches the HOF window-min fold (ties, n < w, duplicate hashes)") {
    import graft.operators.Winnowing
    // hash streams with FORCED ties (small modulus) and lengths 1..14
    // straddling the window size
    val rows = (0L until 80L).map { r =>
      val n = (det(r, 21) % 14 + 14) % 14 + 1
      (r, (0 until n.toInt).map(i => (det(r * 31 + i, 22) % 7 + 7) % 7))
    }
    val df = rows.toDF("id", "grams")
    Seq(1, 3, 4, 8).foreach { w =>
      val both = df
        .withColumn("nat", graft.functions.functions.winnow_select(col("grams"), w))
        .withColumn("hof", Winnowing.selectHof(col("grams"), w))
        .select(col("id"),
          to_json(col("nat")).as("nat"), to_json(col("hof")).as("hof"))
      assert(both.filter(col("nat") =!= col("hof")).count() === 0,
        s"winnow_select diverged from the HOF fold at w=$w")
    }
  }
}
