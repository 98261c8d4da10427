package graft

import graft.operators._
import org.apache.spark.sql.functions._

class MatchOpsSpec extends SparkSpec {
  import spark.implicits._

  test("AhoCorasick: overlapping, nested, and repeated patterns all fire") {
    val ac = AhoCorasick.build(Seq("he", "she", "his", "hers"))
    // classic AC example: "ushers" contains she, he, hers
    assert(ac.findAll("ushers").toSeq == Seq(0, 1, 3))
    assert(ac.findAll("this").toSeq == Seq(2))
    assert(ac.findAll("xyz").isEmpty)
    assert(ac.findAll(null).isEmpty)
    assert(ac.matches("ahem") && !ac.matches("ham"))
    // a pattern that is a prefix of another still matches alone
    val pre = AhoCorasick.build(Seq("ab", "abcd"))
    assert(pre.findAll("zabz").toSeq == Seq(0))
    assert(pre.findAll("abcd").toSeq == Seq(0, 1))
  }

  test("AhoCorasick agrees with naive contains on random text") {
    val rnd = new scala.util.Random(7)
    val alphabet = "abc"
    def randStr(n: Int) =
      (0 until n).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
    val patterns = (0 until 12).map(_ => randStr(1 + rnd.nextInt(4))).distinct
    val ac = AhoCorasick.build(patterns)
    (0 until 200).foreach { _ =>
      val t = randStr(rnd.nextInt(40))
      val naive = patterns.zipWithIndex.collect {
        case (p, i) if t.contains(p) => i
      }
      assert(ac.findAll(t).toSeq == naive, s"text=$t patterns=$patterns")
    }
  }

  test("PhraseBlocklist: audit column, case folding, keepOnly") {
    val df = Seq(
      (1L, "How To Make a bomb"),
      (2L, "a perfectly fine document"),
      (3L, "HOW TO MAKE A cake and how to make a pie")
    ).toDF("id", "text")
    val out = PhraseBlocklist(Seq("how to make a", "bomb"))(df)
      .orderBy("id")
    assert(rows(out.select("id", "phrase_hit", "phrase_hits")) == Seq(
      Seq(1L, true, List("bomb", "how to make a")),
      Seq(2L, false, List()),
      Seq(3L, true, List("how to make a"))
    ))
    val kept = PhraseBlocklist(Seq("how to make a"), keepOnly = true)(df)
    assert(rows(kept.select("id")) == Seq(Seq(2L)))
    // caseFold=false is exact
    val exact = PhraseBlocklist(Seq("How To Make a"), caseFold = false)(df)
    assert(rows(exact.orderBy("id").select("phrase_hit")) ==
      Seq(Seq(true), Seq(false), Seq(false)))
  }

  test("PhraseReplace: leftmost-longest, non-overlapping, case-fold splice") {
    val ac = AhoCorasick.build(Seq("ab", "abc", "bcd", "c"))
    // at position 0 the longest match (abc) wins; scanning resumes past
    // it, so the overlapping bcd never fires; the later lone c does
    assert(ac.replaceAll("abcdc", "_") == "_d_")
    assert(ac.replaceAll("zabz", "_") == "z_z")
    assert(ac.replaceAll("xyz", "_") == "xyz")
    // repeated adjacent matches
    assert(ac.replaceAll("ababab", "_") == "___")
    val df = Seq((1L, "Call Fast Table service fastest")).toDF("id", "text")
    val out = PhraseReplace(Seq("fast table", "fast"), "[X]",
      caseFold = true)(df)
    // fold matches "Fast Table" as one longest hit; "fastest" has the
    // embedded "fast" replaced, original casing kept elsewhere
    assert(rows(out.select("text")) == Seq(Seq("Call [X] service [X]est")))
    // null-safe
    val nulls = Seq((1L, null: String)).toDF("id", "text")
    assert(rows(PhraseReplace(Seq("x"))(nulls).select("text")) ==
      Seq(Seq(null)))
  }

  test("EditDistanceDedup: exact lev<=1 pairs from deletion blocking") {
    val df = Seq(
      (1L, "kitten"), (2L, "kitte"),  // deletion
      (3L, "kittex"),                 // substitution vs 1
      (4L, "xkitten"),                // insertion vs 1
      (5L, "sitting"),                // far away
      (6L, "")                        // empty: within 1 of 1-char strings
    ).toDF("id", "s")
    val got = rows(EditDistanceDedup.pairs(df, "id", "s")
      .orderBy("id_a", "id_b").select("id_a", "id_b", "dist"))
    assert(got == Seq(
      Seq(1L, 2L, 1L), Seq(1L, 3L, 1L), Seq(1L, 4L, 1L),
      Seq(2L, 3L, 1L)))
    // exactness: agrees with the naive all-pairs filter
    val vals = Seq("abc", "abd", "ab", "abcd", "xyz", "x", "")
      .zipWithIndex.map { case (s, i) => (i.toLong, s) }
    val d2 = vals.toDF("id", "s")
    val naive = (for {
      (ia, sa) <- vals; (ib, sb) <- vals if ia < ib
      if lev(sa, sb) <= 1
    } yield (ia, ib)).toSet
    val blocked = EditDistanceDedup.pairs(d2, "id", "s")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(blocked == naive, s"blocked=$blocked naive=$naive")
  }

  private def lev(a: String, b: String): Int = {
    val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) =>
      if (i == 0) j else if (j == 0) i else 0)
    for (i <- 1 to a.length; j <- 1 to b.length)
      d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
        d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
    d(a.length)(b.length)
  }

  test("PrefixFilterJoin: identical pair set to naive all-pairs (exact recall)") {
    // token sets with controlled overlaps, including a pair exactly AT
    // the threshold and one just under it
    val rows = Seq(
      (1L, Seq("a", "b", "c", "d")),
      (2L, Seq("a", "b", "c", "e")),      // J(1,2) = 3/5 = 0.6
      (3L, Seq("a", "b", "c", "d")),      // J(1,3) = 1.0
      (4L, Seq("x", "y", "z")),           // disjoint from 1-3
      (5L, Seq("x", "y", "z", "w", "v")), // J(4,5) = 3/5 = 0.6
      (6L, Seq("a", "q", "r", "s", "t")), // J(1,6) = 1/8 < t
      (7L, Seq("b", "b", "c", "d", "a"))  // dup token; SET equals doc 1
    ).toDF("id", "toks")
    val t = 600000L
    val got = PrefixFilterJoin.pairs(rows, "id", "toks", t)
      .select($"id_a", $"id_b", $"jaccard_ppm").as[(Long, Long, Long)]
      .collect().toSet
    // naive all-pairs truth over distinct-token sets
    val sets = Seq(
      1L -> Set("a","b","c","d"), 2L -> Set("a","b","c","e"),
      3L -> Set("a","b","c","d"), 4L -> Set("x","y","z"),
      5L -> Set("x","y","z","w","v"), 6L -> Set("a","q","r","s","t"),
      7L -> Set("b","c","d","a"))
    val expect = (for {
      (ia, sa) <- sets; (ib, sb) <- sets if ia < ib
      inter = (sa intersect sb).size
      ppm = 1000000L * inter / (sa.size + sb.size - inter)
      if ppm >= t
    } yield (ia, ib, ppm)).toSet
    assert(got == expect, s"got=$got expect=$expect")
    // the at-threshold pairs (0.6 exactly) are present — >= not >
    assert(got.exists(p => p._1 == 1L && p._2 == 2L))
    assert(got.exists(p => p._1 == 4L && p._2 == 5L))
  }

  test("PrefixFilterJoin: rarest-first prefixes skip hot-token candidates") {
    // every doc shares the hot token "the"; only 1-2 truly overlap
    val rows = (1L to 30L).map(i =>
      (i, Seq("the", s"u$i", s"v$i", s"w$i"))) ++
      Seq((31L, Seq("the", "u1", "v1", "w1")))
    val df = rows.toDF("id", "toks")
    val got = PrefixFilterJoin.pairs(df, "id", "toks", 800000L)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    // only (1, 31) survives: J = 4/4 = 1.0; everything else pairs
    // solely through "the" (J = 1/7) and "the" never enters a prefix
    assert(got == Set((1L, 31L)), got)
  }

  test("PrefixFilterJoin: maxPrefixDf is a NO-OP when no posting list " +
    "exceeds it (capped == uncapped, both hashers), and it bounds the " +
    "prefix index when it bites — survivors still exact") {
    val rows = Seq(
      (1L, Seq("a", "b", "c", "d")),
      (2L, Seq("a", "b", "c", "e")),
      (3L, Seq("a", "b", "c", "d")),
      (4L, Seq("x", "y", "z")),
      (5L, Seq("x", "y", "z", "w", "v"))
    ).toDF("id", "toks")
    val t = 600000L
    def pairSet(d: org.apache.spark.sql.DataFrame) =
      d.select($"id_a", $"id_b", $"jaccard_ppm")
        .as[(Long, Long, Long)].collect().toSet
    val un = pairSet(PrefixFilterJoin.pairs(rows, "id", "toks", t))
    // every prefix posting here has <= 3 docs: cap=5 changes nothing
    val capX = pairSet(PrefixFilterJoin.pairs(rows, "id", "toks", t,
      maxPrefixDf = Some(5)))
    val capM = pairSet(PrefixFilterJoin.pairs(rows, "id", "toks", t,
      maxPrefixDf = Some(5), hasher = c => substring(md5(c), 1, 8)))
    assert(capX == un && capM == un)
    // a biting cap: 40 docs all sharing one rare-but-identical prefix
    // token. Uncapped candidates = C(40,2) = 780; cap=4 keeps 4
    // postings -> C(4,2) = 6 candidates max. Survivors that DO emerge
    // are exact (verified Jaccard), and every emitted pair is a true
    // >= t pair of the uncapped result.
    val hot = (1L to 40L).map(i => (i, Seq("zz", s"u$i", s"v$i")))
      .toDF("id", "toks")
    val unHot = pairSet(PrefixFilterJoin.pairs(hot, "id", "toks", 300000L))
    val capHot = pairSet(PrefixFilterJoin.pairs(hot, "id", "toks", 300000L,
      maxPrefixDf = Some(4)))
    assert(capHot.subsetOf(unHot), "capped leg invented a pair")
    assert(capHot.size <= 6, s"cap failed to bound candidates: ${capHot.size}")
    // determinism: same cap, same result, any partitioning
    val capHot2 = pairSet(PrefixFilterJoin.pairs(hot.repartition(7),
      "id", "toks", 300000L, maxPrefixDf = Some(4)))
    assert(capHot2 == capHot)
  }

  test("PlanTrace: a job description with '/' still returns pairs and writes the plan") {
    val dir = java.nio.file.Files.createTempDirectory("graft_plantrace")
    // sys.env re-reads System.getenv() on every call; the JVM is started
    // with java.util opened, so the test can set the variable in-process
    val env = {
      val f = System.getenv().getClass.getDeclaredField("m")
      f.setAccessible(true)
      f.get(System.getenv()).asInstanceOf[java.util.Map[String, String]]
    }
    val sc = spark.sparkContext
    env.put("SPARK_GRAFT_PLAN_DIR", dir.toString)
    sc.setJobDescription("a/b")
    try {
      val rows = Seq((1L, Seq("a", "b", "c")), (2L, Seq("a", "b", "c")))
        .toDF("id", "toks")
      val got = PrefixFilterJoin.pairs(rows, "id", "toks", 600000L,
        maxPrefixDf = Some(4))
        .select($"id_a", $"id_b").as[(Long, Long)].collect().toSeq
      assert(got == Seq((1L, 2L)))
      assert(java.nio.file.Files.exists(dir.resolve("a_b__pairs_before.txt")),
        dir.toFile.list().toSeq)
    } finally {
      env.remove("SPARK_GRAFT_PLAN_DIR")
      sc.setJobDescription(null)
    }
  }
}

class SortedNeighborhoodSpec extends SparkSpec {
  import spark.implicits._

  /** Naive definition: global (key, id) sort, all pairs with rank
    * distance in [1, window). */
  private def naive(
      rows: Seq[(Long, String)],
      window: Int): Set[(Long, Long, Long)] = {
    val ranked = rows.sortBy { case (id, k) => (k, id) }.zipWithIndex
    (for {
      (a, ra) <- ranked
      (b, rb) <- ranked
      if rb > ra && rb - ra < window
    } yield (a._1, b._1, (rb - ra).toLong)).toSet
  }

  test("SortedNeighborhood equals the global-sort definition") {
    val rnd = new scala.util.Random(11)
    val rows = (0L until 120L).map { id =>
      // small alphabet -> many shared prefixes, ties, and tiny buckets
      (id, (0 until 1 + rnd.nextInt(6)).map(_ => ('a' + rnd.nextInt(3)).toChar).mkString)
    }
    val df = rows.toDF("id", "k")
    for (w <- Seq(2, 5, 9)) {
      val got = SortedNeighborhood
        .pairs(df, "id", "k", w, bucket = k => substring(k, 1, 1))
        .as[(Long, Long, Long)].collect().toSet
      assert(got == naive(rows, w), s"window=$w")
    }
  }

  test("SortedNeighborhood: cross-bucket windows and null keys") {
    // buckets of size 1 ("a", "b", "c", ...) force every pair across
    // bucket borders; the null-key row must vanish from the output
    val rows = Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d"), (5L, "e"))
    val df = (rows :+ ((6L, null.asInstanceOf[String]))).toDF("id", "k")
    val got = SortedNeighborhood
      .pairs(df, "id", "k", 3, bucket = k => substring(k, 1, 1))
      .as[(Long, Long, Long)].collect().toSet
    assert(got == naive(rows, 3))
    assert(!got.exists(p => p._1 == 6L || p._2 == 6L))
  }

  test("SortedNeighborhood: candidate count is the closed form") {
    // n*(w-1) - w*(w-1)/2 pairs regardless of key distribution
    val rows = (0L until 50L).map(id => (id, s"k${id % 7}"))
    val w = 4
    val got = SortedNeighborhood.pairs(rows.toDF("id", "k"), "id", "k", w)
    assert(got.count() == 50L * (w - 1) - w.toLong * (w - 1) / 2)
  }
}

class RecordLinkageSpec extends SparkSpec {
  import spark.implicits._
  import org.apache.spark.sql.functions._
  import graft.operators.RecordLinkage
  import graft.operators.RecordLinkage.Field

  test("weights: hand-checked log2 odds in milli-units") {
    // m=0.5, u=0.25 -> log2(2)=1 -> 1000; log2(0.5/0.75)=-0.585 -> -585
    assert(RecordLinkage.weights(500000, 250000) == (1000L, -585L))
    // m=0.9, u=0.1 -> log2(9)=3.1699 -> 3170; log2(0.1/0.9) -> -3170
    assert(RecordLinkage.weights(900000, 100000) == (3170L, -3170L))
  }

  test("score sums per-field agreement/disagreement weights; classify splits 3-way") {
    val pairs = Seq(
      (1L, true, true),   // both agree: 1000 + 3170 = 4170 -> match
      (2L, true, false),  // 1000 - 3170 = -2170 -> nonmatch
      (3L, false, true),  // -585 + 3170 = 2585 -> review
      (4L, false, false)  // -585 - 3170 = -3755 -> nonmatch
    ).toDF("id", "a1", "a2")
    val out = RecordLinkage.classify(
      RecordLinkage.score(pairs, Seq(
        Field(col("a1"), 500000, 250000),
        Field(col("a2"), 900000, 100000))),
      upperMilli = 3000, lowerMilli = 0)
      .select("id", "fs_score_milli", "fs_class")
      .as[(Long, Long, String)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(out(1L) == (4170L, "match"))
    assert(out(2L) == (-2170L, "nonmatch"))
    assert(out(3L) == (2585L, "review"))
    assert(out(4L) == (-3755L, "nonmatch"))
  }

  test("non-discriminating or degenerate field configs are rejected") {
    intercept[IllegalArgumentException](Field(lit(true), 300000, 300000))
    intercept[IllegalArgumentException](Field(lit(true), 1000000, 10))
    intercept[IllegalArgumentException](
      RecordLinkage.score(Seq((1L, true)).toDF("id", "a"), Nil))
  }

  test("scoring is a pure projection — no shuffle, no window") {
    val pairs = spark.range(100).select(
      col("id"), (col("id") % 2 === 0).as("a1"), (col("id") % 3 === 0).as("a2"))
    val plan = RecordLinkage.score(pairs, Seq(
      Field(col("a1"), 500000, 250000),
      Field(col("a2"), 900000, 100000))).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange") && !plan.contains("Window"), plan)
  }
}
