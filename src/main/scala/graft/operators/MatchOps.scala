package graft.operators

import graft.Mapper
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Aho–Corasick multi-pattern substring matching (Aho & Corasick 1975).
  *
  * [[Blocklist]] covers word-SET probes (`arrays_overlap` on a tokenized
  * column); real blocklists (UT1, LDNOOBW) are substring PHRASES — "how
  * to make a", multi-word slurs, URL fragments — where per-pattern
  * `contains` scans cost O(|patterns| · |text|) and explode at web scale.
  * The automaton matches ALL k patterns in one O(|text| + matches) pass:
  * a trie over the patterns with BFS failure links (longest proper
  * suffix that is also a trie prefix), outputs merged through the links
  * so overlapping and nested hits ("he" inside "the") all fire.
  *
  * Scale shape: the automaton is built ONCE on the driver (O(Σ|pattern|)
  * nodes) and ships to executors inside the UDF closure — a broadcast
  * probe structure, the same pattern as the decontamination n-gram set.
  * The corpus is scanned row-locally: no shuffle, no per-pattern pass,
  * text never leaves its partition. The irreducible-UDF boundary is the
  * same one the tokenizers occupy (SURVEY §4).
  */
final class AhoCorasick private (
    next: Array[Map[Char, Int]],
    fail: Array[Int],
    out: Array[Array[Int]],
    val patterns: Array[String]
) extends Serializable {

  @inline private def step(state0: Int, c: Char): Int = {
    var s = state0
    while (s != 0 && !next(s).contains(c)) s = fail(s)
    next(s).getOrElse(c, 0)
  }

  /** Distinct indices of patterns occurring in `text`, ascending. */
  def findAll(text: String): Array[Int] = {
    if (text == null) return Array.empty
    val hits = new java.util.TreeSet[Int]()
    var s = 0
    var i = 0
    while (i < text.length) {
      s = step(s, text.charAt(i))
      val o = out(s)
      var j = 0
      while (j < o.length) { hits.add(o(j)); j += 1 }
      i += 1
    }
    val res = new Array[Int](hits.size)
    val it = hits.iterator()
    var k = 0
    while (it.hasNext) { res(k) = it.next(); k += 1 }
    res
  }

  /** All pattern occurrences as (patternIdx, start, endExclusive),
    * ordered by position — including nested and overlapping hits. */
  def findMatches(text: String): Array[(Int, Int, Int)] = {
    if (text == null) return Array.empty
    val out0 = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Int)]
    var s = 0
    var i = 0
    while (i < text.length) {
      s = step(s, text.charAt(i))
      val o = out(s)
      var j = 0
      while (j < o.length) {
        val p = o(j)
        out0 += ((p, i + 1 - patterns(p).length, i + 1))
        j += 1
      }
      i += 1
    }
    out0.toArray
  }

  /** Replace every leftmost-longest non-overlapping occurrence with
    * `replacement` — the semantics of a global regex substitution whose
    * alternation lists patterns longest-first (at each position the
    * longest match wins; scanning resumes after it). */
  def replaceAll(text: String, replacement: String): String =
    replaceVia(text, text, replacement)

  /** Match against `matchText` but splice `srcText` — the case-folded
    * matching leg ([[PhraseReplace]]): both strings must be
    * length-aligned (per-char folding preserves length). */
  def replaceVia(matchText: String, srcText: String, replacement: String): String = {
    if (matchText == null || srcText == null) return srcText
    // longest match per start position
    val byStart = new java.util.HashMap[Int, Int]() // start -> end
    findMatches(matchText).foreach { case (_, st, en) =>
      if (en > byStart.getOrDefault(st, -1)) byStart.put(st, en)
    }
    if (byStart.isEmpty) return srcText
    val sb = new java.lang.StringBuilder(srcText.length)
    var i = 0
    while (i < srcText.length) {
      val en = byStart.getOrDefault(i, -1)
      if (en > i) { sb.append(replacement); i = en }
      else { sb.append(srcText.charAt(i)); i += 1 }
    }
    sb.toString
  }

  def matches(text: String): Boolean = {
    if (text == null) return false
    var s = 0
    var i = 0
    while (i < text.length) {
      s = step(s, text.charAt(i))
      if (out(s).nonEmpty) return true
      i += 1
    }
    false
  }
}

object AhoCorasick {

  def build(patterns: Seq[String]): AhoCorasick = {
    require(patterns.nonEmpty && patterns.forall(_.nonEmpty),
      "AhoCorasick needs non-empty patterns")
    val next = scala.collection.mutable.ArrayBuffer(Map.empty[Char, Int])
    val outB = scala.collection.mutable.ArrayBuffer(List.empty[Int])
    patterns.zipWithIndex.foreach { case (p, pi) =>
      var s = 0
      p.foreach { c =>
        next(s).get(c) match {
          case Some(t) => s = t
          case None =>
            next += Map.empty
            outB += Nil
            next(s) = next(s) + (c -> (next.length - 1))
            s = next.length - 1
        }
      }
      outB(s) = pi :: outB(s)
    }
    val fail = new Array[Int](next.length)
    val queue = scala.collection.mutable.Queue.empty[Int]
    next(0).valuesIterator.foreach(queue.enqueue)
    while (queue.nonEmpty) {
      val u = queue.dequeue()
      next(u).foreach { case (c, v) =>
        var f = fail(u)
        while (f != 0 && !next(f).contains(c)) f = fail(f)
        fail(v) = if (next(f).getOrElse(c, 0) != v) next(f).getOrElse(c, 0) else 0
        outB(v) = outB(v) ++ outB(fail(v))
        queue.enqueue(v)
      }
    }
    new AhoCorasick(next.toArray, fail, outB.map(_.distinct.sorted.toArray).toArray,
      patterns.toArray)
  }
}

/** Exact Levenshtein-≤1 pairing via deletion-neighborhood blocking
  * (the SymSpell/Norvig construction): any two strings within edit
  * distance 1 share at least one member of {s} ∪ {s minus one char} —
  * substitutions share the deletion at the edited position, insertions
  * share the shorter string itself — so candidates come from an
  * equi-join on variant keys and each is verified by the native
  * `levenshtein` expression. Recall is exact (a set identity, not a
  * probability), like the simhash pigeonhole bound.
  *
  * Scale shape: |s|+1 variant rows per string through one keyed
  * shuffle; built for SHORT keys (titles, URLs, handles — the fields
  * edit-distance dedup is for). Long documents belong to the
  * minhash/simhash family, where the shuffle carries signatures, not
  * text. All native HOFs + one join; no UDF. */
object EditDistanceDedup {

  private def variants(s: Column): Column = {
    val dels = transform(
      sequence(lit(0), length(s) - 1),
      i => concat(s.substr(lit(1), i), s.substr(i + 2, length(s))))
    concat(array(s), when(length(s) > 0, dels)
      .otherwise(array().cast("array<string>")))
  }

  /** Pairs (id_a, id_b, dist) with dist = levenshtein ≤ 1. */
  def pairs(df: DataFrame, idField: String, strField: String): DataFrame = {
    val keyed = df
      .select(col(idField).as("__ed_id"), col(strField).as("__ed_s"))
      .withColumn("__ed_v", explode(variants(col("__ed_s"))))
    keyed.as("a")
      .join(keyed.as("b"),
        col("a.__ed_v") === col("b.__ed_v") &&
          col("a.__ed_id") < col("b.__ed_id"))
      .select(
        col("a.__ed_id").as("id_a"),
        col("b.__ed_id").as("id_b"),
        levenshtein(col("a.__ed_s"), col("b.__ed_s"))
          .cast("long").as("dist"))
      .filter(col("dist") <= 1)
      .distinct()
  }
}

/** Apply an [[AhoCorasick]] phrase blocklist to a TEXT column: adds
  * `phrase_hit` + `phrase_hits` (matched patterns, sorted distinct —
  * the "why was this dropped" audit column); `keepOnly` drops flagged
  * docs (the C4/UT1 behavior). One linear pass per row regardless of
  * blocklist size; narrow, zero shuffle. */
final case class PhraseBlocklist(
    blocked: Seq[String],
    textField: String = "text",
    caseFold: Boolean = true,
    keepOnly: Boolean = false
) extends Mapper {
  override def inputFields: Seq[String] = Seq(textField)
  override def outputFields: Seq[String] = Seq("phrase_hit", "phrase_hits")
  override protected def build(df: DataFrame): DataFrame = {
    // per-char Character.toLowerCase, matching PhraseReplace: locale-
    // independent (String.toLowerCase is locale-sensitive — Turkish
    // dotless-i would change match results across JVM default locales)
    val pats = if (caseFold) blocked.map(_.map(Character.toLowerCase)) else blocked
    val ac = AhoCorasick.build(pats)
    val fold = caseFold
    val hitsUdf = udf { (text: String) =>
      val t = if (text == null) null else if (fold) text.map(Character.toLowerCase) else text
      ac.findAll(t).map(ac.patterns(_)).sorted
    }
    val out = df
      .withColumn("phrase_hits", hitsUdf(col(textField)))
      .withColumn("phrase_hit", size(col("phrase_hits")) > 0)
    if (keepOnly) out.filter(!col("phrase_hit")) else out
  }
}

/** Replace every leftmost-longest non-overlapping phrase occurrence
  * with `replacement` — AC-automaton redaction (phrase-level PII /
  * boilerplate scrubbing) with the semantics of a global regex
  * substitution whose alternation lists patterns longest-first, at
  * O(text+matches) per row for ANY pattern-list size. `caseFold`
  * matches case-insensitively via per-char folding (length-preserving)
  * while splicing the ORIGINAL text around each hit. */
final case class PhraseReplace(
    patterns: Seq[String],
    replacement: String = "[REDACTED]",
    textField: String = "text",
    caseFold: Boolean = false,
    outputField: Option[String] = None
) extends Mapper {
  private def dest = outputField.getOrElse(textField)
  override def inputFields: Seq[String] = Seq(textField)
  override def outputFields: Seq[String] = Seq(dest)
  override protected def build(df: DataFrame): DataFrame = {
    val pats =
      if (caseFold) patterns.map(_.map(Character.toLowerCase)) else patterns
    val ac = AhoCorasick.build(pats)
    val fold = caseFold
    val repl = replacement
    val f = udf { (text: String) =>
      if (text == null) null
      else if (fold) ac.replaceVia(text.map(Character.toLowerCase), text, repl)
      else ac.replaceAll(text, repl)
    }
    df.withColumn(dest, f(col(textField)))
  }
}

/** Prefix-filtered EXACT similarity join (Bayardo, Ma & Srikant 2007,
  * "Scaling Up All Pairs Similarity Search"; the PPJoin prefix-filter
  * principle): two token SETS with Jaccard >= t MUST share at least one
  * of each other's first p = |s| - ceil(t*|s|) + 1 tokens when every
  * document orders its tokens the same way — so candidates come from an
  * inverted-index equi-join on PREFIX tokens only, and recall is a SET
  * IDENTITY, not a probability. This is the exact-threshold complement
  * to [[MinHashLSH.candidatePairs]] (probabilistic banding, tunable
  * S-curve) and [[MinHashLSH.containmentPairs]] (containment): when the
  * contract is "every pair above t, provably", this is the operator.
  *
  * Rarest-first order: each document's distinct tokens sort by
  * ascending document frequency (df), ties by token, so a prefix
  * carries the document's rarest tokens and hot boilerplate words never
  * generate candidates. Deterministic end to end (integral ceil,
  * (df, token) struct sort, scaled-integral Jaccard), so a SQL oracle
  * replays candidates AND survivors exactly.
  *
  * df ≥ 2 postings: the same order makes most prefix tokens occur in
  * ONE document (df = 1). Such a posting has a single member, so
  * neither leg can pair it — the capped leg's `pair_combos` over one
  * kept id emits nothing, and neither does the `a.id < b.id`
  * self-join. The prefix explode therefore skips df = 1 tokens; the
  * prefix LENGTH p still counts them, and the verify legs still see
  * every token, so candidates, survivors and `jaccard_ppm` are
  * identical to indexing the whole prefix.
  *
  * Scale shape: df is attached by ONE window partitioned by the token
  * over the exploded (id, token) rows — every row must reach a
  * df-annotated output keyed by token, so a map-side partial combine
  * would save nothing, and the window's per-token buffer spills. Then
  * one (id, token) re-aggregation into ordered arrays, a prefix explode
  * of <= p df ≥ 2 rows/doc, the inverted-index equi-join on the prefix
  * token, and a row-local verify on the two candidate arrays — token
  * arrays shuffle only for candidate pairs.
  *
  * `maxPrefixDf` is the deterministic hot-postings cap — the
  * [[MinHashLSH.candidatePairs]] `maxBucketSize` discipline applied to
  * the inverted index: a prefix token kept by more than `cap` documents
  * retains only the `cap` members ranked first by a salted hash (ties
  * by id), bounding every posting list's candidate contribution at
  * cap² and making total candidate work LINEAR in the corpus. The
  * trade is documented partial recall on pairs whose ENTIRE shared
  * prefix is hyper-hot tokens (survivors are still exact — the verify
  * stage never admits a false positive); when no posting list exceeds
  * the cap, capped ≡ uncapped, a set identity. The uncapped leg
  * remains the exact audit. `hasher` is the cap's rank order
  * (production xxhash64; pass an md5-prefix for engine-replayable
  * oracles, the [[Medoid]]/[[DeterministicSample]] portable twin). */
object PrefixFilterJoin {
  import graft.functions.functions.integral_divide
  import org.apache.spark.sql.expressions.Window

  /** All pairs (id_a < id_b) with set-Jaccard >= minJaccardPpm/1e6:
    * (id_a, id_b, jaccard_ppm). */
  def pairs(
      df: DataFrame,
      idField: String,
      tokensField: String,
      minJaccardPpm: Long,
      maxPrefixDf: Option[Int] = None,
      hasher: Column => Column = c => xxhash64(c)
  ): DataFrame = {
    require(minJaccardPpm >= 1 && minJaccardPpm <= 1000000L,
      s"threshold must be in (0, 1e6], got $minJaccardPpm")
    require(maxPrefixDf.forall(_ >= 2),
      s"maxPrefixDf must be >= 2 (a 1-doc posting pairs nothing), got $maxPrefixDf")
    // one ordered-token build feeds the prefix and both verify legs
    Postings.shared("pairs",
        orderedTokens(df, idField, tokensField, minJaccardPpm)) { ordered =>
      val prefAll = ordered.select(col("__pf_id"), explode(col("ptoks")).as("ptok"))
      // the rank hash is salted with the token so a hot document is not
      // the one dropped from every capped posting
      val cand = Postings.candidatePairs(prefAll, Seq("ptok"), "__pf_id",
        hasher(concat_ws("|", col("__pf_id"), col("ptok"))), maxPrefixDf)
        .distinct()
      val sets = ordered.select(col("__pf_id"), col("toks"))
      Postings.verify(cand, sets, sets, Postings.JaccardPpm(minJaccardPpm))
    }
  }

  /** One row per document: `toks`, its distinct non-null tokens in
    * rarest-first order, and `ptoks`, the df ≥ 2 tokens of its first
    * p = |toks| - ceil(t·|toks|) + 1 (see the object doc). Documents
    * with no token are absent. */
  private[graft] def orderedTokens(
      df: DataFrame,
      idField: String,
      tokensField: String,
      minJaccardPpm: Long
  ): DataFrame = {
    val st = col("__st")
    val n = size(st)
    val p = n - integral_divide(
      lit(minJaccardPpm) * n.cast("long") + lit(999999L), lit(1000000L))
      .cast("int") + 1
    df.select(col(idField).as("__pf_id"),
        explode(array_distinct(col(tokensField))).as("tok"))
      .filter(col("tok").isNotNull)
      .withColumn("df", count(lit(1)).over(Window.partitionBy("tok")))
      .groupBy("__pf_id")
      .agg(sort_array(collect_list(struct(col("df"), col("tok")))).as("__st"))
      .select(col("__pf_id"),
        transform(st, s => s.getField("tok")).as("toks"),
        transform(filter(slice(st, lit(1), p), s => s.getField("df") >= 2),
          s => s.getField("tok")).as("ptoks"))
  }
}

/** Sorted-neighborhood blocking (Hernández & Stolfo 1995, "The
  * Merge/Purge Problem for Large Databases"): sort the corpus by a
  * domain sort key and pair every record with its neighbors within a
  * fixed WINDOW of the global sort order. The classic entity-resolution
  * blocking complement to the similarity-keyed families here —
  * LSH banding ([[MinHashLSH]]) needs set overlap, the deletion
  * neighborhood ([[EditDistanceDedup]]) needs dist ≤ 1, the prefix
  * filter ([[PrefixFilterJoin]]) needs a Jaccard threshold; SNM needs
  * only that near-duplicates sort NEAR each other under some key
  * (title prefix, normalized name, URL path), and its candidate count
  * is exactly `n·(w-1) - w·(w-1)/2` — linear in the corpus by
  * construction, whatever the data's duplicate structure.
  *
  * Scale shape — a global sort without a global window: (1) rows get a
  * LOCAL rank from a window PARTITIONED by a monotone coarse bucket of
  * the key (first chars by default); (2) per-bucket counts — O(#buckets)
  * rows — come to the driver, whose exclusive prefix sum re-enters the
  * plan as a broadcast offsets table (the PackSequences two-level
  * prefix-sum discipline: only bucket sizes ever cross partitions);
  * (3) global rank = bucket offset + local rank; (4) each row lands in
  * band `rank div w` AND the band before it, so every pair within rank
  * distance < w shares a band and candidates come from a band-keyed
  * equi-join with bounded (≈2w) bucket width. No unpartitioned window,
  * no sort of the full corpus on one node, band keys are dense 8-byte
  * integers. Bucket ORDER is established by each bucket's MIN key via
  * Spark's own ordering, so a monotone-but-gappy bucket function stays
  * correct. */
object SortedNeighborhood {
  import graft.functions.functions.integral_divide
  import org.apache.spark.sql.expressions.Window
  import org.apache.spark.sql.types.{LongType, StringType}

  /** Pairs `(id_a, id_b, gap)` for all records within rank distance
    * `[1, window)` of each other in the `(key, id)` sort order; `id_a`
    * is the earlier record. Null keys are dropped (they have no sort
    * position). `bucket` must be monotone non-decreasing in the key
    * (equal keys → equal buckets, k1 < k2 → b(k1) <= b(k2)); it is
    * cast to string for the offsets hand-off. */
  def pairs(
      df: DataFrame,
      idField: String,
      keyField: String,
      window: Int,
      bucket: Column => Column = k => substring(k, 1, 2)
  ): DataFrame = {
    require(window >= 2, s"window must be >= 2, got $window")
    val spark = df.sparkSession
    import spark.implicits._
    val keyed = df
      .filter(col(keyField).isNotNull)
      .select(col(idField).as("__sn_id"), col(keyField).as("__sn_k"))
      .withColumn("__sn_b", bucket(col("__sn_k")).cast(StringType))
    val localRank = row_number()
      .over(Window.partitionBy(col("__sn_b")).orderBy(col("__sn_k"), col("__sn_id")))
      .cast(LongType) - 1L
    Postings.shared("neighborhood", keyed.withColumn("__sn_r", localRank)) { local =>
      // O(#buckets) driver state: sizes ordered by each bucket's min key
      // (Spark's ordering, not the driver's collation) -> prefix offsets.
      val sizes = local
        .groupBy(col("__sn_b"))
        .agg(count(lit(1)).as("__sn_n"), min(col("__sn_k")).as("__sn_min"))
        .orderBy(col("__sn_min"), col("__sn_b"))
        .select(col("__sn_b"), col("__sn_n"))
        .collect()
      var acc = 0L
      val offsets = sizes.map { r =>
        val o = (r.getString(0), acc); acc += r.getLong(1); o
      }.toSeq
      val offDf = offsets.toDF("__sn_b", "__sn_off")
      val w = lit(window.toLong)
      val banded = local
        .join(broadcast(offDf), "__sn_b")
        .select(
          col("__sn_id"),
          (col("__sn_r") + col("__sn_off")).as("__sn_g"))
        .select(
          col("__sn_id"),
          col("__sn_g"),
          explode(
            array_distinct(
              array(
                integral_divide(col("__sn_g"), w),
                integral_divide(col("__sn_g"), w) - 1L))).as("__sn_band"))
        .filter(col("__sn_band") >= 0L)
      banded.as("a")
        .join(
          banded.as("b"),
          col("a.__sn_band") === col("b.__sn_band") &&
            col("b.__sn_g") > col("a.__sn_g") &&
            col("b.__sn_g") - col("a.__sn_g") < w)
        .select(
          col("a.__sn_id").as("id_a"),
          col("b.__sn_id").as("id_b"),
          (col("b.__sn_g") - col("a.__sn_g")).as("gap"))
        .distinct()
    }
  }
}

/** Fellegi–Sunter probabilistic record-linkage scoring (Fellegi &
  * Sunter 1969, "A Theory for Record Linkage") — the decision layer on
  * top of the blocking operators ([[SortedNeighborhood]],
  * [[EditDistanceDedup]]'s deletion neighborhoods, LSH buckets): each
  * candidate pair gets a log-odds score summing per-field agreement
  * weights log2(m/u) / disagreement weights log2((1-m)/(1-u)), where m
  * is the field's agreement probability among true matches and u among
  * non-matches. Scores above an upper threshold auto-link, below a
  * lower threshold auto-reject, between them go to clerical review —
  * the three-way split that bounds BOTH error rates.
  *
  * Engine parity: the logs are evaluated ONCE on the driver and
  * folded into per-field integer milli-weights (the m/u estimates are
  * configuration, not data), so the pair scoring itself is pure
  * integer addition over codegen'd `when` branches — exact in any
  * engine, no floating point in the distributed path.
  *
  * Scale shape: a narrow projection over the (already-blocked) pair
  * table — no shuffle, no state; cost is proportional to candidate
  * pairs, which blocking already bounded. */
object RecordLinkage {

  /** Per-field match evidence: `agree` is any boolean Column over the
    * pair row (exact equality, normalized equality, edit-distance
    * bound...); `mPpm`/`uPpm` are the field's agreement rates (ppm)
    * among matches / non-matches. */
  final case class Field(agree: Column, mPpm: Long, uPpm: Long) {
    require(mPpm > 0 && mPpm < 1000000L, s"mPpm out of (0,1e6): $mPpm")
    require(uPpm > 0 && uPpm < 1000000L, s"uPpm out of (0,1e6): $uPpm")
    require(mPpm > uPpm, s"a discriminating field needs m > u ($mPpm <= $uPpm)")
  }

  /** Driver-side weight fold: (agreement, disagreement) log2-odds in
    * milli-units. */
  def weights(mPpm: Long, uPpm: Long, scale: Long = 1000L): (Long, Long) = {
    val log2 = math.log(2.0)
    val m = mPpm / 1e6
    val u = uPpm / 1e6
    (math.round(math.log(m / u) / log2 * scale),
      math.round(math.log((1 - m) / (1 - u)) / log2 * scale))
  }

  /** Append `outputField`: the summed milli-weight log-odds score. */
  def score(
      pairs: DataFrame,
      fields: Seq[Field],
      outputField: String = "fs_score_milli",
      scale: Long = 1000L
  ): DataFrame = {
    require(fields.nonEmpty, "record linkage needs at least one field")
    val terms = fields.map { f =>
      val (aw, dw) = weights(f.mPpm, f.uPpm, scale)
      when(f.agree, lit(aw)).otherwise(lit(dw))
    }
    pairs.withColumn(outputField, terms.reduce(_ + _))
  }

  /** Three-way Fellegi–Sunter decision: match / review / nonmatch. */
  def classify(
      scored: DataFrame,
      scoreField: String = "fs_score_milli",
      upperMilli: Long = 3000L,
      lowerMilli: Long = 0L,
      outputField: String = "fs_class"
  ): DataFrame = {
    require(upperMilli >= lowerMilli, "upper threshold below lower")
    scored.withColumn(
      outputField,
      when(col(scoreField) >= upperMilli, lit("match"))
        .when(col(scoreField) <= lowerMilli, lit("nonmatch"))
        .otherwise(lit("review")))
  }
}
