package graft.operators

import graft.Mapper
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Large-scale training-data operators: deduplication, similarity search,
  * text analysis. Beyond the reference's surface (SURVEY §2.10 /
  * BASELINE.json north_star) — designed 100-TB-first:
  *
  *   - every op is a pure DataFrame transform, no driver-side state;
  *   - dedup joins happen on *hashes/buckets* (bounded-width shuffle keys),
  *     never on raw text;
  *   - candidate generation (LSH banding) is linear in rows; quadratic
  *     work only ever happens within a bucket;
  *   - `xxhash64` (codegen'd, 8 bytes) is the production hash; the md5
  *     variants in [[graft.Queries]] exist only for cross-engine oracle
  *     parity.
  */

/** Exact dedup: keep one row (smallest `idField`) per distinct VALUE of
  * `byField`. One shuffle on a 64-bit key; no raw-text shuffle — but the
  * hash is only the BUCKETING key, never the identity: within each hash
  * bucket rows are sorted by (value, id) and a row survives iff its value
  * differs from the previous row's, so two distinct texts colliding in
  * xxhash64 (expected at billions of rows by the birthday bound) both
  * keep their min-id survivor instead of one being silently dropped.
  *
  * `bucketHash` is the bucketing function (production default xxhash64);
  * tests override it with a deliberately colliding function to prove the
  * in-bucket equality check carries correctness alone. */
final case class ExactDedup(
    byField: String = "text",
    idField: String = "doc_id",
    bucketHash: Column => Column = c => xxhash64(c)
) extends Mapper {
  override def inputFields: Seq[String] = Seq(byField, idField)
  override protected def build(df: DataFrame): DataFrame = {
    val w = Window
      .partitionBy(bucketHash(col(byField)))
      .orderBy(col(byField), col(idField))
    df.withColumn("__graft_prev", lag(col(byField), 1).over(w))
      .withColumn("__graft_rn", row_number().over(w))
      // a bucket's first row must be kept EXPLICITLY: lag() is NULL there,
      // and if byField itself is NULL the null-safe <=> would call the
      // first row of the NULL run a duplicate of the non-existent previous
      // row and drop the whole run. Later rows survive iff their value
      // differs (null-safely) from the previous row's.
      .filter(col("__graft_rn") === 1 || !(col("__graft_prev") <=> col(byField)))
      .drop("__graft_prev", "__graft_rn")
  }
}

/** Soft (weighted) exact dedup — the SlimPajama-adjacent alternative to
  * dropping copies: KEEP every row and attach the duplicate-group size
  * plus the down-weight `weight_ppm = 1e6 div dup_count`, so an
  * epoch sampler or loss-weighting stage sees each distinct VALUE with
  * total weight ≈ 1 instead of weight ∝ popularity. `is_first` marks
  * the min-id member (what [[ExactDedup]] would have kept) so hard
  * dedup remains a `filter(col("is_first"))` away.
  *
  * Same shuffle discipline as [[ExactDedup]]: the partition key leads
  * with the 64-bit bucket hash (tiny sort keys; value equality decided
  * in-bucket on the value itself, so hash collisions stay correct), the
  * weight is floor-scaled BIGINT (engine-replayable), and there is no
  * join-back — two window functions over one partitioning. */
final case class SoftDedup(
    byField: String = "text",
    idField: String = "doc_id",
    scale: Long = 1000000L,
    bucketHash: Column => Column = c => xxhash64(c)
) extends Mapper {
  override def inputFields: Seq[String] = Seq(byField, idField)
  override def outputFields: Seq[String] =
    Seq("dup_count", "weight_ppm", "is_first")
  override protected def build(df: DataFrame): DataFrame = {
    val w = Window.partitionBy(bucketHash(col(byField)), col(byField))
    df.withColumn("dup_count", count(lit(1)).over(w))
      .withColumn("weight_ppm",
        graft.functions.functions.integral_divide(lit(scale), col("dup_count")))
      .withColumn("is_first", col(idField) === min(col(idField)).over(w))
  }
}

object TextShingles {
  /** Word n-gram shingles of a pre-split `words` column; whole-text
    * fallback below `n` words. r14: ONE native pass
    * ([[graft.functions.WordShinglesExpr]], parity-spec'd against
    * [[shinglesHof]]) — the HOF tree ran interpreted and allocated a
    * sequence array plus a slice per window, and it feeds the map
    * stage of every shingling family (minhash, containment, prefix,
    * novelty, winnowing). */
  def shingles(words: Column, n: Int): Column =
    graft.functions.functions.word_shingles(words, n)

  /** The pre-r14 HOF formulation — parity-spec reference only. */
  private[graft] def shinglesHof(words: Column, n: Int): Column =
    when(
      size(words) >= n,
      transform(
        sequence(lit(1), size(words) - (n - 1)),
        i => concat_ws(" ", slice(words, i, lit(n)))
      )
    ).otherwise(array(concat_ws(" ", words)))
}

/** MinHash signature + LSH banding dedup.
  *
  * sig[j] = min over shingles of xxhash64(shingle, seed=j); the signature
  * is split into `bands` bands of `rowsPerBand`; rows sharing any band
  * hash are duplicate candidates. Pairs are verified with exact Jaccard
  * over shingle sets (only within buckets — the quadratic step is
  * bucket-local).
  *
  * Output: the input plus `minhash_sig`; `candidatePairs` /`dedup` expose
  * the downstream steps.
  */
final case class MinHashSignature(
    wordsField: String,
    shingleSize: Int = 3,
    numHashes: Int = 16,
    outputField: String = "minhash_sig"
) extends Mapper {
  override def inputFields: Seq[String] = Seq(wordsField)
  override def outputFields: Seq[String] = Seq(outputField)
  override protected def build(df: DataFrame): DataFrame =
    df.withColumn(
      "__graft_sh",
      TextShingles.shingles(col(wordsField), shingleSize)
    ).withColumn(
        outputField,
        // native one-pass kernel: one string xxhash64 per shingle + k
        // long chains, vs the HOF formulation's k string re-hashes
        // (bit-identical by MinHashSigExpr's contract; parity pinned in
        // ExpressionSpec)
        graft.functions.functions.minhash_sig(col("__graft_sh"), numHashes)
      )
      .drop("__graft_sh")
}

object MinHashLSH {

  /** Probability that a pair with true Jaccard `s` becomes an LSH
    * candidate under (bands, rowsPerBand) banding — the MMDS §3.4.2
    * S-curve 1 − (1 − s^r)^b. Use to audit recall at a design point. */
  def sCurve(s: Double, bands: Int, rowsPerBand: Int): Double =
    1.0 - math.pow(1.0 - math.pow(s, rowsPerBand.toDouble), bands.toDouble)

  /** Threshold-tuning curve: bucket verified candidate-pair Jaccards
    * into `buckets` equal bins (jac = 1 lands in the top bin) and count
    * each, plus the running `pairs_at_or_above` cumulative — "how many
    * pairs would a threshold of b/buckets merge". The input is the
    * (id_a, id_b, jac) verified-pairs table; output is O(buckets) rows,
    * so the cumulative window is a non-issue at any corpus size. Bucket
    * edges are floor(jac·buckets): IEEE double division + floor round
    * identically in every engine, the same parity class the verify
    * stage already relies on. */
  def jaccardSweep(
      verified: DataFrame,
      jacField: String = "jac",
      buckets: Int = 10
  ): DataFrame = {
    val b = least(floor(col(jacField) * buckets), lit(buckets - 1L))
      .cast(LongType)
    verified
      .groupBy(b.as("bucket"))
      .agg(count(lit(1)).as("n_pairs"))
      .withColumn("pairs_at_or_above",
        sum(col("n_pairs")).over(
          // O(buckets) rows: the window is over the tiny aggregate —
          // the constant-VALUED partition key (non-foldable pmod, see
          // SCALE.md §8) states the single-partition intent explicitly
          Window.partitionBy(pmod(col("bucket"), lit(1)))
            .orderBy(col("bucket").desc)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
  }

  /** Pick the band count whose S-curve threshold (1/b)^(1/r) — the
    * similarity where candidate probability crosses ~½ — sits closest
    * to `targetJaccard`, among divisors of `sigLen`. The standard MMDS
    * tuning rule: too few bands misses true pairs below the knee, too
    * many floods verification with low-similarity candidates. */
  def tuneBands(sigLen: Int, targetJaccard: Double): Int = {
    require(sigLen > 0, "sigLen must be positive")
    require(targetJaccard > 0 && targetJaccard < 1,
      "targetJaccard must be in (0, 1)")
    planBands(sigLen, targetJaccard)._1
  }

  /** One row per (id, band): `(<idAs>, band, bh)`, `bh` the `hasher` of
    * the band's `sigLen / bands` signature elements joined by `|`. */
  private def bandKeys(df: DataFrame, idField: String, idAs: String,
      sigField: String, bands: Int, sigLen: Int,
      hasher: Column => Column): DataFrame = {
    require(sigLen % bands == 0,
      s"sigLen ($sigLen) must be divisible by bands ($bands); a remainder " +
        "would silently drop trailing signature elements from banding")
    val rowsPerBand = sigLen / bands
    df.select(
      col(idField).as(idAs),
      posexplode(transform(sequence(lit(0), lit(bands - 1)), b =>
        hasher(concat_ws("|", slice(col(sigField), b * rowsPerBand + 1,
          lit(rowsPerBand)))))).as(Seq("band", "bh")))
  }

  /** Candidate pairs (idA < idB) from banding a minhash signature column.
    * Linear explode → shuffle on (band, bandHash) → bucket-local join.
    * `sigLen` is the signature's length (`numHashes` of the signature
    * step), passed in so no job probes a row; `bands` must divide it.
    *
    * `maxBucketSize`: the standard LSH skew guard for web-scale corpora.
    * A degenerate band hash (boilerplate pages, empty docs) can put
    * millions of ids in one (band, bh) bucket, turning the bucket-local
    * self-join quadratic on the hot key. Oversized buckets are
    * DOWN-SAMPLED to `cap` members BEFORE the join, ordered by a
    * per-band deterministic hash — so join work is bounded at cap² per
    * bucket, and because each band keeps a *different* subset, members
    * of a hot exact-dup cluster (where every band bucket is oversized)
    * still surface in some band's kept set with probability
    * ≈ 1 − (1 − cap/n)^bands. Recall on such clusters is reduced, not
    * preserved: with n ≫ cap·bands some members pair with nothing and
    * the cluster can fragment; downstream connected-components re-links
    * what does pair. None = exact banding (the oracle-parity default).
    *
    * `hasher`: band-key and down-sample-rank hash over a pre-concatenated
    * string. Production default is codegen'd 8-byte xxhash64; oracle-
    * parity queries pass md5 so DuckDB can replay the identical banding
    * and down-sampling. */
  def candidatePairs(
      df: DataFrame,
      idField: String,
      sigField: String = "minhash_sig",
      bands: Int = 4,
      sigLen: Int = 16,
      maxBucketSize: Option[Int] = None,
      hasher: Column => Column = c => xxhash64(c)
  ): DataFrame = {
    require(df.schema(sigField).dataType.isInstanceOf[ArrayType],
      s"$sigField must be an array")
    val bandedAll = bandKeys(df, idField, "__graft_id", sigField, bands, sigLen, hasher)
    // capped: bounded postings per (band, bucket), ranked by hash(id|band)
    Postings.candidatePairs(bandedAll, Seq("band", "bh"), "__graft_id",
      hasher(concat_ws("|", col("__graft_id"), col("band"))), maxBucketSize)
      .distinct()
  }

  /** Containment pairing — Broder 1997 distinguishes RESEMBLANCE
    * (Jaccard) from CONTAINMENT c(A,B) = |A∩B|/min(|A|,|B|): a document
    * quoted or boilerplate-wrapped inside a larger one has containment
    * ≈ 1 while its Jaccard is |A|/|B|, arbitrarily low — so
    * resemblance-LSH dedup (whose banding probability IS a function of
    * Jaccard) structurally misses exactly these pairs. Candidates here
    * come from RARE-shingle blocking instead: two docs are compared
    * when they share a shingle whose corpus document-frequency is in
    * [2, maxShingleDf] — contained copies share many rare shingles
    * (hot boilerplate shingles are excluded by the cap, which also
    * bounds every block's join work at maxShingleDf²).
    *
    * Scale shape: shingle df table is one partial-agg groupBy on
    * xxhash64(shingle); the block join shuffles (hash, id) pairs;
    * exact verification ([[Postings.verify]]) joins shingle sets back
    * for candidate ids only. The containment score is a scaled integral
    * division, engine-replayable. */
  def containmentPairs(
      df: DataFrame,
      wordsField: String,
      idField: String,
      shingleSize: Int = 3,
      maxShingleDf: Long = 5L,
      minContainment: Double = 0.9,
      scale: Long = 1000000L
  ): DataFrame = {
    require(maxShingleDf >= 2 && minContainment > 0 && minContainment <= 1)
    // the blocking explode and both verify legs read the shingles
    val shingles = df.select(
      col(idField).as("__ct_id"),
      array_distinct(TextShingles.shingles(col(wordsField), shingleSize))
        .as("__ct_sh"))
    Postings.shared("containment", shingles) { shingled =>
      val exploded = shingled
        .select(col("__ct_id"), explode(col("__ct_sh")).as("__ct_s"))
        .withColumn("__ct_h", xxhash64(col("__ct_s")))
        .drop("__ct_s")
      // one groupBy per shingle hash collects at most maxShingleDf+1 ids:
      // a posting of 2..maxShingleDf members keeps them all, and holding
      // maxShingleDf+1 is the overflow the size filter drops
      val cand = exploded
        .groupBy(col("__ct_h"))
        .agg(graft.functions.functions
          .collect_min_k(col("__ct_id"), maxShingleDf.toInt + 1).as("__ct_ids"))
        .filter(size(col("__ct_ids")) >= 2 &&
          size(col("__ct_ids")) <= maxShingleDf.toInt)
        .transform(Postings.pairsOf(col("__ct_ids")))
        .distinct()
      Postings.verify(cand, shingled, shingled,
        Postings.ContainmentScaled(scale, minContainment))
    }
  }

  /** The exact-verified near-dup pairs behind [[dedup]] and the cluster
    * variants: signature → uncapped banding → join both sides' distinct
    * shingle sets → keep `(id_a, id_b)` with Jaccard ≥ `minJaccard`. A
    * document with an empty or null words array matches nothing, as in
    * [[nearDupAgainst]] (its one shingle "" would make any two such
    * documents duplicates). */
  private def verifiedPairs(
      df: DataFrame,
      wordsField: String,
      idField: String,
      shingleSize: Int,
      numHashes: Int,
      bands: Int,
      minJaccard: Double
  ): DataFrame = {
    val worded = df.filter(size(col(wordsField)) > 0)
    val withSig = MinHashSignature(wordsField, shingleSize, numHashes)(worded)
    val pairs = candidatePairs(withSig, idField, "minhash_sig", bands, numHashes)
    val shingled = worded.select(
      col(idField),
      array_distinct(TextShingles.shingles(col(wordsField), shingleSize)))
    Postings.verify(pairs, shingled, shingled, Postings.Jaccard(minJaccard))
      .select("id_a", "id_b")
  }

  /** Full near-dedup: signature → banding → connected-via-pairs removal
    * (keep the smallest id of each candidate pair's right side removed).
    * Single-linkage transitive closure is deliberately NOT computed
    * distributedly here (iterative); removing every `id_b` of a verified
    * pair is the standard one-pass approximation used by large corpus
    * pipelines. */
  def dedup(
      df: DataFrame,
      wordsField: String,
      idField: String,
      shingleSize: Int = 3,
      numHashes: Int = 16,
      bands: Int = 4,
      minJaccard: Double = 0.8
  ): DataFrame = {
    val verified = verifiedPairs(df, wordsField, idField, shingleSize,
      numHashes, bands, minJaccard)
    val toDrop = verified.select(col("id_b").as(idField)).distinct()
    df.join(toDrop, Seq(idField), "left_anti")
  }

  /** Cluster-exact dedup: verified pairs → connected components → keep
    * ONE row (the minimum id) per duplicate cluster. Unlike the one-pass
    * `dedup`, transitive duplicates (a~b, b~c but a≁c) collapse to a
    * single survivor. */
  def dedupClusters(
      df: DataFrame,
      wordsField: String,
      idField: String,
      shingleSize: Int = 3,
      numHashes: Int = 16,
      bands: Int = 4,
      minJaccard: Double = 0.8,
      maxIter: Int = 20
  ): DataFrame = {
    val verified = verifiedPairs(df, wordsField, idField, shingleSize,
      numHashes, bands, minJaccard)
    val comps = ConnectedComponents.components(verified, maxIter = maxIter)
    // drop every clustered row that is not its cluster's minimum
    val losers = comps.filter(col("id") =!= col("comp"))
      .select(col("id").as(idField))
    df.join(losers, Seq(idField), "left_anti")
  }

  /** Incremental near-dup detection: flag INCOMING docs that are
    * near-duplicates of an EXISTING corpus — the production ingestion
    * path, and the reason signature tables persist beside a corpus.
    * Both sides arrive WITH their signature column: the existing side's
    * signatures were computed once at corpus build time, so an ingest
    * batch only computes its own. Banding both sides meets in a
    * bucket-local incoming×existing join — never existing×existing, so
    * the join work is |batch|-proportional, not corpus-quadratic —
    * candidates are verified by exact Jaccard over distinct-word sets,
    * and the flag lands back on the batch with one small join. The
    * corpus is scanned once (its banding projection), the batch twice.
    */
  def nearDupAgainst(
      existingSigs: DataFrame,
      incomingSigs: DataFrame,
      idField: String,
      sigField: String = "minhash_sig",
      wordsField: String = "words",
      bands: Int = 4,
      sigLen: Int = 16,
      minJaccard: Double = 0.8,
      hasher: Column => Column = c => xxhash64(c),
      flagField: String = "dup_of_existing"
  ): DataFrame = {
    def banded(df: DataFrame, id: String): DataFrame =
      bandKeys(df, idField, id, sigField, bands, sigLen, hasher)
    val cand = banded(incomingSigs, "id_a")
      .join(banded(existingSigs, "id_b"), Seq("band", "bh"))
      .select(col("id_a"), col("id_b"))
      .distinct()
    def words(df: DataFrame) = df.select(col(idField), array_distinct(col(wordsField)))
    val dupIds = Postings.verify(cand, words(incomingSigs), words(existingSigs),
        Postings.Jaccard(minJaccard))
      .select(col("id_a").as(idField))
      .distinct()
      .withColumn(flagField, lit(true))
    incomingSigs
      .join(dupIds, Seq(idField), "left")
      .withColumn(flagField, coalesce(col(flagField), lit(false)))
  }

  /** Quality-aware cluster survivor selection (the FineWeb/Dolma policy):
    * like [[dedupClusters]], but each near-dup cluster keeps its
    * highest-`quality` member (ties → smallest id) instead of its
    * smallest id — dedup should discard the *worse* copies, not the
    * later ones. `quality` is any numeric column expression over `df`
    * (doc length, an LM-familiarity score, a Gopher pass count…).
    *
    * Cost over [[dedupClusters]]: one extra aggregation on the
    * components table — which is O(#clustered docs), orders of magnitude
    * smaller than the corpus — and the same final anti-join. The corpus
    * is never shuffled by the policy itself. */
  def clusterSurvivorLosers(
      comps: DataFrame,
      quality: DataFrame, // (id, __q)
      idField: String
  ): DataFrame = {
    val scored = comps.join(quality, Seq("id"))
    val best = scored
      .groupBy(col("comp"))
      .agg(
        min(struct((lit(0L) - col("__q")).as("nq"), col("id").as("sid")))
          .as("w")
      )
      .select(col("comp"), col("w.sid").as("__sid"))
    scored
      .join(best, Seq("comp"))
      .filter(col("id") =!= col("__sid"))
      .select(col("id").as(idField))
  }

  /** [[dedupClusters]] with the quality policy: `qualityCol` decides the
    * survivor of every transitive near-dup cluster. */
  def dedupClustersBy(
      df: DataFrame,
      wordsField: String,
      idField: String,
      qualityCol: Column,
      shingleSize: Int = 3,
      numHashes: Int = 16,
      bands: Int = 4,
      minJaccard: Double = 0.8,
      maxIter: Int = 20
  ): DataFrame = {
    val verified = verifiedPairs(df, wordsField, idField, shingleSize,
      numHashes, bands, minJaccard)
    val comps = ConnectedComponents.components(verified, maxIter = maxIter)
    val quality = df.select(
      col(idField).as("id"),
      qualityCol.cast(LongType).as("__q")
    )
    val losers = clusterSurvivorLosers(comps, quality, idField)
    df.join(losers, Seq(idField), "left_anti")
  }

  /** Banding parameter planner (Leskovec-Rajaraman-Ullman ch. 3): pick
    * (bands, rows) with bands·rows = nPerm whose S-curve threshold
    * (1/bands)^(1/rows) lands closest to the target Jaccard — the
    * driver-side design step before any LSH run, so callers stop
    * hand-guessing band counts. Pure integer/double driver math, no
    * Spark. Returns (bands, rows, curveThresholdMilli). */
  def planBands(nPerm: Int, targetJaccard: Double): (Int, Int, Long) = {
    require(nPerm > 0 && targetJaccard > 0 && targetJaccard < 1)
    val options = (1 to nPerm).filter(nPerm % _ == 0).map { b =>
      val r = nPerm / b
      val t = math.pow(1.0 / b, 1.0 / r)
      (b, r, t)
    }
    val (b, r, t) = options.minBy { case (_, _, t) =>
      (math.abs(t - targetJaccard), t)
    }
    (b, r, math.floor(t * 1000).toLong)
  }

  /** Candidate-pair probability at similarity `s` for a (bands, rows)
    * plan: 1 − (1 − s^rows)^bands, in ppm — the S-curve a reviewer
    * reads to see what recall a plan buys at each similarity level. */
  def sCurvePpm(bands: Int, rows: Int, s: Double): Long =
    math.floor(sCurve(s, bands, rows) * 1e6).toLong
}

/** Distributed connected components over candidate-pair edges:
  * iterative min-label propagation (labels(v) ← min over neighbors),
  * converging in O(graph diameter) rounds. Each round is two shuffles
  * (join + groupBy); `localCheckpoint` truncates the lineage so plans
  * stay bounded. The driver only coordinates the loop — all data stays
  * distributed. Duplicate clusters in corpus dedup are shallow (near-dup
  * groups), so the iteration cap is generous, not load-bearing; a loop
  * that reaches it unconverged throws instead of returning partial
  * labels. */
object ConnectedComponents {

  /** pairs (idA, idB) as undirected edges → (id, comp) with comp = the
    * minimum id reachable from `id`. Only vertices that appear in pairs
    * are returned.
    *
    * Adaptive execution: below `localThreshold` edges the graph is
    * union-found on the driver in one pass — a near-dup edge set is
    * orders of magnitude smaller than its corpus, and for small graphs
    * the distributed loop's per-round job scheduling dwarfs the actual
    * work. Above the threshold (billions of docs → possibly billions of
    * edges) the distributed min-label propagation below runs; it never
    * funnels data to the driver, and throws `IllegalStateException` if
    * labels still change after `maxIter` rounds. */
  def components(
      pairs: DataFrame,
      idA: String = "id_a",
      idB: String = "id_b",
      maxIter: Int = 20,
      localThreshold: Long = 2000000L
  ): DataFrame = {
    require(maxIter >= 1, s"maxIter must be >= 1, got $maxIter")
    // materialize the (possibly expensive) pair subtree ONCE before the
    // symmetric union references it twice
    PlanTrace.dump("cc_edges", pairs)
    val p = pairs.select(col(idA).as("a"), col(idB).as("b")).localCheckpoint()
    val idType = p.schema("a").dataType
    val pairCount = p.count()
    if (pairCount <= localThreshold &&
        (idType == LongType || idType == IntegerType)) {
      return localComponents(p, idType)
    }
    val edges = p
      .select(col("a").as("src"), col("b").as("dst"))
      .union(p.select(col("b").as("src"), col("a").as("dst")))
      .distinct()
      .persist()
    // adapt loop parallelism to graph size: per-round scheduling cost
    // dominates tiny graphs, data volume dominates huge ones
    val edgeCount = edges.count()
    val loopParts = math.max(1, math.min(
      pairs.sparkSession.sparkContext.defaultParallelism,
      (edgeCount / 100000L).toInt + 1))
    var labels = edges
      .select(col("src").as("id"))
      .distinct()
      .withColumn("comp", col("id"))
      .repartition(loopParts)
      .localCheckpoint()
    var i = 0
    var changed = -1L
    while (i < maxIter && changed != 0L) {
      val neighborMin = edges
        .join(labels.select(col("id").as("dst"), col("comp").as("ncomp")), Seq("dst"))
        .groupBy(col("src"))
        .agg(min(col("ncomp")).as("ncomp"))
        .withColumnRenamed("src", "id")
      // carry the pre-round label through the passes so convergence is a
      // cheap aggregate over the (already materialized) checkpoint instead
      // of an extra join + count job per round
      val propagated = labels
        .join(neighborMin, Seq("id"), "left")
        .select(
          col("id"),
          col("comp").as("oldComp"),
          least(col("comp"), coalesce(col("ncomp"), col("comp"))).as("comp")
        )
      // path halving: also adopt the label OF the label — chains
      // converge in O(log diameter) rounds instead of O(diameter)
      val newLabels = propagated
        .join(
          propagated.select(col("id").as("comp"), col("comp").as("comp2")),
          Seq("comp"),
          "left"
        )
        .select(
          col("id"),
          col("oldComp"),
          least(col("comp"), coalesce(col("comp2"), col("comp"))).as("comp")
        )
        .repartition(loopParts)
        .localCheckpoint()
      changed = newLabels
        .agg(coalesce(sum(when(col("comp") =!= col("oldComp"), 1L)), lit(0L)))
        .head()
        .getLong(0)
      labels = newLabels.drop("oldComp")
      i += 1
    }
    edges.unpersist()
    if (changed != 0L)
      throw new IllegalStateException(s"ConnectedComponents did not converge " +
        s"within maxIter = $maxIter rounds: $changed labels still changed in the last round")
    labels
  }

  /** Driver-side union-find (path compression) for small edge sets —
    * the adaptive fast path of [[components]]. One collect, zero loop
    * jobs; returns the same (id, comp = min reachable id) schema. */
  private def localComponents(
      p: DataFrame,
      idType: org.apache.spark.sql.types.DataType
  ): DataFrame = {
    val spark = p.sparkSession
    import spark.implicits._
    val es = p
      .select(col("a").cast(LongType), col("b").cast(LongType))
      .as[(Long, Long)]
      .collect()
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) { parent(r) = parent(parent(r)); r = parent(r) }
      r
    }
    es.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a)
      parent.getOrElseUpdate(b, b)
      val ra = find(a)
      val rb = find(b)
      if (ra != rb) parent(ra) = rb
    }
    val minOf = scala.collection.mutable.HashMap.empty[Long, Long]
    parent.keysIterator.foreach { v =>
      val r = find(v)
      if (v < minOf.getOrElse(r, Long.MaxValue)) minOf(r) = v
    }
    parent.keysIterator
      .map(v => (v, minOf(find(v))))
      .toSeq
      .toDF("id", "comp")
      .select(col("id").cast(idType).as("id"), col("comp").cast(idType).as("comp"))
  }
}

/** 64-bit SimHash over a words column: bit b of the output is the sign of
  * sum over words of (bit b of xxhash64(word) ? +1 : -1). Near-duplicates
  * differ in few bits (compare with `bit_count(a ^ b)`). */
final case class SimHash(
    wordsField: String,
    outputField: String = "simhash"
) extends Mapper {
  override def inputFields: Seq[String] = Seq(wordsField)
  override def outputFields: Seq[String] = Seq(outputField)
  override protected def build(df: DataFrame): DataFrame =
    df.withColumn(
      outputField,
      graft.functions.functions.simhash64(col(wordsField))
    )
}

/** b-bit minhash (Li & König 2010, "b-Bit Minwise Hashing"): store only
  * the lowest `b` bits of each of the `k` signature mins — a 64/b×
  * compression of the signature store that the incremental-dedup path
  * ([[MinHashLSH.nearDupAgainst]]'s durable store) re-reads on every
  * epoch, which at 100 TB is the difference between a signature table
  * that fits in the page cache and one that doesn't. The price is
  * estimator variance, not bias: a non-matching min still collides on
  * its low b bits with probability ~2^-b, and the Li-König correction
  * removes exactly that term: Ĵ = (A/k − 2^-b)/(1 − 2^-b), computed
  * here as the integral form (A·2^b − k) div (k·(2^b − 1)) so both
  * engines replay it bit-for-bit.
  *
  * Packing puts 63/b values per BIGINT word (the sign bit stays 0 —
  * a dense 64/b packing would need unsigned longs, which SQL engines
  * and parquet readers disagree on), built by a Horner fold so every
  * shift is a constant multiply. Unpack divides by an exact
  * power-of-two (dynamic shifts don't exist in Spark's `shiftleft`;
  * `pow(2,n)` is IEEE-exact for n ≤ 62). All row-local codegen'd
  * HOFs, zero shuffle. */
object BbitMinHash {
  import graft.functions.functions.integral_divide

  private def perWord(b: Int): Int = 63 / b

  /** Pack `sig` (array<long>, each min masked to its low b bits) into
    * ceil(k / (63/b)) BIGINT words; value j sits at bits [b·j, b·(j+1))
    * of word j / (63/b). */
  def pack(sig: Column, b: Int): Column = {
    require(b >= 1 && b <= 31, s"b must be in [1,31], got $b")
    val pw = perWord(b)
    val mask = (1L << b) - 1
    val lastWord = floor((size(sig) - 1).cast(DoubleType) / pw).cast(IntegerType)
    transform(
      sequence(lit(0), greatest(lastWord, lit(0))),
      w =>
        aggregate(
          sequence(lit(pw - 1), lit(0), lit(-1)),
          lit(0L),
          (acc, i) => {
            val pos = w * pw + i
            acc * lit(1L << b) + when(
              pos < size(sig),
              element_at(sig, pos + 1).bitwiseAND(lit(mask))
            ).otherwise(lit(0L))
          }
        )
    )
  }

  /** Number of positions in [0, k) whose b-bit values agree. */
  def agreements(pa: Column, pb: Column, b: Int, k: Int): Column = {
    val pw = perWord(b)
    val mask = (1L << b) - 1
    aggregate(
      sequence(lit(0), lit(k - 1)),
      lit(0L),
      (acc, pos) => {
        val off = pmod(pos, lit(pw))
        val w = floor((pos - off).cast(DoubleType) / pw).cast(IntegerType)
        val factor = pow(lit(2.0), (off * b).cast(DoubleType)).cast(LongType)
        val va = integral_divide(element_at(pa, w + 1), factor)
          .bitwiseAND(lit(mask))
        val vb = integral_divide(element_at(pb, w + 1), factor)
          .bitwiseAND(lit(mask))
        acc + when(va === vb, lit(1L)).otherwise(lit(0L))
      }
    )
  }

  /** Debiased Jaccard estimate in ppm, clamped at 0:
    * `max(0, 1e6·(A·2^b − k) div (k·(2^b − 1)))`. */
  def estJaccardPpm(agree: Column, b: Int, k: Int): Column =
    greatest(
      lit(0L),
      integral_divide(
        lit(1000000L) * (lit(1L << b) * agree - lit(k.toLong)),
        lit(k.toLong * ((1L << b) - 1))
      )
    )
}

/** SimHash near-dup pairing — Manku et al. 2007 ("Detecting
  * Near-Duplicates for Web Crawling", §3): two docs are near-dups when
  * their simhashes differ in at most `maxHamming` bits. By pigeonhole,
  * splitting the `bits`-bit hash into `bands` contiguous chunks
  * guarantees any pair within `maxHamming < bands` shares at least one
  * chunk VERBATIM — so candidates come from a bucket-local equi-join on
  * (band, chunk), never an all-pairs scan, and each candidate is
  * verified by the exact popcount `bit_count(a XOR b) <= maxHamming`.
  * This is the whole-corpus pairing layer [[SimHash]] values feed;
  * recall is exact (the pigeonhole bound is a guarantee, not a
  * probability — unlike minhash banding).
  *
  * Scale shape: linear band explode (`bands` rows/doc, each an 8-byte
  * chunk key), shuffle keyed on (band, chunk), join work bounded per
  * bucket. 64-bit hashes with 16-bit chunks give 65k buckets per band;
  * the verify is one codegen'd popcount. */
object SimHashNearDup {

  def candidatePairs(
      df: DataFrame,
      idField: String,
      simhashField: String,
      bits: Int = 64,
      bands: Int = 4,
      maxHamming: Int = 3
  ): DataFrame = {
    require(bits % bands == 0,
      s"bits ($bits) must be divisible by bands ($bands)")
    require(maxHamming < bands,
      s"pigeonhole guarantee needs maxHamming ($maxHamming) < bands " +
        s"($bands): $maxHamming differing bits can touch $maxHamming " +
        "chunks, leaving one equal only if there are more chunks than that")
    val w = bits / bands
    val mask = (1L << w) - 1
    val banded = df.select(
      col(idField).as("__sh_id"),
      col(simhashField).as("__sh_v"),
      posexplode(
        // static unroll: bands is tiny and compile-time known, so each
        // chunk extraction is one codegen'd shift+mask
        array((0 until bands).map(b =>
          shiftrightunsigned(col(simhashField), b * w)
            .bitwiseAND(lit(mask))): _*)
      ).as(Seq("__sh_band", "__sh_chunk"))
    )
    // a shuffled join: both legs exchange on (band, chunk), so the second
    // is a ReusedExchange, where a broadcast leg would recompute the simhash
    banded.as("a")
      .join(
        banded.as("b").hint("merge"),
        col("a.__sh_band") === col("b.__sh_band") &&
          col("a.__sh_chunk") === col("b.__sh_chunk") &&
          col("a.__sh_id") < col("b.__sh_id"))
      .select(
        col("a.__sh_id").as("id_a"),
        col("b.__sh_id").as("id_b"),
        bit_count(col("a.__sh_v").bitwiseXOR(col("b.__sh_v")))
          .cast(LongType).as("hamming")
      )
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }
}

/** Semantic deduplication — SemDeDup (Abbas et al. 2023, "SemDeDup:
  * Data-efficient learning at web-scale through semantic deduplication"):
  * embeddings are clustered; within each cluster, pairs with cosine
  * similarity ≥ `eps` are semantic duplicates; each duplicate GROUP
  * (transitive closure of the ≥eps graph) keeps exactly one member — the
  * paper's policy: the one with the LOWEST similarity to its cluster
  * centroid, preserving the diverse tail rather than the redundant core.
  *
  * Scale shape: the caller-supplied centroid table (tiny — train it with
  * [[CosineKnn.kmeansCentroids]] or pick deterministic rows) collects to
  * the driver and inlines as literals, so assignment is a zero-shuffle
  * codegen'd fold over the corpus. The pairwise stage never leaves a
  * cluster — an equi-join on the cluster id, with the standard
  * deterministic `maxClusterCompare` down-sample for oversized clusters —
  * and its output feeds [[ConnectedComponents]] (edge-proportional, not
  * corpus-proportional). Similarity thresholds compare floor-scaled
  * BIGINTs so the decision replays bit-identically across engines.
  *
  * Returns the corpus plus `cluster` and boolean `keepField`; docs in no
  * duplicate group keep `true`. */
object SemDeDup {

  def dedup(
      corpus: DataFrame,
      embField: String,
      idField: String,
      centroids: DataFrame,
      eps: Double,
      maxClusterCompare: Option[Int] = None,
      hasher: Column => Column = c => xxhash64(c),
      keepField: String = "semdedup_keep"
  ): DataFrame = {
    val epsScaled = math.round(eps * 1e6)
    val e = col(embField).cast(ArrayType(DoubleType))
    val centRows = centroids
      .select(col("cid").cast(LongType), col("ce").cast(ArrayType(DoubleType)))
      .orderBy("cid")
      .collect()
    require(centRows.nonEmpty, "SemDeDup: empty centroid set")
    // same argmax as ivfTopK.assign: strictly-greater wins, so ties keep
    // the earlier (lower-cid) candidate; idx → cid via a literal array
    val cents = centRows.toIndexedSeq.map(_.getSeq[Double](1))
    val cids = centRows.toIndexedSeq.map(_.getLong(0))
    val assignment = corpus
      .select(col(idField).as("__sd_id"), e.as("__sd_e"))
      .withColumn("__best", graft.functions.functions.argmax_cosine(col("__sd_e"), cents))
      .select(
        col("__sd_id"),
        col("__sd_e"),
        element_at(typedLit(cids), col("__best").getField("idx") + 1).as("cluster"),
        floor(col("__best").getField("sim") * 1e6).cast(LongType).as("__sd_csim")
      )
    val verdict = Postings.shared("semdedup", assignment) { assigned =>
      val kept = maxClusterCompare match {
        case Some(cap) =>
          assigned
            .withColumn(
              "__sd_rn",
              row_number().over(
                Window.partitionBy(col("cluster"))
                  .orderBy(hasher(concat_ws("|", col("__sd_id"), col("cluster"))),
                    col("__sd_id")))
            )
            .filter(col("__sd_rn") <= cap)
            .drop("__sd_rn")
        case None => assigned
      }
      val edges = kept.as("a")
        .join(kept.as("b"),
          col("a.cluster") === col("b.cluster") &&
            col("a.__sd_id") < col("b.__sd_id"))
        .filter(
          floor(CosineKnn.cosine(col("a.__sd_e"), col("b.__sd_e")) * 1e6)
            .cast(LongType) >= epsScaled)
        .select(col("a.__sd_id").as("id_a"), col("b.__sd_id").as("id_b"))
      val comps = ConnectedComponents.components(edges)
      // per duplicate group: survive the member FARTHEST from its centroid
      // (lowest scaled sim), ties -> smallest id
      val survivors = comps
        .join(assigned.select(col("__sd_id").as("id"), col("__sd_csim")), Seq("id"))
        .groupBy(col("comp"))
        .agg(min(struct(col("__sd_csim"), col("id"))).as("__w"))
        .select(col("__w").getField("id").as("id"), lit(true).as("__sd_surv"))
      assigned
        .join(comps.withColumnRenamed("id", "__sd_id"), Seq("__sd_id"), "left")
        .join(survivors.withColumnRenamed("id", "__sd_id"), Seq("__sd_id"), "left")
        .select(
          col("__sd_id"),
          col("cluster"),
          (col("comp").isNull || coalesce(col("__sd_surv"), lit(false)))
            .as(keepField)
        )
    }
    corpus.join(
      verdict.withColumnRenamed("__sd_id", idField),
      Seq(idField))
  }
}

/** Brute-force cosine top-k: every row of `queries` against every row of
  * `corpus` — the exact baseline. O(|Q|·|C|); use for small Q (the ANN
  * path below is the scale route). Embeddings are cast to double. */
object CosineKnn {
  /** Sequential left-fold dot — r13: the native twin
    * ([[graft.functions.DotProductExpr]]), bit-identical to the
    * `aggregate(zip_with(...))` HOF it replaces incl. the null/length
    * contract; kept as the building block callers embed in their own
    * floor/ppm arithmetic (which must NOT be re-ordered). */
  def dot(a: Column, b: Column): Column =
    graft.functions.functions.dot_product(a, b)

  /** Native one-pass codegen'd kernel ([[graft.functions.CosineSimilarity]]);
    * bit-identical to dot/(sqrt·sqrt) of sequential folds. */
  def cosine(a: Column, b: Column): Column =
    graft.functions.functions.cosine_sim(a, b)

  def bruteForce(
      corpus: DataFrame,
      queries: DataFrame,
      embField: String,
      idField: String,
      k: Int
  ): DataFrame = {
    val c = corpus.select(
      col(idField).as("corpus_id"),
      col(embField).cast(ArrayType(DoubleType)).as("__ce")
    )
    val q = queries.select(
      col(idField).as("query_id"),
      col(embField).cast(ArrayType(DoubleType)).as("__qe")
    )
    val scored = c
      .crossJoin(broadcast(q))
      .withColumn("cos", cosine(col("__ce"), col("__qe")))
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("corpus_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "corpus_id", "cos", "rank")
  }

  /** Random-hyperplane LSH bucketing: `nPlanes` sign bits = bucket id.
    * Hyperplanes are CONSTANTS — generated once on the driver from the
    * seed and shipped as literal arrays, so the per-row work is nPlanes
    * codegen'd dot products (sign of cosine == sign of dot, reusing the
    * native CosineSimilarity kernel). Candidates = same bucket; the
    * quadratic work is bucket-local. At 100 TB the bucket count
    * (2^nPlanes × multiprobe) keys the one shuffle. */
  def lshBuckets(
      df: DataFrame,
      embField: String,
      nPlanes: Int = 8,
      seed: Int = 42,
      dims: Int = 64,
      planesOverride: Option[Seq[Seq[Double]]] = None
  ): DataFrame = {
    val e = col(embField).cast(ArrayType(DoubleType))
    val rng = new java.util.Random(seed)
    val planes: Seq[Seq[Double]] = planesOverride.getOrElse(
      Seq.fill(nPlanes)(Seq.fill(dims)(rng.nextGaussian())))
    val bucket = planes.zipWithIndex
      .map { case (w, p) =>
        when(
          graft.functions.functions.cosine_sim(e, typedlit(w)) >= 0,
          lit(1L << p)
        ).otherwise(lit(0L))
      }
      .reduce(_ + _)
    df.withColumn("bucket", bucket)
  }

  /** Distributed k-means (Lloyd) centroid training for IVF: init =
    * hash-stratified corpus pick; each round broadcasts the (k × dim)
    * centroids, assigns every vector to its nearest, and recomputes the
    * element-wise means via a posexplode → (cluster, dim) average → one
    * linear pass + one shuffle per round. Centroids stay tiny; the
    * corpus never funnels anywhere. */
  def kmeansCentroids(
      corpus: DataFrame,
      embField: String,
      idField: String,
      k: Int,
      iters: Int = 2
  ): DataFrame = {
    val e = col(embField).cast(ArrayType(DoubleType))
    var centroids = corpus
      .select(col(idField).as("cid"), e.as("ce"))
      .orderBy(xxhash64(col("cid")), col("cid"))
      .limit(k)
      .localCheckpoint()
    val vecs = corpus.select(col(idField).as("__vid"), e.as("__ve"))
    var it = 0
    while (it < iters) {
      val assigned = vecs
        .crossJoin(broadcast(centroids))
        .withColumn("__sim", cosine(col("__ve"), col("ce")))
        .withColumn(
          "__rk",
          row_number().over(
            Window.partitionBy(col("__vid")).orderBy(col("__sim").desc, col("cid"))
          )
        )
        .filter(col("__rk") === 1)
        .select(col("cid"), col("__ve"))
      centroids = assigned
        .select(col("cid"), posexplode(col("__ve")).as(Seq("__pos", "__v")))
        .groupBy("cid", "__pos")
        .agg(avg(col("__v")).as("__m"))
        .groupBy("cid")
        .agg(
          transform(
            array_sort(collect_list(struct(col("__pos"), col("__m")))),
            s => s.getField("__m")
          ).as("ce")
        )
        .localCheckpoint()
      it += 1
    }
    centroids
  }

  /** IVF-style ANN: deterministic centroids — hash-stratified pick,
    * optionally refined with [[kmeansCentroids]] Lloyd rounds
    * (`trainIters > 0`) — broadcast; every vector is assigned to its
    * nearest centroid (cluster id), queries probe their own cluster
    * only. One broadcast + one shuffle on cluster id; cluster sizes ≈
    * |corpus|/k so the bucket-local exact search stays bounded. */
  def ivfTopK(
      corpus: DataFrame,
      queries: DataFrame,
      embField: String,
      idField: String,
      k: Int,
      nCentroids: Int = 16,
      trainIters: Int = 0,
      centroidsOverride: Option[DataFrame] = None // (cid, ce) frame
  ): DataFrame = {
    val e = col(embField).cast(ArrayType(DoubleType))
    val centroids = centroidsOverride.getOrElse {
      if (trainIters > 0)
        kmeansCentroids(corpus, embField, idField, nCentroids, trainIters)
      else
        corpus
          .select(col(idField).as("cid"), e.as("ce"))
          .orderBy(xxhash64(col("cid")), col("cid"))
          .limit(nCentroids)
    }
    // The k×dim centroid table is tiny by construction, so inline it as
    // literals: assignment becomes a pure per-row expression — no join, no
    // shuffle, stays inside whole-stage codegen. (The previous shape —
    // crossJoin ×k then a window PARTITION BY the raw embedding array —
    // shuffled corpus×k rows keyed on ~512-byte arrays.)
    val centRows = centroids.orderBy(col("cid")).collect()
    require(centRows.nonEmpty, "ivfTopK: empty centroid set")
    // fused native argmax (r13: graft.functions.ArgMaxCosineExpr) —
    // strictly-greater wins, so ties keep the earlier (= lower-cid,
    // pre-sorted) candidate: same tie-break as the old ORDER BY sim
    // DESC, cid ASC. idx → cid via a literal array lookup (cid keeps
    // whatever type the centroid table carries).
    val cents = centRows.toIndexedSeq.map(_.getSeq[Double](1))
    val cidArr = array(centRows.toIndexedSeq.map(r => lit(r.get(0))): _*)
    def assign(df: DataFrame, vec: String): DataFrame =
      df.withColumn(
        "cluster",
        element_at(cidArr,
          graft.functions.functions.argmax_cosine(col(vec), cents)
            .getField("idx") + 1))
    val c = assign(
      corpus.select(col(idField).as("corpus_id"), e.as("__ce")), "__ce")
    val q = assign(
      queries.select(col(idField).as("query_id"), e.as("__qe")), "__qe")
    val scored = c.join(q, Seq("cluster"))
      .withColumn("cos", cosine(col("__ce"), col("__qe")))
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("corpus_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "corpus_id", "cos", "rank")
  }

  /** ANN top-k via LSH buckets: exact cosine only within the query's
    * probed buckets. `multiProbe` = Hamming radius of additional buckets
    * probed per query (0 = own bucket only; 1 probes nPlanes+1 buckets —
    * the standard recall/cost lever, since near-neighbors most often
    * land one flipped hyperplane away). Corpus rows stay in ONE bucket;
    * only the (tiny) query side fans out. */
  def annTopK(
      corpus: DataFrame,
      queries: DataFrame,
      embField: String,
      idField: String,
      k: Int,
      nPlanes: Int = 8,
      seed: Int = 42,
      multiProbe: Int = 1,
      dims: Int = -1,
      planesOverride: Option[Seq[Seq[Double]]] = None
  ): DataFrame = {
    // dims must match the embedding width: cosine_sim is strict about
    // dimension mismatch, so the hyperplane length is caller-visible.
    // Pass it when known (skips a probe job); dims <= 0 infers it from
    // the first corpus row.
    val d =
      if (dims > 0) dims
      else corpus.select(size(col(embField))).head().getInt(0)
    val c = lshBuckets(corpus, embField, nPlanes, seed, d, planesOverride)
      .select(
        col(idField).as("corpus_id"),
        col(embField).cast(ArrayType(DoubleType)).as("__ce"),
        col("bucket")
      )
    val probes: Column => Column = b => {
      val hamming1 =
        if (multiProbe >= 1) (0 until nPlanes).map(p => b.bitwiseXOR(lit(1L << p)))
        else Nil
      array((b +: hamming1): _*)
    }
    val q = lshBuckets(queries, embField, nPlanes, seed, d, planesOverride)
      .select(
        col(idField).as("query_id"),
        col(embField).cast(ArrayType(DoubleType)).as("__qe"),
        explode(probes(col("bucket"))).as("bucket")
      )
    val scored = c
      .join(q, Seq("bucket"))
      .withColumn("cos", cosine(col("__ce"), col("__qe")))
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("corpus_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "corpus_id", "cos", "rank")
  }
}

/** Product quantization ANN (Jégou et al. 2011, "Product Quantization
  * for Nearest Neighbor Search"): each dim-D vector splits into M
  * subvectors; subspace m has a small codebook and stores only the
  * nearest code — M small ints instead of D floats (64-dim float32 →
  * 8 bytes at M=8: 32× compression). Queries score against CODES via
  * asymmetric distance (ADC): the query keeps its raw subvectors, the
  * corpus contributes only codebook entries, so approximate distance is
  * an M-term sum of subspace distances.
  *
  * THE 100-TB shape: at web scale the embedding table itself is the
  * bottleneck (100 TB of float32 ≫ cluster RAM); PQ codes bring the
  * scan set down ~30× so the ADC pass is IO-bound on a table 3% the
  * size, and the codebooks (M × K × D/M doubles ≈ KBs) ship as plan
  * literals — encode and scan are zero-shuffle codegen'd projections;
  * the only shuffle is the per-query top-k. Compose with [[CosineKnn
  * .ivfTopK]]'s cluster assignment to prune the scan set first (IVFADC
  * without residual encoding — documented simplification).
  *
  * Determinism: subspace distances fold sequentially and accumulate in
  * subspace order, ties break to the lowest code / corpus id, and the
  * reported distance is floor-scaled to BIGINT — so any engine replays
  * code assignment AND ranking bit-identically (q131's discipline). */
object ProductQuantizer {

  /** Squared L2 over two equal-length arrays, sequential fold. */
  def l2sq(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(0.0), (acc, x) => acc + x)

  /** Deterministic codebooks from the first `k` corpus rows in id order
    * (driver-side, engine-replayable — pass k-means-refined rows for
    * production recall): codebook(m)(j) = subvector m of row j. */
  def codebooksFrom(rows: Seq[Seq[Double]], m: Int): Seq[Seq[Seq[Double]]] = {
    require(rows.nonEmpty, "PQ codebooks need at least one row")
    val d = rows.head.length
    require(d % m == 0, s"dim $d not divisible by M=$m")
    val w = d / m
    (0 until m).map(mi => rows.map(r => r.slice(mi * w, (mi + 1) * w)))
  }

  /** Add `dest`: array of M codes (argmin squared-L2 per subspace, tie →
    * lowest code). Codebooks inline as literals — zero shuffle. */
  def encode(
      df: DataFrame,
      embField: String,
      codebooks: Seq[Seq[Seq[Double]]],
      dest: String = "pq_code"
  ): DataFrame = {
    val e = col(embField).cast(ArrayType(DoubleType))
    // r13: one tight-loop native expression per row
    // ([[graft.functions.PqEncodeExpr]]) — bit-identical accumulation
    // and tie rule to the previous zip_with/aggregate HOF tree, which
    // was interpreted and allocated a fresh zipped array per
    // (row, codeword). (A static per-dimension unroll was tried first
    // and blew the whole-stage-codegen method-size limit.)
    df.withColumn(dest, graft.functions.functions.pq_encode(e, codebooks))
  }

  /** ADC top-k: corpus side carries ONLY (id, pq_code); queries carry raw
    * embeddings and broadcast. Approximate distance = Σ_m l2sq(query
    * subvector m, codebook(m)(code_m)), floor-scaled to BIGINT. */
  def adcTopK(
      corpusEncoded: DataFrame,
      queries: DataFrame,
      embField: String,
      idField: String,
      k: Int,
      codebooks: Seq[Seq[Seq[Double]]],
      codeField: String = "pq_code",
      scale: Long = 1000000L
  ): DataFrame = {
    val m = codebooks.length
    val w = codebooks.head.head.length
    val qe = col(embField).cast(ArrayType(DoubleType))
    val c = corpusEncoded.select(
      col(idField).as("corpus_id"), col(codeField).as("__pq"))
    val q = queries.select(col(idField).as("query_id"), qe.as("__qe"))
    // subspace-order accumulation: d0 + d1 + ... (left fold, replayable).
    // r13: one tight-loop native expression ([[graft.functions
    // .PqAdcDistExpr]]) — same sum order, bit-identical, replacing
    // interpreted zip_with/aggregate HOFs allocating per (row, subspace).
    val dist = graft.functions.functions.pq_adc_dist(
      col("__qe"), col("__pq"), codebooks)
    val scored = c
      .crossJoin(broadcast(q))
      .withColumn("adist", floor(lit(scale) * dist).cast(LongType))
    val win = Window.partitionBy("query_id")
      .orderBy(col("adist").asc, col("corpus_id").asc)
    scored
      .withColumn("rank", row_number().over(win))
      .filter(col("rank") <= k)
      .select("query_id", "corpus_id", "adist", "rank")
  }

  /** Coarse-cluster assignment for IVFADC: argmax floor-scaled cosine
    * against the literal centroid list, ties to the lowest cid. The
    * SCALED similarity decides (not the raw double), so any engine
    * replays the same cluster for every row — the same parity rule the
    * ADC distance itself follows. Zero shuffle. */
  def assignClusters(
      df: DataFrame,
      embField: String,
      centroids: Seq[(Int, Seq[Double])],
      dest: String = "cluster",
      scale: Long = 1000000L
  ): DataFrame = {
    require(centroids.nonEmpty, "assignClusters: empty centroid set")
    val e = col(embField).cast(ArrayType(DoubleType))
    // fused native argmax in SCALED mode (r13:
    // graft.functions.ArgMaxCosineExpr, scale > 0): the compare key is
    // -floor(scale·cos) with strictly-less replacing — identical to the
    // negsim struct fold it replaces, ties to the earlier (lowest-cid)
    // entry of the caller-ordered centroid list.
    val cidArr = array(centroids.map { case (cid, _) => lit(cid) }: _*)
    df.withColumn(dest,
      element_at(cidArr,
        graft.functions.functions
          .argmax_cosine(e, centroids.map(_._2), scale)
          .getField("idx") + 1))
  }

  /** IVFADC (Jégou et al. 2011 §IV, minus residual encoding — the
    * documented simplification): the coarse quantizer prunes the ADC
    * scan to the query's `nProbe` nearest clusters, so the per-query
    * work drops from |corpus| to ~nProbe/|C| of it, and the join is a
    * cluster-keyed equi-join (broadcast query side) instead of
    * [[adcTopK]]'s full broadcast scan. Probe lists sort by the same
    * floor-scaled cosine as [[assignClusters]] (struct sort:
    * (−simS, cid) ascending), so probing replays exactly. */
  def ivfAdcTopK(
      corpusEncoded: DataFrame,
      queries: DataFrame,
      embField: String,
      idField: String,
      k: Int,
      codebooks: Seq[Seq[Seq[Double]]],
      centroids: Seq[(Int, Seq[Double])],
      nProbe: Int = 2,
      codeField: String = "pq_code",
      clusterField: String = "cluster",
      scale: Long = 1000000L
  ): DataFrame = {
    val m = codebooks.length
    val w = codebooks.head.head.length
    val qe = col(embField).cast(ArrayType(DoubleType))
    val cands = array(centroids.map { case (cid, v) =>
      struct(
        (-floor(lit(scale) * CosineKnn.cosine(qe, typedLit(v))))
          .cast(LongType).as("negsim"),
        lit(cid).as("cid"))
    }: _*)
    val q = queries
      .select(col(idField).as("query_id"), qe.as("__qe"),
        explode(slice(array_sort(cands), 1, nProbe)).as("__probe"))
      .select(col("query_id"), col("__qe"),
        col("__probe").getField("cid").as(clusterField))
    val c = corpusEncoded.select(
      col(idField).as("corpus_id"), col(codeField).as("__pq"),
      col(clusterField))
    // r13: tight-loop native expression like [[adcTopK]] — same sum
    // order, bit-identical, replacing interpreted HOF allocation
    val dist = graft.functions.functions.pq_adc_dist(
      col("__qe"), col("__pq"), codebooks)
    val scored = c
      .join(broadcast(q), Seq(clusterField))
      .withColumn("adist", floor(lit(scale) * dist).cast(LongType))
    val win = Window.partitionBy("query_id")
      .orderBy(col("adist").asc, col("corpus_id").asc)
    scored
      .withColumn("rank", row_number().over(win))
      .filter(col("rank") <= k)
      .select("query_id", "corpus_id", "adist", "rank")
  }
}

/** Margin-based bitext mining (Artetxe & Schwenk 2019, "Margin-based
  * Parallel Corpus Mining with Multilingual Sentence Embeddings" §3,
  * the LASER/CCMatrix recipe): candidate pair = x's nearest neighbor
  * in Y; its RATIO margin divides cos(x,y) by the mean of x's forward
  * and y's backward top-k neighborhood cosines, so a pair only mines
  * when it is closer than each side's typical neighborhood — the fix
  * for hubness that plain cosine thresholds lack.
  *
  * Engine parity: every cosine is floor-scaled to BIGINT per row
  * BEFORE any cross-row math, and the margin is one integral division
  * — so the mined set replays bit-identically (SURVEY parity rules;
  * float sums over unordered groups would not).
  *
  * Scale shape: the exact X×Y cosine matrix is scored once (quadratic,
  * a small-sample operator); the margin layer over it adds two
  * O(k·|X|+k·|Y|) partial-agg sums and two keyed joins on ids. */
object BitextMine {

  def marginPairs(
      xs: DataFrame,
      ys: DataFrame,
      embField: String,
      idField: String,
      k: Int = 4,
      cosScale: Long = 100000L,
      marginScale: Long = 10000L,
      minMarginScaled: Option[Long] = None
  ): DataFrame = {
    import graft.functions.functions.integral_divide
    def scaled(knn: DataFrame): DataFrame =
      knn.withColumn("cos_i", floor(col("cos") * cosScale).cast(LongType))
    val c = ys.select(col(idField).as("y_id"),
      col(embField).cast(ArrayType(DoubleType)).as("__ce"))
    val q = xs.select(col(idField).as("x_id"),
      col(embField).cast(ArrayType(DoubleType)).as("__qe"))
    // cos(x,y) has bruteForce(ys, xs)'s operand order; double multiply
    // commutes exactly, so the backward leg equals bruteForce(xs, ys)
    val cosines = c.crossJoin(broadcast(q))
      .select(col("x_id"), col("y_id"),
        CosineKnn.cosine(col("__ce"), col("__qe")).as("cos"))
    // the forward and backward top-k are two windows over one matrix
    Postings.shared("margin", cosines) { scored =>
      // rank on the RAW double cos (floor-scaling first could merge
      // distinct cosines and change tie-breaks); cos_i comes after
      val wf = Window.partitionBy("x_id")
        .orderBy(col("cos").desc, col("y_id"))
      val wb = Window.partitionBy("y_id")
        .orderBy(col("cos").desc, col("x_id"))
      val fwd = scaled(scored
        .withColumn("rank", row_number().over(wf)).filter(col("rank") <= k)
        .select(col("x_id").as("query_id"), col("y_id").as("corpus_id"),
          col("cos"), col("rank")))
      val bwd = scaled(scored
        .withColumn("rank", row_number().over(wb)).filter(col("rank") <= k)
        .select(col("y_id").as("query_id"), col("x_id").as("corpus_id"),
          col("cos"), col("rank")))
      val fwdSum = fwd.groupBy(col("query_id").as("x_id"))
        .agg(sum("cos_i").as("__sum_f"))
      val bwdSum = bwd.groupBy(col("query_id").as("y_id"))
        .agg(sum("cos_i").as("__sum_b"))
      val cand = fwd.filter(col("rank") === 1)
        .select(col("query_id").as("x_id"), col("corpus_id").as("y_id"),
          col("cos_i"))
      val den = col("__sum_f") + col("__sum_b")
      val margins = cand
        .join(fwdSum, "x_id")
        .join(bwdSum, "y_id")
        .filter(den > 0) // anti-correlated neighborhoods mine nothing
        .withColumn("margin_scaled",
          integral_divide(lit(marginScale) * 2 * k * col("cos_i"), den))
        .select("x_id", "y_id", "margin_scaled")
      minMarginScaled.fold(margins)(t =>
        margins.filter(col("margin_scaled") >= t))
    }
  }
}

/** Text analysis: language id (stopword-profile heuristic), quality
  * scores, token counts, winnowing-style fingerprints — all native
  * expressions over a pre-split words column. */
object TextAnalysis {

  /** Tiny built-in stopword profiles; extend per deployment. */
  val profiles: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "that", "it", "for"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "mit", "ein", "zu", "den"),
    "fr" -> Seq("le", "la", "les", "et", "est", "un", "une", "des", "que", "pour"),
    "es" -> Seq("el", "la", "los", "las", "y", "es", "un", "una", "que", "por")
  )

  /** Per-language stopword hit ratio + argmax prediction. */
  def langId(words: Column, minScore: Double = 0.05): Column = {
    val scored = profiles.toSeq.sortBy(_._1).map { case (lang, stops) =>
      val stopArr = array(stops.map(lit): _*)
      struct(
        (size(filter(words, w => array_contains(stopArr, w)))
          .cast(DoubleType) / greatest(size(words), lit(1)).cast(DoubleType))
          .as("score"),
        lit(lang).as("lang")
      )
    }
    val best = array_max(array(scored: _*))
    when(best.getField("score") >= minScore, best.getField("lang"))
      .otherwise(lit("unk"))
  }

  def qualityScores(df: DataFrame, textField: String, wordsField: String): DataFrame =
    df.withColumn("n_words_q", size(col(wordsField)).cast(LongType))
      .withColumn(
        "mean_word_len",
        aggregate(col(wordsField), lit(0L), (a, w) => a + length(w))
          .cast(DoubleType) / greatest(size(col(wordsField)), lit(1)).cast(DoubleType)
      )
      .withColumn(
        "alpha_ratio",
        size(filter(col(wordsField), w => w.rlike("^[A-Za-z]+$")))
          .cast(DoubleType) / greatest(size(col(wordsField)), lit(1)).cast(DoubleType)
      )
      .withColumn(
        "stopword_ratio",
        size(filter(col(wordsField),
          w => array_contains(array(profiles("en").map(lit): _*), w)))
          .cast(DoubleType) / greatest(size(col(wordsField)), lit(1)).cast(DoubleType)
      )

  /** Winnowing-lite fingerprint: hash char 5-grams, keep hashes ≡ 0
    * (mod `keepMod`), sorted distinct — a stable doc sketch whose size
    * scales with content, not corpus. */
  def fingerprint(text: Column, gramLen: Int = 5, keepMod: Int = 16): Column =
    array_sort(
      array_distinct(
        filter(
          transform(
            sequence(lit(1), greatest(length(text) - (gramLen - 1), lit(1))),
            i => xxhash64(text.substr(i, lit(gramLen)))
          ),
          h => pmod(h, lit(keepMod)) === 0
        )
      )
    )
}

/** Repetition signals from the published Gopher corpus-filtering rules
  * (Rae et al. 2021 §A1.1) — all row-local Column expressions: linear
  * per doc, no shuffle, fully SQL-oracle-able. */
object RepetitionStats {

  private def nonEmptyLines(text: Column): Column =
    filter(split(text, "\n"), l => length(l) > 0)

  /** fraction of non-empty lines that duplicate another line. r14:
    * reads the combined [[graft.functions.LineStatsExpr]] pass (one
    * byte scan shared with the bullet/ellipsis signals via codegen
    * subexpression elimination); HOF twin kept for the parity spec. */
  def duplicateLineFraction(text: Column): Column = {
    val st = graft.functions.functions.line_stats(text)
    st.getField("n_dup_lines").cast(DoubleType) /
      greatest(st.getField("n_lines"), lit(1)).cast(DoubleType)
  }

  private[graft] def duplicateLineFractionHof(text: Column): Column = {
    val lines = nonEmptyLines(text)
    (size(lines) - size(array_distinct(lines))).cast(DoubleType) /
      greatest(size(lines), lit(1)).cast(DoubleType)
  }

  /** occurrences of the most frequent word bigram / total bigrams
    * (Gopher's top-2-gram character fraction, word-granular). Row-local
    * O(distinct × n) — bounded by doc length, not corpus. */
  def topBigramFraction(words: Column): Column = {
    val bigrams = when(
      size(words) >= 2,
      transform(
        sequence(lit(1), size(words) - 1),
        i => concat_ws(" ", element_at(words, i), element_at(words, i + 1))
      )
    ).otherwise(array().cast(ArrayType(StringType)))
    val counts =
      transform(array_distinct(bigrams), b => size(filter(bigrams, x => x === b)))
    when(size(bigrams) > 0,
      array_max(counts).cast(DoubleType) / size(bigrams).cast(DoubleType))
      .otherwise(lit(0.0))
  }

  /** fraction of words that are pure symbols/punctuation (no letter or
    * digit) — Gopher's symbol-to-word ratio. */
  def symbolWordRatio(words: Column): Column =
    size(filter(words, w => !w.rlike("[A-Za-z0-9]")))
      .cast(DoubleType) / greatest(size(words), lit(1)).cast(DoubleType)
}

/** C4-style PII redaction: emails / phone numbers / IPv4 replaced with
  * typed placeholder tokens. Pure `regexp_replace` chain (codegen'd,
  * linear); patterns stay in the Java∩RE2 regex subset so the DuckDB
  * oracle replays them verbatim. */
object PiiRedact {
  val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val phoneRe = "\\b\\d{3}[-.]\\d{3,4}[-.]\\d{4}\\b"
  val ipv4Re = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"

  def redact(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, emailRe, "<EMAIL>"),
        phoneRe, "<PHONE>"),
      ipv4Re, "<IP>")

  /** Luhn checksum over a digit string (ISO/IEC 7812) — the validation
    * step that separates a real card number from any 16-digit id, so
    * card redaction doesn't shred order numbers and EAN codes the way
    * a bare `\d{16}` does. Pure integer HOF fold, oracle-replayable. */
  /** The doubled-digit checksum sum itself (digits indexed from the
    * RIGHT, odd positions kept, even positions doubled with 9-cast). */
  def luhnSum(num: Column): Column = {
    val n = length(num)
    aggregate(
      sequence(lit(1), n),
      lit(0),
      (acc, i) => {
        val d = num.substr(n - i + 1, lit(1)).cast("int")
        acc + when(i % 2 === 1, d)
          .otherwise(when(d * 2 > 9, d * 2 - 9).otherwise(d * 2))
      })
  }

  def luhnValid(num: Column): Column = {
    val n = length(num)
    n >= 13 && n <= 19 && luhnSum(num) % 10 === 0
  }

  val cardRe = "\\b\\d{13,19}\\b"

  /** Replace every Luhn-VALID 13-19 digit run with `<CARD>`; invalid
    * runs (order ids, timestamps) are left alone. Candidates come from
    * one regexp scan; the conditional replacement folds over the
    * candidate list — a regexp_replace cannot express the checksum
    * condition. Row-local, zero shuffle. */
  def redactCards(text: Column): Column =
    aggregate(
      regexp_extract_all(text, lit(cardRe), lit(0)),
      text,
      (acc, c) =>
        when(luhnValid(c), call_function("replace", acc, c, lit("<CARD>")))
          .otherwise(acc))

  /** IBAN remainder (ISO 13616 mod-97-10): move the first 4 chars to
    * the end, map A..Z to 10..35, and take the resulting decimal
    * number mod 97 — valid iff the remainder is 1. The number runs to
    * 30+ digits, far past any integer type, so the remainder folds one
    * char at a time: digits step `acc = (acc*10 + d) % 97`, letters
    * `acc = (acc*100 + v) % 97`. Pure integer HOF fold,
    * oracle-replayable, same discipline as [[luhnSum]]. */
  def ibanMod97(iban: Column): Column = {
    val re = concat(iban.substr(lit(5), length(iban)),
      iban.substr(lit(1), lit(4)))
    aggregate(
      sequence(lit(1), length(re)),
      lit(0L),
      (acc, i) => {
        val a = ascii(re.substr(i, lit(1))).cast(LongType)
        when(a >= 65, (acc * 100L + (a - 55L)) % 97L)
          .otherwise((acc * 10L + (a - 48L)) % 97L)
      })
  }

  def ibanValid(iban: Column): Column =
    length(iban) >= 15 && length(iban) <= 34 && ibanMod97(iban) === 1L

  /** Country code + check digits + 11-30 alphanumeric BBAN. A word
    * boundary on each side keeps hex blobs and base64 runs out. */
  val ibanRe = "\\b[A-Z]{2}[0-9]{2}[A-Z0-9]{11,30}\\b"

  /** Replace every checksum-VALID IBAN-shaped run with `<IBAN>`;
    * invalid runs (ticket ids, tracking codes that merely look like
    * IBANs) are left alone — [[redactCards]]' exact pattern with the
    * mod-97 test in place of Luhn. Row-local, zero shuffle. */
  def redactIbans(text: Column): Column =
    aggregate(
      regexp_extract_all(text, lit(ibanRe), lit(0)),
      text,
      (acc, c) =>
        when(ibanValid(c), call_function("replace", acc, c, lit("<IBAN>")))
          .otherwise(acc))
}

/** Mapper wrapper: redact PII in the listed text fields. */
final case class RedactPii(fields: Seq[String]) extends Mapper {
  override def inputFields: Seq[String] = fields
  override def outputFields: Seq[String] = fields
  override protected def build(df: DataFrame): DataFrame =
    fields.foldLeft(df)((acc, f) => acc.withColumn(f, PiiRedact.redact(col(f))))
}
