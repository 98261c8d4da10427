package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Mapper

/** Corpus-level training-data ops beyond per-doc quality and whole-doc
  * dedup: paragraph-level dedup (C4/Dolma-style), LM-familiarity scoring
  * (the CCNet perplexity-filter shape), GPT-style concat-and-chunk
  * sequence packing, and corpus n-gram statistics.
  *
  * 100 TB discipline, per op:
  *   - [[ParagraphDedup]]: two aggregations (by paragraph, by doc), both
  *     with map-side partial aggregation so hot boilerplate paragraphs
  *     collapse before the shuffle — never a window over a hot key;
  *   - [[LmScore]]: one count shuffle + one join on the n-gram key (AQE
  *     skew-split handles head grams) + one doc-key aggregation;
  *   - [[PackSequences]]: a two-level distributed prefix sum — per-bucket
  *     windows run partition-parallel and the bucket-totals table is
  *     O(#buckets), so nothing funnels through one partition;
  *   - [[CorpusStats.topNgrams]]: partial-agg count + TakeOrdered top-k
  *     (no global sort).
  */

/** C4/Dolma-style paragraph-level exact dedup: split each document on
  * `delimiter`, keep only the globally-FIRST occurrence of every distinct
  * paragraph (first = smallest `(id, position)`), and reassemble the
  * surviving paragraphs of each doc in their original order. Documents
  * whose every paragraph appeared earlier elsewhere collapse to the empty
  * string (C4 removes the lines, not the doc).
  *
  * Shape: posexplode → groupBy(paragraph).agg(min(id, pos)) → the
  * aggregate's output IS the survivor set (no join back onto the exploded
  * table, so a paragraph duplicated 100M times costs one combiner row per
  * map task, not a hot reducer) → groupBy(id) reassembles. Both shuffles
  * carry one row per *distinct* (paragraph | doc), not per occurrence.
  *
  * No direct reference counterpart (smashed dedups nothing); this is the
  * corpus-curation companion to [[ExactDedup]].
  */
/** Shared explode/reassemble machinery for the line-level corpus ops
  * ([[ParagraphDedup]], [[BoilerplateLines]]): split docs into
  * positioned lines, and splice a filtered line set back into the
  * original frame as one delimiter-joined string per doc (docs whose
  * every line was dropped become `""` — C4 removes lines, not docs). */
private[operators] object LineOps {

  /** posexplode on the delimiter → (__lo_id, __lo_pos, __lo_para). */
  def explodeLines(
      df: DataFrame,
      idField: String,
      textField: String,
      delimiter: String
  ): DataFrame =
    df.select(
      col(idField).as("__lo_id"),
      posexplode(split(col(textField), java.util.regex.Pattern.quote(delimiter)))
        .as(Seq("__lo_pos", "__lo_para")))

  /** Reassemble `kept` (__lo_id, __lo_pos, __lo_para) rows in original
    * order and attach to `df` as `dest`. */
  def rebuild(
      df: DataFrame,
      kept: DataFrame,
      idField: String,
      textField: String,
      dest: String,
      delimiter: String
  ): DataFrame = {
    val rebuilt = kept
      .groupBy(col("__lo_id"))
      .agg(
        sort_array(collect_list(struct(col("__lo_pos"), col("__lo_para"))))
          .as("__lo_ps"))
      .select(
        col("__lo_id"),
        array_join(
          transform(col("__lo_ps"), p => p.getField("__lo_para")),
          delimiter
        ).as("__lo_text"))
    val joined = df
      .join(rebuilt, df(idField) === rebuilt("__lo_id"), "left")
      .withColumn("__lo_out", coalesce(col("__lo_text"), lit("")))
      .drop("__lo_id", "__lo_text")
    val out =
      if (dest == textField) joined.drop(textField)
      else if (df.columns.contains(dest)) joined.drop(dest)
      else joined
    val cols =
      if (df.columns.contains(dest)) df.columns.toSeq
      else df.columns.toSeq :+ dest
    out
      .withColumnRenamed("__lo_out", dest)
      .select(cols.map(col): _*)
  }
}

final case class ParagraphDedup(
    textField: String,
    idField: String,
    delimiter: String = "\n",
    destinationField: Option[String] = None
) extends Mapper {
  private def dest = destinationField.getOrElse(textField)
  override def inputFields: Seq[String] = Seq(textField, idField)
  override def outputFields: Seq[String] = Seq(dest)
  override protected def build(df: DataFrame): DataFrame = {
    val paras = LineOps.explodeLines(df, idField, textField, delimiter)
    // keep-first survivor per distinct paragraph; struct min is
    // lexicographic (id, pos) — the global first occurrence
    val kept = paras
      .groupBy(col("__lo_para"))
      .agg(min(struct(col("__lo_id"), col("__lo_pos"))).as("__lo_first"))
      .select(
        col("__lo_first.__lo_id").as("__lo_id"),
        col("__lo_first.__lo_pos").as("__lo_pos"),
        col("__lo_para")
      )
    LineOps.rebuild(df, kept, idField, textField, dest, delimiter)
  }
}

/** Boilerplate-line removal — the CCNet/RefinedWeb frequency variant of
  * [[ParagraphDedup]]: instead of keep-first, drop EVERY occurrence of
  * any line whose corpus-wide count reaches `minCount` (nav bars, cookie
  * banners, licence footers — lines whose frequency itself is the
  * boilerplate signal), keeping all below-threshold lines where they
  * stand.
  *
  * Shape: posexplode → count by xxhash64(line) with map-side partial agg
  * (one combiner row per distinct line) → the ≥threshold hash set is
  * broadcast and anti-joined in the scan (8-byte probe; line TEXT
  * shuffles exactly once, in the unavoidable per-doc rebuild) → groupBy
  * doc reassembles. The frequent set is corpus-frequency-bounded —
  * #lines with count ≥ K is at most #occurrences/K — so the broadcast
  * stays small for any useful threshold. Hash-probe decisions differ
  * from exact text equality only on 64-bit collisions. */
final case class BoilerplateLines(
    textField: String,
    idField: String,
    delimiter: String = "\n",
    minCount: Long = 10L,
    destinationField: Option[String] = None
) extends Mapper {
  require(minCount >= 2, s"minCount must be >= 2, got $minCount")
  private def dest = destinationField.getOrElse(textField)
  override def inputFields: Seq[String] = Seq(textField, idField)
  override def outputFields: Seq[String] = Seq(dest)
  override protected def build(df: DataFrame): DataFrame = {
    val paras = LineOps.explodeLines(df, idField, textField, delimiter)
      .withColumn("__bl_h", xxhash64(col("__lo_para")))
    val frequent = paras
      .groupBy(col("__bl_h"))
      .agg(count(lit(1)).as("__bl_n"))
      .filter(col("__bl_n") >= minCount)
      .select("__bl_h")
    // broadcast only when minCount is high enough that the frequent set is
    // provably small (bound: #paragraph-occurrences / minCount rows of one
    // 8-byte hash each). At low thresholds on a large corpus that bound can
    // exceed broadcast limits and abort the job — leave the strategy to the
    // optimizer/AQE there, which picks broadcast itself when the build side
    // measures small.
    val frequentSide = if (minCount >= 100) broadcast(frequent) else frequent
    val kept = paras
      .join(frequentSide, Seq("__bl_h"), "left_anti")
      .drop("__bl_h")
    LineOps.rebuild(df, kept, idField, textField, dest, delimiter)
  }
}

/** LM-familiarity scoring — the CCNet perplexity-filter shape, made
  * integer-exact. CCNet scores each document with a KenLM n-gram model
  * trained on a reference corpus and drops the high-perplexity tail;
  * here the "model" is the n-gram count table of the reference corpus
  * itself and the score is the mean corpus frequency of the document's
  * n-grams, in fixed point:
  *
  *   score = floor(scale · Σ count(gᵢ) / #grams)
  *
  * Rare/garbled text scores low (its n-grams appear nowhere else),
  * natural repeated phrasing scores high — the same ordering a smoothed
  * LM log-prob induces, but in pure BIGINT arithmetic so any engine
  * reproduces it bit-for-bit (a float log differs in the last ulp across
  * libms, which a hash gate cannot tolerate).
  */
object LmScore {

  /** Append `outputField` (+ `countField` = #grams) to `docs`, scoring
    * `wordsField` against the n-gram counts of `reference` (pass `docs`
    * itself for self-scoring). Docs with fewer than `n` words score 0.
    *
    * One shuffle to count reference grams, one join on the gram key
    * (head grams are skewed — AQE skew-split applies; the count side has
    * exactly one row per distinct gram), one aggregation by doc id. */
  def familiarity(
      docs: DataFrame,
      idField: String,
      wordsField: String,
      reference: DataFrame,
      refWordsField: String,
      n: Int = 2,
      scale: Long = 1000000L,
      outputField: String = "lm_score",
      countField: String = "n_grams"
  ): DataFrame = {
    val counts = reference
      .select(explode(Decontaminate.ngrams(col(refWordsField), n)).as("__lm_g"))
      .groupBy(col("__lm_g"))
      .agg(count(lit(1)).as("__lm_c"))
    val scores = docs
      .select(
        col(idField).as("__lm_id"),
        explode(Decontaminate.ngrams(col(wordsField), n)).as("__lm_g")
      )
      // left join: grams absent from the reference contribute count 0
      // (coalesced below), but the per-doc gram total must still
      // include them
      .join(counts, Seq("__lm_g"), "left")
      .groupBy(col("__lm_id"))
      .agg(
        count(lit(1)).as("__lm_nb"),
        sum(coalesce(col("__lm_c"), lit(0L))).as("__lm_sc")
      )
    docs
      .join(scores, docs(idField) === scores("__lm_id"), "left")
      .drop("__lm_id")
      .withColumn(countField, coalesce(col("__lm_nb"), lit(0L)))
      // `div` keeps the arithmetic in BIGINT end-to-end (a double
      // division + floor would be inexact past 2^53 at corpus scale)
      .withColumn("__lm_prod", lit(scale) * coalesce(col("__lm_sc"), lit(0L)))
      .withColumn(
        outputField,
        when(col("__lm_nb") > 0, expr("__lm_prod div __lm_nb"))
          .otherwise(lit(0L))
          .cast(LongType)
      )
      .drop("__lm_nb", "__lm_sc", "__lm_prod")
  }
}

/** GPT-style sequence packing: conceptually concatenate all token
  * sequences in `idField` order into one stream and cut it into
  * fixed-size chunks of `chunkSize`; report, per document, its token
  * offsets and the chunk range it lands in. This is the standard
  * pretraining "concat-and-chunk" layout (no padding waste, documents
  * may straddle chunk boundaries).
  *
  * The global running sum is a two-level distributed scan, NOT a single
  * unpartitioned window (which would funnel the corpus through one
  * task): rows bucket by `floor(id / bucketSpan)`, the within-bucket
  * cumulative sum runs partition-parallel, and the bucket prefix totals
  * — O(#buckets) rows, millions of docs per bucket at scale — are the
  * only thing a tiny unpartitioned window touches before broadcasting
  * back.
  */
final case class PackSequences(
    idField: String,
    lengthField: String,
    chunkSize: Long,
    bucketSpan: Long = 1L << 20
) extends Mapper {
  require(chunkSize > 0, "chunkSize must be positive")
  require(bucketSpan > 0, "bucketSpan must be positive")
  override def inputFields: Seq[String] = Seq(idField, lengthField)
  override def outputFields: Seq[String] =
    Seq("start_offset", "end_offset", "first_chunk", "last_chunk")
  override protected def build(df: DataFrame): DataFrame = {
    val len = col(lengthField).cast(LongType)
    // BIGINT `div` throughout: double division + floor silently rounds
    // across integer boundaries once offsets pass 2^53
    val withB = df.withColumn(
      "__ps_b",
      expr(s"CAST($idField AS BIGINT) div ${bucketSpan}L")
    )
    val inBucket = Window
      .partitionBy(col("__ps_b"))
      .orderBy(col(idField))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val within = withB.withColumn(
      "__ps_within",
      sum(len).over(inBucket) - len
    )
    val bucketTotals = withB
      .groupBy(col("__ps_b"))
      .agg(sum(len).as("__ps_btot"))
    // O(#buckets) rows: this window is over the tiny aggregate, never the
    // data — the constant-valued partition key (pmod(b,1) = 0 for every
    // row; non-foldable, so the optimizer can't strip it) states the
    // single-partition intent explicitly instead of tripping the
    // WindowExec warning
    val bucketPrefix = bucketTotals
      .withColumn(
        "__ps_bpre",
        coalesce(
          sum(col("__ps_btot")).over(
            Window
              .partitionBy(pmod(col("__ps_b"), lit(1)))
              .orderBy(col("__ps_b"))
              .rowsBetween(Window.unboundedPreceding, -1)
          ),
          lit(0L)
        )
      )
      .select(col("__ps_b"), col("__ps_bpre"))
    within
      .join(broadcast(bucketPrefix), Seq("__ps_b"))
      .withColumn("start_offset", col("__ps_bpre") + col("__ps_within"))
      .withColumn("end_offset", col("start_offset") + len)
      .withColumn("first_chunk", expr(s"start_offset div ${chunkSize}L"))
      .withColumn(
        "last_chunk",
        when(len > 0, expr(s"(end_offset - 1) div ${chunkSize}L"))
          .otherwise(col("first_chunk"))
      )
      .drop("__ps_b", "__ps_within", "__ps_bpre")
  }
}

/** Substring-overlap candidate pairs from selected fingerprints — the
  * winnowing/MOSS inversion used for span-level dedup in code-corpus
  * pipelines (The Stack / StarCoder data cards). Invert a per-doc
  * fingerprint ARRAY column (e.g. [[TextAnalysis.fingerprint]], or an
  * md5-selected variant for engine-portable replay) into a
  * (fingerprint → doc) table, join bucket-locally, and keep pairs
  * sharing at least `minShared` fingerprints. Complements whole-doc
  * minhash: a copied long SPAN inside an otherwise-different document
  * shares its span fingerprints outright while sitting far below any
  * whole-doc jaccard threshold.
  *
  * Scale shape: explode is linear in selected fingerprints (~1/keepMod
  * of text), the join is keyed on the fingerprint value, and
  * `maxBucketSize` bounds hot fingerprints (boilerplate spans) with the
  * same per-bucket deterministic down-sample as
  * [[MinHashLSH.candidatePairs]] — join work capped at cap² per
  * fingerprint. */
/** Winnowing fingerprints (Schleimer, Wilkerson & Aiken 2003,
  * "Winnowing: Local Algorithms for Document Fingerprinting" §5) — the
  * MOSS selection scheme: slide a window of `w` consecutive k-gram
  * hashes and keep each window's MINIMUM, rightmost on ties. Two
  * guarantees the mod-p selection ([[TextAnalysis.fingerprint]])
  * cannot give: every shared substring of at least w+k-1 words is
  * detected (a window that fits inside the match must pick the same
  * gram in both docs), and gaps between selected positions are at most
  * w (density ~2/(w+1)) — no long unfingerprinted stretches for an
  * adversarial or just unlucky document.
  *
  * Shape: row-local HOFs (O(n·w) fold per doc — w is small and
  * constant; the windows stay inside one row, zero shuffle); cross-doc
  * matching feeds the selected hashes to
  * [[FingerprintOverlap.candidatePairs]]'s capped inverted-index join.
  * The rightmost-tie fold works for any 64-bit hash family (struct
  * accumulator, no packing tricks), so the production path runs
  * xxhash64 grams while oracle-parity queries pass a 32-bit md5-window
  * hasher. */
object Winnowing {

  /** Hashed word k-grams (whole-text fallback below k words, mirroring
    * [[TextShingles.shingles]]). `hasher` must yield LongType. */
  def gramHashes(
      words: Column,
      k: Int,
      hasher: Column => Column = c => xxhash64(c)
  ): Column =
    transform(TextShingles.shingles(words, k), sh => hasher(sh))

  /** Window-min selection over an array<long> of gram hashes: one
    * struct<pos,hash> per distinct selection, pos = 0-based gram index.
    * Fewer than `w` grams → the single whole-array minimum.
    *
    * The gram array is BOUND AS A LAMBDA VARIABLE before the window
    * fold (the CdcChunker discipline): Catalyst's CollapseProject
    * would otherwise inline an expression-valued `grams` (e.g. the md5
    * hash chain from [[gramHashes]]) into every `element_at` of the
    * O(n·w) fold — turning n hashes per row into n·w. A lambda
    * variable is evaluated once per row, whatever feeds it. */
  def select(grams: Column, w: Int): Column = {
    require(w >= 1, s"window must be >= 1, got $w")
    // r13: tight-loop native expression — the HOF fold below (kept as
    // the parity twin) allocated a struct per (window, element) and ran
    // interpreted, O(n·w) with per-element lambda dispatch
    graft.functions.functions.winnow_select(grams, w)
  }

  /** The superseded HOF formulation, kept ONLY as the independent twin
    * for the native-kernel parity spec — do not use in production
    * paths. */
  private[graft] def selectHof(grams: Column, w: Int): Column = {
    require(w >= 1, s"window must be >= 1, got $w")
    element_at(
      transform(array(grams), g => selectBound(g, w)),
      1)
  }

  private def selectBound(grams: Column, w: Int): Column = {
    val n = size(grams)
    array_distinct(
      transform(
        sequence(lit(0), greatest(n - w, lit(0))),
        i =>
          aggregate(
            sequence(i, least(i + w - 1, n - 1)),
            struct(lit(-1).as("pos"), lit(Long.MaxValue).as("hash")),
            (acc, j) => {
              val h = element_at(grams, j + 1)
              when(h <= acc.getField("hash"),
                struct(j.as("pos"), h.as("hash"))).otherwise(acc)
            }
          )
      )
    )
  }

  /** Convenience: words → selected fingerprints in one call. */
  def fingerprints(
      words: Column,
      k: Int,
      w: Int,
      hasher: Column => Column = c => xxhash64(c)
  ): Column = select(gramHashes(words, k, hasher), w)
}

object FingerprintOverlap {

  def candidatePairs(
      df: DataFrame,
      idField: String,
      fpField: String,
      minShared: Int = 2,
      maxBucketSize: Option[Int] = None,
      hasher: Column => Column = c => xxhash64(c)
  ): DataFrame = {
    val inverted = df.select(
      col(idField).as("__fo_id"),
      explode(col(fpField)).as("__fo_f")
    )
    candidatePairsInverted(inverted, "__fo_id", "__fo_f", minShared,
      maxBucketSize, hasher)
  }

  /** [[candidatePairs]] over an ALREADY-EXPLODED (id, fingerprint) table
    * — for callers whose fingerprint computation is cheaper as a
    * top-level codegen'd projection over exploded positions than as an
    * interpreted per-element array HOF (r13). Rows must be distinct per
    * (id, fingerprint), exactly as [[candidatePairs]]' distinct arrays
    * guarantee. */
  def candidatePairsInverted(
      df: DataFrame,
      idField: String,
      fpField: String,
      minShared: Int = 2,
      maxBucketSize: Option[Int] = None,
      hasher: Column => Column = c => xxhash64(c)
  ): DataFrame = {
    val inverted =
      df.select(col(idField).as("__fo_id"), col(fpField).as("__fo_f"))
    // capped: bounded postings per fingerprint (see [[Postings]]), ranked
    // by the salted hash(id|fp). Either leg emits one row per shared
    // fingerprint, so rows per pair are its `shared` count.
    Postings.candidatePairs(inverted, Seq("__fo_f"), "__fo_id",
      hasher(concat_ws("|", col("__fo_id"), col("__fo_f"))), maxBucketSize)
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
  }
}

/** Data-mixture budget allocation. */
object Mixtures {

  /** UniMax-style water-filling (Chung et al. 2023, "UniMax: Fairer and
    * More Effective Language Sampling"): distribute a token `budget`
    * across sources, capping each source at `maxEpochs` passes over its
    * data and never starving small sources. With per-source supplies
    * sᵢ = tokensᵢ·maxEpochs sorted ascending, a source is fully
    * allocated while sᵢ·(slots remaining) ≤ budget remaining; everyone
    * past the first failure gets the integer water level
    * λ = (budget − Σ full supplies) div (#unfull). The failure condition
    * is provably monotone in i (if sᵢ(k−i+1) > Rᵢ then
    * sᵢ₊₁(k−i) ≥ sᵢ(k−i) > Rᵢ − sᵢ = Rᵢ₊₁), so a single pass of window
    * expressions computes the exact greedy result — no loop.
    *
    * `counts` has ONE ROW PER SOURCE (a corpus-scale groupBy away), so
    * the unpartitioned windows here touch a table of #sources rows —
    * dozens at 100 TB — never the corpus. All arithmetic is BIGINT
    * (`div`), so any engine reproduces the allocation exactly.
    *
    * Output: (source, tokens, supply, alloc); alloc/supply is the
    * per-source sampling rate, alloc div tokens the whole epochs. */
  def waterFill(
      counts: DataFrame,
      sourceField: String,
      tokensField: String,
      budget: Long,
      maxEpochs: Long = 1L
  ): DataFrame = {
    require(budget >= 0, "budget must be non-negative")
    require(maxEpochs > 0, "maxEpochs must be positive")
    // one row per SOURCE (dozens at 100 TB, never the corpus) — the
    // constant-valued partition key (pmod(supply,1) = 0 on every row;
    // non-foldable, so it survives the optimizer) makes the intentional
    // single partition explicit instead of tripping the WindowExec
    // warning
    val onePart = pmod(col("supply"), lit(1))
    val bysupply =
      Window.partitionBy(onePart).orderBy(col("supply"), col(sourceField))
    val everything = Window
      .partitionBy(onePart)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    counts
      .select(
        col(sourceField),
        col(tokensField).cast(LongType).as("tokens")
      )
      .withColumn("supply", col("tokens") * maxEpochs)
      .withColumn("__idx", row_number().over(bysupply))
      .withColumn(
        "__cum",
        sum(col("supply")).over(
          bysupply.rowsBetween(Window.unboundedPreceding, Window.currentRow))
      )
      .withColumn("__k", count(lit(1)).over(everything))
      .withColumn(
        "__full",
        col("supply") * (col("__k") - col("__idx") + 1) <=
          lit(budget) - (col("__cum") - col("supply"))
      )
      .withColumn(
        "__fsum",
        coalesce(
          sum(when(col("__full"), col("supply"))).over(everything),
          lit(0L))
      )
      .withColumn(
        "__u",
        col("__k") - sum(when(col("__full"), 1L).otherwise(0L)).over(everything)
      )
      // Guarded: when the budget covers every supply, __u is 0 and the
      // raw div would divide by zero (an ANSI-mode runtime error; the
      // alloc when-chain never reads __lam in that case anyway).
      .withColumn(
        "__lam",
        when(col("__u") > 0, expr(s"(${budget}L - __fsum) div __u"))
          .otherwise(lit(0L)))
      .withColumn(
        "alloc",
        when(col("__full"), col("supply"))
          .when(col("__u") > 0, col("__lam"))
          .otherwise(col("supply"))
      )
      .select(col(sourceField), col("tokens"), col("supply"), col("alloc"))
  }
}

object PackSequences {

  /** Materialize the packed TRAINING ROWS that [[PackSequences]]'
    * offsets describe: explode each doc's token array onto the global
    * concatenation offset, group by `chunk = pos div chunkSize`, and
    * emit every chunk's tokens in stream order — the fixed-length rows
    * a pretraining loader actually consumes (documents straddle chunk
    * boundaries; nothing is padded). The explode/groupBy shuffles one
    * row per TOKEN keyed by the 8-byte chunk id — the unavoidable cost
    * of re-chunking a corpus, with map-side partial collect and perfect
    * key balance (chunk ids are dense integers). `dropLast` drops the
    * single short tail chunk for strictly rectangular output. */
  def packChunks(
      df: DataFrame,
      idField: String,
      tokensField: String,
      chunkSize: Long,
      bucketSpan: Long = 1L << 20,
      dropLast: Boolean = false
  ): DataFrame = {
    val withN = df.withColumn("__pc_n", size(col(tokensField)).cast(LongType))
    val offsets =
      PackSequences(idField, "__pc_n", chunkSize, bucketSpan)(withN)
    val toks = offsets
      .select(
        col("start_offset"),
        posexplode(col(tokensField)).as(Seq("__pc_i", "__pc_tok"))
      )
      .withColumn("__pc_pos", col("start_offset") + col("__pc_i"))
      .withColumn("chunk", expr(s"__pc_pos div ${chunkSize}L"))
    val chunks = toks
      .groupBy(col("chunk"))
      .agg(
        sort_array(collect_list(struct(col("__pc_pos"), col("__pc_tok"))))
          .as("__pc_ps")
      )
      .select(
        col("chunk"),
        transform(col("__pc_ps"), p => p.getField("__pc_tok")).as("tokens")
      )
    if (dropLast) chunks.filter(size(col("tokens")) === chunkSize)
    else chunks
  }

  /** [[packChunks]] plus DOCUMENT BOUNDARIES: each chunk also carries
    * `seq_lens` — the in-order lengths of the document segments packed
    * into it (a doc straddling a chunk boundary contributes one
    * segment to each side). This is the varlen-attention input
    * (`cu_seqlens` = its prefix sum): without it a packed-training
    * consumer cannot build the block-diagonal mask that stops tokens
    * attending across document boundaries, or reset position ids per
    * document. Same shuffle as [[packChunks]] (one row per token keyed
    * by dense chunk id); the segment extraction is a native HOF pass
    * over each chunk's already-sorted struct array. */
  def packChunksWithBoundaries(
      df: DataFrame,
      idField: String,
      tokensField: String,
      chunkSize: Long,
      bucketSpan: Long = 1L << 20,
      dropLast: Boolean = false
  ): DataFrame = {
    val withN = df.withColumn("__pc_n", size(col(tokensField)).cast(LongType))
    val offsets =
      PackSequences(idField, "__pc_n", chunkSize, bucketSpan)(withN)
    val toks = offsets
      .select(
        col(idField).as("__pc_doc"),
        col("start_offset"),
        posexplode(col(tokensField)).as(Seq("__pc_i", "__pc_tok"))
      )
      .withColumn("__pc_pos", col("start_offset") + col("__pc_i"))
      .withColumn("chunk", expr(s"__pc_pos div ${chunkSize}L"))
    val a = col("__pc_ps")
    val bnds = filter(
      transform(a, (s, i) =>
        when(
          i === 0 ||
            element_at(a, i).getField("__pc_doc") =!= s.getField("__pc_doc"),
          i).otherwise(lit(-1))),
      x => x >= 0)
    val ends = concat(slice(bnds, lit(2), size(bnds) - 1), array(size(a)))
    val chunks = toks
      .groupBy(col("chunk"))
      .agg(
        sort_array(collect_list(
          struct(col("__pc_pos"), col("__pc_tok"), col("__pc_doc"))))
          .as("__pc_ps")
      )
      .select(
        col("chunk"),
        transform(a, p => p.getField("__pc_tok")).as("tokens"),
        zip_with(bnds, ends, (s, e) => (e - s).cast(LongType)).as("seq_lens")
      )
    if (dropLast) chunks.filter(size(col("tokens")) === chunkSize)
    else chunks
  }
}

/** Exact-substring deduplication — the ExactSubstr policy of Lee et al.
  * 2021 ("Deduplicating Training Data Makes Language Models Better",
  * §4.1), re-expressed Spark-first. Any `gramLen`-char substring that
  * occurs more than once in the corpus is CUT OUT of every document
  * except the one holding its globally-first occurrence (first =
  * smallest `(id, position)`); overlapping duplicated grams merge into
  * maximal removed spans, so a verbatim copied passage of any length
  * ≥ gramLen disappears from the copies while the original keeps it.
  * Complements [[FingerprintOverlap]] (which only *flags* span-sharing
  * pairs) and [[ParagraphDedup]] (which needs the copy to align on
  * delimiter boundaries — a quoted paragraph mid-sentence escapes it).
  *
  * Shape, in place of the paper's monolithic suffix array (which needs
  * the whole corpus addressable by one process): one linear explode to
  * (id, pos, hash(gram)) — the hash is 8 bytes per text char, the
  * known cost of exact-substring dedup; a hash-keyed aggregation whose
  * map-side combine collapses hot boilerplate grams before the shuffle
  * (count + min-struct both combine); a join back on the gram hash
  * (AQE skew-split handles head grams); then one doc-keyed aggregation
  * collecting marked positions — bounded by the doc's own length — and
  * a single codegen'd `aggregate` fold that rebuilds the text around
  * the merged spans. Nothing is quadratic and no window lacks a
  * partition key.
  *
  * Hashing: `xxhash64` in production (at ~10¹⁰ grams the 64-bit
  * birthday bound expects only a handful of collisions, each costing
  * one spuriously-removed span, the paper's own tolerance); pass
  * `hasher = md5` for engine-portable replay. */
object ExactSubstrDedup {

  /** Returns `df` with `destinationField` (default: `textField`
    * replaced) holding the text with all non-first duplicated spans
    * removed. Documents shorter than `gramLen` pass through unchanged. */
  def removeDuplicateSpans(
      df: DataFrame,
      idField: String,
      textField: String,
      gramLen: Int = 50,
      hasher: Column => Column = c => xxhash64(c),
      destinationField: Option[String] = None
  ): DataFrame = {
    val L    = gramLen
    val dest = destinationField.getOrElse(textField)
    val grams = df.select(
      col(idField).as("__es_id"),
      explode(
        transform(
          // sequence(1, n) on n ≤ 0 would count DOWN; guard to empty.
          when(
            length(col(textField)) >= L,
            sequence(lit(1), length(col(textField)) - (L - 1))
          ).otherwise(array().cast("array<int>")),
          p => struct(p.as("p"), hasher(col(textField).substr(p, lit(L))).as("h"))
        )
      ).as("__es_g")
    ).select(
      col("__es_id"),
      col("__es_g.p").as("__es_pos"),
      col("__es_g.h").as("__es_h")
    )
    // one combiner row per distinct gram per map task; only grams seen
    // more than once anywhere survive
    val dups = grams
      .groupBy(col("__es_h"))
      .agg(
        count(lit(1)).as("__es_c"),
        min(struct(col("__es_id"), col("__es_pos"))).as("__es_first")
      )
      .filter(col("__es_c") > 1)
      .select(col("__es_h"), col("__es_first"))
    val marked = grams
      .join(dups, "__es_h")
      .filter(!(col("__es_id") === col("__es_first.__es_id") &&
        col("__es_pos") === col("__es_first.__es_pos")))
      .groupBy(col("__es_id"))
      .agg(sort_array(collect_list(col("__es_pos"))).as("__es_ps"))
    val joined = df.join(marked, col(idField) === marked("__es_id"), "left")
    val t = col(textField)
    // fold the sorted span starts left-to-right: emit the text between
    // the cursor and the next span, then advance the cursor past it
    // (merging overlaps via greatest); finish with the tail
    val cut = aggregate(
      col("__es_ps"),
      struct(lit(1).as("cur"), lit("").as("acc")),
      (acc, p) =>
        struct(
          greatest(acc("cur"), p + lit(L)).as("cur"),
          concat(
            acc("acc"),
            when(p > acc("cur"), t.substr(acc("cur"), p - acc("cur")))
              .otherwise(lit(""))
          ).as("acc")
        ),
      acc => concat(acc("acc"), t.substr(acc("cur"), length(t) - acc("cur") + lit(1)))
    )
    joined
      .withColumn(dest, when(col("__es_ps").isNull, t).otherwise(cut))
      .drop("__es_id", "__es_ps")
  }
}

/** Corpus-level n-gram statistics. */
object CorpusStats {

  /** Top-`k` word `n`-grams by frequency, ties broken by gram text —
    * a total order, so the cut is deterministic. Partial-aggregated
    * count + `orderBy().limit(k)` lowers to TakeOrderedAndProject:
    * each partition keeps a k-heap, the driver merges k·p rows — no
    * global sort of the gram table. */
  def topNgrams(
      docs: DataFrame,
      wordsField: String,
      n: Int,
      k: Int
  ): DataFrame =
    docs
      .select(explode(Decontaminate.ngrams(col(wordsField), n)).as("gram"))
      .groupBy(col("gram"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("gram"))
      .limit(k)

  /** Top-`k` distinctive terms per document by tf·idf with LINEAR
    * inverse document frequency (`score = tf · N/df`, ppm-scaled):
    * comparing `tf₁·N/df₁` against `tf₂·N/df₂` needs no logarithm, so
    * the whole ranking is integer-exact and engine-replayable — the
    * log-damped variant reorders only where `tf` ratios and `df`
    * ratios pull in opposite directions (swap in `ln` via
    * `functions.log` when exactness isn't required). Keyword
    * extraction / per-doc topical signature, the retrieval classic.
    *
    * Shape: tf partial-aggregates map-side; df is one term-keyed agg
    * off the already-grouped tf table; N broadcasts as a one-row agg;
    * the final rank is a window PARTITIONED by doc. Scale note: the
    * score is pure BIGINT arithmetic (`integral_divide`, never a
    * double detour), so the bound is 2^63 on `1e6·tf·N`, i.e.
    * `tf·N ≲ 9·10¹²` — with tf ~10³ that is N ≳ 10¹⁰ docs; at corpus
    * sizes nearing that, drop the scale to 1e3 or pre-cap tf; wired
    * as-is for the test SFs. */
  def tfIdfTopTerms(
      docs: DataFrame,
      idField: String,
      wordsField: String,
      k: Int
  ): DataFrame = {
    val tf = docs
      .select(col(idField).as("__ti_id"), explode(col(wordsField)).as("term"))
      .groupBy("__ti_id", "term")
      .agg(count(lit(1)).as("tf"))
    val dft = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val n = docs.select(col(idField)).distinct()
      .agg(count(lit(1)).as("__ti_n"))
    val w = Window.partitionBy("__ti_id")
      .orderBy(col("score_ppm").desc, col("term"))
    tf.join(dft, "term")
      .crossJoin(broadcast(n))
      .withColumn("score_ppm",
        graft.functions.functions.integral_divide(
          lit(1000000L) * col("tf") * col("__ti_n"), col("df")))
      .withColumn("rank", row_number().over(w).cast(LongType))
      .filter(col("rank") <= k)
      .select(col("__ti_id").as(idField), col("term"), col("tf"),
        col("df"), col("score_ppm"), col("rank"))
  }

  /** Per-shard n-gram novelty curve: for shards ordered by their key
    * (crawl snapshot, ingest batch, source tranche), the fraction of
    * each shard's DISTINCT grams not seen in any earlier shard — the
    * "is the next crawl still adding anything?" signal that decides
    * when more of a source stops paying for its tokens.
    *
    * Shape: distinct (gram, shard) pairs partial-aggregate map-side;
    * one shuffle keyed on the gram groups each gram's shard set
    * (state per gram = O(#shards), a handful of longs); the re-explode
    * shuffles #distinct-pairs rows keyed on the shard. Grams cross the
    * wire as given — at 100 TB pass pre-hashed grams
    * (`xxhash64(gram)`) so the shuffle moves 8-byte keys, never text
    * (the [[ExactDedup]] accounting; md5 for engine-portable replay). */
  def shardNovelty(
      docs: DataFrame,
      shardField: String,
      gramsField: String
  ): DataFrame =
    shardNoveltyExploded(
      docs.select(col(shardField).as(shardField),
        explode(col(gramsField)).as("gram")),
      shardField, "gram")

  /** [[shardNovelty]] over an ALREADY-EXPLODED (shard, gram) table — for
    * callers whose gram hashing is cheaper as a top-level codegen'd
    * projection over exploded shingles than as an interpreted
    * per-element array HOF (r13). Duplicate (shard, gram) rows are fine
    * (the per-gram aggregate deduplicates via min/collect_set exactly as
    * the array form did). */
  def shardNoveltyExploded(
      grams: DataFrame,
      shardField: String,
      gramField: String
  ): DataFrame =
    grams
      .select(col(shardField).cast(LongType).as("__sn_s"),
        col(gramField).as("gram"))
      .groupBy(col("gram"))
      .agg(min(col("__sn_s")).as("__sn_first"),
        collect_set(col("__sn_s")).as("__sn_shards"))
      .select(col("__sn_first"), explode(col("__sn_shards")).as("shard"))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_grams"),
        sum((col("__sn_first") === col("shard")).cast(LongType)).as("n_novel"))
      .withColumn("novelty_ppm",
        floor(lit(1000000L) * col("n_novel") / col("n_grams")).cast(LongType))

  /** Distinct-n diversity per group: total n-grams, distinct n-grams,
    * and their ratio — the standard generated-/training-text diversity
    * signal (low distinct-2 ⇒ repetitive or template-stamped slice;
    * compare sources or model outputs at a glance).
    *
    * Scale shape: the explode is linear in corpus tokens; both counts
    * partial-aggregate map-side, and the distinct leg counts 8-byte
    * `hasher` values, so the distinct shuffle is hashes, never gram
    * text (the xxhash64 default's collision error over even 10¹²
    * grams is ≪ 1e-7 relative — the same accounting ExactDedup's key
    * uses; pass md5 for engine-portable replay). At 100 TB prefer the
    * one-shuffle sketch leg: `approx_count_distinct` inside the same
    * aggregate instead of the exact two-phase distinct. */
  def ngramDiversity(
      docs: DataFrame,
      wordsField: String,
      n: Int,
      groupField: String,
      hasher: Column => Column = c => xxhash64(c)
  ): DataFrame =
    docs
      .select(
        col(groupField).as("grp"),
        explode(Decontaminate.ngrams(col(wordsField), n)).as("gram")
      )
      .groupBy(col("grp"))
      .agg(
        count(lit(1)).as("total_ngrams"),
        countDistinct(hasher(col("gram"))).as("distinct_ngrams")
      )
      .withColumn("distinct_ratio",
        col("distinct_ngrams").cast(DoubleType) /
          col("total_ngrams").cast(DoubleType))

  // true BIGINT/DECIMAL integral division: graft.functions.integral_divide
  private def idiv(a: Column, b: Column): Column =
    graft.functions.functions.integral_divide(a, b)

  /** Capped inverted index: term → (document frequency, first
    * `maxPostings` doc ids in id order) — the retrieval-side structure
    * under [[Bm25]]-style scoring and a corpus-exploration staple
    * ("which docs contain X").
    *
    * Scale shape: per-doc `array_distinct` bounds the explode at one
    * row per (doc, distinct term); the rank window and the df count are
    * PARTITIONED by term (per-group sort, never global), and the
    * posting-list aggregate collects at most `maxPostings` ids per term
    * — a hot term ("the", appearing in every document) costs a bounded
    * list, not an O(#docs) driver-killer. The groupBy reuses the
    * window's hash partitioning, so the term table shuffles once. The
    * cap is a visible column (`df` keeps the TRUE document frequency),
    * not a silent truncation. */
  def invertedIndex(
      docs: DataFrame,
      idField: String,
      wordsField: String,
      maxPostings: Int
  ): DataFrame = {
    val w = Window.partitionBy(col("term")).orderBy(col("__ii_id"))
    docs
      .select(
        col(idField).as("__ii_id"),
        explode(array_distinct(col(wordsField))).as("term")
      )
      .withColumn("df", count(lit(1)).over(
        Window.partitionBy(col("term"))))
      .withColumn("__ii_rn", row_number().over(w))
      .filter(col("__ii_rn") <= maxPostings)
      .groupBy(col("term"))
      .agg(
        max(col("df")).as("df"),
        sort_array(collect_list(col("__ii_id"))).as("postings")
      )
  }

  /** Positional phrase search over the posting shape — "which docs
    * contain this EXACT word sequence", the retrieval counterpart to
    * [[invertedIndex]]'s term lookup (a phrase is not expressible as a
    * term-set conjunction: "new york" ≠ contains(new) AND contains(york)).
    *
    * Scale shape: the (doc, pos, term) explode is cut to the QUERY's
    * terms by a filter INSIDE the scan stage — postings for the other
    * ~whole vocabulary never materialize, so the k-1 chain joins see
    * only the phrase terms' (sparse) positions, equi-keyed on
    * (doc, aligned start position). No window, no cartesian; the text
    * column itself never shuffles. Emits one row per matching doc with
    * the match count and first start position (0-based). */
  def phraseMatches(
      docs: DataFrame,
      idField: String,
      wordsField: String,
      phrase: Seq[String]
  ): DataFrame = {
    require(phrase.nonEmpty, "phrase must have at least one word")
    val postings = docs.select(
      col(idField),
      posexplode(col(wordsField)).as(Seq("__pos", "__term")))
    def leg(term: String, i: Int): DataFrame =
      postings
        .filter(col("__term") === term)
        .select(col(idField),
          (col("__pos").cast(LongType) - i.toLong).as("__start"))
    val starts = phrase.zipWithIndex
      .map { case (t, i) => leg(t, i) }
      .reduce((a, b) => a.join(b, Seq(idField, "__start")))
    starts
      .groupBy(col(idField))
      .agg(
        count(lit(1)).as("n_matches"),
        min(col("__start")).as("first_pos"))
  }

  /** Top-`k` adjacent-bigram collocations by PMI rank. PMI =
    * log(c_xy·N² / (c_x·c_y·B)) — but N²/B is constant across pairs, so
    * the RANKING only needs `c_xy / (c_x·c_y)`, computed here as the
    * floor-scaled integer `lift = (scale·c_xy) div (c_x·c_y)` in
    * DECIMAL(38,0): exact at any corpus size (BIGINT products of two
    * 100 TB-scale unigram counts overflow), engine-replayable (single
    * floor, no log, no doubles), monotone in PMI. `minCount` drops the
    * long noise tail before the joins.
    *
    * Scale shape: bigram + unigram count tables are partial-aggregated
    * (map-side combine collapses hot grams); the two count joins key on
    * single words (AQE skew-split covers "the"); `orderBy.limit(k)`
    * lowers to TakeOrderedAndProject per-partition heaps. Ties break on
    * gram text — a total order. */
  def topCollocations(
      docs: DataFrame,
      wordsField: String,
      k: Int,
      minCount: Long = 5L,
      scale: Long = 1000000000000L
  ): DataFrame = {
    val dec = DecimalType(38, 0)
    val uni = docs
      .select(explode(col(wordsField)).as("__w"))
      .groupBy(col("__w"))
      .agg(count(lit(1)).as("__c"))
    val pairs = docs
      .select(explode(Decontaminate.ngrams(col(wordsField), 2)).as("gram"))
      .groupBy(col("gram"))
      .agg(count(lit(1)).as("c_xy"))
      .filter(col("c_xy") >= minCount)
      .withColumn("__w1", element_at(split(col("gram"), " "), 1))
      .withColumn("__w2", element_at(split(col("gram"), " "), 2))
    pairs
      .join(uni.withColumnRenamed("__w", "__w1").withColumnRenamed("__c", "__c1"),
        Seq("__w1"))
      .join(uni.withColumnRenamed("__w", "__w2").withColumnRenamed("__c", "__c2"),
        Seq("__w2"))
      .withColumn("lift",
        idiv(lit(scale).cast(dec) * col("c_xy").cast(dec),
          col("__c1").cast(dec) * col("__c2").cast(dec)))
      .select(col("gram"), col("c_xy"), col("lift"))
      .orderBy(col("lift").desc, col("gram"))
      .limit(k)
  }
}

/** Stupid Backoff n-gram language-model scoring (Brants et al. 2007,
  * "Large Language Models in Machine Translation" §4) — the
  * distributed-counts LM the paper built for exactly this setting:
  * corpus-scale gram tables where proper Kneser-Ney normalization
  * would need another full pass per order, but an inexpensive
  * backoff score ranks text just as well for selection. Each trigram
  * position scores c(w₁w₂w₃)/c(w₁w₂), backing off to
  * 0.4·c(w₂w₃)/c(w₂), then 0.4²·c(w₃)/N. Complements
  * [[LmScore.familiarity]] (flat summed gram counts — no
  * conditioning): Stupid Backoff scores CONDITIONAL predictability,
  * so boilerplate built from individually-common words no longer
  * outranks fluent rare-word text.
  *
  * Scale shape: three reference gram tables built with map-side
  * combine (one row per DISTINCT gram survives each shuffle), one
  * trigram-position explode of the scored docs, five left equi-joins
  * on gram keys (head grams are hot on the probe side, unique on the
  * build side — AQE skew-split territory), one per-doc aggregation.
  * N (total reference tokens) is a single driver long. All arithmetic
  * is floor-scaled ppm (the 0.4 factors fold as ×2/5 and ×4/25 inside
  * the floor), so a SQL oracle replays scores exactly. */
object StupidBackoff {
  import graft.functions.functions.integral_divide

  /** Append `outputField` (ppm sum over trigram positions) and
    * `countField` (#positions) to `docs`, scoring `wordsField` against
    * `reference`'s gram counts. Docs with <3 words score 0 over 0. */
  def score(
      docs: DataFrame,
      idField: String,
      wordsField: String,
      reference: DataFrame,
      refWordsField: String,
      scale: Long = 1000000L,
      outputField: String = "sb_score",
      countField: String = "n_trigrams"
  ): DataFrame = {
    val refTok = reference.select(explode(col(refWordsField)).as("__sb_w"))
    val c1 = refTok.groupBy(col("__sb_w")).agg(count(lit(1)).as("__sb_c1"))
    val c2 = reference
      .select(explode(Decontaminate.ngrams(col(refWordsField), 2)).as("__sb_g2"))
      .groupBy(col("__sb_g2")).agg(count(lit(1)).as("__sb_c2"))
    val c3 = reference
      .select(explode(Decontaminate.ngrams(col(refWordsField), 3)).as("__sb_g3"))
      .groupBy(col("__sb_g3")).agg(count(lit(1)).as("__sb_c3"))
    // O(1) driver state: the unigram normalizer
    val nTotal = refTok.count()
    val w = col(wordsField)
    val pos = docs
      .select(
        col(idField).as("__sb_id"),
        explode(
          when(
            size(w) >= 3,
            transform(
              sequence(lit(0), size(w) - 3),
              i =>
                struct(
                  concat_ws(" ", element_at(w, i + 1), element_at(w, i + 2),
                    element_at(w, i + 3)).as("g3"),
                  concat_ws(" ", element_at(w, i + 1), element_at(w, i + 2))
                    .as("g2h"),
                  concat_ws(" ", element_at(w, i + 2), element_at(w, i + 3))
                    .as("g2t"),
                  element_at(w, i + 2).as("w2"),
                  element_at(w, i + 3).as("w3"))))
            .otherwise(array().cast(
              "array<struct<g3:string,g2h:string,g2t:string,w2:string,w3:string>>")))
          .as("__sb_p"))
      .select(col("__sb_id"), col("__sb_p.*"))
    val joined = pos
      .join(c3, pos("g3") === c3("__sb_g3"), "left")
      .join(c2.select(col("__sb_g2").as("__sb_g2h_k"), col("__sb_c2").as("__sb_c2h")),
        pos("g2h") === col("__sb_g2h_k"), "left")
      .join(c2.select(col("__sb_g2").as("__sb_g2t_k"), col("__sb_c2").as("__sb_c2t")),
        pos("g2t") === col("__sb_g2t_k"), "left")
      .join(c1.select(col("__sb_w").as("__sb_w2_k"), col("__sb_c1").as("__sb_c1w2")),
        pos("w2") === col("__sb_w2_k"), "left")
      .join(c1.select(col("__sb_w").as("__sb_w3_k"), col("__sb_c1").as("__sb_c1w3")),
        pos("w3") === col("__sb_w3_k"), "left")
    val s = when(col("__sb_c3").isNotNull,
        integral_divide(lit(scale) * col("__sb_c3"), col("__sb_c2h")))
      .otherwise(when(col("__sb_c2t").isNotNull,
        integral_divide(lit(scale) * 2L * col("__sb_c2t"),
          lit(5L) * col("__sb_c1w2")))
      .otherwise(integral_divide(
        lit(scale) * 4L * coalesce(col("__sb_c1w3"), lit(0L)),
        lit(25L * nTotal))))
    val agg = joined
      .groupBy(col("__sb_id"))
      .agg(count(lit(1)).as("__sb_n"), sum(s).as("__sb_s"))
    docs
      .join(agg, docs(idField) === agg("__sb_id"), "left")
      .drop("__sb_id")
      .withColumn(countField, coalesce(col("__sb_n"), lit(0L)))
      .withColumn(outputField, coalesce(col("__sb_s"), lit(0L)))
      .drop("__sb_n", "__sb_s")
  }
}

/** Corpus-specific stopword induction — the trainer-side counterpart of
  * the Gopher stopword PROBE ([[GopherQualityGate]] checks docs against
  * a fixed English list): induce each language's own list as the
  * highest-document-frequency words. Multilingual pipelines need this
  * because a hand-curated list exists for English and not for the other
  * hundred languages in the corpus; df-based induction is the standard
  * bootstrap (stopwords appear in nearly every document BY DEFINITION).
  *
  * Scale shape: array_distinct per doc (row-local) → explode → ONE
  * map-side-combined groupBy(lang, word) for df; per-language doc
  * totals are an O(#langs) broadcast back; ranking is a window
  * PARTITIONED by lang (never global). Output O(#langs · k). */
object StopwordInduction {

  /** Top-k words per language by document frequency:
    * (lang, word, df, df_ppm, rank), rank 1 = most common, ties broken
    * by word. */
  def topByDf(
      df: DataFrame,
      langField: String,
      wordsField: String,
      k: Int
  ): DataFrame = {
    import graft.functions.functions.integral_divide
    val docsPerLang = df.groupBy(col(langField).as("lang"))
      .agg(count(lit(1)).as("__sw_nd"))
    val dfs = df
      .select(col(langField).as("lang"),
        explode(array_distinct(col(wordsField))).as("word"))
      .groupBy("lang", "word")
      .agg(count(lit(1)).as("df"))
    val w = Window.partitionBy("lang")
      .orderBy(col("df").desc, col("word"))
    dfs
      .withColumn("rank", row_number().over(w).cast(LongType))
      .filter(col("rank") <= k)
      .join(broadcast(docsPerLang), Seq("lang"))
      .select(col("lang"), col("word"), col("df"),
        integral_divide(lit(1000000L) * col("df"), col("__sw_nd"))
          .as("df_ppm"),
        col("rank"))
  }
}

/** Term burstiness (Church & Gale 1995 shape) — collection frequency
  * over document frequency: a term that occurs 400 times in 6 documents
  * is a template/spam signature; one that occurs 400 times in 390
  * documents is just common. Complements [[StopwordInduction]] (high
  * df) and [[VocabDrift]] (share change) from the same single
  * (term, cf, df) stats pass; top-k is a TakeOrderedAndProject. */
object Burstiness {

  /** Top-k burstiest terms: (term, cf, df, burst_milli = 1000·cf/df),
    * restricted to cf >= minCf. */
  def topBursty(
      df: DataFrame,
      idField: String,
      wordsField: String,
      k: Int,
      minCf: Long = 10L
  ): DataFrame = {
    import graft.functions.functions.integral_divide
    df.select(col(idField).as("__bu_id"),
        explode(col(wordsField)).as("term"))
      .groupBy("term")
      .agg(count(lit(1)).as("cf"),
        count_distinct(col("__bu_id")).as("df"))
      .filter(col("cf") >= minCf)
      .select(col("term"), col("cf"), col("df"),
        integral_divide(lit(1000L) * col("cf"), col("df"))
          .as("burst_milli"))
      .orderBy(col("burst_milli").desc, col("term"))
      .limit(k)
  }
}

/** Out-of-vocabulary rate per slice — the tokenizer/vocab fitness
  * check per source, language, or time bucket: a source whose tokens
  * fall outside the working vocabulary will fragment into long
  * subword sequences (see the fertility report) or map to UNK. The
  * vocabulary broadcasts; tokens probe it in the scan stage, and only
  * (slice, flag) pairs reach the one aggregate — the corpus never
  * shuffles its text. */
object OovRate {

  /** `vocab` = one `term` column (deduped). Output per slice:
    * n_tokens, n_oov, oov_ppm. */
  def perSlice(
      docs: DataFrame,
      sliceField: String,
      wordsField: String,
      vocab: DataFrame
  ): DataFrame = {
    val v = vocab.select(col("term")).distinct()
      .withColumn("__ov_in", lit(1L))
    docs
      .select(col(sliceField).as("slice"), explode(col(wordsField)).as("term"))
      .join(broadcast(v), Seq("term"), "left")
      .groupBy("slice")
      .agg(
        count(lit(1)).as("n_tokens"),
        sum(when(col("__ov_in").isNull, 1L).otherwise(0L)).as("n_oov"))
      .withColumn("oov_ppm",
        floor((lit(1000000L) * col("n_oov")).cast("double") / col("n_tokens"))
          .cast(LongType))
  }
}
