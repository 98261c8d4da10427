package graftbench

import graft.Pipeline
import graft.functions.functions.{intersect_size, minhash_sig, pair_combos, word_shingles}
import graft.operators._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.{ProjectExec, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType
import scala.collection.mutable

/** One workload: how to make its inputs (part of set-up), how to run one
  * operation (timed), and how to check that operation's output (untimed).
  * An operation is one pipeline pass over the corpus, or one catalog
  * query. `round` is the number of operations in one complete round;
  * measurement always ends on a round boundary. */
abstract class Workload(val spark: SparkSession, val o: Opts) {
  def name: String
  def round: Int
  def rootSpan: String
  def label(k: Int): String
  /** input documents one operation consumes (0 when not document-shaped) */
  def docsPerOp(k: Int): Long
  def prepare(): Unit
  def run(k: Int, tr: Tracer): Any
  /** failure messages; empty when the output is correct */
  def check(k: Int, out: Any, m: mutable.Map[String, Double]): Seq[String]
  /** Untimed, after every operation: drop what it cached and collect
    * its garbage, so no operation pays for the previous one's heap. */
  def cleanup(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    System.gc()
  }
  def stamp: Map[String, Any]

  /** Unmeasured operations before timing, so generated code, caches and
    * the JIT are warm; none by default. A fixed count, not a fixed time,
    * so a slow host still starts measuring with the same compiled code.
    * Each is checked like a timed one: when the first check ran only
    * after the first timed pass, the JIT recompiled shared code for it
    * and the passes after it ran slower. A failing operation shows up
    * again, as failed, when measured. */
  def warmUp(): Unit = ()

  final def warmRounds(n: Int): Unit = (0 until n).foreach { k =>
    try check(k % round, run(k % round, new Tracer(spark, enabled = false)), mutable.Map.empty)
    catch { case _: Exception => () }
    cleanup()
  }

  /** per-layer metrics that need extra measurement (traced runs only) */
  def extraLayerMetrics(tr: Tracer): Map[String, Double] = Map.empty

  /** Apply mappers as one `graft.Pipeline`. */
  protected def chain(ms: graft.Mapper*)(df: DataFrame): DataFrame =
    Pipeline(ms: _*).apply(df)

  protected def materialize(df: DataFrame): (DataFrame, Long) = {
    val p = df.persist()
    (p, p.count())
  }
}

/** Seeded corpus written as parquet under the work dir, shared by the two
  * corpus workloads. */
trait CorpusInput { self: Workload =>
  /** documents in the generated corpus */
  def corpusDocs: Int
  var corpus: Corpus = _
  def corpusPath: String = s"${o.work}/corpus"
  def corpusBytes: Long = Files.sizeOf(corpusPath)

  def writeCorpus(): Unit = {
    corpus = Corpus.generate(corpusDocs, o.seed)
    val rows = corpus.docs.toSeq.map(d => Row(d.id, d.title, d.text, d.quality))
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "id BIGINT, title STRING, text STRING, quality STRING")
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 8), schema)
      .write.mode("overwrite").parquet(corpusPath)
    // ground truth beside the corpus: the planted near-duplicate pairs
    val truth = corpus.plantedPairs.iterator.map { case (a, b) => s"$a\t$b" }
    Files.writeLines(s"${o.work}/planted_pairs.tsv", Iterator("id_a\tid_b") ++ truth)
  }

  def corpusStamp: Map[String, Any] = Map(
    "corpus_digest" -> corpus.digest,
    "corpus_docs" -> corpus.docs.length,
    "corpus_bytes" -> corpusBytes,
    "planted_pairs" -> corpus.plantedPairs.length,
    "corpus_shape" -> Corpus.shape
  )
}

/** The smashed surface: cast/filter → WordPiece tokenize → stride → special
  * tokens and attention mask → text prompt → fixed batches → list
  * collation → sharded parquet export. Each stage is materialized so its
  * time and Spark work are attributable. */
final class PrepWorkload(spark: SparkSession, o: Opts)
    extends Workload(spark, o) with CorpusInput {
  import PrepWorkload._
  def corpusDocs = Docs
  def name = "prep_pipeline"
  def round = 1
  def rootSpan = "pass"
  def label(k: Int) = "pass"
  def docsPerOp(k: Int): Long = corpus.docs.length
  private def sinkPath = s"${o.work}/sink"

  private lazy val vocab: Map[String, Long] =
    corpus.wordPieceVocab.zipWithIndex.map { case (t, i) => t -> i.toLong }.toMap
  private lazy val tok = WordPieceTokenizer(vocab)

  def prepare(): Unit = writeCorpus()
  override def warmUp(): Unit = warmRounds(WarmPasses)

  def run(k: Int, tr: Tracer): Any = {
    val src = spark.read.parquet(corpusPath)
    val (tokenized, nDocs) = tr.span("op.tokenize") {
      materialize(tr.span("mapper.apply") {
        chain(
          ChangeFields(keepFields = Seq("id", "title", "text", "quality")),
          Cast(Map("quality" -> "float")),
          Filter("quality", ">=", MinQuality),
          TokenizerMapper(tok, "text", addSpecialTokens = false,
            returnAttentionMask = false)
        )(src).select("id", "title", "input_ids")
      })
    }
    val (windows, nWindows) = tr.span("op.stride_pad") {
      materialize(tr.span("mapper.apply") {
        chain(
          SingleSequenceStrider(Seq("input_ids"), WindowBody),
          FillEncodedPrompt("{input_ids}", _ => Nil, tok.bosIds, tok.eosIds,
            returnAttentionMask = true)
        )(tokenized)
      })
    }
    val (templated, _) = tr.span("op.template") {
      materialize(tr.span("mapper.apply") {
        FillTextPrompt("Passage of document {id} ({title}):", "prompt")(windows)
      })
    }
    val (batches, nBatches) = tr.span("op.batch_collate") {
      materialize(tr.span("mapper.apply") {
        chain(FixedBatchSize(BatchSize), ListCollator.fromTokenizer(tok))(templated)
          .withColumn("batch_id", monotonically_increasing_id())
      })
    }
    tr.span("op.sink_write") {
      TrainingExport.writeShards(batches, sinkPath, "batch_id", Shards)
    }
    (nDocs, nWindows, nBatches)
  }

  /** Expected counts, computed from the generated corpus with the
    * benchmark's own reference tokenizer. */
  private lazy val expected: (Long, Long, Long) = {
    val vs = vocab.keySet
    var docs, windows, tokens = 0L
    corpus.docs.foreach { d =>
      if (d.quality.toDouble >= MinQuality) {
        val t = Corpus.refTokenCount(d.text, vs)
        val w = if (t < WindowBody) 1 else (t - WindowBody) / WindowBody + 1
        docs += 1
        windows += w
        tokens += (if (t < WindowBody) t else w.toLong * WindowBody)
      }
    }
    (docs, windows, tokens)
  }

  def check(k: Int, out: Any, m: mutable.Map[String, Double]): Seq[String] = {
    val (nDocs, nWindows, nBatches) = out.asInstanceOf[(Long, Long, Long)]
    val (eDocs, eWindows, eTokens) = expected
    val fails = mutable.ArrayBuffer.empty[String]
    if (nDocs != eDocs) fails += s"filtered docs $nDocs != expected $eDocs"
    if (nWindows != eWindows) fails += s"windows $nWindows != expected $eWindows"
    val written = spark.read.parquet(sinkPath)
    val w = written
      .select(col("batch_id"), posexplode(col("input_ids")).as(Seq("j", "ids")),
        col("attention_mask"))
      .select(
        size(col("ids")).as("len"),
        aggregate(col("ids"), lit(0L), (acc, x) =>
          acc + when(x =!= lit(tok.padId), 1L).otherwise(0L)).as("nonpad"),
        aggregate(element_at(col("attention_mask"), col("j") + 1), lit(0L),
          (acc, x) => acc + x).as("mask"))
      .agg(count(lit(1)).as("windows"), sum("nonpad").as("nonpad"),
        sum("len").as("cells"), max("len").as("maxlen"),
        sum(when(col("mask") =!= col("nonpad"), 1L).otherwise(0L)).as("bad_mask"))
      .collect().head
    val (wWindows, wNonpad, wCells, wMax, wBad) =
      (w.getLong(0), w.getLong(1), w.getLong(2), w.getInt(3), w.getLong(4))
    if (wWindows != eWindows) fails += s"written windows $wWindows != expected $eWindows"
    if (wNonpad != eTokens + 2 * eWindows)
      fails += s"written tokens $wNonpad != expected ${eTokens + 2 * eWindows}"
    if (wMax > WindowBody + 2) fails += s"window length $wMax > ${WindowBody + 2}"
    if (wBad != 0) fails += s"$wBad windows whose mask sum != non-pad count"
    val batchRows = written.count()
    if (batchRows != nBatches) fails += s"written batches $batchRows != $nBatches"
    val files = Files.list(sinkPath).filter(_.getName.endsWith(".parquet"))
    m("prep.tokens") = wNonpad.toDouble
    m("prep.windows") = wWindows.toDouble
    m("collate.pad_share") = (wCells - wNonpad).toDouble / wCells
    m("sink.files") = files.size.toDouble
    m("sink.bytes_per_input_byte") = files.map(_.length).sum.toDouble / corpusBytes
    fails.toSeq
  }

  def stamp: Map[String, Any] = corpusStamp ++ Map(
    "window" -> (WindowBody + 2), "batch_size" -> BatchSize, "shards" -> Shards)
}

object PrepWorkload {
  val Docs = 6000
  val WarmPasses = 6
  val MinQuality = 0.2
  val WindowBody = 126 // + [CLS] and [SEP] = 128
  val BatchSize = 32
  val Shards = 4
}

/** Near-duplicate removal: MinHash signatures → capped LSH banding →
  * exact Jaccard verify → connected components → survivor anti-join,
  * plus the capped prefix-filter similarity join. */
final class NearDupWorkload(spark: SparkSession, o: Opts)
    extends Workload(spark, o) with CorpusInput {
  import NearDupWorkload._
  def corpusDocs = Docs
  def name = "neardup_dedup"
  def round = 1
  def rootSpan = "pass"
  def label(k: Int) = "pass"
  def docsPerOp(k: Int): Long = corpus.docs.length

  def prepare(): Unit = writeCorpus()
  override def warmUp(): Unit = warmRounds(WarmPasses)

  private def docs: DataFrame = spark.read.parquet(corpusPath)
    .select(col("id"), split(col("text"), " ").as("words"))

  def run(k: Int, tr: Tracer): Any = {
    val d = docs
    val (sigs, _) = tr.span("op.signature") {
      materialize(tr.span("mapper.apply") {
        MinHashSignature("words", Shingle, NumHashes)(d)
      }.select("id", "minhash_sig"))
    }
    val (cands, nCand) = tr.span("op.candidates") {
      materialize(MinHashLSH.candidatePairs(sigs, "id", "minhash_sig", Bands,
        NumHashes, maxBucketSize = Some(BucketCap)))
    }
    val (verified, nVer) = tr.span("op.verify") {
      val sh = d.select(col("id"),
        array_distinct(word_shingles(col("words"), Shingle)).as("sh"))
      materialize(cands
        .join(sh.toDF("id_a", "sh_a"), "id_a")
        .join(sh.toDF("id_b", "sh_b"), "id_b")
        .withColumn("inter", intersect_size(col("sh_a"), col("sh_b")).cast(DoubleType))
        .withColumn("jac",
          col("inter") / (size(col("sh_a")) + size(col("sh_b")) - col("inter")))
        .filter(col("jac") >= MinJaccard)
        .select("id_a", "id_b", "jac"))
    }
    val (comps, _) = tr.span("op.components") {
      materialize(ConnectedComponents.components(verified.select("id_a", "id_b")))
    }
    val survivors = tr.span("op.survivors") {
      d.select("id")
        .join(comps.filter(col("id") =!= col("comp")).select("id"), Seq("id"), "left_anti")
        .count()
    }
    val (prefix, nPrefix) = tr.span("op.prefix_join") {
      val p = PrefixFilterJoin.pairs(d.withColumn("sh", word_shingles(col("words"), Shingle)),
        "id", "sh", PrefixPpm, Some(PrefixCap))
      (p, p.count())
    }
    NearDupOut(cands, nCand, verified, nVer, comps, survivors, prefix, nPrefix)
  }

  private lazy val shingleSets: Map[Long, Set[String]] =
    corpus.docs.iterator.map(d => d.id -> Corpus.shingles(d.words, Shingle)).toMap

  def check(k: Int, out: Any, m: mutable.Map[String, Double]): Seq[String] = {
    val r = out.asInstanceOf[NearDupOut]
    val fails = mutable.ArrayBuffer.empty[String]
    val cand = r.cands.collect().map(x => (x.getLong(0), x.getLong(1)))
    if (cand.length != r.nCand) fails += "candidate count changed between count and collect"
    if (cand.exists { case (a, b) => a >= b }) fails += "candidate pair with id_a >= id_b"
    // verify must keep exactly the candidates whose true Jaccard passes
    val trueJ = cand.iterator.map(p => p -> Corpus.jaccard(shingleSets(p._1), shingleSets(p._2))).toMap
    val want = trueJ.filter(_._2 >= MinJaccard).keySet
    val got = r.verified.collect().map(x => (x.getLong(0), x.getLong(1)) -> x.getDouble(2)).toMap
    if (got.keySet != want)
      fails += s"verified ${got.size} pairs, independent Jaccard keeps ${want.size}"
    got.foreach { case (p, j) =>
      trueJ.get(p).foreach { t =>
        if (math.abs(t - j) > 1e-9) fails += s"pair $p jaccard $j != independent $t"
      }
    }
    // components: independent union-find over the verified pairs
    val uf = new UnionFind
    got.keys.foreach { case (a, b) => uf.union(a, b) }
    val comps = r.comps.collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    val wantComps = uf.labels
    if (comps != wantComps) fails += s"components differ from independent union-find"
    val clustered = wantComps.size
    val nComps = wantComps.values.toSet.size
    val wantSurvivors = corpus.docs.length - (clustered - nComps)
    if (r.survivors != wantSurvivors)
      fails += s"survivors ${r.survivors} != expected $wantSurvivors"
    // recall of planted pairs that are clearly above the threshold
    val strong = corpus.plantedPairs.filter { case (a, b) =>
      Corpus.jaccard(shingleSets(a), shingleSets(b)) >= RecallJaccard
    }
    val found = strong.count { case (a, b) =>
      comps.get(a).exists(c => comps.get(b).contains(c))
    }
    val recall = if (strong.isEmpty) 1.0 else found.toDouble / strong.length
    if (recall < MinRecall) fails += f"planted-pair recall $recall%.3f < $MinRecall"
    // prefix join: every emitted pair recomputed; ppm is floor(1e6 * I / U)
    val pref = r.prefix.collect()
    if (pref.length != r.nPrefix) fails += "prefix pair count changed between count and collect"
    pref.foreach { x =>
      val (a, b, ppm) = (x.getLong(0), x.getLong(1), x.getLong(2))
      val (sa, sb) = (shingleSets(a), shingleSets(b))
      val inter = sa.count(sb.contains).toLong
      val want = 1000000L * inter / (sa.size + sb.size - inter)
      if (a >= b || ppm != want || want < PrefixPpm)
        fails += s"prefix pair ($a,$b) ppm $ppm, independent $want"
    }
    m("dedup.candidate_pairs") = r.nCand.toDouble
    m("dedup.verified_pairs") = r.nVer.toDouble
    m("dedup.verify_yield") = if (r.nCand == 0) 0.0 else r.nVer.toDouble / r.nCand
    m("dedup.recall") = recall
    m("dedup.prefix_pairs") = r.nPrefix.toDouble
    fails.take(20).toSeq
  }

  def stamp: Map[String, Any] = corpusStamp ++ Map(
    "shingle" -> Shingle, "num_hashes" -> NumHashes, "bands" -> Bands,
    "bucket_cap" -> BucketCap, "min_jaccard" -> MinJaccard,
    "prefix_ppm" -> PrefixPpm, "prefix_cap" -> PrefixCap)

  /** ns per row of four native kernels, timed from outside as the
    * difference between a noop write of the kernel projection and of its
    * input columns, over a cached input; plus the share of them that
    * whole-stage codegen fused. */
  override def extraLayerMetrics(tr: Tracer): Map[String, Double] = {
    val base = spark.range(KernelCopies).toDF("copy").crossJoin(docs).select(
      (col("id") * lit(KernelCopies) + col("copy")).as("rid"), col("words")).persist()
    val rows = base.count()
    val sh = base.select(col("rid"), array_distinct(word_shingles(col("words"), Shingle)).as("sh"))
      .persist()
    sh.count()
    val pairs = sh.as("a").join(sh.as("b"), col("a.rid") + 1 === col("b.rid"))
      .select(col("a.sh").as("sa"), col("b.sh").as("sb")).persist()
    val nPairs = pairs.count()
    val ids = base.select(sequence(col("rid"), col("rid") + lit(15L)).as("ids")).persist()
    ids.count()
    val cases = Seq(
      ("word_shingles", base.select(col("words")), base.select(word_shingles(col("words"), Shingle).as("k")), rows, "WordShinglesExpr"),
      ("minhash_sig", sh.select(col("sh")), sh.select(minhash_sig(col("sh"), NumHashes).as("k")), rows, "MinHashSigExpr"),
      ("intersect_size", pairs, pairs.select(intersect_size(col("sa"), col("sb")).as("k")), nPairs, "IntersectSizeExpr"),
      ("pair_combos", ids, ids.select(pair_combos(col("ids")).as("k")), rows, "PairCombosExpr"))
    val out = mutable.LinkedHashMap.empty[String, Double]
    var fused = 0
    cases.foreach { case (kname, in, k, n, exprClass) =>
      def noop(df: DataFrame): Long = {
        val t0 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        System.nanoTime() - t0
      }
      noop(in); noop(k) // compile and warm
      val diffs = (0 until KernelReps).map(_ => (noop(k) - noop(in)).toDouble)
      out(s"kernel.${kname}_ns_row") = math.max(0.0, Stats.median(diffs) / n)
      if (isFused(k, exprClass)) fused += 1
    }
    out("kernel.fused_share") = fused.toDouble / cases.size
    Seq(base, sh, pairs, ids).foreach(_.unpersist(blocking = true))
    out.toMap
  }

  /** Whether the projection computing the kernel sits inside a
    * whole-stage-codegen subtree, read from the plan Spark builds with
    * adaptive execution off (AQE inserts codegen stages only while it
    * runs). */
  private def isFused(df: DataFrame, exprClass: String): Boolean = {
    def hasKernel(p: SparkPlan): Boolean = p match {
      case pr: ProjectExec =>
        pr.projectList.exists(_.find(_.getClass.getSimpleName == exprClass).isDefined)
      case _ => false
    }
    val key = "spark.sql.adaptive.enabled"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    val plan = try df.select("*").queryExecution.executedPlan finally spark.conf.set(key, prev)
    plan.collect { case w: WholeStageCodegenExec => w }.exists(_.child.find(hasKernel).isDefined)
  }
}

final case class NearDupOut(
    cands: DataFrame, nCand: Long,
    verified: DataFrame, nVer: Long,
    comps: DataFrame, survivors: Long,
    prefix: DataFrame, nPrefix: Long)

object NearDupWorkload {
  val Docs = 1200
  val WarmPasses = 3
  val Shingle = 3
  val NumHashes = 32
  val Bands = 8
  val BucketCap = 16
  val MinJaccard = 0.7
  val RecallJaccard = 0.8
  val MinRecall = 0.9
  val PrefixPpm = 500000L
  val PrefixCap = 8
  val KernelCopies = 4
  val KernelReps = 5
}

/** Disjoint-set forest over long ids; labels are each set's minimum id. */
final class UnionFind {
  private val parent = mutable.HashMap.empty[Long, Long]
  def find(x: Long): Long = {
    val p = parent.getOrElseUpdate(x, x)
    if (p == x) x else { val r = find(p); parent(x) = r; r }
  }
  def union(a: Long, b: Long): Unit = {
    val (ra, rb) = (find(a), find(b))
    if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
  }
  def labels: Map[Long, Long] = parent.keys.map(x => x -> find(x)).toMap
}

/** The query catalog on tiny tables: each operation builds one catalog
  * query and collects its result; a round is every `SparkEntry.queries`
  * entry once, in a seed-permuted order. The first result of every query
  * is written as parquet for the oracle compare run after the JVM exits;
  * later executions must reproduce its digest. */
final class CatalogWorkload(spark: SparkSession, o: Opts) extends Workload(spark, o) {
  def name = "catalog_small"
  def rootSpan = "query"
  private val catalog = graft.SparkEntry.queries
  val names: IndexedSeq[String] =
    Corpus.shuffled(catalog.keys.toSeq.sorted, new java.util.SplittableRandom(o.seed))
  def round = names.size
  def label(k: Int) = names(k)
  def docsPerOp(k: Int): Long = 0L
  private val firstDigest = mutable.Map.empty[String, String]

  /** The DuckDB oracle of every selected query, for the compare. */
  def prepare(): Unit = {
    val sql = graft.SparkEntry.oracleSql
    Files.writeLines(s"${o.work}/oracle_sql.json",
      Iterator(Json(names.flatMap(q => sql.get(q).map(q -> _)).toMap)))
  }

  def run(k: Int, tr: Tracer): Any = {
    val df = tr.span("catalog.build", names(k)) { catalog(names(k))(spark, o.data) }
    val rows = tr.span("catalog.execute", names(k)) { df.collect() }
    (df.schema, rows)
  }

  def check(k: Int, out: Any, m: mutable.Map[String, Double]): Seq[String] = {
    val (schema, rows) = out.asInstanceOf[(org.apache.spark.sql.types.StructType, Array[Row])]
    val q = names(k)
    val digest = {
      val md = java.security.MessageDigest.getInstance("SHA-256")
      rows.map(_.toString).sorted.foreach(s => md.update(s.getBytes("UTF-8")))
      md.digest().map("%02x".format(_)).mkString
    }
    firstDigest.get(q) match {
      case None =>
        firstDigest(q) = digest
        import scala.jdk.CollectionConverters._
        spark.createDataFrame(rows.toList.asJava, schema).coalesce(1)
          .write.mode("overwrite").parquet(s"${o.work}/results/$q")
        Nil
      case Some(d) if d == digest => Nil
      case Some(_) => Seq(s"$q: result differs from its first execution")
    }
  }

  def stamp: Map[String, Any] = Map(
    "queries" -> names.size, "data" -> o.data)
}
