package graft

import graft.operators._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** 10× growth probe for the dedup family (SCALE.md §9): replicate the
  * sf0.1 documents table 1× / 3× / 10× and time the three banded dedup
  * paths the bench SF can't stress — minhash-LSH candidate pairing,
  * exact-substring span removal (Lee et al.), and rare-shingle
  * containment. Each replica's words get a per-replica suffix, so the
  * corpus grows f× while its WITHIN-replica duplicate structure (and
  * therefore the output's dup density) stays constant — growth in
  * wall-time then measures the ENGINE's scaling, not a quadratically
  * growing answer. Prints one JSON line per (factor, path).
  *
  * Usage: SPARK_GRAFT_SF_DIR=... runMain graft.GrowthProbe [factors] */
object GrowthProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val factors =
      if (args.nonEmpty) args(0).split(",").toSeq.map(_.toInt)
      else Seq(1, 3, 10)
    val cpus = GraftSession.cpus
    val spark = GraftSession.local(cpus)
    GraftSession.warmUp(spark, sfDir)
    val base = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text")

    // IVFADC fixtures: centroids/codebooks/queries come from the BASE
    // table and stay fixed across factors, so growth measures only the
    // corpus-side assignment + bucket-probe work (the q203 shapes)
    import org.apache.spark.sql.types.{ArrayType, DoubleType, IntegerType}
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select("vec_id", "embedding")
    val cents = emb.filter(col("vec_id") < 8).orderBy("vec_id")
      .select(col("vec_id").cast(IntegerType),
        col("embedding").cast(ArrayType(DoubleType)))
      .collect().map(r => (r.getInt(0), r.getSeq[Double](1).toSeq)).toSeq
    val cbRows = emb.filter(col("vec_id") < 16).orderBy("vec_id")
      .select(col("embedding").cast(ArrayType(DoubleType)))
      .collect().map(_.getSeq[Double](0).toSeq).toSeq
    val cbs = ProductQuantizer.codebooksFrom(cbRows, m = 8)
    val queries = emb.filter(col("vec_id") < 5)

    def replicated(f: Int): DataFrame =
      (0 until f).map { i =>
        base.select(
          (col("doc_id") + lit(i * 10000000L)).as("doc_id"),
          // suffix every word with the replica index: replicas share no
          // shingles/grams, so dup structure is per-replica constant
          regexp_replace(col("text"), "(\\S+)", "$1" + i).as("text"))
      }.reduce(_ unionByName _)

    def time(body: => Unit): Double = {
      val t0 = System.nanoTime()
      body
      val dt = (System.nanoTime() - t0) / 1e9
      spark.catalog.clearCache()
      System.gc()
      dt
    }

    factors.foreach { f =>
      val docs = replicated(f)
      val words = docs.withColumn("words", split(col("text"), "\\s+"))
      val nRows = docs.count()
      val tMinhash = time {
        val sigs = MinHashSignature("words", 3, 16)(words)
        MinHashLSH.candidatePairs(sigs, "doc_id", "minhash_sig",
          bands = 4, sigLen = 16, maxBucketSize = Some(16)).count()
      }
      val tExact = time {
        ExactSubstrDedup.removeDuplicateSpans(docs, "doc_id", "text",
          gramLen = 20)
          .select(sum(length(col("text")))).collect()
      }
      val tContain = time {
        MinHashLSH.containmentPairs(words, "words", "doc_id",
          shingleSize = 3, maxShingleDf = 5L, minContainment = 0.9).count()
      }
      val tWinnow = time {
        val fps = words.select(
          col("doc_id"),
          array_distinct(transform(
            Winnowing.fingerprints(col("words"), k = 3, w = 4),
            fp => fp.getField("hash"))).as("fps"))
        FingerprintOverlap.candidatePairs(fps, "doc_id", "fps",
          minShared = 2, maxBucketSize = Some(16)).count()
      }
      val tPrefix = time {
        PrefixFilterJoin.pairs(
          words.withColumn("sh", TextShingles.shingles(col("words"), 3)),
          "doc_id", "sh", minJaccardPpm = 500000L).count()
      }
      val tPrefixCapped = time {
        PrefixFilterJoin.pairs(
          words.withColumn("sh", TextShingles.shingles(col("words"), 3)),
          "doc_id", "sh", minJaccardPpm = 500000L,
          maxPrefixDf = Some(8)).count()
      }
      // r14 skew probe: a corpus of IDENTICAL docs — every prefix
      // token's posting list is the WHOLE corpus (the boilerplate /
      // exact-dup-cluster hot-key case). The r13 shape collect_list'ed
      // the full posting per key before slicing (an O(corpus) buffer in
      // ONE task); the r14 bounded heap (collect_min_k) keeps ≤ cap
      // entries per key at every stage, so this row must stay flat-ish
      // in f (the residual growth is the linear explode+shuffle of the
      // capped-away rows, spread across partitions).
      val tPrefixCappedHot = time {
        val hotDocs = docs.select(col("doc_id"),
            lit("alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu")
              .as("text"))
          .withColumn("words", split(col("text"), "\\s+"))
          .withColumn("sh", TextShingles.shingles(col("words"), 3))
        PrefixFilterJoin.pairs(hotDocs, "doc_id", "sh",
          minJaccardPpm = 500000L, maxPrefixDf = Some(8)).count()
      }
      val tNovelty = time {
        CorpusStats.shardNovelty(
          words
            .withColumn("shard", pmod(col("doc_id"), lit(8L)))
            .withColumn("grams",
              transform(TextShingles.shingles(col("words"), 3),
                g => xxhash64(g))),
          "shard", "grams").count()
      }
      val tIvfAdc = time {
        val embRep = (0 until f).map { i =>
          emb.select((col("vec_id") + lit(i * 10000000L)).as("vec_id"),
            col("embedding"))
        }.reduce(_ unionByName _)
        val enc = ProductQuantizer.assignClusters(
          ProductQuantizer.encode(embRep, "embedding", cbs),
          "embedding", cents)
        ProductQuantizer.ivfAdcTopK(enc, queries, "embedding",
          "vec_id", k = 5, cbs, cents, nProbe = 2).count()
      }
      // PcaWhiten covariance fold at d=256 (the judge-flagged scale
      // hazard of the superseded explode leg): tile the 64-dim base
      // embedding 4x with per-copy affine jitter; fold work is n*d^2/2
      // FMAs so the probe must grow linearly in f at fixed d.
      val tPcaWhiten = time {
        val embRep = (0 until f).map { i =>
          emb.select((col("vec_id") + lit(i * 10000000L)).as("vec_id"),
            col("embedding"))
        }.reduce(_ unionByName _)
        val emb256 = embRep.withColumn("emb256",
          flatten(array((0 until 4).map(c =>
            transform(col("embedding").cast(
                org.apache.spark.sql.types.ArrayType(DoubleType)),
              x => x * lit(1.0 + 0.1 * c) + lit(0.01 * c))): _*)))
        PcaWhiten.covFold(emb256, "emb256")
      }
      // LangSegment (q264 shape): profiles broadcast fixed from the
      // BASE table; the replicated corpus is re-paragraphed on
      // sentence ends so every doc yields multiple classify units.
      val langProfiles = LangIdNgram.trainProfiles(
        spark.read.parquet(s"$sfDir/documents.parquet")
          .filter(col("doc_id") % 2 === 0),
        "lang", "text", topN = 100, n = 3)
      val tLangSegment = time {
        LangSegment.segments(
          docs.withColumn("text",
            regexp_replace(col("text"), "\\. ", ".\n\n")),
          "doc_id", "text", langProfiles, topN = 100, n = 3).count()
      }
      println(f"""{"factor":$f,"rows":$nRows,"cpus":$cpus,"minhash_sec":$tMinhash%.1f,"exactsubstr_sec":$tExact%.1f,"containment_sec":$tContain%.1f,"winnowing_sec":$tWinnow%.1f,"prefixjoin_sec":$tPrefix%.1f,"prefixjoin_capped_sec":$tPrefixCapped%.1f,"prefixjoin_capped_hot_sec":$tPrefixCappedHot%.1f,"shardnovelty_sec":$tNovelty%.1f,"ivfadc_sec":$tIvfAdc%.1f,"pcawhiten256_sec":$tPcaWhiten%.1f,"langsegment_sec":$tLangSegment%.1f}""")
    }
    spark.stop()
  }
}
