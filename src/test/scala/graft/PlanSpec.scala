package graft

import graft.operators._
import org.apache.spark.sql.functions._

/** Pins the SCALE.md §1 plan claims: mapper chains stay declarative, so
  * filters written after projections reach the parquet scan and column
  * pruning crosses all stages. */
class PlanSpec extends SparkSpec {
  import spark.implicits._

  private lazy val dir = {
    val d = java.nio.file.Files.createTempDirectory("graft_plan").toString
    (0L until 100L).map(i => (i, s"text$i", i % 7, s"extra$i"))
      .toDF("id", "text", "grp", "extra")
      .write.mode("overwrite").parquet(d)
    d
  }

  test("filter after mapper chain is pushed to the parquet scan") {
    val df = spark.read.parquet(dir)
    val out = pipeOps(
      RenameFields(Map("text" -> "body")),
      ChangeFields(keepFields = Seq("id", "body", "grp"))
    )(df).filter(col("grp") === 3)
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters:") &&
      plan.contains("EqualTo(grp,3)"), plan)
  }

  test("column pruning crosses mapper stages: unused columns not read") {
    val df = spark.read.parquet(dir)
    val out = pipeOps(
      RenameFields(Map("text" -> "body")),
      MakeField("n", 1L)
    )(df).select("id", "n")
    val plan = out.queryExecution.executedPlan.toString
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("id") && !readSchema.contains("extra") &&
      !readSchema.contains("text"), plan)
  }

  test("expression-native mappers stay inside one WholeStageCodegen span") {
    val df = spark.read.parquet(dir)
    val out = pipeOps(
      RenameFields(Map("text" -> "body")),
      Binarizer("grp", threshold = 3.0),
      MakeField("n", 1L)
    )(df)
    val plan = out.queryExecution.executedPlan.toString
    // "*(1)" is the whole-stage-codegen stage marker in plan toString
    assert(plan.contains("*(1) Project"), plan)
    // a pure projection chain must not introduce shuffles
    assert(!plan.contains("Exchange"), plan)
  }

  test("r14: every native kernel fuses into a whole-stage-codegen span (no CodegenFallback, no silent fallback)") {
    import graft.functions.functions._
    // fallback=false turns a whole-stage-codegen COMPILE error into a
    // test failure, and CODEGEN_ONLY does the same for non-WSCG
    // projection/predicate codegen — without them Spark silently
    // reverts to interpreted eval and a broken doGenCode would pass
    // every value-level test (this caught a real bug: an undeclared
    // ev.isNull in the non-nullable kernels broke Generate contexts)
    spark.conf.set("spark.sql.codegen.fallback", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    try {
      // every input column depends on `id` — all-literal inputs would be
      // CONSTANT-FOLDED at plan time (kernels evaluated on the driver)
      // and the projection would leave the codegen span trivially
      val df = spark.range(50).select(
        col("id"),
        split(concat(lit("w1 w2 w3 w2 w1 w"), pmod(col("id"), lit(9))), " ")
          .as("words"),
        array(when(col("id") >= 0, 1.0).otherwise(9.9), lit(2.0)).as("vec"),
        concat(lit("- line one...\nline two…\nline two…\n\npara"),
          when(pmod(col("id"), lit(2)) === 0, "").otherwise("x")).as("text"))
      val out = df.select(
        col("id"),
        intersect_size(col("words"), col("words")).as("is"),
        simhash64(col("words")).as("sh"),
        minhash_sig(col("words"), 4).as("ms"),
        word_shingles(col("words"), 2).as("ws"),
        md5_window_fps(col("text"), 5, 1).as("fp"),
        line_stats(col("text")).as("ls"),
        winnow_select(transform(col("words"), w => xxhash64(w)), 2).as("wn"),
        char_ngrams(col("text"), 2).as("cn"),
        top_ngram_chars(col("words"), 2).as("tn"),
        dup_ngram_chars(col("words"), 2).as("dn"),
        dot_product(col("vec"), col("vec")).as("dp"),
        argmax_cosine(col("vec"), Seq(Seq(1.0, 0.0), Seq(0.0, 1.0))).as("am"),
        pca_project(col("vec"), Seq(Seq(1.0, 0.0)), Seq(0.0, 0.0)).as("pp"),
        pq_encode(col("vec"), Seq(Seq(Seq(1.0, 0.0), Seq(0.0, 1.0)))).as("pq"),
        pq_adc_dist(col("vec"),
          pq_encode(col("vec"), Seq(Seq(Seq(1.0, 0.0), Seq(0.0, 1.0)))),
          Seq(Seq(Seq(1.0, 0.0), Seq(0.0, 1.0)))).as("ad"),
        run_length_ranges(transform(col("words"), w => length(w).cast("long")),
          lit(2L)).as("rl"),
        greedy_pack_breaks(transform(col("words"), w => length(w).cast("long")),
          lit(2L), lit(4L)).as("gp"),
        cdc_boundaries(col("text"), 4, 3L, 1000003L).as("cb"),
        cosine_sim(col("vec"), col("vec")).as("cs"),
        pair_combos(array(col("id"), col("id") + 1, col("id") + 2)).as("pc"),
        top_ngrams_ranked(col("text"), 2, 3).as("tr"),
        ct_classify(col("text"), 2, 3, Seq("de", "en"), Seq("li", "ne"),
          Seq(Seq(1L, -1L), Seq(2L, 1L))).as("cc"),
        interleave_bits(Seq(col("id"), col("id") + 1), 4).as("ib"))
      val rows = out.collect() // forces the generated class to COMPILE and run
      assert(rows.length === 50)
      val plan = out.queryExecution.executedPlan.toString
      assert(plan.contains("*(1) Project"),
        s"kernel projection fell out of whole-stage codegen:\n$plan")
      // and a spot value-check through the CODEGEN path (generated vs
      // interpreted parity is OptimizedShapeParitySpec's "cosine_sim,
      // dot_product, intersect_size, interleave_bits: generated and
      // interpreted code equal the reference")
      val r = rows.find(_.getAs[Long]("id") == 0L).get
      assert(r.getAs[Int]("is") === 4) // distinct words: w1 w2 w3 w0
      assert(r.getAs[Double]("dp") === 5.0)
      assert(r.getAs[Long]("ib") === 2L) // id 0, id + 1 = 1: y's bit 0 at position 1
      assert(r.getAs[Seq[org.apache.spark.sql.Row]]("pc").map(p => (p.getLong(0), p.getLong(1))) ===
        Seq((0L, 1L), (0L, 2L), (1L, 2L)))
      val ls = r.getAs[org.apache.spark.sql.Row]("ls")
      assert(ls.getAs[Int]("n_lines") === 4 && ls.getAs[Int]("n_bullet") === 1 &&
        ls.getAs[Int]("n_ellipsis") === 3 && ls.getAs[Int]("n_dup_lines") === 1 &&
        ls.getAs[Int]("n_paras") === 2 && ls.getAs[Int]("n_dup_paras") === 0)
      assert(r.getAs[Seq[String]]("ws") === Seq("w1 w2", "w2 w3", "w3 w2", "w2 w1", "w1 w0"))
      // Generate + struct-getField contexts (these compile the kernel's
      // generated code through different consumers than a Project —
      // the paths the undeclared-isNull bug broke)
      assert(df.select(explode(word_shingles(col("words"), 2)).as("sh"))
        .collect().length === 250)
      assert(df.select(explode(md5_window_fps(col("text"), 5, 1)).as("fp"))
        .count() >= 0)
      assert(df.select(line_stats(col("text")).getField("n_lines").as("n"))
        .collect().forall(_.getAs[Int]("n") === 4))
    } finally {
      spark.conf.unset("spark.sql.codegen.fallback")
      spark.conf.unset("spark.sql.codegen.factoryMode")
    }
  }

  test("capped LSH candidatePairs: bucket-keyed join, no cartesian product") {
    val df = (0L until 50L)
      .map(i => (i, (0 until 8).map(j => s"h${i % 5}_$j")))
      .toDF("doc_id", "sig")
    val out = MinHashLSH.candidatePairs(df, "doc_id", sigField = "sig",
      bands = 4, sigLen = 8, maxBucketSize = Some(3))
    val plan = out.queryExecution.optimizedPlan.toString
    // the self-join must be keyed on the (band, bh) bucket — quadratic
    // work only ever inside a bucket, never all-pairs
    assert(!plan.toLowerCase.contains("cartesian"), plan)
    assert(plan.contains("bh"), plan)
  }

  test("capped Postings.candidatePairs: one Exchange, no Window, no self-join") {
    val df = (0L until 200L).map(i => (s"t${i % 13}", i)).toDF("tok", "id")
    val out = Postings.candidatePairs(df, Seq("tok"), "id",
      xxhash64(concat_ws("|", col("id"), col("tok"))), Some(3))
    val plan = out.queryExecution.executedPlan.toString
    assert("Exchange".r.findAllIn(plan).length == 1, plan)
    assert(!plan.contains("Window"), plan)
    assert(!plan.contains("Join"), plan)
  }

  test("Postings.verify: integer measures evaluate intersect_size once in the join condition, double Jaccard twice") {
    import org.apache.spark.sql.catalyst.plans.logical.Join
    val cand = Seq((1L, 2L), (1L, 3L)).toDF("id_a", "id_b")
    val sets = Seq((1L, Seq("a", "b", "c")), (2L, Seq("a", "b")), (3L, Seq("c", "d")))
      .toDF("id", "set")
    def inCondition(m: Postings.Measure): Int =
      Postings.verify(cand, sets, sets, m).queryExecution.optimizedPlan
        .collect { case j: Join => j.condition.map(_.toString).getOrElse("") }
        .map("intersectsizeexpr".r.findAllIn(_).length).sum
    assert(inCondition(Postings.JaccardPpm(500000L)) === 1)
    assert(inCondition(Postings.ContainmentScaled(1000000L, 0.9)) === 1)
    assert(inCondition(Postings.Jaccard(0.5)) === 2)
  }

  test("PrefixFilterJoin ordered tokens: one token-partitioned Window, no Join; postings hold only df >= 2 tokens") {
    import org.apache.spark.sql.catalyst.plans.logical.{Join, Window}
    val df = Seq(
      (1L, Seq("a", "b", "c", "d")),
      (2L, Seq("a", "b", "c", "e")),
      (3L, Seq("q", "x", "y", "z"))
    ).toDF("id", "toks")
    val ordered = PrefixFilterJoin.orderedTokens(df, "id", "toks", 500000L)
    val plan = ordered.queryExecution.optimizedPlan
    // unlike ParagraphDedup's survivor choice, where a min-aggregation
    // collapses every copy of a hot key map-side, every (id, token) row
    // must come out annotated with its df: a partial combine saves no
    // rows, so one Window keyed by the token replaces the groupBy, the
    // join back and the second explode (its per-key buffer spills)
    val windows = plan.collect { case w: Window => w }
    assert(windows.size == 1, plan)
    assert(windows.head.partitionSpec.flatMap(_.references.map(_.name)) == Seq("tok"), plan)
    assert(plan.collect { case j: Join => j }.isEmpty, plan)
    // t = 0.5 over 4 tokens: p = 3. Rarest first, doc 1's prefix is
    // d, a, b and doc 2's e, a, b; doc 3's q, x, y are all df = 1
    val got = ordered.select($"__pf_id", $"toks", $"ptoks")
      .as[(Long, Seq[String], Seq[String])].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(got == Map(
      1L -> (Seq("d", "a", "b", "c"), Seq("a", "b")),
      2L -> (Seq("e", "a", "b", "c"), Seq("a", "b")),
      3L -> (Seq("q", "x", "y", "z"), Seq.empty[String])), got)
    assert(ordered.select(explode($"ptoks")).count() == 4)
  }

  test("jinja recipe chain is narrow: no Exchange anywhere in the plan") {
    val letters = "abcdefghijklmnopqrstuvwxyz".map(_.toString)
    val vocab =
      (Seq("[PAD]", "[UNK]", "[CLS]", "[SEP]") ++ letters ++
        letters.map("##" + _))
        .zipWithIndex.map { case (t, i) => t -> i.toLong }.toMap
    val df = Seq((1L, "hello world", "en"), (2L, "more text", "de"))
      .toDF("doc_id", "text", "lang")
    val out = graft.recipes.Recipes.jinja(
      WordPieceTokenizer(vocab), "{{ text }}|||{{ lang }}",
      keepFields = Seq("doc_id", "input_ids", "attention_mask", "labels"))(df)
    val exec = out.queryExecution.executedPlan.toString
    // render + tokenize + rename + project: all row-local — a recipe
    // over 100 TB must not shuffle a single byte
    assert(!exec.contains("Exchange"), exec)
  }

  test("ParagraphDedup survives on aggregation, never a window over a hot key") {
    val df = (0L until 50L).map(i => (i, s"line${i % 7}\ncommon\nline$i"))
      .toDF("id", "text")
    val out = ParagraphDedup("text", "id")(df)
    val plan = out.queryExecution.optimizedPlan.toString
    // survivor selection must be min-aggregation (map-side partial
    // combine collapses hot boilerplate paragraphs before the shuffle);
    // a Window over the paragraph key would put every copy of a hot
    // line on one reducer
    assert(!plan.contains("Window"), plan)
    assert(plan.toLowerCase.contains("min("), plan)
  }

  test("PackSequences: data-side window is bucket-partitioned; only the tiny totals cross one partition") {
    val df = (0L until 200L).map(i => (i, i % 9)).toDF("id", "n")
    val out = PackSequences("id", "n", chunkSize = 16, bucketSpan = 25)(df)
    val plan = out.queryExecution.executedPlan.toString
    // the per-row cumulative window must be keyed by the bucket column
    val windowLines = plan.linesIterator.filter(_.contains("Window")).toSeq
    assert(windowLines.exists(_.contains("__ps_b")), plan)
    // the O(#buckets) totals table feeds the prefix window through a
    // CONSTANT-keyed exchange (pmod(b,1) = 0 — all totals to one
    // partition by stated intent, no anonymous SinglePartition and no
    // WindowExec warning); the data itself never crosses one partition
    val singles = plan.sliding("Exchange SinglePartition".length)
      .count(_ == "Exchange SinglePartition")
    assert(singles == 0, plan)
    // every window spec carries a partition key: an UNpartitioned spec
    // prints its first argument as an order expr ("... ASC/DESC"), a
    // partitioned one leads with the partition column
    val unpartitioned = "windowspecdefinition\\([^,)]*(ASC|DESC)".r
      .findFirstIn(plan)
    assert(unpartitioned.isEmpty, plan)
    // the prefix table comes back via broadcast, not a shuffled join
    assert(plan.contains("BroadcastHashJoin") ||
      plan.contains("BroadcastExchange"), plan)
  }

  test("sign-bit ANN bucketing: equi-join on bucket, no cartesian, no raw-vector key") {
    // the q96 shape: 8 axis-aligned hyperplanes -> 256 buckets, probe
    // side fans out x9, corpus side stays put; the join must be keyed
    // on the small int bucket, never all-pairs
    val emb = (0L until 100L)
      .map(i => (i, (0 until 16).map(d => math.sin(i * 31 + d))))
      .toDF("vec_id", "e")
    val bucketOf = (0 until 8)
      .map(i => when(col("e").getItem(i) >= 0, lit(1 << i)).otherwise(lit(0)))
      .reduce(_ + _)
    val base = emb.withColumn("bucket", bucketOf)
    val masks = lit(0) +: (0 until 8).map(i => lit(1 << i))
    val probes = base.select(col("vec_id"), col("e"),
      explode(array(masks.map(m => col("bucket").bitwiseXOR(m)): _*)).as("bucket"))
    val out = base.as("a").join(probes.as("b"),
      col("a.bucket") === col("b.bucket") && col("a.vec_id") < col("b.vec_id"))
    val plan = out.queryExecution.optimizedPlan.toString
    assert(!plan.toLowerCase.contains("cartesian"), plan)
    assert(plan.contains("bucket"), plan)
  }

  test("TrainingExport round-trip plan: one shard-id exchange in, plain pruned scan out") {
    import graft.operators.TrainingExport
    val d = java.nio.file.Files.createTempDirectory("graft_export_plan").toString
    val df = (0L until 100L).map(i => (i, s"v$i")).toDF("id", "v")
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan.toString)
      override def onFailure(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    def writePlan: Option[String] =
      plans.toArray.map(_.toString).find(_.contains("InsertIntoHadoopFsRelation"))
    spark.listenerManager.register(listener)
    try TrainingExport.writeShards(df, d, "id", numShards = 4)
    finally {
      // listener events arrive asynchronously
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (writePlan.isEmpty && System.nanoTime() < deadline) Thread.sleep(20)
      spark.listenerManager.unregister(listener)
    }
    val write = writePlan.getOrElse(fail(s"no write plan captured: $plans"))
    // task k writes exactly shard k: the shard id IS the partition id
    // (a hash exchange on shard would fold 3 of 4 shards into one task)
    assert(("""Exchange shufflepartitionidpassthrough\(""" +
      """direct_shuffle_partition_id\(shard#\d+\), 4\)""").r
      .findFirstIn(write).isDefined, write)
    assert(!write.contains("hashpartitioning(shard") && !write.contains("coalesced"),
      write)
    val back = TrainingExport.readShards(spark, d).filter(col("shard") === 2)
    val plan = back.queryExecution.executedPlan.toString
    // shard is a hive partition column: the filter must prune partitions,
    // not scan-and-filter rows
    assert(plan.contains("PartitionFilters"), plan)
    assert(back.count() > 0)
  }

  test("ExactSubstrDedup: hash-keyed equi-join, partial aggs, no single-partition funnel") {
    val docs = (0L until 50L).map(i => (i, s"some repeated text block $i " * 4))
      .toDF("id", "text")
    val out = ExactSubstrDedup.removeDuplicateSpans(docs, "id", "text", gramLen = 12)
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.toLowerCase.contains("cartesian"), plan)
    assert(!plan.contains("SinglePartition"), plan)
    // both the gram dedup and the per-doc span collection must partial-agg
    // (map-side combine) before their shuffles
    assert(plan.contains("partial_count") || plan.contains("partial count"), plan)
    // the join back onto the gram table is keyed on the hash column
    assert(plan.contains("__es_h"), plan)
  }

  test("SimHashNearDup: keyed on (band, chunk), no cartesian, popcount after join") {
    val hs = (0L until 200L).map(i => (i, i * 2654435761L)).toDF("id", "sh")
    val out = SimHashNearDup.candidatePairs(hs, "id", "sh")
    val plan = out.queryExecution.optimizedPlan.toString
    assert(!plan.toLowerCase.contains("cartesian"), plan)
    assert(plan.contains("__sh_band") && plan.contains("__sh_chunk"), plan)
  }

  test("SimHashNearDup: the self-join's second leg is a ReusedExchange, nothing cached") {
    val hs = (0L until 200L).map(i => (i, (i % 50) * 2654435761L)).toDF("id", "sh")
    val out = SimHashNearDup.candidatePairs(hs, "id", "sh")
    assert(out.collect().nonEmpty)
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("isFinalPlan=true") && plan.contains("ReusedExchange"), plan)
    assert(!plan.contains("InMemory"), plan)
  }

  test("SemDeDup assignment is a zero-shuffle fold over literal centroids") {
    val emb = (0L until 100L)
      .map(i => (i, (0 until 8).map(d => math.sin(i * 13 + d))))
      .toDF("vec_id", "e")
    val cents = (0L until 4L)
      .map(i => (i, (0 until 8).map(d => math.cos(i * 7 + d))))
      .toDF("cid", "ce")
    val out = SemDeDup.dedup(emb, "e", "vec_id", cents, eps = 0.99)
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.toLowerCase.contains("cartesian"), plan)
    // the pairwise stage is keyed on the cluster column, never raw vectors
    assert(plan.contains("cluster"), plan)
  }

  private def pipeOps(ms: graft.Mapper*)(df: org.apache.spark.sql.DataFrame) =
    ms.foldLeft(df)((d, m) => m(d))

  test("invertedIndex: ONE exchange; WindowGroupLimit prunes before the sort") {
    val docs = spark.read.parquet(dir)
      .withColumn("words", split(col("text"), "x"))
    val out = CorpusStats.invertedIndex(docs, "id", "words", maxPostings = 3)
    val plan = out.queryExecution.executedPlan.toString
    assert("Exchange".r.findAllIn(plan).length == 1, plan)
    assert(plan.contains("WindowGroupLimit"), plan)
  }

  test("takePerStratum: window partitioned by stratum, never unpartitioned") {
    val docs = spark.read.parquet(dir)
    val out = Sampling.takePerStratum(docs, "id", "grp", k = 3)
    val plan = out.queryExecution.executedPlan.toString
    // the window spec carries the stratum partition key
    assert(plan.contains("windowspecdefinition(grp"), plan)
  }

  test("pageRankScaled: keyed joins + partial aggs, no cartesian, no window") {
    val e = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
    val out = GraphOps.pageRankScaled(e, iters = 2)
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.toLowerCase.contains("cartesian"), plan)
    assert(!plan.contains("Window"), plan) // ranks flow through joins/aggs only
    assert(plan.contains("partial_sum"), plan) // map-side combine on dst
  }

  test("SnapshotDiff: payloads hash BEFORE the keyed full-outer join") {
    val a = spark.read.parquet(dir)
    val b = spark.read.parquet(dir)
    val out = SnapshotDiff.diff(a, b, Seq("id"), Seq("text"))
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("FullOuter"), plan)
    assert(!plan.toLowerCase.contains("cartesian"), plan)
    // content reduces to xxhash64 in the pre-join projection, and the
    // unused columns never leave the scan
    assert(plan.contains("xxhash64"), plan)
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("extra") && !readSchema.contains("grp"), plan)
  }

  test("PhraseBlocklist and the masking preps are narrow: no Exchange") {
    val df = spark.read.parquet(dir)
      .withColumn("ids", transform(split(col("text"), "x"),
        w => length(w).cast("long")))
    val out = pipeOps(
      PhraseBlocklist(Seq("text1", "ex")),
      MlmMasking("ids", "id"),
      SpanCorruption("ids", "id")
    )(df)
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }

  test("CdcChunker: narrow explode, no Exchange, boundaries via native expr") {
    val df = spark.read.parquet(dir)
    val out = CdcChunker("text", "chunk")(df.select("id", "text"))
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
    assert(plan.contains("cdcboundaries"), plan) // the O(n) scalar scan
  }

  test("two-stage retrieval: top-k via TakeOrderedAndProject, no cartesian " +
    "on data, O(k) windows keyed") {
    val q = graft.Queries.queries("q180_two_stage_retrieval")
    val plan = q(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
    // the only window specs cover the 20-row candidate set, each keyed:
    // an unpartitioned spec prints with the ORDER expression first
    val unpartitioned = "windowspecdefinition\\([^,)]*(ASC|DESC)".r
    assert(unpartitioned.findFirstIn(plan).isEmpty, plan)
    // the broadcast side is the single query vector / tiny stats, and
    // the corpus-side join is the candidate equi-join
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastExchange"), plan)
  }

  test("DistinctSketch: sketches combine map-side through partial aggregation") {
    val df = spark.read.parquet(dir)
    val out = DistinctSketch.mergedEstimate(
      DistinctSketch.build(df, Seq("grp"), "text"), Seq("grp"))
    val plan = out.queryExecution.executedPlan.toString
    // both aggregations are ObjectHashAggregate with a partial mode leg:
    // per-partition sketches merge before any shuffle
    assert(plan.contains("ObjectHashAggregate"), plan)
    assert(plan.contains("partial_hll_sketch_agg"), plan)
    assert(plan.contains("partial_hll_union_agg"), plan)
    assert(!plan.toLowerCase.contains("cartesian"), plan)
  }
}
