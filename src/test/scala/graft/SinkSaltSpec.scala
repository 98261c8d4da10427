package graft

import graft.operators.{Salting, Sinks}
import org.apache.spark.sql.functions._

/** Sinks (partitioning/bucketing) + skew salting. */
class SinkSaltSpec extends SparkSpec {
  import spark.implicits._

  test("partitioned parquet writes hive-style dirs; pruning applies") {
    val dir = java.nio.file.Files.createTempDirectory("graft_part").toString
    val df = Seq((1L, "a"), (2L, "b"), (3L, "a")).toDF("id", "p")
    Sinks.partitionedParquet(df, dir, Seq("p"))
    assert(new java.io.File(dir).listFiles().map(_.getName).count(_.startsWith("p=")) == 2)
    val read = spark.read.parquet(dir).filter(col("p") === "a")
    assert(read.count() == 2)
    // partition filter must reach the scan (pruning, not a data filter)
    val plan = read.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && !plan.contains("PushedFilters: [IsNotNull(p)"))
  }

  private def manifestCounts(dir: String): Map[Int, Long] = {
    val manifest = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, "_manifest.json")), "UTF-8")
    "\"shard=(\\d+)\": (\\d+)".r
      .findAllMatchIn(manifest).map(m => m.group(1).toInt -> m.group(2).toLong).toMap
  }

  test("TrainingExport: round-trip identity, one file per shard, deterministic layout") {
    import graft.operators.TrainingExport
    val df = (0L until 200L).map(i => (i, Seq.fill(4)(i % 7))).toDF("id", "ids")
    for (portable <- Seq(true, false)) {
      val dir = java.nio.file.Files.createTempDirectory("graft_export").toString
      TrainingExport.writeShards(df, dir, "id", numShards = 4, portable = portable)
      val shardDirs = new java.io.File(dir).listFiles()
        .filter(_.getName.startsWith("shard="))
      assert(shardDirs.length == 4)
      // exactly one parquet file per shard dir (a DataLoader maps one file per shard)
      shardDirs.foreach { d =>
        assert(d.listFiles().count(_.getName.endsWith(".parquet")) == 1, d.getName)
      }
      val back = TrainingExport.readShards(spark, dir)
      assert(back.count() == 200)
      assert(back.select("id", "ids").except(df).count() == 0)
      assert(df.except(back.select("id", "ids")).count() == 0)
      // the manifest, counted during the write, lists every shard with
      // exactly the row count read back from that shard
      val readBack = back.groupBy("shard").count().as[(Int, Long)].collect().toMap
      val counts = manifestCounts(dir)
      assert(counts.keySet == Set(0, 1, 2, 3), s"portable=$portable $counts")
      assert(counts == (0 until 4).map(k => k -> readBack.getOrElse(k, 0L)).toMap,
        s"portable=$portable manifest $counts vs read-back $readBack")
      assert(counts.values.sum == 200L)
      // shard column matches the hash replayed in SQL
      val expect =
        if (portable)
          shiftright((col("id") * 2654435761L).bitwiseAND(lit(4294967295L)) * 4L,
            32).cast("int")
        else pmod(xxhash64(col("id").cast("string")), lit(4L)).cast("int")
      assert(back.filter(col("shard") =!= expect).count() == 0)
      // re-writing produces the identical deterministic layout (same
      // per-shard row sets and in-file order)
      val dir2 = java.nio.file.Files.createTempDirectory("graft_export2").toString
      TrainingExport.writeShards(df, dir2, "id", numShards = 4, portable = portable)
      val a = spark.read.parquet(dir).selectExpr("shard", "id").collect().map(_.toSeq)
      val b = spark.read.parquet(dir2).selectExpr("shard", "id").collect().map(_.toSeq)
      assert(a.sortBy(_.toString()) sameElements b.sortBy(_.toString()))
    }
  }

  test("TrainingExport: an empty export writes an all-zero manifest") {
    import graft.operators.TrainingExport
    // empty at run time (a filter) and at plan time (an empty local relation)
    val empties = Seq(
      spark.range(100).filter(col("id") < 0).select(col("id"), lit("x").as("v")),
      Seq.empty[(Long, String)].toDF("id", "v"))
    for (empty <- empties; portable <- Seq(false, true)) {
      val dir = java.nio.file.Files.createTempDirectory("graft_export_empty").toString
      TrainingExport.writeShards(empty, dir, "id", numShards = 3, portable = portable)
      assert(manifestCounts(dir) == Map(0 -> 0L, 1 -> 0L, 2 -> 0L))
    }
  }

  test("bucketed table join avoids the shuffle on the bucketed key") {
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val a = (1L to 1000L).map(i => (i, s"a$i")).toDF("k", "va")
      val b = (1L to 1000L).map(i => (i, s"b$i")).toDF("k", "vb")
      Sinks.bucketedTable(a, "graft_bkt_a", Seq("k"), 4, sortBy = Seq("k"))
      Sinks.bucketedTable(b, "graft_bkt_b", Seq("k"), 4, sortBy = Seq("k"))
      val joined = spark.table("graft_bkt_a").join(spark.table("graft_bkt_b"), "k")
      assert(joined.count() == 1000)
      val plan = joined.queryExecution.executedPlan.toString
      // bucketed layout satisfies the join's distribution: no Exchange
      assert(!plan.contains("Exchange hashpartitioning"), plan.take(500))
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.sql("DROP TABLE IF EXISTS graft_bkt_a")
      spark.sql("DROP TABLE IF EXISTS graft_bkt_b")
    }
  }

  test("saltedSum equals plain groupBy sum") {
    val df = (1 to 5000).map(i => (if (i % 10 == 0) "hot" else s"k${i % 50}", i.toLong))
      .toDF("k", "v")
    val plain = df.groupBy("k").agg(sum("v").as("s"))
      .as[(String, Long)].collect().toMap
    val salted = Salting.saltedSum(df, Seq("k"), "v")
      .as[(String, Long)].collect().toMap
    assert(salted == plain)
  }

  test("saltedJoin equals plain join") {
    val left = (1 to 2000).map(i => (s"k${i % 7}", i.toLong)).toDF("k", "lv")
    val right = Seq(("k0", "x"), ("k1", "y"), ("k3", "z")).toDF("k", "rv")
    val plain = left.join(right, Seq("k")).select("k", "lv", "rv")
      .collect().map(_.toSeq).toSet
    val salted = Salting.saltedJoin(left, right, Seq("k"))
      .select("k", "lv", "rv").collect().map(_.toSeq).toSet
    assert(salted == plain)
  }

  test("sizedParquet: row-bounded files; sorted mode tiles the key range") {
    def partFiles(dir: String) =
      new java.io.File(dir).listFiles().filter(_.getName.endsWith(".parquet"))
    val df = (1L to 1000L).map(i => (i, s"v$i")).toDF("id", "v")

    val flat = java.nio.file.Files.createTempDirectory("graft_sized").toString
    Sinks.sizedParquet(df, flat, targetRowsPerFile = 100L, numFiles = Some(2))
    val ff = partFiles(flat)
    assert(ff.length == 10) // 2 tasks × 5 rolls of 100
    ff.foreach(f => assert(spark.read.parquet(f.toString).count() <= 100L))

    val sorted = java.nio.file.Files.createTempDirectory("graft_sizeds").toString
    Sinks.sizedParquet(df, sorted, targetRowsPerFile = 100L,
      sortWithinBy = Seq("id"), numFiles = Some(2))
    // every output file covers a CONTIGUOUS id range (zone-map friendly);
    // round-robin placement would interleave and fail this
    partFiles(sorted).foreach { f =>
      val r = spark.read.parquet(f.toString)
        .agg(min($"id"), max($"id"), count(lit(1)))
        .as[(Long, Long, Long)].head()
      assert(r._2 - r._1 + 1 == r._3, s"file ${f.getName} not contiguous: $r")
      assert(r._3 <= 100L)
    }
    // round-trip integrity
    assert(spark.read.parquet(sorted).as[(Long, String)].collect().toSet ==
      df.as[(Long, String)].collect().toSet)
  }

  test("manifest: per-file counts sum to the release; totals are layout-stable") {
    import org.apache.spark.sql.functions._
    val df = (0L until 300L).map(i => (i, s"doc$i")).toDF("id", "text")
    val rowHash = xxhash64(col("id"), col("text"))
    def totalsAt(path: String, files: Int): (Long, Long, Long) = {
      Sinks.sizedParquet(df, path, targetRowsPerFile = 50L,
        sortWithinBy = Seq("id"), numFiles = Some(files))
      val m = Sinks.manifest(spark, path, rowHash)
      // every physical file respects the row bound
      assert(m.select(max("n_rows")).as[Long].head() <= 50L)
      val t = Sinks.manifestTotals(m).collect().head
      (t.getLong(0), t.getLong(1), t.getLong(2))
    }
    val a = totalsAt("/tmp/graft_manifest_a", 2)
    val b = totalsAt("/tmp/graft_manifest_b", 5)
    // row count and the commutative checksum are layout-independent;
    // the file count is not
    assert(a._2 == 300L && b._2 == 300L)
    assert(a._3 == b._3)
    assert(a._1 != b._1)
  }
}

class MerkleManifestSpec extends SparkSpec {
  import spark.implicits._
  import graft.operators.MerkleManifest

  private def man(rows: (String, Long)*) =
    rows.toSeq.toDF("file", "rows_hash")

  test("levels: power-of-2 leaf count builds a perfect tree; root is scan-order stable") {
    val m = man(("a", 1L), ("b", 2L), ("c", 3L), ("d", 4L))
    val lv = MerkleManifest.levels(m).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(lv.count(_._1 == 0L) == 4 && lv.count(_._1 == 1L) == 2 &&
      lv.count(_._1 == 2L) == 1)
    // same rows, different incoming order -> identical tree
    val shuffled = man(("d", 4L), ("b", 2L), ("a", 1L), ("c", 3L))
    val lv2 = MerkleManifest.levels(shuffled).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(lv.toSet == lv2.toSet)
  }

  test("odd node duplicates itself; root changes iff any leaf changes") {
    val m3 = man(("a", 1L), ("b", 2L), ("c", 3L))
    val lv = MerkleManifest.levels(m3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    // 3 leaves -> level1 has 2 nodes (c pairs with itself) -> 1 root
    assert(lv.count(_._1 == 1L) == 2 && lv.count(_._1 == 2L) == 1)
    val cLeaf = lv.find(t => t._1 == 0L && t._2 == 2L).get._3
    val oddParent = lv.find(t => t._1 == 1L && t._2 == 1L).get._3
    val md = java.security.MessageDigest.getInstance("MD5")
    val dup = md.digest((cLeaf + cLeaf).getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    assert(oddParent == dup, "odd node must pair with itself")
    def rootOf(df: org.apache.spark.sql.DataFrame) =
      MerkleManifest.root(df).collect().head
    val r0 = rootOf(m3)
    assert(r0.getLong(0) == 3L && r0.getLong(1) == 3L)
    val r1 = rootOf(man(("a", 1L), ("b", 2L), ("c", 999L)))
    assert(r0.getString(2) != r1.getString(2), "leaf change flips root")
    // a diverged copy is LOCATED by walking differing nodes: exactly one
    // leaf differs between the two trees
    val lvB = MerkleManifest.levels(man(("a", 1L), ("b", 2L), ("c", 999L)))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    val diffLeaves = lv.filter(_._1 == 0L).toSet
      .diff(lvB.filter(_._1 == 0L).toSet)
    assert(diffLeaves.map(_._2) == Set(2L))
  }
}

class BloomFilteredParquetSpec extends SparkSpec {
  import spark.implicits._
  import graft.operators.Sinks
  import scala.jdk.CollectionConverters._

  test("written files carry a working bloom filter for the requested column") {
    val dir = java.nio.file.Files.createTempDirectory("graft_bloom").toString
    val df = spark.range(10000).select(
      col("id"), concat(lit("url-"), col("id") * 7).as("url"))
    Sinks.bloomFilteredParquet(df, dir, Seq("url"),
      expectedNdv = 10000, numFiles = Some(2))

    val part = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(part.getAbsolutePath),
      spark.sessionState.newHadoopConf())
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try {
      val rg = reader.getFooter.getBlocks.get(0)
      val urlChunk = rg.getColumns.asScala
        .find(_.getPath.toDotString == "url").get
      assert(urlChunk.getBloomFilterOffset > 0, "no bloom filter written")
      val bf = reader.readBloomFilter(urlChunk)
      assert(bf != null)
      // a value present in THIS file's rows must hit; a never-written
      // value must (overwhelmingly) miss at the default 1% fpp
      val present = spark.read.parquet(part.getAbsolutePath)
        .select("url").as[String].head()
      import org.apache.parquet.io.api.Binary
      assert(bf.findHash(bf.hash(Binary.fromString(present))))
      val misses = (0 until 200).count { i =>
        !bf.findHash(bf.hash(Binary.fromString(s"absent-$i")))
      }
      assert(misses >= 190, s"only $misses/200 absent probes missed")
      // the un-filtered column has no bloom
      val idChunk = rg.getColumns.asScala
        .find(_.getPath.toDotString == "id").get
      assert(idChunk.getBloomFilterOffset <= 0)
    } finally reader.close()
  }
}
