package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.{LongType, StringType}

/** Sinks + physical-layout helpers.
  *
  * The reference's write surface is "upload dir to S3 on success"
  * (/root/reference/src/smashed/utils/io_utils/closures.py:15-107) —
  * Spark's committers give that atomicity natively (`df.write` to
  * `s3a://`). What a 100-TB pipeline additionally needs is LAYOUT
  * control, which is where these helpers earn their place:
  *
  *   - `partitionedParquet`: hive-style partition dirs → partition
  *     pruning on read;
  *   - `bucketedTable`: bucket + sort by join key → downstream joins and
  *     aggregations on that key skip the shuffle entirely (the single
  *     biggest lever for repeated large-scale joins);
  *   - `Salting`: explicit skew mitigation when one key dominates.
  */
object Sinks {

  def partitionedParquet(
      df: DataFrame,
      path: String,
      partitionBy: Seq[String],
      mode: String = "overwrite"
  ): Unit = {
    val w = df.write.mode(mode)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
      .parquet(path)
  }

  /** Bucketed + sorted managed table: co-locates rows by key so a later
    * join/groupBy on `bucketBy` is shuffle-free (SortMergeJoin reads the
    * bucketed layout directly). */
  def bucketedTable(
      df: DataFrame,
      table: String,
      bucketBy: Seq[String],
      numBuckets: Int,
      sortBy: Seq[String] = Nil,
      mode: String = "overwrite"
  ): Unit = {
    var w = df.write.mode(mode).bucketBy(numBuckets, bucketBy.head, bucketBy.tail: _*)
    if (sortBy.nonEmpty) w = w.sortBy(sortBy.head, sortBy.tail: _*)
    w.format("parquet").saveAsTable(table)
  }

  def jsonl(df: DataFrame, path: String, mode: String = "overwrite"): Unit =
    df.write.mode(mode).json(path)

  def csv(
      df: DataFrame,
      path: String,
      sep: String = ",",
      header: Boolean = true,
      mode: String = "overwrite"
  ): Unit =
    df.write.mode(mode).option("sep", sep).option("header", header.toString).csv(path)

  /** Size-governed parquet export: the file-count/file-size lever that
    * matters at 100 TB, where an ungoverned write produces either
    * millions of KB files (NameNode/listing poison, per-file open cost
    * on every read) or a handful of 10 GB monsters (no read
    * parallelism, stragglers on retry).
    *
    *   - `targetRowsPerFile` bounds rows per file via
    *     `maxRecordsPerFile` (cheap, no extra shuffle: each task just
    *     rolls to a new file at the bound);
    *   - `sortWithinBy` optionally range-partitions + sorts by the
    *     given keys first (`repartitionByRange` samples the key space,
    *     so output files tile the key range evenly even under skew) —
    *     this buys min/max zone-map pruning on those columns for every
    *     downstream parquet reader at the cost of ONE extra sort
    *     shuffle;
    *   - with `sortWithinBy` empty and `numFiles` set, a round-robin
    *     `repartition(numFiles)` evens out file sizes exactly.
    *
    * The knobs compose with [[partitionedParquet]]-style hive dirs via
    * `partitionBy`. */
  def sizedParquet(
      df: DataFrame,
      path: String,
      targetRowsPerFile: Long,
      sortWithinBy: Seq[String] = Nil,
      numFiles: Option[Int] = None,
      partitionBy: Seq[String] = Nil,
      mode: String = "overwrite"
  ): Unit = {
    val shaped = shape(df, sortWithinBy, numFiles)
    val w = shaped.write.mode(mode)
      .option("maxRecordsPerFile", targetRowsPerFile)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
      .parquet(path)
  }

  /** `sortWithinBy` non-empty: range-partition on it (into `numFiles`
    * partitions if set) and sort within each; else round-robin into
    * `numFiles` partitions if set, or leave `df` as it is. */
  private def shape(df: DataFrame, sortWithinBy: Seq[String],
      numFiles: Option[Int]): DataFrame =
    if (sortWithinBy.nonEmpty) {
      val cols = sortWithinBy.map(col)
      val ranged = numFiles
        .map(n => df.repartitionByRange(n, cols: _*))
        .getOrElse(df.repartitionByRange(cols: _*))
      ranged.sortWithinPartitions(cols: _*)
    } else numFiles.map(df.repartition).getOrElse(df)

  /** Parquet export with column BLOOM FILTERS — the point-predicate
    * complement to min/max zone maps. Zone maps (tightened by
    * [[ZOrderLayout]] / `sortWithinBy`) prune RANGE predicates; they
    * are useless for `id = X` / `url = Y` lookups over high-cardinality
    * unsorted columns, where every file's [min,max] spans the probe.
    * A per-column split-block bloom filter (parquet-mr native,
    * `parquet.bloom.filter.enabled#col`) lets the reader skip row
    * groups that definitely lack the value — the difference between
    * scanning one row group and scanning 100 TB on "find this doc_id /
    * was this URL ingested" forensic queries. `expectedNdv` sizes the
    * filter (~1 byte/value at the default 1% fpp); oversizing wastes
    * footer bytes, undersizing inflates fpp — pass the per-FILE
    * distinct estimate, not the corpus one. */
  def bloomFilteredParquet(
      df: DataFrame,
      path: String,
      bloomCols: Seq[String],
      expectedNdv: Long = 100000L,
      sortWithinBy: Seq[String] = Nil,
      numFiles: Option[Int] = None,
      mode: String = "overwrite"
  ): Unit = {
    require(bloomCols.nonEmpty, "need at least one bloom-filtered column")
    val shaped = shape(df, sortWithinBy, numFiles)
    val w = bloomCols.foldLeft(shaped.write.mode(mode)) { (w, c) =>
      w.option(s"parquet.bloom.filter.enabled#$c", "true")
        .option(s"parquet.bloom.filter.expected.ndv#$c", expectedNdv.toString)
    }
    w.parquet(path)
  }

  /** Release manifest for an exported dataset: one row per physical
    * file with row count and an order-independent content checksum
    * (SUM of the caller's per-row `rowHash` — commutative, so the
    * checksum is stable under Spark's nondeterministic row-to-file
    * scan order within a file). The manifest is the verify-after-copy
    * artifact a reproducible corpus release ships: re-run `manifest`
    * on the destination and diff. One pass over the export, partial
    * aggregation by `input_file_name`, O(#files) output. */
  def manifest(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      rowHash: Column
  ): DataFrame =
    spark.read.parquet(path)
      .groupBy(input_file_name().as("file"))
      .agg(
        count(lit(1)).as("n_rows"),
        sum(rowHash).as("rows_hash"))

  /** Collapse a manifest to its release totals: (n_files, n_rows,
    * total_hash) — the three numbers to publish beside the dataset. */
  def manifestTotals(manifest: DataFrame): DataFrame =
    manifest.agg(
      count(lit(1)).as("n_files"),
      sum(col("n_rows")).as("n_rows"),
      sum(col("rows_hash")).as("total_hash"))
}

/** Merkle tree over a release manifest's per-file checksums — the
  * integrity upgrade on [[Sinks.manifestTotals]]'s flat sum: the flat
  * total says "SOMETHING diverged" after a copy; comparing Merkle trees
  * locates WHICH file in O(log #files) node comparisons, and the root
  * alone is a tamper-evident release id (publishing it commits to every
  * file's content + name, unlike a commutative sum which collides under
  * swapped-between-files rows).
  *
  * Shape: leaves are the manifest rows ordered by file name (stable
  * across scan order), each level pairs adjacent nodes (odd node pairs
  * with itself, the classic duplication rule), levels build with one
  * tiny groupBy each — log2(#files) jobs over O(#files) rows. The one
  * count() is over the manifest (bounded by #files). The leaf-order
  * window uses the constant-valued partition key (SCALE.md §8): the
  * manifest is O(#files) by construction, never corpus-sized. */
object MerkleManifest {

  private def idiv(a: Column, b: Column): Column =
    graft.functions.functions.integral_divide(a, b)

  /** All tree levels: (level, idx, node) with level 0 = leaves in file
    * order, the top level a single root row. Leaf hash binds file NAME
    * and checksum; inner hash = md5(left || right). */
  def levels(
      manifest: DataFrame,
      fileField: String = "file",
      hashField: String = "rows_hash"
  ): DataFrame = {
    val w = Window
      .partitionBy(pmod(length(col(fileField)), lit(1)))
      .orderBy(col(fileField))
    var cur = manifest
      .select(col(fileField),
        md5(concat_ws(":", col(fileField),
          col(hashField).cast(StringType))).as("node"))
      .withColumn("idx", row_number().over(w).cast(LongType) - 1L)
      .select(col("idx"), col("node"))
    var width = cur.count()
    var level = 0
    var out = cur.withColumn("level", lit(0L))
    while (width > 1) {
      level += 1
      cur = cur
        .groupBy(idiv(col("idx"), lit(2L)).as("pidx"))
        .agg(
          min(struct(col("idx").as("i"), col("node").as("h"))).as("l"),
          max(struct(col("idx").as("i"), col("node").as("h"))).as("r"))
        .select(col("pidx").as("idx"),
          md5(concat(col("l.h"), col("r.h"))).as("node"))
      width = (width + 1) / 2
      out = out.union(cur.withColumn("level", lit(level.toLong)))
    }
    out.select(col("level"), col("idx"), col("node"))
  }

  /** Just the root row: (n_leaves, levels, root). */
  def root(
      manifest: DataFrame,
      fileField: String = "file",
      hashField: String = "rows_hash"
  ): DataFrame = {
    val lv = levels(manifest, fileField, hashField)
    lv.agg(
      sum(when(col("level") === 0L, 1L).otherwise(0L)).as("n_leaves"),
      (max(col("level")) + 1L).as("levels"),
      max_by(col("node"), col("level")).as("root"))
  }
}

/** Deterministic salting for skewed keys (SURVEY "skewed keys → salting
  * or AQE skew-join"). AQE's skew handling covers sort-merge joins at
  * runtime; explicit salting remains the tool for skewed AGGREGATIONS
  * and for joins whose skew AQE can't split (e.g. a single massive
  * key on the build side). */
object Salting {

  /** Two-phase aggregation for a skewed groupBy: group on (key, salt)
    * first (spreads the hot key over `factor` reducers), then re-group
    * on key. `aggs` must be decomposable (sum/count/min/max — the
    * partial and final agg expressions are supplied by the caller). */
  def saltedSum(
      df: DataFrame,
      key: Seq[String],
      valueCol: String,
      factor: Int = 16
  ): DataFrame = {
    val salted = df.withColumn(
      "__salt",
      pmod(xxhash64(monotonically_increasing_id()), lit(factor))
    )
    salted
      .groupBy((key.map(col) :+ col("__salt")): _*)
      .agg(sum(col(valueCol)).as("__partial"))
      .groupBy(key.map(col): _*)
      .agg(sum(col("__partial")).as(s"sum_$valueCol"))
  }

  /** Salted join for a skewed LEFT side against a small-ish right side
    * that is still too big to broadcast: right rows are replicated
    * `factor`× (one per salt), left rows pick a deterministic salt, and
    * the join key becomes (key, salt) — the hot key now lands on
    * `factor` reducers instead of one. */
  def saltedJoin(
      left: DataFrame,
      right: DataFrame,
      key: Seq[String],
      factor: Int = 16,
      joinType: String = "inner"
  ): DataFrame = {
    val saltedLeft = left.withColumn(
      "__salt",
      pmod(xxhash64(monotonically_increasing_id()), lit(factor))
    )
    val saltedRight = right.withColumn(
      "__salt",
      explode(sequence(lit(0L), lit(factor.toLong - 1)))
    )
    saltedLeft
      .join(saltedRight, key :+ "__salt", joinType)
      .drop("__salt")
  }
}
