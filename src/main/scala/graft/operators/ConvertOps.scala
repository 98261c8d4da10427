package graft.operators

import graft.Mapper
import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders, Row}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Boundary + debug mappers.
  * Ref: /root/reference/src/smashed/mappers/converters.py (Python2Torch /
  * Torch2Python) and /root/reference/src/smashed/mappers/debug.py.
  *
  * Tensor-ness is a format detail (SURVEY §2.8): the Spark-side analog of
  * Python2Torch is handing Arrow batches to the training framework. We
  * expose the per-field dtype cast (the part with dataflow semantics) as a
  * mapper and the Arrow hand-off as a terminal iterator.
  */

/** Per-field dtype cast for ML hand-off, mirroring Python2TorchMapper's
  * `field_cast_map` (converters.py:22-102). */
final case class FieldCast(fieldCastMap: Map[String, String]) extends Mapper {
  override def inputFields: Seq[String] = fieldCastMap.keys.toSeq
  override def outputFields: Seq[String] = fieldCastMap.keys.toSeq
  override protected def build(df: DataFrame): DataFrame =
    fieldCastMap.foldLeft(df) { case (acc, (f, t)) =>
      val target = CastTypes.parse(t)
      acc.withColumn(
        f,
        col(f).cast(CastTypes.recast(acc.schema(f).dataType, target))
      )
    }
}

object MlHandoff {
  /** Terminal boundary (the Python2Torch analog, converters.py:22-102):
    * stream rows to the training process one partition at a time — no
    * full-driver materialization. For a columnar hand-off at scale use
    * [[TrainingExport.writeShards]] instead. */
  def toLocalRowIterator(df: DataFrame): Iterator[Row] = {
    import scala.jdk.CollectionConverters._
    df.toLocalIterator().asScala
  }
}

/** File-based training hand-off — the at-scale analog of Python2Torch
  * (converters.py:22-102) + the collator's rectangular batches
  * (collators.py:99-105): shard the collated table deterministically by
  * id hash, one parquet file per shard directory, rows ordered by id
  * within each shard, written by one task per shard, plus a row-count
  * manifest counted during the write. A DataLoader `map`s the shard
  * files directly (parquet is Arrow-compatible); because both the shard
  * assignment and the intra-shard order are pure functions of the id, a
  * re-run — on any cluster size — reproduces the exact same layout,
  * which is what makes checkpoint-resume across pipeline re-executions
  * sound. */
object TrainingExport {

  /** Deterministic shard of an id: codegen'd xxhash64 by default; the
    * `portable` variant is a Knuth multiplicative hash in exact BIGINT
    * arithmetic that any engine replays (same discipline as
    * [[DeterministicShuffle]]'s md5 mode). The portable hash range-scales
    * the HIGH bits (`h * n >> 32`), not `h % n` — the multiplier is odd,
    * so a low-bits modulus would degenerate to `id % n` for power-of-two
    * shard counts. */
  def shardCol(id: Column, numShards: Int, portable: Boolean = false): Column =
    if (portable)
      shiftright(
        (id.cast(LongType) * lit(2654435761L)).bitwiseAND(lit(4294967295L)) *
          lit(numShards.toLong),
        32
      ).cast(IntegerType)
    else
      pmod(xxhash64(id.cast(StringType)), lit(numShards.toLong))
        .cast(IntegerType)

  /** Write `df` as `path/shard=K/part-*.parquet`, K in [0, numShards),
    * replacing anything at `path`. The rows go through one exchange
    * partitioned by the shard id itself (`repartitionById`), so write
    * task K holds exactly shard K: one file per shard dir, sorted by
    * `idField`, and every shard is written in parallel. (A hash
    * repartition on the shard number would put several shards in one
    * task — for 4 shards, three of them — and leave other tasks empty.)
    *
    * A `_manifest.json` beside the shards lists per-shard row counts so
    * a DataLoader can size its workers without touching parquet footers.
    * The counts are taken by the write itself: an `Observation` on the
    * rows entering the exchange, one O(1) array-slot increment per row,
    * exact under task retries — no read-back of the export, no extra
    * job. An empty `df` writes an all-zero manifest. */
  def writeShards(
      df: DataFrame,
      path: String,
      idField: String,
      numShards: Int,
      portable: Boolean = false
  ): Unit = {
    require(numShards > 0, "numShards must be positive")
    val observation = new org.apache.spark.sql.Observation()
    val shardRows = udaf(new ShardCounts(numShards), Encoders.scalaInt)
    df.withColumn("shard", shardCol(col(idField), numShards, portable))
      .observe(observation, shardRows(coalesce(col("shard"), lit(-1))).as("rows"))
      .repartitionById(numShards, col("shard"))
      .sortWithinPartitions(col("shard"), col(idField))
      .write.mode("overwrite").partitionBy("shard").parquet(path)
    // an empty input may report no metric row at all: a missing count is 0
    val counts = observation.get.get("rows") match {
      case Some(c: scala.collection.Seq[_]) => c.map(_.asInstanceOf[Long])
      case _                                => Nil
    }
    val json = (0 until numShards)
      .map(k => s"""  "shard=$k": ${counts.lift(k).getOrElse(0L)}""")
      .mkString("{\n", ",\n", "\n}\n")
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path),
      df.sparkSession.sparkContext.hadoopConfiguration)
    val out = fs.create(
      new org.apache.hadoop.fs.Path(path, "_manifest.json"), true)
    try out.write(json.getBytes("UTF-8"))
    finally out.close()
  }

  /** Rows per shard, one array slot each; out-of-range ids (a null
    * shard arrives as -1) are not counted. */
  private final class ShardCounts(numShards: Int)
      extends Aggregator[Int, Array[Long], Array[Long]] {
    def zero: Array[Long] = new Array[Long](numShards)
    def reduce(b: Array[Long], shard: Int): Array[Long] = {
      if (shard >= 0 && shard < numShards) b(shard) += 1
      b
    }
    def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
      var i = 0
      while (i < numShards) { a(i) += b(i); i += 1 }
      a
    }
    def finish(b: Array[Long]): Array[Long] = b
    def bufferEncoder: Encoder[Array[Long]] = ExpressionEncoder[Array[Long]]()
    def outputEncoder: Encoder[Array[Long]] = ExpressionEncoder[Array[Long]]()
  }

  /** Read a shard export back; the `shard` partition column comes back
    * as an int column, so the round-trip is the identity on the data. */
  def readShards(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame =
    spark.read.parquet(path)
}

/** Log/peek mapper (the breakpoint-free analog of DebugSingleMapper,
  * debug.py:8-35): shows `numRows` rows + the schema at plan build. */
final case class DebugPeek(numRows: Int = 5, label: String = "debug")
    extends Mapper {
  override protected def build(df: DataFrame): DataFrame = {
    // driver-side peek at build time; the plan itself is unchanged
    println(s"[$label] schema: ${df.schema.simpleString}")
    df.show(numRows, truncate = 60)
    df
  }
}

/** Pipeline observability through Spark's `Observation`/CollectMetrics:
  * attach named metric EXPRESSIONS (row counts, sums, null rates,
  * filter-survival counters) to a pipeline stage; they are computed as a
  * BY-PRODUCT of whatever action later materializes the plan — zero
  * extra jobs, zero extra scans, exact even under retries (contrast
  * [[DebugPeek]], which fires its own `show`). This is how a 100 TB run
  * answers "how many rows did the quality gate drop" without a second
  * pass over the corpus.
  *
  * One-shot by contract of the underlying API: each instance may be
  * attached to one materialized plan; build a fresh stage per run.
  * Read with [[metricsMap]] after an action (blocks until one ran). */
final case class ObservedStage(
    stageName: String,
    metrics: Seq[(String, Column)]
) extends Mapper {
  require(metrics.nonEmpty, "ObservedStage needs at least one metric")
  @transient lazy val observation =
    new org.apache.spark.sql.Observation(stageName)
  override protected def build(df: DataFrame): DataFrame = {
    val aliased = metrics.map { case (n, c) => c.as(n) }
    df.observe(observation, aliased.head, aliased.tail: _*)
  }
  /** The observed metric values; call after an action on the stage's
    * output (or any descendant). */
  def metricsMap: Map[String, Any] = observation.get
}

/** Test mapper: add a constant to every numeric value (MockMapper,
  * debug.py:56-72). */
final case class MockAdd(delta: Long = 1L) extends Mapper {
  override protected def build(df: DataFrame): DataFrame = {
    val outCols = df.schema.fields.map { f =>
      f.dataType match {
        case _: LongType | _: IntegerType | _: DoubleType | _: FloatType =>
          (col(f.name) + delta).cast(f.dataType).as(f.name)
        case ArrayType(et, _) if et.isInstanceOf[NumericType] =>
          transform(col(f.name), x => (x + delta).cast(et)).as(f.name)
        case _ => col(f.name)
      }
    }
    df.select(outCols.toSeq: _*)
  }
}
