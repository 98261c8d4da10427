package graft.operators

import graft.{Fingerprint, Mapper, Pipeline}
import org.apache.spark.sql.DataFrame

/** Fingerprinted stage caching — the Start/EndCaching semantics.
  * Ref: /root/reference/src/smashed/mappers/cache.py:70-330.
  *
  * `CachedStage(dir, inner)` computes key = SHA-256(input plan fingerprint
  * + inner pipeline fingerprint); on hit, the whole segment is replaced by
  * a parquet scan (so Catalyst sees a plain source — pruning/pushdown
  * apply); on miss, the segment runs, its result is written to
  * `dir/<key>`, and the scan of that parquet is returned (the write is the
  * materialization barrier, like the reference's save-on-the-way-through,
  * cache.py:216-229).
  *
  * Scale note: the cache write is a normal distributed parquet write — no
  * driver materialization; safe at any SF.
  */
final case class CachedStage(cacheDir: String, inner: Mapper) extends Mapper {
  override def inputFields: Seq[String] = inner.inputFields
  override def outputFields: Seq[String] = inner.outputFields
  override def name: String = s"CachedStage(${inner.name})"

  override protected def build(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    // dataset fingerprint = hash of the analyzed input plan PLUS the
    // concrete input files (the plan's string form elides scan paths, so
    // two same-schema datasets would otherwise collide), mirroring the
    // reference's dataset fingerprint at cache.py:137-146
    val datasetFp = Fingerprint.sha256(
      df.queryExecution.analyzed.toString() +
        "|" + df.inputFiles.sorted.mkString(",")
    )
    val key = Fingerprint.sha256(datasetFp + ":" + inner.fingerprint)
    val path = s"$cacheDir/$key"
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path),
      spark.sparkContext.hadoopConfiguration
    )
    val marker = new org.apache.hadoop.fs.Path(path + "/_SUCCESS")
    if (!fs.exists(marker)) {
      inner(df).write.mode("overwrite").parquet(path)
    }
    spark.read.parquet(path)
  }
}

object CachedStage {
  /** Bracket-style helper mirroring StartCaching >> ... >> EndCaching. */
  def around(cacheDir: String)(stages: Mapper*): CachedStage =
    CachedStage(cacheDir, Pipeline(stages.flatMap(_.stages).toVector))
}
