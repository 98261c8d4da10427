package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** The one local session behind the `Bench`, `QTime`, `Verify` and
  * `GrowthProbe` mains, and the warm-up they share. */
object GraftSession {

  /** `SPARK_GRAFT_CPUS` as a number, else the host's core count. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def local(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      // Spark 4 defaults ANSI on; the reference's (Python) semantics are
      // permissive casts / null-on-missing — match them (SURVEY §1.2)
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      // events.parquet carries TIMESTAMP(NANOS) which Spark 4 rejects;
      // read as long and convert explicitly (Queries.events)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // q29 writes bucketed managed tables; keep the warehouse off the
      // driver's CWD so the write never depends on repo-dir permissions
      .config("spark.sql.warehouse.dir", "/tmp/graft_warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** JIT + codegen + parquet reader init, so the first timed query does
    * not absorb JVM/Spark start-up. */
  def warmUp(spark: SparkSession, sfDir: String): Unit = {
    spark.range(1000000).select(sum(col("id"))).collect()
    spark.read.parquet(s"$sfDir/region.parquet").count()
    spark.read.parquet(s"$sfDir/documents.parquet")
      .select(sum(length(col("text")))).collect()
  }
}
