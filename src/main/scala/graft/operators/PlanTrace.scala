package graft.operators

import org.apache.spark.sql.DataFrame

/** Plan-evidence hook for operators that `localCheckpoint()` an
  * intermediate ([[Postings.shared]], [[ConnectedComponents]]): the
  * final query plan then shows only `Scan ExistingRDD`, so the
  * candidate-path plan is invisible to a post-hoc
  * `df.explain("formatted")`.
  *
  * When `SPARK_GRAFT_PLAN_DIR` is set (the QTime measurement harness
  * sets it; Bench and production runs never do), `dump` writes the
  * intermediate's formatted plan to
  * `<dir>/<jobDescription>__<site>_<tag>.txt` right before the operator
  * materializes it. The description is sanitized to one file-name
  * component, and a failed write only warns: plan evidence must never
  * fail the operator it traces. Zero work when the env var is unset —
  * one map lookup per operator CALL (driver-side, not per row). */
object PlanTrace {
  def dump(site: String, df: DataFrame): Unit =
    sys.env.get("SPARK_GRAFT_PLAN_DIR").foreach { dir =>
      val tag = sys.env.getOrElse("SPARK_GRAFT_PLAN_TAG", "before")
      val desc = Option(
        df.sparkSession.sparkContext.getLocalProperty("spark.job.description"))
        .getOrElse("nodesc")
      val name = s"${desc}__${site}_$tag".replaceAll("[^A-Za-z0-9._-]", "_")
      try {
        val d = java.nio.file.Paths.get(dir)
        java.nio.file.Files.createDirectories(d)
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.write(d.resolve(s"$name.txt"), txt.getBytes("UTF-8"))
      } catch {
        case e: Exception =>
          System.err.println(s"[plantrace] $site plan not written: $e")
      }
    }
}
