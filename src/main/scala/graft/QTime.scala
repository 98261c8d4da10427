package graft

/** Optimization-round measurement harness (guide §1): times the named
  * catalog queries REPS times each (min reported — the sandbox disk
  * throttles intermittently, SCALE.md §9) and optionally dumps each
  * query's `.explain("formatted")` plan to a file for the plan-diff
  * evidence trail. Not part of the driver contract; [[Bench]] stays the
  * graded surface.
  *
  * Usage: SPARK_GRAFT_QTIME=q204,q261 SPARK_GRAFT_PLAN_DIR=plans/r13 \
  *   SPARK_GRAFT_PLAN_TAG=before sbt "runMain graft.QTime"
  */
object QTime {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt
    val names = sys.env.getOrElse("SPARK_GRAFT_QTIME", "")
      .split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val planDir = sys.env.get("SPARK_GRAFT_PLAN_DIR")
    val planTag = sys.env.getOrElse("SPARK_GRAFT_PLAN_TAG", "before")
    val spark = GraftSession.local(GraftSession.cpus)
    GraftSession.warmUp(spark, sfDir)
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => names.exists(n.startsWith) }
    selected.foreach { case (name, fn) =>
      spark.sparkContext.setJobDescription(name)
      planDir.foreach { dir =>
        val d = java.nio.file.Paths.get(dir)
        java.nio.file.Files.createDirectories(d)
        val df = fn(spark, sfDir)
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.write(
          d.resolve(s"${name}_$planTag.txt"), txt.getBytes("UTF-8"))
        spark.catalog.clearCache()
      }
      val times = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        fn(spark, sfDir).count()
        val dt = (System.nanoTime() - t0) / 1e9
        spark.catalog.clearCache()
        System.gc()
        dt
      }
      println(f"[qtime] $name min=${times.min}%.3f runs=" +
        times.map(t => f"$t%.3f").mkString(","))
    }
    spark.stop()
  }
}
