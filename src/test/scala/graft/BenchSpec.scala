package graft

import org.apache.spark.sql.functions.{col, udf}

/** `Bench` records a query that throws as failed, with its exception
  * class, instead of only as an elapsed time. */
class BenchSpec extends SparkSpec {

  test("Bench.time reports what a failing query threw, and nothing for one " +
    "that runs") {
    val (dt, ok) = Bench.time(spark.range(3).count())
    assert(dt >= 0.0 && ok.isEmpty)
    // fails while planning: an unknown column
    val (_, planned) = Bench.time(spark.range(3).select("nope").count())
    assert(planned.exists(_.contains("AnalysisException")), planned)
    // fails inside a task
    val boom = udf((x: Long) => if (x >= 0) throw new IllegalStateException("boom") else x)
    val (_, ran) = Bench.time(spark.range(3).select(boom(col("id"))).collect())
    assert(ran.isDefined, ran)
    assert(Bench.failedJson(Seq("q1" -> planned.get, "q2" -> ran.get)) ==
      s"""{"q1":"${planned.get}","q2":"${ran.get}"}""")
    assert(Bench.failedJson(Nil) == "{}")
  }

  test("Bench.inferRound: a main-core run stamps the next round, a low-core " +
    "run the round whose BENCH file it follows") {
    val files = Seq("BENCH_r13.json", "BENCH_r13_c8.json", "BENCH_r14.json",
      "BENCH_r14_c8.json", "CORRECTNESS_r15.json", "README.md")
    assert(Bench.inferRound(files, mainCores = true) === Some(15))
    assert(Bench.inferRound(files, mainCores = false) === Some(14))
    assert(Bench.inferRound(Seq("BENCH_r14_c8.json", "r15.json"), mainCores = true) === None)
  }
}
