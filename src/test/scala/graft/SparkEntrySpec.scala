package graft

/** The driver contract surface: `entry` must produce rows (the driver
  * smoke-checks rows > 0 on sf0.001) and every `queries` name needs an
  * `oracleSql` mate or a documented reason not to. */
class SparkEntrySpec extends SparkSpec {

  test("flagship entry yields rows with the expected output schema") {
    val out = SparkEntry.entry(spark)
    assert(out.columns.toSeq ==
      Seq("doc_id", "prompt", "input_ids", "n_tokens"))
    val n = out.count()
    assert(n > 0, "driver smoke check would fail: entry produced 0 rows")
    // the curation chain must actually curate: fewer rows than the raw
    // strided corpus would produce, but not degenerate
    assert(n > 50, s"suspiciously few flagship rows: $n")
  }

  test("every catalog query has an oracle (zero rows-only holes)") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert((q -- o).isEmpty, s"queries without oracle: ${q -- o}")
    assert((o -- q).isEmpty, s"oracles without query: ${o -- q}")
  }

  test("verified-pairs cache: SF dirs whose hashCodes collide get different files") {
    val (a, b) = ("/data/sf_Aa", "/data/sf_BB")
    assert(a.hashCode == b.hashCode)
    assert(Queries.vpairsPath(a) != Queries.vpairsPath(b))
  }
}
