package graft

import graft.functions.{functions => gf}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Native Catalyst expression specs (graft.functions). */
class ExpressionSpec extends SparkSpec {
  import spark.implicits._

  test("cosine_sim matches the sequential-fold formulation bitwise") {
    val df = Seq(
      (Seq(1.0, 2.0, 3.0), Seq(4.0, 5.0, 6.0)),
      (Seq(0.5, -0.25, 8.0), Seq(-1.0, 0.125, 2.0))
    ).toDF("a", "b")
    def foldDot(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)
    val out = df.select(
      gf.cosine_sim(col("a"), col("b")).as("native"),
      (foldDot(col("a"), col("b")) /
        (sqrt(foldDot(col("a"), col("a"))) * sqrt(foldDot(col("b"), col("b")))))
        .as("hof")
    )
    out.collect().foreach { r =>
      assert(
        java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
          java.lang.Double.doubleToLongBits(r.getDouble(1))
      )
    }
  }

  test("cosine_sim survives whole-stage codegen (many rows)") {
    val df = spark.range(1000).select(
      transform(sequence(lit(0L), lit(15L)), i => (col("id") + i).cast(DoubleType)).as("a"),
      transform(sequence(lit(0L), lit(15L)), i => (col("id") * 2 + i).cast(DoubleType)).as("b")
    )
    val n = df.select(gf.cosine_sim(col("a"), col("b")).as("c"))
      .filter(col("c") > 0.9).count()
    assert(n > 0)
  }

  test("run_length_ranges golden") {
    val df = Seq(Tuple1(Seq(1L, 1L, 0L, 1L, 0L, 1L, 1L, 1L))).toDF("m")
    val out = df.select(gf.run_length_ranges(col("m"), lit(1L)).as("r"))
    assert(rows(out).head.head == List(List(0L, 2L), List(3L, 4L), List(5L, 8L)))
    val empty = Seq(Tuple1(Seq(0L, 0L))).toDF("m")
    assert(rows(empty.select(gf.run_length_ranges(col("m"), lit(1L)).as("r")))
      .head.head == List())
  }

  test("greedy_pack_breaks golden") {
    // lens 3,3,3,3 maxLen 7 -> starts [0, 2]
    val df = Seq(Tuple1(Seq(3L, 3L, 3L, 3L))).toDF("l")
    assert(
      rows(df.select(gf.greedy_pack_breaks(col("l"), lit(10L), lit(7L)).as("s")))
        .head.head == List(0L, 2L)
    )
    // count cap: 3 seqs, max 2 per chunk -> [0, 2]
    assert(
      rows(Seq(Tuple1(Seq(1L, 1L, 1L))).toDF("l")
        .select(gf.greedy_pack_breaks(col("l"), lit(2L), lit(100L)).as("s")))
        .head.head == List(0L, 2L)
    )
  }

  test("cosine_sim doGenCode really compiles into the stage (no silent fallback)") {
    import org.apache.spark.sql.execution.debug._
    val df = spark.range(4).select(
      transform(sequence(lit(0L), lit(7L)), i => (col("id") + i).cast(DoubleType)).as("a")
    ).select(gf.cosine_sim(col("a"), col("a")).as("c"))
    val gen = codegenString(df.queryExecution.executedPlan)
    // the whole-stage-generated code calls the kernel's one `compute`
    assert("""graft\.functions\.CosineSimilarity\) references\[\d+\][^\n]*\)\.compute\(""".r
      .findFirstIn(gen).isDefined, gen.take(2000))
    assert(df.collect().forall(r => math.abs(r.getDouble(0) - 1.0) < 1e-12))
  }

  test("custom expressions participate in Catalyst constant folding") {
    // literal inputs => ConstantFolding evaluates the expression at plan
    // time; the optimized plan carries the folded Literal, proving the
    // expressions compose with Catalyst's optimizer (SURVEY 7.4: no
    // custom rules needed).
    val df = spark.range(1).select(
      gf.run_length_ranges(
        typedlit(Seq(1L, 1L, 0L, 1L)), lit(1L)).as("r"),
      gf.greedy_pack_breaks(
        typedlit(Seq(2L, 2L, 2L)), lit(2L), lit(100L)).as("g")
    )
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(!optimized.contains("run_length_ranges") &&
      !optimized.contains("greedy_pack_breaks"), optimized)
    assert(rows(df).head == Seq(List(List(0L, 2L), List(3L, 4L)), List(0L, 2L)))
  }

  test("WordPieceTokenizer.fromVocabFile reads BERT vocab format") {
    val f = java.nio.file.Files.createTempFile("graft_vocab", ".txt")
    java.nio.file.Files.writeString(f,
      "[PAD]\n[UNK]\n[CLS]\n[SEP]\nhello\n##s\n")
    val tok = operators.WordPieceTokenizer.fromVocabFile(f.toString)
    assert(tok.encode("hellos", false).toSeq == Seq(4L, 5L))
    assert(tok.padId == 0L && tok.bosIds == Seq(2L))
  }

  test("SQL registration via functions.register") {
    graft.functions.functions.register(spark)
    val got = spark.sql(
      "SELECT cosine_sim(array(1.0d, 0.0d), array(1.0d, 0.0d)) AS c, " +
        "run_length_ranges(array(1L, 0L, 1L), 1L) AS r, " +
        "greedy_pack_breaks(array(2L, 2L, 2L), 2L, 100L) AS g"
    ).collect().head
    assert(got.getDouble(0) == 1.0)
  }

  test("cdc_boundaries: rolling hash equals the naive per-window fold") {
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(13)
    val texts = Seq("", "short", "x" * 7,
      (0 until 300).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString,
      // supplementary-plane chars: one CODE POINT each, not two UTF-16
      // units — the reason the expression walks codePointAt/charCount
      "ab𝄞cd😀efghij" * 3)
    val w = 8
    val m = 1000003L
    val d = 64L
    def naive(s: String): Seq[Long] = {
      val cps = s.codePoints().toArray
      (w - 1 until cps.length).filter { i =>
        val h = (i - w + 1 to i).foldLeft(0L)((acc, j) =>
          (acc * 31 + cps(j)) % m)
        h % d == 0
      }.map(_.toLong)
    }
    val got = texts.toDF("t")
      .select(graft.functions.functions.cdc_boundaries(col("t"), w, d, m))
      .as[Seq[Long]].collect().toSeq
    assert(got == texts.map(naive), s"got=$got expected=${texts.map(naive)}")
  }

  test("minhash_sig: native kernel is bit-identical to the HOF formulation") {
    val k = 16
    val df = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .withColumn("sh", split(col("text"), " "))
    // corpus rows + edge cases: empty array, null element in the array
    val edge = Seq(
      (900001L, Seq.empty[String]),
      (900002L, Seq("a", null, "b"))
    ).toDF("doc_id", "sh")
    val all = df.select("doc_id", "sh").unionByName(edge)
    val hof = transform(
      sequence(lit(0), lit(k - 1)),
      j => array_min(transform(col("sh"), sh => xxhash64(sh, j))))
    val cmp = all.select(
      col("doc_id"),
      graft.functions.functions.minhash_sig(col("sh"), k).as("native"),
      hof.as("ref"))
    assert(cmp.filter(not(col("native") <=> col("ref"))).count() == 0)
    // empty shingles: k nulls, matching array_min-of-empty
    val empty = cmp.filter(col("doc_id") === 900001L)
      .select("native").as[Seq[java.lang.Long]].head()
    assert(empty == Seq.fill(k)(null: java.lang.Long))
  }
}
