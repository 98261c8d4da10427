package graft.operators

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Distributed byte-level BPE merge training (the published algorithm:
  * Sennrich et al. 2016 / the GPT-2 release, run corpus-scale).
  *
  * Scale design: classic BPE trains on a WORD-FREQUENCY table, not raw
  * text — so the corpus collapses to (preToken, count) after ONE
  * aggregation, and |distinct preTokens| ≪ |corpus| (Heaps' law). Each
  * merge round is then:
  *   - adjacent-pair counts: narrow explode over the freq table +
  *     a groupBy on (a, b) string pairs — a shuffle of tiny keys over a
  *     tiny table, NOT over the corpus;
  *   - winner pick: `orderBy.limit(1)` (driver receives one row);
  *   - merge apply: a narrow per-row map, no shuffle.
  * The freq table is re-persisted each round and lineage is cut so plans
  * stay bounded over hundreds of merges. The 100-TB corpus is touched
  * exactly once.
  */
object BpeTrainer {

  /** Learn `numMerges` merges from `textField`. Ties on count break
    * lexicographically, so training is deterministic for a fixed corpus.
    * Returns merges in learned order (= rank order for
    * [[BytePairTokenizer.fromMerges]]). */
  def learnMerges(
      df: DataFrame,
      textField: String,
      numMerges: Int
  ): Seq[(String, String)] = {
    val preTokSyms = udf { (t: String) =>
      if (t == null) Seq.empty[Seq[String]]
      else {
        val m = BytePairTokenizer.preTokenPattern.matcher(t)
        val out = scala.collection.mutable.ArrayBuffer.empty[Seq[String]]
        while (m.find()) {
          val bytes = m.group().getBytes(StandardCharsets.UTF_8)
          out += bytes.map(b => BytePairTokenizer.byteToChar(b & 0xff).toString).toSeq
        }
        out.toSeq
      }
    }
    // ONE pass over the corpus → (symbol-sequence, frequency) table
    var words = df
      .select(explode(preTokSyms(col(textField))).as("syms"))
      .groupBy("syms")
      .agg(count(lit(1)).as("cnt"))
      .localCheckpoint()

    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var round = 0
    var exhausted = false
    while (round < numMerges && !exhausted) {
      val top = words
        .filter(size(col("syms")) >= 2)
        .select(
          col("cnt"),
          explode(
            transform(
              sequence(lit(0), size(col("syms")) - 2),
              i =>
                struct(
                  element_at(col("syms"), i + 1).as("a"),
                  element_at(col("syms"), i + 2).as("b")
                )
            )
          ).as("p")
        )
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("cnt")).as("c"))
        .orderBy(col("c").desc, col("a"), col("b"))
        .limit(1)
        .collect()
      if (top.isEmpty) exhausted = true
      else {
        val a = top(0).getString(0)
        val b = top(0).getString(1)
        merges += ((a, b))
        val applyMerge = udf { (syms: Seq[String]) =>
          BytePairTokenizer.applyMerge(syms.toArray, a, b).toSeq
        }
        // narrow map; localCheckpoint truncates lineage every round
        words = words
          .withColumn("syms", applyMerge(col("syms")))
          .localCheckpoint()
        round += 1
      }
    }
    merges.toSeq
  }

  /** End-to-end: learn merges from the corpus, return the trained
    * tokenizer. */
  def train(
      df: DataFrame,
      textField: String,
      numMerges: Int,
      specials: Seq[String] = Seq("<|endoftext|>")
  ): BytePairTokenizer =
    BytePairTokenizer.fromMerges(learnMerges(df, textField, numMerges), specials)
}
