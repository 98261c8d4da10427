package graft.operators

import graft.functions.functions.{collect_min_k, pair_combos}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The filter half of every set-similarity join: candidate pairs from
  * shared postings. A posting table holds one row per (key, id) — a
  * prefix token, a fingerprint, an LSH (band, bucket) — and two ids are
  * candidates when they share a key.
  *
  * Capped (`Some(cap)`): ONE groupBy on the key keeps each posting's
  * `cap` members ranked first by `struct(rank, id)` through a bounded
  * heap ([[collect_min_k]], ascending — exactly the order the former
  * `row_number` window used) and emits the kept ids' ≤ cap·(cap−1)/2
  * pairs in-row via [[pair_combos]]. A single exchange; a hot key never
  * buffers more than `cap` members in any task, and partial
  * aggregation ships ≤ cap rows per (map partition, key). The rank
  * should be salted with the key (`hasher(id|key)`), so a hot document
  * is not the one dropped from every posting.
  *
  * Uncapped (`None`): the `a.id < b.id` equi-self-join on the key.
  *
  * Either leg returns `(id_a, id_b)` with id_a < id_b, one row per
  * shared posting — NOT de-duplicated: callers `.distinct()` or count
  * shared postings per pair. */
private[graft] object Postings {

  def candidatePairs(
      postings: DataFrame,
      keys: Seq[String],
      id: String,
      rank: Column,
      cap: Option[Int]
  ): DataFrame = cap match {
    case Some(k) =>
      postings
        .select(keys.map(col) :+
          struct(rank.as("h"), col(id).as("id")).as("__pg_r"): _*)
        .groupBy(keys.map(col): _*)
        .agg(collect_min_k(col("__pg_r"), k).as("__pg_kept"))
        .transform(pairsOf(transform(col("__pg_kept"), r => r.getField("id"))))
    case None =>
      val sameKey = keys.map(k => col(s"__pg_a.$k") === col(s"__pg_b.$k"))
        .reduce(_ && _)
      postings.as("__pg_a")
        .join(postings.as("__pg_b"),
          sameKey && col(s"__pg_a.$id") < col(s"__pg_b.$id"))
        .select(col(s"__pg_a.$id").as("id_a"), col(s"__pg_b.$id").as("id_b"))
  }

  /** Every pair of an id array, one `(id_a, id_b)` row each (id_a <
    * id_b; use with `Dataset.transform`). */
  def pairsOf(ids: Column): DataFrame => DataFrame = df =>
    df.select(explode(pair_combos(ids)).as("__pg_p"))
      .select(col("__pg_p").getField("id_a").as("id_a"),
        col("__pg_p").getField("id_b").as("id_b"))
}
