package graft.operators

import graft.functions.functions.{collect_min_k, integral_divide, intersect_size, pair_combos}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DoubleType, LongType}

/** Both halves of every set-similarity join: [[candidatePairs]] filters
  * to candidate pairs from shared postings, [[verify]] scores each
  * candidate on its two sets and keeps it by a threshold.
  *
  * Filter. A posting table holds one row per (key, id) — a prefix
  * token, a fingerprint, an LSH (band, bucket) — and two ids are
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
  * shared postings per pair.
  *
  * Verify. Joins both sides' sets to the candidates — token arrays
  * shuffle only for candidate pairs — and computes I = |A ∩ B| with one
  * `intersect_size`; the [[Measure]] sets the score and the predicate. */
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

  /** How [[verify]] scores a candidate from I = |A ∩ B| and the set
    * sizes, and which candidates it keeps. */
  sealed abstract class Measure(val score: String)

  /** `jaccard_ppm` = ⌊1e6·I / (|A|+|B|−I)⌋, kept iff ≥ `min`. */
  final case class JaccardPpm(min: Long) extends Measure("jaccard_ppm")

  /** `containment_scaled` = ⌊scale·I / min(|A|,|B|)⌋, kept iff
    * ≥ `min`·scale, the decimal product (0.0157 at 1e6 is 15,700). */
  final case class ContainmentScaled(scale: Long, min: Double)
      extends Measure("containment_scaled") {
    val threshold: Long = (BigDecimal(min) * scale)
      .setScale(0, BigDecimal.RoundingMode.CEILING).toLongExact
  }

  /** `jac` = I / (|A|+|B|−I) in doubles, kept iff `jac >= min`; 0/0 is
    * NaN and dropped. Catalyst inlines `jac` into the pushed-down join
    * condition, so it evaluates `intersect_size` twice per candidate: a
    * double comparison has no exact single-intersection form. */
  final case class Jaccard(min: Double) extends Measure("jac")

  /** The verify half: `(id_a, id_b, <m.score>)` for every candidate
    * `(id_a, id_b)` that `m` keeps. `a` and `b` are `(id, set)` frames of
    * the two sides (a self-join passes one frame twice); a candidate
    * whose id is missing from either side is dropped.
    *
    * The integer measures compare with ONE intersection: for a divisor
    * D ≥ 1, ⌊s·I / D⌋ ≥ T ⟺ s·I ≥ T·D, so Jaccard ppm keeps
    * I·(1e6+min) ≥ min·(|A|+|B|) and containment keeps
    * scale·I ≥ T·min(|A|,|B|). Written as `score >= T`, the pushed-down
    * join condition would evaluate `intersect_size` once per use. The
    * precondition D ≥ 1 holds for every caller: each side's set is
    * non-empty (the prefix join drops token-less documents, and a
    * containment candidate shares a shingle). */
  private[graft] def verify(cand: DataFrame, a: DataFrame, b: DataFrame,
      m: Measure): DataFrame = {
    val (sa, sb, i) = (size(col("__v_a")), size(col("__v_b")), col("__v_i"))
    val (iType, score, keep): (DataType, Column, Column) = m match {
      case JaccardPpm(min) =>
        val total = sa.cast(LongType) + sb.cast(LongType)
        (LongType, integral_divide(lit(1000000L) * i, total - i),
          i * lit(1000000L + min) >= lit(min) * total)
      case c: ContainmentScaled =>
        val d = least(sa, sb).cast(LongType)
        (LongType, integral_divide(lit(c.scale) * i, d),
          lit(c.scale) * i >= lit(c.threshold) * d)
      case Jaccard(min) =>
        (DoubleType, i / (sa + sb - i), col(m.score) >= min)
    }
    cand
      .join(a.toDF("id_a", "__v_a"), "id_a")
      .join(b.toDF("id_b", "__v_b"), "id_b")
      .withColumn("__v_i", intersect_size(col("__v_a"), col("__v_b")).cast(iType))
      .withColumn(m.score, score)
      .filter(keep)
      .select("id_a", "id_b", m.score)
  }

  /** The family's one materialization policy: `input` is persisted and
    * counted once, `build` reads it, the built plan goes to
    * [[PlanTrace.dump]] under `site` and is returned checkpointed, and
    * `input` is unpersisted even when `build` throws. */
  private[graft] def shared(site: String, input: DataFrame)(
      build: DataFrame => DataFrame): DataFrame = {
    val cached = input.persist()
    try {
      cached.count()
      val out = build(cached)
      PlanTrace.dump(site, out)
      out.localCheckpoint()
    } finally cached.unpersist()
  }

  /** Every pair of an id array, one `(id_a, id_b)` row each (id_a <
    * id_b; use with `Dataset.transform`). */
  def pairsOf(ids: Column): DataFrame => DataFrame = df =>
    df.select(explode(pair_combos(ids)).as("__pg_p"))
      .select(col("__pg_p").getField("id_a").as("id_a"),
        col("__pg_p").getField("id_b").as("id_b"))
}
