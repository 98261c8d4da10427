package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Shim

/** Per-group top-k selection as a bounded-heap AGGREGATE, not a window.
  *
  * The idiomatic-but-wrong way to take "top k rows per group" at corpus
  * scale is `row_number() OVER (PARTITION BY g ORDER BY s DESC) <= k`:
  * a window shuffles EVERY row to its group's partition and sorts the
  * whole group, so a 100 TB corpus crosses the wire in full even when
  * k=3. This operator instead aggregates with Spark's own
  * `CollectTopK` (a `TypedImperativeAggregate` over a bounded priority
  * queue, the engine primitive behind pandas-on-Spark `nlargest`):
  * partial aggregation folds each map-side partition down to AT MOST k
  * survivors per group before the shuffle, so the exchange carries
  * O(k · groups · partitions) structs instead of the corpus. The
  * output is identical to the window formulation — rank included —
  * and the plan is two `ObjectHashAggregate` stages with no Window
  * and no per-group sort of non-survivors.
  *
  * Ordering is LEXICOGRAPHIC over `sortKeys` (then any payload, on
  * full ties): `largest = true` means every key descending, `false`
  * every key ascending — mixed directions are expressed by negating a
  * numeric key. Pass a unique final sort key (an id) for deterministic
  * output under ties.
  */
object GroupTopK {

  /** Top-k rows per group. Output columns: `groupCols`, `rank`
    * (1-based, best first), the named `sortKeys`, then `payload`
    * columns. `sortKeys` must be named columns (`col("x")` or
    * `expr.as("x")`); rows where a sort key is null sort last and are
    * still eligible. */
  def perGroup(
      df: DataFrame,
      groupCols: Seq[String],
      sortKeys: Seq[Column],
      k: Int,
      largest: Boolean = true,
      payload: Seq[String] = Nil
  ): DataFrame = {
    require(groupCols.nonEmpty, "perGroup needs at least one group column")
    require(sortKeys.nonEmpty, "perGroup needs at least one sort key")
    require(k > 0, s"k must be positive, got $k")
    val elem =
      if (payload.isEmpty) struct(sortKeys: _*)
      else struct(sortKeys :+ struct(payload.map(col): _*).as("__gtk_p"): _*)
    // reverse=false keeps the num LARGEST under the struct ordering and
    // emits them descending — exactly the `largest` contract.
    val topk = Shim.collectTopK(elem, k, reverse = !largest)
    val exploded = df
      .groupBy(groupCols.map(col): _*)
      .agg(topk.as("__gtk"))
      .select(
        groupCols.map(col) :+
          posexplode(col("__gtk")).as(Seq("__gtk_i", "__gtk_e")): _*)
      .select(
        groupCols.map(col) ++
          Seq((col("__gtk_i") + 1).cast("int").as("rank"), col("__gtk_e.*")): _*)
    if (payload.isEmpty) exploded
    else {
      val flat = exploded.columns.filterNot(_ == "__gtk_p").map(col) :+
        col("__gtk_p.*")
      exploded.select(flat.toIndexedSeq: _*)
    }
  }

  /** Deterministic k-per-group uniform sample in ONE aggregation pass:
    * top-k ASCENDING by `hasher(idCol)` (tie-broken by `idCol`). Unlike
    * rate-based salted-hash sampling this yields EXACTLY min(k, |group|)
    * rows per group without knowing group sizes up front, and unlike a
    * window-rank sample it never shuffles the non-survivors. Output:
    * `groupCols`, `idCol`, then the remaining columns of `df`.
    *
    * `hasher` defaults to `xxhash64` (the production choice — 8-byte
    * keys, no allocation); pass e.g. `c => md5(c.cast("string"))` when
    * cross-engine replay matters. */
  def sampleK(
      df: DataFrame,
      groupCols: Seq[String],
      idCol: String,
      k: Int,
      hasher: Column => Column = xxhash64(_)
  ): DataFrame = {
    val payload = df.columns.filterNot(c => groupCols.contains(c) || c == idCol)
    perGroup(
      df,
      groupCols,
      Seq(hasher(col(idCol)).as("__gtk_h"), col(idCol)),
      k,
      largest = false,
      payload = payload.toIndexedSeq
    ).drop("rank", "__gtk_h")
  }
}
