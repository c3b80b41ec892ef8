package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Shared-hash count over candidate pairs — the verify step of every
  * two-phase near-dup operator (qd04/qd18 Jaccard, qd22-qd26
  * containment, the st13 media compaction). Each caller keeps only
  * its own score, threshold and reduction on top of
  * `(a…, b…, shared, a_n, b_n)`.
  *
  * Inputs:
  *  - `pairs`: candidate pairs; `a` and `b` name each side's key
  *    columns (one column, or a composite such as (media_id, take));
  *  - `rel`: the `(key…, sh)` hash relation, one row per distinct hash
  *    of a key, its key columns named `keys`;
  *  - `sizes`: `(key…, n_sh)`, each key's distinct-hash count.
  *
  * Plan shape:
  *  - the pair set is `localCheckpoint`ed, so its derivation (band
  *    self-join, sketch join, verdict distinct) executes once and every
  *    consumer below reads the materialized rows. Referenced
  *    unpersisted, the derivation was copied into the plan once per
  *    consumer (qd26 went 24 -> 36 exchanges in r17);
  *  - the hash relation is semi-filtered to candidate keys on BOTH
  *    sides before the shared-count exchange (guide §3.2). Candidates
  *    are sparse and the relation is corpus-sized; the distinct key
  *    frames come from the checkpoint, so they are size-known and AQE
  *    broadcasts them. Result-identical: a semi join only removes rows
  *    with no partner;
  *  - sizes attach after the count, on the aggregated pairs only. */
object SharedCount {

  def apply(pairs: DataFrame, a: Seq[String], b: Seq[String],
      rel: DataFrame, sizes: DataFrame, keys: Seq[String]): DataFrame = {
    require(a.size == keys.size && b.size == keys.size,
      s"pair sides $a / $b must match the relation keys $keys")
    val pairCols = (a ++ b).map(col)
    val cand = pairs.select(pairCols: _*).localCheckpoint()
    // the relation's keys renamed to one side's pair columns
    def side(names: Seq[String], df: DataFrame, extra: Column): DataFrame =
      df.select(keys.zip(names).map { case (k, n) => col(k).as(n) } :+
        extra: _*)
    def hashes(names: Seq[String]): DataFrame =
      side(names, rel, col("sh"))
        .join(cand.select(names.map(col): _*).distinct(), names, "left_semi")
    cand
      .join(hashes(a), a)
      .join(hashes(b), b :+ "sh")
      .groupBy(pairCols: _*)
      .agg(count(lit(1)).as("shared"))
      .join(side(a, sizes, col("n_sh").as("a_n")), a)
      .join(side(b, sizes, col("n_sh").as("b_n")), b)
      .select(pairCols ++ Seq(col("shared"), col("a_n"), col("b_n")): _*)
  }
}
