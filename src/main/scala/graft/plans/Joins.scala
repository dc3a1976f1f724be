package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{broadcast, col}

/**
 * Key-membership joins for a SMALL frame probed against an arbitrarily
 * large key table — the admission-sink and artifact-upsert shape: a
 * micro-batch (hundreds of rows) checked against a corpus-sized id set
 * (millions to billions of rows) on every call.
 *
 * A plain `small.join(bigKeys, key, "left_anti"/"left_semi")` can only
 * BROADCAST its right side — the build side of a broadcast hash join is
 * the non-preserved side — so once the key table outgrows the broadcast
 * threshold (~10 MB; a few hundred thousand ids), Spark falls back to
 * shuffling BOTH sides into a sort-merge join. On a per-micro-batch path
 * that shuffles and sorts the corpus-sized side once per batch, forever.
 *
 * Reversing the probe keeps the big side streaming: first semi-join the
 * big keys down to the ones the small side actually carries (the small
 * side's key set broadcasts — it is batch-sized by contract), then join
 * that batch-sized hit set back onto the small frame (broadcast again).
 * One codegen'd scan of the big side per call, zero shuffles of it, at
 * any corpus size. Null keys behave identically to the plain join: a
 * null never equi-matches, so it survives the anti and drops in the semi
 * either way.
 *
 * SIZE-AWARE DISPATCH (r17): below the broadcast threshold the reversed
 * shape pays its two-join overhead for nothing — measured 2× slower than
 * the plain join at 100k keys (0.33 s vs 0.16 s) while being the only
 * viable shape at 10M+ (0.36 s vs 1.67 s at 50M); BENCH_SCALE.md, "joins
 * probe — reversed id-membership probes at corpus scale". These
 * entry points therefore dispatch on the key table's OWN plan statistics
 * against the session's `autoBroadcastJoinThreshold` — the exact
 * statistic and bound Spark's planner would use to broadcast the plain
 * join's right side, so the plain path is chosen precisely when it
 * cannot sort-merge. Unknown/huge statistics (the default for
 * non-file-backed lineage) fall to the reversed shape: safe at any size.
 */
object Joins {

  /** `small` rows whose `key` does NOT appear in `bigKeys(key)` —
    * `small.join(bigKeys, Seq(key), "left_anti")` without ever shuffling
    * `bigKeys`. Output columns are exactly `small`'s. */
  def antiSmallLeft(small: DataFrame, bigKeys: DataFrame, key: String): DataFrame =
    if (bigIsBroadcastable(bigKeys))
      small.join(broadcast(bigKeys.select(col(key))), Seq(key), "left_anti")
    else
      small.join(broadcast(hits(small, bigKeys, key)), Seq(key), "left_anti")

  /** `small` rows whose `key` DOES appear in `bigKeys(key)` — the
    * left-semi twin of [[antiSmallLeft]], same single-pass shape. */
  def semiSmallLeft(small: DataFrame, bigKeys: DataFrame, key: String): DataFrame =
    if (bigIsBroadcastable(bigKeys))
      small.join(broadcast(bigKeys.select(col(key))), Seq(key), "left_semi")
    else
      small.join(broadcast(hits(small, bigKeys, key)), Seq(key), "left_semi")

  /** Whether the key table is small enough that the PLAIN join would
    * broadcast it (its optimized-plan size-in-bytes statistic is within
    * the session's broadcast threshold). A disabled threshold (≤ 0) or an
    * unknown statistic dispatches to the reversed shape. */
  private def bigIsBroadcastable(bigKeys: DataFrame): Boolean = {
    val threshold =
      bigKeys.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    threshold > 0 &&
      bigKeys.queryExecution.optimizedPlan.stats.sizeInBytes <= threshold
  }

  /** The big-side keys that occur in `small` — at most |small| distinct
    * values, so always broadcastable. The semi's build side is the small
    * frame's key set: only its KEYS execute twice across the two joins
    * (content comes solely from the outer join's execution, so a
    * nondeterministic-row upstream — e.g. `dropDuplicates` — stays
    * consistent: its key set is stable even when its row choice isn't). */
  private def hits(small: DataFrame, bigKeys: DataFrame, key: String): DataFrame =
    bigKeys.select(col(key))
      .join(broadcast(small.select(col(key)).distinct()), Seq(key), "left_semi")
      .distinct() // bigKeys may repeat a key (e.g. a postings table's doc
                  // column) — the hit set is batch-sized either way, but
                  // the broadcast build should carry each key once
}
