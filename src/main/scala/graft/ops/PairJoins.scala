package graft.ops

import org.apache.spark.sql.DataFrame

/** ADAPTIVE gate for the pair-op merge-hint discipline (rationale at
  * [[Dedup.jaccardPairs]]): Catalyst's STATIC size estimate for
  * text-derived frames is off 20-100x (string = 20 B flat, array =
  * one element, Generate multiplicity unknown), so a statically
  * planned broadcast of a corpus-sized side OOMs the driver at scale
  * — the blanket fix was a MERGE hint on every pair-join side. That
  * veto is correct at corpus scale but forfeits the legitimately
  * small broadcast at small scale (measured ~2x on the sf0.1 bench
  * for the prefix-filter / winnow / incremental-LSH ops).
  *
  * This gate recovers it with a RUNTIME signal the static planner
  * lacks: the pair ops all materialize their expensive intermediate
  * ([[graft.Checkpoints.cut]]) anyway, so an EXACT row count is one
  * cheap job over cached blocks. The call site multiplies by an
  * honest per-row byte bound (narrow fixed-width index rows vs rows
  * carrying token-set arrays) and compares against a fixed
  * budget: under it, the frame is returned unhinted and the planner
  * is free to broadcast; at or over, the MERGE veto stays and
  * sort-merge spills. A corpus-sized side can never slip through —
  * the decision uses its true cardinality, not an estimate
  * (`PlanSpec` pins both directions).
  *
  * The budget is 32 MB per side: comfortably inside
  * executor broadcast budgets, and far below the 8 GiB-driver OOM
  * class the decade probe hit (a 500k-doc token-set frame at the
  * 1 KiB/row bound is ~500 MB — 15x over budget, veto holds).
  */
private[graft] object PairJoins {

  /** Per-side byte budget under which a runtime-counted pair-join
    * side may broadcast. */
  val MaxBroadcastBytes: Long = 32L * 1024 * 1024

  /** Honest per-row byte bounds for the two pair-index row shapes:
    * fixed-width rows (ids, band keys, prefix ranks, fingerprints)
    * vs rows carrying a token-set / shingle array. Deliberately
    * conservative — the gate's failure mode must be "kept a merge
    * join that could have broadcast", never the reverse. */
  val NarrowRowBytes = 64L
  val ArrayRowBytes = 1024L

  /** True when `rows` at `bytesPerRow` fits the broadcast budget. */
  def fits(rows: Long, bytesPerRow: Long): Boolean =
    rows * bytesPerRow <= MaxBroadcastBytes

  /** Hint a pair-join side: small (runtime-proven) frames pass
    * through unhinted so the planner may broadcast them; large ones
    * keep the MERGE veto. */
  def gate(small: Boolean)(d: DataFrame): DataFrame =
    if (small) d else d.hint("merge")
}
