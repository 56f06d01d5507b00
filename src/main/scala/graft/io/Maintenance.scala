package graft.io

/** What one nightly maintenance pass did — returned by each index
  * family's `maintainIndex` ([[graft.text.Dedup.maintainIndex]],
  * [[graft.sim.EmbIndex.maintainIndex]],
  * [[graft.sim.PqIndex.maintainIndex]],
  * [[graft.multimodal.MmIndex.maintainIndex]]).
  *
  * The pass runs the family's maintenance ops as ONE idempotent
  * sequence, each step gated by its own cheap detector so a clean
  * index is a three-way no-op:
  *
  *  1. COMPACT if erasure tombstones are pending or the stats sidecar
  *     holds mergeable partials — the physical half of the erasure
  *     contract runs FIRST so later steps never re-derive work for
  *     rows that are leaving (and, for PQ, so repair is never asked
  *     to re-encode a vector the corpus of record no longer has);
  *  2. REPAIR if the derived-artifact invariant is violated (torn or
  *     replayed appends) — structural healing on the compacted state;
  *  3. REGENERATE if the family's trigger fires (text: density-posture
  *     geometry, embeddings: occupancy width, PQ: distortion drift;
  *     media signatures have no model to regenerate) — publishing a
  *     new model generation LAST, over artifacts that are already
  *     purged and consistent.
  *
  * Source contract: `source` is the family's CURRENT corpus of
  * record — with erased records ALREADY REMOVED (right-to-erasure
  * applies to the corpus before it applies to derived indexes; the
  * tombstone list is the INDEX's catch-up mechanism, not the
  * system's memory of the erasure). The regeneration step
  * additionally anti-joins any still-pending tombstones as
  * defense-in-depth, but a `source` that resurrects erased records
  * after their tombstones were compacted away is a caller bug no
  * index can detect.
  *
  * Crash contract: every step is individually crash-safe (create-only
  * generations, marker-committed model generations), so a crash
  * between any two steps leaves a serving-correct index and a re-run
  * of the pass completes the remaining work — `graft.MaintenanceSpec`
  * injects a crash after each step and pins re-run-heals /
  * third-run-no-op for all four families.
  */
final case class MaintenanceReport(
    compacted: Boolean,
    repaired: Boolean,
    regenerated: Option[String]) {
  /** True iff the pass found nothing to do — the steady-state answer
    * a nightly scheduler sees between incidents. */
  def noop: Boolean = !compacted && !repaired && regenerated.isEmpty
}
