package graft.io

/** One recommended maintenance action from an index's
  * `maintenancePlan()` — the telemetry-driven answer to "WHEN do I run
  * compactIndex / rebucket / compactDeletes / recover*", which is
  * otherwise the operator's guesswork. Every signal is computed from
  * the index's OWN sidecars and listings (markers, per-bucket file
  * counts, corpus scalars, tombstone sidecars, manifest segment
  * counts) — no data scan, so a fleet scheduler can poll plans across
  * thousands of indexes for the cost of a directory listing each.
  *
  * `value` is the observed metric, `threshold` the policy bound it
  * crossed, `suggestion` an action parameter when the action takes one
  * (rebucket's proposed new bucket count; 0 = none). An empty plan
  * means the index needs nothing. Recovery actions (interrupted
  * swap/reorg, torn generations) PREEMPT everything else: when one is
  * present it is the only row, because no other maintenance can run —
  * or even be sized — over a torn layout. */
final case class MaintenanceAction(
    action: String,
    metric: String,
    value: Long,
    threshold: Long,
    suggestion: Long,
    detail: String)

/** Thresholds for [[ManagedParquetTable.maintenancePlan]] — the TABLE
  * layer's policy, sibling of `InvertedIndex.IndexMaintenancePolicy`
  * and `IvfPqMaintenancePolicy`. Defaults size for a large deployment
  * (128 MiB target files, Delta-ish knobs); tests and small fixtures
  * pass tighter bounds.
  *   - `maxLiveFiles` / `maxSmallFilePermille` + `smallFileBytes`:
  *     the compact() cadence as a measurable — every append commits
  *     ≥1 file, and scan planning, stats pruning, and footer reads
  *     all pay per live file; `targetFileBytes` sizes the suggested
  *     post-compaction file count.
  *   - `maxLiveDvEntries` / `maxTombstonePermille`: the
  *     compactDeletes() cadence — every live dv entry's sidecar is
  *     opened per scan, and tombstoned rows are read-and-dropped on
  *     every pass over their files.
  *   - `maxStaleObjects`: unreferenced segment dirs + orphaned dv
  *     bookkeeping before vacuum() is recommended — dead weight every
  *     listing pays for. */
final case class TableMaintenancePolicy(
    maxLiveFiles: Int = 512,
    smallFileBytes: Long = 16L << 20,
    maxSmallFilePermille: Long = 500L,
    targetFileBytes: Long = 128L << 20,
    maxLiveDvEntries: Int = 64,
    maxTombstonePermille: Long = 200L,
    maxStaleObjects: Int = 64)
