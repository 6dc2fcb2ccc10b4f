package graft.io

/** Every size gate that picks a driver-side path over a distributed one
  * in the write and read primitives
  * ([[org.apache.spark.sql.graft.DirectParquetIo]]) and the scan paths,
  * declared once with its reason. None is a conf
  * key: each is a property of where the work runs, not of a workload. */
object Cutovers {

  /** Observed row bound at or under which a commit writes driver-direct
    * (segments, MV state, doclen deltas, tombstones): one collect job
    * (none for a LocalRelation) replaces a write job plus the
    * output-committer round trip that dominates tiny-commit latency.
    * Only an OBSERVED count (a change window's size, a footer row sum)
    * may pass it — never a plan-statistics estimate. Every real data
    * write at scale stays above it, distributed. */
  val SmallWriteRows = 10000L

  /** The same gate for a maintenance window's postings delta: postings
    * rows are tokens (~25 per document), so a trickle window is an
    * order of magnitude more rows than the documents it indexes, and
    * the direct write still saves the bucket repartition exchange plus
    * the dynamic-partition committer — the most expensive job of an
    * append window. */
  val PostingsWriteRows = 200000L

  /** `observedRows` for frames that are driver state by contract (the
    * frozen IVF-PQ centroids and codebooks): every consumer collects or
    * broadcasts them, and their read loads them locally up to
    * [[FrozenLocalBytes]], so they always write driver-direct. */
  val DriverState = 0L

  /** Entry gate for applying a tombstone set (table deletion vectors,
    * index tombstones) as a row-local literal predicate instead of an
    * anti-join: GetMapValue probes the map literal linearly per row, so
    * only a tiny set may ride as a predicate; above it the anti-join
    * stays the plan. */
  val LiteralPredicateMaxEntries = 1024

  /** Name-count gate above which an MV file-set filter stays a
    * broadcast semi/anti-join instead of an isInCollection literal: it
    * bounds the plan size an embedded literal may add. */
  val MaxInSetFiles = 10000

  /** Total parquet bytes under which a table's deletion-vector sidecars
    * load driver-side as a LocalRelation (its anti-join broadcasts with
    * no build job); above it the distributed scan is kept. */
  val DvLocalBytes = 8L << 20

  /** Total parquet bytes under which a planning sidecar (index
    * tombstones, file statistics) is read driver-side; above it the
    * caller keeps its distributed scan. */
  val SidecarLocalBytes = 4L << 20

  /** Total parquet bytes under which a frozen IVF-PQ artifact loads as
    * a LocalRelation — generous for nlist×dim plus m·ksub·(dim/m)
    * doubles; an artifact above it would already be straining the
    * broadcast consumers. */
  val FrozenLocalBytes = 32L << 20

  /** Total bytes of the parquet files an index probe plans to open (a
    * BM25 probe's kept postings files, an IVF-PQ probe's kept lists
    * files) at or under which the probe is read and scored on the
    * driver and returned as a LocalRelation: no Spark job, where the
    * distributed plan costs a job per stage. The driver decodes every
    * row of those files and keeps the matching ones, so the gate bounds
    * both the probe's driver time and its memory; above it the
    * distributed plan is the only path. SCALE.md records the measured
    * crossover this value sits under. */
  val ProbeLocalBytes = 4L << 20

  /** Parquet files per dir up to which its read schema is merged from
    * footers on the driver (no schema-inference job); a larger dir
    * keeps Spark's distributed inference, so driver footer IO stays
    * bounded. */
  val DriverSchemaMaxFiles = 64
}
