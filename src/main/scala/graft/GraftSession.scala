package graft

import org.apache.spark.sql.SparkSession

/** Canonical session factory: every entry point (Verify, Bench, tests)
  * builds its session here so the engine's semantics and tuning are
  * identical everywhere a query runs.
  *
  * Notable knobs:
  *  - `shuffle.partitions` sized to the local core count (the driver's
  *    local[32] stand-in for a cluster); at real scale this is AQE's
  *    initial partition number, not a hard setting.
  *  - `nanosAsLong`: the driver's events.parquet carries
  *    TIMESTAMP(NANOS), which Spark 4 otherwise rejects (Tables.events
  *    re-derives a microsecond timestamp).
  *  - `InferFiltersFromGenerate` is excluded: for every explode it
  *    injects `size(arr) > 0 AND isnotnull(arr)` filters that duplicate
  *    the generator input expression. Our dedup/text operators explode
  *    arrays COMPUTED in the same stage (shingles, token lists), so the
  *    inferred filter re-evaluates the expensive array expression twice
  *    per row — and predicate pushdown then drags it below the fan-out
  *    repartition onto the unparallelized scan split (observed: q26's
  *    explode stage 9.1 s → 0.5 s at sf0.1). The filters can never prune
  *    parquet I/O here because the arrays don't exist in storage.
  */
object GraftSession {
  def builder(cores: String): SparkSession.Builder =
    Confs.withS3aProfile(
      SparkSession.builder()
        .master(s"local[$cores]")
        .config("spark.sql.shuffle.partitions", cores)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.optimizer.excludedRules",
          "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
        // r13: Spark 4.1 writes + verifies a sibling .checksum file for
        // every streaming-checkpoint file (state snapshots/deltas,
        // offset/commit logs) — pure small-file IO doubling on the
        // checkpoint path, measured ~0.3-0.5 s per drained streaming
        // run at sf0.1 (OPTIMIZATION_r13.md). Off here AND for
        // production object stores: checkpoint files are written once
        // and read by the same pipeline, the store's own integrity
        // (etag/content-md5) covers transport corruption, and at 100 TB
        // feed rates the extra PUT per state file is real money.
        .config("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
        // Generated-class cache: Spark keeps 100 compiled classes by
        // default, but one call of an iterative query compiles more
        // (q495 ~160, q507 ~280, q509 ~500), so every later call misses
        // the LRU and recompiles nearly all of them (q495 at sf0.01:
        // ~150 compiles and ~4 s of executor time per warm call, 2
        // compiles at 4000). A static conf: CodeGenerator reads it once
        // when its cache is built, so it must be set here; conf.set and
        // Confs.withConf cannot change it later. Sized so each query's
        // classes survive from one call to the next: q509 compiles ~500
        // per call, and 4000 keeps them from its cold run to its warm
        // run even with other queries' classes in between. A full
        // 509-query run compiles more than 4000, so the LRU still evicts.
        .config("spark.sql.codegen.cache.maxEntries", "4000")
        .config("spark.sql.extensions", "graft.functions.GraftExtensions"))
}
