package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One oracle-gated operator: `run(spark, sfDir)` must hash-match the
  * DuckDB SQL `oracle` over the same parquet tables (column names aligned
  * between both sides; the driver sorts columns by name and hashes values).
  *
  * @param drain the gate drains a streaming query or a view-maintenance
  *   loop, so its runtime is micro-batch fixed overhead (per-file
  *   `maxFilesPerTrigger` drains, state-store commits, checkpoint I/O)
  *   rather than per-row compute. Advisory, warmup-skip only: Bench skips
  *   drain gates in its codegen warmup. A misclassification never affects
  *   the timing method or results — an unflagged streaming gate merely
  *   gets a useless warmup run, a flagged compute gate pays its codegen
  *   JIT in pass 1 and min-of-3 absorbs it. DegenerateInputSpec fails
  *   a gate it sees start a streaming query without this flag.
  */
final case class Gate(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: String,
    drain: Boolean = false)
