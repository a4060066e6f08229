package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{lit, round}

package object functions {
  /** Engine-stable 4-decimal rounding. Spark rounds the binary double
    * (HALF_UP on its exact binary value) while DuckDB rounds decimally, so a
    * value landing exactly on a .xxxx5 boundary (common for scores built from
    * small-integer ratios) rounds differently. Nudging by +1e-9 moves
    * boundary values consistently to the upper side in both engines; mirrored
    * by `sqlRound4`.
    *
    * Spark's `round` goes through `BigDecimal`, which has no signed zero, so
    * `round4(-3e-6)` emits `+0.0`; DuckDB's C `round` keeps `-0.0`. The two
    * compare equal under `==` but hash differently byte-wise, so every SQL
    * mirror appends `+ 0.0` (IEEE-754: `-0.0 + 0.0 = +0.0` under
    * round-to-nearest) to normalize the oracle's signed zero to match Spark.
    */
  def round4(c: Column): Column = round(c + lit(1e-9), 4)

  /** DuckDB mirror of [[round4]]; `+ 0.0` normalizes DuckDB's `-0.0` (see
    * [[round4]] — the r10 `q_pca_cov`/`q_dsir_weight` hash-red root cause).
    */
  def sqlRound4(e: String): String = s"round(($e) + 1e-9, 4) + 0.0"

  /** Eager `localCheckpoint` that keeps the cut plan visible: the result
    * reads the checkpointed rows, while `explain()` and
    * `queryExecution.*.toString` still print the executed plan that
    * produced them (pruned scans, aggregates) as the cut's inner child.
    * Costs no job beyond the checkpoint's own; release it with
    * [[releaseCheckpoint]] like any other checkpoint.
    */
  def localCheckpointKeepingPlan(
      df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.graftshim.CheckpointCutStrategy.localCheckpoint(df)

  /** Release the block-manager storage behind a `localCheckpoint`ed frame.
    * `Dataset.unpersist` only consults the cache manager, which does not
    * track checkpoint RDDs — the blocks live on the `LogicalRDD` leaf's
    * RDD, so walk the plan and unpersist that directly. Shared by every
    * iterative job (connected components, PageRank).
    */
  def releaseCheckpoint(df: org.apache.spark.sql.DataFrame): Unit =
    df.queryExecution.analyzed.collectLeaves().foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
      case _ => ()
    }
}
