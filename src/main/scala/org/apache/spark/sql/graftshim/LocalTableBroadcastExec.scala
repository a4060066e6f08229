package org.apache.spark.sql.graftshim

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.physical.{BroadcastMode, BroadcastPartitioning, Partitioning}
import org.apache.spark.sql.execution.{SparkPlan, UnaryExecNode}

/** Driver-local broadcast of a LocalTableScan child — the serving fast
  * path's replacement for a request-side `BroadcastExchangeExec`
  * (PreparedRecall, r13).
  *
  * Stock `BroadcastExchangeExec` ALWAYS collects its child through
  * `executeCollectIterator()` → `getByteArrayRdd().collect()` — a 1-task
  * Spark JOB — even when the child is a `LocalTableScanExec` whose rows
  * already sit on the driver; only the relation BUILD
  * (`mode.transform`) runs driver-side. A prepared-recall fast call
  * carries four such request-side broadcasts (the folded request
  * derivations), so it pays four 3-6 ms collect jobs plus four job-submit
  * round-trips per call for rows it materialized itself during the swap.
  * This node collects via `child.executeCollect()` — which
  * `LocalTableScanExec` overrides to return its (already unsafe-projected)
  * rows with NO job — then builds and broadcasts the relation exactly the
  * way the stock exchange's driver-side future does.
  *
  * Scope, deliberately narrow: only the fast-path template rewrite
  * installs it, and only over children that ARE `LocalTableScanExec` feed
  * scans (request rows — tiny by construction: one request row or its
  * ≤12-term derivations). It is not an exchange the planner can pick, not
  * AQE-visible, and never carries corpus data. Per-call clones each get a
  * fresh instance, so the lazy broadcast is per-request state exactly like
  * the swapped scan rows themselves (no cross-call sharing; PreparedRecallSpec
  * "one handle serves 8 concurrent threads with per-thread parity" pins the
  * concurrency contract).
  */
case class LocalTableBroadcastExec(mode: BroadcastMode, child: SparkPlan)
    extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output

  override def outputPartitioning: Partitioning = BroadcastPartitioning(mode)

  override protected def doExecute(): RDD[InternalRow] =
    throw new UnsupportedOperationException(
      "LocalTableBroadcastExec is broadcast-only")

  // one broadcast per plan instance == per fast call (the clone gives each
  // call a fresh node); consumed possibly by several join executions of
  // the same call, hence lazy-val memoization like the stock exchange
  @transient private lazy val relationBroadcast: Broadcast[Any] = {
    val rows = child.executeCollect() // LocalTableScanExec: no job
    val relation = mode.transform(rows)
    session.sparkContext.broadcast(relation)
  }

  override protected[sql] def doExecuteBroadcast[T](): Broadcast[T] =
    relationBroadcast.asInstanceOf[Broadcast[T]]

  override protected def withNewChildInternal(newChild: SparkPlan)
      : LocalTableBroadcastExec = copy(child = newChild)
}
