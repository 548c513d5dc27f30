package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Takedown BATCHING policy over the persisted indexes — the operator a
  * production takedown pipeline actually runs. The primitives already
  * exist and stay untouched: [[Tombstones.add]] makes a doomed doc
  * invisible to every probe INSTANTLY (soft delete), and
  * [[Retrieval.bm25Vacuum]] / [[Similarity.ivfVacuum]] physically apply
  * the whole overlay exactly once. What was missing is the ECONOMIC
  * layer the delete scaladocs describe in prose: the rewrite unit is
  * the BUCKET/CELL, and a doomed doc's distinct terms hash-spread — so
  * one-delete-per-request rewrites nearly the whole index per request
  * under a small modulus, while a batched flush pays the same bucket
  * footprint ONCE for every request in the batch
  * ([[Retrieval.bm25DeleteBatchPlan]] / [[Similarity.ivfDeleteBatchPlan]]
  * turn that prose into exact numbers; DeleteBench prices the
  * amortization).
  *
  * Shape: [[enqueue]] = tombstone-add (requests are VISIBLE takedowns
  * from the moment they land — queueing never delays compliance, only
  * the physical rewrite). [[bm25FlushIfDue]] / [[ivfFlushIfDue]] read
  * the pending overlay, cost its exact rewrite footprint with the
  * batch-plan operator, and vacuum ONLY when a trigger fires:
  * `affected_fraction >= budgetFraction` (the footprint budget — once
  * the batch would rewrite that share of the index anyway, further
  * accumulation buys nothing), `pending >= maxPending` (the overlay's
  * broadcast-size bound from the [[Tombstones]] contract), or `force`
  * (the caller's deadline — a compliance clock is wall-time the engine
  * does not own, so the DEADLINE trigger is the caller's to pull).
  *
  * Exactly-once across flush boundaries is inherited, not re-proven:
  * requests live in the overlay until the vacuum that applies them
  * clears it (one atomic handoff — a crashed vacuum leaves the overlay
  * standing and the re-run converges, the [[Retrieval.bm25Delete]]
  * crash contract), and a request enqueued DURING a flush lands in the
  * overlay the flush's delete-then-clear anti-joins away only for the
  * ids it applied — so every request is applied exactly once, by
  * exactly one flush. TakedownQueueSpec pins flush-boundary exactness
  * and prediction==measured-footprint; the q186/q187 race gates cover
  * probes overlapping the flush itself.
  *
  * Reference anchor: the reference pipeline has no deletion at all
  * (append-only sinks, /root/reference/src/database/DatabaseLoader.cpp)
  * — this is the engine-side governance layer a 100 TB serving estate
  * needs on top.
  */
object TakedownQueue {

  /** One flush decision — the costing snapshot the policy acted on.
    * `pending` counts DISTINCT enqueued ids still in the overlay;
    * `affectedFraction`/`nAffectedBuckets` come from the exact
    * batch-plan join (prediction == execution footprint, spec-pinned);
    * `flushed`=false means no trigger fired and nothing was rewritten;
    * `removed` is the rows the vacuum physically deleted (0 when not
    * flushed; it can differ from `pending` only by ids the index never
    * held — stray takedown keys are tolerated no-ops, the
    * [[Tombstones]] contract).
    */
  final case class FlushDecision(
      pending: Long,
      nAffectedBuckets: Long,
      nBuckets: Long,
      affectedFraction: Double,
      flushed: Boolean,
      removed: Long)

  /** Register takedown requests: instantly probe-invisible (tombstone
    * overlay), physically applied by a later due flush. Returns total
    * pending ids after the add. Idempotent per id (distinct union).
    */
  def enqueue(
      spark: SparkSession,
      indexPath: String,
      keys: DataFrame,
      keyCol: String): Long =
    Tombstones.add(spark, indexPath, keys, keyCol)

  /** Distinct pending request count (0 = empty queue). */
  def pending(spark: SparkSession, indexPath: String): Long =
    Tombstones.read(spark, indexPath).map(_.count()).getOrElse(0L)

  /** Flush the lexical index's queue if a trigger fires — see object
    * scaladoc for the trigger semantics. Read-only when not due (one
    * costing pass: the overlay's postings semi-join).
    */
  def bm25FlushIfDue(
      spark: SparkSession,
      indexPath: String,
      budgetFraction: Double = 0.5,
      maxPending: Long = Long.MaxValue,
      force: Boolean = false): FlushDecision =
    flushIfDue(spark, indexPath, budgetFraction, maxPending, force,
      Retrieval.bm25DeleteBatchPlan(spark, indexPath, _, "id"),
      "n_affected_buckets", "n_buckets",
      vacuum = () => Retrieval.bm25Vacuum(spark, indexPath))

  /** [[bm25FlushIfDue]] for the IVF family (cells as the rewrite unit;
    * works on the float and quantized layouts alike — the vacuum's
    * delete is layout-blind).
    */
  def ivfFlushIfDue(
      spark: SparkSession,
      indexPath: String,
      budgetFraction: Double = 0.5,
      maxPending: Long = Long.MaxValue,
      force: Boolean = false): FlushDecision =
    flushIfDue(spark, indexPath, budgetFraction, maxPending, force,
      Similarity.ivfDeleteBatchPlan(spark, indexPath, _, "id"),
      "n_affected_cells", "n_cells",
      vacuum = () => Similarity.ivfVacuum(spark, indexPath))

  /** [[bm25FlushIfDue]] for the exact-dedup registry (corpus buckets as
    * the rewrite unit; the vacuum also stamps the `_maintained` merge
    * guard on the first physical removal, as any registry delete does).
    */
  def registryFlushIfDue(
      spark: SparkSession,
      indexPath: String,
      budgetFraction: Double = 0.5,
      maxPending: Long = Long.MaxValue,
      force: Boolean = false): FlushDecision =
    flushIfDue(spark, indexPath, budgetFraction, maxPending, force,
      DedupRegistry.deleteBatchPlan(spark, indexPath, _, "id"),
      "n_affected_buckets", "n_buckets",
      vacuum = () => DedupRegistry.vacuum(spark, indexPath))

  /** [[bm25FlushIfDue]] for the near-dup registry. The reported
    * fraction is the BINDING one across the family's two rewritten
    * tables (corpus buckets vs bands pk partitions — see
    * [[NearDupRegistry.deleteBatchPlan]]); `nAffectedBuckets` reports
    * the corpus-side footprint.
    */
  def nearDupFlushIfDue(
      spark: SparkSession,
      indexPath: String,
      budgetFraction: Double = 0.5,
      maxPending: Long = Long.MaxValue,
      force: Boolean = false): FlushDecision =
    flushIfDue(spark, indexPath, budgetFraction, maxPending, force,
      NearDupRegistry.deleteBatchPlan(spark, indexPath, _, "id"),
      "n_affected_buckets", "n_buckets",
      vacuum = () => NearDupRegistry.vacuum(spark, indexPath))

  private def flushIfDue(
      spark: SparkSession,
      indexPath: String,
      budgetFraction: Double,
      maxPending: Long,
      force: Boolean,
      plan: DataFrame => DataFrame,
      affectedCol: String,
      totalCol: String,
      vacuum: () => Long): FlushDecision = {
    require(budgetFraction > 0.0 && budgetFraction <= 1.0,
      s"TakedownQueue: budgetFraction must be in (0, 1], got $budgetFraction")
    require(maxPending >= 1L,
      s"TakedownQueue: maxPending must be >= 1, got $maxPending")
    Tombstones.read(spark, indexPath) match {
      case None => FlushDecision(0L, 0L, 0L, 0.0, flushed = false, 0L)
      case Some(overlay) =>
        val t = overlay.localCheckpoint(true) // one read, two consumers
        try {
          val n = t.count()
          val r = plan(t)
            .select(col(affectedCol), col(totalCol), col("affected_fraction"))
            .collect()(0)
          val (affected, total, fraction) =
            (r.getLong(0), r.getLong(1), r.getDouble(2))
          val due = force || n >= maxPending || fraction >= budgetFraction
          val removed = if (due) vacuum() else 0L
          FlushDecision(n, affected, total, fraction, flushed = due, removed)
        } finally StableRead.release(t) // Dataset.unpersist is a no-op on
        // checkpointed frames; a long-lived serving process polling
        // *FlushIfDue must not accumulate dead cached blocks
    }
  }
}
