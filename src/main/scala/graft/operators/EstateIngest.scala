package graft.operators

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** The recoverable micro-batch ingest protocol every estate family's
  * stream sink runs: the BM25 index ([[Retrieval.bm25IngestBatch]]),
  * [[DedupRegistry.ingestBatch]], [[NearDupRegistry.ingestBatch]] and
  * the IVF index in all three layouts ([[Similarity.ivfIngestBatch]]).
  * It is the epoch-idempotent sink of Structured Streaming (SIGMOD
  * 2018): foreachBatch re-delivers a crashed batch with identical data
  * and id, and the sink converges every crash window to exactly one
  * application. A family declares one [[Layout]] and supplies the body
  * that stages its batch; everything below is shared.
  *
  * There is no transactional DELETE to wipe a partial batch, so
  * idempotence comes from a recoverable apply on filesystem renames:
  *
  *   1. each TAGGED table's increment stages into
  *      `_ingest_b<id>_tmp/<table>`, then renames into the live
  *      partitions as files prefixed `b<id>_` — a partial apply is
  *      enumerable by prefix and removable without touching any other
  *      generation;
  *   2. each SWAPPED table's next version stages as `<table>_b<id>_new`
  *      and swaps in by backup renames (cur -> `_bak`, new -> cur), so a
  *      complete pre- or post-batch version exists at every instant;
  *   3. the marker `ingestlog/b<id>` commits the batch, created only
  *      after every rename landed; the staging dir goes after it;
  *   4. on re-delivery with the marker present the batch is skipped
  *      whole (only a stray backup retires). Without it, the recovery
  *      restores `_bak` tables, drops `_new` tables and — when the
  *      staging dir stands — every `b<id>_` part, leaving exactly the
  *      pre-batch estate, and the apply re-runs from scratch.
  *
  * Every crash window converges: before staging (clean re-run), mid
  * move-in (tagged parts wiped), mid-swap (backup restored), after the
  * marker (skip). The tagged sweep is gated on the staging dir: it
  * outlives every pre-marker crash point and the conflict compensation
  * re-creates it, so the steady-state apply never pays an O(table
  * files) scan (MediaScaleBench's flat per-batch apply).
  *
  * Around the apply: writer locks on every layout table, so a
  * concurrent compaction cannot interleave (IngestConflictSpec), and the
  * [[StableRead.withMaintenanceMarker]] bracket — the part renames and
  * swaps cross quiet inter-job gaps a stable probe could otherwise
  * validate inside (new postings against old stats is a state that never
  * existed); a crashed apply leaves the marker standing until its
  * re-delivery converges. A swapped table's `_bak` retires only after
  * the bracket's estate commit landed; until then pinned readers resolve
  * it through [[StableRead.readTable]]'s `_bak` sibling scan. When that
  * commit loses a multi-writer race (ConcurrentModificationException)
  * the compensation restores the bak, deletes the marker so the re-run
  * re-applies instead of skipping, and re-creates the staging dir as
  * the breadcrumb that gates the re-run's sweep. It runs under the
  * locks: a maintenance op slipping in before it would see a
  * committed-looking bak (the marker still stands) and retire it.
  *
  * Contract: ONE writer query per estate with ONE checkpoint lineage —
  * batch ids must identify payloads; a fresh checkpoint over an
  * already-fed estate would reuse ids and silently skip. Markers are
  * empty files, one per batch ever applied: prune `ingestlog/` entries
  * older than the checkpoint's retained batch range if their number
  * matters (a missing marker only re-exposes a batch that can no longer
  * be re-delivered). Maintenance refuses an estate with a batch pending
  * recovery ([[Layout.requireCommitted]]).
  */
object EstateIngest {

  /** A family's ingest tables, declared once; the protocol, its
    * recovery sweep and the maintenance guard all read them. The ingest
    * locks every tagged and swapped table.
    *
    * @param op            the family's ingest entry point, for messages
    * @param tagged        tables a batch lands in as `b<id>_` part files,
    *                      each with the partition-dir prefix holding
    *                      them ("" = flat table)
    * @param swapped       tables replaced whole per batch by a `_bak`
    *                      backup swap
    * @param legacySwapped tables only the guard still treats as swapped,
    *                      because earlier versions swapped them and
    *                      their crash debris must still refuse or retire
    */
  final case class Layout(
      op: String,
      tagged: Seq[(String, String)],
      swapped: Seq[String] = Nil,
      legacySwapped: Seq[String] = Nil) {

    /** Run one recoverable, idempotent apply of batch `batchId` into
      * the estate at `path` (object scaladoc). `stage` writes the
      * batch's increment through the [[Batch]] paths and returns false
      * for an empty batch — an empty trigger is legal on a stream, and
      * its no-op is committed so the id is never re-applied against a
      * later estate state.
      */
    def ingest(spark: SparkSession, path: String, batchId: Long)(
        stage: Batch => Boolean): Unit = {
      require(batchId >= 0, s"$op: negative batch id $batchId")
      val hconf = spark.sessionState.newHadoopConf()
      val fs = new Path(path).getFileSystem(hconf)
      val tag = s"b$batchId"
      StableRead.withTableLocks(spark, path, tagged.map(_._1) ++ swapped) {
        try {
          StableRead.withMaintenanceMarker(spark, path) {
            recoverAndApply(fs, hconf, path, tag, stage)
          }
          swapped.foreach(StableRead.retireIngestBak(fs, path, _, tag))
        } catch {
          case e: java.util.ConcurrentModificationException =>
            swapped.foreach(StableRead.restoreIngestBak(fs, path, _, tag))
            fs.delete(new Path(s"$path/ingestlog/$tag"), false)
            fs.mkdirs(new Path(s"$path/_ingest_${tag}_tmp"))
            throw e
        }
      }
    }

    private def recoverAndApply(fs: FileSystem, hconf: Configuration,
        path: String, tag: String, stage: Batch => Boolean): Unit =
      graft.CacheScope.scoped {
        def sub(rel: String) = new Path(s"$path/$rel")
        val marker = sub(s"ingestlog/$tag")
        if (fs.exists(marker))
          // post-commit re-delivery: only the deferred backup retirement
          // can be outstanding (it re-notes the swap iff the batch's
          // estate commit never landed) — finish it and skip whole
          swapped.foreach(StableRead.retireIngestBak(fs, path, _, tag))
        else {
          swapped.foreach { t =>
            StableRead.restoreIngestBak(fs, path, t, tag)
            val nw = sub(s"${t}_${tag}_new")
            if (fs.exists(nw)) require(fs.delete(nw, true), s"$op: cannot drop $nw")
          }
          val b = new Batch(fs, path, tag)
          val staging = new Path(b.stagingDir)
          if (fs.exists(staging)) {
            tagged.foreach { case (t, prefix) => dropTagged(fs, sub(t), prefix, tag) }
            require(fs.delete(staging, true), s"$op: cannot drop $staging")
          }
          val landed = stage(b)
          if (landed) {
            tagged.foreach { case (t, prefix) =>
              graft.sinks.Sinks.copyParquetParts(fs, hconf,
                s"${b.stagingDir}/$t", s"$path/$t", prefix, tag, move = true)
            }
            swapped.foreach { t =>
              // the swap is noted here, riding this batch's commit; the
              // bak's retire destination is stamped while the pre-swap
              // version is still the committed one
              val (cur, bak, nw) =
                (sub(t), sub(s"${t}_${tag}_bak"), sub(s"${t}_${tag}_new"))
              require(fs.rename(cur, bak), s"$op: rename $cur -> $bak failed")
              StableRead.stampRetireTo(fs, path, t, tag)
              require(fs.rename(nw, cur), s"$op: rename $nw -> $cur failed")
              StableRead.noteSwapped(path, t)
            }
          }
          fs.mkdirs(marker.getParent)
          require(fs.createNewFile(marker), s"$op: cannot create marker $marker")
          if (landed || b.stagingUsed) fs.delete(staging, true)
        }
      }

    /** Delete batch `tag`'s parts from a tagged table, in its partition
      * dirs (those named `prefix...`) and at its top level. */
    private def dropTagged(fs: FileSystem, table: Path, prefix: String,
        tag: String): Unit =
      if (fs.exists(table)) fs.listStatus(table).foreach { st =>
        if (st.isDirectory && prefix.nonEmpty &&
            st.getPath.getName.startsWith(prefix))
          fs.listStatus(st.getPath)
            .filter(_.getPath.getName.startsWith(tag + "_"))
            .foreach(f => require(fs.delete(f.getPath, false),
              s"$op: cannot drop ${f.getPath}"))
        else if (st.getPath.getName.startsWith(tag + "_"))
          require(fs.delete(st.getPath, false), s"$op: cannot drop ${st.getPath}")
      }

    /** Maintenance-safety guard: a mutating maintenance op (compact,
      * merge, delete, split, vacuum) refuses an estate with an
      * uncommitted batch pending recovery — rewriting the live tables
      * would erase the `b<id>_` tags and strand the swap debris the
      * batch's re-delivery needs to converge, baking junk rows in and
      * re-applying the batch on top. See
      * [[graft.sinks.Sinks.requireNoPendingIngest]].
      */
    def requireCommitted(spark: SparkSession, path: String, opName: String): Unit =
      graft.sinks.Sinks.requireNoPendingIngest(
        new Path(path).getFileSystem(spark.sessionState.newHadoopConf()),
        path, tagged, legacySwapped ++ swapped, opName)
  }

  /** One apply attempt's paths, handed to a family's staging body. */
  final class Batch private[EstateIngest] (
      val fs: FileSystem, path: String, tag: String) {
    private[EstateIngest] val stagingDir = s"$path/_ingest_${tag}_tmp"
    private[EstateIngest] var stagingUsed = false

    /** Where the body writes a tagged table's increment. */
    def staged(table: String): String = {
      stagingUsed = true
      s"$stagingDir/$table"
    }

    /** Where the body writes a swapped table's next version. */
    def next(table: String): String = s"$path/${table}_${tag}_new"
  }

  /** An Observation's metrics after its action completed — EMPTY when
    * the action ran zero tasks (an all-empty frame plans away to zero
    * partitions and the CollectMetrics operator never executes), so
    * callers can tell "no rows observed" from "metric is 0".
    */
  private[graft] def observedOrEmpty(
      obs: org.apache.spark.sql.Observation): Map[String, Any] =
    scala.util.Try(obs.get).getOrElse(Map.empty)
}
