package graft.sinks

import java.time.format.DateTimeFormatter
import java.time.{Instant, ZoneOffset}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.lit

/** Output sinks mirroring the reference's stage-6/stage-5 surface
  * (SURVEY.md §2.1 S4–S7).
  */
object Sinks {

  /** Run-stamped parquet path `trades_YYYYMMDD_HHMMSS.parquet` (reference
    * src/output/ParquetWriter.cpp:51-75). Snappy compression, dictionary
    * encoding and column stats are Spark parquet defaults — the properties
    * the reference sets explicitly (ParquetWriter.cpp:303-310).
    */
  def stampedPath(dir: String, prefix: String, nowMs: Long): String = {
    val ts = DateTimeFormatter.ofPattern("yyyyMMdd_HHmmss")
      .withZone(ZoneOffset.UTC).format(Instant.ofEpochMilli(nowMs))
    s"$dir/${prefix}_$ts.parquet"
  }

  def writeParquet(df: DataFrame, dir: String, prefix: String,
      nowMs: Long = System.currentTimeMillis()): String = {
    val path = stampedPath(dir, prefix, nowMs)
    df.write.mode("overwrite").parquet(path)
    path
  }

  /** Hive-style partitioned parquet layout: one directory per value of
    * `partitionCols`, so any query filtering on them prunes whole
    * directories before reading a byte (PartitionFilters in the scan node)
    * — the time/date layout every large fact table should use. Pair with
    * `maxRecordsPerFile`/AQE coalescing to keep file counts sane.
    */
  def writePartitioned(
      df: DataFrame,
      dir: String,
      partitionCols: Seq[String]): Unit =
    df.write.mode("overwrite")
      .partitionBy(partitionCols: _*)
      .parquet(dir)

  /** Incremental backfill into a partitioned layout: overwrite ONLY the
    * partitions present in `df`, leaving every other partition's files
    * untouched — the daily re-materialization pattern. [[writePartitioned]]
    * runs under Spark's default STATIC overwrite, which deletes the whole
    * root first; at 100 TB that turns a one-day correction into a
    * full-corpus rewrite (and a read outage for every other day). The
    * dynamic mode is scoped to this one write via the DataFrameWriter
    * option, not session-wide config, so concurrent writers keep their own
    * semantics.
    */
  def backfillPartitions(
      df: DataFrame,
      dir: String,
      partitionCols: Seq[String]): Unit =
    df.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionCols: _*)
      .parquet(dir)

  /** Targeted row deletion from a partitioned parquet corpus — the
    * data-governance primitive (takedown / right-to-erasure / opt-out
    * lists) a long-lived training corpus cannot run without. Touches
    * ONLY the partitions that actually contain doomed keys:
    *
    *   1. the affected-partition set comes from one semi-join of the
    *      corpus against the broadcast key list (bounded collect — a
    *      partition-VALUE list, never rows);
    *   2. survivors of those partitions rewrite via a dynamic-partition
    *      overwrite ([[backfillPartitions]] semantics), eagerly
    *      materialized first so the write can never rescan the files it
    *      replaces (the df-merge localCheckpoint precedent; the
    *      checkpoint is affected-partitions-sized, not corpus-sized);
    *   3. partitions whose every row is doomed produce NO survivor rows
    *      — dynamic overwrite would silently leave their files (and the
    *      deleted rows) alive, so they are removed explicitly through
    *      the Hadoop FileSystem.
    *
    * Untouched partitions' files are not opened, rewritten, or moved
    * (spec pins byte-identity). Returns the number of rows deleted.
    * Keys absent from the corpus are no-ops; NULL keys never match (an
    * equi-join cannot, so a null-keyed row is undeletable by key — the
    * standard SQL contract). NULL / empty-string PARTITION values are
    * handled: Spark writes them as the `__HIVE_DEFAULT_PARTITION__`
    * directory and reads them back as null, and both the survivor
    * filter (null-safe membership) and the emptied-directory removal
    * (Spark's own partition-path escaping, so values with spaces, ':',
    * '%' etc. resolve to the directory Spark actually wrote) follow
    * that mapping; a constructed path that does NOT exist fails loudly
    * instead of silently leaving doomed rows alive. SINGLE-WRITER
    * contract: the deleted-row count and the survivor set are computed
    * against the directory's live files, so a concurrent writer
    * appending into an affected partition between the checkpoint and
    * the overwrite would lose its rows — run takedowns in the corpus's
    * maintenance window, like compaction. At 100 TB this is the
    * difference between a takedown costing one partition's rewrite and
    * a full-corpus rewrite per request batch.
    */
  /** @param countDeleted when false, skip the two count actions that
    *   only serve the return value and return -1 — for callers that
    *   account deletions elsewhere (bm25Delete reads its doc count off
    *   the registry) every saved action matters on the maintenance
    *   path's fixed-overhead floor.
    */
  def deleteRows(
      spark: org.apache.spark.sql.SparkSession,
      dir: String,
      partitionCol: String,
      keyCol: String,
      keys: DataFrame,
      countDeleted: Boolean = true,
      affectedHint: Option[Seq[Any]] = None): Long = {
    import org.apache.spark.sql.functions._
    // roll forward a crash-interrupted prior delete BEFORE reading the
    // corpus: a standing intent marker means staged survivors exist
    // that live reads are (or may be) missing
    recoverDeleteIntent(spark, dir)
    val corpus = spark.read.parquet(dir)
    val k = broadcast(keys.select(col(keyCol)).distinct())
    // affectedHint: callers that already derived the doomed rows'
    // partition values (bm25Delete's df-decrement table groups by the
    // same join) pass them instead of paying a second keys×table scan —
    // the values must be EXACTLY the partitions containing doomed rows
    // (a superset would rewrite untouched partitions; a subset would
    // leave doomed rows live)
    val affected = affectedHint
      .map(_.toArray[Any])
      .getOrElse(corpus.join(k, keyCol)
        .select(col(partitionCol)).distinct()
        .collect().map(_.get(0)))
    if (affected.isEmpty) return 0L
    // hint validation, metadata-only: every hinted value must resolve to
    // a LISTED partition directory. This cannot prove the hint covers
    // every doomed row (that proof IS the keys×corpus scan the hint
    // exists to skip), but it catches the stale/mistyped-hint class —
    // a value naming no directory would make the isin filter, the
    // rewrite, and the emptied-dir removal all silently skip it
    affectedHint.foreach { _ =>
      val root = new org.apache.hadoop.fs.Path(dir)
      val listed = root.getFileSystem(spark.sessionState.newHadoopConf())
        .listStatus(root)
        .filter(_.isDirectory)
        .map(_.getPath.getName)
        .filter(_.startsWith(s"$partitionCol="))
        .toSet
      val unlisted = affected.filter { v =>
        !listed.contains(
          org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
            .getPartitionPathString(
              partitionCol, if (v == null) null else v.toString))
      }
      require(unlisted.isEmpty,
        s"deleteRows: affectedHint value(s) ${unlisted.mkString(", ")} match " +
          s"no $partitionCol= directory under $dir — a stale or mistyped " +
          "hint silently leaves doomed rows live; pass the exact partition " +
          "values or drop the hint to let deleteRows derive the set")
    }
    // null-safe membership: isin drops a null partition value (the
    // __HIVE_DEFAULT_PARTITION__ directory) from the predicate, which
    // would silently skip its rewrite
    val nonNullAffected = affected.filter(_ != null)
    val inAffected = {
      val base =
        if (nonNullAffected.nonEmpty) col(partitionCol).isin(nonNullAffected: _*)
        else lit(false)
      if (affected.exists(_ == null)) base || col(partitionCol).isNull else base
    }
    // the in/out row counts and the surviving partition-value set all
    // ride observe() on the ONE checkpoint action that scans both frames
    // anyway — zero extra jobs (collect_set drops nulls, so the hive
    // default partition is tracked by its own null-row count)
    val obsIn = org.apache.spark.sql.Observation()
    val obsOut = org.apache.spark.sql.Observation()
    val affectedRows = corpus.filter(inAffected)
      .observe(obsIn, count(lit(1)).as("n"))
    val survivors = affectedRows
      .join(k, Seq(keyCol), "left_anti")
      // partition-clustered (small-files rule) and EAGER (self-overwrite
      // rule) before the rewrite
      .repartition(col(partitionCol))
      .observe(obsOut,
        count(lit(1)).as("n"),
        collect_set(col(partitionCol)).as("parts"),
        count(when(col(partitionCol).isNull, 1)).as("nulls"))
      .localCheckpoint(true)
    // an all-doomed partition set checkpoints ZERO tasks and the
    // observations never fill — absent metrics mean empty survivors
    import graft.operators.EstateIngest.observedOrEmpty
    val mOut = observedOrEmpty(obsOut)
    val deleted =
      if (countDeleted)
        observedOrEmpty(obsIn).get("n").map(_.asInstanceOf[Long]).getOrElse(0L) -
          mOut.get("n").map(_.asInstanceOf[Long]).getOrElse(0L)
      else -1L
    val keptParts: Set[Any] =
      mOut.get("parts").map(_.asInstanceOf[Seq[Any]].toSet).getOrElse(Set.empty) ++
        (if (mOut.get("nulls").exists(_.asInstanceOf[Long] > 0L))
          Set(null.asInstanceOf[Any]) else Set.empty)
    val hconf = spark.sessionState.newHadoopConf()
    // manifest-managed estates RETIRE the affected partitions' current
    // files (snapshot-pinned readers keep resolving them) and land the
    // survivors through the intent-marker roll-forward protocol below —
    // survivors staged durably FIRST, so no crash window can lose
    // committed survivor rows from live reads
    val tableP = new org.apache.hadoop.fs.Path(dir)
    val tableFs = tableP.getFileSystem(hconf)
    val retained =
      graft.operators.StableRead.manifestManaged(tableFs, tableP.getParent)
    def dirNameOf(v: Any): String =
      org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
        .getPartitionPathString(
          partitionCol, if (v == null) null else v.toString)
    if (retained) {
      val keptDirs = affected.filter(keptParts).map(dirNameOf).toSeq
      val doomedDirs = affected.filterNot(keptParts).map(dirNameOf).toSeq
      // 1. stage the survivors DURABLY in a transient sibling dir (a
      //    crash before the intent write leaves only overwritable
      //    debris; live is untouched so the re-run converges trivially)
      if (keptParts.nonEmpty)
        survivors.write.mode("overwrite")
          .partitionBy(partitionCol)
          .parquet(deleteTmpDir(tableP).toString)
      // 2. intent marker, written atomically AFTER the stage is
      //    complete: from this instant the delete ROLLS FORWARD — any
      //    crash leaves the marker standing and the next deleteRows on
      //    this table (or the same delete re-run) completes the
      //    retire+land from the staged partitions before touching the
      //    corpus. Without it, a crash between the retire and the
      //    survivors landing would leave committed survivor rows absent
      //    from live reads with nothing able to re-derive them (the
      //    doomed postings are gone, so the affected set re-derives
      //    empty) — the non-convergent window the round-17 advisor
      //    flagged.
      graft.operators.StableRead.atomicWrite(tableFs, tableP,
        DeleteIntentName,
        (keptDirs.map(d => s"K|$d") ++ doomedDirs.map(d => s"D|$d"))
          .mkString("", "\n", "\n#END\n"))
      // 3-5. retire originals, land staged survivors, clear the marker
      completeDeleteIntent(tableFs, tableP, keptDirs, doomedDirs)
      return deleted
    }
    if (keptParts.nonEmpty)
      survivors.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(partitionCol)
        .parquet(dir)
    affected.filterNot(keptParts).foreach { v =>
      // Spark's own partition-path escaping (null and "" both map to the
      // hive default-partition directory, special characters percent-
      // escape) — a hand-interpolated s"$partitionCol=$v" misses the
      // directory for exactly those values
      val dirName = org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
        .getPartitionPathString(
          partitionCol, if (v == null) null else v.toString)
      val p = new org.apache.hadoop.fs.Path(s"$dir/$dirName")
      val fs = p.getFileSystem(hconf)
      require(fs.exists(p),
        s"deleteRows: emptied partition directory $p not found — refusing " +
          "to report rows deleted that may still be live")
      require(fs.delete(p, true),
        s"deleteRows: could not remove emptied partition $p")
    }
    deleted
  }

  /** Name of [[deleteRows]]' roll-forward intent marker, written INSIDE
    * the table directory (underscore-prefixed: parquet scans and
    * snapshot listings both skip it). Present = a delete staged its
    * survivors durably but may not have finished retiring originals and
    * landing the stage; [[recoverDeleteIntent]] completes it.
    */
  private[graft] val DeleteIntentName = "_delete_intent"

  /** The staging sibling for [[deleteRows]]' survivors — `_tmp`-suffixed
    * so estate snapshots treat it as transient. */
  private def deleteTmpDir(
      tableP: org.apache.hadoop.fs.Path): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(
      tableP.getParent, tableP.getName + "__del_tmp")

  /** Complete a staged delete: retire the affected partitions' ORIGINAL
    * files, land each staged survivor partition in one atomic directory
    * rename, drop the stage husk and the intent marker. Convergent from
    * every crash point because landing is all-or-nothing per partition:
    * a kept partition whose stage dir still exists has NOT landed (its
    * live remainder, if any, is original data to retire); one whose
    * stage dir is gone landed atomically (its live dir is survivors —
    * excluded from the retire). Doomed (survivor-less) partitions just
    * retire, idempotently.
    */
  private def completeDeleteIntent(
      fs: org.apache.hadoop.fs.FileSystem,
      tableP: org.apache.hadoop.fs.Path,
      keptDirs: Seq[String],
      doomedDirs: Seq[String]): Unit = {
    val root = tableP.getParent.toString
    val table = tableP.getName
    val tmp = deleteTmpDir(tableP)
    val staged = keptDirs.filter(d =>
      fs.exists(new org.apache.hadoop.fs.Path(tmp, d)))
    graft.operators.StableRead.retirePartitions(
      fs, root, table, doomedDirs ++ staged)
    staged.foreach { d =>
      val src = new org.apache.hadoop.fs.Path(tmp, d)
      val dst = new org.apache.hadoop.fs.Path(tableP, d)
      require(!fs.exists(dst),
        s"deleteRows: landing target $dst still exists after retire")
      require(fs.rename(src, dst),
        s"deleteRows: landing $src -> $dst failed")
    }
    if (fs.exists(tmp)) fs.delete(tmp, true) // husk (+_SUCCESS)
    fs.delete(new org.apache.hadoop.fs.Path(tableP, DeleteIntentName), false)
    graft.operators.StableRead.noteTouched(root, table)
  }

  /** Roll forward a crash-interrupted [[deleteRows]] if its intent
    * marker stands — called at every deleteRows entry (and available to
    * fsck/recovery paths). No-op when no marker exists.
    */
  private[graft] def recoverDeleteIntent(
      spark: org.apache.spark.sql.SparkSession, dir: String): Unit = {
    val tableP = new org.apache.hadoop.fs.Path(dir)
    val fs = tableP.getFileSystem(spark.sessionState.newHadoopConf())
    val intent = new org.apache.hadoop.fs.Path(tableP, DeleteIntentName)
    if (!fs.exists(intent)) return
    val in = fs.open(intent)
    val content =
      try {
        val buf = new java.io.ByteArrayOutputStream()
        val chunk = new Array[Byte](4096)
        var n = in.read(chunk)
        while (n >= 0) { buf.write(chunk, 0, n); n = in.read(chunk) }
        buf.toString("UTF-8")
      } finally in.close()
    val lines = content.split('\n')
    require(lines.contains("#END"),
      s"deleteRows: torn intent marker at $intent — it is written " +
        "atomically, so truncation means filesystem damage; refusing to " +
        "guess which partitions were mid-delete")
    val keptDirs = lines.takeWhile(_ != "#END")
      .filter(_.startsWith("K|")).map(_.substring(2)).toSeq
    val doomedDirs = lines.takeWhile(_ != "#END")
      .filter(_.startsWith("D|")).map(_.substring(2)).toSeq
    completeDeleteIntent(fs, tableP, keptDirs, doomedDirs)
  }

  /** Union a (possibly hive-partitioned) parquet directory's part files
    * into `dst`, prefixing file names with `tag` so two sources cannot
    * collide — the FILE-LEVEL union step of the index merge operators
    * (bm25Merge / ivfMerge): rows whose tables are disjoint by
    * construction union by metadata, no row is ever deserialized.
    * `partitionPrefix` names the hive partition directories to recurse
    * into (e.g. "bucket=", "cell="); non-parquet files (_SUCCESS) are
    * skipped. A missing source directory is a no-op.
    *
    * Copy vs move contract: with `move = false` (default) sources are
    * PRESERVED, but every byte streams through this single driver
    * thread (`FileUtil.copy`) — at 100 TB the union is a full
    * sequential IO pass on one machine. With `move = true` each part
    * file is `FileSystem.rename`d instead — O(1) metadata per file on
    * HDFS-like stores, which is what makes an N-shard index merge
    * genuinely metadata-priced — at the price of CONSUMING the source:
    * its partition directories are left holding no part files (the
    * caller owns removing the husk). Move only what the caller may
    * destroy: shard indexes built solely to be merged, a stream batch's
    * staged parts. On object stores rename itself is copy+delete, so
    * `move` saves the read path but not the write; prefer native bulk
    * copy there.
    */
  def copyParquetParts(
      fs: org.apache.hadoop.fs.FileSystem,
      hconf: org.apache.hadoop.conf.Configuration,
      srcDir: String,
      dstDir: String,
      partitionPrefix: String,
      tag: String,
      move: Boolean = false): Unit = {
    val src = new org.apache.hadoop.fs.Path(srcDir)
    if (!fs.exists(src)) return
    val dstP = new org.apache.hadoop.fs.Path(dstDir)
    fs.mkdirs(dstP)
    // collect the exact landed table-relative paths: this op only ADDS
    // files, so the snapshot commit takes the O(batch) APPEND-DELTA
    // path (StableRead.noteAppended) instead of re-listing the whole
    // table — the difference between a flat and a corpus-proportional
    // per-batch commit on a 100x standing estate (MediaScaleBench)
    val landed = Vector.newBuilder[String]
    def walk(s: org.apache.hadoop.fs.Path,
        d: org.apache.hadoop.fs.Path, rel: String): Unit = {
      fs.mkdirs(d)
      fs.listStatus(s).foreach { st =>
        val name = st.getPath.getName
        if (st.isDirectory && name.startsWith(partitionPrefix))
          walk(st.getPath,
            new org.apache.hadoop.fs.Path(d, name), s"$rel$name/")
        else if (name.endsWith(".parquet")) {
          val dst = new org.apache.hadoop.fs.Path(d, s"${tag}_$name")
          if (move)
            require(fs.rename(st.getPath, dst),
              s"copyParquetParts: rename ${st.getPath} -> $dst failed")
          else
            org.apache.hadoop.fs.FileUtil.copy(
              fs, st.getPath, fs, dst, false, hconf)
          landed += s"$rel${tag}_$name"
        }
      }
    }
    walk(src, dstP, "")
    val files = landed.result()
    if (files.nonEmpty && graft.operators.StableRead.manifestManaged(
        fs, dstP.getParent))
      graft.operators.StableRead.noteAppended(
        dstP.getParent.toString, dstP.getName, files)
  }

  /** Refuse to run a maintenance rewrite over an artifact with an
    * UNCOMMITTED streaming-ingest batch pending recovery. The
    * recoverable ingest protocol ([[graft.operators.EstateIngest]]) relies
    * on three enumerable kinds of debris to converge a crash window on
    * re-delivery: `_ingest_<tag>_tmp` staging dirs, `<table>_b<id>_new`
    * / `_bak` swap dirs, and `b<id>_`-prefixed part files inside the
    * partitioned tables. A compact/split/merge/delete that rewrites the
    * live table FIRST erases the tags (junk rows get baked into
    * untagged files) and strands the swap debris, so the batch's
    * re-delivery finds nothing to drop and re-applies — duplicated rows
    * or corrupted stats. Hence the contract: maintenance only runs on a
    * fully-committed artifact; a pending batch converges by restarting
    * its ingest stream (whose recovery pass is the ONLY code that knows
    * how to undo it), never by maintenance.
    *
    * `partitionedTables` are (dirName, partitionPrefix) pairs to scan
    * for tagged parts (prefix "" = flat directory); `swapTables` are the
    * backup-swapped table names. Only `b<digits>_` tags are ingest
    * batches (merge tags `s<i>_` and split tags `split<p>_` are
    * committed the instant their one activating rename lands, so they
    * never pend). The one converging action taken here: a `_bak` whose
    * marker EXISTS is a committed batch's stray backup (crash between
    * marker and cleanup) — dropped, exactly as its re-delivery would.
    */
  def requireNoPendingIngest(
      fs: org.apache.hadoop.fs.FileSystem,
      path: String,
      partitionedTables: Seq[(String, String)],
      swapTables: Seq[String],
      opName: String): Unit = {
    val root = new org.apache.hadoop.fs.Path(path)
    if (!fs.exists(root)) return
    def committed(tag: String): Boolean =
      fs.exists(new org.apache.hadoop.fs.Path(s"$path/ingestlog/$tag"))
    def refuse(what: String, tag: String): Nothing =
      throw new IllegalStateException(
        s"$opName: uncommitted ingest batch $tag pending recovery at " +
          s"$path ($what) — restart the ingest stream so its recovery " +
          "pass converges the crash window, then re-run maintenance")
    val swapRe = ("^(" + swapTables.map(java.util.regex.Pattern.quote)
      .mkString("|") + ")_(b\\d+)_(new|bak)$").r
    fs.listStatus(root).foreach { st =>
      val name = st.getPath.getName
      if (name.startsWith("_ingest_") && name.endsWith("_tmp"))
        refuse(name, name.stripPrefix("_ingest_").stripSuffix("_tmp"))
      if (swapTables.nonEmpty) name match {
        case swapRe(table, tag, kind) =>
          if (!committed(tag)) refuse(name, tag)
          else if (kind == "bak")
            // a committed batch's stray backup (crash between its
            // marker and the deferred retirement): RETIRE it — the
            // pre-swap version's files are snapshot-pinned, a delete
            // would strand every reader pinned before the swap
            // (retireIngestBak reads the swap-time sidecar and re-notes
            // the swap iff the batch's estate commit never landed)
            graft.operators.StableRead.retireIngestBak(fs, path, table, tag)
          else refuse(s"$name beside a commit marker", tag)
        case _ =>
      }
    }
    val tagRe = "^(b\\d+)_.*".r
    partitionedTables.foreach { case (table, prefix) =>
      val d = new org.apache.hadoop.fs.Path(s"$path/$table")
      if (fs.exists(d)) {
        val parts = fs.listStatus(d).flatMap { st =>
          if (st.isDirectory && prefix.nonEmpty &&
              st.getPath.getName.startsWith(prefix))
            fs.listStatus(st.getPath)
          else Array(st)
        }
        parts.foreach { f =>
          f.getPath.getName match {
            case tagRe(tag) if !committed(tag) =>
              refuse(s"$table/.../${f.getPath.getName}", tag)
            case _ =>
          }
        }
      }
    }
  }

  /** Land a frame as an estate TABLE atomically: write to a `_tmp`
    * sibling, then swap it in (retire-aware on manifest-managed roots)
    * or rename it in when the table does not exist yet. NEVER an
    * in-place `mode("overwrite")` on a live table — that deletes the
    * committed files before the new ones exist (torn on crash, and a
    * snapshot-pinned reader racing it loses its generation
    * permanently). The one extra rename is free; the builds, artifact
    * saves, and append-side stats/terms republishes all land through
    * here.
    */
  def landTable(
      df: DataFrame,
      root: String,
      table: String,
      partitionCols: Seq[String] = Seq.empty): Unit = {
    val tmp = new org.apache.hadoop.fs.Path(s"$root/${table}_land_tmp")
    val fs = tmp.getFileSystem(
      df.sparkSession.sessionState.newHadoopConf())
    var w = df.write.mode("overwrite")
    if (partitionCols.nonEmpty) w = w.partitionBy(partitionCols: _*)
    w.parquet(tmp.toString)
    val cur = new org.apache.hadoop.fs.Path(s"$root/$table")
    if (fs.exists(cur)) swapByRename(fs, tmp, cur)
    else {
      require(fs.rename(tmp, cur), s"landTable: rename $tmp -> $cur failed")
      graft.operators.StableRead.noteTouched(root, table)
    }
  }

  /** Compact-rewrite one estate table in place — the shared body of
    * ivfCompact / bm25Compact / the registry compacts: read the table,
    * rewrite it clustered (partitioned by `partitionCol`) or glued
    * (`coalesce` when None), swap the new generation in. Caller
    * contract (IngestConflictSpec): hold the table's writer lock
    * ([[graft.operators.StableRead.withTableLocks]]) and run
    * [[requireNoPendingIngest]] INSIDE it — under the lock a live
    * ingest cannot be mid-landing, so any uncommitted tagged part the
    * guard sees is genuinely a crashed batch's debris, and refusing
    * (rather than folding its rows into untagged output, which would
    * duplicate the batch on its mandated re-delivery) is precise.
    */
  def compactTable(
      spark: org.apache.spark.sql.SparkSession,
      root: String,
      table: String,
      partitionCol: Option[String],
      schema: Option[String] = None): Unit = {
    val cur = new org.apache.hadoop.fs.Path(s"$root/$table")
    val tmp = new org.apache.hadoop.fs.Path(s"$root/${table}_compact_tmp")
    val fs = cur.getFileSystem(spark.sessionState.newHadoopConf())
    require(fs.exists(cur), s"compactTable: no $table at $cur")
    var r = spark.read
    schema.foreach(s => r = r.schema(s))
    val df = r.parquet(cur.toString)
    partitionCol match {
      case Some(c) =>
        df.repartition(org.apache.spark.sql.functions.col(c))
          .write.mode("overwrite").partitionBy(c).parquet(tmp.toString)
      case None =>
        // shuffle-free file merge: coalesce glues small splits together
        // without moving rows between executors
        df.coalesce(spark.sparkContext.defaultParallelism)
          .write.mode("overwrite").parquet(tmp.toString)
    }
    swapByRename(fs, tmp, cur)
  }

  /** Swap a freshly-written `tmp` directory into place at `dst` via a
    * backup rename: dst -> bak, tmp -> dst, delete bak — dst is never
    * deleted before its replacement is ready, so a crash at any point
    * leaves either the old generation (restorable from `bak`) or the
    * new one, never nothing. A leftover backup from a dead prior swap
    * aborts loudly (the [[compactParquet]] refusal contract). Directory
    * rename is atomic on HDFS-like filesystems; object stores emulate
    * it as copy+delete — the backup still guarantees no state is lost
    * there, but the swap has a visible window and callers coordinating
    * live readers on such stores should swap in a maintenance window.
    */
  def swapByRename(
      fs: org.apache.hadoop.fs.FileSystem,
      tmp: org.apache.hadoop.fs.Path,
      dst: org.apache.hadoop.fs.Path): Unit = {
    val bak = new org.apache.hadoop.fs.Path(
      dst.getParent, dst.getName + "_swap_bak")
    if (fs.exists(bak))
      throw new IllegalStateException(
        s"swapByRename: $bak exists — a previous swap did not complete; " +
          "restore or remove it before swapping again")
    // manifest-managed estate roots swap in RETIRE mode: the old
    // generation moves to its immutable _retired location instead of a
    // transient backup, which is what keeps snapshot-PINNED readers
    // ([[graft.operators.StableRead.pinned]]) servable across the swap
    if (graft.operators.StableRead.manifestManaged(fs, dst.getParent)) {
      graft.operators.StableRead.swapRetire(fs, tmp, dst)
      return
    }
    require(fs.rename(dst, bak), s"swapByRename: rename $dst -> $bak failed")
    if (!fs.rename(tmp, dst)) {
      // roll back so dst never vanishes: the old generation is intact in bak
      fs.rename(bak, dst)
      throw new java.io.IOException(s"swapByRename: rename $tmp -> $dst failed")
    }
    require(fs.delete(bak, true), s"swapByRename: could not remove backup $bak")
  }

  /** Range-clustered parquet layout: range-partition by `clusterCols`, sort
    * within partitions, and cap records per file. Three scale effects:
    *   - every output file covers a narrow, pairwise-disjoint range of the
    *     cluster key, so parquet footer min/max statistics let any scan
    *     with a cluster-key predicate skip whole files (and row groups)
    *     without a metadata service;
    *   - `targetRecordsPerFile` bounds file sizes, preventing both the
    *     small-file explosion (N tasks x M partition values) and the
    *     monolithic-file case that serializes downstream parallelism;
    *   - sorted runs compress better (RLE/dictionary + delta on the key).
    * The poor-man's Z-order for a single clustering dimension — the right
    * layout for time-series and id-ranged facts.
    */
  def writeClustered(
      df: DataFrame,
      dir: String,
      clusterCols: Seq[String],
      targetRecordsPerFile: Long = 1000000L,
      nRanges: Int = 0): Unit = {
    val cols = clusterCols.map(org.apache.spark.sql.functions.col)
    val ranged =
      if (nRanges > 0) df.repartitionByRange(nRanges, cols: _*)
      else df.repartitionByRange(cols: _*)
    ranged
      .sortWithinPartitions(cols: _*)
      .write.mode("overwrite")
      .option("maxRecordsPerFile", targetRecordsPerFile)
      .parquet(dir)
  }

  /** Compact a parquet directory's small files — the maintenance pass a
    * micro-batch sink needs (every trigger writes at least one file per
    * partition, so a day of 10-second triggers leaves ~10^4 files whose
    * per-file open/footer cost comes to dominate scans). Rows are
    * preserved exactly; layout is rewritten via coalesce to
    * ~`ceil(rows / targetRecordsPerFile)` files. Coalesce merges
    * locally with NO shuffle — the property that makes compaction cheap
    * at 100 TB — at the price of bin imbalance: a merged partition that
    * exceeds the target is split by maxRecordsPerFile, so the final
    * count can run a few files over the ceil (never over 2× it).
    * Writes to a temp sibling then swaps via two renames — a reader
    * that already listed the old files keeps reading them until the
    * backup delete, and one that lists after the swap sees only new
    * files; the instant BETWEEN the renames has no directory, so a
    * listing can transiently fail (retry) but can never observe a
    * half-written mix. Run it in the sink's own maintenance window.
    */
  def compactParquet(
      spark: org.apache.spark.sql.SparkSession,
      dir: String,
      targetRecordsPerFile: Long = 1000000L): Unit = {
    require(targetRecordsPerFile > 0, "targetRecordsPerFile must be positive")
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(dir), spark.sparkContext.hadoopConfiguration)
    val dst = new org.apache.hadoop.fs.Path(dir)
    val bak = new org.apache.hadoop.fs.Path(dir.stripSuffix("/") + ".compact-old")
    val tmpPath = new org.apache.hadoop.fs.Path(dir.stripSuffix("/") + ".compact-tmp")
    // A leftover backup means a prior compaction died mid-swap; renaming
    // over it would silently no-op, so refuse until the operator resolves it.
    if (fs.exists(bak))
      throw new IllegalStateException(
        s"$bak exists — a previous compaction did not complete; " +
          "restore or remove it before compacting again")
    val df = spark.read.parquet(dir)
    val rows = df.count()
    val nFiles = math.max(1L, (rows + targetRecordsPerFile - 1) / targetRecordsPerFile)
    df.coalesce(nFiles.toInt)
      .write.mode("overwrite")
      .option("maxRecordsPerFile", targetRecordsPerFile)
      .parquet(tmpPath.toString)
    if (!fs.rename(dst, bak))
      throw new java.io.IOException(s"compactParquet: rename $dst -> $bak failed")
    if (!fs.rename(tmpPath, dst)) {
      // Roll back so the live directory never vanishes: the data is still
      // intact under bak; put it back before surfacing the failure.
      fs.rename(bak, dst)
      throw new java.io.IOException(s"compactParquet: rename $tmpPath -> $dst failed")
    }
    if (!fs.exists(dst))
      throw new java.io.IOException(s"compactParquet: $dst missing after swap")
    fs.delete(bak, true)
  }

  /** Two-dimensional clustered layout via the Z-order (Morton) curve:
    * rows are range-partitioned and sorted by the interleaved bits of
    * BOTH key columns ([[graft.functions.ZOrder.zValue]]), so per-file
    * min/max ranges are tight in each dimension and a scan filtered on
    * either column prunes most files — where [[writeClustered]]'s
    * lexicographic sort only skips on its leading column. The z column
    * is dropped before writing; both keys must be in [0, 2^31)
    * (rescale first).
    */
  def writeZOrdered(
      df: DataFrame,
      dir: String,
      xCol: String,
      yCol: String,
      targetRecordsPerFile: Long = 1000000L,
      nRanges: Int = 0): Unit = {
    val z = graft.functions.ZOrder.zValue(
      org.apache.spark.sql.functions.col(xCol),
      org.apache.spark.sql.functions.col(yCol))
    val withZ = df.withColumn("__z", z)
    val ranged =
      if (nRanges > 0)
        withZ.repartitionByRange(nRanges, org.apache.spark.sql.functions.col("__z"))
      else withZ.repartitionByRange(org.apache.spark.sql.functions.col("__z"))
    ranged
      .sortWithinPartitions(org.apache.spark.sql.functions.col("__z"))
      .drop("__z")
      .write.mode("overwrite")
      .option("maxRecordsPerFile", targetRecordsPerFile)
      .parquet(dir)
  }

  /** Bucketed managed table: pre-shuffles the data into `nBuckets` by
    * `bucketCols` at write time so subsequent joins/aggregations on those
    * keys run WITHOUT an exchange — the write-once/join-many pattern that
    * replaces per-query shuffles at large scale (the Spark equivalent of
    * the reference's (symbol, timestamp) B-tree index, reference
    * src/database/DatabaseLoader.cpp:122-125: pay at load time, win at
    * query time). Requires a SparkSession with a warehouse dir (any
    * local/remote path; Hive metastore not required).
    */
  def writeBucketed(
      df: DataFrame,
      table: String,
      bucketCols: Seq[String],
      nBuckets: Int,
      sortCols: Seq[String] = Nil): Unit = {
    val w = df.write.mode("overwrite")
      .format("parquet")
      .bucketBy(nBuckets, bucketCols.head, bucketCols.tail: _*)
    (if (sortCols.nonEmpty) w.sortBy(sortCols.head, sortCols.tail: _*) else w)
      .saveAsTable(table)
  }

  /** JDBC bulk sink with the reference's drop-index -> load -> rebuild
    * pattern (reference src/database/DatabaseLoader.cpp:187-269 and the
    * 4-connection parallel variant src/threading/ParallelLoader.hpp:71-275).
    *
    * Spark's JDBC writer already opens one connection per partition —
    * `numPartitions` IS the reference's thread-per-connection COPY fan-out.
    * The index drop/rebuild is plain pre/post DDL around the write; it is an
    * operational utility, not a dataflow operator, so it runs driver-side on
    * a single extra connection.
    *
    * Exercised end-to-end by JdbcSinkSpec against embedded Derby (the JDBC
    * engine Spark ships for its metastore): pre/post DDL, the 4-connection
    * parallel load, truncate mode, and a read-back round trip.
    */
  final case class JdbcTarget(url: String, table: String,
      properties: java.util.Properties)

  /** Postgres-targeted default properties: `reWriteBatchedInserts=true`
    * makes the pgjdbc driver rewrite each JDBC batch into one multi-row
    * INSERT — the closest JDBC-level equivalent of the reference's COPY
    * wire (src/database/DatabaseLoader.cpp:187-269); a 2-5x load speedup
    * on real Postgres, silently ignored by other drivers. Callers merge
    * their credentials on top.
    */
  def pgDefaultProperties(): java.util.Properties = {
    val p = new java.util.Properties()
    p.setProperty("reWriteBatchedInserts", "true")
    p
  }

  def writeJdbc(
      df: DataFrame,
      target: JdbcTarget,
      numPartitions: Int = 4,
      batchSize: Int = 10000,
      truncate: Boolean = false,
      preSql: Seq[String] = Nil,
      postSql: Seq[String] = Nil): Unit = {
    def exec(sqls: Seq[String]): Unit = if (sqls.nonEmpty) {
      val conn = java.sql.DriverManager.getConnection(
        target.url, target.properties)
      try sqls.foreach { s =>
        val st = conn.createStatement(); try st.execute(s) finally st.close()
      } finally conn.close()
    }
    exec(preSql)
    df.repartition(numPartitions)
      .write
      .mode(if (truncate) "overwrite" else "append")
      .option("truncate", truncate.toString)
      .option("batchsize", batchSize.toString)
      .option("numPartitions", numPartitions.toString)
      .jdbc(target.url, target.table, target.properties)
    exec(postSql)
  }

  /** Streaming leg of the JDBC sink: an exactly-once `foreachBatch` writer
    * for a transactional database — the reference's live path (websocket
    * feed -> indicators -> postgres, src/tools/websocket_demo.cpp:130-220 +
    * src/database/DatabaseLoader.cpp:187-269), which the reference delivers
    * at-least-once (no batch bookkeeping at all). Spark's JDBC writer is
    * not a two-phase-commit sink, so table-level exactly-once comes from
    * replay idempotence instead, keyed on the micro-batch id foreachBatch
    * guarantees to re-deliver with identical data after a crash:
    *
    *   1. every data row lands stamped with its `batch_id`;
    *   2. a `<table>_batchlog` table records (query_id, batch_id) only
    *      AFTER the data write completed;
    *   3. a replayed batch that IS logged is skipped whole; one that is
    *      NOT logged first deletes its own batch_id rows — wiping whatever
    *      a mid-write crash left behind — then rewrites.
    *
    * Every crash window converges to exactly one copy: before the write
    * (clean replay), mid-write (delete wipes the partial), after the write
    * but before the log row (delete wipes the complete copy, rewrite), and
    * after the log row (skip). The data table needs a `batch_id BIGINT`
    * column; the log table is created on first use. Contract: one writer
    * query per target table (the delete is scoped by batch_id alone).
    *
    * Scale shape: the bookkeeping is three single-row driver-side
    * statements per micro-batch; the data itself still fans out over
    * `numPartitions` executor connections exactly like [[writeJdbc]].
    *
    * Wire with `df.writeStream.foreachBatch(jdbcBatchWriter(...))` plus a
    * checkpoint location; JdbcSinkSpec drives a real micro-batch stream
    * and each crash window explicitly.
    */
  def jdbcBatchWriter(
      target: JdbcTarget,
      queryId: String,
      numPartitions: Int = 4,
      batchSize: Int = 10000): (DataFrame, Long) => Unit = {
    require(queryId.nonEmpty && queryId.length <= 128,
      s"queryId must be 1..128 chars, got '$queryId'")
    val logTable = target.table + "_batchlog"
    def withConn[A](f: java.sql.Connection => A): A = {
      val c = java.sql.DriverManager.getConnection(
        target.url, target.properties)
      try f(c) finally c.close()
    }
    (df: DataFrame, batchId: Long) => {
      val committed = withConn { c =>
        // first use creates the log table; Derby has no IF NOT EXISTS, so
        // an already-exists failure is expected — any REAL problem with
        // the log table resurfaces loudly on the probe right after
        try {
          val st = c.createStatement()
          try st.execute(s"""CREATE TABLE $logTable (
            query_id VARCHAR(128) NOT NULL, batch_id BIGINT NOT NULL,
            PRIMARY KEY (query_id, batch_id))""")
          finally st.close()
        } catch { case _: java.sql.SQLException => () }
        val ps = c.prepareStatement(
          s"SELECT 1 FROM $logTable WHERE query_id = ? AND batch_id = ?")
        try {
          ps.setString(1, queryId); ps.setLong(2, batchId)
          val rs = ps.executeQuery()
          try rs.next() finally rs.close()
        } finally ps.close()
      }
      if (!committed) {
        withConn { c =>
          val ps = c.prepareStatement(
            s"DELETE FROM ${target.table} WHERE batch_id = ?")
          try { ps.setLong(1, batchId); ps.executeUpdate() } finally ps.close()
        }
        df.withColumn("batch_id", lit(batchId))
          .repartition(numPartitions)
          .write
          .mode("append")
          .option("batchsize", batchSize.toString)
          .option("numPartitions", numPartitions.toString)
          .jdbc(target.url, target.table, target.properties)
        withConn { c =>
          val ps = c.prepareStatement(s"INSERT INTO $logTable VALUES (?, ?)")
          try {
            ps.setString(1, queryId); ps.setLong(2, batchId)
            ps.executeUpdate()
          } finally ps.close()
        }
      }
    }
  }
}
