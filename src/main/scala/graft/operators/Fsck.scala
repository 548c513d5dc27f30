package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Integrity audits (fsck) for every persisted artifact family — the
  * "trust but verify" operator a production pipeline runs on its 100 TB
  * index estate before promoting a maintenance window's output, after a
  * suspicious crash, or on a schedule. Each audit recomputes the
  * artifact's INVARIANTS from its own rows — derived tables re-derived
  * from base tables, hash/partition placement re-hashed, stats scalars
  * re-counted, per-row derived columns re-computed with the SAME
  * codegen'd expressions the writers used (one arithmetic, so the check
  * cannot drift from the writer) — and returns a (kind, n) VIOLATION
  * relation, empty iff the artifact is internally consistent.
  *
  * Scale shape: a full audit (no cursor) is a deliberate FULL SCAN of
  * the artifact (that is its job — unlike probes, nothing is pruned);
  * every check is a linear aggregation or an equi-join keyed by the
  * artifact's own keys (term/id/digest), so it distributes like the
  * build that wrote the artifact and costs about one build's shuffle.
  * Run it in maintenance windows, never on the query path. Every audit
  * is read-only and safe to run concurrently with probes (they read one
  * file listing, same snapshot semantics as a probe); like every reader
  * they must not overlap a WRITER's swap windows.
  *
  * The estate-family audits take an optional cursor, `sinceBatch` (the
  * last audited ingest batch id; -1 audits everything ever ingested),
  * and then run the SAME checks over what the ingest stream committed
  * since it — the nightly-affordable form at 100 TB. That scope is
  * resolved from the `ingestlog/` markers and one listing per tagged
  * table of the family's [[EstateIngest.Layout]]:
  *
  *   - per-row and per-partition checks read only the partitions
  *     holding a new batch's `b<id>_` files — partition-pruned reads,
  *     untouched partitions' files never open;
  *   - derivation checks over the new rows read the batches' tagged
  *     files;
  *   - global-uniqueness checks semi-join the table's narrow key column
  *     to the delta keys (old-vs-old collisions were audited before the
  *     cursor); stats recounts and the tombstone overlay stay whole.
  *
  * An idle cursor (no batch since it) costs one listing and runs only
  * the stranded-marker check. Tag lifetime bounds the cursor: compact,
  * requantize and split rewrite the tags away, so audit since the cursor
  * at ingest cadence BEFORE maintenance, then run the full audit once
  * after it and restart the cursor. A BM25 delta is priced by its
  * touched buckets, and a broad-vocabulary delta's terms hash-spread
  * over nearly all of them (AuditBench 100x: 10.5 s pruned vs 5.9 s
  * full), so past half the modulus the BM25 audit resolves to the full
  * scope — cheaper there AND strictly more complete. IVF cells prune
  * well (embedding batches cluster) and are never widened.
  *
  * Reference analogue: none — the reference trusts PostgreSQL's
  * constraints (`/root/reference/src/database/DatabaseLoader.cpp:102`);
  * parquet artifacts have no engine to enforce invariants, so this
  * operator IS that enforcement, run on demand.
  */
object Fsck {

  /** The one violation-row idiom of the audits and the soundness gates:
    * `cnt` emits `(kind, n)` when `df` is non-empty, `scalarViol` one
    * `(kind, 1)` row unless `ok`; both emit nothing when sound. */
  private[graft] def cnt(df: DataFrame, kind: String): DataFrame =
    df.agg(count(lit(1)).as("n")).filter(col("n") > 0)
      .select(lit(kind).as("kind"), col("n"))

  private[graft] def scalarViol(ok: Boolean, kind: String, spark: SparkSession): DataFrame =
    if (ok) spark.range(0).select(lit(kind).as("kind"), col("id").as("n"))
    else spark.range(1).select(lit(kind).as("kind"), lit(1L).as("n"))

  /** A stranded [[StableRead]] maintenance marker is an AUDITABLE
    * operational state: some delete/ingest apply crashed (or threw)
    * mid-window and its re-run has not happened yet — probes under
    * StableRead are refusing the artifact, and the partial state may
    * fail the other checks here too. Every per-artifact audit reports
    * it so the nightly fsck surfaces the pending re-run, not just its
    * symptoms.
    */
  private def markerViol(
      spark: SparkSession, path: String, prefix: String): DataFrame =
    scalarViol(!StableRead.markerPresent(spark, Seq(path)),
      s"${prefix}_stranded_maintenance_marker", spark)

  /** A standing [[graft.sinks.Sinks.deleteRows]] roll-forward intent
    * marker in a tagged table of `layout` (every table a family's delete
    * rewrites through deleteRows is one): a delete staged its survivors
    * but crashed before landing them — live reads of the table are
    * missing committed rows until the next delete (or
    * [[graft.sinks.Sinks.recoverDeleteIntent]]) rolls it forward.
    * Recoverable debris, but an audit must surface it, not read past it.
    */
  private def deleteIntentViol(spark: SparkSession, path: String,
      layout: EstateIngest.Layout, prefix: String): DataFrame = {
    val fs = new Path(path).getFileSystem(spark.sessionState.newHadoopConf())
    scalarViol(!layout.tagged.exists { case (t, _) =>
        fs.exists(new Path(s"$path/$t", graft.sinks.Sinks.DeleteIntentName)) },
      s"${prefix}_standing_delete_intent", spark)
  }

  /** Audit a [[TextAnalysis.bpeSave]] tokenizer artifact. Invariants:
    * ranks contiguous from 1 (a gap silently re-orders every later
    * merge at load time), no duplicate (pair_a, pair_b) rows (a
    * duplicate is not a valid BPE history — the pair could not win two
    * rounds), stats n_merges == table rows (a torn republish), plus
    * the stranded-marker check every per-artifact audit carries.
    * Driver-free single pass over a vocabulary-sized table.
    */
  def bpeFsck(spark: SparkSession, path: String): DataFrame =
    graft.CacheScope.scoped {
      val merges = spark.read
        .schema("round LONG, pair_a STRING, pair_b STRING, " +
          "pair_count LONG, tokens_after LONG")
        .parquet(s"$path/merges")
        .transform(graft.CacheScope.persisted)
      val n = spark.read.parquet(s"$path/stats")
        .select(col("n_merges")).collect()(0).getLong(0)
      val rankGap = cnt(
        merges.select(col("round"))
          .unionByName(merges.select(
            (row_number().over(org.apache.spark.sql.expressions.Window
              .orderBy(col("round")))).cast("long").as("round")))
          .groupBy(col("round")).agg(count(lit(1)).as("c"))
          .filter(col("c") =!= 2),
        "bpe_rank_gap")
      val dupPair = cnt(
        merges.groupBy(col("pair_a"), col("pair_b"))
          .agg(count(lit(1)).as("c")).filter(col("c") > 1),
        "bpe_duplicate_pair")
      val statsViol = scalarViol(
        merges.count() == n, "bpe_stats_nmerges", spark)
      rankGap.unionByName(dupPair).unionByName(statsViol)
        .unionByName(markerViol(spark, path, "bpe"))
        .localCheckpoint(true)
    }

  /** Committed ingest-batch ids newer than `sinceBatch`, from the
    * artifact's `ingestlog/` markers.
    */
  private def batchesSince(
      spark: SparkSession, path: String, sinceBatch: Long): Seq[Long] = {
    val log = new Path(s"$path/ingestlog")
    val fs = log.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(log)) Seq.empty
    else fs.listStatus(log).toSeq
      .map(_.getPath.getName)
      .collect { case s if s.matches("b\\d+") => s.drop(1).toLong }
      .filter(_ > sinceBatch)
      .sorted
  }

  /** The rows one audit covers (object scaladoc): the whole estate at
    * `path` when `tags` is None, else what batches `tags` landed in the
    * tagged tables of `layout`. In the full scope every operation
    * returns its input, so a full audit plans exactly its checks.
    */
  private final class Scope(spark: SparkSession, path: String,
      layout: EstateIngest.Layout, tags: Option[Seq[Long]]) {
    def full: Boolean = tags.isEmpty
    def idle: Boolean = tags.exists(_.isEmpty)

    private lazy val fs =
      new Path(path).getFileSystem(spark.sessionState.newHadoopConf())
    private val listings =
      scala.collection.mutable.Map.empty[String, (Int, Seq[(Path, Option[Long])])]

    /** One listing of tagged `table`: its number of partition dirs, and
      * the batches' tagged files, each with its partition value. */
    private def listing(table: String) = listings.getOrElseUpdate(table, {
      val prefix = layout.tagged.toMap.apply(table)
      val names = tags.get.map(t => s"b${t}_")
      def tagged(sts: Seq[org.apache.hadoop.fs.FileStatus]) =
        sts.map(_.getPath).filter(p => names.exists(p.getName.startsWith))
      val d = new Path(s"$path/$table")
      val (parts, top) =
        if (!fs.exists(d)) (Nil, Nil)
        else fs.listStatus(d).toSeq.partition(st => prefix.nonEmpty &&
          st.isDirectory && st.getPath.getName.startsWith(prefix))
      (parts.size, tagged(top).map(_ -> None) ++ parts.flatMap { dir =>
        val files = tagged(fs.listStatus(dir.getPath).toSeq)
        lazy val v = dir.getPath.getName.stripPrefix(prefix).toLong
        files.map(_ -> Some(v))
      })
    })

    private def partitionCol(table: String): String =
      layout.tagged.toMap.apply(table).stripSuffix("=")

    private def touched(table: String): Seq[Long] =
      listing(table)._2.flatMap(_._2).distinct.sorted

    /** This scope, or the full one when the batches touched at least
      * half of `table`'s partitions (the BM25 widening). */
    def widenedPastHalf(table: String): Scope =
      if (full || listing(table)._1 == 0 ||
          touched(table).size * 2 < listing(table)._1) this
      else new Scope(spark, path, layout, None)

    /** `rows` of `table` (or of a table partitioned like it), pruned to
      * the partitions holding a new batch's files. */
    def prune(rows: DataFrame, table: String): DataFrame =
      if (full) rows
      else rows.filter(col(partitionCol(table)).isin(touched(table): _*))

    /** The new batches' own rows of `table`: its tagged files, read with
      * the data columns of `rows` (the table's read), persisted. */
    def delta(rows: DataFrame, table: String): DataFrame =
      if (full) rows
      else {
        val schema = StructType(
          rows.schema.filterNot(_.name == partitionCol(table)))
        val files = listing(table)._2.map(_._1.toString)
        (if (files.isEmpty)
          spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)
        else spark.read.schema(schema).parquet(files: _*))
          .transform(graft.CacheScope.persisted)
      }

    /** The rows of `whole` whose `key` occurs in `keys`. */
    def keysIn(whole: DataFrame, keys: DataFrame, key: String): DataFrame =
      if (full) whole
      else whole.join(keys.select(col(key)), Seq(key), "left_semi")

    /** `rows` with a boolean `delta` column: whether its `key` occurs in
      * `keys` (always, in the full scope). */
    def flagged(rows: DataFrame, keys: DataFrame, key: String): DataFrame =
      if (full) rows.withColumn("delta", lit(true))
      else rows
        .join(keys.select(col(key)).withColumn("delta", lit(true)),
          Seq(key), "left")
        .withColumn("delta", coalesce(col("delta"), lit(false)))
  }

  /** One audit of the family estate at `path`: `checks` runs over the
    * scope `sinceBatch` resolves, with the stranded-marker and
    * delete-intent checks beside it — or the marker check alone on an
    * idle cursor. The violation relation is materialized INSIDE the
    * cache scope: it is tiny, but a lazy return would recompute every
    * full-scan branch per caller action after the scope released the
    * shared caches.
    */
  private def audit(spark: SparkSession, path: String,
      layout: EstateIngest.Layout, sinceBatch: Option[Long], prefix: String)(
      checks: Scope => DataFrame): DataFrame = graft.CacheScope.scoped {
    val scope = new Scope(spark, path, layout,
      sinceBatch.map(batchesSince(spark, path, _)))
    val marker = markerViol(spark, path, prefix)
    (if (scope.idle) marker
    else checks(scope).unionByName(marker)
      .unionByName(deleteIntentViol(spark, path, layout, prefix)))
      .localCheckpoint(true)
  }

  /** Audit a [[Retrieval.buildBm25Index]]-layout index. Invariants:
    * doclen ids unique; postings (id, term) unique with tf >= 1 and
    * every posted id registered in doclen; per-doc sum(tf) == dl (a
    * token is a posting, including dl = 0 <=> no postings); the terms
    * table == the df relation recomputed from postings (both
    * directions, df values exact); postings/terms rows sit in the
    * bucket their term hashes to under the stats modulus (a misplaced
    * row is invisible to every pruned probe — silent recall loss, the
    * worst failure class); stats n_docs == doclen count and
    * total_tokens == sum(dl); the tombstone overlay's ids unique and
    * registered.
    */
  def bm25Fsck(spark: SparkSession, path: String,
      sinceBatch: Option[Long] = None): DataFrame =
    audit(spark, path, Retrieval.Bm25Ingest, sinceBatch, "bm25") { cursor =>
      val scope = cursor.widenedPastHalf("postings")
      val st = spark.read.parquet(s"$path/stats")
        .select(col("n_docs"), col("total_tokens"), col("buckets"))
        .collect()(0)
      val (nDocs, totTok, buckets) = (st.getLong(0), st.getLong(1), st.getLong(2))
      // terms rows bucket by the same term hash as postings, so both
      // sides of the df recount prune to the same buckets
      val terms = scope.prune(spark.read.schema(Retrieval.termsSchema)
        .parquet(s"$path/terms"), "postings")
      val postings = scope.prune(spark.read.schema(Retrieval.postingsSchema)
        .parquet(s"$path/postings"), "postings")
        .transform(graft.CacheScope.persisted)
      val dl = spark.read.schema(Retrieval.doclenSchema)
        .parquet(s"$path/doclen")
        .transform(graft.CacheScope.persisted)
      val newDl = scope.delta(dl, "doclen")
      val newPostings = scope.delta(postings, "postings")
      val dupDoc = cnt(scope.keysIn(dl, newDl, "id").groupBy(col("id"))
        .agg(count(lit(1)).as("c")).filter(col("c") > 1), "bm25_dup_doclen_id")
      val dupPost = cnt(postings.groupBy(col("id"), col("term"))
        .agg(count(lit(1)).as("c")).filter(col("c") > 1), "bm25_dup_posting")
      val badTf = cnt(postings.filter(col("tf") < 1), "bm25_nonpositive_tf")
      val orphan = cnt(postings.select(col("id")).distinct()
        .join(dl.select(col("id")), Seq("id"), "left_anti"),
        "bm25_posting_for_unregistered_doc")
      val dlMismatch = cnt(newDl
        .join(newPostings.groupBy(col("id")).agg(sum(col("tf")).as("s")),
          Seq("id"), "left")
        .filter(coalesce(col("s"), lit(0L)) =!= col("dl")),
        "bm25_doclen_tf_mismatch")
      // terms is an append-delta table (round 19): a term's df is the
      // SUM of its rows (build/compact rows + one per append batch),
      // and probes read only the term's own hash bucket — so the audit
      // recomputes at (term, bucket) grain, the exact merge-on-read the
      // probes run. A misbucketed delta row can therefore never cancel
      // a same-term count drift in the real bucket (they would fold
      // together under a term-only sum).
      val dfRecomputed = postings.groupBy(col("term"), col("bucket"))
        .agg(count(lit(1)).as("df2")) // (id, term) unique -> count == df
      val dfMismatch = cnt(terms
        .groupBy(col("term"), col("bucket")).agg(sum(col("df")).as("df"))
        .join(dfRecomputed, Seq("term", "bucket"), "full_outer")
        .filter(coalesce(col("df"), lit(-1L)) =!= coalesce(col("df2"), lit(-1L))),
        "bm25_df_mismatch")
      val bucketOf = pmod(xxhash64(col("term")), lit(buckets))
      val misTerm = cnt(terms.filter(col("bucket") =!= bucketOf),
        "bm25_misbucketed_term")
      val misPost = cnt(postings.filter(col("bucket") =!= bucketOf),
        "bm25_misbucketed_posting")
      val nOk = scalarViol(dl.count() == nDocs, "bm25_stats_ndocs", spark)
      val tokSum = dl.agg(coalesce(sum(col("dl")), lit(0L))).collect()(0).getLong(0)
      val tokOk = scalarViol(tokSum == totTok, "bm25_stats_tokens", spark)
      // soft-delete overlay: ids unique and registered (a stray
      // tombstone is a typo'd takedown — auditable, not fatal at probe)
      val tomb = tombstoneChecks(spark,
        Tombstones.read(spark, path), dl.select(col("id")), "bm25")
      dupDoc.unionByName(dupPost).unionByName(badTf).unionByName(orphan)
        .unionByName(dlMismatch).unionByName(dfMismatch)
        .unionByName(misTerm).unionByName(misPost)
        .unionByName(nOk).unionByName(tokOk).unionByName(tomb)
    }

  /** Overlay invariants shared by the index audits: tombstone ids
    * unique, every tombstone naming a registered doc/vector.
    */
  private def tombstoneChecks(
      spark: SparkSession,
      overlay: Option[DataFrame],
      registered: DataFrame, // one (id) column
      prefix: String): DataFrame = overlay match {
    case None =>
      spark.range(0).select(lit(s"${prefix}_tombstone").as("kind"),
        col("id").as("n"))
    case Some(t) =>
      cnt(t.groupBy(col("id")).agg(count(lit(1)).as("c")).filter(col("c") > 1),
        s"${prefix}_dup_tombstone")
        .unionByName(cnt(t.join(registered, Seq("id"), "left_anti"),
          s"${prefix}_tombstone_for_unknown_doc"))
  }

  /** Audit an IVF index of any layout — [[Similarity.buildIvfIndex]]
    * (float, or int8 with `quantized`) or [[Similarity.buildIvfPqIndex]].
    * The layout is resolved where every IVF writer resolves it,
    * `Similarity.ivfCodec`: PQ when the index has codebooks, else the
    * layout `corpus/` stores, and a corpus that contradicts its
    * codebooks fails the audit loudly. Invariants: ids unique; every
    * row's cell exists in the centroid table; on the int8 layout, qvec == the row's vec
    * re-quantized and qn2 == the exact int self-dot; on the PQ layout,
    * pqcode == the row's vec re-encoded under the persisted codebooks
    * (the writers' own expressions: a drifted/corrupt code silently
    * mis-scores stage 1 forever — rerank can only choose among stage-1
    * survivors); the tombstone overlay's ids unique and registered.
    * `strictAssignment` additionally requires every row to sit in the
    * cell of its NEAREST centroid — true for build/append/ingest/merge
    * states, deliberately NOT an invariant after [[Similarity.ivfSplitCells]]
    * (split reassigns a parent's rows among its own children only; a
    * row may be globally nearer another cell — correct by the split's
    * documented contract, so audit post-split states with
    * strictAssignment = false).
    */
  def ivfFsck(
      spark: SparkSession,
      path: String,
      strictAssignment: Boolean = true,
      sinceBatch: Option[Long] = None): DataFrame =
    audit(spark, path, Similarity.IvfIngest, sinceBatch, "ivf") { scope =>
      val all = spark.read.parquet(s"$path/corpus")
      val corpus = scope.prune(all, "corpus")
        .transform(graft.CacheScope.persisted)
      // the delta keys of an IVF audit are its touched cells' ids
      val dupId = cnt(scope.keysIn(all, corpus, "id").groupBy(col("id"))
        .agg(count(lit(1)).as("c")).filter(col("c") > 1), "ivf_dup_id")
      val (cellIds, centroids) = Similarity.loadCentroidTable(spark, path)
      val alien = cnt(corpus.filter(!col("cell").isin(cellIds: _*)),
        "ivf_alien_cell")
      val assigned = cnt(
        if (!strictAssignment) spark.range(0).select(col("id"))
        else corpus.filter(col("cell") =!= Similarity.posToCell(element_at(
          graft.functions.VecExprs.nearestCentroids(
            col("vec").cast("array<double>"), centroids, 1), 1), cellIds)),
        "ivf_not_nearest_cell")
      // the stored codes re-derived by the layout's own encode: a
      // drifted/corrupt code silently mis-scores stage 1 forever
      val codec = Similarity.ivfCodec(spark, path, None, "ivfFsck")
      def recoded(layout: String, kind: String): DataFrame =
        if (codec.layout != layout) scalarViol(ok = true, kind, spark)
        else cnt(codec.encode(corpus.select(col("id") +: col("vec") +:
            codec.columns.map(c => col(c).as(s"stored_$c")): _*))
          .filter(codec.columns
            .map(c => col(c) =!= col(s"stored_$c")).reduce(_ || _)), kind)
      val quant = recoded("int8", "ivf_quantization_mismatch")
      val pq = recoded("pq", "ivf_pqcode_mismatch")
      val tomb = tombstoneChecks(spark,
        Tombstones.read(spark, path), all.select(col("id")), "ivf")
      dupId.unionByName(alien).unionByName(assigned).unionByName(quant)
        .unionByName(pq).unionByName(tomb)
    }

  /** Audit a [[DedupRegistry]]: digests == md5(text) (a corrupted
    * digest silently stops deduping its content); rows in their
    * digest-hash bucket under the stats modulus; ids unique; digests
    * unique (first-arrival keeps exactly one doc per digest — two rows
    * sharing a digest mean a dropped row leaked through); stats n_docs
    * == corpus count; the tombstone overlay's ids unique and registered.
    */
  def registryFsck(spark: SparkSession, path: String,
      sinceBatch: Option[Long] = None): DataFrame =
    audit(spark, path, DedupRegistry.RegistryIngest, sinceBatch, "reg") { scope =>
      val st = spark.read.parquet(s"$path/stats")
        .select(col("n_docs"), col("buckets")).collect()(0)
      val (nDocs, buckets) = (st.getLong(0), st.getLong(1))
      val all = spark.read
        .schema("id LONG, text STRING, digest STRING, bucket LONG")
        .parquet(s"$path/corpus")
      val corpus = scope.prune(all, "corpus")
        .transform(graft.CacheScope.persisted)
      val delta = scope.delta(all, "corpus")
      val dupId = cnt(scope.keysIn(all, delta, "id").groupBy(col("id"))
        .agg(count(lit(1)).as("c")).filter(col("c") > 1), "reg_dup_id")
      // digest uniqueness holds over the registry AS SERVED: a
      // tombstoned row stopped witnessing, so the same content
      // re-ingested while it awaits vacuum is a LEGITIMATE second row —
      // audit the overlay-filtered corpus (physical dup ids above stay
      // strict; the overlay itself is audited below)
      val overlay = Tombstones.read(spark, path)
      val served = overlay
        .map(t => all.join(broadcast(t), Seq("id"), "left_anti"))
        .getOrElse(all)
      val dupDigest = cnt(scope.keysIn(served, delta, "digest")
        .groupBy(col("digest")).agg(count(lit(1)).as("c"))
        .filter(col("c") > 1), "reg_dup_digest")
      val badDigest = cnt(corpus.filter(col("digest") =!= md5(col("text"))),
        "reg_digest_mismatch")
      val misBucket = cnt(corpus.filter(
        col("bucket") =!= pmod(xxhash64(col("digest")), lit(buckets))),
        "reg_misbucketed_row")
      val nOk = scalarViol(all.count() == nDocs, "reg_stats_ndocs", spark)
      val tomb = tombstoneChecks(spark, overlay, all.select(col("id")), "reg")
      dupId.unionByName(dupDigest).unionByName(badDigest)
        .unionByName(misBucket).unionByName(nOk).unionByName(tomb)
    }

  /** Audit a [[NearDupRegistry]]: ids unique; corpus rows in their
    * id-hash bucket; every hs == the row's text re-shingled and
    * re-hashed under the registry's OWN sketch parameters; the bands
    * table == the banding recomputed from the corpus texts, exactly
    * (both directions, pk placement included — a lost band key is
    * silent dedup-recall loss, an alien one resurrects a removed
    * witness); stats n_docs == corpus count; the SEMANTIC invariant: no
    * two registered docs verify at Jaccard >= the threshold among LSH
    * candidates (every ingest/merge enforced it, so a violating pair
    * proves a corrupted apply); the tombstone overlay's ids unique and
    * registered.
    */
  def nearDupRegistryFsck(spark: SparkSession, path: String,
      sinceBatch: Option[Long] = None): DataFrame =
    audit(spark, path, NearDupRegistry.RegistryIngest, sinceBatch, "ndreg") {
        scope =>
      val st = spark.read.parquet(s"$path/stats").collect()(0)
      val (nDocs, buckets) = (st.getAs[Long]("n_docs"), st.getAs[Long]("buckets"))
      val (shingleSize, numHashes, bands, threshold) = (
        st.getAs[Long]("shingle_size").toInt, st.getAs[Long]("num_hashes").toInt,
        st.getAs[Long]("bands").toInt, st.getAs[Double]("threshold"))
      val read = spark.read
        .schema("id LONG, text STRING, hs ARRAY<LONG>, bucket LONG")
        .parquet(s"$path/corpus")
      val all = read.withColumn("sh", Dedup.shingles(col("text"), shingleSize))
      val corpus = scope.prune(all, "corpus")
        .transform(graft.CacheScope.persisted)
      val deltaIds = scope.delta(read, "corpus").select(col("id"))
      // a delta row's band keys all sit in the partitions its batch
      // touched, and so do those of every row sharing one
      val bandRows = scope.prune(spark.read
        .schema("band INT, bkey INT, id LONG, pk LONG")
        .parquet(s"$path/bands"), "bands")
        .transform(graft.CacheScope.persisted)
      val dupId = cnt(scope.keysIn(all, deltaIds, "id").groupBy(col("id"))
        .agg(count(lit(1)).as("c")).filter(col("c") > 1), "ndreg_dup_id")
      val misBucket = cnt(corpus.filter(
        col("bucket") =!= pmod(xxhash64(col("id")), lit(buckets))),
        "ndreg_misbucketed_row")
      val badHs = cnt(corpus.filter(
        col("hs") =!= graft.functions.HashExprs.hashedSortedSet(col("sh"))),
        "ndreg_hs_mismatch")
      val expected = Dedup.bandedKeys(
          scope.keysIn(corpus, deltaIds, "id")
            .filter(size(col("sh")) > 0).select(col("id"), col("sh")),
          numHashes, bands)
        .withColumnRenamed("bucket", "bkey")
        .withColumn("pk", pmod(col("bkey"), lit(buckets)))
      val stored = scope.keysIn(bandRows, deltaIds, "id")
      val bandCols = Seq("band", "bkey", "id", "pk").map(col)
      val missingBand = cnt(expected.select(bandCols: _*)
        .join(stored, Seq("band", "bkey", "id", "pk"), "left_anti"),
        "ndreg_missing_band_key")
      val alienBand = cnt(stored
        .join(expected.select(bandCols: _*),
          Seq("band", "bkey", "id", "pk"), "left_anti"),
        "ndreg_alien_band_key")
      val nOk = scalarViol(all.count() == nDocs, "ndreg_stats_ndocs", spark)
      // semantic invariant: registered docs are pairwise non-near-dup
      // under LSH candidacy (the same candidate+verify arithmetic the
      // writers used) — over the registry AS SERVED: a tombstoned doc
      // stopped witnessing, so a near-copy legitimately accepted while
      // it awaits vacuum is not a violation (the overlay itself is
      // audited below). A pair needs one delta side: old-old pairs were
      // audited before the cursor.
      val overlay = Tombstones.read(spark, path)
      val liveBandRows = scope.flagged(overlay
        .map(t => bandRows.join(broadcast(t), Seq("id"), "left_anti"))
        .getOrElse(bandRows), deltaIds, "id")
      val cands = liveBandRows.as("a")
        .join(liveBandRows.as("b"),
          col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
            col("a.id") < col("b.id") && (col("a.delta") || col("b.delta")))
        .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
        .distinct()
      val hs = all.select(col("id"), col("hs"))
      val nearDupPair = cnt(
        NearDupRegistry.verified(cands, "id_a", "id_b", hs, hs, threshold),
        "ndreg_registered_near_dup_pair")
      val tomb = tombstoneChecks(spark, overlay, all.select(col("id")), "ndreg")
      dupId.unionByName(misBucket).unionByName(badHs)
        .unionByName(missingBand).unionByName(alienBand)
        .unionByName(nOk).unionByName(nearDupPair).unionByName(tomb)
    }

  /** CROSS-ARTIFACT audit for a curate-then-index composition
    * ([[DedupRegistry.dedupIndexStreamSink]] /
    * [[NearDupRegistry.dedupIndexStreamSink]]): the per-artifact audits
    * above check each artifact INTERNALLY; what they cannot see is
    * drift BETWEEN the two — a batch committed to the registry but
    * dropped by the index apply (or vice versa), a maintenance op run
    * on one artifact only, junk rows erased from one but not the
    * other. This audit re-derives the index from the registry's
    * committed corpus with the same expressions the sink's index apply
    * used, so any divergence surfaces as a concrete row:
    *
    *   - doc registries equal BOTH directions (a registry doc the
    *     index missed = a dropped index apply; an index doc not in the
    *     registry = a dropped registry apply or an unerased junk row);
    *   - postings == the re-tokenized (id, term, tf) relation of the
    *     registry corpus, row for row;
    *   - doclen == the re-counted token lengths;
    *   - index stats == the re-summed scalars of the derivation (full
    *     audit only: it needs the whole corpus's re-derivation; the
    *     since-cursor [[bm25Fsck]]'s recount covers index-side drift);
    *   - no stranded maintenance marker on either root.
    *
    * Both artifacts are fed by ONE sink under one batch id, so a cursor
    * (the index's `ingestlog/`) selects the same batches' `b<id>_`
    * files on both sides, and the since-cursor audit reads only those.
    * Works over either registry family (both persist (id, text) in
    * `corpus/`). Run both sides' internal audits too — this one checks
    * only the cross-artifact function. Composed states must not have
    * had SINGLE-SIDED maintenance (a registry-only delete is exactly
    * the drift this catches — by design, a takedown against a composed
    * pair must run against BOTH artifacts).
    */
  def composedFsck(
      spark: SparkSession,
      regPath: String,
      idxPath: String,
      sinceBatch: Option[Long] = None): DataFrame = graft.CacheScope.scoped {
    val tags = sinceBatch.map(batchesSince(spark, idxPath, _))
    val idx = new Scope(spark, idxPath, Retrieval.Bm25Ingest, tags)
    val markers = markerViol(spark, regPath, "composed_reg")
      .unionByName(markerViol(spark, idxPath, "composed_idx"))
    (if (idx.idle) markers
    else {
      val regFs = new Path(regPath)
        .getFileSystem(spark.sessionState.newHadoopConf())
      val reg = new Scope(spark, regPath,
        if (regFs.exists(new Path(s"$regPath/bands")))
          NearDupRegistry.RegistryIngest
        else DedupRegistry.RegistryIngest, tags)
      val acc = reg.delta(spark.read.schema("id LONG, text STRING")
        .parquet(s"$regPath/corpus")
        .transform(graft.CacheScope.persisted), "corpus")
      val doclen = idx.delta(spark.read.schema(Retrieval.doclenSchema)
        .parquet(s"$idxPath/doclen")
        .transform(graft.CacheScope.persisted), "doclen")
      val postings = idx.delta(spark.read.schema(Retrieval.postingsSchema)
        .parquet(s"$idxPath/postings"), "postings")
      val missingFromIdx = cnt(acc.select(col("id"))
        .join(doclen.select(col("id")), Seq("id"), "left_anti"),
        "composed_registry_doc_missing_from_index")
      val alienInIdx = cnt(doclen.select(col("id"))
        .join(acc.select(col("id")), Seq("id"), "left_anti"),
        "composed_index_doc_not_in_registry")
      val expectedTf = acc
        .select(col("id"),
          explode(TextAnalysis.tokens(col("text"))).as("term"))
        .groupBy(col("id"), col("term")).agg(count(lit(1)).as("etf"))
        .transform(graft.CacheScope.persisted)
      val postingsViol = cnt(postings
        .join(expectedTf, Seq("id", "term"), "full_outer")
        .filter(coalesce(col("tf"), lit(-1L)) =!= coalesce(col("etf"), lit(-1L))),
        "composed_postings_derivation_mismatch")
      val expectedDl = acc.select(col("id"),
        size(TextAnalysis.tokens(col("text"))).cast("long").as("edl"))
      val doclenViol = cnt(doclen
        .join(expectedDl, Seq("id"), "full_outer")
        .filter(coalesce(col("dl"), lit(-1L)) =!= coalesce(col("edl"), lit(-1L))),
        "composed_doclen_derivation_mismatch")
      val checks = missingFromIdx.unionByName(alienInIdx)
        .unionByName(postingsViol).unionByName(doclenViol)
      (if (!idx.full) checks
      else {
        val ist = spark.read.parquet(s"$idxPath/stats").collect()(0)
        val expTok = expectedTf.agg(coalesce(sum(col("etf")), lit(0L)))
          .collect()(0).getLong(0)
        checks.unionByName(scalarViol(
          ist.getAs[Long]("n_docs") == acc.count() &&
            ist.getAs[Long]("total_tokens") == expTok,
          "composed_index_stats_mismatch", spark))
      }).unionByName(markers)
    }).localCheckpoint(true)
  }

  /** Audit the COMMIT-PROTOCOL estate itself (round 18) — the metadata
    * the per-artifact audits above trust: the manifest, the committed
    * snapshot and its append-delta shard chains, every pinned file's
    * physical resolvability, and the protocol's transient surfaces
    * (generation claims, table writer locks, maintenance markers,
    * delete-intent markers). Violations (kind, n):
    *
    *   - `estate_no_manifest` — not a committed estate root (legacy or
    *     a typo'd path); nothing else is auditable.
    *   - `estate_manifest_torn` — manifest present but unterminated or
    *     unparseable (only reachable mid-commit or by damage; readers
    *     already reject it).
    *   - `estate_snapshot_unreadable` — the head generation's snapshot
    *     index or one of its shard CHAINS fails to resolve: pinned
    *     reads of the head fall back or fail, and a GC that deleted a
    *     chain base some retained index still references lands here.
    *   - `estate_missing_pinned_file` — a file the head snapshot lists
    *     exists neither live, nor in its version's retired dir, nor in
    *     an ingest-swap bak: the worst corruption class (a pinned read
    *     of the CURRENT committed state would fail). Count = files.
    *   - `estate_stale_claim` / `estate_stale_lock` — a generation
    *     claim / table writer lock older than its lease: a writer
    *     process died holding it (the next writer steals it, but the
    *     audit surfaces the death).
    *   - `estate_stranded_marker`, `estate_standing_delete_intent` —
    *     the per-artifact audits' checks, repeated here so ONE call
    *     audits the whole protocol surface.
    *
    * Cost: O(snapshot files) existence checks plus a handful of
    * directory listings — maintenance-window priced, like every full
    * fsck; the resolution walk IS the audit.
    */
  def estateFsck(spark: SparkSession, root: String): DataFrame = {
    import spark.implicits._
    val rootP = new org.apache.hadoop.fs.Path(root)
    val fs = rootP.getFileSystem(spark.sessionState.newHadoopConf())
    val out = scala.collection.mutable.ListBuffer.empty[(String, Long)]
    val now = System.currentTimeMillis()
    val mPath = new org.apache.hadoop.fs.Path(root, StableRead.ManifestName)
    if (!fs.exists(mPath)) out += (("estate_no_manifest", 1L))
    else {
      val gen = StableRead.manifestGeneration(spark, root)
      if (gen.isEmpty) out += (("estate_manifest_torn", 1L))
      else StableRead.readSnapshot(spark, root) match {
        case None => out += (("estate_snapshot_unreadable", 1L))
        case Some(snap) =>
          var missing = 0L
          snap.tables.foreach { case (t, ts) =>
            if (ts.files.nonEmpty) {
              val retired = StableRead.retiredDirOf(root, t, ts.lastRewriteGen)
              // swap-bak siblings resolve pinned reads mid-ingest; the
              // audit honors the same resolution order
              val baks = fs.listStatus(rootP).toSeq
                .filter(st => st.isDirectory &&
                  st.getPath.getName.startsWith(s"${t}_") &&
                  st.getPath.getName.endsWith("_bak"))
                .map(_.getPath)
              ts.files.foreach { f =>
                val found =
                  fs.exists(new org.apache.hadoop.fs.Path(s"$root/$t/$f")) ||
                    fs.exists(new org.apache.hadoop.fs.Path(retired, f)) ||
                    baks.exists(b => fs.exists(
                      new org.apache.hadoop.fs.Path(b, f)))
                if (!found) missing += 1
              }
            }
          }
          if (missing > 0) out += (("estate_missing_pinned_file", missing))
      }
      val snapDir = new org.apache.hadoop.fs.Path(
        root, StableRead.SnapshotsDirName)
      if (fs.exists(snapDir)) {
        val staleClaims = fs.listStatus(snapDir)
          .count(st => st.getPath.getName.endsWith(".claim") &&
            now - st.getModificationTime >= StableRead.claimLeaseMs)
        if (staleClaims > 0)
          out += (("estate_stale_claim", staleClaims.toLong))
      }
      val lockDir = new org.apache.hadoop.fs.Path(s"$root/_locks")
      if (fs.exists(lockDir)) {
        val staleLocks = fs.listStatus(lockDir)
          .count(st => st.getPath.getName.endsWith(".lock") &&
            now - st.getModificationTime >= StableRead.tableLockLeaseMs)
        if (staleLocks > 0)
          out += (("estate_stale_lock", staleLocks.toLong))
      }
      if (StableRead.markerPresent(spark, Seq(root)))
        out += (("estate_stranded_marker", 1L))
      val intents = fs.listStatus(rootP)
        .count(st => st.isDirectory &&
          !StableRead.isTransientName(st.getPath.getName) &&
          fs.exists(new org.apache.hadoop.fs.Path(
            st.getPath, graft.sinks.Sinks.DeleteIntentName)))
      if (intents > 0)
        out += (("estate_standing_delete_intent", intents.toLong))
    }
    out.toSeq.toDF("kind", "n").localCheckpoint(true)
  }
}
