package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** A persisted NEAR-duplicate registry with exactly-once streaming
  * dedup — [[DedupRegistry]]'s fuzzy sibling, and the hard half of
  * ingestion-time curation: a crawl's near-copies (boilerplate
  * re-wraps, trailing-junk variants, template clones) hash to different
  * digests, so the exact registry passes them all. This registry keeps,
  * for every ACCEPTED document, its MinHash band keys (the LSH
  * candidate structure, [[Dedup.minhashNearDuplicates]]'s banding) and
  * its hashed shingle set (the exact-verification structure), both at
  * rest; an arriving batch is dropped per-row iff an LSH candidate pair
  * VERIFIES at Jaccard ≥ threshold against an already-registered doc or
  * a smaller-id row of the same batch.
  *
  * Semantics (deterministic, documented — near-dup is not transitive,
  * so the policy matters): a row drops iff some CANDIDATE partner
  * (sharing at least one band key) verifies ≥ threshold, where partners
  * are (a) registered docs — accepted members of strictly earlier
  * batches — and (b) same-batch rows with a SMALLER id, whether or not
  * those rows themselves survive. Conservative streaming dedup: a
  * dropped row's content is NOT registered, so a later doc similar only
  * to dropped rows is accepted (use the batch operators'
  * [[Dedup.connectedComponents]] clustering when global survivorship is
  * the requirement; this is the single-pass ingest contract).
  * Rows with an EMPTY shingle set (fewer tokens than the shingle size)
  * carry no similarity evidence and are always accepted — route them
  * through the exact [[DedupRegistry]], which is the right tool for
  * tiny texts. Completeness: only LSH-candidate pairs are ever
  * verified, so recall below Jaccard 1.0 is the banding curve's; for
  * IDENTICAL shingle sets every band agrees, so exact near-copies are
  * dropped with certainty (the q170 gate's planted-copy check).
  *
  * Layout at `path/` (the [[EstateIngest]] ingest protocol with TWO
  * tagged tables):
  *   - `corpus/bucket=<b>/` — (id, text, hs), b = pmod(xxhash64(id),
  *     buckets): the verification fetch prunes to the candidate ids'
  *     buckets and reads (id, hs) only.
  *   - `bands/pk=<k>/` — (band, bkey, id), k = pmod(bkey, buckets):
  *     the candidate join prunes to the batch's key partitions and a
  *     map-side Bloom over the batch's (band, bkey) hashes drops
  *     non-candidate registry keys before the exchange — what moves is
  *     ≈ batch-sized at any registry scale.
  *   - `stats` — (n_docs, n_dropped, buckets, shingle_size, num_hashes,
  *     bands, threshold): the SKETCH PARAMETERS are part of the
  *     registry's identity — every batch must band identically — so
  *     they are fixed at [[init]] and read back, never trusted to a
  *     caller.
  *   - `ingestlog/b<id>` — commit markers (same retention note as the
  *     exact registry).
  *
  * Same contract as every stream sink: ONE writer, ONE checkpoint
  * lineage, null text fails loudly, maintenance never concurrent with
  * ingest. Soft-delete overlay ([[Tombstones]], round 13): a takedown
  * adds doomed ids to `path/tombstones` and the doc stops WITNESSING
  * instantly — its band keys stay physically until [[delete]] rewrites
  * them but produce no candidates for [[ingestBatch]]/[[probe]];
  * [[merge]] carries overlay unions (tombstoned rows neither witness
  * nor get resolved — carried verbatim, pending their delete);
  * [[vacuum]] applies the whole overlay; [[Fsck.nearDupRegistryFsck]]
  * audits the pairwise invariant over the registry AS SERVED.
  * Reference analogue: none (see [[DedupRegistry]]); the
  * sketch side follows Broder's MinHash and the banded-LSH construction
  * as in Mining of Massive Datasets.
  */
object NearDupRegistry {

  private val corpusSchema = "id LONG, text STRING, hs ARRAY<LONG>, bucket LONG"
  private val bandsSchema = "band INT, bkey INT, id LONG, pk LONG"

  /** Create an empty registry; refuses a pre-existing one. */
  def init(
      spark: SparkSession,
      path: String,
      buckets: Int = 64,
      shingleSize: Int = 3,
      numHashes: Int = 64,
      bands: Int = 16,
      threshold: Double = 0.5): Unit = {
    require(buckets > 0, s"NearDupRegistry.init: buckets must be > 0")
    require(numHashes % bands == 0,
      s"NearDupRegistry.init: numHashes must divide into bands")
    require(threshold > 0 && threshold <= 1,
      s"NearDupRegistry.init: threshold must be in (0, 1], got $threshold")
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val stats = new org.apache.hadoop.fs.Path(s"$path/stats")
    require(!fs.exists(stats),
      s"NearDupRegistry.init: a registry already exists at $path")
    StableRead.withMaintenanceMarker(spark, path) {
      spark.range(1)
        .select(lit(0L).as("n_docs"), lit(0L).as("n_dropped"),
          lit(buckets.toLong).as("buckets"),
          lit(shingleSize.toLong).as("shingle_size"),
          lit(numHashes.toLong).as("num_hashes"),
          lit(bands.toLong).as("bands"),
          lit(threshold).as("threshold"))
        .coalesce(1).write.parquet(stats.toString)
      Seq("corpus", "bands").foreach(t =>
        fs.mkdirs(new org.apache.hadoop.fs.Path(s"$path/$t")))
    }
  }

  private case class Params(
      nDocs: Long, nDropped: Long, buckets: Long,
      shingleSize: Int, numHashes: Int, bands: Int, threshold: Double)

  private def readParams(spark: SparkSession, path: String): Params = {
    // pin-aware (verbatim live read outside a pinned scope)
    val r = StableRead.readTable(spark, path, "stats").collect()(0)
    Params(r.getAs[Long]("n_docs"), r.getAs[Long]("n_dropped"),
      r.getAs[Long]("buckets"), r.getAs[Long]("shingle_size").toInt,
      r.getAs[Long]("num_hashes").toInt, r.getAs[Long]("bands").toInt,
      r.getAs[Double]("threshold"))
  }

  /** Exact hashed-set Jaccard verification of candidate (idA, idB)
    * pairs: ONE arithmetic for the within-batch, vs-registry, and probe
    * paths (the drift-free-shared-body discipline). `hsA`/`hsB` are
    * (id, hs) frames keyed by the candidate columns' names.
    */
  private[graft] def verified(
      cands: DataFrame, idA: String, idB: String,
      hsA: DataFrame, hsB: DataFrame, threshold: Double): DataFrame = {
    val inter = graft.functions.HashExprs.sortedIntersectSize(
      col("hs_a"), col("hs_b"))
    cands
      .join(hsA.select(col("id").as(idA), col("hs").as("hs_a")), idA)
      .join(hsB.select(col("id").as(idB), col("hs").as("hs_b")), idB)
      .withColumn("inter", inter)
      .filter(col("inter").cast("double") /
        (size(col("hs_a")) + size(col("hs_b")) - col("inter")) >= threshold)
      .select(col(idA), col(idB))
  }

  /** The registry's candidate partners for a batch's band keys —
    * pk-pruned, Bloom-prefiltered map-side (object scaladoc). `keys`
    * must be persisted; returns (band, bkey, reg_id) or an empty frame
    * when the registry holds no sketches.
    */
  private def registryCandidateKeys(
      spark: SparkSession,
      path: String,
      keys: DataFrame,
      nKeys: Long,
      buckets: Long): DataFrame = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val bandsPath = new org.apache.hadoop.fs.Path(s"$path/bands")
    val hasData = StableRead.pinnedSnapshotFor(path) match {
      case Some(snap) => snap.tables.get("bands").exists(_.files.nonEmpty)
      case None => fs.exists(bandsPath) && fs.listStatus(bandsPath)
        .exists(st => st.isDirectory && st.getPath.getName.startsWith("pk="))
    }
    if (!hasData)
      // attribute-derived columns (not lits): constant join keys would
      // fold the equi-join away and plan a BNL (the DedupRegistry lesson)
      return spark.range(0).select(
        col("id").cast("int").as("band"), col("id").cast("int").as("bkey"),
        col("id").as("reg_id"))
    val batchPks = keys.select(pmod(col("bkey"), lit(buckets)).as("pk"))
      .distinct().collect().map(_.getLong(0)).toSeq // ≤ the modulus
    val bloom = keys.stat.bloomFilter(
      xxhash64(col("band"), col("bkey")), math.max(nKeys, 1L), 0.001)
    val cands = StableRead.readTable(spark, path, "bands",
        Some(org.apache.spark.sql.types.StructType.fromDDL(bandsSchema)))
      .filter(col("pk").isin(batchPks: _*))
      .filter(graft.functions.BloomExprs.bloomMightContain(
        xxhash64(col("band"), col("bkey")), bloom))
    // soft-deleted docs stop WITNESSING instantly (the Tombstones
    // takedown semantics carried to the LSH registry): a tombstoned
    // row's band keys stay physically until the delete rewrites them
    // but produce no candidates — broadcast anti-join on the (small,
    // by contract) overlay; absent overlay = zero overhead; never
    // cached (the overlay mutates in place — the TombstoneSpec lesson)
    Tombstones.read(spark, path)
      .map(t => cands.join(broadcast(t), Seq("id"), "left_anti"))
      .getOrElse(cands)
      .select(col("band"), col("bkey"), col("id").as("reg_id"))
  }

  /** The registered (reg_id, hs) rows for a candidate set — corpus read
    * pruned to the candidates' id-hash buckets, (id, hs) columns only.
    */
  private def registryHs(
      spark: SparkSession,
      path: String,
      cands: DataFrame,
      buckets: Long): DataFrame = {
    val idBuckets = cands
      .select(pmod(xxhash64(col("reg_id")), lit(buckets)).as("b"))
      .distinct().collect().map(_.getLong(0)).toSeq // ≤ the modulus
    StableRead.readTable(spark, path, "corpus",
        Some(org.apache.spark.sql.types.StructType.fromDDL(corpusSchema)))
      .filter(col("bucket").isin(idBuckets: _*))
      .select(col("id"), col("hs"))
  }

  /** Batch membership probe: `docs` with `is_new` = false iff a
    * registered document verifies at Jaccard ≥ the registry's threshold
    * (read-only; within-batch similarity is [[ingestBatch]]'s business,
    * and empty-shingle rows always flag new — object scaladoc).
    */
  def probe(
      spark: SparkSession,
      path: String,
      docs: DataFrame,
      idCol: String,
      textCol: String): DataFrame = graft.CacheScope.scoped {
    val p = readParams(spark, path)
    val prepped = docs
      .withColumn("__sh", when(col(textCol).isNull,
          raise_error(lit(s"NearDupRegistry.probe: null $textCol row")))
        .otherwise(Dedup.shingles(col(textCol), p.shingleSize)))
      .withColumn("__hs", graft.functions.HashExprs.hashedSortedSet(col("__sh")))
      .transform(graft.CacheScope.persisted)
    val keys = Dedup.bandedKeys(
        prepped.filter(size(col("__sh")) > 0)
          .select(col(idCol).as("id"), col("__sh").as("sh")),
        p.numHashes, p.bands)
      .withColumnRenamed("bucket", "bkey")
      .transform(graft.CacheScope.persisted)
    val nKeys = keys.count()
    val cands = keys
      .join(registryCandidateKeys(spark, path, keys, nKeys, p.buckets),
        Seq("band", "bkey"))
      .select(col("id").as("new_id"), col("reg_id"))
      .distinct()
      .transform(graft.CacheScope.persisted)
    val hit = verified(cands, "new_id", "reg_id",
        prepped.select(col(idCol).as("id"), col("__hs").as("hs")),
        registryHs(spark, path, cands, p.buckets), p.threshold)
      .select(col("new_id")).distinct()
      .withColumn("__hit", lit(true))
    docs
      .join(hit.withColumnRenamed("new_id", idCol), Seq(idCol), "left")
      .withColumn("is_new", col("__hit").isNull)
      .drop("__hit")
  }

  /** Wire into `writeStream.foreachBatch(streamSink(path, id, text))` —
    * see [[ingestBatch]] and the object scaladoc; gated by q170.
    */
  def streamSink(
      path: String,
      idCol: String,
      textCol: String): (DataFrame, Long) => Unit =
    (batch: DataFrame, batchId: Long) =>
      ingestBatch(path, batch, idCol, textCol, batchId)

  /** The registry's ingest tables: accepted rows land as tagged corpus
    * and bands parts, stats swaps.
    */
  private val RegistryIngest = EstateIngest.Layout("NearDupRegistry.ingestBatch",
    tagged = Seq("corpus" -> "bucket=", "bands" -> "pk="), swapped = Seq("stats"))

  /** One recoverable, idempotent micro-batch apply ([[EstateIngest]]). */
  def ingestBatch(
      path: String,
      docs: DataFrame,
      idCol: String,
      textCol: String,
      batchId: Long): Unit =
    RegistryIngest.ingest(docs.sparkSession, path, batchId) { b =>
      val spark = docs.sparkSession
      val p = readParams(spark, path)
      val obs = org.apache.spark.sql.Observation()
      val prepped = docs
        .observe(obs, count(lit(1)).as("n"))
        .select(
          col(idCol).as("id"),
          when(col(textCol).isNull,
            raise_error(lit(s"NearDupRegistry.ingestBatch: null $textCol row")))
            .otherwise(col(textCol)).as("text"))
        .withColumn("sh", Dedup.shingles(col("text"), p.shingleSize))
        .withColumn("hs", graft.functions.HashExprs.hashedSortedSet(col("sh")))
        .transform(graft.CacheScope.persisted)
      prepped.count() // materialize: fires the raw-row observation
      val batchN = EstateIngest.observedOrEmpty(obs).get("n")
        .map(_.asInstanceOf[Long]).getOrElse(0L)
      if (batchN == 0L) false // an empty trigger: committed as a no-op
      else {
        val keys = Dedup.bandedKeys(
            prepped.filter(size(col("sh")) > 0).select(col("id"), col("sh")),
            p.numHashes, p.bands)
          .withColumnRenamed("bucket", "bkey")
          .transform(graft.CacheScope.persisted)
        val nKeys = keys.count()
        val batchHs = prepped.select(col("id"), col("hs"))
        // within-batch: a row drops against ANY smaller-id candidate
        val selfCands = keys.as("a")
          .join(keys.as("b"),
            col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
              col("a.id") < col("b.id"))
          .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
          .distinct()
        val selfDrops = verified(
            selfCands, "id_a", "id_b", batchHs, batchHs, p.threshold)
          .select(col("id_b").as("id")).distinct()
        // vs the registered corpus
        val regCands = keys
          .join(registryCandidateKeys(spark, path, keys, nKeys, p.buckets),
            Seq("band", "bkey"))
          .select(col("id").as("new_id"), col("reg_id"))
          .distinct()
          .transform(graft.CacheScope.persisted)
        val regDrops = verified(regCands, "new_id", "reg_id",
            batchHs, registryHs(spark, path, regCands, p.buckets), p.threshold)
          .select(col("new_id").as("id")).distinct()
        val accepted = prepped
          .join(selfDrops.unionByName(regDrops).distinct(), Seq("id"), "left_anti")
          .transform(graft.CacheScope.persisted)
        // ---- stage ----
        val accObs = org.apache.spark.sql.Observation()
        accepted
          .observe(accObs, count(lit(1)).as("n"))
          .select(col("id"), col("text"), col("hs"),
            pmod(xxhash64(col("id")), lit(p.buckets)).as("bucket"))
          .repartition(col("bucket"))
          .write.mode("overwrite").partitionBy("bucket")
          .parquet(b.staged("corpus"))
        val nAccepted = EstateIngest.observedOrEmpty(accObs).get("n")
          .map(_.asInstanceOf[Long]).getOrElse(0L)
        // bands + stats stage concurrently: both read only the now-cached
        // accepted/keys frames and in-hand scalars (the corpus write ran
        // first ALONE — it materializes the persist; concurrent first
        // actions would race to compute the dedup twice)
        graft.operators.Retrieval.concurrently(
          () => keys.join(accepted.select(col("id")), Seq("id"))
            .select(col("band"), col("bkey"), col("id"),
              pmod(col("bkey"), lit(p.buckets)).as("pk"))
            .repartition(col("pk"))
            .write.mode("overwrite").partitionBy("pk")
            .parquet(b.staged("bands")),
          () => spark.range(1)
            .select(
              lit(p.nDocs + nAccepted).as("n_docs"),
              lit(p.nDropped + (batchN - nAccepted)).as("n_dropped"),
              lit(p.buckets).as("buckets"),
              lit(p.shingleSize.toLong).as("shingle_size"),
              lit(p.numHashes.toLong).as("num_hashes"),
              lit(p.bands.toLong).as("bands"),
              lit(p.threshold).as("threshold"))
            .coalesce(1).write.parquet(b.next("stats")))
        true
      }
    }

  /** The rows batch `batchId` COMMITTED into the registry — read back
    * from its `b<id>_`-tagged corpus part files, the
    * [[DedupRegistry.batchRows]] exactly-once handoff contract verbatim:
    * a committed batch's accepted slice is a deterministic artifact any
    * downstream apply can re-derive on re-delivery. Valid until
    * [[compact]] collapses the tagged generations.
    */
  def batchRows(
      spark: SparkSession,
      path: String,
      batchId: Long): DataFrame = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val corpus = new org.apache.hadoop.fs.Path(s"$path/corpus")
    val tag = s"b${batchId}_"
    val files =
      if (!fs.exists(corpus)) Seq.empty[String]
      else fs.listStatus(corpus).toSeq
        .filter(st => st.isDirectory && st.getPath.getName.startsWith("bucket="))
        .flatMap(d => fs.listStatus(d.getPath).toSeq)
        .filter(_.getPath.getName.startsWith(tag))
        .map(_.getPath.toString)
    if (files.isEmpty)
      spark.range(0).select(col("id"), col("id").cast("string").as("text"))
    else
      spark.read.schema("id LONG, text STRING, hs ARRAY<LONG>")
        .parquet(files: _*)
        .select(col("id"), col("text"))
  }

  /** Exactly-once CURATE-THEN-INDEX with FUZZY dedup — the full
    * production ingest pipeline: each micro-batch is near-dup-deduped
    * against this registry ([[ingestBatch]]) and ONLY the accepted
    * slice (read back from the committed tagged parts, [[batchRows]])
    * lands in a persisted BM25 index, exactly-once across both
    * artifacts under one batch id. The composition-soundness argument
    * is [[DedupRegistry.dedupIndexStreamSink]]'s verbatim: each apply
    * is individually idempotent and the second's input is a
    * deterministic function of the first's COMMITTED state, so every
    * crash re-delivery converges. Same contract: both artifacts fed by
    * THIS sink only, ONE checkpoint lineage, no [[compact]] between a
    * batch's two commits. The q176 gate replays a near-dup-bearing
    * phased stream with crash states on BOTH artifacts and pins the
    * final index's postings/doclen/stats ROW-FOR-ROW against a
    * re-derivation from the registry's own corpus, plus the q170
    * registry-soundness relation.
    */
  def dedupIndexStreamSink(
      regPath: String,
      indexPath: String,
      idCol: String,
      textCol: String,
      compositeRoot: Option[String] = None): (DataFrame, Long) => Unit =
    (batch: DataFrame, batchId: Long) => {
      ingestBatch(regPath, batch, idCol, textCol, batchId)
      val accepted = batchRows(batch.sparkSession, regPath, batchId)
      graft.operators.Retrieval.bm25IngestBatch(
        indexPath,
        accepted.select(col("id").as(idCol), col("text").as(textCol)),
        idCol, textCol, batchId)
      // cross-artifact cut, recorded after both children committed
      // (see DedupRegistry.dedupIndexStreamSink for the semantics)
      compositeRoot.foreach(p => StableRead.commitComposite(
        batch.sparkSession, p, Seq(regPath, indexPath)))
    }

  /** Merge N near-dup registries into a new registry at `dest` — the
    * distributed bootstrap for the LSH registry: shard registries build
    * in parallel over corpus slices (each a one-batch [[ingestBatch]]),
    * then merge with CROSS-SHARD near-dup resolution computed entirely
    * from the sketches at rest — no text is re-shingled and no
    * signature re-hashed; the bands tables ARE the candidate structure
    * and the hs columns ARE the verification structure.
    *
    * Semantics (deterministic, the conservative registered-witness
    * policy): a shard-registered row drops iff a SMALLER-ID
    * shard-registered row (any shard, its own included — same-shard
    * survivor pairs never verify, by the shards' own construction)
    * verifies at Jaccard ≥ the shared threshold among its LSH
    * candidates. Near-dup is NOT transitive, so unlike
    * [[DedupRegistry.merge]] this can differ from a one-batch build:
    * a row a one-batch build would drop via a partner that was itself
    * dropped INSIDE a shard survives the merge (the dropped partner's
    * sketch is gone — exactly the streaming contract, where dropped
    * rows never witness). [[MergeSpec]] pins equality on chain-free
    * corpora and certainty for identical texts (same sketches collide
    * in every band, so exact copies always resolve).
    *
    * Sketch parameters are part of the registry identity — all shards
    * must agree exactly (else the band keys are incomparable); a
    * mismatch aborts, as does an existing `dest`. Stats conserve the
    * raw stream: n_docs = survivors, n_dropped = Σ_shards (n_docs +
    * n_dropped) − survivors — which assumes PRISTINE built-to-merge
    * shards ([[DedupRegistry.merge]]'s note: [[delete]] decrements
    * n_docs but not n_dropped, so a post-takedown shard inflates the
    * merged n_dropped; build-then-merge-then-maintain, never merge
    * after maintenance). Scale shape: the candidate join is a
    * self-join of the unioned bands tables — O(corpus × bands) rows of
    * (int, int, long), the q24 banded-LSH exchange shape, never text
    * or signatures; verification joins (id, hs) by candidate id only.
    * Single-writer: merge only quiesced shards.
    */
  def merge(
      spark: SparkSession,
      paths: Seq[String],
      dest: String): Unit = graft.CacheScope.scoped {
    require(paths.size >= 2,
      s"NearDupRegistry.merge: need >= 2 shards, got ${paths.size}")
    val fs = new org.apache.hadoop.fs.Path(dest)
      .getFileSystem(spark.sessionState.newHadoopConf())
    require(!fs.exists(new org.apache.hadoop.fs.Path(s"$dest/stats")),
      s"NearDupRegistry.merge: a registry already exists at $dest")
    // the DedupRegistry.merge manifest guard: a committed estate whose
    // stats table is gone must still refuse in-place merge landings
    require(!StableRead.manifestManaged(fs,
        new org.apache.hadoop.fs.Path(dest)),
      s"NearDupRegistry.merge: $dest carries a commit manifest — merging " +
        "in place into a committed estate would delete snapshot-pinned " +
        "files; merge into a fresh dest")
    paths.foreach(
      DedupRegistry.requirePristine(spark, _, "NearDupRegistry.merge"))
    // reader-isolation bracket + manifest commit ([[StableRead]]) on
    // the destination (sources are read-only here)
    StableRead.withMaintenanceMarker(spark, dest) {
    val params = paths.map(p => readParams(spark, p))
    val first = params.head
    paths.zip(params).foreach { case (p, q) =>
      require((q.buckets, q.shingleSize, q.numHashes, q.bands, q.threshold) ==
          (first.buckets, first.shingleSize, first.numHashes, first.bands,
            first.threshold),
        s"NearDupRegistry.merge: sketch parameters differ (${paths.head} " +
          s"vs $p) — band keys from different sketch configurations are " +
          "incomparable; rebuild the shards from one init configuration") }
    val corpus = paths
      .map(p => spark.read.schema(corpusSchema).parquet(s"$p/corpus")
        .select(col("id"), col("text"), col("hs")))
      .reduce(_.unionByName(_))
      .transform(graft.CacheScope.persisted)
    val bands = paths
      .map(p => spark.read.schema(bandsSchema).parquet(s"$p/bands")
        .select(col("band"), col("bkey"), col("id")))
      .reduce(_.unionByName(_))
      .transform(graft.CacheScope.persisted)
    // soft-deleted shard docs neither witness nor get resolved (they
    // are pending deletion — carried physically with the overlay union
    // below, invisible to the candidate structure, exactly as at
    // ingest/probe time)
    val pooledOverlay = paths.flatMap(p => Tombstones.read(spark, p))
      .reduceOption(_.unionByName(_)).map(t => broadcast(t.distinct()))
    val liveBands = pooledOverlay
      .map(t => bands.join(t, Seq("id"), "left_anti"))
      .getOrElse(bands)
    // cross-shard candidates from the at-rest band keys: global
    // smaller-id policy (same-shard survivor pairs are no-ops — they
    // already failed verification inside their shard)
    val cands = liveBands.as("a")
      .join(liveBands.as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    val hs = corpus.select(col("id"), col("hs"))
    val dropped = verified(cands, "id_a", "id_b", hs, hs, first.threshold)
      .select(col("id_b").as("id")).distinct()
    val survivors = corpus.join(dropped, Seq("id"), "left_anti")
      .transform(graft.CacheScope.persisted)
    val obs = org.apache.spark.sql.Observation()
    survivors
      .observe(obs, count(lit(1)).as("n"))
      .withColumn("bucket", pmod(xxhash64(col("id")), lit(first.buckets)))
      .repartition(col("bucket"))
      .write.mode("overwrite").partitionBy("bucket").parquet(s"$dest/corpus")
    val nDocs = EstateIngest.observedOrEmpty(obs).get("n")
      .map(_.asInstanceOf[Long]).getOrElse(0L)
    bands.join(survivors.select(col("id")), Seq("id"))
      .select(col("band"), col("bkey"), col("id"),
        pmod(col("bkey"), lit(first.buckets)).as("pk"))
      .repartition(col("pk"))
      .write.mode("overwrite").partitionBy("pk").parquet(s"$dest/bands")
    // overlays travel with the merge (a merge that dropped them would
    // resurrect tombstoned witnesses — the bm25Merge contract) and land
    // BEFORE stats: stats existence is the re-run refusal marker, so a
    // crash between a stats-first write and the overlay copy would both
    // resurrect tombstoned witnesses and refuse the re-run
    // ([[DedupRegistry.merge]]'s ordering note).
    graft.operators.Retrieval.mergeOverlays(spark, paths, dest)
    val rawTotal = params.map(p => p.nDocs + p.nDropped).sum
    spark.range(1)
      .select(lit(nDocs).as("n_docs"),
        lit(rawTotal - nDocs).as("n_dropped"),
        lit(first.buckets).as("buckets"),
        lit(first.shingleSize.toLong).as("shingle_size"),
        lit(first.numHashes.toLong).as("num_hashes"),
        lit(first.bands.toLong).as("bands"),
        lit(first.threshold).as("threshold"))
      .coalesce(1).write.parquet(s"$dest/stats")
    }
  }

  /** Physically apply the registry's entire soft-delete overlay in one
    * [[delete]] (which also clears it) — the registry twin of
    * [[Retrieval.bm25Vacuum]]. Returns rows removed (0 = no overlay).
    */
  def vacuum(spark: SparkSession, path: String,
      gcKeepGenerations: Option[Int] = None): Long = {
    val n = Tombstones.read(spark, path)
      .map(t => delete(spark, path, t, "id"))
      .getOrElse(0L)
    // retention cadence: the vacuum window doubles as the GC window
    gcKeepGenerations.foreach(k => StableRead.gc(spark, path, k))
    n
  }

  /** Predict a takedown batch's [[delete]] footprint BEFORE executing
    * it — [[DedupRegistry.deleteBatchPlan]] extended to this family's
    * TWO rewritten tables: the delete prunes corpus bucket partitions
    * AND bands pk partitions, so the plan reports both footprints and
    * `affected_fraction` is the BINDING one (the greater — the flush
    * rewrites the union of both partition sets). Derived from the same
    * key joins [[delete]] rewrites from.
    */
  def deleteBatchPlan(
      spark: SparkSession,
      path: String,
      keys: DataFrame,
      keyCol: String): DataFrame = {
    val k = broadcast(keys.select(col(keyCol).as("id")).distinct())
    val buckets = readParams(spark, path).buckets
    val corpusRow = spark.read.schema(corpusSchema)
      .parquet(s"$path/corpus")
      .select(col("id"), col("bucket"))
      .join(k, "id")
      .agg(
        count(lit(1)).as("n_doomed_docs"),
        count_distinct(col("bucket")).as("n_affected_buckets"))
    // the pk count rides a scalar subquery (no 1x1 join — the BNL ban)
    val nPks = spark.read.schema(bandsSchema)
      .parquet(s"$path/bands")
      .select(col("id"), col("pk"))
      .join(k, "id")
      .agg(count_distinct(col("pk")).as("n"))
      .scalar()
    corpusRow
      .select(
        col("n_doomed_docs"),
        col("n_affected_buckets"),
        nPks.as("n_affected_pks"),
        lit(buckets).as("n_buckets"),
        greatest(
          col("n_affected_buckets").cast("double") / lit(buckets.toDouble),
          nPks.cast("double") / lit(buckets.toDouble))
          .as("affected_fraction"))
  }

  /** Collapse per-batch file generations in BOTH tables —
    * [[DedupRegistry.compact]] over corpus and bands.
    */
  def compact(spark: SparkSession, path: String,
      gcKeepGenerations: Option[Int] = None): Unit = {
    // writer locks on the rewritten tables (data-level exclusion vs a
    // racing ingest) + reader-isolation bracket + manifest commit
    // ([[StableRead]]): two table swaps a concurrent stable probe must
    // not straddle. Pending-ingest guard inside the lock
    // (wait-not-refuse)
    StableRead.withTableLocks(spark, path, Seq("bands", "corpus")) {
      RegistryIngest.requireCommitted(spark, path, "NearDupRegistry.compact")
      StableRead.withMaintenanceMarker(spark, path) {
        graft.sinks.Sinks.compactTable(
          spark, path, "corpus", Some("bucket"), Some(corpusSchema))
        graft.sinks.Sinks.compactTable(
          spark, path, "bands", Some("pk"), Some(bandsSchema))
      }
      // retention cadence: compaction is the natural GC window
      gcKeepGenerations.foreach(k => StableRead.gc(spark, path, k))
    }
  }

  /** Targeted takedown by id: [[graft.sinks.Sinks.deleteRows]] on the
    * corpus buckets AND the bands partitions (a retired doc must stop
    * being a dedup witness — its band keys leave with it), plus an
    * exact stats decrement. Same takedown-vs-denylist semantics note as
    * [[DedupRegistry.delete]].
    *
    * CRASH WINDOW (named, converging): a crash after the table rewrites
    * but before the stats swap leaves n_docs overcounting by the rows
    * already removed (the rewrites themselves are individually safe —
    * each partition swaps whole via deleteRows' rename discipline; a
    * crash BETWEEN the corpus and bands rewrites additionally leaves
    * the removed docs' band keys as dedup witnesses). This single-writer
    * maintenance op carries no commit marker; instead the stats write is
    * SELF-HEALING — n_docs is recounted from the surviving corpus (a
    * zero-column, footer-priced scan) and rewritten whenever it
    * disagrees — so re-running the SAME delete converges every window:
    * already-removed corpus keys match nothing, the orphaned band keys
    * (still id-matched) are removed, and the recount lands the exact
    * stats. [[Fsck.nearDupRegistryFsck]] detects the interim state
    * (ndreg_stats_ndocs; orphaned band keys as ndreg_alien_band_key).
    * NearDupRegistrySpec drives both windows explicitly.
    */
  def delete(
      spark: SparkSession,
      path: String,
      keys: DataFrame,
      keyCol: String): Long = {
    // writer locks on the rewritten tables (a racing ingest must not
    // land mid-rewrite) + reader-isolation marker
    // ([[graft.operators.StableRead]]): the corpus/bands rewrites +
    // overlay clear + stats heal are steps a concurrent stable probe
    // must not straddle. Pending-ingest guard inside the lock
    // (wait-not-refuse)
    StableRead.withTableLocks(spark, path,
      Seq("bands", "corpus", "stats")) {
    RegistryIngest.requireCommitted(spark, path, "NearDupRegistry.delete")
    StableRead.withMaintenanceMarker(spark, path) {
    val k = keys.select(col(keyCol).as("id"))
    // maintenance-history flag: merge refuses this shard from now on
    // ([[DedupRegistry.requirePristine]]'s conservation rationale).
    // Stamped BEFORE the rewrite, crash-safe: a crash after the rewrite
    // but before a post-hoc stamp, followed by the contract-mandated
    // re-run (which then removes 0 rows), would otherwise converge to a
    // physically-maintained shard with no flag — the exact state the
    // guard exists to refuse (MaintenanceGuardSpec drives the window)
    val doomed = spark.read.schema(corpusSchema).parquet(s"$path/corpus")
      .join(k, Seq("id"), "left_semi").limit(1).count() > 0L
    if (doomed) DedupRegistry.markMaintained(spark, path)
    val n = graft.sinks.Sinks.deleteRows(
      spark, s"$path/corpus", "bucket", "id", k)
    graft.sinks.Sinks.deleteRows(
      spark, s"$path/bands", "pk", "id", k, countDeleted = false)
    // a physical delete compacts any soft-delete overlay covering these
    // ids (the Tombstones contract, same as the index deletes)
    Tombstones.clear(spark, path, keys, keyCol)
    // stats heal (the named crash window's convergence): n_docs is
    // RECOUNTED from the surviving corpus — a zero-column parquet scan,
    // O(files) metadata, never text bytes — and rewritten whenever the
    // stored scalar disagrees. A normal delete lands the exact
    // decrement (live == n_docs − n); a crash-interrupted prior delete
    // heals here even when THIS call's keys match nothing (n == 0).
    val p = readParams(spark, path)
    val live = spark.read.schema(corpusSchema).parquet(s"$path/corpus").count()
    if (live != p.nDocs) {
      val fs = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(spark.sessionState.newHadoopConf())
      val tmp = new org.apache.hadoop.fs.Path(s"$path/stats_delete_tmp")
      spark.range(1)
        .select(
          lit(live).as("n_docs"),
          lit(p.nDropped).as("n_dropped"),
          lit(p.buckets).as("buckets"),
          lit(p.shingleSize.toLong).as("shingle_size"),
          lit(p.numHashes.toLong).as("num_hashes"),
          lit(p.bands.toLong).as("bands"),
          lit(p.threshold).as("threshold"))
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      graft.sinks.Sinks.swapByRename(
        fs, tmp, new org.apache.hadoop.fs.Path(s"$path/stats"))
    }
    n
    }
    }
  }
}
