package graft.queries

import graft.Tables
import graft.operators.{CurationFilters, Dedup, DedupRegistry, LinkGraph, Multimodal, NearDupRegistry, Packing, RangeJoin, Retrieval, Sampling, Similarity, Skew, SnapshotDiff, TextAnalysis}
import graft.operators.Fsck.{cnt, scalarViol}
import graft.sources.DocJsonl
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Training-data curation surface over `documents` and `embeddings`:
  * dedup (exact / MinHash-LSH / SimHash / Jaccard), similarity search
  * (brute-force + LSH ANN), text analysis, multimodal plumbing.
  *
  * Queries whose semantics are SQL-expressible carry a DuckDB oracle; the
  * hash-based ones (MinHash/SimHash/LSH — engine-specific hash functions)
  * are covered by ScalaTest recall/correctness specs instead and get the
  * driver's rows-only check.
  */
object Curation {
  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(Tables.configure(s), dir, name)

  private val enProfile: Map[String, Seq[String]] =
    Map("en" -> Seq("the", "a", "of", "to", "and", "is", "in", "that", "it", "for"))

  /** q146/q188 shared relation: encode `documents` with a merge table
    * (in-session for q146, loaded from the persisted artifact for
    * q188) and aggregate per language — both gates must land the SAME
    * relation under the SAME oracle.
    */
  private def bpeEncodeRelation(
      s: SparkSession, dir: String,
      merges: Seq[(String, String)]): DataFrame = {
    val docs = t(s, dir, "documents")
    TextAnalysis.bpeEncode(docs, "doc_id", "text", merges)
      .join(docs.select(col("doc_id").as("id"), col("lang")), "id")
      .select(col("lang"), col("id"), explode(col("tokens")).as("tok"))
      .groupBy(col("lang"))
      .agg(
        countDistinct(col("id")).as("n_docs"),
        count(lit(1)).as("n_tokens"),
        countDistinct(col("tok")).as("n_vocab"),
        sum(when(col("tok").contains("_"), 1L).otherwise(0L))
          .as("merged_occurrences"))
      .orderBy(col("lang"))
  }

  // Every scratch dir of the gates below, per-JVM setup and per-
  // invocation state alike, lives under this one root, deleted when the
  // JVM exits (the MarketAnalytics.replayDir hook: Hadoop's hook manager
  // runs it below Spark's priority, after the streams stop writing). No
  // oracle reads a Curation scratch.
  private lazy val scratchRoot: java.nio.file.Path = {
    val root = java.nio.file.Files.createTempDirectory("graft-curation-gates")
    org.apache.hadoop.util.ShutdownHookManager.get().addShutdownHook(
      () => org.apache.commons.io.FileUtils.deleteQuietly(root.toFile), 20)
    root
  }

  private def scratch(prefix: String): String =
    java.nio.file.Files.createTempDirectory(scratchRoot, prefix).toString

  // q59's persisted-index scratch, one per JVM (every write inside it is
  // mode=overwrite, so reuse is safe and bounded)
  private lazy val ivfIndexDir: String = scratch("ivf-idx")

  // q112's append scratch: per-JVM is safe because each invocation
  // OVERWRITE-builds the base index first (clearing prior appends)
  private lazy val ivfAppendDir: String = scratch("ivf-app")

  // q79's JSONL round-trip scratch, same per-JVM overwrite contract
  private lazy val jsonlDir: String = scratch("jsonl")

  // q134's persisted BM25 index scratch, same per-JVM overwrite contract
  // as the IVF index dirs (every invocation overwrite-builds first)
  private lazy val bm25IndexDir: String = scratch("bm25-idx")

  // q143's append scratch: per-JVM is safe because each invocation
  // OVERWRITE-builds the base index first (clearing prior appends) —
  // the q112 contract for the lexical index
  private lazy val bm25AppendDir: String = scratch("bm25-app")

  // q145's compaction scratch, same overwrite-first contract
  private lazy val bm25CompactDir: String = scratch("bm25-cmp")

  // q149's IVF-compaction scratch, same overwrite-first contract
  private lazy val ivfCompactDir: String = scratch("ivf-cmp")

  // q151's persisted language-ID model scratch, same contract
  private lazy val langIdModelDir: String = scratch("langid")

  // q152's partitioned-corpus scratch (rebuilt by overwrite per invocation)
  private lazy val deleteDir: String = scratch("del")

  // q155's BM25 index-deletion scratch, same overwrite-first contract
  private lazy val bm25DeleteDir: String = scratch("bm25-del")

  // q189's takedown-queue scratch, same overwrite-first contract
  private lazy val bm25QueueDir: String = scratch("bm25-queue")

  // q156's IVF index-deletion scratch, same overwrite-first contract
  private lazy val ivfDeleteDir: String = scratch("ivf-del")

  // q177/q178's soft-delete (tombstone) scratches, same contract
  private lazy val bm25TombDir: String = scratch("bm25-tomb")
  private lazy val ivfTombDir: String = scratch("ivf-tomb")

  // q180/q181's vacuum scratches, same overwrite-first contract
  private lazy val bm25VacDir: String = scratch("bm25-vac")
  private lazy val ivfVacDir: String = scratch("ivf-vac")

  // q182's serving-stack scratch parent (base reset by copyInto, delta
  // deleted per invocation — bm25Init refuses a pre-existing index)
  private lazy val servParent: String = scratch("serv")

  /** Per-(sf dir) memoized BASE index builds, file-copied into each
    * gate's private scratch: q143/q145/q155 all open with the SAME
    * deterministic `buildBm25Index` over `doc_id % 3 =!= 0`, and
    * q112/q149/q156 with the SAME `buildIvfIndex` over
    * `vec_id % 4 =!= 0` — identical input, identical bytes-on-disk
    * semantics, so the base build is harness SETUP shared across gates
    * (the replayPhases memoizedWrite precedent) and each gate pays only
    * for the MAINTENANCE operators it actually proves (append / compact
    * / delete / probe) plus a local directory copy. The build operator
    * itself stays fully gate-proven un-shared: q134 (bm25) and q59
    * (ivf) run their builds every invocation. Keyed per JVM by
    * (kind, sf dir) — the same static-testdata contract the per-JVM
    * overwrite-first scratch dirs already assume.
    */
  private val baseIndexes =
    new java.util.concurrent.ConcurrentHashMap[String, String]

  private def copyInto(src: String, dst: String): Unit = {
    val d = new java.io.File(dst)
    org.apache.commons.io.FileUtils.deleteDirectory(d)
    org.apache.commons.io.FileUtils.copyDirectory(new java.io.File(src), d)
  }

  private def bm25Base(s: SparkSession, dir: String): String =
    baseIndexes.computeIfAbsent(s"bm25|$dir", _ => {
      val p = scratch("bm25-base")
      Retrieval.buildBm25Index(
        t(s, dir, "documents").filter(col("doc_id") % 3 =!= 0),
        "doc_id", "text", p)
      p
    })

  private def ivfBase(s: SparkSession, dir: String): String =
    baseIndexes.computeIfAbsent(s"ivf|$dir", _ => {
      val p = scratch("ivf-base")
      Similarity.buildIvfIndex(
        t(s, dir, "embeddings").filter(col("vec_id") % 4 =!= 0),
        "vec_id", "embedding", nlist = 16, p)
      p
    })

  /** The POST-APPEND index states, one more memoized setup rung: q155
    * deletes from an index whose generations are exactly q143's
    * (build 2/3 + append 1/3) and q156 from exactly q149's build + two
    * appends — deterministic continuations of the shared bases, so the
    * deletion gates pay only for the DELETE + probe they prove. The
    * append operator stays gate-proven un-shared in q143/q145 (bm25)
    * and q112/q149 (ivf).
    */
  private def bm25BaseAppended(s: SparkSession, dir: String): String = {
    // materialize the base rung BEFORE the dependent memoization:
    // ConcurrentHashMap.computeIfAbsent inside computeIfAbsent on the
    // SAME map throws "Recursive update" whenever the two keys land in
    // one hash bin — which key set (and so which gate order) triggers
    // it is table-layout luck (q175-first at sf0.1 found it)
    val base = bm25Base(s, dir)
    baseIndexes.computeIfAbsent(s"bm25app|$dir", _ => {
      val p = scratch("bm25-bapp")
      copyInto(base, p)
      Retrieval.bm25Append(
        p, t(s, dir, "documents").filter(col("doc_id") % 3 === 0),
        "doc_id", "text")
      p
    })
  }

  private def ivfBaseAppended(s: SparkSession, dir: String): String = {
    val base = ivfBase(s, dir) // outside: no nested computeIfAbsent
    baseIndexes.computeIfAbsent(s"ivfapp|$dir", _ => {
      val p = scratch("ivf-bapp")
      copyInto(base, p)
      val emb = t(s, dir, "embeddings")
      Similarity.ivfAppend(
        p, emb.filter(col("vec_id") % 8 === 0), "vec_id", "embedding")
      Similarity.ivfAppend(
        p, emb.filter(col("vec_id") % 8 === 4), "vec_id", "embedding")
      p
    })
  }

  /** q158's shard bases: FOUR independent indexes over the doc_id mod-4
    * residues of the corpus — the per-shard parallel builds whose N-way
    * merge the gate proves. Memoized like the other deterministic
    * setups (so the merge must NOT consume them — q158 runs the
    * preserve-sources copy path; q161 runs move).
    */
  private def bm25Shard(s: SparkSession, dir: String, shard: Int): String =
    baseIndexes.computeIfAbsent(s"bm25shard4_$shard|$dir", _ => {
      val p = scratch(s"bm25-sh$shard")
      Retrieval.buildBm25Index(
        t(s, dir, "documents").filter(col("doc_id") % 4 === shard),
        "doc_id", "text", p)
      p
    })

  // q158's merge destination parent (the merge target itself must not
  // pre-exist, so each invocation deletes and re-points a child path)
  private lazy val bm25MergeParent: String = scratch("bm25-merge")

  // q159's quantized-IVF index scratch, same overwrite-first contract
  private lazy val ivfQDir: String = scratch("ivfq")

  // q185's requantize scratch, same overwrite-first contract
  private lazy val ivfRqDir: String = scratch("ivfrq")

  // q161's shard/merge scratch parent (children deleted per invocation —
  // ivfInit and ivfMerge both refuse pre-existing targets)
  private lazy val ivfMergeParent: String = scratch("ivf-merge")

  // q162's streaming-ingest index scratch (reset by copyInto per
  // invocation, which also clears the prior run's ingestlog markers)
  private lazy val bm25IngestDir: String = scratch("bm25-ing")

  // q163's scratch parent (child index deleted per invocation —
  // ivfInit refuses a pre-existing centroid table)
  private lazy val ivfIngestParent: String = scratch("ivf-ing")

  // q167's registry scratch parent (child deleted per invocation —
  // DedupRegistry.init refuses a pre-existing registry)
  private lazy val regIngestParent: String = scratch("reg-ing")

  // q168's split-index scratch parent (child deleted per invocation)
  private lazy val ivfSplitParent: String = scratch("ivf-split")

  /** q171's shard registries: the three [[dedupStreamPhases]] slices
    * each one-batch-ingested into its own registry — the parallel
    * bootstrap whose merge the gate proves. Memoized deterministic
    * SETUP (the bm25Shard contract); the merge reads, never consumes.
    */
  private def regShard(s: SparkSession, dir: String, shard: Int): String =
    baseIndexes.computeIfAbsent(s"regsh3_$shard|$dir", _ => {
      val p = scratch(s"reg-sh$shard") + "/reg"
      DedupRegistry.init(s, p, buckets = 16)
      DedupRegistry.ingestBatch(
        p, dedupStreamPhases(s, dir)(shard), "doc_id", "text", 0L)
      p
    })

  // q171's merge destination parent (dest must not pre-exist)
  private lazy val regMergeParent: String = scratch("reg-merge")

  /** q175's composed curate-then-index pair: the q169 composition
    * driven as three direct sink applies over [[dedupStreamPhases]] —
    * deterministic memoized SETUP (the sink operator itself stays
    * stream-gate-proven with full crash drills in q169/q176); gives the
    * cross-artifact [[graft.operators.Fsck.composedFsck]] audit a real
    * multi-batch composed state.
    */
  private def composedPair(s: SparkSession, dir: String): (String, String) = {
    val phases = dedupStreamPhases(s, dir) // outside the memoization
    val root = baseIndexes.computeIfAbsent(s"composed|$dir", _ => {
      val r = scratch("composed")
      DedupRegistry.init(s, s"$r/reg", buckets = 16)
      Retrieval.bm25Init(s, s"$r/idx", buckets = 32)
      val sink = DedupRegistry.dedupIndexStreamSink(
        s"$r/reg", s"$r/idx", "doc_id", "text")
      phases.zipWithIndex.foreach { case (df, i) => sink(df, i.toLong) }
      r
    })
    (s"$root/reg", s"$root/idx")
  }

  /** q172's corpus slices with planted CROSS-SHARD duplicates: exact
    * re-keys of shard-0 content into shard 1 (+1M) and of shard-1
    * content into shard 2 (+2M), plus trailing-junk NEAR-copies of
    * shard-0 content into shard 2 (+3M) — the duplicates a partitioned
    * bootstrap cannot see until the merge.
    */
  private def ndMergeSlices(s: SparkSession, dir: String): Seq[DataFrame] = {
    val docs = t(s, dir, "documents")
    val s0 = docs.filter(col("doc_id") % 3 === 0)
      .select(col("doc_id"), col("text"))
    val s1 = docs.filter(col("doc_id") % 3 === 1)
      .select(col("doc_id"), col("text"))
      .unionByName(docs
        .filter(col("doc_id") % 3 === 0 && col("doc_id") % 5 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
    val s2 = docs.filter(col("doc_id") % 3 === 2)
      .select(col("doc_id"), col("text"))
      .unionByName(docs
        .filter(col("doc_id") % 3 === 1 && col("doc_id") % 7 === 0)
        .select((col("doc_id") + 2000000L).as("doc_id"), col("text")))
      .unionByName(docs
        .filter(col("doc_id") % 3 === 0 && col("doc_id") % 4 === 0)
        .select((col("doc_id") + 3000000L).as("doc_id"),
          concat(col("text"), lit(" qq17 qq18 qq19")).as("text")))
    Seq(s0, s1, s2)
  }

  /** q170/q176's near-dup-bearing stream phases: documents in three
    * phases with planted CROSS-batch exact copies (+1M of phase-0 texts
    * into phase 1), WITHIN-batch exact copies (+2M of phase-2 texts
    * into phase 2), and trailing-junk NEAR-copies (+3M of phase-1
    * texts into phase 2). ONE construction for both gates — and the id
    * ranges are [[ndregSoundness]]'s contract.
    */
  private def ndStreamPhases(s: SparkSession, dir: String): Seq[DataFrame] = {
    val docs = t(s, dir, "documents")
    val p0 = docs.filter(col("doc_id") % 3 === 0)
      .select(col("doc_id"), col("text"))
    val p1 = docs.filter(col("doc_id") % 3 === 1)
      .select(col("doc_id"), col("text"))
      .unionByName(docs
        .filter(col("doc_id") % 3 === 0 && col("doc_id") % 5 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
    val p2 = docs.filter(col("doc_id") % 3 === 2)
      .select(col("doc_id"), col("text"))
      .unionByName(docs
        .filter(col("doc_id") % 3 === 2 && col("doc_id") % 7 === 0)
        .select((col("doc_id") + 2000000L).as("doc_id"), col("text")))
      .unionByName(docs
        .filter(col("doc_id") % 3 === 1 && col("doc_id") % 4 === 0)
        .select((col("doc_id") + 3000000L).as("doc_id"),
          concat(col("text"), lit(" qq17 qq18 qq19")).as("text")))
    Seq(p0, p1, p2)
  }

  /** The q170 registry-soundness relation over a replayed
    * [[ndStreamPhases]] stream — ONE body shared by q170 and q176 so
    * the composed gate cannot drift from the standalone gate: (a) no
    * alien/duplicated registered id; (b) stats count exactly; (c) every
    * planted within-batch exact copy dropped; (d) every planted
    * cross-batch exact copy whose original registered dropped; (e)
    * every dropped row re-verifies at true shingle-Jaccard >= threshold
    * against an eligible partner through the independent PPJoin-exact
    * path. `stream` carries (doc_id, text, ph).
    */
  private def ndregSoundness(
      s: SparkSession, streamRaw: DataFrame, path: String): DataFrame = {
    val stream = streamRaw.transform(graft.CacheScope.persisted)
    val acc = s.read.parquet(s"$path/corpus")
      .select(col("id"), col("text"))
      .transform(graft.CacheScope.persisted)
    val accIds = acc.select(col("id"))
    val alien = cnt(accIds.join(
      stream.select(col("doc_id").as("id")), Seq("id"), "left_anti"),
      "alien_id")
    val dupReg = cnt(acc.groupBy(col("id")).agg(count(lit(1)).as("c"))
      .filter(col("c") > 1), "dup_registered_id")
    val sketchable = size(Dedup.shingles(col("text"), 3)) > 0
    // (c) within-batch exact copies must always have dropped
    val withinViol = cnt(stream
      .filter(col("doc_id") >= 2000000L && col("doc_id") < 3000000L &&
        sketchable)
      .join(accIds.withColumnRenamed("id", "doc_id"), Seq("doc_id")),
      "planted_within_batch_copy_survived")
    // (d) cross-batch exact copies whose original registered
    val crossViol = cnt(stream
      .filter(col("doc_id") >= 1000000L && col("doc_id") < 2000000L &&
        sketchable)
      .join(accIds.withColumnRenamed("id", "doc_id"), Seq("doc_id"))
      .withColumn("orig", col("doc_id") - 1000000L)
      .join(accIds.withColumnRenamed("id", "orig"), Seq("orig")),
      "planted_cross_batch_copy_survived")
    // (e) each dropped row has an ELIGIBLE true-Jaccard partner,
    // recomputed via the exhaustive PPJoin-exact relation
    val dropped = stream
      .join(accIds.withColumnRenamed("id", "doc_id"), Seq("doc_id"),
        "left_anti")
      .transform(graft.CacheScope.persisted)
    val pairs = Dedup.jaccardJoin(
        dropped.select(col("doc_id").as("id"), col("text")),
        stream.select(col("doc_id").as("id"), col("text")),
        "id", "text", Seq.empty, shingleSize = 3, threshold = 0.5)
      .filter(col("id_a") =!= col("id_b"))
    val phOf = stream.select(col("doc_id"), col("ph"))
    val witnessed = pairs
      .join(phOf.select(col("doc_id").as("id_a"), col("ph").as("ph_a")), "id_a")
      .join(phOf.select(col("doc_id").as("id_b"), col("ph").as("ph_b")), "id_b")
      .join(accIds.withColumnRenamed("id", "id_b")
        .withColumn("__reg", lit(true)), Seq("id_b"), "left")
      .filter((col("ph_b") < col("ph_a") && col("__reg")) ||
        (col("ph_b") === col("ph_a") && col("id_b") < col("id_a")))
      .select(col("id_a").as("doc_id")).distinct()
    val unsound = cnt(
      dropped.join(witnessed, Seq("doc_id"), "left_anti"), "unwitnessed_drop")
    // (b) stats count exactly
    val st = s.read.parquet(s"$path/stats").collect()(0)
    val (accN, streamN) = (acc.count(), stream.count())
    val statsViol = scalarViol(st.getAs[Long]("n_docs") == accN &&
      st.getAs[Long]("n_dropped") == streamN - accN, "stats_mismatch", s)
    alien.unionByName(dupReg).unionByName(withinViol)
      .unionByName(crossViol).unionByName(unsound).unionByName(statsViol)
  }

  /** q172's shard near-dup registries over [[ndMergeSlices]] — memoized
    * like [[regShard]]; the merge reads, never consumes.
    */
  private def ndregShard(s: SparkSession, dir: String, shard: Int): String =
    baseIndexes.computeIfAbsent(s"ndregsh3_$shard|$dir", _ => {
      val p = scratch(s"ndreg-sh$shard") + "/reg"
      NearDupRegistry.init(s, p, buckets = 16)
      NearDupRegistry.ingestBatch(
        p, ndMergeSlices(s, dir)(shard), "doc_id", "text", 0L)
      p
    })

  // q172's merge destination parent (dest must not pre-exist)
  private lazy val ndregMergeParent: String = scratch("ndreg-merge")

  // q179's tombstone-arm scratch (reset by copyInto per invocation —
  // the memoized shard must never be mutated)
  private lazy val ndregProbeTombParent: String = scratch("ndreg-ptomb")

  /** q174's shared-quantizer IVF shards — the q161 construction (train
    * ONCE, ivfInit each shard, parallel fills) memoized as SETUP: the
    * federated gate proves the PROBE; the shard build itself stays
    * gate-proven un-shared in q161.
    */
  /** The DETERMINISTIC full-corpus quantizer (md5-ordered sample +
    * Lloyd) five gates train identically (q161/q163/q166/q174-shards/
    * q183) — memoized per sf dir as harness SETUP; the training
    * operator stays gate-proven per-invocation in q35/q59.
    */
  private val centroidCache =
    new java.util.concurrent.ConcurrentHashMap[String, Array[Array[Double]]]

  private def fullCentroids(s: SparkSession, dir: String): Array[Array[Double]] =
    centroidCache.computeIfAbsent(dir, _ =>
      Similarity.trainIvfCentroids(
        t(s, dir, "embeddings"), "vec_id", "embedding", nlist = 16))

  private def ivfFedShards(s: SparkSession, dir: String): Seq[String] = {
    val sharedCents = fullCentroids(s, dir) // outside the memoization
    baseIndexes.computeIfAbsent(s"ivffedsh4|$dir", _ => {
      val emb = t(s, dir, "embeddings")
      val root = scratch("ivf-fed")
      val cents = sharedCents
      (0 until 4).foreach { i =>
        val sh = s"$root/sh$i"
        Similarity.ivfInit(s, cents, sh)
        Similarity.ivfAppend(
          sh, emb.filter(col("vec_id") % 4 === i), "vec_id", "embedding")
      }
      root
    }) match { case root => (0 until 4).map(i => s"$root/sh$i") }
  }

  /** q167/q169's duplicate-bearing phases — MUST mirror the oracles'
    * shared DedupStreamSql fragment (CurationOracles): documents in
    * three phases with cross-batch re-keys (+1M of phase-0 texts into
    * phase 1, +3M of phase-1 texts into phase 2) and within-batch
    * re-keys (+2M of phase-2 texts into phase 2). ONE construction for
    * both gates so the engine stream cannot drift from the oracle
    * stream.
    */
  private def dedupStreamPhases(
      s: SparkSession, dir: String): Seq[DataFrame] = {
    val docs = t(s, dir, "documents")
    val p0 = docs.filter(col("doc_id") % 3 === 0)
      .select(col("doc_id"), col("text"))
    val p1 = docs.filter(col("doc_id") % 3 === 1)
      .select(col("doc_id"), col("text"))
      .unionByName(docs
        .filter(col("doc_id") % 3 === 0 && col("doc_id") % 5 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
    val p2 = docs.filter(col("doc_id") % 3 === 2)
      .select(col("doc_id"), col("text"))
      .unionByName(docs
        .filter(col("doc_id") % 3 === 2 && col("doc_id") % 7 === 0)
        .select((col("doc_id") + 2000000L).as("doc_id"), col("text")))
      .unionByName(docs
        .filter(col("doc_id") % 3 === 1 && col("doc_id") % 4 === 0)
        .select((col("doc_id") + 3000000L).as("doc_id"), col("text")))
    Seq(p0, p1, p2)
  }

  /** q163/q166/q208's stream: the embeddings in three vec_id mod-3
    * phases, staged once under one key. */
  private def embStreamPhases(emb: DataFrame): Seq[DataFrame] =
    (0 until 3).map(i => emb.filter(col("vec_id") % 3 === i)
      .select(col("vec_id"), col("embedding")))

  /** Stage phase frames as single parquet files `phase_NNN.parquet`
    * with strictly increasing mod times (the MarketAnalytics
    * writePhases discipline: a maxFilesPerTrigger=1 file stream then
    * delivers exactly one micro-batch per phase in phase order).
    * Memoized per key — deterministic harness SETUP, same static-
    * testdata contract as [[baseIndexes]].
    */
  private val stagedPhaseWrites =
    new java.util.concurrent.ConcurrentHashMap[String, String]

  private def stagePhases(key: String, phases: Seq[DataFrame]): String =
    stagedPhaseWrites.computeIfAbsent(key, _ => {
      val root = java.nio.file.Paths.get(scratch("ing-stage"))
      phases.zipWithIndex.foreach { case (df, i) =>
        val stage = root.resolve(s"stage_$i").toString
        df.coalesce(1).write.mode("overwrite").parquet(stage)
        val part = new java.io.File(stage).listFiles()
          .find(_.getName.endsWith(".parquet")).get
        val dst = new java.io.File(root.toFile, f"phase_$i%03d.parquet")
        java.nio.file.Files.move(part.toPath, dst.toPath,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        dst.setLastModified(1000000000000L + i * 60000L)
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(stage))
      }
      root.toString
    })

  /** The exactly-once drill of every stream-ingest gate — the
    * epoch-idempotent foreachBatch sink contract, driven for real. The
    * phases are staged once per `key` ([[stagePhases]]) and streamed
    * through `sink` one micro-batch per phase; the stream is STOPPED
    * after every phase and RESUMED from the same checkpoint, a
    * kill-restart at every batch boundary, so batch ids must continue
    * (a sink that restarted numbering would hit its own applied markers
    * and silently drop the tail). `between(i)` runs while the stream is
    * down after phase i commits, where production runs a takedown or a
    * probe: between micro-batches, never inside one. The drill ends
    * with a post-commit re-delivery of batch 1 through the same sink,
    * which must skip whole. A gate plants batch-0 crash debris first
    * with the kit below; batch 0's delivery must erase it before
    * applying. Stream dir and checkpoint are per invocation: a sink ties
    * an estate to ONE checkpoint lineage, and each gate rebuilds its
    * estate per invocation too.
    */
  private def replayPhases(
      s: SparkSession,
      key: String,
      phases: Seq[DataFrame],
      sink: (DataFrame, Long) => Unit,
      between: Int => Unit = _ => ()): Unit = {
    val spark = Tables.configure(s)
    val staged = stagePhases(key, phases)
    val run = java.nio.file.Paths.get(scratch("ing-run"))
    val streamDir = run.resolve("stream")
    java.nio.file.Files.createDirectories(streamDir)
    try phases.indices.foreach { i =>
      val name = f"phase_$i%03d.parquet"
      val dst = streamDir.resolve(name)
      java.nio.file.Files.copy(java.nio.file.Paths.get(staged, name), dst)
      dst.toFile.setLastModified(1000000000000L + i * 60000L)
      val q = spark.readStream.schema(phases.head.schema)
        .option("maxFilesPerTrigger", 1).parquet(streamDir.toString)
        .writeStream
        .foreachBatch((df: DataFrame, id: Long) => sink(df, id))
        .option("checkpointLocation", run.resolve("ckpt").toString)
        .start()
      try q.processAllAvailable() finally q.stop()
      between(i)
    } finally org.apache.commons.io.FileUtils.deleteQuietly(run.toFile)
    sink(spark.read.parquet(s"$staged/phase_001.parquet"), 1L)
  }

  // ---- the crash-plant kit: the batch-0 debris a mid-apply crash
  // leaves, which batch 0's delivery in [[replayPhases]] must erase ----

  /** Write one frame as a single parquet part renamed to
    * `b0_<part>.parquet` inside `dstDir`: the tagged increment file a
    * crashed batch-0 apply leaves behind.
    */
  private def plantTaggedPart(df: DataFrame, dstDir: String): Unit = {
    val stage = scratch("plant")
    df.coalesce(1).write.mode("overwrite").parquet(stage)
    val part = new java.io.File(stage).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    new java.io.File(dstDir).mkdirs()
    java.nio.file.Files.move(part.toPath,
      new java.io.File(dstDir, s"b0_${part.getName}").toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(stage))
    // reachable-state fidelity: a REAL mid-apply crash always leaves
    // the batch's staging dir (it is deleted strictly after the commit
    // marker lands), and the recovery sweep is GATED on it — plant it
    // too, or the manufactured debris sits in an unreachable state the
    // gated recovery rightly ignores. Root = nearest manifest-carrying
    // ancestor of the planted table dir.
    var p = new java.io.File(dstDir).getParentFile
    var hops = 0
    while (p != null && hops < 4 &&
      !new java.io.File(p, "_commit_manifest").exists()) {
      p = p.getParentFile; hops += 1
    }
    require(p != null && new java.io.File(p, "_commit_manifest").exists(),
      s"plantTaggedPart: no estate root above $dstDir")
    new java.io.File(p, "_ingest_b0_tmp").mkdirs()
  }

  private def statsBuckets(s: SparkSession, path: String): Long =
    s.read.parquet(s"$path/stats").select(col("buckets")).collect()(0).getLong(0)

  /** BM25 junk in the "spark" bucket: a posting (id -999 scoring
    * "spark" at tf 99), its doclen row, and a terms-delta part that
    * would inflate "spark"'s merge-on-read df 100x and collapse its idf.
    */
  private def plantBm25Junk(s: SparkSession, path: String): Unit = {
    import s.implicits._
    val bucket = s.range(1)
      .select(pmod(xxhash64(lit("spark")), lit(statsBuckets(s, path))))
      .collect()(0).getLong(0)
    plantTaggedPart(Seq((-999L, "spark", 99L)).toDF("id", "term", "tf"),
      s"$path/postings/bucket=$bucket")
    plantTaggedPart(Seq((-999L, 99L)).toDF("id", "dl"), s"$path/doclen")
    plantTaggedPart(Seq(("spark", 99999L)).toDF("term", "df"),
      s"$path/terms/bucket=$bucket")
  }

  /** A dedup-registry junk row (id -999) in its digest's own bucket. */
  private def plantRegistryJunk(s: SparkSession, path: String): Unit = {
    import s.implicits._
    val junk = Seq((-999L, "__GRAFT_JUNK__")).toDF("id", "text")
      .withColumn("digest", md5(col("text")))
    val bucket = junk
      .select(pmod(xxhash64(col("digest")), lit(statsBuckets(s, path))))
      .collect()(0).getLong(0)
    plantTaggedPart(junk, s"$path/corpus/bucket=$bucket")
  }

  /** Near-dup registry junk: a corpus row and a band row for id -999. */
  private def plantNearDupJunk(s: SparkSession, path: String): Unit = {
    import s.implicits._
    plantTaggedPart(
      Seq((-999L, "__GRAFT_JUNK__", Seq(1L, 2L))).toDF("id", "text", "hs"),
      s"$path/corpus/bucket=3")
    plantTaggedPart(Seq((0, 12345, -999L)).toDF("band", "bkey", "id"),
      s"$path/bands/pk=1")
  }

  /** An IVF junk vector: the one-row, one-column frame `vec` under id
    * -999 in its nearest cell under `cents`, where a probe for that
    * vector ranks it #1 at sim 1.0 if recovery misses it.
    */
  private def plantIvfJunk(
      path: String, vec: DataFrame, cents: Array[Array[Double]]): Unit = {
    val junk = vec.select(lit(-999L).as("id"),
        col(vec.columns.head).cast("array<double>").as("vec"))
      .withColumn("cell", element_at(
        graft.functions.VecExprs.nearestCentroids(
          col("vec"), cents.map(_.toSeq).toSeq, 1), 1))
    val cell = junk.select(col("cell")).collect()(0).getInt(0)
    plantTaggedPart(junk.select(col("id"), col("vec")), s"$path/corpus/cell=$cell")
  }

  /** The stats mid-swap window: the state right after `rename(new, cur)`
    * and before the marker — the true table in `stats_b0_bak`, a live
    * `stats` corrupted to n_docs (and n_dropped, where present) 777777.
    * A real crash also leaves the bak's _retire_to sidecar; the
    * marker-absent recovery (restore) never reads it, so the plant
    * omits it.
    */
  private def plantStatsMidSwap(s: SparkSession, path: String): Unit = {
    val st = s.read.parquet(s"$path/stats")
    st.select(st.columns.toSeq.map {
        case c @ ("n_docs" | "n_dropped") => lit(777777L).as(c)
        case c => col(c)
      }: _*)
      .coalesce(1).write.parquet(s"$path/stats_b0_corrupt_tmp")
    org.apache.commons.io.FileUtils.moveDirectory(
      new java.io.File(s"$path/stats"), new java.io.File(s"$path/stats_b0_bak"))
    org.apache.commons.io.FileUtils.moveDirectory(
      new java.io.File(s"$path/stats_b0_corrupt_tmp"),
      new java.io.File(s"$path/stats"))
  }

  /** q145's variant: the same base with its 1/3 remainder appended in
    * TWO batches (%6==0 then %6==3), so the copied state carries three
    * real file generations per touched bucket — exactly what its
    * compaction must collapse.
    */
  private def bm25BaseAppended2(s: SparkSession, dir: String): String = {
    val base = bm25Base(s, dir) // outside: no nested computeIfAbsent
    baseIndexes.computeIfAbsent(s"bm25app2|$dir", _ => {
      val p = scratch("bm25-bapp2")
      copyInto(base, p)
      val docs = t(s, dir, "documents")
      Retrieval.bm25Append(
        p, docs.filter(col("doc_id") % 6 === 0), "doc_id", "text")
      Retrieval.bm25Append(
        p, docs.filter(col("doc_id") % 6 === 3), "doc_id", "text")
      p
    })
  }

  /** Shared q159/q166 soundness body over a PERSISTED quantized IVF
    * index at `path`: probe with the fixed query slice, then (a) every
    * hit must re-verify against the exact cosine on the raw embeddings
    * (the int8 stage may only SELECT, never alter a score), (b) no
    * self-match or fabricated id, (c) each hit's vector must be
    * assigned (under the index's own centroids) to one of its query's
    * nprobe probed cells — a hit from an unprobed cell means partition
    * pruning is broken, (d) a zero-hit probe is itself a violation.
    * Empty output = sound. ONE body for the appended (q159) and
    * streamed-in (q166) index states, so the checks cannot drift.
    */
  private def ivfQSoundness(
      s: SparkSession, emb: DataFrame, path: String): DataFrame =
    ivfTwoStageSoundness(s, emb, path,
      q => Similarity.ivfQTopKIndexed(
        path, q, "vec_id", "embedding", k = 5, nprobe = 2))

  /** q207's PQ variant of the same checks — ONE shared body
    * ([[ivfTwoStageSoundness]]), so the int8 and PQ gates cannot
    * drift. */
  private def ivfPqSoundness(
      s: SparkSession, emb: DataFrame, path: String): DataFrame =
    ivfTwoStageSoundness(s, emb, path,
      q => Similarity.ivfPqTopKIndexed(
        path, q, "vec_id", "embedding", k = 5, nprobe = 2))

  private def ivfTwoStageSoundness(
      s: SparkSession, emb: DataFrame, path: String,
      probeFn: DataFrame => DataFrame): DataFrame = {
    val queries = emb.filter(col("vec_id") % 10 === 3)
      .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
    val hits = probeFn(queries)
      .withColumn("sim", round(col("sim"), 4))
      .transform(graft.CacheScope.persisted)
    val unsound = cnt(annUnsoundHits(
        hits.select(col("qid"), col("id"), col("sim")), emb, queries),
      "unsound_hit")
    // position-aligned load + posToCell mapping: after ivfSplitCells the
    // centroid table has gaps, so positions are NOT cell ids (q168)
    val (cellIds, cents) = Similarity.loadCentroidTable(s, path)
    val qCells = queries.select(
      col("vec_id").as("qid"),
      transform(graft.functions.VecExprs.nearestCentroids(
        col("embedding").cast("array<double>"), cents, 2),
        p => Similarity.posToCell(p, cellIds)).as("cells"))
    // the hit's STORED cell, straight from the index partitions — equal
    // to the recomputed nearest-centroid assignment for build/append/
    // ingest states, but after ivfSplitCells a row legitimately sits
    // with the nearer CHILD of its retired parent, which need not be
    // its globally-nearest centroid; partition-pruning soundness means
    // "the hit came from a probed partition", which is exactly this
    val cCell = s.read.parquet(s"$path/corpus")
      .select(col("id"), col("cell").cast("int").as("ccell"))
    val unpruned = cnt(hits
      .join(broadcast(qCells), "qid")
      .join(cCell, "id")
      .filter(!array_contains(col("cells"), col("ccell"))), "unpruned_hit")
    val vacuous = hits.agg(count(lit(1)).as("n")).filter(col("n") === 0)
      .select(lit("no_hits").as("kind"), col("n"))
    unsound.unionByName(unpruned).unionByName(vacuous)
      .orderBy(col("kind"), col("n"))
  }

  /** ANN soundness gate body (q40/q41): the hits that are NOT real — a
    * self-match, a fabricated qid/id, or a reported similarity that
    * differs from the exact cosine recomputed on the pair's own vectors
    * (same array<double> cast and cosine expression the ANN operators
    * rank with, so agreement is bit-exact before the shared round).
    * Sound output = empty set.
    */
  private def annUnsoundHits(
      hits: DataFrame, corpus: DataFrame, queries: DataFrame): DataFrame = {
    val qv = queries.select(
      col("vec_id").as("qid"), col("embedding").cast("array<double>").as("qvec"))
    val cv = corpus.select(
      col("vec_id").as("id"), col("embedding").cast("array<double>").as("cvec"))
    hits
      .join(qv, Seq("qid"), "left")
      .join(cv, Seq("id"), "left")
      // null-safe inequality: cosine is NULL for zero-norm vectors, and a
      // plain =!= would evaluate NULL there — silently DROPPING the
      // unsound hit from the gate. <=> keeps it flagged.
      .filter(
        col("qid") === col("id") ||
          col("qvec").isNull || col("cvec").isNull ||
          !(round(Similarity.cosine(col("qvec"), col("cvec")), 4) <=> col("sim")))
      .select(col("qid"), col("id"), col("sim"))
      .orderBy(col("qid"), col("id"))
  }

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Token counting + char stats per language.
    // Integer sums divided by counts can land exactly on rounding halfway
    // points (terminating decimals); anchor the quotient at scale 10 so
    // both engines resolve the visible round in exact decimal — see
    // Relational.decAvg.
    "q20_token_stats" -> ((s, dir) => {
      def intAvg(c: org.apache.spark.sql.Column) =
        round((sum(c).cast("double") / count(lit(1))).cast("decimal(38,10)"), 4)
          .cast("double")
      t(s, dir, "documents")
        .groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n_docs"),
          intAvg(TextAnalysis.tokenCount(col("text"))).as("avg_tokens"),
          intAvg(length(col("text"))).as("avg_chars"))
        .orderBy(col("lang"))
    }),

    // Quality scoring per language (length saturation + type-token ratio +
    // punctuation noise).
    "q21_quality" -> ((s, dir) =>
      t(s, dir, "documents")
        .groupBy(col("lang"))
        .agg(round(avg(TextAnalysis.qualityScore(col("text"))), 4).as("avg_quality"))
        .orderBy(col("lang"))),

    // Heuristic language ID (single-profile variant so the oracle can
    // replicate it; the multi-profile version is spec-tested).
    "q22_langid" -> ((s, dir) =>
      t(s, dir, "documents")
        .withColumn(
          "lang_pred",
          TextAnalysis.langId(col("text"), enProfile, minRatio = 0.08))
        .groupBy(col("lang"), col("lang_pred"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("lang"), col("lang_pred"))),

    // Exact dedup profile: docs vs distinct content digests per source.
    "q23_dedup_exact" -> ((s, dir) =>
      t(s, dir, "documents")
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_docs"),
          countDistinct(md5(col("text"))).as("n_unique"))
        .orderBy(col("source"))),

    // MinHash + banded LSH near-dup candidates, Jaccard-verified. The
    // signature is built from PORTABLE polynomial digests (HashExprs
    // .familyHash over poly257/poly263 char folds), so the oracle
    // replicates the full signature, the band-slice collision relation,
    // and the exact-Jaccard verification — a hard gate, not rows-only.
    // (The engine's band BUCKET is murmur3 of the slice; the oracle tests
    // slice equality directly — identical up to a 2^-32 bucket collision,
    // which could only ADD an already-Jaccard-verified pair.)
    "q24_minhash_lsh" -> ((s, dir) =>
      Dedup.minhashNearDuplicates(
          t(s, dir, "documents"), "doc_id", "text",
          shingleSize = 2, numHashes = 64, bands = 16, threshold = 0.4)
        .orderBy(col("id_a"), col("id_b"))),

    // SimHash fingerprints + Hamming-close pairs (chunk-blocked at the
    // classic radius 3 = 4 x 16-bit chunks; recall is exact by pigeonhole).
    // Pigeonhole completeness means the output IS the full Hamming<=3
    // relation, so the oracle needs no blocking at all: it rebuilds the
    // portable fingerprint bits per doc and brute-forces every pair.
    "q25_simhash" -> ((s, dir) =>
      Dedup.simhashNearDuplicates(
          t(s, dir, "documents"), "doc_id", "text", maxHamming = 3)
        .orderBy(col("id_a"), col("id_b"))),

    // Exact word-set Jaccard pairs within a language block.
    "q26_jaccard_pairs" -> ((s, dir) =>
      Dedup.jaccardPairs(
          t(s, dir, "documents"), "doc_id", "text",
          blockCols = Seq("lang"), shingleSize = 1, threshold = 0.5)
        .orderBy(col("lang"), col("id_a"), col("id_b"))),

    // Exact brute-force cosine top-k (query set = first 5 vectors,
    // broadcast; corpus streamed — no corpus shuffle).
    "q27_knn_brute" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.bruteForceTopK(
          emb, "vec_id", "embedding",
          emb.filter(col("vec_id") < 5), "vec_id", "embedding", k = 10)
        .select(
          col("qid"), col("id"),
          round(col("sim"), 4).as("sim"), col("rank").as("rnk"))
        .orderBy(col("qid"), col("rnk"))
    }),

    // LSH-bucketed ANN over the same queries (the scale path; recall vs
    // brute force is spec-tested). Hyperplane components are portable
    // digests of "hp|seed|g", so the oracle regenerates all 5120 plane
    // values, the 8x10-bit sign keys, and the radius-1 multiprobe
    // collision relation, then reranks by exact cosine — hard gate.
    "q28_ann_lsh" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.lshTopK(
          emb, "vec_id", "embedding",
          emb.filter(col("vec_id") < 5), "vec_id", "embedding",
          dim = 64, k = 10)
        .select(
          col("qid"), col("id"),
          round(col("sim"), 4).as("sim"), col("rank").as("rnk"))
        .orderBy(col("qid"), col("rnk"))
    }),

    // IVF (inverted-file) ANN over the same queries — the other scale path
    // next to LSH (coarse k-means quantizer + nprobe). The quantizer is
    // FULLY deterministic (driver-side Lloyd over the id-ordered sample,
    // sums folded in id order), so the oracle unrolls all 8 k-means
    // iterations in SQL (ordered list_reduce folds reproduce the IEEE
    // accumulation bit-for-bit), reassigns the corpus, probes 4 cells per
    // query, and reranks by exact cosine — hard gate (ivfOracleSql).
    "q35_ann_ivf" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.ivfTopK(
          emb, "vec_id", "embedding",
          emb.filter(col("vec_id") < 5), "vec_id", "embedding",
          k = 10, nlist = 16, nprobe = 4)
        .select(
          col("qid"), col("id"),
          round(col("sim"), 4).as("sim"), col("rank").as("rnk"))
        .orderBy(col("qid"), col("rnk"))
    }),

    // Embedding-cosine near-duplicate pairs (banded multi-table LSH, exact-
    // verified). This corpus has no pairs above 0.9 (max cosine is ~0.6 at
    // sf0.1), so both engines return the empty set and the oracle is sound:
    // LSH blocking can only restrict candidates, never add them. The
    // found-pair path is covered by SimilaritySpec on planted data.
    "q36_emb_neardup" -> ((s, dir) =>
      Similarity.cosineNearDuplicates(
          t(s, dir, "embeddings"), "vec_id", "embedding",
          dim = 64, threshold = 0.9)
        .orderBy(col("id_a"), col("id_b"))),

    // ---- gate-visible checks for the hash-defined operators ----
    // Since round 7 the hash-defined queries (q24/q25/q28/q35) carry HARD
    // oracles of their own: every hash they depend on (minhash family,
    // simhash bit stream, hyperplane components, k-means folds) is
    // engine-portable arithmetic that the DuckDB SQL replicates verbatim.
    // These by-construction gates are kept alongside — they check each
    // operator's soundness guarantee as an empty-set difference (the q36
    // pattern) INDEPENDENTLY of any hash replication, so a regression in
    // either the sketch or the verification path is caught twice, from
    // two different directions. Recall stays spec-tested on
    // planted/clustered data where it is meaningful.

    // q24's guarantee: every verified MinHash pair IS an exact-Jaccard pair
    // at the same shingle size and threshold — i.e. each emitted pair's
    // true Jaccard clears the bar. Checked per-pair through the
    // hashed-sorted-set merge machinery (jaccardPairs' verify path, itself
    // oracle-proven against DuckDB brute force by q26), which is
    // INDEPENDENT of the array_intersect/array_union path minhash
    // verification uses internally. Restricting the exact side to the LSH
    // output is semantically identical to the previous
    // `lsh.except(full PPJoin)` form (pair ∈ exact ⟺ J >= t) at a fraction
    // of the cost; jaccardPairs' own candidate generation stays covered by
    // q26's oracle.
    "q38_minhash_sound" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val lsh = Dedup.minhashNearDuplicates(
          d, "doc_id", "text",
          shingleSize = 2, numHashes = 64, bands = 16, threshold = 0.4)
        .select(col("id_a"), col("id_b"))
      val hs = d.select(
        col("doc_id").as("id"),
        graft.functions.HashExprs.hashedSortedSet(
          Dedup.shingles(col("text"), 2)).as("hs"))
      val inter = graft.functions.HashExprs.sortedIntersectSize(
        col("hs_a"), col("hs_b"))
      lsh
        .join(hs.toDF("id_a", "hs_a"), "id_a")
        .join(hs.toDF("id_b", "hs_b"), "id_b")
        .withColumn("inter", inter)
        .withColumn(
          "j",
          col("inter").cast("double") /
            (size(col("hs_a")) + size(col("hs_b")) - col("inter")))
        .filter(col("j") < 0.4)
        .select(col("id_a"), col("id_b"))
        .orderBy(col("id_a"), col("id_b"))
    }),

    // q25's guarantee is two-sided (pigeonhole blocking has EXACT recall
    // for the radius): chunk-blocked pairs == brute-force Hamming pairs.
    // Symmetric difference must be empty. The brute side is the O(N^2)
    // diagnostic over 64-bit fingerprints only — fine at gate scales
    // (5k docs = 12.5M long comparisons), never the production path.
    "q39_simhash_complete" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val found = Dedup.simhashNearDuplicates(d, "doc_id", "text", maxHamming = 3)
        .select(col("id_a"), col("id_b"))
      val fps = d.select(col("doc_id").as("id"), Dedup.simhash64(col("text")).as("fp"))
      val brute = fps.toDF("id_a", "fp_a")
        .join(fps.toDF("id_b", "fp_b"), col("id_a") < col("id_b"))
        .filter(Dedup.hamming64(col("fp_a"), col("fp_b")) <= 3)
        .select(col("id_a"), col("id_b"))
      // symmetric difference via ONE full-outer join: except().union(except())
      // would plan the O(N^2) brute subtree twice (both pair sets are
      // already distinct, so null-side rows are exactly the difference)
      found.withColumn("in_f", lit(1))
        .join(brute.withColumn("in_b", lit(1)), Seq("id_a", "id_b"), "full_outer")
        .filter(col("in_f").isNull || col("in_b").isNull)
        .select(col("id_a"), col("id_b"))
        .orderBy(col("id_a"), col("id_b"))
    }),

    // q28's guarantee: every LSH ANN hit is a real (query, corpus) pair
    // whose reported similarity equals the exact cosine. Checked by DIRECT
    // RECOMPUTATION: join each reported hit back to its two vectors and
    // recompute the cosine — a hit is unsound iff it is a self-match,
    // either id is fabricated (left-join miss), or the reported similarity
    // differs. No ranking of the full Q x N relation (the old form ran
    // bruteForceTopK with k = MaxValue through a window just to feed an
    // except) — the gate's cost is now O(hits), not O(Q x N log N).
    "q40_ann_lsh_sound" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val qs = emb.filter(col("vec_id") < 5)
      val lsh = Similarity.lshTopK(
          emb, "vec_id", "embedding", qs, "vec_id", "embedding",
          dim = 64, k = 10)
        .select(col("qid"), col("id"), round(col("sim"), 4).as("sim"))
      annUnsoundHits(lsh, emb, qs)
    }),

    // q35's guarantee, same direct-recomputation form for the IVF path.
    "q41_ann_ivf_sound" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val qs = emb.filter(col("vec_id") < 5)
      val ivf = Similarity.ivfTopK(
          emb, "vec_id", "embedding", qs, "vec_id", "embedding",
          k = 10, nlist = 16, nprobe = 4)
        .select(col("qid"), col("id"), round(col("sim"), 4).as("sim"))
      annUnsoundHits(ivf, emb, qs)
    }),

    // Deterministic md5-keyed train/val/test split — reproducible across
    // runs, partitionings and engines (the oracle replicates the exact
    // assignment arithmetic), unlike rand()-based splits.
    "q42_hash_split" -> ((s, dir) =>
      Sampling.assignSplit(
          t(s, dir, "documents"), "doc_id",
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("total_chars"))
        .orderBy(col("split"))),

    // Deterministic stratified sampling: per-language keep fractions over
    // the same engine-independent uniform key (the scaled, reproducible
    // analogue of sampleBy).
    "q43_stratified_sample" -> ((s, dir) =>
      Sampling.stratifiedSample(
          t(s, dir, "documents"), "doc_id", "lang",
          fractions = Map("en" -> 0.5, "fr" -> 0.25),
          defaultFraction = 0.1)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("total_chars"))
        .orderBy(col("lang"))),

    // Interval join without an equality key: clicks within 5 minutes after
    // each purchase, via bucketized equi-join (identical output to the
    // naive inequality join, which DuckDB's IEJoin runs as the oracle).
    "q44_range_join" -> ((s, dir) => {
      // events.ts is a raw ns-since-epoch long (Tables nanosAsLong) —
      // offsets below are therefore nanoseconds
      val ev = t(s, dir, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("p_id"), col("ts").as("p_ts"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id").as("c_id"), col("ts").as("c_ts"))
      RangeJoin.timeRangeJoin(
          purchases, "p_ts", clicks, "c_ts",
          lower = 0L, upper = 5L * 60 * 1000000000L)
        .groupBy(col("p_id"))
        .agg(count(lit(1)).as("n_clicks"), min(col("c_id")).as("min_click_id"))
        .orderBy(col("p_id"))
    }),

    // Top-3 characteristic terms per doc by tf-idf over a deterministic
    // subset (every stage — tokenize, tf, df, ln scoring, ranked top-k —
    // replicated by the oracle).
    "q46_tfidf" -> ((s, dir) =>
      TextAnalysis.tfidfTopTerms(
          t(s, dir, "documents").filter(col("doc_id") < 100), "doc_id", "text", 3)
        .withColumnRenamed("id", "doc_id")
        .orderBy(col("doc_id"), col("rnk"))),

    // End-to-end curation pipeline composition — the operators above are
    // only useful if they CHAIN: quality-gate, exact-dedup survivor,
    // deterministic split, per-split profile; every stage replicated by
    // the oracle.
    "q45_curation_pipeline" -> ((s, dir) => {
      val scored = t(s, dir, "documents")
        .withColumn("q", TextAnalysis.qualityScore(col("text")))
        .filter(col("q") >= 0.75)
      val deduped = Dedup.dedupExact(scored, "doc_id", "text")
      Sampling.assignSplit(deduped, "doc_id", Seq("train" -> 0.9, "eval" -> 0.1))
        .groupBy(col("split"))
        .agg(
          count(lit(1)).as("n"),
          round(avg(col("q")), 4).as("avg_quality"))
        .orderBy(col("split"))
    }),

    // Sketch aggregations with a GATE-VISIBLE error bound (the q38-q41
    // empty-set pattern): per event type, HyperLogLog++ distinct counts and
    // t-digest-style approximate medians are compared against their exact
    // counterparts INSIDE the query; any group whose sketch deviates beyond
    // bound (3x the configured rsd for HLL, 5% of the value range for the
    // median) is emitted — expected empty. Sketches are the only viable
    // form of these aggregates at 100 TB (exact distinct shuffles every
    // key; exact percentile sorts); the bound check keeps them honest.
    "q47_sketch_bounds" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      // distinct-count and percentile checks aggregated SEPARATELY: mixing
      // a distinct aggregate (expand plan) with imperative ObjectHashAgg
      // buffers (percentile sketches) in one agg forces a sort-based
      // fallback over the expanded rows — measured 3x slower than the two
      // clean aggregations plus a 5-row join
      val dist = ev.groupBy(col("event_type")).agg(
        countDistinct(col("user_id")).as("exact_d"),
        approx_count_distinct(col("user_id"), 0.05).as("approx_d"))
      val pct = ev.groupBy(col("event_type")).agg(
        expr("percentile(value, 0.5)").as("exact_p50"),
        percentile_approx(col("value"), lit(0.5), lit(10000)).as("approx_p50"),
        (max(col("value")) - min(col("value"))).as("vrange"))
      dist.join(pct, "event_type")
        .filter(
          abs(col("approx_d") - col("exact_d")) >
            col("exact_d").cast("double") * 0.15 ||
            abs(col("approx_p50") - col("exact_p50")) > col("vrange") * 0.05)
        .select(col("event_type"))
        .orderBy(col("event_type"))
    }),

    // Array-math profile of the embedding corpus per class label.
    "q29_emb_stats" -> ((s, dir) => {
      val v = col("embedding").cast("array<double>")
      val norm = sqrt(aggregate(
        transform(v, x => x * x), lit(0.0), (acc, x) => acc + x))
      t(s, dir, "embeddings")
        .groupBy(col("label"))
        .agg(
          count(lit(1)).as("n"),
          round(avg(norm), 4).as("avg_norm"))
        .orderBy(col("label"))
    }),

    // Gopher-style repetition hygiene, aggregated per language as exact
    // integer sums (per-doc metrics are integers; the flag is an integer
    // cross-multiplication — nothing float crosses the engine boundary).
    "q48_repetition" -> ((s, dir) => {
      val stats = CurationFilters.repetitionStats(
        t(s, dir, "documents"), "doc_id", "text")
        .join(t(s, dir, "documents").select(col("doc_id").as("id"), col("lang")), Seq("id"))
      stats.groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("total_tokens"),
          sum(col("n_tokens") - col("n_distinct_words")).as("total_dup_words"),
          sum(col("n_bigrams") - col("n_distinct_bigrams")).as("total_dup_bigrams"),
          sum(when(CurationFilters.repetitionFlag(20, 20), 1L).otherwise(0L))
            .as("n_flagged"))
        .orderBy(col("lang"))
    }),

    // Corpus-wide boilerplate 3-grams: top 20 by total occurrences
    // (count desc, gram asc — fully deterministic).
    "q49_heavy_ngrams" -> ((s, dir) =>
      CurationFilters.heavyNgrams(
        t(s, dir, "documents"), "text", n = 3, minCount = 2L, k = 20)),

    // Benchmark decontamination: docs (doc_id % 17 != 0) sharing any
    // 4-gram with the deterministic benchmark slice (doc_id % 17 == 0),
    // counted per source. The operator joins on xxhash64-hashed grams
    // (longs through the exchange); the oracle joins raw gram strings —
    // agreement IS the collision-freeness check, and it is deterministic.
    "q50_decontam" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val flagged = CurationFilters.decontaminate(
        docs.filter(col("doc_id") % 17 =!= 0),
        docs.filter(col("doc_id") % 17 === 0),
        "doc_id", "text", n = 4)
      docs.join(flagged.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left_semi")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_contaminated"))
        .orderBy(col("source"))
    }),

    // Deterministic exactly-k-per-group sample: 40 docs per language,
    // ranked by the engine-independent md5 uniform key. The key is an
    // integer/2^32 dyadic rational — bit-exact in both engines — so the
    // oracle replicates the ranking and the kept set id-for-id.
    "q62_exact_k_sample" -> ((s, dir) =>
      Sampling.sampleExactKPerGroup(
          t(s, dir, "documents"), "lang", "doc_id", k = 40)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n"), sum(col("doc_id")).as("id_sum"))
        .orderBy(col("lang"))),

    // Normalized exact dedup (CCNet-style lowercase dedup): survivors
    // after grouping on the normalized text. The operator groups on
    // md5(normalized); the oracle groups on the raw normalized string —
    // agreement doubles as the md5 collision check (as in q50).
    "q63_normalized_dedup" -> ((s, dir) =>
      Dedup.dedupExactNormalized(t(s, dir, "documents"), "doc_id", "text")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_kept"), sum(col("doc_id")).as("id_sum"))
        .orderBy(col("source"))),

    // Quality-percentile cut: keep the top 3/4 of each language by the
    // INTEGER quality key (length saturation + diversity + low punct,
    // integral division only), cut by integer cross-multiplication
    // rank*4 <= n*3 over (key desc, doc_id) — every comparison the rank
    // and the cut make is on integers, so DuckDB replicates the kept set
    // bit-for-bit.
    "q61_quality_cut" -> ((s, dir) => {
      val scored = t(s, dir, "documents")
        .withColumn("qkey", TextAnalysis.qualityKeyInt(col("text")))
      Sampling.topFractionPerGroup(scored, "lang", "qkey", "doc_id", 3, 4)
        .groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n_kept"),
          sum(col("doc_id")).as("id_sum"),
          min(col("qkey")).as("min_kept_key"))
        .orderBy(col("lang"))
    }),

    // PII scan + redaction over deterministically planted PII (the corpus
    // itself is clean word-soup; the plant guarantees nonzero counts and
    // exercises every pattern + the replacement order). residual_pii
    // re-scans the REDACTED text with all three patterns — the inline
    // soundness claim is that it sums to zero. Patterns are written in the
    // Java-regex/RE2 common subset, so the oracle runs them verbatim.
    "q64_pii" -> ((s, dir) => {
      val planted = t(s, dir, "documents").withColumn("text", concat(
        col("text"),
        when(col("doc_id") % 5 === 0, concat(lit(" contact user"),
          col("doc_id").cast("string"), lit("@example.com"))).otherwise(lit("")),
        when(col("doc_id") % 7 === 0, concat(lit(" host 10."),
          (col("doc_id") % 250).cast("string"), lit(".0."),
          (col("doc_id") % 200).cast("string"))).otherwise(lit("")),
        when(col("doc_id") % 11 === 0, concat(lit(" call 555-"),
          lpad((col("doc_id") % 1000).cast("string"), 3, "0"), lit("-"),
          lpad((col("doc_id") % 10000).cast("string"), 4, "0"))).otherwise(lit(""))))
      val scan = CurationFilters.piiScan(planted, "doc_id", "text")
      planted.select(col("doc_id").as("id"), col("source"))
        .join(scan, Seq("id"))
        .groupBy(col("source"))
        .agg(
          sum(when(col("n_emails") + col("n_ips") + col("n_phones") > 0, 1L)
            .otherwise(0L)).as("n_docs_with_pii"),
          sum(col("n_emails")).as("n_emails"),
          sum(col("n_ips")).as("n_ips"),
          sum(col("n_phones")).as("n_phones"),
          sum(length(col("redacted")).cast("long")).as("redacted_chars"),
          sum((size(regexp_extract_all(col("redacted"),
              lit(CurationFilters.emailPattern), lit(0))) +
            size(regexp_extract_all(col("redacted"),
              lit(CurationFilters.ipv4Pattern), lit(0))) +
            size(regexp_extract_all(col("redacted"),
              lit(CurationFilters.phonePattern), lit(0)))).cast("long"))
            .as("residual_pii"))
        .orderBy(col("source"))
    }),

    // Deterministic corpus shuffle: (shard, pos) permutation coordinates.
    // order_checksum = sum(pos * doc_id) pins the EXACT within-shard
    // order (any transposition of two docs changes it), so oracle
    // agreement proves the full permutation, not just shard membership.
    "q65_corpus_shuffle" -> ((s, dir) =>
      Sampling.deterministicShuffle(
          t(s, dir, "documents"), "doc_id", numShards = 8)
        .groupBy(col("shard"))
        .agg(
          count(lit(1)).as("n"),
          sum(col("doc_id")).as("id_sum"),
          sum(col("pos") * col("doc_id")).as("order_checksum"))
        .orderBy(col("shard"))),

    // Temperature-weighted mixture resample (alpha = 0.5): per-source
    // targets totalTarget * floor(sqrt(n)) / sum(floor(sqrt(n))) drawn
    // exactly by md5 rank. Integer targets + integer ranking key => the
    // oracle replicates the kept set id-for-id (id_sum pins it).
    "q66_temperature_mix" -> ((s, dir) =>
      Sampling.temperatureResample(
          t(s, dir, "documents"), "source", "doc_id", totalTarget = 2000L)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_kept"), sum(col("doc_id")).as("id_sum"))
        .orderBy(col("source"))),

    // Contamination depth: for every corpus doc sharing a 4-gram with the
    // benchmark slice, how many of its distinct grams are benchmark grams.
    // The operator joins hashed grams; the oracle joins raw gram strings —
    // agreement doubles as the collision-freeness check (as in q50), and
    // the overlap percentage is integral division so the max is exact.
    "q67_contam_overlap" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val ov = CurationFilters.contaminationOverlap(
        docs.filter(col("doc_id") % 17 =!= 0),
        docs.filter(col("doc_id") % 17 === 0),
        "doc_id", "text", n = 4)
      docs.select(col("doc_id").as("id"), col("source"))
        .join(ov, Seq("id"))
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_contaminated"),
          sum(col("n_grams")).as("total_grams"),
          sum(col("n_shared")).as("total_shared"),
          max(call_function("div", col("n_shared") * 100L, col("n_grams")))
            .as("max_overlap_pct"))
        .orderBy(col("source"))
    }),

    // Token-length histogram per language: integer bucket edges, labels
    // ordered by construction. Corpus profiling for context-window
    // planning; integer comparisons only.
    "q68_token_hist" -> ((s, dir) =>
      TextAnalysis.tokenHistogram(
          t(s, dir, "documents"), "lang", "text", Seq(50, 100, 200, 400))
        .orderBy(col("lang"), col("bucket"))),

    // Sequence-level dedup: chunk every document to 64-token sequences,
    // dedup chunks GLOBALLY (survivor = first (doc_id, chunk) per chunk
    // digest). The operator windows on md5(chunk_text); the oracle windows
    // on md5 recomputed from its own slicing — token conservation and the
    // kept-token totals pin both the chunking and the survivor choice.
    "q69_chunk_dedup" -> ((s, dir) =>
      Dedup.chunkDedup(
          t(s, dir, "documents"), "doc_id", "text", budget = 64,
          carryCols = Seq("lang"))
        .groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n_chunks"),
          sum(when(col("keep"), 1L).otherwise(0L)).as("n_unique_chunks"),
          sum(when(col("keep"), col("chunk_tokens")).otherwise(0L))
            .as("tokens_kept"),
          sum(col("chunk_tokens")).as("total_tokens"))
        .orderBy(col("lang"))),

    // Encoding hygiene: control (Cc) and format (Cf) characters planted
    // deterministically (BEL+ESC on doc_id%3; ZERO WIDTH SPACE + SOFT
    // HYPHEN on doc_id%4 -> chr(7)/chr(27)/chr(8203)/chr(173) in the
    // oracle), stripped by sanitizeText; the oracle runs the same
    // Unicode-category pattern. Counts + removed-char totals pin the
    // sanitation exactly.
    "q70_sanitize" -> ((s, dir) => {
      val planted = t(s, dir, "documents").withColumn("text", concat(
        col("text"),
        when(col("doc_id") % 3 === 0, lit("\u0007alert\u001B")).otherwise(lit("")),
        when(col("doc_id") % 4 === 0, lit("\u200Bzw\u00AD")).otherwise(lit(""))))
      planted
        .withColumn("clean", TextAnalysis.sanitizeText(col("text")))
        .withColumn("removed",
          (length(col("text")) - length(col("clean"))).cast("long"))
        .groupBy(col("source"))
        .agg(
          sum(when(col("removed") > 0, 1L).otherwise(0L)).as("n_docs_affected"),
          sum(col("removed")).as("n_chars_removed"),
          sum(length(col("clean")).cast("long")).as("clean_chars"))
        .orderBy(col("source"))
    }),

    // C4-style blocklist gate: exact token membership on the lowercased
    // text (the list is the model; corpus vocabulary words stand in).
    "q71_blockwords" -> ((s, dir) =>
      t(s, dir, "documents")
        .withColumn("n_blocked", TextAnalysis.blockwordCount(
          col("text"), Seq("merge", "batch", "spark")))
        .groupBy(col("lang"))
        .agg(
          sum(when(col("n_blocked") > 0, 1L).otherwise(0L)).as("n_flagged_docs"),
          sum(col("n_blocked")).as("total_blockwords"))
        .orderBy(col("lang"))),

    // Character-distribution entropy per language — the perplexity proxy.
    // Per-doc entropies round at 4 decimals in BOTH engines before the
    // min/max; the avg rounds at 3 (entropy values are irrational, so a
    // last-ulp summation difference cannot straddle a rounding boundary).
    "q72_char_entropy" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      TextAnalysis.charEntropyStats(docs, "doc_id", "text")
        .join(docs.select(col("doc_id").as("id"), col("lang")), Seq("id"))
        .groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("total_chars"),
          round(avg(col("entropy_bits")), 3).as("avg_entropy_bits"),
          min(col("entropy_bits")).as("min_entropy_bits"),
          max(col("entropy_bits")).as("max_entropy_bits"))
        .orderBy(col("lang"))
    }),

    // Binary metadata round-trip: spec-valid synthetic PNG/WAV headers
    // built from doc_id arithmetic, parsed back by the REAL byte-level
    // header parsers (beUInt/leUInt on binary columns — no codec libs).
    // The oracle computes the expected sums from doc_id directly, so
    // agreement proves construct -> parse is the identity.
    "q73_binary_meta" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val framed = docs.select(
        col("source"),
        Multimodal.syntheticPng(
          col("doc_id") % 1800 + 100, col("doc_id") % 997 + 50).as("png"),
        Multimodal.syntheticWav(
          when(col("doc_id") % 2 === 0, 44100L).otherwise(16000L),
          col("doc_id") % 2 + 1).as("wav"))
      framed.select(
          col("source"),
          Multimodal.pngDimensions(col("png")).as("dims"),
          Multimodal.wavMeta(col("wav")).as("audio"))
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("n"),
          sum(col("dims.width")).as("width_sum"),
          sum(col("dims.height")).as("height_sum"),
          sum(col("audio.sample_rate")).as("rate_sum"),
          sum(col("audio.channels")).as("channel_sum"))
        .orderBy(col("source"))
    }),

    // JSONL round trip with dead-letter: documents exported as JSONL
    // (plus 7 planted syntactically-broken lines), read back against the
    // strict schema. Valid rows aggregate per source exactly as the
    // original table (round trip is the identity for string/long
    // columns); the dead letter carries exactly the planted lines.
    "q79_jsonl" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val dirOut = jsonlDir
      DocJsonl.write(docs, dirOut)
      val broken = s.createDataset(Seq(
        "{not json at all", "{\"doc_id\": 1,,}", "[1, 2",
        "{\"unterminated\": \"", "}{", "{]", "nope"))(
        org.apache.spark.sql.Encoders.STRING).toDF("value")
      broken.write.mode("append").text(dirOut)
      val back = DocJsonl.read(s, dirOut, docs.schema)
      DocJsonl.valid(back)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n"), sum(col("doc_id")).as("id_sum"))
        .unionByName(DocJsonl.deadLetter(back)
          .agg(count(lit(1)).as("n"))
          .select(lit("___corrupt").as("source"), col("n"), lit(0L).as("id_sum")))
        .orderBy(col("source"))
    }),

    // Embedding-space decontamination: corpus vectors cosine-matching a
    // reference set (every 13th embedding, id-shifted) through the
    // cross-set banded LSH. Identical vectors agree on every band, so
    // each planted copy is found with probability 1; the corpus's max
    // organic cosine is ~0.49 (checked), far under the 0.95 bar, so the
    // relation is exactly the planted self-matches in both engines and
    // offset_check pins id_b = id_a + 100000 pairwise.
    "q93_emb_decontam" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val ref = emb.filter(col("vec_id") % 13 === 0)
        .select((col("vec_id") + 100000L).as("vec_id"), col("embedding"))
      Similarity.cosineNearDuplicatesAgainst(emb, ref, "vec_id",
          "embedding", dim = 64, threshold = 0.95)
        .agg(
          count(lit(1)).as("n_pairs"),
          sum(col("id_a")).as("src_id_sum"),
          sum(col("id_b") - lit(100000L) - col("id_a")).as("offset_check"),
          round(sum(col("sim")), 1).as("sim_sum"))
    }),

    // Reference-passage decontamination: corpus docs sharing winnowed
    // fingerprints with a benchmark PASSAGE (tokens 5-14 of every 23rd
    // doc — a 10-token run clears the k+w-1 = 6 winnowing guarantee, so
    // every source doc shares >= 1 fingerprint with its own passage;
    // minShared = 2 then filters accidental single-fingerprint
    // collisions, trading that guarantee for precision — exactly the
    // knob a real pipeline turns). Contiguous-overlap complement of
    // q88's bag-overlap join; corpus-side stop-fingerprint cap.
    "q91_ref_passages" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val toks = TextAnalysis.tokens(col("text"))
      val ref = docs.filter(col("doc_id") % 23 === 0)
        .filter(size(toks) >= 14)
        .select(col("doc_id"), col("lang"),
          concat_ws(" ", slice(toks, lit(5), lit(10))).as("text"))
      Dedup.winnowedPassageMatchesAgainst(docs, ref, "doc_id", "text",
          blockCols = Seq("lang"), k = 3, window = 4,
          minShared = 2, maxDf = 100)
        .groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n_pairs"),
          countDistinct(col("id_a")).as("n_corpus_flagged"),
          countDistinct(col("id_b")).as("n_refs_matched"),
          sum(col("n_shared")).as("shared_total"))
        .orderBy(col("lang"))
    }),

    // Character-class encoding audit with planted non-ASCII (the base
    // corpus is pure-ASCII word soup; the plant gives the non-ASCII
    // column real signal). All-integer per-class counts.
    "q90_char_classes" -> ((s, dir) => {
      val planted = t(s, dir, "documents").withColumn("text", concat(
        col("text"),
        when(col("doc_id") % 3 === 0, lit(" na\u00EFve 3.14!"))
          .otherwise(lit(""))))
      TextAnalysis.charClasses(planted, "doc_id", "text",
          carryCols = Seq("source"))
        .groupBy(col("source"))
        .agg(
          sum(col("n_chars")).as("chars"),
          sum(col("n_letters")).as("letters"),
          sum(col("n_digits")).as("digits"),
          sum(col("n_punct")).as("punct"),
          sum(col("n_ws")).as("ws"),
          sum(col("n_non_ascii")).as("non_ascii"),
          sum(when(col("n_non_ascii") > 0, 1L).otherwise(0L))
            .as("n_docs_non_ascii"))
        .orderBy(col("source"))
    }),

    // Similarity-based decontamination: corpus docs whose token-set
    // Jaccard with ANY benchmark doc >= 0.9, via the R-S PPJoin
    // (Dedup.jaccardJoin). Benchmark = every 17th doc with one appended
    // token (J = n/(n+1) against its source, plus whatever organic
    // near-dups clear the bar — both engines see the same relation).
    // Per-pair jaccards anchor at round(4) -> DECIMAL before the sum so
    // the aggregate is order-independent in both engines.
    "q88_sim_decontam" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val bench = docs.filter(col("doc_id") % 17 === 0)
        .withColumn("text", concat(col("text"), lit(" canary")))
      Dedup.jaccardJoin(docs, bench, "doc_id", "text",
          blockCols = Seq("lang"), shingleSize = 1, threshold = 0.9)
        .groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n_pairs"),
          countDistinct(col("id_a")).as("n_flagged"),
          sum(col("jaccard").cast("decimal(10,4)")).cast("double")
            .as("sim_sum"))
        .orderBy(col("lang"))
    }),

    // HTML/markup stripping over deterministically planted tag soup
    // (script-with-contents, comments, tags, the five core entities).
    // Both engines run the same RE2-subset patterns + literal replaces;
    // counts and char totals pin extraction exactly.
    "q87_strip_markup" -> ((s, dir) => {
      val planted = t(s, dir, "documents").withColumn("text", concat(
        col("text"),
        when(col("doc_id") % 3 === 0,
          lit(" <p class=\"m\">Tom &amp; Jerry</p>")).otherwise(lit("")),
        when(col("doc_id") % 4 === 0,
          lit(" <script>var x = 1 &lt; 2;</script><b>bold</b>"))
          .otherwise(lit("")),
        when(col("doc_id") % 5 === 0,
          lit(" <!-- note --> five&nbsp;&#39;quoted&#39;"))
          .otherwise(lit(""))))
      planted
        .withColumn("clean", TextAnalysis.stripMarkup(col("text")))
        .groupBy(col("source"))
        .agg(
          sum(when(col("clean") =!= col("text"), 1L).otherwise(0L))
            .as("n_docs_changed"),
          sum((length(col("text")) - length(col("clean"))).cast("long"))
            .as("n_chars_removed"),
          sum(length(col("clean")).cast("long")).as("clean_chars"))
        .orderBy(col("source"))
    }),

    // Token-budget corpus cut: the top-50k-tokens prefix of the
    // (quality desc, id) order, via the bucketed prefix-sum (only the
    // straddling quality key ranks rows — see Sampling.tokenBudgetCut).
    // Integer key + integer token counts => the oracle replicates the
    // kept set document-for-document with one running-sum window.
    "q85_token_budget" -> ((s, dir) => {
      // persisted: tokenBudgetCut scans its input three times (per-key
      // totals, full-keep branch, straddle branch); caching the PROJECTED
      // frame (4 scalar cols, no text — ~32 bytes/doc) makes the regex
      // tokenization run once instead of three times
      val keyed = t(s, dir, "documents").select(
          col("doc_id"), col("lang"),
          TextAnalysis.qualityKeyInt(col("text")).as("qkey"),
          size(TextAnalysis.tokens(col("text"))).cast("long").as("nt"))
        .transform(graft.CacheScope.persisted(_))
      Sampling.tokenBudgetCut(keyed, "doc_id", "qkey", "nt",
          budget = 50000L)
        .groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n_kept"),
          sum(col("nt")).as("tokens_kept"),
          sum(col("doc_id")).as("id_sum"),
          min(col("qkey")).as("min_kept_key"))
        .orderBy(col("lang"))
    }),

    // Corpus-bigram log-prob with add-one smoothing — the word-salad
    // detector one Markov order above q74. Same rounding protocol:
    // per-doc round(4) (integer count ratios before the log, so both
    // engines see identical rationals), per-lang avg round(3).
    "q84_bigram_logprob" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      TextAnalysis.bigramLogProb(docs, "doc_id", "text", k = 1)
        .join(docs.select(col("doc_id").as("id"), col("lang")), Seq("id"))
        .groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_bigrams")).as("total_bigrams"),
          round(avg(col("avg_log2_prob")), 3).as("avg_score"),
          min(col("avg_log2_prob")).as("min_score"),
          max(col("avg_log2_prob")).as("max_score"))
        .orderBy(col("lang"))
    }),

    // Unicode NFC normalization — the canonical-form stage that must run
    // BEFORE any dedup/decontamination (the same visible string has many
    // code-point encodings; un-normalized corpora silently treat equal
    // texts as different). Decomposed sequences planted deterministically
    // (combining acute on doc_id%3; combining ring + diaeresis on
    // doc_id%4), folded by the codegen'd NormalizeExprs.nfc; the oracle
    // runs DuckDB's own nfc_normalize on the same planted text.
    "q83_nfc_normalize" -> ((s, dir) => {
      // decomposed on purpose: 'e'+U+0301, 'A'+U+030A, 'o'+U+0308 \u2014
      // NFC folds each pair to one precomposed code point
      val planted = t(s, dir, "documents").withColumn("text", concat(
        col("text"),
        when(col("doc_id") % 3 === 0, lit(" cafe\u0301")).otherwise(lit("")),
        when(col("doc_id") % 4 === 0, lit(" A\u030Angstro\u0308m"))
          .otherwise(lit(""))))
      planted
        .withColumn("clean", graft.functions.NormalizeExprs.nfc(col("text")))
        .withColumn("removed",
          (length(col("text")) - length(col("clean"))).cast("long"))
        .groupBy(col("source"))
        .agg(
          sum(when(col("removed") > 0, 1L).otherwise(0L)).as("n_docs_changed"),
          sum(col("removed")).as("n_marks_folded"),
          sum(length(col("clean")).cast("long")).as("clean_chars"))
        .orderBy(col("source"))
    }),

    // CMS heavy-hitter soundness gate: build the Count-Min sketch over
    // the full token stream (the 100 TB frequency path — the stream
    // never shuffles, see operators.HeavyHitters), take the EXACT top-20
    // tokens (affordable at gate scale), probe each through the sketch,
    // and emit any estimate that undercounts (impossible by CMS
    // construction) or overshoots truth by more than ceil(eps*N).
    // Empty set == the sketch honors both sides of its error contract.
    "q82_cms_heavy_sound" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      // persisted: the exploded token frame feeds both the sketch build
      // and the exact top-20 side — tokenize once, not three times. N for
      // the slack bound is the sketch's own totalCount (= items added).
      val toks = docs.select(
          explode(TextAnalysis.tokens(col("text"))).as("token"))
        .transform(graft.CacheScope.persisted(_))
      val eps = 1e-4
      val sketch = graft.operators.HeavyHitters.tokenSketchOfTokens(
        toks, "token", eps, confidence = 0.999, seed = 42)
      val slack = math.ceil(eps * sketch.totalCount()).toLong
      toks.groupBy(col("token")).agg(count(lit(1)).as("true_n"))
        .orderBy(col("true_n").desc, col("token")).limit(20)
        .withColumn("est_n", graft.functions.CmsExprs.cmsEstimate(
          xxhash64(col("token")), sketch))
        .filter(col("est_n") < col("true_n") ||
          col("est_n") > col("true_n") + slack)
        .select(col("token"), col("true_n"), col("est_n"))
        .orderBy(col("token"))
    }),

    // Corpus snapshot diff — the incremental-refresh primitive. Two
    // deterministic snapshots of the documents table: old drops
    // doc_id%7==0, cur drops doc_id%5==0 and rewrites text on
    // doc_id%3==0. Digest-projected full-outer join (only (id, md5)
    // cross the exchange; text never moves), then counts per status.
    "q81_corpus_diff" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val old = docs.filter(col("doc_id") % 7 =!= 0)
      val cur = docs.filter(col("doc_id") % 5 =!= 0)
        .withColumn("text",
          when(col("doc_id") % 3 === 0, concat(col("text"), lit(" [rev2]")))
            .otherwise(col("text")))
      SnapshotDiff.report(old, cur, "doc_id", "text")
        .orderBy(col("status"))
    }),

    // Z-order (Morton) interleaving — the multi-dimensional clustered
    // layout key. Pure 64-bit bit arithmetic; the oracle replicates the
    // 5-step magic-number spread with DuckDB's &, |, << on the same hex
    // masks, so every z-value matches bit-for-bit.
    "q78_zorder" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("source"), graft.functions.ZOrder.zValue(
          col("doc_id") % 1000, (col("doc_id") * 7) % 1000).as("z"))
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("n"),
          sum(col("z")).as("z_sum"),
          min(col("z")).as("z_min"),
          max(col("z")).as("z_max"))
        .orderBy(col("source"))),

    // One-call dataset-card profile per source: all exact integers from
    // a single hash aggregation.
    "q77_corpus_profile" -> ((s, dir) =>
      TextAnalysis.corpusProfile(t(s, dir, "documents"), "source", "text")
        .orderBy(col("source"))),

    // Exact weighted sampling without replacement (integer A-ES via the
    // max-of-w-draws identity): weight = quality tier (qualityKeyInt div
    // 250 + 1, in [1,5]), k = 100. Every draw, the max, and the top-k cut
    // are integers, so the oracle replicates the kept set id-for-id —
    // which a float-pow A-ES key could never guarantee across engines.
    "q76_weighted_sample" -> ((s, dir) => {
      val weighted = t(s, dir, "documents")
        .withColumn("wt", call_function("div",
          TextAnalysis.qualityKeyInt(col("text")), lit(250L)) + 1L)
      Sampling.weightedSampleK(weighted, "doc_id", "wt", k = 100)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_kept"), sum(col("doc_id")).as("id_sum"))
        .orderBy(col("lang"))
    }),

    // Corpus-unigram log-prob scoring (the LM-perplexity-filter skeleton
    // with the corpus as its own model). Per-doc scores round at 4 in
    // both engines before the per-lang min/max; avg rounds at 3.
    "q74_unigram_logprob" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      TextAnalysis.unigramLogProb(docs, "doc_id", "text")
        .join(docs.select(col("doc_id").as("id"), col("lang")), Seq("id"))
        .groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("total_tokens"),
          round(avg(col("avg_log2_prob")), 3).as("avg_score"),
          min(col("avg_log2_prob")).as("min_score"),
          max(col("avg_log2_prob")).as("max_score"))
        .orderBy(col("lang"))
    }),

    // URL/domain provenance analysis over deterministically planted
    // outlinks (the corpus is URL-free word soup; the plant exercises
    // extraction + domain grouping). Top domains by reference count,
    // ties broken by domain.
    "q75_url_domains" -> ((s, dir) => {
      val planted = t(s, dir, "documents").withColumn("text", concat(
        col("text"),
        when(col("doc_id") % 6 === 0, concat(lit(" see https://site"),
          (col("doc_id") % 13).cast("string"), lit(".example.org/p/"),
          col("doc_id").cast("string"))).otherwise(lit("")),
        when(col("doc_id") % 9 === 0, concat(lit(" ref http://cdn"),
          (col("doc_id") % 7).cast("string"), lit(".net"))).otherwise(lit(""))))
      TextAnalysis.urlRefs(planted, "doc_id", "text")
        .groupBy(col("domain"))
        .agg(
          count(lit(1)).as("n_refs"),
          countDistinct(col("id")).as("n_docs"))
        .orderBy(col("n_refs").desc, col("domain"))
        .limit(20)
    }),

    // Bloom decontamination soundness: the Bloom flag set must contain
    // every exactly-contaminated id (no false negatives by construction —
    // this gate makes the construction visible), and the Bloom-prefilter +
    // exact-join composition must equal the exact join outright. Gate
    // output = (exact \ bloom) ∪ (exact Δ composed) = empty.
    "q60_bloom_decontam_sound" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val corpus = docs.filter(col("doc_id") % 17 =!= 0)
      val bench = docs.filter(col("doc_id") % 17 === 0)
      val exact = CurationFilters.decontaminate(
        corpus, bench, "doc_id", "text", n = 4)
      val bloom = CurationFilters.bloomDecontaminate(
        corpus, bench, "doc_id", "text", n = 4, fpp = 0.01)
      val composed = CurationFilters.bloomDecontaminateExact(
        corpus, bench, "doc_id", "text", n = 4, fpp = 0.01)
      exact.except(bloom)
        .union(exact.except(composed))
        .union(composed.except(exact))
        .orderBy(col("id"))
    }),

    // Sequence packing: documents -> fixed-token-budget training packs,
    // greedy-contiguous within id-mod shards (operators.Packing).
    // Summarized per shard so the gate output is small; every column is an
    // exact integer.
    "q51_seq_packing" -> ((s, dir) =>
      Packing.packProfile(
          t(s, dir, "documents")
            .select(col("doc_id"),
              TextAnalysis.tokenCount(col("text")).cast("long").as("n_toks")),
          "doc_id", "n_toks", budget = 512L, numShards = 8)
        .groupBy(col("shard"))
        .agg(
          count(lit(1)).as("n_packs"),
          sum(col("n_docs")).as("n_docs"),
          sum(col("pack_tokens")).as("total_tokens"),
          max(col("pack_tokens")).as("max_pack_tokens"),
          sum(col("overflow_tokens")).as("total_overflow"))
        .orderBy(col("shard"))),

    // The full modern curation chain, every stage one of this engine's
    // oracle-proven operators: repetition gate (q48 machinery) ->
    // benchmark decontamination (q50) -> deterministic split (q42) ->
    // sequence packing of the train split (q51). Only integer-exact
    // stages, so the composed oracle is bit-stable end to end (the float
    // quality gate is composed separately in q45).
    "q52_train_pipeline" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val clean = docs.join(
        CurationFilters.repetitionStats(docs, "doc_id", "text")
          .filter(!CurationFilters.repetitionFlag(20, 20))
          .select(col("id").as("doc_id")),
        Seq("doc_id"), "left_semi")
      val corpus = clean.filter(col("doc_id") % 17 =!= 0)
      val decont = corpus.join(
        CurationFilters.decontaminate(
            corpus, docs.filter(col("doc_id") % 17 === 0),
            "doc_id", "text", n = 4)
          .withColumnRenamed("id", "doc_id"),
        Seq("doc_id"), "left_anti")
      val train = Sampling
        .assignSplit(decont, "doc_id", Seq("train" -> 0.9, "eval" -> 0.1))
        .filter(col("split") === "train")
        .select(col("doc_id"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("n_toks"))
      Packing.packProfile(train, "doc_id", "n_toks", budget = 512L, numShards = 4)
        .groupBy(col("shard"))
        .agg(
          count(lit(1)).as("n_packs"),
          sum(col("n_docs")).as("n_docs"),
          sum(col("pack_tokens")).as("total_tokens"))
        .orderBy(col("shard"))
    }),

    // Near-dup pairs -> dedup clusters: connected components (min-star
    // contraction) over the q26-style pair relation, summarized per lang.
    // The oracle computes the same components with a recursive CTE over
    // its own (q26-identical) pair SQL — the pair sets are proven equal,
    // so cluster agreement checks the CC algorithm itself. Threshold 0.95
    // (vs q26's 0.5): this synthetic corpus is pathologically
    // self-similar — at 0.5, ~99% of same-lang pairs connect and CC
    // measures one giant blob collapsing, not the sparse cluster
    // structure dedup CC exists for; at 0.95 the graph is sparse
    // (~1 pair/doc) and clusters are meaningful.
    "q53_dedup_clusters" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = Dedup.jaccardPairs(docs, "doc_id", "text", Seq("lang"), 1, 0.95)
      val sizes = Dedup.connectedComponents(pairs, "id_a", "id_b")
        .join(docs.select(col("doc_id").as("id"), col("lang")), Seq("id"))
        .groupBy(col("lang"), col("component"))
        .agg(count(lit(1)).as("sz"))
      sizes.groupBy(col("lang"))
        .agg(
          sum(col("sz")).as("n_docs_in_clusters"),
          count(lit(1)).as("n_clusters"),
          max(col("sz")).as("max_cluster"))
        .orderBy(col("lang"))
    }),

    // Semantic dedup soundness (q38-style empty-set gate): the operator's
    // cells and k-means centroids are engine-defined, so no SQL oracle can
    // replicate the assignment — but its KEEP/DROP invariant is checkable
    // by construction: every dropped doc must have a same-cell kept doc
    // within its near-dup component, i.e. re-deriving components from the
    // operator's own within-cell pairs must agree that each component
    // keeps exactly its min id. Emitted rows = violations; expected empty.
    "q54_semdedup_sound" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val th = 0.5
      val out = Similarity.semanticDedup(
        emb, "vec_id", "embedding", threshold = th, nlist = 64)
      // violation 1: a cell with members but zero keepers (every non-empty
      // component keeps its min id, and components are within-cell)
      val orphanCells = out.groupBy(col("cell"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"))
        .filter(col("n_kept") === 0 && col("n") > 0)
        .select(col("cell").cast("long").as("bad"))
      // violation 2: two KEPT docs that are a near-dup pair — re-derive
      // within-cell pairs from the (deterministic) assignment the operator
      // itself produces; any such pair proves the drop pass missed an edge
      val v = emb.select(col("vec_id").cast("long").as("id"),
        col("embedding").cast("array<double>").as("vec"))
      val kept = out.filter(col("keep")).select(col("id"), col("cell"))
        .join(v, Seq("id"))
      val keptPairs = kept.select(col("cell"), col("id").as("id_a"), col("vec").as("va"))
        .join(kept.select(col("cell"), col("id").as("id_b"), col("vec").as("vb")),
          Seq("cell"))
        .filter(col("id_a") < col("id_b"))
        .filter(Similarity.cosine(col("va"), col("vb")) >= th)
        .select(col("id_a").as("bad"))
      orphanCells.union(keptPairs).orderBy(col("bad"))
    }),

    // Winnowed rolling-hash fingerprints (MOSS local fingerprinting over
    // word 3-grams, window 4): passage-level document fingerprinting —
    // the rolling-hash member of the text-analysis family (fingerprint64
    // is the whole-document form, simhash the near-dup form). The oracle
    // replicates the polynomial hash AND the winnowing selection verbatim
    // in SQL (list comprehensions + list_reduce), so the gate pins the
    // entire sketch bit-for-bit: hash arithmetic, gram construction,
    // window minima, distinctness. All-integer outputs.
    "q56_winnow_fingerprints" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(
          col("lang"),
          TextAnalysis.winnowedFingerprints(col("text"), k = 3, window = 4)
            .as("fps"))
        .groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(size(col("fps"))).as("n_fingerprints"),
          sum(aggregate(col("fps"), lit(0L), (acc, x) => acc + x)).as("fp_sum"))
        .orderBy(col("lang"))),

    // IVF index round-trip parity: build the persisted cell-partitioned
    // index, query it, and demand bit-identical rows to the direct form
    // (deterministic quantizer + exact double parquet round-trip + the
    // same cosine expression). Gate output = symmetric difference = empty.
    "q59_ivf_index_parity" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val qs = emb.filter(col("vec_id") < 5)
      val direct = Similarity.ivfTopK(
          emb, "vec_id", "embedding", qs, "vec_id", "embedding",
          k = 10, nlist = 16, nprobe = 4)
        .select(col("qid"), col("id"), col("sim"), col("rank"))
      // one scratch dir per JVM, not per invocation: Bench's median-of-3
      // and repeated gate runs would otherwise each leave a full index
      // tree in /tmp (the writes inside are mode=overwrite)
      val tmp = ivfIndexDir
      Similarity.buildIvfIndex(emb, "vec_id", "embedding", nlist = 16, tmp)
      val indexed = Similarity.ivfTopKIndexed(
          tmp, qs, "vec_id", "embedding", k = 10, nprobe = 4)
        .select(col("qid"), col("id"), col("sim"), col("rank"))
      direct.except(indexed).union(indexed.except(direct))
        .orderBy(col("qid"), col("id"))
    }),

    // Passage-level duplicate pairs via winnowed fingerprints: contiguous
    // copied passages caught even when whole-document similarity is low.
    // Fully SQL-replicated (the whole sketch is engine-portable integer
    // arithmetic), so unlike the MinHash/SimHash candidates this
    // hash-defined path gets a HARD oracle, not rows-only.
    "q58_passage_matches" -> ((s, dir) =>
      Dedup.winnowedPassageMatches(
          t(s, dir, "documents"), "doc_id", "text",
          blockCols = Seq("lang"), k = 3, window = 4,
          minShared = 2, maxDf = 100)
        .select(col("lang"), col("id_a"), col("id_b"), col("n_shared"))
        .orderBy(col("lang"), col("id_a"), col("id_b"))),

    // Context-window chunking: long documents split into fixed-token-
    // budget chunks (ceil-division row explosion, per-row, shuffle-free).
    // Gate checks the whole assignment algebra: chunk counts, conservation
    // of tokens (sum(chunk_tokens) == sum(n_toks)), full-vs-remainder
    // chunk split. Budget 64 on token counts from tokenStats.
    "q57_chunking" -> ((s, dir) => {
      val toks = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("n_toks"))
        .filter(col("n_toks") > 0) // the operator rejects empty docs
      Packing.chunkDocuments(toks, "doc_id", "n_toks", budget = 64L)
        .groupBy(col("lang"))
        .agg(
          countDistinct(col("doc_id")).as("n_docs"),
          count(lit(1)).as("n_chunks"),
          sum(col("chunk_tokens")).as("total_tokens"),
          sum(when(col("chunk_tokens") === 64L, 1L).otherwise(0L)).as("n_full"),
          max(col("chunk")).as("max_chunk_idx"))
        .orderBy(col("lang"))
    }),

    // Multimodal plumbing: text payloads as opaque binary through the
    // ingest -> metadata path (decode itself is stubbed; see
    // operators.Multimodal).
    "q30_multimodal_bytes" -> ((s, dir) =>
      Multimodal.ingest(
          t(s, dir, "documents").withColumn("src", col("source")),
          "doc_id", col("text").cast("binary"), "text")
        .join(
          t(s, dir, "documents").select(col("doc_id").as("id"), col("source")),
          Seq("id"))
        .groupBy(col("source"))
        .agg(
          sum(col("n_bytes")).as("total_bytes"),
          count(lit(1)).as("n"))
        .orderBy(col("source"))),

    // C4-style line-level corpus dedup: boilerplate lines planted into
    // the corpus (newsletter/footer chrome on doc_id strides) plus any
    // organically repeated full text; lines occurring > 2 times
    // corpus-wide are removed and documents reassembled. The oracle
    // counts raw line strings where the engine counts md5 digests —
    // agreement doubles as the collision check (q50's pattern).
    "q94_line_dedup" -> ((s, dir) => {
      val planted = t(s, dir, "documents").withColumn("text",
        concat_ws("\n",
          when(col("doc_id") % 5 === 0,
            lit("subscribe to our newsletter for daily updates")),
          col("text"),
          when(col("doc_id") % 9 === 0,
            lit("all rights reserved by the site owner"))))
      Dedup.lineDedup(planted, "doc_id", "text", maxOccurrences = 2)
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(when(col("n_lines_removed") > 0, 1L).otherwise(0L))
            .as("n_docs_affected"),
          sum(col("n_lines_removed")).as("n_lines_removed"),
          sum(length(col("clean_text")).cast("long")).as("clean_chars"),
          countDistinct(md5(col("clean_text"))).as("n_distinct_clean"))
        .orderBy(col("source"))
    }),

    // URL canonicalization: four planted spellings per stride — default
    // port + tracking params + fragment + trailing slash (m=0) collapse
    // onto the clean form (m=1); non-default ports survive (m=2); the
    // all-identical case (m=3). distinct_raw > distinct_canonical by
    // construction; the oracle replicates every canonicalization step.
    "q95_url_canonical" -> ((s, dir) => {
      val m = col("doc_id") % 4
      val urls = t(s, dir, "documents").select(
        col("source"),
        when(m === 0, concat(
            lit("https://WWW.Example.COM:443/Products/"),
            (col("doc_id") % 10).cast("string"),
            lit("/?utm_source=mail&b=2&a=1#frag")))
          .when(m === 1, concat(
            lit("https://www.example.com/Products/"),
            (col("doc_id") % 10).cast("string"),
            lit("?a=1&b=2")))
          .when(m === 2, concat(
            lit("HTTP://Site.ORG:8080/a/b?z="),
            (col("doc_id") % 5).cast("string"),
            lit("&utm_campaign=x")))
          .otherwise(lit("http://site.org:80/plain/")).as("url"))
      urls
        .withColumn("canon", TextAnalysis.canonicalizeUrl(col("url")))
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_urls"),
          countDistinct(col("url")).as("n_distinct_raw"),
          countDistinct(col("canon")).as("n_distinct_canonical"))
        .orderBy(col("source"))
    }),

    // Leakage-safe split: near-dup clusters (q53's pair graph) never
    // straddle train/val/test — the split key is the component label,
    // singletons their own id. The oracle composes q53's recursive-CTE
    // components with q42's md5 assignment rule.
    "q96_leakage_split" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = Dedup.jaccardPairs(docs, "doc_id", "text", Seq("lang"), 1, 0.95)
      Sampling.leakageSafeSplit(docs, "doc_id", pairs,
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), salt = "leak")
        .groupBy(col("split"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("doc_id")).as("id_sum"))
        .orderBy(col("split"))
    }),

    // Magic-byte file-type sniffing: payloads synthesized per doc_id
    // stride (real PNG/WAV headers via the q73 builders, JPEG/PDF/ZIP
    // signature prefixes, 1-byte junk), routed by sniffType. The oracle
    // recomputes the expected label from doc_id directly — agreement
    // proves construct -> sniff is the identity, including the truncated
    // fall-through.
    "q97_filetype_sniff" -> ((s, dir) => {
      val m = col("doc_id") % 6
      val framed = t(s, dir, "documents").select(
        col("source"),
        when(m === 0, Multimodal.syntheticPng(
            col("doc_id") % 1800 + 100, col("doc_id") % 997 + 50))
          .when(m === 1, Multimodal.syntheticWav(
            when(col("doc_id") % 2 === 0, 44100L).otherwise(16000L),
            col("doc_id") % 2 + 1))
          .when(m === 2, unhex(lit("FFD8FFE000104A46494600")))
          .when(m === 3, unhex(lit("255044462D312E34")))
          .when(m === 4, unhex(lit("504B03040A00")))
          .otherwise(unhex(lpad(hex(col("doc_id") % 256), 2, "0")))
          .as("payload"))
      framed
        .withColumn("kind", Multimodal.sniffType(col("payload")))
        .groupBy(col("source"), col("kind"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("source"), col("kind"))
    }),

    // Substring-span dedup (ExactSubstr at k-gram granularity): a license
    // passage pasted at the head (doc_id % 7) and tail (doc_id % 11) of
    // otherwise-unique documents — invisible to document- and line-level
    // dedup, but every interior 4-gram repeats corpus-wide. The oracle
    // counts raw gram strings where the engine counts md5 digests
    // (collision check, q50's pattern), and replicates the coverage /
    // span-merge / rewrite arithmetic with list comprehensions.
    "q98_span_dedup" -> ((s, dir) =>
      spanDedupGate(s, dir, Dedup.spanDedup(_, "doc_id", "text", 4, 2))),

    // int8 embedding quantization: the whole codec is single IEEE ops on
    // exact inputs (max-abs fold, one division, floor(x/scale + 0.5)), so
    // the oracle replicates scale, every quantized value, and the
    // reconstruction error bit-for-bit. Two vectors are zeroed to pin the
    // scale-0 path through the gate; n_violations gates the |err| <=
    // scale/2 contract corpus-wide (epsilon-guarded against the one-ulp
    // boundary, identically on both sides).
    "q99_embed_quant" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings").withColumn("embedding",
        when(col("vec_id") % 250 === 0,
          transform(col("embedding"), x => lit(0f)))
          .otherwise(col("embedding")))
      Similarity.quantizeEmbeddings(emb, "embedding")
        .groupBy(col("label"))
        .agg(
          count(lit(1)).as("n_vecs"),
          sum(aggregate(col("qvec"), lit(0L), (s0, x) => s0 + x)).as("sum_q"),
          max(array_max(col("qvec"))).as("max_q"),
          min(array_min(col("qvec"))).as("min_q"),
          sum(when(col("max_abs_err") > col("scale") * 0.5000001d, 1L)
            .otherwise(0L)).as("n_violations"),
          max(when(col("scale") > 0d,
            floor(col("max_abs_err") / col("scale") * 10000d + 0.5d)
              .cast("long"))).as("max_err_ratio_e4"),
          sum(when(col("scale") === 0d, 1L).otherwise(0L)).as("n_zero_vecs"))
        .orderBy(col("label"))
    }),

    // The rolling-hash production form of q98: SAME planted corpus, SAME
    // aggregate, SAME raw-string oracle — but grams hashed by the O(n)
    // 2^64 polynomial instead of md5-of-string, so oracle agreement IS
    // the 64-bit collision check at this corpus scale.
    "q100_span_dedup_fast" -> ((s, dir) =>
      spanDedupGate(s, dir, Dedup.spanDedupFast(_, "doc_id", "text", 4, 2))),

    // Quantized two-stage top-k over q27's exact queries: stage-1 scores
    // are pure integer dot products of the int8 forms (scale-free cosine),
    // stage-2 reranks the k*4 candidate slice with the exact float
    // cosine. Both stages replicate in SQL, so the gate pins candidate
    // selection AND final ranking — not just rows.
    "q101_quantized_rerank" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.quantizedTopK(
          emb, "vec_id", "embedding",
          emb.filter(col("vec_id") < 5), "vec_id", "embedding",
          k = 10, rerankFactor = 4)
        .select(
          col("qid"), col("id"),
          round(col("sim"), 4).as("sim"), col("rank").as("rnk"))
        .orderBy(col("qid"), col("rnk"))
    }),

    // Fuzzy string dedup at edit distance <= 1: titles synthesized per
    // 8-id group — clean form, one-char deletion / substitution /
    // insertion variants, a transposition (Levenshtein 2, the designed
    // negative), an exact duplicate, and an unrelated pair. Group labels
    // embed in the title so near-identical labels ("report 12"/"report
    // 13") also pair across groups — the oracle is the FULL brute-force
    // levenshtein relation (its only prefilter, the length band <= 1, is
    // sound: one edit changes length by at most one), so agreement pins
    // the symmetric-delete blocking as lossless, not just plausible.
    "q102_edit_dedup" -> ((s, dir) =>
      Dedup.editDistancePairs(editTitles(t(s, dir, "documents")),
          "doc_id", "title", maxDist = 1)
        .groupBy(col("dist").cast("long").as("dist"))
        .agg(
          count(lit(1)).as("n_pairs"),
          sum(col("id_a")).as("a_sum"),
          sum(col("id_b")).as("b_sum"))
        .orderBy(col("dist"))),

    // Host-level link authority: src host from the doc's own id stride,
    // outlinks PLANTED INTO THE TEXT so the regex extraction path is
    // exercised, not bypassed. The functional site graph (13 nodes) plus
    // the cdn tier (7 sinks) gives every metric a nonzero case: sites
    // have both in-degree and 2-hop reach, cdns are pure sinks reached
    // from two hops out. Exact integer counts; the oracle replicates
    // extraction, the distinct edge relation, and both joins.
    "q103_host_authority" -> ((s, dir) =>
      LinkGraph.authority(plantedHostEdges(t(s, dir, "documents")))
        .orderBy(col("host"))),

    // Fixed-point integer PageRank over the same host graph: ranks in
    // micro-units, every step integral division, so the quantized
    // 3-iteration fixpoint is engine-portable and the oracle unrolls the
    // SAME three iterations in SQL — dangling-mass redistribution
    // included (the cdnN.net hosts are sinks; each round's share term
    // appears in both engines) — the gate pins the whole diffusion,
    // not a rounded summary.
    "q104_host_pagerank" -> ((s, dir) =>
      LinkGraph.pageRankInt(plantedHostEdges(t(s, dir, "documents")),
          iters = 3)
        .select(col("host"), col("rank").as("pr"))
        .orderBy(col("pr").desc, col("host"))),

    // Vocabulary drift between two corpus snapshots: overlapping id
    // windows simulate crawl N / crawl N+1, planted marker tokens force
    // the added/removed/grown classes, and the organic id-digit tokens
    // populate shrunk/stable. All-integer frequency-class comparisons;
    // minCount=2 exercises the hapax floor on both sides of the join.
    "q105_vocab_drift" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      // the %20==4 / %20==14 strides live in BOTH id windows (4 mod 10
      // is inside [2, 8)), so cycletag grows 1->3 per doc and fadetag
      // shrinks 3->1 — populating the grown/shrunk classes the organic
      // 60%-overlap windows keep under the 2x frequency bar
      val old = docs.filter(col("doc_id") % 10 < 8)
        .withColumn("text", concat(col("text"),
          when(col("doc_id") % 6 === 0, lit(" legacyterm")).otherwise(lit("")),
          when(col("doc_id") % 20 === 4, lit(" cycletag")).otherwise(lit("")),
          when(col("doc_id") % 20 === 14,
            lit(" fadetag fadetag fadetag")).otherwise(lit(""))))
      val cur = docs.filter(col("doc_id") % 10 >= 2)
        .withColumn("text", concat(col("text"),
          when(col("doc_id") % 5 === 0, lit(" neoterm neoterm")).otherwise(lit("")),
          when(col("doc_id") % 20 === 4,
            lit(" cycletag cycletag cycletag")).otherwise(lit("")),
          when(col("doc_id") % 20 === 14, lit(" fadetag")).otherwise(lit(""))))
      SnapshotDiff.vocabDrift(old, cur, "text", minCount = 2)
        .groupBy(col("status"))
        .agg(
          count(lit(1)).as("n_tokens"),
          sum(col("old_n")).as("old_total"),
          sum(col("new_n")).as("new_total"))
        .orderBy(col("status"))
    }),

    // Length-bucket padding profile: boundaries 16/32/64/96 against the
    // 10-100-token corpus so every bucket populates and the top bucket
    // truncates. Every output column is an exact integer (integral
    // division for utilization), replicated by the oracle's CASE ladder.
    "q106_length_buckets" -> ((s, dir) =>
      Packing.lengthBucketStats(
          t(s, dir, "documents").withColumn("n_tokens",
            size(filter(split(col("text"), "\\s+"), t0 => t0 =!= ""))
              .cast("long")),
          "doc_id", "n_tokens", Seq(16, 32, 64, 96))
        .orderBy(col("bucket"))),

    // Quality-preferred survivorship: q96's pair graph, but each cluster
    // keeps its HIGHEST-quality member (integer key, ties by min id)
    // instead of the min id — the oracle recomputes components
    // recursively, the quality key, and the rank-1 choice, so the whole
    // keep-the-cleaner-twin rule is pinned.
    "q107_best_survivor" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = Dedup.jaccardPairs(docs, "doc_id", "text", Seq("lang"), 1, 0.95)
      val keyed = docs.withColumn("qkey",
        TextAnalysis.qualityKeyInt(col("text")))
      Dedup.dedupNearBy(keyed, "doc_id", pairs, "id_a", "id_b", "qkey")
        .groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n_kept"),
          sum(col("doc_id")).as("id_sum"),
          sum(col("qkey")).as("qkey_sum"))
        .orderBy(col("lang"))
    }),

    // Mixture-recipe execution: per-language token quotas filled
    // best-quality-first — en and de straddle mid-key, zh keeps whole
    // (budget exceeds its corpus), fr's zero budget keeps nothing, es is
    // absent from the recipe and drops. The oracle is one per-group
    // prefix window over (qkey desc, id).
    "q108_token_mix" -> ((s, dir) => {
      val keyed = t(s, dir, "documents").select(
          col("doc_id"), col("lang"),
          TextAnalysis.qualityKeyInt(col("text")).as("qkey"),
          size(TextAnalysis.tokens(col("text"))).cast("long").as("nt"))
        .transform(graft.CacheScope.persisted(_))
      Sampling.tokenBudgetPerGroup(keyed, "doc_id", "lang", "qkey", "nt",
          Seq("en" -> 6000L, "de" -> 2000L, "zh" -> 5000L, "fr" -> 0L))
        .groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n_kept"),
          sum(col("nt")).as("tokens_kept"),
          sum(col("doc_id")).as("id_sum"),
          min(col("qkey")).as("min_kept_key"))
        .orderBy(col("lang"))
    }),

    // Pack materialization: q51's assignment actually produced — one row
    // per (shard, pack) with the in-id-order concatenation. md5 of each
    // pack's text pins the exact byte layout of every training sequence
    // while keeping the gate output small.
    "q109_pack_texts" -> ((s, dir) =>
      Packing.materializePacks(
          t(s, dir, "documents")
            .select(col("doc_id"), col("text"),
              TextAnalysis.tokenCount(col("text")).cast("long").as("n_toks")),
          "doc_id", "text", "n_toks", budget = 512L, numShards = 8)
        .select(col("shard"), col("pack"), col("n_docs"), col("pack_tokens"),
          md5(col("pack_text")).as("digest"))
        .orderBy(col("shard"), col("pack"))),

    // Incremental ingest dedup: corpus = "history" (doc_id % 3 != 0),
    // batch = the arriving day (doc_id % 3 == 0) where every EVEN batch
    // id carries a verbatim copy of the corpus doc at id+1 (id+1 ≡ 1
    // mod 3, so the copied text is always in the corpus); odd batch ids
    // keep their own text, which may still collide with history through
    // the corpus's organic exact duplicates — the oracle classifies by
    // joining RAW TEXT, so agreement is the collision check for both
    // the Bloom's xxhash64 and the verification md5.
    "q110_incremental_dedup" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val corpus = docs.filter(col("doc_id") % 3 =!= 0)
      val batch = docs.filter(col("doc_id") % 3 === 0)
        .select(col("doc_id"), col("text"))
        .join(docs.select((col("doc_id") - 1).as("doc_id"),
          col("text").as("__next")), Seq("doc_id"))
        .select(col("doc_id"),
          when(col("doc_id") % 2 === 0, col("__next"))
            .otherwise(col("text")).as("text"))
      Dedup.dedupAgainstCorpus(corpus, batch, "doc_id", "text")
        .groupBy(col("is_new"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("doc_id")).as("id_sum"))
        .orderBy(col("is_new"))
    }),

    // IVF index append soundness: build on A (3/4 of the corpus),
    // append B (the rest), then probe with EXACT COPIES of the appended
    // vectors at nprobe=1. An identical vector assigns to the same cell
    // as its twin by construction, so the single probed cell must
    // contain the twin and top-1 must be a perfect match — any appended
    // vector that went to the wrong cell, or was lost, surfaces as a
    // violation row. A count check catches silent write loss. Empty
    // output = sound.
    "q112_ivf_append" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val a = emb.filter(col("vec_id") % 4 =!= 0)
      val b = emb.filter(col("vec_id") % 4 === 0)
      val path = ivfAppendDir
      copyInto(ivfBase(s, dir), path)
      Similarity.ivfAppend(path, b, "vec_id", "embedding")
      // qid shifted so the probe's self-exclusion (qid != id) can't
      // filter the twin
      val queries = b.select(
        (col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
      val matched = Similarity.ivfTopKIndexed(
          path, queries, "vec_id", "embedding", k = 1, nprobe = 1)
        .filter(col("rank") === 1 && col("sim") > 0.999999)
        .select((col("qid") - 1000000L).as("bid"))
      val missing = b.select(col("vec_id").as("bid"))
        .join(matched, Seq("bid"), "left_anti")
        .select(lit("no_perfect_match").as("kind"), col("bid").as("n"))
      val expected = a.count() + b.count()
      val countViol = s.read.parquet(s"$path/corpus")
        .groupBy().agg(count(lit(1)).as("c"))
        .filter(col("c") =!= expected)
        .select(lit("count_mismatch").as("kind"), col("c").as("n"))
      missing.unionByName(countViol).orderBy(col("kind"), col("n"))
    }),

    // Readability substrate: sentence/word/vowel-group counts (the
    // integer inputs of Flesch-Kincaid-style scores). Terminators
    // planted on the %3 stride so the sentence splitter sees real
    // multi-sentence docs; unplanted docs count as one sentence each.
    "q113_readability" -> ((s, dir) => {
      val planted = t(s, dir, "documents").withColumn("text",
        concat(col("text"),
          when(col("doc_id") % 3 === 0,
            lit(". Plus a short tail! Readable? Yes")).otherwise(lit(""))))
      TextAnalysis.readabilityCounts(planted, "doc_id", "text", Seq("lang"))
        .groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_sentences")).as("sentences"),
          sum(col("n_words")).as("words"),
          sum(col("n_vowel_groups")).as("vowel_groups"))
        .orderBy(col("lang"))
    }),

    // Multi-epoch mixture: en×2, de×3, zh×1, fr×0 epochs, es absent —
    // the replication volumes AND the epoch tags (sum of 0..k-1 per
    // doc) are both pinned.
    "q114_epoch_mix" -> ((s, dir) =>
      Sampling.epochReplicate(t(s, dir, "documents"), "lang",
          Seq("en" -> 2, "de" -> 3, "zh" -> 1, "fr" -> 0))
        .groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n_rows"),
          countDistinct(col("doc_id")).as("n_docs"),
          sum(col("doc_id")).as("id_sum"),
          sum(col("epoch")).as("epoch_sum"))
        .orderBy(col("lang"))),

    // BPE substrate: corpus-wide top-30 adjacent character pairs.
    "q115_char_pairs" -> ((s, dir) =>
      TextAnalysis.charPairCounts(t(s, dir, "documents"), "text", topK = 30)),

    // Domain balancing: at most 25 docs per (lang, source), longest text
    // first (doc_id tiebreak makes the order total). min_kept_chars in
    // the output proves the cut kept the TOP of each group, not an
    // arbitrary subset; the rank<=k filter plans as WindowGroupLimit
    // (map-side partial cap before the exchange — PlanShapeSpec pins it).
    "q121_domain_cap" -> ((s, dir) =>
      Sampling.capPerGroup(
          t(s, dir, "documents"), Seq("lang", "source"),
          Seq(col("n_chars").desc, col("doc_id").asc), cap = 25)
        .groupBy(col("lang"), col("source"))
        .agg(
          count(lit(1)).as("n_kept"),
          sum(col("doc_id")).as("id_sum"),
          min(col("n_chars")).as("min_kept_chars"))
        .orderBy(col("lang"), col("source"))),

    // Hard-negative mining (contrastive-training data, DPR/ANCE recipe):
    // for the 5 query vectors, top-10 cosine neighbors with a DIFFERENT
    // label inside the band [0.2, 0.9) — same-label rows are presumed
    // positives, near-dups above the band would be false negatives, easy
    // negatives below it carry no gradient. The band holds ~25 candidates
    // per query at sf0.01, so the k=10 cut is a real ranking decision.
    // Brute-force oracle replicates both predicates and the tie order.
    "q122_hard_negatives" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.hardNegatives(
          emb, "vec_id", "embedding", "label",
          emb.filter(col("vec_id") < 5), "vec_id", "embedding", "label",
          k = 10, simLo = 0.2, simHi = 0.9)
        .select(
          col("qid"), col("id"), col("label"),
          round(col("sim"), 4).as("sim"), col("rank").as("rnk"))
        .orderBy(col("qid"), col("rnk"))
    }),

    // MMR diverse re-rank: top-20 cosine candidates per query, then 5
    // greedy maximal-marginal-relevance picks at lambda=0.5 — the
    // redundancy guard for retrieval / diversity-aware data selection.
    // The oracle unrolls all 5 greedy steps in SQL (the q35/q104 unroll
    // pattern): every pick's argmax — relevance minus the max cosine to
    // the already-picked set — is replicated with the same (score DESC,
    // id) total order, so the entire selection SEQUENCE is pinned, not
    // just the final set.
    "q124_mmr_rerank" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.mmrRerank(
          emb, "vec_id", "embedding",
          emb.filter(col("vec_id") < 3), "vec_id", "embedding",
          fetchK = 20, selectK = 5, lambda = 0.5)
        .select(
          col("qid"), col("id"),
          round(col("score"), 4).as("score"), col("rnk"))
        .orderBy(col("qid"), col("rnk"))
    }),

    // RAG-style OVERLAPPING chunking: window 48, stride 32 — adjacent
    // chunks share 16 tokens, so a passage straddling one boundary is
    // whole in a neighbor. The aggregate pins the chunk count, the exact
    // start grid (max_start), the short-tail sizes, and the chunk TEXTS
    // (summed lengths + distinct digests) per lang; the oracle rebuilds
    // every chunk with the same slice arithmetic.
    "q125_sliding_chunks" -> ((s, dir) =>
      Packing.slidingChunks(t(s, dir, "documents"), "text",
          window = 48, stride = 32)
        .groupBy(col("lang"))
        .agg(
          countDistinct(col("doc_id")).as("n_docs"),
          count(lit(1)).as("n_chunks"),
          sum(col("chunk_tokens")).as("total_tokens"),
          sum(when(col("chunk_tokens") === 48L, 1L).otherwise(0L))
            .as("n_full"),
          max(col("chunk_start")).as("max_start"),
          sum(length(col("chunk_text")).cast("long")).as("chunk_chars"),
          countDistinct(md5(col("chunk_text"))).as("n_distinct_chunks"))
        .orderBy(col("lang"))),

    // Incremental distinct counting via mergeable HLL sketches (Apache
    // DataSketches, built into Spark 4) — the workflow that keeps a
    // running distinct count over a 100 TB history without ever
    // rescanning it: per-(type, day) sketches are built once, PERSISTED
    // to parquet, read back later and unioned. The gate emits each
    // event_type's EXACT distinct-user count only where (a) the
    // round-tripped union estimate equals the in-memory union estimate
    // (parquet must carry the sketch bytes faithfully) and (b) the
    // estimate sits within 15% of exact (lgK=12 ⇒ ~1.6% relative std
    // error; 15% is >9 sigma). Deliberately NOT pinned: merged == one
    // single-pass sketch — DataSketches' union may traverse different
    // sparse/dense mode promotions than a directly-built sketch, so
    // their estimates legitimately differ within the bound
    // (HeavyHittersSpec measures exactly that). A violation of (a) or
    // (b) drops the row and breaks the oracle's rows/hash.
    "q126_hll_incremental" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .withColumn("day",
          call_function("div", col("ts"), lit(86400L * 1000000000L)))
      val perDay = ev.groupBy(col("event_type"), col("day"))
        .agg(hll_sketch_agg(col("user_id")).as("sk"))
      val skDir = scratch("q126-sketches")
      perDay.write.mode("overwrite").parquet(skDir)
      def unionEst(df: DataFrame, as: String) =
        df.groupBy(col("event_type"))
          .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as(as))
      val roundtrip =
        unionEst(ev.sparkSession.read.parquet(skDir), "est_roundtrip")
      val mem = unionEst(perDay, "est_mem")
      val direct = ev.groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("n_users"))
      direct.join(roundtrip, "event_type").join(mem, "event_type")
        .filter(col("est_roundtrip") === col("est_mem") &&
          abs(col("est_roundtrip") - col("n_users")) <=
            col("n_users").cast("double") * 0.15)
        .select(col("event_type"), col("n_users"))
        .orderBy(col("event_type"))
    }),

    // BM25 ranked retrieval: five fixed vocabulary queries against the
    // whole corpus, top-10 each. Every stage — tokenize, tf/df/dl,
    // idf·saturation scoring, per-query ranked cut — replicated by the
    // oracle with the arithmetic expression tree mirrored node for node
    // (the q46 ln precedent extended to the full BM25 form).
    "q127_bm25" -> ((s, dir) => {
      Retrieval.bm25TopK(
          t(s, dir, "documents"), "doc_id", "text",
          bm25Queries(s), k = 10)
        .orderBy(col("query_id"), col("rnk"))
    }),

    // In-engine Naive-Bayes quality classifier: train on the doc_id<200
    // seed labeled by the q45 quality gate, score everything else, and
    // profile predictions per language. Training is pure counting, so
    // the ENTIRE model — class priors, add-one log-odds weights, the
    // per-occurrence scoring sum — replicates in SQL.
    "q128_nb_quality" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      TextAnalysis.nbQualityScores(docs, "doc_id", "text", seedMax = 200L)
        .join(docs.select(col("doc_id").as("id"), col("lang")), "id")
        .withColumn("score_r", round(col("score"), 4))
        .groupBy(col("lang"), col("pred"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_terms")).as("total_terms"),
          round(avg(col("score_r")), 3).as("avg_score"),
          min(col("score_r")).as("min_score"),
          max(col("score_r")).as("max_score"))
        .orderBy(col("lang"), col("pred"))
    }),

    // Inverted-index build substrate: top-100 terms by document
    // frequency with exact posting statistics and the order-independent
    // 40-bit posting checksum — the checksum pins the exact (doc, tf)
    // posting SET of every emitted term without either engine ever
    // materializing a posting list.
    "q129_postings" -> ((s, dir) =>
      Retrieval.postingStats(t(s, dir, "documents"), "doc_id", "text", 100)),

    // Hybrid retrieval: BM25 arm (query-by-example — each query doc's own
    // text) + dense cosine arm (its embedding; doc_id/vec_id are aligned
    // in this corpus), fused by reciprocal-rank fusion. Rank-based fusion
    // is calibration-free AND float-exact (one division + one addition
    // per doc), so the oracle replicates both arms and the fusion
    // bit-for-bit. The example doc itself may surface on the sparse arm
    // (it matches its own terms); the dense arm excludes self-matches —
    // the -1 provenance sentinels make that asymmetry gate-visible.
    "q130_rrf_hybrid" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val emb = t(s, dir, "embeddings")
      val sparse = Retrieval.bm25TopK(
          docs, "doc_id", "text",
          docs.filter(col("doc_id") < 5)
            .select(col("doc_id").as("query_id"), col("text").as("query_text")),
          k = 20)
        .select(col("query_id"), col("doc_id"), col("rnk"))
      val dense = Similarity.bruteForceTopK(
          emb, "vec_id", "embedding",
          emb.filter(col("vec_id") < 5), "vec_id", "embedding", k = 20)
        .select(
          col("qid").as("query_id"), col("id").as("doc_id"),
          col("rank").as("rnk"))
      Retrieval.rrfFuse(sparse, dense, k = 10)
        .orderBy(col("query_id"), col("rnk"))
    }),

    // Persisted-BM25-index parity (the q59 build-once/query-many shape
    // for the LEXICAL index): tf/df/dl/stats written bucket-partitioned
    // by term hash, the probe reads only the query terms' buckets
    // (partition-pruned — pinned in PlanShapeSpec), and the result must
    // equal q127's relation exactly, against q127's verbatim oracle.
    "q134_bm25_index_parity" -> ((s, dir) => {
      Retrieval.buildBm25Index(
        t(s, dir, "documents"), "doc_id", "text", bm25IndexDir)
      Retrieval.bm25TopKIndexed(bm25IndexDir, bm25Queries(s), k = 10)
        .orderBy(col("query_id"), col("rnk"))
    }),

    // CDC-merge: apply a derived changeset (deletes on the id%10=3
    // stride, text revisions on =4, fresh inserts shifted by 1e6 on =5)
    // to the corpus and profile the merged snapshot. The oracle
    // replicates the whole merge relationally (anti-join + upsert
    // union), so a row deleted twice, an update half-applied, or an
    // insert lost in the anti-join breaks a counter. n_chars is
    // recomputed for revised payloads — the merged relation must stay
    // internally consistent, and the oracle checks that too.
    "q132_changeset_merge" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val deletes = docs.filter(col("doc_id") % 10 === 3)
        .withColumn("op", lit("delete"))
      val updates = docs.filter(col("doc_id") % 10 === 4)
        .withColumn("text", concat(lit("rev2 "), col("text")))
        .withColumn("n_chars", length(col("text")).cast("long"))
        .withColumn("op", lit("upsert"))
      val inserts = docs.filter(col("doc_id") % 10 === 5)
        .withColumn("doc_id", col("doc_id") + lit(1000000L))
        .withColumn("text", concat(lit("insert "), col("text")))
        .withColumn("n_chars", length(col("text")).cast("long"))
        .withColumn("op", lit("upsert"))
      SnapshotDiff.applyChangeset(
          docs, deletes.unionByName(updates).unionByName(inserts), "doc_id")
        .groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("doc_id")).as("id_sum"),
          sum(length(col("text")).cast("long")).as("total_chars"),
          sum(col("n_chars").cast("long")).as("n_chars_sum"),
          countDistinct(md5(col("text"))).as("n_distinct"))
        .orderBy(col("lang"))
    }),

    // Exact phrase search over positional postings: five fixed phrases
    // (lengths 2 and 3, one with a repeated term — the duplicate-idx
    // case the base-position grouping must handle) against the whole
    // corpus. Output is the full (phrase, doc) match relation with
    // occurrence counts and first positions — all integers, so the
    // oracle replicates the posting join exactly.
    "q135_phrase_search" -> ((s, dir) =>
      Retrieval.phraseSearch(
          t(s, dir, "documents"), "doc_id", "text", phraseTable(s))
        .select(
          col("phrase_id"), col("id"), col("n_occurrences"),
          col("first_pos").cast("long").as("first_pos"))
        .orderBy(col("phrase_id"), col("id"))),

    // Trigram stupid-backoff LM: counts from the doc_id%5!=0 split,
    // scores for the held-out doc_id%5==0 split, rolled up per lang.
    // Cross-split scoring makes every backoff tier fire for real; the
    // per-tier hit counts pin the branch decisions as integers and the
    // blended log2 score follows the q84 float-anchoring precedent.
    "q136_backoff_lm" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val held = docs.filter(col("doc_id") % 5 === 0)
      TextAnalysis.trigramBackoffLogProb(
          docs.filter(col("doc_id") % 5 =!= 0), held, "doc_id", "text")
        .join(held.select(col("doc_id").as("id"), col("lang")), "id")
        .groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_trigrams")).as("total_trigrams"),
          sum(col("n_tri")).as("tri_hits"),
          sum(col("n_bi")).as("bi_hits"),
          sum(col("n_uni")).as("uni_hits"),
          round(avg(col("avg_log2_prob")), 3).as("avg_score"),
          min(col("avg_log2_prob")).as("min_score"),
          max(col("avg_log2_prob")).as("max_score"))
        .orderBy(col("lang"))
    }),

    // Embedding outlier screen: per-label centroid distances, top-5
    // most-distant members per label with distance and z-score — the
    // mislabeled/OOD screen run before a label's slice feeds training.
    "q137_emb_outliers" -> ((s, dir) =>
      Similarity.centroidOutliers(
          t(s, dir, "embeddings"), "vec_id", "embedding", "label", topK = 5)
        .orderBy(col("grp"), col("rnk"))),

    // Asymmetric containment dedup: needles = the doc_id%10==2 stride;
    // haystacks = the %10==7 stride with the needle at doc_id-5 quoted
    // verbatim after its own text (the excerpt-inside-a-page pattern
    // Jaccard cannot see — J of a planted pair is ~0.5 here, but
    // containment is ~1.0 because concatenation preserves every needle
    // shingle). 3-gram shingles keep the tiny synthetic vocabulary
    // discriminative where token SETS would saturate.
    "q138_containment" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val needles = docs.filter(col("doc_id") % 10 === 2)
        .select(col("doc_id"), col("text"))
      val hay = docs.filter(col("doc_id") % 10 === 7)
        .join(
          docs.filter(col("doc_id") % 10 === 2)
            .select((col("doc_id") + 5).as("doc_id"), col("text").as("quoted")),
          "doc_id")
        .select(col("doc_id"),
          concat(col("text"), lit(" "), col("quoted")).as("text"))
      Dedup.containmentJoin(
          needles, hay, "doc_id", "text",
          blockCols = Seq.empty, shingleSize = 3, threshold = 0.8)
        .select(
          col("id_a"), col("id_b"),
          col("n_a").cast("long").as("n_a"),
          col("inter").cast("long").as("inter"),
          col("containment"))
        .orderBy(col("id_a"), col("id_b"))
    }),

    // Content-defined chunking profile: rolling-fingerprint cut rule
    // (md5-prefix % 16 == 0 over interior 3-gram starts), per-lang chunk
    // and digest-dedup statistics. Every cut decision and every counter
    // is integer-exact, so the oracle replicates the chunker itself —
    // not just its aggregates.
    "q139_cdc_chunks" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      // digests + token counts only past this point: chunk TEXT must not
      // ride the lang join (at scale that join shuffles both sides)
      val ch = Packing.cdcChunks(docs, "doc_id", "text")
        .select(col("id"), col("chunk_digest"), col("n_tokens"))
        .join(docs.select(col("doc_id").as("id"), col("lang")), "id")
        .transform(graft.CacheScope.persisted(_))
      val perDigest = ch.groupBy(col("lang"), col("chunk_digest"))
        .agg(
          count(lit(1)).as("copies"),
          sum(col("n_tokens").cast("long")).as("tok"))
      val digestStats = perDigest.groupBy(col("lang"))
        .agg(
          sum(col("copies")).as("n_chunks"),
          count(lit(1)).as("n_distinct"),
          sum(col("tok")).as("total_tokens"),
          max(col("copies")).as("max_copies"))
      val docStats = ch.groupBy(col("lang"))
        .agg(countDistinct(col("id")).as("n_docs"))
      digestStats.join(docStats, "lang")
        .select(
          col("lang"), col("n_docs"), col("n_chunks"), col("n_distinct"),
          col("total_tokens"), col("max_copies"))
        .orderBy(col("lang"))
    }),

    // In-engine BPE tokenizer merge training, 4 rounds: each round's
    // winning pair, its adjacent-occurrence count, and the corpus token
    // total AFTER the left-to-right non-overlapping merge. The corpus
    // happens to elect a self-pair round (e.g. (order, order) at
    // sf0.001), so the overlap rule itself is gate-checked — a naive
    // merge-all would report a smaller tokens_after.
    "q140_bpe_merges" -> ((s, dir) =>
      TextAnalysis.bpeMerges(t(s, dir, "documents"), "text", rounds = 4)
        .orderBy(col("round"))),

    // Incremental BM25 index append (the q112 build-once/append-many
    // shape for the LEXICAL index): base index from the doc_id%3!=0
    // corpus (copied from the shared memoized build — identical
    // deterministic setup), the %3==0 batch appended LIVE — postings
    // land as new files in the existing bucket partitions, only the
    // vocabulary-sized df table rewrites — and the probe over the
    // appended index must equal q127's full-corpus relation against
    // q127's verbatim oracle.
    "q143_bm25_append" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      copyInto(bm25Base(s, dir), bm25AppendDir)
      Retrieval.bm25Append(
        bm25AppendDir, docs.filter(col("doc_id") % 3 === 0), "doc_id", "text")
      Retrieval.bm25TopKIndexed(bm25AppendDir, bm25Queries(s), k = 10)
        .orderBy(col("query_id"), col("rnk"))
    }),

    // Binary frame-sampling plumbing under the driver gate: the corpus
    // text rides as an opaque binary payload (the multimodal column
    // contract), Multimodal.sampleChunks keeps every 4th 16-byte frame
    // (partial tails included), and each sampled frame's md5-prefix
    // checksum is summed per source. The ASCII guard (octet_length ==
    // char length, vacuously true for this corpus) makes the VARCHAR
    // oracle byte-exact; non-ASCII payloads would simply drop from BOTH
    // sides rather than silently diverge.
    "q142_frame_sample" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .filter(octet_length(col("text")) === length(col("text")) &&
          length(col("text")) > 0)
      val framed = docs.select(
        col("source"), col("doc_id").as("id"),
        col("text").cast("binary").as("payload"))
      Multimodal.sampleChunks(framed, chunkBytes = 16, stride = 4)
        .select(
          col("source"), col("id"),
          octet_length(col("chunk_bytes")).cast("long").as("nb"),
          conv(substring(md5(col("chunk_bytes")), 1, 8), 16, 10)
            .cast("long").as("ck"))
        .groupBy(col("source"))
        .agg(
          countDistinct(col("id")).as("n_docs"),
          count(lit(1)).as("sampled_chunks"),
          sum(col("nb")).as("sampled_bytes"),
          sum(col("ck")).as("checksum_sum"))
        .orderBy(col("source"))
    }),

    // Salted-aggregate parity: the two-phase decomposition behind the
    // hot-key mitigation (SkewBench measures its wall-time win) must
    // equal the plain aggregate EXACTLY — count = Σ partial counts,
    // sum = Σ partial sums, min/max = min/max of partials. All-integer
    // measures keep the equality float-free; the salt column is
    // partition-dependent but the re-aggregated relation is invariant.
    "q141_salted_agg" -> ((s, dir) =>
      Skew.saltedAggregate(
          t(s, dir, "events"), Seq("event_type"), saltBuckets = 8,
          partials = Map(
            "n" -> count(lit(1)),
            "id_sum" -> sum(col("event_id")),
            "min_user" -> min(col("user_id")),
            "max_user" -> max(col("user_id"))),
          finals = Map(
            "n" -> sum(col("n")),
            "id_sum" -> sum(col("id_sum")),
            "min_user" -> min(col("min_user")),
            "max_user" -> max(col("max_user"))))
        .select(
          col("event_type"), col("n"), col("id_sum"),
          col("min_user"), col("max_user"))
        .orderBy(col("event_type"))),

    // In-engine language-ID classifier (the CCNet language-filter
    // stage): char-trigram multinomial NB trained on the doc_id<200
    // seed's lang labels, scored over the rest. Per-language marker
    // tails are planted on EVERY doc (the q113 planting precedent) —
    // the synthetic corpus's raw text is language-independent noise, so
    // the plant gives the model a real signal: the gate pins the WHOLE
    // model (priors, smoothed log-odds, argmax label, margin) and the
    // confusion matrix comes out diagonal at all 3 SFs (accuracy 1.0).
    "q144_lang_id" -> ((s, dir) => {
      val docs = langIdPlanted(t(s, dir, "documents"))
      TextAnalysis.langIdScores(docs, "doc_id", "text", "lang",
          seedMax = 200L)
        .withColumn("score_r", round(col("score"), 4))
        .withColumn("margin_r", round(col("margin"), 4))
        .join(docs.select(col("doc_id").as("id"), col("lang")), "id")
        .groupBy(col("lang"), col("pred"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_grams")).as("total_grams"),
          round(avg(col("score_r")), 3).as("avg_score"),
          round(avg(col("margin_r")), 3).as("avg_margin"),
          round(min(col("margin_r")), 4).as("min_margin"))
        .orderBy(col("lang"), col("pred"))
    }),

    // Index compaction under the driver gate: the copied-in setup state
    // is build on 2/3 + the remaining 1/3 appended in TWO batches
    // (bm25BaseAppended2 — the bucket partitions genuinely hold three
    // file generations), then compact — postings rewrite clustered into
    // a temp generation and swap in by backup rename, doclen
    // file-merges shuffle-free — and the probe over the COMPACTED index
    // must still equal q127's full-corpus relation against q127's
    // verbatim oracle. A row lost or duplicated in the rewrite breaks a
    // score; a bucket misfiled breaks partition pruning and therefore
    // the result.
    "q145_bm25_compact" -> ((s, dir) => {
      copyInto(bm25BaseAppended2(s, dir), bm25CompactDir)
      Retrieval.bm25Compact(s, bm25CompactDir)
      Retrieval.bm25TopKIndexed(bm25CompactDir, bm25Queries(s), k = 10)
        .orderBy(col("query_id"), col("rnk"))
    }),

    // BPE round trip: train 4 merges (q140's election), then ENCODE the
    // whole corpus with the trained table — the tokenizer-service half,
    // a pure map — and profile the encoded stream per language. The
    // oracle replicates training AND encoding (the q140 fold chain
    // carrying doc ids), so a drifted merge application — wrong order,
    // overlap mishandling, a dropped round — breaks token totals,
    // vocabulary size, or the merged-symbol occurrence count.
    "q146_bpe_encode" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val merges = TextAnalysis.bpeMerges(docs, "text", rounds = 4)
        .orderBy(col("round"))
        .select(col("pair_a"), col("pair_b"))
        .collect().map(r => (r.getString(0), r.getString(1))).toSeq
      bpeEncodeRelation(s, dir, merges)
    }),

    // The persisted-tokenizer lifecycle: train the SAME 4 merges, save
    // them as an estate artifact (stats + manifest generation), audit it
    // (bpeFsck must be clean — its violation rows ride the relation, so
    // a malformed table breaks the hash, not just a spec), LOAD the
    // table back, and encode with the LOADED merges. Oracle = q146's
    // verbatim (persistence is a storage concern, not semantics): a
    // lost, reordered, or truncated merge row moves the encoding.
    "q188_bpe_artifact" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val tok = s"${scratch("q188")}/bpe"
      TextAnalysis.bpeSave(
        s, TextAnalysis.bpeMerges(docs, "text", rounds = 4), tok)
      val loaded = TextAnalysis.bpeLoad(s, tok)
      bpeEncodeRelation(s, dir, loaded)
        .unionByName(graft.operators.Fsck.bpeFsck(s, tok)
          .select(col("kind").as("lang"),
            col("n").as("n_docs"),
            col("n").as("n_tokens"),
            col("n").as("n_vocab"),
            col("n").as("merged_occurrences")))
    }),

    // REAL image decode (round-16 closure of the decode seam for
    // JVM-native formats): synthesize complete, decodable PNGs with a
    // closed-form pixel pattern (id-derived dimensions/seed), decode
    // them back through ImageIO (`image_stats` — exact integer channel
    // sums, no float risk), and nearest-neighbor resize each to 8x6 and
    // decode THAT (src index = dst*src/dst floor — the same arithmetic
    // the oracle runs). The oracle re-derives every pixel of both the
    // original and the resized raster from the pattern formula alone —
    // the two sides share NOTHING but the closed form: any codec,
    // raster, or resample deviation breaks the hash. PNG is lossless,
    // which is what makes exact pixel pinning possible (JPEG decode is
    // spec-tested with tolerance instead).
    "q190_image_decode" -> ((s, dir) => {
      import graft.functions.ImageExprs
      val imgs = t(s, dir, "documents")
        .filter(col("doc_id") % 37 === 0)
        .select(col("doc_id"),
          ImageExprs.pngSynth(
            (lit(16) + col("doc_id") % 8).cast("int"),
            (lit(12) + col("doc_id") % 5).cast("int"),
            (col("doc_id") % 256).cast("int")).as("payload"))
      imgs.select(col("doc_id"),
          graft.operators.Multimodal.sniffType(col("payload")).as("fmt"),
          ImageExprs.imageStats(col("payload")).as("st"),
          ImageExprs.imageStats(ImageExprs.imageResizeNn(
            col("payload"), lit(8), lit(6))).as("rs"))
        .select(col("doc_id"), col("fmt"),
          col("st.width").as("width"), col("st.height").as("height"),
          col("st.sum_r").as("sum_r"), col("st.sum_g").as("sum_g"),
          col("st.sum_b").as("sum_b"),
          col("rs.sum_r").as("rs_sum_r"), col("rs.sum_g").as("rs_sum_g"),
          col("rs.sum_b").as("rs_sum_b"))
        .orderBy(col("doc_id"))
    }),

    // REAL audio decode: synthesize complete mono 16-bit PCM WAVs
    // (square wave, id-derived rate/amplitude/length with n % 4 == 0 so
    // sum/sum_sq/peak are closed-form integers), parse the RIFF layout
    // and fold every sample (`wav_stats`). Oracle = pure arithmetic on
    // the id-derived parameters.
    "q191_audio_decode" -> ((s, dir) => {
      import graft.functions.ImageExprs
      t(s, dir, "documents")
        .filter(col("doc_id") % 41 === 0)
        .select(col("doc_id"),
          ImageExprs.wavSynth(
            (lit(8000) + (col("doc_id") % 4) * 4000).cast("int"),
            (lit(500) + col("doc_id") % 997).cast("int"),
            (lit(256) + (col("doc_id") % 32) * 4).cast("int")).as("payload"))
        .select(col("doc_id"),
          graft.operators.Multimodal.sniffType(col("payload")).as("fmt"),
          ImageExprs.wavStats(col("payload")).as("st"))
        .select(col("doc_id"), col("fmt"),
          col("st.sample_rate").as("sample_rate"),
          col("st.channels").as("channels"),
          col("st.n_samples").as("n_samples"),
          col("st.peak").as("peak"),
          col("st.sum").as("sum_pcm"),
          col("st.sum_sq").as("sum_sq"))
        .orderBy(col("doc_id"))
    }),

    // Image FEATURE extraction (the descriptor that makes images
    // first-class in the ANN/dedup estate): decode real PNGs and fold
    // each into a 4x3 grid of per-cell brightness sums — exact
    // integers the oracle re-derives per pixel from the pattern's
    // closed form, including the floor-division cell assignment
    // (cell = (y*3/h)*4 + x*4/w). One wrong pixel, one off-by-one cell
    // boundary, or a flipped raster breaks the hash.
    // ImageExprsSpec composes the double-valued twin
    // (imageGridFeatures) into cosine ANN end-to-end.
    "q192_image_grid_features" -> ((s, dir) => {
      import graft.functions.ImageExprs
      t(s, dir, "documents")
        .filter(col("doc_id") % 29 === 0)
        .select(col("doc_id"),
          ImageExprs.imageGridSums(
            ImageExprs.pngSynth(
              (lit(16) + col("doc_id") % 8).cast("int"),
              (lit(12) + col("doc_id") % 5).cast("int"),
              (col("doc_id") % 256).cast("int")),
            lit(4), lit(3)).as("cells"))
        .select(col("doc_id"), posexplode(col("cells")).as(Seq("cell", "sum_rgb")))
        .orderBy(col("doc_id"), col("cell"))
    }),

    // REAL video frame sampling + decode, for the one video codec that
    // needs no codec: uncompressed-DIB AVI (RIFF container, 24-bit
    // bottom-up BGR frames — public BITMAPINFOHEADER layout).
    // Synthesize id-parameterized clips, walk the movi list's ACTUAL
    // chunk boundaries (not byte offsets — the upgrade over
    // sampleChunks), decode every 2nd frame, and pin each sampled
    // frame's exact channel sums against the per-pixel analytic oracle.
    // Orientation and BGR channel order are pinned against a hand-laid
    // spec fixture (a flipped raster or swapped channel here would
    // still satisfy a self-consistent encode/decode pair — the spec
    // fixture breaks that symmetry). Compressed video stays the
    // documented codec-blocked seam.
    "q193_video_frame_decode" -> ((s, dir) => {
      import graft.functions.ImageExprs
      t(s, dir, "documents")
        .filter(col("doc_id") % 31 === 0)
        .select(col("doc_id"),
          ImageExprs.aviFrameStats(
            ImageExprs.aviSynthDib(
              (lit(16) + col("doc_id") % 6).cast("int"),
              (lit(12) + col("doc_id") % 4).cast("int"),
              (lit(3) + col("doc_id") % 4).cast("int"),
              (col("doc_id") % 256).cast("int")),
            lit(2)).as("frames"))
        .select(col("doc_id"), explode(col("frames")).as("f"))
        .select(col("doc_id"),
          col("f.frame_idx").as("frame_idx"),
          col("f.sum_r").as("sum_r"),
          col("f.sum_g").as("sum_g"),
          col("f.sum_b").as("sum_b"))
        .orderBy(col("doc_id"), col("frame_idx"))
    }),

    // The multimodal pipeline END-TO-END under the driver's oracle:
    // real PNGs -> decoded grid features -> a persisted IVF index ->
    // an exhaustive probe, with a planted TWIN per query image (ids i
    // and i+1000000 share the pattern; the slice caps at doc_id < 1280
    // because the pattern space repeats mod lcm(8,5,256) = 1280 — a
    // collision would legitimately outrank a twin on the ascending-id
    // tie-break). Every query's top-2 must contain its twin at
    // cosine 1.0 (self ranks first on the tie-break); a violation row
    // fires per query whose twin is missing, and the queries_probed
    // scalar (pinned by the oracle) makes the empty violation set
    // non-vacuous. One wrong pixel, feature, cell assignment, or probe
    // pruning bug anywhere in the chain surfaces as a violation.
    "q195_image_ann_pipeline" -> ((s, dir) => {
      import graft.functions.ImageExprs
      val base = t(s, dir, "documents")
        .filter(col("doc_id") % 23 === 0 && col("doc_id") < 1280)
        .select(col("doc_id"))
      val both = base
        .unionByName(base.select((col("doc_id") + 1000000L).as("doc_id")))
      val bid = pmod(col("doc_id"), lit(1000000L))
      val feats = both.select(col("doc_id"),
          ImageExprs.imageGridFeatures(
            ImageExprs.pngSynth(
              (lit(16) + bid % 8).cast("int"),
              (lit(12) + bid % 5).cast("int"),
              (bid % 256).cast("int")),
            lit(4), lit(3)).as("feat"))
        .localCheckpoint(true)
      val idx = s"${scratch("q195")}/ivf"
      Similarity.buildIvfIndex(feats, "doc_id", "feat", nlist = 4, idx)
      val queries = feats.filter(col("doc_id") < 1000000L)
        .select(col("doc_id").as("img_id"), col("feat").as("qf"))
      val hits = Similarity.ivfTopKIndexed(
          idx, queries, "img_id", "qf", k = 2, nprobe = 4)
        .transform(graft.CacheScope.persisted)
      val ok = hits
        .filter(col("id") === col("qid") + 1000000L &&
          round(col("sim"), 6) === 1.0)
        .select(col("qid")).distinct()
      val missing = cnt(queries.select(col("img_id").as("qid"))
        .join(ok, Seq("qid"), "left_anti"), "twin_not_in_top2")
      val probed = queries
        .agg(count(lit(1)).as("n"))
        .select(lit("queries_probed").as("kind"), col("n"))
      missing.unionByName(probed).orderBy(col("kind"))
    }),

    // Perceptual image near-dup (round-17): DCT pHash over the real
    // decode layer, paired by the chunk-blocked Hamming search
    // (Dedup.hammingNearDuplicates — the SimHash machinery, now
    // hash-agnostic). Fixtures: 25 seed-distinct low-frequency wave
    // images; each group plants a RE-LEVELED twin (affine intensity
    // map v -> v/2 + 96, the recompression/levels-edit class) and a 2x
    // NN UPSCALE. The output pair relation must be EXACTLY the
    // construction's 3-per-group — the oracle compare enforces both
    // full recall (every twin found at radius 8; model margins: within
    // <= 6 bits, cross-seed >= 18) and full precision (no cross-group
    // pair). Non-vacuity requires: the exact-pixel grid descriptor's
    // cosine drops visibly below 1 for the re-leveled twins (min over
    // groups < 0.999 — a grid-cosine exact-dup pass misses them) while
    // their pHash stays within radius and their dHash is IDENTICAL
    // (gradient ordering survives the monotone map bit-for-bit).
    "q196_image_phash_neardup" -> ((s, dir) => {
      import graft.functions.ImageExprs
      val base = t(s, dir, "documents")
        .filter(col("doc_id") % 20 === 0 && col("doc_id") < 500)
        .select(col("doc_id"),
          ImageExprs.pngSynthWave(lit(48), lit(48),
            (col("doc_id") / 20).cast("int")).as("img"))
        .localCheckpoint(true)
      val variants = base
        .select((col("doc_id") * 10).as("img_id"), col("img"))
        .unionByName(base.select((col("doc_id") * 10 + 1).as("img_id"),
          ImageExprs.imageLinearMap(
            col("img"), lit(1), lit(2), lit(96)).as("img")))
        .unionByName(base.select((col("doc_id") * 10 + 2).as("img_id"),
          ImageExprs.imageResizeNn(col("img"), lit(96), lit(96)).as("img")))
      val hashed = variants.select(col("img_id"),
          ImageExprs.imagePHash(col("img")).as("fp"),
          ImageExprs.imageDHash(col("img")).as("dfp"),
          ImageExprs.imageGridFeatures(col("img"), lit(4), lit(4)).as("gf"))
        .localCheckpoint(true)
      val grp = hashed.withColumn("g", (col("img_id") / 10).cast("long"))
        .withColumn("variant", col("img_id") % 10)
      val checks = grp.filter(col("variant") === 0)
        .select(col("g"), col("fp").as("fp0"), col("dfp").as("dfp0"),
          col("gf").as("gf0"))
        .join(grp.filter(col("variant") === 1)
          .select(col("g"), col("fp").as("fp1"), col("dfp").as("dfp1"),
            col("gf").as("gf1")), "g")
        .agg(
          max(bit_count(col("fp0").bitwiseXOR(col("fp1")))).as("max_ph"),
          sum(when(col("dfp0") =!= col("dfp1"), 1).otherwise(0)).as("d_neq"),
          min(graft.functions.VecExprs.cosineSim(col("gf0"), col("gf1")))
            .as("min_cos"))
        .collect()(0)
      require(checks.getInt(0) <= 8,
        s"q196: re-leveled twin pHash drifted ${checks.getInt(0)} bits")
      require(checks.getLong(1) == 0L,
        s"q196: dHash not invariant on ${checks.getLong(1)} groups")
      require(checks.getDouble(2) < 0.999,
        s"q196: grid cosine ${checks.getDouble(2)} — the grid descriptor " +
          "did not miss anything, the perceptual hash adds no coverage")
      graft.operators.Dedup
        .hammingNearDuplicates(hashed, "img_id", "fp", maxHamming = 8)
        .select(col("id_a").as("img_id_a"), col("id_b").as("img_id_b"))
        .orderBy(col("img_id_a"), col("img_id_b"))
    }),

    // Audio fingerprints in the ANN estate (round-17, the q195 shape
    // for the audio modality): WAV corpus -> band-energy spectral
    // features (real RIFF/PCM decode, StrictMath DFT bins) -> persisted
    // IVF -> probe. The planted twin is a HALF-GAIN re-encode of the
    // same recording: the synth's even samples halve EXACTLY, band
    // energies scale by exactly 1/4 (power-of-two float scaling), and
    // the twin pins at cosine 1.0 to the ulp. Violation row per query
    // whose twin misses its top-2 at round(sim,6)=1.0; queries_probed
    // pins non-vacuity. Seeds give every group a distinct square-wave
    // period pair, so cross-group spectra cannot fake the 1.0.
    "q197_audio_ann_pipeline" -> ((s, dir) => {
      import graft.functions.ImageExprs
      val base = t(s, dir, "documents")
        .filter(col("doc_id") % 20 === 0 && col("doc_id") < 500)
        .select(col("doc_id"),
          ImageExprs.wavSynthDual(lit(8000), lit(2048),
            (col("doc_id") / 20).cast("int")).as("wav"))
        .localCheckpoint(true)
      val both = base.select(col("doc_id"), col("wav"))
        .unionByName(base.select((col("doc_id") + 1000000L).as("doc_id"),
          ImageExprs.wavGain(col("wav"), lit(1), lit(2)).as("wav")))
      val feats = both.select(col("doc_id"),
          ImageExprs.audioBandFeatures(
            col("wav"), lit(24), lit(256)).as("feat"))
        .localCheckpoint(true)
      val idx = s"${scratch("q197")}/ivf"
      Similarity.buildIvfIndex(feats, "doc_id", "feat", nlist = 4, idx)
      val queries = feats.filter(col("doc_id") < 1000000L)
        .select(col("doc_id").as("aud_id"), col("feat").as("qf"))
      val hits = Similarity.ivfTopKIndexed(
          idx, queries, "aud_id", "qf", k = 2, nprobe = 4)
        .transform(graft.CacheScope.persisted)
      val ok = hits
        .filter(col("id") === col("qid") + 1000000L &&
          round(col("sim"), 6) === 1.0)
        .select(col("qid")).distinct()
      val missing = cnt(queries.select(col("aud_id").as("qid"))
        .join(ok, Seq("qid"), "left_anti"), "twin_not_in_top2")
      val probed = queries
        .agg(count(lit(1)).as("n"))
        .select(lit("queries_probed").as("kind"), col("n"))
      missing.unionByName(probed).orderBy(col("kind"))
    }),

    // Multimodal STREAMING ingest (round-17): the image column is
    // first-class in the INGEST path, not just at rest — a foreachBatch
    // sink that DECODES + FEATURIZES each micro-batch's raw PNG bytes
    // (imageGridFeatures, the real codegen'd decode) and lands the
    // vectors in the persisted IVF estate via the exactly-once
    // ivfIngestBatch protocol. Composition soundness is the q169
    // rationale: featurize is a deterministic per-row map, so every
    // re-delivered batch re-derives the SAME vectors and the apply's
    // idempotence carries. Drill: [[replayPhases]] over 3 phases, after
    // an IVF junk vector (image 0's features) planted in its nearest
    // cell. Gate: every image's feature-probe must return ITSELF as
    // top-1 at cosine 1.0 (the planted junk shares image 0's features with a
    // smaller id, so surviving debris flips image 0's top-1), and
    // corpus_rows pins exactly-once cardinality (a double-applied
    // batch or surviving junk breaks the count).
    "q198_multimodal_stream_ingest" -> ((s, dir) => {
      import graft.functions.ImageExprs
      val spark = Tables.configure(s)
      // doc_id < 19000: encodePngWave folds its seed into (kx, ky,
      // phase) with effective period 2425, so two mod-8 ids 19400 apart
      // produce IDENTICAL images — identical grid features — and the
      // self-top-1 gate ties. The cap keeps every seed distinct at any
      // scale factor (first collision pair is 0 vs 19400); q196/q197
      // cap their slices for the same reason.
      val imgs = t(s, dir, "documents")
        .filter(col("doc_id") % 8 === 0 && col("doc_id") < 19000L)
        .select(col("doc_id").as("img_id"),
          ImageExprs.pngSynthWave(lit(48), lit(48),
            pmod(col("doc_id"), lit(1048576L)).cast("int")).as("img"))
        .localCheckpoint(true)
      val feats = imgs.select(col("img_id"),
          ImageExprs.imageGridFeatures(col("img"), lit(4), lit(4))
            .as("feat"))
        .localCheckpoint(true)
      val path = s"${scratch("q198")}/ivf"
      val cents = Similarity.trainIvfCentroids(
        feats, "img_id", "feat", nlist = 4)
      Similarity.ivfInit(spark, cents, path)
      plantIvfJunk(path, feats.filter(col("img_id") === 0L).select(col("feat")),
        cents)
      val phases = (0 until 3).map(i =>
        imgs.filter(col("img_id") % 3 === i)
          .select(col("img_id"), col("img")))
      replayPhases(spark, s"multimodal198|$dir", phases, (batch, bid) =>
        Similarity.ivfIngestBatch(path, batch.select(col("img_id"),
            ImageExprs.imageGridFeatures(col("img"), lit(4), lit(4))
              .as("feat")),
          "img_id", "feat", bid))
      val queries = feats
        .select((col("img_id") + 1000000L).as("pid"),
          col("feat").as("qf"))
      val hits = Similarity.ivfTopKIndexed(
          path, queries, "pid", "qf", k = 1, nprobe = 4)
        .transform(graft.CacheScope.persisted)
      val ok = hits
        .filter(col("id") === col("qid") - 1000000L &&
          round(col("sim"), 6) === 1.0)
        .select(col("qid")).distinct()
      val missing = cnt(queries.select(col("pid").as("qid"))
        .join(ok, Seq("qid"), "left_anti"), "self_not_top1")
      val corpusRows = spark.read.parquet(s"$path/corpus")
        .agg(count(lit(1)).as("n"))
        .select(lit("corpus_rows").as("kind"), col("n"))
      val probed = queries.agg(count(lit(1)).as("n"))
        .select(lit("queries_probed").as("kind"), col("n"))
      missing.unionByName(corpusRows).unionByName(probed)
        .orderBy(col("kind"))
    }),

    // Streaming first-arrival IMAGE dedup (round-17): the perceptual
    // hash composed into the persisted exact-dedup registry with ZERO
    // new machinery — the digest column is image_dhash (EXACTLY
    // invariant under the re-level and integer-upscale twin classes,
    // model- and spec-verified per seed), so a re-leveled or upscaled
    // RE-UPLOAD of a registered image streams in and is refused as a
    // duplicate while genuinely new images register, across batches,
    // under the [[replayPhases]] drill. Arrivals: 50 bases, then 25
    // re-leveled re-uploads + 25 new images, then 50 upscaled
    // re-uploads; accepted must be EXACTLY the 50 bases + 25 new
    // (n_dropped = 75 rides the output as a pinned scalar row).
    "q201_image_stream_dedup" -> ((s, dir) => {
      import graft.functions.ImageExprs
      val spark = Tables.configure(s)
      val base = t(s, dir, "documents")
        .filter(col("doc_id") % 10 === 0 && col("doc_id") < 500)
        .select(col("doc_id"))
        .localCheckpoint(true)
      def wave(seed: org.apache.spark.sql.Column) =
        ImageExprs.pngSynthWave(lit(48), lit(48), seed.cast("int"))
      val p0 = base.select(col("doc_id").as("img_id"),
        wave(col("doc_id") / 10).as("img"))
      val p1 = base.filter(col("doc_id") % 20 === 0)
        .select((col("doc_id") + 1000000L).as("img_id"),
          ImageExprs.imageLinearMap(
            wave(col("doc_id") / 10), lit(1), lit(2), lit(96)).as("img"))
        .unionByName(base.filter(col("doc_id") % 20 === 0)
          .select((col("doc_id") + 2000000L).as("img_id"),
            wave(col("doc_id") / 10 + 50).as("img")))
      val p2 = base.select((col("doc_id") + 3000000L).as("img_id"),
        ImageExprs.imageResizeNn(
          wave(col("doc_id") / 10), lit(96), lit(96)).as("img"))
      val reg = s"${scratch("q201")}/reg"
      DedupRegistry.init(spark, reg, buckets = 16)
      replayPhases(spark, s"imgdedup201|$dir", Seq(p0, p1, p2), (batch, bid) =>
        DedupRegistry.ingestBatch(reg,
          batch.select(col("img_id"),
            ImageExprs.imageDHash(col("img")).cast("string").as("dh")),
          "img_id", "dh", bid))
      val corpus = spark.read
        .schema("id LONG, text STRING, digest STRING")
        .parquet(s"$reg/corpus")
      val stats = spark.read.parquet(s"$reg/stats")
      corpus.select(lit("accepted").as("kind"), col("id").cast("long").as("v"))
        .unionByName(stats.select(lit("n_dropped").as("kind"),
          col("n_dropped").cast("long").as("v")))
        .orderBy(col("kind"), col("v"))
    }),

    // COMMIT-PROTOCOL estate audit under the driver's oracle (round 18;
    // EstateFsckSpec is the spec twin with the full per-class plants):
    // Fsck.estateFsck audits the metadata every per-artifact audit
    // TRUSTS — manifest, committed snapshot + append-delta shard
    // chains, every pinned file's physical resolvability, stale
    // claims/locks, stranded markers, standing delete intents. The
    // gate audits a lived-in IVF estate (build -> ingest chains ->
    // compact + retention GC) plus the standing bm25 base, expecting
    // EMPTY; non-vacuity teeth inside: a planted lease-expired claim
    // and a severed chain base must each be caught by name (then
    // restored).
    "q204_estate_fsck" -> ((s, dir) => {
      val spark = Tables.configure(s)
      val ivf = s"${scratch("q204")}/ivf"
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id"),
          col("embedding").cast("array<double>").as("vec"))
        .localCheckpoint(true)
      Similarity.buildIvfIndex(
        emb.filter(col("vec_id") % 2 === 0), "vec_id", "vec",
        nlist = 4, ivf)
      (0 until 2).foreach(b => Similarity.ivfIngestBatch(ivf,
        emb.filter(col("vec_id") % 4 === (2 * b + 1)), "vec_id", "vec",
        b.toLong))
      Similarity.ivfCompact(spark, ivf, gcKeepGenerations = Some(2))
      Similarity.ivfIngestBatch(ivf,
        emb.filter(col("vec_id") % 8 === 0)
          .select((col("vec_id") + 900000L).as("vec_id"), col("vec")),
        "vec_id", "vec", 2L) // a live delta chain at the head
      def kindsOf(p: String): Set[String] = graft.operators.Fsck
        .estateFsck(spark, p).collect().map(_.getString(0)).toSet
      val fs = new org.apache.hadoop.fs.Path(ivf)
        .getFileSystem(spark.sessionState.newHadoopConf())
      // teeth 1: a lease-expired claim is caught, then cleared
      val claim = new org.apache.hadoop.fs.Path(
        s"$ivf/${graft.operators.StableRead.SnapshotsDirName}/g99.claim")
      fs.create(claim, true).close()
      fs.setTimes(claim, System.currentTimeMillis() - 3600000L, -1)
      require(kindsOf(ivf).contains("estate_stale_claim"),
        "q204: planted stale claim not caught")
      fs.delete(claim, false)
      // teeth 2: sever the head delta shard's chain base, catch, restore
      val head = graft.operators.StableRead
        .manifestGeneration(spark, ivf).get
      val snapDir = s"$ivf/${graft.operators.StableRead.SnapshotsDirName}"
      val headShard = new org.apache.hadoop.fs.Path(
        s"$snapDir/g$head.corpus")
      val headLine = {
        val in = fs.open(headShard)
        try scala.io.Source.fromInputStream(in, "UTF-8")
          .mkString.linesIterator.next()
        finally in.close()
      }
      require(headLine.startsWith("3|"),
        s"q204: head corpus shard is not a delta ($headLine)")
      val base = new org.apache.hadoop.fs.Path(
        s"$snapDir/g${headLine.split('|')(3)}.corpus")
      val saved = {
        val in = fs.open(base)
        try org.apache.commons.io.IOUtils.toByteArray(in)
        finally in.close()
      }
      require(fs.delete(base, false))
      require(kindsOf(ivf).contains("estate_snapshot_unreadable"),
        "q204: severed chain not caught")
      val outb = fs.create(base, true); outb.write(saved); outb.close()
      // the audited relation: both estates clean == the empty oracle
      graft.operators.Fsck.estateFsck(s, ivf)
        .unionByName(graft.operators.Fsck
          .estateFsck(s, bm25BaseAppended(s, dir)))
        .orderBy(col("kind"), col("n"))
    }),

    // CROSS-ARTIFACT ATOMIC VISIBILITY (round 19 — the round-18
    // verdict's #2): the curate-then-index composition is exactly-once
    // PER ARTIFACT, but no single snapshot spanned the two roots — a
    // pinned reader could observe the registry at generation N with
    // the index still at N-1. The composed sink now records a PARENT
    // composite commit (one (root -> generation) pair per child,
    // written after both children commit), and
    // StableRead.pinnedComposite serves that cut under churn. The gate
    // drives the q169 pipeline through [[replayPhases]], captures the
    // composite generation recorded after batch 1, lets batch 2 churn BOTH
    // roots, then probes AT the cut: in-gate teeth require the pinned
    // registry corpus / registry stats / index stats / index doc
    // registry to AGREE (the exact anomaly the parent commit closes)
    // and the live estate to have moved past the cut (non-vacuity);
    // the audited relation is the full composed BM25 probe at the cut,
    // hash-checked against the DuckDB oracle over phases 0..1's
    // first-arrival survivors only.
    "q205_composite_pin" -> ((s, dir) => {
      val regPath = s"$regIngestParent/reg205"
      val idxPath = s"$regIngestParent/idx205"
      val parent = s"$regIngestParent/est205"
      Seq(regPath, idxPath, parent).foreach(p =>
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(p)))
      DedupRegistry.init(s, regPath, buckets = 16)
      Retrieval.bm25Init(s, idxPath, buckets = 64)
      var cutGen = -1L
      replayPhases(s, s"ingest167|$dir", dedupStreamPhases(s, dir),
        DedupRegistry.dedupIndexStreamSink(
          regPath, idxPath, "doc_id", "text", compositeRoot = Some(parent)),
        between = i => if (i == 1)
          cutGen = graft.operators.StableRead
            .manifestGeneration(s, parent).getOrElse(-1L))
      require(cutGen > 0, "q205: no composite cut captured after batch 1")
      val cutAgree = graft.operators.StableRead
        .pinnedComposite(s, parent, Some(cutGen)) {
          val regN = graft.operators.StableRead
            .readTable(s, regPath, "stats")
            .select(col("n_docs")).collect()(0).getLong(0)
          val corpusN = graft.operators.StableRead
            .readTable(s, regPath, "corpus").count()
          val idxN = graft.operators.StableRead
            .readTable(s, idxPath, "stats")
            .select(col("n_docs")).collect()(0).getLong(0)
          val dlN = graft.operators.StableRead
            .readTable(s, idxPath, "doclen",
              Some(Retrieval.doclenSchema)).count()
          require(regN == corpusN && regN == idxN && regN == dlN,
            s"q205: the pinned cut is not cross-artifact consistent " +
              s"(reg stats $regN / reg corpus $corpusN / idx stats $idxN " +
              s"/ idx registry $dlN)")
          s.range(1).select(lit(regN).as("n"))
        }
      val cutN = cutAgree.collect()(0).getLong(0)
      graft.operators.StableRead.release(cutAgree)
      val liveN = s.read.parquet(s"$idxPath/stats")
        .select(col("n_docs")).collect()(0).getLong(0)
      require(liveN > cutN,
        s"q205: batch 2 did not move the live estate past the cut " +
          s"($cutN vs $liveN) — the pin proves nothing")
      graft.operators.StableRead.pinnedComposite(s, parent, Some(cutGen)) {
        Retrieval.bm25TopKIndexed(idxPath, bm25Queries(s), k = 10)
      }.orderBy(col("query_id"), col("rnk"))
    }),

    // TIME TRAVEL under the driver's oracle (round 18 — pinnedAt /
    // readSnapshotAt were spec-only): build a bm25 index over
    // doc_id % 3 = 0, append doc_id % 3 = 1 and capture THAT
    // generation's snapshot, then mutate two more generations past it
    // (delete each query's live top-1 doc, then compact) and probe the
    // estate AS OF the captured generation — hash-pinned against the
    // DuckDB BM25 oracle over exactly the pre-delete corpus. Teeth:
    // (a) the live probe must DIFFER from the pinned one (each query's
    // top doc was deleted, so rank 1 must have changed — time travel
    // that returns the live state is vacuous), and (b) after
    // expireRetired past the retention horizon the pin must break
    // LOUDLY (snapshot unreadable + the held-snapshot probe throws) —
    // a silent partial read would be an MVCC hole, not a GC.
    "q202_time_travel" -> ((s, dir) => {
      val spark = Tables.configure(s)
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("text")).localCheckpoint(true)
      val path = s"${scratch("q202")}/idx"
      Retrieval.buildBm25Index(
        docs.filter(col("doc_id") % 3 === 0), "doc_id", "text", path,
        buckets = 64)
      Retrieval.bm25Append(
        path, docs.filter(col("doc_id") % 3 === 1), "doc_id", "text")
      val snapAppended = graft.operators.StableRead
        .readSnapshot(spark, path)
        .getOrElse(throw new IllegalStateException(
          "q202: no committed snapshot after append"))
      // the AS-OF-timestamp surface must resolve this same generation
      // from its own commit instant (round-18 addendum 2)
      require(graft.operators.StableRead.readSnapshotAsOf(spark, path,
          graft.operators.StableRead.snapshotCommitTime(
            spark, path, snapAppended.gen).getOrElse(
            throw new IllegalStateException("q202: no commit time")))
        .map(_.gen).contains(snapAppended.gen),
        "q202: AS OF <timestamp> resolved a different generation")
      def probe() =
        Retrieval.bm25TopKIndexed(path, bm25Queries(s), 10)
      // doomed = every query's CURRENT top-1 doc: deleting them
      // guarantees the live relation diverges from the pinned one
      val doomed = probe().filter(col("rnk") === 1)
        .select(col("doc_id")).distinct().localCheckpoint(true)
      require(Retrieval.bm25Delete(spark, path, doomed, "doc_id") > 0L,
        "q202: the top-doc takedown deleted nothing")
      Retrieval.bm25Compact(spark, path)
      val pinnedRel = graft.operators.StableRead
        .pinnedAt(spark, Seq(snapAppended))(probe())
      val liveRel = probe().localCheckpoint(true)
      require(
        pinnedRel.collect().map(_.toString).sorted.toSeq !=
          liveRel.collect().map(_.toString).sorted.toSeq,
        "q202: pinned == live — the post-pin mutations were invisible " +
          "and the time-travel read proved nothing")
      // GC teeth: expire everything but the newest generation, then the
      // held pin must fail loudly, never serve a blend
      graft.operators.StableRead.expireRetired(
        spark, path, keepGenerations = 1)
      require(graft.operators.StableRead
        .readSnapshotAt(spark, path, snapAppended.gen).isEmpty,
        "q202: the expired generation's snapshot is still readable")
      val broke =
        try {
          val r = graft.operators.StableRead
            .pinnedAt(spark, Seq(snapAppended), maxAttempts = 2)(probe())
          graft.operators.StableRead.release(r)
          false
        } catch { case _: IllegalStateException => true }
      require(broke,
        "q202: a pin past the GC horizon served data instead of failing")
      pinnedRel.orderBy(col("query_id"), col("rnk"))
    }),

    // SQL TIME TRAVEL under the driver's oracle (round 19 — the
    // round-18 verdict's #3: pinnedAt/readSnapshotAsOf were
    // library-only). The q202 estate shape (build %3==0, append %3==1,
    // capture THAT generation, then delete every query's top-1 doc and
    // compact so live != pinned), but the pinned probe runs through
    // PLAIN spark.sql over registered estate tables: the full BM25
    // scoring arithmetic expressed in SQL over
    // `est206.<table> VERSION AS OF g`, with in-gate teeth requiring
    // (a) the SQL relation == the library pinnedAt(bm25TopKIndexed)
    // relation VERBATIM, (b) TIMESTAMP AS OF <that generation's commit
    // instant> == VERSION AS OF g, and (c) a plain (no AS OF) SQL read
    // seeing the live post-delete registry. Oracle: the q202 BM25
    // relation over exactly the pre-delete corpus.
    "q206_sql_time_travel" -> ((s, dir) => {
      val spark = Tables.configure(s)
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("text")).localCheckpoint(true)
      val path = s"${scratch("q206")}/idx"
      Retrieval.buildBm25Index(
        docs.filter(col("doc_id") % 3 === 0), "doc_id", "text", path,
        buckets = 64)
      Retrieval.bm25Append(
        path, docs.filter(col("doc_id") % 3 === 1), "doc_id", "text")
      val snap = graft.operators.StableRead.readSnapshot(spark, path)
        .getOrElse(throw new IllegalStateException(
          "q206: no committed snapshot after append"))
      val tsMs = graft.operators.StableRead
        .snapshotCommitTime(spark, path, snap.gen)
        .getOrElse(throw new IllegalStateException("q206: no commit time"))
      def probe() = Retrieval.bm25TopKIndexed(path, bm25Queries(s), 10)
      val doomed = probe().filter(col("rnk") === 1)
        .select(col("doc_id")).distinct().localCheckpoint(true)
      require(Retrieval.bm25Delete(spark, path, doomed, "doc_id") > 0L,
        "q206: the top-doc takedown deleted nothing")
      Retrieval.bm25Compact(spark, path)
      graft.sql.EstateSql.registerEstate("est206", path)
      // the probe, in PLAIN SQL over the time-traveled estate tables —
      // term-for-term the bm25ScoreTail arithmetic (constants written
      // as the same double expressions, ranking on the RAW sum,
      // round(4) strictly after)
      def sqlProbe(asOf: String): DataFrame = spark.sql(
        s"""WITH t AS (
              SELECT term, sum(df) AS df
              FROM est206.terms $asOf GROUP BY term),
            q (query_id, query_text) AS (VALUES
              (CAST(1 AS BIGINT), 'spark window merge'),
              (CAST(2 AS BIGINT), 'customer filter join'),
              (CAST(3 AS BIGINT), 'hash scan order batch'),
              (CAST(4 AS BIGINT), 'vector data stream data'),
              (CAST(5 AS BIGINT), 'slow query table')),
            qt AS (
              SELECT DISTINCT query_id, term FROM (
                SELECT query_id, explode(split(query_text, ' ')) AS term
                FROM q)),
            scored AS (
              SELECT qt.query_id, p.id,
                sum(
                  ln(1.0 +
                    ((SELECT CAST(n_docs AS DOUBLE)
                      FROM est206.stats $asOf)
                      - CAST(t.df AS DOUBLE) + 0.5)
                    / (CAST(t.df AS DOUBLE) + 0.5))
                  * (CAST(p.tf AS DOUBLE) * (1.2 + 1.0)
                    / (CAST(p.tf AS DOUBLE)
                      + 1.2 * (1.0 - 0.75 + 0.75 * CAST(d.dl AS DOUBLE)
                        / (SELECT CAST(total_tokens AS DOUBLE)
                            / CAST(n_docs AS DOUBLE)
                          FROM est206.stats $asOf))))) AS score
              FROM qt
              JOIN t USING (term)
              JOIN (SELECT id, term, tf FROM est206.postings $asOf) p
                USING (term)
              JOIN (SELECT id, dl FROM est206.doclen $asOf) d
                ON p.id = d.id
              GROUP BY qt.query_id, p.id)
            SELECT query_id, rnk, doc_id, round(score, 4) AS score FROM (
              SELECT query_id, id AS doc_id, score,
                row_number() OVER (PARTITION BY query_id
                  ORDER BY score DESC, id) AS rnk
              FROM scored) WHERE rnk <= 10""")
      val fromVersion = sqlProbe(s"VERSION AS OF ${snap.gen}")
        .collect().map(_.toString).sorted.toSeq
      val tsLit = java.time.format.DateTimeFormatter
        .ofPattern("yyyy-MM-dd HH:mm:ss.SSS")
        .withZone(java.time.ZoneOffset.UTC)
        .format(java.time.Instant.ofEpochMilli(tsMs))
      val fromTimestamp = sqlProbe(s"TIMESTAMP AS OF '$tsLit'")
        .collect().map(_.toString).sorted.toSeq
      require(fromVersion == fromTimestamp,
        "q206: TIMESTAMP AS OF diverged from VERSION AS OF at the " +
          "generation's own commit instant")
      val pinnedRel = graft.operators.StableRead
        .pinnedAt(spark, Seq(snap))(probe())
      require(
        pinnedRel.collect().map(_.toString).sorted.toSeq == fromVersion,
        "q206: the SQL time-travel probe diverged from the library " +
          "pinnedAt relation")
      graft.operators.StableRead.release(pinnedRel)
      // plain (no AS OF) SQL reads serve the LIVE estate: the deleted
      // docs are gone there, so live doc count < pinned doc count
      val liveN = spark.sql("SELECT count(*) AS n FROM est206.doclen")
        .collect()(0).getLong(0)
      val pinnedN = spark
        .sql(s"SELECT count(*) AS n FROM est206.doclen " +
          s"VERSION AS OF ${snap.gen}")
        .collect()(0).getLong(0)
      require(liveN < pinnedN,
        s"q206: live SQL read ($liveN docs) not past the pin ($pinnedN) " +
          "— the takedown was invisible and the travel proved nothing")
      val out = sqlProbe(s"VERSION AS OF ${snap.gen}")
        .orderBy(col("query_id"), col("rnk"))
        .localCheckpoint(true)
      // session hygiene: an empty registry short-circuits the analyzer
      // rule for every later query (spark.sql analysis was eager, so
      // the returned relation no longer needs the registration)
      graft.sql.EstateSql.unregisterEstate("est206")
      out
    }),

    // CONCURRENT WRITERS on one index under the driver's oracle (round
    // 18 — the multi-writer commit protocol's flagship drill): a
    // streaming IVF ingest (three exactly-once batches on a second
    // thread) races repeated COMPACTIONS of the same index on this
    // one. Table writer locks serialize the data-level file moves, the
    // claim-CAS serializes generation bumps, and snapshot-pinned
    // probes fire throughout — every raced probe must keep each BASE
    // vector's self-hit at cosine 1.0 (a torn corpus or a blend breaks
    // it). Final teeth: all three batch markers committed, >= 2
    // compactions ran, fsck clean, and the output pins exactly-once
    // cardinality (corpus_rows = the whole embeddings table) plus a
    // violations row that must stay absent.
    "q203_concurrent_writers" -> ((s, dir) => {
      val spark = Tables.configure(s)
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>")
          .as("vec"))
        .localCheckpoint(true)
      val path = s"${scratch("q203")}/ivf"
      Similarity.buildIvfIndex(
        emb.filter(col("vec_id") % 4 === 0), "vec_id", "vec",
        nlist = 4, path)
      val batches = (1 to 3).map(m =>
        emb.filter(col("vec_id") % 4 === m).localCheckpoint(true))
      val baseQ = emb.filter(col("vec_id") % 4 === 0)
        .select((col("vec_id") + 1000000L).as("qid"), col("vec").as("qv"))
        .localCheckpoint(true)
      val ingest = scala.concurrent.Future {
        batches.zipWithIndex.foreach { case (b, i) =>
          Similarity.ivfIngestBatch(path, b, "vec_id", "vec", i.toLong)
        }
      }(scala.concurrent.ExecutionContext.global)
      var compacts = 0
      var racedProbes = 0
      while (!ingest.isCompleted || compacts < 2) {
        Similarity.ivfCompact(spark, path)
        compacts += 1
        val hits = graft.operators.StableRead.pinned(spark, Seq(path)) {
          Similarity.ivfTopKIndexed(
            path, baseQ, "qid", "qv", k = 1, nprobe = 4)
        }
        val bad = hits.filter(col("id") =!= col("qid") - 1000000L ||
          round(col("sim"), 6) =!= 1.0).count()
        graft.operators.StableRead.release(hits)
        require(bad == 0L,
          s"q203: $bad base self-hits broke mid-race (probe $racedProbes)")
        racedProbes += 1
      }
      scala.concurrent.Await.result(
        ingest, scala.concurrent.duration.Duration.Inf)
      val fs = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(spark.sessionState.newHadoopConf())
      (0 to 2).foreach(b => require(
        fs.exists(new org.apache.hadoop.fs.Path(s"$path/ingestlog/b$b")),
        s"q203: batch $b never committed"))
      require(graft.operators.Fsck.ivfFsck(spark, path).count() == 0L,
        "q203: fsck found violations after the race")
      val all = spark.read.parquet(s"$path/corpus")
        .select((col("id") + 1000000L).as("qid"),
          col("vec").as("qv")).localCheckpoint(true)
      val finalHits = Similarity.ivfTopKIndexed(
          path, all, "qid", "qv", k = 1, nprobe = 4)
        .transform(graft.CacheScope.persisted)
      val ok = finalHits
        .filter(col("id") === col("qid") - 1000000L &&
          round(col("sim"), 6) === 1.0)
        .select(col("qid")).distinct()
      val missing = cnt(all.select(col("qid"))
        .join(ok, Seq("qid"), "left_anti"), "self_not_top1")
      val corpusRows = spark.read.parquet(s"$path/corpus")
        .agg(count(lit(1)).as("n"))
        .select(lit("corpus_rows").as("kind"), col("n"))
      missing.unionByName(corpusRows).orderBy(col("kind"))
    }),

    // Video container TRIAGE without touching pixel data (the
    // pngDimensions contract for the video modality): dimensions, bit
    // depth, compression fourcc, and a chunk-header-only frame count —
    // what a 100 TB pipeline reads to decide WHAT to decode. Oracle =
    // arithmetic on the same id-derived clip parameters.
    "q194_video_meta" -> ((s, dir) => {
      import graft.functions.ImageExprs
      t(s, dir, "documents")
        .filter(col("doc_id") % 31 === 0)
        .select(col("doc_id"),
          ImageExprs.aviMeta(
            ImageExprs.aviSynthDib(
              (lit(16) + col("doc_id") % 6).cast("int"),
              (lit(12) + col("doc_id") % 4).cast("int"),
              (lit(3) + col("doc_id") % 4).cast("int"),
              (col("doc_id") % 256).cast("int"))).as("m"))
        .select(col("doc_id"),
          col("m.width").as("width"), col("m.height").as("height"),
          col("m.bpp").as("bpp"),
          col("m.compression").as("compression"),
          col("m.n_frames").as("n_frames"))
        .orderBy(col("doc_id"))
    }),

    // Margin-based bitext mining (the CCMatrix/LASER ratio-margin
    // criterion): en->de translation-pair candidates over the aligned
    // embeddings — each en vector's best de target by cos normalized
    // against BOTH sides' 4-NN neighborhoods, kept at margin >= 1.1.
    // The exact brute-force scoring arm is the gate's deliberate shape
    // (the q27/q101 exemption); what the oracle pins is the margin
    // arithmetic — the anti-hub normalization that raw cosine lacks —
    // and the per-source argmax/threshold cut.
    "q147_bitext_margin" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val docs = t(s, dir, "documents")
      def side(lang: String) = emb.join(
        docs.filter(col("lang") === lang)
          .select(col("doc_id").as("vec_id")), "vec_id")
      Similarity.marginMine(side("en"), side("de"), "vec_id", "embedding",
          k = 4, threshold = 1.1)
        .orderBy(col("src_id"))
    }),

    // IVF compaction soundness (the q145 shape for the DENSE index):
    // the copied-in setup state is build on 3/4 + the rest appended in
    // TWO batches (ivfBaseAppended — three file generations per touched
    // cell); probe, compact, probe again — the two probe relations must
    // be IDENTICAL (the pre-compact relation is collected to a bounded
    // local table BEFORE the swap destroys the files it was computed
    // from), and the compacted corpus must hold exactly every vector.
    // Empty output = sound.
    "q149_ivf_compact" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val a = emb.filter(col("vec_id") % 4 =!= 0)
      val b1 = emb.filter(col("vec_id") % 8 === 0)
      val b2 = emb.filter(col("vec_id") % 8 === 4)
      val path = ivfCompactDir
      copyInto(ivfBaseAppended(s, dir), path)
      val queries = emb.filter(col("vec_id") % 10 === 0)
        .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
      def probe() = Similarity.ivfTopKIndexed(
          path, queries, "vec_id", "embedding", k = 5, nprobe = 2)
        .withColumn("sim", round(col("sim"), 4))
      val beforeRows = probe().collect() // bounded: |queries| x k
      Similarity.ivfCompact(s, path)
      val after = probe()
      val before = s.createDataFrame(
        s.sparkContext.parallelize(beforeRows.toIndexedSeq), after.schema)
      val extra = cnt(after.exceptAll(before), "extra_rows")
      val missing = cnt(before.exceptAll(after), "missing_rows")
      val expected = a.count() + b1.count() + b2.count()
      val countViol = s.read.parquet(s"$path/corpus")
        .groupBy().agg(count(lit(1)).as("c"))
        .filter(col("c") =!= expected)
        .select(lit("count_mismatch").as("kind"), col("c").as("n"))
      extra.unionByName(missing).unionByName(countViol)
        .orderBy(col("kind"), col("n"))
    }),

    // Tokenize-and-pack: the pretraining final mile composed end to end
    // — context-window packing budgeted by the TRAINED tokenizer's
    // encoded token counts (q146's merges applied corpus-wide), not the
    // whitespace proxy q51 uses. A drifted merge application changes a
    // document's encoded length, shifts a pack boundary, and breaks a
    // per-shard counter. Budget 256 so merges move docs across packs.
    "q150_tokenize_pack" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val merges = TextAnalysis.bpeMerges(docs, "text", rounds = 4)
        .orderBy(col("round"))
        .select(col("pair_a"), col("pair_b"))
        .collect().map(r => (r.getString(0), r.getString(1))).toSeq
      Packing.packProfile(
          TextAnalysis.bpeEncode(docs, "doc_id", "text", merges)
            .select(col("id").as("doc_id"),
              size(col("tokens")).cast("long").as("n_toks")),
          "doc_id", "n_toks", budget = 256L, numShards = 8)
        .groupBy(col("shard"))
        .agg(
          count(lit(1)).as("n_packs"),
          sum(col("n_docs")).as("n_docs"),
          sum(col("pack_tokens")).as("total_tokens"),
          max(col("pack_tokens")).as("max_pack_tokens"),
          sum(col("overflow_tokens")).as("total_overflow"))
        .orderBy(col("shard"))
    }),

    // Persisted language-ID model (the train-once/score-many shape for
    // MODELS, mirroring the persisted indexes): the q144 seed trains to
    // files — (vocabulary x classes) weights + per-class priors — and
    // scoring the held-out docs against the FILES must reproduce q144's
    // relation exactly against q144's verbatim oracle (doubles
    // round-trip parquet bit-exactly; the gram length is recovered from
    // the model, never trusted to the caller).
    "q151_lang_id_model" -> ((s, dir) => {
      val docs = langIdPlanted(t(s, dir, "documents"))
      TextAnalysis.saveLangIdModel(
        docs, "doc_id", "text", "lang", seedMax = 200L, langIdModelDir)
      TextAnalysis.langIdScoresIndexed(
          langIdModelDir, docs.filter(col("doc_id") >= 200L),
          "doc_id", "text")
        .withColumn("score_r", round(col("score"), 4))
        .withColumn("margin_r", round(col("margin"), 4))
        .join(docs.select(col("doc_id").as("id"), col("lang")), "id")
        .groupBy(col("lang"), col("pred"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_grams")).as("total_grams"),
          round(avg(col("score_r")), 3).as("avg_score"),
          round(avg(col("margin_r")), 3).as("avg_margin"),
          round(min(col("margin_r")), 4).as("min_margin"))
        .orderBy(col("lang"), col("pred"))
    }),

    // Targeted deletion under the driver gate (takedown / erasure /
    // opt-out — the governance primitive a long-lived corpus needs):
    // the corpus lands lang-partitioned, a doomed-key list (every 7th
    // id PLUS all of 'fr' — so one partition empties completely and the
    // others rewrite partially) deletes via Sinks.deleteRows, and the
    // READ-BACK corpus must equal the oracle's anti-join — a surviving
    // doomed row, a lost survivor, or a zombie emptied partition all
    // break a counter.
    "q152_targeted_delete" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      docs.repartition(col("lang"))
        .write.mode("overwrite").partitionBy("lang").parquet(deleteDir)
      val doomed = docs
        .filter(col("doc_id") % 7 === 0 || col("lang") === "fr")
        .select(col("doc_id"))
      graft.sinks.Sinks.deleteRows(s, deleteDir, "lang", "doc_id", doomed)
      s.read.parquet(deleteDir)
        .groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("doc_id")).as("id_sum"),
          sum(col("n_chars")).as("total_chars"))
        .orderBy(col("lang"))
    }),

    // Takedown propagated into the persisted BM25 index (q152 erases
    // from the corpus; this erases from the DERIVED artifact): the
    // copied-in setup state is build on 2/3 + the rest appended
    // (bm25BaseAppended — buckets hold real file generations), then
    // delete every 5th doc via bm25Delete — affected-buckets-only
    // postings rewrite, df decrements, registry + stats decrements —
    // and the probe over the post-delete index must equal the ORACLE'S
    // BM25 over the anti-joined corpus. A surviving doomed posting, a
    // stale df, or an undecremented N/avgdl all shift a score and break
    // the hash.
    // The takedown QUEUE lifecycle under the driver's oracle (q155
    // gates the raw delete; this gates the POLICY a production pipeline
    // actually runs): enqueue every 7th doc — instantly probe-invisible
    // — assert the sub-budget flush refuses (its costing still reports
    // the exact footprint), probe SOFT (the overlay relation must
    // already equal the survivors-only oracle), then force the flush
    // (the deadline trigger) and return the HARD probe: overlay and
    // rewrite must be the same takedown (soft == hard bit-for-bit) and
    // the queue must drain exactly once.
    "q189_takedown_queue" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      copyInto(bm25BaseAppended(s, dir), bm25QueueDir)
      graft.operators.TakedownQueue.enqueue(
        s, bm25QueueDir,
        docs.filter(col("doc_id") % 7 === 0).select(col("doc_id")),
        "doc_id")
      val sub = graft.operators.TakedownQueue.bm25FlushIfDue(
        s, bm25QueueDir, budgetFraction = 1.0)
      require(!sub.flushed && sub.pending > 0L && sub.affectedFraction > 0.0,
        "q189: sub-budget flush must refuse and still cost the batch")
      val soft = Retrieval
        .bm25TopKIndexed(bm25QueueDir, bm25Queries(s), k = 10)
        .localCheckpoint(true) // materialize BEFORE the flush mutates
      val d = graft.operators.TakedownQueue.bm25FlushIfDue(
        s, bm25QueueDir, budgetFraction = 1.0, force = true)
      require(d.flushed && d.removed > 0L,
        "q189: forced flush applied nothing")
      require(graft.operators.TakedownQueue.pending(s, bm25QueueDir) == 0L,
        "q189: queue did not drain with the flush")
      val hard = Retrieval.bm25TopKIndexed(bm25QueueDir, bm25Queries(s), k = 10)
      require(soft.collect().map(_.toString).sorted.toSeq ==
        hard.collect().map(_.toString).sorted.toSeq,
        "q189: soft (overlay) and hard (rewritten) relations diverged")
      hard.orderBy(col("query_id"), col("rnk"))
    }),

    "q155_bm25_delete" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      copyInto(bm25BaseAppended(s, dir), bm25DeleteDir)
      Retrieval.bm25Delete(
        s, bm25DeleteDir,
        docs.filter(col("doc_id") % 5 === 0).select(col("doc_id")), "doc_id")
      Retrieval.bm25TopKIndexed(bm25DeleteDir, bm25Queries(s), k = 10)
        .orderBy(col("query_id"), col("rnk"))
    }),

    // Takedown propagated into the persisted IVF index (the q155 shape
    // for the DENSE artifact, checked the q149 soundness way): the
    // copied-in setup state is build on 3/4 + the rest appended in two
    // batches (ivfBaseAppended), then delete every 5th vector via
    // ivfDelete (affected-cells-only rewrite, centroids untouched),
    // then (a) the corpus must equal EXACTLY the surviving vectors
    // under the index's own centroid assignment, (b) no doomed id may
    // surface in a probe, (c) the survivor count must match. Empty
    // output = sound.
    "q156_ivf_delete" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val path = ivfDeleteDir
      copyInto(ivfBaseAppended(s, dir), path)
      val doomed = emb.filter(col("vec_id") % 5 === 0)
        .select(col("vec_id"))
      Similarity.ivfDelete(s, path, doomed, "vec_id")
      val centroids = s.read.parquet(s"$path/centroids")
        .orderBy(col("cell")).collect().map(_.getSeq[Double](1)).toSeq
      val expected = emb
        .join(broadcast(doomed), Seq("vec_id"), "left_anti")
        .select(
          col("vec_id").as("id"),
          col("embedding").cast("array<double>").as("vec"))
        .withColumn("cell", element_at(
          graft.functions.VecExprs.nearestCentroids(col("vec"), centroids, 1),
          1))
      val actual = s.read.parquet(s"$path/corpus")
        .select(col("id"), col("vec"), col("cell"))
      val extra = cnt(actual.exceptAll(expected), "extra_rows")
      val missing = cnt(expected.exceptAll(actual), "missing_rows")
      val queries = emb.filter(col("vec_id") % 10 === 1)
        .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
      val doomedInProbe = cnt(Similarity.ivfTopKIndexed(
          path, queries, "vec_id", "embedding", k = 5, nprobe = 2)
        .join(broadcast(doomed.select(col("vec_id").as("id"))), "id"),
        "doomed_in_probe")
      extra.unionByName(missing).unionByName(doomedInProbe)
        .orderBy(col("kind"), col("n"))
    }),

    // Shard-and-merge index build (the composition that distributes a
    // 100 TB index build): FOUR independent shard indexes (doc_id mod-4
    // residues, parallel builds touching only their own slice) merge in
    // ONE variadic bm25Merge — postings and doclen union at the FILE
    // level across all four shards at once (no row read; every side
    // buckets by the same verified modulus), the vocabulary-sized df
    // table is the ONE real merge job (the pairwise tree would run it
    // log N times), stats add — and the probe over the MERGED index
    // must equal q127's full-corpus relation against q127's verbatim
    // oracle. A dropped shard file, a mis-summed df, or a modulus
    // mismatch breaks a score. Sources are memoized setup, so this
    // gate runs the preserve-sources copy path; q161 gates move.
    "q158_bm25_merge" -> ((s, dir) => {
      val dest = s"$bm25MergeParent/merged"
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dest))
      Retrieval.bm25Merge(
        s, (0 until 4).map(bm25Shard(s, dir, _)), dest)
      Retrieval.bm25TopKIndexed(dest, bm25Queries(s), k = 10)
        .orderBy(col("query_id"), col("rnk"))
    }),

    // Persisted QUANTIZED IVF index (the production ANN layout: int8
    // stage-1 scan over partition-pruned cells + exact float rerank
    // from the same cells), checked the q41/q156 soundness way: build
    // on 3/4, APPEND the rest (the batch quantizes map-side into the
    // same layout), probe, then independently re-verify EVERY hit —
    // (a) its reported sim must equal the exact cosine recomputed from
    // the raw embeddings (the int8 stage may only SELECT candidates,
    // never alter a reported score), (b) no self-match / fabricated
    // id, (c) the hit's vector must be assigned (under the index's own
    // centroids) to one of its query's nprobe probed cells — a hit
    // from an unprobed cell means partition pruning is broken. A
    // zero-hit probe is itself a violation (non-vacuity). Empty output
    // = sound.
    "q159_ivfq_index" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val path = ivfQDir
      Similarity.buildIvfIndex(
        emb.filter(col("vec_id") % 4 =!= 0), "vec_id", "embedding",
        nlist = 16, path, quantized = true)
      Similarity.ivfAppend(
        path, emb.filter(col("vec_id") % 4 === 0), "vec_id", "embedding",
        quantized = true)
      ivfQSoundness(s, emb, path)
    }),

    // PRODUCT-QUANTIZED IVF index (round 19 — the round-18 verdict's
    // #4): m bytes per vector (m=8 over dim 64: ~64x vs the served
    // float64, ~8x beyond q159's int8) with ADC scoring — per query
    // one m x ksub lookup table of <q_sub, codeword> partials, a
    // candidate scored by m lookups, stage 2 exact-reranking from the
    // probed cells (the q101/q159 rerank machinery absorbing the
    // recall loss). Same production shape as q159: build on 3/4 of the
    // corpus, ivfAppend the rest, then the SHARED two-stage
    // soundness body — every hit's sim re-verified against the exact
    // cosine (ADC may only SELECT, never alter a score), every hit
    // from a probed partition, non-vacuous. In-gate teeth: ivfFsck
    // (incl. the pqcode re-derivation under the persisted codebooks)
    // audits EMPTY after build+append. AnnRecall carries the
    // recall-vs-bytes curve; PqSpec pins codec exactness, append ==
    // rebuild parity, fsck teeth, and the stage-1 vec-free read.
    "q207_ivfpq_index" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val path = s"${scratch("q207")}/ivfpq"
      Similarity.buildIvfPqIndex(
        emb.filter(col("vec_id") % 4 =!= 0), "vec_id", "embedding",
        nlist = 16, m = 8, path, ksub = 64)
      Similarity.ivfAppend(
        path, emb.filter(col("vec_id") % 4 === 0), "vec_id", "embedding")
      require(graft.operators.Fsck.ivfFsck(s, path).count() == 0L,
        "q207: fsck found violations on the fresh PQ estate")
      ivfPqSoundness(s, emb, path)
    }),

    // Quantizer REFRESH under q159's soundness body: the index is built
    // DRIFTED on purpose — centroids train on a quarter of the corpus,
    // then three appends pile the rest onto those stale cells (the
    // ivfAppend scaladoc's documented decay) — and ivfRequantize
    // retrains + re-assigns in place. The soundness body then requires:
    // hits real (exact cosines re-verified), hits partition-pruned
    // under the NEW centroid table (an unswapped or half-swapped
    // quantizer breaks unpruned_hit immediately), and non-vacuous
    // (no_hits fires if the probe returns nothing). ivfFsck's strict
    // assignment also holds after requantize (every row in its
    // globally-nearest cell) — appended to the same relation, so any
    // misassigned row is a violation row here, not a silent state.
    "q185_ivfq_requantize" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val path = ivfRqDir
      Similarity.buildIvfIndex(
        emb.filter(col("vec_id") % 4 === 0), "vec_id", "embedding",
        nlist = 16, path, quantized = true)
      (1 to 3).foreach(i => Similarity.ivfAppend(
        path, emb.filter(col("vec_id") % 4 === i), "vec_id", "embedding",
        quantized = true))
      Similarity.ivfRequantize(s, path, nlist = 16)
      // non-vacuity payload (the empty==empty hash alone would also
      // pass on an index that was never requantized): three observable
      // scalars the oracle pins as literals. centroids_match is the
      // load-bearing one — the stored table must equal an in-session
      // retrain on the FULL corpus exactly (trainIvfCentroids is
      // deterministic: md5-ordered sample, fixed iterations), which the
      // build's quarter-corpus quantizer cannot — so a skipped or
      // half-swapped requantize breaks the hash even when drift happens
      // to produce zero strict-assignment violations at this SF.
      val trained = Similarity.trainIvfCentroids(
        emb.select(col("vec_id").as("id"),
          col("embedding").cast("array<double>").as("vec")),
        "id", "vec", nlist = 16)
      val (storedCells, storedCents) = Similarity.loadCentroidTable(s, path)
      val matchN = storedCents.zip(trained.map(_.toSeq))
        .count { case (a, b) => a == b }.toLong
      val obs = {
        import s.implicits._
        Seq(
          ("post_requantize_cells", storedCells.size.toLong),
          ("post_requantize_corpus_rows",
            s.read.parquet(s"$path/corpus").count()),
          ("post_requantize_centroids_match", matchN))
          .toDF("kind", "n")
      }
      ivfQSoundness(s, emb, path)
        .unionByName(
          graft.operators.Fsck.ivfFsck(s, path, strictAssignment = true)
            .orderBy(col("kind")))
        .unionByName(obs)
    }),

    // IVF shard-and-merge (the q158 composition for the DENSE index,
    // under q35's VERBATIM oracle): centroids train ONCE on the full
    // corpus (exactly what ivfTopK does internally), FOUR shard indexes
    // initialize from them and fill with the vec_id mod-4 residues in
    // parallel appends, merge is pure metadata — one variadic ivfMerge
    // under MOVE (part files RENAME into the destination: the
    // metadata-priced path; q158 gates the preserve-sources copy) —
    // and the probe over the MERGED index must reproduce q35's
    // direct-form relation, Lloyd iterations and all, against the full
    // IVF-in-SQL oracle. A lost shard file, a mis-moved cell, or a
    // centroid mismatch breaks the hash.
    "q161_ivf_shard_merge" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val shards = (0 until 4).map(i => s"$ivfMergeParent/sh$i")
      val dest = s"$ivfMergeParent/merged"
      (shards :+ dest).foreach(p =>
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(p)))
      val cents = fullCentroids(s, dir) // memoized deterministic quantizer
      // the four shard fills touch disjoint paths — overlap their fixed
      // per-action floors (the gate rebuilds all four per invocation
      // because the MOVE merge consumes them; round-12's A/B traced the
      // gate's regression to exactly these serial action floors)
      Retrieval.concurrently(shards.zipWithIndex.map { case (sh, i) => () => {
        Similarity.ivfInit(s, cents, sh)
        Similarity.ivfAppend(
          sh, emb.filter(col("vec_id") % 4 === i), "vec_id", "embedding")
      }}: _*)
      Similarity.ivfMerge(s, shards, dest, move = true)
      Similarity.ivfTopKIndexed(
          dest, emb.filter(col("vec_id") < 5), "vec_id", "embedding",
          k = 10, nprobe = 4)
        .select(
          col("qid"), col("id"),
          round(col("sim"), 4).as("sim"), col("rank").as("rnk"))
        .orderBy(col("qid"), col("rnk"))
    }),

    // Exactly-once STREAMING ingest into the persisted BM25 index (the
    // production path for a never-static corpus: q123's batch-id
    // idempotence discipline composed with q143's incremental append),
    // under q127's VERBATIM full-corpus oracle: the corpus remainder
    // streams in through the [[replayPhases]] drill, after BM25 junk
    // (terms is an append-delta table since round 19, so its debris is
    // a tagged df bomb) and the stats mid-swap window are planted. Any
    // surviving junk row, unrestored table, double-applied df/N, or
    // dropped phase breaks the probe hash.
    "q162_bm25_stream_ingest" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val path = bm25IngestDir
      copyInto(bm25Base(s, dir), path) // base: doc_id % 3 =!= 0
      plantBm25Junk(s, path)
      plantStatsMidSwap(s, path)
      // phases: the %3==0 remainder as three mod-9 residues
      replayPhases(s, s"ingest162|$dir", Seq(0L, 3L, 6L).map(r =>
          docs.filter(col("doc_id") % 9 === r)
            .select(col("doc_id"), col("text"))),
        Retrieval.bm25StreamSink(path, "doc_id", "text"))
      Retrieval.bm25TopKIndexed(path, bm25Queries(s), k = 10)
        .orderBy(col("query_id"), col("rnk"))
    }),

    // Exactly-once streaming ingest into the persisted IVF index — the
    // q162 composition for the DENSE artifact, under q35's VERBATIM
    // IVF-in-SQL oracle: centroids train once on the full corpus (the
    // q161 method), the empty index initializes from them, and the
    // whole corpus then arrives through ivfStreamSink under the
    // [[replayPhases]] drill, after an IVF junk vector (query 0's
    // embedding) is planted. The final probe must reproduce q35's
    // direct-form relation, Lloyd iterations and all.
    "q163_ivf_stream_ingest" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val path = s"$ivfIngestParent/idx"
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(path))
      val cents = fullCentroids(s, dir) // memoized deterministic quantizer
      Similarity.ivfInit(s, cents, path)
      plantIvfJunk(path, emb.filter(col("vec_id") === 0).select(col("embedding")),
        cents)
      replayPhases(s, s"ingest163|$dir", embStreamPhases(emb),
        Similarity.ivfStreamSink(path, "vec_id", "embedding"))
      Similarity.ivfTopKIndexed(
          path, emb.filter(col("vec_id") < 5), "vec_id", "embedding",
          k = 10, nprobe = 4)
        .select(
          col("qid"), col("id"),
          round(col("sim"), 4).as("sim"), col("rank").as("rnk"))
        .orderBy(col("qid"), col("rnk"))
    }),

    // Streaming ingest into the persisted QUANTIZED IVF index — the
    // q163 transport composed with the q159 production layout: ivfInit
    // from full-corpus centroids, the SAME [[replayPhases]] drill (shared
    // staged files) through ivfStreamSink(quantized = true) — each
    // batch quantizes map-side into the (id, vec, qvec, qn2, cell)
    // layout — then the q159 soundness body verbatim over the streamed-in
    // index: every hit exact-cosine re-verified, probed-cell
    // membership, non-vacuity. Empty output = sound.
    "q166_ivfq_stream_ingest" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val path = s"$ivfIngestParent/qidx"
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(path))
      val cents = fullCentroids(s, dir) // memoized deterministic quantizer
      Similarity.ivfInit(s, cents, path)
      replayPhases(s, s"ingest163|$dir", embStreamPhases(emb),
        Similarity.ivfStreamSink(path, "vec_id", "embedding", quantized = true))
      ivfQSoundness(s, emb, path)
    }),

    // Exactly-once streaming ingest into the PRODUCT-QUANTIZED index
    // (round 19): the q166 transport over the q207 layout — ivfPqInit
    // from one trained (centroids, codebooks) pair, the whole corpus
    // arriving as a 3-phase stream through the layout-auto-detecting
    // ivfStreamSink (the codebooks table IS the signal; a mis-flagged
    // int8 request on a PQ index refuses) under the [[replayPhases]]
    // drill, then the SHARED two-stage soundness body + a clean fsck
    // (incl. the pqcode re-derivation — a batch ingested un-encoded or
    // encoded under drifted books would fail it by name).
    "q208_ivfpq_stream_ingest" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val path = s"$ivfIngestParent/pqidx"
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(path))
      val cents = fullCentroids(s, dir) // memoized deterministic quantizer
      val books = Similarity.trainPqCodebooks(
        emb, "vec_id", "embedding", m = 8, ksub = 64)
      Similarity.ivfPqInit(s, cents, books, path)
      replayPhases(s, s"ingest163|$dir", embStreamPhases(emb),
        Similarity.ivfStreamSink(path, "vec_id", "embedding"))
      require(graft.operators.Fsck.ivfFsck(s, path).count() == 0L,
        "q208: fsck found violations on the streamed PQ estate")
      ivfPqSoundness(s, emb, path)
    }),

    // Exactly-once streaming FIRST-ARRIVAL DEDUP into a persisted corpus
    // registry (DedupRegistry) — ingestion-time curation under the same
    // recoverable-apply protocol as q162/q163, gated end-to-end: the
    // phased stream carries planted duplicates WITHIN a batch (min id
    // must win), ACROSS batches (the earlier batch must win), and the
    // documents table's own pre-existing exact dups. It runs the
    // [[replayPhases]] drill after registry junk and the stats mid-swap
    // window are planted (a re-run of the re-delivered batch would
    // double-count its rows as drops, which the stats rows in the
    // output would expose). Output = accepted ids + the registry's own
    // (n_docs, n_dropped) vs a SQL first-arrival ranking over the
    // identical stream.
    "q167_dedup_stream_ingest" -> ((s, dir) => {
      val path = s"$regIngestParent/reg"
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(path))
      DedupRegistry.init(s, path, buckets = 16)
      plantRegistryJunk(s, path)
      plantStatsMidSwap(s, path)
      replayPhases(s, s"ingest167|$dir", dedupStreamPhases(s, dir),
        DedupRegistry.streamSink(path, "doc_id", "text"))
      val st = s.read.parquet(s"$path/stats")
      s.read.parquet(s"$path/corpus")
        .select(col("id").as("doc_id"), lit("doc").as("kind"))
        .unionByName(st.select(
          col("n_docs").as("doc_id"), lit("n_docs").as("kind")))
        .unionByName(st.select(
          col("n_dropped").as("doc_id"), lit("n_dropped").as("kind")))
        .orderBy(col("kind"), col("doc_id"))
    }),

    // IVF cell-split rebalance on the production (quantized) layout —
    // the maintenance operator for drift: build, split every cell above
    // half the average population (guaranteeing real splits: the max
    // cell is at least the average), then (a) the q159 soundness body
    // verbatim over the REBALANCED index — exact-cosine re-verified
    // hits, probed-cell membership, non-vacuity — and (b) exact row
    // preservation: no id lost, duplicated, or fabricated by the
    // reassignment, and the operator actually split (a threshold that
    // silently no-ops would gate nothing). Empty output = sound.
    "q168_ivfq_cell_split" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val path = s"$ivfSplitParent/qidx"
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(path))
      Similarity.buildIvfIndex(emb, "vec_id", "embedding", nlist = 8, path,
        quantized = true)
      val total = emb.count()
      val splits = Similarity.ivfSplitCells(
        s, path, maxCellRows = math.max(total / 16L, 1L))
      val ids = emb.select(col("vec_id").as("id"))
      val corpusIds = s.read.parquet(s"$path/corpus").select(col("id"))
      val lost = cnt(ids.join(corpusIds, Seq("id"), "left_anti"), "lost_row")
      val dup = cnt(corpusIds.groupBy(col("id")).agg(count(lit(1)).as("c"))
        .filter(col("c") > 1), "dup_row")
      val alien = cnt(corpusIds.join(ids, Seq("id"), "left_anti"), "alien_row")
      val noSplit = scalarViol(splits.nonEmpty, "no_split", s)
      ivfQSoundness(s, emb, path)
        .unionByName(lost).unionByName(dup).unionByName(alien)
        .unionByName(noSplit)
        .orderBy(col("kind"), col("n"))
    }),

    // CURATE-THEN-INDEX: the q167 registry dedup COMPOSED with the q162
    // index ingest in one exactly-once foreachBatch sink — each batch
    // dedups against the registry and only the accepted slice (read
    // back from the registry's committed tagged parts) lands in a
    // bm25Init-empty standing index. The same duplicate-bearing phased
    // stream (shared staged files with q167) under the [[replayPhases]]
    // drill, with registry junk AND BM25 junk planted (both recoveries
    // must fire; on re-delivery both markers must skip). Final probe ==
    // the BM25 oracle over the first-arrival-DEDUPED corpus: any
    // surviving junk, double-applied df/N, un-dropped duplicate, or
    // dropped original breaks the hash.
    "q169_dedup_index_stream" -> ((s, dir) => {
      val regPath = s"$regIngestParent/reg169"
      val idxPath = s"$regIngestParent/idx169"
      Seq(regPath, idxPath).foreach(p =>
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(p)))
      DedupRegistry.init(s, regPath, buckets = 16)
      Retrieval.bm25Init(s, idxPath, buckets = 64)
      plantRegistryJunk(s, regPath)
      plantBm25Junk(s, idxPath)
      replayPhases(s, s"ingest167|$dir", dedupStreamPhases(s, dir),
        DedupRegistry.dedupIndexStreamSink(regPath, idxPath, "doc_id", "text"))
      Retrieval.bm25TopKIndexed(idxPath, bm25Queries(s), k = 10)
        .orderBy(col("query_id"), col("rnk"))
    }),

    // Streaming NEAR-dup dedup into the persisted LSH registry — the
    // fuzzy sibling of q167, soundness-gated (MinHash banding is
    // engine-defined, so like q38/q40 the gate output is a VIOLATION
    // relation and the oracle is empty): over a phased stream with
    // planted exact copies (within-batch AND cross-batch) and planted
    // trailing-junk near-copies, under the [[replayPhases]] drill after
    // near-dup junk and the stats mid-swap window are planted, the
    // final registry must satisfy:
    // (a) no alien/duplicated registered id; (b) stats count exactly;
    // (c) every planted WITHIN-batch exact copy dropped (its identical
    // smaller-id batch-mate is a certain candidate whatever its own
    // fate); (d) every planted CROSS-batch exact copy whose original
    // was registered dropped (identical sketches collide in every
    // band); (e) every dropped row verifies at true shingle-Jaccard
    // >= threshold against an eligible partner — a registered
    // earlier-phase row or a smaller-id same-phase row — recomputed by
    // the independent PPJoin-exact path (Dedup.jaccardJoin), not the
    // LSH path that made the decision. Empty output = sound.
    "q170_neardup_stream_ingest" -> ((s, dir) => {
      val path = s"$regIngestParent/ndreg"
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(path))
      NearDupRegistry.init(s, path, buckets = 16)
      val phases = ndStreamPhases(s, dir)
      val Seq(p0, p1, p2) = phases
      plantNearDupJunk(s, path)
      plantStatsMidSwap(s, path)
      replayPhases(s, s"ingest170|$dir", phases,
        NearDupRegistry.streamSink(path, "doc_id", "text"))
      // ---- the violation relation (ONE body, shared with q176) ----
      ndregSoundness(s,
          p0.withColumn("ph", lit(0))
            .unionByName(p1.withColumn("ph", lit(1)))
            .unionByName(p2.withColumn("ph", lit(2))),
          path)
        .orderBy(col("kind"), col("n"))
    }),

    // Distributed registry bootstrap: the three dedup-stream slices
    // built as INDEPENDENT shard registries (parallel one-batch
    // ingests), merged by DedupRegistry.merge. Digest equality is
    // transitive, so the merged registry must equal a single-batch
    // build over the union exactly: globally smallest id per digest
    // survives, stats conserve the raw stream. Output = the q167 shape
    // (accepted ids + the merged registry's own stats) vs a global
    // min-id-per-digest SQL ranking over the identical union.
    "q171_dedup_registry_merge" -> ((s, dir) => {
      val shards = (0 until 3).map(i => regShard(s, dir, i))
      val dest = s"$regMergeParent/merged"
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dest))
      DedupRegistry.merge(s, shards, dest)
      val st = s.read.parquet(s"$dest/stats")
      s.read.parquet(s"$dest/corpus")
        .select(col("id").as("doc_id"), lit("doc").as("kind"))
        .unionByName(st.select(
          col("n_docs").as("doc_id"), lit("n_docs").as("kind")))
        .unionByName(st.select(
          col("n_dropped").as("doc_id"), lit("n_dropped").as("kind")))
        .orderBy(col("kind"), col("doc_id"))
    }),

    // Distributed NEAR-dup registry bootstrap: corpus slices with
    // planted cross-shard exact copies and near-copies built as
    // independent shard registries, merged with cross-shard LSH
    // resolution computed from the sketches at rest. Near-dup is not
    // transitive, so like q170 the gate is a VIOLATION relation vs the
    // empty oracle: (a) no alien/duplicated id and no band row for an
    // unregistered id; (b) stats count exactly and conserve the raw
    // stream across shards; (c) every planted cross-shard EXACT copy
    // whose original is shard-registered dropped (identical sketches
    // collide in every band); (d) every merge-dropped row re-verifies
    // at true shingle-Jaccard >= threshold against a smaller-id
    // shard-registered row through the independent PPJoin-exact path,
    // not the LSH path that made the decision. Empty output = sound.
    "q172_neardup_registry_merge" -> ((s, dir) => {
      val shards = (0 until 3).map(i => ndregShard(s, dir, i))
      val dest = s"$ndregMergeParent/merged"
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dest))
      NearDupRegistry.merge(s, shards, dest)
      val pre = shards
        .map(p => s.read.parquet(s"$p/corpus").select(col("id"), col("text")))
        .reduce(_.unionByName(_))
        .transform(graft.CacheScope.persisted)
      val merged = s.read.parquet(s"$dest/corpus")
        .select(col("id"), col("text"))
        .transform(graft.CacheScope.persisted)
      val mergedIds = merged.select(col("id"))
      val alien = cnt(
        mergedIds.join(pre.select(col("id")), Seq("id"), "left_anti"),
        "alien_id")
      val dup = cnt(merged.groupBy(col("id")).agg(count(lit(1)).as("c"))
        .filter(col("c") > 1), "dup_registered_id")
      val bandOrphan = cnt(
        s.read.schema("band INT, bkey INT, id LONG, pk LONG")
          .parquet(s"$dest/bands").select(col("id")).distinct()
          .join(mergedIds, Seq("id"), "left_anti"),
        "band_for_unregistered_id")
      val sketchable = size(Dedup.shingles(col("text"), 3)) > 0
      // (c) planted cross-shard exact copies whose original registered
      val exactViol = cnt(merged
        .filter(col("id") >= 1000000L && col("id") < 3000000L && sketchable)
        .withColumn("orig",
          when(col("id") < 2000000L, col("id") - 1000000L)
            .otherwise(col("id") - 2000000L))
        .join(pre.select(col("id").as("orig")), Seq("orig")),
        "planted_cross_shard_copy_survived")
      // (d) every merge-dropped row has an eligible smaller-id witness,
      // recomputed via the exhaustive PPJoin-exact relation
      val dropped = pre.join(mergedIds, Seq("id"), "left_anti")
        .transform(graft.CacheScope.persisted)
      val witnessed = Dedup.jaccardJoin(
          dropped, pre, "id", "text", Seq.empty,
          shingleSize = 3, threshold = 0.5)
        .filter(col("id_b") < col("id_a"))
        .select(col("id_a").as("id")).distinct()
      val unsound = cnt(
        dropped.join(witnessed, Seq("id"), "left_anti"), "unwitnessed_drop")
      // (b) stats: merged counts exactly; raw stream conserved
      val shardRaw = shards.map { p =>
        val r = s.read.parquet(s"$p/stats").collect()(0)
        r.getAs[Long]("n_docs") + r.getAs[Long]("n_dropped")
      }.sum
      val st = s.read.parquet(s"$dest/stats").collect()(0)
      val statsOk =
        st.getAs[Long]("n_docs") == merged.count() &&
          st.getAs[Long]("n_docs") + st.getAs[Long]("n_dropped") == shardRaw
      val statsViol = scalarViol(statsOk, "stats_mismatch", s)
      alien.unionByName(dup).unionByName(bandOrphan).unionByName(exactViol)
        .unionByName(unsound).unionByName(statsViol)
        .orderBy(col("kind"), col("n"))
    }),

    // Federated (main+delta) BM25 serving: the four mod-4 shard indexes
    // queried as ONE corpus by bm25TopKFederated — no merge on the
    // query path; global df/N summed across shards, postings unioned,
    // one shared scoring body. BM25's only cross-document coupling is
    // the global statistics, so the federated probe must be EXACTLY
    // the full-corpus ranking: gated against q127's verbatim oracle.
    "q173_bm25_federated" -> ((s, dir) => {
      val shards = (0 until 4).map(i => bm25Shard(s, dir, i))
      Retrieval.bm25TopKFederated(s, shards, bm25Queries(s), k = 10)
        .orderBy(col("query_id"), col("rnk"))
    }),

    // Federated (main+delta) IVF ANN serving: four shared-quantizer
    // shards (the q161 ivfInit flow) probed as ONE index by
    // ivfTopKFederated — per-shard nprobe cell pruning, exact-cosine
    // candidates unioned, one global top-k. Under a shared quantizer
    // the probed cells partition identically to the merged index, so
    // the federated result is the full-IVF ranking: gated against
    // q35's verbatim full-IVF-in-SQL oracle.
    "q174_ivf_federated" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.ivfTopKFederated(
          ivfFedShards(s, dir), emb.filter(col("vec_id") < 5),
          "vec_id", "embedding", k = 10, nprobe = 4)
        .select(
          col("qid"), col("id"),
          round(col("sim"), 4).as("sim"), col("rank").as("rnk"))
        .orderBy(col("qid"), col("rnk"))
    }),

    // Artifact integrity audit (fsck) across all four persisted
    // families — each audit recomputes the artifact's invariants from
    // its own rows (derived tables re-derived, hash placement
    // re-hashed, stats re-counted, the near-dup registry's pairwise
    // non-near-dup SEMANTIC invariant re-verified through the shared
    // candidate+verify arithmetic) and emits violations. Run over real
    // multi-generation states: the appended BM25 index, the
    // twice-appended IVF index, and one shard of each registry family.
    // Empty output = every artifact internally consistent. (FsckSpec
    // proves the teeth: each corruption class planted on purpose is
    // caught by its named check.)
    "q175_index_fsck" -> ((s, dir) => {
      val (regP, idxP) = composedPair(s, dir)
      graft.operators.Fsck.bm25Fsck(s, bm25BaseAppended(s, dir))
        .unionByName(graft.operators.Fsck.ivfFsck(s, ivfBaseAppended(s, dir)))
        .unionByName(graft.operators.Fsck.registryFsck(s, regShard(s, dir, 0)))
        .unionByName(
          graft.operators.Fsck.nearDupRegistryFsck(s, ndregShard(s, dir, 0)))
        // cross-artifact audit over a real multi-batch composed
        // curate-then-index pair (internal audits of its two sides ride
        // along so the composed state is fully covered)
        .unionByName(graft.operators.Fsck.composedFsck(s, regP, idxP))
        .unionByName(graft.operators.Fsck.registryFsck(s, regP))
        .unionByName(graft.operators.Fsck.bm25Fsck(s, idxP))
        .orderBy(col("kind"), col("n"))
    }),

    // FUZZY CURATE-THEN-INDEX: q170's near-dup registry dedup COMPOSED
    // with the q162 index ingest in one exactly-once foreachBatch sink
    // — the full production pipeline (a crawl's near-copies dropped at
    // ingest, only accepted content pays indexing). The q170 stream
    // (shared staged files) under the [[replayPhases]] drill, after
    // near-dup junk, the registry's stats mid-swap window and BM25 junk
    // in the index are planted. LSH
    // acceptance is engine-defined, so the gate is a violation relation
    // (empty oracle) with three arms: (1) the q170 registry-soundness
    // body VERBATIM (one shared helper); (2) the index pinned
    // ROW-FOR-ROW to a re-derivation from the registry's committed
    // corpus — postings == the re-tokenized (id, term, tf) relation,
    // doclen == re-counted lengths, stats == re-summed scalars — so a
    // dropped batch, double-applied df, or unerased junk row all
    // surface as concrete row mismatches; (3) bm25Fsck over the final
    // index (placement/derived-table invariants) plus a non-vacuity
    // probe. Empty output = the composition is sound end to end.
    "q176_neardup_index_stream" -> ((s, dir) => {
      val regPath = s"$regIngestParent/ndreg176"
      val idxPath = s"$regIngestParent/ndidx176"
      Seq(regPath, idxPath).foreach(p =>
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(p)))
      NearDupRegistry.init(s, regPath, buckets = 16)
      Retrieval.bm25Init(s, idxPath, buckets = 64)
      val phases = ndStreamPhases(s, dir)
      val Seq(p0, p1, p2) = phases
      plantNearDupJunk(s, regPath)
      plantStatsMidSwap(s, regPath)
      plantBm25Junk(s, idxPath)
      replayPhases(s, s"ingest170|$dir", phases,
        NearDupRegistry.dedupIndexStreamSink(regPath, idxPath, "doc_id", "text"))
      // ---- arm 1: the registry soundness body, verbatim ----
      val reg = ndregSoundness(s,
        p0.withColumn("ph", lit(0))
          .unionByName(p1.withColumn("ph", lit(1)))
          .unionByName(p2.withColumn("ph", lit(2))),
        regPath)
      // ---- arm 2: the index row-for-row == derivation from the
      // registry's committed corpus — the CROSS-ARTIFACT audit, now the
      // shared Fsck.composedFsck body (one implementation for the gate
      // and the standalone operator, so they cannot drift)
      val composed = graft.operators.Fsck.composedFsck(s, regPath, idxPath)
      // ---- arm 3: internal invariants + non-vacuity ----
      val fsck = graft.operators.Fsck.bm25Fsck(s, idxPath)
      val vacuous = scalarViol(Retrieval.bm25TopKIndexed(
        idxPath, bm25Queries(s), k = 10).limit(1).count() > 0, "vacuous_probe", s)
      reg.unionByName(composed).unionByName(fsck).unionByName(vacuous)
        .orderBy(col("kind"), col("n"))
    }),

    // SOFT DELETE (tombstone overlay) on the BM25 index — instant
    // takedown visibility, deferred physical erasure (the Lucene
    // soft-delete architecture, but with EXACT global-statistics
    // adjustment: N, avgdl, and each query term's df drop by the
    // doomed docs' contributions, computed from the probe's
    // already-pruned reads + one broadcast of the overlay). The gate
    // pins the whole lifecycle in ONE hash: phase 'soft' = probe with
    // every 5th doc tombstoned (NO rewrite has happened), phase 'hard'
    // = probe after bm25Delete physically applies the same keys (which
    // also clears the overlay) — BOTH must equal the q155 oracle (BM25
    // over the anti-joined corpus), emitted twice with phase labels.
    // A soft probe with Lucene's stale-stats shortcut, an unadjusted
    // df, or an uncleared overlay (double exclusion after the hard
    // delete would be harmless — but a stale overlay after a FUTURE
    // re-ingest of the ids would not) all break the hash.
    "q177_bm25_tombstone" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      copyInto(bm25BaseAppended(s, dir), bm25TombDir)
      val keys = docs.filter(col("doc_id") % 5 === 0).select(col("doc_id"))
      graft.operators.Tombstones.add(s, bm25TombDir, keys, "doc_id")
      // materialize the soft probe BEFORE the physical delete mutates
      // the directory (lazy evaluation would read post-delete state)
      val soft = Retrieval.bm25TopKIndexed(bm25TombDir, bm25Queries(s), k = 10)
        .localCheckpoint(true)
      Retrieval.bm25Delete(s, bm25TombDir, keys, "doc_id")
      val cleared = graft.operators.Tombstones.read(s, bm25TombDir).isEmpty
      val hard = Retrieval.bm25TopKIndexed(bm25TombDir, bm25Queries(s), k = 10)
      soft.withColumn("phase",
          lit(if (cleared) "soft" else "soft_overlay_not_cleared"))
        .unionByName(hard.withColumn("phase", lit("hard")))
        .orderBy(col("phase"), col("query_id"), col("rnk"))
    }),

    // Soft delete on the IVF index (violation relation, empty oracle —
    // cosine has no global statistics, so exactness is an exclusion
    // property): tombstone every 5th vector on the q156 setup state,
    // then (a) no doomed id may appear in a DEEP soft probe; (b) the
    // soft probe is non-vacuous; (c) every soft hit re-verifies
    // against the exact cosine on the raw embeddings; (d) after
    // ivfDelete physically applies the same keys, the overlay is
    // cleared and (e) the hard probe equals the soft probe EXACTLY
    // (symmetric difference empty) — the overlay and the rewrite must
    // be the same takedown.
    "q178_ivf_tombstone" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      copyInto(ivfBaseAppended(s, dir), ivfTombDir)
      val keys = emb.filter(col("vec_id") % 5 === 0).select(col("vec_id"))
      graft.operators.Tombstones.add(s, ivfTombDir, keys, "vec_id")
      def probe() = Similarity.ivfTopKIndexed(
        ivfTombDir, emb.filter(col("vec_id") < 5), "vec_id", "embedding",
        k = 20, nprobe = 4)
      val soft = probe().localCheckpoint(true)
      val doomedHit = cnt(soft
        .join(keys.withColumnRenamed("vec_id", "id"), Seq("id")),
        "doomed_id_in_soft_probe")
      val vacuous = scalarViol(soft.limit(1).count() > 0, "vacuous_soft_probe", s)
      val unverified = cnt(soft
        .join(emb.select(col("vec_id").as("qid"),
          col("embedding").cast("array<double>").as("qv")), Seq("qid"))
        .join(emb.select(col("vec_id").as("id"),
          col("embedding").cast("array<double>").as("cv")), Seq("id"))
        .filter(abs(Similarity.cosine(col("cv"), col("qv")) - col("sim")) >
          lit(1e-12)),
        "soft_hit_cosine_mismatch")
      Similarity.ivfDelete(s, ivfTombDir, keys, "vec_id")
      val overlayViol = scalarViol(
        graft.operators.Tombstones.read(s, ivfTombDir).isEmpty,
        "overlay_not_cleared", s)
      val hard = probe()
      val drift = cnt(
        soft.unionByName(hard).groupBy(col("qid"), col("id"),
            col("sim"), col("rank"))
          .agg(count(lit(1)).as("c")).filter(col("c") =!= 2),
        "soft_hard_probe_drift")
      doomedHit.unionByName(vacuous).unionByName(unverified)
        .unionByName(overlayViol).unionByName(drift)
        .orderBy(col("kind"), col("n"))
    }),

    // Read-side membership probe of the NEAR-dup registry — the
    // decontamination question ("is this text already in my training
    // set, up to near-duplication?") answered from the persisted
    // sketches. Violation relation, empty oracle (the q170 family):
    // over a probe batch of re-keyed EXACT copies of registered
    // content plus reversed-text fresh docs, (a) every sketchable
    // exact copy must flag is_new = false (identical sketches collide
    // in every band and verify at J = 1); (b) every row flagged
    // non-new must re-verify at true shingle-Jaccard >= threshold
    // against some REGISTERED doc through the independent PPJoin-exact
    // path; (c) non-vacuity both ways (some row flagged new AND some
    // flagged non-new — a probe that answers one constant gates
    // nothing); (d) the probe is read-only (registry stats unchanged).
    "q179_neardup_probe" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val path = ndregShard(s, dir, 0) // registered: doc_id % 3 == 0
      val statsBefore = s.read.parquet(s"$path/stats").collect()(0).toSeq
      val batch = docs
        .filter(col("doc_id") % 3 === 0 && col("doc_id") % 5 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
        .unionByName(docs.filter(col("doc_id") % 3 === 1)
          .select((col("doc_id") + 2000000L).as("doc_id"),
            reverse(col("text")).as("text")))
        .transform(graft.CacheScope.persisted)
      val probed = NearDupRegistry.probe(s, path, batch, "doc_id", "text")
        .select(col("doc_id"), col("text"), col("is_new"))
        .transform(graft.CacheScope.persisted)
      val sketchable = size(Dedup.shingles(col("text"), 3)) > 0
      val registered = s.read.parquet(s"$path/corpus")
        .select(col("id"), col("text"))
      // condition on the ORIGINAL being registered (the q170/q172
      // discipline): the shard's own ingest may have dropped an
      // original through a witness chain, in which case its copy owes
      // nothing — only a copy of REGISTERED content must flag non-new
      val copyMissed = cnt(probed
        .filter(col("doc_id") < 2000000L && sketchable && col("is_new"))
        .withColumn("orig", col("doc_id") - 1000000L)
        .join(registered.select(col("id").as("orig")), Seq("orig")),
        "registered_copy_flagged_new")
      val witnessed = Dedup.jaccardJoin(
          probed.filter(!col("is_new"))
            .select(col("doc_id").as("id"), col("text")),
          registered, "id", "text", Seq.empty,
          shingleSize = 3, threshold = 0.5)
        .select(col("id_a").as("doc_id")).distinct()
      val unsound = cnt(probed.filter(!col("is_new"))
        .join(witnessed, Seq("doc_id"), "left_anti"),
        "non_new_without_registered_witness")
      val vacuity = scalarViol(
        probed.filter(col("is_new")).limit(1).count() > 0 &&
          probed.filter(!col("is_new")).limit(1).count() > 0,
        "vacuous_probe", s)
      val mutated = scalarViol(
        s.read.parquet(s"$path/stats").collect()(0).toSeq == statsBefore,
        "probe_mutated_registry", s)
      // ---- tombstone arm (round 13): a registry takedown must suspend
      // the witness role INSTANTLY — tombstone every probed copy's
      // original on a scratch COPY of the registry (the memoized shard
      // is shared setup), re-probe the same copies: every sketchable
      // exact copy that flagged non-new against a now-tombstoned
      // registered original must flag is_new, while the registry is
      // physically unchanged (rows still present, overlay the only
      // delta). Violation rows join the same empty-oracle relation.
      val tombPath = s"$ndregProbeTombParent/reg"
      copyInto(path, tombPath)
      graft.operators.Tombstones.add(s, tombPath,
        docs.filter(col("doc_id") % 3 === 0 && col("doc_id") % 5 === 0)
          .select(col("doc_id")), "doc_id")
      val probedTomb = NearDupRegistry
        .probe(s, tombPath,
          batch.filter(col("doc_id") < 2000000L), "doc_id", "text")
        .select(col("doc_id"), col("text"), col("is_new"))
        // materialize BEFORE the vacuum below mutates the registry —
        // a lazy plan would re-read the deleted overlay files
        .localCheckpoint(true)
      val tombStillWitnessing = cnt(probedTomb
        .filter(sketchable && !col("is_new"))
        .withColumn("orig", col("doc_id") - 1000000L)
        .join(registered.select(col("id").as("orig")), Seq("orig")),
        "tombstoned_original_still_witnessing")
      val tombPhysical = scalarViol(
        s.read.parquet(s"$tombPath/corpus").count() ==
          s.read.parquet(s"$path/corpus").count(),
        "tombstone_rewrote_corpus", s)
      // registry VACUUM (round 13): physically apply the whole overlay —
      // must remove exactly the overlay's registered ids, clear the
      // overlay dir, and leave the registry fsck-clean
      val overlayN = graft.operators.Tombstones.read(s, tombPath)
        .map(_.join(s.read.parquet(s"$tombPath/corpus")
          .select(col("id")), Seq("id")).count()).getOrElse(0L)
      val removed = NearDupRegistry.vacuum(s, tombPath)
      val vacViol = scalarViol(removed == overlayN && overlayN > 0L &&
          graft.operators.Tombstones.read(s, tombPath).isEmpty &&
          graft.operators.Fsck.nearDupRegistryFsck(s, tombPath)
            .limit(1).count() == 0L,
        "registry_vacuum_violation", s)
      copyMissed.unionByName(unsound).unionByName(vacuity)
        .unionByName(mutated).unionByName(tombStillWitnessing)
        .unionByName(tombPhysical).unionByName(vacViol)
        .orderBy(col("kind"), col("n"))
    }),

    // VACUUM on the BM25 index — the overlay-compaction step a takedown
    // queue schedules when the tombstone list nears its broadcast
    // budget, gated under the q155 oracle: tombstone every 5th doc on
    // the q155 setup state, physically delete a SUBSET first (every
    // 10th — which must clear ONLY those ids from the overlay: the
    // TombstoneSpec partial-clear sequence promoted to the oracle
    // surface), then bm25Vacuum applies the exact remainder and removes
    // the overlay dir. The probe must equal the q155 relation and the
    // phase label encodes the overlay invariants (remainder pending
    // after the partial apply, exact vacuum count, dir gone after) —
    // a wrong overlay state breaks the hash, not just a probe row.
    "q180_bm25_vacuum" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      copyInto(bm25BaseAppended(s, dir), bm25VacDir)
      graft.operators.Tombstones.add(s, bm25VacDir,
        docs.filter(col("doc_id") % 5 === 0).select(col("doc_id")), "doc_id")
      Retrieval.bm25Delete(s, bm25VacDir,
        docs.filter(col("doc_id") % 10 === 0).select(col("doc_id")), "doc_id")
      val pending = graft.operators.Tombstones.read(s, bm25VacDir)
        .map(_.count()).getOrElse(0L)
      val expectedPending = docs
        .filter(col("doc_id") % 5 === 0 && col("doc_id") % 10 =!= 0).count()
      val removed = Retrieval.bm25Vacuum(s, bm25VacDir)
      val cleared = graft.operators.Tombstones.read(s, bm25VacDir).isEmpty
      val ok = pending == expectedPending && removed == expectedPending &&
        expectedPending > 0L && cleared
      Retrieval.bm25TopKIndexed(bm25VacDir, bm25Queries(s), k = 10)
        .withColumn("phase", lit(if (ok) "vacuumed" else "overlay_violation"))
        .orderBy(col("query_id"), col("rnk"))
    }),

    // VACUUM on the IVF index — the dense twin, checked the q156
    // soundness way (violation relation, empty oracle): tombstone every
    // 5th vector on the q156 setup state, partially apply every 10th
    // via ivfDelete (must clear only those from the overlay), then
    // ivfVacuum applies the exact remainder; the surviving corpus must
    // equal EXACTLY the non-doomed vectors under the index's own
    // centroid assignment, no doomed id may probe, and the overlay dir
    // must be gone.
    "q181_ivf_vacuum" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val path = ivfVacDir
      copyInto(ivfBaseAppended(s, dir), path)
      val doomed = emb.filter(col("vec_id") % 5 === 0).select(col("vec_id"))
      graft.operators.Tombstones.add(s, path, doomed, "vec_id")
      Similarity.ivfDelete(s, path,
        emb.filter(col("vec_id") % 10 === 0).select(col("vec_id")), "vec_id")
      val pending = graft.operators.Tombstones.read(s, path)
        .map(_.count()).getOrElse(0L)
      val expectedPending = emb
        .filter(col("vec_id") % 5 === 0 && col("vec_id") % 10 =!= 0).count()
      val removed = Similarity.ivfVacuum(s, path)
      val cleared = graft.operators.Tombstones.read(s, path).isEmpty
      val overlayViol = scalarViol(
        pending == expectedPending && expectedPending != 0L,
        "partial_clear_wrong", s)
        .unionByName(
          scalarViol(removed == expectedPending, "vacuum_count_wrong", s))
        .unionByName(scalarViol(cleared, "overlay_not_cleared", s))
      val centroids = s.read.parquet(s"$path/centroids")
        .orderBy(col("cell")).collect().map(_.getSeq[Double](1)).toSeq
      val expected = emb
        .join(broadcast(doomed), Seq("vec_id"), "left_anti")
        .select(
          col("vec_id").as("id"),
          col("embedding").cast("array<double>").as("vec"))
        .withColumn("cell", element_at(
          graft.functions.VecExprs.nearestCentroids(col("vec"), centroids, 1),
          1))
      val actual = s.read.parquet(s"$path/corpus")
        .select(col("id"), col("vec"), col("cell"))
      val extra = cnt(actual.exceptAll(expected), "extra_rows")
      val missing = cnt(expected.exceptAll(actual), "missing_rows")
      val queries = emb.filter(col("vec_id") % 10 === 1)
        .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
      val doomedInProbe = cnt(Similarity.ivfTopKIndexed(
          path, queries, "vec_id", "embedding", k = 5, nprobe = 2)
        .join(broadcast(doomed.select(col("vec_id").as("id"))), "id"),
        "doomed_in_probe")
      overlayViol.unionByName(extra).unionByName(missing)
        .unionByName(doomedInProbe)
        .orderBy(col("kind"), col("n"))
    }),

    // Reader-racing-maintenance under the DRIVER's oracle: two shards
    // (mixed bucket moduli — the federated contract), a pending
    // takedown on shard A, and federated STABLE probes firing while
    // compact churn and the vacuum swap run on a second thread. Every
    // concurrent probe must equal the first (tombstone-exactness makes
    // pre-vacuum == post-vacuum bit-for-bit), and the final relation is
    // hash-pinned against the survivors-only BM25-in-SQL oracle. The
    // probes run under StableRead — fingerprint validation plus the
    // maintenance markers the delete/ingest applies hold — which is
    // what makes "probe during maintenance" a legal operation at all;
    // a blend, a mid-swap exception, or a starved probe fails the GATE,
    // not just a spec (ReaderMaintenanceRaceSpec is the spec-level
    // twin with the kill-grade arms).
    "q186_stable_probe_race" -> ((s, dir) => {
      val spark = Tables.configure(s)
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("text")).localCheckpoint(true)
      val parent = scratch("q186")
      val a = s"$parent/a"; val b = s"$parent/b"
      // drill-cost memoization (round-17, the bm25Base discipline):
      // only the deterministic PRE-CHURN estate is built once and
      // file-copied per invocation — every multiple of 10 is even, so
      // the takedown lands wholly on shard a and survivors-only ==
      // doc_id % 10 <> 0. Churn, raced probes, and the vacuum stay live.
      val aBase = baseIndexes.computeIfAbsent(s"q186a|$dir", _ => {
        val p = scratch("q186-base") + "/a"
        Retrieval.buildBm25Index(
          docs.filter(col("doc_id") % 2 === 0), "doc_id", "text", p,
          buckets = 64)
        graft.operators.Tombstones.add(spark, p,
          docs.filter(col("doc_id") % 10 === 0).select(col("doc_id")),
          "doc_id")
        p
      })
      val bBase = baseIndexes.computeIfAbsent(s"q186b|$dir", _ => {
        val p = scratch("q186-base") + "/b"
        Retrieval.buildBm25Index(
          docs.filter(col("doc_id") % 2 =!= 0), "doc_id", "text", p,
          buckets = 31)
        p
      })
      copyInto(aBase, a); copyInto(bBase, b)
      // snapshot-PINNED probes (round-17): each probe resolves one
      // committed generation and reads exactly its files — zero
      // validation retries under the churn, no starvation window at all
      def probe() = graft.operators.StableRead.pinned(
        spark, Seq(a, b)) {
        Retrieval.bm25TopKFederated(spark, Seq(a, b), bm25Queries(s), 10)
      }
      def rel186(df: DataFrame): Seq[String] = {
        val out = df.collect().map(_.toString).sorted.toSeq
        graft.operators.StableRead.release(df) // consumed probe
        out
      }
      val expected = rel186(probe())
      val churn = scala.concurrent.Future {
        (1 to 2).foreach { i =>
          Retrieval.bm25Compact(spark, a)
          Retrieval.bm25Compact(spark, b)
          if (i == 1) require(Retrieval.bm25Vacuum(spark, a) > 0L,
            "q186: vacuum applied nothing")
        }
      }(scala.concurrent.ExecutionContext.global)
      var raced = 0
      while (!churn.isCompleted || raced < 2) {
        val got = rel186(probe())
        require(got == expected,
          s"q186: stable probe diverged mid-churn (${got.size} rows)")
        raced += 1
      }
      scala.concurrent.Await.result(
        churn, scala.concurrent.duration.Duration.Inf)
      probe().orderBy(col("query_id"), col("rnk"))
    }),

    // q186's drill shape for the REGISTRY family, under the driver's
    // oracle (ReaderMaintenanceRaceSpec is the spec-level twin): a
    // persisted exact-dedup registry takes a tombstoned takedown, then
    // STABLE membership probes fire while a second thread runs compact
    // churn, a LIVE second ingest batch, and the vacuum that physically
    // applies the takedown. Exactly two relations are legal mid-race —
    // the committed batch-0 state and the batch-0+1 state (tombstone
    // exactness makes overlay == post-vacuum bit-for-bit; compact is
    // content-blind) — and every raced probe must equal one of them; a
    // blend (new corpus rows against pre-ingest stats, or a half-swapped
    // compact) fails the GATE. The final relation is hash-pinned against
    // a first-arrival-with-takedown-timing SQL oracle: the tombstone
    // lands BEFORE batch 1, so a batch-1 arrival whose digest matches a
    // tombstoned batch-0 winner is ACCEPTED (tombstoned docs stop
    // witnessing instantly — the registry's takedown semantics).
    "q187_registry_probe_race" -> ((s, dir) => {
      val spark = Tables.configure(s)
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("text")).localCheckpoint(true)
      val reg = s"${scratch("q187")}/reg"
      // drill-cost memoization (q186 note): the deterministic pre-churn
      // base — init + committed batch 0 + the takedown landed BEFORE
      // batch 1 (all multiples of 10 are even, so the doomed set lands
      // wholly in batch 0's rows) — builds once and copies per
      // invocation; batch 1, compacts, vacuum, and probes stay live
      val regBase = baseIndexes.computeIfAbsent(s"q187reg|$dir", _ => {
        val p = s"${scratch("q187-base")}/reg"
        DedupRegistry.init(spark, p, buckets = 64)
        DedupRegistry.ingestBatch(
          p, docs.filter(col("doc_id") % 2 === 0), "doc_id", "text", 0L)
        graft.operators.Tombstones.add(spark, p,
          docs.filter(col("doc_id") % 10 === 0).select(col("doc_id")),
          "doc_id")
        p
      })
      copyInto(regBase, reg)
      val probeDocs = docs.filter(col("doc_id") % 3 === 0)
      // snapshot-PINNED probes (round-17): see q186 — committed
      // generations only, zero retries, marker-insensitive
      def probe() = graft.operators.StableRead.pinned(
        spark, Seq(reg)) {
        DedupRegistry.probe(spark, reg, probeDocs, "doc_id", "text")
          .select(col("doc_id"), col("is_new").cast("int").as("is_new"))
      }
      def rel(df: DataFrame): Seq[String] = {
        val out = df.collect().map(_.toString).sorted.toSeq
        graft.operators.StableRead.release(df) // consumed probe
        out
      }
      val expected0 = rel(probe())
      val churn = scala.concurrent.Future {
        DedupRegistry.compact(spark, reg)
        DedupRegistry.ingestBatch(
          reg, docs.filter(col("doc_id") % 2 === 1), "doc_id", "text", 1L)
        DedupRegistry.compact(spark, reg)
        require(DedupRegistry.vacuum(spark, reg) > 0L,
          "q187: vacuum applied nothing")
      }(scala.concurrent.ExecutionContext.global)
      val raced = scala.collection.mutable.ArrayBuffer.empty[Seq[String]]
      while (!churn.isCompleted || raced.size < 2) {
        raced += rel(probe())
      }
      scala.concurrent.Await.result(
        churn, scala.concurrent.duration.Duration.Inf)
      val expected1 = rel(probe())
      raced.zipWithIndex.foreach { case (r, i) =>
        require(r == expected0 || r == expected1,
          s"q187: raced probe $i matched neither committed state " +
            s"(${r.size} rows)")
      }
      probe().orderBy(col("doc_id"))
    }),

    // THE LIVE SERVING-STACK DRILL — ingest, takedown, and serve as ONE
    // SYSTEM under production concurrency (round-13's composition gate;
    // every piece is gate-proven in isolation: q162 streaming ingest,
    // q173 federated serving, q177 tombstones, q180 vacuum — what no
    // per-family gate can see is a cross-component window between
    // them): a standing BASE index (2/3 of the corpus) serves while a
    // streaming DELTA (the remaining third, under a DIFFERENT bucket
    // modulus — federation must not assume agreement) is fed through
    // the [[replayPhases]] drill, tombstoned takedowns land BETWEEN
    // micro-batches on whichever index owns the doc, and a federated
    // main+delta probe fires after every event. EVERY probe —
    // including the two fired in the window AFTER a takedown but
    // BEFORE anything physically applies it — must hash-equal the
    // survivors-only full-corpus BM25 relation at that instant (the
    // q177 phase method x the q162 replay method). The final phase
    // vacuums BOTH indexes (physical apply + overlay clear) and probes
    // again: soft must have equaled hard all along. The reference
    // analogue is its trades-parallel-indicators write discipline
    // (src/threading/PipelineExecutor.hpp:80-184), carried to the
    // index estate.
    "q182_bm25_serving_stack" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val base = s"$servParent/base"; val delta = s"$servParent/delta"
      copyInto(bm25Base(s, dir), base) // doc_id % 3 =!= 0, buckets 64
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(delta))
      Retrieval.bm25Init(s, delta, buckets = 31) // mixed moduli on purpose
      val phases = Seq(0L, 3L, 6L).map(r =>
        docs.filter(col("doc_id") % 9 === r)
          .select(col("doc_id"), col("text")))
      val probes = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
      def probe(phase: String): Unit = probes +=
        Retrieval.bm25TopKFederated(s, Seq(base, delta), bm25Queries(s), k = 10)
          .withColumn("phase", lit(phase))
          .localCheckpoint(true) // materialize BEFORE the next mutation
      replayPhases(s, s"serv182|$dir", phases,
        Retrieval.bm25StreamSink(delta, "doc_id", "text"), {
        case 0 =>
          probe("p0")
          // takedown T1, between micro-batches: base-owned + delta-owned
          graft.operators.Tombstones.add(s, base,
            docs.filter(col("doc_id") % 3 =!= 0 && col("doc_id") % 5 === 0)
              .select(col("doc_id")), "doc_id")
          graft.operators.Tombstones.add(s, delta,
            docs.filter(col("doc_id") % 9 === 0 && col("doc_id") % 4 === 0)
              .select(col("doc_id")), "doc_id")
          // ... plus a PRE-REGISTERED takedown naming phase-2 docs that
          // have not arrived yet: a stray no-op for the t1/t2 probes
          // (absent from every doclen — zero statistics impact), but it
          // must suppress those docs FROM THE MOMENT phase 2 lands (the
          // takedown-queue-ahead-of-the-crawl race)
          graft.operators.Tombstones.add(s, delta,
            docs.filter(col("doc_id") % 9 === 6 && col("doc_id") % 7 === 0)
              .select(col("doc_id")), "doc_id")
          probe("t1_window") // soft: nothing physically applied yet
        case 1 =>
          graft.operators.Tombstones.add(s, delta,
            docs.filter(col("doc_id") % 9 === 3 && col("doc_id") % 5 === 0)
              .select(col("doc_id")), "doc_id")
          probe("t2_window")
        case _ =>
          probe("p2")
      })
      // physical apply: vacuum both indexes (independent paths —
      // overlap their action floors), overlays must clear
      Retrieval.concurrently(
        () => { Retrieval.bm25Vacuum(s, base); () },
        () => { Retrieval.bm25Vacuum(s, delta); () })
      val cleared = graft.operators.Tombstones.read(s, base).isEmpty &&
        graft.operators.Tombstones.read(s, delta).isEmpty
      probe(if (cleared) "z_hard" else "z_overlay_not_cleared")
      probes.reduce(_.unionByName(_))
        .orderBy(col("phase"), col("query_id"), col("rnk"))
    }),

    // The DENSE serving-stack drill — q182's composition for the IVF
    // estate, checked the q178 exclusion way (cosine has no global
    // statistics, so a violation relation with an empty oracle): a
    // standing base index and a streamed delta share ONE quantizer (the
    // q161 ivfInit flow — under a shared quantizer the federated probe
    // is bit-for-bit the merged probe), the delta is fed through the
    // [[replayPhases]] drill, tombstoned
    // takedowns land between micro-batches on the owning index, and a
    // federated probe fires after every event — including in the
    // window after a takedown but before its physical apply. Per probe:
    // (a) no doomed-so-far id may surface; (b) every hit must be a
    // corpus-so-far member; (c) every hit's sim must re-verify against
    // the exact cosine on the raw embeddings; (d) non-vacuity. The
    // final phase vacuums BOTH indexes and the hard probe must equal
    // the last soft probe EXACTLY (the overlay and the rewrite must be
    // the same takedown).
    "q183_ivf_serving_stack" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val base = s"$servParent/ivfbase"; val delta = s"$servParent/ivfdelta"
      Seq(base, delta).foreach(p =>
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(p)))
      val cents = fullCentroids(s, dir) // memoized deterministic quantizer
      Similarity.ivfInit(s, cents, base)
      Similarity.ivfAppend(s"$base",
        emb.filter(col("vec_id") % 3 =!= 0), "vec_id", "embedding")
      Similarity.ivfInit(s, cents, delta)
      val phases = Seq(0L, 3L, 6L).map(r =>
        emb.filter(col("vec_id") % 9 === r)
          .select(col("vec_id"), col("embedding")))
      val queries = emb.filter(col("vec_id") % 10 === 7)
        .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
      val viols = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
      var lastSoft: DataFrame = null
      def probe(phase: String, corpusPred: org.apache.spark.sql.Column,
          doomedPred: org.apache.spark.sql.Column): Unit = {
        val hits = Similarity.ivfTopKFederated(
            Seq(base, delta), queries, "vec_id", "embedding",
            k = 10, nprobe = 4)
          .localCheckpoint(true) // materialize BEFORE the next mutation
        lastSoft = hits
        val doomed = emb.filter(doomedPred).select(col("vec_id").as("id"))
        viols += cnt(hits.join(broadcast(doomed), "id"),
          s"${phase}_doomed_in_probe")
        val member = emb.filter(corpusPred).select(col("vec_id").as("id"))
        viols += cnt(hits.join(broadcast(member), Seq("id"), "left_anti"),
          s"${phase}_hit_outside_corpus")
        viols += cnt(hits
          .join(queries.select((col("vec_id")).as("qid"),
            col("embedding").cast("array<double>").as("qv")), Seq("qid"))
          .join(emb.select(col("vec_id").as("id"),
            col("embedding").cast("array<double>").as("cv")), Seq("id"))
          .filter(abs(Similarity.cosine(col("cv"), col("qv")) - col("sim")) >
            lit(1e-12)),
          s"${phase}_cosine_mismatch")
        viols += scalarViol(hits.limit(1).count() > 0, s"${phase}_vacuous", s)
      }
      val t1 = (col("vec_id") % 3 =!= 0 && col("vec_id") % 5 === 0) ||
        (col("vec_id") % 9 === 0 && col("vec_id") % 4 === 0)
      val t2 = col("vec_id") % 9 === 3 && col("vec_id") % 5 === 0
      replayPhases(s, s"serv183|$dir", phases,
        Similarity.ivfStreamSink(delta, "vec_id", "embedding"), {
        case 0 =>
          graft.operators.Tombstones.add(s, base,
            emb.filter(col("vec_id") % 3 =!= 0 && col("vec_id") % 5 === 0)
              .select(col("vec_id")), "vec_id")
          graft.operators.Tombstones.add(s, delta,
            emb.filter(col("vec_id") % 9 === 0 && col("vec_id") % 4 === 0)
              .select(col("vec_id")), "vec_id")
          probe("t1_window",
            (col("vec_id") % 3 =!= 0 || col("vec_id") % 9 === 0) && !t1,
            t1)
        case 1 =>
          graft.operators.Tombstones.add(s, delta,
            emb.filter(t2).select(col("vec_id")), "vec_id")
          probe("t2_window",
            (col("vec_id") % 3 =!= 0 || col("vec_id") % 9 === 0 ||
              col("vec_id") % 9 === 3) && !t1 && !t2,
            t1 || t2)
        case _ =>
          probe("p2",
            (col("vec_id") % 3 =!= 0 || col("vec_id") % 9 === 0 ||
              col("vec_id") % 9 === 3 || col("vec_id") % 9 === 6) &&
              !t1 && !t2,
            t1 || t2)
      })
      val soft = lastSoft
      Retrieval.concurrently(
        () => { Similarity.ivfVacuum(s, base); () },
        () => { Similarity.ivfVacuum(s, delta); () })
      viols += scalarViol(graft.operators.Tombstones.read(s, base).isEmpty &&
        graft.operators.Tombstones.read(s, delta).isEmpty,
        "z_overlay_not_cleared", s)
      val hard = Similarity.ivfTopKFederated(
        Seq(base, delta), queries, "vec_id", "embedding", k = 10, nprobe = 4)
      viols += cnt(
        soft.unionByName(hard).groupBy(col("qid"), col("id"),
            col("sim"), col("rank"))
          .agg(count(lit(1)).as("c")).filter(col("c") =!= 2),
        "z_soft_hard_drift")
      viols.reduce(_.unionByName(_)).orderBy(col("kind"), col("n"))
    })
  )

  /** q144's marker planting — a per-language stopword tail appended to
    * every doc so the synthetic corpus carries a learnable language
    * signal; the oracle replicates the identical CASE append.
    */
  private def langIdPlanted(docs: DataFrame): DataFrame =
    docs.withColumn("text", concat(col("text"), lit(" "),
      when(col("lang") === "en", lit("the of and to in that"))
        .when(col("lang") === "de", lit("der die und das ist nicht"))
        .when(col("lang") === "es", lit("el la de que y los"))
        .when(col("lang") === "fr", lit("le la et les des une"))
        .when(col("lang") === "zh", lit("de shi zai bu le wo"))
        .otherwise(lit(""))))

  /** q135's fixed phrase table — lengths 2 and 3, one phrase with a
    * repeated term (duplicate idx values must each be witnessed at
    * their own offset).
    */
  private def phraseTable(s: SparkSession): DataFrame = {
    import s.implicits._
    Seq(
      (1L, "batch batch"),
      (2L, "merge line"),
      (3L, "spark window merge"),
      (4L, "slow join sort"),
      (5L, "data data")).toDF("phrase_id", "phrase_text")
  }

  /** q127's fixed query table — five vocabulary queries, one term
    * repeated on purpose (distinct-term semantics must collapse it).
    */
  private def bm25Queries(s: SparkSession): DataFrame = {
    import s.implicits._
    Seq(
      (1L, "spark window merge"),
      (2L, "customer filter join"),
      (3L, "hash scan order batch"),
      (4L, "vector data stream data"),
      (5L, "slow query table")).toDF("query_id", "query_text")
  }

  /** q102 fixture: per-8-id-group title variants at known edit
    * distances (see the q102 comment for the variant table).
    */
  private def editTitles(docs: DataFrame): DataFrame = {
    val g = call_function("div", col("doc_id"), lit(8L)).cast("string")
    val m = col("doc_id") % 8
    docs.select(col("doc_id"),
      when(m === 0, concat(lit("annual data report "), g, lit(" final")))
        .when(m === 1, concat(lit("annual data reprt "), g, lit(" final")))
        .when(m === 2, concat(lit("annual data rexort "), g, lit(" final")))
        .when(m === 3, concat(lit("annual data repoort "), g, lit(" final")))
        .when(m === 4, concat(lit("annual data rpeort "), g, lit(" final")))
        .when(m === 5, concat(lit("annual data report "), g, lit(" final")))
        .when(m === 6, concat(lit("quarterly summary "), g))
        .otherwise(concat(lit("quarterly sumary "), g))
        .as("title"))
  }

  /** q103/q104 fixture: src host from the doc id, outlinks planted into
    * the text — site{id%13} links site{(3·id+1)%13} always and
    * cdn{id%7}.net on the id%4 stride, so extraction (not edge synthesis)
    * feeds the graph operators.
    */
  private def plantedHostEdges(docs: DataFrame): DataFrame = {
    val planted = docs
      .withColumn("src_host", concat(lit("site"),
        (col("doc_id") % 13).cast("string"), lit(".example.org")))
      .withColumn("text", concat(
        col("text"),
        lit(" see https://site"), ((col("doc_id") * 3 + 1) % 13).cast("string"),
        lit(".example.org/x/"), col("doc_id").cast("string"),
        when(col("doc_id") % 4 === 0, concat(lit(" and https://cdn"),
          (col("doc_id") % 7).cast("string"), lit(".net")))
          .otherwise(lit(""))))
    LinkGraph.hostEdges(planted, "src_host", "text")
  }

  /** Shared q98/q100 gate body: plant a license passage at the head
    * (doc_id % 7) and tail (doc_id % 11) of otherwise-unique documents —
    * invisible to document- and line-level dedup, but every interior
    * 4-gram repeats corpus-wide — run the given span-dedup
    * implementation, and aggregate the cut per source.
    */
  private def spanDedupGate(
      s: SparkSession, dir: String,
      impl: DataFrame => DataFrame): DataFrame = {
    val passage =
      "redistribution and use in source and binary forms are permitted"
    val planted = t(s, dir, "documents").withColumn("text",
      concat_ws(" ",
        when(col("doc_id") % 7 === 0, lit(passage)),
        col("text"),
        when(col("doc_id") % 11 === 0, lit(passage))))
    impl(planted)
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("n_dup_tokens") > 0, 1L).otherwise(0L))
          .as("n_docs_affected"),
        sum(col("n_dup_tokens")).as("n_dup_tokens"),
        sum(col("n_spans")).as("n_spans"),
        sum(length(col("clean_text")).cast("long")).as("clean_chars"),
        countDistinct(md5(col("clean_text"))).as("n_distinct_clean"))
      .orderBy(col("source"))
  }

  /** The q35 oracle: the ENTIRE IVF pipeline in DuckDB SQL, including all
    * 8 Lloyd iterations of the coarse quantizer. Replicability rests on
    * three engine properties: (1) the training sample is the id-ORDERED
    * first 4096 vectors, (2) per-cell sums fold in id order (SQL:
    * `list(v ORDER BY id)` then an ordered `list_reduce` — the same IEEE
    * accumulation sequence), (3) assignment ties break toward the smaller
    * cell (SQL: `row_number() OVER (ORDER BY d2, cell)`). The iteration
    * CTEs are generated by this loop — same shape as q104's unrolled
    * PageRank, just produced programmatically.
    */
  /** Oracle SQL lives in [[CurationOracles]] (same keys as [[defs]]). */
  val oracles: Map[String, String] = CurationOracles.sql
}
