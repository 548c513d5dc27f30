package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Sparse-retrieval operators over the curation corpus: BM25 ranked
  * search and the inverted-index build substrate. These close the
  * retrieval loop the dense-side operators (Similarity.lshTopK /
  * ivfTopK / mmrRerank) already cover — a training-data pipeline needs
  * BOTH for hybrid retrieval and for retrieval-based decontamination
  * over corpora where no embeddings exist.
  *
  * Everything is relational: tokenize -> (doc, term) counts -> term
  * statistics -> broadcast-joined scoring. Texts never shuffle; term
  * strings travel once into the tf aggregation and the only frames that
  * move afterwards are (id, term, tf) triples and vocabulary-sized
  * statistics.
  */
object Retrieval {

  /** Run independent driver-side actions as CONCURRENT Spark jobs and
    * wait for all of them. Each action in a single-threaded driver pays
    * a fixed scheduler/commit overhead serially; independent index
    * writes overlap it instead (local FIFO and cluster schedulers both
    * interleave concurrent jobs). EVERY action is awaited before the
    * first failure propagates — propagating early would return control
    * (and possibly a retry/rebuild over the same index path) while a
    * sibling write is still running under it. Callers must pass actions
    * over already-materialized (persisted) inputs — concurrent first
    * actions would race to fill a cache.
    */
  private[graft] def concurrently(actions: (() => Unit)*): Unit = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    // worker threads inherit the spawning writer's bracket identity so
    // their estate-mutation notes attribute to THIS writer's commit,
    // not to every writer active on the root (the multi-writer
    // note-attribution contract, StableRead.noteKeys)
    val ctx = StableRead.currentWriterCtx()
    actions.map(a => Future(StableRead.inheritWriterCtx(ctx)(a())))
      .map(f => scala.util.Try(Await.result(f, Duration.Inf)))
      .foreach(_.get)
  }

  /** BM25 top-k document retrieval for a (small) query table.
    *
    * score(q, d) = Σ_{t ∈ distinct terms of q}
    *   ln(1 + (N − df(t) + 0.5) / (df(t) + 0.5))            [idf, Robertson/Sparck-Jones non-negative form]
    *   · tf(t, d) · (k1 + 1) / (tf(t, d) + k1 · (1 − b + b · dl(d) / avgdl))
    *
    * with N = |docs| (token-less documents count toward N and avgdl),
    * dl = token count of d, avgdl = total tokens / N. Repeated query
    * terms score once (distinct-term semantics, documented here because
    * BM25 variants differ); query terms absent from the corpus
    * contribute 0 (they drop at the df join, the standard treatment).
    * Ties in the per-query ranking break toward the smaller doc id.
    *
    * Plan/scale shape: the query-term table is tiny and broadcasts into
    * the vocabulary-sized df table, so only the postings of the queried
    * terms survive the tf join — the corpus-sized posting set never
    * feeds the scoring aggregation. N and the token total ride scalar
    * subqueries (no crossJoin/BNL — the library invariant); the per-query
    * top-k is a row_number window Spark prunes map-side
    * (WindowGroupLimit), so a hot query ships k rows per partition, not
    * its whole candidate set. The tf frame persists (CacheScope
    * contract) because it feeds dl, df, and the scoring join.
    *
    * The reference engine has no text retrieval (its pipeline is
    * numeric market data end to end); this is part of the
    * beyond-the-reference curation surface, after Robertson & Walker
    * BM25 as standardized in the probabilistic-IR literature.
    */
  def bm25TopK(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      queries: DataFrame, // columns: query_id, query_text
      k: Int,
      k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    require(k > 0, s"top-k must be positive, got $k")
    require(k1 > 0.0, s"k1 must be positive, got $k1")
    require(b >= 0.0 && b <= 1.0, s"b must be in [0, 1], got $b")
    val tf = docs
      .select(
        col(idCol).as("id"),
        explode(TextAnalysis.tokens(col(textCol))).as("term"))
      .groupBy(col("id"), col("term"))
      .agg(count(lit(1)).as("tf"))
      .transform(graft.CacheScope.persisted)
    val dl = tf.groupBy(col("id")).agg(sum(col("tf")).as("dl"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val nDocs = docs.agg(count(lit(1)).as("n")).scalar()
    val totTok = tf.agg(sum(col("tf")).as("t")).scalar()
    val qterms = queries
      .select(
        col("query_id"),
        explode(TextAnalysis.tokens(col("query_text"))).as("term"))
      .distinct()
    // avgdl = exact-integer total / exact-integer N: ONE IEEE division,
    // so the oracle's CAST(sum AS DOUBLE) / count reproduces it bit-for-bit.
    val avgdl = totTok.cast("double") / nDocs.cast("double")
    val idf = log(
      lit(1.0) +
        (nDocs.cast("double") - col("df").cast("double") + lit(0.5)) /
        (col("df").cast("double") + lit(0.5)))
    val norm = col("tf").cast("double") * lit(k1 + 1.0) /
      (col("tf").cast("double") +
        lit(k1) * (lit(1.0) - lit(b) + lit(b) * col("dl").cast("double") / avgdl))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("id"))
    // (query_id, term, df) is query-sized — broadcast it INTO the
    // corpus-sized tf frame so the posting filter is map-side and only
    // the queried terms' postings ever reach the dl join and the
    // scoring aggregation.
    val qdf = dfreq.join(broadcast(qterms), "term")
    tf
      .join(broadcast(qdf), "term")
      .join(dl, "id")
      .withColumn("part", idf * norm)
      .groupBy(col("query_id"), col("id"))
      .agg(sum(col("part")).as("score"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(
        col("query_id"),
        col("rnk"),
        col("id").as("doc_id"),
        round(col("score"), 4).as("score"))
  }

  /** Build a persisted BM25 index — the build-once/query-many shape of
    * [[bm25TopK]] (which re-derives tf/df/dl per call; fine for one
    * batch of queries, wrong for a standing retrieval service over a
    * 100 TB corpus). Postings and the term dictionary are written
    * PARTITIONED BY a hash bucket of the term, so a probe for a handful
    * of query terms reads only those buckets — partition pruning does
    * for the lexical index what cell pruning does for the IVF index
    * ([[Similarity.buildIvfIndex]], the pattern this mirrors).
    *
    * Layout: `postings/` (id, term, tf | bucket), `terms/` (term, df |
    * bucket), `doclen/` (id, dl), `stats/` (n_docs, total_tokens — one
    * row). Bucketing hash is Spark's xxhash64 mod `buckets`, computed
    * identically at probe time. doclen is the index's complete DOC
    * REGISTRY — one row per indexed doc, dl = 0 for tokenless docs
    * (which have no postings but count toward N and avgdl, the
    * [[bm25TopK]] contract) — so n_docs == count(doclen) is an
    * invariant and [[bm25Delete]] can account for every doomed doc from
    * the index alone. Deriving it straight off the docs scan is also
    * the cheaper plan: a shuffle-free projection instead of a
    * corpus-sized groupBy over tf.
    */
  def buildBm25Index(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      path: String,
      buckets: Int = 64): Unit = {
    require(buckets > 0, s"buckets must be positive, got $buckets")
    val spark = docs.sparkSession
    // reader-isolation bracket + manifest commit ([[StableRead]]): a
    // (re)build into a live root must not validate mid-write, and the
    // finished index starts its commit-generation history here
    StableRead.withMaintenanceMarker(spark, path) {
    // the two stats scalars ride ONE observe() on the docs scan, filled
    // for free when the postings write materializes tf (the q140
    // precedent; the observation sits BELOW the persist, so it sees the
    // full docs scan exactly once). The token total is the per-doc
    // size() summed BEFORE the explode — equal to sum(tf) — so the
    // metrics exist even when every doc is tokenless and downstream
    // stages run zero tasks. The stats write is then a driver-local
    // one-row job: no full-corpus rescan, no crossJoin (the 1-row
    // crossJoin would plan as BroadcastNestedLoopJoin, the library's
    // banned shape).
    val statsObs = org.apache.spark.sql.Observation()
    val tf = docs
      .observe(statsObs,
        count(lit(1)).as("n_docs"),
        coalesce(sum(size(TextAnalysis.tokens(col(textCol))).cast("long")),
          lit(0L)).as("total_tokens"))
      .select(
        col(idCol).as("id"),
        explode(TextAnalysis.tokens(col(textCol))).as("term"))
      .groupBy(col("id"), col("term"))
      .agg(count(lit(1)).as("tf"))
      .transform(graft.CacheScope.persisted)
    val bucket = pmod(xxhash64(col("term")), lit(buckets.toLong))
    // cluster by the partition key BEFORE the dynamic-partition write:
    // without it every shuffle task writes a file into every bucket
    // directory (tasks × buckets small files — measured 4.9 s at sf0.1,
    // and the classic small-files failure at corpus scale); with it each
    // bucket is one task's single file
    // every table lands tmp + swap/rename (Sinks.landTable): a rebuild
    // into a LIVE root must never overwrite committed files in place
    graft.sinks.Sinks.landTable(
      tf.withColumn("bucket", bucket).repartition(col("bucket")),
      path, "postings", Seq("bucket"))
    // terms and doclen both derive from the NOW-MATERIALIZED tf cache and
    // are independent — run them as concurrent jobs so their fixed
    // per-action scheduler overhead overlaps instead of serializing (the
    // postings write goes first alone: concurrent first actions would
    // race to materialize the persist)
    concurrently(
      () => graft.sinks.Sinks.landTable(
        tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
          .withColumn("bucket", bucket)
          .repartition(col("bucket")),
        path, "terms", Seq("bucket")),
      // straight off the docs scan (NOT a groupBy over tf): shuffle-free,
      // and registers tokenless docs at dl = 0 — per-doc size(tokens)
      // equals sum(tf) for every doc with tokens
      () => graft.sinks.Sinks.landTable(
        docs.select(
          col(idCol).as("id"),
          size(TextAnalysis.tokens(col(textCol))).cast("long").as("dl")),
        path, "doclen"))
    import spark.implicits._
    // AQE propagates an all-empty tf through the write plan and DROPS
    // the CollectMetrics stage from the final plan, losing the
    // observation — in that degenerate case (a fully tokenless corpus)
    // the token total is 0 by construction and n_docs falls back to one
    // explicit count of the input
    val m = EstateIngest.observedOrEmpty(statsObs)
    graft.sinks.Sinks.landTable(
      Seq((
          m.get("n_docs").map(_.asInstanceOf[Long]).getOrElse(docs.count()),
          m.getOrElse("total_tokens", 0L).asInstanceOf[Long],
          buckets.toLong))
        .toDF("n_docs", "total_tokens", "buckets")
        .coalesce(1),
      path, "stats")
    }
  }

  // Explicit index-table schemas: a LEGAL index state can carry an
  // EMPTY table with zero part files — a [[bm25Init]] index before its
  // first streamed batch, or a shard over an all-tokenless slice —
  // where parquet schema inference aborts. Internal reads that must
  // survive those states declare the schema instead (the q167
  // crash-erased-registry lesson applied to the lexical index).
  private[graft] val termsSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField(
      "term", org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField(
      "df", org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField(
      "bucket", org.apache.spark.sql.types.LongType)))
  private[graft] val postingsSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField(
      "id", org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField(
      "term", org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField(
      "tf", org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField(
      "bucket", org.apache.spark.sql.types.LongType)))
  private[graft] val doclenSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField(
      "id", org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField(
      "dl", org.apache.spark.sql.types.LongType)))

  /** Initialize an EMPTY BM25 index — the lexical twin of
    * [[graft.operators.Similarity.ivfInit]], and the entry point for a
    * corpus that arrives ENTIRELY through [[bm25StreamSink]]: stats at
    * (0, 0, buckets) plus empty table directories, ready for the first
    * micro-batch. A probe of the empty index returns the empty relation
    * (no candidate survives the postings join; the NaN avgdl of a
    * zero-doc corpus never reaches a scored row). Size `buckets` for
    * the corpus the stream will GROW INTO — the modulus is fixed for
    * the index's lifetime ([[bm25Delete]]'s batching economics).
    * Refuses a pre-existing index.
    */
  def bm25Init(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      buckets: Int = 64): Unit = {
    require(buckets > 0, s"bm25Init: buckets must be positive, got $buckets")
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val stats = new org.apache.hadoop.fs.Path(s"$path/stats")
    require(!fs.exists(stats), s"bm25Init: an index already exists at $path")
    StableRead.withMaintenanceMarker(spark, path) {
      import spark.implicits._
      Seq((0L, 0L, buckets.toLong))
        .toDF("n_docs", "total_tokens", "buckets")
        .coalesce(1).write.parquet(stats.toString)
      Seq("terms", "postings", "doclen").foreach(t =>
        fs.mkdirs(new org.apache.hadoop.fs.Path(s"$path/$t")))
    }
  }

  /** Incrementally append a document batch to a [[buildBm25Index]]
    * index — the build-once/APPEND-many shape ([[graft.operators.Similarity.ivfAppend]]
    * is the dense-side twin). New-doc ids must be disjoint from the
    * indexed corpus (same caller contract as the IVF append; an id
    * collision would double-count the doc in dl and N).
    *
    * What moves is proportional to the BATCH, never the index: the
    * batch's postings cluster by the BUILD's bucket modulus (recovered
    * from the index stats, never trusted to a caller) and append as new
    * files in the existing bucket partitions; doclen rows append; the
    * term df table appends the SAME way (round 19) — the batch's
    * per-term df rows land as new files in the existing bucket
    * partitions, and df is resolved by MERGE-ON-READ (probes sum df per
    * term across rows; [[bm25Compact]] consolidates back to one row per
    * term). Rounds <= 18 instead republished the FULL merged vocabulary
    * table per append — O(global vocab) per batch, the one
    * estate-proportional term left on the write path: on an
    * open-vocabulary web corpus the vocabulary grows with the corpus,
    * so at 100 TB every append (and every streamed micro-batch) paid a
    * corpus-scale rewrite. The delta rows mirror the snapshot
    * protocol's append-delta shards (the same LSM economics: O(batch)
    * writes, read fan-in bounded by appends-since-compact,
    * consolidation on maintenance windows). Stats rewrites from
    * observe()-carried scalars that the append writes fill for free.
    * After append, [[bm25TopKIndexed]] scores the union corpus
    * bit-identically to a from-scratch rebuild — q143 pins exactly that
    * against q127's verbatim oracle. Runs, stats read included, under
    * the ingest's writer locks ([[EstateIngest.Layout.locked]]), so a
    * concurrent compact waits instead of swapping the landed parts away.
    */
  def bm25Append(
      path: String,
      docs: DataFrame,
      idCol: String,
      textCol: String): Unit = {
    val spark = docs.sparkSession
    Bm25Ingest.locked(spark, path) {
    val st = spark.read.parquet(s"$path/stats")
      .select(col("n_docs"), col("total_tokens"), col("buckets"))
      .collect()(0)
    val (oldDocs, oldTok, buckets) =
      (st.getLong(0), st.getLong(1), st.getLong(2))
    // reader-isolation bracket + manifest commit ([[StableRead]]): the
    // postings append / df merge / stats rewrite are steps a concurrent
    // stable probe must not straddle
    StableRead.withMaintenanceMarker(spark, path) {
    // batch stats ride ONE observe() on the batch scan (the
    // buildBm25Index shape): no extra batch rescan, no 1-row crossJoin.
    // An all-tokenless batch is legal (tokenless docs count toward N
    // and avgdl, matching bm25TopK) — its token sum coalesces to 0 on
    // the still-populated docs scan; an EMPTY batch (zero tasks, so the
    // observation yields an empty metrics map) fails loudly below
    // instead of silently rewriting stats for no change.
    val statsObs = org.apache.spark.sql.Observation()
    val tf = docs
      .observe(statsObs,
        count(lit(1)).as("n"),
        coalesce(sum(size(TextAnalysis.tokens(col(textCol))).cast("long")),
          lit(0L)).as("t"))
      .select(
        col(idCol).as("id"),
        explode(TextAnalysis.tokens(col(textCol))).as("term"))
      .groupBy(col("id"), col("term"))
      .agg(count(lit(1)).as("tf"))
      .transform(graft.CacheScope.persisted)
    val bucket = pmod(xxhash64(col("term")), lit(buckets))
    tf.withColumn("bucket", bucket)
      .repartition(col("bucket"))
      .write.mode("append").partitionBy("bucket").parquet(s"$path/postings")
    StableRead.noteTouched(path, "postings") // incremental-snapshot note
    // same AQE empty-relation caveat as the build: an all-tokenless
    // batch loses the observation, its token total is 0 by construction,
    // and n falls back to one explicit count of the batch
    val batchMetrics = EstateIngest.observedOrEmpty(statsObs)
    val batchDocs = batchMetrics.get("n").map(_.asInstanceOf[Long])
      .getOrElse(docs.count())
    require(batchDocs > 0,
      s"bm25Append: empty batch for index at $path — refusing the no-op " +
        "(df merge and stats rewrite would rescan the index for nothing)")
    // doclen, terms-delta, and stats are independent once tf is cached
    // and the batch scalars are in hand — overlap their fixed per-action
    // scheduler overhead (the build's shape). Everything here is
    // O(batch): the index is never rescanned, and nothing
    // vocabulary-sized is rewritten (stats, the one swap left, is one
    // row through landTable — tmp + retire-aware swap, never an
    // in-place overwrite that would tear under a crash or lose a
    // snapshot-pinned reader's files).
    import spark.implicits._
    concurrently(
      // the build's registry shape: every batch doc appends a doclen row
      // (dl = 0 when tokenless), shuffle-free off the batch scan
      () => {
        docs.select(
            col(idCol).as("id"),
            size(TextAnalysis.tokens(col(textCol))).cast("long").as("dl"))
          .write.mode("append").parquet(s"$path/doclen")
        StableRead.noteTouched(path, "doclen")
      },
      // terms APPEND-DELTA (the round-19 O(batch-vocab) path): the
      // batch's per-term df rows land as new files in the standing
      // bucket partitions; probes resolve df by summing rows per term
      () => {
        tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
          .withColumn("bucket", bucket)
          .repartition(col("bucket"))
          .write.mode("append").partitionBy("bucket")
          .parquet(s"$path/terms")
        StableRead.noteTouched(path, "terms")
      },
      () => graft.sinks.Sinks.landTable(
        Seq((oldDocs + batchDocs,
            oldTok + batchMetrics.getOrElse("t", 0L).asInstanceOf[Long],
            buckets))
          .toDF("n_docs", "total_tokens", "buckets")
          .coalesce(1),
        path, "stats"))
    }
    }
  }

  /** Exactly-once STREAMING ingest into a persisted [[buildBm25Index]]
    * index — [[bm25Append]]'s batch-proportional increment applied per
    * micro-batch under the recoverable ingest protocol of
    * [[EstateIngest]] (the protocol, its crash windows and its contract
    * are documented there once). A 100 TB corpus is never static —
    * without this path every day of new documents costs either a full
    * rebuild or an at-least-once append that double-counts df/N on the
    * first crash. Postings, doclen and the terms append-delta land as
    * tagged parts; stats is the one swapped table. Work per batch is
    * batch-proportional, identical to [[bm25Append]]. Probes BETWEEN
    * applies see a consistent index; stable probes wait out an apply.
    * Wire with
    * `stream.writeStream.foreachBatch(bm25StreamSink(path, id, text))`;
    * the q162 gate replays a phased corpus with a kill-restart, a
    * manufactured mid-apply crash state, and a post-commit re-delivery,
    * and pins the final probe against q127's full-corpus oracle.
    */
  def bm25StreamSink(
      path: String,
      idCol: String,
      textCol: String): (DataFrame, Long) => Unit =
    (batch: DataFrame, batchId: Long) =>
      bm25IngestBatch(path, batch, idCol, textCol, batchId)

  /** The BM25 index's ingest tables. Terms moved from the swapped to
    * the tagged (append-delta) tables in round 19; the guard still
    * treats it as swapped so pre-round-19 crash debris
    * (`terms_b<id>_new` / `_bak`) still refuses or retires.
    */
  private[operators] val Bm25Ingest = EstateIngest.Layout("bm25IngestBatch",
    tagged = Seq("postings" -> "bucket=", "doclen" -> "", "terms" -> "bucket="),
    swapped = Seq("stats"),
    legacySwapped = Seq("terms"))

  /** One recoverable, idempotent micro-batch apply ([[EstateIngest]]).
    * Public so a recovery drill (or a manual backfill replay) can drive a
    * single batch id directly, the way the q123 gate drives its JDBC twin.
    */
  def bm25IngestBatch(
      path: String,
      docs: DataFrame,
      idCol: String,
      textCol: String,
      batchId: Long): Unit =
    Bm25Ingest.ingest(docs.sparkSession, path, batchId) { b =>
      // bm25Append's derivations, staged
      val spark = docs.sparkSession
      val st = spark.read.parquet(s"$path/stats")
        .select(col("n_docs"), col("total_tokens"), col("buckets"))
        .collect()(0)
      val (oldDocs, oldTok, buckets) =
        (st.getLong(0), st.getLong(1), st.getLong(2))
      val statsObs = org.apache.spark.sql.Observation()
      val tf = docs
        .observe(statsObs,
          count(lit(1)).as("n"),
          coalesce(sum(size(TextAnalysis.tokens(col(textCol))).cast("long")),
            lit(0L)).as("t"))
        .select(
          col(idCol).as("id"),
          explode(TextAnalysis.tokens(col(textCol))).as("term"))
        .groupBy(col("id"), col("term"))
        .agg(count(lit(1)).as("tf"))
        .transform(graft.CacheScope.persisted)
      val bucket = pmod(xxhash64(col("term")), lit(buckets))
      tf.withColumn("bucket", bucket)
        .repartition(col("bucket"))
        .write.mode("overwrite").partitionBy("bucket")
        .parquet(b.staged("postings"))
      val m = EstateIngest.observedOrEmpty(statsObs)
      val batchDocs = m.get("n").map(_.asInstanceOf[Long])
        .getOrElse(docs.count())
      if (batchDocs == 0L) false // an empty trigger: committed as a no-op
      else {
        import spark.implicits._
        // all three staged writes are independent once tf is
        // materialized and the batch scalars are in hand — overlap their
        // fixed per-action scheduler overhead (the build/append
        // discipline). EVERY per-batch cost here is O(batch): the terms
        // increment is the batch's own per-term df rows (the round-19
        // append-delta — rounds <= 18 staged the FULL merged vocabulary
        // per micro-batch, the last estate-proportional term on the
        // streaming write path)
        concurrently(
          () => docs.select(
              col(idCol).as("id"),
              size(TextAnalysis.tokens(col(textCol))).cast("long").as("dl"))
            .write.mode("overwrite").parquet(b.staged("doclen")),
          () => tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
            .withColumn("bucket", bucket)
            .repartition(col("bucket"))
            .write.mode("overwrite").partitionBy("bucket")
            .parquet(b.staged("terms")),
          () => Seq((oldDocs + batchDocs,
              oldTok + m.getOrElse("t", 0L).asInstanceOf[Long],
              buckets))
            .toDF("n_docs", "total_tokens", "buckets")
            .coalesce(1)
            .write.mode("overwrite").parquet(b.next("stats")))
        true
      }
    }

  /** Compact a [[buildBm25Index]] index in place: every [[bm25Append]]
    * lands its batch as NEW files inside the existing bucket partitions
    * (that is what makes the append cheap), so a long-lived index
    * accumulates one file set per append — the classic small-files
    * decay, and at corpus scale the probe's bucket reads degrade from
    * one sequential file to hundreds of openings. Compaction rewrites
    * postings and doclen clustered (one task's file per bucket, the
    * build's layout) into a TEMP generation and swaps it in via
    * [[graft.sinks.Sinks.swapByRename]] (backup rename first, so a
    * crash at any point leaves a complete generation — old or new,
    * never none; see that scaladoc for the object-store caveat) — the
    * index is never read and overwritten in the same job (the
    * localCheckpoint trick the df merge uses is for vocabulary-SIZED
    * frames; checkpointing corpus-sized postings would double-buffer
    * the corpus in executor storage). Scoring is file-layout-blind:
    * a probe after compact equals the probe before bit-for-bit (spec +
    * the q145 gate pin it against q127's verbatim oracle).
    */
  def bm25Compact(spark: org.apache.spark.sql.SparkSession, path: String,
      gcKeepGenerations: Option[Int] = None): Unit =
    Bm25Ingest.maintain(spark, path, "bm25Compact", gcKeepGenerations) {
      val buckets = spark.read.parquet(s"$path/stats")
        .select(col("buckets")).collect()(0).getLong(0)
      require(buckets > 0, s"bm25Compact: corrupt stats at $path")
      graft.sinks.Sinks.compactTable(
        spark, path, "postings", Some("bucket"))
      graft.sinks.Sinks.compactTable(spark, path, "doclen", None)
      // terms: CONSOLIDATE the append-delta rows (one df row per
      // append batch and term — the round-19 merge-on-read contract)
      // back to one row per term, clustered like the build's layout.
      // landTable = tmp + retire-aware swap, so the read never races
      // its own rewrite and pinned readers keep the old chain
      graft.sinks.Sinks.landTable(
        spark.read.schema(termsSchema).parquet(s"$path/terms")
          .groupBy(col("term"), col("bucket"))
          .agg(sum(col("df")).as("df"))
          .select(col("term"), col("df"), col("bucket"))
          .repartition(col("bucket")),
        path, "terms", Seq("bucket"))
    }

  /** Merge two [[buildBm25Index]] indexes — the pairwise convenience
    * form of the variadic N-way merge below (one code path; see that
    * overload for the full contract).
    */
  def bm25Merge(
      spark: org.apache.spark.sql.SparkSession,
      pathA: String,
      pathB: String,
      dest: String): Unit =
    bm25Merge(spark, Seq(pathA, pathB), dest)

  /** Merge N [[buildBm25Index]] indexes over DISJOINT corpora into a
    * new index at `dest` — the composition that makes a 100 TB index
    * BUILD distributable: build per-shard indexes in parallel (each
    * shard's build touches only its own corpus slice), then merge —
    * and merging is nearly free, because the corpus-sized parts union
    * at the FILE level:
    *
    *   - postings: every shard buckets its terms with the same
    *     `xxhash64 mod buckets` (verified from stats — a modulus
    *     mismatch aborts), so bucket b of the merged index is exactly
    *     the union of all shards' bucket-b files — a metadata union,
    *     no row is read;
    *   - doclen: disjoint doc registries — plain file union;
    *   - terms: the ONE real job, vocabulary-sized by construction —
    *     all shards' df summed per term and rewritten clustered. The
    *     N-way form is why this overload exists: a pairwise merge tree
    *     over hundreds of production shards re-runs this job (and the
    *     stats rewrite) at every tree level, log N times per term —
    *     here every shard count pays exactly ONE df job;
    *   - stats: N scalars added.
    *
    * Caller contract: doc-id sets pairwise disjoint (the [[bm25Append]]
    * contract — an overlap would double-count dl and N). A probe of
    * the merged index equals [[bm25TopK]] over the union corpus
    * bit-for-bit (the q158 gate pins a 4-shard merge against the
    * full-corpus oracle; the spec pins N-way == pairwise-tree ==
    * from-scratch-rebuild probes). `dest` must not exist.
    *
    * `move = false` (default) preserves the shards but streams every
    * corpus byte through one driver thread; `move = true` renames the
    * part files instead — O(1) metadata per file, the genuinely
    * metadata-priced merge — and CONSUMES the shards (their husks
    * remain; callers delete them). See
    * [[graft.sinks.Sinks.copyParquetParts]] for the full copy-vs-move
    * contract and the object-store caveat. SINGLE-WRITER window: the
    * shards are read non-atomically (stats first, then parts, then
    * terms) — a concurrent [[bm25Append]] landing in a shard mid-merge
    * would split its batch across the stats/parts reads and corrupt
    * the merged index's N/df; merge only quiesced shards.
    */
  def bm25Merge(
      spark: org.apache.spark.sql.SparkSession,
      paths: Seq[String],
      dest: String,
      move: Boolean = false): Unit = {
    Bm25Ingest.requireMergeable(spark, paths, "bm25Merge")
    val hconf = spark.sessionState.newHadoopConf()
    val destP = new org.apache.hadoop.fs.Path(dest)
    val fs = destP.getFileSystem(hconf)
    require(!fs.exists(destP), s"bm25Merge: $dest already exists")
    // reader-isolation brackets + manifest commits ([[StableRead]]):
    // dest always — and with move=true the source shards too, since the
    // part-file renames CONSUME them under any reader still probing
    StableRead.withMaintenanceMarkers(
      spark, dest +: (if (move) paths else Seq.empty)) {
    val stats = paths.map { p =>
      val r = StableRead.readTable(spark, p, "stats")
        .select(col("n_docs"), col("total_tokens"), col("buckets"))
        .collect()(0)
      (r.getLong(0), r.getLong(1), r.getLong(2))
    }
    val buckets = stats.head._3
    require(stats.forall(_._3 == buckets),
      s"bm25Merge: bucket moduli differ (${stats.map(_._3).distinct.mkString(", ")}) " +
        "— the shards bucket terms differently; rebuild with one modulus")
    // corpus-sized parts: FILE-level union of ALL shards at once,
    // disambiguated by shard-index prefix — no data pass
    paths.zipWithIndex.foreach { case (p, i) =>
      graft.sinks.Sinks.copyParquetParts(
        fs, hconf, s"$p/postings", s"$dest/postings", "bucket=", s"s$i", move)
      graft.sinks.Sinks.copyParquetParts(
        fs, hconf, s"$p/doclen", s"$dest/doclen", "bucket=", s"s$i", move)
    }
    // terms: the one vocabulary-sized job — ONE df sum over every
    // shard's table, clustered write. (Terms tables always COPY via the
    // read-union-write: they are vocabulary-sized, and move would break
    // the shard for the non-move caller's replay anyway.) Explicit
    // termsSchema read: a shard over an all-tokenless slice has an
    // EMPTY terms table (zero part files), where inference aborts — its
    // registry rows still count toward N/avgdl, so the shard is legal.
    val bucket = pmod(xxhash64(col("term")), lit(buckets))
    paths.map(p => spark.read.schema(termsSchema).parquet(s"$p/terms")
        .select(col("term"), col("df")))
      .reduce(_.unionByName(_))
      .groupBy(col("term")).agg(sum(col("df")).as("df"))
      .withColumn("bucket", bucket)
      .repartition(col("bucket"))
      .write.mode("overwrite").partitionBy("bucket").parquet(s"$dest/terms")
    import spark.implicits._
    Seq((stats.map(_._1).sum, stats.map(_._2).sum, buckets))
      .toDF("n_docs", "total_tokens", "buckets")
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$dest/stats")
    // soft-delete overlays travel with the merge: dropping them would
    // RESURRECT tombstoned docs in the merged index (TombstoneSpec)
    mergeOverlays(spark, paths, dest)
    }
  }

  /** Union the shards' [[Tombstones]] overlays into a merged index's —
    * shared by [[bm25Merge]] and [[graft.operators.Similarity.ivfMerge]].
    */
  private[graft] def mergeOverlays(
      spark: org.apache.spark.sql.SparkSession,
      paths: Seq[String],
      dest: String): Unit = {
    val overlays = paths.flatMap(p => Tombstones.read(spark, p))
    if (overlays.nonEmpty)
      // overwrite: the registry merges write the overlay BEFORE their
      // stats commit marker, so a crash-interrupted merge re-runs
      // through this write (RegistryMergeSpec's overlay-window test)
      overlays.reduce(_.unionByName(_)).distinct()
        .coalesce(1).write.mode("overwrite").parquet(s"$dest/tombstones")
  }

  /** Targeted deletion from a persisted [[buildBm25Index]] index — the
    * governance primitive ([[graft.sinks.Sinks.deleteRows]]) propagated
    * into the DERIVED artifact: a takedown that erases a doc from the
    * corpus but leaves its postings inside a standing index has not
    * erased it (the doc still surfaces in every probe), and at 100 TB a
    * rebuild-per-takedown is exactly what the incremental index exists
    * to avoid. Work is proportional to the doomed docs' FOOTPRINT,
    * never the index:
    *
    *   1. the doomed postings project to the affected hash-bucket set
    *      (eagerly collected BEFORE any rewrite destroys the files it
    *      derives from — the df-merge precedent; bounded by the
    *      modulus);
    *   2. the terms table is RECOMPUTED for exactly those buckets from
    *      the surviving postings (a term whose last posting dies drops
    *      — probes must not join it): recompute, not decrement, so the
    *      rewrite is idempotent given the key set — the crash-window
    *      convergence below depends on it. Sequenced strictly BEFORE
    *      the postings rewrite (it reads the files that rewrite
    *      replaces);
    *   3. postings rewrite through [[graft.sinks.Sinks.deleteRows]]:
    *      only the affected buckets are rewritten, untouched buckets
    *      keep their physical files, fully-doomed buckets are removed;
    *   4. doclen — the doc registry, one narrow row per doc — rewrites
    *      filtered through a [[graft.sinks.Sinks.swapByRename]] swap
    *      (it is unpartitioned; the rewrite is O(docs), ~16 bytes each,
    *      noise next to the postings it spares), concurrent with 2+3
    *      (disjoint tables);
    *   5. stats are SELF-HEALING and written strictly AFTER every table
    *      rewrite completes — never concurrently with them: n_docs and
    *      total_tokens are recounted from the surviving doclen (the
    *      registry of record — dl covers tokenless docs too) and
    *      swap-rewritten only when the stored scalars disagree, exactly
    *      the [[DedupRegistry.delete]]/[[NearDupRegistry.delete]]
    *      discipline.
    *
    * CRASH WINDOWS (named, all converging — [[graft.Bm25DeleteCrashSpec]]
    * manufactures each): this single-writer maintenance op carries no
    * commit marker; instead re-running the SAME delete converges every
    * reachable partial-commit state. Terms-committed-only: the affected
    * set re-derives identically (postings still doomed) and the
    * recompute is idempotent. Postings+terms committed: the affected
    * set is empty, doclen still lists the keys, so only the doclen
    * rewrite and the stats heal run. Doclen-committed-only (the
    * concurrent sibling landed first): the registry no longer lists the
    * keys but the affected set is non-empty, so the terms+postings
    * chain still runs. All-rewrites-committed (stale stats): ANY later
    * delete — including one whose keys match nothing — recounts and
    * heals; [[Fsck.bm25Fsck]] detects the interim state
    * (bm25_stats_ndocs / bm25_stats_tokens). A stats-only window cannot
    * exist by construction (stats write last).
    *
    * Granularity caveat: the rewrite unit is the BUCKET — one doomed
    * posting rewrites its whole bucket — and a doc's distinct terms
    * hash-spread across buckets, so a takedown batch touches
    * ~min(buckets, Σ distinct terms) of them. Pruning therefore pays
    * off only when `buckets` well exceeds a typical takedown batch's
    * term footprint: size the modulus for the TAKEDOWN batch, not just
    * the probe (e.g. 4096 buckets prices a 100-term doc's erasure at
    * ~2.4 % of the postings where 64 buckets rewrites nearly all of
    * them), and batch takedowns so the per-bucket cost amortizes.
    *
    * After delete, [[bm25TopKIndexed]] scores the surviving corpus
    * bit-identically to an index rebuilt on it — the q155 gate pins
    * exactly that against the anti-joined oracle. Same single-writer
    * contract as deleteRows. Keys absent from the index are no-ops.
    * Returns the number of documents deleted.
    */
  def bm25Delete(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      keys: DataFrame,
      keyCol: String): Long =
    Bm25Ingest.maintain(spark, path, "bm25Delete") {
    // roll forward a crash-interrupted prior postings delete BEFORE any
    // derivation reads the table: a standing intent marker means the
    // affected buckets' originals are retired and their survivors are
    // staged-but-unlanded, so both the affected-set derivation and the
    // terms recompute below would read a postings table missing
    // committed rows
    graft.sinks.Sinks.recoverDeleteIntent(spark, s"$path/postings")
    val k = broadcast(keys.select(col(keyCol).as("id")).distinct())
    // the two read-only derivations scan disjoint tables — overlap
    // them. The affected-bucket set is modulus-bounded (a driver-safe
    // collect) and EAGER: derived from postings files the deleteRows
    // rewrite below will replace
    val affF = scala.concurrent.Future {
      spark.read.schema(postingsSchema).parquet(s"$path/postings")
        .join(k, "id")
        .select(col("bucket")).distinct()
        .collect().map(_.getLong(0)).sorted
    }(scala.concurrent.ExecutionContext.global)
    // doomed registry rows -> the deleted-doc count (one bounded row)
    val nDel = spark.read.schema(doclenSchema).parquet(s"$path/doclen")
      .join(k, "id")
      .agg(count(lit(1)).as("n"))
      .collect()(0).getLong(0)
    val affB = scala.concurrent.Await.result(
      affF, scala.concurrent.duration.Duration.Inf)
    val hconf = spark.sessionState.newHadoopConf()
    if (nDel > 0L || affB.nonEmpty) concurrently(
      // terms-then-postings chain: the terms recompute reads the
      // postings files the deleteRows rewrite replaces, so it is
      // SEQUENCED first inside one thunk; the doclen rewrite touches a
      // disjoint table and overlaps both (the ingest-apply discipline;
      // q155 is the most action-dense maintenance gate)
      () => if (affB.nonEmpty) {
        // terms: RECOMPUTE df for the affected buckets from the
        // surviving postings — idempotent given the key set (the df
        // decrement it replaces depended on pre-rewrite postings and
        // could not converge a re-run), exact because a term's postings
        // all live in its own hash bucket. The kept-buckets set rides
        // the checkpoint's observation
        val keptObs = org.apache.spark.sql.Observation()
        val newTerms = spark.read.schema(postingsSchema)
          .parquet(s"$path/postings")
          .filter(col("bucket").isin(affB: _*))
          .join(k, Seq("id"), "left_anti")
          .groupBy(col("term"), col("bucket"))
          .agg(count(lit(1)).as("df"))
          .select(col("term"), col("df"), col("bucket"))
          .repartition(col("bucket"))
          .observe(keptObs, collect_set(col("bucket")).as("bs"))
          .localCheckpoint(true)
        val keptB = scala.util.Try(keptObs.get("bs"))
          .map(_.asInstanceOf[Seq[Any]]
            .map(_.asInstanceOf[Number].longValue()))
          .getOrElse(Seq.empty).toSet
        // retire the affected buckets' current terms files first (the
        // deleteRows retention discipline): pinned readers keep them
        val termsFs = new org.apache.hadoop.fs.Path(s"$path/terms")
          .getFileSystem(hconf)
        if (StableRead.manifestManaged(
            termsFs, new org.apache.hadoop.fs.Path(path)))
          StableRead.retirePartitions(termsFs, path, "terms",
            affB.map(b => s"bucket=$b").toSeq)
        if (keptB.nonEmpty)
          newTerms.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("bucket")
            .parquet(s"$path/terms")
        affB.filterNot(keptB).foreach { b =>
          val p = new org.apache.hadoop.fs.Path(s"$path/terms/bucket=$b")
          val fs = p.getFileSystem(hconf)
          // absence is legal mid-convergence: a re-run after a partial
          // terms write finds some emptied buckets already gone
          if (fs.exists(p))
            require(fs.delete(p, true),
              s"bm25Delete: could not remove emptied terms bucket $p")
        }
        // affected-buckets hint: the set was already derived above, so
        // deleteRows skips its own keys×postings scan. INT values on
        // purpose — partition-value inference types the read-back
        // bucket column as INT, and the hint must compare equal to
        // deleteRows' own collected partition values
        graft.sinks.Sinks.deleteRows(
          spark, s"$path/postings", "bucket", "id", k, countDeleted = false,
          affectedHint = Some(affB.map(_.toInt).toSeq))
      },
      () => if (nDel > 0L) {
        // doclen: filtered registry rewrite, swap-by-rename (never
        // read-and-overwrite in one job)
        val dlCur = new org.apache.hadoop.fs.Path(s"$path/doclen")
        val dlTmp = new org.apache.hadoop.fs.Path(s"$path/doclen_delete_tmp")
        spark.read.schema(doclenSchema).parquet(dlCur.toString)
          .join(k, Seq("id"), "left_anti")
          .coalesce(spark.sparkContext.defaultParallelism)
          .write.mode("overwrite").parquet(dlTmp.toString)
        graft.sinks.Sinks.swapByRename(dlCur.getFileSystem(hconf), dlTmp, dlCur)
      })
    // stats heal LAST, never concurrent with the rewrites it observes:
    // n_docs and total_tokens recounted from the surviving doclen — the
    // registry of record (dl covers tokenless docs; sum(dl) ==
    // total_tokens is the build/append/merge invariant)
    val live = spark.read.schema(doclenSchema).parquet(s"$path/doclen")
      .agg(count(lit(1)).as("n"),
        coalesce(sum(col("dl")), lit(0L)).as("t"))
      .collect()(0)
    EstateIngest.healStats(spark, path,
      Map("n_docs" -> live.getLong(0), "total_tokens" -> live.getLong(1)))
    // a physical delete IS the compaction of any soft-delete overlay
    // covering these ids — clear them so probes return to the
    // zero-overhead path (Tombstones scaladoc)
    Tombstones.clear(spark, path, keys, keyCol)
    nDel
    }

  /** Physically apply the index's ENTIRE soft-delete overlay — the
    * vacuum step a takedown queue schedules when the overlay approaches
    * its broadcast budget ([[Tombstones]] scaladoc): one [[bm25Delete]]
    * over the overlay's ids ([[EstateIngest.vacuum]]). Returns docs
    * physically removed (0 when no overlay). Size the batch with
    * [[bm25DeleteBatchPlan]] first if the rewrite window matters.
    */
  def bm25Vacuum(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      gcKeepGenerations: Option[Int] = None): Long =
    EstateIngest.vacuum(spark, path, gcKeepGenerations)(
      bm25Delete(spark, path, _, _))

  /** Predict a takedown batch's [[bm25Delete]] footprint BEFORE
    * executing it — the costing operator a production takedown queue
    * calls to size its batches. [[bm25Delete]]'s scaladoc documents the
    * economics (the rewrite unit is the BUCKET, and a doc's distinct
    * terms hash-spread, so small batches under a small modulus rewrite
    * nearly everything); this turns that prose into a number the queue
    * can threshold: accumulate requests until `affected_fraction`
    * approaches its budget (or a deadline forces a flush), then delete
    * once — the per-bucket rewrite cost amortizes over every doc in the
    * batch.
    *
    * One row: `n_doomed_docs` (registry hits — tokenless docs included,
    * though they touch no postings bucket), `doomed_postings`,
    * `n_affected_buckets`, `n_buckets`, `affected_fraction`. The
    * affected set is derived from the SAME doomed-postings join
    * [[bm25Delete]] rewrites from, so prediction == execution footprint
    * exactly (spec-pinned against the measured per-bucket file diff of
    * a real delete). Read-only; scan cost is one column-pruned pass
    * over (id, bucket) of postings plus the registry semi-join —
    * the honest price of exactness (a Bloom-sketch estimate could
    * undercount never overcount buckets; not worth the approximation
    * for a planning read).
    */
  def bm25DeleteBatchPlan(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      keys: DataFrame,
      keyCol: String): DataFrame = {
    val k = broadcast(keys.select(col(keyCol).as("id")).distinct())
    val nBuckets = spark.read.parquet(s"$path/stats")
      .select(col("buckets")).collect()(0).getLong(0)
    // registry count rides a scalar subquery (no 1x1 join — the BNL ban)
    val nDoomed = spark.read.parquet(s"$path/doclen").join(k, "id")
      .agg(count(lit(1)).as("n")).scalar()
    spark.read.parquet(s"$path/postings")
      .select(col("id"), col("bucket"))
      .join(k, "id")
      .agg(
        count(lit(1)).as("doomed_postings"),
        count_distinct(col("bucket")).as("n_affected_buckets"))
      .select(
        nDoomed.as("n_doomed_docs"),
        col("doomed_postings"),
        col("n_affected_buckets"),
        lit(nBuckets).as("n_buckets"),
        (col("n_affected_buckets").cast("double") / lit(nBuckets.toDouble))
          .as("affected_fraction"))
  }

  /** Probe a [[buildBm25Index]] index: identical scoring (and therefore
    * an identical result relation) to [[bm25TopK]] over the indexed
    * corpus, but the corpus is never rescanned — the probe reads the
    * query terms' hash-bucket partitions only. The query-term bucket
    * set is computed driver-side from the collected query terms (the
    * query table is small by contract — same bounded-collect rationale
    * as the IVF centroid read) and lands in the scan as a partition
    * filter; the oracle-facing semantics are unchanged.
    */
  def bm25TopKIndexed(
      path: String,
      queries: DataFrame, // columns: query_id, query_text
      k: Int,
      k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    require(k > 0, s"top-k must be positive, got $k")
    require(k1 > 0.0, s"k1 must be positive, got $k1")
    require(b >= 0.0 && b <= 1.0, s"b must be in [0, 1], got $b")
    val spark = queries.sparkSession
    val qterms = queries
      .select(
        col("query_id"),
        explode(TextAnalysis.tokens(col("query_text"))).as("term"))
      .distinct()
      .transform(graft.CacheScope.persisted)
    val statsRow = StableRead.readTable(spark, path, "stats")
      .select(col("n_docs"), col("total_tokens"), col("buckets"))
      .collect()(0)
    val (nDocs, totTok, nBuckets) =
      (statsRow.getLong(0), statsRow.getLong(1), statsRow.getLong(2))
    // the probe re-derives each query term's bucket with the BUILD's
    // modulus (read from the index, never trusted to a caller argument —
    // a drifted modulus would silently probe the wrong partitions)
    val qbuckets = qterms
      .select(pmod(xxhash64(col("term")), lit(nBuckets)).as("bucket"))
      .distinct()
      .collect().map(_.getLong(0)).sorted
    // explicit schemas: a bm25Init index probes as the empty relation.
    // pin-aware reads: inside a StableRead.pinned scope these resolve
    // the pinned generation's exact files, outside they are verbatim
    // live-directory reads
    val terms = StableRead.readTable(spark, path, "terms", Some(termsSchema))
      .filter(col("bucket").isin(qbuckets: _*))
    val postings = StableRead
      .readTable(spark, path, "postings", Some(postingsSchema))
      .filter(col("bucket").isin(qbuckets: _*))
    val dl = StableRead.readTable(spark, path, "doclen", Some(doclenSchema))
    // df is MERGE-ON-READ (round 19): the terms table holds the build's
    // consolidated rows PLUS one delta row per (append batch, term) —
    // a term's df is the SUM across its rows. The aggregation is
    // bounded by the probed buckets' rows (query-terms-sized after the
    // broadcast join), the same arithmetic the federated probe already
    // runs across indexes; bm25Compact consolidates the chains back to
    // one row per term.
    val qdf = terms.join(broadcast(qterms), "term")
      .groupBy(col("query_id"), col("term"))
      .agg(sum(col("df")).as("df"))
    val (qdfF, postingsF, nF, avgF) =
      applyTombstones(spark, Seq(path), qdf, postings, dl, nDocs, totTok)
    bm25ScoreTail(qdfF, postingsF, dl, nF, avgF, k, k1, b)
  }

  /** EXACT soft-delete adjustment of a probe's score inputs under the
    * indexes' [[graft.operators.Tombstones]] overlays — what makes the
    * tombstoned probe bit-for-bit the probe of a survivors-only rebuild
    * (Lucene-style soft deletes adjust nothing until merge; BM25's
    * coupling is ONLY the global statistics, so adjusting them exactly
    * is cheap): N drops by the doomed-doc count, total tokens by their
    * doclen sum (ONE small job joining doclen to the broadcast
    * overlay), each query term's df by its doomed postings (computed
    * from the ALREADY-PRUNED postings — no extra scan), and doomed
    * postings leave via a broadcast anti-join. No overlay (the common
    * case) short-circuits on a file listing: zero added work.
    */
  private def applyTombstones(
      spark: org.apache.spark.sql.SparkSession,
      paths: Seq[String],
      qdf: DataFrame,
      postings: DataFrame,
      dl: DataFrame,
      nDocs: Long,
      totTok: Long): (DataFrame, DataFrame, Long, Double) = {
    val overlays = paths.flatMap(p => Tombstones.read(spark, p))
    if (overlays.isEmpty)
      return (qdf, postings, nDocs, totTok.toDouble / nDocs.toDouble)
    // NEVER cache the overlay read: a persisted same-path read would be
    // rewritten onto a STALE InMemoryRelation after add/clear mutate the
    // directory (Spark's cache matches file relations by path) — a probe
    // after a partial physical delete would silently adjust with the
    // pre-delete overlay. The overlay is one small file; the extra reads
    // are free. (TombstoneSpec's partial-clear sequence caught this.)
    val doomed = broadcast(
      overlays.reduce(_.unionByName(_)).distinct())
    val sc = dl.join(doomed, "id")
      .agg(count(lit(1)).as("n"), coalesce(sum(col("dl")), lit(0L)).as("t"))
      .collect()(0)
    val (nDoomed, tokDoomed) = (sc.getLong(0), sc.getLong(1))
    val doomedDf = postings.join(doomed, "id")
      .groupBy(col("term")).agg(count(lit(1)).as("__ddf"))
    val qdfEff = qdf.join(doomedDf, Seq("term"), "left")
      .select(col("query_id"), col("term"),
        (col("df") - coalesce(col("__ddf"), lit(0L))).as("df"))
      .filter(col("df") >= 1)
    val nEff = nDocs - nDoomed
    (qdfEff,
      postings.join(doomed, Seq("id"), "left_anti"),
      nEff,
      (totTok - tokDoomed).toDouble / nEff.toDouble)
  }

  /** The ONE BM25 scoring arithmetic over pre-pruned index reads —
    * shared verbatim by [[bm25TopKIndexed]] and [[bm25TopKFederated]]
    * (the drift-free-shared-body discipline: the federated probe cannot
    * diverge from the single-index probe because there is exactly one
    * idf/norm/top-k body to diverge in). `qdf` carries the per-query
    * term dfs under whatever df notion the caller owns (single index:
    * the terms table; federated: the cross-index sum).
    */
  private def bm25ScoreTail(
      qdf: DataFrame, // columns: query_id, term, df
      postings: DataFrame,
      dl: DataFrame,
      nDocs: Long,
      avgdl: Double,
      k: Int,
      k1: Double,
      b: Double): DataFrame = {
    val idf = log(
      lit(1.0) +
        (lit(nDocs.toDouble) - col("df").cast("double") + lit(0.5)) /
        (col("df").cast("double") + lit(0.5)))
    val norm = col("tf").cast("double") * lit(k1 + 1.0) /
      (col("tf").cast("double") +
        lit(k1) * (lit(1.0) - lit(b) + lit(b) * col("dl").cast("double") / lit(avgdl)))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("id"))
    postings
      .join(broadcast(qdf), "term")
      .join(dl, "id")
      .withColumn("part", idf * norm)
      .groupBy(col("query_id"), col("id"))
      .agg(sum(col("part")).as("score"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(
        col("query_id"),
        col("rnk"),
        col("id").as("doc_id"),
        round(col("score"), 4).as("score"))
  }

  /** BM25 top-k over the UNION of N persisted indexes WITHOUT merging
    * them — the main+delta serving architecture: a standing base index
    * plus the small fresh index a stream is feeding, queried as one
    * corpus. This is what lets a 100 TB index absorb ingest
    * continuously — [[bm25Merge]] runs on maintenance windows, not on
    * the query path.
    *
    * Correctness is exact, not approximate: BM25's only cross-document
    * coupling is the global statistics, so the probe sums n_docs /
    * total_tokens across indexes, sums each query term's df across the
    * indexes' (pruned) term tables, and scores the unioned postings
    * with the shared [[bm25ScoreTail]] — every row of the score input
    * is identical to what a probe of the MERGED index would read, so
    * the result is bit-for-bit the merged probe ([[FederatedProbeSpec]]
    * pins both that and the N=1 == [[bm25TopKIndexed]] identity; the
    * q173 gate pins 4 shards against the full-corpus oracle).
    *
    * Scale: per-index work is exactly a [[bm25TopKIndexed]] probe's
    * pruned reads — each index prunes by its OWN modulus (read from its
    * own stats; the indexes need not agree on buckets) — and the only
    * cross-index work is the query-terms-sized df sum. Caller
    * contract: id sets pairwise disjoint (the merge/append contract).
    */
  def bm25TopKFederated(
      spark: org.apache.spark.sql.SparkSession,
      paths: Seq[String],
      queries: DataFrame, // columns: query_id, query_text
      k: Int,
      k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    require(paths.nonEmpty, "bm25TopKFederated: need >= 1 index path")
    require(k > 0, s"top-k must be positive, got $k")
    require(k1 > 0.0, s"k1 must be positive, got $k1")
    require(b >= 0.0 && b <= 1.0, s"b must be in [0, 1], got $b")
    val qterms = queries
      .select(
        col("query_id"),
        explode(TextAnalysis.tokens(col("query_text"))).as("term"))
      .distinct()
      .transform(graft.CacheScope.persisted)
    val stats = paths.map { p =>
      val r = StableRead.readTable(spark, p, "stats")
        .select(col("n_docs"), col("total_tokens"), col("buckets"))
        .collect()(0)
      (r.getLong(0), r.getLong(1), r.getLong(2))
    }
    val nDocs = stats.map(_._1).sum
    val pruned = paths.zip(stats).map { case (p, (_, _, nBuckets)) =>
      // each index prunes with its OWN modulus, re-derived per probe
      // (read from the index, never trusted to a caller argument)
      val qbuckets = qterms
        .select(pmod(xxhash64(col("term")), lit(nBuckets)).as("bucket"))
        .distinct()
        .collect().map(_.getLong(0)).sorted
      (StableRead.readTable(spark, p, "terms", Some(termsSchema))
          .filter(col("bucket").isin(qbuckets: _*)),
        StableRead.readTable(spark, p, "postings", Some(postingsSchema))
          .filter(col("bucket").isin(qbuckets: _*)),
        StableRead.readTable(spark, p, "doclen", Some(doclenSchema)))
    }
    // the global df of a query term is the sum of its per-index dfs —
    // a query-terms-bounded aggregation, the one genuinely cross-index job
    val qdf = pruned.map(_._1).reduce(_.unionByName(_))
      .join(broadcast(qterms), "term")
      .groupBy(col("query_id"), col("term"))
      .agg(sum(col("df")).as("df"))
    val postingsU = pruned.map(_._2).reduce(_.unionByName(_))
    val dlU = pruned.map(_._3).reduce(_.unionByName(_))
    val (qdfF, postingsF, nF, avgF) =
      applyTombstones(spark, paths, qdf, postingsU, dlU, nDocs,
        stats.map(_._2).sum)
    bm25ScoreTail(qdfF, postingsF, dlU, nF, avgF, k, k1, b)
  }

  /** Reciprocal-rank fusion (RRF) of two rankings — the standard hybrid
    * sparse+dense retrieval combiner (Cormack/Clarke/Buettcher's
    * rank-based fusion): fused(q, d) = Σ_lists 1/(c + rank_list(q, d)),
    * with a document absent from a list contributing 0 from it.
    *
    * Rank-based (not score-based) fusion needs no score calibration
    * between arms — exactly why it pairs a BM25 arm with a cosine arm.
    * Each term is ONE IEEE division of exact integers and the fused
    * score is ONE ordered addition, so the whole thing replicates
    * bit-for-bit in a SQL oracle — no float-anchoring compromise.
    * Equal fused scores are real (a doc at rank r in only list A ties a
    * doc at rank r in only list B); ties break toward the smaller doc
    * id. Absent-arm ranks surface as -1 sentinels (the q118 convention)
    * so provenance is part of the gate-checked relation.
    *
    * Plan/scale: one full-outer equi-join of two (query, doc, rank)
    * frames that are already per-query-top-k-bounded — fusion input is
    * queries×k rows, never corpus-sized; the fused top-k is the same
    * WindowGroupLimit shape as the arms.
    */
  def rrfFuse(
      a: DataFrame, // columns: query_id, doc_id, rnk
      b: DataFrame,
      k: Int,
      c: Int = 60): DataFrame = {
    require(k > 0, s"top-k must be positive, got $k")
    require(c > 0, s"rrf constant must be positive, got $c")
    val fused = a
      .select(col("query_id"), col("doc_id"), col("rnk").as("rnk_a"))
      .join(
        b.select(col("query_id"), col("doc_id"), col("rnk").as("rnk_b")),
        Seq("query_id", "doc_id"),
        "full_outer")
      .withColumn(
        "rrf",
        coalesce(lit(1.0) / (lit(c) + col("rnk_a")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(c) + col("rnk_b")), lit(0.0)))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("rrf").desc, col("doc_id"))
    fused
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(
        col("query_id"),
        col("rnk"),
        col("doc_id"),
        round(col("rrf"), 6).as("rrf_score"),
        coalesce(col("rnk_a"), lit(-1)).as("rnk_sparse"),
        coalesce(col("rnk_b"), lit(-1)).as("rnk_dense"))
  }

  /** Exact phrase search over positional postings — the lexical
    * operator BM25 cannot express (BM25 is bag-of-words; "data stream"
    * and "stream data" score identically). Needed for quote detection,
    * benchmark-passage lookup, and boilerplate hunting in a curation
    * pipeline.
    *
    * Algorithm: one aggregation, not k−1 positional self-joins. Each
    * document explodes to positional postings (id, pos, term); each
    * phrase explodes to (phrase_id, idx, term) with its length. A
    * posting matching phrase term idx at position pos witnesses a
    * candidate occurrence starting at base = pos − idx, so grouping by
    * (phrase_id, id, base) and requiring count(DISTINCT idx) = phrase
    * length confirms an occurrence exactly — duplicate terms inside a
    * phrase are safe because each idx must be witnessed at its own
    * offset, and a single posting witnessing two idx values yields two
    * rows in two groups.
    *
    * Plan/scale: the phrase table is tiny and BROADCASTS into the
    * posting stream, so the equi-join on term IS the filter — only
    * postings of phrase vocabulary survive to the one shuffle (grouping
    * on (phrase, doc, base)); document text never moves, and the
    * per-phrase rollup is a second vocabulary-bounded aggregation.
    * Output per (phrase_id, id): n_occurrences and the first start
    * position — deterministic integers, exactly oracle-replicable.
    */
  def phraseSearch(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      phrases: DataFrame // columns: phrase_id, phrase_text
  ): DataFrame = {
    val postings = docs.select(
      col(idCol).as("id"),
      posexplode(TextAnalysis.tokens(col(textCol))).as(Seq("pos", "term")))
    val phraseTerms = phrases.select(
        col("phrase_id"),
        size(TextAnalysis.tokens(col("phrase_text"))).as("plen"),
        posexplode(TextAnalysis.tokens(col("phrase_text")))
          .as(Seq("idx", "term")))
    postings
      .join(broadcast(phraseTerms), "term")
      // a posting at pos < idx can only witness a negative (impossible)
      // base — drop it BEFORE the shuffle so impossible groups are never
      // aggregated; the post-agg base >= 0 filter below is then vacuous
      // but kept as the semantic statement of the occurrence rule
      .filter(col("pos") >= col("idx"))
      .groupBy(
        col("phrase_id"), col("plen"), col("id"),
        (col("pos") - col("idx")).as("base"))
      .agg(count_distinct(col("idx")).as("n_idx"))
      .filter(col("base") >= 0 && col("n_idx") === col("plen"))
      .groupBy(col("phrase_id"), col("id"))
      .agg(
        count(lit(1)).as("n_occurrences"),
        min(col("base")).as("first_pos"))
  }

  /** Inverted-index build substrate: per-term posting statistics with an
    * ORDER-INDEPENDENT posting-list checksum.
    *
    * Materializing a hot term's full posting list (sort + string_agg /
    * collect_list per term) is the classic inverted-index straggler — a
    * stopword's postings at corpus scale are one task's problem. This
    * operator pins the exact posting set without ever building the list:
    * each posting (doc, tf) hashes to a 40-bit integer (md5 prefix — the
    * engine-portable digest the sampling family already standardizes on)
    * and the checksum is their SUM — commutative and associative, so it
    * map-side combines like any hash aggregate and no ordering exists to
    * straggle on. 40 bits keeps ~2^25 postings per term inside int64
    * (2^25 · 2^40 = 2^65 would overflow — but a term with 33M postings
    * in one gate is a stopword you cap long before; at any plausible
    * per-term df the sum is exact).
    *
    * Output: the topK terms by (df DESC, term) with df, total tf, doc-id
    * range, and the checksum — TakeOrderedAndProject, no global sort.
    * Downstream index shards would partition BY TERM on exactly the
    * (id, term, tf) frame this derives from.
    */
  def postingStats(
      df: DataFrame,
      idCol: String,
      textCol: String,
      topK: Int): DataFrame = {
    require(topK > 0, s"topK must be positive, got $topK")
    val tf = df
      .select(
        col(idCol).as("id"),
        explode(TextAnalysis.tokens(col(textCol))).as("term"))
      .groupBy(col("id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val postingHash = conv(
      substring(
        md5(concat(col("id").cast("string"), lit(":"), col("tf").cast("string"))),
        1, 10),
      16, 10).cast("long")
    tf.groupBy(col("term"))
      .agg(
        count(lit(1)).as("df"),
        sum(col("tf")).as("total_tf"),
        min(col("id")).as("min_doc"),
        max(col("id")).as("max_doc"),
        sum(postingHash).as("posting_checksum"))
      .orderBy(col("df").desc, col("term"))
      .limit(topK)
  }
}
