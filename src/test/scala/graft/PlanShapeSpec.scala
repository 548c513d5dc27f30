package graft

/** Plan-shape regression gate: a change that silently re-plans a production
  * query into a scale-killer (cartesian product / broadcast nested loop) or
  * drops an expected physical optimization (broadcast join, top-k pushdown)
  * must fail a spec, not wait for a slow bench to notice. Plans are built at
  * sf0.001 — physical operator CHOICE is what's pinned, not timings.
  *
  * The only sanctioned nested-loop is q39_simhash_complete's brute-force
  * Hamming side: it is a diagnostic gate query (completeness check vs the
  * blocked plan), deliberately O(N²), never library surface — pinned here to
  * exactly one BNL occurrence so an accidental second one still fails.
  */
class PlanShapeSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  private def planOf(name: String): String =
    SparkEntry.queries(name)(spark, sfDir).queryExecution.executedPlan.toString

  private def occurrences(plan: String, op: String): Int =
    op.r.findAllIn(plan).length

  // Queries whose construction is lazy enough to plan cheaply and whose
  // plans must stay free of cartesian/BNL joins. (q39 is handled separately;
  // q40/q41 check ANN soundness by joining hits back to their own vectors —
  // equi-joins throughout, so they are pinned here like production plans.)
  private val productionQueries = Seq(
    "q04_topk", "q05_broadcast_join", "q06_join_agg", "q07_semi_join",
    "q08_anti_join", "q24_minhash_lsh", "q26_jaccard_pairs", "q31_asof",
    "q36_emb_neardup", "q40_ann_lsh_sound", "q41_ann_ivf_sound",
    "q44_range_join", "q46_tfidf",
    "q48_repetition", "q49_heavy_ngrams", "q50_decontam",
    "q51_seq_packing", "q52_train_pipeline", "q53_dedup_clusters",
    "q56_winnow_fingerprints", "q57_chunking", "q58_passage_matches",
    "q61_quality_cut", "q62_exact_k_sample", "q63_normalized_dedup",
    "q64_pii", "q65_corpus_shuffle", "q66_temperature_mix",
    "q67_contam_overlap", "q68_token_hist", "q69_chunk_dedup",
    "q70_sanitize", "q71_blockwords", "q72_char_entropy",
    "q73_binary_meta", "q74_unigram_logprob", "q75_url_domains",
    "q76_weighted_sample", "q77_corpus_profile", "q78_zorder",
    "q79_jsonl", "q80_ohlc_bars", "q81_corpus_diff", "q83_nfc_normalize",
    "q84_bigram_logprob", "q85_token_budget", "q87_strip_markup",
    "q88_sim_decontam", "q89_gap_stats", "q90_char_classes",
    "q91_ref_passages", "q93_emb_decontam",
    "q94_line_dedup", "q95_url_canonical", "q96_leakage_split",
    "q97_filetype_sniff", "q98_span_dedup", "q99_embed_quant",
    // q101 is exempt like q27/q38-q41: its stage 1 deliberately scores
    // every (query, corpus-vector) pair — a broadcast product over the
    // 5-vector query set is THE intended plan for a brute-force scan
    "q100_span_dedup_fast", "q102_edit_dedup",
    "q103_host_authority", "q104_host_pagerank", "q105_vocab_drift",
    "q106_length_buckets", "q107_best_survivor", "q108_token_mix",
    "q109_pack_texts", "q110_incremental_dedup", "q113_readability",
    "q114_epoch_mix", "q115_char_pairs", "q121_domain_cap",
    // q130 is exempt like q27/q101: its dense arm is deliberately a
    // broadcast brute-force scan over the 5-query set
    "q127_bm25", "q128_nb_quality", "q129_postings",
    "q135_phrase_search", "q136_backoff_lm", "q137_emb_outliers",
    "q138_containment", "q139_cdc_chunks", "q141_salted_agg",
    // q147 is exempt like q27/q101: its scoring arm is deliberately a
    // broadcast brute-force product over the source side
    "q142_frame_sample", "q144_lang_id", "q146_bpe_encode")

  test("q144 language-ID: seed-bounded weight table broadcasts into the gram stream") {
    val plan = planOf("q144_lang_id")
    spark.sharedState.cacheManager.clearCache()
    assert(plan.contains("BroadcastHashJoin"),
      "the scoring join regressed to a shuffle join:\n" + plan)
  }

  test("q127 BM25: query terms broadcast, per-query cut prunes map-side") {
    val plan = planOf("q127_bm25")
    spark.sharedState.cacheManager.clearCache()
    assert("WindowGroupLimit".r.findAllIn(plan).length >= 2,
      "expected partial + final WindowGroupLimit:\n" + plan)
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("no production plan contains a cartesian product or nested-loop join") {
    val offenders = productionQueries.flatMap { name =>
      val plan = planOf(name)
      val bad =
        (if (plan.contains("CartesianProduct")) Seq("CartesianProduct") else Nil) ++
          (if (plan.contains("BroadcastNestedLoopJoin")) Seq("BroadcastNestedLoopJoin") else Nil)
      if (bad.isEmpty) Nil else Seq(s"$name: ${bad.mkString(", ")}")
    }
    spark.sharedState.cacheManager.clearCache()
    assert(offenders.isEmpty, offenders.mkString("; "))
  }

  test("q39's deliberate brute-force side is exactly one nested-loop join") {
    val plan = planOf("q39_simhash_complete")
    spark.sharedState.cacheManager.clearCache()
    assert(!plan.contains("CartesianProduct"), plan)
    assert(occurrences(plan, "BroadcastNestedLoopJoin") == 1,
      s"expected exactly 1 BNL (the documented diagnostic), got " +
        s"${occurrences(plan, "BroadcastNestedLoopJoin")}")
  }

  test("q05 dimension chain stays a broadcast hash join") {
    val plan = planOf("q05_broadcast_join")
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"),
      "dimension join regressed to a shuffle join:\n" + plan)
  }

  test("q04 top-k plans as TakeOrderedAndProject, not global sort") {
    val plan = planOf("q04_topk")
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("q49 global top-k boilerplate plans as TakeOrderedAndProject") {
    val plan = planOf("q49_heavy_ngrams")
    assert(plan.contains("TakeOrderedAndProject"),
      "heavy-ngram top-k regressed to a global sort:\n" + plan)
  }

  test("q76 weighted-sample top-k plans as TakeOrderedAndProject") {
    val plan = planOf("q76_weighted_sample")
    spark.sharedState.cacheManager.clearCache()
    assert(plan.contains("TakeOrderedAndProject"),
      "weighted-sample top-k regressed to a global sort:\n" + plan)
  }

  test("q46 tf-idf top-k prunes before the exchange via WindowGroupLimit") {
    val plan = planOf("q46_tfidf")
    spark.sharedState.cacheManager.clearCache()
    assert(plan.contains("WindowGroupLimit"), plan)
  }

  test("q121 domain cap prunes map-side via WindowGroupLimit") {
    // the property that makes an absolute per-domain cap safe at 100 TB:
    // a hot domain ships `cap` rows per input partition, not its whole
    // slice — the partial WindowGroupLimit must sit below the exchange
    val plan = planOf("q121_domain_cap")
    spark.sharedState.cacheManager.clearCache()
    assert(plan.contains("WindowGroupLimit"), plan)
    assert("WindowGroupLimit".r.findAllIn(plan).length >= 2,
      "expected partial + final WindowGroupLimit:\n" + plan)
  }

  test("q122 hard negatives: band filter below the ranking window, " +
      "WindowGroupLimit prunes") {
    // the band + label predicates must cut candidates BEFORE the per-query
    // ranking exchange, and rank<=k must plan as WindowGroupLimit — a hot
    // query ships at most k in-band rows per input partition
    val plan = planOf("q122_hard_negatives")
    spark.sharedState.cacheManager.clearCache()
    assert(plan.contains("WindowGroupLimit"), plan)
    // the scalar band predicate appears as a Filter, not post-window
    assert(plan.contains("Filter"), plan)
  }

  test("q135 phrase search: phrase terms broadcast, text stays out of exchanges") {
    // the equi-join on term IS the filter — only phrase-vocabulary
    // postings survive to the (phrase, doc, base) shuffle. The phrase
    // table must broadcast and document text must never reach an
    // exchange (postings are (id, pos, term) triples).
    val plan = planOf("q135_phrase_search")
    spark.sharedState.cacheManager.clearCache()
    assert(plan.contains("BroadcastHashJoin"), plan)
    val exchanges = plan.split("Exchange").drop(1)
    assert(!exchanges.exists(_.takeWhile(_ != '\n').contains("text#")),
      "an exchange carries raw document text:\n" + plan)
  }

  test("q137 centroid outliers: per-group top-k prunes via WindowGroupLimit, " +
      "vectors stay out of exchanges") {
    val plan = planOf("q137_emb_outliers")
    spark.sharedState.cacheManager.clearCache()
    assert(plan.contains("WindowGroupLimit"), plan)
    // embeddings explode to (grp, id, dim, x) BEFORE any exchange; the
    // array itself must never be a shuffle column
    val exchanges = plan.split("Exchange").drop(1)
    assert(!exchanges.exists(_.takeWhile(_ != '\n').contains("embedding#")),
      "an exchange carries embedding arrays:\n" + plan)
  }

  test("q139 cdc chunks: chunk text never reaches an exchange") {
    // chunking is map-side; everything downstream (lang join, digest
    // dedup profile) rides (id, digest, n_tokens) — at scale the lang
    // join shuffles both sides, so text there would be corpus-sized
    val plan = planOf("q139_cdc_chunks")
    spark.sharedState.cacheManager.clearCache()
    val exchanges = plan.split("Exchange").drop(1)
    assert(exchanges.nonEmpty, plan)
    assert(!exchanges.exists { e =>
      val head = e.takeWhile(_ != '\n')
      head.contains("text#") || head.contains("chunk_text#")
    }, "an exchange carries chunk/document text:\n" + plan)
  }

  test("q26 PPJoin verifies with codegen'd merge, shuffles hashed tokens only") {
    val plan = planOf("q26_jaccard_pairs")
    spark.sharedState.cacheManager.clearCache()
    // every join must be a hash/merge EQUI-join (at sf0.001 the optimizer
    // legitimately broadcasts the small sides; at scale the same logical
    // plan shuffles — either way, never a nested loop, which the shared
    // no-BNL test above already pins)
    assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin")
      || plan.contains("BroadcastHashJoin"), plan)
    // raw document text must never reach an exchange: every Exchange block
    // should carry hashed/derived columns, not the `text` column itself
    val exchanges = plan.split("Exchange").drop(1)
    assert(!exchanges.exists(_.takeWhile(_ != '\n').contains("text#")),
      "an exchange carries raw document text:\n" + plan)
  }

  test("index build/append/compact WRITE-path plans stay cartesian/BNL-free " +
      "(BM25 + IVF)") {
    // the no-BNL invariant above only sees returned DataFrames; the
    // index builders write internally, so their plans are captured via a
    // QueryExecutionListener across every action the two calls run
    // (writes, the stats collect, the df-merge localCheckpoint)
    import org.apache.spark.sql.execution.QueryExecution
    val captured = scala.collection.mutable.ArrayBuffer.empty[String]
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        captured.synchronized { captured += s"[$f] ${qe.executedPlan}" }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val path =
      java.nio.file.Files.createTempDirectory("graft-bm25-planshape").toString
    try {
      val docs = Tables.load(spark, sfDir, "documents")
      val emb = Tables.load(spark, sfDir, "embeddings")
      val ivfPath =
        java.nio.file.Files.createTempDirectory("graft-ivf-planshape").toString
      CacheScope.scoped {
        operators.Retrieval.buildBm25Index(
          docs.filter(org.apache.spark.sql.functions.col("doc_id") % 3 =!= 0),
          "doc_id", "text", path, buckets = 8)
        operators.Retrieval.bm25Append(
          path,
          docs.filter(org.apache.spark.sql.functions.col("doc_id") % 3 === 0),
          "doc_id", "text")
        operators.Retrieval.bm25Compact(spark, path)
        operators.Similarity.buildIvfIndex(
          emb.filter(org.apache.spark.sql.functions.col("vec_id") % 3 =!= 0),
          "vec_id", "embedding", nlist = 8, ivfPath)
        operators.Similarity.ivfAppend(
          ivfPath,
          emb.filter(org.apache.spark.sql.functions.col("vec_id") % 3 === 0),
          "vec_id", "embedding")
        operators.Similarity.ivfCompact(spark, ivfPath)
        // the round-11 maintenance operators: targeted deletion on both
        // indexes, the quantized build/append, and the merge's one df job
        operators.Retrieval.bm25Delete(spark, path,
          docs.filter(org.apache.spark.sql.functions.col("doc_id") % 5 === 0)
            .select(org.apache.spark.sql.functions.col("doc_id")), "doc_id")
        operators.Similarity.ivfDelete(spark, ivfPath,
          emb.filter(org.apache.spark.sql.functions.col("vec_id") % 5 === 0)
            .select(org.apache.spark.sql.functions.col("vec_id")), "vec_id")
        val qPath = java.nio.file.Files
          .createTempDirectory("graft-ivfq-planshape").toString
        operators.Similarity.buildIvfIndex(
          emb.filter(org.apache.spark.sql.functions.col("vec_id") % 3 =!= 0),
          "vec_id", "embedding", nlist = 8, qPath, quantized = true)
        operators.Similarity.ivfAppend(
          qPath,
          emb.filter(org.apache.spark.sql.functions.col("vec_id") % 3 === 0),
          "vec_id", "embedding", quantized = true)
        val pathB = java.nio.file.Files
          .createTempDirectory("graft-bm25-planshape-b").toString
        operators.Retrieval.buildBm25Index(
          docs.filter(org.apache.spark.sql.functions.col("doc_id") % 7 === 0)
            .select(
              (org.apache.spark.sql.functions.col("doc_id") +
                org.apache.spark.sql.functions.lit(1000000000L)).as("doc_id"),
              org.apache.spark.sql.functions.col("text")),
          "doc_id", "text", pathB, buckets = 8)
        operators.Retrieval.bm25Merge(spark, path, pathB,
          java.nio.file.Files
            .createTempDirectory("graft-bm25-planshape-m").toString + "/m")
        // the round-12 streaming-ingest applies (tagged increments +
        // table swaps) run their write plans through the same listener
        operators.Retrieval.bm25IngestBatch(path,
          docs.filter(org.apache.spark.sql.functions.col("doc_id") % 7 === 1)
            .select(
              (org.apache.spark.sql.functions.col("doc_id") +
                org.apache.spark.sql.functions.lit(2000000000L)).as("doc_id"),
              org.apache.spark.sql.functions.col("text")),
          "doc_id", "text", 0L)
        operators.Similarity.ivfIngestBatch(ivfPath,
          emb.filter(org.apache.spark.sql.functions.col("vec_id") % 7 === 1)
            .select(
              (org.apache.spark.sql.functions.col("vec_id") +
                org.apache.spark.sql.functions.lit(2000000000L)).as("vec_id"),
              org.apache.spark.sql.functions.col("embedding")),
          "vec_id", "embedding", 0L)
        // the corpus-registry ingest (membership anti-join + staged
        // writes + stats swap) and the cell-split rebalance (local
        // 2-means + reassignment writes + centroid swap)
        val regPath = java.nio.file.Files
          .createTempDirectory("graft-reg-planshape").toString + "/reg"
        operators.DedupRegistry.init(spark, regPath, buckets = 8)
        operators.DedupRegistry.ingestBatch(regPath,
          docs.filter(org.apache.spark.sql.functions.col("doc_id") % 3 =!= 0),
          "doc_id", "text", 0L)
        operators.DedupRegistry.ingestBatch(regPath,
          docs, "doc_id", "text", 1L) // dup-bearing batch: real drops
        operators.Similarity.ivfSplitCells(spark, ivfPath, maxCellRows = 30)
        // the NEAR-dup registry ingest: LSH candidate joins, hashed-set
        // verification fetches, and the two staged partitioned writes
        val ndPath = java.nio.file.Files
          .createTempDirectory("graft-ndreg-planshape").toString + "/reg"
        operators.NearDupRegistry.init(spark, ndPath, buckets = 8)
        operators.NearDupRegistry.ingestBatch(ndPath,
          docs.filter(org.apache.spark.sql.functions.col("doc_id") % 3 =!= 0),
          "doc_id", "text", 0L)
        operators.NearDupRegistry.ingestBatch(ndPath,
          docs, "doc_id", "text", 1L)
        // the registry merges (cross-shard tiebreak/resolution writes)
        // and the federated probes (union scoring bodies)
        val regB = java.nio.file.Files
          .createTempDirectory("graft-reg-planshape-b").toString + "/reg"
        operators.DedupRegistry.init(spark, regB, buckets = 8)
        operators.DedupRegistry.ingestBatch(regB,
          docs.select(
            (org.apache.spark.sql.functions.col("doc_id") +
              org.apache.spark.sql.functions.lit(3000000000L)).as("doc_id"),
            org.apache.spark.sql.functions.col("text")),
          "doc_id", "text", 0L)
        operators.DedupRegistry.merge(spark, Seq(regPath, regB),
          java.nio.file.Files
            .createTempDirectory("graft-reg-planshape-m").toString + "/m")
        val ndB = java.nio.file.Files
          .createTempDirectory("graft-ndreg-planshape-b").toString + "/reg"
        operators.NearDupRegistry.init(spark, ndB, buckets = 8)
        operators.NearDupRegistry.ingestBatch(ndB,
          docs.select(
            (org.apache.spark.sql.functions.col("doc_id") +
              org.apache.spark.sql.functions.lit(3000000000L)).as("doc_id"),
            org.apache.spark.sql.functions.col("text")),
          "doc_id", "text", 0L)
        operators.NearDupRegistry.merge(spark, Seq(ndPath, ndB),
          java.nio.file.Files
            .createTempDirectory("graft-ndreg-planshape-m").toString + "/m")
        operators.Retrieval.bm25TopKFederated(spark, Seq(path, pathB),
          spark.createDataFrame(Seq((1L, "spark data"))).toDF("query_id", "query_text"),
          k = 5).collect()
        operators.Similarity.ivfTopKFederated(Seq(ivfPath),
          emb.filter(org.apache.spark.sql.functions.col("vec_id") < 3),
          "vec_id", "embedding", k = 5).collect()
        // soft-delete overlay: the add rewrite + the adjusted probes
        operators.Tombstones.add(spark, path,
          docs.filter(org.apache.spark.sql.functions.col("doc_id") % 11 === 0)
            .select(org.apache.spark.sql.functions.col("doc_id")), "doc_id")
        operators.Tombstones.add(spark, ivfPath,
          emb.filter(org.apache.spark.sql.functions.col("vec_id") % 11 === 0)
            .select(org.apache.spark.sql.functions.col("vec_id")), "vec_id")
        operators.Retrieval.bm25TopKIndexed(path,
          spark.createDataFrame(Seq((1L, "spark data"))).toDF("query_id", "query_text"),
          k = 5).collect()
        operators.Similarity.ivfTopKIndexed(ivfPath,
          emb.filter(org.apache.spark.sql.functions.col("vec_id") < 3),
          "vec_id", "embedding", k = 5).collect()
        // round 13: registry tombstones (overlay-filtered membership /
        // candidate joins on the ingest path), registry vacuum (the
        // delete rewrite + self-healing stats recount), the vacuums,
        // and the cross-artifact fsck's re-derivation joins
        operators.Tombstones.add(spark, regPath,
          docs.filter(org.apache.spark.sql.functions.col("doc_id") % 13 === 0)
            .select(org.apache.spark.sql.functions.col("doc_id")), "doc_id")
        operators.DedupRegistry.ingestBatch(regPath,
          docs.filter(org.apache.spark.sql.functions.col("doc_id") % 7 === 0)
            .select(
              (org.apache.spark.sql.functions.col("doc_id") +
                org.apache.spark.sql.functions.lit(5000000000L)).as("doc_id"),
              org.apache.spark.sql.functions.col("text")),
          "doc_id", "text", 2L)
        operators.DedupRegistry.vacuum(spark, regPath)
        operators.Tombstones.add(spark, ndPath,
          docs.filter(org.apache.spark.sql.functions.col("doc_id") % 13 === 0)
            .select(org.apache.spark.sql.functions.col("doc_id")), "doc_id")
        operators.NearDupRegistry.ingestBatch(ndPath,
          docs.filter(org.apache.spark.sql.functions.col("doc_id") % 7 === 0)
            .select(
              (org.apache.spark.sql.functions.col("doc_id") +
                org.apache.spark.sql.functions.lit(5000000000L)).as("doc_id"),
              org.apache.spark.sql.functions.col("text")),
          "doc_id", "text", 2L)
        operators.NearDupRegistry.vacuum(spark, ndPath)
        operators.Retrieval.bm25Vacuum(spark, path)
        operators.Similarity.ivfVacuum(spark, ivfPath)
        val compRoot = java.nio.file.Files
          .createTempDirectory("graft-comp-planshape").toString
        operators.DedupRegistry.init(spark, s"$compRoot/reg", buckets = 8)
        operators.Retrieval.bm25Init(spark, s"$compRoot/idx", buckets = 8)
        operators.DedupRegistry.dedupIndexStreamSink(
          s"$compRoot/reg", s"$compRoot/idx", "doc_id", "text")(
          docs.limit(40), 0L)
        operators.Fsck.composedFsck(
          spark, s"$compRoot/reg", s"$compRoot/idx").collect()
        // round 15: the quantizer refresh (retrain + reassignment +
        // swaps) and the incremental audits' pruned/delta join plans
        operators.Similarity.ivfRequantize(spark, ivfPath, nlist = 8)
        operators.Fsck.bm25Fsck(spark, path, Some(-1L)).collect()
        operators.Fsck.registryFsck(spark, regPath, Some(-1L)).collect()
        operators.Fsck.nearDupRegistryFsck(spark, ndPath, Some(-1L))
          .collect()
        operators.Fsck.composedFsck(
          spark, s"$compRoot/reg", s"$compRoot/idx", Some(-1L)).collect()
      }
      // listener delivery is async on the bus — wait for it to drain
      val deadline = System.nanoTime() + 15L * 1000 * 1000 * 1000
      var last = -1
      var cur = captured.synchronized(captured.size)
      while (System.nanoTime() < deadline && (cur != last || cur < 7)) {
        Thread.sleep(200)
        last = cur
        cur = captured.synchronized(captured.size)
      }
    } finally spark.listenerManager.unregister(listener)
    val plans = captured.synchronized(captured.toList)
    // bm25 build (4 writes) + append (4 writes + collects + checkpoint) +
    // compact (2 rewrites), ivf build/append/compact, both deletes, the
    // quantized build/append, the shard build + merge — at least 20 actions
    assert(plans.size >= 20, s"captured only ${plans.size} write-path plans")
    val offenders = plans.filter(p =>
      p.contains("CartesianProduct") || p.contains("BroadcastNestedLoopJoin"))
    assert(offenders.isEmpty,
      "index write path planned a cartesian/BNL join:\n" +
        offenders.mkString("\n----\n"))
  }
}
