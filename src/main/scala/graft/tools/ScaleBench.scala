package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale-evidence harness for the heavy curation operators (SURVEY §8):
  * replicates the sf0.1 documents table Nx and measures how candidate
  * volume and wall time grow for q24 (MinHash LSH), q26 (PPJoin),
  * q52 (composed pipeline) and q53 (dedup clustering).
  *
  * Corpus construction: replica r shifts doc_id by r*1e9 and suffixes
  * every word with "_r" (replica 0 keeps the original text). Replica
  * vocabularies are therefore DISJOINT: within-replica similarity
  * statistics are identical to the base corpus and cross-replica
  * similarity is exactly zero, so the TRUE pair/candidate volume grows
  * exactly linearly in N. What the measurement then shows is whether the
  * OPERATORS' work also grows ~linearly — i.e. the blocking/banding
  * introduces no cross-replica candidates (selectivity holds under 10x
  * vocabulary growth) and the shuffles scale with data, not with data².
  *
  * Also proves the distributed contraction path (driverCutoff = 0)
  * converges within 4 rounds on the 10x pair graph — the convergence
  * claim in Dedup.connectedComponents' scaladoc, demonstrated rather
  * than asserted.
  *
  * Run: sbt "runMain graft.tools.ScaleBench [replication]"
  * Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1), SPARK_GRAFT_CPUS.
  * Writes the scaled corpus under target/scale<N>x/ (repo-local scratch).
  */
object ScaleBench {
  def main(args: Array[String]): Unit = {
    val n = if (args.nonEmpty) args(0).toInt else 10
    // optional 2nd arg: comma-separated query names — re-measure a subset
    // (e.g. after a contended window) without paying the full sweep
    val onlyQ = if (args.length > 1) args(1).split(",").toSet else Set.empty[String]
    val baseDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = graft.Tables.localSession("graft-scalebench", cpus)
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000).selectExpr("sum(id)").collect()

    val scaledDir = s"target/scale${n}x"
    val docs = graft.Tables.load(spark, baseDir, "documents")
    // a contraction_rep-only run needs no scaled TEXT corpus (it
    // replicates the base pair graph directly) — at n=100 the unused
    // corpus build would dominate the focused run's wall time
    val needCorpus = onlyQ.isEmpty || onlyQ.exists(_.startsWith("q"))
    if (needCorpus) {
      val replicas = (0 until n).map { r =>
        val shifted = docs.withColumn("doc_id", col("doc_id") + lit(r * 1000000000L))
        if (r == 0) shifted
        else shifted.withColumn("text",
          concat_ws(" ", transform(split(col("text"), "\\s+"),
            w => concat(w, lit(s"_$r")))))
      }
      replicas.reduce(_.union(_))
        .repartition(cpus)
        .write.mode("overwrite").parquet(s"$scaledDir/documents.parquet")
      val nScaled = graft.Tables.load(spark, scaledDir, "documents").count()
      println(s"[scale] corpus: base=$baseDir scaled=$scaledDir rows=$nScaled (${n}x)")
    }

    def timed(body: => Long): (Double, Long) = {
      val t0 = System.nanoTime()
      val rows = body
      ((System.nanoTime() - t0) / 1e9, rows)
    }
    // best-of-2 warm: the comparison is throughput scaling, not plan
    // compilation (which is identical for both corpus sizes)
    def bench(name: String, dir: String): (Double, Long) = {
      val fn = graft.SparkEntry.queries(name)
      val runs = (1 to 2).map { _ =>
        val r = timed(fn(spark, dir).count())
        spark.sharedState.cacheManager.clearCache()
        r
      }
      runs.minBy(_._1)
    }

    // q58/q65/q69 joined the list in round 5: the inverted-index passage
    // join, the shard-parallel permutation window, and the chunk-digest
    // survivor window are each a different shuffle shape; disjoint
    // replica vocabularies mean true match volume for q58/q69 grows
    // ~linearly. (q58 lands ~1% under exact 10x: its stop-fingerprint
    // cap is corpus-GLOBAL by design, and mod-2^31 fingerprint collisions
    // across replica vocabularies can push a fingerprint's document
    // frequency over the cap, retiring it from every replica — the
    // boilerplate-suppression semantics working as specified.)
    // q82/q84/q85/q87 joined in the round-5 continuation: the CMS build
    // (fixed-size sketch absorbing a 10x stream), the bigram LM (bigram
    // join volume grows linearly under disjoint vocabularies), the
    // budget cut (FIXED 50k-token budget — output stays constant while
    // the scanned corpus grows 10x, so time growth isolates the scan
    // path), and the markup strip (pure map — the linear floor).
    // q94/q98 joined in round 6: the line-digest and positional-gram
    // frequency passes (frequency agg on digests -> heavy-hitter join
    // -> indexed-lambda rewrite). Their planted boilerplate is a query
    // literal on doc_id strides, so plant volume and cut volume both
    // grow exactly with the replica count.
    // q102/q104 joined in round 6: the symmetric-delete variant explosion
    // + hash self-join (variant keys grow linearly; replica-shifted group
    // labels keep cross-replica titles far apart, so true pair volume is
    // ~linear), and the link-graph diffusion (the host graph is CONSTANT
    //-sized at any corpus scale — time growth isolates the extraction
    // scan, which is the 100 TB story for graph ops: edges aggregate to
    // host-pair cardinality before any iteration touches them).
    // q127/q129 joined in round 9: BM25's fixed base-vocab queries never
    // match replica vocabularies, so the surviving posting set after the
    // broadcast query-term join is CONSTANT while tf/df/N grow 10x —
    // time growth isolates the tokenize+tf scan, and output stays 50
    // rows (the retrieval-at-scale property: work follows the query's
    // postings, not the corpus). q129's vocabulary grows 10x (disjoint
    // suffixes): the posting-stats aggregation is the vocabulary-sized
    // shuffle scaling linearly, output pinned at top-100.
    // q135/q136/q138/q139/q140 joined in the round-9 continuation:
    // q135's fixed base-vocab phrases never match replica suffixes, so
    // surviving postings are CONSTANT under the broadcast term join
    // while the posexplode scan grows 10x (the q127 retrieval-at-scale
    // story for the positional index). q136's n-gram count tables and
    // held-out trigram joins grow linearly under disjoint vocabularies.
    // q138's planted quoted-needle pairs ride doc_id strides that
    // replica id-shifts (multiples of 1e9) preserve, so true
    // containment volume grows exactly linearly and disjoint replica
    // vocabularies forbid cross-replica candidates. q139 is the pure
    // map + digest-agg floor (suffixed tokens give each replica its own
    // digest space). q140 runs 4 rounds of vocabulary-sized pair aggs
    // over the 10x corpus; replica-suffixed pairs tie at base counts and
    // the lexicographic election stays deterministic, output pinned at
    // 4 rows.
    // q134/q143 joined in round 10 (the persisted-index tier): each run
    // REBUILDS its index from the scaled corpus, so the measurement is
    // index-build+probe cost vs corpus size — the build is the linear
    // tokenize/tf path plus bucket-clustered writes, and the probe's
    // work follows the query's buckets (constant output). q143
    // additionally measures the append path: the appended batch is 1/3
    // of the corpus, so "work follows the batch" predicts time growth
    // tracking the corpus decade, never exceeding it.
    // q144/q146 joined in round 10: the NB language-ID's training side is
    // seed-bounded (doc_id < 200 regardless of corpus size) so its
    // vocabulary, weight table, and broadcast stay CONSTANT while the
    // scored gram stream grows linearly — time growth isolates the
    // gram-explode scan + the docs x classes aggregation. q146's encode
    // is a pure map over the corpus (training collects are
    // vocabulary-sized), the q87-style linear floor with 4 chained folds.
    // q145/q155/q158 joined in round 11 (the index-MAINTENANCE tier):
    // each gate copies its memoized setup state (built fresh for the
    // scaled dir — the per-dir memo key) and pays only its maintenance
    // operator. q145's compact rewrites the whole index clustered, so
    // its time should track the corpus decade; q155's doomed set is
    // every 5th doc of the SCALED corpus (1e9 id-shifts preserve the
    // mod-5 stride) with replica-suffixed vocabularies pushing the
    // bucket footprint toward all 64 buckets — deletion work tracks the
    // affected-bucket mass, here ~the corpus; q158's merge is the
    // file-level union + the vocabulary-sized df job (vocabulary grows
    // linearly under disjoint suffixes), so its time should grow well
    // UNDER the corpus decade — the near-free-merge claim measured.
    val queries = Seq("q24_minhash_lsh", "q26_jaccard_pairs",
      "q52_train_pipeline", "q53_dedup_clusters", "q58_passage_matches",
      "q65_corpus_shuffle", "q69_chunk_dedup", "q82_cms_heavy_sound",
      "q84_bigram_logprob", "q85_token_budget", "q87_strip_markup",
      "q94_line_dedup", "q98_span_dedup", "q102_edit_dedup",
      "q104_host_pagerank", "q127_bm25", "q129_postings",
      "q134_bm25_index_parity", "q135_phrase_search", "q136_backoff_lm",
      "q138_containment", "q139_cdc_chunks", "q140_bpe_merges",
      "q143_bm25_append", "q144_lang_id", "q146_bpe_encode",
      "q145_bm25_compact", "q155_bm25_delete", "q158_bm25_merge")
    println(f"[scale] ${"query"}%-20s ${"base_s"}%8s ${"base_rows"}%10s ${s"${n}x_s"}%8s ${s"${n}x_rows"}%10s ${"time_ratio"}%10s")
    queries.filter(q => onlyQ.isEmpty || onlyQ.contains(q)).foreach { q =>
      val (bt, br) = bench(q, baseDir)
      val (st, sr) = bench(q, scaledDir)
      println(f"[scale] $q%-20s $bt%8.2f $br%10d $st%8.2f $sr%10d ${st / bt}%10.1f")
    }

    // contraction-path convergence on an n-x REPLICATED pair graph:
    // the base corpus's true pair set (computed once by PPJoin at base
    // scale) replicated with disjoint id ranges, so the contraction loop
    // is measured in isolation — at 100x the PPJoin itself would dominate
    // the wall time and hide the loop's scaling. The replicated graph has
    // exactly n-x the edges and n-x the components of the base graph with
    // identical per-component structure; convergence rounds are invariant
    // by construction, so time growth isolates the per-round shuffle cost
    // on n-x edge volume. Trigger with pseudo-query "contraction_rep".
    if (onlyQ.contains("contraction_rep")) {
      // materialize the base pair set ONCE before replicating: the n-way
      // union of un-persisted projections would re-run the PPJoin's
      // upper plan stages once per replica inside the single write job
      val basePairDir = s"$scaledDir/pairs_base.parquet"
      graft.operators.Dedup.jaccardPairs(
          docs, "doc_id", "text", Seq("lang"), 1, 0.95)
        .select(col("id_a"), col("id_b"))
        .write.mode("overwrite").parquet(basePairDir)
      val basePairs = spark.read.parquet(basePairDir)
      val pairDir = s"$scaledDir/pairs.parquet"
      (0 until n).map { r =>
        basePairs.select(
          (col("id_a") + lit(r * 1000000000L)).as("id_a"),
          (col("id_b") + lit(r * 1000000000L)).as("id_b"))
      }.reduce(_.union(_))
        .repartition(cpus)
        .write.mode("overwrite").parquet(pairDir)
      val scaledPairs = spark.read.parquet(pairDir)
      val nEdges = scaledPairs.count()
      val (ccTime, ccRows) = timed {
        graft.operators.Dedup.connectedComponents(
          scaledPairs, "id_a", "id_b", maxIter = 6, driverCutoff = 0L).count()
      }
      spark.sharedState.cacheManager.clearCache()
      println(f"[scale] contraction_rep(driverCutoff=0, maxIter=6) on ${n}x " +
        f"replicated pair graph: $nEdges%d edges -> $ccRows%d labeled nodes " +
        f"in $ccTime%.2f s")
    }

    // contraction-path convergence on the 10x pair graph: driverCutoff=0
    // forces the distributed min-star contraction loop; maxIter=4 makes
    // "converges in <= 4 rounds" a hard assertion (require fails otherwise)
    if (onlyQ.isEmpty) {
      val scaledDocs = graft.Tables.load(spark, scaledDir, "documents")
      val pairs = graft.operators.Dedup.jaccardPairs(
        scaledDocs, "doc_id", "text", Seq("lang"), 1, 0.95)
      val (ccTime, ccRows) = timed {
        graft.operators.Dedup.connectedComponents(
          pairs, "id_a", "id_b", maxIter = 4, driverCutoff = 0L).count()
      }
      spark.sharedState.cacheManager.clearCache()
      println(f"[scale] contraction(driverCutoff=0, maxIter=4) on ${n}x: " +
        f"$ccRows%d labeled nodes in $ccTime%.2f s — converged within 4 rounds")
    }
    spark.stop()
  }
}
