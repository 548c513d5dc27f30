package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** Embedding similarity search: brute-force cosine top-k as the exact
  * baseline, and a random-hyperplane LSH-bucketed variant as the scale path.
  *
  * Scale design:
  *   - Brute force is exact and O(|Q| * |N|): only viable when the query set
  *     is small enough to broadcast. We broadcast Q and stream the corpus —
  *     one pass, no corpus shuffle, per-query top-k via window (at very
  *     large |corpus| the window shuffle carries only (qid, nid, sim)).
  *   - LSH: multi-table random-hyperplane sign buckets; candidate
  *     generation joins on (table, bucket) plus multi-probe bit-flip
  *     neighbors, exact cosine re-rank within candidates. The corpus's
  *     banded key table is computed once (reusable, like an index build: at
  *     100 TB you persist it, bucketed BY (table, bucket)).
  *   - All vector math lives in codegen'd custom expressions
  *     (graft.functions.VecExprs) — one plan node per operation, no UDFs,
  *     no per-plane expression subtrees.
  */
object Similarity {

  /** Cosine similarity between two array<double> columns. Custom codegen'd
    * expression (graft.functions.VecExprs.CosineSim) — same accumulation
    * order as the aggregate/zip_with formulation with a one-node expression
    * tree instead of three array-traversal subtrees. Zero-norm input gives
    * NULL (not IEEE NaN, which Spark would sort above every real
    * similarity).
    */
  def cosine(a: Column, b: Column): Column =
    graft.functions.VecExprs.cosineSim(a, b)

  /** Exact top-k cosine neighbors of each query vector.
    *
    * `queries`: (qid, qvec) — must be small (it is broadcast);
    * `corpus`: (idCol, vecCol). Self-matches (qid == id) are excluded.
    * Output: (qid, id, sim, rank), rank 1..k by descending similarity.
    */
  def bruteForceTopK(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      queries: DataFrame,
      qidCol: String,
      qvecCol: String,
      k: Int): DataFrame = {
    val joined = corpus
      .select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("vec"))
      .join(broadcast(
        queries.select(
          col(qidCol).as("qid"), col(qvecCol).cast("array<double>").as("qvec"))))
      .filter(col("qid") =!= col("id"))
      .withColumn("sim", cosine(col("vec"), col("qvec")))
      .filter(col("sim").isNotNull) // zero-norm vectors have no direction
    val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("id"))
    joined
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("id"), col("sim"), col("rank"))
  }

  /** Hard-negative mining for contrastive-training data: for each query,
    * the top-k corpus vectors by cosine among candidates that (a) carry a
    * DIFFERENT label than the query — same-label rows are presumed
    * positives — and (b) fall in the similarity band [simLo, simHi). The
    * upper bound excludes near-duplicates/verbatim copies, which would be
    * FALSE negatives and poison a contrastive loss; the lower bound drops
    * easy negatives that contribute no gradient. (The reference engine has
    * no embedding operators; this extends the curation surface the brief
    * mandates. Mining shape follows the published DPR/ANCE recipe: rank
    * negatives near — but not at — the positive's similarity.)
    *
    * Scale shape: mining runs per training batch, so the query set is
    * small — it broadcasts; the corpus streams through the broadcast join
    * ONCE, map-side, with the label + band predicates applied BEFORE the
    * per-query ranking window, so only in-band candidates reach the
    * exchange, and the rank<=k filter plans as WindowGroupLimit (each
    * input partition ships at most k rows per query).
    *
    * Output: (qid, id, label, sim, rank), rank 1..k by sim desc, id asc.
    */
  def hardNegatives(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      labelCol: String,
      queries: DataFrame,
      qidCol: String,
      qvecCol: String,
      qlabelCol: String,
      k: Int,
      simLo: Double,
      simHi: Double): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    require(simLo < simHi, s"empty similarity band [$simLo, $simHi)")
    val joined = corpus
      .select(
        col(idCol).as("id"), col(labelCol).as("label"),
        col(vecCol).cast("array<double>").as("vec"))
      .join(broadcast(
        queries.select(
          col(qidCol).as("qid"), col(qlabelCol).as("qlabel"),
          col(qvecCol).cast("array<double>").as("qvec"))))
      .filter(col("qid") =!= col("id") && col("label") =!= col("qlabel"))
      .withColumn("sim", cosine(col("vec"), col("qvec")))
      // null sim = zero-norm vector (no direction): never a candidate
      .filter(col("sim") >= simLo && col("sim") < simHi)
    val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("id"))
    joined
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("id"), col("label"), col("sim"), col("rank"))
  }

  // public: the Dataset encoder's generated deserializer instantiates
  // these from outside this object
  case class MmrCand(qid: Long, id: Long, sim: Double, vec: Seq[Double])
  case class MmrPick(qid: Long, id: Long, score: Double, rnk: Int)

  /** Maximal-marginal-relevance (MMR) diverse re-rank: per query, fetch
    * the top-`fetchK` cosine candidates, then greedily select `selectK` of
    * them maximizing `lambda * sim(q,c) - (1-lambda) * penalty(c)`, where
    * penalty is the max cosine between the candidate and the already-
    * selected set (0 for the first pick). The classic redundancy guard
    * (Carbonell & Goldstein 1998) for retrieval and for diversity-aware
    * training-data selection: near-identical passages stop crowding out
    * coverage. Ties break toward the smaller id, so the selection is a
    * deterministic function of the data.
    *
    * Scale shape: stage 1 is [[bruteForceTopK]] (broadcast queries, one
    * corpus pass — swap in an ANN front when the corpus demands it); the
    * greedy loop is inherently sequential per query but runs on a group
    * BOUNDED at fetchK rows, so `flatMapGroups` does O(selectK * fetchK)
    * cosine evaluations per query with nothing quadratic in the corpus.
    * Id columns must be long-castable (vec ids here are int64 already).
    *
    * Output: (qid, id, score, rnk), rnk 1..selectK in selection order.
    */
  def mmrRerank(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      queries: DataFrame,
      qidCol: String,
      qvecCol: String,
      fetchK: Int,
      selectK: Int,
      lambda: Double): DataFrame = {
    require(selectK >= 1 && fetchK >= selectK,
      s"need fetchK >= selectK >= 1, got fetchK=$fetchK selectK=$selectK")
    require(lambda >= 0.0 && lambda <= 1.0, s"lambda must be in [0,1]: $lambda")
    val spark = corpus.sparkSession
    import spark.implicits._
    val cands = bruteForceTopK(
        corpus, idCol, vecCol, queries, qidCol, qvecCol, fetchK)
      .join(
        corpus.select(
          col(idCol).cast("long").as("id"),
          col(vecCol).cast("array<double>").as("vec")),
        "id")
      .select(
        col("qid").cast("long").as("qid"), col("id"), col("sim"), col("vec"))
      .as[MmrCand]
    cands.groupByKey(_.qid).flatMapGroups { (qid: Long, it: Iterator[MmrCand]) =>
      val rem = scala.collection.mutable.ArrayBuffer(
        it.toArray.sortBy(c => (-c.sim, c.id)): _*)
      val sel = scala.collection.mutable.ArrayBuffer.empty[MmrCand]
      val out = Seq.newBuilder[MmrPick]
      while (sel.size < selectK && rem.nonEmpty) {
        var bi = 0
        var bs = Double.NegativeInfinity
        var i = 0
        while (i < rem.size) {
          val c = rem(i)
          val mx =
            if (sel.isEmpty) 0.0
            else sel.iterator.map(s => cosineLocal(c.vec, s.vec)).max
          val score = lambda * c.sim - (1 - lambda) * mx
          // argmax with SQL's (score DESC, id ASC) total order
          if (score > bs || (score == bs && c.id < rem(bi).id)) {
            bi = i; bs = score
          }
          i += 1
        }
        val pick = rem.remove(bi)
        sel += pick
        out += MmrPick(qid, pick.id, bs, sel.size)
      }
      out.result().iterator
    }.toDF("qid", "id", "score", "rnk")
  }

  /** Identical accumulation order to VecExprs.CosineSim (dot and norms in
    * index order; dot / (sqrt(na) * sqrt(nb))), so the penalty arithmetic
    * in [[mmrRerank]] is bit-equal to the expression the candidates' sims
    * came from. Callers never feed zero-norm vectors (bruteForceTopK
    * drops null-sim rows before the join-back).
    */
  /** Margin-based bitext mining (the ratio-margin criterion of Artetxe &
    * Schwenk 2019, the CCMatrix/LASER recipe): candidate pair (x, y)
    * scores cos(x, y) normalized by the mean of both sides' k-NN
    * similarities — margin(x, y) = cos(x, y) / ((avgK(x→tgt) +
    * avgK(y→src)) / 2) — so a pair only mines when it stands OUT of each
    * side's neighborhood; raw cosine alone over-mines hubs (vectors
    * near everything) and starves isolated points. Output: each source
    * vector's best target by margin, kept when margin >= `threshold` —
    * the mined translation-pair relation (src_id, tgt_id, sim, margin).
    *
    * Ties break toward the smaller tgt id; averages use the available
    * neighbors when a side has fewer than k. Zero-norm vectors drop (no
    * direction, the bruteForceTopK rule).
    *
    * Plan/scale: this is the EXACT arm — one broadcast product scoring
    * src × tgt (the q27/q101 shape, deliberately exempt from the
    * no-product plan gate), then two bounded top-k windows
    * (WindowGroupLimit) and equi-joins of k-bounded frames. At corpus
    * scale feed the SAME margin arithmetic from ANN candidate lists
    * instead: margin needs only each side's top-k lists, which
    * lshTopK/ivfTopKIndexed produce without the product.
    */
  def marginMine(
      src: DataFrame,
      tgt: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int = 4,
      threshold: Double = 1.0): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    require(threshold >= 0.0,
      s"threshold must be non-negative (0 keeps every best pair), got $threshold")
    val s = src.select(
      col(idCol).as("src_id"), col(vecCol).cast("array<double>").as("sv"))
    val t = tgt.select(
      col(idCol).as("tgt_id"), col(vecCol).cast("array<double>").as("tv"))
    val scores = s.join(broadcast(t))
      .withColumn("sim", cosine(col("sv"), col("tv")))
      .filter(col("sim").isNotNull)
      .select(col("src_id"), col("tgt_id"), col("sim"))
      .transform(graft.CacheScope.persisted)
    val wFwd = Window.partitionBy(col("src_id"))
      .orderBy(col("sim").desc, col("tgt_id"))
    val wBwd = Window.partitionBy(col("tgt_id"))
      .orderBy(col("sim").desc, col("src_id"))
    val fwd = scores.withColumn("r", row_number().over(wFwd))
      .filter(col("r") <= k)
      .select(col("src_id"), col("tgt_id"), col("sim"))
      .transform(graft.CacheScope.persisted)
    val bwd = scores.withColumn("r", row_number().over(wBwd))
      .filter(col("r") <= k)
      .select(col("src_id"), col("tgt_id"), col("sim"))
    // margin arithmetic is the SHARED candidate-list form — the exact
    // and ANN-fed paths cannot drift
    marginMineFromCandidates(fwd, bwd, threshold)
  }

  /** [[marginMine]]'s margin arithmetic over PRE-COMPUTED candidate
    * lists — the corpus-scale path its scaladoc promises: feed
    * `fwd`/`bwd` from any top-k producer ([[bruteForceTopK]],
    * [[lshTopK]], [[ivfTopKIndexed]] with qid/id renamed) and the exact
    * product never materializes. `fwd` is the src→tgt top-k (one row
    * per candidate pair), `bwd` the tgt→src top-k; both carry
    * (src_id, tgt_id, sim). The k-NN averages use whatever neighbors
    * each list holds (ANN recall < 1 shifts the averages — that is the
    * approximation being bought); candidate pairs must appear in `fwd`.
    * Fed with exact brute-force lists at the same k this returns
    * [[marginMine]]'s relation identically (spec-pinned).
    */
  def marginMineFromCandidates(
      fwd: DataFrame,
      bwd: DataFrame,
      threshold: Double = 1.0): DataFrame = {
    require(threshold >= 0.0,
      s"threshold must be non-negative (0 keeps every best pair), got $threshold")
    val srcAvg = fwd.groupBy(col("src_id")).agg(avg(col("sim")).as("sa"))
    val tgtAvg = bwd.groupBy(col("tgt_id")).agg(avg(col("sim")).as("ta"))
    val wBest = Window.partitionBy(col("src_id"))
      .orderBy(col("margin").desc, col("tgt_id"))
    fwd.select(col("src_id"), col("tgt_id"), col("sim"))
      .join(srcAvg, "src_id")
      .join(tgtAvg, "tgt_id")
      .filter(col("sa") + col("ta") =!= 0.0)
      .withColumn("margin",
        col("sim") / ((col("sa") + col("ta")) / lit(2.0)))
      .withColumn("rk", row_number().over(wBest))
      .filter(col("rk") === 1 && col("margin") >= threshold)
      .select(
        col("src_id"), col("tgt_id"),
        round(col("sim"), 4).as("sim"),
        round(col("margin"), 4).as("margin"))
  }

  private def cosineLocal(a: Seq[Double], b: Seq[Double]): Double = {
    val n = a.length
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) { dot += a(i) * b(i); i += 1 }
    i = 0
    while (i < n) { na += a(i) * a(i); i += 1 }
    i = 0
    while (i < n) { nb += b(i) * b(i); i += 1 }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Adds an integer LSH `bucket` column: bit i = sign(v . plane_i), planes
    * drawn deterministically from the seed (identical on every executor).
    * One custom expression (VecExprs.HyperplaneBandKeys with a single band)
    * instead of nbits aggregate-over-literal subtrees — same bucket values,
    * O(1)-size plan.
    */
  def withLshBucket(
      df: DataFrame,
      vecCol: String,
      dim: Int,
      nbits: Int = 12,
      seed: Long = 42L): DataFrame = {
    val v = col(vecCol).cast("array<double>")
    val keys = graft.functions.VecExprs.hyperplaneBandKeys(v, dim, 1, nbits, seed)
    df.withColumn("bucket", element_at(keys, 1).cast("int"))
  }

  /** XOR masks for all buckets within Hamming distance `radius` of a key
    * (radius 0, 1 or 2) — tiny driver-side literal, exploded per probe.
    */
  private def probeMasks(bits: Int, radius: Int): Seq[Long] = {
    require(radius >= 0 && radius <= 2, s"probeRadius must be 0..2, got $radius")
    val r0 = Seq(0L)
    val r1 = if (radius >= 1) (0 until bits).map(1L << _) else Seq.empty
    val r2 =
      if (radius >= 2)
        for (i <- 0 until bits; j <- i + 1 until bits)
          yield (1L << i) | (1L << j)
      else Seq.empty
    r0 ++ r1 ++ r2
  }

  /** Approximate top-k via MULTI-TABLE hyperplane LSH: `tables` independent
    * hash tables of `bitsPerTable` sign bits each; a corpus vector is a
    * candidate if it collides with the query in ANY table, in the query's
    * own bucket or any bucket within `probeRadius` bit flips (multi-probe).
    * Candidates are re-ranked by exact cosine, so reported similarities are
    * always true similarities — tables/bits/radius trade recall against the
    * corpus fraction touched, never correctness (q40 pins containment).
    *
    * Why multi-table: a single table's collision probability on a pair at
    * angle θ is (1 - θ/π)^bits, which collapses as similarity falls —
    * measured 0.02 recall at one 8-bit table on the synthetic test corpus,
    * whose "neighbors" sit at cos ~0.35 (i.e. barely above random: the
    * adversarial regime for ANY locality-sensitive scheme; IVF reads the
    * same corpus at 0.68 recall / 25% scanned). L tables lift recall to
    * 1 - (1 - p^bits)^L while keeping per-table buckets selective: the
    * default (8 x 10-bit, radius 1) measures 0.24 there touching ~9% of the
    * corpus per query, and >= 0.7 (spec-pinned) on clustered data with real
    * near neighbors, where the per-bit p makes LSH the right structure.
    *
    * Scale: the corpus shuffles (table, bucket, id) rows — O(tables) sketch
    * rows per vector, vectors travel only into the bounded verify join.
    * All keys come from one codegen'd expression (VecExprs), O(1) plan size.
    */
  def lshTopK(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      queries: DataFrame,
      qidCol: String,
      qvecCol: String,
      dim: Int,
      k: Int,
      tables: Int = 8,
      bitsPerTable: Int = 10,
      probeRadius: Int = 1,
      seed: Long = 42L): DataFrame = {
    // sketch rows stay NARROW through the collision join and the
    // (qid, id) dedup — (tbl, bkey, id) only, per this scaladoc's own
    // scale claim; the vectors enter exactly once each, via the
    // bounded verify joins on the deduped candidate pairs (guide §2.3 /
    // §8: decide on small rows, attach the payload once). Previously
    // BOTH vectors rode the collision join (O(tables·probes) copies)
    // and the dedup exchange.
    val docs = prepVecs(corpus, idCol, vecCol)
    val qdocs = prepVecs(queries, qidCol, qvecCol)
      .select(col("id").as("qid"), col("vec").as("qvec"))
    val c = docs.select(
      col("id"),
      posexplode(graft.functions.VecExprs.hyperplaneBandKeys(
        col("vec"), dim, tables, bitsPerTable, seed)).as(Seq("tbl", "bkey")))
    val q = qdocs.select(
      col("qid"),
      posexplode(graft.functions.VecExprs.hyperplaneBandKeys(
        col("qvec"), dim, tables, bitsPerTable, seed)).as(Seq("tbl", "key0")))
    val probes = q.select(
      col("qid"), col("tbl"), col("key0"),
      explode(typedLit(probeMasks(bitsPerTable, probeRadius)))
        .as("mask"))
      .select(
        col("qid"), col("tbl"),
        col("key0").bitwiseXOR(col("mask")).as("bkey"))
    val candidates = probes.join(c, Seq("tbl", "bkey"))
      .filter(col("qid") =!= col("id"))
      .select(col("qid"), col("id"))
      .dropDuplicates("qid", "id")
      .join(docs, "id")
      .join(qdocs.select(col("qid"), col("qvec")), "qid")
      .withColumn("sim", cosine(col("vec"), col("qvec")))
      .filter(col("sim").isNotNull) // zero-norm vectors have no direction
      .select(col("qid"), col("id"), col("sim"))
    val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("id"))
    candidates
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("id"), col("sim"), col("rank"))
  }

  /** Per-bit sign-agreement probability for a pair at cosine `sim`:
    * p = 1 - theta/pi (the hyperplane-LSH fundamental; see lshTopK doc).
    */
  def lshBitAgreement(sim: Double): Double = {
    require(sim >= -1.0 && sim <= 1.0, s"cosine out of range: $sim")
    1.0 - math.acos(sim) / math.Pi
  }

  /** P[a pair at cosine `sim` collides in ONE table's probed bucket set]
    * at `bits` sign bits and multi-probe `probeRadius`: exact-bucket match
    * p^b, plus the radius-1 (b choose 1) one-bit-off buckets, plus the
    * radius-2 (b choose 2) two-bit-off buckets.
    */
  def lshTableCollisionProb(sim: Double, bits: Int, probeRadius: Int): Double = {
    require(bits >= 1 && probeRadius >= 0 && probeRadius <= 2)
    val p = lshBitAgreement(sim)
    val q = 1.0 - p
    var prob = math.pow(p, bits)
    if (probeRadius >= 1) prob += bits * math.pow(p, bits - 1) * q
    if (probeRadius >= 2 && bits >= 2)
      prob += bits * (bits - 1) / 2.0 * math.pow(p, bits - 2) * q * q
    math.min(prob, 1.0)
  }

  /** Choose (tables, bitsPerTable) for [[lshTopK]] from the collision
    * formula instead of hand-tuning: the most SELECTIVE table width (max
    * bits — selectivity is what bounds bucket size, i.e. the corpus
    * fraction touched per probe) such that the multi-table recall
    * 1 - (1 - P_table)^L still reaches `targetRecall` for pairs at cosine
    * `simAtTarget` within `maxTables` tables, and the smallest such L.
    * Recall at higher similarity is strictly higher (p rises with sim),
    * so the target is a floor over [simAtTarget, 1].
    *
    * The model covers the geometry (random hyperplanes vs a pair at a
    * fixed angle), not a particular corpus's neighbor distribution —
    * measured recall against brute force (tools.AnnRecall) remains the
    * ground truth; this picks the starting point analytically.
    */
  def lshConfigForRecall(
      targetRecall: Double,
      simAtTarget: Double,
      probeRadius: Int = 1,
      maxTables: Int = 64,
      maxBits: Int = 16): (Int, Int) = {
    require(targetRecall > 0.0 && targetRecall < 1.0,
      s"targetRecall must be in (0,1), got $targetRecall")
    (maxBits to 1 by -1).foreach { bits =>
      val pt = lshTableCollisionProb(simAtTarget, bits, probeRadius)
      val tables =
        if (pt >= targetRecall) 1
        else if (pt <= 0.0) Int.MaxValue
        else math.ceil(math.log1p(-targetRecall) / math.log1p(-pt)).toInt
      if (tables <= maxTables) return (tables, bits)
    }
    (maxTables, 1) // even 1-bit tables can't reach the target within budget
  }

  /** Deterministic driver-side k-means (Lloyd) over a bounded sample — the
    * coarse quantizer for IVF. At 100 TB you train on a sample anyway; the
    * centroid table is tiny and broadcasts.
    *
    * The sample is the first `sampleN` rows in md5(id) order — a
    * deterministic pseudo-random draw, NOT the id-smallest prefix: a
    * corpus whose distribution drifts along id (time-ordered ingest,
    * per-source id ranges) would hand an id-ordered sample only the
    * front of the distribution and train centroids that crowd it,
    * leaving the tail's vectors piled into a few giant cells
    * (SimilaritySpec pins cell balance on exactly such a corpus).
    */
  def trainIvfCentroids(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      nlist: Int,
      sampleN: Int = 4096,
      iters: Int = 8): Array[Array[Double]] = {
    val sample = trainingSample(corpus, idCol, vecCol, sampleN)
    require(sample.length >= nlist, s"need >= $nlist sample vectors")
    lloyd(sample, nlist, iters)
  }

  /** The first `sampleN` vectors in md5(id) order — the deterministic
    * pseudo-random draw both quantizers train on. */
  private def trainingSample(
      corpus: DataFrame, idCol: String, vecCol: String,
      sampleN: Int): Array[Array[Double]] =
    corpus
      .select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("v"))
      .orderBy(md5(col("id").cast("string")), col("id")).limit(sampleN)
      .collect().map(_.getSeq[Double](1).toArray)

  /** Deterministic Lloyd's k-means over `points`: initial centroids
    * spread evenly through the (md5-ordered) points, `iters` rounds,
    * an empty cluster keeps its centroid. */
  private def lloyd(
      points: Array[Array[Double]], k: Int, iters: Int): Array[Array[Double]] = {
    val dim = points.head.length
    var centroids = Array.tabulate(k)(i =>
      points((i.toLong * points.length / k).toInt).clone())
    def d2(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
      s
    }
    for (_ <- 0 until iters) {
      val sums = Array.fill(k)(new Array[Double](dim))
      val counts = new Array[Int](k)
      points.foreach { v =>
        var best = 0; var bd = Double.MaxValue; var c = 0
        while (c < k) {
          val dd = d2(v, centroids(c)); if (dd < bd) { bd = dd; best = c }
          c += 1
        }
        counts(best) += 1
        var i = 0
        while (i < dim) { sums(best)(i) += v(i); i += 1 }
      }
      centroids = Array.tabulate(k)(c =>
        if (counts(c) == 0) centroids(c)
        else sums(c).map(_ / counts(c)))
    }
    centroids
  }

  /** Index of the nearest centroid (IVF cell id) — ties toward the smaller
    * cell. Custom expression: the trained centroid matrix rides inside one
    * plan node (VecExprs.NearestCentroids) instead of nlist literal-array
    * distance subtrees evaluated twice for the argmin.
    */
  def ivfCell(v: Column, centroids: Array[Array[Double]]): Column =
    element_at(
      graft.functions.VecExprs.nearestCentroids(
        v, centroids.map(_.toSeq).toSeq, 1), 1)

  /** IVF approximate top-k: corpus partitioned into `nlist` cells by the
    * coarse quantizer; each query probes its `nprobe` nearest cells and
    * re-ranks candidates by exact cosine. The classic inverted-file ANN:
    * at scale the cell assignment is computed once and persisted
    * (partitioned/bucketed BY cell), and a query touches nprobe/nlist of
    * the corpus.
    */
  def ivfTopK(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      queries: DataFrame,
      qidCol: String,
      qvecCol: String,
      k: Int,
      nlist: Int = 16,
      nprobe: Int = 4,
      sampleN: Int = 4096): DataFrame = {
    val centroids = trainIvfCentroids(corpus, idCol, vecCol, nlist, sampleN)
      .map(_.toSeq).toSeq
    val c = corpus
      .select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("vec"))
      .withColumn("cell", element_at(
        graft.functions.VecExprs.nearestCentroids(col("vec"), centroids, 1), 1))
    // nprobe nearest cells per query, ordered by (distance, cell)
    val q = queries
      .select(col(qidCol).as("qid"), col(qvecCol).cast("array<double>").as("qvec"))
    val probes = q.select(
      col("qid"), col("qvec"),
      explode(graft.functions.VecExprs.nearestCentroids(
        col("qvec"), centroids, nprobe)).as("cell"))
    // score-then-narrow BEFORE the dedup/window exchanges — the
    // [[ivfProbeCandidates]] rationale: sim is a pure function of the
    // pair, so the vectors need not ride the (qid, id) shuffle
    val candidates = probes.join(c, "cell")
      .filter(col("qid") =!= col("id"))
      .withColumn("sim", cosine(col("vec"), col("qvec")))
      .filter(col("sim").isNotNull) // zero-norm vectors have no direction
      .select(col("qid"), col("id"), col("sim"))
      .dropDuplicates("qid", "id")
    val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("id"))
    candidates
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("id"), col("sim"), col("rank"))
  }

  /** Build the IVF index ONCE and persist it: trains the coarse quantizer,
    * assigns every corpus vector its cell, and writes the assignment
    * PARTITIONED BY cell plus the centroid table. This is the
    * build-once/query-many form of [[ivfTopK]]'s scaladoc claim: the
    * expensive corpus pass (quantizer training + cell assignment) happens
    * at index-build time, and each query batch then reads only its
    * nprobe/nlist of the corpus through partition pruning — at 100 TB the
    * difference between a full scan per query batch and touching a few
    * percent of files.
    *
    * `quantized = true` builds the QUANTIZED layout: the corpus stores
    * int8 codes ([[quantizeEmbeddings]]'s codec) ALONGSIDE the float
    * vector in the same cell-partitioned table, plus the precomputed
    * int8 self-dot — (id, vec, qvec, qn2 | cell). This composes the
    * library's two ANN cost levers into the production layout: a
    * [[ivfQTopKIndexed]] probe's stage-1 scan reads ONLY (id, qvec,
    * qn2) of the probed cells — partition pruning x column pruning,
    * nprobe/nlist of the corpus at 1/8th the float64 bytes — and stage
    * 2 fetches float vectors for the k·rerankFactor survivors from
    * those same pruned cells. Zero vectors are stored (the registry
    * stays complete for [[ivfDelete]], which works unchanged on this
    * layout) and filtered at probe time like every cosine path.
    */
  def buildIvfIndex(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      nlist: Int,
      path: String,
      sampleN: Int = 4096,
      quantized: Boolean = false): Unit =
    buildIvf(corpus, idCol, vecCol, nlist, path, sampleN)(_ =>
      if (quantized) IvfCodec.Int8 else IvfCodec.Float)

  /** The one build body of the three layouts: trains the coarse
    * quantizer on the (id, vec) projection, asks `codecOf` for the
    * layout (PQ trains its codebooks here), then lands the centroid
    * table, the layout's side table and the encoded, cell-clustered
    * corpus.
    */
  private def buildIvf(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      nlist: Int,
      path: String,
      sampleN: Int)(codecOf: DataFrame => IvfCodec): Unit = {
    val spark = corpus.sparkSession
    val vecs = corpus.select(col(idCol).as("id"),
      col(vecCol).cast("array<double>").as("vec"))
    val centroids = trainIvfCentroids(vecs, "id", "vec", nlist, sampleN)
    val codec = codecOf(vecs)
    // reader-isolation bracket + manifest commit ([[StableRead]]): a
    // (re)build into a live root must not validate mid-write
    StableRead.withMaintenanceMarker(spark, path) {
      // tmp + swap/rename per table (Sinks.landTable): a rebuild into a
      // LIVE root must never overwrite committed files in place
      graft.sinks.Sinks.landTable(centroidTable(spark, centroids),
        path, "centroids")
      codec match {
        case IvfCodec.Pq(books) =>
          graft.sinks.Sinks.landTable(codebookTable(spark, books),
            path, "codebooks")
        case _ =>
      }
      graft.sinks.Sinks.landTable(
        codec.encode(vecs)
          .withColumn("cell", ivfCell(col("vec"), centroids))
          // cluster by the partition key before the dynamic-partition
          // write (the bm25 build's small-files lesson: without it every
          // task writes a file into every cell directory)
          .repartition(col("cell")),
        path, "corpus", Seq("cell"))
    }
  }

  /** The persisted `(cell, centroid)` table, in one file. */
  private def centroidTable(
      spark: org.apache.spark.sql.SparkSession,
      cells: Seq[(Int, Seq[Double])]): DataFrame = {
    import spark.implicits._
    cells.toDF("cell", "centroid").coalesce(1)
  }

  /** [[centroidTable]] of freshly trained centroids: cell ids 0..n-1. */
  private def centroidTable(
      spark: org.apache.spark.sql.SparkSession,
      centroids: Array[Array[Double]]): DataFrame =
    centroidTable(spark,
      centroids.toSeq.zipWithIndex.map { case (c, i) => (i, c.toSeq) })

  /** The persisted PQ `codebooks/` table: one (sub, code, cw, n2) row
    * per codeword, n2 its squared norm. */
  private def codebookTable(
      spark: org.apache.spark.sql.SparkSession,
      books: Array[Array[Array[Double]]]): DataFrame = {
    import spark.implicits._
    books.toSeq.zipWithIndex.flatMap { case (book, s) =>
      book.toSeq.zipWithIndex.map { case (cw, c) =>
        (s, c, cw.toSeq, cw.map(x => x * x).sum)
      }
    }.toDF("sub", "code", "cw", "n2").coalesce(1)
  }

  /** How an IVF layout stores a vector beside its (id, vec | cell) row:
    * float (nothing more), int8 (`qvec` codes plus their exact int
    * self-dot `qn2`, [[quantizeEmbeddings]]'s codec) or PQ (an m-byte
    * `pqcode` under the index's own `codebooks/` table). Build, append,
    * ingest and fsck encode through it; the two quantized layouts also
    * supply stage 1 of the two-stage probe ([[twoStageTopK]]). An
    * existing index's layout is resolved only by [[ivfCodec]].
    */
  private[operators] sealed trait IvfCodec {
    def layout: String
    /** The stored columns this layout adds to (id, vec). */
    def columns: Seq[String]
    /** (id, vec, ...) rows -> the same rows plus [[columns]]. */
    def encode(vecs: DataFrame): DataFrame
  }

  /** A quantized layout: stage 1 of [[twoStageTopK]] scores its codes. */
  private[operators] sealed trait TwoStageCodec extends IvfCodec {
    /** The stored columns stage 1 reads beside id and cell — never vec. */
    def stage1Cols: Seq[Column]
    /** (qid, qv) -> the same plus the query-side columns stage 1 needs. */
    def prepQueries(qs: DataFrame, indexPath: String): DataFrame
    /** Candidate pairs -> the scorable ones with their approximate
      * cosine `ascore`. */
    def score(pairs: DataFrame): DataFrame
  }

  private[operators] object IvfCodec {
    case object Float extends IvfCodec {
      val layout = "float"
      val columns = Seq.empty[String]
      def encode(vecs: DataFrame): DataFrame = vecs
    }

    case object Int8 extends TwoStageCodec {
      val layout = "int8"
      val columns = Seq("qvec", "qn2")
      def encode(vecs: DataFrame): DataFrame =
        quantizeEmbeddings(vecs, "vec").drop("scale", "max_abs_err")
          .withColumn("qn2", intDot(col("qvec"), col("qvec")))
      def stage1Cols: Seq[Column] =
        Seq(col("qvec").as("cq"), col("qn2").as("cn2"))
      // quantized once per index and persisted: the probes, the
      // probed-cell collect and the rerank all read it
      def prepQueries(qs: DataFrame, indexPath: String): DataFrame =
        quantizeEmbeddings(qs, "qv")
          .select(col("qid"), col("qv"), col("qvec").as("qq"),
            intDot(col("qvec"), col("qvec")).as("qqn2"))
          .transform(graft.CacheScope.persisted)
      // cosine is scale-free, so the approximate score is
      // intdot(qq, cq) / (sqrt(qq.qq) * sqrt(cq.cq)) — exact int64 sums
      def score(pairs: DataFrame): DataFrame =
        pairs.filter(col("cn2") > 0 && col("qqn2") > 0)
          .withColumn("ascore",
            intDot(col("cq"), col("qq")).cast("double") /
              (sqrt(col("cn2").cast("double")) *
                sqrt(col("qqn2").cast("double"))))
    }

    /** `books` is [m][ksub][dsub], as [[trainPqCodebooks]] returns it. */
    final case class Pq(books: Array[Array[Array[Double]]])
        extends TwoStageCodec {
      val layout = "pq"
      val columns = Seq("pqcode")
      private val ksub = books(0).length
      private val dsub = books(0)(0).length
      def encode(vecs: DataFrame): DataFrame =
        vecs.withColumn("pqcode", graft.functions.PqExprs.pqEncode(
          col("vec"), books.map(_.map(_.toSeq).toSeq).toSeq))
      def stage1Cols: Seq[Column] = Seq(col("pqcode"))
      // ADC: per query ONE lookup table of <q_sub, codeword> partial
      // inner products, built driver-side (m x ksub doubles; the query
      // table is small by the probe contract) and broadcast with the
      // probes
      def prepQueries(qs: DataFrame, indexPath: String): DataFrame = {
        val spark = qs.sparkSession
        import spark.implicits._
        val m = books.length
        qs.select(col("qid").cast("long"), col("qv")).collect().map { r =>
          val qv = r.getSeq[Double](1).toArray
          require(qv.length == m * dsub,
            s"ivfPqTopKFederated: query dim ${qv.length} != index dim " +
              s"${m * dsub} at $indexPath")
          val lut = new Array[Double](m * ksub)
          var s = 0
          while (s < m) {
            var c = 0
            while (c < ksub) {
              val cw = books(s)(c)
              var acc = 0.0; var i = 0
              while (i < dsub) { acc += qv(s * dsub + i) * cw(i); i += 1 }
              lut(s * ksub + c) = acc
              c += 1
            }
            s += 1
          }
          var qn2 = 0.0; var i = 0
          while (i < qv.length) { qn2 += qv(i) * qv(i); i += 1 }
          (r.getLong(0), qv.toSeq, lut.toSeq, qn2)
        }.toSeq.toDF("qid", "qv", "lut", "qn2")
      }
      // a candidate's approximate cosine is m lookups for the inner
      // product and m for the reconstructed norm, whose table is
      // query-INDEPENDENT (one literal per index) — never any arithmetic
      // on a stored vector
      def score(pairs: DataFrame): DataFrame = {
        val n2lut: Seq[Double] = books.toSeq.flatMap(_.toSeq.map { cw =>
          var s = 0.0; var i = 0
          while (i < cw.length) { s += cw(i) * cw(i); i += 1 }
          s
        })
        pairs
          .withColumn("rn2", graft.functions.PqExprs.pqAdcScore(
            col("pqcode"), typedLit(n2lut), ksub))
          .filter(col("qn2") > 0 && col("rn2") > 0)
          .withColumn("ascore",
            graft.functions.PqExprs.pqAdcScore(col("pqcode"), col("lut"), ksub) /
              (sqrt(col("qn2")) * sqrt(col("rn2"))))
      }
    }
  }

  /** The layout of the index at `indexPath`, resolved in this one place:
    * PQ when the index has a `codebooks/` table (where
    * `quantized = Some(true)` is refused), else int8 when `quantized`
    * asks for it, else float; `quantized = None` takes the layout
    * `corpus/` already stores. When `corpus/` holds part files, the
    * resolved layout must be the one their footer stores: reads infer
    * a table's schema from ONE footer (no mergeSchema), so rows of a
    * second layout would either fail a probe on a missing column or
    * land with null codes that stage 1 filters out without a word.
    */
  private[operators] def ivfCodec(
      spark: org.apache.spark.sql.SparkSession,
      indexPath: String,
      quantized: Option[Boolean],
      op: String): IvfCodec = {
    val fs = new org.apache.hadoop.fs.Path(indexPath)
      .getFileSystem(spark.sessionState.newHadoopConf())
    def parts(dir: org.apache.hadoop.fs.Path)
        : Iterator[org.apache.hadoop.fs.Path] =
      fs.listStatus(dir).iterator
        .filterNot(st => st.getPath.getName.startsWith("_") ||
          st.getPath.getName.startsWith("."))
        .flatMap(st =>
          if (st.isDirectory) parts(st.getPath)
          else Iterator(st.getPath).filter(_.getName.endsWith(".parquet")))
    val corpus = new org.apache.hadoop.fs.Path(s"$indexPath/corpus")
    val stored =
      (if (fs.exists(corpus)) parts(corpus) else Iterator.empty)
        .nextOption().map { part =>
          val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
            org.apache.parquet.hadoop.util.HadoopInputFile
              .fromPath(part, fs.getConf))
          val cols =
            try reader.getFileMetaData.getSchema.getFields.asScala
              .map(_.getName).toSet
            finally reader.close()
          if (cols("pqcode")) "pq" else if (cols("qvec")) "int8" else "float"
        }
    val codec =
      if (fs.exists(new org.apache.hadoop.fs.Path(s"$indexPath/codebooks"))) {
        require(!quantized.contains(true),
          s"$op: $indexPath is a PQ index (codebooks present) — the " +
            "quantized=true int8 flag does not apply")
        IvfCodec.Pq(loadPqCodebooks(spark, indexPath)._3)
      } else if (quantized.getOrElse(stored.contains("int8"))) IvfCodec.Int8
      else IvfCodec.Float
    stored.foreach(s => require(s == codec.layout,
      s"$op: layout mismatch at $indexPath — corpus/ stores the $s " +
        s"layout, this call asks for the ${codec.layout} layout; one " +
        "table cannot hold both row schemas"))
    codec
  }

  /** Initialize an EMPTY IVF index from a pre-trained centroid table —
    * the first step of the distributed shard-and-merge build flow
    * ([[ivfMerge]]'s scaladoc): unlike the lexical index, IVF shards
    * can only merge when they were assigned under the SAME quantizer,
    * so the production flow trains centroids ONCE
    * ([[trainIvfCentroids]] on a global sample), initializes each
    * shard index with them, fills shards in parallel via [[ivfAppend]]
    * (which always assigns with the index's own centroids), and merges
    * at the file level. `path` must not already hold centroids.
    */
  def ivfInit(
      spark: org.apache.spark.sql.SparkSession,
      centroids: Array[Array[Double]],
      path: String): Unit =
    initIvf(spark, centroids, None, path, "ivfInit")

  /** Initialize an EMPTY product-quantized IVF index from an
    * already-trained coarse quantizer AND PQ codebooks — the
    * [[ivfInit]] shape for the PQ layout, and the entry point for the
    * distributed bootstrap: train both quantizers ONCE
    * ([[trainIvfCentroids]] + [[trainPqCodebooks]] over a global
    * sample), init N shard roots from them, fill each shard in
    * parallel with [[ivfAppend]] over its corpus slice (the codebooks
    * table makes it encode PQ), then [[ivfMerge]] (which verifies
    * centroid AND codebook equality and is pure metadata). Refuses a
    * pre-existing index.
    */
  def ivfPqInit(
      spark: org.apache.spark.sql.SparkSession,
      centroids: Array[Array[Double]],
      codebooks: Array[Array[Array[Double]]],
      path: String): Unit = {
    require(codebooks.nonEmpty && codebooks.forall(_.nonEmpty),
      "ivfPqInit: empty codebooks")
    initIvf(spark, centroids, Some(codebooks), path, "ivfPqInit")
  }

  private def initIvf(
      spark: org.apache.spark.sql.SparkSession,
      centroids: Array[Array[Double]],
      codebooks: Option[Array[Array[Array[Double]]]],
      path: String,
      op: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(s"$path/centroids")
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    require(!fs.exists(p), s"$op: $p already exists")
    StableRead.withMaintenanceMarker(spark, path) {
      centroidTable(spark, centroids).write.mode("overwrite").parquet(p.toString)
      codebooks.foreach { books =>
        codebookTable(spark, books)
          .write.mode("overwrite").parquet(s"$path/codebooks")
        fs.mkdirs(new org.apache.hadoop.fs.Path(s"$path/corpus"))
      }
    }
  }

  /** Merge two IVF indexes — the pairwise convenience form of the
    * variadic N-way merge below (one code path; see that overload for
    * the full contract).
    */
  def ivfMerge(
      spark: org.apache.spark.sql.SparkSession,
      pathA: String,
      pathB: String,
      dest: String): Unit =
    ivfMerge(spark, Seq(pathA, pathB), dest)

  /** Merge N IVF indexes that share ONE centroid table into a new
    * index at `dest` — the dense twin of
    * [[graft.operators.Retrieval.bm25Merge]], and the step that makes
    * a 100 TB ANN index build distributable: shards fill in parallel
    * (each append touches only its own slice) and the merge is pure
    * METADATA — cell c of the merged corpus is exactly the union of
    * every shard's cell-c files (vectors were assigned under the same
    * verified-equal centroids, so the cell layouts are compatible by
    * construction; a drifted quantizer aborts). The N-way form merges
    * any shard count in ONE invocation — a pairwise tree re-walks the
    * file listing per level for nothing, since there is no per-level
    * job to amortize here at all. Works on all three layouts — float,
    * int8 ([[buildIvfIndex]] with `quantized`) and PQ
    * ([[buildIvfPqIndex]], whose shards must also share one codebooks
    * table); shards whose layouts ([[ivfCodec]]) differ are refused
    * before anything is written. Caller contract: id sets pairwise
    * disjoint (the append contract). `dest` must not exist.
    *
    * `move = false` (default) preserves the shards but streams every
    * corpus byte through one driver thread; `move = true` renames part
    * files instead — O(1) metadata per file — and CONSUMES the shards
    * (see [[graft.sinks.Sinks.copyParquetParts]] for the contract and
    * the object-store caveat). SINGLE-WRITER window: shards are read
    * non-atomically (centroids, then parts) — a concurrent
    * [[ivfAppend]] landing mid-merge would strand part of its batch;
    * merge only quiesced shards.
    */
  def ivfMerge(
      spark: org.apache.spark.sql.SparkSession,
      paths: Seq[String],
      dest: String,
      move: Boolean = false): Unit = {
    IvfIngest.requireMergeable(spark, paths, "ivfMerge")
    val hconf = spark.sessionState.newHadoopConf()
    val destP = new org.apache.hadoop.fs.Path(dest)
    val fs = destP.getFileSystem(hconf)
    require(!fs.exists(destP), s"ivfMerge: $dest already exists")
    // one corpus holds one row schema: a float shard merged with an int8
    // one is the mixed corpus ivfCodec refuses every later write and probe
    val layouts = paths.map(p => p -> ivfCodec(spark, p, None, "ivfMerge").layout)
    layouts.tail.foreach { case (p, l) => require(l == layouts.head._2,
      s"ivfMerge: layout mismatch — ${paths.head} stores the " +
        s"${layouts.head._2} layout, $p the $l layout; merge shards of one layout") }
    // reader-isolation brackets + manifest commits ([[StableRead]]):
    // dest always — and with move=true the source shards too, since the
    // part-file renames CONSUME them under any reader still probing
    StableRead.withMaintenanceMarkers(
      spark, dest +: (if (move) paths else Seq.empty)) {
    val first = loadCentroidTable(spark, paths.head)
    paths.tail.foreach(p => require(loadCentroidTable(spark, p) == first,
      s"ivfMerge: centroid tables differ (${paths.head} vs $p) — the " +
        "shards were assigned under different quantizers and their cells " +
        "are not compatible; rebuild the shards from one ivfInit centroid " +
        "table"))
    // PQ shards (round 19): codes are only scorable under the codebooks
    // that ENCODED them, and the merged index carries exactly one
    // codebooks table — so either no shard has one, or all do and they
    // are row-for-row equal (the centroid discipline extended to the
    // sub-quantizer; a silent mismatch would mis-score every foreign
    // code forever, which no fsck could distinguish from drift)
    def codebooks(p: String): Option[Seq[Seq[Seq[Double]]]] =
      if (!fs.exists(new org.apache.hadoop.fs.Path(s"$p/codebooks"))) None
      else Some(loadPqCodebooks(spark, p)._3.map(_.map(_.toSeq).toSeq).toSeq)
    val firstBooks = codebooks(paths.head)
    paths.tail.foreach(p => require(codebooks(p) == firstBooks,
      s"ivfMerge: PQ codebooks differ (${paths.head} vs $p) — the " +
        "shards' codes were encoded under different sub-quantizers and " +
        "cannot share one codebooks table; rebuild the shards from one " +
        "trained codebook set"))
    // centroids always COPY (tiny, and the husk of a moved shard keeps
    // its quantizer intact for forensics)
    org.apache.hadoop.fs.FileUtil.copy(
      fs, new org.apache.hadoop.fs.Path(s"${paths.head}/centroids"),
      fs, new org.apache.hadoop.fs.Path(s"$dest/centroids"),
      false, hconf)
    if (firstBooks.isDefined)
      org.apache.hadoop.fs.FileUtil.copy(
        fs, new org.apache.hadoop.fs.Path(s"${paths.head}/codebooks"),
        fs, new org.apache.hadoop.fs.Path(s"$dest/codebooks"),
        false, hconf)
    paths.zipWithIndex.foreach { case (p, i) =>
      graft.sinks.Sinks.copyParquetParts(
        fs, hconf, s"$p/corpus", s"$dest/corpus", "cell=", s"s$i", move)
    }
    // soft-delete overlays travel with the merge (bm25Merge's contract)
    graft.operators.Retrieval.mergeOverlays(spark, paths, dest)
    }
  }

  /** Append a batch to a persisted [[buildIvfIndex]] index WITHOUT
    * retraining the quantizer — the incremental-ingest path of the
    * build-once/query-many ANN index. The batch is assigned to the
    * index's EXISTING centroids (read back from the index itself, so
    * the assignment function is identical to the build's by
    * construction) and appended into the cell partitions; a probe
    * afterwards touches exactly the same nprobe cells and sees old and
    * new vectors uniformly. Centroid drift under sustained append is
    * the operator's documented bound — when the appended mass changes
    * the distribution, rebuild (the sampleN re-train is one scan);
    * assignments remain CORRECT under drift (every vector still lands
    * in its nearest EXISTING cell), only cell balance degrades.
    *
    * Scale: one map-side assignment projection (centroids broadcast in
    * the expression) + one BATCH-sized cluster-by-cell shuffle + a
    * partitioned append — the existing corpus files are never touched,
    * and the shuffle buys one file per touched cell per append instead
    * of tasks x cells (the small-files decay [[ivfCompact]] exists to
    * repair; clustering the append slows the decay at its source).
    * Runs, centroid read included, under the ingest's writer locks
    * ([[EstateIngest.Layout.locked]]): a concurrent requantize or split
    * waits instead of swapping the landed parts away.
    *
    * The batch is encoded for the index's layout ([[ivfCodec]]): PQ
    * codes under the index's OWN codebooks when it has them (never
    * retrained — a drifted codebook would make old codes unscorable;
    * re-encode via a rebuild), int8 codes when `quantized`, plain
    * vectors otherwise. A request that does not match the layout the
    * corpus already stores is refused.
    */
  def ivfAppend(
      indexPath: String, batch: DataFrame,
      idCol: String, vecCol: String,
      quantized: Boolean = false): Unit = {
    val spark = batch.sparkSession
    IvfIngest.locked(spark, indexPath) {
      val assigned = ivfAssign(indexPath,
        ivfCodec(spark, indexPath, Some(quantized), "ivfAppend"),
        batch, idCol, vecCol)
      // reader-isolation bracket + manifest commit ([[StableRead]])
      StableRead.withMaintenanceMarker(spark, indexPath) {
        assigned.write.mode("append").partitionBy("cell")
          .parquet(s"$indexPath/corpus")
        StableRead.noteTouched(indexPath, "corpus") // incremental snapshot
      }
    }
  }

  /** `batch` as corpus rows of the index at `indexPath`: encoded by its
    * resolved `codec`, assigned to the index's own cells, and clustered
    * by cell — one file per touched cell per write.
    */
  private def ivfAssign(
      indexPath: String, codec: IvfCodec, batch: DataFrame,
      idCol: String, vecCol: String): DataFrame = {
    val (cellIds, centroids) = loadCentroidTable(batch.sparkSession, indexPath)
    codec.encode(batch.select(col(idCol).as("id"),
        col(vecCol).cast("array<double>").as("vec")))
      .withColumn("cell", posToCell(element_at(
        graft.functions.VecExprs.nearestCentroids(col("vec"), centroids, 1), 1),
        cellIds))
      .repartition(col("cell"))
  }

  /** A persisted centroid table, position-aligned: the cell ids ordered
    * by cell, and the centroid vectors in the same order. Cell ids are
    * the contiguous 0..nlist-1 POSITIONS only until the first
    * [[ivfSplitCells]] retires a parent and appends children — after
    * that the table has gaps and ids above nlist. Every probe or
    * assignment over a PERSISTED table must therefore map
    * nearestCentroids positions through the id list ([[posToCell]]),
    * never use a position as a cell value directly (the latent
    * assumption the split spec caught).
    */
  private[graft] def loadCentroidTable(
      spark: org.apache.spark.sql.SparkSession,
      indexPath: String): (Seq[Int], Seq[Seq[Double]]) = {
    // pin-aware (StableRead.readTable is a verbatim live read outside a
    // pinned scope, so writer-side callers are untouched)
    val rows = StableRead.readTable(spark, indexPath, "centroids")
      .orderBy(col("cell")).collect()
    (rows.map(_.getInt(0)).toSeq, rows.map(_.getSeq[Double](1)).toSeq)
  }

  /** Map a [[graft.functions.VecExprs.nearestCentroids]] POSITION
    * (0-based rank in the position-aligned table) to its cell id.
    */
  private[graft] def posToCell(pos: Column, cellIds: Seq[Int]): Column =
    element_at(typedLit(cellIds), pos + 1)

  /** Exactly-once STREAMING ingest into a persisted IVF index — the
    * dense twin of [[graft.operators.Retrieval.bm25StreamSink]]: each
    * micro-batch applies [[ivfAppend]]'s encode-and-assign (int8 when
    * `quantized`, PQ on an index with codebooks) under the recoverable
    * ingest protocol of [[EstateIngest]], so a foreachBatch re-delivery
    * after any crash converges to exactly one application. Centroids
    * are append-invariant, so the whole increment is tagged corpus part
    * files plus the commit marker — no swapped table. Wire with
    * `stream.writeStream.foreachBatch(ivfStreamSink(path, id, vec))`;
    * the q163 gate replays a phased corpus with a kill-restart, a
    * manufactured crash state, and a post-commit re-delivery, and pins
    * the final probe against q35's full IVF-in-SQL oracle.
    */
  def ivfStreamSink(
      indexPath: String,
      idCol: String,
      vecCol: String,
      quantized: Boolean = false): (DataFrame, Long) => Unit =
    (batch: DataFrame, batchId: Long) =>
      ivfIngestBatch(indexPath, batch, idCol, vecCol, batchId, quantized)

  /** The IVF index's ingest tables: batches land as tagged corpus parts
    * in the cell partitions.
    */
  private[operators] val IvfIngest = EstateIngest.Layout("ivfIngestBatch",
    tagged = Seq("corpus" -> "cell="))

  /** One recoverable, idempotent micro-batch apply ([[EstateIngest]]).
    * Public for recovery drills and manual replays.
    */
  def ivfIngestBatch(
      indexPath: String,
      batch: DataFrame,
      idCol: String,
      vecCol: String,
      batchId: Long,
      quantized: Boolean = false): Unit = {
    val spark = batch.sparkSession
    // one sink serves all three layouts. The layout resolves under the
    // ingest's (reentrant) locks but BEFORE its maintenance marker, so a
    // refused mis-flagged call leaves no crash state behind
    IvfIngest.locked(spark, indexPath) {
      val codec = ivfCodec(spark, indexPath, Some(quantized), "ivfIngestBatch")
      IvfIngest.ingest(spark, indexPath, batchId) { b =>
        // stage ivfAppend's encode-and-assign
        ivfAssign(indexPath, codec, batch, idCol, vecCol)
          .write.mode("overwrite").partitionBy("cell")
          .parquet(b.staged("corpus"))
        true
      }
    }
  }

  /** Retrain the coarse quantizer IN PLACE — the drift repair
    * [[ivfAppend]]'s scaladoc promises: appends assign to the index's
    * ORIGINAL centroids, so a corpus whose distribution moves (new
    * sources, new embedding regimes) piles its tail into a few giant
    * cells and the probe's COST MODEL decays — AnnRecall's drift arm
    * measures probes scanning 62% of the corpus against a designed 25%
    * (recall looks deceptively perfect exactly because the probe
    * degenerates toward a full scan; at equal cost it collapses).
    * Requantize
    * retrains on an md5(id)-ordered sample of the CURRENT corpus (the
    * same deterministic draw as [[trainIvfCentroids]] — id-order drift
    * is exactly what it must not mirror), re-assigns every row
    * cell-clustered into a temp generation, and swaps corpus +
    * centroid table in via [[graft.sinks.Sinks.swapByRename]]. Both
    * layouts work unchanged (the quantized columns are per-vector,
    * independent of cells); cell ids come out contiguous 0..nlist-1,
    * collapsing any [[ivfSplitCells]] gaps.
    *
    * Runs in the maintenance bracket ([[EstateIngest]]): the corpus and
    * centroid swaps are two steps a concurrent probe must not straddle
    * (rows placed by the new quantizer probed through the old centroids
    * silently lose recall), and the whole-corpus swap must not drop a
    * live ingest's parts landed after the corpus read. A crash leaves
    * the marker standing; the re-run retrains from the same rows (the
    * corpus CONTENT never changes here), reproduces the same centroids
    * deterministically, and converges both swaps.
    *
    * Cost: one full corpus read + cell-clustered write (a compact's
    * price) + the driver-side k-means on `sampleN` vectors. Schedule
    * with the drift, not the calendar: AnnRecall's drift arm measures
    * recall before/after on a deliberately drifted corpus.
    */
  def ivfRequantize(
      spark: org.apache.spark.sql.SparkSession,
      indexPath: String,
      nlist: Int,
      sampleN: Int = 4096,
      iters: Int = 8): Unit = {
    require(nlist > 0, s"ivfRequantize: nlist must be positive, got $nlist")
    IvfIngest.maintain(spark, indexPath, "ivfRequantize") {
      val hconf = spark.sessionState.newHadoopConf()
      val corpusCur = new org.apache.hadoop.fs.Path(s"$indexPath/corpus")
      val fs = corpusCur.getFileSystem(hconf)
      require(fs.exists(corpusCur), s"ivfRequantize: no corpus at $corpusCur")
      val corpus = spark.read.parquet(corpusCur.toString)
      val centroids = trainIvfCentroids(corpus, "id", "vec", nlist, sampleN, iters)
      val corpusTmp = new org.apache.hadoop.fs.Path(
        s"$indexPath/corpus_requant_tmp")
      corpus.drop("cell")
        .withColumn("cell", ivfCell(col("vec"), centroids))
        .repartition(col("cell"))
        .write.mode("overwrite").partitionBy("cell").parquet(corpusTmp.toString)
      val centTmp = new org.apache.hadoop.fs.Path(
        s"$indexPath/centroids_requant_tmp")
      centroidTable(spark, centroids)
        .write.mode("overwrite").parquet(centTmp.toString)
      graft.sinks.Sinks.swapByRename(fs, corpusTmp, corpusCur)
      graft.sinks.Sinks.swapByRename(fs, centTmp,
        new org.apache.hadoop.fs.Path(s"$indexPath/centroids"))
    }
  }

  /** Compact a [[buildIvfIndex]] index in place — the dense-side twin of
    * [[graft.operators.Retrieval.bm25Compact]]: every [[ivfAppend]]
    * lands its batch as new files inside the existing cell partitions,
    * so a long-lived index accumulates one file set per append and the
    * probe's cell reads decay into many small openings. The corpus
    * table rewrites CELL-CLUSTERED into a temp generation and swaps in
    * via [[graft.sinks.Sinks.swapByRename]] (backup rename first — a
    * crash leaves a complete old or new generation, never none; see
    * that scaladoc for the object-store caveat). Never
    * read-and-overwrite in one job. Centroids are append-invariant and
    * untouched. Assignment and scoring are file-layout-blind: a probe
    * after compact equals the probe before bit-for-bit (the q149 gate
    * pins it).
    */
  def ivfCompact(
      spark: org.apache.spark.sql.SparkSession, indexPath: String,
      gcKeepGenerations: Option[Int] = None): Unit =
    IvfIngest.maintain(spark, indexPath, "ivfCompact", gcKeepGenerations) {
      graft.sinks.Sinks.compactTable(spark, indexPath, "corpus", Some("cell"))
    }

  /** Probe a quantized ([[buildIvfIndex]] with `quantized`) index:
    * [[ivfTopKIndexed]]'s cell pruning composed with
    * [[quantizedTopK]]'s two stages. Stage 1 scores the probed cells'
    * candidates on the int8 forms only (cosine is scale-free, so the
    * approx score is intdot(qq,cq)/(sqrt(qq.qq)·sqrt(cq.cq)) — exact
    * int64 sums) and keeps k·rerankFactor per query; stage 2 re-scores
    * exactly those survivors with the exact float cosine from the SAME
    * pruned cells. The probed-cell set lands in both scans as a
    * partition filter (driver-derived from the query table — small by
    * the same contract as every probe). Reported sims are exact
    * cosines, so the q159 soundness gate can re-verify every hit
    * independently.
    */
  def ivfQTopKIndexed(
      indexPath: String,
      queries: DataFrame,
      qidCol: String,
      qvecCol: String,
      k: Int,
      nprobe: Int = 4,
      rerankFactor: Int = 4): DataFrame =
    ivfQTopKFederated(Seq(indexPath), queries, qidCol, qvecCol,
      k, nprobe, rerankFactor)

  /** Quantized-IVF top-k over the UNION of N persisted int8-layout
    * indexes WITHOUT merging — the production-layout form of
    * [[ivfTopKFederated]] (main+delta serving on the int8 index), and
    * [[twoStageTopK]] with the int8 stage 1. [[ivfQTopKIndexed]] IS
    * this at N=1. Under a shared quantizer ([[ivfInit]] shards) the
    * probed cells and candidate pools are identical to the merged
    * index's, so the result is bit-for-bit the merged probe
    * ([[FederatedProbeSpec]]); under distinct quantizers every
    * reported sim is still an exact cosine. Caller contract: id sets
    * pairwise disjoint.
    */
  def ivfQTopKFederated(
      paths: Seq[String],
      queries: DataFrame,
      qidCol: String,
      qvecCol: String,
      k: Int,
      nprobe: Int = 4,
      rerankFactor: Int = 4): DataFrame =
    twoStageTopK(paths, queries, qidCol, qvecCol, k, nprobe, rerankFactor,
      "ivfQTopKFederated")(_ => IvfCodec.Int8)

  /** The two-stage probe of the quantized layouts over N indexes — the
    * one body of [[ivfQTopKFederated]] and [[ivfPqTopKFederated]],
    * which differ only in the stage-1 scorer `codecAt` supplies per
    * index. Per index: probe with its OWN centroids, prune its corpus
    * to the probed cells (a partition filter on both scans), drop the
    * POOLED soft-delete overlay's ids ([[pooledOverlay]]), and score
    * the candidates on the stored codes alone (stage 1 never reads
    * `vec`). Then ONE global stage-1 ranking keeps k·rerankFactor per
    * query across ALL indexes' candidates — the rerank budget is
    * global, exactly as a merged index would spend it, NOT per-index (a
    * per-index budget would over-fetch N·k·rerankFactor and change the
    * result) — and stage 2 reranks those survivors on the exact float
    * cosine fetched from their home indexes' pruned cells.
    */
  private def twoStageTopK(
      paths: Seq[String],
      queries: DataFrame,
      qidCol: String,
      qvecCol: String,
      k: Int,
      nprobe: Int,
      rerankFactor: Int,
      op: String)(codecAt: String => TwoStageCodec): DataFrame = {
    require(paths.nonEmpty, s"$op: need >= 1 index path")
    require(k >= 1 && rerankFactor >= 1,
      s"k and rerankFactor must be >= 1, got k=$k rerankFactor=$rerankFactor")
    val spark = queries.sparkSession
    // the query-side float vec is named qv so the int8 codec's added
    // `qvec` column cannot collide with it
    val qs = queries.select(col(qidCol).as("qid"),
      col(qvecCol).cast("array<double>").as("qv"))
    val overlay = pooledOverlay(spark, paths)
    val perIndex = paths.map { indexPath =>
      val codec = codecAt(indexPath)
      val (cellIds, centroids) = loadCentroidTable(spark, indexPath)
      val prepped = codec.prepQueries(qs, indexPath)
      val probes = prepped.select(
        prepped.columns.filter(_ != "qv").map(col).toSeq :+ explode(transform(
          graft.functions.VecExprs.nearestCentroids(
            col("qv"), centroids, nprobe),
          p => posToCell(p, cellIds))).as("cell"): _*)
      // bounded driver read: the probed-cell VALUES (<= queries x nprobe),
      // pushed into both corpus scans as a partition filter
      val probedCells = probes.select(col("cell")).distinct()
        .collect().map(_.getInt(0).toLong).sorted
      val corpus0 = StableRead.readTable(spark, indexPath, "corpus")
        .filter(col("cell").isin(probedCells: _*))
      // soft-delete overlay: doomed ids leave BOTH stages' scans
      val corpus = overlay
        .map(d => corpus0.join(broadcast(d), Seq("id"), "left_anti"))
        .getOrElse(corpus0)
      val stage1 = corpus
        .select((col("id") +: codec.stage1Cols) :+ col("cell"): _*)
        .join(broadcast(probes), "cell")
        .filter(col("qid") =!= col("id"))
        .transform(codec.score)
        .select(col("qid"), col("id"), col("ascore"))
      (stage1, corpus.select(col("id"), col("vec")),
        prepped.select(col("qid"), col("qv")))
    }
    val wa = Window.partitionBy(col("qid")).orderBy(col("ascore").desc, col("id"))
    val cands = perIndex.map(_._1).reduce(_.unionByName(_))
      .withColumn("arank", row_number().over(wa))
      .filter(col("arank") <= k * rerankFactor)
      .select(col("qid"), col("id"))
    val we = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("id"))
    cands
      .join(perIndex.map(_._2).reduce(_.unionByName(_)), Seq("id"))
      .join(broadcast(perIndex.head._3), Seq("qid"))
      .withColumn("sim", cosine(col("vec"), col("qv")))
      .filter(col("sim").isNotNull)
      .withColumn("rank", row_number().over(we))
      .filter(col("rank") <= k)
      .select(col("qid"), col("id"), col("sim"), col("rank"))
  }

  // --------------------------------------------------------------------
  // PRODUCT-QUANTIZED IVF (round 19): m bytes per vector instead of one
  // byte per DIMENSION — dim/m-fold beyond the int8 index (dim 64 at
  // m=8: 32x vs float32, 64x vs the served float64), the codec that
  // keeps a 100 TB embedding estate's stage-1 working set in RAM.
  // --------------------------------------------------------------------

  /** Train per-subspace PQ codebooks: subspace s covers dims
    * [s*dsub, (s+1)*dsub), each trained by the SAME deterministic
    * Lloyd's recipe as [[trainIvfCentroids]] (md5-ordered sample,
    * evenly-spread init, empty clusters keep their centroid) on the
    * sample's subvectors. Returns [m][ksub][dsub]. `ksub <= 256` so a
    * code is one byte ([[graft.functions.PqExprs.PqEncode]]).
    */
  def trainPqCodebooks(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      m: Int,
      ksub: Int = 256,
      sampleN: Int = 4096,
      iters: Int = 8): Array[Array[Array[Double]]] = {
    require(m >= 1, s"trainPqCodebooks: m must be >= 1, got $m")
    require(ksub >= 1 && ksub <= 256,
      s"trainPqCodebooks: ksub must be in [1, 256], got $ksub")
    val sample = trainingSample(corpus, idCol, vecCol, sampleN)
    require(sample.length >= ksub,
      s"trainPqCodebooks: need >= $ksub sample vectors, got ${sample.length}")
    val dim = sample.head.length
    require(dim % m == 0,
      s"trainPqCodebooks: dim $dim not divisible by m=$m")
    val dsub = dim / m
    Array.tabulate(m)(s => lloyd(sample.map(v =>
      java.util.Arrays.copyOfRange(v, s * dsub, (s + 1) * dsub)), ksub, iters))
  }

  /** Build a persisted PRODUCT-QUANTIZED IVF index — the quantized
    * layout with the int8 columns replaced by an m-byte `pqcode`:
    *
    *   - `centroids/` (cell, centroid) — the coarse quantizer, verbatim;
    *   - `codebooks/` (sub, code, cw, n2) — m*ksub codewords with their
    *     squared norms (n2 feeds the probe's reconstructed-norm table);
    *   - `corpus/` (id, vec, pqcode | cell) — cell-partitioned; stage 1
    *     reads (id, pqcode) of the probed cells ONLY (partition x
    *     column pruning — at m=8 over dim-64 float64 vectors the
    *     stage-1 candidate bytes drop ~64x vs the float scan and ~8x vs
    *     the int8 index), stage 2 exact-reranks from the same cells'
    *     `vec`.
    *
    * [[buildIvfIndex]]'s build body with the codebooks trained on the
    * same (id, vec) projection. Same maintenance surface as the other
    * IVF layouts: compact / delete / vacuum / split are layout-blind
    * (whole-row rewrites), [[ivfAppend]] encodes under the persisted
    * codebooks, fsck re-derives the codes.
    */
  def buildIvfPqIndex(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      nlist: Int,
      m: Int,
      path: String,
      ksub: Int = 256,
      sampleN: Int = 4096): Unit =
    buildIvf(corpus, idCol, vecCol, nlist, path, sampleN)(vecs =>
      IvfCodec.Pq(trainPqCodebooks(vecs, "id", "vec", m, ksub, sampleN)))

  /** The persisted codebooks, position-aligned: (m, ksub, [m][ksub]
    * codewords). Bounded driver read (m*ksub*dsub doubles — KBs). */
  private[graft] def loadPqCodebooks(
      spark: org.apache.spark.sql.SparkSession,
      path: String): (Int, Int, Array[Array[Array[Double]]]) = {
    val rows = spark.read.parquet(s"$path/codebooks")
      .select(col("sub").cast("int"), col("code").cast("int"), col("cw"))
      .collect()
    require(rows.nonEmpty, s"loadPqCodebooks: empty codebooks at $path")
    val m = rows.map(_.getInt(0)).max + 1
    val ksub = rows.map(_.getInt(1)).max + 1
    require(rows.length == m * ksub,
      s"loadPqCodebooks: ragged codebooks at $path " +
        s"(${rows.length} rows for m=$m ksub=$ksub)")
    val books = Array.ofDim[Array[Double]](m, ksub)
    rows.foreach(r =>
      books(r.getInt(0))(r.getInt(1)) = r.getSeq[Double](2).toArray)
    (m, ksub, books.map(_.map(identity)))
  }

  def ivfPqTopKIndexed(
      indexPath: String,
      queries: DataFrame,
      qidCol: String,
      qvecCol: String,
      k: Int,
      nprobe: Int = 4,
      rerankFactor: Int = 4): DataFrame =
    ivfPqTopKFederated(Seq(indexPath), queries, qidCol, qvecCol,
      k, nprobe, rerankFactor)

  /** PQ-IVF top-k over N indexes without merging — [[twoStageTopK]]
    * with ADC scoring as stage 1 (the [[IvfCodec.Pq]] scorer under each
    * index's own codebooks): per query and index ONE lookup table of
    * <q_sub, codeword> partial inner products, and a candidate scored
    * by m table lookups for the inner product and m for the
    * reconstructed norm ([[graft.functions.PqExprs.PqAdcScore]] serves
    * both). Stage 1 reads (id, pqcode) of the probed cells only;
    * reported sims are exact float cosines, so the q207 soundness gate
    * re-verifies every hit independently.
    */
  def ivfPqTopKFederated(
      paths: Seq[String],
      queries: DataFrame,
      qidCol: String,
      qvecCol: String,
      k: Int,
      nprobe: Int = 4,
      rerankFactor: Int = 4): DataFrame =
    twoStageTopK(paths, queries, qidCol, qvecCol, k, nprobe, rerankFactor,
      "ivfPqTopKFederated")(p =>
      IvfCodec.Pq(loadPqCodebooks(queries.sparkSession, p)._3))

  /** Predict a takedown batch's [[ivfDelete]] footprint BEFORE
    * executing it — the dense twin of
    * [[graft.operators.Retrieval.bm25DeleteBatchPlan]], for the same
    * takedown-queue batching decision. One row: `n_doomed_vectors`
    * (corpus hits), `n_affected_cells` (the cells [[ivfDelete]] would
    * rewrite — derived from the same corpus join deleteRows prunes
    * by, so prediction == execution footprint), `n_cells` (live cell
    * partitions), `affected_fraction`. Cheaper than the lexical plan
    * by construction: a vector lives in exactly ONE cell, so a
    * takedown batch's footprint is ≤ its vector count (a doc's terms
    * hash-spread across many buckets; a vector never spreads). Scan
    * cost is one column-pruned (id, cell) pass. Works on both the
    * float and quantized layouts.
    */
  def ivfDeleteBatchPlan(
      spark: org.apache.spark.sql.SparkSession,
      indexPath: String,
      keys: DataFrame,
      keyCol: String): DataFrame = {
    val k = broadcast(keys.select(col(keyCol).as("id")).distinct())
    val corpus = spark.read.parquet(s"$indexPath/corpus")
      .select(col("id"), col("cell"))
    val nCells = corpus.agg(count_distinct(col("cell")).as("n")).scalar()
    corpus.join(k, "id")
      .agg(
        count(lit(1)).as("n_doomed_vectors"),
        count_distinct(col("cell")).as("n_affected_cells"))
      .select(
        col("n_doomed_vectors"),
        col("n_affected_cells"),
        nCells.as("n_cells"),
        (col("n_affected_cells").cast("double") / nCells.cast("double"))
          .as("affected_fraction"))
  }

  /** Targeted deletion from a persisted [[buildIvfIndex]] index — the
    * dense-side twin of [[graft.operators.Retrieval.bm25Delete]]: a
    * takedown propagated into the derived ANN artifact, not just the
    * corpus. The cell-partitioned corpus table IS a partitioned parquet
    * layout keyed by id, so deletion is exactly
    * [[graft.sinks.Sinks.deleteRows]]: only the cells that actually
    * hold doomed vectors rewrite (partition-pruned), untouched cells
    * keep their physical files byte-identical, fully-doomed cells are
    * removed. Centroids are untouched — deletion, like append, does
    * not retrain the quantizer (surviving vectors stay in their
    * nearest-EXISTING-cell, so probes remain correct; only cell
    * balance drifts under sustained churn, the documented
    * rebuild-when-drifted bound shared with [[ivfAppend]]). A probe
    * after delete sees exactly the surviving vectors (the q156 gate
    * pins the corpus against the anti-joined assignment and the probe
    * against doomed-free results). Same single-writer contract as
    * deleteRows. Returns the number of vectors deleted.
    */
  def ivfDelete(
      spark: org.apache.spark.sql.SparkSession,
      indexPath: String,
      keys: DataFrame,
      keyCol: String): Long =
    IvfIngest.maintain(spark, indexPath, "ivfDelete") {
      val n = graft.sinks.Sinks.deleteRows(
        spark, s"$indexPath/corpus", "cell", "id",
        keys.select(col(keyCol).as("id")))
      // a physical delete compacts any soft-delete overlay covering
      // these ids (Tombstones scaladoc)
      Tombstones.clear(spark, indexPath, keys, keyCol)
      n
    }

  /** Physically apply the index's entire soft-delete overlay — the
    * dense twin of [[graft.operators.Retrieval.bm25Vacuum]]: one
    * [[ivfDelete]] over the overlay's ids ([[EstateIngest.vacuum]]).
    * Returns vectors removed (0 when no overlay).
    */
  def ivfVacuum(
      spark: org.apache.spark.sql.SparkSession,
      indexPath: String,
      gcKeepGenerations: Option[Int] = None): Long =
    EstateIngest.vacuum(spark, indexPath, gcKeepGenerations)(
      ivfDelete(spark, indexPath, _, _))

  /** Read-only costing twin of [[ivfSplitCells]] (the
    * [[graft.operators.Retrieval.bm25DeleteBatchPlan]] pattern): the
    * cells a split at `maxCellRows` would rewrite, with their row
    * counts — what a maintenance scheduler reads to decide WHEN to
    * rebalance and how much IO it buys. One row per oversized cell
    * (cell, n_rows), empty = balanced. Derived from the same per-cell
    * counts the split thresholds on, so prediction == execution
    * footprint exactly.
    */
  def ivfSplitPlan(
      spark: org.apache.spark.sql.SparkSession,
      indexPath: String,
      maxCellRows: Long): DataFrame = {
    require(maxCellRows >= 1, s"ivfSplitPlan: maxCellRows must be >= 1")
    spark.read.parquet(s"$indexPath/corpus")
      .groupBy(col("cell")).agg(count(lit(1)).as("n_rows"))
      .filter(col("n_rows") > maxCellRows)
      .orderBy(col("cell"))
  }

  /** Rebalance a persisted IVF index by SPLITTING oversized cells — the
    * maintenance operator that completes the index lifecycle
    * (build/append/ingest/compact/delete/merge/SPLIT). Sustained
    * [[ivfAppend]]/[[ivfStreamSink]] churn under data drift piles new
    * vectors into the cells nearest the drifted distribution; probe
    * cost is `nprobe/nlist` of the corpus ONLY while cells stay
    * balanced, so the hot cells must split WITHOUT the full retrain a
    * 100 TB index cannot afford. Each cell with more than `maxCellRows`
    * rows gets a local 2-means ([[trainIvfCentroids]] on that cell's
    * own vectors, k=2), its rows reassign to the nearer child, and the
    * parent centroid is replaced by the two children — footprint ∝ the
    * hot cells' bytes, every balanced cell byte-identical. Probes stay
    * sound unchanged (hits are exact-cosine-verified members of probed
    * cells — the q168 gate runs the q159 soundness body over a split
    * index); recall is preserved by locality (a split cell's rows stay
    * under centroids INSIDE that cell's region, so a query probing that
    * region probes the children; the spec pins every row to its nearer
    * child and planted-partner recall across the split). Cells whose
    * content is one repeated point may split lopsided — balance is
    * content-bound; the operator guarantees footprint and soundness.
    *
    * Crash discipline (same recoverable shape as the ingest sinks,
    * ordered so every instant serves a complete index): (1) ORPHAN
    * CLEANUP — any `cell=` directory whose id is not in the centroid
    * table is a dark remnant of a crashed split (children landed but
    * centroids never swapped, or parents awaiting deletion after the
    * swap) and is deleted, converging the index to a consistent state;
    * (2) children stage to a temp dir and rename into `corpus/` while
    * the PARENT centroid still serves probes (the new cells are dark
    * until the swap — duplicated rows are unreachable, not double-
    * scanned); (3) the centroid table swaps via
    * [[graft.sinks.Sinks.swapByRename]] (backup-first), atomically
    * retiring parents and activating children; (4) parent cell dirs
    * delete. A crash between any two steps converges at the next
    * split's cleanup. Same single-writer window as every mutating
    * index op. Returns (parentCell, childA, childB) per split.
    *
    * Layout-blind like [[ivfDelete]]: rows rewrite with ALL their
    * columns, so the float, int8 and PQ layouts all split unchanged
    * (the quantized split is spec-pinned).
    */
  def ivfSplitCells(
      spark: org.apache.spark.sql.SparkSession,
      indexPath: String,
      maxCellRows: Long,
      sampleN: Int = 4096): Seq[(Int, Int, Int)] = {
    require(maxCellRows >= 1, s"ivfSplitCells: maxCellRows must be >= 1")
    val hconf = spark.sessionState.newHadoopConf()
    val corpusPath = new org.apache.hadoop.fs.Path(s"$indexPath/corpus")
    val fs = corpusPath.getFileSystem(hconf)
    if (!fs.exists(corpusPath)) Seq.empty
    else IvfIngest.maintain(spark, indexPath, "ivfSplitCells") {
    // centroid table: bounded driver collect (nlist rows)
    val (currentIds, currentCents) = loadCentroidTable(spark, indexPath)
    val current = currentIds.zip(currentCents)
    val known = current.map(_._1).toSet
    // (1) orphan cleanup — see scaladoc
    fs.listStatus(corpusPath).foreach { st =>
      val name = st.getPath.getName
      if (st.isDirectory && name.startsWith("cell=") &&
          !known.contains(name.stripPrefix("cell=").toInt))
        require(fs.delete(st.getPath, true),
          s"ivfSplitCells: cannot drop orphan ${st.getPath}")
    }
    val hot = spark.read.parquet(corpusPath.toString)
      .groupBy(col("cell")).agg(count(lit(1)).as("n"))
      .filter(col("n") > maxCellRows)
      .orderBy(col("cell"))
      .collect().map(_.getInt(0)).toSeq // bounded: ≤ nlist
    if (hot.isEmpty) Seq.empty else {
    var nextId = known.max + 1
    val splits = hot.map { parent =>
      val rows = spark.read.parquet(corpusPath.toString)
        .filter(col("cell") === parent) // partition-pruned slice
      val children = trainIvfCentroids(rows, "id", "vec", 2, sampleN)
      val (a, b) = (nextId, nextId + 1)
      nextId += 2
      // (2) stage the reassigned rows, rename in while parents serve
      val tmp = s"$indexPath/_split_${parent}_tmp"
      val tmpPath = new org.apache.hadoop.fs.Path(tmp)
      if (fs.exists(tmpPath))
        require(fs.delete(tmpPath, true), s"ivfSplitCells: cannot drop $tmp")
      rows
        .withColumn("__child", element_at(
          graft.functions.VecExprs.nearestCentroids(
            col("vec"), children.map(_.toSeq).toSeq, 1), 1))
        .withColumn("cell",
          when(col("__child") === 0, lit(a)).otherwise(lit(b)))
        .drop("__child")
        .repartition(col("cell"))
        .write.mode("overwrite").partitionBy("cell").parquet(s"$tmp/corpus")
      graft.sinks.Sinks.copyParquetParts(
        fs, hconf, s"$tmp/corpus", corpusPath.toString, "cell=",
        s"split$parent", move = true)
      fs.delete(tmpPath, true)
      (parent, a, b, children(0).toSeq, children(1).toSeq)
    }
    // (3) one centroid swap activates every split at once
    val splitSet = splits.map(_._1).toSet
    val updated = current.filterNot(c => splitSet.contains(c._1)) ++
      splits.flatMap(s => Seq((s._2, s._4), (s._3, s._5)))
    val ctmp = new org.apache.hadoop.fs.Path(s"$indexPath/centroids_split_tmp")
    centroidTable(spark, updated)
      .write.mode("overwrite").parquet(ctmp.toString)
    graft.sinks.Sinks.swapByRename(
      fs, ctmp, new org.apache.hadoop.fs.Path(s"$indexPath/centroids"))
    // (4) retire the parents — to the pinned-reader retention area on
    // manifest-managed estates (a reader pinned pre-split still probes
    // the parent cells), plain delete on legacy roots
    if (StableRead.manifestManaged(
        fs, new org.apache.hadoop.fs.Path(indexPath)))
      StableRead.retirePartitions(fs, indexPath, "corpus",
        splits.map(s => s"cell=${s._1}"))
    else splits.foreach { s =>
      val p = new org.apache.hadoop.fs.Path(s"$corpusPath/cell=${s._1}")
      if (fs.exists(p))
        require(fs.delete(p, true), s"ivfSplitCells: cannot drop $p")
    }
    splits.map(s => (s._1, s._2, s._3))
    }
    }
  }

  /** Query a [[buildIvfIndex]] index: same semantics as [[ivfTopK]] with
    * identical parameters (the quantizer training is deterministic, so
    * the direct and indexed forms return IDENTICAL rows — spec-pinned),
    * but the corpus side is the persisted cell-partitioned table and the
    * probe join prunes to the probed cells' partitions.
    */
  def ivfTopKIndexed(
      indexPath: String,
      queries: DataFrame,
      qidCol: String,
      qvecCol: String,
      k: Int,
      nprobe: Int = 4): DataFrame = {
    val candidates = ivfProbeCandidates(indexPath, queries, qidCol, qvecCol,
      nprobe, Tombstones.read(queries.sparkSession, indexPath))
    val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("id"))
    candidates
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("id"), col("sim"), col("rank"))
  }

  /** The POOLED soft-delete overlay of a federated index set: the union
    * of every path's [[Tombstones]] list — mirroring
    * [[graft.operators.Retrieval.bm25TopKFederated]]'s semantics and
    * [[ivfMerge]]'s overlay carry, so a stray tombstone recorded in one
    * shard for an id living in another is honored federated exactly as
    * it would be by the merged index (the bit-for-bit contract).
    */
  private def pooledOverlay(
      spark: org.apache.spark.sql.SparkSession,
      paths: Seq[String]): Option[DataFrame] = {
    val overlays = paths.flatMap(p => Tombstones.read(spark, p))
    if (overlays.isEmpty) None
    else Some(overlays.reduce(_.unionByName(_)).distinct())
  }

  /** The exact-cosine-scored candidates of ONE index's nprobe-pruned
    * cells — the shared probe body of [[ivfTopKIndexed]] and
    * [[ivfTopKFederated]] (one candidate arithmetic, so the federated
    * form cannot drift from the single-index form). Float layout
    * ([[buildIvfIndex]]); probes with the index's OWN centroid table.
    */
  private def ivfProbeCandidates(
      indexPath: String,
      queries: DataFrame,
      qidCol: String,
      qvecCol: String,
      nprobe: Int,
      overlay: Option[DataFrame]): DataFrame = {
    val spark = queries.sparkSession
    val (cellIds, centroids) = loadCentroidTable(spark, indexPath)
    // soft-deleted vectors leave the candidate set via a broadcast
    // anti-join (exact trivially — cosine has no global statistics);
    // no overlay = no added work (Tombstones scaladoc). The overlay is
    // the CALLER's: the single-index probe passes its own list, the
    // federated probe the pooled union ([[pooledOverlay]]).
    val c0 = StableRead.readTable(spark, indexPath, "corpus")
    val c = overlay
      .map(d => c0.join(broadcast(d), Seq("id"), "left_anti"))
      .getOrElse(c0)
    val probes = queries
      .select(col(qidCol).as("qid"), col(qvecCol).cast("array<double>").as("qvec"))
      .select(
        col("qid"), col("qvec"),
        explode(transform(graft.functions.VecExprs.nearestCentroids(
          col("qvec"), centroids, nprobe),
          p => posToCell(p, cellIds))).as("cell"))
    // score FIRST, then project to (qid, id, sim) BEFORE the dedup (and
    // the caller's top-k window) shuffle: a candidate row otherwise
    // carries BOTH dim-wide vectors through two exchanges (dedup +
    // window), which at probe fan-out scale shuffles ~128x the bytes
    // the decision needs (guide §2.3 "project before the exchange" /
    // §8 "move big rows once"). Equivalent output: sim is a pure
    // function of the pair, so dedup-then-score and score-then-dedup
    // keep identical rows (q203's full-corpus self-probe: 14.8 s of
    // vector-payload exchange -> sub-second narrow exchange).
    probes.join(c, "cell")
      .filter(col("qid") =!= col("id"))
      .withColumn("sim", cosine(col("vec"), col("qvec")))
      .filter(col("sim").isNotNull)
      .select(col("qid"), col("id"), col("sim"))
      .dropDuplicates("qid", "id")
  }

  /** IVF top-k over the UNION of N persisted float-layout indexes
    * WITHOUT merging them — the dense twin of
    * [[graft.operators.Retrieval.bm25TopKFederated]] and the
    * main+delta ANN serving architecture: queries see a standing base
    * index plus the fresh delta a stream is feeding as one corpus,
    * while [[ivfMerge]] stays a maintenance-window operator off the
    * query path.
    *
    * Each index is probed with its OWN centroid table (nprobe cells
    * each), candidates union, and ONE global top-k ranks the exact
    * cosines. The indexes need NOT share a quantizer for the probe to
    * be sound — every candidate is exact-scored — but when they DO
    * share one (the [[ivfInit]] shard flow), the probed cells and
    * therefore the candidate set are IDENTICAL to a probe of the
    * merged index, so the result is bit-for-bit the merged probe
    * ([[FederatedProbeSpec]] pins that and the N=1 ==
    * [[ivfTopKIndexed]] identity; the q174 gate pins 4 shared-quantizer
    * shards against the full-IVF-in-SQL oracle). Under distinct
    * quantizers recall follows each index's own banding curve. Caller
    * contract: id sets pairwise disjoint.
    */
  def ivfTopKFederated(
      paths: Seq[String],
      queries: DataFrame,
      qidCol: String,
      qvecCol: String,
      k: Int,
      nprobe: Int = 4): DataFrame = {
    require(paths.nonEmpty, "ivfTopKFederated: need >= 1 index path")
    val overlay = pooledOverlay(queries.sparkSession, paths)
    val candidates = paths
      .map(p => ivfProbeCandidates(p, queries, qidCol, qvecCol, nprobe, overlay))
      .reduce(_.unionByName(_))
      .dropDuplicates("qid", "id")
    val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("id"))
    candidates
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("id"), col("sim"), col("rank"))
  }

  /** Embedding-cosine near-duplicate pairs: banded multi-table hyperplane
    * LSH for candidates, exact cosine verification. The embedding analogue
    * of Dedup.minhashNearDuplicates, with the same banding structure: two
    * vectors are candidates iff they agree on ALL `bitsPerBand` sign bits of
    * at least one of `bands` tables.
    *
    * Why banded rather than one bucket table at fixed nbits: a single table
    * couples recall and bucket size — more bits shrink buckets but lose
    * recall, fewer bits keep recall but make within-bucket pair generation
    * quadratic as the corpus grows. Banding decouples them: `bitsPerBand`
    * controls bucket population (random-pair collision ~2^-bitsPerBand per
    * band, so buckets stay small as bits grow), `bands` restores recall
    * (P[candidate] = 1 - (1 - p^bitsPerBand)^bands with p the per-bit
    * agreement probability 1 - theta/pi). Defaults give >0.98 recall at
    * cosine 0.95 while a random pair collides in a band with p ~ 1/256.
    *
    * Scale: the band explode shuffles (band, bkey, id) rows — O(bands) per
    * doc, never the vectors; vectors travel only into the bounded verify
    * joins by id (same persist/join-back shape as minhashNearDuplicates).
    */
  // ---- shared banded-LSH core (cosineNearDuplicates + Against) ----------

  /** (id, vec double[]) prep, persisted — each side feeds its band
    * explode AND a verify join (the jaccardPairs lifetime contract:
    * long-lived sessions bound it with CacheScope.scoped; scope-free
    * callers like Bench clear the cache between queries).
    */
  private def prepVecs(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    df.select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("vec"))
      .transform(graft.CacheScope.persisted)

  /** (id, band, bkey) — one custom expression computes every band's key
    * (VecExprs: the HOF-per-plane form made Catalyst analysis itself the
    * bottleneck); the join is on (band, bkey), so the raw bit-pattern
    * key suffices.
    */
  private def bandedKeys(
      docs: DataFrame, dim: Int, bands: Int, bitsPerBand: Int,
      seed: Long): DataFrame =
    docs.select(
      col("id"),
      posexplode(graft.functions.VecExprs.hyperplaneBandKeys(
        col("vec"), dim, bands, bitsPerBand, seed))
        .as(Seq("band", "bkey")))

  /** Exact-cosine verification of (id_a, id_b) candidates against the
    * two prepped vector frames; emits pairs clearing the threshold.
    */
  private def verifyCosine(
      candidates: DataFrame, docsA: DataFrame, docsB: DataFrame,
      threshold: Double): DataFrame =
    candidates
      .join(docsA.select(col("id").as("id_a"), col("vec").as("vec_a")), "id_a")
      .join(docsB.select(col("id").as("id_b"), col("vec").as("vec_b")), "id_b")
      .withColumn("sim", cosine(col("vec_a"), col("vec_b")))
      .filter(col("sim") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("sim"), 4).as("sim"))

  def cosineNearDuplicates(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      threshold: Double = 0.95,
      bands: Int = 8,
      bitsPerBand: Int = 8,
      seed: Long = 42L): DataFrame = {
    val docs = prepVecs(df, idCol, vecCol)
    val banded = bandedKeys(docs, dim, bands, bitsPerBand, seed)
    val candidates = banded.select(col("band"), col("bkey"), col("id").as("id_a"))
      .join(banded.select(col("band"), col("bkey"), col("id").as("id_b")),
        Seq("band", "bkey"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .dropDuplicates("id_a", "id_b")
    verifyCosine(candidates, docs, docs, threshold)
  }

  /** Cross-set embedding near-duplicate join: corpus vectors whose cosine
    * with ANY reference vector clears `threshold` — the embedding member
    * of the decontamination family (q50/q60 exact grams, q88 token-set
    * Jaccard, q91 contiguous passages; this catches SEMANTIC restatements
    * none of those see). Both sides band under the SAME hyperplanes
    * (same seed/dim/bands/bits), so an identical vector pair agrees on
    * every band and is found with probability 1 — the replay-exactness
    * completeness anchor q93 gates on.
    *
    * Scale shape is [[cosineNearDuplicates]]': (band, bkey, id) through
    * the exchange, vectors only into the bounded verify joins; the
    * reference side's banded keys are broadcast-sized for any curated
    * benchmark suite.
    */
  def cosineNearDuplicatesAgainst(
      corpus: DataFrame,
      reference: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      threshold: Double = 0.95,
      bands: Int = 8,
      bitsPerBand: Int = 8,
      seed: Long = 42L): DataFrame = {
    val corpusDocs = prepVecs(corpus, idCol, vecCol)
    val refDocs = prepVecs(reference, idCol, vecCol)
    val candidates = bandedKeys(corpusDocs, dim, bands, bitsPerBand, seed)
      .select(col("band"), col("bkey"), col("id").as("id_a"))
      .join(bandedKeys(refDocs, dim, bands, bitsPerBand, seed)
        .select(col("band"), col("bkey"), col("id").as("id_b")),
        Seq("band", "bkey"))
      .select(col("id_a"), col("id_b"))
      .dropDuplicates("id_a", "id_b")
    verifyCosine(candidates, corpusDocs, refDocs, threshold)
  }

  /** Semantic deduplication (the published SemDeDup shape, Abbas et al.
    * 2023): k-means-cluster the embedding space with the IVF coarse
    * quantizer, find cosine-similar pairs WITHIN each cluster, and keep
    * one representative (min id) per near-duplicate group. Returns
    * (id, cell, keep) for every input document.
    *
    * Scale: the within-cell pair join is the technique's defining
    * trade-off — candidate volume is sum over cells of |cell|^2, bounded
    * by choosing nlist so cells stay ~constant-sized (nlist grows with
    * the corpus; the paper runs 50k clusters over LAION). The join is an
    * equi-join on cell (never a cross join), vectors shuffle once keyed
    * by cell, and grouping near-dups uses connectedComponents' hybrid
    * union-find/contraction. Cluster assignment is the one approximation:
    * a near-dup pair split across cells is missed (same recall contract
    * as every ANN method here; recall is spec-pinned on planted data).
    */
  def semanticDedup(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      nlist: Int = 64,
      sampleN: Int = 4096,
      iters: Int = 8): DataFrame = {
    val centroids = trainIvfCentroids(df, idCol, vecCol, nlist, sampleN, iters)
    val assigned = df
      .select(col(idCol).cast("long").as("id"),
        col(vecCol).cast("array<double>").as("v"))
      .withColumn("cell", ivfCell(col("v"), centroids))
      .transform(graft.CacheScope.persisted)
    val a = assigned.select(col("cell"), col("id").as("id_a"), col("v").as("va"))
    val b = assigned.select(col("cell"), col("id").as("id_b"), col("v").as("vb"))
    val pairs = a.join(b, Seq("cell"))
      .filter(col("id_a") < col("id_b"))
      .filter(cosine(col("va"), col("vb")) >= threshold)
      .select(col("id_a"), col("id_b"))
    val losers = Dedup.connectedComponents(pairs, "id_a", "id_b")
      .filter(col("id") =!= col("component"))
      .select(col("id"), lit(false).as("keep"))
    assigned.select(col("id"), col("cell"))
      .join(losers, Seq("id"), "left")
      .select(col("id"), col("cell"),
        coalesce(col("keep"), lit(true)).as("keep"))
  }

  /** Two-stage top-k over an int8-quantized corpus: stage 1 scores every
    * (query, vector) pair on the QUANTIZED forms — cosine is
    * scale-free (dot(s_q·qq, s_v·qv) / (|s_q·qq|·|s_v·qv|) cancels both
    * scales), so the approximate score is intdot(qq,qv) /
    * (√intdot(qq,qq)·√intdot(qv,qv)) where all three dots are EXACT
    * int64 sums (|q| <= 127 → per-term <= 16129, no overflow at any
    * realistic dim) — and keeps the top k·rerankFactor per query;
    * stage 2 re-scores only those candidates with the exact float
    * cosine and re-ranks to the final k.
    *
    * The 100 TB shape: the stage-1 scan touches ONLY the int8 corpus —
    * 4x less bandwidth than float32 and 8x less than float64, which is
    * the difference between a memory-resident and a disk-bound pass —
    * while float vectors are fetched for k·rerankFactor rows per query
    * via an id-equi-join (never scanned). Like [[bruteForceTopK]] the
    * query set must be broadcastable; the quantized scan composes with
    * the IVF/LSH pruning operators when it is not. Every stage-1 score
    * is integer-exact and every stage-2 cosine is a deterministic
    * per-pair fold, so the whole two-stage pipeline is SQL-replicable
    * (q101).
    */
  /** Exact int64 dot product of two int8-quantized vectors (|q| <= 127
    * -> per-term <= 16129: no overflow at any realistic dim). Shared by
    * [[quantizedTopK]] and the persisted [[ivfQTopKIndexed]] probe.
    */
  private[graft] def intDot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("long") * y),
      lit(0L), (s, x) => s + x)

  def quantizedTopK(
      corpus: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, qidCol: String, qvecCol: String,
      k: Int, rerankFactor: Int = 4): DataFrame = {
    require(k >= 1 && rerankFactor >= 1,
      s"k and rerankFactor must be >= 1, got k=$k rerankFactor=$rerankFactor")
    def q8(df: DataFrame, id: String, vec: String, p: String) =
      quantizeEmbeddings(df.select(col(id), col(vec)), vec)
        .select(col(id), col(vec), col("qvec"))
        .withColumn(s"${p}n2", intDot(col("qvec"), col("qvec")))
        .filter(col(s"${p}n2") > 0) // zero vectors have no direction
    val c = q8(corpus, idCol, vecCol, "c")
      .select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("vec"),
        col("qvec").as("cq"), col("cn2"))
    val qs = q8(queries, qidCol, qvecCol, "q")
      .select(col(qidCol).as("qid"), col(qvecCol).cast("array<double>").as("qv"),
        col("qvec").as("qq"), col("qn2"))
    val approx = c.select(col("id"), col("cq"), col("cn2"))
      .join(broadcast(qs.select(col("qid"), col("qq"), col("qn2"))))
      .filter(col("qid") =!= col("id"))
      .withColumn("ascore",
        intDot(col("cq"), col("qq")).cast("double") /
          (sqrt(col("cn2").cast("double")) * sqrt(col("qn2").cast("double"))))
    val wa = Window.partitionBy(col("qid")).orderBy(col("ascore").desc, col("id"))
    val cands = approx
      .withColumn("arank", row_number().over(wa))
      .filter(col("arank") <= k * rerankFactor)
      .select(col("qid"), col("id"))
    val we = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("id"))
    cands
      .join(c.select(col("id"), col("vec")), Seq("id"))
      .join(broadcast(qs.select(col("qid"), col("qv"))), Seq("qid"))
      .withColumn("sim", cosine(col("vec"), col("qv")))
      .filter(col("sim").isNotNull)
      .withColumn("rank", row_number().over(we))
      .filter(col("rank") <= k)
      .select(col("qid"), col("id"), col("sim"), col("rank"))
  }

  /** Symmetric per-vector int8 quantization of an embedding column — the
    * 4x-vs-float32 / 8x-vs-float64 memory cut that lets a 100 TB
    * embedding store fit its ANN working set in executor RAM: per vector,
    * scale = max|x| / 127 and q_i = floor(x_i/scale + 0.5) ∈ [-127, 127].
    * floor(x + 0.5) is the ENGINE-PORTABLE rounding — a single exact IEEE
    * comparison-free op in every engine, where `round()` conventions
    * (half-even vs half-away) differ; scale and each q_i are one IEEE
    * division/multiply on exact inputs, so a SQL oracle replicates the
    * whole codec bit-for-bit. Zero vectors quantize to all-zeros with
    * scale 0. Adds `scale`, `qvec` (array<int>), and `max_abs_err` (the
    * largest per-dimension reconstruction error |x - q*scale|, which is
    * <= scale/2 by construction — the corpus-wide bound the q99 gate
    * checks). Pure map-side projection: no shuffle, no UDF, codegen'd
    * array lambdas only.
    */
  def quantizeEmbeddings(df: DataFrame, vecCol: String): DataFrame = {
    val v = col(vecCol).cast("array<double>")
    df.withColumn("scale",
        aggregate(v, lit(0d), (m, x) => greatest(m, abs(x))) / lit(127d))
      .withColumn("qvec",
        when(col("scale") === 0d, transform(v, x => lit(0)))
          .otherwise(transform(v,
            x => floor(x / col("scale") + lit(0.5d)).cast("int"))))
      .withColumn("max_abs_err",
        when(col("scale") === 0d, lit(0d))
          .otherwise(aggregate(
            zip_with(v, col("qvec"),
              (x, q) => abs(x - q.cast("double") * col("scale"))),
            lit(0d), (m, e) => greatest(m, e))))
  }

  /** Per-group centroid-distance outliers: embeddings far from their
    * group's mean vector — the standard embedding-space screen for
    * mislabeled / out-of-distribution documents before a group's corpus
    * slice feeds training. For each group: centroid = per-dimension
    * mean, d(v) = ||v − centroid||₂, z(v) = (d − mean(d)) / stddev_pop(d),
    * and the topK most-distant members are emitted with rank, distance
    * and z-score.
    *
    * Plan/scale: centroids come from ONE shuffle of exploded
    * (group, dim, x) triples — never a collect, never an array-agg of
    * the group (a 10-B-vector group still reduces to dims×groups rows).
    * The centroid table (groups × dims rows) broadcasts back onto the
    * exploded stream, distances reduce per (group, id), the group's
    * distance moments ride a second vocabulary-sized aggregate joined
    * back (groups rows, broadcast), and the per-group top-k is the
    * WindowGroupLimit shape. Vectors themselves cross no exchange.
    */
  def centroidOutliers(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      groupCol: String,
      topK: Int): DataFrame = {
    require(topK > 0, s"topK must be positive, got $topK")
    val dims = df.select(
        col(groupCol).as("grp"), col(idCol).as("id"),
        posexplode(col(vecCol).cast("array<double>")).as(Seq("dim", "x")))
      .transform(graft.CacheScope.persisted(_))
    val centroids = dims.groupBy(col("grp"), col("dim"))
      .agg(avg(col("x")).as("c"))
    val dist = dims
      .join(broadcast(centroids), Seq("grp", "dim"))
      .groupBy(col("grp"), col("id"))
      .agg(sqrt(sum((col("x") - col("c")) * (col("x") - col("c")))).as("d"))
      .transform(graft.CacheScope.persisted(_))
    val moments = dist.groupBy(col("grp"))
      .agg(avg(col("d")).as("mean_d"), stddev_pop(col("d")).as("sd_d"))
    val w = Window.partitionBy(col("grp")).orderBy(col("d").desc, col("id"))
    dist.join(broadcast(moments), "grp")
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= topK)
      .select(
        col("grp"), col("rnk"), col("id"),
        round(col("d"), 4).as("dist"),
        round(when(col("sd_d") > 0d, (col("d") - col("mean_d")) / col("sd_d"))
          .otherwise(lit(0d)), 4).as("z"))
  }
}
