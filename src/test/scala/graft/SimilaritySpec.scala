package graft

import graft.operators.Similarity
import org.apache.spark.sql.functions._

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  test("cosine of known vectors") {
    val df = Seq(
      (Seq(1.0, 0.0), Seq(1.0, 0.0), 1.0),
      (Seq(1.0, 0.0), Seq(0.0, 1.0), 0.0),
      (Seq(1.0, 0.0), Seq(-1.0, 0.0), -1.0),
      (Seq(3.0, 4.0), Seq(3.0, 4.0), 1.0))
      .toDF("a", "b", "expected")
    val got = df.select(
      Similarity.cosine(col("a"), col("b")).as("c"), col("expected"))
      .as[(Double, Double)].collect()
    got.foreach { case (c, e) => assert(math.abs(c - e) < 1e-12) }
  }

  test("cosine of a zero-norm vector is NULL, never NaN") {
    // NaN would outrank every real neighbor (Spark orders NaN above all
    // doubles) and pass `sim >= t` filters; NULL drops cleanly.
    val got = Seq((Seq(0.0, 0.0), Seq(1.0, 2.0)))
      .toDF("a", "b")
      .select(Similarity.cosine(col("a"), col("b")).as("c"))
      .select(col("c").isNull).as[Boolean].head()
    assert(got, "expected NULL cosine for zero vector")
    // and a zero vector in the corpus never appears in top-k output
    val corpus = Seq((0L, Seq(1.0, 0.0)), (1L, Seq(0.9, 0.1)), (2L, Seq(0.0, 0.0)))
      .toDF("id", "vec")
    val top = Similarity.bruteForceTopK(
      corpus, "id", "vec", corpus.filter($"id" === 0), "id", "vec", k = 3)
      .select("id").as[Long].collect().toSet
    assert(!top.contains(2L), s"zero vector ranked: $top")
  }

  test("brute-force top-k: exact ranking, self-match excluded") {
    val corpus = Seq(
      (0L, Seq(1.0, 0.0)), // the query itself
      (1L, Seq(0.9, 0.1)), // most similar
      (2L, Seq(0.5, 0.5)),
      (3L, Seq(0.0, 1.0)), // orthogonal
      (4L, Seq(-1.0, 0.0))) // opposite
      .toDF("id", "vec")
    val out = Similarity.bruteForceTopK(
      corpus, "id", "vec",
      corpus.filter($"id" === 0), "id", "vec", k = 3)
      .select("id", "rank").as[(Long, Int)].collect().sortBy(_._2)
    assert(out.toSeq === Seq((1L, 1), (2L, 2), (3L, 3)))
  }

  test("hard negatives: band and label predicates, exact ranking") {
    // Query (1,0) with label 0. Every exclusion arm planted:
    //   1: near-duplicate (sim ~1.0, different label) — ABOVE the band,
    //      a false negative if mined
    //   2: same-label strong candidate — presumed positive, excluded
    //   3: in-band hard negative, sim = 0.8
    //   4: in-band hard negative, sim ~ 0.447
    //   5: orthogonal easy negative (sim 0) — below the band
    //   6: zero vector — NULL sim, never a candidate
    val corpus = Seq(
      (0L, 0, Seq(1.0, 0.0)),
      (1L, 1, Seq(1.0, 1e-8)),
      (2L, 0, Seq(0.9, 0.4)),
      (3L, 1, Seq(0.8, 0.6)),
      (4L, 2, Seq(1.0, 2.0)),
      (5L, 1, Seq(0.0, 1.0)),
      (6L, 1, Seq(0.0, 0.0)))
      .toDF("id", "label", "vec")
    val out = Similarity.hardNegatives(
      corpus, "id", "vec", "label",
      corpus.filter($"id" === 0), "id", "vec", "label",
      k = 10, simLo = 0.2, simHi = 0.9)
      .select("id", "rank").as[(Long, Int)].collect().sortBy(_._2)
    assert(out.toSeq === Seq((3L, 1), (4L, 2)),
      s"expected exactly the two in-band cross-label rows, got ${out.toSeq}")
  }

  test("hard negatives == post-filtered brute force on random data") {
    // The operator must equal the naive recipe: full brute-force ranking,
    // then drop out-of-band / same-label rows, then re-rank and cut at k.
    val rng = new scala.util.Random(7)
    val corpus = (0L until 120L).map(i =>
        (i, (i % 5).toInt, Seq.fill(8)(rng.nextGaussian())))
      .toDF("id", "label", "vec")
    val queries = corpus.filter($"id" < 4)
    val k = 5
    val got = Similarity.hardNegatives(
        corpus, "id", "vec", "label", queries, "id", "vec", "label",
        k, simLo = 0.1, simHi = 0.8)
      .select("qid", "id", "rank").as[(Long, Long, Int)].collect().toSet
    val naive = Similarity.bruteForceTopK(
        corpus, "id", "vec", queries, "id", "vec", k = 1000)
      .join(corpus.select($"id", $"label"), "id")
      .join(
        queries.select($"id".as("qid"), $"label".as("qlabel")), "qid")
      .filter($"label" =!= $"qlabel" && $"sim" >= 0.1 && $"sim" < 0.8)
      .withColumn("rnk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy($"qid").orderBy($"sim".desc, $"id")))
      .filter($"rnk" <= k)
      .select("qid", "id", "rnk").as[(Long, Long, Int)].collect().toSet
    assert(got === naive)
  }

  test("mmr rerank picks diversity over redundancy") {
    // Query (1,0,0). Candidate 2 is a near-duplicate of candidate 1 and
    // would be the #2 pure-relevance pick; MMR must pass it over for the
    // off-axis candidate 3 because the penalty (cos to the already-picked
    // 1) erases nearly all of 2's relevance.
    val corpus = Seq(
      (0L, Seq(1.0, 0.0, 0.0)),
      (1L, Seq(0.9, 0.1, 0.0)),
      (2L, Seq(0.9, 0.11, 0.0)),
      (3L, Seq(0.7, 0.0, 0.4)))
      .toDF("id", "vec")
    val out = Similarity.mmrRerank(
        corpus, "id", "vec", corpus.filter($"id" === 0), "id", "vec",
        fetchK = 3, selectK = 2, lambda = 0.5)
      .select("id", "rnk").as[(Long, Int)].collect().sortBy(_._2)
    assert(out.toSeq === Seq((1L, 1), (3L, 2)))
    // sanity: pure relevance WOULD have taken the near-duplicate
    val rel = Similarity.bruteForceTopK(
        corpus, "id", "vec", corpus.filter($"id" === 0), "id", "vec", k = 2)
      .select("id").as[Long].collect().toSet
    assert(rel === Set(1L, 2L))
  }

  test("mmr rerank == independent greedy reference on random data") {
    val rng = new scala.util.Random(11)
    val corpus = (0L until 60L).map(i => (i, Seq.fill(6)(rng.nextGaussian())))
      .toDF("id", "vec")
    val queries = corpus.filter($"id" < 3)
    val lam = 0.7
    val got = Similarity.mmrRerank(
        corpus, "id", "vec", queries, "id", "vec",
        fetchK = 15, selectK = 4, lambda = lam)
      .select("qid", "id", "rnk").as[(Long, Long, Int)].collect().toSet
    // independent model: same candidates, greedy re-implemented here
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i) }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val cands = Similarity.bruteForceTopK(
        corpus, "id", "vec", queries, "id", "vec", k = 15)
      .join(corpus.select($"id", $"vec"), "id")
      .select("qid", "id", "sim", "vec")
      .as[(Long, Long, Double, Seq[Double])].collect()
    val expect = cands.groupBy(_._1).flatMap { case (qid, cs0) =>
      var rem = cs0.toList
      var sel = List.empty[Seq[Double]]
      var acc = List.empty[(Long, Long, Int)]
      for (r <- 1 to 4 if rem.nonEmpty) {
        val scored = rem.map { case (_, id, sim, v) =>
          val mx = if (sel.isEmpty) 0.0 else sel.map(s => cos(v, s)).max
          (lam * sim - (1 - lam) * mx, id, v)
        }
        val best = scored.minBy { case (sc, id, _) => (-sc, id) }
        acc ::= ((qid, best._2, r))
        sel ::= best._3
        rem = rem.filterNot(_._2 == best._2)
      }
      acc
    }.toSet
    assert(got === expect)
  }

  test("lsh top-k achieves high recall vs brute force on clustered data") {
    // ANN only makes sense when near neighbors exist: plant 30 clusters of
    // 11 noisy copies each, so every exact top-10 lies inside the query's
    // own cluster (sim ≈ 0.99+) and bucket collision probability is high.
    val rng = new scala.util.Random(123)
    val dim = 16
    val bases = Array.fill(30)(Array.fill(dim)(rng.nextGaussian()))
    val corpus = (for {
      (b, ci) <- bases.zipWithIndex
      j <- 0 until 11
    } yield (ci * 11L + j, b.map(_ + rng.nextGaussian() * 0.02).toSeq))
      .toSeq.toDF("id", "vec")
    val queries = corpus.filter($"id" % 11 === 0 && $"id" < 55) // 5 queries
    val k = 10
    def topSets(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "id").as[(Long, Long)].collect()
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val exact = topSets(Similarity.bruteForceTopK(
      corpus, "id", "vec", queries, "id", "vec", k))
    val approx = topSets(Similarity.lshTopK(
      corpus, "id", "vec", queries, "id", "vec", dim, k))
    // .toSeq before .map: keys is a Set and mapping to per-query recall
    // fractions would dedupe equal values
    val recall = exact.keys.toSeq.map { q =>
      approx.getOrElse(q, Set.empty).intersect(exact(q)).size.toDouble / k
    }.sum / exact.size
    assert(recall >= 0.7, s"recall $recall below 0.7")
  }

  test("lshConfigForRecall: analytic config meets its recall target") {
    // formula sanity at the defaults' operating point
    val p = Similarity.lshBitAgreement(0.95)
    assert(p > 0.89 && p < 0.95, s"per-bit agreement at cos 0.95: $p")
    // monotone: more similar pairs collide more
    assert(Similarity.lshTableCollisionProb(0.99, 10, 1) >
      Similarity.lshTableCollisionProb(0.90, 10, 1))
    // the chosen (tables, bits) must analytically reach the target...
    val target = 0.9
    val (tables, bits) = Similarity.lshConfigForRecall(target, 0.95)
    val pt = Similarity.lshTableCollisionProb(0.95, bits, 1)
    assert(1.0 - math.pow(1.0 - pt, tables) >= target,
      s"analytic recall short of $target at (tables=$tables, bits=$bits)")
    assert(bits > 1, "selectivity collapsed to degenerate 1-bit tables")

    // ...and measured recall on clustered data (neighbors at cos ~0.999,
    // comfortably above simAtTarget) must clear the same target
    val rng = new scala.util.Random(123)
    val dim = 16
    val bases = Array.fill(30)(Array.fill(dim)(rng.nextGaussian()))
    val corpus = (for {
      (b, ci) <- bases.zipWithIndex
      j <- 0 until 11
    } yield (ci * 11L + j, b.map(_ + rng.nextGaussian() * 0.02).toSeq))
      .toSeq.toDF("id", "vec")
    val queries = corpus.filter($"id" % 11 === 0 && $"id" < 55)
    val k = 10
    def topSets(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "id").as[(Long, Long)].collect()
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val exact = topSets(Similarity.bruteForceTopK(
      corpus, "id", "vec", queries, "id", "vec", k))
    val approx = topSets(Similarity.lshTopK(
      corpus, "id", "vec", queries, "id", "vec", dim, k,
      tables = tables, bitsPerTable = bits))
    val recall = exact.keys.toSeq.map { q =>
      approx.getOrElse(q, Set.empty).intersect(exact(q)).size.toDouble / k
    }.sum / exact.size
    assert(recall >= target, s"measured recall $recall below $target " +
      s"at chosen (tables=$tables, bits=$bits)")
  }

  test("ivf top-k achieves high recall vs brute force on clustered data") {
    val rng = new scala.util.Random(77)
    val dim = 16
    val bases = Array.fill(20)(Array.fill(dim)(rng.nextGaussian()))
    val corpus = (for {
      (b, ci) <- bases.zipWithIndex
      j <- 0 until 12
    } yield (ci * 12L + j, b.map(_ + rng.nextGaussian() * 0.02).toSeq))
      .toSeq.toDF("id", "vec")
    val queries = corpus.filter($"id" % 12 === 0 && $"id" < 60) // 5 queries
    val k = 10
    def topSets(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "id").as[(Long, Long)].collect()
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val exact = topSets(Similarity.bruteForceTopK(
      corpus, "id", "vec", queries, "id", "vec", k))
    val approx = topSets(Similarity.ivfTopK(
      corpus, "id", "vec", queries, "id", "vec", k, nlist = 8, nprobe = 3))
    val recall = exact.keys.toSeq.map { q =>
      approx.getOrElse(q, Set.empty).intersect(exact(q)).size.toDouble / k
    }.sum / exact.size
    assert(recall >= 0.8, s"ivf recall $recall below 0.8")
  }

  test("persisted IVF index returns identical rows to the direct form") {
    val rng = new scala.util.Random(77)
    val dim = 16
    val bases = Array.fill(20)(Array.fill(dim)(rng.nextGaussian()))
    val corpus = (for {
      (b, ci) <- bases.zipWithIndex
      j <- 0 until 12
    } yield (ci * 12L + j, b.map(_ + rng.nextGaussian() * 0.02).toSeq))
      .toSeq.toDF("id", "vec")
    val queries = corpus.filter($"id" % 12 === 0 && $"id" < 60)
    val direct = Similarity.ivfTopK(
      corpus, "id", "vec", queries, "id", "vec", k = 10, nlist = 8, nprobe = 3)
      .select("qid", "id", "sim", "rank")
      .as[(Long, Long, Double, Int)].collect().toSet
    val path = java.nio.file.Files.createTempDirectory("graft-ivf").toString
    Similarity.buildIvfIndex(corpus, "id", "vec", nlist = 8, path)
    val indexed = Similarity.ivfTopKIndexed(
      path, queries, "id", "vec", k = 10, nprobe = 3)
      .select("qid", "id", "sim", "rank")
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(indexed === direct,
      "indexed IVF diverged from the direct form on identical parameters")
    // the probe join must prune to the probed cells' partitions: the scan
    // of the persisted corpus carries a partition filter on `cell`
    val plan = Similarity.ivfTopKIndexed(path, queries, "id", "vec", 10, 3)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") || plan.contains("dynamicpruning"),
      "no partition pruning on the cell-partitioned corpus scan:\n" + plan)
  }

  test("ivfAppend: appended vectors join their twin's cell and are probeable") {
    val rng = new scala.util.Random(77)
    val dim = 16
    val bases = Array.fill(10)(Array.fill(dim)(rng.nextGaussian()))
    val all = (for {
      (b, ci) <- bases.zipWithIndex
      j <- 0 until 12
    } yield (ci * 12L + j, b.map(_ + rng.nextGaussian() * 0.02).toSeq))
      .toSeq.toDF("id", "vec")
    val a = all.filter($"id" % 4 =!= 0)
    val b = all.filter($"id" % 4 === 0)
    val path = java.nio.file.Files.createTempDirectory("graft-ivf-app").toString
    Similarity.buildIvfIndex(a, "id", "vec", nlist = 8, path)
    Similarity.ivfAppend(path, b, "id", "vec")
    // the index now holds everything, assigned under A's centroids
    assert(spark.read.parquet(s"$path/corpus").count() ===
      a.count() + b.count())
    // identical-vector probes at nprobe=1 must find each appended twin
    val queries = b.select(($"id" + 5000L).as("id"), $"vec")
    val hit = Similarity.ivfTopKIndexed(path, queries, "id", "vec",
        k = 1, nprobe = 1)
      .filter($"rank" === 1 && $"sim" > 0.999999)
      .select(($"qid" - 5000L).as("id")).as[Long].collect().toSet
    val bids = b.select($"id").as[Long].collect().toSet
    assert(hit === bids, s"appended vectors not probeable: ${bids -- hit}")
    // pre-existing vectors stay probeable after the append
    val aq = a.filter($"id" < 20).select(($"id" + 5000L).as("id"), $"vec")
    val ahit = Similarity.ivfTopKIndexed(path, aq, "id", "vec", 1, 1)
      .filter($"rank" === 1 && $"sim" > 0.999999).count()
    assert(ahit === aq.count())
  }

  test("ivfCompact collapses per-cell file sets and preserves probes") {
    val rng = new scala.util.Random(77)
    val dim = 16
    val bases = Array.fill(10)(Array.fill(dim)(rng.nextGaussian()))
    val all = (for {
      (b, ci) <- bases.zipWithIndex
      j <- 0 until 12
    } yield (ci * 12L + j, b.map(_ + rng.nextGaussian() * 0.02).toSeq))
      .toSeq.toDF("id", "vec")
    val path = java.nio.file.Files.createTempDirectory("graft-ivf-cmp").toString
    Similarity.buildIvfIndex(all.filter($"id" % 4 =!= 0), "id", "vec", 8, path)
    Similarity.ivfAppend(path, all.filter($"id" % 8 === 0), "id", "vec")
    Similarity.ivfAppend(path, all.filter($"id" % 8 === 4), "id", "vec")
    def cellFiles(): Map[String, Int] =
      new java.io.File(s"$path/corpus").listFiles()
        .filter(_.getName.startsWith("cell="))
        .map(d => d.getName ->
          d.listFiles().count(_.getName.endsWith(".parquet"))).toMap
    val queries = all.filter($"id" % 6 === 0).select(($"id" + 5000L).as("id"), $"vec")
    def probe() = Similarity.ivfTopKIndexed(path, queries, "id", "vec", 3, 2)
      .collect().map(_.toString).sorted.toSeq
    val before = probe()
    assert(cellFiles().values.max >= 2,
      s"fixture failed to fragment the index: ${cellFiles()}")
    Similarity.ivfCompact(spark, path)
    assert(cellFiles().values.max === 1,
      s"compaction left multi-file cells: ${cellFiles()}")
    assert(spark.read.parquet(s"$path/corpus").count() === all.count())
    val after = probe()
    assert(after.nonEmpty && after === before,
      "compaction changed the probe relation")
  }

  test("ivfDelete: affected cells only; corpus equals the surviving assignment") {
    val rng = new scala.util.Random(77)
    val dim = 16
    val bases = Array.fill(10)(Array.fill(dim)(rng.nextGaussian()))
    val all = (for {
      (b, ci) <- bases.zipWithIndex
      j <- 0 until 12
    } yield (ci * 12L + j, b.map(_ + rng.nextGaussian() * 0.02).toSeq))
      .toSeq.toDF("id", "vec")
    val path = java.nio.file.Files.createTempDirectory("graft-ivf-del").toString
    Similarity.buildIvfIndex(all.filter($"id" % 4 =!= 0), "id", "vec", 8, path)
    Similarity.ivfAppend(path, all.filter($"id" % 4 === 0), "id", "vec")
    def cellFiles(): Map[String, Set[(String, Long, Long)]] =
      new java.io.File(s"$path/corpus").listFiles()
        .filter(_.getName.startsWith("cell="))
        .map(d => d.getName -> d.listFiles()
          .filter(_.getName.endsWith(".parquet"))
          .map(f => (f.getName, f.length, f.lastModified)).toSet).toMap
    val before = cellFiles()
    // doom two whole base clusters (their cells should EMPTY and vanish)
    // plus one vector of a third; other cells must keep their files
    val doomed = all.filter($"id" < 24 || $"id" === 30L).select($"id")
    val affectedCells = spark.read.parquet(s"$path/corpus")
      .join(doomed, "id").select($"cell").distinct().as[Long].collect()
      .map(c => s"cell=$c").toSet
    val nDel = Similarity.ivfDelete(spark, path, doomed, "id")
    assert(nDel === 25L, s"deleted $nDel vectors")
    val after = cellFiles()
    before.keySet.diff(affectedCells).foreach { c =>
      assert(after(c) === before(c), s"untouched cell $c was rewritten")
    }
    // the corpus is EXACTLY the surviving vectors under the index's own
    // (untouched) centroids
    val centroids = spark.read.parquet(s"$path/centroids")
      .orderBy($"cell").collect().map(_.getSeq[Double](1)).toSeq
    val expected = all.join(doomed, Seq("id"), "left_anti")
      .select($"id", $"vec".cast("array<double>").as("vec"))
      .withColumn("cell", org.apache.spark.sql.functions.element_at(
        graft.functions.VecExprs.nearestCentroids($"vec", centroids, 1), 1))
    val actual = spark.read.parquet(s"$path/corpus")
      .select($"id", $"vec", $"cell")
    assert(actual.exceptAll(expected).count() === 0)
    assert(expected.exceptAll(actual).count() === 0)
    // identical-vector probes of doomed ids no longer find them at sim ~ 1
    val dq = all.filter($"id" < 24).select(($"id" + 5000L).as("id"), $"vec")
    val ghost = Similarity.ivfTopKIndexed(path, dq, "id", "vec", 1, 1)
      .filter($"sim" > 0.999999).count()
    assert(ghost === 0L, s"$ghost doomed vectors still probeable")
    // absent-only key list is a no-op returning 0
    assert(Similarity.ivfDelete(
      spark, path, Seq(99999L).toDF("id"), "id") === 0L)
  }

  test("quantized IVF index: probe == two-stage quantized scan over the probed cells; int8 stage-1 is pruned") {
    val rng = new scala.util.Random(77)
    val dim = 16
    val bases = Array.fill(10)(Array.fill(dim)(rng.nextGaussian()))
    val all = (for {
      (b, ci) <- bases.zipWithIndex
      j <- 0 until 12
    } yield (ci * 12L + j, b.map(_ + rng.nextGaussian() * 0.02).toSeq))
      .toSeq.toDF("id", "vec")
    val path = java.nio.file.Files.createTempDirectory("graft-ivfq").toString
    Similarity.buildIvfIndex(all, "id", "vec", nlist = 8, path, quantized = true)
    val queries = all.filter($"id" % 12 === 5)
      .select(($"id" + 5000L).as("id"), $"vec")
    val probe = Similarity.ivfQTopKIndexed(
      path, queries, "id", "vec", k = 3, nprobe = 2, rerankFactor = 2)
    // the stage-1 plan must prune: both corpus scans carry a cell
    // partition filter, and the int8 scan's schema must NOT read the
    // float vec column (the bandwidth claim, checked in the plan)
    val plan = probe.queryExecution.executedPlan.toString
    val pruned = "PartitionFilters: \\[[^\\]]*cell".r.findAllIn(plan).length
    assert(pruned >= 2, s"expected cell partition filters on both scans:\n$plan")
    assert("ReadSchema: struct<id:bigint,qvec".r.findAllIn(plan).nonEmpty,
      s"stage-1 scan reads the float vec column:\n$plan")
    val got = probe.collect()
      .map(r => (r.getLong(0), r.getInt(3), r.getLong(1),
        math.rint(r.getDouble(2) * 1e6) / 1e6)).sorted.toSeq
    // independent expectation: per query, restrict the corpus to the
    // query's nprobe cells (assignment recomputed from the read-back
    // centroids) and run the in-session two-stage quantized scan there
    val cents = spark.read.parquet(s"$path/centroids")
      .orderBy($"cell").collect().map(_.getSeq[Double](1)).toSeq
    val assigned = all.withColumn("cell",
      org.apache.spark.sql.functions.element_at(
        graft.functions.VecExprs.nearestCentroids(
          $"vec".cast("array<double>"), cents, 1), 1))
      .persist()
    val qcells = queries.select($"id",
        graft.functions.VecExprs.nearestCentroids(
          $"vec".cast("array<double>"), cents, 2).as("cells"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    val want = qcells.toSeq.flatMap { case (qid, cells) =>
      val sub = assigned.filter($"cell".isin(cells: _*)).select($"id", $"vec")
      Similarity.quantizedTopK(
          sub, "id", "vec",
          queries.filter($"id" === qid), "id", "vec",
          k = 3, rerankFactor = 2)
        .collect()
        .map(r => (r.getLong(0), r.getInt(3), r.getLong(1),
          math.rint(r.getDouble(2) * 1e6) / 1e6))
    }.sorted
    assert(got.nonEmpty && got === want)
  }

  test("ivfDelete is layout-blind: quantized-index deletion keeps probes sound") {
    val rng = new scala.util.Random(77)
    val dim = 16
    val bases = Array.fill(10)(Array.fill(dim)(rng.nextGaussian()))
    val all = (for {
      (b, ci) <- bases.zipWithIndex
      j <- 0 until 12
    } yield (ci * 12L + j, b.map(_ + rng.nextGaussian() * 0.02).toSeq))
      .toSeq.toDF("id", "vec")
    val path = java.nio.file.Files.createTempDirectory("graft-ivfq-del").toString
    Similarity.buildIvfIndex(all, "id", "vec", nlist = 8, path, quantized = true)
    val doomed = all.filter($"id" < 24).select($"id")
    val nDel = Similarity.ivfDelete(spark, path, doomed, "id")
    assert(nDel === 24L)
    assert(spark.read.parquet(s"$path/corpus").count() === all.count() - 24)
    // identical-vector probes: survivors still found at sim ~ 1, doomed
    // vectors gone
    val sq = all.filter($"id" >= 24 && $"id" < 44)
      .select(($"id" + 5000L).as("id"), $"vec")
    val alive = Similarity.ivfQTopKIndexed(path, sq, "id", "vec", k = 1, nprobe = 1)
      .filter($"rank" === 1 && $"sim" > 0.999999).count()
    assert(alive === sq.count())
    val dq = all.filter($"id" < 24).select(($"id" + 5000L).as("id"), $"vec")
    val ghost = Similarity.ivfQTopKIndexed(path, dq, "id", "vec", k = 1, nprobe = 1)
      .filter($"sim" > 0.999999).count()
    assert(ghost === 0L, s"$ghost doomed vectors still probeable")
  }

  test("ivfMerge: merged shards equal the single build; guards reject drifted quantizers") {
    val rng = new scala.util.Random(77)
    val dim = 16
    val bases = Array.fill(10)(Array.fill(dim)(rng.nextGaussian()))
    val all = (for {
      (b, ci) <- bases.zipWithIndex
      j <- 0 until 12
    } yield (ci * 12L + j, b.map(_ + rng.nextGaussian() * 0.02).toSeq))
      .toSeq.toDF("id", "vec")
    val parent = java.nio.file.Files.createTempDirectory("graft-ivf-mg").toString
    val cents = Similarity.trainIvfCentroids(all, "id", "vec", nlist = 8)
    Similarity.ivfInit(spark, cents, s"$parent/a")
    Similarity.ivfAppend(s"$parent/a", all.filter($"id" % 2 === 0), "id", "vec")
    Similarity.ivfInit(spark, cents, s"$parent/b")
    Similarity.ivfAppend(s"$parent/b", all.filter($"id" % 2 === 1), "id", "vec")
    Similarity.ivfMerge(spark, s"$parent/a", s"$parent/b", s"$parent/m")
    // probe == the single-build index, bit for bit (same centroids by
    // construction: buildIvfIndex trains on the same full corpus)
    val single = s"$parent/single"
    Similarity.buildIvfIndex(all, "id", "vec", nlist = 8, single)
    val queries = all.filter($"id" % 9 === 0).select(($"id" + 5000L).as("id"), $"vec")
    def probe(path: String) = Similarity.ivfTopKIndexed(
        path, queries, "id", "vec", k = 3, nprobe = 2)
      .collect().map(_.toString).sorted.toSeq
    val merged = probe(s"$parent/m")
    assert(merged.nonEmpty && merged === probe(single))
    assert(spark.read.parquet(s"$parent/m/corpus").count() === all.count())
    // the QUANTIZED layout merges the same way
    val qa = s"$parent/qa"; val qb = s"$parent/qb"
    Similarity.ivfInit(spark, cents, qa)
    Similarity.ivfAppend(qa, all.filter($"id" % 2 === 0), "id", "vec",
      quantized = true)
    Similarity.ivfInit(spark, cents, qb)
    Similarity.ivfAppend(qb, all.filter($"id" % 2 === 1), "id", "vec",
      quantized = true)
    Similarity.ivfMerge(spark, qa, qb, s"$parent/qm")
    val qmerged = Similarity.ivfQTopKIndexed(
        s"$parent/qm", queries, "id", "vec", k = 3, nprobe = 2)
      .collect().map(_.toString).sorted.toSeq
    assert(qmerged.nonEmpty)
    // ... but a float shard and an int8 shard, filled from one centroid
    // table, are refused before dest is created
    val mixed = intercept[IllegalArgumentException] {
      Similarity.ivfMerge(spark, s"$parent/a", qb, s"$parent/mixed")
    }
    assert(mixed.getMessage.contains("float") && mixed.getMessage.contains("int8"),
      mixed.getMessage)
    assert(!new java.io.File(s"$parent/mixed").exists())
    // variadic: ONE 4-shard merge equals the pairwise-built single
    // index, and a move-merge of the same shards consumes their parts
    val s4 = (0 until 4).map { i =>
      val p = s"$parent/s4_$i"
      Similarity.ivfInit(spark, cents, p)
      Similarity.ivfAppend(p, all.filter($"id" % 4 === i), "id", "vec")
      p
    }
    Similarity.ivfMerge(spark, s4, s"$parent/nway")
    assert(probe(s"$parent/nway") === probe(single))
    Similarity.ivfMerge(spark, s4, s"$parent/moved", move = true)
    assert(probe(s"$parent/moved") === probe(single))
    s4.foreach { p =>
      val b = java.nio.file.Paths.get(s"$p/corpus")
      val st = java.nio.file.Files.walk(b)
      val left =
        try st.toArray.map(_.toString).count(_.endsWith(".parquet"))
        finally st.close()
      assert(left === 0, s"move left $left part files under $p/corpus")
    }
    intercept[IllegalArgumentException] {
      Similarity.ivfMerge(spark, Seq(single), s"$parent/m1")
    }
    // guards: drifted quantizer and existing destination both abort
    val drifted = s"$parent/drift"
    Similarity.ivfInit(spark, cents.map(_.map(_ + 0.5)), drifted)
    Similarity.ivfAppend(drifted, all.filter($"id" % 2 === 1), "id", "vec")
    intercept[IllegalArgumentException] {
      Similarity.ivfMerge(spark, s"$parent/a", drifted, s"$parent/m2")
    }
    intercept[IllegalArgumentException] {
      Similarity.ivfMerge(spark, s"$parent/a", s"$parent/b", s"$parent/m")
    }
    intercept[IllegalArgumentException] {
      Similarity.ivfInit(spark, cents, s"$parent/a")
    }
  }

  test("ivfDeleteBatchPlan predicts exactly the cells ivfDelete rewrites") {
    val rng = new scala.util.Random(55)
    val dim = 8
    val all = (0L until 80L).map(i =>
      (i, Array.fill(dim)(rng.nextGaussian()).toSeq)).toDF("id", "vec")
    val path = java.nio.file.Files
      .createTempDirectory("graft-ivf-plan-spec").toString
    Similarity.buildIvfIndex(all, "id", "vec", nlist = 8, path)
    val keys = Seq(3L, 17L, 44L).toDF("id")
    val plan = Similarity.ivfDeleteBatchPlan(spark, path, keys, "id")
      .collect()(0)
    // independent prediction: the doomed vectors' cells under the
    // index's own centroids
    val cents = spark.read.parquet(s"$path/centroids")
      .orderBy($"cell").collect().map(_.getSeq[Double](1)).toSeq
    val expectedCells = all.join(keys, "id")
      .select(element_at(graft.functions.VecExprs.nearestCentroids(
        $"vec".cast("array<double>"), cents, 1), 1).as("c"))
      .distinct().as[Int].collect().map(_.toLong).toSet
    assert(plan.getAs[Long]("n_doomed_vectors") === 3L)
    assert(plan.getAs[Long]("n_affected_cells") === expectedCells.size.toLong)
    assert(plan.getAs[Double]("affected_fraction") ===
      expectedCells.size.toDouble / plan.getAs[Long]("n_cells"))
    // measured footprint: per-cell file state before/after a real delete
    def fileState(): Map[Long, Set[(String, Long)]] =
      new java.io.File(s"$path/corpus").listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("cell="))
        .map(d => d.getName.stripPrefix("cell=").toLong ->
          d.listFiles().filter(_.getName.endsWith(".parquet"))
            .map(f => (f.getName, f.length)).toSet)
        .toMap
    val before = fileState()
    val nDel = Similarity.ivfDelete(spark, path, keys, "id")
    assert(nDel === 3L)
    val after = fileState()
    val changed = (before.keySet ++ after.keySet)
      .filter(c => before.get(c) != after.get(c))
    assert(changed === expectedCells,
      s"measured rewrite footprint $changed != predicted $expectedCells")
    // absent keys plan a zero footprint
    val empty = Similarity.ivfDeleteBatchPlan(
      spark, path, Seq(999L).toDF("id"), "id").collect()(0)
    assert(empty.getAs[Long]("n_doomed_vectors") === 0L)
    assert(empty.getAs[Long]("n_affected_cells") === 0L)
  }

  test("ivf stream-ingest apply is idempotent; quantized layout ingests the same way") {
    val rng = new scala.util.Random(91)
    val dim = 8
    val all = (0L until 60L).map(i =>
      (i, Array.fill(dim)(rng.nextGaussian()).toSeq)).toDF("id", "vec")
    val parent = java.nio.file.Files.createTempDirectory("graft-ivf-ing-spec").toString
    val cents = Similarity.trainIvfCentroids(all, "id", "vec", nlist = 4)
    val path = s"$parent/idx"
    Similarity.ivfInit(spark, cents, path)
    // crashed batch-0 attempt: a tagged junk part that recovery must drop
    val junk = all.filter($"id" === 0)
      .select(lit(-999L).as("id"), $"vec".cast("array<double>").as("vec"))
      .withColumn("cell", element_at(
        graft.functions.VecExprs.nearestCentroids(
          $"vec", cents.map(_.toSeq).toSeq, 1), 1))
    val junkCell = junk.select($"cell").collect()(0).getInt(0)
    val stage = java.nio.file.Files.createTempDirectory("graft-ivf-ing-plant").toString
    junk.select($"id", $"vec").coalesce(1).write.mode("overwrite").parquet(stage)
    val part = new java.io.File(stage).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    new java.io.File(s"$path/corpus/cell=$junkCell").mkdirs()
    java.nio.file.Files.move(part.toPath, new java.io.File(
      s"$path/corpus/cell=$junkCell", s"b0_${part.getName}").toPath)
    // reachable-state fidelity: a real mid-apply crash always leaves
    // the batch's staging dir (deleted strictly after the marker), and
    // the recovery sweep is gated on it
    new java.io.File(s"$path/_ingest_b0_tmp").mkdirs()
    // batch 0 (re-delivered over the crash debris), then batch 1
    Similarity.ivfIngestBatch(path, all.filter($"id" % 2 === 0), "id", "vec", 0L)
    Similarity.ivfIngestBatch(path, all.filter($"id" % 2 === 1), "id", "vec", 1L)
    // post-commit re-delivery of both ids: skipped whole
    Similarity.ivfIngestBatch(path, all.filter($"id" % 2 === 0), "id", "vec", 0L)
    Similarity.ivfIngestBatch(path, all.filter($"id" % 2 === 1), "id", "vec", 1L)
    assert(spark.read.parquet(s"$path/corpus").count() === 60L)
    assert(spark.read.parquet(s"$path/corpus")
      .filter($"id" === -999L).count() === 0L, "crash junk survived recovery")
    // probe == the plain single build (same centroids by construction)
    val single = s"$parent/single"
    Similarity.buildIvfIndex(all, "id", "vec", nlist = 4, single)
    val queries = all.filter($"id" % 11 === 0).select(($"id" + 9000L).as("id"), $"vec")
    def probe(p: String) = Similarity.ivfTopKIndexed(
        p, queries, "id", "vec", k = 3, nprobe = 2)
      .collect().map(_.toString).sorted.toSeq
    assert(probe(path).nonEmpty && probe(path) === probe(single))
    // maintenance is layout-blind over streamed generations: compaction
    // collapses the per-batch file sets, probe bit-identical
    Similarity.ivfCompact(spark, path)
    assert(probe(path) === probe(single))
    // quantized layout: same protocol through the quantized flag
    val qpath = s"$parent/qidx"
    Similarity.ivfInit(spark, cents, qpath)
    Similarity.ivfIngestBatch(qpath, all.filter($"id" % 2 === 0), "id", "vec",
      0L, quantized = true)
    Similarity.ivfIngestBatch(qpath, all.filter($"id" % 2 === 1), "id", "vec",
      1L, quantized = true)
    Similarity.ivfIngestBatch(qpath, all.filter($"id" % 2 === 1), "id", "vec",
      1L, quantized = true) // re-delivery skips
    assert(spark.read.parquet(s"$qpath/corpus").count() === 60L)
    val qhits = Similarity.ivfQTopKIndexed(qpath, queries, "id", "vec",
      k = 3, nprobe = 2)
    assert(qhits.count() > 0)
    // a layout mismatch refuses at both entry points, naming both
    // layouts, before any row lands: int8 rows into the float corpus,
    // float rows into the int8 corpus, the int8 flag on a PQ index, and
    // PQ rows into a float corpus left under a codebooks table
    val extra = all.filter($"id" < 4).select(($"id" + 7000L).as("id"), $"vec")
    def refused(layouts: String*)(write: => Unit): Unit = {
      val e = intercept[IllegalArgumentException](write)
      layouts.foreach(l => assert(e.getMessage.contains(l), e.getMessage))
    }
    refused("float", "int8")(
      Similarity.ivfAppend(path, extra, "id", "vec", quantized = true))
    refused("float", "int8")(Similarity.ivfIngestBatch(
      path, extra, "id", "vec", 2L, quantized = true))
    refused("int8", "float")(Similarity.ivfAppend(qpath, extra, "id", "vec"))
    refused("int8", "float")(
      Similarity.ivfIngestBatch(qpath, extra, "id", "vec", 2L))
    val pqpath = s"$parent/pqidx"
    Similarity.buildIvfPqIndex(all, "id", "vec", nlist = 4, m = 2, pqpath,
      ksub = 8)
    refused("PQ")(
      Similarity.ivfAppend(pqpath, extra, "id", "vec", quantized = true))
    refused("PQ")(Similarity.ivfIngestBatch(
      pqpath, extra, "id", "vec", 0L, quantized = true))
    Similarity.buildIvfIndex(all, "id", "vec", nlist = 4, pqpath)
    refused("float", "pq")(Similarity.ivfAppend(pqpath, extra, "id", "vec"))
    refused("float", "pq")(
      Similarity.ivfIngestBatch(pqpath, extra, "id", "vec", 0L))
    assert(spark.read.parquet(s"$path/corpus").count() === 60L)
    assert(spark.read.parquet(s"$qpath/corpus").count() === 60L)
    assert(spark.read.parquet(s"$pqpath/corpus").count() === 60L)
    // a refused ingest leaves no crash state: the same batch id applies
    Similarity.ivfIngestBatch(path, extra, "id", "vec", 2L)
    assert(spark.read.parquet(s"$path/corpus").count() === 64L)
  }

  test("ivf centroids are deterministic") {
    val df = (0L until 100L).map(i =>
      (i, Seq.tabulate(4)(d => (i % 10 + d).toDouble))).toDF("id", "vec")
    val a = Similarity.trainIvfCentroids(df, "id", "vec", 4, 100, 4)
    val b = Similarity.trainIvfCentroids(df, "id", "vec", 4, 100, 4)
    assert(a.map(_.toSeq).toSeq === b.map(_.toSeq).toSeq)
  }

  test("lsh bucket is deterministic across invocations") {
    val df = Seq((1L, Seq(1.0, 2.0, 3.0, 4.0))).toDF("id", "vec")
    val b1 = Similarity.withLshBucket(df, "vec", 4, 8).select("bucket").as[Int].head()
    val b2 = Similarity.withLshBucket(df, "vec", 4, 8).select("bucket").as[Int].head()
    assert(b1 === b2)
  }

  test("banded cosine near-duplicates: recall >= 0.9 on planted pairs") {
    // 50 planted near-dup pairs (tiny perturbation -> cosine ~0.999) among
    // 100 random decoys; the banded LSH must recover >= 90% of the planted
    // pairs and exact verification must admit no decoy pair.
    val rng = new scala.util.Random(7)
    val dim = 32
    val planted = (0 until 50).map { i =>
      val base = Array.fill(dim)(rng.nextGaussian())
      val dup = base.map(v => v + 0.02 * rng.nextGaussian())
      Seq((i.toLong * 2, base.toSeq), (i.toLong * 2 + 1, dup.toSeq))
    }
    val decoys = (0 until 100).map(i =>
      (1000L + i, Seq.fill(dim)(rng.nextGaussian())))
    val df = (planted.flatten ++ decoys).toDF("id", "vec")
    val found = Similarity.cosineNearDuplicates(df, "id", "vec", dim, 0.95)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val expected = (0 until 50).map(i => (i.toLong * 2, i.toLong * 2 + 1)).toSet
    val recall = found.intersect(expected).size.toDouble / expected.size
    assert(recall >= 0.9, s"recall $recall")
    // every found pair is genuinely above threshold: with gaussian decoys
    // no non-planted pair clears 0.95, so found must be within the planted set
    assert(found.subsetOf(expected), s"unexpected pairs: ${found.diff(expected)}")
  }

  test("cosine near-duplicates finds perturbed pair only") {
    val rng = new scala.util.Random(5)
    val base = Seq.fill(16)(rng.nextGaussian())
    val nearDup = base.zipWithIndex.map { case (v, i) =>
      if (i == 0) v + 0.01 else v }
    val far = Seq.fill(16)(rng.nextGaussian())
    val df = Seq((1L, base), (2L, nearDup), (3L, far)).toDF("id", "vec")
    val out = Similarity.cosineNearDuplicates(df, "id", "vec", 16, 0.99)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(out === Set((1L, 2L)))
  }

  test("cross-set near-duplicates: identical vectors found with certainty") {
    val rng = new scala.util.Random(11)
    def v() = Seq.fill(16)(rng.nextGaussian())
    val corpusVecs = (1L to 20L).map(i => (i, v()))
    val corpus = corpusVecs.toDF("id", "vec")
    // reference: exact copies of corpus ids 3 and 7, plus an unrelated one
    val ref = Seq(
      (103L, corpusVecs(2)._2), (107L, corpusVecs(6)._2), (999L, v())
    ).toDF("id", "vec")
    val out = Similarity.cosineNearDuplicatesAgainst(
        corpus, ref, "id", "vec", dim = 16, threshold = 0.99)
      .select("id_a", "id_b", "sim").as[(Long, Long, Double)].collect()
    // identical pairs agree on every band -> guaranteed candidates
    assert(out.map(r => (r._1, r._2)).toSet == Set((3L, 103L), (7L, 107L)),
      out.mkString(","))
    assert(out.forall(_._3 == 1.0), out.mkString(","))
  }

  test("semanticDedup: planted duplicate groups keep exactly their min id") {
    val rng = new scala.util.Random(23)
    val dim = 16
    // 20 groups of 3 near-identical vectors (cos ~0.999) plus 40 far
    // decoys; dedup at 0.95 must keep exactly one (the min id) per group
    // and every decoy
    val groups = (0 until 20).flatMap { g =>
      val base = Array.fill(dim)(rng.nextGaussian())
      (0 until 3).map(j =>
        (g * 3L + j, base.map(x => x + 0.01 * rng.nextGaussian()).toSeq))
    }
    val decoys = (0 until 40).map(i =>
      (1000L + i, Seq.fill(dim)(rng.nextGaussian())))
    val df = (groups ++ decoys).toDF("vec_id", "embedding")
    val out = graft.operators.Similarity.semanticDedup(
        df, "vec_id", "embedding", threshold = 0.95, nlist = 4, sampleN = 100)
      .select("id", "keep").as[(Long, Boolean)].collect().toMap
    assert(out.size == 100)
    val kept = out.filter(_._2).keySet
    // every decoy survives
    assert((1000L until 1040L).forall(kept))
    // each planted group keeps at most one member, and if the whole group
    // landed in one k-means cell (usual at 0.999 similarity) exactly its
    // min id — allow cross-cell splits to keep one per cell, but the min
    // id member must always be kept
    (0 until 20).foreach { g =>
      val members = Set(g * 3L, g * 3L + 1, g * 3L + 2)
      val keptMembers = members.filter(kept)
      assert(keptMembers.nonEmpty && keptMembers.contains(g * 3L),
        s"group $g kept $keptMembers")
    }
    // globally: dedup must remove most planted redundancy
    assert(kept.size <= 40 + 20 + 6, s"kept ${kept.size} — dedup too weak")
  }

  test("quantizeEmbeddings: worked example, bound, and zero-vector path") {
    // max-abs values chosen so scale is a power of two: every division,
    // product, and error below is EXACT binary arithmetic, so the
    // assertions pin values, not tolerances
    val df = Seq(
      (1L, Seq(127.0, -63.5, 0.0, 31.75)), // scale 1.0
      (2L, Seq(0.0, 0.0, 0.0, 0.0)),       // zero vector: scale 0, q all 0
      (3L, Seq(-254.0, 127.0, 0.5, -0.5))  // scale 2.0
    ).toDF("vec_id", "embedding")
    val out = Similarity.quantizeEmbeddings(df, "embedding")
      .select("vec_id", "scale", "qvec", "max_abs_err")
      .as[(Long, Double, Seq[Int], Double)].collect()
      .map(r => r._1 -> r).toMap
    val (_, s1, q1, e1) = out(1L)
    assert(s1 === 1.0)
    // -63.5/1.0: floor(-63.5 + 0.5) = -63 (half rounds toward +inf)
    assert(q1 === Seq(127, -63, 0, 32))
    assert(e1 === 0.5) // the -63.5 dimension: exactly scale/2
    val (_, s2, q2, e2) = out(2L)
    assert(s2 === 0.0 && q2 === Seq(0, 0, 0, 0) && e2 === 0.0)
    val (_, s3, q3, e3) = out(3L)
    assert(s3 === 2.0)
    // 127/2 = 63.5 rounds to 64; -254/2 = -127 exact
    assert(q3 === Seq(-127, 64, 0, 0))
    assert(e3 === 1.0) // |127 - 64*2| = exactly scale/2
  }

  test("quantizedTopK: int8 candidates + float rerank track brute force") {
    val rng = new scala.util.Random(11)
    val dim = 32
    val corpus = (0 until 300).map(i =>
      (i.toLong, Seq.fill(dim)(rng.nextGaussian()))).toDF("vec_id", "embedding")
    val queries = corpus.filter(col("vec_id") < 5)
    def ranked(df: org.apache.spark.sql.DataFrame) =
      df.select(col("qid"), col("id"), col("rank"))
        .as[(Long, Long, Int)].collect()
        .groupBy(_._1).view.mapValues(_.sortBy(_._3).map(_._2).toSeq).toMap
    val brute = ranked(Similarity.bruteForceTopK(
      corpus, "vec_id", "embedding", queries, "vec_id", "embedding", k = 10))
    val quant = ranked(Similarity.quantizedTopK(
      corpus, "vec_id", "embedding", queries, "vec_id", "embedding",
      k = 10, rerankFactor = 4))
    assert(quant.keySet === brute.keySet)
    brute.foreach { case (qid, bids) =>
      val qids = quant(qid)
      // int8 + 4x rerank headroom: recall >= 0.9, and the top hit —
      // re-scored exactly in stage 2 — must agree whenever it survived
      // stage 1 (it does at this precision)
      val recall = bids.toSet.intersect(qids.toSet).size.toDouble / bids.size
      assert(recall >= 0.9, s"qid=$qid recall=$recall")
      assert(qids.head === bids.head, s"qid=$qid top-1 diverged")
    }
    // a zero corpus vector must never surface as a neighbor
    val withZero = corpus.union(
      Seq((999L, Seq.fill(dim)(0.0))).toDF("vec_id", "embedding"))
    val z = Similarity.quantizedTopK(withZero, "vec_id", "embedding",
      queries, "vec_id", "embedding", k = 10)
    assert(z.filter(col("id") === 999L).count() === 0)
  }

  test("quantizeEmbeddings: q in [-127,127] and bound holds on random vectors") {
    val rng = new scala.util.Random(7)
    val df = (0 until 200).map(i =>
      (i.toLong, Seq.fill(16)(rng.nextGaussian()))).toDF("vec_id", "embedding")
    val out = Similarity.quantizeEmbeddings(df, "embedding")
    assert(out.filter(array_max(col("qvec")) > 127 ||
      array_min(col("qvec")) < -127).count() === 0)
    assert(out.filter(col("max_abs_err") > col("scale") * 0.5000001).count() === 0)
    // dequantized cosine stays close to the original: int8 is lossy but
    // must preserve neighborhood structure (the point of the codec)
    val sims = out.select(Similarity.cosine(
      col("embedding").cast("array<double>"),
      transform(col("qvec"),
        q => q.cast("double") * col("scale"))).as("c")).as[Double].collect()
    assert(sims.forall(_ > 0.995), s"min dequant cosine ${sims.min}")
  }

  test("centroid outliers: hand-computed distances, ranks, and z-scores") {
    // group 1 centroid = ((0+2+0+10)/4, (0+0+2+10)/4) = (3, 3)
    // distances: id1 sqrt(18), id2 sqrt(10), id3 sqrt(10), id4 sqrt(98)
    // group 2: two identical vectors -> d = 0, sd = 0 -> z = 0
    val df = Seq(
      (1L, Seq(0.0, 0.0), 1), (2L, Seq(2.0, 0.0), 1),
      (3L, Seq(0.0, 2.0), 1), (4L, Seq(10.0, 10.0), 1),
      (5L, Seq(1.0, 1.0), 2), (6L, Seq(1.0, 1.0), 2)
    ).toDF("vec_id", "embedding", "label")
    val out = Similarity.centroidOutliers(df, "vec_id", "embedding", "label", 2)
      .as[(Int, Int, Long, Double, Double)].collect()
      .sortBy(t => (t._1, t._2)).toSeq
    def r4(x: Double) = math.rint(x * 1e4) / 1e4
    assert(out.map(t => (t._1, t._2, t._3)) ===
      Seq((1, 1, 4L), (1, 2, 1L), (2, 1, 5L), (2, 2, 6L)))
    assert(out(0)._4 === r4(math.sqrt(98)))
    assert(out(1)._4 === r4(math.sqrt(18)))
    // z of the far outlier is positive and dominant; the sd=0 group is 0
    assert(out(0)._5 > 1.0 && out(2)._5 === 0.0 && out(3)._5 === 0.0)
    intercept[IllegalArgumentException](
      Similarity.centroidOutliers(df, "vec_id", "embedding", "label", 0))
  }

  test("marginMine: ratio margin out-mines raw cosine on a hub target") {
    // planar fixture by angle (cosine = cos of the angle gap): tgt 10 is
    // a HUB at 4° sitting between sources at 0° and 8°, so its
    // neighborhood average is ~0.998; source s2 at 24° has raw cosine
    // 0.9397 to the hub but only 0.9336 to its true counterpart t11 at
    // 45° — raw top-1 picks the hub, the ratio margin picks t11 because
    // the hub's crowded neighborhood eats its margin.
    def v(deg: Double) = Seq(
      math.cos(math.toRadians(deg)), math.sin(math.toRadians(deg)), 0.0)
    val src = Seq(
      (1L, v(0)), (2L, v(24)), (3L, v(8)),
      (4L, Seq(0.0, 0.0, 0.0))) // zero norm: no direction, must drop
      .toDF("id", "vec")
    val tgt = Seq((10L, v(4)), (11L, v(45))).toDF("id", "vec")
    // raw cosine would hand s2 to the hub:
    val raw = Similarity.bruteForceTopK(tgt, "id", "vec",
        src.filter($"id" === 2), "id", "vec", k = 1)
      .select("id").as[Long].head()
    assert(raw === 10L, "fixture broke: raw top-1 of s2 should be the hub")
    val mined = Similarity.marginMine(src, tgt, "id", "vec", k = 2,
        threshold = 0.0)
      .select("src_id", "tgt_id").as[(Long, Long)].collect().toSeq.sorted
    assert(mined === Seq((1L, 10L), (2L, 11L), (3L, 10L)),
      s"margin mining diverged: $mined")
    // threshold cuts the weakest margin (s2 at ~1.036) but keeps ~1.078
    val cut = Similarity.marginMine(src, tgt, "id", "vec", k = 2,
        threshold = 1.05)
      .select("src_id").as[Long].collect().toSeq.sorted
    assert(cut === Seq(1L, 3L), s"threshold cut diverged: $cut")
    intercept[IllegalArgumentException](
      Similarity.marginMine(src, tgt, "id", "vec", k = 0))
  }

  test("marginMineFromCandidates with exact lists reproduces marginMine; ANN lists plug in") {
    val rng = new scala.util.Random(21)
    val src = (1L to 40L).map(i => (i, Seq.fill(8)(rng.nextGaussian())))
      .toDF("id", "vec")
    val tgt = (100L to 130L).map(i => (i, Seq.fill(8)(rng.nextGaussian())))
      .toDF("id", "vec")
    val direct = Similarity.marginMine(src, tgt, "id", "vec", k = 4,
        threshold = 0.0)
      .collect().map(_.toString).sorted.toSeq
    // the candidate-list form fed with EXACT brute-force top-k lists
    val fwd = Similarity.bruteForceTopK(tgt, "id", "vec", src, "id", "vec", 4)
      .select(col("qid").as("src_id"), col("id").as("tgt_id"), col("sim"))
    val bwd = Similarity.bruteForceTopK(src, "id", "vec", tgt, "id", "vec", 4)
      .select(col("qid").as("tgt_id"), col("id").as("src_id"), col("sim"))
    val fromLists = Similarity.marginMineFromCandidates(fwd, bwd, 0.0)
      .collect().map(_.toString).sorted.toSeq
    assert(fromLists.nonEmpty && fromLists === direct,
      "candidate-list margin mining diverged from the exact form")
  }

  test("ivf training sample is unbiased: front-loaded id blocks still give balanced cells") {
    // 8 well-separated clusters occupying CONTIGUOUS id blocks of 250
    // (cluster c = ids [250c, 250c+250)) — the time-ordered-ingest /
    // per-source-id-range corpus shape. An id-ordered prefix sample of
    // 256 would see ONLY cluster 0 and train every centroid inside it,
    // piling the other 1,750 vectors into one or two giant cells; the
    // md5(id)-ordered draw sees every block (~32 samples each), so the
    // trained quantizer must spread the corpus across many cells with a
    // bounded maximum.
    val rng = new scala.util.Random(13)
    val dim = 8
    val bases = Array.tabulate(8)(c =>
      Array.tabulate(dim)(d => if (d == c) 10.0 else 0.0))
    val corpus = (for {
      c <- 0 until 8
      j <- 0 until 250
    } yield (c * 250L + j, bases(c).map(_ + rng.nextGaussian() * 0.05).toSeq))
      .toSeq.toDF("id", "vec")
    val cents = Similarity.trainIvfCentroids(
      corpus, "id", "vec", nlist = 8, sampleN = 256)
    val sizes = corpus
      .withColumn("cell", Similarity.ivfCell($"vec".cast("array<double>"), cents))
      .groupBy("cell").count()
      .select("count").as[Long].collect()
    // id-prefix sampling yields max >= 1750 here (measured before the
    // fix); the unbiased draw must keep every cluster block from piling
    // into one cell
    assert(sizes.max <= 750,
      s"largest cell ${sizes.max} of ${sizes.sum} — quantizer collapsed " +
        s"(cell sizes: ${sizes.sorted.mkString(",")})")
    assert(sizes.length >= 6,
      s"only ${sizes.length} non-empty cells of 8 — sample missed blocks")
  }
}
