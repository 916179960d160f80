package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.RollingHash
import graft.operators._

/** Second half of the operator oracles (split out of OperatorsSpec so
  * the two classes run as concurrent forked suites — the single class
  * was the test run's longest-pole suite at ~400 s; the split is purely
  * mechanical, no test changed).
  */
class OperatorsSpec2 extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  private val docsPath = "/root/testdata/sf0.001/documents.parquet"
  private lazy val docs = spark.read.parquet(docsPath).cache()

  test("containment: a quoted short doc scores 1.0 where jaccard stays tiny") {
    val long = (1 to 40).map(i => s"w$i").mkString(" ")            // 38 shingles
    val short = (10 to 14).map(i => s"w$i").mkString(" ")          // 3 shingles, all in long
    val other = (100 to 140).map(i => s"x$i").mkString(" ")
    val df = Seq((1L, long), (2L, short), (3L, other)).toDF("doc_id", "text")
    val pairs = Dedup.containmentPairs(df, k = 3, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getAs[Double]("containment_a"), r.getAs[Double]("containment_b")))
    assert(pairs.toSeq == Seq((1L, 2L, round4(3.0 / 38), 1.0)))
    // the symmetric operator misses it at any threshold the pair's
    // jaccard (3/38) can't reach
    assert(Dedup.ngramJaccardPairs(df, threshold = 0.5).count() == 0)
  }

  test("containment derived cap tracks corpus duplication") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val cap1 = Dedup.suggestedShingleDfCap(docs, k = 3)
    assert(cap1 >= 2, "cap floor: below 2 nothing can ever link")
    // replicate 3x: every shingle's df triples, so the df quantile — and
    // the derived cap with it — must shift up with the duplication
    // instead of silently stopping matches (the fixed-cap failure the
    // containmentPairs doc warns about)
    val docs3 = (0 until 3)
      .map(i => docs.withColumn("doc_id", col("doc_id") + lit(i * 1000000L)))
      .reduce(_ unionAll _)
    val cap3 = Dedup.suggestedShingleDfCap(docs3, k = 3)
    assert(cap3 > cap1, s"derived cap must grow under duplication: $cap1 -> $cap3")
    // and the pairs found under the derived cap include cross-copy
    // duplicates (copies of one base doc fully contain each other)
    val pairs = Dedup.containmentPairs(docs3.filter(col("doc_id") % 1000000L < 50),
      k = 3, threshold = 0.9, maxShingleDf = cap3)
    assert(pairs.filter(col("doc_id_a") % 1000000L === col("doc_id_b") % 1000000L)
      .count() > 0, "derived cap must keep exact cross-copy pairs matchable")
  }

  private def round4(x: Double): Double = math.round(x * 10000).toDouble / 10000

  test("salted join equals the plain join, including unmatched-key drops") {
    val fact = Seq((1L, 10L, 1.0), (2L, 10L, 2.0), (3L, 20L, 3.0),
      (4L, 99L, 4.0)).toDF("fid", "k", "v") // key 99 has no dim row
    val dim = Seq((10L, "a"), (20L, "b"), (30L, "c")).toDF("k", "name")
    val salted = Skew.saltedJoin(fact, dim, "k", "fid", saltBuckets = 4)
      .orderBy("fid").collect().map(r => (r.getLong(0), r.getLong(1), r.getString(3)))
    val plain = fact.join(dim, "k")
      .orderBy("fid").collect().map(r => (r.getLong(0), r.getLong(1), r.getString(3)))
    assert(salted.toSeq == plain.toSeq)
    assert(salted.length == 3) // unmatched fact key dropped, dim 30 unused
  }

  test("ivf index: partition-pruned probe equals the in-memory ivf") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val idx = java.nio.file.Files.createTempDirectory("ivfidx-spec").toString + "/ix"
    Similarity.writeIvfIndex(emb, idx, numCentroids = 16)
    val queries = emb.filter(col("vec_id") < 4)
    val fromIndex = Similarity.ivfTopKIndexed(spark, idx, queries, k = 3, nprobe = 2)
    val inMemory = Similarity.ivfTopK(emb, queries, k = 3,
      numCentroids = 16, nprobe = 2)
    assert(fromIndex.orderBy("query_id", "rank").collect().toSeq ==
      inMemory.orderBy("query_id", "rank").collect().toSeq)
    // the probe scan must prune partitions, not list every directory
    val plan = fromIndex.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("centroid_id"),
      s"expected partition-pruned index scan:\n$plan")
  }

  test("ivfDriftReport: in-distribution batch reads high cosines; shifted batch reads the drift") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val idx = java.nio.file.Files.createTempDirectory("ivfdrift-spec")
      .toString + "/ix"
    val seed = emb.filter(col("vec_id") < 32 || col("vec_id") % 2 === 0)
    Similarity.writeIvfPqIndex(seed, idx, numCentroids = 32, m = 4,
      ksub = 16, dim = 64)
    val batch = emb.filter(col("vec_id") >= 32 && col("vec_id") % 2 === 1)
    def report(b: org.apache.spark.sql.DataFrame) =
      Similarity.ivfDriftReport(spark, idx, b).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val inDist = report(batch)
    // mass accounting: one row per codebook centroid, store mass = the
    // encoded seed, batch mass = the whole batch
    assert(inDist.length == 32)
    assert(inDist.map(_._2).sum == seed.count(), "n_store must sum to the seed")
    assert(inDist.map(_._3).sum == batch.count(), "n_batch must sum to the batch")
    // unhit centroids carry the -1.0 sentinel, hit ones a real cosine
    assert(inDist.forall { case (_, _, nb, mc) =>
      if (nb == 0L) mc == -1.0 else mc > -1.0 })
    // DRIFT: negate the batch — assignment cosines flip sign, so the
    // report's mean assignment quality must fall for every hit centroid
    val neg = batch.select(col("vec_id"),
      expr("transform(embedding, x -> -x)").as("embedding"))
    val shifted = report(neg)
    def meanHit(rs: Array[(Long, Long, Long, Double)]) = {
      val hit = rs.filter(_._3 > 0); hit.map(_._4).sum / hit.length
    }
    assert(meanHit(shifted) < meanHit(inDist),
      s"negated batch must read as drift: ${meanHit(shifted)} vs ${meanHit(inDist)}")
  }

  test("ivfadc index: pruned code probe equals flat-ADC restricted to the probe sets") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val idx = java.nio.file.Files.createTempDirectory("ivfpq-spec").toString + "/ix"
    Similarity.writeIvfPqIndex(emb, idx, numCentroids = 16, m = 4, ksub = 16, dim = 64)
    val queries = emb.filter(col("vec_id") < 4)
    val probed = Similarity.ivfPqTopK(spark, idx, queries, emb,
      k = 3, nprobe = 16, rerankFactor = 4, m = 4, dim = 64)
    // nprobe = numCentroids degenerates to the FLAT ADC scan: every
    // partition probed, so IVFADC ≡ pqTopK row for row
    val flat = Pq.pqTopK(emb, queries, k = 3,
      m = 4, ksub = 16, dim = 64, rerankFactor = 4)
    assert(probed.orderBy("query_id", "rank").collect().toSeq ==
      flat.orderBy("query_id", "rank").collect().toSeq)
    // at nprobe < numCentroids the code scan must partition-prune,
    // and the index must hold CODES, not embeddings
    val narrow = Similarity.ivfPqTopK(spark, idx, queries, emb,
      k = 3, nprobe = 2, rerankFactor = 4, m = 4, dim = 64)
    val plan = narrow.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("centroid_id"),
      s"expected partition-pruned code scan:\n$plan")
    // the exact re-rank fetches survivors' full vectors by BROADCAST
    // hash probe of the corpus scan — never a corpus shuffle
    assert(plan.contains("BroadcastHashJoin"),
      s"expected broadcast survivor re-rank:\n$plan")
    assert(!spark.read.parquet(idx).columns.contains("embedding"),
      "index must store PQ codes only")
    // recall telemetry: NOT asserted monotone in nprobe — with a fixed
    // rerank depth a DEEPER probe pool can crowd a true neighbor out of
    // the ADC survivor set (observed here: 0.92 / 1.0 / 0.83 at
    // nprobe 1/2/16), which is exactly the tuning tension the telemetry
    // exists to expose. The pinned law instead: at nprobe = numCentroids
    // the probe restriction vanishes, so IVFADC recall ≡ flat-ADC
    // ([[Pq.pqRecall]]) recall at the same rerank factor.
    val rec = Similarity.ivfPqRecall(spark, idx, queries, emb,
        k = 3, nprobes = Seq(1, 2, 16), rerankFactor = 16, m = 4, dim = 64)
      .orderBy("nprobe").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
    assert(rec.map(_._1).toSeq == Seq(1, 2, 16))
    assert(rec.forall { case (_, ep, ip, hp, r5) =>
      ep > 0 && ip > 0 && hp <= ip && r5 > 0.0 && r5 <= 1.0 }, rec.toSeq.toString)
    val flatRec = Pq.pqRecall(emb, queries, k = 3,
        m = 4, ksub = 16, dim = 64, rerankFactors = Seq(16))
      .collect().map(_.getDouble(4))
    assert(rec.last._5 == flatRec.head,
      s"full-probe IVFADC recall ${rec.last._5} != flat ADC recall ${flatRec.head}")
  }

  test("ivfadc retrain: swapped index equals cold build on survivors, tombstones applied physically") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val tmp = java.nio.file.Files.createTempDirectory("ivfretrain").toString
    val idx = tmp + "/ix"
    Similarity.writeIvfPqIndex(emb, idx, numCentroids = 16,
      m = 4, ksub = 16, dim = 64)
    Similarity.forgetIvfPq(spark,
      emb.filter(col("vec_id") % 7 === 3).select("vec_id"), idx)
    Similarity.retrainIvfPq(spark, emb, idx)
    // tombstones applied PHYSICALLY and the sidecar cleared with them
    val storedIds = spark.read.parquet(idx).select("vec_id").distinct()
      .collect().map(_.getLong(0)).toSet
    assert(storedIds.forall(_ % 7 != 3), "forgotten ids survived the retrain")
    assert(!StoreUpkeep.health(spark, idx, StoreUpkeep.IvfPqKind)
      .pendingTombstones, "retrain must clear the applied tombstone sidecar")
    // the swapped store ≡ a cold build over the survivors, codebooks
    // included (q_ivf_retrain pins the same law against DuckDB; this leg
    // pins it engine-internally at a different geometry)
    val survivors = emb.filter(col("vec_id") % 7 =!= 3)
    val coldIdx = tmp + "/cold"
    Similarity.writeIvfPqIndex(survivors, coldIdx, numCentroids = 16,
      m = 4, ksub = 16, dim = 64)
    val queries = survivors.filter(col("vec_id") < 6)
    def probe(d: String) = Similarity.ivfPqTopK(spark, d, queries, survivors,
      k = 3, nprobe = 2, rerankFactor = 4, m = 4, dim = 64)
      .orderBy("query_id", "rank").collect().toSeq
    assert(probe(idx) == probe(coldIdx))
    assert(spark.read.parquet(idx + "_codebook").count() ==
      spark.read.parquet(coldIdx + "_codebook").count())
    // no staging debris left behind the swap
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    for (sfx <- Seq("", "_codebook", "_pq", "_meta"))
      assert(!fs.exists(new org.apache.hadoop.fs.Path(idx + "_retraining" + sfx)) &&
        !fs.exists(new org.apache.hadoop.fs.Path(idx + sfx + "_precompact")))
  }

  test("ivfadc retrain (trained codebook): recall at fixed nprobe recovers on a drifted corpus") {
    import spark.implicits._
    // seed: 200 scattered unit-ish vectors; drift: 8 TIGHT clusters in
    // directions the seed codebook never saw (negative combinations of
    // codebook vectors) — under the frozen books each cluster sprays
    // across many cells on noise alone, so nprobe=1 recall collapses;
    // a k-means retrain moves centroids onto the clusters and recall
    // recovers. Seeded RNG: the draw is fixed, the assertion exact.
    val rnd = new scala.util.Random(42)
    val dim = 64
    def unit(v: Array[Float]): Array[Float] = {
      val n = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
      v.map(_ / n)
    }
    val seed = (0L until 200L).map { i =>
      (i, unit(Array.fill(dim)(rnd.nextGaussian().toFloat)))
    }
    val centers = (0 until 8).map { j =>
      unit(seed(2 * j)._2.zip(seed(2 * j + 1)._2).map { case (a, b) => -(a + b) })
    }
    val drifted = (0 until 8).flatMap { j =>
      (0 until 40).map { i =>
        (1000L + j * 100L + i,
          unit(centers(j).map(x => x + (rnd.nextGaussian() * 0.08).toFloat)))
      }
    }
    val seedDf = seed.toDF("vec_id", "embedding")
    val unionDf = (seed ++ drifted).toDF("vec_id", "embedding")
    val idx = java.nio.file.Files.createTempDirectory("ivfdriftrt").toString + "/ix"
    Similarity.writeIvfPqIndex(seedDf, idx, numCentroids = 16,
      m = 4, ksub = 16, dim = dim)
    Similarity.appendIvfPq(spark, drifted.toDF("vec_id", "embedding"), idx)
    val queries = (0 until 8).map(j => drifted(j * 40)).toDF("vec_id", "embedding")
    def recall1(): Double = Similarity.ivfPqRecall(spark, idx, queries,
        unionDf, k = 5, nprobes = Seq(1), rerankFactor = 8, m = 4, dim = dim)
      .collect().head.getDouble(4)
    val before = recall1()
    Similarity.retrainIvfPq(spark, unionDf, idx, trainIters = 4)
    val after = recall1()
    info(s"recall@5 nprobe=1: before=$before after=$after")
    // the recovery law (r18 verdict task 1): retraining on the drifted
    // corpus must not lose recall at fixed probe depth — and on this
    // construction it recovers decisively (measured: 0.4 -> 0.925)
    assert(after >= before,
      s"retrain lost recall: before=$before after=$after")
    assert(after >= before + 0.2 && after >= 0.9,
      s"retrain did not recover recall on a drifted draw: " +
        s"before=$before after=$after")
  }

  test("ivfadc retrain (generational): rebuild staged as N+1 behind the pointer flip; grace generation serves the old answers") {
    import graft.operators.{StoreGen, StoreUpkeep, Tombstones}
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val base = java.nio.file.Files.createTempDirectory("ivfretrain-gen")
      .toString
    val idx = base + "/ix"
    Similarity.writeIvfPqIndex(emb, idx, numCentroids = 8,
      m = 4, ksub = 16, dim = 64)
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // move to generation 1 first so the grace-window leg can probe a
    // pinned _g path (a plain-path reader re-resolves the pointer)
    assert(StoreUpkeep.compactNewGeneration(spark, idx,
      StoreUpkeep.IvfPqKind) == 1L)
    val queries = emb.filter(col("vec_id") < 4)
    def probe(d: String) = Similarity.ivfPqTopK(spark, d, queries, emb,
      k = 3, nprobe = 2, rerankFactor = 4, m = 4, dim = 64)
      .orderBy("query_id", "rank").collect().toSeq
    val before = probe(idx)
    assert(StoreGen.resolve(idx) == idx + "_g1")
    // the law (r19 verdict task 3): a probe that resolved BEFORE the
    // retrain flip serves the old generation's answers — generation 1
    // stays intact as the grace window while generation 2 takes over
    Similarity.retrainIvfPq(spark, emb, idx, generational = true)
    assert(StoreGen.resolve(idx) == idx + "_g2")
    assert(probe(idx + "_g1") == before,
      "in-flight read must complete on the retired generation")
    // engine-exact rebuild (trainIters = 0, no tombstones): the new
    // generation is row-identical serving — same answers
    assert(probe(idx) == before)
    // generation 0 (one-behind-grace) reclaimed, sidecars included
    for (sfx <- Seq("", "_codebook", "_pq", "_meta"))
      assert(!fs.exists(new org.apache.hadoop.fs.Path(idx + sfx)),
        s"generation 0 suffix '$sfx' must be reclaimed")
    // takedown through a generational retrain: forget a served answer,
    // retrain — the rebuild never sees the forgotten vector, the new
    // generation starts tombstone-free, the grace generation keeps its
    // pending sidecar until reclamation
    import spark.implicits._
    val doomed = before.head.getLong(1)
    Similarity.forgetIvfPq(spark, Seq(doomed).toDF("vec_id"), idx)
    assert(Tombstones.exists(idx + "_g2"))
    Similarity.retrainIvfPq(spark, emb, idx, generational = true)
    assert(StoreGen.resolve(idx) == idx + "_g3")
    assert(!Tombstones.exists(idx + "_g3"),
      "rebuild applies the tombstone physically")
    assert(Tombstones.exists(idx + "_g2"),
      "grace generation keeps its pending sidecar")
    val served = spark.read.parquet(idx + "_g3")
      .select("vec_id").distinct().collect().map(_.getLong(0)).toSet
    assert(!served.contains(doomed), "forgotten id survived the retrain")
    assert(probe(idx).forall(_.getLong(1) != doomed))
  }

  test("StoreUpkeep.maybeRetrain: drift policy fires exactly at the documented threshold and recovers recall; a no-drift draw never fires") {
    import graft.operators.StoreUpkeep
    import spark.implicits._
    // healthy state: 8 TIGHT clusters, k-means-trained codebook — an
    // in-distribution batch assigns at cosine ≈ 1 and spreads evenly,
    // so neither the minMeanCos nor the maxMassSkew leg trips
    val rnd = new scala.util.Random(7)
    val dim = 64
    def unit(v: Array[Float]): Array[Float] = {
      val n = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
      v.map(_ / n)
    }
    val centers = (0 until 8).map(_ =>
      unit(Array.fill(dim)(rnd.nextGaussian().toFloat)))
    def draw(center: Array[Float], noise: Double): Array[Float] =
      unit(center.map(x => x + (rnd.nextGaussian() * noise).toFloat))
    val corpus0 = (0 until 8).flatMap { j =>
      (0 until 40).map(i => (j * 100L + i, draw(centers(j), 0.05)))
    }
    val corpus0Df = corpus0.toDF("vec_id", "embedding")
    val idx = java.nio.file.Files.createTempDirectory("maybe-retrain")
      .toString + "/ix"
    Similarity.writeIvfPqIndex(corpus0Df, idx, numCentroids = 16,
      m = 4, ksub = 16, dim = dim)
    Similarity.retrainIvfPq(spark, corpus0Df, idx, trainIters = 4)
    val booksBefore = spark.read.parquet(idx + "_codebook")
      .orderBy("vec_id").collect().toSeq
    val inBatch = (0 until 8).flatMap { j =>
      (0 until 5).map(i => (9000L + j * 10L + i, draw(centers(j), 0.05)))
    }.toDF("vec_id", "embedding")
    assert(!StoreUpkeep.maybeRetrain(spark, corpus0Df, inBatch, idx),
      "no-drift draw must never fire")
    assert(spark.read.parquet(idx + "_codebook").orderBy("vec_id")
      .collect().toSeq == booksBefore, "a non-firing policy must not touch " +
      "the codebook")
    // drift: 8 NEW tight clusters at the ANTIPODES of the old centers —
    // directions the trained codebook has no centroid near, so batch
    // cosines collapse and recall at fixed nprobe decays
    val drifted = (0 until 8).flatMap { j =>
      (0 until 40).map(i => (5000L + j * 100L + i, draw(centers(j).map(-_), 0.05)))
    }
    val driftedDf = drifted.toDF("vec_id", "embedding")
    Similarity.appendIvfPq(spark, driftedDf, idx)
    val corpus1Df = (corpus0 ++ drifted).toDF("vec_id", "embedding")
    val driftBatch = (0 until 8).flatMap { j =>
      (0 until 5).map(i => (9500L + j * 10L + i, draw(centers(j).map(-_), 0.05)))
    }.toDF("vec_id", "embedding")
    // the measured signal the policy gates on
    val report = Similarity.ivfDriftReport(spark, idx, driftBatch).collect()
      .filter(_.getAs[Long]("n_batch") > 0L)
    val nb = report.map(_.getAs[Long]("n_batch")).sum
    val meanCos = report.map(r =>
      r.getAs[Long]("n_batch") * r.getAs[Double]("mean_cos_batch")).sum / nb
    info(f"drift-batch weighted mean assignment cosine: $meanCos%.3f")
    assert(meanCos < 0.70, s"construction must sit below the documented " +
      s"default threshold, got $meanCos")
    // threshold exactness: the same drifted batch with the bar set BELOW
    // its measured cosine (and the skew leg disabled) must NOT fire —
    // firing is the threshold crossing, not the call
    assert(!StoreUpkeep.maybeRetrain(spark, corpus1Df, driftBatch, idx,
      minMeanCos = meanCos - 0.05, maxMassSkew = 1e9),
      "policy fired below its threshold")
    // at the defaults it fires, k-means retrains, and recall recovers
    val qdrift = (0 until 8).map(j => drifted(j * 40)).toDF("vec_id", "embedding")
    def recall1(): Double = Similarity.ivfPqRecall(spark, idx, qdrift,
        corpus1Df, k = 5, nprobes = Seq(1), rerankFactor = 8, m = 4, dim = dim)
      .collect().head.getDouble(4)
    val before = recall1()
    assert(StoreUpkeep.maybeRetrain(spark, corpus1Df, driftBatch, idx),
      "policy must fire past the documented threshold")
    val after = recall1()
    info(s"recall@5 nprobe=1: before=$before after=$after")
    assert(after >= before && after >= 0.8,
      s"firing policy did not recover recall: before=$before after=$after")
  }

  test("residual ivfadc: same surface, non-degenerate codebooks, deterministic") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 4)
    def buildAndProbe(byRes: Boolean) = {
      val idx = java.nio.file.Files
        .createTempDirectory(s"ivfpqres-$byRes").toString + "/ix"
      Similarity.writeIvfPqIndex(emb, idx, numCentroids = 16,
        m = 4, ksub = 16, dim = 64, byResidual = byRes)
      (idx, Similarity.ivfPqTopK(spark, idx, queries, emb,
        k = 3, nprobe = 4, rerankFactor = 4, m = 4, dim = 64))
    }
    val (idxRes, resTopK) = buildAndProbe(byRes = true)
    val (_, rawTopK) = buildAndProbe(byRes = false)
    // identical output surface + partition pruning in residual mode
    assert(resTopK.columns.toSeq ==
      Seq("query_id", "vec_id", "cos_sim", "approx_ip", "rank"))
    assert(resTopK.count() == 12 && rawTopK.count() == 12)
    val plan = resTopK.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("centroid_id"))
    // degeneracy guard (the bug this spec caught): residual codebooks
    // drawn from ids < numCentroids would be the centroids' OWN
    // residuals — identically zero, quantizing every residual to r̂ = 0.
    // The offset fix draws them from ids ≥ numCentroids; their entries
    // must carry real mass.
    val cbMass = spark.read.parquet(idxRes + "_pq")
      .select(expr("aggregate(c_sub, 0d, (a, x) -> a + abs(x))").as("mass"))
      .agg(min(col("mass"))).head().getDouble(0)
    assert(cbMass > 0.0, "residual codebook has an all-zero entry")
    // NO residual-beats-raw inequality here: on THIS corpus (synthetic,
    // unclustered) residuals x − c of near-orthogonal vectors are
    // LARGER than x, so raw codes genuinely score tighter (measured
    // 0.18 vs 0.30 MAD) — residual encoding pays off when the corpus
    // clusters around its centroids, which is a data property, not a
    // code property. Correctness is gated by the q_ivf_pq_res oracle;
    // here we pin determinism of the full build+probe chain instead.
    val again = buildAndProbe(byRes = true)._2
      .orderBy("query_id", "rank").collect().toSeq
    assert(again == resTopK.orderBy("query_id", "rank").collect().toSeq)
    // reusing the residual index through the recall sweep works too
    val rec = Similarity.ivfPqRecall(spark, idxRes, queries, emb,
        k = 3, nprobes = Seq(1, 4), rerankFactor = 4, m = 4, dim = 64)
      .collect()
    assert(rec.length == 2 && rec.forall(_.getDouble(4) > 0.0))
  }

  test("cdc plan shape: broadcast anti-join under broadcastChangedKeys, broadcast probe join in linkage") {
    val base = spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
    val ch = base.limit(10).select(col("c_custkey"), col("c_name"),
      col("c_nationkey"), col("c_acctbal"), col("c_mktsegment"),
      lit("U").as("op"), col("c_custkey").as("seq"))
    val plan = Cdc.applyChangelog(base, ch, "c_custkey", "seq",
        broadcastChangedKeys = true)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
      s"expected broadcast anti-join:\n$plan")

    import Linkage.LinkRule
    val lplan = Linkage.linkPairs(base, "c_custkey", "c_nationkey",
        Seq(LinkRule("seg", 2.0, (a, b) => a("c_mktsegment") === b("c_mktsegment"))),
        matchAt = 2.0, possibleAt = 2.0, broadcastSide = true)
      .queryExecution.executedPlan.toString
    assert(lplan.contains("BroadcastHashJoin"),
      s"expected broadcast pair join:\n$lplan")
  }

  test("incremental agg maintenance equals the from-scratch aggregate") {
    val base = Seq((1L, "g1", 10.0), (2L, "g1", 20.0), (3L, "g2", 30.0))
      .toDF("id", "grp", "v")
    val changes = Seq(
      (1L, "g2", 11.0, "U", 1L), // group move g1 → g2
      (2L, "g1", 0.0, "D", 2L),  // delete
      (4L, "g3", 40.0, "I", 3L), // brand-new group
      (5L, "g4", 1.0, "I", 4L), (5L, "g4", 0.0, "D", 5L) // net no-op key
    ).toDF("id", "grp", "v", "op", "seq")
    val maintained = Cdc.incrementalAgg(base, changes, "id", "seq", "grp", "v")
      .orderBy("grp").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    val scratch = Cdc.applyChangelog(base, changes, "id", "seq")
      .groupBy("grp")
      .agg(count(lit(1)).as("n"), sum(col("v").cast("decimal(28,4)")).cast("double").as("s"))
      .orderBy("grp").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(maintained.toSeq == scratch.toSeq)
    assert(maintained.toSeq == Seq(("g2", 2L, 41.0), ("g3", 1L, 40.0)))

    // chained maintenance: feed the view back via baseAggOpt with the
    // NEXT batch against the CURRENT snapshot — base agg never re-runs
    val view1 = Cdc.incrementalAgg(base, changes, "id", "seq", "grp", "v")
    val snap1 = Cdc.applyChangelog(base, changes, "id", "seq")
    val b2 = Seq((4L, "g3", 45.0, "U", 10L), (1L, "g2", 0.0, "D", 11L))
      .toDF("id", "grp", "v", "op", "seq")
    val view2 = Cdc.incrementalAgg(snap1, b2, "id", "seq", "grp", "v",
        baseAggOpt = Some(view1))
      .orderBy("grp").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    val scratch2 = Cdc.applyChangelog(snap1, b2, "id", "seq")
      .groupBy("grp")
      .agg(count(lit(1)).as("n"), sum(col("v").cast("decimal(28,4)")).cast("double").as("s"))
      .orderBy("grp").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(view2.toSeq == scratch2.toSeq)
    assert(view2.toSeq == Seq(("g2", 1L, 30.0), ("g3", 1L, 45.0)))
  }

  test("linkage: rule scores, tiers, and the oversized-block guard") {
    import Linkage.LinkRule
    val recs = Seq(
      (1L, "blk1", "GOLD", 100.0),
      (2L, "blk1", "GOLD", 120.0),  // both rules agree with 1 → 4.5 match
      (3L, "blk1", "SILV", 130.0),  // close to 2 only → 2.5 (dropped < 3.0)
      (4L, "blk2", "GOLD", 500.0),  // different block: never meets 1/2/3
      (5L, "big", "GOLD", 100.0), (6L, "big", "GOLD", 100.0),
      (7L, "big", "GOLD", 100.0),
      (8L, "big", "GOLD", 100.0)    // 4-record block, capped out below
    ).toDF("id", "blk", "seg", "bal")
    val rules = Seq(
      LinkRule("same_seg", 2.0, (a, b) => a("seg") === b("seg")),
      LinkRule("close_bal", 2.5, (a, b) => abs(a("bal") - b("bal")) < lit(50.0)))
    val got = Linkage.linkPairs(recs, "id", "blk", rules,
        matchAt = 4.0, possibleAt = 3.0, maxBlockSize = 3)
      .orderBy("id_a", "id_b").collect()
    // the big block (4 > cap 3) is excluded entirely; blk1 yields one
    // match pair (1,2); (1,3)/(2,3) score 2.5 < possibleAt
    assert(got.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((1L, 2L)))
    assert(got.head.getAs[Double]("score") == 4.5)
    assert(got.head.getAs[String]("tier") == "match")
    val over = Linkage.oversizedBlocks(recs, "blk", maxBlockSize = 3).collect()
    assert(over.map(r => (r.getString(0), r.getLong(1))).toSeq == Seq(("big", 4L)))
  }

  test("fuzzy pairs: broadcast path and length prefilter are exactly lossless") {
    val rnd = new scala.util.Random(31)
    val alphabet = "abcdefghijklmnop"
    def word(n: Int) = (0 until n).map(_ => alphabet(rnd.nextInt(16))).mkString
    // clusters of typo'd variants (same prefix, 1-2 char edits) plus
    // unrelated names and extreme-length rows that the length guard
    // must be allowed to drop
    val base = (0 until 40).map(_ => word(8 + rnd.nextInt(8)))
    val rows = base.zipWithIndex.flatMap { case (w, i) =>
      val variant = w.updated(rnd.nextInt(w.length), 'z')
      Seq((i * 3L, s"b${i % 3}", w), (i * 3L + 1, s"b${i % 3}", variant),
        (i * 3L + 2, s"b${i % 3}", w + word(20))) // length outlier
    }.toDF("id", "blk", "name")
    def run(bc: Boolean) =
      Linkage.fuzzyPairs(rows, "id", "blk", "name",
          threshold = 0.9, broadcastSide = bc)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val shuffled = run(bc = false)
    val broadcastGot = run(bc = true)
    assert(shuffled == broadcastGot)
    // brute-force truth WITHOUT any length guard: every same-block pair
    val truth = {
      val rs = rows.collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      (for {
        (ia, ba, ta) <- rs; (ib, bb, tb) <- rs
        if ba == bb && ia < ib
      } yield {
        val jw = BigDecimal(graft.functions.JaroWinkler.score(
            org.apache.spark.unsafe.types.UTF8String.fromString(ta),
            org.apache.spark.unsafe.types.UTF8String.fromString(tb)))
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
        (ia, ib, jw)
      }).filter(_._3 >= 0.9).toSet
    }
    assert(shuffled == truth, "length prefilter must not drop a kept pair")
    assert(truth.nonEmpty)
  }

  test("fuzzy pairs: supplementary-plane text bypasses the length guard") {
    // 𝐀 (U+1D400) is 1 code point but 2 UTF-16 code units: the scorer
    // counts units, Spark length() counts points, so the ratio bound is
    // only sound on ASCII — this pair must reach the scorer and match
    val s1 = "𝐀𝐁"       // 2 cp, 4 cu
    val s2 = s1 + "xy"                         // 4 cp, 6 cu
    val jw = graft.functions.JaroWinkler.score(
      org.apache.spark.unsafe.types.UTF8String.fromString(s1),
      org.apache.spark.unsafe.types.UTF8String.fromString(s2))
    assert(jw >= 0.93, s"scenario needs a high-scoring pair, got $jw")
    val df = Seq((1L, "b", s1), (2L, "b", s2)).toDF("id", "blk", "name")
    val got = Linkage.fuzzyPairs(df, "id", "blk", "name", threshold = 0.93)
      .collect()
    assert(got.length == 1 && got.head.getLong(0) == 1L,
      "non-ASCII pair must not be dropped by the code-point length ratio")
  }

  test("sorted-neighborhood pairs: equals the single-order truth under any partitioning") {
    val rnd = new scala.util.Random(17)
    val names = (0 until 300).map { i =>
      val stem = s"record name ${('a' + i % 20).toChar}${i % 7}"
      if (i % 3 == 0) stem + " variant" else stem + s" ${rnd.nextInt(10)}"
    }
    val df = names.zipWithIndex.map { case (n, i) => (i.toLong, n) }
      .toDF("id", "name")
    val w = 5
    // truth: one in-memory sort by (name, id), score each row against
    // the w-1 that follow
    val sorted = df.collect().map(r => (r.getLong(0), r.getString(1)))
      .sortBy { case (id, n) => (n, id) }
    val truth = (for {
      i <- sorted.indices; j <- (i + 1) until math.min(i + w, sorted.length)
    } yield {
      val jw = BigDecimal(graft.functions.JaroWinkler.score(
          org.apache.spark.unsafe.types.UTF8String.fromString(sorted(i)._2),
          org.apache.spark.unsafe.types.UTF8String.fromString(sorted(j)._2)))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      (sorted(i)._1, sorted(j)._1, jw)
    }).filter(_._3 >= 0.85).toSet
    assert(truth.nonEmpty)
    for (parts <- Seq(1, 13)) {
      val got = Linkage.sortedNeighborhoodPairs(df.repartition(parts),
          "id", "name", "name", window = w, threshold = 0.85)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(got == truth, s"parts=$parts")
    }
  }

  test("fuzzy pairs broadcast plan: BroadcastHashJoin carries the scoring, no block-keyed exchange") {
    val rows = (0 until 200).map(i => (i.toLong, s"b${i % 3}", s"name $i"))
      .toDF("id", "blk", "name")
    val plan = Linkage.fuzzyPairs(rows, "id", "blk", "name",
        threshold = 0.9, broadcastSide = true)
      .queryExecution.executedPlan.toString
    // 3 block keys would serialize a shuffled self-join on 3 reducers;
    // the broadcast form must keep the quadratic scoring on the
    // row-partitioned scan side
    assert(plan.contains("BroadcastHashJoin"), s"no broadcast join:\n$plan")
  }

  test("pq: full codebook + full re-rank degenerates to exact brute force") {
    // 12 distinct vectors, dim 8, m=2: with ksub = n every subvector
    // encodes to its own centroid (d²=0), approx_ip = exact ip, and
    // rerankFactor 4 (k·4 = 12 = n) re-ranks ALL rows by exact cosine —
    // the result must equal bruteForceTopK row for row
    val vecs = (0 until 12).map { i =>
      (i.toLong, Array.tabulate(8)(d => (1.0f + ((i * 7 + d * 3) % 11)) / 11f))
    }.toDF("vec_id", "embedding")
    val queries = vecs.filter(col("vec_id") < 2)
    val pq = Pq.pqTopK(vecs, queries, k = 3, m = 2, ksub = 12, dim = 8,
        rerankFactor = 4)
      .select("query_id", "vec_id", "cos_sim", "rank")
      .orderBy("query_id", "rank").collect()
    val bf = Similarity.bruteForceTopK(vecs, queries, k = 3)
      .orderBy("query_id", "rank").collect()
    assert(pq.length == bf.length)
    pq.zip(bf).foreach { case (p, b) =>
      assert((p.getLong(0), p.getLong(1), p.getInt(3)) ==
        (b.getLong(0), b.getLong(1), b.getInt(3)))
      assert(p.getDouble(2) == b.getDouble(2))
    }
    // codes live in [0, ksub)
    val cb = Pq.pqCodebooks(vecs, m = 2, ksub = 4, dim = 8)
    val codes = Pq.pqEncode(vecs, cb, m = 2, dim = 8)
    assert(codes.count() == 24) // 12 vectors × 2 subspaces
    assert(codes.filter(col("code") < 0 || col("code") >= 4).count() == 0)
  }

  test("span-link edges: ubiquitous spans are capped out of pair generation") {
    // identical 40-token text in 5 docs → one shared span each; a cap
    // below the sharing degree excludes it, above yields all C(5,2)
    // pairs in both directions
    val txt = (1 to 40).map(i => s"tok$i").mkString(" ")
    val df = (1L to 5L).map(i => (i, txt)).toDF("doc_id", "text")
    assert(Graph.spanLinkEdges(df, 32, 16, maxDocsPerSpan = 4).count() == 0)
    assert(Graph.spanLinkEdges(df, 32, 16, maxDocsPerSpan = 8).count() == 20)
  }

  test("pagerank: symmetric pair is uniform, star centre dominates, mass conserved") {
    val pair = Seq((1L, 2L), (2L, 1L)).toDF("src", "dst")
    val pr = Graph.pageRank(pair, iters = 3).orderBy("node").collect()
    assert(pr.map(_.getDouble(1)).forall(r => math.abs(r - 0.5) < 1e-9))

    // undirected star 0—{1,2,3,4}: centre rank strictly above every leaf,
    // total mass ≈ 1
    val starPairs = (1L to 4L).flatMap(l => Seq((0L, l), (l, 0L)))
    val star = Graph.pageRank(starPairs.toDF("src", "dst"), iters = 5)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert((1L to 4L).forall(l => star(0L) > star(l)))
    assert(math.abs(star.values.sum - 1.0) < 1e-6)

    // dangling node: directed 1→2 only; 2's mass redistributes, total ≈ 1
    val dang = Graph.pageRank(Seq((1L, 2L)).toDF("src", "dst"), iters = 3)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(dang.values.sum - 1.0) < 1e-6)
    assert(dang(2L) > dang(1L)) // the sink receives 1's contribution

    // weighted: hub 0 splits 10:1 between leaves 1 and 2 — the heavy
    // leaf outranks the light one; mass still conserved
    val wEdges = Seq((0L, 1L, 10L), (1L, 0L, 10L), (0L, 2L, 1L), (2L, 0L, 1L))
      .toDF("src", "dst", "w")
    val wr = Graph.pageRank(wEdges, iters = 5, weightCol = Some("w"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(wr(1L) > wr(2L), s"weighted split not respected: $wr")
    assert(math.abs(wr.values.sum - 1.0) < 1e-6)
  }

  test("personalized pagerank: mass stays near seeds, off-component is zero") {
    // two disjoint undirected pairs; seed node 1 → component {3,4} gets 0
    val edges = Seq((1L, 2L), (2L, 1L), (3L, 4L), (4L, 3L)).toDF("src", "dst")
    def seeds(ids: Long*) = ids.toDF("node")
    val pr = Graph.personalizedPageRank(edges, seeds(1L), iters = 4)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(pr(3L) == 0.0 && pr(4L) == 0.0, s"unreachable component ranked: $pr")
    assert(pr(1L) > pr(2L) && pr(2L) > 0.0)
    assert(math.abs(pr.values.sum - 1.0) < 1e-9)

    // seeds outside the graph are ignored — identical result
    val prIgnored = Graph.personalizedPageRank(edges, seeds(1L, 99L), iters = 4)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(prIgnored == pr)

    // an empty seed ∩ graph intersection fails loudly
    intercept[IllegalArgumentException] {
      Graph.personalizedPageRank(edges, seeds(42L))
    }
  }

  test("triangles: diamond counts, canonicalization, hub has none") {
    // K4 minus {3,4}: triangles {1,2,3} and {1,2,4}
    val diamond = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L))
      .toDF("src", "dst")
    val counts = Graph.triangleCounts(diamond).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(counts == Map(1L -> 2L, 2L -> 2L, 3L -> 1L, 4L -> 1L))

    // stats: 4 nodes, 5 edges, wedges Σ C(deg,2) = 3+3+1+1 = 8,
    // clustering = 3·2/8
    val st = Graph.triangleStats(diamond).collect().head
    assert((st.getLong(0), st.getLong(1), st.getLong(2), st.getLong(3)) ==
      ((4L, 5L, 8L, 2L)))
    assert(math.abs(st.getDouble(4) - 0.75) < 1e-12)

    // reversed duplicates + self-loops canonicalize to the same graph
    val messy = diamond
      .union(diamond.select($"dst".as("src"), $"src".as("dst")))
      .union(Seq((3L, 3L), (1L, 2L)).toDF("src", "dst"))
    assert(Graph.triangleCounts(messy).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap == counts)

    // star hub: max degree, zero triangles — the orientation points every
    // edge AT the hub, so no wedge opens there
    val star = (1L to 6L).map(l => (0L, l)).toDF("src", "dst")
    val starCounts = Graph.triangleCounts(star).collect()
    assert(starCounts.length == 7 && starCounts.forall(_.getLong(1) == 0L))
    assert(Graph.triangleStats(star).collect().head.getDouble(4) == 0.0)
  }

  test("label propagation: two bridged triangles separate into their communities") {
    // triangles {1,2,3} and {4,5,6} joined by bridge 3-4: after 3
    // synchronous min-tie rounds each triangle converges to one label
    // (hand-replayed: r1 = 2,1,1,3,4,4; r2 = 1,1,1,4,3,3; r3 final)
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (4L, 5L), (5L, 6L),
      (4L, 6L), (3L, 4L)).toDF("src", "dst")
    val got = Graph.labelPropagation(edges, iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      4L -> 3L, 5L -> 3L, 6L -> 3L), s"got $got")
    // one round on a star: every leaf adopts the hub's label, the hub
    // adopts the smallest leaf's (all leaf labels tie at count 1)
    val star = (1L to 4L).map(l => (0L, l)).toDF("src", "dst")
    val one = Graph.labelPropagation(star, iters = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(one == Map(0L -> 1L, 1L -> 0L, 2L -> 0L, 3L -> 0L, 4L -> 0L))
    // reversed-duplicate edges canonicalize: same result
    val messy = edges.union(edges.select($"dst".as("src"), $"src".as("dst")))
    assert(Graph.labelPropagation(messy, iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap == got)
  }

  test("BFS levels: path distances, multi-source min, early exit, off-graph seeds") {
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("src", "dst")
    def run(seeds: Seq[Long], depth: Int) =
      Graph.bfsLevels(path, seeds.toDF("node"), maxDepth = depth)
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    // single seed, depth 3: node 5 stays unreached
    assert(run(Seq(1L), 3) == Map(1L -> 0, 2L -> 1, 3L -> 2, 4L -> 3))
    // both ends seeded: min over sources
    assert(run(Seq(1L, 5L), 10) ==
      Map(1L -> 0, 2L -> 1, 3L -> 2, 4L -> 1, 5L -> 0))
    // early exit: depth 10 on a 4-hop path terminates and is complete
    assert(run(Seq(1L), 10) ==
      Map(1L -> 0, 2L -> 1, 3L -> 2, 4L -> 3, 5L -> 4))
    // a seed that is not a graph node is ignored
    assert(run(Seq(99L), 5).isEmpty)
  }

  test("SSSP costs: cheapest beats fewest hops, frontier re-entry, multi-edge min") {
    // direct edge 1-4 costs 10; the 3-hop detour 1-2-3-4 costs 3: node 4
    // is first REACHED via the heavy edge (round 1) and must be improved
    // when the detour lands (round 3) — the exact case bfsLevels'
    // settled-first-wins shortcut would get wrong
    val g = Seq((1L, 4L, 10L), (1L, 2L, 1L), (2L, 3L, 1L), (3L, 4L, 1L))
      .toDF("src", "dst", "w")
    def run(seeds: Seq[Long], rounds: Int) =
      Graph.ssspCosts(g, seeds.toDF("node"), maxRounds = rounds)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(run(Seq(1L), 4) == Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 3L))
    // hop bound 1: only the direct (expensive) arrival exists yet
    assert(run(Seq(1L), 1) == Map(1L -> 0L, 2L -> 1L, 4L -> 10L))
    // parallel edges collapse to the min weight; both directions fold
    val multi = Seq((1L, 2L, 5L), (2L, 1L, 2L), (1L, 2L, 9L))
      .toDF("src", "dst", "w")
    assert(Graph.ssspCosts(multi, Seq(1L).toDF("node"), maxRounds = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      Map(1L -> 0L, 2L -> 2L))
    // multi-source: min over seeds; off-graph seed ignored
    assert(run(Seq(1L, 4L), 4) ==
      Map(1L -> 0L, 2L -> 1L, 3L -> 1L, 4L -> 0L))
    assert(run(Seq(42L), 3).isEmpty)
    // randomized: equals driver Bellman-Ford (<= rounds hops) on a
    // random weighted graph
    val rnd = new scala.util.Random(11)
    val edges = (0 until 60).map(_ =>
      (rnd.nextInt(15).toLong, rnd.nextInt(15).toLong, (1 + rnd.nextInt(9)).toLong))
      .filter(e => e._1 != e._2)
    val rounds = 5
    val adjMin = edges.flatMap { case (a, b, w) => Seq(((a, b), w), ((b, a), w)) }
      .groupBy(_._1).map { case (k, ws) => (k, ws.map(_._2).min) }
    val nodes = adjMin.keySet.flatMap(k => Seq(k._1, k._2))
    val seedSet = Seq(0L, 7L).filter(nodes.contains)
    var d = seedSet.map(_ -> 0L).toMap
    for (_ <- 0 until rounds) {
      val relax = adjMin.toSeq.flatMap { case ((u, v), w) =>
        d.get(u).map(c => v -> (c + w))
      }.groupBy(_._1).map { case (v, cs) => v -> cs.map(_._2).min }
      d = (d.keySet ++ relax.keySet).map { k =>
        k -> math.min(d.getOrElse(k, Long.MaxValue), relax.getOrElse(k, Long.MaxValue))
      }.toMap
    }
    val got = Graph.ssspCosts(edges.toDF("src", "dst", "w"),
        seedSet.toDF("node"), maxRounds = rounds)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == d, s"random graph: got $got want $d")
  }

  test("triangle delta: maintenance law old + delta == union") {
    // K4 built in two installments: old = 4-cycle (0 triangles), batch =
    // both diagonals → the 4 new triangles all belong to the delta
    val old4 = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)).toDF("src", "dst")
    val diag = Seq((1L, 3L), (2L, 4L)).toDF("src", "dst")
    val delta = Graph.triangleDelta(old4, diag).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val union = Graph.triangleCounts(old4.union(diag)).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(delta == union.filter(_._2 > 0), s"delta $delta vs union $union")

    // a batch edge already present creates nothing; a batch closing ONE
    // wedge credits exactly that triangle's corners
    assert(Graph.triangleDelta(old4, old4.limit(1)).count() == 0)
    val wedge = Seq((10L, 11L), (11L, 12L)).toDF("src", "dst")
    val close = Seq((10L, 12L)).toDF("src", "dst")
    assert(Graph.triangleDelta(wedge, close).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      Map(10L -> 1L, 11L -> 1L, 12L -> 1L))

    // law on the real substrate: span graph split by (src+dst)%3
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val edges = Graph.spanLinkEdges(docs)
    val oldE = edges.filter(($"src" + $"dst") % 3 =!= 0)
    val batch = edges.filter(($"src" + $"dst") % 3 === 0)
    val d = Graph.triangleDelta(oldE, batch).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val o = Graph.triangleCounts(oldE).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap.withDefaultValue(0L)
    val u = Graph.triangleCounts(edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    u.foreach { case (n, cu) =>
      assert(cu == o(n) + d.getOrElse(n, 0L), s"law broken at node $n")
    }
  }

  test("triangles: degree-oriented enumeration equals the id-ordered 3-join") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val edges = Graph.spanLinkEdges(docs)
    // independent replay, the oracle's shape: canonical a<b pairs,
    // ascending 3-join
    val p = edges.select(least($"src", $"dst").as("a"),
        greatest($"src", $"dst").as("b")).distinct()
    val e2 = p.select($"a".as("b"), $"b".as("c"))
    val e3 = p.select($"a".as("a"), $"b".as("c"))
    val naive = p.join(e2, "b").join(e3, Seq("a", "c"), "left_semi")
      .select(explode(array($"a", $"b", $"c")).as("node"))
      .groupBy("node").agg(count(lit(1)).as("t"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val engine = Graph.triangleCounts(edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(engine.filter(_._2 > 0L) == naive,
      s"oriented vs naive mismatch: $engine vs $naive")
    assert(engine.values.sum / 3 == naive.values.sum / 3)
  }

  test("rendezvous sharding: consistent-routing law under shard growth") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    def assign(n: Int) = Sampling.rendezvousShard(docs, "doc_id", n)
      .select("doc_id", "shard").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val at8 = assign(8)
    val at9 = assign(9)
    assert(at8.values.forall(s => s >= 0 && s < 8))
    // THE rendezvous property: growing 8 → 9 moves keys ONLY onto the
    // new shard — every key not routed to shard 8 keeps its assignment
    val moved = at8.keys.filter(k => at8(k) != at9(k)).toSeq
    assert(moved.forall(k => at9(k) == 8),
      s"a key moved between OLD shards: ${moved.map(k => (k, at8(k), at9(k))).take(3)}")
    // expected movement ≈ 1/9 of keys; loose band (binomial on 500)
    assert(moved.size > 20 && moved.size < 120, s"moved ${moved.size} of 500")
    // deterministic across evaluations
    assert(assign(8) == at8)
  }

  test("k-core: trees peel away, cycles survive, deep chains converge") {
    // cycle 1-2-3-4-1 with tail 4-5-6: 2-core = the cycle, degrees all 2
    val cyc = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L), (4L, 5L), (5L, 6L))
      .toDF("src", "dst")
    val core2 = Graph.kCore(cyc, k = 2).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(core2 == Map(1L -> 2L, 2L -> 2L, 3L -> 2L, 4L -> 2L))

    // K4 + pendant: 3-core = the clique exactly; 4-core empty
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (4L, 9L)).toDF("src", "dst")
    assert(Graph.kCore(k4, k = 3).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
    assert(Graph.kCore(k4, k = 4).count() == 0)

    // 20-node path: peeling eats one node from each end per round — the
    // multi-round convergence path (and the empty fixpoint)
    val path = (1L until 20L).map(i => (i, i + 1)).toDF("src", "dst")
    assert(Graph.kCore(path, k = 2).count() == 0)
    // ...and the maxIters guard fails loudly instead of half-peeling
    intercept[IllegalStateException] {
      Graph.kCore(path, k = 2, maxIters = 3)
    }

    // k = 1 on an already-1-core graph: fixpoint on round one, identity
    assert(Graph.kCore(cyc, k = 1).count() == 6)
  }

  test("dim recall: full-dim prefix is exact, sweep rows bounded and sane") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val res = Similarity.dimRecall(emb, emb.filter($"vec_id" < 5), k = 3,
        dims = Seq(8, 64))
      .collect().map(r => r.getInt(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    // the d = 64 prefix IS the full vector: identical scores, identical
    // ties, recall exactly 1
    val (ep64, tp64, hp64, r64) = res(64)
    assert(tp64 == ep64 && hp64 == ep64 && r64 == 1.0,
      s"full-dim prefix must reproduce exact top-k: ${res(64)}")
    // every sweep row: k pairs per query, hits within [0, trunc]
    res.values.foreach { case (ep, tp, hp, r) =>
      assert(ep == 15L && tp == 15L && hp >= 0L && hp <= tp)
      assert(math.abs(r - hp.toDouble / ep.toDouble) < 1e-15)
    }
    // duplicate dims are a caller bug, not a silent double-count
    intercept[IllegalArgumentException] {
      Similarity.dimRecall(emb, emb.limit(1), k = 1, dims = Seq(8, 8))
    }
  }

  test("truncated top-k: full corpus pool and full-dim prefix both reduce to brute force") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = emb.filter($"vec_id" < 5)
    val brute = Similarity.bruteForceTopK(emb, queries, k = 3)
      .select("query_id", "vec_id", "cos_sim", "rank").collect().toSet
    // pool ≥ corpus (500 vectors < 3·200): the 8-dim prefix can't lose
    // any candidate, so the exact re-rank reproduces brute force
    // regardless of prefix quality
    val wide = Similarity.truncatedTopK(emb, queries, k = 3, d = 8,
        rerankFactor = 200)
      .select("query_id", "vec_id", "cos_sim", "rank").collect().toSet
    assert(wide == brute, "full-pool truncated retrieval must be exact")
    // d = dim: prefix scores ARE the exact scores — rf = 1 already exact,
    // and prefix_sim must equal cos_sim row by row
    val full = Similarity.truncatedTopK(emb, queries, k = 3, d = 64,
      rerankFactor = 1)
    assert(full.filter($"prefix_sim" =!= $"cos_sim").count() == 0)
    assert(full.select("query_id", "vec_id", "cos_sim", "rank")
      .collect().toSet == brute)
  }

  test("binary quantization: packed hamming is exact, wide pool reduces to brute force") {
    // hand-checked packing: dim 70 spans two words, and the hamming is
    // the count of sign disagreements regardless of word layout
    val a = Array.tabulate(70)(i => if (i % 3 == 0) 1.0f else -1.0f)
    val b = Array.tabulate(70)(i => if (i % 5 == 0) 1.0f else -1.0f)
    val expected = (0 until 70).count(i => (i % 3 == 0) != (i % 5 == 0))
    val hd = Seq((a, b)).toDF("a", "b")
      .select(Similarity.binaryHamming(
        Similarity.binarySignWords($"a", 70),
        Similarity.binarySignWords($"b", 70)).as("h"))
      .collect()(0).getLong(0)
    assert(hd == expected.toLong, s"hamming $hd != $expected")
    // identical vectors → 0; negated vectors → dim
    val az = Seq((a, a.map(-_))).toDF("a", "b")
    assert(az.select(Similarity.binaryHamming(
        Similarity.binarySignWords($"a", 70),
        Similarity.binarySignWords($"a", 70)).as("h"))
      .collect()(0).getLong(0) == 0L)
    assert(az.select(Similarity.binaryHamming(
        Similarity.binarySignWords($"a", 70),
        Similarity.binarySignWords($"b", 70)).as("h"))
      .collect()(0).getLong(0) == 70L)

    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = emb.filter($"vec_id" < 5)
    // the native VecHamming loop must agree with the declarative
    // zip_with+aggregate formulation on every corpus pair vs query 0
    val q0 = emb.filter($"vec_id" === 0)
      .select(Similarity.binarySignWords($"embedding", 64).as("qb"))
      .collect()(0).getSeq[Long](0).toArray
    val disagree = emb
      .select(Similarity.binarySignWords($"embedding", 64).as("cb"))
      .withColumn("qb", typedLit(q0))
      .select(
        Similarity.binaryHamming($"cb", $"qb").as("native"),
        aggregate(
          zip_with($"cb", $"qb", (x, y) => bit_count(x.bitwiseXOR(y)).cast("long")),
          lit(0L), (acc, x) => acc + x).as("declarative"))
      .filter($"native" =!= $"declarative").count()
    assert(disagree == 0L, "VecHamming must equal the zip_with formulation")

    val brute = Similarity.bruteForceTopK(emb, queries, k = 3)
      .select("query_id", "vec_id", "cos_sim", "rank").collect().toSet
    // pool ≥ corpus (500 < 3·200): Hamming can't lose a candidate, so
    // the exact re-rank reproduces brute force
    val wide = Similarity.binaryTopK(emb, queries, k = 3, dim = 64,
        rerankFactor = 200)
      .select("query_id", "vec_id", "cos_sim", "rank").collect().toSet
    assert(wide == brute, "full-pool binary retrieval must be exact")

    // recall sweep: monotone in rf, bounded, and exact at full width
    val sweep = Similarity.binaryRecall(emb, queries, k = 3, dim = 64,
        rerankFactors = Seq(1, 4, 200))
      .collect().map(r => r.getInt(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    val recalls = Seq(1, 4, 200).map(rf => sweep(rf)._4)
    assert(recalls == recalls.sorted, s"recall must be monotone in rf: $recalls")
    sweep.values.foreach { case (ep, bp, hp, r) =>
      assert(ep == 15L && bp == 15L && hp >= 0L && hp <= bp)
      assert(math.abs(r - hp.toDouble / ep.toDouble) < 1e-15)
    }
    assert(sweep(200)._4 == 1.0, "full-width rf must recover exact top-k")
    intercept[IllegalArgumentException] {
      Similarity.binaryRecall(emb, emb.limit(1), k = 1, rerankFactors = Seq(2, 2))
    }
  }

  test("mutual nearest neighbors: hand geometry, symmetry, and hub exclusion") {
    // e0/e1 are each other's top-1; e2's top-1 is e0 but e0's is e1 —
    // one-directional attraction must NOT pair
    val emb = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (1L, Array(0.99f, 0.1f, 0.0f, 0.0f)),
      (2L, Array(0.7f, -0.7f, 0.0f, 0.0f)),
      (3L, Array(0.0f, 0.0f, 1.0f, 0.0f)),
      (4L, Array(0.0f, 0.0f, 0.98f, 0.2f)),
    ).toDF("vec_id", "embedding")
    val got = Similarity.mutualNeighbors(emb)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((0L, 1L), (3L, 4L)), s"got $got")
  }

  test("link prediction: hand graph scores, cap drops hub centers") {
    // square a-b-c-d-a: the two diagonals are the only predictions,
    // each with common neighbors {2}, RA = 1/2 + 1/2, jaccard = 1
    val square = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)).toDF("src", "dst")
    val got = Graph.linkPredict(square, maxDegree = 64, minCommon = 2)
      .collect().map(r => ((r.getLong(0), r.getLong(1)),
        (r.getLong(2), r.getDouble(3), r.getDouble(4)))).toMap
    assert(got.keySet == Set((1L, 3L), (2L, 4L)), s"got ${got.keySet}")
    got.values.foreach { case (cn, jac, ra) =>
      assert(cn == 2L && jac == 1.0 && ra == 1.0, s"got $got")
    }
    // path a-b-c at minCommon=1: predict (a, c) through b, RA = 1/deg(b)
    val path = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val p = Graph.linkPredict(path, maxDegree = 64, minCommon = 1).collect()
    assert(p.length == 1)
    assert((p(0).getLong(0), p(0).getLong(1), p(0).getLong(2),
      p(0).getDouble(3), p(0).getDouble(4)) == ((1L, 3L, 1L, 1.0, 0.5)))
    // a star center above the degree cap is not enumerated: no output
    val star = (2L to 6L).map(i => (1L, i)).toDF("src", "dst")
    assert(Graph.linkPredict(star, maxDegree = 4, minCommon = 1).count() == 0)
    // ...and just below the cap the leaves pair through the center
    assert(Graph.linkPredict(star, maxDegree = 5, minCommon = 1).count() == 10)
  }

  test("co-occurrence projection: canonical edges, group cap, duplication idempotence") {
    val baskets = Seq(
      (10L, 1L), (10L, 2L), (10L, 3L),  // triangle 1-2-3
      (11L, 2L), (11L, 4L),             // edge 2-4
      (12L, 5L),                        // singleton group: no pairs
    ).toDF("g", "i")
    val got = Graph.coOccurrenceEdges(baskets, "g", "i")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L)))
    // a group over the item cap is dropped entirely
    val capped = Graph.coOccurrenceEdges(baskets, "g", "i", maxItemsPerGroup = 2)
    assert(capped.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
      Set((2L, 4L)))
    // duplicating every basket under fresh group ids changes NOTHING:
    // the projection is a distinct pair set — the scale property that
    // makes re-crawled/re-delivered groups free
    val dup = (0 until 10).map(rep =>
        baskets.select((col("g") + rep * 1000).as("g"), col("i")))
      .reduce(_ unionByName _)
    val got10 = Graph.coOccurrenceEdges(dup, "g", "i")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got10 == got, "projection must be idempotent under basket duplication")
  }

  test("path trigrams and dwell stats: hand streams, boundary-exact top-N") {
    // user 1: a,b,c,d at 0/10/30/60s; user 2: a,b,c at 0/5/9s
    val ev = Seq(
      (1L, 1L, "a", 0L), (2L, 1L, "b", 10000L), (3L, 1L, "c", 30000L),
      (4L, 1L, "d", 60000L),
      (5L, 2L, "a", 0L), (6L, 2L, "b", 5000L), (7L, 2L, "c", 9000L),
    ).toDF("event_id", "user_id", "event_type", "ts_ms")
    val tri = Events.pathTrigrams(ev, topN = 10)
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(tri.toSet == Set(("a", "b", "c", 2L), ("b", "c", "d", 1L)))
    // topN=1 keeps the higher count; a tie would break lexicographically
    assert(Events.pathTrigrams(ev, topN = 1).collect()(0).getLong(3) == 2L)

    val dwell = Events.dwellStats(ev)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))).toMap
    // a->b gaps: 10000 and 5000 -> mean 7500; b->c gaps: 20000 and 4000
    assert(dwell("a" -> "b") == ((2L, 5000L, 10000L, 7500.0)))
    assert(dwell("b" -> "c") == ((2L, 4000L, 20000L, 12000.0)))
    assert(dwell("c" -> "d") == ((1L, 30000L, 30000L, 30000.0)))
  }

  test("MAD outliers: hand medians, zero-MAD guard") {
    val df = Seq(
      ("a", 1.0), ("a", 2.0), ("a", 3.0), ("a", 100.0),
      ("b", 5.0), ("b", 5.0), ("b", 5.0), ("b", 9999.0),
    ).toDF("grp", "v")
    val got = Stats.madOutliers(df, "v", "grp", cutoff = 3.0)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getLong(4)))).toMap
    // group a: disc-median of {1,2,3,100} = 2; deviations {1,0,1,98},
    // disc-median = 1 → fence 3: only 98 exceeds
    assert(got("a") == ((4L, 2.0, 1.0, 1L)), s"got ${got("a")}")
    // group b: MAD = 0 (3 of 4 identical) → degenerate fence flags NOTHING,
    // even though 9999 is wildly off — the documented conservative rule
    assert(got("b") == ((4L, 5.0, 0.0, 0L)), s"got ${got("b")}")
  }

  test("k-anonymity: class populations, risk, and violation flags") {
    val df = Seq(
      (25, "A"), (25, "A"), (25, "A"), (30, "A"), (30, "B"), (30, "B"),
    ).toDF("age", "seg")
    val got = Pii.kAnonymity(df, Seq("age", "seg"), k = 3)
      .collect().map(r => (r.getInt(0), r.getString(1)) ->
        ((r.getLong(2), r.getDouble(3), r.getBoolean(4)))).toMap
    assert(got(25 -> "A") == ((3L, 0.333333, false)))
    assert(got(30 -> "A") == ((1L, 1.0, true)))
    assert(got(30 -> "B") == ((2L, 0.5, true)))
    intercept[IllegalArgumentException] { Pii.kAnonymity(df, Seq(), k = 3) }
    intercept[IllegalArgumentException] { Pii.kAnonymity(df, Seq("age"), k = 1) }
  }

  test("key profile: heavy hitter share and skew ratio, plan avoids a global window over keys") {
    val df = (Seq.fill(8)(7L) ++ Seq(1L, 2L, 3L, 4L)).toDF("k")
    val rows = Skew.keyProfile(df, col("k"), topN = 2).orderBy("rank").collect()
    assert(rows.length == 2)
    val r0 = rows(0)
    // key 7: 8 of 12 rows over 5 distinct keys → share 8/12, ratio 8/(12/5)
    assert((r0.getInt(0), r0.getLong(1), r0.getLong(2), r0.getLong(3),
      r0.getLong(4)) == ((1, 7L, 8L, 12L, 5L)))
    assert(r0.getDouble(5) == 0.666667 && r0.getDouble(6) == math.rint(8.0 / 2.4 * 1e4) / 1e4)
    assert(rows(1).getLong(1) == 1L, "ties below the top key break on key value")
    // the |keys|-sized top-N must be TakeOrderedAndProject, not a
    // single-partition window over every key
    val plan = Skew.keyProfile(df, col("k"), topN = 2)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), s"plan was:\n$plan")
  }

  test("centroid drift: single group is the identity, hand geometry agrees") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    // one group == the corpus: its centroid IS the global centroid
    val self = Similarity.centroidDrift(
      emb.withColumn("label", lit(0)), "label").collect()
    assert(self.length == 1)
    assert(self(0).getDouble(2) == 1.0 && self(0).getDouble(3) == 1.0)
    // hand geometry: group 0 sums (2,0), group 1 (0,1), global (2,1)
    val hand = Seq(
      (0, Array(1.0f, 0.0f)), (0, Array(1.0f, 0.0f)), (1, Array(0.0f, 1.0f)),
    ).toDF("label", "embedding")
    val got = Similarity.centroidDrift(hand, "label")
      .collect().map(r => r.getInt(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
    // cos((2,0),(2,1)) = 4/(2*sqrt(5)); ratio (2/2)/(sqrt(5)/3)
    assert(got(0)._1 == 2L && got(0)._2 == 0.8944)
    assert(math.abs(got(0)._3 - 3.0 / math.sqrt(5.0)) < 1e-4)
    assert(got(1)._1 == 1L && got(1)._2 == 0.4472)
  }

  test("FD violations: holding dependency returns nothing, breaks are counted") {
    val df = Seq(
      (1L, "a", 10), (1L, "a", 11), (2L, "b", 12), (2L, "c", 13), (2L, "c", 14),
    ).toDF("k", "dep", "other")
    // k -> dep is violated only by k=2 (two distinct deps over 3 rows)
    val got = Stats.fdViolations(df, Seq("k"), "dep")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == Seq((2L, 3L, 2L)))
    // the (k, dep) pair determines itself -> no violations
    assert(Stats.fdViolations(df, Seq("k", "dep"), "dep").count() == 0)
  }

  test("Benford: digit extraction spans magnitudes, shares sum to one") {
    val df = Seq(1.5, 19.0, 25.0, 0.05, 912.0, 0.0, -3.0)
      .toDF("v") // 0 and negatives excluded; digits 1,1,2,5,9
    val got = Stats.benford(df, "v")
      .collect().map(r => r.getInt(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(got.keySet == Set(1, 2, 5, 9))
    assert(got(1) == ((2L, 0.4)) && got(2) == ((1L, 0.2)))
    assert(got.values.map(_._2).sum == 1.0)
    // expected shares carry the Benford literals
    val e1 = Stats.benford(df, "v").filter($"digit" === 1)
      .collect()(0).getDouble(3)
    assert(e1 == 0.301029995664)
  }

  test("chi-square: independent table scores zero, dof from margins") {
    val indep = Seq.fill(10)(("x", "p")) ++ Seq.fill(10)(("x", "q")) ++
      Seq.fill(10)(("y", "p")) ++ Seq.fill(10)(("y", "q"))
    val z = Stats.chiSquare(indep.toDF("a", "b"), "a", "b").collect()
    assert(z.length == 4)
    z.foreach { r =>
      assert(r.getLong(2) == 10L && r.getDouble(3) == 10.0)
      assert(r.getDouble(4) == 0.0 && r.getDouble(5) == 0.0 && r.getLong(6) == 1L)
    }
    // dependent 2x2: cells (x,p)=20, (y,q)=20 -> e = 10 each occupied
    // cell, chi_term = 10; occupied-cell total = 20, dof = 1
    val dep = Seq.fill(20)(("x", "p")) ++ Seq.fill(20)(("y", "q"))
    val d = Stats.chiSquare(dep.toDF("a", "b"), "a", "b").collect()
    assert(d.length == 2)
    d.foreach { r =>
      assert(r.getDouble(4) == 10.0 && r.getDouble(5) == 20.0 && r.getLong(6) == 1L)
    }
  }

  test("hard negatives: cross-label only, ranked like brute force on the rest") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val labels = emb.select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val res = Similarity.hardNegatives(emb, emb.filter($"vec_id" < 3), k = 5)
      .collect()
    assert(res.length == 15)
    res.foreach { r =>
      assert(labels(r.getAs[Long]("vec_id")) != labels(r.getAs[Long]("query_id")),
        "a hard negative must not share the query's label")
    }
    // against a label-filtered brute-force replay: identical rows
    val brute = Similarity.bruteForceTopK(emb, emb.filter($"vec_id" < 3), k = 500)
      .collect()
      .filter(r => labels(r.getAs[Long]("vec_id")) != labels(r.getAs[Long]("query_id")))
      .groupBy(_.getAs[Long]("query_id")).toSeq
      .flatMap { case (_, rows) =>
        rows.sortBy(_.getAs[Int]("rank")).take(5).zipWithIndex.map {
          case (r, i) => (r.getLong(0), r.getLong(1), r.getDouble(2), i + 1) }
      }.toSet
    val got = res.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    assert(got == brute)
  }

  test("RRF hybrid: fused score recomputes from the emitted ranks; both-list items win") {
    // item 3 is rank-1 in BOTH lists for query 0: same text (sparse) and
    // nearest embedding (dense)
    val docs = Seq(
      (0L, "alpha beta gamma delta"),
      (1L, "zeta eta theta iota"),
      (2L, "kappa lambda mu nu"),
      (3L, "alpha beta gamma delta"),
      (4L, "xi omicron pi rho")).toDF("doc_id", "text")
    val emb = Seq(
      (0L, Array(1f, 0f, 0f)),
      (1L, Array(0f, 1f, 0f)),
      (2L, Array(0f, 0f, 1f)),
      (3L, Array(0.99f, 0.14f, 0f)),
      (4L, Array(0.5f, -0.8f, 0.33f))).toDF("vec_id", "embedding")
    val res = Retrieval.rrfHybridTopK(docs, emb, nQueries = 1,
      perList = 4, k = 5).collect()
    val top = res.filter(_.getAs[Int]("rank") == 1).head
    assert(top.getAs[Long]("item_id") == 3L)
    assert(top.getAs[Int]("rank_sparse") == 1 && top.getAs[Int]("rank_dense") == 1)
    res.foreach { r =>
      val rs = r.getAs[Int]("rank_sparse"); val rd = r.getAs[Int]("rank_dense")
      val want = (if (rs > 0) 1.0 / (60 + rs) else 0.0) +
        (if (rd > 0) 1.0 / (60 + rd) else 0.0)
      assert(math.abs(r.getAs[Double]("rrf_score") - want) < 1e-6,
        s"rrf_score must recompute from the emitted ranks: $r")
    }
    // scores weakly decrease in rank
    val scores = res.sortBy(_.getAs[Int]("rank")).map(_.getAs[Double]("rrf_score"))
    assert(scores.toSeq == scores.sortBy(-_).toSeq)
  }

  test("MMR: redundant near-twin is deferred in favor of the diverse candidate") {
    // query 0; candidates: 1 and 2 are near-twins (rel ~0.9), 3 mirrors 1
    // across the x-axis (same rel, dissimilar to 1). Greedy λ=0.7 must
    // pick 1 (tie on id vs 2), then 3 (2's twin-penalty sinks it), then 2.
    val emb = Seq(
      (0L, Array(1f, 0f)),
      (1L, Array(0.9f, 0.4359f)),
      (2L, Array(0.9f, 0.436f)),
      (3L, Array(0.9f, -0.4359f))).toDF("vec_id", "embedding")
    val picks = Retrieval.mmrSelect(emb, nQueries = 1, m = 3, k = 3, lambda = 0.7)
      .orderBy("mmr_rank").collect()
    assert(picks.map(_.getAs[Long]("vec_id")).toSeq == Seq(1L, 3L, 2L),
      s"got: ${picks.mkString(", ")}")
    // step-1 score is λ·rel; later scores carry the redundancy penalty
    assert(picks(0).getAs[Double]("mmr_score") > picks(1).getAs[Double]("mmr_score"))
    assert(picks(1).getAs[Double]("mmr_score") > picks(2).getAs[Double]("mmr_score"))
  }

  test("MMR on the corpus: first pick is the relevance argmax, picks are distinct") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val picks = Retrieval.mmrSelect(emb, nQueries = 2, m = 5, k = 3)
      .collect()
    assert(picks.length == 6)
    picks.groupBy(_.getAs[Long]("query_id")).foreach { case (q, rows) =>
      assert(rows.map(_.getAs[Long]("vec_id")).distinct.length == 3)
      assert(rows.map(_.getAs[Int]("mmr_rank")).sorted.toSeq == Seq(1, 2, 3))
    }
    val first = picks.filter(_.getAs[Int]("mmr_rank") == 1)
      .map(r => r.getAs[Long]("query_id") -> r.getAs[Long]("vec_id")).toMap
    val brute = Similarity.bruteForceTopK(emb, emb.filter($"vec_id" < 2), k = 1)
      .collect().map(r => r.getAs[Long]("query_id") -> r.getAs[Long]("vec_id")).toMap
    assert(first == brute)
  }

  test("novelty: first-occurrence shingle fractions, hand-computed") {
    val df = Seq(
      (1L, "a b c d", "A"), // shingles {a b c, b c d} — both first here
      (2L, "a b c x", "A"), // {a b c (seen), b c x (new)}
      (3L, "a b c d", "B"), // both seen in doc 1
    ).toDF("doc_id", "text", "source")
    val got = Dedup.noveltyBySource(df).orderBy("source")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))
    assert(got.toSeq == Seq(
      ("A", 2L, 4L, 3L, 0.75),
      ("B", 1L, 2L, 0L, 0.0)))
  }

  test("vocab drift: exact TVD vs corpus on a closed-form corpus") {
    // A: {x:2, y:1} N=3; B: {y:1, z:1} N=2; corpus: {x:2, y:2, z:1} N=5
    // TVD(A) = (|2/3-2/5| + |1/3-2/5| + 1/5)/2 = 4/15; TVD(B) = 0.4
    val df = Seq(
      (1L, "x x y", "A"),
      (2L, "y z", "B"),
    ).toDF("doc_id", "text", "source")
    val got = TextAnalysis.vocabDrift(df).orderBy("source")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.toSeq == Seq(
      ("A", 3L, 2L, 0.266667),
      ("B", 2L, 2L, 0.4)))
  }

  test("value anomalies: z cut on exact per-user moments, small users skipped") {
    // user 1: ten 10.0s and one 30.0 — z(30) = 18.1818/(sqrt(4000)/11)
    //   = sqrt(10) -> 3.1623 flagged; z(10) = -0.3162 not
    // user 2: same spike shape but only 3 events — under minEvents
    val rows = (1 to 10).map(i => (i.toLong, 1L, 10.0)) ++
      Seq((11L, 1L, 30.0), (12L, 2L, 10.0), (13L, 2L, 10.0), (14L, 2L, 30.0))
    val df = rows.toDF("event_id", "user_id", "value")
    val got = Events.valueAnomalies(df, zCut = 3.0, minEvents = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(3)))
    assert(got.toSeq == Seq((11L, 1L, 3.1623)))
  }

  test("winsorize: exact nearest-rank bounds, clip counts, robust mean") {
    // stratum A: v = 0.01 .. 0.20 (n=20). loIdx = floor(19*5/100)+1 = 1
    // -> lo = 0.01 (nothing below); hiIdx = floor(19*95/100)+1 = 19 ->
    // hi = 0.19, one value above. mean = (sum(0.01..0.19) + 0.19)/20
    //   = (1.90 + 0.19)/20 = 0.1045
    // stratum B: constant 0.5 -> lo = hi = 0.5, no clips, mean 0.5.
    val rows = (1 to 20).map(i => ("A", i / 100.0)) ++
      (1 to 5).map(_ => ("B", 0.5))
    val df = rows.toDF("lang", "score")
    val got = Stats.winsorize(df, "score", "lang").orderBy("stratum")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getLong(4), r.getLong(5), r.getDouble(6)))
    assert(got.toSeq == Seq(
      ("A", 20L, 0.01, 0.19, 0L, 1L, 0.1045),
      ("B", 5L, 0.5, 0.5, 0L, 0L, 0.5)))
  }

  test("running anomalies: prequential z against strictly-prior history") {
    // user 1: ten alternating 10/12 (prior mean 11, popstd 1 at event 11),
    // then a 30 -> z = 19 flagged. The trailing 10 sees the spike in ITS
    // prior window (n=11, var inflated) -> not flagged. First ten events
    // have n_prior < 8 -> skipped whatever their value.
    val rows = (1 to 10).map(i =>
      (i.toLong, 1L, i.toLong * 1000, if (i % 2 == 1) 10.0 else 12.0)) ++
      Seq((11L, 1L, 11000L, 30.0), (12L, 1L, 12000L, 10.0))
    val df = rows.toDF("event_id", "user_id", "ts", "value")
    val got = Events.runningValueAnomalies(df, zCut = 3.0, minPrior = 8)
      .collect().map(r => (r.getLong(0), r.getDouble(3)))
    assert(got.toSeq == Seq((11L, 19.0)))
  }

  test("embed outliers: off-manifold vector flagged, cluster members kept") {
    // two REAL clusters (+x and +z, five members each) so 2-means locks
    // onto them, plus one orthogonal +y vector: k-means cannot adopt the
    // outlier as a singleton centroid (both centroids are held by five
    // members), so its cosine to its assigned centroid stays ~0.2 while
    // every cluster member sits above 0.9. Init order matters: vec 0 is
    // +x and vec 1 is +z (trainCodebook seeds from the first k by id)
    val xs = (0L until 10L by 2L).map(i => (i, Array(1.0f, 0.001f * i, 0.0f)))
    val zs = (1L until 10L by 2L).map(i => (i, Array(0.0f, 0.001f * i, 1.0f)))
    val odd = Seq((10L, Array(0.0f, 1.0f, 0.0f)))
    val df = (xs ++ zs ++ odd).toDF("vec_id", "embedding")
    val got = Similarity.embedOutliers(df, k = 2, iters = 2, minCos = 0.5)
      .collect()
      .map(r => r.getLong(0) -> (r.getDouble(2), r.getBoolean(3))).toMap
    assert(got.size == 11)
    assert(got(10L)._2 && got(10L)._1 < 0.5, s"odd: ${got(10L)}")
    (0L until 10L).foreach { i =>
      assert(!got(i)._2 && got(i)._1 > 0.9, s"vec $i: ${got(i)}")
    }
  }

  test("aggTopK == row_number window under adversarial repartitioning, NaN and ties included") {
    // scores engineered for boundary ties (equal scores straddling the
    // k cut), negative zero vs zero, and NaN (a zero-norm cosine): the
    // aggregate must reproduce the window's total order — score desc
    // with NaN FIRST (Spark sorts NaN greater than any double), id asc
    // on ties — for every partitioning and merge order
    val rnd = new scala.util.Random(43)
    val rows = (0 until 4).flatMap { q =>
      (0 until 200).map { i =>
        val s = rnd.nextInt(12) match {
          case 0 => Double.NaN
          case 1 => 0.0
          case 2 => -0.0
          case n => (n - 6).toDouble / 4
        }
        (q.toLong, i.toLong, s)
      }
    }
    val base = rows.toDF("query_id", "vec_id", "cos_sim")
    val w = org.apache.spark.sql.expressions.Window.partitionBy("query_id")
      .orderBy(col("cos_sim").desc, col("vec_id").asc)
    val want = base.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 7)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1),
        java.lang.Double.doubleToLongBits(r.getDouble(2)) &
          ~(1L << 63), r.getInt(3)))
      .toSet // fold -0.0 into 0.0: the window emits the arbitrary tie's sign
    for (parts <- Seq(1, 2, 7, 32)) {
      val got = Similarity.aggTopK(base.repartition(parts), 7)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1),
          java.lang.Double.doubleToLongBits(r.getDouble(2)) &
            ~(1L << 63), r.getInt(3)))
        .toSet
      assert(got == want, s"parts=$parts: aggregate diverged from window")
    }
  }

  test("aggTopK plans as a partial (map-side) aggregate, not a candidate-wide window") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val plan = Similarity.bruteForceTopK(emb, emb.filter($"vec_id" < 3), 5)
      .queryExecution.executedPlan.toString
    // the TypedImperativeAggregate must run partial_top_k_by BEFORE the
    // exchange (k-slot buffers per partition) and merge after — the
    // whole point of replacing the row_number window; and no Window
    // node may survive in the finisher path
    assert(plan.contains("partial_top_k_by"), s"no partial aggregate:\n$plan")
    assert(plan.contains("ObjectHashAggregate"), s"not object-hash:\n$plan")
    assert(!plan.contains("Window"), s"window survived:\n$plan")
  }

  test("string-id aggTopKBy == row_number window under adversarial repartitioning") {
    // the BoundedTopKStr twin of the long-id law: equal weights
    // straddling the k cut tie on the TERM (binary UTF-8 asc must equal
    // Spark's string asc), NaN ranks first, -0.0 == 0.0 — for every
    // partitioning and merge order
    val rnd = new scala.util.Random(47)
    val rows = (0 until 3).flatMap { g =>
      (0 until 150).map { i =>
        val s = rnd.nextInt(10) match {
          case 0 => Double.NaN
          case 1 => 0.0
          case 2 => -0.0
          case n => (n - 5).toDouble / 3
        }
        // mixed-case + digits: exercises byte-wise ordering ('Z' < 'a')
        val term = (if (i % 3 == 0) "T" else "t") + (i % 50)
        (s"g$g", term, s)
      }
    }
    // (group, term) may repeat with different scores — window rank vs
    // aggregate must agree anyway (dedup by max handled upstream in real
    // callers; the law is about the ranking, so dedup here)
    val base = rows.toDF("grp", "term", "weight")
      .groupBy("grp", "term").agg(max("weight").as("weight"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("grp")
      .orderBy(col("weight").desc, col("term").asc)
    val want = base.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 6)
      .collect()
      .map(r => (r.getString(0), r.getString(1),
        java.lang.Double.doubleToLongBits(r.getDouble(2)) &
          ~(1L << 63), r.getInt(3)))
      .toSet
    for (parts <- Seq(1, 2, 7, 32)) {
      val got = Similarity.aggTopKBy(base.repartition(parts), "weight", 6,
          Seq("grp"), "rank", idCol = "term")
        .collect()
        .map(r => (r.getString(0), r.getString(1),
          java.lang.Double.doubleToLongBits(r.getDouble(2)) &
            ~(1L << 63), r.getInt(3)))
        .toSet
      assert(got == want, s"parts=$parts: string aggregate diverged from window")
    }
  }

  test("clusterTopTerms plans the string partial aggregate, not a vocab-wide window") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val df = Tfidf.clusterTopTerms(docs, "lang", topK = 3)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("partial_top_k_by_str"), s"no string partial:\n$plan")
    assert(!plan.contains("Window"), s"window survived:\n$plan")
    // and the cut is right: ≤ topK rows per group, rank dense from 1
    val got = df.collect().groupBy(_.getString(0))
    got.foreach { case (g, rs) =>
      assert(rs.length <= 3, s"group $g overflowed topK")
      assert(rs.map(_.getInt(5)).sorted.toSeq == (1 to rs.length),
        s"group $g ranks not dense")
    }
  }

  test("collocations plans a TakeOrderedAndProject cut, not a global window sort") {
    // parquet-backed input (a LocalRelation would constant-fold the
    // interesting plan away); the corpus-derived bigram table must be
    // cut by per-partition heaps + a topK-row merge, with the rank
    // window running AFTER the cut (parent of TakeOrderedAndProject in
    // the tree) over ≤ topK rows
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val df = TextAnalysis.collocations(docs, minCount = 3, topK = 10)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), s"no take-ordered cut:\n$plan")
    val wIdx = plan.indexOf("Window")
    val tIdx = plan.indexOf("TakeOrderedAndProject")
    assert(wIdx >= 0 && wIdx < tIdx,
      s"rank window must run on the already-cut rows (parent of the take):\n$plan")
    assert(df.count() <= 10)
  }

  test("IVF path is repartitioning-invariant end to end (the aggregate finishers)") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = emb.filter($"vec_id" < 3)
    def run(c: org.apache.spark.sql.DataFrame) =
      Similarity.ivfTopK(c, queries, k = 3, numCentroids = 32, nprobe = 2)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
        .toSet
    val want = run(emb)
    for (parts <- Seq(1, 5, 32)) {
      assert(run(emb.repartition(parts)) == want,
        s"ivfTopK must be partitioning-invariant at parts=$parts")
    }
  }

  test("mutual-NN approx: exhaustive probe reproduces the exact twin") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("vec_id_a", "vec_id_b", "cos_sim").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val exact = pairs(Similarity.mutualNeighbors(emb))
    assert(exact.nonEmpty)
    // nprobe = numCentroids → every pair shares a block → the blocked
    // operator degenerates to the exact one, cos_sim included
    assert(pairs(Similarity.mutualNeighborsApprox(emb, 8, 8)) == exact)
    // default blocking: every emitted pair is a genuine reciprocal
    // top-1 over its candidate lists; on this tiny corpus the blocks
    // still find most of the true pairs
    val approx = pairs(Similarity.mutualNeighborsApprox(emb))
    assert(approx.nonEmpty &&
      approx.map(p => (p._1, p._2)).intersect(exact.map(p => (p._1, p._2))).size * 2
        >= exact.size,
      s"approx ${approx.size} vs exact ${exact.size}")
  }

  test("winnowing: coverage guarantee, rightmost ties, density, short docs") {
    // coverage theorem: docs sharing a run of window+k-1 = 6 tokens must
    // share at least one selected fingerprint, whatever surrounds the run
    val run = "alpha beta gamma delta epsilon zeta"
    val df = Seq(
      (1L, s"one two three $run x y z"),
      (2L, s"$run completely different tail here"),
      (3L, "unrelated words entirely disjoint content stream"),
    ).toDF("doc_id", "text")
    val fp = Dedup.winnowFingerprints(df, k = 3, window = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val byDoc = fp.groupBy(_._1).view.mapValues(_.map(_._3).toSet).toMap
    assert(byDoc(1L).intersect(byDoc(2L)).nonEmpty,
      "a shared 6-token run must yield a shared fingerprint")
    assert(byDoc(3L).intersect(byDoc(1L) ++ byDoc(2L)).isEmpty)
    // density: selections per doc ≤ shingle count, ≥ ceil(m / window)
    // (each window of 4 consecutive positions selects at least one)
    fp.groupBy(_._1).foreach { case (id, rows) =>
      val m = df.filter($"doc_id" === id).select(
        size(split(trim($"text"), "\\s+")) - 2).head().getInt(0)
      assert(rows.length <= m && rows.length >= (m + 3) / 4,
        s"doc $id: ${rows.length} selections over $m shingles")
    }
    // rightmost tie: identical tokens → all shingle hashes equal → every
    // window selects the RIGHTMOST position of its frame; selections are
    // the positions {w-1, w, ...} minima... the unique selected hash with
    // increasing positions; verify against a brute-force replay
    val rep = Seq((9L, "tok tok tok tok tok tok tok tok")).toDF("doc_id", "text")
    val got = Dedup.winnowFingerprints(rep, k = 3, window = 4)
      .collect().map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1)
    // 6 identical shingles, windows end at pos 3,4,5 → rightmost min is
    // the window END each time → positions 3,4,5 with one shared hash
    assert(got.map(_._1).toSeq == Seq(3L, 4L, 5L), s"got ${got.toSeq}")
    assert(got.map(_._2).distinct.length == 1)
    // short doc (fewer shingles than the window): overall min selected
    val short = Seq((5L, "just four tokens here")).toDF("doc_id", "text")
    assert(Dedup.winnowFingerprints(short, k = 3, window = 4).count() == 1)
    // pairs: the shared-run docs pair up when minShared = 1
    val pairs = Dedup.winnowPairs(df, minShared = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSeq == Seq((1L, 2L)))
  }

  test("jaro_winkler: classic reference values, boost threshold, empty convention") {
    val cases = Seq(
      ("MARTHA", "MARHTA", 0.9611111111111111),   // jaro .9444, prefix 3
      ("DWAYNE", "DUANE", 0.8400000000000001),
      ("DIXON", "DICKSONX", 0.8133333333333332),
      ("abc", "abc", 1.0),
      ("", "abc", 0.0),
      ("", "", 0.0),                               // oracle convention
      ("a", "b", 0.0),
      ("CRATE", "TRACE", 0.7333333333333334),      // prefix 0: no boost
      ("aXXXX", "aYYYY", 0.4666666666666666),      // jaro<=0.7: no boost
      ("abcd", "abdc", 0.9333333333333333),        // one transposition
      ("héllo", "hèllo", 0.88),                    // non-ASCII char path
    )
    val got = cases.toDF("a", "b", "want")
      .select(graft.functions.GraftFunctions.jaro_winkler($"a", $"b"), $"want", $"a", $"b")
      .collect()
    got.foreach { r =>
      assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 1e-12,
        s"jw(${r.getString(2)}, ${r.getString(3)}) = ${r.getDouble(0)}, want ${r.getDouble(1)}")
    }
    // null propagates
    val n = Seq((Option("x"), Option.empty[String])).toDF("a", "b")
      .select(graft.functions.GraftFunctions.jaro_winkler($"a", $"b")).collect()
    assert(n.head.isNullAt(0))
  }

  test("jaro_winkler: bit-parallel fast path ≡ reference scalar algorithm (fuzz, incl. the 64-length boundary)") {
    import org.apache.spark.unsafe.types.UTF8String
    // independent reference: the textbook boolean-array Jaro-Winkler,
    // matching the oracle engine's conventions (integer t/2, 0.7 boost
    // gate, both-empty → 0)
    def ref(a: String, b: String): Double = {
      val la = a.length; val lb = b.length
      if (la == 0 || lb == 0) return 0.0
      val window = math.max(0, math.max(la, lb) / 2 - 1)
      val aM = new Array[Boolean](la); val bM = new Array[Boolean](lb)
      var m = 0
      for (i <- 0 until la) {
        val lo = math.max(0, i - window); val hi = math.min(lb - 1, i + window)
        var j = lo
        var done = false
        while (j <= hi && !done) {
          if (!bM(j) && a.charAt(i) == b.charAt(j)) {
            aM(i) = true; bM(j) = true; m += 1; done = true
          }
          j += 1
        }
      }
      if (m == 0) return 0.0
      var t = 0; var k = 0
      for (i <- 0 until la) if (aM(i)) {
        while (!bM(k)) k += 1
        if (a.charAt(i) != b.charAt(k)) t += 1
        k += 1
      }
      val jaro = (m.toDouble / la + m.toDouble / lb + (m - t / 2).toDouble / m) / 3.0
      if (jaro <= 0.7) return jaro
      var l = 0
      val maxL = math.min(4, math.min(la, lb))
      while (l < maxL && a.charAt(l) == b.charAt(l)) l += 1
      jaro + l * 0.1 * (1.0 - jaro)
    }
    val rnd = new scala.util.Random(20260818L)
    // small alphabet forces dense match/transposition structure; lengths
    // straddle 64 so the fuzz crosses bit-path → scalar-path fallback
    def randStr(maxLen: Int): String = {
      val n = rnd.nextInt(maxLen + 1)
      (0 until n).map(_ => ('a' + rnd.nextInt(5)).toChar).mkString
    }
    for (_ <- 1 to 4000) {
      val a = randStr(70); val b = randStr(70)
      val got = graft.functions.JaroWinkler.score(
        UTF8String.fromString(a), UTF8String.fromString(b))
      assert(got == ref(a, b), s"jw('$a', '$b'): got $got, want ${ref(a, b)}")
    }
    // exact 64/65 boundary pairs (wm width-64 branch, fallback handoff)
    for (la <- Seq(63, 64, 65); lb <- Seq(63, 64, 65)) {
      val a = Seq.fill(la)(('a' + rnd.nextInt(3)).toChar).mkString
      val b = Seq.fill(lb)(('a' + rnd.nextInt(3)).toChar).mkString
      val got = graft.functions.JaroWinkler.score(
        UTF8String.fromString(a), UTF8String.fromString(b))
      assert(got == ref(a, b), s"boundary $la×$lb: got $got, want ${ref(a, b)}")
    }
  }

  test("association rules: hand-computed support/confidence/lift, mega-basket exclusion") {
    val df = Seq(
      (1L, "x"), (1L, "y"),
      (2L, "x"), (2L, "y"), (2L, "y"), // duplicate item rows collapse
      (3L, "x"), (3L, "z"),
      (4L, "y"),
    ).toDF("b", "i")
    val got = Graph.associationRules(df, "b", "i", minSupportCount = 1)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5),
          r.getDouble(6), r.getDouble(7), r.getDouble(8)))).toMap
    // N=4; n_x=3, n_y=3, n_z=1; (x,y) in 2 baskets, (x,z) in 1
    assert(got(("x", "y")) == ((3L, 3L, 2L, 0.5, 0.666667, 0.666667, 0.888889)))
    assert(got(("x", "z")) == ((3L, 1L, 1L, 0.25, 0.333333, 1.0, 1.333333)))
    assert(got.size == 2)
    // minSupportCount=2 keeps only the twice-co-occurring pair
    assert(Graph.associationRules(df, "b", "i", minSupportCount = 2)
      .count() == 1)
    // a basket over the cap drops from pair counts AND denominators:
    // with cap 2, basket 5 (3 items) vanishes — N=4 and counts unchanged
    val withMega = df.union(Seq((5L, "x"), (5L, "y"), (5L, "z")).toDF("b", "i"))
    val capped = Graph.associationRules(withMega, "b", "i",
        minSupportCount = 1, maxItemsPerBasket = 2)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))).toMap
    assert(capped(("x", "y")) == ((3L, 3L, 2L, 0.5)))
    assert(capped.size == 2)
  }

  test("FD violations: NULL counts as a distinct rhs state") {
    val df = Seq[(Long, Option[String])](
      (1L, Some("a")), (1L, None),          // {a, NULL} → violation, 2 states
      (2L, None), (2L, None),               // all-NULL → constant, holds
      (3L, Some("x")), (3L, Some("x")),     // constant non-null → holds
    ).toDF("k", "dep")
    val got = Stats.fdViolations(df, Seq("k"), "dep")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == Seq((1L, 2L, 2L)), s"got ${got.toSeq}")
  }

  test("filtered IVFADC search: k full results, all satisfying the predicate, never post-filter starved") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val dir = java.nio.file.Files.createTempDirectory("ivffilt").toString + "/ix"
    Similarity.writeIvfPqIndex(emb, dir, numCentroids = 8, m = 4,
      ksub = 16, dim = 64)
    val qs = emb.filter(col("vec_id") < 3)
    val got = Similarity.ivfPqTopKFiltered(spark, dir, qs, emb,
        col("vec_id") % 3 === 1, k = 3, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(4)))
    // k full rows per query, every hit inside the allowed set
    assert(got.length == 9 && got.forall(_._2 % 3 == 1), got.toSeq)
    // pre-filtering ≠ post-filtering: the unfiltered top-3 lists carry
    // out-of-filter vectors here, so post-filtering them would starve —
    // the exact failure the pre-ADC semi-join exists to prevent
    val unfiltered = Similarity.ivfPqTopK(spark, dir, qs, emb, k = 3,
        nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val postFiltered = unfiltered.filter(_._2 % 3 == 1)
    assert(postFiltered.length < got.length,
      s"draw too easy: unfiltered top-k already satisfies the filter " +
        s"(${postFiltered.length} of ${got.length}) — pick a sparser predicate")
    graft.operators.CacheRegistry.release(spark)
  }

  test("appendShards: published shards immutable, append starts at the next free id, contiguity enforced") {
    val base = java.nio.file.Files.createTempDirectory("pubapp").toString
    val dir = base + "/shards"
    val seed = docs.filter(col("doc_id") < 100)
    val rest = docs.filter(col("doc_id") >= 100)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getInt(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val m1 = rows(Layout.publishInit(spark, seed, dir, nShards = 4))
    val m2 = rows(Layout.appendShards(spark, rest, dir))
    // every published shard's (n_docs, n_tokens, digest) is byte-stable
    // across the append — training loaders' checksums keep holding
    assert(m1.forall { case (s, v) => m2.get(s).contains(v) },
      s"published shards changed across append: $m1 vs $m2")
    // appended shards start past every published id, nothing in between
    val newIds = (m2.keySet -- m1.keySet)
    assert(newIds.nonEmpty && newIds.min > m1.keySet.max)
    // contiguity guard: re-appending ids at or below the published max
    // must refuse before anything writes
    val before = rows(Layout.shardManifest(
      spark.read.schema("doc_id BIGINT, text STRING, n_tokens BIGINT, shard_id INT")
        .parquet(dir)))
    intercept[IllegalArgumentException] {
      Layout.appendShards(spark, docs.filter(col("doc_id") < 50), dir)
    }
    assert(rows(Layout.shardManifest(
      spark.read.schema("doc_id BIGINT, text STRING, n_tokens BIGINT, shard_id INT")
        .parquet(dir))) == before, "refused append must not write")
    // appends CHAIN: a second publishInit-free append keeps extending
    assert(Layout.appendShards(spark,
      Seq((10000L, "tail doc after everything")).toDF("doc_id", "text"),
      dir).collect().nonEmpty)
    // crash fence (advisor r18): data ahead of meta — a previous append
    // that died between its shard write and its meta roll — must refuse
    // a retry (which would silently duplicate rows), not re-append. Model
    // the crash by rolling the meta sidecar BACK one append.
    val metaNow = graft.operators.StoreMeta.read(dir)
    graft.operators.StoreMeta.write(dir,
      "budget" -> metaNow("budget"), "max_doc_id" -> "9999",
      "next_shard" -> (metaNow("next_shard").toLong - 1L))
    val ex = intercept[IllegalArgumentException] {
      Layout.appendShards(spark,
        Seq((20000L, "doc after the crash")).toDF("doc_id", "text"), dir)
    }
    assert(ex.getMessage.contains("crashed between"), ex.getMessage)
    // restoring the meta makes the same append legal again
    graft.operators.StoreMeta.write(dir,
      "budget" -> metaNow("budget"), "max_doc_id" -> metaNow("max_doc_id"),
      "next_shard" -> metaNow("next_shard"))
    assert(Layout.appendShards(spark,
      Seq((20000L, "doc after the recovery")).toDF("doc_id", "text"),
      dir).collect().nonEmpty)
  }

  test("forgetPublished: only affected shards rewrite, empty shards vanish, geometry frozen") {
    val base = java.nio.file.Files.createTempDirectory("pubforget").toString
    val dir = base + "/shards"
    Layout.publishInit(spark, docs, dir, nShards = 8)
    val shardSchema = "doc_id BIGINT, text STRING, n_tokens BIGINT, shard_id INT"
    // forget ONE whole shard (every doc in shard 3) plus one doc from
    // shard 0 — exercises both the vanishing-shard path and the rewrite
    val byShard = spark.read.schema(shardSchema).parquet(dir)
      .select("doc_id", "shard_id").collect()
      .groupBy(_.getInt(1)).map { case (s, rs) => s -> rs.map(_.getLong(0)).toSet }
    import spark.implicits._
    val doomed = (byShard(3) + byShard(0).head).toSeq.toDF("doc_id")
    val manifest = Layout.forgetPublished(spark, doomed, dir)
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(!manifest.contains(3), "fully-forgotten shard must vanish")
    assert(manifest(0) == byShard(0).size - 1)
    val left = spark.read.schema(shardSchema).parquet(dir)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(doomed.collect().map(_.getLong(0)).forall(!left.contains(_)))
    // geometry frozen + generation bumped: loaders see the marker move
    val meta = graft.operators.StoreMeta.read(dir)
    assert(meta("forget_gen") == "1" && meta("next_shard") == "8")
    // forgotten ids are NOT re-usable: the contiguity guard still spans
    // them (doc_id order is the layout's backbone)
    intercept[IllegalArgumentException] {
      Layout.appendShards(spark,
        Seq(byShard(3).head -> "resurrected").toDF("doc_id", "text"), dir)
    }
  }

  test("forgetPublished: a crash between two shard swaps resumes to the law's post-state on the next call") {
    val base = java.nio.file.Files.createTempDirectory("pubforget-crash")
      .toString
    val dir = base + "/shards"
    Layout.publishInit(spark, docs, dir, nShards = 8)
    val shardSchema = "doc_id BIGINT, text STRING, n_tokens BIGINT, shard_id INT"
    val byShard = spark.read.schema(shardSchema).parquet(dir)
      .select("doc_id", "shard_id").collect()
      .groupBy(_.getInt(1)).map { case (s, rs) =>
        s -> rs.map(_.getLong(0)).toSet }
    import spark.implicits._
    // a forget spanning THREE partial shards and one vanishing shard —
    // then die after the first swap (the spec hook aborts the loop), so
    // the export is live with shard 0 rewritten and shards 2/4/6 still
    // holding forgotten docs, intent on disk
    val doomed = (byShard(6) + byShard(0).head + byShard(2).head +
      byShard(4).head).toSeq.toDF("doc_id")
    intercept[IllegalStateException] {
      Layout.forgetPublishedImpl(spark, doomed, dir,
        filesPerPartition = 1, crashAfterSwaps = 1)
    }
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(new org.apache.hadoop.fs.Path(
      dir + "_forgetting/_forget_intent.json")),
      "the crashed forget must leave its intent on disk")
    val midState = spark.read.schema(shardSchema).parquet(dir)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(doomed.collect().map(_.getLong(0)).exists(midState.contains),
      "construction: the crash must strand some forgotten docs live")
    // meta did NOT move — the generation marker only bumps once the
    // swaps are all in (a loader seeing forget_gen=1 may trust it)
    assert(!graft.operators.StoreMeta.read(dir).contains("forget_gen"))
    // the NEXT call detects the intent, rolls the pending forget
    // FORWARD to completion, THEN applies its own (empty) forget set —
    // landing on exactly the law's post-state
    val manifest = Layout.forgetPublished(spark,
        Seq.empty[Long].toDF("doc_id"), dir)
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(!manifest.contains(6), "fully-forgotten shard must vanish")
    assert(manifest(0) == byShard(0).size - 1 &&
      manifest(2) == byShard(2).size - 1 &&
      manifest(4) == byShard(4).size - 1)
    val left = spark.read.schema(shardSchema).parquet(dir)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(doomed.collect().map(_.getLong(0)).forall(!left.contains(_)),
      "resume must finish every pending swap")
    // resumed forget lands its recorded generation; the empty follow-up
    // forget bumps once more; staging + intent are gone
    assert(graft.operators.StoreMeta.read(dir)("forget_gen") == "2")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(dir + "_forgetting")))
    // untouched shards stayed byte-stable through crash + resume
    assert(manifest(1) == byShard(1).size && manifest(3) == byShard(3).size)
  }

  test("generation-pointer compaction: a probe racing the flip completes on the old generation; serving unchanged for new reads") {
    import graft.operators.{StoreGen, StoreUpkeep}
    val base = java.nio.file.Files.createTempDirectory("storegen").toString
    val idx = base + "/lsh"
    LshIndex.write(docs.filter(col("doc_id") % 2 === 0), idx, nShards = 2)
    LshIndex.append(spark, docs.filter(col("doc_id") % 2 === 1), idx)
    def pairs(d: String) = LshIndex.lshPairs(spark, d)
      .orderBy("doc_id_a", "doc_id_b").collect().toSeq
    val before = pairs(idx)
    assert(before.nonEmpty)
    // the RACE: a reader resolves the pointer (generation 0 = the plain
    // path), builds its lazy plan... and the compaction flips to
    // generation 1 before the read executes. The old generation is
    // retained as the grace window, so the read completes — on gen 0 —
    // with the same answer
    val resolvedAtRead = StoreGen.resolve(idx)
    assert(resolvedAtRead == idx, "no pointer yet: gen 0 is the plain path")
    val inflight = LshIndex.lshPairs(spark, resolvedAtRead)
    assert(StoreUpkeep.compactNewGeneration(spark, idx,
      StoreUpkeep.LshKind) == 1L)
    assert(inflight.orderBy("doc_id_a", "doc_id_b").collect().toSeq == before,
      "in-flight read must complete on the retired generation")
    // new reads resolve generation 1; serving unchanged, and the store's
    // whole surface (probe, append, forget, health) follows the pointer
    assert(StoreGen.resolve(idx) == idx + "_g1")
    assert(pairs(idx) == before)
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(new org.apache.hadoop.fs.Path(idx)) &&
      fs.exists(new org.apache.hadoop.fs.Path(idx + "_g1")))
    // second flip: gen 2 serves, gen 0 (one-behind-grace) is reclaimed
    assert(StoreUpkeep.compactNewGeneration(spark, idx,
      StoreUpkeep.LshKind) == 2L)
    assert(pairs(idx) == before)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(idx)) &&
      fs.exists(new org.apache.hadoop.fs.Path(idx + "_g1")) &&
      fs.exists(new org.apache.hadoop.fs.Path(idx + "_g2")))
    // forget lands in (and compaction applies it from) the SERVING
    // generation; the flip applies it physically
    val doomedId = spark.read.parquet(idx + "_g2_sigs")
      .select("doc_id").head().getLong(0)
    import spark.implicits._
    LshIndex.forget(spark, Seq(doomedId).toDF("doc_id"), idx)
    assert(graft.operators.Tombstones.exists(idx + "_g2"))
    StoreUpkeep.compactNewGeneration(spark, idx, StoreUpkeep.LshKind)
    assert(!graft.operators.Tombstones.exists(StoreGen.resolve(idx)))
    assert(!spark.read.parquet(StoreGen.resolve(idx) + "_sigs")
      .filter(col("doc_id") === doomedId).head(1).nonEmpty)
  }

  test("generation-pointer compaction: ivfpq and span stores serve identically across a flip") {
    import graft.operators.{SpanStore, StoreGen, StoreUpkeep}
    val base = java.nio.file.Files.createTempDirectory("storegen2").toString
    // IVFADC: the flip stages a COMPLETE store (codes + frozen sidecars)
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val ivf = base + "/ivf"
    Similarity.writeIvfPqIndex(emb, ivf, numCentroids = 8,
      m = 4, ksub = 16, dim = 64)
    val queries = emb.filter(col("vec_id") < 4)
    def probe(d: String) = Similarity.ivfPqTopK(spark, d, queries, emb,
      k = 3, nprobe = 2, rerankFactor = 4, m = 4, dim = 64)
      .orderBy("query_id", "rank").collect().toSeq
    val ivfBefore = probe(ivf)
    assert(StoreUpkeep.compactNewGeneration(spark, ivf,
      StoreUpkeep.IvfPqKind) == 1L)
    assert(probe(ivf) == ivfBefore)
    assert(StoreGen.resolve(ivf) == ivf + "_g1")
    // span store: probe + bloom sidecar follow the pointer too
    val docs01 = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    val span = base + "/span"
    SpanStore.write(docs01, span, minTokens = 8, shardChars = 1,
      withBloom = true)
    val batch = docs01.filter(col("doc_id") < 10)
    def sprobe(d: String) = SpanStore.probe(spark, batch, d)
      .orderBy("doc_id", "p").collect().toSeq
    val spanBefore = sprobe(span)
    assert(StoreUpkeep.compactNewGeneration(spark, span,
      StoreUpkeep.SpanKind) == 1L)
    assert(sprobe(span) == spanBefore)
    assert(SpanStore.hasBloom(span), "bloom sidecar must follow the pointer")
    graft.operators.CacheRegistry.release(spark)
  }

  test("generation pointer: resolve hammered against repeated flips never dangles; a lost pointer recovers to the highest generation") {
    import graft.operators.{StoreGen, StoreUpkeep}
    val base = java.nio.file.Files.createTempDirectory("storegen-race")
      .toString
    val idx = base + "/lsh"
    LshIndex.write(docs.filter(col("doc_id") < 40), idx, nShards = 2)
    val hconf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(idx).getFileSystem(hconf)
    val servedPairs = LshIndex.lshPairs(spark, idx)
      .queryExecution.toRdd.count()
    graft.operators.CacheRegistry.release(spark)
    // the r19 weak mark: setGeneration's delete-then-rename left a
    // window where the pointer was ABSENT and a racing resolve fell
    // back to generation 0 — reclaimed from the second flip on. The
    // atomic replace closes it: a reader loop resolving flat-out across
    // four flips must always land on a generation whose directories
    // exist (straddling TWO whole compactions is the documented grace
    // bound and the only legitimate miss).
    @volatile var stop = false
    @volatile var loops = 0L
    @volatile var failure: Option[String] = None
    val reader = new Thread(() => {
      while (!stop && failure.isEmpty) {
        val g = StoreGen.generation(idx, hconf)
        val d = StoreGen.path(idx, g)
        if (!fs.exists(new org.apache.hadoop.fs.Path(d + "_meta"))) {
          val now = StoreGen.generation(idx, hconf)
          if (now - g < 2)
            failure = Some(s"resolved generation $g (current $now) but " +
              s"${d}_meta is missing — the pointer dangled")
        }
        loops += 1
      }
    })
    reader.start()
    try for (expect <- 1L to 4L)
      assert(StoreUpkeep.compactNewGeneration(spark, idx,
        StoreUpkeep.LshKind) == expect)
    finally { stop = true; reader.join(30000) }
    assert(failure.isEmpty, failure.getOrElse(""))
    assert(loops > 100L, s"reader starved — only $loops resolutions raced " +
      "the flips; the hammer proves nothing")
    info(s"$loops pointer resolutions raced 4 flips without a dangle")
    // lost-pointer recovery: `_current` exists but pointer.json is gone
    // (a writer died inside its first setGeneration, or a filesystem
    // with no atomic replace crashed in the fallback window). Assuming
    // generation 0 would dangle — gen 0 was reclaimed at the 1→2 flip —
    // so resolve must land on the highest surviving generation.
    fs.delete(new org.apache.hadoop.fs.Path(idx + "_current/pointer.json"),
      false)
    assert(StoreGen.generation(idx, hconf) == 4L,
      "lost pointer must recover to the highest existing _g<N>")
    assert(StoreGen.resolve(idx, hconf) == idx + "_g4")
    assert(LshIndex.lshPairs(spark, idx).queryExecution.toRdd.count()
      == servedPairs, "serving must be intact after pointer recovery")
    graft.operators.CacheRegistry.release(spark)
    // the next flip rebuilds the pointer and moves on
    assert(StoreUpkeep.compactNewGeneration(spark, idx,
      StoreUpkeep.LshKind) == 5L)
    assert(StoreGen.generation(idx, hconf) == 5L)
  }

  test("generation-pointer compaction reclaims the retired generation's tombstone sidecar") {
    import graft.operators.{StoreGen, StoreUpkeep, Tombstones}
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("storegen-tomb")
      .toString
    val idx = base + "/lsh"
    LshIndex.write(docs.filter(col("doc_id") < 30), idx, nShards = 2)
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val doomed = spark.read.parquet(idx + "_sigs")
      .select("doc_id").head().getLong(0)
    LshIndex.forget(spark, Seq(doomed).toDF("doc_id"), idx)
    assert(Tombstones.exists(idx), "tombstone lands at generation 0")
    // flip to gen 1: the tombstone is applied PHYSICALLY in the new
    // generation, but gen 0 (sidecar included) stays — it is the grace
    // window an in-flight gen-0 reader still filters through
    StoreUpkeep.compactNewGeneration(spark, idx, StoreUpkeep.LshKind)
    assert(fs.exists(new org.apache.hadoop.fs.Path(idx + "_tomb")),
      "grace generation keeps its tombstone sidecar")
    assert(!Tombstones.exists(idx + "_g1"),
      "new generation starts tombstone-free (forget applied physically)")
    // flip to gen 2: gen 0 is reclaimed — INCLUDING `_tomb`/`_tomb_meta`
    // (advisor r19: the suffix list omitted them and leaked one orphan
    // pair per post-forget compaction)
    StoreUpkeep.compactNewGeneration(spark, idx, StoreUpkeep.LshKind)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(idx + "_tomb")) &&
      !fs.exists(new org.apache.hadoop.fs.Path(idx + "_tomb_meta")),
      "retired generation's tombstone sidecar must be reclaimed with it")
    assert(!spark.read.parquet(StoreGen.resolve(idx) + "_sigs")
      .filter(col("doc_id") === doomed).head(1).nonEmpty)
  }

  test("StoreUpkeep: trigger fires at the documented threshold, serving unchanged across the in-place swap") {
    val base = java.nio.file.Files.createTempDirectory("upkeep").toString
    val idx = base + "/lsh"
    val half = docs.filter(col("doc_id") % 4 === 0)
    LshIndex.write(half, idx, nShards = 2)
    // three appends: each drops ≥1 file per touched shard + 1 sigs file
    for (r <- 1 to 3)
      LshIndex.append(spark, docs.filter(col("doc_id") % 4 === r), idx)
    val h = StoreUpkeep.health(spark, idx, StoreUpkeep.LshKind)
    assert(h.maxPartitionFiles >= 4 && h.sidecarFiles >= 4 &&
      !h.pendingTombstones, s"unexpected health $h")
    // below threshold: decision is NO and nothing moves
    assert(!StoreUpkeep.maybeCompact(spark, idx, StoreUpkeep.LshKind,
      maxPartitionFiles = 100, maxSidecarFiles = 100))
    assert(StoreUpkeep.health(spark, idx, StoreUpkeep.LshKind) == h)
    val before = LshIndex.lshPairs(spark, idx)
      .collect().map(_.toSeq).toSet
    CacheRegistry.release(spark)
    // at the documented threshold (widest partition > maxPartitionFiles)
    // the trigger fires, the swap folds the layout, serving is unchanged
    assert(StoreUpkeep.maybeCompact(spark, idx, StoreUpkeep.LshKind,
      maxPartitionFiles = h.maxPartitionFiles - 1))
    val hc = StoreUpkeep.health(spark, idx, StoreUpkeep.LshKind)
    assert(hc.maxPartitionFiles == 1 && hc.sidecarFiles <= 4,
      s"compaction did not fold the layout: $hc")
    val after = LshIndex.lshPairs(spark, idx).collect().map(_.toSeq).toSet
    assert(after == before, "serving changed across the swap")
    CacheRegistry.release(spark)

    // sidecar-growth leg alone must also trip (bloom generations): span
    // store with a fused sidecar, appends add one generation each
    val span = base + "/span"
    SpanStore.write(half, span, minTokens = 8, shardChars = 1,
      withBloom = true)
    for (r <- 1 to 3)
      SpanStore.append(spark, docs.filter(col("doc_id") % 4 === r), span)
    val hs = StoreUpkeep.health(spark, span, StoreUpkeep.SpanKind)
    assert(hs.sidecarFiles >= 4, s"bloom generations not counted: $hs")
    val probeBefore = SpanStore.probe(spark, docs.filter(col("doc_id") < 6), span)
      .collect().map(_.toSeq).toSet
    CacheRegistry.release(spark)
    assert(StoreUpkeep.maybeCompact(spark, span, StoreUpkeep.SpanKind,
      maxPartitionFiles = 1000, maxSidecarFiles = hs.sidecarFiles - 1))
    val hsc = StoreUpkeep.health(spark, span, StoreUpkeep.SpanKind)
    assert(hsc.sidecarFiles <= 1, s"bloom sidecar not folded: $hsc")
    val probeAfter = SpanStore.probe(spark, docs.filter(col("doc_id") < 6), span)
      .collect().map(_.toSeq).toSet
    assert(probeAfter == probeBefore, "span serving changed across the swap")
    CacheRegistry.release(spark)

    // tombstone leg: pending takedown is reported, opts into an eager
    // trigger, and the swap both removes the rows and CLEARS the
    // sidecar (serving == cold build without the forgotten docs)
    SpanStore.forget(spark, docs.filter(col("doc_id") % 5 === 2)
      .select("doc_id"), span)
    val ht = StoreUpkeep.health(spark, span, StoreUpkeep.SpanKind)
    assert(ht.pendingTombstones)
    assert(!StoreUpkeep.maybeCompact(spark, span, StoreUpkeep.SpanKind),
      "tombstones alone must not trigger by default")
    assert(StoreUpkeep.maybeCompact(spark, span, StoreUpkeep.SpanKind,
      compactOnTombstones = true))
    assert(!StoreUpkeep.health(spark, span, StoreUpkeep.SpanKind)
      .pendingTombstones, "swap must clear the applied tombstones")
    val cold = base + "/spancold"
    SpanStore.write(docs.filter(col("doc_id") % 5 =!= 2), cold,
      minTokens = 8, shardChars = 1)
    val want = SpanStore.probe(spark, docs.filter(col("doc_id") < 6), cold)
      .collect().map(_.toSeq).toSet
    val got = SpanStore.probe(spark, docs.filter(col("doc_id") < 6), span)
      .collect().map(_.toSeq).toSet
    assert(got == want, "post-takedown serving != cold build without")
    CacheRegistry.release(spark)
  }

  test("SpanStore.probe reuse handles (printsPre/bloomCandidatesPre) == plain probe") {
    // the r21 q_spanstore_bloom optimization passes the caller's own
    // printsOf frame and bloomMaybe verdict into probe instead of
    // letting it re-derive both — this pins the handles row-identical
    // to the handle-free path on a bloom-sidecar store with appends
    val dir = java.nio.file.Files.createTempDirectory("probe-reuse").toString + "/s"
    val d = docs.limit(60)
    SpanStore.write(d.filter(col("doc_id") % 3 === 1), dir,
      minTokens = 8, shardChars = 1, withBloom = true)
    SpanStore.append(spark, d.filter(col("doc_id") % 3 === 2), dir)
    val batch = d.filter(col("doc_id") % 3 === 0)
    val plain = SpanStore.probe(spark, batch, dir)
      .collect().map(_.toSeq).toSet
    val pr = CacheRegistry.persist(SpanStore.printsOf(spark, batch, dir))
    val maybe = CacheRegistry.persist(SpanStore.bloomMaybe(spark,
        pr.select("shard", "span_md5").distinct(), dir))
    val reused = SpanStore.probe(spark, batch, dir,
        printsPre = Some(pr), bloomCandidatesPre = Some(maybe))
      .collect().map(_.toSeq).toSet
    assert(plain.nonEmpty, "probe fixture must produce hits")
    assert(reused == plain, "reuse handles changed the probe answer")
    CacheRegistry.release(spark)
  }
}
