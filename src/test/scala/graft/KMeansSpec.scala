package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{KMeans, Similarity}

/** Ground truth for the spherical k-means refinement and its effect
  * on the IVF tier: planted clusters must be recovered exactly, the
  * within-cluster cosine objective must improve over the hash seeds,
  * and refined IVF recall must beat stub-seeded IVF at equal probe
  * budget. All fixtures are seeded — results are deterministic. */
class KMeansSpec extends AnyFunSuite {
  import SparkTestSession.spark
  import spark.implicits._

  private val dim = 16

  test("fit recovers three planted blobs exactly") {
    val rnd = new scala.util.Random(3)
    val bases = Seq.fill(3)(Seq.fill(dim)(rnd.nextGaussian() * 3))
    val pts = (0 until 90).map { i =>
      val b = bases(i % 3)
      (i.toLong, b.map(_ + rnd.nextGaussian() * 0.05))
    }
    val df = pts.toDF("id", "v")
    val cents = KMeans.fit(df, "id", "v", k = 3, iters = 8)
    assert(cents.count() == 3)
    val cells = KMeans.assignCells(df, "id", "v", cents)
      .select($"id", $"cell").as[(Long, Int)].collect().toMap
    // every point shares its blob-mates' cell, and blobs get distinct cells
    val byBlob = (0 until 3).map(b => (0 until 90).filter(_ % 3 == b).map(i => cells(i.toLong)).toSet)
    assert(byBlob.forall(_.size == 1), s"blob split across cells: $byBlob")
    assert(byBlob.flatten.toSet.size == 3, s"blobs merged: $byBlob")
  }

  test("fit leaves as many pins behind at iters 2 and 6") {
    import SeamSpec.pinsLeftBy
    val rnd = new scala.util.Random(5)
    val df = (0L until 60L).map(i => (i, Seq.fill(dim)(rnd.nextGaussian())))
      .toDF("id", "v")
    val (c2, left2) = pinsLeftBy(KMeans.fit(df, "id", "v", k = 4, iters = 2))
    val (c6, left6) = pinsLeftBy(KMeans.fit(df, "id", "v", k = 4, iters = 6))
    assert(left2 == left6, s"pins left: $left2 at iters 2, $left6 at 6")
    assert(c2.count() > 0 && c6.count() > 0)
  }

  private lazy val corpus: DataFrame = {
    val rnd = new scala.util.Random(7)
    (0L until 200L).map(i => (i, Seq.fill(dim)(rnd.nextGaussian())))
      .toDF("cid", "cvec").cache()
  }
  private lazy val queries: DataFrame =
    corpus.limit(8).select($"cid".as("qid"), $"cvec".as("qvec"))

  test("an empty corpus yields an empty centroid set, not a crash") {
    val empty = Seq.empty[(Long, Seq[Double])].toDF("id", "v")
    assert(KMeans.fit(empty, "id", "v", k = 4, iters = 0).count() == 0)
  }

  test("seeding runs a bounded number of jobs — not one scan per seed (k=16)") {
    // VERDICT r4 item 3: the old farthest-first loop launched k−1
    // full-corpus jobs. The bounded-sample form must stay ≤5 Spark
    // jobs regardless of k; counted through a listener around a
    // seeding-only fit (iters = 0).
    val counter = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        counter.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val seeds = KMeans.fit(corpus, "cid", "cvec", k = 16, iters = 0)
      assert(seeds.count() == 16)
      Thread.sleep(2000) // listener events post asynchronously
    } finally spark.sparkContext.removeSparkListener(listener)
    // seeding's dim-probe job (r6 byte cap) + sample job + the seeds
    // count() action's job(s) — still O(1), never O(k)
    assert(counter.get() <= 6,
      s"seeding launched ${counter.get()} jobs — scans should not scale with k")
  }

  test("seed sample is bounded in BYTES, not rows (VERDICT r5 item 6)") {
    // arithmetic tier: at dim=2048 the default 64 MB budget holds 4096
    // rows — a k=1024 request (8192 rows) must be capped to that
    assert(KMeans.seedSampleRows(1024, 2048, KMeans.MaxSeedSampleBytes) == 4096)
    // narrow vectors keep the plain row bound
    assert(KMeans.seedSampleRows(16, 16, KMeans.MaxSeedSampleBytes) == 256)
    // never degrades to zero rows, however wide the vector
    assert(KMeans.seedSampleRows(4, 1 << 28, KMeans.MaxSeedSampleBytes) == 1)
  }

  test("blob recovery stays green at dim=2048 WITH the byte cap engaged") {
    // a budget of 192 KiB holds 12 dim-2048 rows — far below the 256-row
    // floor, so the cap genuinely drives the sample here; farthest-first
    // over the 12-point hash-sample must still spread across the blobs,
    // and Lloyd's (full corpus) must still recover them exactly
    val bigDim = 2048
    val rnd = new scala.util.Random(5)
    val bases = Seq.fill(3)(Seq.fill(bigDim)(rnd.nextGaussian() * 3))
    val pts = (0 until 90).map { i =>
      val b = bases(i % 3)
      (i.toLong, b.map(_ + rnd.nextGaussian() * 0.05))
    }
    val df = pts.toDF("id", "v")
    val budget = 12L * bigDim * 8L
    assert(KMeans.seedSampleRows(3, bigDim, budget) == 12) // cap IS engaged
    val cents = KMeans.fit(df, "id", "v", k = 3, iters = 8, maxSeedBytes = budget)
    assert(cents.count() == 3)
    val cells = KMeans.assignCells(df, "id", "v", cents)
      .select($"id", $"cell").as[(Long, Int)].collect().toMap
    val byBlob = (0 until 3).map(b =>
      (0 until 90).filter(_ % 3 == b).map(i => cells(i.toLong)).toSet)
    assert(byBlob.forall(_.size == 1), s"blob split across cells: $byBlob")
    assert(byBlob.flatten.toSet.size == 3, s"blobs merged: $byBlob")
  }

  test("null vectors are skipped by seeding, not NPE'd (ADVICE r5)") {
    val mixed = (0L until 40L).map { i =>
      (i, if (i % 5 == 0) null else Seq.fill(dim)(i.toDouble + 1))
    }.toDF("id", "v")
    val cents = KMeans.fit(mixed, "id", "v", k = 2, iters = 0)
    assert(cents.count() == 2) // seeded from the 32 non-null rows
  }

  test("refinement improves the within-cell cosine objective") {
    def meanSim(cents: DataFrame): Double =
      KMeans.assignCells(corpus, "cid", "cvec", cents)
        .agg(avg($"sim")).head().getDouble(0)
    val seeds = KMeans.fit(corpus, "cid", "cvec", k = 8, iters = 0)
    val refined = KMeans.fit(corpus, "cid", "cvec", k = 8, iters = 5)
    val (s0, s1) = (meanSim(seeds), meanSim(refined))
    assert(s1 > s0, s"refinement must tighten cells: $s1 <= $s0")
  }

  test("refined IVF beats stub-seeded IVF recall at equal probe budget") {
    val exact = Similarity.bruteForceTopK(queries, corpus, 5)
      .select($"qid", $"cid").as[(Long, Long)].collect().toSet
    def recall(df: DataFrame): Double = {
      val got = df.select($"qid", $"cid").as[(Long, Long)].collect().toSet
      (exact intersect got).size.toDouble / exact.size
    }
    val stub = recall(Similarity.ivfTopK(queries, corpus, 5, dim = dim,
      nCells = 8, nProbe = 2))
    val refined = recall(Similarity.ivfTopKRefined(queries, corpus, 5,
      nCells = 8, nProbe = 2))
    assert(refined >= stub,
      s"refined centroids must not lose recall: $refined < $stub")
    assert(refined >= 0.5, s"refined recall@5 at nProbe=2/8: $refined")
  }
}
