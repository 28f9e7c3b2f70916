package graft

import graft.operators.Similarity
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

class SimilaritySpec extends SparkSpec {

  private lazy val emb = Tables.embeddings(spark, sf)
  private lazy val queries = emb.filter(col("vec_id") < 8)

  private def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  private lazy val exact = Similarity.bruteForceTopK(emb, queries, 5)

  test("brute-force top-k returns k neighbors per query, no self-matches") {
    val rows = exact.collect()
    assert(rows.length == 8 * 5)
    assert(rows.forall(r => r.getLong(0) != r.getLong(2)))
    val ranks = rows.groupBy(_.getLong(0)).values.map(_.map(_.getInt(1)).sorted.toSeq)
    assert(ranks.forall(_ == Seq(1, 2, 3, 4, 5)))
  }

  test("LSH ANN recall@5 against brute force") {
    val truth = pairs(exact)
    val approx = pairs(Similarity.lshTopK(emb, queries, 5))
    val recall = truth.count(approx.contains).toDouble / truth.size
    assert(recall >= 0.3, s"LSH recall $recall < 0.3")
  }

  test("IVF ANN probes partitions and ranks correctly") {
    // corpus labels are random (not similarity clusters), so recall is
    // ~nProbe/K by construction; assert plumbing + at-least-chance recall
    val got = Similarity.ivfTopK(emb, queries, 5)
    val rows = got.collect()
    assert(rows.length == 8 * 5)
    assert(rows.forall(r => r.getLong(0) != r.getLong(2)))
    val truth = pairs(exact)
    val recall = truth.count(pairs(got).contains).toDouble / truth.size
    assert(recall >= 0.1, s"IVF recall $recall below chance floor")
  }

  test("near-dup pairs match a brute-force cosine threshold scan exactly on hits") {
    // verified candidates can only be true pairs; check none are below threshold
    val found = Similarity.nearDupPairs(emb, 0.45)
    val withScore = found
      .join(emb.select(col("vec_id").as("vec_a"), col("embedding").as("ea")), "vec_a")
      .join(emb.select(col("vec_id").as("vec_b"), col("embedding").as("eb")), "vec_b")
      .withColumn("score", Similarity.cosine(
        transform(col("ea"), x => x.cast("double")),
        transform(col("eb"), x => x.cast("double"))))
    assert(withScore.filter(col("score") < 0.45).count() == 0)
  }

  test("k-means coarse quantizer: deterministic, complete, and Lloyd-improving") {
    val a1 = Similarity.kmeansAssign(emb, 8, 3).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val a2 = Similarity.kmeansAssign(emb, 8, 3).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(a1 == a2, "training must be deterministic")
    val n = emb.count()
    assert(a1.size == n, "every vector must be assigned")
    assert(a1.values.toSet.subsetOf((0 until 8).toSet))
    assert(a1.values.toSet.size > 1, "clusters must not collapse")

    // Lloyd monotonicity proxy: mean best-centroid cosine must not
    // decrease with more iterations (computed against each run's OWN
    // final centroids via a plain-Scala evaluation)
    val vecs = emb.collect().map(r =>
      r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var (d, na, nb, i) = (0.0, 0.0, 0.0, 0)
      while (i < a.length) { d += a(i)*b(i); na += a(i)*a(i); nb += b(i)*b(i); i += 1 }
      d / math.sqrt(na * nb)
    }
    def quality(assign: Map[Long, Int]): Double = {
      val cents = assign.groupBy(_._2).map { case (c, m) =>
        val vs = m.keys.map(vecs).toSeq
        c -> vs.transpose.map(_.sum).toArray
      }
      assign.map { case (id, c) => cos(vecs(id), cents(c)) }.sum / assign.size
    }
    val q1 = quality(Similarity.kmeansAssign(emb, 8, 1).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap)
    val q3 = quality(a1)
    assert(q3 >= q1 - 1e-9, s"3-iter quality $q3 below 1-iter $q1")
  }

  test("sample-trained quantizer: the book ignores vectors beyond the " +
      "deterministic sample bound; the assignment pass still covers them") {
    // k = 2, sampleN = 32: the bound (32) is below n, so the xxhash64
    // threshold rejects most rows. A rejected row's new embedding (same
    // ids, so the same n and threshold) must not move the book by one
    // bit; an accepted row's must.
    val (k, sampleN) = (2, 32)
    val n = emb.count()
    val inSample = pmod(xxhash64(col("vec_id")), lit(1000000L)) <
      math.max(sampleN, 8 * k) * 1000000L / n
    def perturbed(rows: Column): DataFrame = emb.withColumn("embedding",
      when(rows, transform(col("embedding"), x => x * 2 + 0.25f))
        .otherwise(col("embedding")))
    def book(df: DataFrame) =
      bookBits(Similarity.kmeansTrain(df, k, 3, sampleN))
    assert(emb.filter(!inSample).count() > n / 2)
    assert(book(perturbed(!inSample)) == book(emb),
      "out-of-sample rows must not change the trained book")
    assert(book(perturbed(inSample)) != book(emb))
    val big = perturbed(!inSample)
    val assigned = Similarity.kmeansAssignWith(big,
      Similarity.kmeansTrain(big, k, 3, sampleN))
    assert(assigned.count() == n,
      "the assignment pass must cover the whole corpus")
  }

  test("hash-sampled training: shifted ids, same book; binding bound, " +
      "deterministic") {
    def book(df: DataFrame): Map[Int, Seq[Double]] =
      Similarity.kmeansTrain(df, 8, 3).collect()
        .map(r => r.getInt(0) -> r.getSeq[Double](1)).toMap
    // gappy id space (ids shifted by 1e6): n <= bound takes the whole
    // corpus, and the order-preserving shift keeps the init, so the
    // book is the dense corpus's
    val gappy = emb.select((col("vec_id") + 1000000L).as("vec_id"),
      col("embedding"), col("label"))
    assert(book(gappy) == book(emb),
      "hash sampler must train the dense corpus's book on shifted ids")
    // binding bound (n > bound = 32): deterministic across runs
    val b1 = Similarity.kmeansTrain(emb, 2, 2, sampleN = 32)
      .collect().map(r => (r.getInt(0), r.getSeq[Double](1)))
    val b2 = Similarity.kmeansTrain(emb, 2, 2, sampleN = 32)
      .collect().map(r => (r.getInt(0), r.getSeq[Double](1)))
    assert(b1.toSeq == b2.toSeq, "hash sampling must be deterministic")
  }

  /** The distributed Lloyd loop kmeansTrain ran before it trained on the
    * driver, kept whole (sampler, init, rounds) as the reference
    * the trained book must equal bit for bit. */
  private def sparkLoopBook(corpus: DataFrame, k: Int, iters: Int,
      sampleN: Int = 4096): DataFrame = {
    import org.apache.spark.sql.GraftFreshStats.{checkpointFresh, unpersistCheckpoints}
    import org.apache.spark.sql.types._
    val bound = math.max(sampleN, 8 * k)
    val base = corpus.select(col("vec_id"),
      transform(col("embedding"), x => x.cast("double")).as("cv"))
    val n = corpus.count()
    val sampled =
      if (n <= bound) base
      else base.filter(
        pmod(xxhash64(col("vec_id")), lit(1000000L)) < bound * 1000000L / n)
    val c = checkpointFresh(sampled)
    val init = c.orderBy("vec_id").limit(k)
      .select(col("vec_id"), col("cv")).collect()
      .zipWithIndex.map { case (r, i) => (i, r.getSeq[Double](1)) }
    require(init.length == k)
    var cents = spark.createDataFrame(
      spark.sparkContext.parallelize(init.toSeq, 1)
        .map { case (i, v) => org.apache.spark.sql.Row(i, v) },
      StructType(Seq(StructField("cluster", IntegerType),
        StructField("centroid", ArrayType(DoubleType)))))
    for (_ <- 0 until iters - 1) {
      val prevCents = cents
      val assign = checkpointFresh(c.crossJoin(broadcast(prevCents))
        .withColumn("score", Similarity.cosine(col("cv"), col("centroid")))
        .groupBy("vec_id")
        .agg(min(struct(negate(col("score")).as("ns"),
          col("cluster").as("cluster"), col("cv").as("cv"))).as("best"))
        .select(col("best.cluster").as("cluster"), col("best.cv").as("cv")))
      unpersistCheckpoints(prevCents)
      cents = checkpointFresh(assign
        .select(col("cluster"), posexplode(col("cv")).as(Seq("i", "x")))
        .groupBy("cluster", "i")
        .agg(sum(col("x").cast("decimal(28,10)")).cast("double").as("x"))
        .groupBy("cluster")
        .agg(array_sort(collect_list(struct(col("i"), col("x")))).as("ps"))
        .select(col("cluster"),
          transform(col("ps"), p => p("x")).as("centroid")))
      unpersistCheckpoints(assign)
    }
    unpersistCheckpoints(c)
    cents
  }

  /** A book as cluster -> the raw bits of each centroid dimension. */
  private def bookBits(book: DataFrame): Map[Int, Seq[Long]] =
    book.collect().map(r => r.getInt(0) ->
      r.getSeq[Double](1).map(java.lang.Double.doubleToRawLongBits)).toMap

  test("kmeansTrain's book equals the distributed Lloyd loop's bit for " +
      "bit: gate corpus, sampleN = 32, 8k > sampleN, an empty cluster, " +
      "a score tie") {
    import spark.implicits._
    def same(corpus: DataFrame, k: Int, iters: Int,
        sampleN: Int): Map[Int, Seq[Long]] = {
      val got = bookBits(Similarity.kmeansTrain(corpus, k, iters, sampleN))
      assert(got == bookBits(sparkLoopBook(corpus, k, iters, sampleN)),
        s"k=$k iters=$iters sampleN=$sampleN")
      got
    }
    // the gate corpus at the registered config
    same(emb, 8, 3, 4096)
    // a binding bound (n > 32): the sampler drops rows
    same(emb, 2, 3, 32)
    // 8k > sampleN: the bound is 8k
    same(emb, 8, 3, 32)
    // ids 0 and 1 share a direction, so every vector scores the same
    // against clusters 0 and 1: the tie goes to cluster 0, cluster 1
    // wins no vector and leaves the book
    val tied = Seq(
      (0L, Array(1f, 0f)), (1L, Array(2f, 0f)), (2L, Array(0f, 1f)),
      (3L, Array(0.9f, 0.1f)), (4L, Array(0.2f, 0.8f)))
      .toDF("vec_id", "embedding")
    assert(same(tied, 3, 3, 4096).keySet == Set(0, 2),
      "the cluster that wins no vector must leave the book")
    // a null embedding adds to no centroid; as an init row its null
    // centroid scores null, which the loop's min orders first
    val withNull = tied.unionByName(
      Seq((5L, null: Array[Float])).toDF("vec_id", "embedding"))
    same(withNull, 3, 3, 4096)
    same(withNull.withColumn("vec_id", (col("vec_id") + 1) % 6), 3, 3, 4096)
  }

  test("kmeansTrain rejects a repeated vec_id at every k") {
    import spark.implicits._
    val repeated = Seq(
      (0L, Array(1f, 0f)), (1L, Array(0f, 1f)), (1L, Array(0.5f, 0.5f)),
      (2L, Array(0.9f, 0.1f))).toDF("vec_id", "embedding")
    // k = 2 keeps the bound at sampleN; k = 2 with sampleN = 8 makes the
    // bound 8k = 16 instead
    for ((k, sampleN) <- Seq((2, 4096), (2, 8))) {
      val e = intercept[IllegalArgumentException] {
        Similarity.kmeansTrain(repeated, k, 3, sampleN)
      }
      assert(e.getMessage.contains("vec_id 1 repeats"), e.getMessage)
    }
  }

  test("hash-sampled kmeansTrain runs at most 3 jobs: the corpus count " +
      "and one sample collect") {
    val (_, jobs) = org.apache.spark.GroupJobCount(spark.sparkContext) {
      Similarity.kmeansTrain(emb, 8, 3)
    }
    assert(jobs <= 3, s"kmeansTrain ran $jobs jobs: per-round jobs are back")
  }

  test("distributed-Gramian rotation equals a driver-collected replica " +
      "of the same decimal definition, bit for bit") {
    // the engine computes the moments as distributed decimal(28,10)
    // hash aggregates; this replica collects the raw sample and applies
    // the identical definition driver-side with java BigDecimal — if
    // the distributed path were order-dependent (e.g. a double
    // treeAggregate) this would flake across partitionings
    import java.math.{BigDecimal => JBD, RoundingMode}
    val sample = emb.filter(col("vec_id") < 4096)
      .select(transform(col("embedding"), x => x.cast("double")).as("v"))
      .collect().map(_.getSeq[Double](0).toArray)
    val d = sample.head.length
    val n = sample.length
    def dec(x: Double): JBD =
      JBD.valueOf(x).setScale(10, RoundingMode.HALF_UP)
    val sums = Array.fill(d)(JBD.ZERO)
    val gram = Array.fill(d, d)(JBD.ZERO)
    sample.foreach { r =>
      var i = 0
      while (i < d) {
        sums(i) = sums(i).add(dec(r(i)))
        var j = i
        while (j < d) {
          gram(i)(j) = gram(i)(j).add(dec(r(i) * r(j))); j += 1
        }
        i += 1
      }
    }
    val mean = Array.tabulate(d)(i => sums(i).doubleValue() / n)
    val cov = Array.ofDim[Double](d, d)
    for (i <- 0 until d; j <- i until d) {
      val c = gram(i)(j).doubleValue() / n - mean(i) * mean(j)
      cov(i)(j) = c; cov(j)(i) = c
    }
    val (w, v) = Similarity.jacobiEig(cov)
    val expected = (0 until d).sortBy(c => (-w(c), c)).take(16).map { c =>
      val row = Array.tabulate(d)(r => v(r)(c))
      val pivot = row.indices.maxBy(r => (math.abs(row(r)), -r))
      (if (row(pivot) < 0) row.map(x => -x) else row).toSeq
    }
    val got = Similarity.trainedRotation(emb, 16).map(_.toSeq).toSeq
    assert(got == expected,
      "distributed Gramian rotation must be bit-identical to the " +
        "driver-collected replica")
  }

  test("IVF over trained centroids returns complete ranked neighbors") {
    val rows = Similarity.e07.fn(spark, sf).collect()
    assert(rows.length == 8 * 5)
    assert(rows.forall(r => r.getLong(0) != r.getLong(2)))
    val truth = pairs(exact)
    val got = rows.map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = truth.count(got.contains).toDouble / truth.size
    assert(recall >= 0.1, s"trained-IVF recall $recall below chance floor")
  }

  test("e08 pins every ANN path's recall EXACTLY — a silent recall drop " +
      "is a diff, not a passed floor") {
    val rows = Similarity.e08.fn(spark, sf).collect()
      .map(r => r.getString(0) -> ((r.getLong(2), r.getLong(3)))).toMap
    // deterministic constants of (sf0.001 corpus, config) — recomputed
    // values must match to the row: (hits, total) per method
    // semdedup_group 6/7 (was 2/7 single-probe): multi-probe pairing
    // (each vector scored in its 3 nearest clusters, assignment silver
    // still single) recovers the k-means-boundary pairs that the
    // cos ≥ 0.45 regime scatters across clusters — SemDeDup's
    // documented miss mode, surfaced here as data; the remaining 1/7
    // miss is a pair more than 3 probe clusters apart.
    // rerank_trunc 15/40: the sf0.001 embeddings are near-isotropic, so
    // a 16-of-64-dim prefix is a weak coarse signal and a 20-candidate
    // shortlist misses most exact top-5 — an honest audit row (real MRL
    // embeddings front-load variance; the fixture does not). e11's own
    // spec proves the mechanism exact when the prefix is the full vector.
    // rerank_trained 19/40: the PCA rotation trained on the corpus
    // sample lifts the same 16-dim coarse budget above the identity
    // prefix floor (top-16-by-variance SELECTION measures WORSE, 6/40 —
    // the fixture punishes selection, rewards rotation).
    assert(rows == Map(
      "lsh" -> ((23L, 40L)),
      "ivf_label" -> ((11L, 40L)),
      "ivf_kmeans" -> ((38L, 40L)),
      "quantized_int8" -> ((39L, 40L)),
      "rerank_trunc" -> ((15L, 40L)),
      "rerank_trained" -> ((19L, 40L)),
      // the second point of the trade curve: +8 dims of coarse budget
      // buys +8 hits (16->19/40, 24->27/40) — the audit row a capacity
      // decision would read
      "rerank_trained24" -> ((27L, 40L)),
      "rerank_trained32" -> ((37L, 40L)),
      "neardup_lsh" -> ((7L, 7L)),
      "semdedup_group" -> ((6L, 7L))), s"recall drifted: $rows")
  }

  test("int8-quantized scan: exact integer dots, high recall vs full precision") {
    val got = Similarity.quantizedTopK(emb, queries, 5)
    val rows = got.collect()
    assert(rows.length == 8 * 5)
    assert(rows.forall(r => r.getLong(0) != r.getLong(2)))

    // integer dots must equal a plain-Scala int8 quantization, bit-exact
    val vecs = emb.collect().map(r =>
      r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    def quant(v: Array[Double]): Array[Long] = {
      val s = math.max(v.map(math.abs).max, 1e-30) / 127.0
      v.map(x => math.floor(x / s + 0.5).toLong)
    }
    val q = vecs.map { case (id, v) => id -> quant(v) }
    rows.foreach { r =>
      val expect = q(r.getLong(0)).zip(q(r.getLong(2))).map(p => p._1 * p._2).sum
      assert(r.getLong(3) == expect,
        s"int_dot mismatch for (${r.getLong(0)}, ${r.getLong(2)})")
    }
    assert(q.values.forall(_.forall(x => x >= -127 && x <= 127)),
      "codes must fit int8")

    // int8 is a fine approximation at dim 64: recall@5 should be near 1
    val truth = pairs(exact)
    val recall = truth.count(pairs(got).contains).toDouble / truth.size
    assert(recall >= 0.9, s"quantized recall $recall < 0.9")
  }

  test("semantic dedup: deterministic, one keeper per group, and " +
      "consistent with the exact pair scan within clusters") {
    def run() = Similarity.semanticDedup(emb, k = 8, iters = 3,
      minCosine = 0.45).orderBy("vec_id").collect().toSeq
    val a = run()
    assert(a == run(), "semanticDedup must be deterministic")
    // complete cover: one output row per corpus vector
    assert(a.length == emb.count())
    // exactly one keeper per canonical group, and it IS the canonical
    val byGroup = a.groupBy(_.getLong(1))
    assert(byGroup.forall { case (canon, rows) =>
      rows.count(_.getBoolean(2)) == 1 &&
        rows.find(_.getBoolean(2)).get.getLong(0) == canon &&
        canon == rows.map(_.getLong(0)).min
    })
    // ground truth: every exact near-dup pair whose two vectors landed
    // in the SAME k-means cluster must share a canonical id (the
    // within-cluster search may not miss), and the corpus has planted
    // pairs so the check is non-vacuous
    val canonOf = a.map(r => r.getLong(0) -> r.getLong(1)).toMap
    val assign = Similarity.kmeansAssign(emb, 8, 3)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val vecs = emb.select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    def cos(x: Seq[Double], y: Seq[Double]) = {
      val d = x.zip(y).map { case (p, q) => p * q }.sum
      d / (math.sqrt(x.map(p => p * p).sum) * math.sqrt(y.map(p => p * p).sum))
    }
    val ids = vecs.keys.toSeq.sorted
    val sameClusterDups = for {
      i <- ids; j <- ids if i < j
      if assign(i) == assign(j) && cos(vecs(i), vecs(j)) >= 0.45
    } yield (i, j)
    assert(sameClusterDups.nonEmpty, "corpus must contain planted dups")
    assert(sameClusterDups.forall { case (i, j) => canonOf(i) == canonOf(j) },
      "a same-cluster near-dup pair escaped its duplicate group")
  }

  // ------------------------------------------------------------- e11

  test("rerank at full prefix with a corpus-wide shortlist equals the exact scan") {
    val emb = Tables.embeddings(spark, sf)
    val q = emb.filter(org.apache.spark.sql.functions.col("vec_id") < 8)
    val exact = Similarity.bruteForceTopK(emb, q, 5).collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    val full = Similarity
      .rerankTopK(emb, q, 5, prefixDim = 64, shortlist = emb.count().toInt)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(full == exact)
  }

  test("truncated-prefix rerank honors the shortlist and ranks 1..k per query") {
    val emb = Tables.embeddings(spark, sf)
    val q = emb.filter(org.apache.spark.sql.functions.col("vec_id") < 8)
    val rows = Similarity.rerankTopK(emb, q, 5, prefixDim = 16, shortlist = 20)
      .collect()
    assert(rows.forall(_.getInt(3) <= 20), "neighbor outside the shortlist")
    rows.groupBy(_.getLong(0)).foreach { case (_, g) =>
      assert(g.map(_.getInt(1)).sorted.toSeq == (1 to 5))
    }
    // determinism: same ranks on a second run
    val again = Similarity.rerankTopK(emb, q, 5, prefixDim = 16, shortlist = 20)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(again ==
      rows.map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap)
  }
}
