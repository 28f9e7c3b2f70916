package graft

import graft.operators.Dedup
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {

  private lazy val docs = Tables.documents(spark, sf)

  /** Exact all-pairs shingle Jaccard (quadratic): the truth the
    * pair operators are checked against. */
  private def bruteForcePairs(docs: DataFrame, minJaccard: Double): DataFrame = {
    val sets = docs.withColumn("sh", Dedup.shingles(col("text")))
      .select(col("doc_id"), col("sh"))
    val a = sets.select(col("doc_id").as("doc_a"), col("sh").as("sh_a"))
    val b = sets.select(col("doc_id").as("doc_b"), col("sh").as("sh_b"))
    a.crossJoin(b).filter(col("doc_a") < col("doc_b"))
      .withColumn("jaccard",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))))
      .filter(col("jaccard") >= minJaccard)
      .select("doc_a", "doc_b", "jaccard")
  }

  test("minhash LSH finds planted near-dups with high recall, verified precision") {
    val truth = bruteForcePairs(docs, 0.7)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val found = Dedup.minhashPairs(docs, 0.7)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(truth.nonEmpty, "corpus should contain planted near-dup pairs")
    // precision is exact by construction (candidates are re-verified)
    assert(found.subsetOf(truth))
    val recall = found.size.toDouble / truth.size
    assert(recall >= 0.9, s"recall $recall < 0.9 (found ${found.size} of ${truth.size})")
  }

  test("minhash pairs are deterministic across runs") {
    val a = Dedup.minhashPairs(docs, 0.7).orderBy("doc_a", "doc_b").collect().toSeq
    val b = Dedup.minhashPairs(docs, 0.7).orderBy("doc_a", "doc_b").collect().toSeq
    assert(a == b)
  }

  test("simhash near-dup pairs include the highest-jaccard planted dups") {
    val strong = bruteForcePairs(docs, 0.9)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val sim = Dedup.simhashPairs(docs, 10)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(strong.nonEmpty)
    val recall = strong.count(sim.contains).toDouble / strong.size
    assert(recall >= 0.8, s"simhash recall on strong dups $recall < 0.8")
  }

  test("hot-bucket cap: below-cap output identical, mega-cluster work " +
      "bounded with connectivity and exact precision preserved") {
    import spark.implicits._
    // an engineered mega cluster: 400 near-identical documents (one
    // word varies) that all share every minhash band bucket — the web
    // boilerplate case — plus unrelated filler docs
    val n = 400
    val body = ("alpha beta gamma delta epsilon zeta eta theta iota " +
      "kappa lambda mu nu xi omicron pi rho sigma tau upsilon")
    val mega = (0 until n).map(i => (i.toLong, s"$body tail$i"))
    val filler = (0 until 50).map(i =>
      ((1000 + i).toLong, s"filler${i}a filler${i}b filler${i}c " +
        s"filler${i}d filler${i}e filler${i}f"))
    val corpus = (mega ++ filler).toDF("doc_id", "text")
    val sh = corpus.select(col("doc_id"),
      Dedup.shingles(col("text")).as("sh")).localCheckpoint()

    // 1. below the cap nothing changes: exact all-pairs output
    val uncapped = Dedup.minhashPairsFrom(sh, 0.7, bucketCap = 100000)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val bigCap = Dedup.minhashPairsFrom(sh, 0.7, bucketCap = n + 1)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(uncapped == bigCap, "cap above every bucket must be a no-op")
    assert(uncapped.size >= n * (n - 1) / 2, "mega cluster must be all-pairs dense")

    // 2. above the cap: work is bounded to star pairs...
    val capped = Dedup.minhashPairsFrom(sh, 0.7, bucketCap = 64)
    val cappedPairs = capped.select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cappedPairs.size <= 16 * n, // ≤ bands × (n-1), not n²/2
      s"capped pair count ${cappedPairs.size} not linear in cluster size")
    // ...precision stays exact (subset of the exact answer)...
    assert(cappedPairs.subsetOf(uncapped))
    // ...and every cluster member is still covered and connected
    val covered = cappedPairs.flatMap(p => Seq(p._1, p._2))
    assert((0 until n).forall(i => covered.contains(i.toLong)),
      "every mega-cluster member must surface in at least one pair")
    val clustersCapped = Dedup.dupClusters(capped)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val clustersExact = Dedup.dupClusters(
      Dedup.minhashPairsFrom(sh, 0.7, bucketCap = 100000))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(clustersCapped == clustersExact,
      "star contraction must preserve duplicate-cluster assignment")

    // 3. the truncation is surfaced as data, not silent
    val stats = Dedup.bucketTruncationStats(
      Dedup.bandKeys(sh), cap = 64).collect()
    assert(stats.nonEmpty, "contracted buckets must be reported")
    assert(stats.forall(r => r.getAs[Long]("n") > 64))
    assert(stats.exists(r => r.getAs[Long]("n") > n * 3 / 4),
      "the mega cluster's canonical buckets must dominate the report")

    // 4. simhash: same contract. Identical texts → identical signatures
    // (Hamming 0), so the whole cluster shares every chunk bucket and
    // the exact answer is deterministically all-pairs.
    val simCorpus = (0 until n).map(i => (i.toLong, body)).toDF("doc_id", "text")
      .unionByName(filler.toDF("doc_id", "text"))
    val toks = simCorpus.select(col("doc_id"),
      split(trim(col("text")), "\\s+").as("toks")).localCheckpoint()
    val simExact = Dedup.simhashPairsFromToks(toks, 6, bucketCap = 100000)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val simCapped = Dedup.simhashPairsFromToks(toks, 6, bucketCap = 64)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(simCapped.subsetOf(simExact))
    assert(simCapped.size <= 4 * (n + 50), "simhash capped pairs not linear")
    val simCovered = simCapped.flatMap(p => Seq(p._1, p._2))
    assert((0 until n).forall(i => simCovered.contains(i.toLong)))
  }

  test("jaccard df-cap drops corpus-hot stop-shingles before the posting " +
      "self-join; rare-shingle pairs stay exact") {
    import spark.implicits._
    // 12 identical boilerplate docs (one shingle, df=12) + one genuine
    // near-dup pair over rare shingles (df=2 each)
    val fixture = (
      (100L to 111L).map(i => (i, "the quick fox")) ++ Seq(
        (1L, "alpha beta gamma delta epsilon"),
        (2L, "alpha beta gamma delta zeta"))
    ).toDF("doc_id", "text")
    val base = fixture.withColumn("sh", Dedup.shingles(col("text")))
      .select("doc_id", "sh")
    // N=14, t=0.3, eps=0.5 => cap 2.1: df=12 dropped, df=2 kept
    val capped = Dedup.exactJaccardPairs(spark, base, 0.3, dfCapEpsilon = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3)))
    assert(capped.toSeq == Seq((1L, 2L, 2, 4)),
      s"only the rare-shingle pair survives the cap, exactly: ${capped.toSeq}")
    // with the cap effectively off, the 66 boilerplate pairs come back
    val uncapped = Dedup.exactJaccardPairs(spark, base, 0.3, dfCapEpsilon = 10)
      .count()
    assert(uncapped == 67, s"12-choose-2 + 1 = 67, got $uncapped")
    // on the real corpus the default cap never binds: output identical
    // to the quadratic exact scan (what the d13 oracle checks)
    val indexed = Dedup.exactJaccardPairs(spark,
      docs.withColumn("sh", Dedup.shingles(col("text"))).select("doc_id", "sh"),
      0.3).select("doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = bruteForcePairs(docs, 0.3)
      .select("doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(indexed == brute)
  }

  // components: {1..6} via a zig-zag chain, {10,11,12} via a star with a
  // NON-min hub (11), {20,21} pair, a decreasing path {30..34}, a self
  // pair {40} and a pair with a null side {50}
  private lazy val ufPairs = {
    import spark.implicits._
    Seq[(Long, Option[Long])](
      (2L, Some(1L)), (2L, Some(3L)), (4L, Some(3L)), (4L, Some(5L)),
      (6L, Some(5L)),
      (11L, Some(10L)), (11L, Some(12L)),
      (20L, Some(21L)),
      (34L, Some(33L)), (33L, Some(32L)), (32L, Some(31L)), (31L, Some(30L)),
      (40L, Some(40L)),
      (50L, None))
      .toDF("doc_a", "doc_b")
  }

  test("dupClusters equals union-find on adversarial pair graphs " +
      "(chains, stars, merged components, increasing/decreasing paths)") {
    // local union-find ground truth; a null side is the row (null, null)
    val rows = ufPairs.collect()
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    rows.filter(r => !r.isNullAt(1)).foreach { r =>
      val (a, b) = (find(r.getLong(0)), find(r.getLong(1)))
      if (a != b) parent(math.max(a, b)) = math.min(a, b)
    }
    val nodes = rows.flatMap(r => Seq(r.getLong(0)) ++
      Option(r.get(1)).map(_.asInstanceOf[Long])).toSet
    // canonical = component min: normalize union-find roots to minima
    val expected = nodes.groupBy(find).flatMap { case (_, members) =>
      val m = members.min; members.map(x => (x: Any) -> (m: Any))
    }.toMap + ((null, null))
    // both branches: dupClusters takes the driver union-find, and
    // components at limit 0 the min-label contraction; the fixture adds a
    // self pair and a null side. Hash-partitioned on u > 30 over 4
    // partitions with a limit of 20 (a share of 6 per partition), the 14
    // edges leave some partition over its share, which the driver branch
    // reads back in a second job.
    val uv = ufPairs.select(col("doc_a").as("u"), col("doc_b").as("v"))
    val skewed = uv.repartition(4, col("u") > 30)
    for ((branch, result) <- Seq(
        "driver" -> Dedup.dupClusters(ufPairs),
        "driver, a partition over its share" ->
          graft.plans.GraphOps.components(skewed, 15, 20),
        "contraction" -> graft.plans.GraphOps.components(uv, 15, 0),
        "contraction, partitioned" ->
          graft.plans.GraphOps.components(skewed, 15, 0))) {
      val got = result.collect().map(r => (r.get(0), r.get(1))).toSeq
      assert(got.size == got.toMap.size, s"$branch: an id repeats")
      assert(got.toMap == expected,
        s"$branch: got ${got.toMap} expected $expected")
    }
  }

  test("dupClusters' driver branch runs no job beyond collecting the " +
      "pairs, and rejects non-bigint ids when the plan is built") {
    import org.apache.spark.GroupJobCount
    import spark.implicits._
    val sc = spark.sparkContext
    for (pairs <- Seq(ufPairs, ufPairs.repartition(4))) {
      val (_, collectJobs) = GroupJobCount(sc)(pairs.collect())
      val (_, jobs) = GroupJobCount(sc)(Dedup.dupClusters(pairs))
      assert(jobs <= collectJobs,
        s"dupClusters ran $jobs jobs, collecting its pairs $collectJobs")
    }
    intercept[IllegalArgumentException] {
      Dedup.dupClusters(Seq((1, 2)).toDF("doc_a", "doc_b"))
    }
  }

  test("permuted-table simhash: deterministic, exact precision, recall " +
      "at least the fixed 4x16 chunking's on the exact Hamming truth") {
    import spark.implicits._
    val toks = docs.select(col("doc_id"),
      split(trim(col("text")), "\\s+").as("toks")).localCheckpoint()
    def key(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_a", "doc_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val perm = Dedup.simhashPairsPermuted(toks, 6)
    val permSet = key(perm)
    assert(permSet == key(Dedup.simhashPairsPermuted(toks, 6)),
      "permuted banding must be deterministic")
    // exact Hamming ≤ 6 ground truth from the signatures themselves
    val sigs = toks.select(col("doc_id"),
      graft.functions.HashSketches.simhash_64(
        Dedup.expr_tokens_hashed(col("toks"))).as("sim"))
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    val truth = (for {
      (ia, sa) <- sigs; (ib, sb) <- sigs if ia < ib
      if java.lang.Long.bitCount(sa ^ sb) <= 6
    } yield (ia, ib)).toSet
    assert(truth.nonEmpty, "corpus must contain Hamming-6 near-dups")
    // precision exact by construction
    assert(permSet.subsetOf(truth))
    val chunked = key(Dedup.simhashPairsFromToks(toks, 6))
    val rPerm = permSet.size.toDouble / truth.size
    val rChunk = chunked.size.toDouble / truth.size
    // at gate scale prefixBits is small, so the permuted tables should
    // recall essentially everything the chunking does, and most of truth
    assert(rPerm >= 0.9, s"permuted recall $rPerm < 0.9 (chunked $rChunk)")
  }

  test("jaccardComponentEdges reaches exactly the full pair list's " +
      "components (exact-dup-first contraction is lossless)") {
    def comps(edges: org.apache.spark.sql.DataFrame) =
      Dedup.dupClusters(edges).collect()
        .map(r => r.getLong(r.fieldIndex("doc_id")) ->
          r.getLong(r.fieldIndex("canonical_id"))).toMap
    val full = comps(
      Dedup.exactJaccardPairs(spark, Dedup.shingled(spark, sf), 0.3)
        .select("doc_a", "doc_b"))
    val contracted = comps(Dedup.jaccardComponentEdges(spark, sf, 0.3))
    assert(contracted == full)
    assert(full.nonEmpty, "fixture should contain near-dup clusters")
    // and the edge relation itself is smaller or equal, never larger
    val nFull = Dedup.exactJaccardPairs(spark, Dedup.shingled(spark, sf), 0.3)
      .count()
    val nEdges = Dedup.jaccardComponentEdges(spark, sf, 0.3).count()
    assert(nEdges <= nFull,
      s"contracted edges $nEdges exceed full pairs $nFull")
  }

  test("simhash is a pure function of text") {
    val sigs = docs.withColumn("sim", Dedup.simhash(col("text")))
      .select("doc_id", "sim").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val again = docs.withColumn("sim", Dedup.simhash(col("text")))
      .select("doc_id", "sim").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sigs == again)
    assert(sigs.values.toSet.size > 1, "signatures should not be constant")
  }
  // ---------------------------------------------------------- d35

  test("quality keeper: exactly one keeper per cluster, and it is the " +
      "longest member (min-id tie-break)") {
    val clusters = Dedup.dupClusters(
      Dedup.exactJaccardPairs(spark,
        docs.select(col("doc_id"), Dedup.shingles(col("text")).as("sh")),
        0.3)).cache()
    val nTok = docs.select(col("doc_id"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("n_tokens"))
    val out = Dedup.qualityKeepers(clusters, nTok).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    val nOf = nTok.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    out.groupBy(_._2).foreach { case (_, members) =>
      val keepers = members.filter(_._4)
      assert(keepers.length == 1, "one keeper per cluster")
      val k = keepers.head
      assert(k._1 == k._3)
      val best = members.map(m => (nOf(m._1), -m._1)).max
      assert((nOf(k._1), -k._1) == best,
        "keeper must be the longest member, min id on ties")
    }
    assert(out.nonEmpty)
    // the quality rule must actually differ from min-id somewhere, or
    // the operator is indistinguishable from d14 on this fixture
    assert(out.exists(r => r._4 && r._1 != r._2),
      "fixture should contain a cluster whose keeper is not the min id")
    clusters.unpersist()
    ()
  }

  // ------------------------------------------- contracted reports (r14)

  /** Dup-heavy corpus for the report pins: verbatim-dup classes of
    * sizes 1..30 over three distinct base texts (two of them near-dups
    * of each other at J in [0.3, 0.7) and SimHash-close), plus filler.
    * Exercises stars, class rows, near rows AND their interaction. */
  private def dupHeavyCorpus = {
    import spark.implicits._
    val baseA = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    // shares 7 of 10 words with baseA -> near (J between the sets ~0.3-0.5)
    val baseB = "alpha beta gamma delta epsilon zeta eta psi chi omega"
    val baseC = "one two three four five six seven eight nine ten"
    val classes = Seq((baseA, 30, 0L), (baseB, 12, 100L), (baseC, 1, 200L),
      (baseA + " extraword", 5, 300L))
    val dups = classes.flatMap { case (text, sz, base) =>
      (0 until sz).map(i => (base + i, text))
    }
    val filler = (0 until 20).map(i =>
      ((500 + i).toLong, s"fill${i}a fill${i}b fill${i}c fill${i}d"))
    (dups ++ filler).toDF("doc_id", "text")
  }

  private def pairKey(df: org.apache.spark.sql.DataFrame) =
    df.select("doc_a", "doc_b", "inter", "uni").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3))).toSet

  /** Expand a (kind, doc_a, doc_b, inter, uni, n_pairs) report back into
    * the full pair listing: within-class all-pairs at (|S|, |S|) from
    * the stars, cross-class member-pair expansion from the near rows. */
  private def reconstructJaccard(
      report: Array[org.apache.spark.sql.Row]): Set[(Long, Long, Int, Int)] = {
    val stars = report.filter(_.getString(0) == "star")
    val members = stars.groupBy(_.getLong(1))
      .map { case (rep, rs) => rep -> rs.map(_.getLong(2)).toSet }
    def cls(rep: Long) = members.getOrElse(rep, Set.empty) + rep
    val sizeOf = stars.map(r => r.getLong(1) -> r.getInt(3)).toMap
    val within = members.toSeq.flatMap { case (rep, ms) =>
      val all = (ms + rep).toSeq.sorted
      for (i <- all.indices; j <- (i + 1) until all.size)
        yield (all(i), all(j), sizeOf(rep), sizeOf(rep))
    }
    val cross = report.filter(_.getString(0) == "near").toSeq.flatMap { r =>
      for (a <- cls(r.getLong(1)).toSeq; b <- cls(r.getLong(2)).toSeq)
        yield (math.min(a, b), math.max(a, b), r.getInt(3), r.getInt(4))
    }
    (within ++ cross).toSet
  }

  test("jaccard near-dup report reconstructs the exact full listing " +
      "losslessly and is linear in dup structure (d13 form)") {
    val sh = dupHeavyCorpus.select(col("doc_id"),
      Dedup.shingles(col("text")).as("sh")).localCheckpoint()
    // dfCapEpsilon high on BOTH sides: the tiny corpus makes the default
    // df-cap bind (N·t·ε ≈ 2), and the cap is a separate, separately
    // pinned approximation — this test pins the CONTRACTION alone
    val report = Dedup.jaccardNearDupReportFrom(sh,
      reps => Dedup.exactJaccardPairs(spark, reps, 0.3,
        dfCapEpsilon = 100)).collect()
    val full = pairKey(Dedup.exactJaccardPairs(spark, sh, 0.3,
      dfCapEpsilon = 100))
    assert(reconstructJaccard(report) == full,
      "report must reconstruct the full listing exactly")
    // row-kind accounting: n_pairs sums to the listing cardinality
    val nPairs = report.filter(r => !r.isNullAt(5)).map(_.getLong(5)).sum +
      report.count(_.getString(0) == "near") -
      report.filter(_.getString(0) == "near").map(_.getLong(5)).sum
    assert(report.filter(_.getString(0) == "class").map(_.getLong(5)).sum +
      report.filter(_.getString(0) == "near").map(_.getLong(5)).sum ==
      full.size.toLong, s"n_pairs must account for the full listing; $nPairs")
    // the scale contract: output linear in dup structure, not pair count
    assert(report.length < full.size / 3,
      s"report (${report.length}) must compress the listing (${full.size})")
  }

  test("minhash LSH report reconstructs the full LSH listing (d11 form: " +
      "identical sets share signatures, so banding commutes with " +
      "contraction)") {
    val sh = dupHeavyCorpus.select(col("doc_id"),
      Dedup.shingles(col("text")).as("sh")).localCheckpoint()
    // thresholds 0.3: baseA~baseB near rows qualify; big caps both sides
    val report = Dedup.jaccardNearDupReportFrom(sh,
      reps => Dedup.minhashPairsFrom(reps, 0.3, bucketCap = 100000))
      .collect()
    val full = pairKey(Dedup.minhashPairsFrom(sh, 0.3, bucketCap = 100000))
    assert(reconstructJaccard(report) == full)
    assert(report.count(_.getString(0) == "near") > 0,
      "fixture must exercise cross-class near rows")
  }

  test("simhash report reconstructs the full chunk-banded listing " +
      "(d12 form: identical signatures share every chunk)") {
    import spark.implicits._
    val toks = dupHeavyCorpus.select(col("doc_id"),
      split(trim(col("text")), "\\s+").as("toks")).localCheckpoint()
    val sims = Dedup.simsOf(toks).localCheckpoint()
    val report = Dedup.simhashNearDupReportFrom(sims, 6,
      bucketCap = 100000).collect()
    val full = Dedup.simhashPairsFromToks(toks, 6, bucketCap = 100000)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // reconstruct: within-class pairs at Hamming 0, cross via near rows
    val stars = report.filter(_.getString(0) == "star")
    val members = stars.groupBy(_.getLong(1))
      .map { case (rep, rs) => rep -> rs.map(_.getLong(2)).toSet }
    def cls(rep: Long) = members.getOrElse(rep, Set.empty) + rep
    val within = members.toSeq.flatMap { case (rep, ms) =>
      val all = (ms + rep).toSeq.sorted
      for (i <- all.indices; j <- (i + 1) until all.size)
        yield (all(i), all(j), 0)
    }
    val cross = report.filter(_.getString(0) == "near").toSeq.flatMap { r =>
      for (a <- cls(r.getLong(1)).toSeq; b <- cls(r.getLong(2)).toSeq)
        yield (math.min(a, b), math.max(a, b), r.getInt(3))
    }
    assert((within ++ cross).toSet == full)
    assert(stars.nonEmpty && report.exists(_.getString(0) == "class"))
  }

  test("d42/d43 dup-heavy corpus has the class structure the driver " +
      "fixture lacks, and the contracted d43 clusters equal the " +
      "uncontracted doc-level ground truth (r15 verdict item 1)") {
    val docs = Dedup.dupHeavyDocuments(spark, sf).localCheckpoint()
    // non-trivial classes: sizes 1..10 by construction (verbatim source
    // dups can push higher); the mean must sit well above 1
    val hist = docs.groupBy("text").count()
      .groupBy("count").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hist.keys.max >= 10, s"class sizes must reach 10 ($hist)")
    assert(hist.filter(_._1 > 1).values.sum > hist.getOrElse(1L, 0L),
      "most classes must be non-singleton")
    // ground truth: doc-level Jaccard pairs on the FULL dup corpus (the
    // quadratic path the contraction replaces), clustered by the same
    // CC machinery
    val full = Dedup.dupClusters(
      bruteForcePairs(docs, 0.3).select("doc_a", "doc_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val contracted = graft.operators.Dedup.d43.fn(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(contracted == full,
      "contracted cluster path must equal doc-level ground truth")
    // the contraction must actually bind: rep pairs run over class
    // representatives, a fraction of the corpus
    val nDocs = docs.count()
    val nReps = docs.select("text").distinct().count()
    assert(nReps * 2 < nDocs,
      s"corpus must be dup-heavy (reps $nReps of $nDocs docs)")
  }
}
