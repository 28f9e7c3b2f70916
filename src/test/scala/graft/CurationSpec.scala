package graft

import graft.operators.{Curation, Dedup}
import org.apache.spark.sql.functions._

class CurationSpec extends SparkSpec {

  private lazy val docs = Tables.documents(spark, sf)

  // ---------------------------------------------------------- d36

  test("contamination spans: positions, pair fan-out, and the longest " +
      "consecutive run on a constructed fixture") {
    import spark.implicits._
    // bench doc 0: "a b c d e"  → shingles "a b c","b c d","c d e"
    // bench doc 1: "x y z"      → shingle  "x y z"
    // corpus doc 10: "a b c d e q x y z a b c"
    //   vs bench 0: positions 0,1,2 match (run of 3) and position 9
    //     ("a b c" again) → n_pos 4, first 0, last 9, max_run 3
    //   vs bench 1: position 6 only
    // corpus doc 11: "q w e" → no matches, absent from the report
    val mk = (id: Long, t: String) => (id, t)
    val base = Seq(
      mk(0L, "a b c d e"), mk(1L, "x y z"),
      mk(10L, "a b c d e q x y z a b c"), mk(11L, "q w e"))
      .toDF("doc_id", "text")
      .select(col("doc_id"), trim(col("text")).as("tt"),
        split(trim(col("text")), "\\s+").as("toks"))
      .withColumn("sh", array_distinct(
        when(size(col("toks")) >= 3,
          expr("""transform(sequence(0, size(toks) - 3),
                  i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))"""))
          .otherwise(array(col("tt")))))
    val got = Curation.contaminationSpans(
        base.filter(col("doc_id") >= 10), base.filter(col("doc_id") < 10))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getInt(3), r.getInt(4), r.getLong(5)))).toMap
    assert(got == Map(
      (10L, 0L) -> ((4L, 0, 9, 3L)),
      (10L, 1L) -> ((1L, 6, 6, 1L))), s"got $got")
  }

  test("contamination span report reconstructs the full span listing " +
      "losslessly (d36 form: both-side exact-dup contraction)") {
    import spark.implicits._
    // corpus dups (10 ≡ 12: identical token stream → 'star'),
    // bench dups (0 ≡ 2: identical shingle set → 'bstar');
    // span rows over the rep pair stand for n_docs·n_bench listing rows
    val base = Seq(
      (0L, "a b c d e"), (1L, "x y z"), (2L, "a b c d e"),
      (10L, "a b c d e q x y z a b c"), (11L, "q w e"),
      (12L, "a b c d e q x y z a b c"), (13L, "a b c d e"))
      .toDF("doc_id", "text")
      .select(col("doc_id"), trim(col("text")).as("tt"),
        split(trim(col("text")), "\\s+").as("toks"))
      .withColumn("sh", array_distinct(
        when(size(col("toks")) >= 3,
          expr("""transform(sequence(0, size(toks) - 3),
                  i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))"""))
          .otherwise(array(col("tt")))))
    val corpus = base.filter(col("doc_id") >= 10)
    val bench = base.filter(col("doc_id") < 10)
    val report = Curation.contaminationSpanReport(corpus, bench).collect()
    val cm = report.filter(_.getString(0) == "star")
      .groupBy(_.getLong(1)).view.mapValues(_.map(_.getLong(2)).toSet).toMap
    val bm = report.filter(_.getString(0) == "bstar")
      .groupBy(_.getLong(1)).view.mapValues(_.map(_.getLong(2)).toSet).toMap
    assert(cm == Map(10L -> Set(12L)) && bm == Map(0L -> Set(2L)),
      s"membership rows: $cm / $bm")
    val spans = report.filter(_.getString(0) == "span")
    val reconstructed = spans.flatMap { r =>
      for (a <- (cm.getOrElse(r.getLong(1), Set.empty) + r.getLong(1)).toSeq;
           b <- (bm.getOrElse(r.getLong(2), Set.empty) + r.getLong(2)).toSeq)
        yield (a, b) ->
          ((r.getLong(3), r.getInt(4), r.getInt(5), r.getLong(6)))
    }.toMap
    val full = Curation.contaminationSpans(corpus, bench).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getInt(3), r.getInt(4), r.getLong(5)))).toMap
    assert(reconstructed == full,
      s"report must reconstruct the listing; got $reconstructed vs $full")
    // cardinality accounting: Σ n_docs·n_bench = listing row count
    assert(spans.map(r => r.getLong(7) * r.getLong(8)).sum == full.size,
      "span multiplicities must account for the full listing")
  }

  // ---------------------------------------------------------- d15

  test("decontamination matches a per-doc brute-force shingle intersect") {
    val base = docs.select(col("doc_id"), Dedup.shingles(col("text")).as("sh"))
    val bench = base.filter(col("doc_id") % 17 === 0)
    val corpus = base.filter(col("doc_id") % 17 =!= 0)
    val got = Curation.decontaminate(corpus, bench)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap

    // brute force: one flattened benchmark shingle set, intersect per doc
    val benchSet = bench.select(explode(col("sh")).as("g"))
      .distinct().collect().map(_.getString(0)).toSet
    val exp = corpus.collect().map { r =>
      val sh = r.getSeq[String](1)
      r.getLong(0) -> (sh.count(benchSet).toLong, sh.size.toLong)
    }.toMap
    assert(got == exp)
    assert(exp.values.exists(_._1 > 0),
      "fixture should produce at least one benchmark overlap")
  }

  test("benchmark docs are excluded and the contaminated flag is the 0.5 ratio") {
    val out = Curation.d15.fn(spark, sf).collect()
    assert(out.forall(_.getLong(0) % 17 != 0))
    out.foreach { r =>
      assert(r.getBoolean(3) ==
        (r.getLong(2) > 0 && r.getLong(1) * 2 >= r.getLong(2)))
    }
  }

  test("zero-shingle (sub-3-token) documents are never flagged contaminated") {
    import spark.implicits._
    val corpus = Seq((1L, Seq.empty[String]), (2L, Seq("a b c")))
      .toDF("doc_id", "sh")
    val bench = Seq((99L, Seq("a b c"))).toDF("doc_id", "sh")
    val got = Curation.decontaminate(corpus, bench)
      .collect().map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    assert(got == Map(1L -> false, 2L -> true))
  }

  // ---------------------------------------------------------- d16

  test("stratified sample is deterministic and respects per-stratum rates") {
    val a = Curation.stratifiedSample(docs, Curation.SampleRates)
      .orderBy("doc_id").collect().toSeq
    val b = Curation.stratifiedSample(docs, Curation.SampleRates)
      .orderBy("doc_id").collect().toSeq
    assert(a == b)
    val keptByLang = a.groupBy(_.getString(1)).view.mapValues(_.size).toMap
    val totByLang = docs.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    Curation.SampleRates.foreach { case (lang, permille) =>
      val tot = totByLang.getOrElse(lang, 0L)
      val kept = keptByLang.getOrElse(lang, 0).toLong
      // binomial-ish tolerance on a small fixture: ±4·sqrt(n·p) + 2
      val expct = tot * permille / 1000.0
      val tol = 4 * math.sqrt(math.max(expct, 1.0)) + 2
      assert(math.abs(kept - expct) <= tol,
        s"$lang: kept $kept of $tot, expected ~$expct ±$tol")
    }
  }

  test("sample bucket stays in [0,1000) past the 32-bit doc_id wrap point") {
    import spark.implicits._
    // doc_id * 2654435761 wraps a signed Long above ~3.46e9; the masked
    // LCG must still land every bucket in range (the old `%` form went
    // negative there, silently keeping every row).
    val big = Seq(3_500_000_000L, 10_000_000_000L, Long.MaxValue / 2654435761L * 2)
      .map(id => (id, "en")).toDF("doc_id", "lang")
    val buckets = Curation.stratifiedSample(big, Seq("en" -> 1000))
      .select("bucket").collect().map(_.getLong(0))
    assert(buckets.length == 3)
    assert(buckets.forall(b => b >= 0 && b < 1000), buckets.mkString(","))
  }

  test("sample plan is a pure scan+filter: no exchange") {
    val plan = Curation.stratifiedSample(docs, Curation.SampleRates)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"sampling must not shuffle:\n$plan")
  }

  // ---------------------------------------------------------- d17

  test("shard packing equals the single-window prefix sum, any bucket size") {
    import org.apache.spark.sql.expressions.Window
    val d = docs.select(col("doc_id"),
      size(split(trim(col("text")), "\\s+")).cast("long").as("n_tokens"))
    val expect = d.withColumn("cum_tokens",
        sum("n_tokens").over(Window.orderBy("doc_id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("shard_id", expr("(cum_tokens - n_tokens) DIV 2000"))
      .select("doc_id", "n_tokens", "cum_tokens", "shard_id")
      .orderBy("doc_id").collect().toSeq
    for (bucket <- Seq(1L, 7L, 4096L)) {
      val got = Curation.packShards(d, 2000L, bucket)
        .select("doc_id", "n_tokens", "cum_tokens", "shard_id")
        .orderBy("doc_id").collect().toSeq
      assert(got == expect, s"bucketSize=$bucket diverges")
    }
  }

  test("shards are contiguous, monotone, and hold ≤ budget + one doc") {
    val rows = Curation.d17.fn(spark, sf).collect()
    val shardIds = rows.map(_.getLong(3))
    assert(shardIds.sameElements(shardIds.sorted), "shard ids must be monotone")
    rows.groupBy(_.getLong(3)).foreach { case (sid, rs) =>
      val tot = rs.map(_.getLong(1)).sum
      val maxDoc = rs.map(_.getLong(1)).max
      assert(tot < 2000L + maxDoc, s"shard $sid holds $tot tokens")
    }
  }

  // ---------------------------------------------------------- d19

  test("lm scoring matches a brute-force count-table lookup") {
    val rows = Curation.d19.fn(spark, sf).collect()
    // brute force in plain Scala
    def bigrams(t: String): Seq[String] = {
      val w = t.trim.split("\\s+").toSeq
      if (w.size >= 2) w.sliding(2).map(_.mkString(" ")).toSeq else Nil
    }
    val all = docs.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> bigrams(r.getString(1))).toMap
    val refCounts = all.filter(_._1 % 13 == 0).values.flatten
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (id, bg) = (r.getLong(0), all(r.getLong(0)))
      assert(id % 13 != 0)
      assert(r.getLong(1) == bg.size.toLong, s"n_bigrams doc $id")
      assert(r.getLong(2) == bg.count(!refCounts.contains(_)).toLong,
        s"n_oov doc $id")
      assert(r.getLong(3) == bg.map(refCounts.getOrElse(_, 0L)).sum,
        s"hit_mass doc $id")
      assert(r.getBoolean(4) == (r.getLong(2) * 5 <= r.getLong(1)))
    }
    assert(rows.exists(_.getLong(2) > 0), "some OOV occurrences expected")
    assert(rows.exists(_.getLong(3) > 0), "some in-vocab mass expected")
  }

  test("lm count table stays broadcast: no shuffle on the candidate side") {
    val base = docs
      .select(col("doc_id"),
        split(trim(col("text")), "\\s+").as("toks"))
      .select(col("doc_id"),
        expr("""CASE WHEN size(toks) >= 2 THEN
                 transform(sequence(0, size(toks) - 2),
                   i -> concat_ws(' ', toks[i], toks[i+1]))
               ELSE array() END""").as("bg"))
    val plan = Curation.lmScore(base.filter(col("doc_id") % 13 =!= 0),
        base.filter(col("doc_id") % 13 === 0))
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") ||
      plan.contains("BroadcastNestedLoopJoin"),
      s"count-table join must broadcast:\n$plan")
  }

  // ---------------------------------------------------------- d20

  test("repetition signals match per-doc bigram frequency brute force") {
    val rows = Curation.d20.fn(spark, sf).collect()
    val all = docs.select("doc_id", "text").collect()
      .map { r =>
        val w = r.getString(1).trim.split("\\s+").toSeq
        val bg = if (w.size >= 2) w.sliding(2).map(_.mkString(" ")).toSeq
                 else Nil
        r.getLong(0) -> bg
      }.toMap
    assert(rows.length == all.size)
    rows.foreach { r =>
      val bg = all(r.getLong(0))
      val counts = bg.groupBy(identity).view.mapValues(_.size.toLong)
      assert(r.getLong(1) == bg.size.toLong)
      assert(r.getLong(2) == counts.size.toLong)
      assert(r.getLong(3) == (if (counts.isEmpty) 0L else counts.values.max))
      assert(r.getBoolean(4) == (r.getLong(3) * 10 >= r.getLong(1)))
    }
  }

  test("repetition plan is shuffle-free: pure scan-side column program") {
    val plan = Curation.repetitionSignals(docs)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"repetition signals must not shuffle:\n$plan")
  }

  // ---------------------------------------------------------- d21

  /** One left-to-right non-overlapping merge of (a, b) over a word. */
  private def applyMerge(syms: Vector[String], a: String,
      b: String): Vector[String] =
    syms.foldLeft(Vector.empty[String]) { (acc, s) =>
      if (acc.nonEmpty && acc.last == a && s == b) acc.init :+ (a + b)
      else acc :+ s
    }

  /** Sequential BPE in plain Scala over the collected word histogram: each
    * round merges the most frequent adjacent pair, ties broken by
    * (left, right) — the reference every trainer case compares against. */
  private def plainBpe(corpus: org.apache.spark.sql.DataFrame,
      nMerges: Int): Seq[(Int, String, String, Long)] = {
    var words: Map[Vector[String], Long] = corpus.select("text").collect()
      .flatMap(_.getString(0).trim.split("\\s+"))
      .groupBy(w => w.map(_.toString).toVector)
      .view.mapValues(_.length.toLong).toMap
    val merges = Seq.newBuilder[(Int, String, String, Long)]
    for (rank <- 1 to nMerges) {
      val counts = scala.collection.mutable.Map[(String, String), Long]()
      words.foreach { case (syms, n) =>
        syms.sliding(2).foreach {
          case Vector(a, b) =>
            counts((a, b)) = counts.getOrElse((a, b), 0L) + n
          case _ =>
        }
      }
      if (counts.nonEmpty) {
        val ((a, b), f) = counts.toSeq.minBy { case ((a, b), f) => (-f, a, b) }
        merges += ((rank, a, b, f))
        words = words.groupBy { case (syms, _) => applyMerge(syms, a, b) }
          .view.mapValues(_.values.sum).toMap
      }
    }
    merges.result()
  }

  test("bpe training equals a plain-Scala reference on the same histogram") {
    val got = Curation.bpeTrain(docs, 8)
    assert(got == plainBpe(docs, 8), "merge tables diverge")
    assert(got.size == 8)
    assert(got.forall(_._4 > 0))
  }

  test("top-K batched bpe training is bit-identical to sequential, " +
      "for several K and merge counts") {
    val seq12 = plainBpe(docs, 12)
    for (k <- Seq(2, 4, 8)) {
      val batched = Curation.bpeTrain(docs, 12, batchK = k)
      assert(batched == seq12, s"batchK=$k diverges from sequential")
    }
    // a synthetic corpus engineered with interacting top pairs: 'ab'
    // dominates, 'bc' interacts with it, 'de' is disjoint
    import spark.implicits._
    val tricky = (Seq.fill(30)("abab") ++ Seq.fill(29)("bcbc") ++
      Seq.fill(28)("dede") ++ Seq.fill(5)("xyz"))
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    assert(Curation.bpeTrain(tricky, 6, batchK = 4) == plainBpe(tricky, 6))
  }

  test("bpe encode applies the trained merges exactly like a sequential " +
      "plain-Scala tokenizer") {
    val merges = Curation.bpeTrain(docs, 8)
    val got = Curation.bpeEncode(docs, merges).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // reference: left-to-right non-overlapping merge per rank, per word
    val expect = docs.collect().map { r =>
      val words = r.getString(1).trim.split("\\s+").toSeq
      val total = words.map { w =>
        merges.sortBy(_._1).foldLeft(w.map(_.toString).toVector) {
          case (syms, (_, a, b, _)) => applyMerge(syms, a, b)
        }.size.toLong
      }.sum
      r.getLong(0) -> ((total, words.size.toLong))
    }.toMap
    assert(got == expect, "encode diverges from the sequential apply")
    // merging strictly reduces or preserves token counts vs raw chars
    assert(got.values.exists { case (n, _) => n > 0 })
  }

  test("batched bpe: a tie hiding behind a filled batch keeps bit-identity") {
    import spark.implicits._
    // Engineered for the batch-fill stop: with batchK=2 the walk selects
    // the disjoint (a,c) and (b,d) and exits because the batch is FULL,
    // never examining (c,q) — which ties at freq 50 and shares 'c' with
    // the kept (a,c). Sequential BPE merges (a,c) first, which creates
    // ("ac","q"):50 sorting lexicographically BEFORE (b,d), so its
    // second merge is ("ac","q"), not (b,d). The batched trainer must
    // dominate the first unexamined in-window row for this to hold.
    val corpus = (Seq.fill(50)("acq") ++ Seq.fill(50)("bd"))
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val seq3 = plainBpe(corpus, 3)
    assert(seq3.map(m => (m._2, m._3)) ==
      Seq(("a", "c"), ("ac", "q"), ("b", "d")),
      s"sequential ground truth drifted: $seq3")
    assert(Curation.bpeTrain(corpus, 3, batchK = 2) == seq3)
  }

  // ---------------------------------------------------------- d18

  // ---------------------------------------------------------- d23

  test("mixture sample: per-source token budget respected, equal to the " +
      "plain-Scala greedy prefix over deterministic-hash order") {
    val base = Tables.documents(spark, sf)
      .select(col("doc_id"), col("source"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("n_tokens"))
    val out = Curation.mixtureSample(base, Curation.MixtureWeights, 2000L)
      .collect().sortBy(_.getLong(0))
    val targets = Curation.MixtureWeights.toMap
    assert(out.nonEmpty)
    out.groupBy(_.getString(1)).foreach { case (src, rows) =>
      val tot = rows.map(_.getLong(2)).sum
      assert(tot <= 2000L * targets(src) / 1000,
        s"$src over budget: $tot")
      assert(rows.map(_.getLong(3)).max == tot,
        s"$src cumulative column inconsistent")
    }
    // exact equality with a sequential greedy reference
    def lcg(id: Long): Long = {
      val lo = id & 65535L; val hi = (id >> 16) & 65535L
      (lo * 2654435761L + ((hi * 2654435761L) & 65535L) * 65536L +
        1013904223L) & 4294967295L
    }
    val inRows = base.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    // the operator is take-while over the hash-ordered prefix: the first
    // overflowing document stays in the running total, so everything
    // after it is excluded too
    var expect = Set.empty[Long]
    inRows.groupBy(_._2).foreach { case (src, rows) =>
      val target = 2000L * targets(src) / 1000
      var cum = 0L
      rows.sortBy(r => (lcg(r._1), r._1)).foreach { case (id, _, n) =>
        cum += n
        if (cum <= target) expect += id
      }
    }
    assert(out.map(_.getLong(0)).toSet == expect,
      "mixture membership diverges from the sequential greedy prefix")
  }

  // ---------------------------------------------------------- d24

  test("url dedup: canonicalization unifies scheme/www/port/query/slash " +
      "variants into one key; first-seen is canonical") {
    val rows = Curation.d24.fn(spark, sf).collect()
    val n = rows.length
    assert(n == Tables.documents(spark, sf).count())
    rows.foreach { r =>
      val id = r.getLong(0)
      assert(r.getString(2) == s"h${id / 2}.example.com/a/b",
        s"canonical key wrong for $id: ${r.getString(2)}")
      assert(r.getString(1) == s"h${id / 2}.example.com")
      assert(r.getLong(3) == (id / 2) * 2, s"canonical_id wrong for $id")
      assert(r.getBoolean(4) == (id % 2 == 1))
    }
  }

  test("scrub removes every blocklisted token, preserves count and order") {
    val out = Curation.scrub(docs, Curation.Blocklist).collect()
    val orig = docs.collect().map(r =>
      r.getLong(0) -> r.getString(1).trim.split("\\s+").toSeq).toMap
    assert(out.exists(_.getInt(1) > 0), "blocklist should hit the corpus")
    out.foreach { r =>
      val before = orig(r.getLong(0))
      val after = r.getString(2).split(" ", -1).toSeq
      assert(after.size == before.size)
      assert(!after.exists(Curation.Blocklist.contains(_)))
      assert(r.getInt(1) == before.count(Curation.Blocklist.contains(_)))
      before.zip(after).foreach { case (b, a) =>
        if (Curation.Blocklist.contains(b)) assert(a == "[REDACTED]")
        else assert(a == b)
      }
    }
  }

  // ---------------------------------------------------------- d22

  /** Plain-Scala ExactSubstr reference: census every word n-gram across
    * the corpus, keep only the (doc_id, pos)-min occurrence of each
    * duplicated one, union spans, rebuild. */
  private def passageDedupBrute(corpus: Map[Long, Seq[String]], n: Int)
      : Map[Long, (String, Long)] = {
    val occ = for {
      (id, t) <- corpus.toSeq; i <- 0 to t.size - n
    } yield (t.slice(i, i + n).mkString(" "), id, i)
    val removed = occ.groupBy(_._1).valuesIterator.flatMap { os =>
      os.sortBy(o => (o._2, o._3)).drop(1)
    }.toSeq
    val covByDoc = removed.groupBy(_._2).map { case (id, os) =>
      id -> os.flatMap(o => o._3 until o._3 + n).toSet
    }
    corpus.map { case (id, t) =>
      val cov = covByDoc.getOrElse(id, Set.empty)
      id -> (t.zipWithIndex.collect { case (w, i) if !cov(i) => w }
        .mkString(" "), cov.size.toLong)
    }
  }

  test("passage dedup removes exactly the non-canonical duplicated spans") {
    import spark.implicits._
    // doc 1 holds the canonical passage; docs 2 and 3 embed copies; doc 3
    // additionally self-repeats a gram; doc 4 is clean and short
    val passage = (1 to 12).map(i => s"p$i")
    val fixture = Seq(
      1L -> ((1 to 20).map(i => s"a$i") ++ passage).mkString(" "),
      2L -> (passage ++ (1 to 15).map(i => s"b$i")).mkString(" "),
      3L -> ((1 to 10).map(i => s"c$i") ++ (1 to 10).map(i => s"c$i")
        ++ passage).mkString(" "),
      4L -> (1 to 9).map(i => s"d$i").mkString(" "))
    val df = fixture.toDF("doc_id", "text")
    val got = Curation.passageDedup(df, n = 10).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    val exp = passageDedupBrute(
      fixture.map { case (id, t) => id -> t.split(" ").toSeq }.toMap, 10)
    assert(got == exp)
    assert(got(1L)._2 == 0L, "canonical doc must be untouched")
    assert(got(2L)._1 == (1 to 15).map(i => s"b$i").mkString(" "))
    assert(got(3L)._2 > 12L, "self-repeat plus passage copy both removed")
    assert(got(4L) == ((1 to 9).map(i => s"d$i").mkString(" "), 0L))
  }

  test("passage dedup matches brute force on the real corpus") {
    val corpus = docs.limit(120).cache()
    val got = Curation.passageDedup(corpus).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    val exp = passageDedupBrute(corpus.collect().map(r =>
      r.getLong(0) -> r.getString(1).trim.split("\\s+").toSeq).toMap, 10)
    assert(got == exp)
    assert(exp.values.exists(_._2 > 0),
      "fixture should contain at least one duplicated passage")
    corpus.unpersist()
  }

  // ---------------------------------------------------------- d28

  test("shuffle shards: positions are a permutation, shards are the pos cut, " +
    "and the two-level ranking equals one global sort") {
    val out = Curation.shuffleShards(docs, 64L).collect()
    val n = out.length
    assert(out.map(_.getLong(2)).sorted.toSeq == (0L until n.toLong))
    out.foreach(r => assert(r.getLong(3) == r.getLong(2) / 64))
    val byPos = out.sortBy(_.getLong(2)).map(_.getLong(0)).toSeq
    val byKey = out.sortBy(r => (r.getLong(1), r.getLong(0)))
      .map(_.getLong(0)).toSeq
    assert(byPos == byKey,
      "bucketed two-level ranking diverged from the global (priority, id) sort")
    val again = Curation.shuffleShards(docs, 64L).orderBy("doc_id")
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(again == out.map(r => r.getLong(0) -> r.getLong(2)).toMap)
  }

  // ---------------------------------------------------------- d29

  test("source overlap matrix matches brute-force distinct-shingle intersections") {
    val base = docs.limit(150).cache()
    val sh = base.select(col("doc_id"), Dedup.shingles(col("text")).as("sh"))
    val got = Curation.sourceOverlap(sh, base.select("doc_id", "source"))
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    val bySrc = base
      .select(col("source"), explode(Dedup.shingles(col("text"))).as("g"))
      .collect().groupBy(_.getString(0)).view
      .mapValues(_.map(_.getString(1)).toSet).toMap
    val srcs = bySrc.keys.toSeq.sorted
    for { a <- srcs; b <- srcs if a < b } {
      val exp = ((bySrc(a) & bySrc(b)).size.toLong,
        bySrc(a).size.toLong, bySrc(b).size.toLong)
      assert(got((a, b)) == exp, s"pair ($a, $b)")
    }
    assert(got.size == srcs.size * (srcs.size - 1) / 2,
      "matrix must be complete, including zero-overlap pairs")
    assert(got.values.exists(_._1 > 0),
      "fixture should contain at least one overlapping source pair")
    base.unpersist()
  }

  // ---------------------------------------------------------- d30

  test("curation pipeline equals its stage-by-stage local recompute") {
    val out = Curation.curationPipeline(spark, sf).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSeq

    val raw = docs.collect().map { r =>
      (r.getLong(r.fieldIndex("doc_id")), r.getString(r.fieldIndex("lang")),
        r.getString(r.fieldIndex("source")), r.getString(r.fieldIndex("text")))
    }
    def scrubT(t: String): String = t.trim.split("\\s+")
      .map(w => if (Curation.Blocklist.contains(w)) "[REDACTED]" else w)
      .mkString(" ")
    def shing(t: String): Set[String] = {
      val w = t.trim.split("\\s+")
      if (w.length >= 3) w.sliding(3).map(_.mkString(" ")).toSet
      else Set(t.trim)
    }
    val gated = raw.map { case (id, l, s, t) => (id, l, s, scrubT(t)) }
      .filter { case (_, _, _, t) =>
        val n = t.trim.split("\\s+").length; n >= 20 && n <= 1000 }
    val benchSet = gated.filter(_._1 % 17 == 0).flatMap(x => shing(x._4)).toSet
    val clean = gated.filter(_._1 % 17 != 0).filter { case (_, _, _, t) =>
      val sh = shing(t)
      !(sh.nonEmpty && (sh & benchSet).size * 2 >= sh.size)
    }
    val deduped = clean.groupBy(_._4).values.map(_.minBy(_._1)).toSeq
    def bucket(id: Long): Long = {
      val lo = id & 65535L; val hi = (id >> 16) & 65535L
      ((((lo * 2654435761L) + (((hi * 2654435761L) & 65535L) * 65536L)
        + 1013904223L) & 4294967295L) * 1000L) / 4294967296L
    }
    val rates = Curation.SampleRates.toMap
    val sampled = deduped
      .filter { case (id, l, _, _) => bucket(id) < rates.getOrElse(l, 0) }
      .sortBy(_._1)
    var cum = 0L
    val exp = sampled.map { case (id, l, s, t) =>
      val n = t.trim.split("\\s+").length.toLong
      cum += n
      (id, l, s, n, cum, (cum - n) / 2000L)
    }
    assert(out == exp)
    assert(exp.nonEmpty, "pipeline output must be non-empty at spec scale")
    assert(exp.size < raw.length, "pipeline must actually drop documents")
  }
  // ---------------------------------------------------------- d31

  test("sequence packing tiles the global token stream exactly") {
    val withN = docs.select(col("doc_id"),
      size(split(trim(col("text")), "\\s+")).cast("long").as("n_tokens"))
    val L = 512L
    val out = Curation.packSequences(withN, L).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    val nOf = withN.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val total = nOf.values.sum
    // every document's spans cover [0, n) contiguously in window order
    out.groupBy(_._1).foreach { case (id, spans) =>
      val sorted = spans.sortBy(_._2)
      assert(sorted.map(_._5).sum == nOf(id), s"doc $id token coverage")
      var at = 0L
      sorted.foreach { case (_, _, docOff, _, n) =>
        assert(docOff == at, s"doc $id spans must be contiguous"); at += n
      }
    }
    // every window is exactly L tokens except the last
    val lastW = (total - 1) / L
    out.groupBy(_._2).foreach { case (w, spans) =>
      val span = spans.map(_._5).sum
      if (w < lastW) assert(span == L, s"window $w must be full")
      else assert(span == total - lastW * L)
      val sorted = spans.sortBy(_._4)
      var at = 0L
      sorted.foreach { case (_, _, _, wOff, n) =>
        assert(wOff == at, s"window $w spans must be contiguous"); at += n
      }
    }
    assert(out.exists(s => s._3 > 0),
      "fixture must contain a document split across windows")
  }

  // ---------------------------------------------------------- d32

  test("overlapping chunks equal local token slices at width 128 stride 64") {
    val out = Curation.chunkDocs(docs.limit(50), width = 128, stride = 64)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getString(3)))).toMap
    val exp = docs.limit(50).select("doc_id", "text").collect().flatMap { r =>
      val (id, w) = (r.getLong(0), r.getString(1).trim.split("\\s+").toSeq)
      (0L to (w.length - 1) / 64).map { c =>
        val ck = w.slice(c.toInt * 64, c.toInt * 64 + 128)
        (id, c) -> ((ck.length.toLong, ck.mkString(" ")))
      }
    }.toMap
    assert(out == exp)
    assert(exp.keys.groupBy(_._1).values.exists(_.size > 1),
      "fixture must contain multi-chunk documents")
  }
  // ---------------------------------------------------------- d33

  test("two-level vocab top-k equals the one-window global ranking, any bucket count") {
    def flat(k: Int, buckets: Int) =
      Curation.vocabCensus(docs, k, buckets).collect()
        .map(r => (r.getString(0), r.getInt(1), r.getString(2), r.getLong(3)))
        .toSet
    val global = {
      val byLang = docs.select(col("lang"),
          explode(split(trim(col("text")), "\\s+")).as("tok"))
        .collect().map(r => (r.getString(0), r.getString(1)))
        .groupBy(identity).view.mapValues(_.length.toLong).toSeq
        .map { case ((l, t), n) => (l, t, n) }
        .groupBy(_._1)
      byLang.flatMap { case (l, ts) =>
        ts.sortBy(t => (-t._3, t._2)).take(10).zipWithIndex
          .map { case ((_, t, n), i) => (l, i + 1, t, n) }
      }.toSet
    }
    for (b <- Seq(1, 7, 64))
      assert(flat(10, b) == global, s"buckets=$b diverged from global top-k")
  }

  // ---------------------------------------------------------- d34

  test("length profile percentiles are exact R-7 interpolation in milli units") {
    val out = Curation.lengthProfile(docs).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(5),
        r.getLong(6), r.getLong(7)))).toMap
    val lens = docs.select(col("lang"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    def r7(xs: Seq[Long], q: Double): Long = {
      val pos = q * (xs.length - 1)
      val lo = math.floor(pos).toInt; val frac = pos - lo
      val v = if (lo + 1 < xs.length) xs(lo) + frac * (xs(lo + 1) - xs(lo))
              else xs(lo).toDouble
      math.round(v * 1000)
    }
    lens.foreach { case (l, xs) =>
      val (d, t, p50, p90, p99) = out(l)
      assert(d == xs.length && t == xs.sum)
      assert(p50 == r7(xs, 0.5), s"$l p50")
      assert(p90 == r7(xs, 0.9), s"$l p90")
      assert(p99 == r7(xs, 0.99), s"$l p99")
    }
    assert(out.keySet == lens.keySet)
  }

  test("d40 quality report: verdicts recompute from raw signals, reasons " +
      "name exactly the failed rules") {
    val rows = graft.operators.Curation.qualityRules(docs).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, mean, stop, rep) = (r.getInt(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4))
      val expected = Seq(
        "len" -> !(n >= 40 && n <= 100000),
        "mean_len" -> !(mean >= 3.0 && mean <= 12.0),
        "stopword" -> !(stop >= 0.005),
        "repetition" -> !(rep <= 0.1)).filter(_._2).map(_._1)
      assert(r.getString(5) == expected.mkString(","), s"reasons on $r")
      assert(r.getBoolean(6) == expected.isEmpty, s"kept on $r")
    }
    assert(rows.exists(!_.getBoolean(6)), "fixture should fail some docs")
    assert(rows.exists(_.getBoolean(6)), "fixture should keep some docs")
  }

  test("d40 repetition rule fires on a constructed degenerate doc") {
    import spark.implicits._
    val fixture = Seq(
      (1L, Seq.fill(50)("spam ham").mkString(" ")),
      (2L, (1 to 100).map(i => s"tok$i").mkString(" "))
    ).toDF("doc_id", "text")
    val got = graft.operators.Curation.qualityRules(fixture).collect()
      .map(r => r.getLong(0) -> r.getString(5)).toMap
    assert(got(1L).contains("repetition"), s"degenerate doc: ${got(1L)}")
    assert(!got(2L).contains("repetition"))
  }
}
