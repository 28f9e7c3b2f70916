package graft.operators

import graft.{Q, Tables => T}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.GraftFreshStats.{checkpointFresh, unpersistCheckpoints}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-curation operators for training-data pipelines: benchmark
  * decontamination, deterministic stratified sampling, token-budget shard
  * packing, and blocklist/PII scrubbing. Like TextOps/Dedup this extends
  * the engine beyond toncenter/ton-indexer's surface (builder brief).
  *
  * Scale design notes per operator are on each method; the common themes:
  * the benchmark side of decontamination is small by nature (eval suites
  * are ≤10⁶ docs) and is BROADCAST, sampling is a pure map-side filter
  * with zero shuffle, and the shard-packing prefix sum is the classic
  * two-level scan (per-bucket window + tiny bucket-offset table) — never
  * a single-partition global window over the corpus.
  */
object Curation {

  private def toks(c: Column): Column = split(trim(c), "\\s+")

  // ---------------------------------------------------------------- d15

  /** Benchmark decontamination: for every corpus document, count its
    * distinct 3-word shingles that also appear anywhere in the benchmark
    * set, and flag documents whose overlap ratio ≥ 0.5 (integer math — no
    * float column, bit-exact against the oracle).
    *
    * `bench` is exploded to distinct 8-byte shingle hashes and broadcast:
    * the corpus side streams (doc_id, hash) rows through a broadcast
    * LEFT SEMI join — no shuffle of the 100-TB side at all, and the
    * benchmark fits executor memory by construction (a 10⁶-doc eval suite
    * is ~10⁸ hashes ≈ 1 GB; above that, swap the broadcast for a
    * bucketed shuffle join — the operator shape is unchanged). */
  def decontaminate(corpus: DataFrame, bench: DataFrame): DataFrame = {
    val benchSet = bench
      .select(explode(expr("transform(sh, x -> xxhash64(x))")).as("g"))
      .distinct()
    val hits = corpus
      .select(col("doc_id"), explode(expr("transform(sh, x -> xxhash64(x))")).as("g"))
      .join(broadcast(benchSet), Seq("g"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("n_shared"))
    corpus.select(col("doc_id"), size(col("sh")).cast("long").as("n_shingles"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        col("n_shingles"),
        // n_shingles > 0 guard: a <3-token document has zero shingles,
        // and 0*2 >= 0 would flag it contaminated — short docs must
        // pass through, not be dropped as benchmark overlap.
        (col("n_shingles") > 0 &&
          coalesce(col("n_shared"), lit(0L)) * 2 >= col("n_shingles"))
          .as("contaminated"))
  }

  /** Decontamination against a held-out "benchmark" slice (doc_id ≡ 0
    * mod 17 stands in for the eval suite; the operator does not care
    * where the benchmark table comes from). */
  val d15 = Q("d15_decontamination",
    s"""${Dedup.shingleCte},
       |bench AS (
       |  SELECT DISTINCT unnest(s) AS g FROM sh WHERE doc_id % 17 = 0
       |),
       |corpus AS (
       |  SELECT doc_id, unnest(s) AS g FROM sh WHERE doc_id % 17 <> 0
       |),
       |hits AS (
       |  SELECT c.doc_id, count(*) AS n_shared
       |  FROM corpus c JOIN bench b ON c.g = b.g GROUP BY c.doc_id
       |)
       |SELECT s.doc_id, coalesce(h.n_shared, 0) AS n_shared,
       |  len(s.s) AS n_shingles,
       |  len(s.s) > 0 AND coalesce(h.n_shared, 0) * 2 >= len(s.s)
       |    AS contaminated
       |FROM sh s LEFT JOIN hits h ON s.doc_id = h.doc_id
       |WHERE s.doc_id % 17 <> 0
       |ORDER BY s.doc_id""".stripMargin) { (s, dir) =>
    val base = Dedup.shingled(s, dir)
    decontaminate(base.filter(col("doc_id") % 17 =!= 0),
        base.filter(col("doc_id") % 17 === 0))
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------- d16

  /** Per-stratum sampling rates in thousandths (lang → ‰ kept). */
  val SampleRates: Seq[(String, Int)] =
    Seq("en" -> 500, "es" -> 250, "de" -> 250, "fr" -> 100, "zh" -> 100)

  /** Deterministic stratified sampling: keep a document iff a mixed
    * integer hash of its id lands below the stratum's rate. Pure
    * map-side filter — zero shuffle, trivially resumable/repeatable
    * (no RNG state), and expressible identically in any engine, so
    * corpus membership is reproducible across reruns and systems.
    * The hash is a 32-bit LCG step mapped onto [0, 1000).
    *
    * Overflow note: the naive `doc_id * 2654435761` exceeds Long past
    * doc_id ≈ 3.46e9 — billions of documents IS the target scale — and
    * Spark 4's ANSI arithmetic makes that a hard error, not a wrap. So
    * the mod-2^32 product is computed by 16-bit split multiply:
    * with d = lo + hi·2^16, (d·m) mod 2^32 =
    * (lo·m + ((hi·m) mod 2^16)·2^16) mod 2^32, every intermediate
    * ≤ ~2^48. Identical to the plain LCG for small ids, exact for all
    * 2^63 ids, and expressible verbatim in any SQL engine. */
  def stratifiedSample(docs: DataFrame, rates: Seq[(String, Int)]): DataFrame = {
    val bucket = expr(
      """((((doc_id & 65535) * 2654435761)
        |  + ((((doc_id >> 16) & 65535) * 2654435761) & 65535) * 65536
        |  + 1013904223) & 4294967295) * 1000 DIV 4294967296""".stripMargin)
    val rate = rates.foldLeft(lit(0)) { case (acc, (l, r)) =>
      when(col("lang") === l, r).otherwise(acc) }
    docs.withColumn("bucket", bucket)
      .filter(col("bucket") < rate)
      .select("doc_id", "lang", "bucket")
  }

  val d16 = Q("d16_stratified_sample",
    s"""SELECT doc_id, lang,
       |  ((((doc_id & 65535) * 2654435761)
       |    + ((((doc_id >> 16) & 65535) * 2654435761) & 65535) * 65536
       |    + 1013904223) & 4294967295) * 1000 // 4294967296
       |    AS bucket
       |FROM documents
       |WHERE ((((doc_id & 65535) * 2654435761)
       |    + ((((doc_id >> 16) & 65535) * 2654435761) & 65535) * 65536
       |    + 1013904223) & 4294967295) * 1000 // 4294967296
       |  < CASE lang ${SampleRates.map { case (l, r) =>
             s"WHEN '$l' THEN $r" }.mkString(" ")} ELSE 0 END
       |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    stratifiedSample(T.documents(s, dir), SampleRates).orderBy("doc_id")
  }

  // ---------------------------------------------------------------- d17

  /** Token-budget shard packing: documents are laid out in doc_id order
    * and cut into shards of ~`budget` tokens — shard_id = the doc's START
    * offset DIV budget, i.e. a document begins a new shard when the
    * running total crosses the budget (greedy contiguous packing, the
    * layout step before tokenize-and-concat in a training pipeline).
    *
    * The running total is a two-level distributed prefix sum, NOT a
    * global single-partition window: (1) a per-bucket cumulative sum
    * windowed by `doc_id DIV 4096` — parallel across buckets; (2) bucket
    * totals (one row per 4096 docs — 100 TB ⇒ ~10⁶ rows) prefix-summed
    * in one tiny task and broadcast back. */
  def packShards(docs: DataFrame, budget: Long,
      bucketSize: Long = 4096L): DataFrame = {
    val bucketed = docs.withColumn("bucket", expr(s"doc_id DIV $bucketSize"))
    val local = bucketed.withColumn("local_cum",
      sum("n_tokens").over(Window.partitionBy("bucket").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val offsets = bucketed.groupBy("bucket")
      .agg(sum("n_tokens").as("btot"))
      .withColumn("offset",
        coalesce(sum("btot").over(Window.orderBy("bucket")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("bucket", "offset")
    local.join(broadcast(offsets), "bucket")
      .withColumn("cum_tokens", col("local_cum") + col("offset"))
      .select(col("doc_id"), col("n_tokens"), col("cum_tokens"),
        expr(s"(cum_tokens - n_tokens) DIV $budget").as("shard_id"))
  }

  val d17 = Q("d17_pack_shards",
    """WITH d AS (
      |  SELECT doc_id,
      |    len(string_split_regex(trim(text), '\s+')) AS n_tokens
      |  FROM documents
      |)
      |SELECT doc_id, n_tokens,
      |  CAST(sum(n_tokens) OVER (ORDER BY doc_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |    AS cum_tokens,
      |  CAST((sum(n_tokens) OVER (ORDER BY doc_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens) // 2000
      |    AS BIGINT) AS shard_id
      |FROM d ORDER BY doc_id""".stripMargin) { (s, dir) =>
    packShards(
      T.documents(s, dir).select(col("doc_id"),
        size(toks(col("text"))).cast("long").as("n_tokens")),
      budget = 2000L)
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------- d18

  /** Blocklisted terms for the scrub demo. The synthetic corpus is word
    * salad with no real PII (zero digit characters), so a term blocklist
    * stands in for the email/phone/SSN regex set — the pipeline shape
    * (tokenize → match → redact → count) is identical; swapping the
    * membership test for `rlike` patterns changes one expression. */
  val Blocklist: Seq[String] = Seq("customer", "vector", "stream")

  /** Scrub blocklisted tokens to a redaction marker and count them.
    * Pure per-row column program — no shuffle, whole-stage codegen;
    * the rebuild goes through the same tokenizer as every other text
    * operator so redaction is exact, not regex-boundary-dependent. */
  def scrub(docs: DataFrame, terms: Seq[String]): DataFrame = {
    docs.select(col("doc_id"),
      size(filter(toks(col("text")),
        t => t.isin(terms.map(lit(_)): _*))).as("n_redacted"),
      array_join(transform(toks(col("text")),
        t => when(t.isin(terms.map(lit(_)): _*), "[REDACTED]").otherwise(t)),
        " ").as("scrubbed"))
  }

  val d18 = Q("d18_blocklist_scrub",
    s"""SELECT doc_id,
       |  len(list_filter(string_split_regex(trim(text), '\\s+'),
       |    t -> t IN (${Blocklist.map(t => s"'$t'").mkString(", ")})))
       |    AS n_redacted,
       |  array_to_string(list_transform(string_split_regex(trim(text), '\\s+'),
       |    t -> CASE WHEN t IN (${Blocklist.map(t => s"'$t'").mkString(", ")})
       |         THEN '[REDACTED]' ELSE t END), ' ') AS scrubbed
       |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
    scrub(T.documents(s, dir), Blocklist).orderBy("doc_id")
  }

  // ---------------------------------------------------------------- d19

  /** Word bigrams ("a b") of a token array; empty for <2 tokens. */
  private def bigramsOf(t: Column): Column =
    when(size(t) >= 2,
      transform(sequence(lit(0), size(t) - 2),
        i => concat_ws(" ", element_at(t, i + 1), element_at(t, i + 2))))
      .otherwise(array().cast("array<string>"))

  /** DuckDB mirror of `bigramsOf` over the shared tokenizer: CTE
    * producing (doc_id, b) with b a bigram LIST (duplicates kept). */
  private val bigramCte: String =
    """WITH toks AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
      |  FROM documents
      |), bg AS (
      |  SELECT doc_id,
      |    CASE WHEN len(w) >= 2 THEN
      |      [w[i] || ' ' || w[i+1] for i in range(1, len(w))]
      |    ELSE [] END AS b
      |  FROM toks
      |)""".stripMargin

  /** CCNet-style n-gram LM quality filter, integer-exact. Builds a
    * bigram count table from a reference corpus, then scores every
    * candidate document by joining its bigram OCCURRENCES (duplicates
    * kept — each occurrence is scored, as an LM would) against the
    * table: `n_oov` occurrences of unseen bigrams, `hit_mass` the summed
    * reference counts of seen ones (the monotone integer analogue of the
    * log-prob sum — ranking by it orders docs like in-domain
    * probability, with no float column to flake the hash gate).
    * `lm_ok` keeps docs with ≥80% in-vocabulary bigram occurrences.
    *
    * Scale: the count table is the LM — reference corpora are curated
    * and bounded (CCNet's Wikipedia LM ~10⁸ n-grams), so it broadcasts;
    * above that, prune hapax n-grams / top-K by count first (one cheap
    * aggregate) or fall back to a shuffle join keyed by the bigram —
    * the operator shape is unchanged. The candidate side never shuffles:
    * explode → broadcast-join → partial-agg groupBy(doc_id) keeps every
    * wide row local to its scan partition. */
  def lmScore(corpus: DataFrame, reference: DataFrame): DataFrame = {
    val counts = reference
      .select(explode(col("bg")).as("g"))
      .groupBy("g").agg(count(lit(1)).as("cnt"))
    val scored = corpus
      .select(col("doc_id"), explode(col("bg")).as("g"))
      .join(broadcast(counts), Seq("g"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        count(when(col("cnt").isNull, 1)).as("n_oov"),
        sum(coalesce(col("cnt"), lit(0L))).as("hit_mass"))
    corpus.select("doc_id").join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("n_oov"), lit(0L)).as("n_oov"),
        coalesce(col("hit_mass"), lit(0L)).as("hit_mass"),
        (coalesce(col("n_oov"), lit(0L)) * 5 <=
          coalesce(col("n_bigrams"), lit(0L))).as("lm_ok"))
  }

  /** LM filter with doc_id ≡ 0 mod 13 standing in for the curated
    * reference corpus (scored docs are the rest). */
  val d19 = Q("d19_lm_quality",
    s"""$bigramCte,
       |refc AS (
       |  SELECT g, count(*) AS cnt
       |  FROM (SELECT unnest(b) AS g FROM bg WHERE doc_id % 13 = 0)
       |  GROUP BY g
       |),
       |occ AS (
       |  SELECT doc_id, unnest(b) AS g FROM bg WHERE doc_id % 13 <> 0
       |),
       |sc AS (
       |  SELECT o.doc_id, count(*) AS n_bigrams,
       |    count(*) FILTER (WHERE r.cnt IS NULL) AS n_oov,
       |    coalesce(sum(r.cnt), 0) AS hit_mass
       |  FROM occ o LEFT JOIN refc r ON o.g = r.g GROUP BY o.doc_id
       |)
       |SELECT b.doc_id, coalesce(s.n_bigrams, 0) AS n_bigrams,
       |  coalesce(s.n_oov, 0) AS n_oov,
       |  CAST(coalesce(s.hit_mass, 0) AS BIGINT) AS hit_mass,
       |  coalesce(s.n_oov, 0) * 5 <= coalesce(s.n_bigrams, 0) AS lm_ok
       |FROM bg b LEFT JOIN sc s ON b.doc_id = s.doc_id
       |WHERE b.doc_id % 13 <> 0
       |ORDER BY b.doc_id""".stripMargin) { (s, dir) =>
    val base = Dedup.shingled(s, dir)
      .select(col("doc_id"), bigramsOf(col("toks")).as("bg"))
    lmScore(base.filter(col("doc_id") % 13 =!= 0),
        base.filter(col("doc_id") % 13 === 0))
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------- d20

  /** Gopher-style intra-document repetition signals, zero-shuffle. For
    * each document: total / distinct bigram counts and the occurrence
    * count of its MOST FREQUENT bigram, plus a `repetitive` flag (top
    * bigram covers ≥10% of all bigram occurrences — the duplicate-n-gram
    * fraction rule from deduplicated-LM data work).
    *
    * The per-row max-run scan is O(L log L) sort + one linear
    * `aggregate` pass over the sorted array — a pure column program
    * inside whole-stage codegen, no explode/groupBy shuffle, so at
    * 100 TB it rides the scan like every other TextOps signal. */
  def repetitionSignals(docs: DataFrame): DataFrame = {
    val bg = bigramsOf(split(trim(col("text")), "\\s+"))
    val sorted = array_sort(bg)
    val maxRun = aggregate(
      sorted,
      struct(lit("").as("prev"), lit(0L).as("run"), lit(0L).as("best")),
      (acc, x) => {
        val run = when(x === acc.getField("prev"),
          acc.getField("run") + 1L).otherwise(lit(1L))
        struct(x.as("prev"), run.as("run"),
          greatest(acc.getField("best"), run).as("best"))
      },
      acc => acc.getField("best"))
    docs.select(col("doc_id"),
      size(bg).cast("long").as("n_bigrams"),
      size(array_distinct(bg)).cast("long").as("n_distinct"),
      maxRun.as("max_count"),
      (maxRun * 10 >= size(bg).cast("long")).as("repetitive"))
  }

  val d20 = Q("d20_repetition_signals",
    s"""$bigramCte,
       |occ AS (SELECT doc_id, unnest(b) AS g FROM bg),
       |cnt AS (SELECT doc_id, g, count(*) AS c FROM occ GROUP BY doc_id, g),
       |agg AS (
       |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams,
       |    count(*) AS n_distinct, max(c) AS max_count
       |  FROM cnt GROUP BY doc_id
       |)
       |SELECT b.doc_id, coalesce(a.n_bigrams, 0) AS n_bigrams,
       |  coalesce(a.n_distinct, 0) AS n_distinct,
       |  coalesce(a.max_count, 0) AS max_count,
       |  coalesce(a.max_count, 0) * 10 >= coalesce(a.n_bigrams, 0)
       |    AS repetitive
       |FROM bg b LEFT JOIN agg a ON b.doc_id = a.doc_id
       |ORDER BY b.doc_id""".stripMargin) { (s, dir) =>
    repetitionSignals(T.documents(s, dir)).orderBy("doc_id")
  }

  // ---------------------------------------------------------------- d21

  /** Learned merge table for 12 merges over the corpus. Training is
    * iterative (no closed-form SQL), so the oracle is a TRANSCRIBED
    * FIXTURE of the gate corpus's merge table — derived by an
    * INDEPENDENT plain-Python BPE over the raw parquet (histogram →
    * argmax by (freq desc, pair asc) → left-to-right fold, 12 rounds),
    * not fed back from the engine: a training divergence in pair
    * counting, tie-breaking, the batch selection or the apply fold fails
    * the hash. CurationSpec additionally pins [[bpeTrain]] to a
    * plain-Scala sequential BPE on the same histogram for several batch
    * sizes. Valid for the sf0.01 gate corpus only (like the d26 prefix
    * and d27 merges). */
  val d21 = graft.Q("d21_bpe_merges",
    """SELECT CAST(merge_rank AS INT) AS merge_rank,
      |  "left", "right", CAST(freq AS BIGINT) AS freq
      |FROM (VALUES
      |  (1, 'e', 'r', 4568), (2, 'i', 'n', 2760), (3, 'o', 'w', 2747),
      |  (4, 'o', 'r', 2696), (5, 's', 't', 2676), (6, 'm', 'er', 1852),
      |  (7, 'a', 't', 1845), (8, 'l', 'u', 1831), (9, 'a', 'r', 1758),
      |  (10, 'p', 'ar', 1758), (11, 'j', 'o', 964), (12, 'jo', 'in', 964)
      |) t(merge_rank, "left", "right", freq)
      |ORDER BY merge_rank""".stripMargin) { (s, dir) =>
    import s.implicits._
    bpeTrain(T.documents(s, dir), 12)
      .toDF("merge_rank", "left", "right", "freq")
      .orderBy("merge_rank")
  }

  /** One left-to-right non-overlapping merge fold over a symbol array
    * column (the BPE apply step). */
  private def bpeApplyOne(syms: Column, a: String, b: String): Column =
    aggregate(syms,
      expr("CAST(array() AS array<string>)"),
      (acc, s) => when(
        size(acc) > 0 && element_at(acc, -1) === lit(a) && s === lit(b),
        concat(slice(acc, lit(1), size(acc) - 1), array(lit(a + b))))
        .otherwise(concat(acc, array(s))))

  /** Distributed BPE-merge training — the tokenizer-TRAINING step of a
    * data pipeline (d05 counts with a trained tokenizer's pre-split;
    * this learns the merge table itself). Classic BPE trains on the
    * DISTINCT-WORD HISTOGRAM, not raw text, so the working set is
    * vocabulary-sized and corpus-size-independent: a 100-TB corpus with
    * a 10⁷-word vocabulary trains on 10⁷ narrow rows.
    *
    * Sequential BPE takes, each round, the single most frequent adjacent
    * pair (word-frequency weighted; ties broken lexicographically, so
    * training is deterministic on any partitioning) and applies it as a
    * left-to-right non-overlapping fold. This trainer is bit-identical to
    * that but amortizes one Spark count job over up to `batchK` merges,
    * so a 30k-merge production vocabulary costs thousands of rounds, not
    * 30k. The apply step is a pure `aggregate` column program, no UDF.
    *
    * The batch is chosen so sequential equivalence is PROVABLE, not
    * heuristic: walk the (freq DESC, a, b) sorted pair list and select
    * a PREFIX that is pairwise symbol-disjoint, stopping at the first
    * pair sharing a symbol with the selection; then keep only selected
    * pairs whose freq is STRICTLY greater than the stop pair's (and
    * than the last fetched row's, when the fetch window filled).
    * Under that rule each later selected pair is still the exact
    * sequential argmax after the earlier ones apply:
    *  - a merge (a,b)→ab only destroys/creates pairs touching a, b or
    *    ab, so disjoint selected pairs keep their exact counts;
    *  - every unselected pair sits at/after the stop position, so its
    *    (only-decreasing) count stays strictly below every kept pair;
    *  - a created pair (x,ab) inherits count ≤ the old (x,a), itself
    *    unselected, so it is also strictly below.
    * When the strictness guard empties the batch (adjacent interacting
    * ties), the round degrades to the always-correct top-1. Per-round
    * driver state is ≤ fetchN narrow rows (the merge table IS driver
    * state, exactly like real tokenizer training).
    *
    * Returns the learned merge table: (merge_rank, left, right, freq). */
  def bpeTrain(docs: DataFrame, nMerges: Int,
      batchK: Int = 8): Seq[(Int, String, String, Long)] = {
    var words = docs
      .select(explode(toks(col("text"))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("n"))
      .select(expr("filter(split(w, ''), x -> x <> '')").as("syms"), col("n"))
      .localCheckpoint()
    // loop state: checkpointFresh, or plan-stats compound across rounds
    words = org.apache.spark.sql.GraftFreshStats.freshStats(words)
    val merges = Seq.newBuilder[(Int, String, String, Long)]
    var rank = 0
    var exhausted = false
    while (rank < nMerges && !exhausted) {
      val fetchN = batchK * 4 + 1
      val top = words
        .select(col("n"), posexplode(expr(
          // size guard: sequence(1, 0) would count DOWN and fabricate
          // null pairs for single-symbol words
          """CASE WHEN size(syms) >= 2 THEN
               transform(sequence(1, size(syms) - 1),
                 i -> struct(syms[i-1] AS a, syms[i] AS b))
             ELSE CAST(array() AS array<struct<a:string,b:string>>) END"""))
          .as(Seq("i", "p")))
        .groupBy(col("p.a"), col("p.b")).agg(sum("n").as("freq"))
        .orderBy(col("freq").desc, col("a"), col("b"))
        .limit(fetchN).collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      if (top.isEmpty) exhausted = true
      else {
        val selected = scala.collection.mutable.ArrayBuffer[(String, String, Long)]()
        val symbols = scala.collection.mutable.Set[String]()
        var stopFreq = // unseen rows beyond a full fetch window can tie
          if (top.length == fetchN) top.last._3 else -1L
        var i = 0
        var stopped = false
        while (!stopped && i < top.length && selected.size < batchK) {
          val (a, b, f) = top(i)
          if (symbols.contains(a) || symbols.contains(b)) {
            stopFreq = math.max(stopFreq, f); stopped = true
          } else {
            selected += ((a, b, f)); symbols += a; symbols += b
          }
          i += 1
        }
        // If the walk ended because the batch filled (not at an
        // interacting pair), the first unexamined in-window row was never
        // folded into stopFreq — but it can share a symbol with a kept
        // pair, and an earlier kept merge can spawn a pair at its exact
        // frequency that sorts before a later kept pair. Dominate it too.
        if (!stopped && i < top.length)
          stopFreq = math.max(stopFreq, top(i)._3)
        val kept = selected.takeWhile(_._3 > stopFreq)
        val batch = (if (kept.nonEmpty) kept.toSeq else Seq(top.head))
          .take(nMerges - rank)
        batch.foreach { case (a, b, f) =>
          rank += 1
          merges += ((rank, a, b, f))
        }
        // apply in rank order as chained folds — one Spark job, exact
        // sequential apply semantics
        val newSyms = batch.foldLeft(col("syms")) { case (c, (a, b, _)) =>
          bpeApplyOne(c, a, b)
        }
        val prev = words
        words = checkpointFresh(words.select(newSyms.as("syms"), col("n")))
        unpersistCheckpoints(prev) // superseded round: release its blocks
      }
    }
    unpersistCheckpoints(words) // result is the driver-side merge table
    merges.result()
  }

  /** ENCODE with a trained merge table: fold the merges in rank order
    * over each word's symbol array — the exact sequential BPE apply,
    * expressed as |merges| chained columnar transforms (bpeApplyOne),
    * whole-stage codegen, NO per-row UDF. The per-document trained
    * token count is the sum of final symbol-array sizes over its words.
    *
    * Scale shape: pure map-side column program over the documents scan
    * (one groupBy(doc_id) only because the tokenizer explodes words);
    * the merge table is a driver-side constant folded into the plan —
    * a 30k-merge production vocabulary would instead broadcast a
    * rank-keyed map and encode per partition (same output; the fold
    * form is exact and optimizer-friendly at spec-scale vocabularies). */
  def bpeEncode(docs: DataFrame,
      merges: Seq[(Int, String, String, Long)]): DataFrame = {
    val syms0 = expr("filter(split(w, ''), x -> x <> '')")
    val encoded = merges.sortBy(_._1).foldLeft(syms0) {
      case (c, (_, a, b, _)) => bpeApplyOne(c, a, b)
    }
    docs.select(col("doc_id"), explode(toks(col("text"))).as("w"))
      .select(col("doc_id"), size(encoded).as("n"))
      .groupBy("doc_id")
      .agg(sum("n").as("n_bpe_tokens_trained"),
        count(lit(1)).as("n_words"))
  }

  /** The merge table `bpeTrain(nMerges = 8)` deterministically
    * learns on the sf0.01 gate corpus — a transcribed fixture (like the
    * d26 permutation masks), NOT fed back from the engine at run time.
    * Valid only for the gate corpus the driver verifies against; a
    * training divergence there shifts every count and fails the hash. */
  private val gateMerges8: Seq[(String, String)] = Seq(
    "e" -> "r", "i" -> "n", "o" -> "w", "o" -> "r",
    "s" -> "t", "m" -> "er", "a" -> "t", "l" -> "u")

  /** Trained-BPE token counts over the corpus, encoded with the d21
    * merge table (8 merges at gate scale) — oracle-exact: the DuckDB
    * mirror replays the ENCODE as 8 chained left-to-right
    * non-overlapping string replaces over separator-joined symbol
    * strings (single-pass `replace` has exactly the fold's
    * earliest-match non-overlap semantics; token count = separators+1),
    * using the committed [[gateMerges8]] fixture. Training itself stays
    * iterative/engine-side (d21 checks its merge table); CurationSpec
    * pins training and encode against a plain-Scala sequential
    * reference. */
  val d27 = Q("d27_bpe_encode", {
    val symExpr = gateMerges8.foldLeft(
      "array_to_string(string_split(w, ''), chr(31))") {
      case (e, (a, b)) => s"replace($e, '$a'||chr(31)||'$b', '$a$b')"
    }
    s"""WITH wt AS (
       |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS w
       |  FROM documents),
       |enc AS (SELECT doc_id, $symExpr AS s FROM wt)
       |SELECT doc_id,
       |  CAST(sum(length(s) - length(replace(s, chr(31), '')) + 1) AS BIGINT)
       |    AS n_bpe_tokens_trained,
       |  CAST(count(*) AS BIGINT) AS n_words
       |FROM enc GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }) { (s, dir) =>
    val merges = bpeTrain(T.documents(s, dir), nMerges = 8)
    bpeEncode(T.documents(s, dir), merges).orderBy("doc_id")
  }

  // ---------------------------------------------------------------- d22

  /** Exact duplicate-passage removal (the ExactSubstr shape of Lee et
    * al. 2021, "Deduplicating Training Data Makes Language Models
    * Better", at word-n-gram granularity): every occurrence of a word
    * n-gram that appears MORE THAN ONCE across the corpus — including
    * self-repeats within one document — is removed except the canonical
    * first occurrence (min (doc_id, position)); removal spans [i, i+n)
    * union per document and the surviving tokens are reassembled in
    * order. Unlike d10–d14 (whole-document dedup) this deduplicates
    * passages WITHIN documents across the corpus — the boilerplate-
    * removal step of a crawl pipeline.
    *
    * Scale shape: the corpus explodes to narrow (gram, doc, pos) rows
    * once; duplicate marking is a single row_number window PARTITIONED
    * BY GRAM (key-partitioned shuffle, no global sort, the canonical
    * pick needs no join-back — rn > 1 IS the removal set); span union +
    * text rebuild are per-document programs (one groupBy(doc_id) of the
    * removal rows only — duplicated positions, typically a small
    * fraction of the corpus — then a column-program filter over the
    * token array; per-token membership probes cost O(covered) per doc,
    * bounded by doc length). Nothing collects to the driver; suffix
    * arrays (the paper's single-machine structure) are replaced by the
    * window, which is the same duplicate census distributed. */
  def passageDedup(docs: DataFrame, n: Int = 10): DataFrame = {
    val withToks = docs.select(col("doc_id"), toks(col("text")).as("t"))
    val grams = withToks.select(col("doc_id"),
      posexplode(when(size(col("t")) >= n,
          transform(sequence(lit(0), size(col("t")) - n),
            i => concat_ws(" ", slice(col("t"), i + 1, lit(n)))))
        .otherwise(array().cast("array<string>"))).as(Seq("i", "g")))
    val w = Window.partitionBy("g").orderBy("doc_id", "i")
    val removals = grams.withColumn("rn", row_number().over(w))
      .filter(col("rn") > 1)
    val covered = removals
      .select(col("doc_id"),
        explode(sequence(col("i"), col("i") + (n - 1))).as("p"))
      .groupBy("doc_id").agg(collect_set("p").as("cov"))
    withToks.join(covered, Seq("doc_id"), "left")
      .select(col("doc_id"),
        concat_ws(" ", filter(col("t"),
          (x, i) => coalesce(!array_contains(col("cov"), i), lit(true))))
          .as("text"),
        coalesce(size(col("cov")), lit(0)).cast("long").as("n_dropped"))
      .orderBy("doc_id")
  }

  val d22 = Q("d22_passage_dedup",
    """WITH toks AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
      |  FROM documents
      |), occ AS (
      |  SELECT doc_id, unnest(CASE WHEN len(w) >= 10 THEN
      |      [struct_pack(i := i - 1, g := array_to_string(w[i:i+9], ' '))
      |       for i in range(1, len(w) - 8)]
      |    ELSE [] END) AS x
      |  FROM toks
      |), rem AS (
      |  SELECT doc_id, i FROM (
      |    SELECT doc_id, x.i AS i,
      |      row_number() OVER (PARTITION BY x.g ORDER BY doc_id, x.i) AS rn
      |    FROM occ) WHERE rn > 1
      |), cov AS (
      |  SELECT DISTINCT doc_id, i + o AS p
      |  FROM rem, unnest(generate_series(0, 9)) AS u(o)
      |), tokpos AS (
      |  SELECT doc_id, unnest(w) AS tok,
      |    unnest(generate_series(0, len(w) - 1)) AS p
      |  FROM toks
      |)
      |SELECT t.doc_id,
      |  coalesce(string_agg(t.tok, ' ' ORDER BY t.p)
      |    FILTER (WHERE c.p IS NULL), '') AS text,
      |  CAST(count(c.p) AS BIGINT) AS n_dropped
      |FROM tokpos t LEFT JOIN cov c ON t.doc_id = c.doc_id AND t.p = c.p
      |GROUP BY t.doc_id
      |ORDER BY t.doc_id""".stripMargin) { (s, dir) =>
    passageDedup(T.documents(s, dir))
  }

  // ---------------------------------------------------------------- d23

  /** Per-source mixture weights in thousandths (source → ‰ of the global
    * token budget). The four weight tiers stand in for the classic
    * training-mix shape (a few heavy sources, a long cheap tail). */
  val MixtureWeights: Seq[(String, Int)] =
    (0 until 20).map(i => s"src$i" ->
      (if (i < 5) 100 else if (i < 10) 50 else if (i < 15) 30 else 20))

  /** The d16 LCG as a full 32-bit priority (not reduced to ‰): the
    * deterministic shuffle key mixture sampling orders each source by. */
  private val lcgPriority = expr(
    """(((doc_id & 65535) * 2654435761)
      |  + ((((doc_id >> 16) & 65535) * 2654435761) & 65535) * 65536
      |  + 1013904223) & 4294967295""".stripMargin)

  /** Source-weighted mixture sampling under a GLOBAL token budget: each
    * source gets budget·weight‰ tokens; its documents are laid out in
    * deterministic-hash order (the d16 LCG — reproducible across reruns
    * and engines, no RNG state) and taken greedily while the source's
    * running token total stays within its target. The production
    * "sample a training mix from N sources at fixed proportions" step,
    * composed from the d16 deterministic-shuffle idea and the d17
    * two-level prefix sum.
    *
    * Scale shape: the running total per source is the d17 two-level
    * scan, never one window partition per source (a source IS a skew
    * key — one window partition per source would put a whole crawl
    * dump in one task): priorities range-bucket by their high bits, the
    * per-(source, bucket) cumsum is parallel, and the (source, bucket)
    * offset table (|sources|·256 rows at any corpus size) broadcasts
    * back. Output carries the source-cumulative token count so the cut
    * is auditable. */
  def mixtureSample(docs: DataFrame, weights: Seq[(String, Int)],
      budgetTokens: Long): DataFrame = {
    val target = weights.foldLeft(lit(0L)) { case (acc, (src, w)) =>
      when(col("source") === src, lit(budgetTokens * w / 1000)).otherwise(acc)
    }
    val withPr = docs.withColumn("priority", lcgPriority)
      .withColumn("hbucket", expr("priority DIV 16777216"))
    val local = withPr.withColumn("local_cum",
      sum("n_tokens").over(Window.partitionBy("source", "hbucket")
        .orderBy("priority", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val offsets = withPr.groupBy("source", "hbucket")
      .agg(sum("n_tokens").as("btot"))
      .withColumn("offset",
        coalesce(sum("btot").over(Window.partitionBy("source")
          .orderBy("hbucket").rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
      .select("source", "hbucket", "offset")
    local.join(broadcast(offsets), Seq("source", "hbucket"))
      .withColumn("cum_src_tokens", col("local_cum") + col("offset"))
      .filter(col("cum_src_tokens") <= target)
      .select(col("doc_id"), col("source"), col("n_tokens"),
        col("cum_src_tokens").cast("long").as("cum_src_tokens"))
  }

  private def mixtureCaseSql: String =
    s"CASE source ${MixtureWeights.map { case (s, w) =>
      s"WHEN '$s' THEN ${2000L * w / 1000}" }.mkString(" ")} ELSE 0 END"

  val d23 = Q("d23_mixture_sample",
    s"""WITH d AS (
       |  SELECT doc_id, source,
       |    CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT)
       |      AS n_tokens,
       |    (((doc_id & 65535) * 2654435761)
       |      + ((((doc_id >> 16) & 65535) * 2654435761) & 65535) * 65536
       |      + 1013904223) & 4294967295 AS priority
       |  FROM documents
       |), c AS (
       |  SELECT doc_id, source, n_tokens,
       |    CAST(sum(n_tokens) OVER (PARTITION BY source
       |      ORDER BY priority, doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |      AS cum_src_tokens
       |  FROM d
       |)
       |SELECT doc_id, source, n_tokens, cum_src_tokens
       |FROM c WHERE cum_src_tokens <= $mixtureCaseSql
       |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    mixtureSample(
      T.documents(s, dir).select(col("doc_id"), col("source"),
        size(toks(col("text"))).cast("long").as("n_tokens")),
      MixtureWeights, budgetTokens = 2000L)
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------- d24

  /** URL canonicalization for dedup keys: lowercase, strip scheme,
    * leading www., explicit port, query string, fragment, and trailing
    * slashes — the standard crawl-dedup normalization (two fetches of
    * the same page under http/https/www/utm variants get one key).
    * Pure column program: zero shuffle, whole-stage codegen. */
  def canonicalUrl(u: Column): Column = {
    val x0 = lower(trim(u))
    val x1 = regexp_replace(x0, "^[a-z][a-z0-9+.-]*://", "")
    val x2 = regexp_replace(x1, "^www\\.", "")
    val x3 = regexp_replace(x2, "#.*$", "")
    val x4 = regexp_replace(x3, "\\?.*$", "")
    val x5 = regexp_replace(x4, "^([^/:]+):[0-9]+", "$1")
    regexp_replace(x5, "/+$", "")
  }

  /** Host component of a canonical URL key. */
  def urlHost(key: Column): Column = regexp_extract(key, "^([^/]+)", 1)

  /** URL-level dedup verdicts: canonicalize, group by key, first-seen
    * (min doc_id) is canonical — the crawl twin of the s04 exact-text
    * dedup, keyed on where the document came FROM rather than what it
    * says. The per-key window shuffles only (doc_id, key) — bodies
    * never move — and the same keys feed Dedup.dupClusters when URL
    * and content pair graphs are combined. */
  def urlDedup(docs: DataFrame, urlCol: Column): DataFrame = {
    val keyed = docs.select(col("doc_id"), canonicalUrl(urlCol).as("url_key"))
    val w = Window.partitionBy("url_key")
    keyed.select(col("doc_id"), urlHost(col("url_key")).as("host"),
        col("url_key"),
        min("doc_id").over(w).as("canonical_id"))
      .withColumn("is_dup", col("doc_id") =!= col("canonical_id"))
  }

  /** Deterministic URL fixture over the documents table: consecutive id
    * pairs share a page, and the two members render it under different
    * scheme/www/port/query/slash conventions — so the EQUALITY is
    * created by the canonicalizer, not by string identity. */
  private def fixtureUrl: Column = {
    val host = concat(lit("h"), expr("doc_id DIV 2").cast("string"),
      lit(".example.com"))
    when(col("doc_id") % 2 === 0,
        concat(lit("https://www."), host, lit("/a/b?utm_source=feed#top")))
      .otherwise(concat(lit("HTTP://"), upper(host), lit(":80/a/b/")))
  }

  val d24 = Q("d24_url_dedup",
    """WITH u AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 2 = 0 THEN
      |      concat('https://www.h', doc_id // 2, '.example.com/a/b?utm_source=feed#top')
      |    ELSE
      |      concat('HTTP://', upper(concat('h', doc_id // 2, '.example.com')), ':80/a/b/')
      |    END AS url
      |  FROM documents
      |), k AS (
      |  SELECT doc_id,
      |    regexp_replace(regexp_replace(regexp_replace(regexp_replace(
      |      regexp_replace(regexp_replace(lower(trim(url)),
      |        '^[a-z][a-z0-9+.-]*://', ''),
      |        '^www\.', ''),
      |        '#.*$', ''),
      |        '\?.*$', ''),
      |        '^([^/:]+):[0-9]+', '\1'),
      |        '/+$', '') AS url_key
      |  FROM u
      |)
      |SELECT doc_id, regexp_extract(url_key, '^([^/]+)', 1) AS host,
      |  url_key,
      |  min(doc_id) OVER (PARTITION BY url_key) AS canonical_id,
      |  doc_id <> min(doc_id) OVER (PARTITION BY url_key) AS is_dup
      |FROM k ORDER BY doc_id""".stripMargin) { (s, dir) =>
    urlDedup(T.documents(s, dir), fixtureUrl).orderBy("doc_id")
  }

  // ---------------------------------------------------------------- d28

  /** Deterministic global shuffle + shard assignment — the training-data
    * ORDERING step: every document gets a pseudo-random but fully
    * reproducible position (the d16 LCG as sort key, doc_id tie-break),
    * and fixed-size shards are cut from that order. No RNG state, so the
    * same corpus always shards identically on any engine — resumable
    * data loading depends on exactly this property.
    *
    * Scale shape: the global position is NOT one row_number window over
    * the corpus (a single-partition sort). Priorities range-bucket by
    * their high 8 bits; ranks are computed per bucket in parallel, and
    * the 256-row bucket-count table is prefix-summed and broadcast back
    * — the d17 two-level scan applied to ranking instead of token sums.
    * (A cluster deployment would raise the bucket count with corpus
    * size; the bucket key is the TOP bits of the sort key, so bucket
    * order == priority order and offsets compose.) */
  def shuffleShards(docs: DataFrame, docsPerShard: Long): DataFrame = {
    val withPr = docs.select(col("doc_id")).withColumn("priority", lcgPriority)
      .withColumn("hbucket", expr("priority DIV 16777216"))
    val local = withPr.withColumn("local_rank",
      row_number().over(Window.partitionBy("hbucket")
        .orderBy("priority", "doc_id")).cast("long"))
    val offsets = withPr.groupBy("hbucket")
      .agg(count(lit(1)).as("bn"))
      .withColumn("offset",
        coalesce(sum("bn").over(Window.orderBy("hbucket")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("hbucket", "offset")
    local.join(broadcast(offsets), "hbucket")
      .withColumn("pos", col("offset") + col("local_rank") - 1L)
      .select(col("doc_id"), col("priority"), col("pos"),
        expr(s"pos DIV $docsPerShard").as("shard_id"))
  }

  val d28 = Q("d28_shuffle_shards",
    """WITH d AS (
      |  SELECT doc_id, (((doc_id & 65535) * 2654435761)
      |    + ((((doc_id >> 16) & 65535) * 2654435761) & 65535) * 65536
      |    + 1013904223) & 4294967295 AS priority
      |  FROM documents
      |)
      |SELECT doc_id, priority,
      |  row_number() OVER (ORDER BY priority, doc_id) - 1 AS pos,
      |  (row_number() OVER (ORDER BY priority, doc_id) - 1) // 64 AS shard_id
      |FROM d ORDER BY doc_id""".stripMargin) { (s, dir) =>
    shuffleShards(T.documents(s, dir), docsPerShard = 64L).orderBy("doc_id")
  }

  // ---------------------------------------------------------------- d29

  /** Cross-source overlap matrix: for every source pair, how many
    * distinct 3-shingles they share — the corpus-composition diagnostic
    * run before mixing crawl dumps (a high-overlap pair means one dump
    * mirrors another and the mixture weights double-count it).
    *
    * Scale shape: shingles reduce to 8-byte hashes before any shuffle
    * (the d15 precedent — intersection-by-hash equals intersection-by-
    * string barring xxhash64 collisions); the distinct (source, hash)
    * frame groups BY HASH with collect_set(source) — bounded by the
    * source count, never by corpus size — and pair counts come off the
    * exploded combination list. The |sources|² matrix join is a
    * broadcast of two tiny aggregates. */
  def sourceOverlap(shingledDocs: DataFrame, srcOf: DataFrame): DataFrame = {
    val sg = shingledDocs
      .select(col("doc_id"),
        explode(expr("transform(sh, x -> xxhash64(x))")).as("g"))
      .join(srcOf, "doc_id")
      .select("source", "g").distinct()
    val sizes = sg.groupBy("source").agg(count(lit(1)).as("n"))
    val pairs = sg.groupBy("g")
      .agg(sort_array(collect_set(col("source"))).as("ss"))
      .filter(size(col("ss")) > 1)
      .select(explode(expr(
        """flatten(transform(ss, a ->
             transform(filter(ss, b -> b > a), b -> struct(a, b))))""")).as("p"))
      .groupBy(col("p.a").as("source_a"), col("p.b").as("source_b"))
      .agg(count(lit(1)).as("inter"))
    val sa = sizes.select(col("source").as("source_a"), col("n").as("n_a"))
    val sb = sizes.select(col("source").as("source_b"), col("n").as("n_b"))
    sa.crossJoin(sb).filter(col("source_a") < col("source_b"))
      .join(pairs, Seq("source_a", "source_b"), "left")
      .select(col("source_a"), col("source_b"),
        coalesce(col("inter"), lit(0L)).as("inter"), col("n_a"), col("n_b"))
  }

  val d29 = Q("d29_source_overlap",
    s"""${Dedup.shingleCte},
       |sg AS (
       |  SELECT DISTINCT d.source, x.g
       |  FROM (SELECT doc_id, unnest(s) AS g FROM sh) x
       |  JOIN documents d ON x.doc_id = d.doc_id
       |), sizes AS (SELECT source, count(*) AS n FROM sg GROUP BY source),
       |ov AS (
       |  SELECT a.source AS source_a, b.source AS source_b, count(*) AS inter
       |  FROM sg a JOIN sg b ON a.g = b.g AND a.source < b.source
       |  GROUP BY 1, 2
       |)
       |SELECT sa.source AS source_a, sb.source AS source_b,
       |  coalesce(ov.inter, 0) AS inter, sa.n AS n_a, sb.n AS n_b
       |FROM sizes sa JOIN sizes sb ON sa.source < sb.source
       |LEFT JOIN ov ON ov.source_a = sa.source AND ov.source_b = sb.source
       |ORDER BY source_a, source_b""".stripMargin) { (s, dir) =>
    sourceOverlap(Dedup.shingled(s, dir),
        T.documents(s, dir).select("doc_id", "source"))
      .orderBy("source_a", "source_b")
  }

  // ---------------------------------------------------------------- d30

  /** The END-TO-END curation pipeline in one call — the composition a
    * production run actually executes, chained from this family's own
    * operators: scrub (d18 blocklist) → token-count quality gate →
    * benchmark decontamination on the SCRUBBED text (d15, bench slice
    * leaves the corpus) → exact dedup on scrubbed text (d10 shape,
    * min-doc_id keeper) → stratified language sampling (d16 rates) →
    * token-budget shard packing (d17) over the survivors. Every stage is
    * the already-verified operator, so the pipeline's cost is the sum of
    * its parts and each intermediate could be a silver table; the one
    * cross-stage subtlety is that dedup/decontamination run on the text
    * AFTER redaction (two docs differing only in redacted terms ARE
    * duplicates downstream).
    *
    * The shingle build is checkpointed before fan-out for the same
    * reason as Dedup.shingled: the decontaminate explode would otherwise
    * inline the tokenizer once per shingle slot. */
  def curationPipeline(s: SparkSession, dir: String): DataFrame = {
    val docs = T.documents(s, dir)
    val scrubbed = docs.select(col("doc_id"), col("lang"), col("source"))
      .join(scrub(docs, Blocklist).select("doc_id", "scrubbed"), "doc_id")
    val toksc = split(trim(col("scrubbed")), "\\s+")
    val gated = scrubbed
      .withColumn("toks", toksc)
      .withColumn("n_tokens", size(col("toks")).cast("long"))
      .filter(col("n_tokens").between(20, 1000))
    val withSh = gated
      .withColumn("sh", array_distinct(
        when(size(col("toks")) >= 3,
          transform(sequence(lit(0), size(col("toks")) - 3),
            i => concat_ws(" ", element_at(col("toks"), i + 1),
              element_at(col("toks"), i + 2), element_at(col("toks"), i + 3))))
          .otherwise(array(trim(col("scrubbed"))))))
      .drop("toks")
      .localCheckpoint()
    val corpus = withSh.filter(col("doc_id") % 17 =!= 0)
    val bench = withSh.filter(col("doc_id") % 17 === 0)
    val cleanIds = decontaminate(corpus.select("doc_id", "sh"),
        bench.select("sh"))
      .filter(!col("contaminated")).select("doc_id")
    val clean = corpus.join(cleanIds, "doc_id")
    val keyW = Window.partitionBy(md5(col("scrubbed").cast("binary")))
    val deduped = clean
      .withColumn("keep", col("doc_id") === min("doc_id").over(keyW))
      .filter(col("keep"))
    val sampled = deduped.join(
      stratifiedSample(deduped, SampleRates).select("doc_id"), "doc_id")
    packShards(sampled.select("doc_id", "n_tokens"), budget = 2000L)
      .join(sampled.select("doc_id", "lang", "source"), "doc_id")
      .select("doc_id", "lang", "source", "n_tokens", "cum_tokens", "shard_id")
  }

  private def blocklistInSql: String =
    Blocklist.map(t => s"'$t'").mkString(", ")

  val d30 = Q("d30_curation_pipeline",
    s"""WITH scr AS (
       |  SELECT doc_id, lang, source,
       |    array_to_string(list_transform(string_split_regex(trim(text), '\\s+'),
       |      t -> CASE WHEN t IN ($blocklistInSql)
       |           THEN '[REDACTED]' ELSE t END), ' ') AS text2
       |  FROM documents
       |), tok AS (
       |  SELECT doc_id, lang, source,
       |    string_split_regex(trim(text2), '\\s+') AS w, trim(text2) AS tt
       |  FROM scr
       |), gated AS (
       |  SELECT *, CAST(len(w) AS BIGINT) AS n_tokens
       |  FROM tok WHERE len(w) BETWEEN 20 AND 1000
       |), sh2 AS (
       |  SELECT doc_id, lang, source, n_tokens,
       |    CASE WHEN len(w) >= 3 THEN
       |      list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
       |                     for i in range(1, len(w) - 1)])
       |    ELSE [tt] END AS s
       |  FROM gated
       |), bench AS (
       |  SELECT DISTINCT unnest(s) AS g FROM sh2 WHERE doc_id % 17 = 0
       |), corp AS (
       |  SELECT * FROM sh2 WHERE doc_id % 17 <> 0
       |), hits AS (
       |  SELECT c.doc_id, count(*) AS n_shared
       |  FROM (SELECT doc_id, unnest(s) AS g FROM corp) c
       |  JOIN bench b ON c.g = b.g GROUP BY c.doc_id
       |), clean AS (
       |  SELECT corp.* FROM corp LEFT JOIN hits ON corp.doc_id = hits.doc_id
       |  WHERE NOT (len(s) > 0 AND coalesce(n_shared, 0) * 2 >= len(s))
       |), ded AS (
       |  SELECT c.* FROM clean c JOIN scr ON c.doc_id = scr.doc_id
       |  QUALIFY c.doc_id = min(c.doc_id) OVER (PARTITION BY md5(scr.text2))
       |), samp AS (
       |  SELECT * FROM ded
       |  WHERE ((((doc_id & 65535) * 2654435761)
       |    + ((((doc_id >> 16) & 65535) * 2654435761) & 65535) * 65536
       |    + 1013904223) & 4294967295) * 1000 // 4294967296
       |    < CASE lang ${SampleRates.map { case (l, r) =>
              s"WHEN '$l' THEN $r" }.mkString(" ")} ELSE 0 END
       |)
       |SELECT doc_id, lang, source, n_tokens,
       |  CAST(sum(n_tokens) OVER (ORDER BY doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |    AS cum_tokens,
       |  CAST((sum(n_tokens) OVER (ORDER BY doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens) // 2000
       |    AS BIGINT) AS shard_id
       |FROM samp ORDER BY doc_id""".stripMargin) { (s, dir) =>
    curationPipeline(s, dir).orderBy("doc_id")
  }

  // ---------------------------------------------------------------- d31

  /** Fixed-context sequence packing — the training-example step AFTER
    * d17's doc-granularity shard cut: concatenate all documents (doc_id
    * order) into one token stream and cut it into context windows of
    * exactly `contextLen` tokens, SPLITTING documents across window
    * boundaries (the GPT-style "concat and chunk"). One output row per
    * (document, window) span, carrying where the span starts inside the
    * document and inside the window — exactly what a data loader needs to
    * reconstruct attention-mask boundaries.
    *
    * Scale shape: global token offsets come from the d17 two-level prefix
    * sum (never a one-partition window); the span fan-out is a per-row
    * `sequence` explode of size n_tokens/contextLen + 1 — output-bound,
    * no shuffle beyond the prefix sum's. */
  def packSequences(docs: DataFrame, contextLen: Long): DataFrame = {
    packShards(docs, budget = contextLen)
      .withColumn("start", col("cum_tokens") - col("n_tokens"))
      .withColumn("window_id", explode(sequence(
        expr(s"start DIV $contextLen"),
        expr(s"(cum_tokens - 1) DIV $contextLen"))))
      .withColumn("ws", greatest(col("window_id") * contextLen, col("start")))
      .select(col("doc_id"), col("window_id"),
        (col("ws") - col("start")).as("doc_offset"),
        (col("ws") - col("window_id") * contextLen).as("window_offset"),
        (least((col("window_id") + 1) * contextLen, col("cum_tokens"))
          - col("ws")).as("n_toks"))
  }

  val d31 = Q("d31_pack_sequences",
    """WITH d AS (
      |  SELECT doc_id,
      |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n
      |  FROM documents
      |), c AS (
      |  SELECT doc_id, n,
      |    CAST(sum(n) OVER (ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      AS cum
      |  FROM d
      |), s AS (SELECT doc_id, n, cum, cum - n AS start FROM c)
      |SELECT doc_id, unnest(range(start // 512, (cum - 1) // 512 + 1))
      |    AS window_id,
      |  greatest(window_id * 512, start) - start AS doc_offset,
      |  greatest(window_id * 512, start) - window_id * 512 AS window_offset,
      |  least((window_id + 1) * 512, cum)
      |    - greatest(window_id * 512, start) AS n_toks
      |FROM s ORDER BY doc_id, window_id""".stripMargin) { (s, dir) =>
    packSequences(
      T.documents(s, dir).select(col("doc_id"),
        size(toks(col("text"))).cast("long").as("n_tokens")),
      contextLen = 512L)
      .orderBy("doc_id", "window_id")
  }

  // ---------------------------------------------------------------- d32

  /** Overlapping window chunking — the retrieval/embedding prep step:
    * each document's token sequence is cut into chunks of `width` tokens
    * starting every `stride` tokens (stride < width ⇒ overlap), chunk
    * text re-joined from the token slice. Unlike d31 this NEVER crosses
    * document boundaries and overlaps on purpose.
    *
    * Pure per-row fan-out: tokenize once, explode the stride grid,
    * `slice` each chunk out of the cached token array — zero shuffle,
    * output-bound, and the chunk count per doc is ceil(n/stride) so the
    * explode factor is corpus-tokens/stride regardless of skew. */
  def chunkDocs(docs: DataFrame, width: Int, stride: Int): DataFrame = {
    docs
      .withColumn("w", toks(col("text")))
      .withColumn("n", size(col("w")).cast("long"))
      .withColumn("chunk_id",
        explode(sequence(lit(0L), expr(s"(n - 1) DIV $stride"))))
      .withColumn("ck",
        slice(col("w"), (col("chunk_id") * stride + 1).cast("int"), lit(width)))
      .select(col("doc_id"), col("chunk_id"),
        size(col("ck")).cast("long").as("n_chunk_toks"),
        concat_ws(" ", col("ck")).as("chunk_text"))
  }

  val d32 = Q("d32_chunk_overlap",
    """WITH d AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
      |  FROM documents
      |), g AS (
      |  SELECT doc_id, w,
      |    unnest(range(0, (len(w) - 1) // 64 + 1)) AS chunk_id
      |  FROM d
      |), ck AS (
      |  SELECT doc_id, chunk_id,
      |    w[chunk_id * 64 + 1 : least(chunk_id * 64 + 128, len(w))] AS c
      |  FROM g
      |)
      |SELECT doc_id, chunk_id, CAST(len(c) AS BIGINT) AS n_chunk_toks,
      |  array_to_string(c, ' ') AS chunk_text
      |FROM ck ORDER BY doc_id, chunk_id""".stripMargin) { (s, dir) =>
    chunkDocs(T.documents(s, dir), width = 128, stride = 64)
      .orderBy("doc_id", "chunk_id")
  }

  // ---------------------------------------------------------------- d33

  /** Vocabulary census: top-k tokens per language by corpus frequency —
    * the tokenizer-training / stopword-discovery prerequisite, and the
    * canonical wordcount at 100 TB.
    *
    * Scale shape: the explode shuffles ONCE on (lang, tok) with map-side
    * partial counts (token frequency follows Zipf, so partial aggregation
    * collapses the head before the wire). The top-k itself is TWO-LEVEL:
    * a local top-k per (lang, token-hash bucket) — the global top-k is
    * always contained in the union of per-bucket top-ks — then the final
    * window ranks only ≤ k·buckets candidate rows per language, so no
    * single partition ever sees a language's full vocabulary (a
    * one-window-per-lang plan would put all of English on one task). */
  def vocabCensus(docs: DataFrame, k: Int, buckets: Int = 64): DataFrame = {
    val counts = docs
      .select(col("lang"), explode(toks(col("text"))).as("tok"))
      .groupBy("lang", "tok").agg(count(lit(1)).as("n"))
    val wLocal = Window
      .partitionBy(col("lang"), pmod(xxhash64(col("tok")), lit(buckets)))
      .orderBy(col("n").desc, col("tok"))
    val wGlobal = Window.partitionBy("lang")
      .orderBy(col("n").desc, col("tok"))
    counts
      .withColumn("lrk", row_number().over(wLocal)).filter(col("lrk") <= k)
      .withColumn("rk", row_number().over(wGlobal)).filter(col("rk") <= k)
      .select("lang", "rk", "tok", "n")
  }

  val d33 = Q("d33_vocab_census",
    """WITH t AS (
      |  SELECT lang, unnest(string_split_regex(trim(text), '\s+')) AS tok
      |  FROM documents
      |), c AS (
      |  SELECT lang, tok, count(*) AS n FROM t GROUP BY 1, 2
      |), r AS (
      |  SELECT lang, tok, n,
      |    row_number() OVER (PARTITION BY lang ORDER BY n DESC, tok) AS rk
      |  FROM c
      |)
      |SELECT lang, rk, tok, n FROM r WHERE rk <= 10
      |ORDER BY lang, rk""".stripMargin) { (s, dir) =>
    vocabCensus(T.documents(s, dir), k = 10).orderBy("lang", "rk")
  }

  // ---------------------------------------------------------------- d34

  /** Per-language corpus length profile — the composition dashboard run
    * before fixing mixture weights: doc/token counts, extremes, and EXACT
    * p50/p90/p99 token-count percentiles (R-7 linear interpolation, the
    * convention Spark's `percentile` and DuckDB's `quantile_cont` share).
    * Percentiles ship as round(p·1000) integers: the interpolation
    * fraction is a multiple of 0.01 over integer lengths, so p·1000 is an
    * exact multiple of 10 on both engines — integer-equal, no float
    * hashing hazard.
    *
    * Scale shape: one shuffle keyed by lang; Spark's exact percentile
    * aggregates a count-map per (lang, distinct length) — bounded by
    * distinct document LENGTHS (≤ a few 10⁵ even at web scale), not by
    * document count. */
  def lengthProfile(docs: DataFrame): DataFrame = {
    def pm(q: Double, name: String): Column =
      round(percentile(col("n"), lit(q)) * 1000).cast("long").as(name)
    docs
      .select(col("lang"),
        size(toks(col("text"))).cast("long").as("n"))
      .groupBy("lang")
      .agg(count(lit(1)).as("docs"), sum("n").as("toks"),
        min("n").as("min_toks"), max("n").as("max_toks"),
        pm(0.5, "p50_milli"), pm(0.9, "p90_milli"), pm(0.99, "p99_milli"))
  }

  val d34 = Q("d34_length_profile",
    """WITH d AS (
      |  SELECT lang,
      |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n
      |  FROM documents
      |)
      |SELECT lang, count(*) AS docs, CAST(sum(n) AS BIGINT) AS toks,
      |  min(n) AS min_toks, max(n) AS max_toks,
      |  CAST(round(quantile_cont(n, 0.5) * 1000) AS BIGINT) AS p50_milli,
      |  CAST(round(quantile_cont(n, 0.9) * 1000) AS BIGINT) AS p90_milli,
      |  CAST(round(quantile_cont(n, 0.99) * 1000) AS BIGINT) AS p99_milli
      |FROM d GROUP BY lang ORDER BY lang""".stripMargin) { (s, dir) =>
    lengthProfile(T.documents(s, dir)).orderBy("lang")
  }

  // ---------------------------------------------------------------- d36

  /** SPAN-LEVEL contamination report — the audit companion to d15's
    * filter: for every (corpus doc, benchmark doc) pair sharing 3-gram
    * shingles, WHERE the overlap sits (first/last matching shingle
    * position) and how long its longest CONSECUTIVE run is (the
    * verbatim-quote length signal reviewers act on — 40 scattered
    * matches and one 40-shingle block are different findings). Runs
    * come from the gaps-and-islands trick (pos − row_number per
    * (doc, bench) is constant within a consecutive run), so the whole
    * report is two hash aggregates over the matched positions — the
    * corpus side streams positional 8-byte hashes through the same
    * broadcast benchmark join as d15, nothing corpus-sized shuffles
    * beyond the matches themselves. */
  def contaminationSpans(corpus: DataFrame, bench: DataFrame): DataFrame = {
    val cpos = corpus.select(col("doc_id"),
      posexplode(when(size(col("toks")) >= 3,
        transform(sequence(lit(0), size(col("toks")) - 3),
          i => xxhash64(concat_ws(" ", element_at(col("toks"), i + 1),
            element_at(col("toks"), i + 2),
            element_at(col("toks"), i + 3)))))
        .otherwise(expr("CAST(array() AS array<bigint>)")))
        .as(Seq("pos", "g")))
    val bg = bench.select(col("doc_id").as("bench_id"),
      explode(expr("transform(sh, x -> xxhash64(x))")).as("g"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id", "bench_id").orderBy("pos")
    cpos.join(broadcast(bg), Seq("g"))
      .withColumn("island", col("pos") - row_number().over(w))
      .groupBy("doc_id", "bench_id", "island")
      .agg(count(lit(1)).as("rl"), min("pos").as("mn"), max("pos").as("mx"))
      .groupBy("doc_id", "bench_id")
      .agg(sum("rl").as("n_pos"),
        min("mn").as("first_pos"), max("mx").as("last_pos"),
        max("rl").as("max_run"))
  }

  /** CONTRACTED span report — d36's default registration (r14 verdict
    * item 2: the d13 recipe applied to the last listing-form default).
    * Exact-duplicate classes contract on BOTH sides of the pair space:
    *   corpus key = the exact TOKEN STREAM (equal streams ⇒ identical
    *     matched-position sets against any benchmark shingle set, so
    *     every span stat is identical);
    *   bench  key = the distinct SHINGLE SET (the bench side joins on
    *     deduplicated shingles, so set-equal benchmark docs match the
    *     same corpus positions).
    * Three row kinds over one (kind, doc_id, other_id, n_pos, first_pos,
    * last_pos, max_run, n_docs, n_bench) schema:
    *   'star'  — (corpus rep, corpus member): token-stream membership;
    *   'bstar' — (bench rep, bench member): shingle-set membership;
    *   'span'  — (corpus rep, bench rep, span stats, |C|, |B|): the
    *     representative pair's spans, standing for |C|·|B| identical
    *     full-listing rows.
    * Output is O(members + rep-pair spans) instead of the listing's
    * Θ(Σ |C|·|B|) on verbatim-dup-heavy corpora (graft.DupBench measures
    * the counterfactual; the driver fixture is recombined and dup-free,
    * so its rep relation ≈ the corpus). CurationSpec pins lossless
    * reconstruction of [[contaminationSpans]], which stays the
    * full-listing API. The class-key frames are narrow (doc_id + 32-byte
    * md5) and materialized once — the jaccardNearDupReportFrom recipe. */
  def contaminationSpanReport(corpus: DataFrame, bench: DataFrame)
      : DataFrame = {
    val nullStats = Seq(
      lit(null).cast("long").as("n_pos"),
      lit(null).cast("int").as("first_pos"),
      lit(null).cast("int").as("last_pos"),
      lit(null).cast("long").as("max_run"),
      lit(null).cast("long").as("n_docs"),
      lit(null).cast("long").as("n_bench"))
    val ck = corpus.select(col("doc_id").as("member"),
      md5(concat_ws(" ", col("toks")).cast("binary")).as("k"))
      .localCheckpoint()
    val bk = bench.select(col("doc_id").as("member"),
      Dedup.shingleSetKey(col("sh")).as("k"))
      .localCheckpoint()
    val ccls = ck.groupBy("k")
      .agg(min("member").as("rep"), count(lit(1)).as("sz"))
    val bcls = bk.groupBy("k")
      .agg(min("member").as("rep"), count(lit(1)).as("sz"))
    def stars(keyed: DataFrame, cls: DataFrame, kind: String) =
      keyed.join(cls, "k").filter(col("member") =!= col("rep"))
        .select(lit(kind).as("kind") +: col("rep").as("doc_id") +:
          col("member").as("other_id") +: nullStats: _*)
    val creps = corpus.join(ccls.select(col("rep").as("doc_id")),
      Seq("doc_id"), "left_semi")
    val breps = bench.join(bcls.select(col("rep").as("doc_id")),
      Seq("doc_id"), "left_semi")
    val spans = contaminationSpans(creps, breps)
      .join(ccls.select(col("rep").as("doc_id"), col("sz").as("n_docs")),
        "doc_id")
      .join(bcls.select(col("rep").as("bench_id"), col("sz").as("n_bench")),
        "bench_id")
      .select(lit("span").as("kind"), col("doc_id"),
        col("bench_id").as("other_id"), col("n_pos"), col("first_pos"),
        col("last_pos"), col("max_run"), col("n_docs"), col("n_bench"))
    stars(ck, ccls, "star")
      .unionByName(stars(bk, bcls, "bstar"))
      .unionByName(spans)
  }

  /** Contamination provenance over the d15 benchmark split, as the
    * contracted report. The DuckDB mirror replays BOTH contractions from
    * the raw documents table (corpus classes keyed on the raw joined
    * token stream, bench classes on the chr(30)-joined sorted shingle
    * set — the engine's md5 is a shuffle-width choice, the PARTITION it
    * induces is what matters) and recomputes the representative-pair
    * spans with the same gaps-and-islands window. */
  val d36 = Q("d36_contamination_spans",
    """WITH toks AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w,
      |         trim(text) AS tt
      |  FROM documents),
      |ck AS (
      |  SELECT doc_id, array_to_string(w, ' ') AS k
      |  FROM toks WHERE doc_id % 17 <> 0),
      |ccls AS (SELECT k, min(doc_id) AS rep, count(*) AS sz
      |         FROM ck GROUP BY k),
      |bsh AS (
      |  SELECT doc_id,
      |    CASE WHEN len(w) >= 3 THEN
      |      list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
      |                     for i in range(1, len(w) - 1)])
      |    ELSE [tt] END AS s
      |  FROM toks WHERE doc_id % 17 = 0),
      |bk AS (
      |  SELECT doc_id,
      |    list_aggregate(list_sort(s), 'string_agg', chr(30)) AS k
      |  FROM bsh),
      |bcls AS (SELECT k, min(doc_id) AS rep, count(*) AS sz
      |         FROM bk GROUP BY k),
      |cstars AS (
      |  SELECT 'star' AS kind, c.rep AS doc_id, d.doc_id AS other_id
      |  FROM ck d JOIN ccls c ON d.k = c.k WHERE d.doc_id <> c.rep),
      |bstars AS (
      |  SELECT 'bstar' AS kind, c.rep AS doc_id, d.doc_id AS other_id
      |  FROM bk d JOIN bcls c ON d.k = c.k WHERE d.doc_id <> c.rep),
      |cpos AS (
      |  SELECT t.doc_id, i - 1 AS pos,
      |    w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS g
      |  FROM (SELECT doc_id, w, unnest(range(1, len(w) - 1)) AS i
      |        FROM toks WHERE len(w) >= 3 AND doc_id % 17 <> 0) t
      |  JOIN ccls c ON c.rep = t.doc_id),
      |bg AS (
      |  SELECT b.doc_id AS bench_id, unnest(b.s) AS g
      |  FROM bsh b JOIN bcls c ON c.rep = b.doc_id),
      |m AS (
      |  SELECT c.doc_id, b.bench_id, c.pos
      |  FROM cpos c JOIN bg b ON c.g = b.g),
      |isl AS (
      |  SELECT doc_id, bench_id, pos,
      |    pos - row_number() OVER (PARTITION BY doc_id, bench_id
      |                             ORDER BY pos) AS island
      |  FROM m),
      |runs AS (
      |  SELECT doc_id, bench_id, island, count(*) AS rl,
      |    min(pos) AS mn, max(pos) AS mx
      |  FROM isl GROUP BY 1, 2, 3),
      |spans AS (
      |  SELECT 'span' AS kind, r.doc_id, r.bench_id AS other_id,
      |    CAST(sum(rl) AS BIGINT) AS n_pos,
      |    CAST(min(mn) AS INT) AS first_pos,
      |    CAST(max(mx) AS INT) AS last_pos,
      |    CAST(max(rl) AS BIGINT) AS max_run,
      |    cc.sz AS n_docs, bc.sz AS n_bench
      |  FROM runs r
      |  JOIN ccls cc ON cc.rep = r.doc_id
      |  JOIN bcls bc ON bc.rep = r.bench_id
      |  GROUP BY r.doc_id, r.bench_id, cc.sz, bc.sz)
      |SELECT * FROM (
      |  SELECT kind, doc_id, other_id, CAST(NULL AS BIGINT) AS n_pos,
      |    CAST(NULL AS INT) AS first_pos, CAST(NULL AS INT) AS last_pos,
      |    CAST(NULL AS BIGINT) AS max_run, CAST(NULL AS BIGINT) AS n_docs,
      |    CAST(NULL AS BIGINT) AS n_bench
      |  FROM cstars
      |  UNION ALL
      |  SELECT kind, doc_id, other_id, NULL, NULL, NULL, NULL, NULL, NULL
      |  FROM bstars
      |  UNION ALL
      |  SELECT * FROM spans)
      |ORDER BY kind, doc_id, other_id""".stripMargin) { (s, dir) =>
    val base = Dedup.shingled(s, dir)
    contaminationSpanReport(
        base.filter(col("doc_id") % 17 =!= 0),
        base.filter(col("doc_id") % 17 === 0))
      .orderBy("kind", "doc_id", "other_id")
  }

  /** Named-rules quality REPORT (Gopher-shape composite): every rule's
    * signal AND its verdict per document, with machine-readable failure
    * reasons — what a production filter emits so curation reviews can
    * audit WHY a document was dropped, not just that it was. Signals are
    * per-row column programs except the repetition rule's per-doc top
    * bigram (one hash aggregate); every float is a fixed-order ratio of
    * exact integers, so the whole report is oracle-exact. */
  def qualityRules(docs: DataFrame): DataFrame = {
    val base = docs
      .select(col("doc_id"), toks(col("text")).as("toks"))
      .withColumn("n_tokens", size(col("toks")))
      .withColumn("sum_tok_len",
        aggregate(transform(col("toks"), t => length(t)), lit(0),
          (a, x) => a + x))
      .withColumn("n_the",
        size(filter(col("toks"), x => x === lit("the"))))
    val topGram = base
      .select(col("doc_id"), explode(CorpusOps.bigrams("toks")).as("gram"))
      .groupBy("doc_id", "gram").agg(count(lit(1)).as("cnt"))
      .groupBy("doc_id").agg(max("cnt").as("top_gram"))
    val m = base.join(topGram, Seq("doc_id"), "left")
      .withColumn("mean_tok_len",
        col("sum_tok_len").cast("double") / col("n_tokens").cast("double"))
      .withColumn("stop_ratio",
        col("n_the").cast("double") / col("n_tokens").cast("double"))
      .withColumn("top_bigram_frac",
        when(col("n_tokens") >= 2,
          coalesce(col("top_gram"), lit(0L)).cast("double") /
            (col("n_tokens") - 1).cast("double"))
          .otherwise(lit(0.0)))
    val rLen = col("n_tokens") >= 40 && col("n_tokens") <= 100000
    val rMean = col("mean_tok_len") >= 3.0 && col("mean_tok_len") <= 12.0
    val rStop = col("stop_ratio") >= 0.005
    val rRep = col("top_bigram_frac") <= 0.1
    m.select(col("doc_id"), col("n_tokens"), col("mean_tok_len"),
      col("stop_ratio"), col("top_bigram_frac"),
      concat_ws(",",
        when(!rLen, "len"), when(!rMean, "mean_len"),
        when(!rStop, "stopword"), when(!rRep, "repetition"))
        .as("failed_rules"),
      (rLen && rMean && rStop && rRep).as("kept"))
  }

  val d40 = Q("d40_quality_rules",
    """WITH d AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
      |  FROM documents),
      |b AS (
      |  SELECT doc_id, len(toks) AS n_tokens,
      |    CAST(list_sum(list_transform(toks, t -> length(t))) AS BIGINT)
      |      AS sum_tok_len,
      |    len(list_filter(toks, x -> x = 'the')) AS n_the,
      |    list_transform(range(1, len(toks)),
      |      i -> toks[i] || ' ' || toks[i + 1]) AS grams
      |  FROM d),
      |g AS (
      |  SELECT doc_id, max(cnt) AS top_gram FROM (
      |    SELECT doc_id, gram, count(*) AS cnt
      |    FROM (SELECT doc_id, unnest(grams) AS gram FROM b)
      |    GROUP BY doc_id, gram) t
      |  GROUP BY doc_id),
      |m AS (
      |  SELECT b.doc_id, n_tokens,
      |    CAST(sum_tok_len AS DOUBLE) / CAST(n_tokens AS DOUBLE)
      |      AS mean_tok_len,
      |    CAST(n_the AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS stop_ratio,
      |    CASE WHEN n_tokens >= 2
      |         THEN CAST(COALESCE(top_gram, 0) AS DOUBLE)
      |           / CAST(n_tokens - 1 AS DOUBLE)
      |         ELSE 0.0 END AS top_bigram_frac
      |  FROM b LEFT JOIN g USING (doc_id))
      |SELECT doc_id, n_tokens, mean_tok_len, stop_ratio, top_bigram_frac,
      |  concat_ws(',',
      |    CASE WHEN NOT (n_tokens >= 40 AND n_tokens <= 100000)
      |         THEN 'len' END,
      |    CASE WHEN NOT (mean_tok_len >= 3.0 AND mean_tok_len <= 12.0)
      |         THEN 'mean_len' END,
      |    CASE WHEN NOT (stop_ratio >= 0.005) THEN 'stopword' END,
      |    CASE WHEN NOT (top_bigram_frac <= 0.1) THEN 'repetition' END)
      |    AS failed_rules,
      |  (n_tokens >= 40 AND n_tokens <= 100000)
      |    AND (mean_tok_len >= 3.0 AND mean_tok_len <= 12.0)
      |    AND stop_ratio >= 0.005 AND top_bigram_frac <= 0.1 AS kept
      |FROM m ORDER BY doc_id""".stripMargin) { (s, dir) =>
    qualityRules(T.documents(s, dir)).orderBy("doc_id")
  }

  val all: Seq[Q] =
    Seq(d15, d16, d17, d18, d19, d20, d21, d22, d23, d24, d27, d28, d29,
      d30, d31, d32, d33, d34, d36, d40)
}
