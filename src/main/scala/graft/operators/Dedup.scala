package graft.operators

import graft.{Q, Tables => T}
import graft.plans.GraphOps
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.GraftFreshStats.unpersistCheckpoints
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication family for training-data pipelines: exact (hash groupBy),
  * MinHash+LSH banding, SimHash, and exact prefix-filtered n-gram Jaccard.
  *
  * Scale design: signatures are computed per-row with higher-order column
  * functions (no UDFs, no shuffle); the only shuffles are the LSH
  * band-bucket groupBys, which are uniform by construction (band keys are
  * 64-bit hashes — no skew), and candidate pairs are verified with an
  * equi-join on doc_id. At 100 TB the band explode multiplies rows by
  * NUM_BANDS, so bands are kept narrow (doc_id + 1 hash column) before the
  * shuffle — the full shingle sets are re-joined only for the (tiny)
  * candidate set.
  */
object Dedup {

  private val NUM_HASHES = 64
  private val BANDS = 16
  private val ROWS_PER_BAND = NUM_HASHES / BANDS // r=4 → s-curve ~0.5 @ j=0.7

  /** THE shared rep-pair Jaccard threshold: Bench's `jacc_pairs` ingest
    * part warms [[repJaccardPairsSilver]] at this value, and every
    * consumer (d13's near arm, d14/d35's component edges, d42/d43's
    * ×stride-mapped rep pairs, m09's text edges) reads the same silver —
    * one constant so a consumer can never drift from the warm-up and
    * silently shift the build cost back into whichever query runs first
    * (r16 advisor). */
  val RepPairThreshold: Double = 0.3

  /** Dup-heavy corpus construction constants (d42/d43): copy c of source
    * doc d carries doc_id = d·DupCopyStride + c with c ∈ 0..d%DupCopyMod.
    * Named ONCE and referenced by [[dupHeavyDocuments]],
    * [[explodeDupCopies]], [[dupHeavyCte]] and both queries' rep-pair id
    * maps (rep_dup = DupCopyStride·rep_src), so the id arithmetic cannot
    * be re-encoded inconsistently across sites (r16 advisor). */
  private[operators] val DupCopyStride = 16L
  private[operators] val DupCopyMod = 10L

  /** Word tokens of trimmed text. */
  private def tokens(c: Column): Column = split(trim(c), "\\s+")

  /** Distinct 3-word shingles. */
  def shingles(c: Column): Column = {
    val t = tokens(c)
    array_distinct(
      when(size(t) >= 3,
        expr("""transform(sequence(0, size(split(trim(text), '\\s+')) - 3),
                i -> concat_ws(' ', element_at(split(trim(text), '\\s+'), i + 1),
                               element_at(split(trim(text), '\\s+'), i + 2),
                               element_at(split(trim(text), '\\s+'), i + 3)))"""))
        .otherwise(array(trim(c))))
  }

  /** DuckDB mirror of `shingles` — CTE fragment producing (doc_id, s)
    * from any (doc_id, text) base relation (d42 shingles the derived
    * dup-heavy corpus). */
  private[operators] def shingleCteBody(base: String): String =
    s"""toks AS (
       |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w,
       |         trim(text) AS tt
       |  FROM $base
       |), sh AS (
       |  SELECT doc_id,
       |    CASE WHEN len(w) >= 3 THEN
       |      list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
       |                     for i in range(1, len(w) - 1)])
       |    ELSE [tt] END AS s
       |  FROM toks
       |)""".stripMargin

  /** The documents-table instance of [[shingleCteBody]]. Shared by the
    * d11/d13 oracles (and Curation's d15) so all stay in lock-step with
    * the Spark tokenizer. */
  private[operators] val shingleCte: String =
    "WITH " + shingleCteBody("documents")

  // silver shingle table: d11/d12/d13 share one Parquet-materialized
  // (doc_id, shingles, toks) table per (session, dir) — written once and
  // re-read (SilverStore), as a cluster persists its tokenization layer.
  //
  // The tokens array is materialized FIRST (its own checkpoint inside the
  // one-time build): building shingles directly from `split(...)` inlines
  // the regex split into the per-element lambda — ~3 full-text splits per
  // shingle position, ~1000 regex evaluations per document. From a
  // materialized array, each position is three O(1) element_at calls.
  private[graft] def shingled(s: SparkSession, dir: String): DataFrame = {
    // staging checkpoint is dead once the silver table is written —
    // release it (only set when the one-time build lambda actually ran)
    var staged: DataFrame = null
    val out = graft.plans.SilverStore.table(s, dir, "doc_shingles") {
      val toks = T.documents(s, dir)
        .select(col("doc_id"), trim(col("text")).as("tt"),
          split(trim(col("text")), "\\s+").as("toks"))
        .localCheckpoint()
      staged = toks
      toks.select(col("doc_id"),
          array_distinct(
            when(size(col("toks")) >= 3,
              transform(sequence(lit(0), size(col("toks")) - 3),
                i => concat_ws(" ", element_at(col("toks"), i + 1),
                  element_at(col("toks"), i + 2),
                  element_at(col("toks"), i + 3))))
              .otherwise(array(col("tt")))).as("sh"),
          col("toks"))
    }
    if (staged != null) unpersistCheckpoints(staged)
    out
  }

  /** 64-slot MinHash signature over PRE-HASHED shingles: slot j = min
    * over shingle hashes h of mix64(h ^ j·φ) — the native fused-loop
    * Catalyst expression (one primitive pass per row, whole-stage
    * codegen; see graft.functions.HashSketches). */
  def minhashSig(hashes: Column): Column =
    graft.functions.HashSketches.minhash_sig(hashes, NUM_HASHES)

  /** docs(doc_id, text) → near-dup pairs (doc_a < doc_b, jaccard ≥ minJaccard)
    * via MinHash banding + exact shingle-Jaccard verification. */
  def minhashPairs(docs: DataFrame, minJaccard: Double): DataFrame =
    minhashPairsFrom(
      docs.select(col("doc_id"), shingles(col("text")).as("sh"))
        .localCheckpoint(),
      minJaccard)

  /** Core MinHash pipeline over a prepared (doc_id, sh) shingle table.
    *
    * Each stage is materialized (localCheckpoint): otherwise Catalyst's
    * CollapseProject inlines the tokenizer into all 64 signature slots and
    * then the signature into all 16 band keys — thousands of regex splits
    * per row. At cluster scale these materializations are the silver
    * signature tables you would persist anyway.
    *
    * Output columns are exact integers (inter, uni — |A∩B| and |A∪B|):
    * the jaccard threshold is applied in integer math
    * (inter * 10 ≥ t·10 · uni), so the result carries no float column and
    * hash-compares bit-exactly against the SQL oracle. */
  /** (doc_id, sh) → (doc_id, sig): the 64-slot MinHash signature table.
    * Shared by the batch LSH pipeline and the streaming online index. */
  private[graft] def signaturesOf(base: DataFrame): DataFrame =
    base.select(col("doc_id"),
        expr("transform(sh, s -> xxhash64(s))").as("shl"))
      .select(col("doc_id"), minhashSig(col("shl")).as("sig"))

  /** (doc_id, sig) → (doc_id, band, bkey): band key = hash of the band's
    * signature slice, exploded to one narrow row per band BEFORE any
    * shuffle. Shared by batch banding and the streaming online index. */
  private[graft] def bandKeyRows(withSig: DataFrame): DataFrame =
    withSig.select(col("doc_id"),
      posexplode(expr(
        s"""transform(sequence(0, ${BANDS - 1}),
            b -> xxhash64(b, ${(0 until ROWS_PER_BAND).map(i =>
              s"element_at(sig, b * $ROWS_PER_BAND + ${i + 1})").mkString(", ")}))"""))
        .as(Seq("band", "bkey")))

  /** Default per-(band, bucket) membership cap: far above any natural
    * bucket in a mixed corpus (the bench corpus maxes at 4 members per
    * minhash bucket and ~180 per simhash chunk bucket at sf0.1 — a
    * bucket only grows past this when the corpus contains a giant
    * near-identical cluster, the web-crawl boilerplate case). */
  val DefaultBucketCap: Int = 1024

  /** Within-bucket candidate emission with a hot-bucket cap. Buckets at
    * or below `cap` emit exact all-pairs (unchanged semantics). Buckets
    * ABOVE the cap are star-contracted: every member pairs with the
    * bucket's minimum doc_id only — O(n) rows instead of O(n²) — which
    * preserves exactly what the downstream consumer (dupClusters'
    * connected components) needs for the clusters that cause mega
    * buckets: a 100k-member near-identical cluster stays one component,
    * and precision is still exact because every emitted pair passes the
    * exact verification step. The approximation above the cap is pair
    * RECALL inside a mixed (collision) mega bucket — a~b similar but
    * neither similar to the representative surfaces only via the other
    * bands. Truncation is surfaced as data, not silently:
    * [[bucketTruncationStats]] reports every contracted bucket. */
  private[operators] def cappedBucketPairs(buckets: DataFrame, idsCol: String,
      pairExpr: String, starExpr: String, cap: Int): DataFrame =
    buckets
      .withColumn("rep", array_min(col(idsCol)))
      .select(explode(when(size(col(idsCol)) <= cap, expr(pairExpr))
        .otherwise(expr(starExpr))).as("p"))

  /** Contracted-bucket report for a (…, band, bkey) row frame: one row
    * per bucket whose membership exceeds `cap`, with the exact pair
    * count it would have produced and the contracted count it does.
    * Run it over [[bandKeys]] (or the simhash chunk frame) when a
    * corpus may contain mega clusters — the no-silent-caps companion
    * to the capped pair generators. */
  def bucketTruncationStats(bands: DataFrame,
      keyCols: Seq[String] = Seq("band", "bkey"),
      cap: Int = DefaultBucketCap): DataFrame =
    bands.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("n"))
      .filter(col("n") > cap)
      .withColumn("pairs_exact", col("n") * (col("n") - 1) / 2)
      .withColumn("pairs_emitted", col("n") - 1)

  /** (doc_id, sh) shingle table → its LSH band-key rows — the frame
    * [[bucketTruncationStats]] audits for minhash. */
  def bandKeys(base: DataFrame): DataFrame =
    bandKeyRows(signaturesOf(base))

  def minhashPairsFrom(base: DataFrame, minJaccard: Double,
      bucketCap: Int = DefaultBucketCap): DataFrame = {
    val t10 = math.round(minJaccard * 10).toInt
    require(t10 / 10.0 == minJaccard, "threshold must be a multiple of 0.1")
    val withSig = signaturesOf(base).localCheckpoint()
    val bands = bandKeyRows(withSig)
    val buckets = bands.groupBy("band", "bkey")
      .agg(collect_list(col("doc_id")).as("ids"))
      .filter(size(col("ids")) > 1)
    val candidates = cappedBucketPairs(buckets, "ids",
      """flatten(transform(ids, a ->
           transform(filter(ids, b -> b > a), b -> struct(a, b))))""",
      "transform(filter(ids, x -> x > rep), x -> named_struct('a', rep, 'b', x))",
      bucketCap)
      .select(col("p.a").as("doc_a"), col("p.b").as("doc_b"))
      .distinct()
    verifyPairs(candidates, base, t10)
  }

  /** Exact verification join: candidate (doc_a, doc_b) pairs → integer
    * intersection/union sizes, thresholded at t10/10 Jaccard. */
  private[graft] def verifyPairs(candidates: DataFrame, base: DataFrame,
      t10: Int): DataFrame = {
    val ja = base.select(col("doc_id").as("doc_a"), col("sh").as("sh_a"))
    val jb = base.select(col("doc_id").as("doc_b"), col("sh").as("sh_b"))
    candidates.join(ja, "doc_a").join(jb, "doc_b")
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("uni", size(col("sh_a")) + size(col("sh_b")) - col("inter"))
      .filter(col("inter") * 10 >= col("uni") * t10)
      .select("doc_a", "doc_b", "inter", "uni")
  }

  /** EXACT all-pairs n-gram Jaccard at scale: count-based inverted-index
    * join. One posting self-join on the 8-byte shingle hash, grouped by
    * (doc_a, doc_b), yields |A∩B| directly as a count — no per-pair array
    * re-verification at all; |A∪B| = |A|+|B|−|A∩B| from a broadcast size
    * table, and the threshold is applied in integer math.
    *
    * Measured against the alternatives on the bench corpus: a
    * prefix-filtered candidate join (AllPairs/PPJoin) prunes only ~18% of
    * pairs at t=0.3 on short documents (prefix = 70% of each doc) and
    * then pays an array-intersect verify per candidate (4.5 s for 650k
    * pairs); the count-based join groups the same co-occurrence stream
    * with a long-key shuffle and no verify step.
    *
    * Skew control for 100 TB: postings whose document frequency exceeds
    * N·t·dfCapEpsilon are dropped BEFORE the self-join (one
    * groupBy-count plus a broadcast anti-join — the hot set is tiny by
    * construction). A single stop-shingle with df = d contributes d²/2
    * co-occurrence rows, so one phrase shared by 1% of a 10⁹-doc corpus
    * would otherwise emit 5·10¹³ join rows. The cap is a documented
    * approximation: a dropped shingle no longer counts toward `inter`,
    * so pairs whose similarity rests ONLY on corpus-hot boilerplate can
    * fall below threshold. With the default ε the cap sits far above any
    * natural shingle frequency (bench corpus max df is 0.5-1.4% of N;
    * the default cap is t·10% of N), so results are exact unless the
    * corpus contains true stop-shingles — exactly the case where
    * dropping boilerplate is the intended behavior.
    *
    * `dfCapEpsilon <= 0` DISABLES the cap (no anti-join in the plan at
    * all): the contracted-report path (d13) runs over class
    * representatives, where N is the rep count, not the corpus count —
    * a cap relative to that smaller N could bind on stop-shingle-heavy
    * corpora while the report's oracle applies none, so the report
    * passes 0 and keeps "exact at any threshold" unconditional (the
    * contraction itself already removes the verbatim-dup blowup the cap
    * guards against; callers wanting boilerplate dropping at web scale
    * pass an explicit ε through the `near` callback). */
  def exactJaccardPairs(s: SparkSession, base: DataFrame,
      minJaccard: Double, dfCapEpsilon: Double = 0.1): DataFrame =
    exactJaccardPairsStaged(s, base, minJaccard, dfCapEpsilon)._1

  /** [[exactJaccardPairs]] plus a handle on its internal postings
    * checkpoint, so one-shot builders (the rep-pair silver) can release
    * the blocks once the result is materialized — a leaked checkpoint
    * per ingest part is exactly the session-heap residue that inflated
    * the sf1 in-run readings 2.5-5× over isolated (r16 verdict item 5,
    * guide §5). Callers that keep the RESULT lazy (d13's report re-reads
    * the pair relation) must not unpersist until done. */
  private[operators] def exactJaccardPairsStaged(s: SparkSession,
      base: DataFrame, minJaccard: Double,
      dfCapEpsilon: Double = 0.1): (DataFrame, DataFrame) = {
    val t10 = math.round(minJaccard * 10).toInt
    require(t10 / 10.0 == minJaccard, "threshold must be a multiple of 0.1")
    val allPostings = base
      .select(col("doc_id"), explode(expr("transform(sh, s -> xxhash64(s))"))
        .as("hkey"))
      .localCheckpoint() // joined against itself: materialize one side
    // df-cap: N from a 1-row aggregate folded into the plan (no separate
    // driver-side count job); hot keys broadcast into an anti-join.
    val posting = if (dfCapEpsilon <= 0) allPostings else {
      val nDocs = base.select(count(lit(1)).as("n_docs"))
      val hotKeys = allPostings.groupBy("hkey")
        .agg(count(lit(1)).as("df"))
        .crossJoin(nDocs)
        .filter(col("df") > col("n_docs") * minJaccard * dfCapEpsilon)
        .select("hkey")
      allPostings.join(broadcast(hotKeys), Seq("hkey"), "left_anti")
    }
    val sizes = base.select(col("doc_id"), size(col("sh")).as("n"))
    val co = posting.select(col("doc_id").as("doc_a"), col("hkey"))
      .join(posting.select(col("doc_id").as("doc_b"), col("hkey")), "hkey")
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).cast("int").as("inter"))
    (co.join(sizes.select(col("doc_id").as("doc_a"), col("n").as("na")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("nb")), "doc_b")
      .withColumn("uni", col("na") + col("nb") - col("inter"))
      .filter(col("inter") * 10 >= col("uni") * t10)
      .select("doc_a", "doc_b", "inter", "uni"), allPostings)
  }

  /** Exact Jaccard ≥ t pairs over the documents corpus's SHINGLE-SET
    * class representatives, silver-materialized once per (session,
    * dir). One relation serves every consumer that was recomputing it
    * identically each query (r16 measurement: ~2 s apiece at sf0.1):
    * d13's near arm, d14/d35's component edges, and — through the ×16
    * id map the dup-heavy corpus's construction guarantees (copy ids =
    * source·16 + c, verbatim text ⇒ rep_dup = 16·rep_src and identical
    * (inter, uni)) — d42/d43's rep pairs. ε = 0: over representatives
    * the df-cap's N is the rep count while the consumers' oracles apply
    * none (r15 review). */
  private[graft] def repJaccardPairsSilver(s: SparkSession, dir: String,
      minJaccard: Double): DataFrame = {
    val t10 = math.round(minJaccard * 10).toInt
    // the build's postings checkpoint is dead once the silver table is
    // written — release its blocks (only set when the build lambda ran)
    var staged: DataFrame = null
    val out = graft.plans.SilverStore.table(s, dir, s"jacc_rep_pairs_t$t10") {
      val keyed = shingled(s, dir)
        .select(col("doc_id"), shingleSetKey(col("sh")).as("skey"))
      val reps = keyed.groupBy("skey").agg(min("doc_id").as("rep"))
      val repSh = shingled(s, dir)
        .join(reps.select(col("rep").as("doc_id")), Seq("doc_id"),
          "left_semi")
        .select("doc_id", "sh")
      val (pairs, postings) =
        exactJaccardPairsStaged(s, repSh, minJaccard, dfCapEpsilon = 0)
      staged = postings
      pairs
    }
    if (staged != null) unpersistCheckpoints(staged)
    out
  }

  /** CONNECTIVITY-preserving Jaccard edge set — the exact-dup-first
    * contraction (m08/m09's image-side move applied to text): exact
    * shingle-SET classes (the d13 report's key — set-equal documents
    * are pairwise J = 1, a contraction at least as coarse as equal
    * text) contract to their min-doc_id representative with star
    * edges, and the exact Jaccard pair search runs over
    * REPRESENTATIVES only, read from the shared
    * [[repJaccardPairsSilver]]. Set-equal documents have J 1 with each
    * other and identical Jaccard to everything else, so the star +
    * rep-pair graph reaches exactly the same connected components as
    * the full pair list — switching the class key from equal-text to
    * equal-set (r16) left every component, and hence every (doc_id,
    * canonical) row, identical (oracle-checked) while letting d13/d14/
    * d35/d42/d43 share ONE materialized pair relation. Consumers that
    * need the PAIR LIST itself (d13's oracle contract) keep
    * exactJaccardPairs; consumers that need components use this. */
  def jaccardComponentEdges(s: SparkSession, dir: String,
      minJaccard: Double): DataFrame = {
    val keyed = shingled(s, dir)
      .select(col("doc_id"), shingleSetKey(col("sh")).as("__k"))
    val reps = keyed.groupBy("__k").agg(min("doc_id").as("rep"))
    val star = keyed.join(reps, Seq("__k"))
      .filter(col("doc_id") =!= col("rep"))
      .select(col("rep").as("doc_a"), col("doc_id").as("doc_b"))
    val repPairs = repJaccardPairsSilver(s, dir, minJaccard)
      .select("doc_a", "doc_b")
    star.unionByName(repPairs)
  }

  /** 64-bit frequency-weighted SimHash over word tokens — native
    * fused-loop expression over per-token 64-bit hashes. */
  def simhash(c: Column): Column =
    graft.functions.HashSketches.simhash_64(
      expr_tokens_hashed(split(trim(c), "\\s+")))

  /** Token → signed 64-bit hash = first 8 bytes (big-endian) of md5.
    * md5 is bit-identical across engines, so the whole SimHash family is
    * recomputable in pure SQL and the d12/d26 outputs hash-match a
    * DuckDB oracle (same move as m08's pixel-math oracle). The split
    * into two 32-bit `conv` halves avoids the unsigned-top-bit overflow
    * a single 16-hex conv→long cast would hit under ANSI mode; the
    * shift-or assembly is exact two's-complement wrapping. */
  private[graft] def expr_tokens_hashed(toks: Column): Column =
    transform(toks, w => {
      val hx = md5(w)
      shiftleft(conv(substring(hx, 1, 8), 16, 10).cast("long"), 32)
        .bitwiseOR(conv(substring(hx, 9, 8), 16, 10).cast("long"))
    })

  /** The DuckDB mirror of [[expr_tokens_hashed]]+[[simhash]]: a `sims`
    * CTE body (doc_id, sim) recomputing the md5-based token hashes and
    * the 64-bit majority vote from the raw documents table. Shared by
    * the d12 and d26 oracles. */
  private[operators] val simsSqlCte: String =
    """toks AS (
      |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS w
      |  FROM documents),
      |th AS (
      |  SELECT doc_id,
      |    (CASE WHEN v < 9223372036854775808::UBIGINT THEN v::HUGEINT
      |          ELSE v::HUGEINT - 18446744073709551616::HUGEINT
      |     END)::BIGINT AS h
      |  FROM (SELECT doc_id, ('0x' || substr(md5(w), 1, 16))::UBIGINT AS v
      |        FROM toks) x),
      |bits AS (
      |  SELECT doc_id, r.k,
      |    CASE WHEN sum(CASE WHEN ((h >> r.k) & 1) = 1 THEN 1 ELSE -1 END) > 0
      |         THEN 1 ELSE 0 END AS b
      |  FROM th CROSS JOIN range(64) r(k)
      |  GROUP BY doc_id, r.k),
      |sims AS (
      |  SELECT doc_id,
      |    bit_or(CASE WHEN b = 0 THEN 0
      |                WHEN k = 63 THEN (-9223372036854775807 - 1)
      |                ELSE (1::BIGINT << CAST(k AS INT)) END) AS sim
      |  FROM bits GROUP BY doc_id)""".stripMargin

  /** SimHash near-dup pairs: 4×16-bit chunk banding then exact Hamming
    * distance ≤ maxHamming via bit_count(xor). */
  def simhashPairs(docs: DataFrame, maxHamming: Int,
      bucketCap: Int = DefaultBucketCap): DataFrame =
    simhashPairsFromToks(
      docs.select(col("doc_id"), split(trim(col("text")), "\\s+").as("toks")),
      maxHamming, bucketCap)

  /** (doc_id, toks) → (doc_id, sim): the 64-bit SimHash signature table
    * — shared entry point of the chunk banding, the permuted-table
    * banding and the d12 contracted report. */
  private[graft] def simsOf(withToks: DataFrame): DataFrame =
    withToks.select(col("doc_id"),
      graft.functions.HashSketches.simhash_64(
        expr_tokens_hashed(col("toks"))).as("sim"))

  /** Core SimHash pipeline over a prepared (doc_id, toks) frame. Chunk
    * buckets above `bucketCap` are star-contracted against the bucket's
    * min-doc_id member (see [[cappedBucketPairs]]); contracted pairs
    * still pass the exact Hamming filter, so precision is exact at any
    * cap — only within-mega-bucket recall is approximated, and the
    * contraction is reported by [[bucketTruncationStats]] over
    * [[simhashChunkRows]]. */
  def simhashPairsFromToks(withToks: DataFrame, maxHamming: Int,
      bucketCap: Int = DefaultBucketCap): DataFrame =
    simhashPairsFromSims(simsOf(withToks), maxHamming, bucketCap)

  /** The same chunk-banded pipeline over an already-computed
    * (doc_id, sim) signature relation — what the d12 contracted report
    * runs over class REPRESENTATIVES so signatures are not recomputed. */
  def simhashPairsFromSims(withSims: DataFrame, maxHamming: Int,
      bucketCap: Int = DefaultBucketCap): DataFrame = {
    val buckets = chunkRowsFromSims(withSims).groupBy("chunk", "ckey")
      .agg(collect_list(struct(col("doc_id"), col("sim"))).as("xs"))
      .filter(size(col("xs")) > 1)
    // Hamming test runs bucket-locally BEFORE the distinct, so the shuffle
    // dedups only surviving id pairs, not every bucket collision.
    cappedBucketPairs(buckets, "xs",
      """flatten(transform(xs, a ->
           transform(filter(xs, b -> b.doc_id > a.doc_id),
                     b -> struct(a, b))))""",
      """transform(filter(xs, x -> x.doc_id > rep.doc_id),
           x -> named_struct('a', rep, 'b', x))""",
      bucketCap)
      .select(col("p.a.doc_id").as("doc_a"), col("p.b.doc_id").as("doc_b"),
        expr("bit_count(p.a.sim ^ p.b.sim)").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** (doc_id, toks) → one row per (doc, chunk) of the 4×16-bit SimHash
    * banding — the frame [[bucketTruncationStats]] audits for simhash
    * (keyCols = Seq("chunk", "ckey")). */
  def simhashChunkRows(withToks: DataFrame): DataFrame =
    chunkRowsFromSims(simsOf(withToks))

  private def chunkRowsFromSims(withSims: DataFrame): DataFrame =
    withSims.select(col("doc_id"), col("sim"),
      posexplode(expr(
        "transform(sequence(0, 3), i -> shiftright(sim, i * 16) & 65535)"))
        .as(Seq("chunk", "ckey")))

  /** Duplicate CLUSTERS from a near-dup pair list: connected components
    * with the component's minimum doc_id as the canonical representative
    * — the step a training pipeline runs after pair generation (keep one
    * doc per cluster, drop the rest). Runs [[GraphOps.components]] over
    * the bigint (doc_a, doc_b) pairs: up to `DriverResolveLimit` pairs
    * resolve in one driver pass, more take the min-label contraction.
    * Docs in no pair are singletons (their own canonical) and are
    * omitted from the output. */
  def dupClusters(pairs: DataFrame, maxRounds: Int = 15): DataFrame =
    GraphOps.components(
      pairs.select(col("doc_a").as("u"), col("doc_b").as("v")),
      maxRounds, GraphOps.DriverResolveLimit)
      .select(col("id").as("doc_id"), col("root").as("canonical_id"))

  // ------------------------------------------------- contracted reports

  /** Exact-dup-first contracted near-dup REPORT for the Jaccard pair
    * family — the m08/m10/m11 report form applied to text (r13 verdict
    * item 1). The contraction key is the exact SHINGLE SET: set-equal
    * documents have Jaccard 1 with each other and identical MinHash
    * signatures, so for BOTH the exact listing (d13) and the LSH
    * listing (d11) the contraction is lossless — every within-class
    * pair qualifies with inter = uni = |S|, and every cross-class
    * member pair carries exactly its class representatives' (inter,
    * uni) and surfaces iff the representative pair does (identical
    * sets ⇒ identical signatures ⇒ identical bands). Three row kinds
    * over one (kind, doc_a, doc_b, inter, uni, n_pairs) schema:
    *   'star'  — (rep, member, |S|, |S|, NULL): set-equal membership;
    *   'near'  — (rep_a, rep_b, inter, uni, |A|·|B|): a qualifying pair
    *             between class representatives, carrying the member-pair
    *             count it stands for;
    *   'class' — (rep, NULL, NULL, NULL, C(sz,2)): within-class pair
    *             count, so the full listing's cardinality is Σ n_pairs
    *             without materializing it.
    * Output is O(dup-class members + rep pairs) instead of the full
    * listing's Θ(Σ class²) on verbatim-dup-heavy corpora (the web-crawl
    * case); DedupSpec pins lossless reconstruction. `near` receives the
    * representatives' (doc_id, sh) relation and returns qualifying
    * (doc_a, doc_b, inter, uni) pairs. */
  def jaccardNearDupReportFrom(sh: DataFrame,
      near: DataFrame => DataFrame): DataFrame = {
    // class key = md5 of the sorted shingle set: a 32-byte shuffle key
    // regardless of document length (the d10 groupBy(md5) move). The
    // keyed frame is materialized ONCE and NARROW — (doc_id, |S|, key),
    // never the shingle arrays — so the sort+hash pass runs once and
    // the checkpoint stays O(rows), not O(corpus text); the `near`
    // callback re-reads the shingle relation through a doc_id semi-join
    // (columnar scan, pruned to representatives).
    val keyed = sh.select(col("doc_id"), size(col("sh")).as("n"),
      shingleSetKey(col("sh")).as("skey"))
      .localCheckpoint()
    val classes = keyed.groupBy("skey")
      .agg(min("doc_id").as("rep"), count(lit(1)).as("sz"))
    val stars = keyed.join(classes, "skey")
      .filter(col("doc_id") =!= col("rep"))
      .select(lit("star").as("kind"), col("rep").as("doc_a"),
        col("doc_id").as("doc_b"), col("n").as("inter"),
        col("n").as("uni"), lit(null).cast("long").as("n_pairs"))
    val reps = sh.join(classes.select(col("rep").as("doc_id")),
      Seq("doc_id"), "left_semi").select("doc_id", "sh")
    val sizes = classes.select(col("rep"), col("sz"))
    val nearRows = near(reps)
      .join(sizes.select(col("rep").as("doc_a"), col("sz").as("sa")), "doc_a")
      .join(sizes.select(col("rep").as("doc_b"), col("sz").as("sb")), "doc_b")
      .select(lit("near").as("kind"), col("doc_a"), col("doc_b"),
        col("inter"), col("uni"), (col("sa") * col("sb")).as("n_pairs"))
    val classRows = classes.filter(col("sz") > 1)
      .select(lit("class").as("kind"), col("rep").as("doc_a"),
        lit(null).cast("long").as("doc_b"),
        lit(null).cast("int").as("inter"), lit(null).cast("int").as("uni"),
        expr("sz * (sz - 1) DIV 2").as("n_pairs"))
    stars.unionByName(nearRows).unionByName(classRows)
  }

  /** Sorted-shingle-set class key: a 32-byte md5 of the chr(30)-joined
    * sorted set — THE contraction key, shared by the d11/d13 report
    * ([[jaccardNearDupReportFrom]]) and d36's bench-side contraction
    * (Curation.contaminationSpanReport) so the class partitions can
    * never silently de-synchronize (r15 review). */
  private[graft] def shingleSetKey(sh: Column): Column =
    md5(concat_ws("\u001e", array_sort(sh)).cast("binary"))

  /** [[jaccardNearDupReportFrom]] over the shared shingle silver. */
  def jaccardNearDupReport(s: SparkSession, dir: String,
      near: DataFrame => DataFrame): DataFrame =
    jaccardNearDupReportFrom(shingled(s, dir), near)

  /** The SimHash twin: contraction key = the exact 64-bit signature
    * (equal signatures ⇒ Hamming 0 ⇒ every chunk shared, and any
    * cross-class member pair has its representatives' Hamming and chunk
    * condition), so the report is lossless for the d12 listing by the
    * same argument. Schema (kind, doc_a, doc_b, hamming, n_pairs). */
  def simhashNearDupReportFrom(simsIn: DataFrame, maxHamming: Int,
      bucketCap: Int = DefaultBucketCap): DataFrame = {
    // materialized once: classes and stars would otherwise each
    // recompute the md5-per-token signature pass
    val sims = simsIn.localCheckpoint()
    val classes = sims.groupBy("sim")
      .agg(min("doc_id").as("rep"), count(lit(1)).as("sz"))
    val stars = sims.join(classes, "sim")
      .filter(col("doc_id") =!= col("rep"))
      .select(lit("star").as("kind"), col("rep").as("doc_a"),
        col("doc_id").as("doc_b"), lit(0).as("hamming"),
        lit(null).cast("long").as("n_pairs"))
    val reps = classes.select(col("rep").as("doc_id"), col("sim"))
    val sizes = classes.select(col("rep"), col("sz"))
    val nearRows = simhashPairsFromSims(reps, maxHamming, bucketCap)
      .join(sizes.select(col("rep").as("doc_a"), col("sz").as("sa")), "doc_a")
      .join(sizes.select(col("rep").as("doc_b"), col("sz").as("sb")), "doc_b")
      .select(lit("near").as("kind"), col("doc_a"), col("doc_b"),
        col("hamming"), (col("sa") * col("sb")).as("n_pairs"))
    val classRows = classes.filter(col("sz") > 1)
      .select(lit("class").as("kind"), col("rep").as("doc_a"),
        lit(null).cast("long").as("doc_b"),
        lit(null).cast("int").as("hamming"),
        expr("sz * (sz - 1) DIV 2").as("n_pairs"))
    stars.unionByName(nearRows).unionByName(classRows)
  }

  /** DuckDB mirror of [[jaccardNearDupReportFrom]] at t10/10: the same
    * shingle-set classes (key = chr(30)-joined sorted set — the md5 is
    * an engine-side shuffle-width choice, the PARTITION it induces is
    * what matters), quadratic exact Jaccard over representatives for
    * the near rows. Structurally mirrors the contraction, so the oracle
    * stays sound on any corpus, dup-heavy or not. */
  private def jaccardReportOracle(t10: Int): String =
    jaccardReportOracleFrom(t10, shingleCte)

  /** The d11/d13 contracted-report oracle over any shingle CTE chain
    * ending in `sh(doc_id, s)` — d42 passes the dup-heavy corpus's
    * chain. */
  private def jaccardReportOracleFrom(t10: Int, shCte: String): String =
    s"""$shCte,
       |skeyed AS (
       |  SELECT doc_id, s,
       |    list_aggregate(list_sort(s), 'string_agg', chr(30)) AS k
       |  FROM sh),
       |cls AS (SELECT k, min(doc_id) AS rep, count(*) AS sz
       |        FROM skeyed GROUP BY k),
       |stars AS (
       |  SELECT 'star' AS kind, c.rep AS doc_a, d.doc_id AS doc_b,
       |    len(d.s) AS inter, len(d.s) AS uni, CAST(NULL AS BIGINT) AS n_pairs
       |  FROM skeyed d JOIN cls c ON d.k = c.k WHERE d.doc_id <> c.rep),
       |reps AS (SELECT c.rep AS doc_id, d.s, c.sz
       |         FROM cls c JOIN skeyed d ON d.doc_id = c.rep),
       |nearp AS (
       |  SELECT 'near' AS kind, a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    len(list_intersect(a.s, b.s)) AS inter,
       |    len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)) AS uni,
       |    a.sz * b.sz AS n_pairs
       |  FROM reps a JOIN reps b ON a.doc_id < b.doc_id
       |  WHERE len(list_intersect(a.s, b.s)) * 10 >=
       |    $t10 * (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)))),
       |clsrows AS (
       |  SELECT 'class' AS kind, rep AS doc_a, CAST(NULL AS BIGINT) AS doc_b,
       |    CAST(NULL AS INT) AS inter, CAST(NULL AS INT) AS uni,
       |    sz * (sz - 1) // 2 AS n_pairs
       |  FROM cls WHERE sz > 1)
       |SELECT * FROM (SELECT * FROM stars UNION ALL SELECT * FROM nearp
       |  UNION ALL SELECT * FROM clsrows)
       |ORDER BY kind, doc_a, doc_b""".stripMargin

  // ------------------------------------------------------------- queries

  /** Exact dedup: keep the lowest doc_id per identical text
    * (hash-groupBy; at scale: groupBy(md5) to avoid wide-key shuffle). */
  val d10 = Q("d10_exact_dedup",
    """SELECT min(doc_id) AS keep_id, count(*) AS dup_count
      |FROM documents GROUP BY md5(text)
      |ORDER BY keep_id""".stripMargin) { (s, dir) =>
    T.documents(s, dir)
      .groupBy(md5(col("text").cast("binary")))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("dup_count"))
      .select("keep_id", "dup_count")
      .orderBy("keep_id")
  }

  /** MinHash+LSH near-dup report, exact-verified at jaccard ≥ 0.7 —
    * DEFAULT = the contracted report (r13 verdict item 1, the m10
    * precedent applied to text): set-equal classes star-contract and
    * the LSH banding + exact verification runs over class
    * REPRESENTATIVES only. [[minhashPairsFrom]] remains the
    * full-listing API (DedupSpec pins the report's lossless
    * reconstruction of it).
    *
    * Oracle: the contraction-mirroring quadratic scan over reps. Sound
    * because the LSH+verify pipeline equals the exact answer whenever
    * banding recall is 1 at the operating point — every planted
    * near-dup in this corpus has J ≥ 0.9, where the (64-hash, 16-band)
    * s-curve miss probability is (1 − 0.9⁴)¹⁶ ≈ 4e-8, and the whole
    * pipeline is deterministic (xxhash64, no RNG), so gate-time
    * behavior is identical to the local validation run. Verification
    * makes precision exact by construction. */
  val d11 = Q("d11_minhash_lsh_pairs", jaccardReportOracle(7)) { (s, dir) =>
    jaccardNearDupReport(s, dir, reps => minhashPairsFrom(reps, 0.7))
      .orderBy("kind", "doc_a", "doc_b")
  }

  /** SimHash near-dup report at Hamming ≤ 6 — DEFAULT = the contracted
    * report (identical-signature classes star-contract; banding runs
    * over representatives). The DuckDB mirror recomputes the md5-based
    * token hashes, the 64-bit majority vote, the class contraction, the
    * 4×16-bit chunk-sharing condition AND the Hamming cutoff from the
    * raw documents table (pure bit math end to end). Oracle equality on
    * the near rows relies on no chunk bucket of the REPRESENTATIVE
    * relation exceeding the 1024 cap, structural at the sf0.01 gate
    * (bucket ≤ corpus = 500 docs); DedupSpec pins the recall contract
    * and the lossless reconstruction independently. */
  val d12 = Q("d12_simhash_pairs",
    s"""WITH $simsSqlCte,
       |cls AS (SELECT sim, min(doc_id) AS rep, count(*) AS sz
       |        FROM sims GROUP BY sim),
       |stars AS (
       |  SELECT 'star' AS kind, c.rep AS doc_a, f.doc_id AS doc_b,
       |    0 AS hamming, CAST(NULL AS BIGINT) AS n_pairs
       |  FROM sims f JOIN cls c ON f.sim = c.sim WHERE f.doc_id <> c.rep),
       |nearp AS (
       |  SELECT 'near' AS kind, a.rep AS doc_a, b.rep AS doc_b,
       |    CAST(bit_count(xor(a.sim, b.sim)) AS INT) AS hamming,
       |    a.sz * b.sz AS n_pairs
       |  FROM cls a JOIN cls b ON a.rep < b.rep
       |  WHERE bit_count(xor(a.sim, b.sim)) <= 6
       |    AND (((xor(a.sim, b.sim) >> 0) & 65535) = 0
       |      OR ((xor(a.sim, b.sim) >> 16) & 65535) = 0
       |      OR ((xor(a.sim, b.sim) >> 32) & 65535) = 0
       |      OR ((xor(a.sim, b.sim) >> 48) & 65535) = 0)),
       |clsrows AS (
       |  SELECT 'class' AS kind, rep AS doc_a, CAST(NULL AS BIGINT) AS doc_b,
       |    CAST(NULL AS INT) AS hamming, sz * (sz - 1) // 2 AS n_pairs
       |  FROM cls WHERE sz > 1)
       |SELECT * FROM (SELECT * FROM stars UNION ALL SELECT * FROM nearp
       |  UNION ALL SELECT * FROM clsrows)
       |ORDER BY kind, doc_a, doc_b""".stripMargin) { (s, dir) =>
    simhashNearDupReportFrom(
      simsOf(shingled(s, dir).select("doc_id", "toks")), 6)
      .orderBy("kind", "doc_a", "doc_b")
  }

  /** Permuted-table SimHash search — the WEB-SCALE banding for Hamming
    * search (the block-permutation idea of Manku, Jain & Das Sarma,
    * WWW'07 "Detecting Near-Duplicates for Web Crawling"): the fixed
    * 4×16-bit chunking of [[simhashPairsFromToks]] only guarantees a
    * shared chunk for pairs whose ≤maxHamming differing bits fall into
    * ≤3 chunks, and its 65,536-key space makes every bucket grow
    * linearly with the corpus (10⁹ docs ⇒ ~15k-doc buckets ⇒ quadratic
    * in-bucket work). Here each of `tables` deterministic bit
    * permutations buckets the signature on its top `prefixBits` bits:
    * the key space is 2^prefixBits PER TABLE and prefixBits sizes to
    * the corpus (default n/128 target occupancy, the same adaptive rule
    * as nearDupPairs' hyperplane bits), so expected bucket size stays
    * CONSTANT as the corpus grows. A pair within maxHamming shares a
    * bucket in table t iff none of its differing bits land in t's
    * prefix — probability ((64−maxHamming)/64)^prefixBits per table,
    * amplified across tables (8 tables × 12 bits at h ≤ 6 ⇒ ~99.5%
    * recall). Precision is exact (bucket-local Hamming verify), the
    * permutations are seed-fixed so output is deterministic, and hot
    * buckets star-contract under the same `bucketCap` contract. */
  def simhashPairsPermuted(withToks: DataFrame, maxHamming: Int,
      tables: Int = 8, prefixBits: Int = 0,
      bucketCap: Int = DefaultBucketCap): DataFrame = {
    val n = withToks.count()
    val bits =
      if (prefixBits > 0) prefixBits
      else math.min(28, math.max(4,
        (math.log(n.toDouble / 128.0) / math.log(2)).ceil.toInt))
    val buckets = simhashPermutedKeyRows(withToks, tables, bits)
      .groupBy(col("tk.tbl").as("tbl"), col("tk.key").as("key"))
      .agg(collect_list(struct(col("doc_id"), col("sim"))).as("xs"))
      .filter(size(col("xs")) > 1)
    cappedBucketPairs(buckets, "xs",
      """flatten(transform(xs, a ->
           transform(filter(xs, b -> b.doc_id > a.doc_id),
                     b -> struct(a, b))))""",
      """transform(filter(xs, x -> x.doc_id > rep.doc_id),
           x -> named_struct('a', rep, 'b', x))""",
      bucketCap)
      .select(col("p.a.doc_id").as("doc_a"), col("p.b.doc_id").as("doc_b"),
        expr("bit_count(p.a.sim ^ p.b.sim)").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** One row per (doc, table) of the permuted-prefix banding: (doc_id,
    * sim, tk.tbl, tk.key) — the per-table key is the top `bits` bits of
    * the permuted signature, assembled as a flat shift-mask-or
    * expression (whole-stage codegen). Exposed for the gate-scale cap
    * guard (OracleCapGuardSpec). */
  private[graft] def simhashPermutedKeyRows(withToks: DataFrame,
      tables: Int, bits: Int): DataFrame = {
    val perms = simhashPerms(tables)
    val sigs = withToks.select(col("doc_id"),
      graft.functions.HashSketches.simhash_64(
        expr_tokens_hashed(col("toks"))).as("sim"))
    val keyCols = perms.zipWithIndex.map { case (p, t) =>
      val key = (0 until bits)
        .map(j => s"((sim >> ${p(j)}) & 1) << $j")
        .mkString("(", ") | (", ")")
      expr(s"named_struct('tbl', $t, 'key', $key)")
    }
    sigs.select(col("doc_id"), col("sim"),
      explode(array(keyCols: _*)).as("tk"))
  }

  /** The seed-fixed table permutations shared by [[simhashPairsPermuted]]
    * and the d26 oracle builder — one RNG stream, so table t's
    * permutation is identical on both paths. */
  private[graft] def simhashPerms(tables: Int): Seq[Vector[Int]] = {
    val rnd = new scala.util.Random(20260815L)
    Seq.fill(tables)(rnd.shuffle((0 until 64).toVector))
  }

  /** The d26 oracle SQL for a given adaptive prefix width and bucket
    * cap — it MIRRORS THE HOT-BUCKET STAR CONTRACTION (r13 verdict item
    * 2): per-table buckets are materialized from the same seed-fixed
    * permutations the engine uses (each table's bucket key is the
    * permuted `bits`-bit prefix, compiled to shift-mask constants);
    * buckets at or under `cap` emit all pairs, buckets above it emit
    * star pairs against the bucket's min doc_id — byte-for-byte the
    * [[cappedBucketPairs]] contract — then the exact Hamming ≤ 6 verify
    * and the cross-table distinct. The registered gate oracle embeds
    * (bits=4, cap=1024), valid for corpora ≤ 2048 docs where no bucket
    * can exceed the cap anyway; tools/patch_oracle_scale.py regenerates
    * the same form at the target corpus's adaptive width, so the sf0.1
    * record exercises the cap branch for real (its measured buckets run
    * 1349–2419). */
  private[graft] def d26OracleSql(bits: Int, cap: Int): String = {
    val keySelects = simhashPerms(8).zipWithIndex.map { case (p, t) =>
      val key = (0 until bits)
        .map(j => s"(((sim >> ${p(j)}) & 1) << $j)")
        .mkString(" | ")
      s"  SELECT doc_id, sim, $t AS tbl, $key AS bk FROM sims"
    }.mkString("\n  UNION ALL\n")
    s"""WITH $simsSqlCte,
       |keys AS (
       |$keySelects),
       |bkt AS (SELECT tbl, bk, min(doc_id) AS rep, count(*) AS n
       |        FROM keys GROUP BY tbl, bk),
       |cand AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM keys a JOIN keys b ON a.tbl = b.tbl AND a.bk = b.bk
       |    AND a.doc_id < b.doc_id
       |  JOIN bkt k ON k.tbl = a.tbl AND k.bk = a.bk
       |  WHERE k.n <= $cap
       |  UNION
       |  SELECT k.rep AS doc_a, x.doc_id AS doc_b
       |  FROM keys x JOIN bkt k ON k.tbl = x.tbl AND k.bk = x.bk
       |  WHERE k.n > $cap AND x.doc_id <> k.rep),
       |verified AS (
       |  SELECT DISTINCT c.doc_a, c.doc_b, xor(sa.sim, sb.sim) AS x
       |  FROM cand c JOIN sims sa ON sa.doc_id = c.doc_a
       |              JOIN sims sb ON sb.doc_id = c.doc_b)
       |SELECT doc_a, doc_b, CAST(bit_count(x) AS INT) AS hamming
       |FROM verified WHERE bit_count(x) <= 6
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  /** Permuted-table SimHash pairs at Hamming ≤ 6 — oracle-exact WITH
    * the cap mirrored (see [[d26OracleSql]]): the oracle materializes
    * the same per-table prefix buckets from the seed-fixed permutations
    * and replays the over-cap star contraction, so the registered
    * query's at-scale output is oracle-proven rather than asserted.
    * The gate SQL hardcodes the adaptive prefix at bits=4, valid for
    * corpora ≤ 2048 docs — the sf0.01 gate runs 500. DedupSpec pins
    * recall vs the exact Hamming scan at other parameters. */
  val d26 = Q("d26_simhash_permuted",
    d26OracleSql(bits = 4, cap = DefaultBucketCap)) { (s, dir) =>
    simhashPairsPermuted(shingled(s, dir).select("doc_id", "toks"), 6)
      .orderBy("doc_a", "doc_b")
  }

  /** Exact n-gram Jaccard near-dup report at J ≥ 0.3 — DEFAULT = the
    * contracted report: the count-based inverted-index join
    * ([[exactJaccardPairs]]) runs over shingle-set class REPRESENTATIVES,
    * so verbatim-duplicate documents no longer pay Θ(class²)
    * co-occurrence rows through every shared shingle (the r13 verdict's
    * d13 finding). Exact by construction at every stage, so the
    * contraction-mirroring quadratic DuckDB scan is a true oracle at
    * any threshold — unconditionally, because the report path DISABLES
    * the df-cap (ε = 0): over representatives the cap's N would be the
    * rep count while the oracle applies none, so on a stop-shingle-heavy
    * corpus a binding cap would silently diverge (r14 advisor). The full
    * listing stays the [[exactJaccardPairs]] API (DedupSpec pins
    * lossless reconstruction). */
  val d13 = Q("d13_ngram_jaccard_pairs", jaccardReportOracle(3)) { (s, dir) =>
    // near arm = the shared rep-pair silver: the report's classes use
    // the same shingle-set key, so its reps ARE the silver's basis
    jaccardNearDupReport(s, dir,
      _ => repJaccardPairsSilver(s, dir, RepPairThreshold))
      .orderBy("kind", "doc_a", "doc_b")
  }

  /** Near-dup clusters over the exact J ≥ 0.3 pair graph, canonical =
    * component min. The oracle recomputes the pairs quadratically and
    * takes the transitive closure with a recursive CTE — exact CC ground
    * truth, feasible because the gate corpus is small; the Spark side is
    * the log-round contraction that holds at any scale. */
  val d14 = Q("d14_dedup_clusters",
    s"""${shingleCte.replaceFirst("WITH ", "WITH RECURSIVE ")},
       |pairs AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM sh a, sh b
       |  WHERE a.doc_id < b.doc_id
       |    AND len(list_intersect(a.s, b.s)) * 10 >=
       |        3 * (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)))
       |),
       |edges AS (
       |  SELECT doc_a AS u, doc_b AS v FROM pairs
       |  UNION ALL SELECT doc_b, doc_a FROM pairs
       |),
       |reach(a, b) AS (
       |  SELECT u, u FROM edges
       |  UNION
       |  SELECT r.a, e.v FROM reach r JOIN edges e ON r.b = e.u
       |)
       |SELECT a AS doc_id, min(b) AS canonical_id
       |FROM reach GROUP BY a ORDER BY doc_id""".stripMargin) { (s, dir) =>
    dupClusters(jaccardComponentEdges(s, dir, RepPairThreshold))
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------- d35

  /** Quality-aware keeper selection — the production rule on top of
    * d14's clusters: instead of keeping the min-id member, keep the
    * HIGHEST-QUALITY one (here: most tokens, min doc_id tie-break — an
    * integer rule, so the verdict is engine-exact). One narrow join of
    * the cluster table against the quality column and a per-cluster
    * max_by; the cluster table is |clustered docs| rows, never the
    * corpus. */
  def qualityKeepers(clusters: DataFrame, quality: DataFrame): DataFrame = {
    val q = clusters.join(quality, "doc_id")
    val keepers = q.groupBy("canonical_id")
      .agg(max_by(col("doc_id"),
        struct(col("n_tokens"), -col("doc_id"))).as("keeper_id"))
    q.join(keepers, "canonical_id")
      .select(col("doc_id"), col("canonical_id"), col("keeper_id"),
        (col("doc_id") === col("keeper_id")).as("keep"))
  }

  val d35 = Q("d35_quality_keeper",
    s"""${shingleCte.replaceFirst("WITH ", "WITH RECURSIVE ")},
       |pairs AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM sh a, sh b
       |  WHERE a.doc_id < b.doc_id
       |    AND len(list_intersect(a.s, b.s)) * 10 >=
       |        3 * (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)))
       |),
       |edges AS (
       |  SELECT doc_a AS u, doc_b AS v FROM pairs
       |  UNION ALL SELECT doc_b, doc_a FROM pairs
       |),
       |reach(a, b) AS (
       |  SELECT u, u FROM edges
       |  UNION
       |  SELECT r.a, e.v FROM reach r JOIN edges e ON r.b = e.u
       |),
       |cl AS (SELECT a AS doc_id, min(b) AS canonical_id FROM reach GROUP BY a),
       |n AS (SELECT doc_id,
       |  CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT)
       |    AS n_tokens FROM documents),
       |k AS (
       |  SELECT cl.doc_id, cl.canonical_id, n.n_tokens,
       |    row_number() OVER (PARTITION BY cl.canonical_id
       |      ORDER BY n.n_tokens DESC, cl.doc_id) AS rk
       |  FROM cl JOIN n ON cl.doc_id = n.doc_id
       |),
       |kk AS (SELECT canonical_id, doc_id AS keeper_id FROM k WHERE rk = 1)
       |SELECT k.doc_id, k.canonical_id, kk.keeper_id,
       |  k.doc_id = kk.keeper_id AS keep
       |FROM k JOIN kk ON k.canonical_id = kk.canonical_id
       |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.functions.{size, split, trim}
    qualityKeepers(
      dupClusters(jaccardComponentEdges(s, dir, RepPairThreshold)),
      graft.Tables.documents(s, dir).select(col("doc_id"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("n_tokens")))
      .orderBy("doc_id")
  }

  // ------------------------------------------- d42/d43: dup-heavy corpus

  /** Deterministic DUP-HEAVY corpus derived from the documents table:
    * copy c of source doc d (c ∈ 0..d%10) gets doc_id = d·16 + c and
    * d's verbatim text, so exact shingle-set classes have sizes 1–10
    * (mean 5.5) BY CONSTRUCTION — the class structure the driver
    * fixture lacks (4,992/5,000 distinct texts at sf0.1, SCALING.md),
    * which until now left the contracted reports' class-merge machinery
    * hash-proven only where contraction barely binds (r15 verdict
    * item 1). The derivation is pure arithmetic over (doc_id, text), so
    * the DuckDB oracle regenerates the corpus in SQL and replays the
    * contraction where stars, rep pairs and class counts are all
    * non-trivial. */
  def dupHeavyDocuments(s: SparkSession, dir: String): DataFrame =
    T.documents(s, dir).select(col("doc_id"), col("text"))
      .withColumn("c",
        explode(sequence(lit(0L), col("doc_id") % DupCopyMod)))
      .select((col("doc_id") * DupCopyStride + col("c")).as("doc_id"),
        col("text"))

  /** Copy-id explosion of a per-SOURCE-doc frame: one row per dup-heavy
    * doc_id carrying its source row's columns. Because every copy holds
    * its source's VERBATIM text, any text-derived column (shingle set,
    * md5 class key) is computed once per source and replicated here —
    * instead of once per copy (5.5× the rows), and, for shingles,
    * instead of through the inline [[shingles]] column whose
    * split-in-lambda shape costs ~1000 regex evaluations per document
    * (the exact pathology the [[shingled]] silver exists to avoid —
    * measured 38.8 s of d42's 42 s at sf0.1, guide §1/§4). */
  private def explodeDupCopies(perSource: DataFrame): DataFrame =
    perSource
      .withColumn("c",
        explode(sequence(lit(0L), col("doc_id") % DupCopyMod)))
      .withColumn("doc_id", col("doc_id") * DupCopyStride + col("c"))
      .drop("c")

  /** The rep-pair silver mapped through the dup-heavy id arithmetic:
    * copies are verbatim, so rep_dup = DupCopyStride·rep_src with
    * identical (inter, uni) — the ONE place the ×stride map is applied
    * for both d42 and d43. */
  private def dupHeavyRepPairs(s: SparkSession, dir: String): DataFrame =
    repJaccardPairsSilver(s, dir, RepPairThreshold).select(
      (col("doc_a") * DupCopyStride).as("doc_a"),
      (col("doc_b") * DupCopyStride).as("doc_b"),
      col("inter"), col("uni"))

  /** (doc_id, sh) of the dup-heavy corpus, from the shared shingle
    * silver: identical output to shingling each copy's text (copies are
    * verbatim), with the shingle pass paid once per SOURCE doc in the
    * ingest-phase silver build. */
  def dupHeavyShingled(s: SparkSession, dir: String): DataFrame =
    explodeDupCopies(shingled(s, dir).select(col("doc_id"), col("sh")))

  /** DuckDB mirror of [[dupHeavyDocuments]] — `dup(doc_id, text)`. */
  private[operators] val dupHeavyCte: String =
    s"""dup AS (
       |  SELECT doc_id * $DupCopyStride + c AS doc_id, text
       |  FROM (SELECT doc_id, text,
       |               unnest(range(0, 1 + doc_id % $DupCopyMod)) AS c
       |        FROM documents))""".stripMargin

  /** d42: the d13 contracted report replayed on the dup-heavy corpus —
    * the oracle's star rows have classes of size up to 10·(verbatim
    * source multiplicity), near rows carry n_pairs = |A|·|B| > 1, and
    * class rows count C(sz,2) pairs, so the contraction machinery is
    * hash-checked where it actually binds. */
  val d42 = Q("d42_dupheavy_report",
    jaccardReportOracleFrom(3,
      s"WITH $dupHeavyCte,\n${shingleCteBody("dup")}")) { (s, dir) =>
    // silver-backed shingles (no localCheckpoint needed: both readers —
    // the keyed pass and the rep semi-join — re-scan a pruned parquet
    // silver plus a narrow explode). Near arm = the shared rep-pair
    // silver under the ×16 id map (copies are verbatim ⇒ rep_dup =
    // 16·rep_src with identical (inter, uni) — see repJaccardPairsSilver)
    jaccardNearDupReportFrom(dupHeavyShingled(s, dir),
      _ => dupHeavyRepPairs(s, dir))
      .orderBy("kind", "doc_a", "doc_b")
  }

  /** d43: the d14 clusters replayed on the dup-heavy corpus — exact
    * text classes contract to stars, Jaccard runs over representatives
    * (the [[jaccardComponentEdges]] pipeline on the derived frame), and
    * the doc-level listing is emitted, so the cluster contraction is
    * hash-checked with non-trivial class merges. The oracle clusters
    * the contracted rep graph with the closure seeded at local minima
    * (m09's recipe) and expands members through their text class. */
  val d43 = Q("d43_dupheavy_clusters",
    s"""WITH RECURSIVE $dupHeavyCte,
       |tcls AS MATERIALIZED (
       |  SELECT text, min(doc_id) AS rep, count(*) AS sz
       |  FROM dup GROUP BY text),
       |keyed AS MATERIALIZED (
       |  SELECT d.doc_id, t.rep FROM dup d JOIN tcls t USING (text)),
       |repdocs AS (SELECT rep AS doc_id, text FROM tcls),
       |${shingleCteBody("repdocs")},
       |rpair AS (
       |  SELECT a.doc_id AS u, b.doc_id AS v FROM sh a, sh b
       |  WHERE a.doc_id < b.doc_id
       |    AND len(list_intersect(a.s, b.s)) * 10 >=
       |        3 * (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)))),
       |sym AS MATERIALIZED (
       |  SELECT u, v FROM rpair UNION SELECT v, u FROM rpair),
       |seeds AS (
       |  SELECT u FROM (SELECT u, min(v) AS mn FROM sym GROUP BY u)
       |  WHERE mn > u),
       |reach(root, v) AS (
       |  SELECT u, u FROM seeds
       |  UNION
       |  SELECT r.root, e.v FROM reach r JOIN sym e ON r.v = e.u),
       |comp AS MATERIALIZED (
       |  SELECT v AS rep, min(root) AS canonical FROM reach GROUP BY v),
       |repassign AS (
       |  SELECT rep, canonical FROM comp
       |  UNION ALL
       |  SELECT rep, rep FROM tcls
       |  WHERE sz > 1 AND rep NOT IN (SELECT rep FROM comp))
       |SELECT k.doc_id, a.canonical AS canonical_id
       |FROM keyed k JOIN repassign a USING (rep)
       |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    // exact classes keyed by SHINGLE SET (computed once per source doc
    // and exploded over copies — verbatim text ⇒ identical key): a
    // contraction at least as coarse as the oracle's equal-text classes
    // and still component-lossless (set-equal docs are pairwise J = 1),
    // so every (doc_id, canonical) row is identical while the rep pairs
    // come from the shared silver under the ×16 id map
    val keyed = explodeDupCopies(shingled(s, dir)
      .select(col("doc_id"), shingleSetKey(col("sh")).as("__k")))
    val reps = keyed.groupBy("__k").agg(min("doc_id").as("rep"))
    val star = keyed.join(reps, Seq("__k"))
      .filter(col("doc_id") =!= col("rep"))
      .select(col("rep").as("doc_a"), col("doc_id").as("doc_b"))
    val repPairs = dupHeavyRepPairs(s, dir).select("doc_a", "doc_b")
    dupClusters(star.unionByName(repPairs)).orderBy("doc_id")
  }

  val all: Seq[Q] = Seq(d10, d11, d12, d13, d14, d26, d35, d42, d43)
}
