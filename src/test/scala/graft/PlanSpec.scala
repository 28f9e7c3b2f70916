package graft

import graft.operators.{Relational, Similarity}
import org.apache.spark.sql.functions._

/** Physical-plan audits: the properties that make these queries survive a
  * 100× scale-up, asserted so regressions fail loudly. */
class PlanSpec extends SparkSpec {

  private def plan(q: Q): String =
    q.fn(spark, sf).queryExecution.executedPlan.toString

  private def formatted(q: Q): String = {
    val df = q.fn(spark, sf)
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
  }

  test("filters are pushed into the parquet scan") {
    val f = formatted(Relational.q02)
    assert(f.contains("PushedFilters:"), "expected PushedFilters section")
    assert(f.contains("IsNotNull(l_returnflag)") ||
      f.contains("EqualTo(l_returnflag,R)"),
      s"filter not pushed:\n${f.take(2000)}")
  }

  test("projection pruning reaches the scan (ReadSchema)") {
    val f = formatted(Relational.q02)
    val read = f.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!read.contains("l_partkey") && !read.contains("l_comment"),
      s"scan reads pruned columns: $read")
  }

  test("dimension joins broadcast; no shuffle on the small side") {
    val p = plan(Relational.q12)
    assert(p.contains("BroadcastHashJoin"), "star joins must broadcast dims")
    val p18 = plan(Relational.q18)
    assert(p18.contains("BroadcastHashJoin"))
  }

  test("nftItems never force-broadcasts the unbounded collections dim " +
      "(J8 scale contract: entity dims are ≤1e9 rows, LAYOUT.md)") {
    import spark.implicits._
    val items = Seq(("n1", "c1", "1", "0:HOLDER", 1L))
      .toDF("address", "collection_address", "index", "owner_address", "id")
    val collections = Seq(("c1", "0:CO", "{}"))
      .toDF("address", "owner_address", "collection_content")
    val sales = Seq(("0:SALE", false, "0:REAL_S", "n2"))
      .toDF("address", "is_complete", "nft_owner_address", "nft_address")
    val auctions = Seq(("0:AUCTION", false, "0:REAL_A", "n3"))
      .toDF("address", "end_flag", "nft_owner", "nft_addr")
    // kill auto-broadcast so only HINTED broadcasts survive planning —
    // the hinted live sales/auctions subsets must broadcast, the
    // collections join must not
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val p = graft.operators.QueryLayer
        .nftItemsByRequest(items, collections, sales, auctions,
          graft.operators.QueryLayer.NftItemsRequest())
        .queryExecution.executedPlan.toString
      val broadcastJoins =
        p.linesIterator.filter(_.contains("BroadcastHashJoin")).toSeq
      assert(!broadcastJoins.exists(_.contains("collection_address")),
        s"collections dim is broadcast:\n$p")
      assert(broadcastJoins.size == 2,
        s"expected exactly the 2 hinted live-subset broadcasts:\n$p")
    } finally
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("top-k compiles to TakeOrderedAndProject, not a global sort") {
    assert(plan(Relational.q21).contains("TakeOrderedAndProject"))
    assert(plan(Relational.q28).contains("TakeOrderedAndProject"))
    // every paged QueryLayer route, first page and a later one: the
    // limit+offset must stay one TakeOrderedAndProject of off+lim rows
    import graft.operators.QueryLayer._
    val globalSort = """Sort \[.*\], true""".r
    def topK(name: String, df: org.apache.spark.sql.DataFrame): Unit = {
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("TakeOrderedAndProject") &&
        p.linesIterator.forall(globalSort.findFirstIn(_).isEmpty),
        s"$name: a global sort feeds the limit:\n$p")
    }
    // one wide parquet frame serves every route's table role (a scan of
    // unknown size: over a Range the optimizer drops a limit above its
    // row count)
    val str = (p: String) => concat(lit(p), (col("id") % 4).cast("string"))
    val dir = java.nio.file.Files.createTempDirectory("graft-page").toString
    spark.range(64).select(col("id"),
      str("0:").as("account"), str("0:").as("address"), str("T").as("hash"),
      str("T").as("tx_hash"), str("M").as("msg_hash"), str("U").as("trace_id"),
      str("A").as("action_id"), str("w").as("dns_wallet"), str("d").as("domain"),
      str("n").as("nft_item_address"), str("0:").as("owner_address"),
      str("0:").as("admin_address"), str("0:").as("multisig_address"),
      str("c").as("collection_address"), str("i").as("index"),
      str("{}").as("collection_content"), str("n").as("nft_address"),
      str("n").as("nft_addr"), str("0:").as("nft_owner_address"),
      str("0:").as("nft_owner"), str("0:").as("vesting_sender_address"),
      str("0:").as("vesting_contract_address"), str("0:").as("wallet_address"),
      str("0:").as("owner"), str("0:").as("source"), str("0:").as("destination"),
      str("0:").as("old_owner"), str("0:").as("new_owner"), str("j").as("jetton"),
      str("w").as("jetton_wallet_address"), str("j").as("jetton_master_address"),
      str("c").as("nft_collection_address"), str("h").as("code_hash"),
      str("b").as("data_boc"), lit("in").as("direction"),
      lit("ton_transfer").as("type"),
      array().cast("array<string>").as("ancestor_type"),
      array(str("0:")).as("signers"), array(str("0:")).as("proposers"),
      (col("id") % 3 === 0).as("is_complete"), (col("id") % 3 === 0).as("end_flag"),
      lit(false).as("tx_aborted"), lit(0).as("workchain"),
      col("id").as("lt"), col("id").as("now"), col("id").as("end_lt"),
      col("id").as("end_utime"), col("id").as("trace_end_lt"),
      col("id").as("trace_end_utime"), col("id").as("action_end_lt"),
      col("id").as("action_end_utime"), col("id").as("tx_lt"),
      col("id").as("tx_now"), col("id").as("created_lt"),
      col("id").as("created_at"), col("id").as("gen_utime"),
      col("id").as("seqno"), col("id").as("shard"),
      col("id").as("mc_block_seqno"), col("id").as("balance"),
      col("id").as("mintless_amount"), col("id").as("last_transaction_lt"))
      .write.parquet(s"$dir/t")
    val t = spark.read.parquet(s"$dir/t")
    for (off <- Seq(0, 7)) {
      val acct = Some("0:1")
      Seq(
        "transactions" -> transactions(t, TxRequest(account = acct, offset = off)),
        "tracesByRequest" ->
          tracesByRequest(t, t, t, TraceRequest(account = acct, offset = off)),
        "actionsByRequest" ->
          actionsByRequest(t, t, ActionsRequest(account = acct, offset = off)),
        "topAccountsByBalance" -> topAccountsByBalance(t, offset = off),
        "dnsByRequest" -> dnsByRequest(t, Some("w1"), None, offset = off),
        "multisigByRequest" ->
          multisigByRequest(t, wallets = Seq("0:1"), offset = off),
        "vestingByRequest" -> vestingByRequest(t, t, wallets = Seq("0:1"),
          checkWhitelist = true, offset = off),
        "nftItemsByRequest" ->
          nftItemsByRequest(t, t, t, t, NftItemsRequest(offset = off)),
        "jettonTransfers" ->
          jettonTransfers(t, TokenEventRequest(owner = Seq("0:1"), offset = off)),
        "jettonBurns" -> jettonBurns(t, TokenEventRequest(offset = off)),
        "nftTransfers" -> nftTransfers(t, TokenEventRequest(offset = off)),
        "jettonWallets" -> jettonWallets(t, t, owners = Seq("0:1"),
          sortBalanceDesc = Some(true), offset = off),
        "multisigOrdersByRequest" ->
          multisigOrdersByRequest(t, multisigs = Seq("0:1"), offset = off)
      ).foreach { case (name, df) => topK(s"$name offset $off", df) }
    }
    // the limit-only routes
    Seq(
      "tracesByAccount" -> tracesByAccount(t, t, "0:1"),
      "actions" -> actions(t, Seq("ton_transfer")),
      "blocks" -> blocks(t, BlockRequest()),
      "messages" -> messages(t, MessageRequest()),
      "accountStates" -> accountStates(t),
      "walletStates" -> walletStates(t),
      "masterchainBlockShardState" -> masterchainBlockShardState(t, 7L),
      "jettonMasters" -> jettonMasters(t),
      "nftCollections" -> nftCollections(t)
    ).foreach { case (name, df) => topK(name, df) }
  }

  test("semi/anti joins stay semi/anti at the physical level") {
    assert(plan(Relational.q13).contains("LeftSemi"))
    assert(plan(Relational.q14).contains("LeftAnti"))
  }

  test("whole-stage codegen covers the scan->filter->project pipeline") {
    // AQE finalizes the plan only at execution time
    val df = Relational.q02.fn(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("WholeStageCodegen") || p.contains("*("),
      "hot path fell out of codegen")
  }

  test("native cosine expression stays inside codegen") {
    val emb = Tables.embeddings(spark, sf)
    val df = emb.select(
      graft.functions.CosineSimilarity.cosine_sim(
        transform(col("embedding"), x => x.cast("double")),
        transform(col("embedding"), x => x.cast("double"))).as("s"))
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("WholeStageCodegen") || p.contains("*("))
    assert(!p.contains("Fallback"), "cosine must not fall back from codegen")
  }

  test("e05 exact near-dup broadcasts the pair side (no cartesian shuffle)") {
    // the registered e05 reads the materialized silver; the broadcast
    // shape lives in the BUILD plan
    val p = Similarity.exactPairsBuild(spark, sf)
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"exact pair scan must broadcast one side:\n${p.take(1200)}")
  }

  test("d23 mixture sampling broadcasts the offset table; no corpus-wide " +
      "window partition") {
    val p = plan(graft.operators.Curation.d23)
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      s"the (source, hbucket) offset table must broadcast:\n${p.take(1500)}")
    // every window partitions by (source, hbucket) or (source) over the
    // TINY offset frame — never a corpus window keyed by source alone
    // in the row-path (detect by requiring hbucket in the row-side spec)
    assert(p.contains("hbucket"), "expected hash-bucketed window keys")
  }

  test("e10 IVF+int8 composite broadcasts probes and centroids; the " +
      "corpus side never shuffles for the probe join") {
    val p = Similarity.ivfQuantizedTopK(
      Tables.embeddings(spark, sf),
      Tables.embeddings(spark, sf).selectExpr("vec_id AS neighbor_id",
        "transform(embedding, x -> CAST(1 AS BIGINT)) AS cq",
        "CAST(1.0 AS DOUBLE) AS cs"),
      Tables.embeddings(spark, sf).filter(col("vec_id") < 8), 5)
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"),
      s"probed labels must broadcast into the code scan:\n${p.take(1500)}")
  }

  test("d13 exact jaccard is a count-based join, no per-pair array verify") {
    val p = plan(graft.operators.Dedup.d13)
    assert(!p.contains("array_intersect"),
      "count-based jaccard must not re-verify with array_intersect")
    assert(p.contains("HashAggregate") || p.contains("ObjectHashAggregate"),
      "pair intersection must come from an aggregation")
  }

  test("jettonWallets family broadcasts the mintless dimension") {
    import spark.implicits._
    val wallets = (1 to 100).map(i =>
      (s"w$i", s"0:${i % 7}", s"j${i % 3}", i.toLong, i.toLong))
      .toDF("address", "owner", "jetton", "balance", "id")
    val mintless = Seq(("j1", 5L)).toDF("address", "mintless_amount")
    val q = graft.operators.QueryLayer.jettonWallets(
      wallets, mintless, owners = Seq("0:1"), excludeZeroBalance = true)
    q.collect()
    val p = q.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"),
      s"mintless dim join must broadcast:\n${p.take(1200)}")
  }

  test("endpoint-family queries (a04-a10) are top-k shapes with pushed " +
      "filters — pagination never globally sorts") {
    import graft.operators.ApiQueries
    // blocks/masters/collections/dns: filter -> TakeOrderedAndProject
    for (q <- Seq(ApiQueries.a04, ApiQueries.a06, ApiQueries.a07,
        ApiQueries.a08, ApiQueries.a10)) {
      val p = plan(q)
      assert(p.contains("TakeOrderedAndProject"),
        s"${q.name}: limit+sort must be top-k, got:\n${p.take(800)}")
    }
    // the source filters reach the scan (events/customer/part/supplier
    // are raw parquet here)
    val f04 = formatted(ApiQueries.a04)
    assert(f04.contains("PushedFilters:") && f04.contains("event_id"),
      s"a04 range filter not pushed:\n${f04.take(1200)}")
    val f08 = formatted(ApiQueries.a08)
    assert(f08.contains("EqualTo(p_brand,Brand#3)"),
      s"a08 owner filter not pushed:\n${f08.take(1200)}")
  }

  test("a03 reads denormalized trace_end_utime — no query-time window " +
      "exchange over the actions set") {
    val df = graft.operators.ApiQueries.a03.fn(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Window"),
      s"a03 must not window over actions:\n${p.take(1200)}")
    assert(p.contains("TakeOrderedAndProject"),
      "the pagination sort+limit must be top-k")
  }

  test("the classifier dims feed never ships message bodies through its " +
      "shuffle (built from the sources, not the wide classify join)") {
    import spark.implicits._
    val txs = Seq(("t1", "T1", "0:A", 1L, 1)).toDF(
      "hash", "trace_id", "account", "lt", "now")
      .withColumn("orig_status", lit("active"))
      .withColumn("end_status", lit("active"))
      .withColumn("aborted", lit(false))
      .withColumn("compute_exit_code", lit(null).cast("int"))
      .withColumn("action_result_code", lit(null).cast("int"))
      .withColumn("total_fees", lit(0L))
      .withColumn("descr", lit("ord"))
    val msgs = Seq(("t1", "m1", "in", "0:B", "0:A", 5L, null.asInstanceOf[java.lang.Long],
        false, false, 1L, "Qm9keUJsb2I=")).toDF(
      "tx_hash", "msg_hash", "direction", "source", "destination", "value",
      "opcode", "bounce", "bounced", "created_lt", "body")
    val jw = Seq(("0:A", "0:M")).toDF("account", "master")
    val acts = graft.classifier.ClassifyJob.run(spark, txs, msgs,
      graft.classifier.ClassifyDims(jettonWallets = Some(jw)))
    val p = acts.queryExecution.executedPlan.toString
    // the dims branch is the subplan feeding the dim-table join; the wide
    // classify join is the only place the body column may cross a shuffle.
    // Count exchanges whose output carries `body`: exactly the classify
    // branch's (1), never the dims aggregation's.
    val exchangesWithBody = p.linesIterator
      .filter(l => l.contains("Exchange hashpartitioning"))
      .count(_.contains("body"))
    assert(exchangesWithBody <= 1,
      s"dims feed leaks body columns into extra shuffles:\n${p.take(3000)}")
  }

  test("with a persisted body_keys column the dims branch never evaluates " +
      "the decode UDF (ingest decode-once actually short-circuits)") {
    import spark.implicits._
    val txs = Seq(("t1", "T1", "0:A", 1L, 1)).toDF(
      "hash", "trace_id", "account", "lt", "now")
      .withColumn("orig_status", lit("active"))
      .withColumn("end_status", lit("active"))
      .withColumn("aborted", lit(false))
      .withColumn("compute_exit_code", lit(null).cast("int"))
      .withColumn("action_result_code", lit(null).cast("int"))
      .withColumn("total_fees", lit(0L))
      .withColumn("descr", lit("ord"))
    val msgs = Seq(("t1", "m1", "in", "0:B", "0:A", 5L,
        null.asInstanceOf[java.lang.Long], false, false, 1L,
        "Qm9keUJsb2I=")).toDF(
      "tx_hash", "msg_hash", "direction", "source", "destination", "value",
      "opcode", "bounce", "bounced", "created_lt", "body")
      .withColumn("body_keys", array().cast("array<string>"))
    val jw = Seq(("0:A", "0:M")).toDF("account", "master")
    val acts = graft.classifier.ClassifyJob.run(spark, txs, msgs,
      graft.classifier.ClassifyDims(jettonWallets = Some(jw)))
    val p = acts.queryExecution.executedPlan.toString
    // exactly zero UDF invocations anywhere in the plan: the classify
    // branch decodes inside flatMapGroups (not a UDF), so any UDF here
    // means the dims branch re-decoded despite the persisted column
    assert(!p.contains("UDF"),
      s"dims branch re-decodes despite body_keys:\n${p.take(3000)}")
  }

  test("fact-side joins carry no broadcast hints (100×-scale audit)") {
    // typedActions joins the traces FACT table's meta projection — at
    // design scale that is 10⁸–10⁹ rows, so the join must be left to the
    // optimizer (shuffle at scale, AQE-broadcast only when truly small).
    val (_, msgs) = graft.plans.ChainSim.simulate(spark, sf)
    val (traces, _, txw) = graft.plans.ChainSim.assembled(spark, sf)
    val typed = graft.classifier.ClassifyJob.typedActions(
      spark, txw, msgs, traces)
    assert(!typed.queryExecution.analyzed.toString.contains("ResolvedHint"),
      "typedActions must not broadcast-hint the traces fact table")
    // the balance walk joins the jetton-wallets dim (≤10⁹ rows) — same rule
    val b16 = SparkEntry.queries("b16_action_balance_changes")(spark, sf)
    assert(!b16.queryExecution.analyzed.toString.contains("ResolvedHint"),
      "actionBalanceChanges must not broadcast-hint the jetton-wallets dim")
  }

  test("nftSales semi-prunes the items dim with the small filtered side") {
    import spark.implicits._
    import graft.operators.QueryLayer
    val sales = Seq(("s1", false, 100, "0:MP", "0:NFT1", "0:OWN1",
        BigDecimal(1000), "0:FEE", BigDecimal(50), "0:ROY", BigDecimal(25), 5L))
      .toDF("address", "is_complete", "created_at", "marketplace_address",
        "nft_address", "nft_owner_address", "full_price",
        "marketplace_fee_address", "marketplace_fee", "royalty_address",
        "royalty_amount", "last_transaction_lt")
    val auctions = Seq(("a1", false, 200, "0:MP", "0:NFT2", "0:OWN2",
        BigDecimal(777), BigDecimal(9999), BigDecimal(111), 999, "0:FEE",
        "0:ROY", 6L))
      .toDF("address", "end_flag", "created_at", "mp_addr", "nft_addr",
        "nft_owner", "last_bid", "max_bid", "min_bid", "end_time",
        "mp_fee_addr", "royalty_fee_addr", "last_transaction_lt")
    val items = Seq(("0:NFT1", "7", "0:COLL", "0:s1"))
      .toDF("address", "index", "collection_address", "owner_address")
    val colls = Seq(("0:COLL", "0:CO")).toDF("address", "owner_address")
    val q = QueryLayer.nftSales(sales, auctions, items, colls, Seq("s1", "a1"))
    q.collect()
    val p = q.queryExecution.executedPlan.toString
    // the dim scan is pruned by a semi-join against the broadcast ≤1000-row
    // key set — the full items dim is never the build side of a broadcast
    assert(p.contains("LeftSemi"),
      s"items dim must be semi-pruned before the hydrate join:\n${p.take(1500)}")
  }

  test("token-event queries push every filter into the parquet scan") {
    import spark.implicits._
    import graft.operators.QueryLayer
    val dir = java.nio.file.Files.createTempDirectory("graft-te").toString
    (1 to 200).map(i =>
      (s"T$i", i.toLong, i, i % 9 == 0, s"0:${i % 5}", s"0:${i % 7}",
        s"w${i % 4}", s"j${i % 3}"))
      .toDF("tx_hash", "tx_lt", "tx_now", "tx_aborted", "source",
        "destination", "jetton_wallet_address", "jetton_master_address")
      .write.parquet(s"$dir/jt")
    val q = QueryLayer.jettonTransfers(spark.read.parquet(s"$dir/jt"),
      QueryLayer.TokenEventRequest(owner = Seq("0:1"),
        direction = Some("out"), master = Some("j2"), ltMin = Some(10L)))
    val f = q.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    // the aborted filter, the direction-resolved owner filter, the master
    // equality and the lt bound must ALL reach the scan — at 100 TB this
    // is the difference between reading a row group and reading the table
    for (want <- Seq("Not(EqualTo(tx_aborted,true))", "EqualTo(source,0:1)",
        "EqualTo(jetton_master_address,j2)", "GreaterThanOrEqual(tx_lt,10)"))
      assert(f.contains(want), s"missing pushed filter $want:\n${
        f.linesIterator.filter(_.contains("PushedFilters")).mkString("\n")}")
  }
  test("asofJoin is one hash shuffle + window: no physical join at all") {
    val ev = Tables.events(spark, sf)
      .select(col("event_id"), col("user_id"),
        expr("ts DIV 1000").as("ts_us"), col("value"), col("event_type"))
    val p = graft.operators.AsOf.asofJoin(
        ev.filter(col("event_type") === "purchase").drop("event_type"),
        ev.filter(col("event_type") === "click")
          .select("user_id", "ts_us", "value"),
        Seq("user_id"), "ts_us")
      .queryExecution.executedPlan.toString
    assert(!p.contains("Join"),
      s"as-of must resolve via the union+window trick, not a join:\n${p.take(1500)}")
    assert(p.contains("Window"), "expected the running-window resolve")
    // exactly one exchange shape: hashpartitioning on the key
    assert(p.contains("hashpartitioning(user_id"),
      s"window must partition by the as-of key:\n${p.take(1500)}")
  }

  test("asofJoinTolerance adds zero exchanges over the plain as-of " +
      "(the staleness guard is a projection, not a recompute)") {
    val ev = Tables.events(spark, sf)
      .select(col("event_id"), col("user_id"),
        expr("ts DIV 1000").as("ts_us"), col("value"), col("event_type"))
    def exchanges(p: String) =
      p.linesIterator.count(_.contains("Exchange"))
    val left = ev.filter(col("event_type") === "purchase").drop("event_type")
    val right = ev.filter(col("event_type") === "click")
      .select("user_id", "ts_us", "value")
    val base = graft.operators.AsOf
      .asofJoin(left, right, Seq("user_id"), "ts_us")
      .queryExecution.executedPlan.toString
    val tol = graft.operators.AsOf
      .asofJoinTolerance(left, right, Seq("user_id"), "ts_us", 3600000000L)
      .queryExecution.executedPlan.toString
    assert(exchanges(tol) == exchanges(base),
      s"tolerance added a shuffle: base=${exchanges(base)} tol=${exchanges(tol)}")
    assert(!tol.contains("Join"), "tolerance variant must stay join-free")
  }

  test("a22 shortcut expansion folds to a scan predicate + broadcast " +
      "bounds join (the expansion is driver-side, never a join)") {
    val f = formatted(graft.operators.ApiQueries.a22)
    assert(f.contains("BroadcastHashJoin"),
      "per-user bounds must broadcast against the events fact")
    // the 47-type isin filter must exist as a plan predicate, not a join
    assert(f.contains("cocoon_worker_payout") || f.contains("IN ("),
      s"expanded type set should fold into a filter:\n${f.take(1200)}")
  }

  test("intervalPairs joins on (key, bucket) — a hash join, never a " +
      "nested-loop range join") {
    val ev = Tables.events(spark, sf)
      .select(col("event_id"), col("user_id"),
        expr("ts DIV 1000").as("ts_us"), col("value"), col("event_type"))
    val p = graft.operators.AsOf.intervalPairs(
        ev.filter(col("event_type") === "purchase").drop("event_type", "value"),
        ev.filter(col("event_type") === "click")
          .select("user_id", "ts_us", "value"),
        Seq("user_id"), "ts_us", 86400000000L)
      .queryExecution.executedPlan.toString
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"range predicate must ride an equi join:\n${p.take(1500)}")
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"),
      s"expected an equi join on (key, bucket):\n${p.take(1500)}")
    assert(p.contains("__bkt"), "expected the lookback bucket in the join key")
  }

  test("d32 chunking is shuffle-free: pure scan-side fan-out") {
    val p = graft.operators.Curation.chunkDocs(
        Tables.documents(spark, sf), 128, 64)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"),
      s"chunking must not shuffle:\n${p.take(1500)}")
  }

  test("d28/d31 prefix-sum shapes broadcast their offset tables; windows " +
      "stay bucket-partitioned") {
    for ((nm, df) <- Seq(
        "d28" -> graft.operators.Curation.shuffleShards(
          Tables.documents(spark, sf), 64L),
        "d31" -> graft.operators.Curation.packSequences(
          Tables.documents(spark, sf).select(col("doc_id"),
            size(split(trim(col("text")), "\\s+")).cast("long")
              .as("n_tokens")), 512L))) {
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
        s"$nm offset table must broadcast:\n${p.take(1500)}")
    }
  }

  test("t01 BM25 broadcasts its one stats row; tf scoring is scan-side " +
      "(no postings explode in the fixed-query plan)") {
    val p = graft.operators.Retrieval.bm25ScanTopK(
        Tables.documents(spark, sf), graft.operators.Retrieval.queryTerms, 10)
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastExchange"),
      s"stats row must broadcast:\n${p.take(1500)}")
    // the only Generate allowed is the constant-width per-query struct
    // array (one corpus scan for all queries, r16) — never an explode of
    // the token/postings arrays. Discriminate by the explode INPUT, not
    // by whether 'split(' is inlined into it (column pruning can hoist
    // the split into an upstream Project and the old check passed a
    // regressed postings explode — r16 advisor): exactly one Generate,
    // and its input must be the literal query-struct array.
    val explodeLines = p.linesIterator
      .filter(l => l.contains("Generate explode")).toSeq
    assert(explodeLines.size == 1,
      s"fixed-query BM25 must have exactly ONE Generate " +
        s"(the constant query array), got ${explodeLines.size}:\n" +
        p.take(1500))
    assert(explodeLines.head.contains("query_id"),
      s"the one Generate must explode the constant query-struct array " +
        s"(named fields incl. query_id), not a token/postings column:\n" +
        s"${explodeLines.head}\n${p.take(1500)}")
  }

  test("d39 PPS sample compiles to TakeOrderedAndProject (distributed " +
      "top-n, no global sort) with a broadcast total-weight row") {
    val p = graft.operators.CorpusOps.ppsSample(
        Tables.documents(spark, sf), 64)
      .queryExecution.executedPlan.toString
    assert(p.contains("TakeOrderedAndProject"),
      s"expected distributed top-n:\n${p.take(1500)}")
    assert(p.contains("BroadcastExchange"),
      s"total-weight row must broadcast:\n${p.take(1500)}")
  }

  test("d37 sketch registers aggregate with map-side partial max before " +
      "the one shuffle") {
    val df = graft.operators.CorpusOps.hllRegisters(
      Tables.documents(spark, sf))
    val p = df.queryExecution.executedPlan.toString
    val partials = p.linesIterator.count(l =>
      l.contains("HashAggregate") && l.contains("partial_max"))
    assert(partials >= 1,
      s"register max must combine map-side:\n${p.take(1500)}")
    assert(p.linesIterator.count(_.trim.startsWith("+- Exchange")) <= 1,
      s"register relation needs at most one shuffle:\n${p.take(1500)}")
  }
}
