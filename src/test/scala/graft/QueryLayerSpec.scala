package graft

import graft.operators.QueryLayer
import graft.operators.QueryLayer.TxRequest
import org.apache.spark.sql.functions._

class QueryLayerSpec extends SparkSpec {

  test("limit/offset clamps follow the reference contract") {
    assert(QueryLayer.clampLimit(0) == 100)
    assert(QueryLayer.clampLimit(-5) == 100)
    assert(QueryLayer.clampLimit(500) == 500)
    assert(QueryLayer.clampLimit(5000) == 1000)
    assert(QueryLayer.clampOffset(-3) == 0)
  }

  test("O2 sort-key selection follows the filter shape") {
    def keys(r: TxRequest): Seq[String] =
      QueryLayer.txSortKeys(r).map(_.toString)
    assert(keys(TxRequest(hashes = Seq("h"))).head.contains("hash"))
    assert(keys(TxRequest(mcSeqno = Some(5))).head.contains("lt"))
    assert(keys(TxRequest(account = Some("a"), utimeMin = Some(1)))
      .take(2).mkString(",").matches(".*account.*now.*"))
    assert(keys(TxRequest(account = Some("a")))
      .take(2).mkString(",").matches(".*account.*lt.*"))
    assert(keys(TxRequest(utimeMin = Some(1))).head.contains("now"))
    assert(keys(TxRequest()).head.contains("lt"))
  }

  test("transactions: filters + deterministic pagination") {
    import spark.implicits._
    val txs = (1 to 50).map(i =>
      (s"T$i", s"0:${i % 3}", i.toLong, i, 100))
      .toDF("hash", "account", "lt", "now", "mc_block_seqno")
    val page1 = QueryLayer.transactions(txs,
      TxRequest(account = Some("0:1"), limit = 5, descending = false))
      .collect().map(_.getAs[String]("hash"))
    val page2 = QueryLayer.transactions(txs,
      TxRequest(account = Some("0:1"), limit = 5, offset = 5, descending = false))
      .collect().map(_.getAs[String]("hash"))
    assert(page1.length == 5 && page2.length == 5)
    assert(page1.toSet.intersect(page2.toSet).isEmpty)
    assert(page1.head == "T1" && page2.head == "T16")
  }

  test("hydrate sorts out-messages by created_lt nulls-first") {
    import spark.implicits._
    val txs = Seq(("T1", "0:A", 1L, 1, 100))
      .toDF("hash", "account", "lt", "now", "mc_block_seqno")
    val msgs = Seq(
      ("mIn", "T1", "in", Some(5L)),
      ("mB", "T1", "out", Some(9L)),
      ("mA", "T1", "out", Option.empty[Long]), // null created_lt first
      ("mC", "T1", "out", Some(7L)))
      .toDF("msg_hash", "tx_hash", "direction", "created_lt")
      .withColumn("source", lit("0:A")).withColumn("destination", lit("0:B"))
      .withColumn("value", lit(1L)).withColumn("opcode", lit(null).cast("long"))
    val row = QueryLayer.hydrate(txs, msgs).collect().head
    val outs = row.getAs[collection.Seq[org.apache.spark.sql.Row]]("out_msgs")
      .map(_.getAs[String]("msg_hash")).toSeq
    assert(outs == Seq("mA", "mC", "mB"))
    assert(row.getAs[org.apache.spark.sql.Row]("in_msg")
      .getAs[String]("msg_hash") == "mIn")
  }

  test("top accounts is a deterministic top-k") {
    import spark.implicits._
    val states = Seq(("0:A", 50L, "active"), ("0:B", 100L, "active"),
      ("0:C", 100L, "frozen"), ("0:D", 10L, "active"))
      .toDF("account", "balance", "account_status")
    val got = QueryLayer.topAccounts(states, 3)
      .collect().map(_.getAs[String]("account")).toSeq
    assert(got == Seq("0:B", "0:C", "0:A")) // balance desc, account tiebreak
  }

  test("topAccountsByBalance pages with limit+offset, total order") {
    import spark.implicits._
    val states = (1 to 20).map(i => (s"0:$i", (i % 5).toLong * 100))
      .toDF("account", "balance")
    val all = QueryLayer.topAccountsByBalance(states, limit = 20)
      .collect().map(_.getString(0)).toSeq
    val p1 = QueryLayer.topAccountsByBalance(states, limit = 7)
      .collect().map(_.getString(0)).toSeq
    val p2 = QueryLayer.topAccountsByBalance(states, limit = 7, offset = 7)
      .collect().map(_.getString(0)).toSeq
    assert(p1 == all.take(7) && p2 == all.slice(7, 14))
    // balance desc with account tiebreak: first page is the 400 class
    assert(p1.take(4) == Seq("0:14", "0:19", "0:4", "0:9"))
  }

  test("addressInformation fabricates the v2 zero row for unseen accounts") {
    import spark.implicits._
    val states = Seq(("0:A", 77L, "codeB", "dataB", "Th", 123L, "active"))
      .toDF("account", "balance", "code_boc", "data_boc",
        "last_transaction_hash", "last_transaction_lt", "account_status")
    val hit = QueryLayer.addressInformation(states, "0:A").collect().head
    assert(hit.getAs[String]("balance") == "77" &&
      hit.getAs[String]("status") == "active" &&
      hit.getAs[String]("last_transaction_lt") == "123")
    val miss = QueryLayer.addressInformation(states, "0:Z").collect().head
    assert(miss.getAs[String]("balance") == "0" &&
      miss.getAs[String]("status") == "uninit" &&
      miss.getAs[String]("last_transaction_hash") ==
        "AAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAA=" &&
      miss.getAs[String]("last_transaction_lt") == "0")
  }

  test("walletInformation gates non-wallets and passes uninit through") {
    import spark.implicits._
    val states = Seq(
      ("0:W", 10L, "xyz_unknown_hash", "x", "Th", 5L, "active"),
      ("0:U", 0L, "xyz_unknown_hash", null, "Tu", 6L, "uninit"))
      .toDF("account", "balance", "code_hash", "data_boc",
        "last_transaction_hash", "last_transaction_lt", "account_status")
    // active non-wallet → the handler 409s; here zero rows
    assert(QueryLayer.walletInformation(states, "0:W").count() == 0)
    // uninit passes through with empty wallet fields
    val u = QueryLayer.walletInformation(states, "0:U").collect().head
    assert(u.getAs[String]("status") == "uninit" &&
      u.getAs[String]("wallet_type") == null)
    // unseen account → fabricated zero row
    val miss = QueryLayer.walletInformation(states, "0:Z").collect().head
    assert(miss.getAs[String]("balance") == "0" &&
      miss.getAs[String]("status") == "uninit")
  }

  test("shortest domain per wallet (DISTINCT ON semantics)") {
    import spark.implicits._
    val dns = Seq(("w1", "abc.ton"), ("w1", "a.ton"), ("w1", "ab.ton"),
      ("w2", "zz.ton")).toDF("nft_item_owner", "domain")
    val got = QueryLayer.shortestDomainPerWallet(dns)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got == Map("w1" -> "a.ton", "w2" -> "zz.ton"))
  }

  test("action filter enforces the ancestor-suppression contract") {
    import spark.implicits._
    val actions = Seq(
      ("t1", "a1", "jetton_transfer", Seq.empty[String], 1L, 10L),
      ("t1", "a2", "ton_transfer", Seq("jetton_transfer"), 2L, 10L),
      ("t1", "a3", "ton_transfer", Seq("unknown_parent"), 3L, 10L))
      .toDF("trace_id", "action_id", "type", "ancestor_type",
        "end_utime", "trace_end_utime")
    val got = QueryLayer.actions(actions, Seq("jetton_transfer", "ton_transfer"))
      .collect().map(_.getAs[String]("action_id")).toSeq
    // a2 suppressed (understood ancestor); a3 kept (ancestor not understood)
    assert(got == Seq("a1", "a3"))
  }

  test("adjacent transactions hop across shared message hashes") {
    import spark.implicits._
    val msgs = Seq(
      ("m1", "T1", "out"), ("m1", "T2", "in"), // T1 -> T2
      ("m2", "T2", "out"), ("m2", "T3", "in")) // T2 -> T3
      .toDF("msg_hash", "tx_hash", "direction")
    val adj = QueryLayer.adjacentTransactions(msgs, "T2")
      .collect().map(_.getAs[String]("tx_hash")).sorted
    assert(adj.toSeq == Seq("T1", "T3"))
  }

  test("transactionsByMessage joins on (hash, lt) and orders by lt") {
    import spark.implicits._
    val msgs = Seq(
      ("m1", "T1", 10L, "out"), ("m1", "T2", 11L, "in"),
      ("m2", "T2", 11L, "out"))
      .toDF("msg_hash", "tx_hash", "tx_lt", "direction")
    // T2 at lt 99 shares the hash but not the message's tx_lt
    val txs = Seq(("T2", 11L, "0:b"), ("T1", 10L, "0:a"), ("T2", 99L, "0:b"),
      ("T3", 12L, "0:c")).toDF("hash", "lt", "account")
    val got = QueryLayer.transactionsByMessage(txs, msgs, "m1")
    assert(got.columns.count(_ == "lt") == 1)
    assert(got.collect().map(r => (r.getAs[String]("hash"),
      r.getAs[Long]("lt"), r.getAs[String]("account"))).toSeq ==
      Seq(("T1", 10L, "0:a"), ("T2", 11L, "0:b")))
  }

  // ------------------------------------------------ token/dim families

  test("jettonWallets: mintless coalesce, zero-balance exclusion, sort contract") {
    import spark.implicits._
    val wallets = Seq(
      ("w1", "0:O1", "j1", 0L, 1L),
      ("w2", "0:O1", "j2", 0L, 2L),   // zero balance, mintless j2 rescues it
      ("w3", "0:O2", "j1", 50L, 3L),
      ("w4", "0:O1", "j1", 10L, 4L))
      .toDF("address", "owner", "jetton", "balance", "id")
    val mintless = Seq(("j2", 5L)).toDF("address", "mintless_amount")
    val nz = QueryLayer.jettonWallets(wallets, mintless,
      owners = Seq("0:O1"), excludeZeroBalance = true)
      .collect().map(_.getAs[String]("address"))
    assert(nz.toSet == Set("w2", "w4")) // w1 excluded: 0 + no mintless
    val sorted = QueryLayer.jettonWallets(wallets, mintless,
      owners = Seq("0:O1"), sortBalanceDesc = Some(true))
      .collect().map(_.getAs[String]("address"))
    assert(sorted.toSeq == Seq("w4", "w1", "w2")) // raw balance desc, id tiebreak
    val surrogate = QueryLayer.jettonWallets(wallets, mintless)
      .collect().map(_.getAs[Long]("id"))
    assert(surrogate.toSeq == Seq(1L, 2L, 3L, 4L)) // default id asc
  }

  test("nftItems: live sale/auction ownership overrides the holder contract") {
    import spark.implicits._
    val items = Seq(
      ("n1", "c1", "1", "0:HOLDER"),
      ("n2", "c1", "2", "0:SALE"),
      ("n3", "c1", "3", "0:AUCTION"),
      ("n4", "c1", "4", "0:SALEX")) // held by a sale listing a DIFFERENT nft
      .toDF("address", "collection_address", "index", "owner_address")
    val collections = Seq(("c1", "0:CO", "{}"))
      .toDF("address", "owner_address", "collection_content")
    val sales = Seq(("0:SALE", false, "0:REAL_S", "n2"),
        ("0:SALEX", false, "0:REAL_X", "nOTHER"))
      .toDF("address", "is_complete", "nft_owner_address", "nft_address")
    val auctions = Seq(("0:AUCTION", false, "0:REAL_A", "n3"))
      .toDF("address", "end_flag", "nft_owner", "nft_addr")
    val all = QueryLayer.nftItems(items, collections, sales, auctions)
      .collect().map(r => r.getAs[String]("address") -> r.getAs[String]("real_owner"))
      .toMap
    assert(all == Map("n1" -> "0:HOLDER", "n2" -> "0:REAL_S",
      "n3" -> "0:REAL_A",
      // two-key contract (crud_nft.go:61-63): a sale pointing at a
      // DIFFERENT nft lends nothing — the holder contract stays
      "n4" -> "0:SALEX"))
    val byOwner = QueryLayer.nftItems(items, collections, sales, auctions,
      owner = Some("0:REAL_S")).collect().map(_.getAs[String]("address"))
    assert(byOwner.toSeq == Seq("n2"))
  }

  test("multisigOrders: pending-only filter and seqno ordering") {
    import spark.implicits._
    val orders = Seq(
      ("o2", "0:MS", "2", false, "3"),
      ("o1", "0:MS", "1", true, "1"),
      ("oX", "0:OTHER", "1", false, "0"))
      .toDF("address", "multisig_address", "order_seqno",
        "sent_for_execution", "approvals_mask")
    val all = QueryLayer.multisigOrders(orders, "0:MS")
      .collect().map(_.getAs[String]("address"))
    assert(all.toSeq == Seq("o1", "o2"))
    val pending = QueryLayer.multisigOrders(orders, "0:MS", pendingOnly = true)
      .collect().map(_.getAs[String]("address"))
    assert(pending.toSeq == Seq("o2"))
  }

  test("vesting whitelist membership is a semi-join (no fan-out dup rows)") {
    import spark.implicits._
    val contracts = Seq(("v1", "0:OWN1"), ("v2", "0:OWN2"))
      .toDF("address", "owner_address")
    val whitelist = Seq(("v1", "0:W"), ("v1", "0:W2"), ("v2", "0:OTHER"))
      .toDF("vesting_contract_address", "wallet_address")
    val got = QueryLayer.vestingByWhitelistedWallet(contracts, whitelist, "0:W")
      .collect().map(_.getAs[String]("address"))
    assert(got.toSeq == Seq("v1")) // one row even with 2 whitelist entries
  }

  test("tokenMetadata: 3-way tagged union left-joined to metadata flags") {
    import spark.implicits._
    val items = Seq(Tuple1("n1")).toDF("address")
    val colls = Seq(Tuple1("c1")).toDF("address")
    val masters = Seq(Tuple1("j1")).toDF("address")
    val meta = Seq(("n1", "nft_items", true, "{\"name\":\"x\"}"),
      ("j1", "jetton_masters", false, "{}"))
      .toDF("address", "type", "valid", "metadata")
    val got = QueryLayer.tokenMetadata(items, colls, masters, meta)
      .collect().map(r => (r.getAs[String]("address"), r.getAs[String]("type"),
        Option(r.getAs[java.lang.Boolean]("valid")))).toSet
    assert(got == Set(
      ("n1", "nft_items", Some(java.lang.Boolean.TRUE)),
      ("c1", "nft_collections", None),
      ("j1", "jetton_masters", Some(java.lang.Boolean.FALSE))))
  }

  test("jettonTransfers: direction filter, aborted exclusion, utime sort switch") {
    import spark.implicits._
    import QueryLayer.TokenEventRequest
    val t = Seq(
      // tx_hash, tx_lt, tx_now, aborted, source, destination, wallet, master
      ("T1", 10L, 100, false, "0:A", "0:B", "w1", "j1"),
      ("T2", 20L, 200, false, "0:B", "0:A", "w2", "j1"),
      ("T3", 30L, 300, true, "0:A", "0:C", "w1", "j1"),
      ("T4", 40L, 400, false, "0:C", "0:D", "w3", "j2"))
      .toDF("tx_hash", "tx_lt", "tx_now", "tx_aborted", "source",
        "destination", "jetton_wallet_address", "jetton_master_address")
    // A outgoing: T1 only (T3 aborted)
    val out = QueryLayer.jettonTransfers(t,
      TokenEventRequest(owner = Seq("0:A"), direction = Some("out")))
      .collect().map(_.getAs[String]("tx_hash")).toSeq
    assert(out == Seq("T1"))
    // A either direction, desc by lt
    val both = QueryLayer.jettonTransfers(t,
      TokenEventRequest(owner = Seq("0:A")))
      .collect().map(_.getAs[String]("tx_hash")).toSeq
    assert(both == Seq("T2", "T1"))
    // master filter + utime window flips the sort key to tx_now asc
    val byMaster = QueryLayer.jettonTransfers(t,
      TokenEventRequest(master = Some("j1"), utimeMin = Some(100L),
        descending = false))
      .collect().map(_.getAs[String]("tx_hash")).toSeq
    assert(byMaster == Seq("T1", "T2"))
  }

  test("jettonBurns: owner-only filter; nftTransfers: owner directions " +
      "and collection equality") {
    import spark.implicits._
    import QueryLayer.TokenEventRequest
    val burns = Seq(
      ("T1", 10L, 100, false, "0:A", "w1", "j1"),
      ("T2", 20L, 200, false, "0:B", "w2", "j1"))
      .toDF("tx_hash", "tx_lt", "tx_now", "tx_aborted", "owner",
        "jetton_wallet_address", "jetton_master_address")
    val gotB = QueryLayer.jettonBurns(burns,
      TokenEventRequest(owner = Seq("0:A")))
      .collect().map(_.getAs[String]("tx_hash")).toSeq
    assert(gotB == Seq("T1"))

    val nft = Seq(
      ("T1", 10L, 100, "0:OLD", "0:NEW", "n1", "c1"),
      ("T2", 20L, 200, "0:NEW", "0:OLD", "n2", "c1"),
      ("T3", 30L, 300, "0:X", "0:Y", "n1", "c2"))
      .toDF("tx_hash", "tx_lt", "tx_now", "old_owner", "new_owner",
        "nft_item_address", "nft_collection_address")
    val gotIn = QueryLayer.nftTransfers(nft,
      TokenEventRequest(owner = Seq("0:NEW"), direction = Some("in")))
      .collect().map(_.getAs[String]("tx_hash")).toSeq
    assert(gotIn == Seq("T1"))
    val gotColl = QueryLayer.nftTransfers(nft,
      TokenEventRequest(master = Some("c1")))
      .collect().map(_.getAs[String]("tx_hash")).toSeq
    assert(gotColl == Seq("T2", "T1"))
    val gotItem = QueryLayer.nftTransfers(nft,
      TokenEventRequest(wallet = Seq("n1"), descending = false))
      .collect().map(_.getAs[String]("tx_hash")).toSeq
    assert(gotItem == Seq("T1", "T3"))
  }

  test("nftSales: sales and auctions unify under sale_type with item dims") {
    import spark.implicits._
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
    val items = Seq(("0:NFT1", "7", "0:COLL", "0:s1"),
      ("0:NFT2", "8", "0:COLL", "0:a1"))
      .toDF("address", "index", "collection_address", "owner_address")
    val colls = Seq(("0:COLL", "0:CO")).toDF("address", "owner_address")
    val got = QueryLayer.nftSales(sales, auctions, items, colls,
      Seq("s1", "a1")).collect()
    assert(got.length == 2)
    val byType = got.map(r => r.getAs[String]("sale_type") -> r).toMap
    assert(byType("getgems_sale").getAs[String]("nft_address") == "0:NFT1")
    assert(byType("getgems_sale").getAs[java.math.BigDecimal]("full_price")
      .longValue == 1000L)
    assert(byType("getgems_auction").getAs[String]("nft_owner_address")
      == "0:OWN2")
    assert(byType("getgems_auction").getAs[java.math.BigDecimal]("last_bid")
      .longValue == 777L)
    assert(got.forall(_.getAs[String]("collection_address") == "0:COLL"))
  }
}
