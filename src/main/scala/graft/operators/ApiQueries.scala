package graft.operators

import graft.Q
import graft.classifier.ClassifyJob
import graft.plans.{ChainSim, TraceAssembly}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver-visible instantiations of the M3 query layer over the simulated
  * chain: the reference's API contracts (O2 sort-key selection, O3 clamps,
  * O4 four-key action ordering, P8 suppression, J11 hydration) checked
  * against by-construction oracles.
  */
object ApiQueries {

  /** /transactions by account + time window: exercises the O2 branch
    * (account, now, lt, hash) desc + limit clamp. */
  val a01 = Q("a01_tx_by_account",
    """SELECT concat('T', event_id) AS hash, concat('0:', user_id) AS account,
      |  event_id AS lt, event_id AS now
      |FROM events
      |WHERE user_id = 7 AND event_id BETWEEN 100 AND 100000
      |ORDER BY now DESC, lt DESC, hash DESC LIMIT 100""".stripMargin) { (s, dir) =>
    val (txs, _) = ChainSim.simulate(s, dir)
    QueryLayer.transactions(txs, QueryLayer.TxRequest(
        account = Some("0:7"), utimeMin = Some(100L), utimeMax = Some(100000L),
        limit = 100))
      .select("hash", "account", "lt", "now")
  }

  /** /transactions hydrated with nested messages (J11/O5), flattened to an
    * order-stable projection for the compare. */
  val a02 = Q("a02_tx_hydrated",
    """SELECT concat('T', event_id) AS hash,
      |  concat('m', event_id) AS in_msg_hash,
      |  coalesce('m' || cast(lead(event_id) OVER
      |    (PARTITION BY user_id ORDER BY event_id) AS varchar), '') AS out_msg_hashes
      |FROM events WHERE user_id = 3
      |ORDER BY hash""".stripMargin) { (s, dir) =>
    val (txs, msgs) = ChainSim.simulate(s, dir)
    val mine = txs.filter(col("account") === "0:3")
    QueryLayer.hydrate(mine, msgs)
      .select(col("hash"),
        col("in_msg.msg_hash").as("in_msg_hash"),
        coalesce(array_join(transform(col("out_msgs"), x => x("msg_hash")), ","),
          lit("")).as("out_msg_hashes"))
      .orderBy("hash")
  }

  /** /actions with hierarchical type filter (P8) and the O4 sort contract:
    * client understands {call_contract, contract_deploy}. Reference-true
    * ancestor semantics (block_tree_serializer.py:1484-1556): ancestor
    * links accrue only through NON-v1 protocol ops — call_contract and
    * contract_deploy are both v1, so no nested action here carries a
    * suppressing ancestor and the filter reduces to the plain type
    * predicate + the 4-key pagination sort. The oracle reproduces the
    * action_id hash (base64(sha256(anchor_msg_hash ∥ btype))) so the
    * LIMIT boundary is deterministic under ties. */
  val a03 = Q("a03_actions_suppressed",
    """WITH bounds AS (SELECT user_id, min(event_id) AS fid,
      |                 max(event_id) AS mx FROM events GROUP BY user_id),
      |acts AS (
      |  SELECT concat('T', b.fid) AS trace_id, 'call_contract' AS type,
      |    e.event_id AS end_utime, b.mx AS mx,
      |    to_base64(unhex(sha256(concat('m', e.event_id, 'call_contract'))))
      |      AS action_id
      |  FROM events e JOIN bounds b ON e.user_id = b.user_id
      |  WHERE e.event_id = b.fid
      |     OR e.event_type NOT IN ('purchase', 'signup')
      |  UNION ALL
      |  SELECT concat('T', b.fid), 'contract_deploy', e.event_id, b.mx,
      |    to_base64(unhex(sha256(concat('m', e.event_id, 'contract_deploy'))))
      |  FROM events e JOIN bounds b ON e.user_id = b.user_id
      |  WHERE e.event_type = 'signup'
      |)
      |SELECT trace_id, type, end_utime FROM acts
      |ORDER BY mx, trace_id, end_utime, action_id LIMIT 100""".stripMargin) { (s, dir) =>
    // trace_end_utime is denormalized into the silver actions table at
    // materialization (ChainSim.classified) — no query-time window here,
    // mirroring the reference's denormalized trace columns (SURVEY §1.4)
    QueryLayer.actions(ChainSim.classified(s, dir),
        Seq("call_contract", "contract_deploy"), 100)
      .select("trace_id", "type", "end_utime")
  }

  // ------------------------------------------------ REST endpoint families

  private def T = graft.Tables

  /** /blocks (crud_blocks.go): workchain filter + gen_utime window over a
    * blocks dim derived from events; gen_utime sort with seqno/workchain
    * tie-breaks (pagination must be total). */
  val a04 = Q("a04_blocks",
    """SELECT cast(user_id % 3 AS int) AS workchain, event_id AS seqno,
      |  event_id AS gen_utime
      |FROM events
      |WHERE user_id % 3 = 1 AND event_id BETWEEN 500 AND 60000
      |ORDER BY gen_utime DESC, seqno DESC, workchain DESC
      |LIMIT 100""".stripMargin) { (s, dir) =>
    val blocks = T.events(s, dir).select(
      (col("user_id") % 3).cast("int").as("workchain"),
      col("user_id").cast("long").as("shard"),
      col("event_id").cast("long").as("seqno"),
      col("user_id").cast("long").as("mc_block_seqno"),
      col("event_id").cast("long").as("gen_utime"),
      col("event_id").cast("long").as("start_lt"))
    QueryLayer.blocks(blocks, QueryLayer.BlockRequest(
        workchain = Some(1), utimeMin = Some(500L), utimeMax = Some(60000L)))
      .select("workchain", "seqno", "gen_utime")
  }

  /** /messages (crud_messages.go:14-105): destination+opcode filter over
    * the simulated chain, then the A1 dedup contract — one row per
    * msg_hash carrying both its consuming and producing tx. */
  val a05 = Q("a05_messages",
    """WITH chained AS (
      |  SELECT user_id, event_id, event_type,
      |    lag(event_id) OVER (PARTITION BY user_id ORDER BY event_id)
      |      AS prev_id
      |  FROM events)
      |SELECT concat('m', event_id) AS msg_hash, event_id AS created_lt,
      |  concat('T', event_id) AS in_tx_hash,
      |  CASE WHEN prev_id IS NOT NULL THEN concat('T', prev_id)
      |       END AS out_tx_hash
      |FROM chained
      |WHERE user_id = 7 AND event_type = 'click'
      |ORDER BY created_lt DESC, msg_hash DESC LIMIT 100""".stripMargin) {
    (s, dir) =>
    val (_, msgs) = ChainSim.simulate(s, dir)
    QueryLayer.messages(msgs, QueryLayer.MessageRequest(
        destination = Some("0:7"), opcode = Some(1L)))
      .select("msg_hash", "created_lt", "in_tx_hash", "out_tx_hash")
  }

  /** /accountStates (crud_accounts.go:14-51): code_hash IN-filter over a
    * latest-state dim, hard 1000 limit. */
  val a06 = Q("a06_account_states",
    """SELECT concat('0:', c_custkey) AS account, c_mktsegment AS code_hash
      |FROM customer WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')
      |ORDER BY account LIMIT 1000""".stripMargin) { (s, dir) =>
    val states = T.customer(s, dir).select(
      concat(lit("0:"), col("c_custkey").cast("string")).as("account"),
      col("c_mktsegment").as("code_hash"),
      col("c_acctbal").as("balance"))
    QueryLayer.accountStates(states,
        codeHashes = Seq("BUILDING", "MACHINERY"))
      .select("account", "code_hash")
  }

  /** /jetton/masters (crud_jettons.go:15-52): admin-address IN-filter. */
  val a07 = Q("a07_jetton_masters",
    """SELECT concat('0:', s_suppkey) AS address,
      |  concat('0:', s_nationkey) AS admin_address
      |FROM supplier WHERE concat('0:', s_nationkey) IN ('0:5', '0:7')
      |ORDER BY address LIMIT 100""".stripMargin) { (s, dir) =>
    val masters = T.supplier(s, dir).select(
      concat(lit("0:"), col("s_suppkey").cast("string")).as("address"),
      concat(lit("0:"), col("s_nationkey").cast("string")).as("admin_address"),
      col("s_acctbal").as("total_supply"))
    QueryLayer.jettonMasters(masters, admins = Seq("0:5", "0:7"))
      .select("address", "admin_address")
  }

  /** /nft/collections (crud_nft.go:14-52): owner IN-filter. */
  val a08 = Q("a08_nft_collections",
    """SELECT concat('0:', p_partkey) AS address, p_brand AS owner_address,
      |  cast(p_size AS bigint) AS next_item_index
      |FROM part WHERE p_brand = 'Brand#3'
      |ORDER BY address LIMIT 100""".stripMargin) { (s, dir) =>
    val collections = T.part(s, dir).select(
      concat(lit("0:"), col("p_partkey").cast("string")).as("address"),
      col("p_brand").as("owner_address"),
      col("p_size").cast("long").as("next_item_index"))
    QueryLayer.nftCollections(collections, owners = Seq("Brand#3"))
      .select("address", "owner_address", "next_item_index")
  }

  /** /multisig/wallets (crud_multisig.go:13-59): signers-OR-proposers
    * array overlap, ordered by the insert serial `id` (the reference's
    * ORDER BY m.id), here n_nationkey — the oracle's `threshold`. */
  val a09 = Q("a09_multisig_wallets",
    """SELECT n_name AS address, cast(n_nationkey AS bigint) AS threshold
      |FROM nation
      |WHERE concat('0:', n_regionkey) = '0:2'
      |   OR concat('0:', n_nationkey) = '0:2'
      |   OR concat('0:', n_nationkey % 5) = '0:2'
      |ORDER BY threshold ASC LIMIT 100""".stripMargin) { (s, dir) =>
    val multisig = T.nation(s, dir).select(
      col("n_name").as("address"),
      col("n_nationkey").cast("long").as("id"),
      col("n_nationkey").cast("long").as("threshold"),
      array(concat(lit("0:"), col("n_regionkey").cast("string")),
        concat(lit("0:"), col("n_nationkey").cast("string"))).as("signers"),
      array(concat(lit("0:"), (col("n_nationkey") % 5).cast("string")))
        .as("proposers"))
    QueryLayer.multisigByRequest(multisig, wallets = Seq("0:2"),
        descending = false)
      .select("address", "threshold")
  }

  /** /dns/records (crud_dns.go:22-40), wallet arm: one wallet's records,
    * shortest domain first. The nft_item_address tie-break never fires:
    * the wallet's domains (c_name) are unique. */
  val a10 = Q("a10_dns_records",
    """SELECT c_name AS domain, concat('0:', c_custkey) AS nft_item_address
      |FROM customer WHERE concat('0:', c_nationkey) = '0:5'
      |ORDER BY length(c_name), c_name LIMIT 100""".stripMargin) { (s, dir) =>
    val dns = T.customer(s, dir).select(
      col("c_name").as("domain"),
      concat(lit("0:"), col("c_nationkey").cast("string")).as("dns_wallet"),
      concat(lit("0:"), col("c_custkey").cast("string"))
        .as("nft_item_address"))
    QueryLayer.dnsByRequest(dns, Some("0:5"), None)
      .select("domain", "nft_item_address")
  }

  /** /walletStates (main.go:2333): account states through the code-hash
    * wallet catalog. Hash classes rotate through REAL transcribed catalog
    * hashes (v3r2/v5r1/v1r3) + one unknown; the data BOCs are built with
    * the engine's writer and parsed back by the real decode path, so the
    * oracle can restate seqno/wallet_id/signature by formula. */
  val a11 = Q("a11_wallet_states",
    """SELECT concat('0:', user_id) AS account,
      |  (user_id % 4) <> 3 AS is_wallet,
      |  CASE cast(user_id % 4 AS int)
      |    WHEN 0 THEN 'wallet v3 r2' WHEN 1 THEN 'wallet v5 r1'
      |    WHEN 2 THEN 'wallet v1 r3' END AS wallet_type,
      |  CASE WHEN user_id % 4 <> 3
      |    THEN cast(user_id % 100 AS bigint) END AS seqno,
      |  CASE cast(user_id % 4 AS int) WHEN 0 THEN cast(698983191 AS bigint)
      |    WHEN 1 THEN cast(user_id AS bigint) END AS wallet_id,
      |  CASE WHEN user_id % 4 = 1 THEN user_id % 8 = 1
      |    END AS is_signature_allowed,
      |  CASE cast(user_id % 4 AS int)
      |    WHEN 0 THEN 'hNr6RJ+Ypph3ibojI1gHK8D3bcRSQAKl0JGLmnXS1Zk='
      |    WHEN 1 THEN 'IINLe3KxEhR+Gy+0V7hOdNGjDwT3N9T2KmaOlVLSty8='
      |    WHEN 2 THEN 'WHzHie/xyE9G7DeX5F/ICaFP9a4k8eDHpqmcydyQYf8='
      |    ELSE 'code_3' END AS code_hash
      |FROM (SELECT DISTINCT user_id FROM events) u
      |ORDER BY account LIMIT 1000""".stripMargin) { (s, dir) =>
    val v3r2 = "hNr6RJ+Ypph3ibojI1gHK8D3bcRSQAKl0JGLmnXS1Zk="
    val v5r1 = "IINLe3KxEhR+Gy+0V7hOdNGjDwT3N9T2KmaOlVLSty8="
    val v1r3 = "WHzHie/xyE9G7DeX5F/ICaFP9a4k8eDHpqmcydyQYf8="
    val mkData = udf { (uid: Long) =>
      val b = new graft.functions.Boc.Builder()
      (uid % 4).toInt match {
        case 0 => b.storeUint(BigInt(uid % 100), 32)
          .storeUint(BigInt(698983191L), 32)
        case 1 => b.storeBit(uid % 8 == 1)
          .storeUint(BigInt(uid % 100), 32).storeUint(BigInt(uid), 32)
        case 2 => b.storeUint(BigInt(uid % 100), 32)
        case _ => b.storeUint(BigInt(0xdead), 16)
      }
      graft.functions.Boc.serializeBase64(b.build())
    }
    val states = T.events(s, dir).select(col("user_id")).distinct()
      .select(
        concat(lit("0:"), col("user_id").cast("string")).as("account"),
        when(pmod(col("user_id"), lit(4)) === 0, lit(v3r2))
          .when(pmod(col("user_id"), lit(4)) === 1, lit(v5r1))
          .when(pmod(col("user_id"), lit(4)) === 2, lit(v1r3))
          .otherwise(lit("code_3")).as("code_hash"),
        mkData(col("user_id").cast("long")).as("data_boc"))
    QueryLayer.walletStates(states)
      .select("account", "is_wallet", "wallet_type", "seqno", "wallet_id",
        "is_signature_allowed", "code_hash")
  }

  /** /masterchainInfo (crud_blocks.go:134-157): first + last masterchain
    * block as one min/max aggregation over the workchain=-1 slice. */
  val a12 = Q("a12_masterchain_info",
    """SELECT max(event_id) AS last_seqno, max(event_id) AS last_gen_utime,
      |  min(event_id) AS first_seqno, min(event_id) AS first_gen_utime
      |FROM events WHERE user_id % 3 = 0""".stripMargin) { (s, dir) =>
    val blocks = T.events(s, dir).select(
      (pmod(col("user_id"), lit(3)).cast("int") - 1).as("workchain"),
      col("user_id").cast("long").as("shard"),
      col("event_id").cast("long").as("seqno"),
      col("event_id").cast("long").as("gen_utime"))
    QueryLayer.masterchainInfo(blocks)
  }

  /** /masterchainBlockShards (crud_blocks.go:183-199): shard_state of one
    * masterchain seqno joined back to blocks on (workchain, shard,
    * seqno). */
  val a13 = Q("a13_masterchain_shards",
    """SELECT cast(user_id % 3 AS int) AS workchain,
      |  cast(user_id AS bigint) AS shard, event_id AS seqno,
      |  cast(user_id % 50 AS bigint) AS mc_seqno, event_id AS gen_utime
      |FROM events WHERE user_id % 50 = 7
      |ORDER BY mc_seqno, workchain, shard, seqno""".stripMargin) { (s, dir) =>
    val ev = T.events(s, dir)
    val blocks = ev.select(
      pmod(col("user_id"), lit(3)).cast("int").as("workchain"),
      col("user_id").cast("long").as("shard"),
      col("event_id").cast("long").as("seqno"),
      col("event_id").cast("long").as("gen_utime"))
    val shardState = ev.select(
      pmod(col("user_id"), lit(50)).cast("long").as("mc_seqno"),
      pmod(col("user_id"), lit(3)).cast("int").as("workchain"),
      col("user_id").cast("long").as("shard"),
      col("event_id").cast("long").as("seqno"))
    QueryLayer.masterchainShards(shardState, blocks, 7L)
      .select("workchain", "shard", "seqno", "mc_seqno", "gen_utime")
  }

  /** /masterchainBlockShardState (main.go:2310 GetShardsDiff): every
    * block committed under one masterchain block — mc_block_seqno point
    * filter + the generic blocks pagination. */
  val a14 = Q("a14_masterchain_block_shard_state",
    """SELECT cast(user_id % 3 AS int) AS workchain,
      |  cast(user_id AS bigint) AS shard,
      |  event_id AS seqno, event_id AS gen_utime,
      |  cast(user_id % 50 AS bigint) AS mc_block_seqno
      |FROM events WHERE user_id % 50 = 7
      |ORDER BY gen_utime DESC, workchain, shard, seqno
      |LIMIT 100""".stripMargin) { (s, dir) =>
    val blocks = T.events(s, dir).select(
      pmod(col("user_id"), lit(3)).cast("int").as("workchain"),
      col("user_id").cast("long").as("shard"),
      col("event_id").cast("long").as("seqno"),
      col("event_id").cast("long").as("gen_utime"),
      pmod(col("user_id"), lit(50)).cast("long").as("mc_block_seqno"))
    QueryLayer.masterchainBlockShardState(blocks, 7L, limit = 100)
  }

  /** The jetton/NFT token-event fixture table from events: one event-row
    * per transfer with the columns the crud_jettons.go/crud_nft.go
    * queries read. */
  private def tokenEventFixture(s: SparkSession, dir: String): DataFrame =
    T.events(s, dir).select(
      concat(lit("T"), col("event_id").cast("string")).as("tx_hash"),
      col("event_id").cast("long").as("tx_lt"),
      col("event_id").cast("long").as("tx_now"),
      (pmod(col("user_id"), lit(7)) === 0).as("tx_aborted"),
      concat(lit("0:"), col("user_id").cast("string")).as("source"),
      concat(lit("0:"), (col("user_id") + 1).cast("string"))
        .as("destination"),
      concat(lit("w"), pmod(col("user_id"), lit(11)).cast("string"))
        .as("jetton_wallet_address"),
      concat(lit("j"), pmod(col("user_id"), lit(5)).cast("string"))
        .as("jetton_master_address"),
      floor(col("value")).cast("long").as("amount"))

  /** /jetton/transfers (crud_jettons.go:117-199): owner either-side
    * filter + master equality + lt window, tx_lt DESC pagination;
    * aborted transfers excluded. */
  val a15 = Q("a15_jetton_transfers",
    """SELECT concat('T', event_id) AS tx_hash,
      |  event_id AS tx_lt, event_id AS tx_now,
      |  (user_id % 7 = 0) AS tx_aborted,
      |  concat('0:', user_id) AS source,
      |  concat('0:', user_id + 1) AS destination,
      |  concat('w', user_id % 11) AS jetton_wallet_address,
      |  concat('j', user_id % 5) AS jetton_master_address,
      |  cast(floor(value) AS bigint) AS amount
      |FROM events
      |WHERE NOT (user_id % 7 = 0)
      |  AND (concat('0:', user_id + 1) IN ('0:3', '0:8')
      |       OR concat('0:', user_id) IN ('0:3', '0:8'))
      |  AND concat('j', user_id % 5) = 'j3' AND event_id >= 50
      |ORDER BY tx_lt DESC, tx_hash DESC
      |LIMIT 100""".stripMargin) { (s, dir) =>
    QueryLayer.jettonTransfers(tokenEventFixture(s, dir),
      QueryLayer.TokenEventRequest(owner = Seq("0:3", "0:8"),
        master = Some("j3"), ltMin = Some(50L), limit = 100))
  }

  /** /jetton/burns (crud_jettons.go:202-260): owner-only side, wallet
    * IN-filter, utime window switches the sort key to tx_now ASC. */
  val a16 = Q("a16_jetton_burns",
    """SELECT concat('T', event_id) AS tx_hash,
      |  event_id AS tx_lt, event_id AS tx_now,
      |  (user_id % 7 = 0) AS tx_aborted,
      |  concat('0:', user_id) AS owner,
      |  concat('w', user_id % 11) AS jetton_wallet_address,
      |  concat('j', user_id % 5) AS jetton_master_address,
      |  cast(floor(value) AS bigint) AS amount
      |FROM events
      |WHERE concat('w', user_id % 11) IN ('w2', 'w5') AND event_id >= 10
      |ORDER BY tx_now ASC, tx_hash ASC
      |LIMIT 100""".stripMargin) { (s, dir) =>
    val burns = tokenEventFixture(s, dir)
      .withColumnRenamed("source", "owner").drop("destination")
    QueryLayer.jettonBurns(burns,
      QueryLayer.TokenEventRequest(wallet = Seq("w2", "w5"),
        utimeMin = Some(10L), descending = false, limit = 100))
  }

  /** /nft/transfers (crud_nft.go:134-215): direction 'in' over
    * new_owner, collection equality, lt window, tx_lt DESC; failed
    * transfers are KEPT (no aborted filter). */
  val a17 = Q("a17_nft_transfers",
    """SELECT concat('T', event_id) AS tx_hash,
      |  event_id AS tx_lt, event_id AS tx_now,
      |  (user_id % 7 = 0) AS tx_aborted,
      |  concat('0:', user_id) AS old_owner,
      |  concat('0:', user_id + 1) AS new_owner,
      |  concat('w', user_id % 11) AS nft_item_address,
      |  concat('j', user_id % 5) AS nft_collection_address,
      |  cast(floor(value) AS bigint) AS amount
      |FROM events
      |WHERE concat('0:', user_id + 1) IN ('0:4', '0:9')
      |  AND concat('j', user_id % 5) = 'j3' AND event_id <= 5000
      |ORDER BY tx_lt DESC, tx_hash DESC
      |LIMIT 100""".stripMargin) { (s, dir) =>
    val nft = tokenEventFixture(s, dir)
      .withColumnRenamed("source", "old_owner")
      .withColumnRenamed("destination", "new_owner")
      .withColumnRenamed("jetton_wallet_address", "nft_item_address")
      .withColumnRenamed("jetton_master_address", "nft_collection_address")
    QueryLayer.nftTransfers(nft,
      QueryLayer.TokenEventRequest(owner = Seq("0:4", "0:9"),
        direction = Some("in"), master = Some("j3"),
        ltMax = Some(5000L), limit = 100))
  }

  /** /transactionsByMasterchainBlock (main.go:421-443 → QueryTransactions
    * with BlockRequest{McSeqno}, crud/crud_transactions.go:86): every tx
    * committed under one masterchain block. Exercises the mc_block_seqno
    * point filter + the mcSeqno O2 sort branch (lt, hash desc). At scale
    * the txs silver is laid out partitioned by mc_seqno bucket
    * (plans/Layout.scala), so this is a partition-pruned scan, not a
    * full-table filter. */
  val a18 = Q("a18_tx_by_mc_block",
    """SELECT concat('T', event_id) AS hash, concat('0:', user_id) AS account,
      |  event_id AS lt, cast(event_id // 50 + 1 AS int) AS mc_block_seqno
      |FROM events
      |WHERE event_id // 50 + 1 = 3
      |ORDER BY lt DESC, hash DESC LIMIT 100""".stripMargin) { (s, dir) =>
    val (txs, _) = ChainSim.simulate(s, dir)
    QueryLayer.transactions(txs,
        QueryLayer.TxRequest(mcSeqno = Some(3), limit = 100))
      .select("hash", "account", "lt", "mc_block_seqno")
  }

  /** /topAccountsByBalance (crud_accounts.go:218-237): balance DESC
    * top-K with limit/offset batching over the latest-states dim —
    * stays one TakeOrderedAndProject (off+lim rows) at any scale. */
  val a19 = Q("a19_top_accounts_by_balance",
    """SELECT concat('0:', c_custkey) AS account, c_acctbal AS balance
      |FROM customer
      |ORDER BY balance DESC, account LIMIT 10 OFFSET 5""".stripMargin) {
    (s, dir) =>
    val states = T.customer(s, dir).select(
      concat(lit("0:"), col("c_custkey").cast("string")).as("account"),
      col("c_acctbal").as("balance"))
    QueryLayer.topAccountsByBalance(states, limit = 10, offset = 5)
  }

  /** /addressInformation (main.go:1697-1741, convert.go:14-32): one
    * account's latest state in the v2 shape; the oracle restates the
    * projection for the hit account. The missing-account fabricated row
    * is spec-checked (QueryLayerSpec), not oracle-checked — DuckDB has
    * no row to project it from. */
  val a20 = Q("a20_address_information",
    """SELECT concat('0:', c_custkey) AS account,
      |  cast(cast(floor(c_acctbal) AS bigint) AS varchar) AS balance,
      |  c_mktsegment AS code, c_name AS data,
      |  concat('T', c_custkey) AS last_transaction_hash,
      |  cast(c_custkey * 1000 AS varchar) AS last_transaction_lt,
      |  'active' AS status
      |FROM customer WHERE c_custkey = 7""".stripMargin) { (s, dir) =>
    val states = T.customer(s, dir).select(
      concat(lit("0:"), col("c_custkey").cast("string")).as("account"),
      floor(col("c_acctbal")).cast("long").as("balance"),
      col("c_mktsegment").as("code_boc"),
      col("c_name").as("data_boc"),
      concat(lit("T"), col("c_custkey").cast("string"))
        .as("last_transaction_hash"),
      (col("c_custkey") * 1000L).cast("long").as("last_transaction_lt"),
      lit("active").as("account_status"))
    QueryLayer.addressInformation(states, "0:7")
  }

  /** /walletInformation (main.go:1624-1680, convert.go:34-63): the
    * wallet-catalog parse for one account over the a11 wallet-state
    * fixture (user 8 → v3r2: seqno 8, the standard subwallet id); the
    * oracle restates the parse by formula. */
  val a21 = Q("a21_wallet_information",
    """SELECT '0:8' AS account,
      |  cast(80 AS varchar) AS balance,
      |  'wallet v3 r2' AS wallet_type, cast(8 AS bigint) AS seqno,
      |  cast(698983191 AS bigint) AS wallet_id,
      |  'T8' AS last_transaction_hash,
      |  cast(8000 AS varchar) AS last_transaction_lt,
      |  'active' AS status
      |FROM (SELECT DISTINCT user_id FROM events WHERE user_id = 8)""".stripMargin) {
    (s, dir) =>
    val v3r2 = "hNr6RJ+Ypph3ibojI1gHK8D3bcRSQAKl0JGLmnXS1Zk="
    val mkData = udf { (uid: Long) =>
      val b = new graft.functions.Boc.Builder()
      b.storeUint(BigInt(uid % 100), 32).storeUint(BigInt(698983191L), 32)
      graft.functions.Boc.serializeBase64(b.build())
    }
    val states = T.events(s, dir).select(col("user_id")).distinct()
      .filter(pmod(col("user_id"), lit(4)) === 0)
      .select(
        concat(lit("0:"), col("user_id").cast("string")).as("account"),
        (col("user_id") * 10).cast("long").as("balance"),
        lit(v3r2).as("code_hash"),
        mkData(col("user_id").cast("long")).as("data_boc"),
        concat(lit("T"), col("user_id").cast("string"))
          .as("last_transaction_hash"),
        (col("user_id") * 1000L).cast("long").as("last_transaction_lt"),
        lit("active").as("account_status"))
    QueryLayer.walletInformation(states, "0:8")
  }

  /** /actions with SHORTCUT input (P8 first half,
    * action_versioning.go:10-131): `supported_action_types=
    * ["nft.v3","cocoon"]` runs through [[ActionTypes.expand]] — recursive
    * resolution (nft.v3 → nft), domain groups, and the always-∪-v1 rule —
    * before the a03 suppression + O4 sort. The synthetic actions relation
    * draws `type` from the full 75-type universe and carries ancestors on
    * both sides of the expanded set (cocoon_client_withdraw ∈ expansion →
    * suppressed; layerzero_send ∉ → kept), so a wrong expansion breaks
    * the hash. The oracle's two 47-type lists and the 75-type universe
    * were transcribed independently from the Go map. */
  val a22 = Q("a22_actions_shortcut",
    """WITH bounds AS (SELECT user_id, max(event_id) AS mx
      |                FROM events GROUP BY user_id),
      |acts AS (
      |  SELECT concat('U', e.user_id) AS trace_id, b.mx AS mx,
      |    concat('A', e.event_id) AS action_id,
      |    (['auction_bid', 'auction_outbid', 'call_contract', 'change_dns',
      |      'cocoon_client_change_secret_hash', 'cocoon_client_increase_stake',
      |      'cocoon_client_register', 'cocoon_client_request_refund',
      |      'cocoon_client_top_up', 'cocoon_client_withdraw',
      |      'cocoon_grant_refund', 'cocoon_proxy_charge', 'cocoon_proxy_payout',
      |      'cocoon_register_proxy', 'cocoon_unregister_proxy',
      |      'cocoon_worker_payout', 'coffee_create_pool',
      |      'coffee_create_pool_creator', 'coffee_create_vault',
      |      'coffee_mev_protect_failed_swap', 'coffee_mev_protect_hold_funds',
      |      'coffee_staking_claim_rewards', 'coffee_staking_deposit',
      |      'coffee_staking_withdraw', 'contract_deploy', 'delete_dns',
      |      'dex_deposit_liquidity', 'dex_withdraw_liquidity', 'dns_purchase',
      |      'dns_release', 'election_deposit', 'election_recover',
      |      'evaa_liquidate', 'evaa_supply', 'evaa_withdraw', 'jetton_burn',
      |      'jetton_mint', 'jetton_swap', 'jetton_transfer', 'jvault_claim',
      |      'jvault_stake', 'jvault_unstake', 'jvault_unstake_request',
      |      'layerzero_commit_packet', 'layerzero_dvn_verify',
      |      'layerzero_receive', 'layerzero_send', 'layerzero_send_tokens',
      |      'multisig_approve', 'multisig_create_order', 'multisig_execute',
      |      'nft_cancel_auction', 'nft_cancel_sale', 'nft_discovery',
      |      'nft_finish_auction', 'nft_mint', 'nft_purchase',
      |      'nft_put_on_auction', 'nft_put_on_sale', 'nft_transfer',
      |      'nft_update_sale', 'renew_dns', 'stake_deposit', 'stake_withdrawal',
      |      'stake_withdrawal_request', 'subscribe', 'teleitem_cancel_auction',
      |      'teleitem_start_auction', 'tick_tock', 'ton_transfer',
      |      'tonco_deploy_pool', 'unknown', 'unsubscribe',
      |      'vesting_add_whitelist', 'vesting_send_message'
      |     ])[CAST(e.event_id % 75 AS INT) + 1] AS type,
      |    CASE WHEN e.event_type = 'signup' THEN 'cocoon_client_withdraw'
      |         WHEN e.event_type = 'purchase' THEN 'layerzero_send'
      |    END AS anc,
      |    e.event_id AS end_utime
      |  FROM events e JOIN bounds b ON e.user_id = b.user_id)
      |SELECT trace_id, type, end_utime, action_id FROM acts
      |WHERE type IN ('auction_bid', 'auction_outbid', 'call_contract',
      |  'change_dns', 'cocoon_client_change_secret_hash',
      |  'cocoon_client_increase_stake', 'cocoon_client_register',
      |  'cocoon_client_request_refund', 'cocoon_client_top_up',
      |  'cocoon_client_withdraw', 'cocoon_grant_refund', 'cocoon_proxy_charge',
      |  'cocoon_proxy_payout', 'cocoon_register_proxy',
      |  'cocoon_unregister_proxy', 'cocoon_worker_payout', 'contract_deploy',
      |  'delete_dns', 'dex_deposit_liquidity', 'dex_withdraw_liquidity',
      |  'dns_purchase', 'dns_release', 'election_deposit', 'election_recover',
      |  'jetton_burn', 'jetton_mint', 'jetton_swap', 'jetton_transfer',
      |  'nft_cancel_auction', 'nft_cancel_sale', 'nft_finish_auction',
      |  'nft_mint', 'nft_purchase', 'nft_put_on_auction', 'nft_put_on_sale',
      |  'nft_transfer', 'nft_update_sale', 'renew_dns', 'stake_deposit',
      |  'stake_withdrawal', 'stake_withdrawal_request', 'subscribe',
      |  'teleitem_cancel_auction', 'teleitem_start_auction', 'tick_tock',
      |  'ton_transfer', 'unsubscribe')
      |  AND (anc IS NULL OR anc NOT IN ('auction_bid', 'auction_outbid',
      |  'call_contract', 'change_dns', 'cocoon_client_change_secret_hash',
      |  'cocoon_client_increase_stake', 'cocoon_client_register',
      |  'cocoon_client_request_refund', 'cocoon_client_top_up',
      |  'cocoon_client_withdraw', 'cocoon_grant_refund', 'cocoon_proxy_charge',
      |  'cocoon_proxy_payout', 'cocoon_register_proxy',
      |  'cocoon_unregister_proxy', 'cocoon_worker_payout', 'contract_deploy',
      |  'delete_dns', 'dex_deposit_liquidity', 'dex_withdraw_liquidity',
      |  'dns_purchase', 'dns_release', 'election_deposit', 'election_recover',
      |  'jetton_burn', 'jetton_mint', 'jetton_swap', 'jetton_transfer',
      |  'nft_cancel_auction', 'nft_cancel_sale', 'nft_finish_auction',
      |  'nft_mint', 'nft_purchase', 'nft_put_on_auction', 'nft_put_on_sale',
      |  'nft_transfer', 'nft_update_sale', 'renew_dns', 'stake_deposit',
      |  'stake_withdrawal', 'stake_withdrawal_request', 'subscribe',
      |  'teleitem_cancel_auction', 'teleitem_start_auction', 'tick_tock',
      |  'ton_transfer', 'unsubscribe'))
      |ORDER BY mx, trace_id, end_utime, action_id LIMIT 200""".stripMargin) {
    (s, dir) =>
    val uni = ActionTypes.universe
    val ev = T.events(s, dir)
    val bounds = ev.groupBy("user_id").agg(max("event_id").as("mx"))
    val acts = ev.join(broadcast(bounds), Seq("user_id"))
      .select(
        concat(lit("U"), col("user_id").cast("string")).as("trace_id"),
        col("mx").cast("long").as("trace_end_utime"),
        concat(lit("A"), col("event_id").cast("string")).as("action_id"),
        element_at(typedLit(uni),
          (col("event_id") % uni.size).cast("int") + lit(1)).as("type"),
        when(col("event_type") === "signup",
            array(lit("cocoon_client_withdraw")))
          .when(col("event_type") === "purchase",
            array(lit("layerzero_send")))
          .otherwise(array().cast("array<string>")).as("ancestor_type"),
        col("event_id").cast("long").as("end_utime"))
    QueryLayer.actions(acts, ActionTypes.expand(Seq("nft.v3", "cocoon")), 200)
      .select("trace_id", "type", "end_utime", "action_id")
  }

  val all: Seq[Q] = Seq(a01, a02, a03, a04, a05, a06, a07, a08, a09, a10,
    a11, a12, a13, a14, a15, a16, a17, a18, a19, a20, a21, a22)
}
