package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** M3 query layer — the reference's REST query families as pure
  * DataFrame programs over the blockchain tables (SURVEY §3.1: one
  * function per endpoint family; ton-index-go/index/crud package).
  *
  * Encodes the two hardest observable contracts:
  *  - O2 filter-dependent sort-key selection (crud_transactions.go:70-113):
  *    the ORDER BY key follows the filter shape so that, on a properly
  *    laid-out table (partitioned by mc_seqno bucket, sorted within
  *    partitions by (account, lt)), the sort rides the storage order.
  *  - O3 limit clamps: default 100, max 1000, offset ≥ 0 (crud.go:31-50),
  *    applied by [[page]] on every paged route.
  *  - O4 four-key deterministic action ordering (crud_actions.go:184-198).
  */
object QueryLayer {

  val DefaultLimit = 100
  val MaxLimit = 1000

  def clampLimit(limit: Int): Int =
    if (limit <= 0) DefaultLimit else math.min(limit, MaxLimit)

  /** The one pagination of every paged route: sort on `keys`, clamp, and
    * take offset + limit rows before dropping the offset, so the plan is
    * one TakeOrderedAndProject of off+lim rows — no global sort
    * materializes at any scale (PlanSpec). */
  private def page(df: DataFrame, keys: Seq[Column], limit: Int,
      offset: Int = 0): DataFrame = {
    val off = math.max(offset, 0)
    df.orderBy(keys: _*).limit(off + clampLimit(limit)).offset(off)
  }

  /** Typed request (models/request.go:25-208 analogue). */
  case class TxRequest(
      account: Option[String] = None,
      hashes: Seq[String] = Nil,
      ltMin: Option[Long] = None, ltMax: Option[Long] = None,
      utimeMin: Option[Long] = None, utimeMax: Option[Long] = None,
      mcSeqno: Option[Int] = None,
      descending: Boolean = true,
      limit: Int = DefaultLimit, offset: Int = 0)

  /** O2: choose the sort key the way the reference does. */
  private[graft] def txSortKeys(r: TxRequest): Seq[Column] = {
    val dir: Column => Column = c => if (r.descending) c.desc else c.asc
    if (r.hashes.nonEmpty) Seq(dir(col("hash")))
    else if (r.mcSeqno.isDefined) Seq(dir(col("lt")), dir(col("hash")))
    else if (r.account.isDefined && (r.utimeMin.isDefined || r.utimeMax.isDefined))
      Seq(dir(col("account")), dir(col("now")), dir(col("lt")), dir(col("hash")))
    else if (r.account.isDefined)
      Seq(dir(col("account")), dir(col("lt")), dir(col("hash")))
    else if (r.utimeMin.isDefined || r.utimeMax.isDefined)
      Seq(dir(col("now")), dir(col("lt")), dir(col("hash")))
    else Seq(dir(col("lt")), dir(col("hash")))
  }

  /** GET /api/v3/transactions family (crud_transactions.go:15-158). */
  def transactions(txs: DataFrame, r: TxRequest): DataFrame = {
    var df = txs
    r.account.foreach(a => df = df.filter(col("account") === a))
    if (r.hashes.nonEmpty) df = df.filter(col("hash").isin(r.hashes: _*))
    r.ltMin.foreach(v => df = df.filter(col("lt") >= v))
    r.ltMax.foreach(v => df = df.filter(col("lt") <= v))
    r.utimeMin.foreach(v => df = df.filter(col("now") >= v))
    r.utimeMax.foreach(v => df = df.filter(col("now") <= v))
    r.mcSeqno.foreach(v => df = df.filter(col("mc_block_seqno") === v))
    page(df, txSortKeys(r), r.limit, r.offset)
  }

  /** Nested hydration (J11/O5): transactions + in_msg struct + out_msgs
    * array sorted by created_lt nulls-first (crud_transactions.go:251-261). */
  def hydrate(txs: DataFrame, messages: DataFrame): DataFrame = {
    val inMsgs = messages.filter(col("direction") === "in")
      .groupBy(col("tx_hash").as("hash"))
      .agg(min(struct(col("msg_hash"), col("source"), col("destination"),
        col("value"), col("opcode"))).as("in_msg"))
    val outMsgs = messages.filter(col("direction") === "out")
      .groupBy(col("tx_hash").as("hash"))
      .agg(sort_array(collect_list(struct(
        coalesce(col("created_lt"), lit(Long.MinValue)).as("sort_lt"),
        col("msg_hash"), col("destination"), col("value")))).as("out_msgs"))
    txs.join(inMsgs, Seq("hash"), "left")
      .join(outMsgs, Seq("hash"), "left")
  }

  /** transactionsByMessage (J1): via the message's (tx_hash, tx_lt). */
  def transactionsByMessage(txs: DataFrame, messages: DataFrame,
      msgHash: String): DataFrame =
    messages.filter(col("msg_hash") === msgHash)
      .select(col("tx_hash").as("hash"), col("tx_lt").as("lt"))
      .join(txs, Seq("hash", "lt"))
      .orderBy("lt", "hash")

  /** adjacentTransactions (J2): the self-join neighbor hop. */
  def adjacentTransactions(messages: DataFrame, txHash: String): DataFrame = {
    val mine = messages.filter(col("tx_hash") === txHash)
      .select(col("msg_hash"), col("direction").as("d1"))
    messages.join(mine, Seq("msg_hash"))
      .filter(col("direction") =!= col("d1") && col("tx_hash") =!= txHash)
      .select(col("tx_hash"), col("msg_hash"), col("direction"))
      .distinct()
      .orderBy("tx_hash", "msg_hash")
  }

  /** traces by account (J4 semi-join — EXISTS, not JOIN, to avoid probe
    * fan-out dup rows; crud_traces.go:59-98). The benchmark's read path
    * calls this and checks its rows, so it stays beside
    * [[tracesByRequest]]: its tie-break is trace_id ASC, the request
    * form's follows the direction (DESC). */
  def tracesByAccount(traces: DataFrame, txs: DataFrame,
      account: String, limit: Int = DefaultLimit): DataFrame =
    page(traces.join(
        txs.filter(col("account") === account).select("trace_id"),
        Seq("trace_id"), "left_semi"),
      Seq(col("end_lt").desc, col("trace_id")), limit)

  /** Typed traces request (crud_traces.go:13-115): the full GET
    * /api/v3/traces switch surface — end_utime range flips the sort
    * clock to (end_utime, trace_id) exactly like actions' order_by_now
    * (a LT range does NOT flip it), account / tx-hash / msg-hash
    * filters are EXISTS subqueries (left-semi joins — never fan-out
    * JOINs), msg hashes match msg_hash OR msg_hash_norm, and mc_seqno
    * implies state = 'complete'. BackcompatSpec fuzzes this against
    * reference-shaped SQL with a mutation canary. */
  case class TraceRequest(
      account: Option[String] = None,
      txHashes: Seq[String] = Nil,
      msgHashes: Seq[String] = Nil,
      traceIds: Seq[String] = Nil,
      mcSeqno: Option[Long] = None,
      utimeMin: Option[Long] = None, utimeMax: Option[Long] = None,
      ltMin: Option[Long] = None, ltMax: Option[Long] = None,
      descending: Boolean = true,
      limit: Int = DefaultLimit, offset: Int = 0)

  def tracesByRequest(traces: DataFrame, txs: DataFrame, msgs: DataFrame,
      r: TraceRequest): DataFrame = {
    val orderByNow = r.utimeMin.isDefined || r.utimeMax.isDefined
    var df = traces
    r.utimeMin.foreach(v => df = df.filter(col("end_utime") >= v))
    r.utimeMax.foreach(v => df = df.filter(col("end_utime") <= v))
    r.ltMin.foreach(v => df = df.filter(col("end_lt") >= v))
    r.ltMax.foreach(v => df = df.filter(col("end_lt") <= v))
    r.account.foreach(a => df = df.join(
      txs.filter(col("account") === a).select("trace_id"),
      Seq("trace_id"), "left_semi"))
    if (r.txHashes.nonEmpty) df = df.join(
      txs.filter(col("hash").isin(r.txHashes: _*)).select("trace_id"),
      Seq("trace_id"), "left_semi")
    if (r.msgHashes.nonEmpty) df = df.join(
      msgs.filter(col("msg_hash").isin(r.msgHashes: _*) ||
          col("msg_hash_norm").isin(r.msgHashes: _*))
        .select("trace_id"),
      Seq("trace_id"), "left_semi")
    if (r.traceIds.nonEmpty) df = df.filter(col("trace_id").isin(r.traceIds: _*))
    r.mcSeqno.foreach(v => df = df.filter(
      col("state") === "complete" && col("mc_seqno_end") === v))
    // postgres null placement (DESC = NULLS FIRST, ASC = NULLS LAST):
    // pending traces can carry NULL end stamps, and Spark's defaults
    // are the opposite — spelled out so the reference order is exact
    val dir: Column => Column =
      c => if (r.descending) c.desc_nulls_first else c.asc_nulls_last
    val keys =
      if (orderByNow) Seq(dir(col("end_utime")), dir(col("trace_id")))
      else Seq(dir(col("end_lt")), dir(col("trace_id")))
    page(df, keys, r.limit, r.offset)
  }

  /** Typed actions request (crud_actions.go:78-198 analogue): the O4
    * four-key sort with its two switch axes — clock (order_by_now flips
    * utime↔lt keys when a utime filter is present) and site (the
    * account filter reroutes through the `action_accounts` bridge and
    * sorts on ITS denormalized copies). */
  case class ActionsRequest(
      account: Option[String] = None,
      utimeMin: Option[Long] = None, utimeMax: Option[Long] = None,
      ltMin: Option[Long] = None, ltMax: Option[Long] = None,
      includeTypes: Seq[String] = Nil, excludeTypes: Seq[String] = Nil,
      descending: Boolean = true,
      limit: Int = DefaultLimit, offset: Int = 0)

  /** GET /api/v3/actions (crud_actions.go:60-198): time-range filters
    * land on the join site the reference uses (AA.* when the account
    * bridge is joined, A.* otherwise), the 4-key sort follows the
    * order_by_now switch with ONE direction on all four keys, and
    * `end_lt is not NULL` is always appended. The bridge join mirrors
    * the reference's DISTINCT ON exactly: the WHERE applies to ALL
    * bridge rows first, then one row per DISTINCT ON key survives — and
    * that key is the full active 4-tuple (trace_end_utime/lt, trace_id,
    * action_end_utime/lt, action_id), crud_actions.go:127-129, so
    * duplicate bridge copies with DIVERGENT denormalized stamps each
    * form their own group and ALL survive (r14 advisor); only
    * 4-tuple-equal copies collapse. Postgres leaves the survivor pick
    * among those arbitrary; we pin it by the inactive-clock stamps for
    * determinism. limit+offset stays one TakeOrderedAndProject. */
  def actionsByRequest(actionsDf: DataFrame, actionAccounts: DataFrame,
      r: ActionsRequest): DataFrame = {
    val orderByNow = r.utimeMin.isDefined || r.utimeMax.isDefined
    val dir: Column => Column = c => if (r.descending) c.desc else c.asc
    val base = r.account match {
      case Some(a) =>
        // sort/filter site = the bridge's denormalized copies
        val aa = actionAccounts.filter(col("account") === a)
          .select(col("trace_id"), col("action_id"),
            col("trace_end_utime").as("s_trace_end_utime"),
            col("trace_end_lt").as("s_trace_end_lt"),
            col("action_end_utime").as("s_end_utime"),
            col("action_end_lt").as("s_end_lt"))
        actionsDf.drop("trace_end_utime", "trace_end_lt")
          .join(aa, Seq("trace_id", "action_id"))
      case None => actionsDf
        .withColumn("s_trace_end_utime", col("trace_end_utime"))
        .withColumn("s_trace_end_lt", col("trace_end_lt"))
        .withColumn("s_end_utime", col("end_utime"))
        .withColumn("s_end_lt", col("end_lt"))
    }
    val conds: Seq[Column] = Seq(
      r.utimeMin.map(v => col("s_trace_end_utime") >= v),
      r.utimeMax.map(v => col("s_trace_end_utime") <= v),
      r.ltMin.map(v => col("s_trace_end_lt") >= v),
      r.ltMax.map(v => col("s_trace_end_lt") <= v),
      if (r.includeTypes.nonEmpty) Some(col("type").isin(r.includeTypes: _*))
      else None,
      if (r.excludeTypes.nonEmpty) Some(!col("type").isin(r.excludeTypes: _*))
      else None,
      Some(col("end_lt").isNotNull)).flatten
    val sortKeys =
      if (orderByNow)
        Seq(dir(col("s_trace_end_utime")), dir(col("trace_id")),
          dir(col("s_end_utime")), dir(col("action_id")))
      else
        Seq(dir(col("s_trace_end_lt")), dir(col("trace_id")),
          dir(col("s_end_lt")), dir(col("action_id")))
    val filtered = conds.foldLeft(base)(_ filter _)
    val deduped = r.account match {
      case Some(_) =>
        // DISTINCT ON after WHERE, keyed by the full active 4-tuple:
        // stamp-divergent copies are distinct groups and all survive
        val activeKeys =
          if (orderByNow)
            Seq(col("s_trace_end_utime"), col("trace_id"),
              col("s_end_utime"), col("action_id"))
          else
            Seq(col("s_trace_end_lt"), col("trace_id"),
              col("s_end_lt"), col("action_id"))
        val tieBreak =
          if (orderByNow)
            Seq(dir(col("s_trace_end_lt")), dir(col("s_end_lt")))
          else
            Seq(dir(col("s_trace_end_utime")), dir(col("s_end_utime")))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(activeKeys: _*).orderBy(tieBreak: _*)
        filtered.withColumn("__rk", row_number().over(w))
          .filter(col("__rk") === 1).drop("__rk")
      case None => filtered
    }
    page(deduped, sortKeys, r.limit, r.offset)
  }

  /** actions with the P8 hierarchical filter + O4 sort contract. It stays
    * beside [[actionsByRequest]] because the supported-types suppression
    * and a03's ascending trace_end_utime sort are not part of
    * [[ActionsRequest]]. RAW `supported_action_types` shortcut names
    * (v1..v4/latest, domain groups) go through [[ActionTypes.expand]]
    * first (recursive resolution + always-∪-v1,
    * action_versioning.go:108-131), the reference handler's order of
    * operations; a22 checks that against its oracle. */
  def actions(actionsDf: DataFrame, supported: Seq[String],
      limit: Int = DefaultLimit): DataFrame = {
    val types = array(supported.map(lit): _*)
    page(actionsDf
        .filter(col("type").isin(supported: _*)
          && !arrays_overlap(coalesce(col("ancestor_type"),
            array().cast("array<string>")), types)),
      Seq(col("trace_end_utime"), col("trace_id"), col("end_utime"),
        col("action_id")), limit)
  }

  /** GET /api/v3/topAccountsByBalance (crud_accounts.go:218-237), the
    * A3 top-K: `select account, balance from latest_account_states
    * order by balance desc` with limit/offset batching. The account
    * tie-break makes pagination total (the reference inherits postgres
    * heap order on equal balances). */
  def topAccountsByBalance(states: DataFrame, limit: Int = 10,
      offset: Int = 0): DataFrame =
    page(states.select("account", "balance"),
      Seq(col("balance").desc, col("account")), limit, offset)

  /** W1 DISTINCT ON: shortest DNS domain per wallet (crud.go:297-300). */
  def shortestDomainPerWallet(dns: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("nft_item_owner")
      .orderBy(length(col("domain")), col("domain"))
    dns.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).drop("rn")
  }

  // ------------------------------------------------- token/dim families

  /** GET /api/v3/blocks (crud_blocks.go:14-80): equality filters on
    * workchain/shard/seqno/mc_seqno, gen_utime and start_lt ranges,
    * ordered by gen_utime. seqno+workchain extend the sort so pagination
    * is total — the reference inherits postgres's physical tie order. */
  case class BlockRequest(
      workchain: Option[Int] = None, shard: Option[Long] = None,
      seqno: Option[Long] = None, mcSeqno: Option[Long] = None,
      utimeMin: Option[Long] = None, utimeMax: Option[Long] = None,
      ltMin: Option[Long] = None, ltMax: Option[Long] = None,
      descending: Boolean = true, limit: Int = DefaultLimit)

  def blocks(blocksDf: DataFrame, r: BlockRequest): DataFrame = {
    var df = blocksDf
    r.workchain.foreach(v => df = df.filter(col("workchain") === v))
    r.shard.foreach(v => df = df.filter(col("shard") === v))
    r.seqno.foreach(v => df = df.filter(col("seqno") === v))
    r.mcSeqno.foreach(v => df = df.filter(col("mc_block_seqno") === v))
    r.utimeMin.foreach(v => df = df.filter(col("gen_utime") >= v))
    r.utimeMax.foreach(v => df = df.filter(col("gen_utime") <= v))
    r.ltMin.foreach(v => df = df.filter(col("start_lt") >= v))
    r.ltMax.foreach(v => df = df.filter(col("start_lt") <= v))
    val dir: Column => Column = c => if (r.descending) c.desc else c.asc
    page(df, Seq(dir(col("gen_utime")), dir(col("seqno")),
      dir(col("workchain"))), r.limit)
  }

  /** GET /api/v3/messages (crud_messages.go:14-105): filters on
    * direction/source/destination/opcode, msg-hash IN matching msg_hash
    * OR msg_hash_norm, body_hash, created_at and created_lt windows,
    * then the A1 dedup contract — the in and out copies of one message
    * collapse to a single row carrying both tx hashes (group by
    * msg_hash + every non-collapsed column, max-case per direction,
    * crud_messages.go:22-29). "null" source/destination selects
    * externals like the reference's sentinel. Two reference quirks
    * pinned by the BackcompatSpec fuzz: a utime filter flips the sort
    * clock created_lt → created_at (msg_hash stays the tie-break), and
    * the exclude/only-externals NULL test applies to the ACTIVE clock
    * column, whichever it is (crud_messages.go:67-87). */
  case class MessageRequest(
      direction: Option[String] = None,
      source: Option[String] = None, destination: Option[String] = None,
      opcode: Option[Long] = None,
      msgHashes: Seq[String] = Nil, bodyHash: Option[String] = None,
      utimeMin: Option[Long] = None, utimeMax: Option[Long] = None,
      ltMin: Option[Long] = None, ltMax: Option[Long] = None,
      excludeExternals: Boolean = false, onlyExternals: Boolean = false,
      descending: Boolean = true, limit: Int = DefaultLimit)

  def messages(messagesDf: DataFrame, r: MessageRequest): DataFrame = {
    var df = messagesDf
    r.direction.foreach(v => df = df.filter(col("direction") === v))
    r.source.foreach(v => df =
      if (v == "null") df.filter(col("source").isNull)
      else df.filter(col("source") === v))
    r.destination.foreach(v => df =
      if (v == "null") df.filter(col("destination").isNull)
      else df.filter(col("destination") === v))
    r.opcode.foreach(v => df = df.filter(col("opcode") === v))
    if (r.msgHashes.nonEmpty)
      df = df.filter(col("msg_hash").isin(r.msgHashes: _*) ||
        col("msg_hash_norm").isin(r.msgHashes: _*))
    r.bodyHash.foreach(v => df = df.filter(col("body_hash") === v))
    val orderCol =
      if (r.utimeMin.isDefined || r.utimeMax.isDefined) "created_at"
      else "created_lt"
    r.utimeMin.foreach(v => df = df.filter(col("created_at") >= v))
    r.utimeMax.foreach(v => df = df.filter(col("created_at") <= v))
    r.ltMin.foreach(v => df = df.filter(col("created_lt") >= v))
    r.ltMax.foreach(v => df = df.filter(col("created_lt") <= v))
    if (r.excludeExternals) df = df.filter(col(orderCol).isNotNull)
    if (r.onlyExternals) df = df.filter(col(orderCol).isNull)
    // postgres null placement: externals carry NULL clock stamps and
    // sort NULLS FIRST under DESC there, opposite Spark's default
    val dir: Column => Column =
      c => if (r.descending) c.desc_nulls_first else c.asc_nulls_last
    // group by msg_hash + the reference's SELECTED rest columns
    // (crud_messages.go:22-29) present in the input frame — never
    // carrier columns like trace_id that the endpoint doesn't project
    val restAllow = Set("msg_hash", "source", "destination", "value",
      "value_extra_currencies", "fwd_fee", "ihr_fee", "extra_flags",
      "created_lt", "created_at", "opcode", "ihr_disabled", "bounce",
      "bounced", "import_fee", "body_hash", "init_state_hash",
      "msg_hash_norm")
    val restCols = messagesDf.columns.toSeq.filter(restAllow)
    page(df.groupBy(restCols.map(col): _*)
        .agg(max(when(col("direction") === "in", col("tx_hash")))
            .as("in_tx_hash"),
          max(when(col("direction") === "out", col("tx_hash")))
            .as("out_tx_hash")),
      Seq(dir(col(orderCol)), dir(col("msg_hash"))), r.limit)
  }

  /** GET /api/v3/accountStates (crud_accounts.go:14-51): IN-filters on
    * account and code_hash, hard limit 1000, no endpoint sort — account
    * order makes the result total for pagination. */
  def accountStates(states: DataFrame, accounts: Seq[String] = Nil,
      codeHashes: Seq[String] = Nil): DataFrame = {
    var df = states
    if (accounts.nonEmpty) df = df.filter(col("account").isin(accounts: _*))
    if (codeHashes.nonEmpty)
      df = df.filter(col("code_hash").isin(codeHashes: _*))
    page(df, Seq(col("account")), MaxLimit)
  }

  /** The code-hash wallet catalog parse (wallet_parse.go:78-114): wallet
    * type, seqno, wallet_id and the v5 signature flag from the data BOC;
    * unknown hashes come back with isWallet=false. The catalog probe is a
    * scalar lookup inside the decode (no join): the catalog is a
    * constant. */
  private val walletParse = udf { (ch: String, db: String) =>
    graft.functions.WalletParse.parse(ch, db)
  }
  private val walletFields = Seq(col("w.walletType").as("wallet_type"),
    col("w.seqno").as("seqno"), col("w.walletId").as("wallet_id"))

  /** GET /api/v3/walletStates (main.go:2333, crud_accounts.go:199-216):
    * account states run through [[walletParse]]; unknown hashes pass
    * through with is_wallet=false. */
  def walletStates(states: DataFrame, accounts: Seq[String] = Nil): DataFrame = {
    var df = states
    if (accounts.nonEmpty) df = df.filter(col("account").isin(accounts: _*))
    page(df.withColumn("w", walletParse(col("code_hash"), col("data_boc")))
        .select(Seq(col("account"), col("w.isWallet").as("is_wallet")) ++
          walletFields ++ Seq(
            col("w.isSignatureAllowed").as("is_signature_allowed"),
            col("code_hash")): _*),
      Seq(col("account")), MaxLimit)
  }

  /** Zero transaction-hash sentinel the v2 handlers fabricate for
    * accounts the state table has never seen (main.go:1652-1656,
    * 1726-1731). */
  private val ZeroTxHash = "AAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAA="

  /** ONE account's latest state for the v2 single-account routes: a left
    * join from a one-row literal frame, so the found/missing branch needs
    * no driver-side action; against the account-sorted latest-states
    * silver the probe partition-prunes. */
  private def accountLookup(states: DataFrame, account: String): DataFrame =
    states.sparkSession.range(1).select(lit(account).as("account"))
      .join(states, Seq("account"), "left")

  /** The v2 row around the route's own `fields`: a missing account gets
    * the fabricated zero row (balance "0", zero tx hash, lt "0", status
    * "uninit"); the lt is serialized as a string. */
  private def v2Row(found: DataFrame, fields: Column*): DataFrame =
    found.select(Seq(col("account"),
        coalesce(col("balance").cast("string"), lit("0")).as("balance")) ++
      fields ++ Seq(
        coalesce(col("last_transaction_hash"), lit(ZeroTxHash))
          .as("last_transaction_hash"),
        coalesce(col("last_transaction_lt").cast("string"), lit("0"))
          .as("last_transaction_lt"),
        coalesce(col("account_status"), lit("uninit")).as("status")): _*)

  /** GET /api/v3/addressInformation (main.go:1697-1741 →
    * models/convert.go:14-32): ONE account's latest state projected to
    * the v2 shape — balance, code/data BOCs, last-transaction pointer,
    * status. */
  def addressInformation(states: DataFrame, account: String): DataFrame =
    v2Row(accountLookup(states, account),
      col("code_boc").as("code"), col("data_boc").as("data"))

  /** GET /api/v3/walletInformation (main.go:1624-1680 →
    * models/convert.go:34-63): the walletStates parse for ONE account,
    * gated — a row that is neither a wallet nor uninit is NOT a wallet
    * (the handler 409s; here: zero rows). Missing account → the same
    * fabricated uninit zero row as addressInformation. */
  def walletInformation(states: DataFrame, account: String): DataFrame =
    v2Row(accountLookup(states, account)
        .withColumn("w", when(col("account_status").isNotNull,
          walletParse(col("code_hash"), col("data_boc"))))
        .filter(col("account_status").isNull ||
          col("w.isWallet") || col("account_status") === "uninit"),
      walletFields: _*)

  /** GET /api/v3/masterchainInfo (crud_blocks.go:134-157): the last and
    * first masterchain block in one pass — a single workchain=-1 scan
    * aggregated to both extremes (the reference issues two ORDER BY ...
    * LIMIT 1 point reads; with a seqno-sorted blocks table both are
    * partition-pruned min/max probes). */
  def masterchainInfo(blocksDf: DataFrame): DataFrame = {
    blocksDf.filter(col("workchain") === -1)
      .agg(max(struct(col("seqno"), col("gen_utime"))).as("last"),
        min(struct(col("seqno"), col("gen_utime"))).as("first"))
      .select(col("last.seqno").as("last_seqno"),
        col("last.gen_utime").as("last_gen_utime"),
        col("first.seqno").as("first_seqno"),
        col("first.gen_utime").as("first_gen_utime"))
  }

  /** GET /api/v3/masterchainBlockShards (crud_blocks.go:183-199): the
    * shard_state rows of one masterchain seqno joined back to blocks on
    * the (workchain, shard, seqno) triple — the seqno equality prunes
    * shard_state to one masterchain block before the join, so the blocks
    * side is a broadcast-friendly point lookup at any scale. */
  def masterchainShards(shardState: DataFrame, blocksDf: DataFrame,
      mcSeqno: Long): DataFrame = {
    shardState.filter(col("mc_seqno") === mcSeqno)
      .join(blocksDf, Seq("workchain", "shard", "seqno"))
      .orderBy(col("mc_seqno"), col("workchain"), col("shard"), col("seqno"))
  }

  /** GET /api/v3/masterchainBlockShardState (main.go:2310 → GetShardsDiff
    * → QueryBlocks with mc_seqno pinned, crud_blocks.go:45-47,159-181):
    * every block committed under one masterchain block — a plain
    * mc_block_seqno point filter over the blocks table with the generic
    * blocks pagination (gen_utime sort + limit). The filter is
    * partition-prunable on an mc_seqno-bucketed blocks layout, so the
    * scan touches one bucket at any scale. Deterministic tie-breakers
    * added beyond the reference's documented gen_utime sort. */
  def masterchainBlockShardState(blocksDf: DataFrame, mcSeqno: Long,
      limit: Int = DefaultLimit): DataFrame = {
    page(blocksDf.filter(col("mc_block_seqno") === mcSeqno),
      Seq(col("gen_utime").desc, col("workchain"), col("shard"),
        col("seqno")), limit)
  }

  /** GET /api/v3/jetton/masters (crud_jettons.go:15-52): IN-filters on
    * master and admin address; catalog order (address stands in for the
    * reference's insertion id). */
  def jettonMasters(masters: DataFrame, addresses: Seq[String] = Nil,
      admins: Seq[String] = Nil, limit: Int = DefaultLimit): DataFrame = {
    var df = masters
    if (addresses.nonEmpty) df = df.filter(col("address").isin(addresses: _*))
    if (admins.nonEmpty)
      df = df.filter(col("admin_address").isin(admins: _*))
    page(df, Seq(col("address")), limit)
  }

  /** GET /api/v3/nft/collections (crud_nft.go:14-52): IN-filters on
    * collection and owner address, catalog order by address. */
  def nftCollections(collections: DataFrame, addresses: Seq[String] = Nil,
      owners: Seq[String] = Nil, limit: Int = DefaultLimit): DataFrame = {
    var df = collections
    if (addresses.nonEmpty) df = df.filter(col("address").isin(addresses: _*))
    if (owners.nonEmpty)
      df = df.filter(col("owner_address").isin(owners: _*))
    page(df, Seq(col("address")), limit)
  }

  /** GET /api/v3/dns/records (crud_dns.go:31-40): EXACTLY ONE of the
    * wallet arm or the domain arm — the route 422s on both-or-neither.
    * Order: LENGTH(domain), domain (both arms), with nft_item_address
    * appended as the deterministic tie-break the reference leaves to
    * postgres heap order. */
  def dnsByRequest(dns: DataFrame, wallet: Option[String],
      domain: Option[String], limit: Int = DefaultLimit,
      offset: Int = 0): DataFrame = {
    require(wallet.isDefined || domain.isDefined,
      "at least one of wallet or domain is required")
    require(wallet.isEmpty || domain.isEmpty,
      "only one of wallet or domain should be specified")
    val filtered = wallet match {
      case Some(w) => dns.filter(col("dns_wallet") === w)
      case None => dns.filter(col("domain") === domain.get)
    }
    page(filtered,
      Seq(length(col("domain")), col("domain"), col("nft_item_address")),
      limit, offset)
  }

  /** GET /api/v3/multisig/wallets (crud_multisig.go:13-59): address
    * IN-list AND the signers/proposers match — a wallet matches when it
    * appears among a contract's signers OR proposers, the postgres
    * array-overlap filter as arrays_overlap on the array columns (J6
    * family) — ordered by the insert serial `id` (the reference's ORDER
    * BY m.id) in the requested direction. */
  def multisigByRequest(multisig: DataFrame, addresses: Seq[String] = Nil,
      wallets: Seq[String] = Nil, descending: Boolean = true,
      limit: Int = DefaultLimit, offset: Int = 0): DataFrame = {
    var df = multisig
    if (addresses.nonEmpty) df = df.filter(col("address").isin(addresses: _*))
    if (wallets.nonEmpty) {
      val ws = array(wallets.map(lit): _*)
      df = df.filter(arrays_overlap(col("signers"), ws) ||
        arrays_overlap(col("proposers"), ws))
    }
    page(df, Seq(if (descending) col("id").desc else col("id").asc),
      limit, offset)
  }

  /** GET /api/v3/vesting, full switch surface (crud_vesting.go:75-120):
    * EXACTLY ONE of contract-address IN-list or the wallet disjunction
    * (the route 422s on both-or-neither, crud_vesting.go:17-23).
    * Wallet arm: owner IN ws
    * OR sender IN ws OR, when check_whitelist, EXISTS a whitelist row of
    * the contract with wallet IN ws. The EXISTS arm joins the DISTINCT
    * whitelisted contract keys as a boolean flag (left join on the
    * contract key), never an inner join — one row per contract, no
    * fan-out (J4). Ordered by the insert serial `id` ASC (ORDER BY
    * V.id). */
  def vestingByRequest(contracts: DataFrame, whitelist: DataFrame,
      addresses: Seq[String] = Nil, wallets: Seq[String] = Nil,
      checkWhitelist: Boolean = false, limit: Int = DefaultLimit,
      offset: Int = 0): DataFrame = {
    // the reference 422s unless EXACTLY one of contract_address /
    // wallet_address is given (crud_vesting.go:17-23)
    require(addresses.nonEmpty || wallets.nonEmpty,
      "at least one of contract_address or wallet_address is required")
    require(addresses.isEmpty || wallets.isEmpty,
      "only one of contract_address or wallet_address should be specified")
    var df = contracts
    if (addresses.nonEmpty) df = df.filter(col("address").isin(addresses: _*))
    if (wallets.nonEmpty) {
      val ownerOrSender = col("owner_address").isin(wallets: _*) ||
        col("vesting_sender_address").isin(wallets: _*)
      df =
        if (!checkWhitelist) df.filter(ownerOrSender)
        else df.join(
            whitelist.filter(col("wallet_address").isin(wallets: _*))
              .select(col("vesting_contract_address").as("address"))
              .distinct().withColumn("__wl", lit(true)),
            Seq("address"), "left")
          .filter(ownerOrSender || col("__wl"))
          .drop("__wl")
    }
    page(df, Seq(col("id")), limit, offset)
  }

  /** Typed request for GET /api/v3/nft/items (crud_nft.go:52-124). */
  case class NftItemsRequest(
      addresses: Seq[String] = Nil, owners: Seq[String] = Nil,
      includeOnSale: Boolean = false, collections: Seq[String] = Nil,
      indexIn: Seq[String] = Nil, sortByLastTransactionLt: Boolean = false,
      limit: Int = DefaultLimit, offset: Int = 0)

  /** GET /api/v3/nft/items (crud_nft.go:40-124): the J8 dimension
    * left-joins — collections always, getgems sales/auctions for live
    * on-sale ownership — under the full switch surface.
    *
    * Collections is an UNBOUNDED entity dim (LAYOUT.md sizes entity dims
    * at ≤1e9 rows) — never broadcast it whole: items⋈collections runs as
    * a co-keyed shuffle join (both sides hash on collection_address); a
    * single-collection filter is applied to BOTH sides first so
    * partition pruning reaches the scans. The sales/auctions joins
    * broadcast only the filtered LIVE subsets (bounded by on-sale
    * inventory). Switches:
    *  - owner filter site switches on include_on_sale (crud_nft.go:80-86):
    *    N.real_owner (the live getgems sale/auction owner, which the
    *    reference stores denormalized and this engine derives as
    *    coalesce(sale, auction, owner)) when true, N.owner_address
    *    otherwise;
    *  - ORDER BY resolves in the builder's statement order, later
    *    switches overriding earlier (crud_nft.go:66-124): id ASC by
    *    default, cleared by an address filter, (owner_address,
    *    collection_address, index) under an owner filter,
    *    (collection_address, index) under a SINGLE collection,
    *    last_transaction_lt DESC under sort_by_last_transaction_lt;
    *  - index IN-list only with a collection filter (422 otherwise);
    *  - `address` appended as the deterministic tie-break everywhere
    *    (the reference leaves ties to postgres heap order; a Spark sort
    *    must be total for stable pagination).
    * The frame must carry the insert serial `id` for the default order. */
  def nftItemsByRequest(items: DataFrame, collections: DataFrame,
      sales: DataFrame, auctions: DataFrame,
      r: NftItemsRequest): DataFrame = {
    require(r.indexIn.isEmpty || r.collections.nonEmpty,
      "index parameter is not allowed without the collection_address")
    val collsF = (if (r.collections.size == 1)
        collections.filter(col("address") === r.collections.head)
      else collections)
      .select(col("address").as("collection_address"),
        col("owner_address").as("collection_owner"),
        col("collection_content"))
    val itemsF0 = if (r.collections.size == 1)
      items.filter(col("collection_address") === r.collections.head)
    else items
    // the reference joins the sale/auction dims on BOTH keys — the item
    // owner must BE the contract AND the contract must point back at the
    // item (crud_nft.go:61-63) — so a contract listing a different NFT
    // never lends its real owner
    val saleDim = broadcast(sales.filter(!col("is_complete"))
      .select(col("address").as("__s_addr"), col("nft_address").as("__s_nft"),
        col("nft_owner_address").as("sale_real_owner")))
    val aucDim = broadcast(auctions.filter(!col("end_flag"))
      .select(col("address").as("__a_addr"), col("nft_addr").as("__a_nft"),
        col("nft_owner").as("auction_real_owner")))
    val withDims = itemsF0
      .join(collsF, Seq("collection_address"), "left")
      .join(saleDim, col("owner_address") === col("__s_addr") &&
        col("address") === col("__s_nft"), "left")
      .join(aucDim, col("owner_address") === col("__a_addr") &&
        col("address") === col("__a_nft"), "left")
      .drop("__s_addr", "__s_nft", "__a_addr", "__a_nft")
      .withColumn("real_owner", coalesce(col("sale_real_owner"),
        col("auction_real_owner"), col("owner_address")))
    var df = withDims
    if (r.addresses.nonEmpty) df = df.filter(col("address").isin(r.addresses: _*))
    if (r.owners.nonEmpty) {
      val site = if (r.includeOnSale) col("real_owner")
        else col("owner_address")
      df = df.filter(site.isin(r.owners: _*))
    }
    if (r.collections.size > 1)
      df = df.filter(col("collection_address").isin(r.collections: _*))
    // the reference drops empty-string index values and applies NO
    // filter when none remain (crud_nft.go:103-117) — only the 422 on a
    // missing collection fires on the RAW list
    val indexVals = r.indexIn.filter(_.nonEmpty)
    if (indexVals.nonEmpty) df = df.filter(col("index").isin(indexVals: _*))
    // ORDER BY resolution in builder statement order (later wins);
    // Postgres null placement (ASC nulls LAST, DESC nulls FIRST) on the
    // nullable keys — collection_address and last_transaction_lt
    var order: Seq[Column] = Seq(col("id").asc)
    if (r.addresses.nonEmpty) order = Nil
    if (r.owners.nonEmpty)
      order = Seq(col("owner_address").asc_nulls_last,
        col("collection_address").asc_nulls_last,
        col("index").asc_nulls_last)
    if (r.collections.size == 1)
      order = Seq(col("collection_address").asc_nulls_last,
        col("index").asc_nulls_last)
    if (r.sortByLastTransactionLt)
      order = Seq(col("last_transaction_lt").desc_nulls_first)
    page(df, order :+ col("address"), r.limit, r.offset)
  }

  /** Typed request shared by the token-event endpoint families
    * (models JettonTransferRequest / JettonBurnRequest /
    * NFTTransferRequest with their Utime/Lt/Limit companions). */
  case class TokenEventRequest(
      owner: Seq[String] = Nil, direction: Option[String] = None,
      wallet: Seq[String] = Nil, master: Option[String] = None,
      utimeMin: Option[Long] = None, utimeMax: Option[Long] = None,
      ltMin: Option[Long] = None, ltMax: Option[Long] = None,
      descending: Boolean = true,
      limit: Int = DefaultLimit, offset: Int = 0)

  /** Shared shape of the three token-event queries: owner filter honoring
    * direction (in → `inCol`, out → `outCol`, absent → either), wallet/
    * master IN- and equality filters, lt/utime windows, and the O2-style
    * sort-key switch — tx_lt by default, tx_now once a utime bound is
    * present (crud_jettons.go:117-199, crud_nft.go:134-215). tx_hash
    * breaks ties so pagination is deterministic (the reference inherits
    * whatever order postgres picks; a Spark sort must be total). */
  private def tokenEvents(df0: DataFrame, r: TokenEventRequest,
      inCol: String, outCol: String,
      walletCol: Option[String], masterCol: Option[String]): DataFrame = {
    var df = df0
    if (r.owner.nonEmpty) {
      val inF = col(inCol).isin(r.owner: _*)
      val outF = col(outCol).isin(r.owner: _*)
      df = r.direction match {
        case Some("in") => df.filter(inF)
        case Some(_) => df.filter(outF)
        case None => df.filter(inF || outF)
      }
    }
    walletCol.foreach { wc =>
      if (r.wallet.nonEmpty) df = df.filter(col(wc).isin(r.wallet: _*))
    }
    masterCol.foreach { mc =>
      r.master.foreach(m => df = df.filter(col(mc) === m))
    }
    r.utimeMin.foreach(v => df = df.filter(col("tx_now") >= v))
    r.utimeMax.foreach(v => df = df.filter(col("tx_now") <= v))
    r.ltMin.foreach(v => df = df.filter(col("tx_lt") >= v))
    r.ltMax.foreach(v => df = df.filter(col("tx_lt") <= v))
    val orderCol =
      if (r.utimeMin.isDefined || r.utimeMax.isDefined) col("tx_now")
      else col("tx_lt")
    val keys =
      if (r.descending) Seq(orderCol.desc, col("tx_hash").desc)
      else Seq(orderCol.asc, col("tx_hash").asc)
    page(df, keys, r.limit, r.offset)
  }

  /** GET /api/v3/jetton/transfers (crud_jettons.go:117-199); aborted
    * transfers are always excluded. */
  def jettonTransfers(transfers: DataFrame, r: TokenEventRequest): DataFrame =
    tokenEvents(transfers.filter(col("tx_aborted") === false), r,
      inCol = "destination", outCol = "source",
      walletCol = Some("jetton_wallet_address"),
      masterCol = Some("jetton_master_address"))

  /** GET /api/v3/jetton/burns (crud_jettons.go:202-260): the owner filter
    * has no direction — burns only have an owner side. */
  def jettonBurns(burns: DataFrame, r: TokenEventRequest): DataFrame =
    tokenEvents(burns, r.copy(direction = Some("out")),
      inCol = "owner", outCol = "owner",
      walletCol = Some("jetton_wallet_address"),
      masterCol = Some("jetton_master_address"))

  /** GET /api/v3/nft/transfers (crud_nft.go:134-215): direction over
    * (new_owner, old_owner), item-address IN-filter, collection equality.
    * No aborted filter — the reference keeps failed NFT transfers. */
  def nftTransfers(transfers: DataFrame, r: TokenEventRequest): DataFrame =
    tokenEvents(transfers, r,
      inCol = "new_owner", outCol = "old_owner",
      walletCol = Some("nft_item_address"),
      masterCol = Some("nft_collection_address"))

  /** GET /api/v3/jetton/wallets (crud_jettons.go:40-102): owner/jetton
    * IN-filters, the mintless left join, the exclude-zero-balance
    * predicate `balance + coalesce(mintless_amount, 0) > 0` (P5/F8), and
    * the O2-style sort selection — default surrogate `id asc`, switching
    * to balance when a sort direction is requested, prefixed by the
    * equality-filtered column so the sort rides a covering layout. */
  def jettonWallets(wallets: DataFrame, mintlessMasters: DataFrame,
      owners: Seq[String] = Nil, jettons: Seq[String] = Nil,
      excludeZeroBalance: Boolean = false,
      sortBalanceDesc: Option[Boolean] = None,
      limit: Int = DefaultLimit, offset: Int = 0): DataFrame = {
    var df = wallets.join(
      broadcast(mintlessMasters.select(col("address").as("jetton"),
        col("mintless_amount"))),
      Seq("jetton"), "left")
    if (owners.nonEmpty) df = df.filter(col("owner").isin(owners: _*))
    if (jettons.nonEmpty) df = df.filter(col("jetton").isin(jettons: _*))
    if (excludeZeroBalance)
      df = df.filter(col("balance") + coalesce(col("mintless_amount"), lit(0)) > 0)
    // reference order-by (crud_jettons.go:64-98): surrogate `id asc` by
    // default; with a sort direction, `balance <dir>` prefixed by the
    // equality-filtered column — `owner` always, `jetton` only when the
    // filter has exactly ONE jetton (the multi-jetton IN keeps the plain
    // balance order). Trailing `id asc` is our deterministic tie-break
    // (Postgres leaves ties arbitrary; a distributed engine must not).
    val sortKeys: Seq[Column] = sortBalanceDesc match {
      case Some(desc) =>
        val bal: Column = if (desc) col("balance").desc else col("balance").asc
        val prefix: Seq[Column] =
          (if (owners.nonEmpty) Seq(col("owner")) else Nil) ++
            (if (jettons.size == 1) Seq(col("jetton")) else Nil)
        prefix ++ Seq(bal, col("id"))
      case None => Seq(col("id"))
    }
    page(df, sortKeys, limit, offset)
  }

  /** GET /api/v3/nft/sales (crud_sales.go:20-170): getgems sales and
    * auctions by contract address, unified under a sale_type tag (U1) and
    * hydrated with the NFT item + collection dims (J8). The address
    * IN-list bounds the probe side at ≤1000 rows, so the big dims are
    * semi-pruned by broadcasting the small side's keys, and only the
    * pruned dims are broadcast for the hydrating left joins. */
  def nftSales(sales: DataFrame, auctions: DataFrame,
      items: DataFrame, collections: DataFrame,
      addresses: Seq[String]): DataFrame = {
    // the route 422s outside 1..1000 addresses (crud_sales.go:377-383)
    require(addresses.nonEmpty, "at least 1 address required")
    require(addresses.size <= 1000, "maximum 1000 addresses allowed")
    val saleSide = sales.select(
      lit("getgems_sale").as("sale_type"), col("address"),
      col("nft_address"), col("nft_owner_address"),
      col("marketplace_address"), col("created_at"),
      col("last_transaction_lt"), col("is_complete"),
      col("full_price"), col("marketplace_fee_address"),
      col("marketplace_fee"), col("royalty_address"), col("royalty_amount"),
      lit(null).cast("decimal(38,0)").as("last_bid"),
      lit(null).cast("decimal(38,0)").as("max_bid"),
      lit(null).cast("decimal(38,0)").as("min_bid"),
      lit(null).cast("int").as("end_time"))
    val auctionSide = auctions.select(
      lit("getgems_auction").as("sale_type"), col("address"),
      col("nft_addr").as("nft_address"),
      col("nft_owner").as("nft_owner_address"),
      col("mp_addr").as("marketplace_address"), col("created_at"),
      col("last_transaction_lt"), col("end_flag").as("is_complete"),
      lit(null).cast("decimal(38,0)").as("full_price"),
      col("mp_fee_addr").as("marketplace_fee_address"),
      lit(null).cast("decimal(38,0)").as("marketplace_fee"),
      col("royalty_fee_addr").as("royalty_address"),
      lit(null).cast("decimal(38,0)").as("royalty_amount"),
      col("last_bid"), col("max_bid"), col("min_bid"), col("end_time"))
    val filtered = saleSide.unionByName(auctionSide)
      .filter(col("address").isin(addresses: _*))
    // The probe side is ≤1000 rows (address IN-list) while `items` is a
    // 10⁸-row dim: broadcast the SMALL side's keys to semi-prune the dim
    // scan (no shuffle of items), then broadcast the tiny pruned dim for
    // the hydrating left join. Never broadcast the full items dim.
    val itemDim = items.select(col("address").as("nft_address"),
        col("index").as("nft_item_index"),
        col("collection_address"),
        col("owner_address").as("nft_item_owner_address"))
      .join(broadcast(filtered.select("nft_address").distinct()),
        Seq("nft_address"), "left_semi")
    val collDim = collections.select(
        col("address").as("collection_address"),
        col("owner_address").as("collection_owner_address"))
      .join(broadcast(itemDim.select("collection_address").distinct()),
        Seq("collection_address"), "left_semi")
    filtered
      .join(broadcast(itemDim), Seq("nft_address"), "left")
      .join(broadcast(collDim), Seq("collection_address"), "left")
      .orderBy(col("sale_type"), col("address"))
  }

  /** GET /api/v3/multisig/orders, full switch surface
    * (crud_multisig.go:61-108 + the handler's 422): order-address
    * IN-list AND multisig-address IN-list (at least one required —
    * main.go's GetMultisigOrders rejects the unfiltered scan), ordered
    * by the insert serial `id` in the requested direction (default
    * DESC — crud_multisig.go:84), `address` as the deterministic
    * tie-break. approvals_mask is a 256-bit string column (§1.2) — never
    * arithmetic. */
  def multisigOrdersByRequest(orders: DataFrame,
      addresses: Seq[String] = Nil, multisigs: Seq[String] = Nil,
      descending: Boolean = true, limit: Int = DefaultLimit,
      offset: Int = 0): DataFrame = {
    require(addresses.nonEmpty || multisigs.nonEmpty,
      "At least one of address or multisig_address should be specified")
    var df = orders
    if (addresses.nonEmpty)
      df = df.filter(col("address").isin(addresses: _*))
    if (multisigs.nonEmpty)
      df = df.filter(col("multisig_address").isin(multisigs: _*))
    page(df, Seq(if (descending) col("id").desc else col("id").asc,
      col("address")), limit, offset)
  }

  /** Metadata decoration (U1 + J10, crud.go:101-108): the 3-way tagged
    * union of token entities left-joined to address_metadata. */
  def tokenMetadata(nftItems: DataFrame, nftCollections: DataFrame,
      jettonMasters: DataFrame, metadata: DataFrame): DataFrame = {
    def tag(df: DataFrame, t: String) =
      df.select(col("address"), lit(t).as("type"))
    tag(nftItems, "nft_items")
      .unionByName(tag(nftCollections, "nft_collections"))
      .unionByName(tag(jettonMasters, "jetton_masters"))
      .join(metadata, Seq("address", "type"), "left")
  }
}
