package graft.classifier

import java.nio.charset.StandardCharsets
import java.security.MessageDigest
import java.util.Base64

import graft.functions.TlbDecoders

/** Nested action detail payloads (Schemas.actions *_data structs;
  * reference composite types database.py:275-569). */
case class TonTransferData(content: Option[String], encrypted: Boolean)

case class JettonTransferData(
    response_destination: Option[String], forward_amount: Option[BigDecimal],
    query_id: Option[String], custom_payload: Option[String],
    forward_payload: Option[String], comment: Option[String],
    is_encrypted_comment: Option[Boolean])

case class NftTransferData(
    is_purchase: Option[Boolean], price: Option[BigDecimal],
    query_id: Option[String], custom_payload: Option[String],
    forward_payload: Option[String], forward_amount: Option[BigDecimal],
    response_destination: Option[String], nft_item_index: Option[String],
    marketplace: Option[String], real_prev_owner: Option[String],
    // sale/auction context + seller payout (database.py:288-305)
    marketplace_address: Option[String] = None,
    payout_amount: Option[BigDecimal] = None,
    payout_comment_encrypted: Option[Boolean] = None,
    payout_comment_encoded: Option[Boolean] = None,
    payout_comment: Option[String] = None,
    royalty_amount: Option[BigDecimal] = None)

case class DexTransferData(
    amount: Option[BigDecimal], asset: Option[String],
    source: Option[String], destination: Option[String],
    source_jetton_wallet: Option[String],
    destination_jetton_wallet: Option[String])

case class PeerSwapData(
    asset_in: Option[String], amount_in: Option[BigDecimal],
    asset_out: Option[String], amount_out: Option[BigDecimal])

case class JettonSwapData(
    dex: String, sender: Option[String],
    dex_incoming_transfer: Option[DexTransferData],
    dex_outgoing_transfer: Option[DexTransferData],
    peer_swaps: Seq[PeerSwapData],
    min_out_amount: Option[BigDecimal])

/** nft_listing_details (reference database.py:341, filled by
  * _fill_nft_put_on_sale_action / _fill_nft_put_on_auction_action,
  * block_tree_serializer.py:280-344): sale fields null for auctions and
  * vice versa. */
case class NftListingData(
    nft_item_index: Option[String],
    full_price: Option[BigDecimal],
    marketplace_fee: Option[BigDecimal],
    royalty_amount: Option[BigDecimal],
    marketplace_fee_address: Option[String],
    marketplace: Option[String],
    royalty_address: Option[String],
    mp_fee_factor: Option[BigDecimal],
    mp_fee_base: Option[BigDecimal],
    royalty_fee_base: Option[BigDecimal],
    max_bid: Option[BigDecimal],
    min_bid: Option[BigDecimal])

case class StakingData(
    provider: Option[String], ts_nft: Option[String],
    tokens_burnt: Option[BigDecimal], tokens_minted: Option[BigDecimal])

/** change_dns_record_details (database.py:333-338; filled at
  * block_tree_serializer.py:469-503 — delete keeps only the key). */
case class ChangeDnsRecordData(
    key: Option[String], value_schema: Option[String],
    value: Option[String], flags: Option[Int])

/** multisig_*_details (database.py:428-448; fills at
  * block_tree_serializer.py:768-808). */
case class MultisigCreateOrderData(
    query_id: Option[String], order_seqno: Option[String],
    is_created_by_signer: Option[Boolean],
    is_signed_by_creator: Option[Boolean],
    creator_index: Option[Int], expiration_date: Option[Long],
    order_boc: Option[String])

case class MultisigApproveData(
    signer_index: Option[Int], exit_code: Option[Int])

case class MultisigExecuteData(
    query_id: Option[String], order_seqno: Option[String],
    expiration_date: Option[Long], approvals_num: Option[Int],
    signers_hash: Option[String], order_boc: Option[String])

/** vesting_*_details (database.py:449-456; fills at
  * block_tree_serializer.py:810-829). */
case class VestingSendMessageData(
    query_id: Option[String], message_boc: Option[String])

case class VestingAddWhitelistData(
    query_id: Option[String], accounts_added: Seq[String])

/** liquidity_vault_excess_details (database.py:390-393). */
case class LiquidityVaultExcess(
    asset: Option[String], amount: Option[BigDecimal])

/** dex_deposit_liquidity_details (database.py:377-399; DeDust fill at
  * block_tree_serializer.py:600-645, generic at :400-413, TONCO ticks at
  * :893-937). */
case class DexDepositLiquidityData(
    dex: Option[String],
    amount1: Option[BigDecimal], amount2: Option[BigDecimal],
    asset1: Option[String], asset2: Option[String],
    user_jetton_wallet_1: Option[String], user_jetton_wallet_2: Option[String],
    lp_tokens_minted: Option[BigDecimal],
    target_asset_1: Option[String], target_asset_2: Option[String],
    target_amount_1: Option[BigDecimal], target_amount_2: Option[BigDecimal],
    vault_excesses: Seq[LiquidityVaultExcess] = Nil,
    tick_lower: Option[String] = None, tick_upper: Option[String] = None,
    nft_index: Option[String] = None, nft_address: Option[String] = None)

/** evaa_*_details (database.py:355-376; fills at
  * block_tree_serializer.py:677-725). */
case class EvaaSupplyData(
    sender_jetton_wallet: Option[String],
    recipient_jetton_wallet: Option[String],
    master_jetton_wallet: Option[String],
    master: Option[String], asset_id: Option[String],
    is_ton: Option[Boolean])

case class EvaaWithdrawData(
    sender_jetton_wallet: Option[String],
    recipient_jetton_wallet: Option[String],
    master_jetton_wallet: Option[String],
    master: Option[String], fail_reason: Option[String],
    asset_id: Option[String],
    is_ton: Option[Boolean] = None)

case class EvaaLiquidateData(
    fail_reason: Option[String], debt_amount: Option[BigDecimal],
    asset_id: Option[String])

/** tonco_deploy_pool_details (database.py:463-474; fill at
  * block_tree_serializer.py:831-849). */
case class ToncoDeployPoolData(
    jetton0_router_wallet: Option[String],
    jetton1_router_wallet: Option[String],
    jetton0_minter: Option[String], jetton1_minter: Option[String],
    tick_spacing: Option[Int], initial_price_x96: Option[BigDecimal],
    protocol_fee: Option[Int], lp_fee_base: Option[Int],
    lp_fee_current: Option[Int], pool_active: Option[Boolean])

/** jvault_*_details (database.py:419-427; fills at
  * block_tree_serializer.py:726-766). */
case class JvaultStakeData(
    period: Option[BigDecimal], minted_stake_jettons: Option[BigDecimal],
    stake_wallet: Option[String])

case class JvaultClaimData(
    claimed_jettons: Seq[String], claimed_amounts: Seq[BigDecimal])

/** coffee_create_pool_details (database.py:475-483; fill at
  * block_tree_serializer.py:955-971). pool_creator_contract is in the
  * DDL but the reference fill dict omits it (it rides
  * destination_secondary instead) — kept here as an always-None column
  * for schema parity. */
case class CoffeeCreatePoolData(
    amount_1: Option[BigDecimal], amount_2: Option[BigDecimal],
    initiator_1: Option[String], initiator_2: Option[String],
    provided_asset: Option[String], lp_tokens_minted: Option[BigDecimal],
    pool_creator_contract: Option[String] = None)

/** nft_mint_details (database.py:339-340; fill at
  * block_tree_serializer.py:267-277 — index from the nft_items dim). */
case class NftMintData(nft_item_index: Option[String])

/** coffee_staking_deposit_details (database.py:484-487; fill at
  * block_tree_serializer.py:984-994). */
case class CoffeeStakingDepositData(
    minted_item_address: Option[String], minted_item_index: Option[String])

/** coffee_staking_withdraw_details (database.py:488-492; fill at
  * block_tree_serializer.py:996-1007 — nft/points decode from the
  * withdraw_2 body, messages/coffee.py:1109-1127). */
case class CoffeeStakingWithdrawData(
    nft_address: Option[String], nft_index: Option[String],
    points: Option[BigDecimal])

/** cocoon_*_details (database.py:520-569; fills at
  * block_tree_serializer.py:1020-1196). Shared single-field shape for
  * the query-id-only structs (proxy payout / client top-up / register
  * proxy). */
case class CocoonQueryIdData(query_id: Option[String])

case class CocoonWorkerPayoutData(
    payout_type: Option[String], query_id: Option[String],
    new_tokens: Option[BigDecimal], worker_state: Option[Int],
    worker_tokens: Option[BigDecimal])

/** Shared by cocoon_proxy_charge_details and cocoon_grant_refund_details
  * (identical columns, database.py:530-534/557-561). */
case class CocoonChargeData(
    query_id: Option[String], new_tokens_used: Option[BigDecimal],
    expected_address: Option[String])

case class CocoonUnregisterProxyData(
    query_id: Option[String], seqno: Option[Int])

case class CocoonClientRegisterData(
    query_id: Option[String], nonce: Option[String])

case class CocoonChangeSecretHashData(
    query_id: Option[String], new_secret_hash: Option[String])

case class CocoonRequestRefundData(
    query_id: Option[String], via_wallet: Option[Boolean])

case class CocoonIncreaseStakeData(
    query_id: Option[String], new_stake: Option[BigDecimal])

case class CocoonClientWithdrawData(
    query_id: Option[String], withdraw_amount: Option[BigDecimal])

/** layerzero_*_details (database.py:493-518; fills at
  * block_tree_serializer.py:1199-1253). msglib_manager/msglib and the
  * packet oapp/guid fields serialize as 0x-hex strings like the
  * reference (hex(uint256) in messages/layerzero.py). */
case class LayerZeroSendData(
    send_request_id: Option[BigDecimal], msglib_manager: Option[String],
    msglib: Option[String], uln: Option[String],
    native_fee: Option[BigDecimal], zro_fee: Option[BigDecimal],
    endpoint: Option[String], channel: Option[String])

case class LayerZeroPacketData(
    src_oapp: Option[String], dst_oapp: Option[String],
    src_eid: Option[Int], dst_eid: Option[Int],
    nonce: Option[BigDecimal], guid: Option[String],
    message: Option[String])

case class LayerZeroDvnVerifyData(
    nonce: Option[BigDecimal], status: Option[String],
    dvn: Option[String], proxy: Option[String],
    uln: Option[String], uln_connection: Option[String])

/** dex_withdraw_liquidity_details (database.py:400-418; fills at
  * block_tree_serializer.py:414-461). */
case class DexWithdrawLiquidityData(
    dex: Option[String],
    amount1: Option[BigDecimal], amount2: Option[BigDecimal],
    asset1_out: Option[String], asset2_out: Option[String],
    user_jetton_wallet_1: Option[String], user_jetton_wallet_2: Option[String],
    dex_jetton_wallet_1: Option[String], dex_jetton_wallet_2: Option[String],
    lp_tokens_burnt: Option[BigDecimal],
    dex_wallet_1: Option[String], dex_wallet_2: Option[String],
    is_refund: Option[Boolean] = None,
    burned_nft_index: Option[String] = None,
    burned_nft_address: Option[String] = None,
    tick_lower: Option[String] = None, tick_upper: Option[String] = None)

/** Flat Action row (the driver-visible columns of Schemas.actions, plus
  * the typed detail structs filled per action family). */
case class ActionRow(
    trace_id: String,
    action_id: String,
    `type`: String,
    tx_hashes: Seq[String],
    value: Option[BigDecimal],
    start_lt: Long, end_lt: Long,
    start_utime: Long, end_utime: Long,
    source: Option[String], destination: Option[String],
    asset: Option[String],
    opcode: Option[Long],
    success: Boolean,
    parent_action_id: Option[String],
    ancestor_type: Seq[String],
    ton_transfer_data: Option[TonTransferData] = None,
    jetton_transfer_data: Option[JettonTransferData] = None,
    nft_transfer_data: Option[NftTransferData] = None,
    jetton_swap_data: Option[JettonSwapData] = None,
    staking_data: Option[StakingData] = None,
    nft_listing_data: Option[NftListingData] = None,
    source_secondary: Option[String] = None,
    destination_secondary: Option[String] = None,
    change_dns_record_data: Option[ChangeDnsRecordData] = None,
    multisig_create_order_data: Option[MultisigCreateOrderData] = None,
    multisig_approve_data: Option[MultisigApproveData] = None,
    multisig_execute_data: Option[MultisigExecuteData] = None,
    vesting_send_message_data: Option[VestingSendMessageData] = None,
    vesting_add_whitelist_data: Option[VestingAddWhitelistData] = None,
    dex_deposit_liquidity_data: Option[DexDepositLiquidityData] = None,
    dex_withdraw_liquidity_data: Option[DexWithdrawLiquidityData] = None,
    tonco_deploy_pool_data: Option[ToncoDeployPoolData] = None,
    jvault_stake_data: Option[JvaultStakeData] = None,
    jvault_claim_data: Option[JvaultClaimData] = None,
    coffee_staking_deposit_data: Option[CoffeeStakingDepositData] = None,
    evaa_supply_data: Option[EvaaSupplyData] = None,
    evaa_withdraw_data: Option[EvaaWithdrawData] = None,
    evaa_liquidate_data: Option[EvaaLiquidateData] = None,
    cocoon_worker_payout_data: Option[CocoonWorkerPayoutData] = None,
    cocoon_proxy_payout_data: Option[CocoonQueryIdData] = None,
    cocoon_proxy_charge_data: Option[CocoonChargeData] = None,
    cocoon_client_top_up_data: Option[CocoonQueryIdData] = None,
    cocoon_register_proxy_data: Option[CocoonQueryIdData] = None,
    cocoon_unregister_proxy_data: Option[CocoonUnregisterProxyData] = None,
    cocoon_client_register_data: Option[CocoonClientRegisterData] = None,
    cocoon_client_change_secret_hash_data: Option[CocoonChangeSecretHashData] = None,
    cocoon_client_request_refund_data: Option[CocoonRequestRefundData] = None,
    cocoon_grant_refund_data: Option[CocoonChargeData] = None,
    cocoon_client_increase_stake_data: Option[CocoonIncreaseStakeData] = None,
    cocoon_client_withdraw_data: Option[CocoonClientWithdrawData] = None,
    asset_secondary: Option[String] = None,
    layerzero_send_data: Option[LayerZeroSendData] = None,
    layerzero_packet_data: Option[LayerZeroPacketData] = None,
    layerzero_dvn_verify_data: Option[LayerZeroDvnVerifyData] = None,
    nft_mint_data: Option[NftMintData] = None,
    coffee_staking_withdraw_data: Option[CoffeeStakingWithdrawData] = None,
    coffee_create_pool_data: Option[CoffeeCreatePoolData] = None,
    asset2: Option[String] = None,
    asset2_secondary: Option[String] = None,
    // max masterchain seqno over the action's own txs
    // (block_tree_serializer.py:114)
    mc_seqno_end: Option[Int] = None,
    // every involved account — block tx accounts + endpoints/secondaries
    // + per-type extras; transient in the reference too (database.py:580,
    // no Column()) — it exists to feed action_accounts
    accounts: Seq[String] = Nil,
    // the reference's action.amount (token quantity) as distinct from
    // action.value (attached TON) — filled for token/protocol families
    // (the 36 amount fills of block_tree_serializer.py), null for
    // ton_transfer/call_contract whose quantity is `value`
    amount: Option[BigDecimal] = None)

case class ActionAccountRow(
    action_id: String, trace_id: String, account: String,
    trace_end_lt: Long, action_end_lt: Long,
    trace_end_utime: Long, action_end_utime: Long)

/** G8/G9: block tree → typed Action rows with parent links + ancestor
  * suppression metadata, plus the fallback ladder (reference:
  * indexer/indexer/events/block_tree_serializer.py:1292-1587,
  * trace_processor.py:29-77).
  */
object Serializer {

  /** action_id = base64(sha256(anchor_msg_hash ∥ btype))
    * (_calc_action_id, block_tree_serializer.py:99-108). */
  def actionId(anchorMsgHash: String, btype: String): String = {
    val md = MessageDigest.getInstance("SHA-256")
    md.update(anchorMsgHash.getBytes(StandardCharsets.UTF_8))
    md.update(btype.getBytes(StandardCharsets.UTF_8))
    Base64.getEncoder.encodeToString(md.digest())
  }

  /** Leaf action types a v1 client understands (v1_ops — children of these
    * are still emitted but carry ancestor_type for suppression, P8). */
  private val emittedTypes: Set[String] = Set(
    "ton_transfer", "call_contract", "contract_deploy", "tick_tock",
    "jetton_transfer", "jetton_burn", "nft_transfer", "jetton_swap",
    "jetton_mint", "unknown",
    "stake_deposit", "stake_withdrawal", "stake_withdrawal_request",
    "election_deposit", "election_recover",
    "multisig_create_order", "multisig_approve", "multisig_execute",
    "change_dns", "vesting_send_message", "vesting_add_whitelist",
    "subscribe", "unsubscribe",
    "dex_deposit_liquidity", "dex_withdraw_liquidity",
    "nft_put_on_auction", "auction_bid",
    "jvault_stake", "jvault_unstake", "jvault_unstake_request",
    "jvault_claim", "tgbtc_mint", "tgbtc_burn", "tgbtc_new_key",
    "tgbtc_mint_fallback", "tgbtc_burn_fallback", "tgbtc_new_key_fallback",
    "tgbtc_dkg_log_fallback", "evaa_supply", "evaa_withdraw",
    "evaa_liquidate",
    "coffee_create_pool", "layerzero_send", "layerzero_commit_packet",
    "layerzero_receive", "layerzero_dvn_verify", "layerzero_send_tokens",
    "nft_mint", "ethena_withdrawal_request", "cocoon_worker_payout",
    "cocoon_client_top_up", "cocoon_client_register", "cocoon_grant_refund",
    "renew_dns", "delete_dns", "dns_release",
    "nft_discovery", "nft_purchase", "auction_outbid",
    "tonco_deploy_pool", "tonco_withdraw_liquidity",
    "coffee_create_vault", "coffee_create_pool_creator",
    "coffee_mev_protect_hold_funds",
    "coffee_staking_deposit", "coffee_staking_withdraw",
    "coffee_staking_claim_rewards",
    "cocoon_proxy_payout", "cocoon_proxy_charge",
    "cocoon_register_proxy", "cocoon_unregister_proxy",
    "cocoon_client_change_secret_hash", "cocoon_client_increase_stake",
    "cocoon_client_withdraw", "cocoon_client_request_refund",
    "nominator_pool_deposit", "nominator_pool_withdraw_request",
    "nft_put_on_sale", "nft_cancel_sale", "nft_cancel_auction",
    "nft_finish_auction", "teleitem_cancel_auction", "dns_purchase",
    "nft_update_sale", "tonco_deposit_liquidity")

  def serialize(traceId: String, root: RootBlock): Seq[ActionRow] =
    serializeStated(traceId, root)._1

  /** serialize_blocks returns (actions, state)
    * (block_tree_serializer.py:1525-1562): any walked broken block turns
    * the trace state 'broken'; otherwise 'ok'. */
  def serializeStated(traceId: String, root: RootBlock)
      : (Seq[ActionRow], String) = {
    // initiating-event-node map (core.py:130-147): the tx-tree parent of
    // each node. The serializer extends every action with its initiating
    // tx hash + account (block_tree_serializer.py:1469-1478).
    val parentTx: Map[String, TxLite] = {
      val m = Map.newBuilder[String, TxLite]
      val seen = scala.collection.mutable.Set[String]()
      def walkNode(n: TxNode): Unit =
        if (seen.add(n.tx.hash))
          n.children.foreach { c => m += (c.tx.hash -> n.tx); walkNode(c) }
      root.bfs.foreach(_.nodes.foreach(walkNode))
      m.result()
    }
    val out = scala.collection.mutable.ArrayBuffer[ActionRow]()
    var anyBroken = false
    def walk(b: Block, parent: Option[ActionRow], ancestors: List[String]): Unit = {
      if (b.btype == "root") { b.children.foreach(walk(_, parent, ancestors)); return }
      if (b.broken) anyBroken = true
      val emit = emittedTypes.contains(b.btype)
      // contract deploys are lifted flat (unwind_deployments,
      // event_processing.py:196-207) — never parented
      val (rowParent, rowAnc) =
        if (b.btype == "contract_deploy") (None, Nil) else (parent, ancestors)
      val row = if (emit) {
        val r0 = toRow(traceId, b, rowParent, rowAnc)
        val r = parentTx.get(b.anchorNode.tx.hash) match {
          case Some(p) => r0.copy(
            tx_hashes = (r0.tx_hashes :+ Ghost.realHash(p.hash)).distinct,
            accounts = (r0.accounts :+ p.account).distinct)
          case None => r0
        }
        out += r
        Some(r)
      } else None
      // parent links + ancestor_type accrue ONLY through non-v1 protocol
      // ops (serialize_blocks, block_tree_serializer.py:1546-1556:
      // children of a v1-op block are serialized flat with
      // parent_action_id=None — v1_ops list at :1484-1520)
      val (childParent, nextAnc) =
        if (emit && !v1Ops(b.btype)) (row, b.btype :: ancestors)
        else if (emit) (None, Nil)
        else (parent, ancestors)
      b.children.foreach(walk(_, childParent, nextAnc))
    }
    walk(root, None, Nil)
    (out.toSeq, if (anyBroken) "broken" else "ok")
  }

  /** The reference's v1_ops (block_tree_serializer.py:1484-1520): action
    * types whose nested actions are NOT parent-linked. */
  private val v1Ops: Set[String] = Set(
    "call_contract", "contract_deploy", "jetton_burn", "tick_tock",
    "jetton_transfer", "nft_transfer", "nft_mint", "jetton_mint",
    "ton_transfer", "stake_deposit", "stake_withdrawal",
    "stake_withdrawal_request", "dex_deposit_liquidity", "jetton_swap",
    "change_dns", "delete_dns", "renew_dns", "subscribe",
    "dex_withdraw_liquidity", "unsubscribe", "election_deposit",
    "election_recover", "auction_bid", "nominator_pool_deposit",
    "nominator_pool_withdraw_request", "dedust_deposit_liquidity",
    "dedust_deposit_liquidity_partial", "tonstakers_deposit",
    "tonstakers_withdraw_request", "tonstakers_withdraw",
    "ethena_withdrawal_request", "ethena_deposit", "tonco_deposit_liquidity",
    "tonco_withdraw_liquidity", "coffee_deposit_liquidity")

  private def toRow(traceId: String, b: Block, parent: Option[ActionRow],
      ancestors: List[String]): ActionRow = {
    val anchor = b.anchorMsgHash
    val (src, dst, asset, value) = b match {
      case t: TonTransferBlock =>
        val m = t.node.inMsg
        (m.flatMap(_.source), m.flatMap(_.destination), None,
          m.map(mm => BigDecimal(mm.value)))
      case c: CallContractBlock =>
        val m = c.node.inMsg
        (m.flatMap(_.source), m.flatMap(_.destination), None,
          m.map(mm => BigDecimal(mm.value)))
      case j: JettonTransferBlock =>
        (j.sender, j.receiver,
          Some(j.asset.getOrElse(j.senderWallet)), Some(j.amount))
      case j: JettonBurnBlock =>
        (j.owner, None, Some(j.asset.getOrElse(j.ownerWallet)),
          Some(j.amount))
      // EVAA fills (block_tree_serializer.py:677-711): endpoints are the
      // human owner on both sides; amount rides `amount`, not value
      case e: EvaaSupplyActionBlock =>
        (e.sender, e.recipient, e.asset, None)
      case e: EvaaWithdrawActionBlock =>
        (e.owner, e.recipient, e.asset, None)
      case n: NftTransferBlock =>
        // asset = collection (nft_items dim), the item rides
        // asset_secondary (_fill_nft_transfer_action:200-202); item
        // stands in when no dim is loaded
        (n.oldOwner, n.newOwner, n.collection.orElse(Some(n.nftItem)), None)
      case sw: JettonSwapBlock =>
        // asset = the incoming transfer's asset (the jetton master when
        // the repository resolved it), asset2 = the outgoing one —
        // _fill_jetton_swap_action block_tree_serializer.py:374-386
        (sw.sender, sw.outTransfer.receiver,
          Some(sw.inTransfer.asset.getOrElse(sw.inTransfer.senderWallet))
            .filter(_ != "TON"),
          Some(sw.inTransfer.amount))
      case sw: JettonSwapDirectBlock =>
        (sw.source, sw.destination, sw.asset,
          sw.data.dex_incoming_transfer.flatMap(_.amount))
      case m: JettonMintBlock =>
        // asset = the master when the call anchor resolved it
        // (_get_jetton_mint_data else-branch / wallet dim); the wallet
        // stands in for the orphan-leg path. value = the attached
        // ton_amount (fill :651) falling back to the minted amount.
        (None, m.receiver, m.master.orElse(m.receiverWallet),
          m.tonAmount.orElse(Some(m.amount)))
      case d: ContractDeployBlock =>
        (None, Some(d.node.tx.account), None, None)
      case p: ProtocolOpBlock =>
        (p.source, p.destination, p.asset, p.value)
      case _ => (None, None, None, None)
    }
    val opcode = b match {
      case p: ProtocolOpBlock if p.opcodeOverride.nonEmpty => p.opcodeOverride
      case c: CallContractBlock => c.opcode
      case _ => b.nodes.headOption.flatMap(_.inMsg).flatMap(_.opcode)
    }
    // Serialized action type can differ from the block type (which still
    // keys the action_id hash): nominator pool blocks serialize as
    // stake_* with provider='nominator' — a withdraw request WITH a
    // merged payout becomes a completed stake_withdrawal
    // (_fill_nominator_pool_*, block_tree_serializer.py:653-672).
    val serializedType = b.btype match {
      case "nominator_pool_deposit" => "stake_deposit"
      case "nominator_pool_withdraw_request" =>
        b match {
          case p: ProtocolOpBlock if p.value.nonEmpty => "stake_withdrawal"
          case _ => "stake_withdrawal_request"
        }
      // ethena withdrawal serializes into the staking family (:1266-1273)
      case "ethena_withdrawal_request" => "stake_withdrawal_request"
      // TONCO liquidity ops serialize as generic dex ops (:436,894)
      case "tonco_deposit_liquidity" => "dex_deposit_liquidity"
      case "tonco_withdraw_liquidity" => "dex_withdraw_liquidity"
      case other => other
    }
    val row = ActionRow(traceId, actionId(anchor, b.btype), serializedType,
      b.txHashes, value, b.minLt, b.maxLt, b.minUtime, b.maxUtime,
      src, dst, asset, opcode, success = !b.failed,
      parent.map(_.action_id), ancestors.reverse,
      ton_transfer_data = b match {
        case t: TonTransferBlock => Some(TonTransferData(t.comment, t.encrypted))
        case _ => None
      },
      jetton_transfer_data = b match {
        case j: JettonTransferBlock => Some(jettonData(j))
        case _ => None
      },
      nft_transfer_data = b match {
        case n: NftTransferBlock => Some(NftTransferData(
          is_purchase = n.isPurchase, price =
            if (n.isPurchase.contains(true)) n.price else None,
          query_id = n.decoded.map(_.queryId.toString).orElse(n.oaQueryId),
          custom_payload = n.decoded.flatMap(_.customPayload),
          forward_payload = n.decoded.flatMap(_.forwardPayload)
            .orElse(n.oaForwardPayload),
          forward_amount = n.decoded.map(d => BigDecimal(d.forwardAmount)),
          response_destination = n.decoded.flatMap(_.responseDestination),
          nft_item_index = n.itemIndex, marketplace = n.marketplace,
          real_prev_owner = n.realPrevOwner,
          marketplace_address = n.marketplaceAddress))
        // getgems purchase: full transfer-detail payload built by the
        // matcher (_fill_nft_purchase_action,
        // block_tree_serializer.py:235-257)
        case p: ProtocolOpBlock if p.btype == "nft_purchase" =>
          p.nftPurchase.orElse(Some(NftTransferData(
            is_purchase = Some(true), price = p.value,
            query_id = None, custom_payload = None, forward_payload = None,
            forward_amount = None, response_destination = None,
            nft_item_index = None, marketplace = Some("getgems"),
            real_prev_owner = p.source)))
        case _ => None
      },
      jetton_swap_data = b match {
        case sw: JettonSwapDirectBlock => Some(sw.data)
        case sw: JettonSwapBlock => Some(JettonSwapData(
          sw.dex, sw.sender,
          dex_incoming_transfer = Some(dexTransfer(sw.inTransfer)),
          dex_outgoing_transfer = Some(dexTransfer(sw.outTransfer)),
          peer_swaps = sw.peerSwaps,
          // TONCO is the only dex whose serializer records min_out —
          // the successful out amount (blocks/swaps.py:1155,1205)
          min_out_amount =
            if (sw.dex == "tonco") Some(sw.outTransfer.amount) else None))
        // DeDust fills dex transfers from the first hop's `in` and the
        // last hop's `out`; peer_swaps serialized only for multi-pool
        // routes (blocks/swaps.py:655-677: peer_swaps if len>1 else [])
        case p: ProtocolOpBlock if p.btype == "jetton_swap" =>
          val hops = p.peerSwaps
          Some(JettonSwapData(p.dex.getOrElse("unknown"), p.source,
            dex_incoming_transfer = hops.headOption.map(h => DexTransferData(
              h.amount_in, h.asset_in, source = p.source,
              destination = p.destination, source_jetton_wallet = None,
              destination_jetton_wallet = None)),
            dex_outgoing_transfer = hops.lastOption.map(h => DexTransferData(
              h.amount_out, h.asset_out, source = p.destination,
              destination = p.source, source_jetton_wallet = None,
              destination_jetton_wallet = None)),
            // DeDust serializes hops only for multi-pool routes
            // (blocks/swaps.py:677: peer_swaps if len>1 else []); StonFi
            // v2 may legitimately carry a 1-entry list when the first
            // hop failed (swaps.py:395-404). Count-only blanks when the
            // bodies didn't decode.
            peer_swaps = {
              val serializable =
                if (p.dex.contains("dedust") && hops.size <= 1) Nil else hops
              if (serializable.nonEmpty) serializable
              else Seq.fill(p.peerSwapCount)(
                PeerSwapData(None, None, None, None))
            },
            min_out_amount = p.minOut))
        case _ => None
      },
      // provider 'liquid_staking' for TONStakers actions (overridable —
      // ethena deposits serialize as stake_deposit/provider='ethena',
      // block_tree_serializer.py:1277-1288); election actions carry NO
      // staking_data (_fill_election_action sets only source/amount —
      // block_tree_serializer.py:512,529,539)
      staking_data = b match {
        case p: ProtocolOpBlock if p.btype.startsWith("stake_") =>
          Some(StakingData(p.provider.orElse(Some("liquid_staking")), p.tsNft,
            p.tokensBurnt, p.tokensMinted))
        case p: ProtocolOpBlock if p.btype.startsWith("nominator_pool_") =>
          Some(StakingData(Some("nominator"), None, None, None))
        case p: ProtocolOpBlock if p.btype == "ethena_withdrawal_request" =>
          Some(StakingData(Some("ethena"), None, None, p.tokensMinted))
        case _ => None
      },
      nft_listing_data = b match {
        case p: ProtocolOpBlock => p.listing
        case _ => None
      },
      // jetton transfer/burn carry the wallet endpoints as secondaries
      // (_fill_jetton_transfer_action block_tree_serializer.py:168-171,
      // _fill_jetton_burn_action :462-464)
      source_secondary = b match {
        case j: JettonTransferBlock =>
          if (j.walletsHidden) None else Some(j.senderWallet)
        case jb: JettonBurnBlock => Some(jb.ownerWallet)
        case p: ProtocolOpBlock => p.sourceSecondary
        case e: EvaaSupplyActionBlock => e.senderJettonWallet
        // the user's funding wallet (block_tree_serializer.py:380)
        case sw: JettonSwapBlock => Some(sw.inTransfer.senderWallet)
        case sw: JettonSwapDirectBlock => sw.sourceSecondary
        case _ => None
      },
      destination_secondary = b match {
        case j: JettonTransferBlock => j.receiverWallet
        // to_jetton_wallet (_fill_jetton_mint_action:648)
        case m: JettonMintBlock => m.receiverWallet
        case p: ProtocolOpBlock => p.destinationSecondary
        // the user smart-contract (block_tree_serializer.py:681,698)
        case e: EvaaSupplyActionBlock => e.recipientContract
        case e: EvaaWithdrawActionBlock => e.ownerContract
        // the user's payout wallet (block_tree_serializer.py:382)
        case sw: JettonSwapBlock => sw.outTransfer.receiverWallet
        case sw: JettonSwapDirectBlock => sw.destinationSecondary
        case _ => None
      },
      asset_secondary = b match {
        case p: ProtocolOpBlock => p.assetSecondary
        case n: NftTransferBlock => Some(n.nftItem)
        case _ => None
      },
      // LayerZero payloads travel on the block (matcher-decoded;
      // fills block_tree_serializer.py:1199-1253)
      layerzero_send_data = b match {
        case p: ProtocolOpBlock => p.lzSend
        case _ => None
      },
      layerzero_packet_data = b match {
        case p: ProtocolOpBlock => p.lzPacket
        case _ => None
      },
      layerzero_dvn_verify_data = b match {
        case p: ProtocolOpBlock => p.lzDvn
        case _ => None
      },
      nft_mint_data = b match {
        case p: ProtocolOpBlock if p.btype == "nft_mint" => p.nftMint
        case _ => None
      },
      coffee_staking_withdraw_data = b match {
        case p: ProtocolOpBlock => p.coffeeWithdraw
        case _ => None
      },
      coffee_create_pool_data = b match {
        case p: ProtocolOpBlock if p.btype == "coffee_create_pool" =>
          p.coffeePool
        case _ => None
      },
      asset2 = b match {
        case p: ProtocolOpBlock => p.asset2
        // the outgoing side's asset (block_tree_serializer.py:375)
        case sw: JettonSwapBlock =>
          Some(sw.outTransfer.asset.getOrElse(sw.outTransfer.senderWallet))
            .filter(_ != "TON")
        case sw: JettonSwapDirectBlock => sw.asset2
        case _ => None
      },
      asset2_secondary = b match {
        case p: ProtocolOpBlock => p.asset2Secondary
        case _ => None
      },
      mc_seqno_end = {
        val seqnos = b.nodes.flatMap(_.tx.mcSeqno)
        if (seqnos.isEmpty) None else Some(seqnos.max)
      },
      change_dns_record_data = b match {
        case p: ProtocolOpBlock => p.changeDns
        case _ => None
      },
      multisig_create_order_data = b match {
        case p: ProtocolOpBlock => p.msigCreate
        case _ => None
      },
      multisig_approve_data = b match {
        case p: ProtocolOpBlock => p.msigApprove
        case _ => None
      },
      multisig_execute_data = b match {
        case p: ProtocolOpBlock => p.msigExecute
        case _ => None
      },
      vesting_send_message_data = b match {
        case p: ProtocolOpBlock => p.vestingSend
        case _ => None
      },
      vesting_add_whitelist_data = b match {
        case p: ProtocolOpBlock => p.vestingWhitelist
        case _ => None
      },
      dex_deposit_liquidity_data = b match {
        case p: ProtocolOpBlock if p.btype == "dex_deposit_liquidity" ||
            p.btype == "tonco_deposit_liquidity" ||
            p.btype == "coffee_deposit_liquidity" => p.depositLiquidity
        case _ => None
      },
      dex_withdraw_liquidity_data = b match {
        case p: ProtocolOpBlock => p.withdrawLiquidity
        case _ => None
      },
      // TONCO pool deploy: the required init child's body carries the
      // pool parameters (messages/liquidity.py:289-343)
      tonco_deploy_pool_data = b match {
        case p: ProtocolOpBlock if p.btype == "tonco_deploy_pool" =>
          // matcher-decoded from the create-pool body (router wallets +
          // minters, liquidity.py:1583-1600); init-body fallback for
          // chains missing the create payload
          p.toncoDeploy.orElse(
            nodeBody(p, Opcodes.ToncoPoolV3Init)
              .flatMap(safeDec(TlbDecoders.toncoPoolInit))
              .map(t => ToncoDeployPoolData(None, None,
                t.jetton0Minter, t.jetton1Minter,
                Some(t.tickSpacing), Some(BigDecimal(t.initialPriceX96)),
                Some(t.protocolFee), Some(t.lpFeeBase), Some(t.lpFeeCurrent),
                Some(t.poolActive))))
        case _ => None
      },
      // jvault: the stake wallet is the head account; claim wallets
      // decode from the claim body's 267-bit address dict
      // (messages/jvault.py; fills block_tree_serializer.py:726-766)
      jvault_stake_data = b match {
        case p: ProtocolOpBlock if p.btype == "jvault_stake" =>
          p.jvaultStake.orElse(Some(JvaultStakeData(None, None,
            stake_wallet = p.nodes.headOption.map(_.tx.account))))
        case _ => None
      },
      jvault_claim_data = b match {
        case p: ProtocolOpBlock if p.btype == "jvault_claim" =>
          p.jvaultClaim.orElse(Some(JvaultClaimData(
            claimed_jettons = headBody(p)
              .flatMap(safeDec(TlbDecoders.jvaultClaimWallets))
              .getOrElse(Nil),
            claimed_amounts = Nil)))
        case _ => None
      },
      coffee_staking_deposit_data = b match {
        case p: ProtocolOpBlock if p.btype == "coffee_staking_deposit" =>
          Some(CoffeeStakingDepositData(p.mintedItem, p.mintedItemIndex))
        case _ => None
      },
      // EVAA structs decode from the consumed success/satisfied leg
      // (messages/evaa.py; fills block_tree_serializer.py:677-725)
      evaa_supply_data = b match {
        case e: EvaaSupplyActionBlock =>
          Some(EvaaSupplyData(e.senderJettonWallet,
            e.recipientJettonWallet, e.masterJettonWallet,
            master = e.master, asset_id = e.assetIdHex,
            is_ton = Some(e.isTon)))
        case _ => None
      },
      evaa_withdraw_data = b match {
        case e: EvaaWithdrawActionBlock =>
          Some(EvaaWithdrawData(None,
            e.recipientJettonWallet, e.masterJettonWallet,
            master = e.master, fail_reason = e.failReason,
            asset_id = e.assetIdHex, is_ton = Some(e.isTon)))
        case _ => None
      },
      evaa_liquidate_data = b match {
        case p: ProtocolOpBlock if p.btype == "evaa_liquidate" =>
          val sat = nodeBody(p, Opcodes.EvaaLiquidateSatisfied)
            .flatMap(safeDec(TlbDecoders.evaaLiquidateSatisfied))
          Some(EvaaLiquidateData(fail_reason = None,
            debt_amount = sat.map(v => BigDecimal(v.liquidatableAmount)),
            asset_id = sat.map(_.collateralAssetIdHex)))
        case _ => None
      },
      // cocoon structs decode at serialize time from the HEAD in-message
      // body — every cocoon op shares the op:32 query_id:64 prefix
      // (messages/cocoon.py; fills block_tree_serializer.py:1020-1196)
      cocoon_worker_payout_data = b match {
        case p: ProtocolOpBlock if p.btype == "cocoon_worker_payout" =>
          p.cocoonWorkerPayout.orElse(headQid(p).map(q =>
            CocoonWorkerPayoutData(None, Some(q), None, None, None)))
        case _ => None
      },
      cocoon_proxy_payout_data = b match {
        case p: ProtocolOpBlock if p.btype == "cocoon_proxy_payout" =>
          headQid(p).map(q => CocoonQueryIdData(Some(q)))
        case _ => None
      },
      cocoon_client_top_up_data = b match {
        case p: ProtocolOpBlock if p.btype == "cocoon_client_top_up" =>
          headQid(p).map(q => CocoonQueryIdData(Some(q)))
        case _ => None
      },
      cocoon_proxy_charge_data = b match {
        case p: ProtocolOpBlock if p.btype == "cocoon_proxy_charge" =>
          p.cocoonCharge.orElse(
            headBody(p).flatMap(safeDec(TlbDecoders.cocoonCharge))
              .map(c => CocoonChargeData(Some(c.queryId.toString),
                Some(BigDecimal(c.newTokensUsed)), c.expectedAddress)))
        case _ => None
      },
      cocoon_register_proxy_data = b match {
        case p: ProtocolOpBlock if p.btype == "cocoon_register_proxy" =>
          headQid(p).map(q => CocoonQueryIdData(Some(q)))
        case _ => None
      },
      cocoon_client_register_data = b match {
        case p: ProtocolOpBlock if p.btype == "cocoon_client_register" =>
          p.cocoonRegister.orElse(headQid(p).map(q =>
            CocoonClientRegisterData(Some(q), None)))
        case _ => None
      },
      cocoon_grant_refund_data = b match {
        case p: ProtocolOpBlock if p.btype == "cocoon_grant_refund" =>
          p.cocoonGrantRefund.orElse(headQid(p).map(q =>
            CocoonChargeData(Some(q), None, None)))
        case _ => None
      },
      cocoon_unregister_proxy_data = b match {
        case p: ProtocolOpBlock if p.btype == "cocoon_unregister_proxy" =>
          headBody(p).flatMap(safeDec(TlbDecoders.cocoonUnregisterProxy))
            .map(u => CocoonUnregisterProxyData(Some(u.queryId.toString),
              Some(u.seqno)))
        case _ => None
      },
      cocoon_client_change_secret_hash_data = b match {
        case p: ProtocolOpBlock
          if p.btype == "cocoon_client_change_secret_hash" =>
          headBody(p).flatMap(safeDec(TlbDecoders.cocoonChangeSecretHash))
            .map(h => CocoonChangeSecretHashData(Some(h.queryId.toString),
              Some(h.newSecretHashHex)))
        case _ => None
      },
      cocoon_client_request_refund_data = b match {
        case p: ProtocolOpBlock if p.btype == "cocoon_client_request_refund" =>
          p.cocoonRefund.orElse(
            headQid(p).map(q => CocoonRequestRefundData(Some(q), None)))
        case _ => None
      },
      cocoon_client_increase_stake_data = b match {
        case p: ProtocolOpBlock if p.btype == "cocoon_client_increase_stake" =>
          headBody(p).flatMap(safeDec(TlbDecoders.cocoonIncreaseStake))
            .map(st => CocoonIncreaseStakeData(Some(st.queryId.toString),
              Some(BigDecimal(st.newStake))))
        case _ => None
      },
      cocoon_client_withdraw_data = b match {
        case p: ProtocolOpBlock if p.btype == "cocoon_client_withdraw" =>
          p.cocoonClientWithdraw.orElse(
            headQid(p).map(q => CocoonClientWithdrawData(Some(q), None)))
        case _ => None
      })
    row.copy(accounts = fullAccounts(b, row), amount = amountOf(b, row))
  }

  /** action.amount (the token quantity) vs action.value (attached TON):
    * basic TON movement keeps amount null (fills :140-162 set only
    * value); jetton_swap carries its quantities inside jetton_swap_data
    * (:355-395, no action.amount); the families below mirror the
    * reference's 36 `action.amount =` fills — their primary quantity is
    * amount. A block that computed a distinct amount (mint: minted
    * tokens vs attached TON) carries it explicitly. */
  private val AmountTypes = Set(
    "jetton_transfer", "jetton_burn", "jetton_mint",
    "stake_deposit", "stake_withdrawal", "stake_withdrawal_request",
    "subscribe", "unsubscribe", "auction_bid", "auction_outbid",
    "nft_purchase", "dns_purchase",
    "evaa_supply", "evaa_withdraw", "evaa_liquidate",
    "jvault_stake", "jvault_unstake", "jvault_unstake_request",
    "jvault_claim", "vesting_send_message",
    "coffee_staking_deposit", "coffee_staking_withdraw",
    "coffee_staking_claim_rewards",
    "cocoon_worker_payout", "cocoon_proxy_payout", "cocoon_client_top_up",
    "cocoon_client_increase_stake", "cocoon_client_withdraw",
    "cocoon_register_proxy",
    "tgbtc_mint", "tgbtc_burn",
    "election_deposit", "election_recover")
  private def amountOf(b: Block, row: ActionRow): Option[BigDecimal] = b match {
    case p: ProtocolOpBlock if p.amount.nonEmpty => p.amount
    case e: EvaaSupplyActionBlock => e.amount
    case e: EvaaWithdrawActionBlock => e.amount
    case m: JettonMintBlock => Some(m.amount)
    case _: JettonTransferBlock | _: JettonBurnBlock => row.value
    case _: ProtocolOpBlock if AmountTypes.contains(row.`type`) => row.value
    case _ => None
  }

  /** Every involved account of an action, the reference's fill-accounts
    * tail (block_tree_serializer.py:111-120 event-node seed, :1462-1480
    * endpoint/secondary appends + per-type extras: asset_secondary for
    * the NFT trade family :317/:572/:588/:598, multisig signers
    * :781/:792/:807). The initiating node's account belongs to the parent
    * action's own node set in this tree model, so the union across
    * actions covers it. Dedup non-null, insertion-ordered. */
  private val AssetSecondaryTypes = Set(
    "nft_update_sale", "auction_bid", "auction_outbid", "nft_cancel_sale",
    "nft_cancel_auction", "nft_finish_auction", "teleitem_cancel_auction")
  private def fullAccounts(b: Block, row: ActionRow): Seq[String] = {
    val nodeAccts = b.nodes.map(_.tx.account)
    val extras: Seq[String] = b match {
      case p: ProtocolOpBlock
          if AssetSecondaryTypes.contains(row.`type`) =>
        p.assetSecondary.toSeq ++ p.signers
      case p: ProtocolOpBlock => p.signers
      case _ => Nil
    }
    // ghost blocks never reached their destination — the reference keeps
    // it out of accounts (block_tree_serializer.py:1462-1466)
    val destAccts =
      if (b.isGhost) Nil
      else (row.destination ++ row.destination_secondary).toSeq
    (nodeAccts ++ row.source ++
      row.source_secondary ++ destAccts ++ extras)
      .filter(_ != null).distinct
  }

  private def safeDec[T](f: String => T)(b64: String): Option[T] =
    try Some(f(b64)) catch { case scala.util.control.NonFatal(_) => None }

  private def headBody(b: Block): Option[String] =
    b.nodes.headOption.flatMap(_.inMsg).flatMap(_.body)

  /** Body of the first consumed node whose in-message carries `op`. */
  private def nodeBody(b: Block, op: Long): Option[String] =
    b.nodes.find(_.inMsg.flatMap(_.opcode)
        .exists(o => Opcodes.matches(Some(o), op)))
      .flatMap(_.inMsg.flatMap(_.body))

  private def headQid(b: Block): Option[String] =
    headBody(b).flatMap(safeDec(TlbDecoders.opQueryId)).map(_.toString)

  private def jettonData(j: JettonTransferBlock): JettonTransferData =
    JettonTransferData(
      response_destination = j.decoded.flatMap(_.responseDestination),
      forward_amount = j.decoded.map(d => BigDecimal(d.forwardTonAmount)),
      query_id = j.decoded.map(_.queryId.toString),
      custom_payload = j.decoded.flatMap(_.customPayload),
      forward_payload = j.decoded.flatMap(_.forwardPayload),
      comment = j.comment,
      is_encrypted_comment = j.decoded.map(_.encryptedComment)
        .orElse(j.comment.map(_ => false)))

  private def dexTransfer(j: JettonTransferBlock): DexTransferData = {
    // a pTON v2 ton_transfer leg (0x01f3835d rewrite) is a TON movement
    // INTO the wrapped wallet: asset null, no source wallet, the pTON
    // wallet as the destination wallet (StonfiV2SwapBlockMatcher in_pton
    // branch, blocks/swaps.py:377-393)
    val ptonV2Leg = j.nodes.headOption.flatMap(_.inMsg.flatMap(_.opcode))
      .exists(o => (o & 0xffffffffL) == Opcodes.PTonTransferOp)
    if (ptonV2Leg)
      DexTransferData(Some(j.amount), asset = None,
        source = j.sender, destination = j.receiver,
        source_jetton_wallet = None,
        destination_jetton_wallet = Some(j.senderWallet))
    else
      DexTransferData(Some(j.amount),
        // TON legs (pTON rewrites) render a null asset —
        // _addr(Asset(is_ton=True)) is None (block_tree_serializer.py:85-91)
        asset = j.asset.orElse(Some(j.senderWallet)).filter(_ != "TON"),
        source = j.sender, destination = j.receiver,
        source_jetton_wallet =
          if (j.walletsHidden) None else Some(j.senderWallet),
        destination_jetton_wallet = j.receiverWallet)
  }

  /** Exploded (account × action) rows (action_accounts, migrate.cpp:589-599;
    * get_action_accounts database.py:590-600 — one row per involved
    * account, not just the endpoints). */
  def actionAccounts(actions: Seq[ActionRow], traceEndLt: Long,
      traceEndUtime: Long, accountsOf: String => Seq[String]): Seq[ActionAccountRow] =
    for {
      a <- actions
      acct <- (accountsOf(a.action_id) ++ a.accounts ++
        a.source ++ a.destination).distinct
    } yield ActionAccountRow(a.action_id, a.trace_id, acct,
      traceEndLt, a.end_lt, traceEndUtime, a.end_utime)
}

/** End-to-end per-trace classification with the G9 fallback ladder. */
object Classifier {

  val BigTraceCutoff = 4000 // event_classifier.py:405 — semantic, keep

  /** txs+msgs of one trace → actions. Ladder: full matcher sweep; on
    * failure, basic (seed-only) actions; terminally one `unknown` action. */
  def classify(traceId: String, txs: Seq[TxLite],
      msgsByTx: Map[String, Seq[MsgLite]],
      interfaces: Map[String, String] = Map.empty,
      jettonWallets: Map[String, String] = Map.empty,
      nftItems: Map[String, NftItemInfo] = Map.empty,
      walletOwners: Map[String, String] = Map.empty): Seq[ActionRow] =
    classifyStatedWith(traceId, txs, msgsByTx,
      ProtocolMatchers.registryWith(interfaces, jettonWallets, nftItems,
        walletOwners))._1

  /** classify with an explicit matcher registry (the DataFrame-dims
    * path, `ClassifyJob.classifyGroup`, binds per-trace resolver maps via
    * registryForDims), plus the trace's classification_state — the
    * process_trace result (trace_processor.py:29-72,
    * event_classifier.py:334-343): 'ok' normally, 'broken' when any
    * serialized block carries the broken flag, 'failed' when the full
    * sweep threw and the fallback ladder answered, 'unclassified' for
    * big traces the classifier skips (event_classifier.py:273-275
    * filters nodes_ <= threshold — such traces are never classified). */
  def classifyStatedWith(traceId: String, txs: Seq[TxLite],
      msgsByTx: Map[String, Seq[MsgLite]],
      registry: Seq[Matching.BlockMatcher]): (Seq[ActionRow], String) = {
    val allMsgs = msgsByTx.values.flatten.toSeq
    if (txs.size > BigTraceCutoff)
      return (Seq(unknownAction(traceId, txs)), "unclassified")
    try {
      val built = TxTree.build(txs, allMsgs, msgsByTx)
      // G9 step 2: a bare wallet external with no children → forge the
      // ghost messages its payload orders and classify those
      val forest = built.map { r =>
        val isExternalLeaf = r.children.isEmpty &&
          r.inMsg.exists(m => m.source.isEmpty && m.body.nonEmpty)
        if (isExternalLeaf) ExternalUnroll.unroll(r).getOrElse(r) else r
      }
      val seeded = Seeder.seedTrace(forest)
      val rewritten = Matching.rewrite(seeded, registry)
      // trace post-processors (event_processing.py:304-307): DeDust
      // two-leg deposit merge; deploy unwinding is emitted as child
      // actions by the serializer itself
      val post = ProtocolMatchers.mergeDedustDeposits(rewritten)
      val (actions, state) = Serializer.serializeStated(traceId, post)
      if (actions.nonEmpty) (actions, state)
      else (Seq(unknownAction(traceId, txs)), state)
    } catch {
      case scala.util.control.NonFatal(_) =>
        // fallback ladder answers, but the trace records 'failed'
        // (trace_processor.py:55-72)
        try {
          val forest = TxTree.build(txs, allMsgs, msgsByTx)
          (Serializer.serialize(traceId, Seeder.seedTrace(forest)), "failed")
        } catch {
          case scala.util.control.NonFatal(_) =>
            (Seq(unknownAction(traceId, txs)), "failed")
        }
    }
  }

  /** Single unknown action spanning the whole trace
    * (create_unknown_action, block_tree_serializer.py:1564-1587). */
  def unknownAction(traceId: String, txs: Seq[TxLite]): ActionRow =
    ActionRow(traceId, Serializer.actionId(traceId, "unknown"), "unknown",
      txs.map(_.hash), None,
      txs.map(_.lt).min, txs.map(_.lt).max,
      txs.map(_.now.toLong).min, txs.map(_.now.toLong).max,
      None, None, None, None, success = false, None, Nil,
      // fallback accounts = every trace tx account
      // (block_tree_serializer.py:1586)
      accounts = txs.map(_.account).distinct)
}
