package graft.classifier

/** Matcher combinator DSL (G5 — reference grammar:
  * indexer/indexer/events/blocks/basic_matchers.py:12-250). A matcher
  * tests a block and optionally consumes a pattern of its descendants;
  * on success the engine replaces the matched sub-forest with one typed
  * block (G7 tree rewrite, core.py:182-268).
  *
  * Pure library code executed inside flatMapGroups — deliberately NOT a
  * Catalyst concern (per-trace data is small; the reference caps traces
  * at 4000 nodes).
  */
object Matching {

  /** A pattern over one block: returns the list of blocks it consumed
    * (itself + matched descendants), or None. `matchWithCaptures` is the
    * capture-aware form used by labeled composite matchers. */
  trait Pattern { self =>
    def apply(b: Block): Option[Seq[Block]]

    def matchWithCaptures(b: Block): Option[PatternMatch] =
      apply(b).map(PatternMatch(_, Map.empty))

    def or(other: Pattern): Pattern = (b: Block) =>
      self(b).orElse(other(b))
  }

  /** Matches a CallContractBlock with the given opcode. Nested child
    * patterns propagate their captures (the reference's chained
    * ContractMatcher(child_matcher=...) keeps labels visible to the
    * enclosing composite). */
  def contract(opcode: Long, child: Option[Pattern] = None,
      optional: Boolean = false): Pattern = new Pattern {
    def apply(b: Block): Option[Seq[Block]] =
      matchWithCaptures(b).map(_.consumed)
    override def matchWithCaptures(b: Block): Option[PatternMatch] = b match {
      case c: CallContractBlock if Opcodes.matches(c.opcode, opcode) =>
        child match {
          case None => Some(PatternMatch(Seq(b), Map.empty))
          case Some(p) =>
            val hit = c.children.iterator.map(p.matchWithCaptures)
              .collectFirst { case Some(m) => m }
            hit match {
              case Some(m) => Some(PatternMatch(b +: m.consumed, m.captures))
              case None =>
                if (childOptional(p)) Some(PatternMatch(Seq(b), Map.empty))
                else None
            }
        }
      case _ => None
    }
  }

  /** Generic predicate matcher. */
  def generic(pred: Block => Boolean): Pattern = (b: Block) =>
    if (pred(b)) Some(Seq(b)) else None

  /** Optional wrapper: marks a child pattern as non-mandatory. */
  final case class OptionalPattern(inner: Pattern) extends Pattern {
    def apply(b: Block): Option[Seq[Block]] = inner(b)
    override def matchWithCaptures(b: Block): Option[PatternMatch] =
      inner.matchWithCaptures(b)
  }
  def optional(p: Pattern): Pattern = OptionalPattern(p)
  private def childOptional(p: Pattern): Boolean = p.isInstanceOf[OptionalPattern]

  /** A pattern match with named captures — the reference's label
    * mechanism (labeled()/get_labeled, blocks/labels.py:7-56): composite
    * matchers wrap sub-matches in transient labels and retrieve them by
    * name when assembling the typed block's data. */
  final case class PatternMatch(consumed: Seq[Block], captures: Map[String, Block])

  /** Capture the block a pattern matched under `name`. */
  def labeled(name: String, inner: Pattern): Pattern = new Pattern {
    def apply(b: Block): Option[Seq[Block]] = inner(b)
    override def matchWithCaptures(b: Block): Option[PatternMatch] =
      inner.matchWithCaptures(b).map(m =>
        m.copy(captures = m.captures + (name -> b)))
  }

  /** Match a sequence of child patterns (child_sequence_matcher,
    * basic_matchers.py) against a block's children, accumulating
    * captures; each non-optional pattern must match a distinct child. */
  def matchChildSequence(b: Block, patterns: Seq[Pattern]): Option[PatternMatch] = {
    var remaining = b.children
    val consumed = scala.collection.mutable.ArrayBuffer[Block]()
    var captures = Map.empty[String, Block]
    for (p <- patterns) {
      remaining.iterator.map(c => (c, p.matchWithCaptures(c))).collectFirst {
        case (c, Some(got)) => (c, got)
      } match {
        case Some((c, got)) =>
          consumed ++= got.consumed
          captures ++= got.captures
          remaining = remaining.filterNot(_ eq c)
        case None =>
          if (!childOptional(p)) return None
      }
    }
    Some(PatternMatch(consumed.toSeq, captures))
  }

  /** A rewriting matcher: when `build` returns a typed block for some node
    * in the tree, the consumed blocks are removed and replaced by it. */
  trait BlockMatcher {
    /** Try to build a typed block rooted at `b`; return (newBlock,
      * consumedBlocks) on success. Consumed must include `b`. */
    def tryBuild(b: Block): Option[(Block, Seq[Block])]

    /** Multi-block form — the reference's `return new_blocks` capability
      * (build_block returning a list, e.g. NominatorPoolWithdrawMatcher
      * emitting one block per payout transfer, staking.py:383-410). The
      * head is replaced by ALL returned blocks as siblings, in order;
      * surviving children of consumed blocks are adopted by the first.
      * Default delegates to the single-block form. */
    def tryBuildAll(b: Block): Option[(Seq[Block], Seq[Block])] =
      tryBuild(b).map { case (nb, c) => (Seq(nb), c) }

    /** Opcodes that must ALL be present among the trace's in-messages for
      * this matcher to possibly fire; None = always sweep. The rewrite
      * engine computes the trace's opcode set once and skips matchers
      * whose triggers are absent — at scale most traces contain none of a
      * given protocol's opcodes, so the sweep cost per trace drops from
      * |registry|×nodes to |relevant matchers|×nodes with identical
      * output (a matcher whose trigger opcode is absent can never match:
      * every anchor/required-child test and every typed block it consumes
      * ultimately requires one of these opcodes). */
    def triggerOpcodes: Option[Set[Long]] = None
  }

  /** One rewrite sweep (registry order matters — later matchers see
    * earlier matchers' output blocks, event_processing.py:313-329).
    *
    * Per matcher, each round collects EVERY match whose consumed set is
    * disjoint from matches already taken this round, then applies them in
    * one tree rebuild — O(rounds × nodes) instead of O(matches × nodes),
    * which matters on long chains (hundreds of matches per trace). The
    * fixpoint is identical: a skipped overlapping candidate is re-offered
    * next round against the rewritten tree, exactly as the one-at-a-time
    * loop would see it. */
  def rewrite(root: RootBlock, matchers: Seq[BlockMatcher]): RootBlock = {
    // one pass over the trace's in-message opcodes gates the whole sweep
    // (bfs: each block's `nodes` covers only its own txs, not its subtree)
    val present: Set[Long] = root.bfs.iterator
      .flatMap(_.nodes).flatMap(_.inMsg.flatMap(_.opcode))
      .map(_ & 0xffffffffL).toSet
    val relevant = matchers.filter(_.triggerOpcodes
      .forall(_.forall(op => present(op & 0xffffffffL))))
    var current: RootBlock = root
    for (m <- relevant) {
      var changed = true
      while (changed) {
        // identity-keyed structures throughout: tree nodes are unique
        // object instances, and case-class equality would recompute deep
        // subtree hashes on every membership test (O(N) per lookup)
        val byHead = new java.util.IdentityHashMap[Block, Seq[Block]]()
        val consumedSoFar = new java.util.IdentityHashMap[Block, Boolean]()
        current.bfs.drop(1).foreach { b =>
          if (!consumedSoFar.containsKey(b)) {
            m.tryBuildAll(b) match {
              case Some((nbs, consumed))
                if nbs.nonEmpty && !consumed.exists(consumedSoFar.containsKey) =>
                byHead.put(b, nbs)
                consumed.foreach(consumedSoFar.put(_, true))
              case _ =>
            }
          }
        }
        if (byHead.isEmpty) changed = false
        else current = replaceAll(current, byHead, consumedSoFar)
      }
    }
    current
  }

  /** Identity-based dedup for consumed-block lists. Tree nodes are unique
    * object instances (see rewrite), and `Seq.distinct` on case-class
    * blocks recomputes deep subtree hashes per element — O(subtree) per
    * membership test, quadratic on long auxiliary chains. Reference
    * semantics are unaffected: two structurally-equal blocks are still
    * two distinct tree positions. */
  def identityDistinct(bs: Seq[Block]): Seq[Block] = {
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[Block, java.lang.Boolean]())
    bs.filter(seen.add)
  }

  /** Apply a set of disjoint matches: each head is replaced by its built
    * block; other consumed blocks are dropped; surviving children of
    * consumed blocks are adopted upward (compact_connections semantics,
    * core.py:232-268). */
  private def replaceAll(root: RootBlock,
      byHead: java.util.IdentityHashMap[Block, Seq[Block]],
      consumed: java.util.IdentityHashMap[Block, Boolean]): RootBlock = {
    def walk(b: Block): Seq[Block] = {
      val built = byHead.get(b)
      if (built != null) {
        // surviving children of the consumed subtree attach to the first
        // built block; later built blocks become its siblings
        val first = built.head
        first.withChildren(first.children ++ b.children.flatMap(walk)) +:
          built.tail
      }
      else if (consumed.containsKey(b)) b.children.flatMap(walk)
      else Seq(b.withChildren(b.children.flatMap(walk)))
    }
    RootBlock(root.children.flatMap(walk))
  }
}

/** Protocol matchers (G6) on the opcode level. TL-B body decoding (F5)
  * refines amounts/owners when bodies are present; the opcode-chain
  * topology is what identifies the protocol (reference anatomy:
  * indexer/indexer/events/blocks/jettons.py:41-109). */
object ProtocolMatchers {
  import Matching._
  import graft.functions.TlbDecoders

  /** jetton transfer: 0x0f8a7ea5 → internal_transfer 0x178d4519 →
    * optional notify 0x7362d09c, optional excesses 0xd53276db. With a
    * jetton-wallet repository (`repo=true`) the RECEIVER wallet resolves
    * the action's asset and validates ownership, mirroring
    * jettons.py:70-77 exactly: a receiver wallet with no repository row
    * refuses the match entirely (the blocks stay call_contract); a
    * stated receiver that disagrees with the row's owner is SUBSTITUTED
    * by the owner and the block marked `broken` (→ trace
    * classification_state 'broken'). Without a repository the sender
    * wallet address stands in for the asset and no validation runs. */
  final class JettonTransferResolvedMatcher(
      resolveAsset: String => Option[String],
      ownerOf: String => Option[String] = _ => None,
      repo: Boolean = false) extends BlockMatcher {
    override val triggerOpcodes: Option[Set[Long]] = Some(Set(Opcodes.JettonTransfer, Opcodes.JettonInternalTransfer))
    def tryBuild(b: Block): Option[(Block, Seq[Block])] = b match {
      case c: CallContractBlock if Opcodes.matches(c.opcode, Opcodes.JettonTransfer) =>
        val internal = c.children.collectFirst {
          case ic: CallContractBlock
            if Opcodes.matches(ic.opcode, Opcodes.JettonInternalTransfer) => ic
        }
        internal match {
          case Some(ic) =>
            val extras = ic.children.filter {
              case cc: CallContractBlock =>
                Opcodes.matches(cc.opcode, Opcodes.JettonNotify) ||
                  Opcodes.matches(cc.opcode, Opcodes.Excesses)
              case _ => false
            }
            val consumed = Seq(c, ic) ++ extras
            val senderWallet = c.nodes.head.tx.account
            val receiverWallet = Some(ic.nodes.head.tx.account)
            val sender = c.nodes.head.inMsg.flatMap(_.source)
            val notify = extras.collectFirst {
              case cc: CallContractBlock
                if Opcodes.matches(cc.opcode, Opcodes.JettonNotify) => cc
            }
            // decode the TEP-74 body when present (F5): authoritative
            // amount/destination/comment; topology-only otherwise
            val decoded = c.nodes.head.inMsg.flatMap(_.body).flatMap { b =>
              try Some(graft.functions.TlbDecoders.jettonTransfer(b))
              catch { case scala.util.control.NonFatal(_) => None }
            }
            val statedReceiver = decoded.flatMap(_.destination)
              .orElse(notify.flatMap(_.nodes.head.inMsg.flatMap(_.destination)))
            val amount = decoded.map(d => BigDecimal(d.amount))
              .getOrElse(BigDecimal(0))
            val failed = consumed.exists(_.failed)
            val nodes = consumed.flatMap(_.nodes)
            val rw = ic.nodes.head.tx.account
            if (repo && resolveAsset(rw).isEmpty)
              // no repository row for the receiver wallet → no match
              // (jettons.py:71-72 `return []`)
              None
            else {
              val rowOwner = if (repo) ownerOf(rw) else None
              val isBroken = rowOwner.isDefined && statedReceiver.isDefined &&
                rowOwner != statedReceiver
              val receiver = if (isBroken) rowOwner else statedReceiver
              val asset =
                if (repo) resolveAsset(rw) else resolveAsset(senderWallet)
              Some((JettonTransferBlock(sender, senderWallet, receiver,
                receiverWallet, amount, decoded.flatMap(_.comment),
                failed, nodes, Nil, decoded,
                asset = asset, broken = isBroken), consumed))
            }
          case None => None
        }
      case _ => None
    }
  }

  /** Repository-less jetton transfer matcher (wallet stands in for the
    * asset). */
  val JettonTransferMatcher: BlockMatcher =
    new JettonTransferResolvedMatcher(_ => None)

  /** jetton burn: 0x595f07bc → optional burn_notification 0x7bdd97de.
    * With a repository the data comes from the WALLET ROW
    * (_get_jetton_burn_data, jettons.py:166-177): a missing row refuses
    * the match (`assert wallet is not None` → build_block exception →
    * None, basic_matchers.py:58-60), and the serialized owner is the
    * row's owner, not the message source. Repository-less mode keeps
    * the lenient source-as-owner fallback. */
  final class JettonBurnResolvedMatcher(
      resolveAsset: String => Option[String],
      ownerOf: String => Option[String] = _ => None,
      repo: Boolean = false) extends BlockMatcher {
    override val triggerOpcodes: Option[Set[Long]] = Some(Set(Opcodes.JettonBurn))
    def tryBuild(b: Block): Option[(Block, Seq[Block])] = b match {
      case c: CallContractBlock if Opcodes.matches(c.opcode, Opcodes.JettonBurn) =>
        val wallet = c.nodes.head.tx.account
        if (repo && resolveAsset(wallet).isEmpty) None
        else {
          val notif = c.children.collect {
            case cc: CallContractBlock
              if Opcodes.matches(cc.opcode, Opcodes.JettonBurnNotification) => cc
          }
          val consumed = c +: notif
          // decode the TEP-74 burn body when present: authoritative
          // amount (reference decodes JettonBurn(block.get_body()),
          // staking.py:201)
          val amount = c.nodes.head.inMsg.flatMap(_.body).flatMap { b64 =>
            try Some(BigDecimal(graft.functions.TlbDecoders.jettonBurn(b64).amount))
            catch { case scala.util.control.NonFatal(_) => None }
          }.getOrElse(BigDecimal(0))
          val owner = (if (repo) ownerOf(wallet) else None)
            .orElse(c.nodes.head.inMsg.flatMap(_.source))
          Some((JettonBurnBlock(
            owner, wallet, amount,
            consumed.exists(_.failed), consumed.flatMap(_.nodes), Nil,
            asset = resolveAsset(wallet)), consumed))
        }
      case _ => None
    }
  }
  val JettonBurnMatcher: BlockMatcher = new JettonBurnResolvedMatcher(_ => None)

  /** NFT transfer: 0x5fcc3d14 → optional ownership_assigned 0x05138d91,
    * optional excesses. */
  final class NftTransferMatcherWith(
      nftItems: Map[String, NftItemInfo]) extends BlockMatcher {
    override val triggerOpcodes: Option[Set[Long]] = Some(Set(Opcodes.NftTransfer))
    def tryBuild(b: Block): Option[(Block, Seq[Block])] = b match {
      case c: CallContractBlock if Opcodes.matches(c.opcode, Opcodes.NftTransfer) =>
        val extras = c.children.filter {
          case cc: CallContractBlock =>
            Opcodes.matches(cc.opcode, Opcodes.NftOwnershipAssigned) ||
              Opcodes.matches(cc.opcode, Opcodes.Excesses)
          case _ => false
        }
        val consumed = c +: extras
        val newOwner = extras.collectFirst {
          case cc: CallContractBlock
            if Opcodes.matches(cc.opcode, Opcodes.NftOwnershipAssigned) =>
            cc.nodes.head.inMsg.flatMap(_.destination)
        }.flatten
        val decoded = c.nodes.head.inMsg.flatMap(_.body).flatMap { b64 =>
          try Some(graft.functions.TlbDecoders.nftTransfer(b64))
          catch { case scala.util.control.NonFatal(_) => None }
        }
        val item = c.nodes.head.tx.account
        val info = nftItems.get(item)
        Some((NftTransferBlock(
          c.nodes.head.inMsg.flatMap(_.source),
          newOwner.orElse(decoded.flatMap(_.newOwner)),
          item,
          // failed tracks the TRANSFER call alone — an aborted auxiliary
          // leg does not fail the transfer (NftTransferBlockMatcher,
          // blocks/nft.py:164: new_block.failed = block.failed)
          c.failed, consumed.flatMap(_.nodes), Nil, decoded,
          itemIndex = info.flatMap(_.index),
          collection = info.flatMap(_.collection)),
          consumed))
      case _ => None
    }
  }
  val NftTransferMatcher: BlockMatcher = new NftTransferMatcherWith(Map.empty)

  /** Generic DEX swap (second-pass matcher — consumes blocks PRODUCED by
    * JettonTransferMatcher, the registry-order dependency the reference
    * relies on: swap matchers require jetton_transfer children that exist
    * only after the jetton rewrite, event_processing.py:313-329 /
    * blocks/swaps.py:257,266). Pattern: transfer INTO a router whose
    * wallet then transfers OUT: j1.receiver == j2.sender. */
  object JettonSwapMatcher extends BlockMatcher {
    override val triggerOpcodes: Option[Set[Long]] = Some(Set(Opcodes.JettonTransfer, Opcodes.JettonInternalTransfer))
    def tryBuild(b: Block): Option[(Block, Seq[Block])] = b match {
      case j1: JettonTransferBlock =>
        j1.children.collectFirst {
          case j2: JettonTransferBlock
            if j1.receiver.isDefined && j1.receiver == j2.sender =>
            val consumed = Seq(j1, j2)
            (JettonSwapBlock("generic", j1.sender, j1.receiver, j1, j2,
              consumed.exists(_.failed), consumed.flatMap(_.nodes), Nil),
              consumed)
        }
      case _ => None
    }
  }

  /** Jetton mint: an internal_transfer still unconsumed AFTER the
    * transfer matcher ran ⇒ no wallet-transfer parent ⇒ master-initiated
    * mint. Must sit after JettonTransferMatcher in the registry. */
  object JettonMintMatcher extends BlockMatcher {
    override val triggerOpcodes: Option[Set[Long]] = Some(Set(Opcodes.JettonInternalTransfer))
    def tryBuild(b: Block): Option[(Block, Seq[Block])] = b match {
      case c: CallContractBlock
        if Opcodes.matches(c.opcode, Opcodes.JettonInternalTransfer) =>
        val extras = c.children.filter {
          case cc: CallContractBlock =>
            Opcodes.matches(cc.opcode, Opcodes.JettonNotify) ||
              Opcodes.matches(cc.opcode, Opcodes.Excesses)
          case _ => false
        }
        val consumed = c +: extras
        val decoded = c.nodes.head.inMsg.flatMap(_.body).flatMap { b64 =>
          try Some(graft.functions.TlbDecoders.jettonInternalTransfer(b64))
          catch { case scala.util.control.NonFatal(_) => None }
        }
        val receiver = extras.collectFirst {
          case cc: CallContractBlock
            if Opcodes.matches(cc.opcode, Opcodes.JettonNotify) =>
            cc.nodes.head.inMsg.flatMap(_.destination)
        }.flatten
        Some((JettonMintBlock(receiver, Some(c.nodes.head.tx.account),
          decoded.map(d => BigDecimal(d.amount)).getOrElse(BigDecimal(0)),
          consumed.exists(_.failed), consumed.flatMap(_.nodes), Nil), consumed))
      case _ => None
    }
  }

  /** Mint-call-anchored jetton mint (JettonMintBlockMatcher,
    * blocks/jettons.py:250-280 + _get_jetton_mint_data :179-230): a
    * 0x642b7d07 / 0x00000015 call at the jetton master merged with its
    * internal_transfer leg into one jetton_mint carrying BOTH quantities
    * — amount = the transfer's minted amount, value = the body's
    * ton_amount. Runs AFTER the jetton family (reference registry order,
    * event_processing.py:252-253 — ethena first), so the leg arrives
    * already rewritten as a JettonMintBlock child; this matcher adds the
    * call anchor, the master as asset, and the body-decoded endpoints.
    * Without the leg the reference's else-branch applies: failed, to
    * from the body, amount only for the minter-style call. */
  final class JettonMintCallMatcher(val mintOp: Long,
      ownerOf: String => Option[String] = _ => None,
      resolveAsset: String => Option[String] = _ => None,
      repo: Boolean = false) extends BlockMatcher {
    // trigger sets are conjunctive — one matcher instance per mint opcode
    override val triggerOpcodes: Option[Set[Long]] = Some(Set(mintOp))
    def tryBuild(b: Block): Option[(Block, Seq[Block])] = b match {
      case c: CallContractBlock if Opcodes.matches(c.opcode, mintOp) =>
        val decoded = c.node.inMsg.flatMap(_.body)
          .flatMap(safeDecode(graft.functions.TlbDecoders.jettonMintCall))
        val leg = c.children.collectFirst { case m: JettonMintBlock => m }
        val master = Some(c.node.tx.account)
        val tonAmount = decoded.map(d => BigDecimal(d.tonAmount))
        val built = leg match {
          case Some(m) if !c.failed &&
              repo && m.receiverWallet.flatMap(resolveAsset).isEmpty =>
            // repository present but no row for the receiving wallet →
            // the reference's `assert receiver_jwallet is not None`
            // throws and the matcher yields nothing
            // (jettons.py:197, basic_matchers.py:58-60)
            return None
          case Some(m) if !c.failed =>
            val consumed: Seq[Block] = Seq(c, m)
            JettonMintBlock(
              // with an internal transfer the recipient is the RECEIVING
              // WALLET'S OWNER from the repository — the body's
              // to_address is never consulted on this branch
              // (_get_jetton_mint_data, jettons.py:193-209)
              (if (repo) m.receiverWallet.flatMap(ownerOf).orElse(m.receiver)
               else m.receiver.orElse(m.receiverWallet.flatMap(ownerOf)))
                .orElse(decoded.flatMap(_.toAddress)),
              m.receiverWallet, m.amount,
              c.failed || m.failed,
              consumed.flatMap(_.nodes), Nil,
              master = master, tonAmount = tonAmount) -> consumed
          case _ =>
            // no-transfer branch: reference records failed=True and
            // takes endpoints from the body (amount only for the
            // minter-style call's master_msg)
            JettonMintBlock(
              decoded.flatMap(_.toAddress), None,
              decoded.flatMap(_.masterMsgJettonAmount)
                .map(BigDecimal(_)).getOrElse(BigDecimal(0)),
              failed = true,
              Seq(c).flatMap(_.nodes), Nil,
              master = master, tonAmount = tonAmount) -> Seq(c: Block)
        }
        Some(built)
      case _ => None
    }
  }

  // ---------------------------------------------------------- opcode chains

  /** Generic opcode-chain matcher — the ContractMatcher(child=...) shape
    * of the reference DSL (basic_matchers.py): match a CallContract head
    * opcode, optionally REQUIRE one direct-child opcode, and consume any
    * descendants whose opcodes belong to the chain's auxiliary set
    * (notifications, confirmations, excesses). `build` receives the head
    * and ALL consumed blocks and returns the typed block. */
  final class OpcodeChainMatcher(
      head: Long,
      requiredChild: Option[Long],
      auxiliary: Set[Long],
      build: (CallContractBlock, Seq[Block]) => Block) extends BlockMatcher {

    override val triggerOpcodes: Option[Set[Long]] =
      Some(Set(head) ++ requiredChild)

    private def consumeAux(b: Block): Seq[Block] =
      b.children.flatMap {
        case c: CallContractBlock
          if auxiliary.exists(op => Opcodes.matches(c.opcode, op)) =>
          c +: consumeAux(c)
        case _ => Nil
      }

    def tryBuild(b: Block): Option[(Block, Seq[Block])] = b match {
      case c: CallContractBlock if Opcodes.matches(c.opcode, head) =>
        val req = requiredChild.map { op =>
          c.children.collectFirst {
            case rc: CallContractBlock if Opcodes.matches(rc.opcode, op) => rc
          }
        }
        req match {
          case Some(None) => None // required child missing
          case _ =>
            val reqBlocks = req.flatten.toSeq
            val consumed = Matching.identityDistinct(
              (c +: reqBlocks) ++ (c +: reqBlocks).flatMap(consumeAux))
            Some((build(c, consumed), consumed))
        }
      case _ => None
    }
  }

  /** Endpoint/value defaults shared by the opcode-chain protocol blocks:
    * source/destination/value from the head's in-message. */
  private def protoBlock(btype: String)(
      c: CallContractBlock, consumed: Seq[Block]): Block = {
    val in = c.node.inMsg
    ProtocolOpBlock(btype,
      in.flatMap(_.source), in.flatMap(_.destination),
      asset = None, value = in.map(m => BigDecimal(m.value)),
      failed = consumed.exists(_.failed),
      nodes = consumed.flatMap(_.nodes), children = Nil)
  }

  /** StonFi v1 full-context swap — the reference's StonfiSwapBlockMatcher
    * (blocks/swaps.py:80-210): anchored on the funding jetton transfer,
    * requires the pool swap call and a payment request, and merges the
    * outgoing jetton transfer. Multiple sender-related payment requests
    * pick the larger amount as the swap output (the smaller is the
    * referral); ok-ref payments stay UNCONSUMED so the referral payout
    * survives as its own action (swaps.py:119-124). A non-ok exit code
    * marks the swap failed. Runs BEFORE the opcode-chain fallback, which
    * still covers traces without the surrounding transfers. */
  class StonfiV1FullSwap(resolveAsset: String => Option[String],
      resolveOwner: String => Option[String]) extends BlockMatcher {
    override val triggerOpcodes: Option[Set[Long]] =
      Some(Set(Opcodes.StonfiSwap, Opcodes.StonfiPayment))
    private val Ok = 0xc64370e5L
    private val SenderRelated = Set(Ok, 0x5ffe1295L, 0x38976e9bL)
    private def payments(b: Block): Seq[CallContractBlock] =
      b.children.flatMap {
        case c: CallContractBlock
          if Opcodes.matches(c.opcode, Opcodes.StonfiPayment) => Seq(c)
        case c: CallContractBlock => payments(c)
        case _ => Nil
      }
    def tryBuild(b: Block): Option[(Block, Seq[Block])] = b match {
      case jt: JettonTransferBlock =>
        for {
          swapCall <- findCall(jt, Opcodes.StonfiSwap)
          body <- swapCall.node.inMsg.flatMap(_.body)
          msg <- safeDecode(TlbDecoders.stonfiSwap)(body)
          decoded = payments(swapCall).flatMap { p =>
            p.node.inMsg.flatMap(_.body)
              .flatMap(safeDecode(TlbDecoders.stonfiPaymentRequest))
              .map(p -> _)
          }
          if decoded.exists(d => SenderRelated(d._2.exitCode))
        } yield {
          // reference selection (swaps.py:99-125): first sender-related
          // payment seeds the out leg; a strictly larger one demotes the
          // previous to referral; ok-ref payments stay unconsumed
          var outAmt: Option[BigInt] = None
          var outNode: Option[CallContractBlock] = None
          var outAddrPayment: Option[String] = None
          var success = false
          decoded.foreach { case (node, pr) =>
            val amount =
              if (pr.amount0Out > 0) pr.amount0Out else pr.amount1Out
            val addr =
              if (pr.amount0Out > 0) pr.token0Out else pr.token1Out
            if (SenderRelated(pr.exitCode)) {
              success = pr.exitCode == Ok
              if (outAmt.forall(_ < amount)) {
                outAmt = Some(amount); outNode = Some(node)
                outAddrPayment = addr
              }
            }
          }
          val outTransfer = outNode.flatMap(_.children.collectFirst {
            case j2: JettonTransferBlock => j2
          })
          val senderPayments = decoded.collect {
            case (n, pr) if SenderRelated(pr.exitCode) => n: Block
          }
          // include_excess on every chain matcher (basic_matchers.py:44-56):
          // excess/bounce children of each consumed call ride along
          val core: Seq[Block] =
            Seq[Block](jt, swapCall) ++ senderPayments ++ outTransfer.toSeq
          val excessKids = core.flatMap(_.children).collect {
            case e: CallContractBlock
              if Opcodes.matches(e.opcode, Opcodes.Excesses) ||
                Opcodes.matches(e.opcode, Opcodes.Bounce) => e: Block
          }
          val consumed = Matching.identityDistinct(core ++ excessKids)
          // asset resolution (swaps.py:128-142): the payment's token
          // wallet is the ACTUAL out wallet; the in-transfer's forward-
          // payload swap body (when present) names the INTENDED out
          // wallet — destination_secondary and the target asset
          val swapPayload = jt.decoded.flatMap(_.forwardPayload)
            .flatMap(safeDecode(TlbDecoders.stonfiSwapPayload))
          val outAddr = if (swapPayload.isDefined)
            swapPayload.flatMap(_.jettonWallet) else outAddrPayment
          val actualOutJetton = outAddrPayment.flatMap(resolveAsset)
          val outJetton = outAddr.flatMap(resolveAsset)
          val inJetton = msg.tokenWallet.flatMap(resolveAsset)
          val incoming = DexTransferData(
            amount = Some(BigDecimal(msg.amount)),
            asset = inJetton,
            source = msg.fromRealUser,
            destination = msg.tokenWallet.flatMap(resolveOwner),
            source_jetton_wallet =
              if (jt.hasInternalTransfer) Some(jt.senderWallet) else None,
            destination_jetton_wallet = msg.tokenWallet)
          val (outDest, outDestWallet) = outTransfer match {
            case Some(o) if o.hasInternalTransfer &&
                o.receiverWallet.nonEmpty => (o.receiver, o.receiverWallet)
            case _ => swapPayload.flatMap(_.userAddress) match {
              case u @ Some(_) => (u, None)
              case None => (msg.fromUser, None)
            }
          }
          val outgoing = DexTransferData(
            amount = outAmt.map(BigDecimal(_)),
            asset = actualOutJetton,
            source = outTransfer.flatMap(_.sender),
            destination = outDest,
            source_jetton_wallet = outTransfer.collect {
              case o if o.hasInternalTransfer => o.senderWallet },
            destination_jetton_wallet = outDestWallet)
          val data = JettonSwapData("stonfi", msg.fromRealUser,
            Some(incoming), Some(outgoing), Nil, None)
          (JettonSwapDirectBlock(data,
            source = incoming.source,
            destination = outgoing.destination,
            asset = incoming.asset,
            asset2 = outJetton.orElse(actualOutJetton),
            sourceSecondary = incoming.source_jetton_wallet,
            // destination_wallet override (serializer:383-384): the out
            // wallet address, which is essentially always known
            destinationSecondary =
              outAddr.orElse(outgoing.destination_jetton_wallet),
            failed = !success,
            nodes = consumed.flatMap(_.nodes), children = Nil), consumed)
        }
      case _ => None
    }
  }

  object StonfiV1FullSwapMatcher
    extends StonfiV1FullSwap(_ => None, _ => None)

  /** StonFi v1 swap: swap 0x25938561 into the pool MUST produce a payment
    * request 0xf93bb43f back to the router (blocks/swaps.py stonfi
    * matcher; messages/swaps.py:9,27). Canonical action type jetton_swap. */
  val StonfiSwapMatcher: BlockMatcher = new OpcodeChainMatcher(
    Opcodes.StonfiSwap, Some(Opcodes.StonfiPayment), Set(Opcodes.Excesses),
    (c, consumed) => protoBlock("jetton_swap")(c, consumed) match {
      case p: ProtocolOpBlock =>
        // the true initiator is from_real_user in the swap body's ref —
        // NOT the message source (the router); min_out_amount stays
        // null for StonFi v1 like the reference (_get_block_data
        // swaps.py:175-186 has no min_out key)
        val body = c.node.inMsg.flatMap(_.body)
          .flatMap(safeDecode(graft.functions.TlbDecoders.stonfiSwap))
        p.copy(dex = Some("stonfi"),
          source = body.flatMap(_.fromRealUser).orElse(p.source))
      case other => other
    })

  /** DeDust swap: 0xea06185d with optional peer-swap recursion and
    * notification/payout tail (messages/swaps.py:98-130). Peer-swap hops
    * are counted into the block for the jetton_swap_data.peer_swaps
    * detail (multi-pool routes). */
  val DedustSwapMatcher: BlockMatcher = new OpcodeChainMatcher(
    Opcodes.DedustSwap, None,
    Set(Opcodes.DedustSwapPeer, Opcodes.DedustSwapNotification,
      Opcodes.DedustPayout, Opcodes.DedustPayoutFromPool),
    (c, consumed) => protoBlock("jetton_swap")(c, consumed) match {
      case p: ProtocolOpBlock =>
        // per-pool hops: decode every consumed swap notification body,
        // ordered by lt (find_messages(...).sort(key=min_lt),
        // blocks/swaps.py:547-564) — each becomes one peer_swaps entry
        val hops = consumed.collect {
          case cc: CallContractBlock
            if Opcodes.matches(cc.opcode, Opcodes.DedustSwapNotification) => cc
        }.sortBy(_.minLt).flatMap { cc =>
          cc.node.inMsg.flatMap(_.body).flatMap { b64 =>
            try {
              val d = graft.functions.TlbDecoders.dedustSwapNotification(b64)
              Some(PeerSwapData(Some(d.assetIn), Some(BigDecimal(d.amountIn)),
                Some(d.assetOut), Some(BigDecimal(d.amountOut))))
            } catch { case scala.util.control.NonFatal(_) => None }
          }
        }
        p.copy(dex = Some("dedust"),
          peerSwaps = hops,
          peerSwapCount = consumed.count {
            case cc: CallContractBlock =>
              Opcodes.matches(cc.opcode, Opcodes.DedustSwapPeer)
            case _ => false
          })
      case other => other
    })

  /** DeDust full-context swap (DedustSwapBlockMatcher,
    * blocks/swaps.py:473-686): anchored on the funding jetton transfer
    * (forward payload sum-type 0xe3a0d482) or the TON-in vault call
    * 0xea06185d; follows the swap_external/swap_peer chain collecting
    * the per-pool notifications, to the payout_from_pool exit whose
    * child is a DedustPayout (TON out) or a jetton transfer. Emits the
    * dex_incoming/outgoing transfer dicts and notification-derived
    * peer_swaps exactly like the reference build_block. */
  final class DedustFullSwap(resolveAsset: String => Option[String])
      extends BlockMatcher {
    import graft.functions.{Boc, TlbDecoders}
    override val triggerOpcodes: Option[Set[Long]] =
      Some(Set(Opcodes.DedustSwapExternal))
    private def nn(a: String): Option[String] = Some(a).filter(_ != "TON")

    def tryBuild(b: Block): Option[(Block, Seq[Block])] = {
      val head: Option[(Block, CallContractBlock)] = b match {
        case jt: JettonTransferBlock =>
          // the funding transfer's forward payload must be the dedust
          // swap payload (swaps.py:584-586)
          val payloadOk = jt.decoded.flatMap(_.forwardPayload).exists { fp =>
            try {
              val s = Boc.parseBase64(fp).beginParse()
              s.remainingBits >= 32 &&
                s.loadUint(32).toLong == 0xe3a0d482L
            } catch { case scala.util.control.NonFatal(_) => false }
          }
          if (!payloadOk) None
          else jt.children.collectFirst {
            case c: CallContractBlock
              if Opcodes.matches(c.opcode, Opcodes.DedustSwapExternal) => c
          }.map(c => (jt: Block, c))
        case call: CallContractBlock
            if Opcodes.matches(call.opcode, Opcodes.DedustSwap) =>
          call.children.collectFirst {
            case c: CallContractBlock
              if Opcodes.matches(c.opcode, Opcodes.DedustSwapExternal) => c
          }.map(c => (call: Block, c))
        case _ => None
      }
      head.flatMap { case (in, swap0) =>
        val chainSwaps = scala.collection.mutable.ArrayBuffer[CallContractBlock](swap0)
        val notifications = scala.collection.mutable.ArrayBuffer[CallContractBlock]()
        var payoutFromPool: Option[CallContractBlock] = None
        var cur: Option[CallContractBlock] = Some(swap0)
        while (cur.isDefined) {
          val sw = cur.get
          sw.children.foreach {
            case n: CallContractBlock
              if Opcodes.matches(n.opcode, Opcodes.DedustSwapNotification) =>
                notifications += n
            case _ => ()
          }
          cur = sw.children.collectFirst {
            case n: CallContractBlock
              if Opcodes.matches(n.opcode, Opcodes.DedustSwapPeer) ||
                Opcodes.matches(n.opcode, Opcodes.DedustSwapExternal) => n
          }
          cur.foreach(chainSwaps += _)
          if (cur.isEmpty)
            payoutFromPool = sw.children.collectFirst {
              case p: CallContractBlock
                if Opcodes.matches(p.opcode, Opcodes.DedustPayoutFromPool) => p
            }
        }
        payoutFromPool.map { pfp =>
          // payout leg: vault → user (TON call or jetton transfer),
          // swaps.py:610-624
          val payoutTransfer = pfp.children.collectFirst {
            case j: JettonTransferBlock => j }
          val payoutTon = pfp.children.collectFirst {
            case p: CallContractBlock
              if Opcodes.matches(p.opcode, Opcodes.DedustPayout) => p }
          // notification-derived hops, lt-ordered (swaps.py:547-564)
          val peer0 = notifications.toSeq.sortBy(_.minLt).flatMap { cc =>
            cc.node.inMsg.flatMap(_.body).flatMap { b64 =>
              try {
                val d = TlbDecoders.dedustSwapNotification(b64)
                Some(PeerSwapData(nn(d.assetIn), Some(BigDecimal(d.amountIn)),
                  nn(d.assetOut), Some(BigDecimal(d.amountOut))))
              } catch { case scala.util.control.NonFatal(_) => None }
            }
          }
          // incoming side (swaps.py:566-598)
          val (sender, senderWallet, inWallet, inJettonWallet, amountIn, assetIn) =
            in match {
              case jt: JettonTransferBlock =>
                (jt.sender,
                  if (jt.hasInternalTransfer) Some(jt.senderWallet) else None,
                  jt.receiver, jt.receiverWallet,
                  Some(jt.amount), jt.asset.flatMap(nn))
              case call: CallContractBlock =>
                val amt = call.node.inMsg.flatMap(_.body).flatMap { b64 =>
                  try {
                    val s = Boc.parseBase64(b64).beginParse()
                    s.loadUint(32); s.loadUint(64)
                    Some(BigDecimal(s.loadCoins()))
                  } catch { case scala.util.control.NonFatal(_) => None }
                }
                (call.node.inMsg.flatMap(_.source), None,
                  call.node.inMsg.flatMap(_.destination), None, amt, None)
              case _ => (None, None, None, None, None, None)
            }
          // outgoing side (swaps.py:600-624)
          val pfpAmount = pfp.node.inMsg.flatMap(_.body).flatMap { b64 =>
            try {
              val s = Boc.parseBase64(b64).beginParse()
              s.loadUint(32); s.loadUint(64); s.loadRef()
              Some(BigDecimal(s.loadCoins()))
            } catch { case scala.util.control.NonFatal(_) => None }
          }
          val (outSource, outSourceWallet, receiver, receiverWallet,
            actualAmountOut, actualAssetOut) = payoutTransfer match {
            case Some(p) =>
              (p.sender, if (p.walletsHidden) None else Some(p.senderWallet),
                p.receiver, p.receiverWallet, Some(p.amount), p.asset.flatMap(nn))
            case None => payoutTon match {
              case Some(p) =>
                (p.node.inMsg.flatMap(_.source),
                  None, p.node.inMsg.flatMap(_.destination), None,
                  pfpAmount, None)
              case None => (None, None, sender, None, pfpAmount, None)
            }
          }
          val peer =
            if (peer0.nonEmpty) peer0
            else Seq(PeerSwapData(assetIn, amountIn,
              actualAssetOut, actualAmountOut))
          // every swap request must have its notification, else failed
          // (swaps.py:646-656)
          val failed = chainSwaps.exists(sw => !sw.children.exists {
            case n: CallContractBlock =>
              Opcodes.matches(n.opcode, Opcodes.DedustSwapNotification)
            case _ => false
          })
          val incoming = DexTransferData(
            amount = peer.head.amount_in, asset = peer.head.asset_in,
            source = sender, destination = inWallet,
            source_jetton_wallet = senderWallet,
            destination_jetton_wallet = inJettonWallet)
          val outgoing = DexTransferData(
            amount = peer.last.amount_out, asset = peer.last.asset_out,
            source = outSource, destination = receiver,
            source_jetton_wallet = outSourceWallet,
            destination_jetton_wallet = receiverWallet)
          val chain = Seq(in) ++ chainSwaps.toSeq ++ notifications.toSeq ++
            Seq(pfp: Block) ++ payoutTransfer.toSeq ++ payoutTon.toSeq
          val tails = chain.flatMap(_.children.collect {
            case e: CallContractBlock
              if Opcodes.matches(e.opcode, Opcodes.Excesses) ||
                Opcodes.matches(e.opcode, Opcodes.Bounce) => e: Block
          })
          val consumed = Matching.identityDistinct(chain ++ tails)
          val data = JettonSwapData("dedust", sender,
            Some(incoming), Some(outgoing),
            if (peer.size > 1) peer else Nil, None)
          (JettonSwapDirectBlock(data,
            source = sender,
            destination = receiver,
            asset = incoming.asset,
            asset2 = outgoing.asset,
            sourceSecondary = incoming.source_jetton_wallet,
            destinationSecondary = outgoing.destination_jetton_wallet,
            failed = failed,
            nodes = consumed.flatMap(_.nodes), children = Nil), consumed)
        }
      }
    }
  }
  val DedustFullSwapMatcher: BlockMatcher = new DedustFullSwap(_ => None)

  /** Public pTON master addresses (reference jettons.py:112-116
    * PTonTransferMatcher.pton_masters) — a jetton wallet of one of these
    * masters is wrapped TON. */
  val PtonMasters: Set[String] = Set(
    "0:8CDC1D7640AD5EE326527FC1AD0514F468B30DC84B0173F0E155F451B4E11F7C",
    "0:671963027F7F85659AB55B821671688601CDCF1EE674FC7FBBB1A776A18D34A3",
    "0:949C4C66760C002800E2FA3D8A3CA4E1C90A9373B53AE7472033483BF14CD95E")

  /** wallet address → canonical asset: the jetton master, or "TON" when
    * the master is a pTON wrapper (swaps.py:338-352 asset resolution
    * against the jetton-wallet repository). */
  def assetResolver(jettonWallets: Map[String, String]): String => Option[String] =
    w => jettonWallets.get(w).map(m => if (PtonMasters(m)) "TON" else m)

  /** StonFi v2 full-context swap (StonfiV2SwapBlockMatcher,
    * blocks/swaps.py:232-471): anchored on the funding jetton transfer
    * (real or pTON-rewritten), walks the (swap 0x6664de2a → pay_to
    * 0x657b54f5) hop chain and merges the final outgoing transfer into a
    * complete JettonSwapBlock with dex_incoming/outgoing data. Vault
    * payouts and referral-fee deposits are deliberately NOT consumed —
    * the reference leaves them as call_contract actions (see
    * stonfi-v2-swaps.yaml 'multirouter': the 0x0490f09b deposit fees are
    * separate expected actions). peer_swaps: first hop's `in` is the
    * in-transfer itself; later hops chain from the last successful
    * output; []-gated unless >1 (blocks/swaps.py:387-424,459). */
  final class StonfiV2FullSwap(resolveAsset: String => Option[String])
      extends BlockMatcher {
    import graft.functions.TlbDecoders
    override val triggerOpcodes: Option[Set[Long]] =
      Some(Set(Opcodes.StonfiV2Swap, Opcodes.StonfiV2PayTo))
    private val Ok = TlbDecoders.StonfiV2SwapOkCode
    // repository lookup, wallet fallback; TON renders as null
    // (_addr(Asset(is_ton=True)) → None, block_tree_serializer.py:85-91)
    private def asset(w: Option[String]): Option[String] =
      w.map(a => resolveAsset(a).getOrElse(a)).filter(_ != "TON")

    def tryBuild(b: Block): Option[(Block, Seq[Block])] = b match {
      case jt: JettonTransferBlock =>
        jt.children.collectFirst {
          case c: CallContractBlock
            if Opcodes.matches(c.opcode, Opcodes.StonfiV2Swap) => c
        }.flatMap { swap0 =>
          val hops = scala.collection.mutable.ArrayBuffer[
            (CallContractBlock, CallContractBlock)]()
          // chained-router intermediates (payout → jetton transfer →
          // [pton call → notify →] next swap, the reference's
          // out_transfer-with-peer_swap arm, blocks/swaps.py:256-261)
          val intermediates = scala.collection.mutable.ArrayBuffer[Block]()
          def swapUnder(b: Block, depth: Int): Option[(CallContractBlock, Seq[Block])] =
            if (depth > 3) None
            else b.children.collectFirst {
              case n: CallContractBlock
                if Opcodes.matches(n.opcode, Opcodes.StonfiV2Swap) =>
                  (n, Seq.empty[Block])
            }.orElse {
              // recurse through call-contract hops AND the pton-leg
              // jetton-transfer rewrites (our PTonTonTransferMatcher
              // turns the reference's validated 0x01f3835d
              // call_contract into a transfer block)
              b.children.iterator.collect {
                case cc: CallContractBlock => cc: Block
                case jt: JettonTransferBlock => jt: Block
              }.map(cc => swapUnder(cc, depth + 1)
                  .map { case (n, path) => (n, cc +: path) })
                .collectFirst { case Some(r) => r }
            }
          var cur: Option[CallContractBlock] = Some(swap0)
          while (cur.isDefined) {
            val sw = cur.get
            sw.children.collectFirst {
              case p: CallContractBlock
                if Opcodes.matches(p.opcode, Opcodes.StonfiV2PayTo) => p
            } match {
              case Some(p) =>
                hops += ((sw, p))
                cur = p.children.collectFirst {
                  case n: CallContractBlock
                    if Opcodes.matches(n.opcode, Opcodes.StonfiV2Swap) => n
                }.orElse {
                  p.children.collectFirst { case j: JettonTransferBlock => j }
                    .flatMap(mid => swapUnder(mid, 0).map { case (n, path) =>
                      intermediates += mid; intermediates ++= path; n
                    })
                }
              case None => cur = None
            }
          }
          if (hops.isEmpty) None
          else hops.last._2.children.collectFirst {
            case j: JettonTransferBlock => j
          }.map { out =>
            val payBodies = hops.map(_._2).toSeq.flatMap(p =>
              p.node.inMsg.flatMap(_.body)
                .flatMap(safeDecode(TlbDecoders.stonfiV2PayTo)))
            val ok = payBodies.forall(_.exitCode == Ok)
            val peer: Seq[PeerSwapData] =
              if (payBodies.size > 1) {
                val first = payBodies.head
                val firstEntry = PeerSwapData(
                  asset_in = jt.asset.filter(_ != "TON"),
                  amount_in = Some(jt.amount),
                  asset_out = asset(first.out._2),
                  amount_out = Some(BigDecimal(first.out._1)))
                val rest =
                  if (first.exitCode != Ok) Nil
                  else payBodies.tail.filter(_.exitCode == Ok)
                    .foldLeft((Vector.empty[PeerSwapData], first.out)) {
                      case ((acc, prevOut), pb) =>
                        (acc :+ PeerSwapData(
                          asset_in = asset(prevOut._2),
                          amount_in = Some(BigDecimal(prevOut._1)),
                          asset_out = asset(pb.out._2),
                          amount_out = Some(BigDecimal(pb.out._1))), pb.out)
                    }._1
                firstEntry +: rest
              } else Nil
            // every matched chain anchor auto-appends its direct excess
            // and bounce children (BlockMatcher.try_build,
            // basic_matchers.py:42-57)
            val chain = Seq[Block](jt) ++
              hops.toSeq.flatMap(h => Seq(h._1: Block, h._2)) ++
              intermediates.toSeq ++ Seq(out)
            val tails = chain.flatMap(_.children.collect {
              case e: CallContractBlock
                if Opcodes.matches(e.opcode, Opcodes.Excesses) ||
                  Opcodes.matches(e.opcode, Opcodes.Bounce) => e: Block
            })
            val consumed = Matching.identityDistinct(chain ++ tails)
            (JettonSwapBlock("stonfi_v2", jt.sender, jt.receiver, jt, out,
              failed = !ok, consumed.flatMap(_.nodes), Nil,
              peerSwaps = peer), consumed)
          }
        }
      case _ => None
    }
  }
  val StonfiV2FullSwapMatcher: BlockMatcher = new StonfiV2FullSwap(_ => None)

  /** StonFi v2 swap FALLBACK for traces without the surrounding
    * transfers: router→pool call 0x6664de2a that MUST produce a
    * pay_to 0x657b54f5 (blocks/swaps.py:233-330). Cross-pool routes chain
    * further swap calls under the pay_to. Emits
    * jetton_swap with dex 'stonfi_v2'; multi-pool routes carry the hop
    * count into peer_swaps. Asset identity resolves each pay_to token
    * wallet through the jetton-wallet repository when one is provided
    * (swaps.py:338-352); without it the pool wallet address stands in. */
  def stonfiV2SwapMatcher(resolveAsset: String => Option[String])
      : BlockMatcher = new OpcodeChainMatcher(
    Opcodes.StonfiV2Swap, Some(Opcodes.StonfiV2PayTo),
    // vault payouts / referral-fee deposits stay UNCONSUMED — they
    // serialize as their own call_contract actions in the reference
    Set(Opcodes.StonfiV2Swap, Opcodes.StonfiV2PayTo),
    (c, consumed) => protoBlock("jetton_swap")(c, consumed) match {
      case p: ProtocolOpBlock =>
        // hop count = (swap, pay_to) PAIRS — the reference zips each
        // peer_swap with its payout (swaps.py:306-316); a trailing swap
        // without a pay_to is not a hop
        val hops = consumed.count {
          case cc: CallContractBlock =>
            Opcodes.matches(cc.opcode, Opcodes.StonfiV2PayTo)
          case _ => false
        }
        // per-pool amounts from the pay_to bodies, lt-ordered: the larger
        // of (amount0_out, amount1_out) is the hop's actual output, the
        // next hop's input is the previous hop's output
        // (blocks/swaps.py:390-424); only successful hops (exit_code
        // 0xc64370e5) chain. Asset identity needs the jetton-wallet
        // repository — amounts fill, assets carry the pool wallet address.
        val payToBodies = consumed.collect {
          case cc: CallContractBlock
            if Opcodes.matches(cc.opcode, Opcodes.StonfiV2PayTo) => cc
        }.sortBy(_.minLt).flatMap { cc =>
          cc.node.inMsg.flatMap(_.body).flatMap { b64 =>
            try Some(graft.functions.TlbDecoders.stonfiV2PayTo(b64))
            catch { case scala.util.control.NonFatal(_) => None }
          }
        }
        // Mirrors blocks/swaps.py:387-419: the first hop always emits
        // (its `in` is the swap's in-transfer, unresolved here); later
        // hops emit only while the FIRST hop succeeded, failed hops are
        // skipped (`continue`), and each surviving hop chains amount_in
        // from the LAST SUCCESSFUL hop's output — not its positional
        // predecessor, which may have failed.
        val OkCode = graft.functions.TlbDecoders.StonfiV2SwapOkCode
        // repository lookup, wallet address as fallback (swaps.py:338-352)
        def asset(w: Option[String]): Option[String] =
          w.map(addr => resolveAsset(addr).getOrElse(addr))
        val peer =
          if (payToBodies.size > 1) {
            val first = payToBodies.head
            val firstEntry = PeerSwapData(
              asset_in = None, amount_in = None,
              asset_out = asset(first.out._2),
              amount_out = Some(BigDecimal(first.out._1)))
            val rest =
              if (first.exitCode != OkCode) Nil
              else payToBodies.tail.filter(_.exitCode == OkCode)
                .foldLeft((Vector.empty[PeerSwapData], first.out)) {
                  case ((acc, prevOut), b) =>
                    (acc :+ PeerSwapData(
                      asset_in = asset(prevOut._2),
                      amount_in = Some(BigDecimal(prevOut._1)),
                      asset_out = asset(b.out._2),
                      amount_out = Some(BigDecimal(b.out._1))), b.out)
                }._1
            firstEntry +: rest
          } else Nil
        p.copy(dex = Some("stonfi_v2"),
          peerSwaps = peer,
          peerSwapCount = if (hops > 1) hops else 0)
      case other => other
    })

  /** Repository-less StonFi v2 matcher (pool wallet addresses stand in
    * for asset identity). */
  val StonfiV2SwapMatcher: BlockMatcher = stonfiV2SwapMatcher(_ => None)

  /** StonFi v2 liquidity provision: provide_lp 0x37c096df with the
    * REQUIRED add_liquidity 0x50c6a654 child chain — what discriminates
    * v2 from the v1 anchor sharing the opcode (liquidity.py:687-760).
    * cb_add_liquidity 0x06ecd527 then either the LP-mint internal
    * transfer or a refund (a second 0x50c6a654): refund ⇒ failed. MUST
    * precede StonfiProvideLpMatcher in the registry — the v1 matcher
    * fires on the bare anchor. */
  object StonfiV2ProvideLpMatcher extends BlockMatcher {
    override val triggerOpcodes: Option[Set[Long]] =
      Some(Set(Opcodes.StonfiProvideLp, Opcodes.StonfiV2AddLiquidity))
    def tryBuild(b: Block): Option[(Block, Seq[Block])] = b match {
      case c: CallContractBlock
        if Opcodes.matches(c.opcode, Opcodes.StonfiProvideLp) =>
        c.children.collectFirst {
          case ac: CallContractBlock
            if Opcodes.matches(ac.opcode, Opcodes.StonfiV2AddLiquidity) => ac
        }.map { ac =>
          val cb = ac.children.collectFirst {
            case cc: CallContractBlock
              if Opcodes.matches(cc.opcode, Opcodes.StonfiV2CbAddLiquidity) => cc
          }
          val mintOrRefund = cb.toSeq.flatMap(_.children).collect {
            case mc: CallContractBlock
              if Opcodes.matches(mc.opcode, Opcodes.JettonInternalTransfer) ||
                Opcodes.matches(mc.opcode, Opcodes.StonfiV2AddLiquidity) =>
              mc: Block
            // the LP-mint internal transfer may already be rewritten into
            // jetton_mint by the (interface-free, hence broader) mint
            // matcher running earlier — consume that form too
            case jm: JettonMintBlock => jm: Block
          }
          val refunded = mintOrRefund.exists {
            case mc: CallContractBlock =>
              Opcodes.matches(mc.opcode, Opcodes.StonfiV2AddLiquidity)
            case _ => false
          }
          val consumed = (Seq(c, ac): Seq[Block]) ++ cb.toSeq ++ mintOrRefund
          val in = c.node.inMsg
          // LP tokens from the mint leg: a rewritten jetton_mint block or
          // the raw internal_transfer body (liquidity.py:738-760)
          val lpMinted = mintOrRefund.collectFirst {
            case jm: JettonMintBlock => jm.amount
          }.orElse(mintOrRefund.collectFirst {
            case mc: CallContractBlock
              if Opcodes.matches(mc.opcode, Opcodes.JettonInternalTransfer) =>
              mc.node.inMsg.flatMap(_.body).flatMap(safeDecode(
                graft.functions.TlbDecoders.jettonInternalTransfer))
                .map(d => BigDecimal(d.amount))
          }.flatten)
          (ProtocolOpBlock("dex_deposit_liquidity",
            in.flatMap(_.source), in.flatMap(_.destination),
            asset = None, value = in.map(m => BigDecimal(m.value)),
            failed = refunded || consumed.exists(_.failed),
            nodes = consumed.flatMap(_.nodes), children = Nil,
            dex = Some("stonfi_v2"),
            depositLiquidity = Some(DexDepositLiquidityData(
              dex = Some("stonfi_v2"),
              amount1 = in.map(m => BigDecimal(m.value)), amount2 = None,
              asset1 = None, asset2 = None,
              user_jetton_wallet_1 = None, user_jetton_wallet_2 = None,
              lp_tokens_minted = if (refunded) None else lpMinted,
              target_asset_1 = None, target_asset_2 = None,
              target_amount_1 = None, target_amount_2 = None))): Block,
            consumed)
        }
      case _ => None
    }
  }

  /** StonFi v2 liquidity withdrawal: LP jetton_burn → pool withdraw
    * 0x297437cf → router pay_to 0x657b54f5 → payout jetton transfers
    * (liquidity.py:789-870). Anchored top-down on the rewritten
    * jetton_burn — our trees carry no parent pointers, so the reference's
    * parent_matcher chain inverts into child navigation. */
  final class StonfiV2WithdrawMatcher(resolveAsset: String => Option[String])
      extends BlockMatcher {
    override val triggerOpcodes: Option[Set[Long]] =
      Some(Set(Opcodes.JettonBurn, Opcodes.StonfiV2WithdrawLiquidity))
    def tryBuild(b: Block): Option[(Block, Seq[Block])] = b match {
      case jb: JettonBurnBlock =>
        jb.children.collectFirst {
          case wc: CallContractBlock
            if Opcodes.matches(wc.opcode, Opcodes.StonfiV2WithdrawLiquidity) => wc
        }.flatMap { wc =>
          val payTos = wc.children.collect {
            case pc: CallContractBlock
              if Opcodes.matches(pc.opcode, Opcodes.StonfiV2PayTo) => pc
          }
          if (payTos.isEmpty) None
          else {
            val payouts = payTos.flatMap(_.children).collect {
              case jt: JettonTransferBlock => jt: Block
            }
            val consumed: Seq[Block] =
              (Seq(jb, wc): Seq[Block]) ++ payTos ++ payouts
            // payout transfers carry both assets back to the user
            // (liquidity.py:826-870): amounts + wallets in lt order
            val outs = payouts.collect { case jt: JettonTransferBlock => jt }
              .sortBy(_.nodes.headOption.map(_.tx.lt).getOrElse(0L))
            def out(i: Int) = outs.drop(i).headOption
            Some((ProtocolOpBlock("dex_withdraw_liquidity",
              jb.owner, None, Some(jb.ownerWallet), Some(jb.amount),
              consumed.exists(_.failed), consumed.flatMap(_.nodes), Nil,
              dex = Some("stonfi_v2"),
              withdrawLiquidity = Some(DexWithdrawLiquidityData(
                dex = Some("stonfi_v2"),
                // burn-anchored path = the withdraw_liquidity label, not
                // withdraw_refunded_liquidity (liquidity.py:855-882)
                is_refund = Some(false),
                amount1 = out(0).map(_.amount),
                amount2 = out(1).map(_.amount),
                asset1_out = out(0).flatMap(o => resolveAsset(o.senderWallet)),
                asset2_out = out(1).flatMap(o => resolveAsset(o.senderWallet)),
                user_jetton_wallet_1 = out(0).flatMap(_.receiverWallet),
                user_jetton_wallet_2 = out(1).flatMap(_.receiverWallet),
                dex_jetton_wallet_1 = out(0).map(_.senderWallet),
                dex_jetton_wallet_2 = out(1).map(_.senderWallet),
                lp_tokens_burnt = Some(jb.amount),
                dex_wallet_1 = None, dex_wallet_2 = None))), consumed))
          }
        }
      case _ => None
    }
  }

  /** Repository-less StonFi v2 withdraw (assets unresolved). */
  val StonfiV2WithdrawLiquidityMatcher: BlockMatcher =
    new StonfiV2WithdrawMatcher(_ => None)

  /** Failed-external fallback (FallbackJettonTransferBlockMatcher,
    * jettons.py:282-331, applied via the failed-externals registry,
    * event_processing.py:339-358): a jetton-transfer call forged by
    * ExternalUnroll has no executed internal_transfer leg — decode the
    * TEP-74 body directly. Scoped to ghost nodes, which exist only on the
    * unroll path — exactly the reference's separate registry scope. */
  final class GhostJettonTransfer(resolveAsset: String => Option[String])
      extends BlockMatcher {
    override val triggerOpcodes: Option[Set[Long]] =
      Some(Set(Opcodes.JettonTransfer))
    def tryBuild(b: Block): Option[(Block, Seq[Block])] = b match {
      case c: CallContractBlock
        if Opcodes.matches(c.opcode, Opcodes.JettonTransfer) &&
          c.node.tx.hash.startsWith("ghost:") =>
        c.node.inMsg.flatMap(_.body).flatMap { b64 =>
          try Some(graft.functions.TlbDecoders.jettonTransfer(b64))
          catch { case scala.util.control.NonFatal(_) => None }
        }.map { d =>
          val wallet = c.node.inMsg.flatMap(_.destination)
            .getOrElse(c.node.tx.account)
          (JettonTransferBlock(
            sender = c.node.inMsg.flatMap(_.source),
            senderWallet = wallet,
            receiver = d.destination, receiverWallet = None,
            amount = BigDecimal(d.amount), comment = d.comment,
            failed = c.failed, nodes = Seq(c.node), children = Nil,
            decoded = Some(d),
            // the reference resolves the ordered wallet's master through
            // the repository even for never-executed transfers
            // (FallbackJettonTransferBlockMatcher, jettons.py:299-303)
            asset = resolveAsset(wallet),
            hasInternalTransfer = false): Block, Seq(c: Block))
        }
      case _ => None
    }
  }
  val GhostJettonTransferMatcher: BlockMatcher =
    new GhostJettonTransfer(_ => None)

  /** pTON transfer (PTonTransferMatcher, jettons.py:110-166): a
    * jetton-transfer call into a wrapped-TON wallet executes the TON
    * movement directly — there is no internal_transfer leg. Interface-
    * gated on the destination ('pton_wallet' in the broadcast map,
    * standing in for the reference's jetton-wallet repository + pTON
    * master allowlist); the optional notify child is consumed. */
  final class PTonTransferMatcher(interfaces: Map[String, String],
      resolveAsset: String => Option[String] = _ => None)
      extends BlockMatcher {
    override val triggerOpcodes: Option[Set[Long]] =
      Some(Set(Opcodes.JettonTransfer))
    def tryBuild(b: Block): Option[(Block, Seq[Block])] = b match {
      case c: CallContractBlock
        if Opcodes.matches(c.opcode, Opcodes.JettonTransfer) && {
          val dest = c.node.inMsg.flatMap(_.destination)
          // the reference gate is repository-driven: the wallet's master
          // must be a pTON wrapper (jettons.py:131-135); the interface
          // map's 'pton_wallet' tag stands in when no dim is bound
          dest.exists(d => interfaces.get(d).contains("pton_wallet") ||
            resolveAsset(d).exists(PtonMasters.contains))
        } =>
        val dest = c.node.inMsg.flatMap(_.destination)
        val notify = c.children.collectFirst {
          case nc: CallContractBlock
            if Opcodes.matches(nc.opcode, Opcodes.JettonNotify) => nc
        }
        val decoded = c.node.inMsg.flatMap(_.body).flatMap { b64 =>
          try Some(graft.functions.TlbDecoders.jettonTransfer(b64))
          catch { case scala.util.control.NonFatal(_) => None }
        }
        val consumed: Seq[Block] = (c: Block) +: notify.toSeq
        Some((JettonTransferBlock(
          sender = c.node.inMsg.flatMap(_.source),
          senderWallet = dest.getOrElse(c.node.tx.account),
          receiver = decoded.flatMap(_.destination), receiverWallet = None,
          amount = decoded.map(d => BigDecimal(d.amount))
            .getOrElse(BigDecimal(0)),
          comment = decoded.flatMap(_.comment),
          failed = c.failed, nodes = consumed.flatMap(_.nodes),
          children = Nil, decoded = decoded,
          // reference data: asset = the pTON MASTER, wallets None,
          // has_internal_transfer False (jettons.py:139-148)
          asset = dest.flatMap(resolveAsset),
          hasInternalTransfer = false, walletsHidden = true), consumed))
      case _ => None
    }
  }

  /** pTON v2 ton_transfer 0x01f3835d — the wrapped-TON wallet leg inside
    * StonFi v2 swap/liquidity routes. The opcode is pTON-specific, so no
    * interface gate is needed (the reference validates it purely by
    * opcode + body parse, blocks/swaps.py:277-287). The TRUE moved
    * amount is the body's ton_amount, NOT the message value (which also
    * carries gas) — blocks/swaps.py:374-376. Rewrites into a
    * jetton_transfer block so swap matchers consume it like any other
    * in/out-transfer leg. */
  object PTonTonTransferMatcher extends BlockMatcher {
    override val triggerOpcodes: Option[Set[Long]] =
      Some(Set(Opcodes.PTonTransferOp))
    def tryBuild(b: Block): Option[(Block, Seq[Block])] = b match {
      case c: CallContractBlock
        if Opcodes.matches(c.opcode, Opcodes.PTonTransferOp) =>
        c.node.inMsg.flatMap(_.body).flatMap { b64 =>
          try Some(graft.functions.TlbDecoders.ptonTransfer(b64))
          catch { case scala.util.control.NonFatal(_) => None }
        }.map { d =>
          val notify = c.children.collectFirst {
            case nc: CallContractBlock
              if Opcodes.matches(nc.opcode, Opcodes.JettonNotify) => nc
          }
          val consumed: Seq[Block] = (c: Block) +: notify.toSeq
          (JettonTransferBlock(
            sender = c.node.inMsg.flatMap(_.source),
            senderWallet = c.node.tx.account,
            receiver = notify.flatMap(_.node.inMsg.flatMap(_.destination))
              .orElse(d.refundAddress),
            receiverWallet = None,
            amount = BigDecimal(d.tonAmount),
            comment = None,
            failed = c.failed, nodes = consumed.flatMap(_.nodes),
            children = Nil,
            hasInternalTransfer = false,
            ptonForwardPayload = d.forwardPayload), consumed)
        }
      case _ => None
    }
  }

  /** TONStakers deposit 0x47d54391: the optional MintJettons child must
    * carry a jetton internal_transfer — tokens_minted is its decoded
    * amount, the user wallet is its destination, and a deposit WITHOUT
    * the transfer is failed (TONStakersDepositMatcher,
    * blocks/staking.py:132-172). value = message value minus the 1-TON
    * deposit fee (:169). */
  object TonstakersDepositMatcher extends BlockMatcher {
    override val triggerOpcodes: Option[Set[Long]] =
      Some(Set(Opcodes.TonstakersDeposit))
    private val DepositFee = BigDecimal(1000000000L) // 1 TON (staking.py:169)
    def tryBuild(b: Block): Option[(Block, Seq[Block])] = b match {
      case c: CallContractBlock
        if Opcodes.matches(c.opcode, Opcodes.TonstakersDeposit) =>
        val mint = c.children.collectFirst {
          case m: CallContractBlock
            if Opcodes.matches(m.opcode, Opcodes.TonstakersMint) => m
        }
        val transfer = mint.flatMap(_.children.collectFirst {
          case t: CallContractBlock
            if Opcodes.matches(t.opcode, Opcodes.JettonInternalTransfer) => t
        })
        val tail = transfer.toSeq.flatMap(_.children.collect {
          case n: CallContractBlock
            if Opcodes.matches(n.opcode, Opcodes.JettonNotify) ||
              Opcodes.matches(n.opcode, Opcodes.Excesses) => n
        })
        val decoded = transfer.flatMap(_.node.inMsg.flatMap(_.body)).flatMap { b64 =>
          try Some(graft.functions.TlbDecoders.jettonInternalTransfer(b64))
          catch { case scala.util.control.NonFatal(_) => None }
        }
        val failed = c.failed || transfer.isEmpty
        // the mint leg is consumed only when its transfer matched — the
        // reference's optional chain fails as a unit otherwise
        val consumed: Seq[Block] =
          if (transfer.isEmpty) Seq(c)
          else Seq(c) ++ mint ++ transfer ++ tail
        val in = c.node.inMsg
        Some((ProtocolOpBlock("stake_deposit",
          in.flatMap(_.source), in.flatMap(_.destination),
          asset = transfer.flatMap(_.node.inMsg.flatMap(_.source)),
          value = in.map(m => BigDecimal(m.value) - DepositFee),
          failed = failed,
          nodes = consumed.flatMap(_.nodes), children = Nil,
          tokensMinted =
            if (failed) None else decoded.map(d => BigDecimal(d.amount))),
          consumed))
      case _ => None
    }
  }

  /** TONStakers withdraw — SECOND-PASS matcher anchored on the tsTON
    * JettonBurn, exactly like the reference (TONStakersWithdrawMatcher,
    * blocks/staking.py:178-245): the burn's surviving withdraw-request
    * child (0x319b0cdc) branches on its own child —
    * pool withdrawal 0x0a77535c ⇒ immediate 'stake_withdrawal';
    * bill-NFT mint 0x1674b0a0 ⇒ delayed 'stake_withdrawal_request' with
    * the minted NFT recorded in staking_data.ts_nft. Runs after
    * JettonBurnMatcher, which consumed burn+notification and adopted the
    * request chain as children of the JettonBurnBlock. */
  object TonstakersWithdrawMatcher extends BlockMatcher {
    override val triggerOpcodes: Option[Set[Long]] = Some(Set(Opcodes.JettonBurn, Opcodes.TonstakersWithdraw))
    def tryBuild(b: Block): Option[(Block, Seq[Block])] = b match {
      case jb: JettonBurnBlock =>
        jb.children.collectFirst {
          case req: CallContractBlock
            if Opcodes.matches(req.opcode, Opcodes.TonstakersWithdraw) => req
        }.flatMap { req =>
          val reqMsg = req.node.inMsg
          val immediate = req.children.collectFirst {
            case c: CallContractBlock
              if Opcodes.matches(c.opcode, Opcodes.TonstakersPoolWithdrawal) => c
          }
          val delayed = req.children.collectFirst {
            case c: CallContractBlock
              if Opcodes.matches(c.opcode, Opcodes.TonstakersMint) => c
          }
          (immediate, delayed) match {
            case (Some(pw), _) =>
              // amount = payout value minus the request carry
              // (staking.py:211: withdrawal msg value - previous msg value)
              val value = for {
                pv <- pw.node.inMsg.map(m => BigDecimal(m.value))
                rv <- reqMsg.map(m => BigDecimal(m.value))
              } yield pv - rv
              val consumed: Seq[Block] = Seq(jb, req, pw)
              Some((ProtocolOpBlock("stake_withdrawal",
                jb.owner, reqMsg.flatMap(_.destination),
                asset = reqMsg.flatMap(_.source), value = value,
                failed = consumed.exists(_.failed),
                nodes = consumed.flatMap(_.nodes), children = Nil,
                tokensBurnt = Some(jb.amount)), consumed))
            case (None, Some(mint)) =>
              // minted_nft comes ONLY from the InitNFT child; without it the
              // reference records minted_nft=None and failed=True
              // (staking.py:224-230) — no fallback to the mint destination.
              // The request fill also emits only provider+ts_nft (no
              // tokens_burnt, block_tree_serializer.py:520-531).
              // the typed nft_mint (NftMintBlockMatcher ran first) wins;
              // raw InitNFT call is the fallback (staking.py:223-228).
              // Neither is consumed when typed — the mint STAYS a
              // separate top-level action (merge excludes it, :231-242)
              val typedMint = mint.children.collectFirst {
                case p: ProtocolOpBlock if p.btype == "nft_mint" => p
              }
              val init =
                if (typedMint.isDefined) None
                else mint.children.collectFirst {
                  case c: CallContractBlock
                    if Opcodes.matches(c.opcode, Opcodes.TonstakersInitNft) => c
                }
              val mintedNft = typedMint.flatMap(_.destination)
                .orElse(init.flatMap(_.node.inMsg.flatMap(_.destination)))
              val consumed: Seq[Block] = Seq(jb, req, mint) ++ init
              Some((ProtocolOpBlock("stake_withdrawal_request",
                jb.owner, reqMsg.flatMap(_.destination),
                asset = reqMsg.flatMap(_.source),
                value = Some(jb.amount),
                failed = consumed.exists(_.failed) || mintedNft.isEmpty,
                nodes = consumed.flatMap(_.nodes), children = Nil,
                // the burn wallet rides source_secondary
                // (_fill_tonstakers_withdraw_request_action:523)
                sourceSecondary = Some(jb.ownerWallet),
                tsNft = mintedNft), consumed))
            case _ => None
          }
        }
      case _ => None
    }
  }

  /** TONStakers delayed-withdrawal COMPLETION: bill-NFT burn 0xf127fe4e →
    * burn notification 0xed58b0b2 → asset distribution 0xdb3b8abd ⇒
    * 'stake_withdrawal' (TONStakersDelayedWithdrawalMatcher,
    * blocks/staking.py:246-274). amount = the distributed message value,
    * tokens_burnt = the notification body amount, ts_nft (burnt_nft) = the
    * notification's source (the bill NFT), stake holder = the decoded
    * notification owner. */
  object TonstakersDelayedWithdrawalMatcher extends BlockMatcher {
    override val triggerOpcodes: Option[Set[Long]] = Some(Set(Opcodes.TonstakersNftBurn, Opcodes.TonstakersNftBurnNotification, Opcodes.TonstakersDistributedAsset))

    /** One stake_withdrawal per (burn → notification → distributed-asset)
      * chain; `pool` is the start-distribution call's SOURCE
      * (_try_find_pool_addr, staking.py:276-297 — NOT the notification's
      * destination, which is the payout collection). */
    private def buildOne(pool: Option[String], burn: CallContractBlock,
        n: CallContractBlock, dist: CallContractBlock): (Block, Seq[Block]) = {
      val decoded = n.node.inMsg.flatMap(_.body).flatMap { b64 =>
        try Some(graft.functions.TlbDecoders.tonstakersNftBurnNotification(b64))
        catch { case scala.util.control.NonFatal(_) => None }
      }
      val distMsg = dist.node.inMsg
      val consumed: Seq[Block] = Seq(burn, n, dist)
      (ProtocolOpBlock("stake_withdrawal",
        source = decoded.flatMap(_.owner)
          .orElse(distMsg.flatMap(_.destination)),
        destination = pool,
        asset = None,
        value = distMsg.map(m => BigDecimal(m.value)),
        failed = consumed.exists(_.failed),
        nodes = consumed.flatMap(_.nodes), children = Nil,
        tsNft = n.node.inMsg.flatMap(_.source), // the burnt bill NFT
        tokensBurnt = decoded.map(d => BigDecimal(d.amount))), consumed)
    }

    private def chainOf(burn: CallContractBlock)
        : Option[(CallContractBlock, CallContractBlock, CallContractBlock)] =
      burn.children.collectFirst {
        case c: CallContractBlock
          if Opcodes.matches(c.opcode, Opcodes.TonstakersNftBurnNotification) => c
      }.flatMap { n =>
        n.children.collectFirst {
          case c: CallContractBlock
            if Opcodes.matches(c.opcode, Opcodes.TonstakersDistributedAsset) => c
        }.map(d => (burn, n, d))
      }

    /** Multi-emit at the distribution anchor: the burn chain nests burn →
      * burn → burn; each link's notification/distribution pair becomes
      * one action, all sharing the anchor's source as the pool. The
      * anchor call itself stays an ordinary call_contract (the reference
      * never consumes it — its matcher anchors per distributed-asset and
      * only walks UP for the pool address). */
    override def tryBuildAll(b: Block): Option[(Seq[Block], Seq[Block])] = b match {
      case c: CallContractBlock
          if Opcodes.matches(c.opcode, Opcodes.TonstakersStartDistribution) =>
        val pool = c.node.inMsg.flatMap(_.source)
        val burns = scala.collection.mutable.ArrayBuffer[CallContractBlock]()
        var cur = c.children.collectFirst {
          case nb: CallContractBlock
            if Opcodes.matches(nb.opcode, Opcodes.TonstakersNftBurn) => nb
        }
        while (cur.isDefined) {
          burns += cur.get
          cur = cur.get.children.collectFirst {
            case nb: CallContractBlock
              if Opcodes.matches(nb.opcode, Opcodes.TonstakersNftBurn) => nb
          }
        }
        val triples = burns.toSeq.flatMap(chainOf(_))
        if (triples.isEmpty) None
        else {
          val builtPairs = triples.map { case (bu, n, d) => buildOne(pool, bu, n, d) }
          Some((c.withChildren(Nil) +: builtPairs.map(_._1),
            Seq(c: Block) ++ builtPairs.flatMap(_._2)))
        }
      case _ => super.tryBuildAll(b)
    }

    def tryBuild(b: Block): Option[(Block, Seq[Block])] = b match {
      // burn-anchored fallback for partial traces without the
      // distribution call — the reference's pool walk-up finds nothing
      // and records destination null (staking.py:287-297)
      case burn: CallContractBlock
        if Opcodes.matches(burn.opcode, Opcodes.TonstakersNftBurn) =>
        chainOf(burn).map { case (bu, n, d) => buildOne(None, bu, n, d) }
      case _ => None
    }
  }

  /** Elector deposit/recover with their confirmations
    * (messages/staking.py:5-15; serializer case 'election_deposit' |
    * 'election_recover'). */
  val ElectionDepositMatcher: BlockMatcher = new OpcodeChainMatcher(
    Opcodes.ElectorDeposit, None, Set(Opcodes.ElectorDepositConfirm),
    protoBlock("election_deposit"))
  val ElectionRecoverMatcher: BlockMatcher = new OpcodeChainMatcher(
    Opcodes.ElectorRecover, None, Set(Opcodes.ElectorRecoverConfirm),
    protoBlock("election_recover"))

  private def safeDecode[T](f: String => T)(b64: String): Option[T] =
    try Some(f(b64)) catch { case scala.util.control.NonFatal(_) => None }

  /** Multisig create/approve/execute (messages/multisig.py:14-103), with
    * the multisig_*_details payloads of blocks/multisig.py:96-260 /
    * block_tree_serializer.py:768-808. order_boc prefers the INIT
    * message's order ref (deploy_data.order, multisig.py:137); the order
    * contract is the init message's destination. */
  val MultisigCreateOrderMatcher: BlockMatcher = new OpcodeChainMatcher(
    Opcodes.MultisigNewOrder, None, Set(Opcodes.MultisigInitOrder),
    (c, consumed) => {
      import graft.functions.TlbDecoders
      val newOrder = c.node.inMsg.flatMap(_.body)
        .flatMap(safeDecode(TlbDecoders.multisigNewOrder))
      val initBlock = consumed.collectFirst {
        case ic: CallContractBlock
          if Opcodes.matches(ic.opcode, Opcodes.MultisigInitOrder) => ic
      }
      val init = initBlock.flatMap(_.node.inMsg.flatMap(_.body))
        .flatMap(safeDecode(TlbDecoders.multisigInitOrder))
      protoBlock("multisig_create_order")(c, consumed) match {
        case p: ProtocolOpBlock =>
          p.copy(
            destinationSecondary =
              initBlock.flatMap(_.node.inMsg.flatMap(_.destination)),
            // accounts-list extras (block_tree_serializer.py:781); the
            // init body carries the same signer set the order contract
            // stores (messages/multisig.py:46-56)
            signers = init.map(_.signers).getOrElse(Nil),
            msigCreate =
              if (newOrder.isEmpty && init.isEmpty) None
              else Some(MultisigCreateOrderData(
                query_id = newOrder.map(_.queryId.toString),
                order_seqno = newOrder.map(_.orderSeqno.toString),
                is_created_by_signer = newOrder.map(_.isSigner),
                is_signed_by_creator = init.map(_.approveOnInit),
                creator_index = newOrder.map(_.signerIndex),
                expiration_date = newOrder.map(_.expirationDate),
                order_boc = init.map(_.orderBoc)
                  .orElse(newOrder.map(_.orderBoc)))))
        case other => other
      }
    })

  /** Approve: accepted child ⇒ exit_code 0; rejected child ⇒ its body's
    * exit code + failed action (multisig.py:146-221; success =
    * accepted-present). signer_index −1 when the vote came by text
    * comment instead of the opcode body (multisig.py:193-200). */
  val MultisigApproveMatcher: BlockMatcher = new OpcodeChainMatcher(
    Opcodes.MultisigApprove, None,
    Set(Opcodes.MultisigApproveAccepted, Opcodes.MultisigApproveRejected),
    (c, consumed) => {
      import graft.functions.TlbDecoders
      def hasOp(op: Long) = consumed.exists {
        case cc: CallContractBlock => Opcodes.matches(cc.opcode, op)
        case _ => false
      }
      val accepted = hasOp(Opcodes.MultisigApproveAccepted)
      val rejectedExit = consumed.collectFirst {
        case cc: CallContractBlock
          if Opcodes.matches(cc.opcode, Opcodes.MultisigApproveRejected) =>
          cc.node.inMsg.flatMap(_.body)
            .flatMap(safeDecode(TlbDecoders.multisigApproveRejectedExitCode))
      }.flatten
      val idx = c.node.inMsg.flatMap(_.body)
        .flatMap(safeDecode(TlbDecoders.multisigApprove)).map(_.signerIndex)
      protoBlock("multisig_approve")(c, consumed) match {
        case p: ProtocolOpBlock => p.copy(
          failed = p.failed || (!accepted && hasOp(Opcodes.MultisigApproveRejected)),
          msigApprove = Some(MultisigApproveData(
            signer_index = idx.orElse(Some(-1)),
            exit_code = if (accepted) Some(0) else rejectedExit)))
        case other => other
      }
    })

  val MultisigExecuteMatcher: BlockMatcher = new OpcodeChainMatcher(
    Opcodes.MultisigExecute, None, Set.empty,
    (c, consumed) => {
      import graft.functions.TlbDecoders
      val ex = c.node.inMsg.flatMap(_.body)
        .flatMap(safeDecode(TlbDecoders.multisigExecute))
      protoBlock("multisig_execute")(c, consumed) match {
        case p: ProtocolOpBlock => p.copy(
          msigExecute = ex.map(e => MultisigExecuteData(
            query_id = Some(e.queryId.toString),
            order_seqno = Some(e.orderSeqno.toString),
            expiration_date = Some(e.expirationDate),
            approvals_num = Some(e.approvalsNum),
            signers_hash = Some(e.signersHash),
            order_boc = Some(e.orderBoc))))
        case other => other
      }
    })

  /** DNS record change 0x4eb1f0f9 — branches on the decoded body like the
    * reference (blocks/dns.py:46-69): value present → 'change_dns';
    * zero key, no value → 'renew_dns'; non-zero key, no value →
    * 'delete_dns'. Undecodable body keeps 'change_dns'. */
  val ChangeDnsMatcher: BlockMatcher = new OpcodeChainMatcher(
    Opcodes.ChangeDnsRecord, None, Set.empty,
    (c, consumed) => {
      val decoded = c.node.inMsg.flatMap(_.body).flatMap { b64 =>
        try Some(graft.functions.TlbDecoders.changeDnsRecord(b64))
        catch { case scala.util.control.NonFatal(_) => None }
      }
      val btype = decoded match {
        case Some(d) if !d.hasValue && d.key == BigInt(0) => "renew_dns"
        case Some(d) if !d.hasValue => "delete_dns"
        case _ => "change_dns"
      }
      // change_dns carries the decoded record; delete_dns keeps only the
      // key; renew_dns has no struct (block_tree_serializer.py:469-518)
      val dnsData = decoded.collect {
        case d if d.hasValue => ChangeDnsRecordData(Some(d.keyHex),
          d.valueSchema, d.value, d.flags)
        case d if d.key != BigInt(0) =>
          ChangeDnsRecordData(Some(d.keyHex), None, None, None)
      }
      protoBlock(btype)(c, consumed) match {
        case p: ProtocolOpBlock => p.copy(changeDns = dnsData)
        case other => other
      }
    })

  /** DNS auction-balance release 0x4ed14b65 (messages/nft.py:148;
    * blocks/auction.py:596-607 'dns_release'). */
  val DnsReleaseMatcher: BlockMatcher = new OpcodeChainMatcher(
    Opcodes.DnsReleaseBalance, None, Set.empty, protoBlock("dns_release"))

  /** Vesting send-message / add-whitelist with their response opcodes
    * (messages/vesting.py:12-44), carrying the vesting_*_details payloads
    * (block_tree_serializer.py:810-829). */
  val VestingSendMessageMatcher: BlockMatcher = new OpcodeChainMatcher(
    Opcodes.VestingSendMessage, None, Set(Opcodes.VestingSendMessageResponse),
    (c, consumed) => {
      val d = c.node.inMsg.flatMap(_.body)
        .flatMap(safeDecode(graft.functions.TlbDecoders.vestingSendMessage))
      protoBlock("vesting_send_message")(c, consumed) match {
        case p: ProtocolOpBlock => p.copy(
          // forwarded-message endpoint + value (vesting.py:97-99; fill
          // block_tree_serializer.py:810-819: destination_secondary =
          // where the msg was sent, amount = the msg value)
          destinationSecondary = d.flatMap(_.messageDestination),
          value = d.flatMap(_.messageValue).map(BigDecimal(_))
            .orElse(p.value),
          vestingSend = d.map(b => VestingSendMessageData(
            query_id = Some(b.queryId.toString),
            message_boc = Some(b.messageBoc))))
        case other => other
      }
    })
  val VestingAddWhitelistMatcher: BlockMatcher = new OpcodeChainMatcher(
    Opcodes.VestingAddWhitelist, None, Set(Opcodes.VestingAddWhitelistResponse),
    (c, consumed) => {
      val d = c.node.inMsg.flatMap(_.body)
        .flatMap(safeDecode(graft.functions.TlbDecoders.vestingAddWhitelist))
      protoBlock("vesting_add_whitelist")(c, consumed) match {
        case p: ProtocolOpBlock => p.copy(
          vestingWhitelist = d.map(b => VestingAddWhitelistData(
            query_id = Some(b.queryId.toString),
            accounts_added = b.accounts)))
        case other => other
      }
    })

  /** Subscription payment: the wallet's payment-request RESPONSE
    * 0xf06c7567 must carry the actual payment 0x73756273 to the
    * beneficiary; optional request parent is absorbed as auxiliary when
    * nested (blocks/subscriptions.py:29-58). */
  val SubscribeMatcher: BlockMatcher = new OpcodeChainMatcher(
    Opcodes.SubscriptionPaymentRequestResponse, Some(Opcodes.SubscriptionPayment),
    Set.empty, protoBlock("subscribe"))

  /** Wallet plugin destruct 0x64737472 → unsubscribe. */
  val UnsubscribeMatcher: BlockMatcher = new OpcodeChainMatcher(
    Opcodes.WalletPluginDestruct, None, Set.empty, protoBlock("unsubscribe"))

  /** Shared DeDust deposit-leg walk: anchor (TON-to-vault call or the
    * rewritten jetton transfer) → factory ask 0xf04ec526 → deploy/top-up
    * on the deposit contract (+ the raw ContractDeploy) → optionally the
    * deposit-to-pool call that only the FINAL leg produces
    * (blocks/liquidity.py:297-412 parent chain read downward). */
  private def dedustDepositChain(b: Block)
      : Option[(CallContractBlock, Seq[Block], Option[CallContractBlock])] = {
    val askOpt = b match {
      case c: CallContractBlock
        if Opcodes.matches(c.opcode, Opcodes.DedustDepositTonToVault) =>
        c.children.collectFirst {
          case a: CallContractBlock
            if Opcodes.matches(a.opcode, Opcodes.DedustAskLiquidityFactory) => a
        }
      case jt: JettonTransferBlock =>
        jt.children.collectFirst {
          case a: CallContractBlock
            if Opcodes.matches(a.opcode, Opcodes.DedustAskLiquidityFactory) => a
        }
      case _ => None
    }
    askOpt.map { ask =>
      val legs = ask.children.collect {
        case c: CallContractBlock
          if Opcodes.matches(c.opcode, Opcodes.DedustDeployDepositContract) ||
            Opcodes.matches(c.opcode, Opcodes.DedustTopUpDepositContract) => c: Block
        case d: ContractDeployBlock => d: Block
      }
      val poolCall = legs.flatMap(_.children).collectFirst {
        case c: CallContractBlock
          if Opcodes.matches(c.opcode, Opcodes.DedustDepositToPool) => c
      }
      (ask, legs, poolCall)
    }
  }

  /** The vault-excess payouts hanging under a rejection/destroy chain:
    * return-excess 0x6b0b787f on the vault, whose children are DeDust
    * payouts (TON, the message value) or jetton transfers back to the
    * sender (_get_provision_data excess scan,
    * blocks/liquidity.py:185-196 — TON entries first). */
  private def dedustVaultExcesses(roots: Seq[Block], sender: Option[String])
      : (Seq[Block], Seq[LiquidityVaultExcess]) = {
    val returnCalls = roots.flatMap(_.bfs).collect {
      case c: CallContractBlock
        if Opcodes.matches(c.opcode, Opcodes.DedustReturnExcessFromVault) => c
    }
    val tonEx = returnCalls.flatMap(_.children).collect {
      case p: CallContractBlock
        if Opcodes.matches(p.opcode, Opcodes.DedustPayout) &&
          p.node.inMsg.flatMap(_.destination) == sender =>
        (p: Block, LiquidityVaultExcess(None,
          p.node.inMsg.map(m => BigDecimal(m.value))))
    }
    val jetEx = returnCalls.flatMap(_.children).collect {
      case j: JettonTransferBlock if j.receiver == sender =>
        (j: Block, LiquidityVaultExcess(
          j.asset.filter(_ != "TON").orElse(Some(j.senderWallet)),
          Some(j.amount)))
    }
    ((returnCalls: Seq[Block]) ++ tonEx.map(_._1) ++ jetEx.map(_._1),
      tonEx.map(_._2) ++ jetEx.map(_._2))
  }

  /** DeDust FINAL deposit (DedustDepositBlockMatcher,
    * blocks/liquidity.py:297-412 + _get_provision_data:110-216): the leg
    * whose top-up triggered deposit-to-pool. Consumes the pool's LP
    * internal-transfer (success) or rejection 0xe1a36cd4, the
    * destroy/excess tail, and fills the full provision data. */
  final class DedustDepositFinal(resolveAsset: String => Option[String])
      extends BlockMatcher {
    override val triggerOpcodes: Option[Set[Long]] =
      Some(Set(Opcodes.DedustAskLiquidityFactory))
    def tryBuild(b: Block): Option[(Block, Seq[Block])] = for {
      (ask, legs, Some(poolCall)) <- dedustDepositChain(b)
      poolBody <- poolCall.node.inMsg.flatMap(_.body)
        .flatMap(safeDecode(TlbDecoders.dedustDepositToPool))
    } yield {
      val sender = poolBody.owner
      val depositContract = poolCall.node.inMsg.flatMap(_.source)
      val pool = poolCall.node.inMsg.flatMap(_.destination)
      // LP mint leg (success) — raw internal transfer call or the
      // already-rewritten jetton_mint — or the rejection call
      val lpLeg: Option[(Block, Option[BigDecimal])] =
        poolCall.children.collectFirst {
          case c: CallContractBlock
            if Opcodes.matches(c.opcode, Opcodes.JettonInternalTransfer) =>
            (c: Block, c.node.inMsg.flatMap(_.body)
              .flatMap(safeDecode(TlbDecoders.jettonInternalTransfer))
              .map(d => BigDecimal(d.amount)))
          case m: JettonMintBlock => (m: Block, Some(m.amount))
        }
      val rejection = poolCall.children.collectFirst {
        case c: CallContractBlock
          if Opcodes.matches(c.opcode, Opcodes.DedustRejectDeposit) => c
      }
      // 'No LP transfer or rejection' aborts the build in the reference
      // (liquidity.py:126) — the leg then stays unclassified
      if (lpLeg.isEmpty && rejection.isEmpty) return None
      val destroy = poolCall.children.collectFirst {
        case c: CallContractBlock
          if Opcodes.matches(c.opcode, Opcodes.DedustDestroyDepositContract) => c
      }
      // second (triggering) leg: asset + amount
      val (actualAsset, actualAmount, userWallet1) = b match {
        case c: CallContractBlock =>
          val dec = c.node.inMsg.flatMap(_.body)
            .flatMap(safeDecode(TlbDecoders.dedustDepositTonToVault))
          (None, dec.flatMap(_.amount).map(BigDecimal(_)), None)
        case jt: JettonTransferBlock =>
          (jt.asset.filter(_ != "TON").orElse(resolveAsset(jt.senderWallet)),
            Some(jt.amount),
            if (jt.sender == sender) Some(jt.senderWallet) else None)
        case _ => (None, None, None)
      }
      val excessRoots = rejection.toSeq ++ destroy.toSeq
      val (excessBlocks, excesses) = dedustVaultExcesses(excessRoots, sender)
      // refund ton_transfer directly under the rejection OR the destroy
      // (liquidity.py:306-329: the `excesses` children list — headed by
      // 'BlockTypeMatcher(ton_transfer, optional)' — applies to both)
      val rejectionRefunds =
        (rejection.toSeq ++ destroy.toSeq).flatMap(_.children).collect {
          case t: TonTransferBlock => t: Block
        }
      val lpNotify = lpLeg.map(_._1).toSeq.flatMap(_.children).collect {
        case c: CallContractBlock
          if Opcodes.matches(c.opcode, Opcodes.JettonNotify) ||
            Opcodes.matches(c.opcode, Opcodes.Excesses) => c: Block
      }
      val consumed = Matching.identityDistinct(
        Seq[Block](b, ask) ++ legs ++ Seq(poolCall) ++
          lpLeg.map(_._1).toSeq ++ lpNotify ++ rejection.toSeq ++
          rejectionRefunds ++ destroy.toSeq ++ excessBlocks)
      val lpTokens = lpLeg.flatMap(_._2)
      val success = lpLeg.nonEmpty
      def tgt(a: String): Option[String] = Some(a).filter(_ != "TON")
      (ProtocolOpBlock("dex_deposit_liquidity",
        source = sender, destination = pool,
        asset = None, value = None,
        failed = !success,
        nodes = consumed.flatMap(_.nodes), children = Nil,
        dex = Some("dedust"),
        destinationSecondary = depositContract,
        depositLiquidity = Some(DexDepositLiquidityData(
          dex = Some("dedust"),
          amount1 = actualAmount, amount2 = None,
          asset1 = actualAsset, asset2 = None,
          user_jetton_wallet_1 = userWallet1, user_jetton_wallet_2 = None,
          lp_tokens_minted = lpTokens,
          target_asset_1 = tgt(poolBody.asset0),
          target_asset_2 = tgt(poolBody.asset1),
          target_amount_1 = Some(BigDecimal(poolBody.asset0Amount)),
          target_amount_2 = Some(BigDecimal(poolBody.asset1Amount)),
          vault_excesses = excesses))), consumed)
    }
  }

  val DedustDepositLiquidityMatcher: BlockMatcher =
    new DedustDepositFinal(_ => None)

  /** DeDust FIRST-asset deposit, jetton side: the wallet-chain notify
    * reaches the factory ask 0xf04ec526 which deploys/tops-up the
    * deposit contract (DedustDepositFirstAssetBlockMatcher,
    * blocks/liquidity.py:413-471 — the partial deposit; the reference
    * later merges partial+final per deposit contract in post-process).
    * Second-pass over the rewritten jetton transfer. */
  final class DedustFirstAssetMatcher(resolveAsset: String => Option[String])
      extends BlockMatcher {
    override val triggerOpcodes: Option[Set[Long]] =
      Some(Set(Opcodes.DedustAskLiquidityFactory))
    def tryBuild(b: Block): Option[(Block, Seq[Block])] =
      dedustDepositChain(b) match {
        // the FIRST leg stops at the deposit contract (no pool call —
        // DedustDepositFirstAssetBlockMatcher raises on one,
        // blocks/liquidity.py:237-243)
        case Some((ask, legs, None)) =>
          val nested = legs.flatMap(_.children).collect {
            case c: CallContractBlock
              if Opcodes.matches(c.opcode, Opcodes.DedustTopUpDepositContract) ||
                Opcodes.matches(c.opcode, Opcodes.Excesses) => c: Block
            case d: ContractDeployBlock => d: Block
          }
          val consumed: Seq[Block] =
            Matching.identityDistinct(Seq(b, ask) ++ legs ++ nested)
          val depositContract = (legs ++ nested).collectFirst {
            case cc: CallContractBlock
              if Opcodes.matches(cc.opcode, Opcodes.DedustDeployDepositContract) ||
                Opcodes.matches(cc.opcode, Opcodes.DedustTopUpDepositContract) =>
              cc.node.tx.account
          }
          // leg data (_get_deposit_one_data, liquidity.py:218-295): TON
          // leg decodes the vault call; jetton leg reads the transfer +
          // its forward payload
          val (sender, asset1, amount1, wallet1, params) = b match {
            case c: CallContractBlock =>
              val dec = c.node.inMsg.flatMap(_.body)
                .flatMap(safeDecode(TlbDecoders.dedustDepositTonToVault))
              (c.node.inMsg.flatMap(_.source), None,
                dec.flatMap(_.amount).map(BigDecimal(_)), None, dec)
            case jt: JettonTransferBlock =>
              val fwd = jt.decoded.flatMap(_.forwardPayload)
                .flatMap(safeDecode(TlbDecoders.dedustDepositJettonFwd))
              (jt.sender,
                jt.asset.filter(_ != "TON")
                  .orElse(resolveAsset(jt.senderWallet)),
                Some(jt.amount), Some(jt.senderWallet), fwd)
            case _ => (None, None, None, None, None)
          }
          def tgt(a: String): Option[String] = Some(a).filter(_ != "TON")
          Some((ProtocolOpBlock("dex_deposit_liquidity",
            source = sender,
            destination = None,
            asset = None, value = amount1,
            failed = false,
            nodes = consumed.flatMap(_.nodes), children = Nil,
            dex = Some("dedust"),
            destinationSecondary = depositContract,
            depositLiquidity = Some(DexDepositLiquidityData(
              dex = Some("dedust"),
              amount1 = amount1, amount2 = None,
              asset1 = asset1, asset2 = None,
              user_jetton_wallet_1 = wallet1,
              user_jetton_wallet_2 = None,
              lp_tokens_minted = None,
              target_asset_1 = params.map(_.asset0).filter(_ != "TON"),
              target_asset_2 = params.map(_.asset1).filter(_ != "TON"),
              target_amount_1 = params.map(p => BigDecimal(p.asset0Target)),
              target_amount_2 = params.map(p => BigDecimal(p.asset1Target))))),
            consumed))
        case _ => None
      }
  }

  /** Repository-less DeDust first-asset deposit (asset unresolved). */
  val DedustDepositFirstAssetMatcher: BlockMatcher =
    new DedustFirstAssetMatcher(_ => None)

  /** StonFi provide-LP 0x37c096df (messages/liquidity.py:100). */
  val StonfiProvideLpMatcher: BlockMatcher = new OpcodeChainMatcher(
    Opcodes.StonfiProvideLp, None, Set(Opcodes.Excesses),
    protoBlock("dex_deposit_liquidity"))

  /** DEX liquidity withdrawal — SECOND-PASS matcher over the burn
    * rewrite: an LP-token JettonBurnBlock whose children are DeDust
    * payouts is a withdrawal (burn the LP jettons, receive both pool
    * assets; blocks/liquidity.py withdraw shape). */
  object DexWithdrawLiquidityMatcher extends BlockMatcher {
    override val triggerOpcodes: Option[Set[Long]] = Some(Set(Opcodes.JettonBurn))
    def tryBuild(b: Block): Option[(Block, Seq[Block])] = b match {
      case jb: JettonBurnBlock =>
        val payouts = jb.children.collect {
          case c: CallContractBlock
            if Opcodes.matches(c.opcode, Opcodes.DedustPayout) ||
              Opcodes.matches(c.opcode, Opcodes.DedustPayoutFromPool) => c
        }
        if (payouts.isEmpty) None
        else {
          val consumed = jb +: payouts
          // both pool assets pay out; amounts decode from the payout
          // bodies in lt order (messages/swaps.py:97-115; generic fill
          // block_tree_serializer.py:414-433)
          val amounts = payouts.sortBy(_.minLt).flatMap { pc =>
            pc.node.inMsg.flatMap(_.body)
              .flatMap(safeDecode(graft.functions.TlbDecoders.dedustPayoutAmount))
          }
          Some((ProtocolOpBlock("dex_withdraw_liquidity",
            jb.owner, None, Some(jb.ownerWallet), Some(jb.amount),
            consumed.exists(_.failed), consumed.flatMap(_.nodes), Nil,
            dex = Some("dedust"),
            withdrawLiquidity = Some(DexWithdrawLiquidityData(
              dex = Some("dedust"),
              is_refund = Some(false),
              amount1 = amounts.headOption.map(BigDecimal(_)),
              amount2 = amounts.drop(1).headOption.map(BigDecimal(_)),
              asset1_out = None, asset2_out = None,
              user_jetton_wallet_1 = None, user_jetton_wallet_2 = None,
              dex_jetton_wallet_1 = None, dex_jetton_wallet_2 = None,
              lp_tokens_burnt = Some(jb.amount),
              dex_wallet_1 = None, dex_wallet_2 = None))),
            consumed))
        }
      case _ => None
    }
  }

  /** Teleitem auction start 0x487a8e81 → nft_put_on_auction
    * (messages/nft.py:105; serializer case 'nft_put_on_auction' |
    * 'teleitem_start_auction'). */
  val TeleitemStartAuctionMatcher: BlockMatcher = new OpcodeChainMatcher(
    Opcodes.TeleitemStartAuction, None, Set.empty,
    protoBlock("nft_put_on_auction"))

  /** Auction fill-up 0x370fec51 → auction_bid (messages/nft.py:137). */
  val AuctionBidMatcher: BlockMatcher = new OpcodeChainMatcher(
    Opcodes.AuctionFillUp, None, Set.empty, protoBlock("auction_bid"))

  /** jvault staking family (blocks/jvault.py). The stake-wallet
    * interface row 'jvault_stake_wallet|<pool>|<asset>|<jvault_asset>'
    * stands in for the reference's extract_jvault_assets data-boc parse
    * (jvault.py:35-70). */

  /** Stake (JVaultStakeBlockMatcher, jvault.py:104-183): a jetton
    * transfer whose receive-jettons child at the stake wallet reaches
    * the pool's request-update (success) or the cancellation (failed);
    * period decodes from the transfer's forward payload. */
  /** The referral/update tail around a jvault request-update call: the
    * recursive referral chain (request-update-referrer → update-referrer,
    * each with excesses), pool set-data calls, and the update-rewards
    * response with its excesses (referral_subchain/update_with_exceses,
    * blocks/jvault.py:92-108). */
  private def jvaultUpdateTail(root: Block): Seq[Block] = {
    val out = scala.collection.mutable.ArrayBuffer[Block]()
    def walk(b: Block): Unit = b.children.foreach {
      case c: CallContractBlock
        if Opcodes.matches(c.opcode, Opcodes.JvaultRequestUpdateReferrer) ||
          Opcodes.matches(c.opcode, Opcodes.JvaultUpdateReferrer) ||
          Opcodes.matches(c.opcode, Opcodes.JvaultSetData) ||
          Opcodes.matches(c.opcode, Opcodes.JvaultUpdateRewards) ||
          Opcodes.matches(c.opcode, Opcodes.Excesses) ||
          Opcodes.matches(c.opcode, Opcodes.Bounce) =>
        out += c; walk(c)
      case _ => ()
    }
    walk(root)
    out.toSeq
  }

  object JvaultStakeFullMatcher extends BlockMatcher {
    import graft.functions.{Boc, TlbDecoders}
    override val triggerOpcodes: Option[Set[Long]] =
      Some(Set(Opcodes.JvaultReceiveJettons))
    def tryBuild(b: Block): Option[(Block, Seq[Block])] = b match {
      case jt: JettonTransferBlock =>
        jt.children.collectFirst {
          case r: CallContractBlock
            if Opcodes.matches(r.opcode, Opcodes.JvaultReceiveJettons) => r
        }.flatMap { recv =>
          val update = findCall(recv, Opcodes.JvaultRequestUpdateRewards)
          val cancel = findCall(recv, Opcodes.JvaultCancelStake)
          if (update.isEmpty && cancel.isEmpty) None
          else {
            val period = jt.decoded.flatMap(_.forwardPayload).flatMap { p =>
              try {
                val s = Boc.parseBase64(p).beginParse()
                s.loadUint(32)
                Some(BigDecimal(s.loadUint(32)))
              } catch { case scala.util.control.NonFatal(_) => None }
            }
            val consumed = Matching.identityDistinct(
              Seq[Block](jt, recv) ++ update.toSeq ++ cancel.toSeq ++
                // the receive-jettons leg can spawn its own pool
                // set-data/referral auxiliaries (partial referral
                // updates: update_with_exceses, blocks/jvault.py:92-108);
                // the notify consumption into the jt block may have
                // adopted them as jt children, so walk both anchors
                jvaultUpdateTail(jt) ++ jvaultUpdateTail(recv) ++
                update.toSeq.flatMap(jvaultUpdateTail) ++
                cancel.toSeq.flatMap(_.children.collect {
                  case j: JettonTransferBlock => j: Block }))
            Some((ProtocolOpBlock("jvault_stake",
              source = jt.sender,
              // pool = the receive-jettons message's SOURCE; the stake
              // wallet is its destination (jvault.py:165-167)
              destination = recv.node.inMsg.flatMap(_.source),
              asset = Some(jt.asset.getOrElse(jt.senderWallet)),
              value = Some(jt.amount),
              failed = cancel.nonEmpty || update.exists(_.failed),
              nodes = consumed.flatMap(_.nodes), children = Nil,
              sourceSecondary = Some(jt.senderWallet),
              amount = Some(jt.amount),
              jvaultStake = Some(JvaultStakeData(period, None,
                stake_wallet = recv.node.inMsg.flatMap(_.destination)))),
              consumed))
          }
        }
      case _ => None
    }
  }
  /** Bare receive-jettons fallback for partial traces. */
  val JvaultStakeMatcher: BlockMatcher = new OpcodeChainMatcher(
    Opcodes.JvaultReceiveJettons, None, Set(Opcodes.Excesses),
    protoBlock("jvault_stake"))

  /** Unstake + unstake request (jvault.py:207-316,396-475): the call at
    * the stake wallet; amount from the body; pool/assets from the
    * interface row with the request-update destination preferred for
    * the pool; failed unstakes (no request-update) carry the compute
    * exit code on the opcode column. */
  final class JvaultUnstakeFull(op: Long, btype: String,
      interfaces: Map[String, String]) extends BlockMatcher {
    import graft.functions.TlbDecoders
    override val triggerOpcodes: Option[Set[Long]] = Some(Set(op))
    def tryBuild(b: Block): Option[(Block, Seq[Block])] = b match {
      case c: CallContractBlock if Opcodes.matches(c.opcode, op) =>
        val wallet = c.node.inMsg.flatMap(_.destination)
        val row = wallet.flatMap(interfaces.get).map(_.split('|'))
          .filter(p => p.length >= 4 && p(0) == "jvault_stake_wallet")
        val amount = c.node.inMsg.flatMap(_.body)
          .flatMap(safeDecode(TlbDecoders.opQidCoins)).map(BigDecimal(_))
        val update = findCall(c, Opcodes.JvaultRequestUpdateRewards)
        val payout = update.flatMap(_.children.collectFirst {
          case j: JettonTransferBlock => j })
        // the request-update's tail: referral chain, update-rewards
        // response, the optional unstake-fee ton_transfer, excesses
        val fee = update.toSeq.flatMap(_.children.collect {
          case t: TonTransferBlock => t: Block })
        val consumed = Matching.identityDistinct(
          Seq[Block](c) ++ update.toSeq ++ payout.toSeq ++ fee ++
            update.toSeq.flatMap(jvaultUpdateTail) ++
            c.children.collect {
              case e: CallContractBlock
                if Opcodes.matches(e.opcode, Opcodes.Excesses) => e: Block
            })
        Some((ProtocolOpBlock(btype,
          source = c.node.inMsg.flatMap(_.source),
          destination = update.flatMap(_.node.inMsg.flatMap(_.destination))
            .orElse(row.map(_(1))),
          asset = payout.flatMap(_.asset).orElse(row.map(_(2))),
          value = amount,
          failed = c.failed,
          nodes = consumed.flatMap(_.nodes), children = Nil,
          sourceSecondary = wallet,
          amount = amount,
          asset2 = row.map(_(3)),
          // failed unstake: the compute exit code rides the opcode
          // column (_fill_jvault_unstake:743)
          opcodeOverride =
            if (update.isEmpty) c.node.tx.computeExitCode.map(_.toLong)
            else None), consumed))
      case _ => None
    }
  }
  val JvaultUnstakeMatcher: BlockMatcher =
    new JvaultUnstakeFull(Opcodes.JvaultUnstakeJettons, "jvault_unstake",
      Map.empty)
  val JvaultUnstakeRequestMatcher: BlockMatcher =
    new JvaultUnstakeFull(Opcodes.JvaultUnstakeRequest,
      "jvault_unstake_request", Map.empty)

  /** Claim (jvault.py:317-395): the claim call at the stake wallet with
    * the send-claimed-rewards leg to the pool; claimed wallets from the
    * body dict, amounts from the withdrawal transfer. */
  object JvaultClaimFullMatcher extends BlockMatcher {
    import graft.functions.TlbDecoders
    override val triggerOpcodes: Option[Set[Long]] =
      Some(Set(Opcodes.JvaultClaim))
    def tryBuild(b: Block): Option[(Block, Seq[Block])] = b match {
      case c: CallContractBlock
          if Opcodes.matches(c.opcode, Opcodes.JvaultClaim) =>
        val send = findCall(c, Opcodes.JvaultSendClaimedRewards)
        val withdrawal = send.flatMap(_.children.collectFirst {
          case j: JettonTransferBlock => j })
        val consumed = Matching.identityDistinct(
          Seq[Block](c) ++ send.toSeq ++ withdrawal.toSeq ++
            send.toSeq.flatMap(jvaultUpdateTail))
        Some((ProtocolOpBlock("jvault_claim",
          source = c.node.inMsg.flatMap(_.source),
          destination = send.flatMap(_.node.inMsg.flatMap(_.destination)),
          asset = None, value = None,
          failed = c.failed,
          nodes = consumed.flatMap(_.nodes), children = Nil,
          sourceSecondary = c.node.inMsg.flatMap(_.destination),
          jvaultClaim = Some(JvaultClaimData(
            claimed_jettons = c.node.inMsg.flatMap(_.body)
              .flatMap(safeDecode(TlbDecoders.jvaultClaimWallets))
              .getOrElse(Nil),
            claimed_amounts = withdrawal.map(_.amount).toSeq))), consumed))
      case _ => None
    }
  }
  val JvaultClaimMatcher: BlockMatcher = JvaultClaimFullMatcher

  /** tgBTC bridge events (messages/tgbtc.py:20-82). Log-only (crippled)
    * mint: TgBTCMintLogOnlyMatcher, blocks/tgbtc.py:335-365 — the log
    * emitter is both sender and teleport contract. */
  val TgbtcMintMatcher: BlockMatcher = new OpcodeChainMatcher(
    Opcodes.TgbtcMint, None, Set.empty,
    (c, consumed) => {
      val ev = c.node.inMsg.flatMap(_.body)
        .flatMap(safeDecode(graft.functions.TlbDecoders.tgbtcMintEvent))
      protoBlock("tgbtc_mint_fallback")(c, consumed) match {
        case p: ProtocolOpBlock => p.copy(
          source = c.node.inMsg.flatMap(_.source),
          destination = ev.flatMap(_.recipient),
          sourceSecondary = c.node.inMsg.flatMap(_.source),
          assetSecondary = ev.map(_.bitcoinTxidHex),
          asset = None, value = None,
          amount = ev.map(e => BigDecimal(e.amount)))
        case other => other
      }
    })
  /** Log-only (crippled) burn: decode the bare event — type gains the
    * `_fallback` suffix and the fills come straight from the log
    * (TgBTCBurnLogOnlyMatcher, blocks/tgbtc.py:367-390;
    * _fill_tgbtc_burn_action:864-872). */
  val TgbtcBurnMatcher: BlockMatcher = new OpcodeChainMatcher(
    Opcodes.TgbtcBurn, None, Set.empty,
    (c, consumed) => {
      val ev = c.node.inMsg.flatMap(_.body)
        .flatMap(safeDecode(graft.functions.TlbDecoders.tgbtcBurnEvent))
      protoBlock("tgbtc_burn_fallback")(c, consumed) match {
        case p: ProtocolOpBlock => p.copy(
          source = ev.flatMap(_.sender),
          destination = ev.flatMap(_.pegout),
          asset = None, value = None,
          amount = ev.map(e => BigDecimal(e.amount)))
        case other => other
      }
    })
  /** Log-only (crippled) new-key (TgBTCNewKeyLogOnlyMatcher,
    * tgbtc.py:392-419): coordinator = the log emitter, pubkey hex as
    * source secondary, pegout as destination secondary. */
  val TgbtcNewKeyMatcher: BlockMatcher = new OpcodeChainMatcher(
    Opcodes.TgbtcNewKey, None, Set.empty,
    (c, consumed) => {
      val ev = c.node.inMsg.flatMap(_.body)
        .flatMap(safeDecode(graft.functions.TlbDecoders.tgbtcNewKeyEvent))
      protoBlock("tgbtc_new_key_fallback")(c, consumed) match {
        case p: ProtocolOpBlock => p.copy(
          source = None,
          destination = c.node.inMsg.flatMap(_.source),
          sourceSecondary = ev.map(_.pubkeyHex),
          destinationSecondary = ev.flatMap(_.pegout),
          asset = None, value = None,
          amount = ev.map(e => BigDecimal(e.amount)))
        case other => other
      }
    })

  /** tgBTC new-key FULL chain (TgBTCNewKeyBlockMatcher,
    * blocks/tgbtc.py:270-328): a parent whose children are the DKG log
    * and the 0x690f357a call carrying the new-key event. Fills per
    * _fill_tgbtc_new_key_action (serializer:875-884): teleport →
    * coordinator, pubkey hex as source secondary, pegout as destination
    * secondary, value = the DKG timestamp. The anchor parent's own
    * action survives as a sibling (tryBuildAll). */
  object TgbtcNewKeyFullMatcher extends BlockMatcher {
    import graft.functions.TlbDecoders
    override val triggerOpcodes: Option[Set[Long]] =
      Some(Set(Opcodes.TgbtcDkgCompleted, Opcodes.TgbtcNewKey))
    def tryBuild(b: Block): Option[(Block, Seq[Block])] = None
    override def tryBuildAll(b: Block): Option[(Seq[Block], Seq[Block])] = {
      val dkg = b.children.collectFirst {
        case d: CallContractBlock
          if Opcodes.matches(d.opcode, Opcodes.TgbtcDkgCompleted) => d
      }
      val anchor = b.children.collectFirst {
        case a: CallContractBlock
          if Opcodes.matches(a.opcode, Opcodes.TgbtcNewKeyAnchor) => a
      }
      val log = anchor.flatMap(_.children.collectFirst {
        case l: CallContractBlock
          if Opcodes.matches(l.opcode, Opcodes.TgbtcNewKey) => l
      })
      (dkg, anchor, log) match {
        case (Some(d), Some(a), Some(l)) =>
          val dkgBody = d.node.inMsg.flatMap(_.body)
            .flatMap(safeDecode(TlbDecoders.tgbtcDkgEvent))
          val keyBody = l.node.inMsg.flatMap(_.body)
            .flatMap(safeDecode(TlbDecoders.tgbtcNewKeyEvent))
          val consumed: Seq[Block] = Seq(d, a, l)
          val newKey = ProtocolOpBlock("tgbtc_new_key",
            source = d.node.inMsg.flatMap(_.source), // teleport
            destination = l.node.inMsg.flatMap(_.source), // coordinator
            asset = None,
            value = dkgBody.map(x => BigDecimal(x.timestamp)),
            failed = consumed.exists(_.failed),
            nodes = consumed.flatMap(_.nodes), children = Nil,
            sourceSecondary = keyBody.map(_.pubkeyHex),
            destinationSecondary = keyBody.flatMap(_.pegout),
            amount = keyBody.map(k => BigDecimal(k.amount)))
          // keep the anchor parent's own action: re-emit it childless
          // first (it adopts the surviving children), new_key as sibling
          Some((Seq(b.withChildren(Nil), newKey), consumed))
        case _ => None
      }
    }
  }

  /** Canonical action type is 'tgbtc_dkg_log_fallback' — the reference
    * serializer renames the TgBTCDkgLogBlock on emission
    * (block_tree_serializer.py:886-890): source = the coordinator, asset
    * = the internal pubkey hex, value = the DKG timestamp. */
  val TgbtcDkgLogMatcher: BlockMatcher = new OpcodeChainMatcher(
    Opcodes.TgbtcDkgCompleted, None, Set.empty,
    (c, consumed) => protoBlock("tgbtc_dkg_log_fallback")(c, consumed) match {
      case p: ProtocolOpBlock =>
        val body = c.node.inMsg.flatMap(_.body)
          .flatMap(safeDecode(graft.functions.TlbDecoders.tgbtcDkgEvent))
        p.copy(asset = body.map(_.pubkeyHex),
          value = body.map(x => BigDecimal(x.timestamp)).orElse(p.value))
      case other => other
    })

  /** TONCO full-context swap (ToncoSwapBlockMatcher,
    * blocks/swaps.py:687-1230): anchored on the funding jetton transfer
    * (real or pTON-rewritten), walks the POOLV3_SWAP → ROUTERV3_PAY_TO
    * hop chain — multi-hop routes re-enter through the router's
    * self-transfer — and merges the final outgoing transfer. peer_swaps
    * chain from the in-transfer, each hop's output being the larger
    * coinsinfo side; min_out = the successful out amount
    * (swaps.py:1155). */
  final class ToncoFullSwap(resolveAsset: String => Option[String])
      extends BlockMatcher {
    import graft.functions.TlbDecoders
    override val triggerOpcodes: Option[Set[Long]] =
      Some(Set(Opcodes.ToncoPoolV3Swap, Opcodes.ToncoRouterV3PayTo))
    private def asset(w: Option[String]): Option[String] =
      w.map(a => resolveAsset(a).getOrElse(a)).filter(_ != "TON")
    def tryBuild(b: Block): Option[(Block, Seq[Block])] = b match {
      case jt: JettonTransferBlock =>
        findCall(jt, Opcodes.ToncoPoolV3Swap).flatMap { swap0 =>
          // hop chain: swap → pay_to → (intermediate transfer → … →
          // next swap | final out transfer)
          val hops = scala.collection.mutable.ArrayBuffer[
            (CallContractBlock, CallContractBlock)]()
          val intermediates = scala.collection.mutable.ArrayBuffer[Block]()
          var cur: Option[CallContractBlock] = Some(swap0)
          while (cur.isDefined) {
            val sw = cur.get
            sw.children.collectFirst {
              case p: CallContractBlock
                if Opcodes.matches(p.opcode, Opcodes.ToncoRouterV3PayTo) => p
            } match {
              case Some(p) =>
                hops += ((sw, p))
                // a further swap under this pay_to means an intermediate
                // hop; consume the transfer chain between them
                val next = findCall(p, Opcodes.ToncoPoolV3Swap)
                next.foreach { n =>
                  def collectPath(from: Block): Boolean = {
                    if (from eq n) true
                    else from.children.exists { ch =>
                      val hit = collectPath(ch)
                      if (hit && !(ch eq n)) intermediates += ch
                      hit
                    }
                  }
                  collectPath(p)
                }
                cur = next
              case None => cur = None
            }
          }
          if (hops.isEmpty) None
          else hops.last._2.children.collectFirst {
            case j2: JettonTransferBlock => j2
          }.map { out =>
            val payBodies = hops.map(_._2).toSeq.flatMap(p =>
              p.node.inMsg.flatMap(_.body)
                .flatMap(safeDecode(TlbDecoders.toncoPayTo)))
            // TONCO ok exit codes: 0 and 200 (swaps.py:1112)
            val ok = payBodies.forall(pb =>
              pb.exitCode == 0L || pb.exitCode == 200L)
            // a wrapped-TON master (pTON/wTTON) renders as is_ton → null
            // asset (swaps.py:916-931,1003-1008)
            def render(a: Option[String]): Option[String] =
              a.filter(x => x != "TON" && !PtonMasters.contains(x))
            val inMaster = jt.asset.orElse(resolveAsset(jt.senderWallet))
            // pTON v2 ton_transfer rewrite: no repository asset, no
            // internal-transfer leg — the reference's notification branch
            // (swaps.py:947-973): destination is the ROUTER (the swap
            // call's source), the wallet rides destination_jetton_wallet
            val ptonV2In = !jt.hasInternalTransfer && jt.asset.isEmpty
            val incoming = DexTransferData(
              amount = Some(jt.amount),
              asset = if (ptonV2In) None else render(inMaster),
              source = jt.sender,
              destination =
                if (ptonV2In) swap0.node.inMsg.flatMap(_.source)
                else jt.receiver,
              source_jetton_wallet =
                if (jt.hasInternalTransfer) Some(jt.senderWallet) else None,
              destination_jetton_wallet =
                if (ptonV2In) Some(jt.senderWallet) else jt.receiverWallet)
            val outMaster = out.asset.orElse(resolveAsset(out.senderWallet))
            val outgoing = DexTransferData(
              amount = Some(out.amount),
              asset = render(outMaster),
              source = out.sender,
              destination = out.receiver,
              source_jetton_wallet =
                if (out.hasInternalTransfer) Some(out.senderWallet) else None,
              destination_jetton_wallet = out.receiverWallet)
            // failed swaps name the intended target in the swap payload's
            // recursive (wallet, min_out) chain (swaps.py:1155-1199)
            val failedTarget: Option[(Option[String], BigInt)] =
              if (ok) None
              else jt.decoded.flatMap(_.forwardPayload)
                .orElse(jt.ptonForwardPayload)
                .flatMap(p => safeDecode(TlbDecoders.toncoSwapPayloadTargets)(p))
                .toSeq.flatten.lastOption
                .map { case (w, mo) => (resolveAsset(w), mo) }
            val destAsset = failedTarget match {
              case Some((a, _)) => render(a)
              case None => outgoing.asset
            }
            val minOut = failedTarget match {
              case Some((_, mo)) => Some(BigDecimal(mo))
              case None => outgoing.amount
            }
            val peer: Seq[PeerSwapData] =
              if (payBodies.size > 1) {
                val first = payBodies.head
                val firstEntry = PeerSwapData(
                  asset_in = incoming.asset,
                  amount_in = Some(jt.amount),
                  asset_out = asset(first.out._2),
                  amount_out = Some(BigDecimal(first.out._1)))
                val rest = payBodies.tail
                  .filter(pb => pb.exitCode == 0L || pb.exitCode == 200L)
                  .foldLeft((Vector.empty[PeerSwapData], first.out)) {
                    case ((acc, prevOut), pb) =>
                      (acc :+ PeerSwapData(
                        asset_in = asset(prevOut._2),
                        amount_in = Some(BigDecimal(prevOut._1)),
                        asset_out = asset(pb.out._2),
                        amount_out = Some(BigDecimal(pb.out._1))), pb.out)
                  }._1
                firstEntry +: rest
              } else Nil
            val consumed = Matching.identityDistinct(
              Seq[Block](jt) ++
                hops.toSeq.flatMap(h => Seq(h._1: Block, h._2)) ++
                intermediates.toSeq ++ Seq(out))
            val data = JettonSwapData("tonco", jt.sender,
              Some(incoming), Some(outgoing), peer, minOut)
            (JettonSwapDirectBlock(data,
              source = incoming.source,
              destination = outgoing.destination,
              asset = incoming.asset,
              asset2 = destAsset,
              sourceSecondary = incoming.source_jetton_wallet,
              destinationSecondary = outgoing.destination_jetton_wallet,
              failed = !ok || consumed.exists(_.failed),
              nodes = consumed.flatMap(_.nodes), children = Nil), consumed)
          }
        }
      case _ => None
    }
  }
  val ToncoFullSwapMatcher: BlockMatcher = new ToncoFullSwap(_ => None)

  /** TONCO v3 swap: pool swap 0xa7fb58f8 paying out through the router
    * 0xa1daa96d (messages/swaps.py:226,345). */
  val ToncoSwapMatcher: BlockMatcher = new OpcodeChainMatcher(
    Opcodes.ToncoPoolV3Swap, Some(Opcodes.ToncoRouterV3PayTo),
    Set(Opcodes.Excesses),
    (c, consumed) => protoBlock("jetton_swap")(c, consumed) match {
      case p: ProtocolOpBlock => p.copy(dex = Some("tonco"))
      case other => other
    })

  /** EVAA lending (blocks/evaa.py). The master opcodes are tiny integers
    * (0x1 / 0x2), so every match REQUIRES the user-contract round trip —
    * exactly how the reference disambiguates them from ordinary
    * low-opcode calls. Messages INTO the user contract carry the
    * user-smc header (user_version:Coins upgrade_info:Maybe ^Cell
    * upgrade_exec:uint2) before the 32-bit op (blocks/evaa.py:59-89), so
    * the raw indexed opcode is garbage for those — match them by raw
    * opcode OR by the header-aware body parse. */
  private object Evaa {
    import graft.functions.{Boc, TlbDecoders}

    /** op after the user-smc header, when the body parses. */
    def headerOp(blk: CallContractBlock): Option[Long] =
      blk.node.inMsg.flatMap(_.body).flatMap { b64 =>
        try {
          val s = Boc.parseBase64(b64).beginParse()
          s.loadCoins()
          if (s.loadBit()) s.loadRef()
          s.loadUint(2)
          Some(s.loadUint(32).toLong)
        } catch { case scala.util.control.NonFatal(_) => None }
      }

    def opIs(blk: CallContractBlock, op: Long): Boolean =
      Opcodes.matches(blk.opcode, op) || headerOp(blk).contains(op)

    def callChild(b: Block, op: Long): Option[CallContractBlock] =
      b.children.collectFirst {
        case c: CallContractBlock if opIs(c, op) => c
      }

    /** The "EVAA ..." comment transfers + excesses the reference's
      * ContractMatchers consume alongside each matched call. */
    def aux(bs: Seq[Block]): Seq[Block] = bs.flatMap(_.children).filter {
      case t: TonTransferBlock => t.comment.exists(c =>
        c == "EVAA supply." || c == "EVAA withdraw." ||
          c == "EVAA liquidation.")
      case c: CallContractBlock => Opcodes.matches(c.opcode, Opcodes.Excesses)
      case _ => false
    }

    def body(blk: CallContractBlock): Option[String] =
      blk.node.inMsg.flatMap(_.body)

    val tonAssetIdHex: String =
      "0x" + Opcodes.EvaaTonAssetId.toString(16)
  }

  /** EVAA supply (EvaaSupplyBlockMatcher, blocks/evaa.py:117-309): a TON
    * supply call at the master — or a jetton transfer whose forward
    * payload is supply_master — whose user-contract leg ends in
    * supply_success, supply_fail, or a jetton refund. */
  object EvaaSupplyMatcher extends BlockMatcher {
    import graft.functions.TlbDecoders

    private def build(anchor: Block, user: CallContractBlock,
        sender: Option[String], senderWallet: Option[String],
        masterWallet: Option[String], master: Option[String],
        asset: Option[String], recipient0: Option[String],
        amount0: Option[BigDecimal], isTon: Boolean)
        : Option[(Block, Seq[Block])] = {
      val success = Evaa.callChild(user, Opcodes.EvaaSupplySuccess)
      val fail = Evaa.callChild(user, Opcodes.EvaaSupplyFail)
      val refund = user.children.collectFirst { case j: JettonTransferBlock => j }
      if (success.isEmpty && fail.isEmpty && refund.isEmpty) return None
      val successBody = success.flatMap(Evaa.body)
        .flatMap(safeDecode(TlbDecoders.evaaSupplySuccess))
      val userBody = Evaa.body(user)
        .flatMap(safeDecode(TlbDecoders.evaaUserCall))
      val recipient = recipient0.orElse(sender)
      val recipientWallet =
        if (!isTon && recipient == sender) senderWallet else None
      val amount = successBody.map(d => BigDecimal(d.amountSupplied))
        .orElse(amount0)
      val outcome: Seq[Block] =
        (success.toSeq: Seq[Block]) ++ fail.toSeq ++ refund.toSeq
      val consumed = (Seq(anchor, user: Block) ++ outcome) ++
        Evaa.aux(Seq(user: Block) ++ outcome)
      Some((EvaaSupplyActionBlock(
        sender = sender, senderJettonWallet = senderWallet,
        recipient = recipient,
        recipientContract = user.node.inMsg.flatMap(_.destination),
        recipientJettonWallet = recipientWallet,
        masterJettonWallet = masterWallet,
        master = master, asset = asset,
        amount = amount,
        assetIdHex = successBody.map(_.assetIdHex)
          .orElse(userBody.map(_.assetIdHex)),
        isTon = isTon, isSuccess = success.nonEmpty,
        failed = success.isEmpty || anchor.failed || user.failed,
        nodes = consumed.flatMap(_.nodes), children = Nil), consumed))
    }

    def tryBuild(b: Block): Option[(Block, Seq[Block])] = b match {
      // the 0x1 opcode collides with ordinary low-integer calls — a real
      // supply_master always carries a body, so the null-body case exits
      // before any child scan (the sweep-cost guard for common traces)
      case c: CallContractBlock
          if Opcodes.matches(c.opcode, Opcodes.EvaaSupplyMaster) &&
            c.node.inMsg.exists(_.body.nonEmpty) =>
        Evaa.callChild(c, Opcodes.EvaaSupplyUser).flatMap { u =>
          val masterBody = Evaa.body(c)
            .flatMap(safeDecode(TlbDecoders.evaaSupplyMaster))
          build(c, u,
            sender = c.node.inMsg.flatMap(_.source),
            senderWallet = None, masterWallet = None,
            master = c.node.inMsg.flatMap(_.destination),
            asset = None,
            recipient0 = masterBody.flatMap(_.recipient),
            amount0 = masterBody.map(d => BigDecimal(d.supplyAmount)),
            isTon = true)
        }
      case jt: JettonTransferBlock =>
        // user-call child first (cheap opcode check) — the forward
        // payload Boc parse only runs on candidate supply transfers
        jt.children.collectFirst {
          case u: CallContractBlock
            if Evaa.opIs(u, Opcodes.EvaaSupplyUser) => u
        }.flatMap { u =>
          jt.decoded.flatMap(_.forwardPayload)
            .flatMap(safeDecode(TlbDecoders.evaaSupplyJettonForward))
            .flatMap { recipient =>
            build(jt, u,
              sender = jt.sender,
              senderWallet = Some(jt.senderWallet),
              masterWallet = jt.receiverWallet,
              master = jt.receiver,
              asset = Some(jt.asset.getOrElse(jt.senderWallet)),
              recipient0 = recipient,
              amount0 = Some(jt.amount),
              isTon = false)
          }
        }
      case _ => None
    }
  }

  /** EVAA withdraw (EvaaWithdrawBlockMatcher, blocks/evaa.py:340-566):
    * withdraw_master → withdraw_user, then one of: collateralized +
    * payout (success), collateralized + withdraw_fail + no-funds excess,
    * or a user-contract fail excess (locked / not-collateralized /
    * missing-prices / crashed). */
  object EvaaWithdrawMatcher extends BlockMatcher {
    import graft.functions.TlbDecoders
    override val triggerOpcodes: Option[Set[Long]] =
      Some(Set(Opcodes.EvaaWithdrawMaster))

    def tryBuild(b: Block): Option[(Block, Seq[Block])] = b match {
      // same sweep guard as supply: a real withdraw_master has a body
      case c: CallContractBlock
          if Opcodes.matches(c.opcode, Opcodes.EvaaWithdrawMaster) &&
            c.node.inMsg.exists(_.body.nonEmpty) =>
        Evaa.callChild(c, Opcodes.EvaaWithdrawUser).flatMap { u =>
          val masterBody = Evaa.body(c)
            .flatMap(safeDecode(TlbDecoders.evaaWithdrawMaster))
          val userBody = Evaa.body(u)
            .flatMap(safeDecode(TlbDecoders.evaaUserCall))
          val assetIdHex = masterBody.map(_.assetIdHex)
            .orElse(userBody.map(_.assetIdHex))
          val isTon = assetIdHex.forall(_ == Evaa.tonAssetIdHex)
          val owner = c.node.inMsg.flatMap(_.source)
          val recipient = masterBody.flatMap(_.recipient)
            .orElse(userBody.flatMap(_.recipient)).orElse(owner)
          val desired = masterBody.map(d => BigDecimal(d.amount))
            .orElse(userBody.map(d => BigDecimal(d.amount)))
          val ownerContract = u.node.inMsg.flatMap(_.destination)
          def blk(isSuccess: Boolean, amount: Option[BigDecimal],
              failReason: Option[String], jettonPayout: Option[JettonTransferBlock],
              extra: Seq[Block]): (Block, Seq[Block]) = {
            val consumed = (Seq(c: Block, u) ++ extra) ++
              Evaa.aux(Seq(u: Block) ++ extra)
            (EvaaWithdrawActionBlock(
              owner = owner, ownerContract = ownerContract,
              recipient = recipient,
              recipientJettonWallet = jettonPayout.flatMap(_.receiverWallet),
              masterJettonWallet = jettonPayout.map(_.senderWallet),
              master = c.node.inMsg.flatMap(_.destination),
              asset = jettonPayout.map(j => j.asset.getOrElse(j.senderWallet)),
              amount = amount, assetIdHex = assetIdHex,
              isTon = isTon, isSuccess = isSuccess,
              failReason = failReason,
              failed = !isSuccess || c.failed || u.failed,
              nodes = consumed.flatMap(_.nodes), children = Nil), consumed)
          }
          val coll = u.children.collectFirst {
            case cc: CallContractBlock
              if Opcodes.matches(cc.opcode, Opcodes.EvaaWithdrawCollateralized) => cc
          }
          coll match {
            case Some(cc) =>
              val failLeg = cc.children.collectFirst {
                case fc: CallContractBlock
                  if Evaa.opIs(fc, Opcodes.EvaaWithdrawFail) => fc
              }
              failLeg match {
                case Some(fc) =>
                  // master-side no-funds revert (blocks/evaa.py:523-541)
                  val excess = Evaa.callChild(fc,
                    Opcodes.EvaaWithdrawNoFundsExcess)
                  Some(blk(isSuccess = false, amount = desired,
                    failReason = Some("withdraw_no_funds_excess"),
                    jettonPayout = None,
                    extra = Seq(cc: Block, fc) ++ excess.toSeq))
                case None =>
                  val jettonPayout = cc.children.collectFirst {
                    case j: JettonTransferBlock => j }
                  val tonPayouts = cc.children.collect {
                    case pc: CallContractBlock
                      if Evaa.opIs(pc, Opcodes.EvaaWithdrawSuccess) => pc: Block
                  }
                  if (jettonPayout.isEmpty && tonPayouts.isEmpty) None
                  else {
                    val amount = Evaa.body(cc)
                      .flatMap(safeDecode(TlbDecoders.evaaWithdrawCollateralized))
                      .map(BigDecimal(_)).orElse(desired)
                    Some(blk(isSuccess = true, amount = amount,
                      failReason = None, jettonPayout = jettonPayout,
                      extra = Seq(cc: Block) ++ jettonPayout.toSeq ++ tonPayouts))
                  }
              }
            case None =>
              // user-contract fail excess (blocks/evaa.py:543-566)
              u.children.collectFirst {
                case fc: CallContractBlock
                  if fc.opcode.exists(op =>
                    Opcodes.EvaaWithdrawFailExcessReasons
                      .contains(op & 0xffffffffL)) => fc
              }.map { fc =>
                val reason = Opcodes.EvaaWithdrawFailExcessReasons(
                  fc.opcode.get & 0xffffffffL)
                blk(isSuccess = false, amount = desired,
                  failReason = Some(reason), jettonPayout = None,
                  extra = Seq(fc))
              }
          }
        }
      case _ => None
    }
  }

  /** Coffee DEX full swap (CoffeeSwapBlockMatcher,
    * blocks/swaps.py:1231-1458): the funding leg (jetton transfer or
    * native c0ffee00 call) followed by the swap_internal chain — each
    * hop carrying its success event — ending in payout_internal and the
    * outgoing leg (jetton transfer, native payout, or notification).
    * peer_swaps from the success-event bodies, []-gated unless
    * multi-hop; out assets chain from the next hop's input. */
  object CoffeeFullSwapMatcher extends BlockMatcher {
    import graft.functions.TlbDecoders
    override val triggerOpcodes: Option[Set[Long]] =
      Some(Set(Opcodes.CoffeeSwapInternal, Opcodes.CoffeePayoutInternal))

    private def build(anchor: Block, swap0: CallContractBlock,
        inData: DexTransferData, sender: Option[String])
        : Option[(Block, Seq[Block])] = {
      // walk the swap chain: swap → [success event, next swap | payout]
      val hops = scala.collection.mutable.ArrayBuffer[
        (CallContractBlock, Option[CallContractBlock])]()
      var cur: Option[CallContractBlock] = Some(swap0)
      var payout: Option[CallContractBlock] = None
      while (cur.isDefined && payout.isEmpty) {
        val sw = cur.get
        val event = sw.children.collectFirst {
          case e: CallContractBlock
            if Opcodes.matches(e.opcode, Opcodes.CoffeeSwapSuccess) => e
        }
        hops += ((sw, event))
        payout = sw.children.collectFirst {
          case p: CallContractBlock
            if Opcodes.matches(p.opcode, Opcodes.CoffeePayoutInternal) => p
        }
        if (payout.isEmpty)
          cur = sw.children.collectFirst {
            case n: CallContractBlock
              if Opcodes.matches(n.opcode, Opcodes.CoffeeSwapInternal) => n
          }
        else cur = None
      }
      payout.flatMap { po =>
        val poBody = po.node.inMsg.flatMap(_.body)
          .flatMap(safeDecode(TlbDecoders.coffeePayoutInternal))
        // the outgoing leg under payout_internal
        val outJt = po.children.collectFirst { case j: JettonTransferBlock => j }
        val outCall = po.children.collectFirst {
          case c: CallContractBlock
            if Opcodes.matches(c.opcode, Opcodes.CoffeePayoutOut) ||
              Opcodes.matches(c.opcode, Opcodes.CoffeeNotification) => c
        }
        val outData: Option[DexTransferData] = outJt.map(j =>
          DexTransferData(Some(j.amount),
            j.asset.orElse(Some(j.senderWallet)).filter(_ != "TON"),
            j.sender, j.receiver, Some(j.senderWallet), j.receiverWallet))
          .orElse(outCall.map { c =>
            if (Opcodes.matches(c.opcode, Opcodes.CoffeePayoutOut))
              DexTransferData(poBody.map(p => BigDecimal(p.amount)), None,
                po.node.inMsg.flatMap(_.source),
                poBody.flatMap(_.recipient), None, None)
            else
              DexTransferData(
                c.node.inMsg.map(m => BigDecimal(m.value)), None,
                c.node.inMsg.flatMap(_.source),
                c.node.inMsg.flatMap(_.destination), None, None)
          })
        outData.flatMap { out =>
          val events = hops.flatMap(_._2)
          val ok = hops.forall(_._2.nonEmpty)
          val eventBodies = events.toSeq.flatMap(e =>
            e.node.inMsg.flatMap(_.body)
              .flatMap(safeDecode(TlbDecoders.coffeeSwapEvent)))
          if (eventBodies.isEmpty) None
          else {
            // peer swaps: each hop's in from its event; out asset chains
            // from the NEXT hop's input; the last takes the out leg's
            // asset (blocks/swaps.py:1423-1429)
            val peer0 = eventBodies.zipWithIndex.map { case (e, i) =>
              val outAsset =
                if (i + 1 < eventBodies.size) eventBodies(i + 1).inputAsset
                else out.asset
              PeerSwapData(
                asset_in = e.inputAsset,
                amount_in = Some(BigDecimal(e.inputAmount)),
                asset_out = outAsset,
                amount_out = Some(BigDecimal(e.outputAmount)))
            }
            val peer = if (peer0.size > 1) peer0 else Nil
            val data = JettonSwapData("coffee", sender,
              dex_incoming_transfer = Some(inData),
              dex_outgoing_transfer = Some(out),
              peer_swaps = peer, min_out_amount = None)
            val consumed = Matching.identityDistinct(
              Seq[Block](anchor) ++
                hops.toSeq.flatMap(h => Seq(h._1: Block) ++ h._2.toSeq) ++
                Seq(po) ++ outJt.toSeq ++ outCall.toSeq)
            Some((JettonSwapDirectBlock(data,
              source = inData.source, destination = out.destination,
              asset = inData.asset, asset2 = out.asset,
              sourceSecondary = inData.source_jetton_wallet,
              destinationSecondary = out.destination_jetton_wallet,
              failed = !ok,
              nodes = consumed.flatMap(_.nodes), children = Nil), consumed))
          }
        }
      }
    }

    def tryBuild(b: Block): Option[(Block, Seq[Block])] = b match {
      case jt: JettonTransferBlock =>
        jt.children.collectFirst {
          case s: CallContractBlock
            if Opcodes.matches(s.opcode, Opcodes.CoffeeSwapInternal) => s
        }.flatMap { swap0 =>
          build(jt, swap0,
            DexTransferData(Some(jt.amount),
              jt.asset.orElse(Some(jt.senderWallet)).filter(_ != "TON"),
              jt.sender, jt.receiver, Some(jt.senderWallet),
              jt.receiverWallet),
            sender = jt.sender)
        }
      case c: CallContractBlock
          if Opcodes.matches(c.opcode, Opcodes.CoffeeSwapNative) =>
        findCall(c, Opcodes.CoffeeSwapInternal).flatMap { swap0 =>
          val amount = c.node.inMsg.flatMap(_.body)
            .flatMap(safeDecode(TlbDecoders.coffeeSwapNativeAmount))
            .map(BigDecimal(_))
            .orElse(c.node.inMsg.map(m => BigDecimal(m.value)))
          build(c, swap0,
            DexTransferData(amount, None,
              c.node.inMsg.flatMap(_.source),
              c.node.inMsg.flatMap(_.destination), None, None),
            sender = c.node.inMsg.flatMap(_.source))
        }
      case _ => None
    }
  }

  /** Coffee DEX swap FALLBACK: native/jetton swap entry with its
    * success/failed event tail (messages/coffee.py:338-413). */
  val CoffeeSwapMatcher: BlockMatcher = new OpcodeChainMatcher(
    Opcodes.CoffeeSwapNative, None,
    Set(Opcodes.CoffeeSwapSuccess, Opcodes.CoffeeSwapFailed, Opcodes.Excesses),
    (c, consumed) => protoBlock("jetton_swap")(c, consumed) match {
      case p: ProtocolOpBlock => p.copy(dex = Some("coffee"))
      case other => other
    })

  /** Coffee pool-creator stage: the funding leg (native c0ffee02 / extra
    * c0ffee03 call at the factory, or a jetton transfer whose forward
    * payload is create_pool_jetton#c0ffee11) must reach the factory's
    * creator request c0ffee23 and the creator-contract deploy c0ffee22
    * (CoffeeCreatePoolCreatorMatcher, blocks/liquidity.py:2055-2124).
    * Pool params ride asset2/asset2_secondary and the creator contract
    * destination_secondary — the columns
    * _fill_coffee_create_pool_creator writes (serializer:945-953). */
  object CoffeeCreatePoolCreatorMatcher extends BlockMatcher {
    override val triggerOpcodes: Option[Set[Long]] =
      Some(Set(Opcodes.CoffeeCreatePoolCreator))
    private def build(head: Block, sender: Option[String],
        senderWallet: Option[String], provided: Option[String],
        amount: Option[BigDecimal], decoded: TlbDecoders.CoffeeCreatePoolBody,
        req: CallContractBlock, deploy: CallContractBlock)
        : (Block, Seq[Block]) = {
      val consumed: Seq[Block] = Seq(head, req, deploy)
      (ProtocolOpBlock("coffee_create_pool_creator",
        source = sender, destination = decoded.recipient,
        asset = provided,
        value = decoded.amount.map(BigDecimal(_)).orElse(amount),
        failed = consumed.exists(_.failed),
        nodes = consumed.flatMap(_.nodes), children = Nil,
        sourceSecondary = senderWallet,
        destinationSecondary = deploy.node.inMsg.flatMap(_.destination),
        asset2 = decoded.params.first,
        asset2Secondary = decoded.params.second), consumed)
    }
    def tryBuild(b: Block): Option[(Block, Seq[Block])] = b match {
      case c: CallContractBlock
        if Opcodes.matches(c.opcode, Opcodes.CoffeeCreatePoolNative) ||
          Opcodes.matches(c.opcode, Opcodes.CoffeeCreatePoolExtra) =>
        for {
          req <- findCall(c, Opcodes.CoffeeCreatePoolCreator)
          deploy <- findCall(req, Opcodes.CoffeeDeploy)
          body <- c.node.inMsg.flatMap(_.body)
          decoded <- safeDecode(TlbDecoders.coffeeCreatePool)(body)
        } yield build(c, c.node.inMsg.flatMap(_.source), None, None,
          c.node.inMsg.map(m => BigDecimal(m.value)), decoded, req, deploy)
      case jt: JettonTransferBlock =>
        for {
          req <- findCall(jt, Opcodes.CoffeeCreatePoolCreator)
          deploy <- findCall(req, Opcodes.CoffeeDeploy)
          body <- jt.nodes.headOption.flatMap(_.inMsg).flatMap(_.body)
          decoded <- safeDecode(TlbDecoders.coffeeCreatePoolFromTransfer)(body)
        } yield build(jt, jt.sender, Some(jt.senderWallet),
          jt.asset.orElse(Some(jt.senderWallet)), Some(jt.amount),
          decoded, req, deploy)
      case _ => None
    }
  }

  /** Coffee create-pool completion — anchored on the creator block; the
    * pool request c0ffee25 must reach the pool deploy c0ffee22 with the
    * deposit-success event c0ffee33; asset order follows the pool params
    * (CoffeeCreatePoolMatcher, blocks/liquidity.py:2157-2279). */
  object CoffeeCreatePoolMatcher extends BlockMatcher {
    override val triggerOpcodes: Option[Set[Long]] =
      Some(Set(Opcodes.CoffeeCreatePoolRequest))
    def tryBuild(b: Block): Option[(Block, Seq[Block])] = b match {
      case p: ProtocolOpBlock if p.btype == "coffee_create_pool_creator" =>
        for {
          poolReq <- findCall(p, Opcodes.CoffeeCreatePoolRequest)
          poolDeploy <- findCall(poolReq, Opcodes.CoffeeDeploy)
          success <- findCall(poolDeploy, Opcodes.CoffeeDepositLiquiditySuccess)
          reqBody <- poolReq.node.inMsg.flatMap(_.body)
          req <- safeDecode(TlbDecoders.coffeeCreatePoolRequest)(reqBody)
          evBody <- success.node.inMsg.flatMap(_.body)
          ev <- safeDecode(TlbDecoders.coffeeDepositSuccess)(evBody)
        } yield {
          // LP mint leg: raw internal transfer or the rewritten mint
          val lp = poolDeploy.children.collect {
            case cc: CallContractBlock
              if Opcodes.matches(cc.opcode, Opcodes.JettonInternalTransfer) =>
              cc: Block
            case jm: JettonMintBlock => jm: Block
          }
          val consumed: Seq[Block] =
            Seq(p, poolReq, poolDeploy, success) ++ lp
          // provided asset first unless it's params.second — then swap
          // amounts and initiators (blocks/liquidity.py:2244-2256)
          val (a1, a2, am1, am2, i1, i2) =
            if (p.asset == p.asset2)
              (p.asset, p.asset2Secondary, BigDecimal(req.amount1),
                BigDecimal(req.amount2), p.source, req.txInitiator)
            else if (p.asset == p.asset2Secondary)
              (p.asset, p.asset2, BigDecimal(req.amount2),
                BigDecimal(req.amount1), req.txInitiator, p.source)
            else (p.asset2, p.asset2Secondary, BigDecimal(req.amount1),
              BigDecimal(req.amount2), p.source, req.txInitiator)
          (ProtocolOpBlock("coffee_create_pool",
            source = p.source,
            destination = poolDeploy.node.inMsg.flatMap(_.destination),
            asset = a1, value = p.value,
            failed = consumed.exists(_.failed),
            nodes = consumed.flatMap(_.nodes), children = Nil,
            sourceSecondary = p.sourceSecondary,
            destinationSecondary = p.destinationSecondary,
            asset2 = a2,
            coffeePool = Some(CoffeeCreatePoolData(
              amount_1 = Some(am1), amount_2 = Some(am2),
              initiator_1 = i1, initiator_2 = i2,
              provided_asset = p.asset,
              lp_tokens_minted = Some(BigDecimal(ev.lpAmount))))), consumed)
        }
      case _ => None
    }
  }
  /** Coffee deposit liquidity (CoffeeDepositLiquidityMatcher,
    * liquidity.py:1640-1814): each funding leg (jetton transfer or
    * native c0ffee04 call) carries its own depository request whose
    * deploy chain may complete with the deposit-internal + LP mint +
    * success event + vault-excess payout — so a two-sided deposit
    * produces TWO actions, the completing one carrying
    * lp_tokens_minted, the pool destination and the excesses. */
  object CoffeeDepositLiquidityFullMatcher extends BlockMatcher {
    import graft.functions.TlbDecoders
    override val triggerOpcodes: Option[Set[Long]] =
      Some(Set(Opcodes.CoffeeDepositRequest, Opcodes.CoffeeDeploy))

    private def build(anchor: Block, req: CallContractBlock,
        inAsset: Option[String], inWallet: Option[String],
        sender0: Option[String]): Option[(Block, Seq[Block])] = {
      val body = req.node.inMsg.flatMap(_.body)
        .flatMap(safeDecode(TlbDecoders.coffeeDepositRequest))
      findCall(req, Opcodes.CoffeeDeploy).map { deploy =>
        val sender = body.flatMap(_.sender).orElse(sender0)
        val amount = body.map(b => BigDecimal(b.amount))
        // slot the funding asset into the pool-params side it matches
        // (liquidity.py:1733-1749)
        val first = body.flatMap(_.poolFirst)
        val second = body.flatMap(_.poolSecond)
        val matchesFirst = inAsset == first
        val internal = findCall(deploy, Opcodes.CoffeeDepositInternal)
        val successEv = internal.flatMap(i =>
          i.children.collectFirst {
            case e: CallContractBlock
              if Opcodes.matches(e.opcode, Opcodes.CoffeeDepositLiquiditySuccess) => e
          })
        val successBody = successEv.flatMap(_.node.inMsg.flatMap(_.body))
          .flatMap(safeDecode(TlbDecoders.coffeeDepositSuccess))
        // LP mint leg: the orphan internal transfer was rewritten into a
        // jetton_mint before the coffee pass
        val lpMint = internal.flatMap(_.children.collectFirst {
          case m: JettonMintBlock => m })
        val lpMinted = successBody.map(s => BigDecimal(s.lpAmount))
          .orElse(lpMint.map(_.amount))
        val pool = successEv.flatMap(_.node.inMsg.flatMap(_.source))
          .orElse(lpMint.flatMap(_.nodes.headOption)
            .flatMap(_.inMsg).flatMap(_.source))
        // vault excesses: the payout_internal's outgoing leg
        val payout = internal.flatMap(i =>
          findCall(i, Opcodes.CoffeePayoutInternal))
        val excessJt = payout.flatMap(_.children.collectFirst {
          case j: JettonTransferBlock => j })
        val excessCall = payout.flatMap(_.children.collectFirst {
          case c: CallContractBlock
            if Opcodes.matches(c.opcode, Opcodes.CoffeePayoutOut) ||
              Opcodes.matches(c.opcode, Opcodes.CoffeeNotification) => c
        })
        val excesses: Seq[LiquidityVaultExcess] =
          excessJt.map(j => LiquidityVaultExcess(
            j.asset.filter(_ != "TON"), Some(j.amount))).toSeq ++
          (if (excessJt.isEmpty)
            payout.flatMap(p => p.node.inMsg.flatMap(_.body)
              .flatMap(safeDecode(TlbDecoders.coffeePayoutInternal)))
              .map(pb => LiquidityVaultExcess(None, Some(BigDecimal(pb.amount))))
              .filter(_ => excessCall.nonEmpty).toSeq
          else Nil)
        val consumed = Matching.identityDistinct(
          Seq[Block](anchor, req, deploy) ++ internal.toSeq ++
            successEv.toSeq ++ lpMint.toSeq ++ payout.toSeq ++
            excessJt.toSeq ++ excessCall.toSeq)
        (ProtocolOpBlock("dex_deposit_liquidity",
          source = sender, destination = pool,
          asset = None, value = None,
          failed = consumed.exists(_.failed),
          nodes = consumed.flatMap(_.nodes), children = Nil,
          dex = Some("coffee"),
          destinationSecondary = deploy.node.inMsg.flatMap(_.destination),
          depositLiquidity = Some(DexDepositLiquidityData(
            dex = Some("coffee"),
            amount1 = if (matchesFirst) amount else None,
            amount2 = if (!matchesFirst) amount else None,
            asset1 = if (matchesFirst) inAsset else None,
            asset2 = if (!matchesFirst) inAsset else None,
            user_jetton_wallet_1 = if (matchesFirst) inWallet else None,
            user_jetton_wallet_2 = if (!matchesFirst) inWallet else None,
            lp_tokens_minted = lpMinted,
            target_asset_1 = if (matchesFirst) first else second,
            target_asset_2 = if (matchesFirst) second else first,
            target_amount_1 = None, target_amount_2 = None,
            vault_excesses = excesses))), consumed)
      }
    }

    def tryBuild(b: Block): Option[(Block, Seq[Block])] = b match {
      case jt: JettonTransferBlock =>
        jt.children.collectFirst {
          case r: CallContractBlock
            if Opcodes.matches(r.opcode, Opcodes.CoffeeDepositRequest) => r
        }.flatMap(req => build(jt, req,
          jt.asset.filter(_ != "TON"), Some(jt.senderWallet), jt.sender))
      case c: CallContractBlock
          if Opcodes.matches(c.opcode, Opcodes.CoffeeDepositLiquidityNative) =>
        c.children.collectFirst {
          case r: CallContractBlock
            if Opcodes.matches(r.opcode, Opcodes.CoffeeDepositRequest) => r
        }.flatMap(req => build(c, req, None, None,
          c.node.inMsg.flatMap(_.source)))
      case _ => None
    }
  }
  val CoffeeDepositLiquidityMatcher: BlockMatcher = new OpcodeChainMatcher(
    Opcodes.CoffeeDepositLiquidityNative, None,
    Set(Opcodes.CoffeeDepositLiquiditySuccess, Opcodes.Excesses),
    protoBlock("dex_deposit_liquidity"))
  /** Coffee withdraw liquidity — anchored at the LP-token burn; the pool
    * answers with two payout_internal legs (each resolving to either a
    * jetton transfer or a native payout#c0ffee32 call) plus the
    * liquidity_withdrawal_event log carrying amount1/amount2
    * (CoffeeWithdrawLiquidityMatcher, blocks/liquidity.py:1838-1968;
    * fill _fill_dex_withdraw_liquidity serializer:414-434). */
  object CoffeeWithdrawLiquidityMatcher extends BlockMatcher {
    override val triggerOpcodes: Option[Set[Long]] =
      Some(Set(Opcodes.JettonBurn, Opcodes.CoffeeLiquidityWithdrawalEvent))
    /** (payout leg, its resolved transfer: Right(jt) | Left(native payout
      * call), consumed blocks of the leg). */
    private def resolvePayout(p: CallContractBlock)
        : Option[(CallContractBlock, Either[CallContractBlock, JettonTransferBlock], Seq[Block])] =
      p.children.collectFirst {
        case jt: JettonTransferBlock => (p, Right(jt), Seq[Block](p, jt))
        case c: CallContractBlock
          if Opcodes.matches(c.opcode, Opcodes.CoffeePayoutOut) ||
            Opcodes.matches(c.opcode, Opcodes.CoffeeNotification) =>
          (p, Left(c), Seq[Block](p, c))
      }
    def tryBuild(b: Block): Option[(Block, Seq[Block])] = b match {
      case burn: JettonBurnBlock =>
        // payout_1/payout_2 bind in CHILD-LIST order (labeled matchers
        // scan children positionally, basic_matchers.py) — the tree's
        // children follow tx.messages order, so no re-sort here
        val payoutLegs = burn.children.collect {
          case p: CallContractBlock
            if Opcodes.matches(p.opcode, Opcodes.CoffeePayoutInternal) => p
        }.flatMap(resolvePayout(_))
        val event = burn.children.collectFirst {
          case e: CallContractBlock
            if Opcodes.matches(e.opcode,
              Opcodes.CoffeeLiquidityWithdrawalEvent) => e
        }
        (payoutLegs, event) match {
          case (Seq(leg1, leg2), Some(ev)) =>
            val evBody = ev.node.inMsg.flatMap(_.body)
              .flatMap(safeDecode(TlbDecoders.coffeeWithdrawalEvent))
            val pool = ev.node.inMsg.flatMap(_.source)
            def side(leg: (CallContractBlock, Either[CallContractBlock, JettonTransferBlock], Seq[Block]))
                : (Option[String], Option[String], Option[String], Option[String]) =
              leg._2 match {
                case Right(jt) =>
                  (jt.asset.filter(_ != "TON").orElse(Some(jt.senderWallet)),
                    leg._1.node.inMsg.flatMap(_.source),
                    Some(jt.senderWallet), jt.receiverWallet)
                case Left(c) =>
                  // native side: asset null, the recipient rides wallet_i
                  (None, leg._1.node.inMsg.flatMap(_.source), None,
                    c.node.inMsg.flatMap(_.destination))
              }
            val (a1, dw1, djw1, w1) = side(leg1)
            val (a2, dw2, djw2, w2) = side(leg2)
            val consumed = Matching.identityDistinct(
              Seq[Block](burn) ++ leg1._3 ++ leg2._3 ++ Seq(ev))
            Some((ProtocolOpBlock("dex_withdraw_liquidity",
              source = burn.owner, destination = pool,
              asset = burn.asset.orElse(Some(burn.ownerWallet)),
              value = None,
              failed = consumed.exists(_.failed),
              nodes = consumed.flatMap(_.nodes), children = Nil,
              dex = Some("coffee"),
              sourceSecondary = Some(burn.ownerWallet),
              withdrawLiquidity = Some(DexWithdrawLiquidityData(
                dex = Some("coffee"),
                amount1 = evBody.map(e => BigDecimal(e.amount1)),
                amount2 = evBody.map(e => BigDecimal(e.amount2)),
                asset1_out = a1, asset2_out = a2,
                user_jetton_wallet_1 = w1, user_jetton_wallet_2 = w2,
                dex_jetton_wallet_1 = djw1, dex_jetton_wallet_2 = djw2,
                lp_tokens_burnt = Some(burn.amount),
                dex_wallet_1 = dw1, dex_wallet_2 = dw2,
                is_refund = Some(false)))), consumed))
          case _ => None
        }
      case _ => None
    }
  }

  /** First descendant call block with the given opcode (DFS, direct
    * children first) — the analogue of the reference's nested
    * ContractMatcher chains (blocks/layerzero.py:173-207). */
  private def findCall(b: Block, op: Long): Option[CallContractBlock] =
    b.children.collectFirst {
      case c: CallContractBlock if Opcodes.matches(c.opcode, op) => c
    }.orElse(b.children.view.flatMap(findCall(_, op)).headOption)

  /** Event-log calls under a LayerZero chain node; optionally the
    * excess ton transfers the reference's labeled optional children
    * consume (blocks/layerzero.py:185-205). */
  private def lzAux(b: Block, takeTransfers: Boolean): Seq[Block] =
    b.children.flatMap {
      case e: CallContractBlock
        if Opcodes.matches(e.opcode, Opcodes.LayerZeroEventMsg) ||
          Opcodes.matches(e.opcode, Opcodes.Excesses) =>
        e +: lzAux(e, takeTransfers = false)
      case t if takeTransfers && t.btype == "ton_transfer" => Seq(t)
      case _ => Nil
    }

  private def lzPacketData(p: TlbDecoders.LzPacket): LayerZeroPacketData =
    LayerZeroPacketData(
      src_oapp = Some(p.path.srcOapp), dst_oapp = Some(p.path.dstOapp),
      src_eid = Some(p.path.srcEid), dst_eid = Some(p.path.dstEid),
      nonce = Some(BigDecimal(p.nonce)), guid = Some(p.guid),
      message = Some(p.message))

  /** LayerZero send: endpoint send 0xdd4ea3b4 must reach the full
    * channel→msglib-connection→uln→send-callback→oapp-callback chain;
    * the oapp callback body carries the LzSend MD with the packet and
    * fees (LayerZeroSendMatcher, blocks/layerzero.py:149-273). */
  object LayerZeroSendMatcher extends BlockMatcher {
    override val triggerOpcodes: Option[Set[Long]] =
      Some(Set(Opcodes.LayerZeroEndpointSend))
    def tryBuild(b: Block): Option[(Block, Seq[Block])] = b match {
      case c: CallContractBlock
        if Opcodes.matches(c.opcode, Opcodes.LayerZeroEndpointSend) =>
        for {
          chSend <- findCall(c, Opcodes.LayerZeroChannelSend)
          mlSend <- findCall(chSend, Opcodes.LayerZeroMsglibConnectionSend)
          ulnSend <- findCall(mlSend, Opcodes.LayerZeroUlnSend)
          sendCb <- findCall(ulnSend, Opcodes.LayerZeroMsglibSendCallback)
          oappCb <- findCall(sendCb, Opcodes.LayerZeroChannelSendCallback)
          body <- oappCb.node.inMsg.flatMap(_.body)
          md <- safeDecode(TlbDecoders.lzChannelSendCallback)(body)
        } yield {
          val in = c.node.inMsg
          val chain = Seq[Block](c, chSend, mlSend, ulnSend, sendCb, oappCb)
          val consumed = Matching.identityDistinct(chain ++
            chain.flatMap(n => lzAux(n,
              takeTransfers = (n eq sendCb) || (n eq oappCb))))
          val sendData = LayerZeroSendData(
            send_request_id = Some(BigDecimal(md.sendRequestId)),
            msglib_manager = Some(md.msglibManager),
            msglib = Some(md.msglib),
            uln = ulnSend.node.inMsg.flatMap(_.destination),
            native_fee = Some(BigDecimal(md.nativeFee)),
            zro_fee = Some(BigDecimal(md.zroFee)),
            endpoint = in.flatMap(_.destination),
            channel = chSend.node.inMsg.flatMap(_.destination))
          (ProtocolOpBlock("layerzero_send",
            source = in.flatMap(_.source), destination = None,
            asset = None, value = in.map(m => BigDecimal(m.value)),
            failed = consumed.exists(_.failed),
            nodes = consumed.flatMap(_.nodes), children = Nil,
            lzSend = Some(sendData),
            lzPacket = Some(lzPacketData(md.packet))), consumed)
        }
      case _ => None
    }
  }

  /** LayerZero commit-packet: uln commit 0x28b97077 through
    * uln-connection→endpoint→channel commit, with the msglib
    * commit-callback required; the channel-commit body carries the
    * packet (LayerZeroCommitPacketMatcher, blocks/layerzero.py:424-506). */
  object LayerZeroCommitPacketMatcher extends BlockMatcher {
    override val triggerOpcodes: Option[Set[Long]] =
      Some(Set(Opcodes.LayerZeroUlnCommitPacket))
    def tryBuild(b: Block): Option[(Block, Seq[Block])] = b match {
      case c: CallContractBlock
        if Opcodes.matches(c.opcode, Opcodes.LayerZeroUlnCommitPacket) =>
        for {
          connCommit <- findCall(c, Opcodes.LayerZeroUlnConnectionCommitPacket)
          epCommit <- findCall(connCommit, Opcodes.LayerZeroEndpointCommitPacket)
          chCommit <- findCall(epCommit, Opcodes.LayerZeroChannelCommitPacket)
          mlCb <- findCall(chCommit, Opcodes.LayerZeroMsglibCommitCallback)
          body <- chCommit.node.inMsg.flatMap(_.body)
          packet <- safeDecode(TlbDecoders.lzChannelCommitPacket)(body)
        } yield {
          val in = c.node.inMsg
          val chain = Seq[Block](c, connCommit, epCommit, chCommit, mlCb)
          val consumed = Matching.identityDistinct(chain ++
            chain.flatMap(n => lzAux(n, takeTransfers = n eq mlCb)))
          val uln = connCommit.node.inMsg.flatMap(_.destination)
          (ProtocolOpBlock("layerzero_commit_packet",
            source = in.flatMap(_.source), destination = uln,
            asset = chCommit.node.inMsg.flatMap(_.destination),
            value = in.map(m => BigDecimal(m.value)),
            failed = consumed.exists(_.failed),
            nodes = consumed.flatMap(_.nodes), children = Nil,
            sourceSecondary = epCommit.node.inMsg.flatMap(_.destination),
            destinationSecondary = uln,
            assetSecondary = mlCb.node.inMsg.flatMap(_.destination),
            lzPacket = Some(lzPacketData(packet))), consumed)
        }
      case _ => None
    }
  }

  /** Ethena withdrawal request (blocks/ethena_staking.py:57-107). The
    * reference anchors on the RAW transfer call (test_self:70-71,
    * `CallContractBlock and opcode == JettonTransfer`): the unstake
    * chain's internal_transfer goes to the MASTER, which has no
    * jetton-wallet row, so JettonTransferBlockMatcher always REFUSES it
    * (jettons.py:71-72) and the call_contract survives for this matcher
    * — the refusal is load-bearing. Two arms here: the raw
    * call-contract anchor for the repository path (nested chain
    * internal → notify → mint → ts_usde, child_sequence_matcher
    * ethena_staking.py:60-65), and the typed JettonTransferBlock anchor
    * for graft's repository-less lenient mode where no refusal happens.
    * The reference's owner/master validation gates (:84-89) are not
    * enforced — graft stays lenient on incomplete dims. */
  final class EthenaWithdrawalRequest(
      resolveAsset: String => Option[String] = _ => None)
      extends BlockMatcher {
    override val triggerOpcodes: Option[Set[Long]] = Some(Set(Opcodes.JettonTransfer, Opcodes.JettonMint, Opcodes.EthenaTsUsdeTransfer))

    private def tsUsdeAmountOf(tsu: Block): Option[BigDecimal] =
      tsu.nodes.headOption.flatMap(_.inMsg).flatMap(_.body).flatMap { b64 =>
        // internal_transfer-shaped under the 0xb2583ed5 op — the
        // reference parses it as JettonInternalTransfer WITHOUT opcode
        // validation (ethena_staking.py:92): skip op, read qid + coins
        try {
          val s = graft.functions.Boc.parseBase64(b64).beginParse()
          s.loadUint(32); s.loadUint(64)
          Some(BigDecimal(s.loadCoins()))
        } catch { case scala.util.control.NonFatal(_) => None }
      }

    def tryBuild(b: Block): Option[(Block, Seq[Block])] = b match {
      case c: CallContractBlock
        if Opcodes.matches(c.opcode, Opcodes.JettonTransfer) &&
          !c.node.tx.hash.startsWith("ghost:") =>
        for {
          ic <- c.children.collectFirst {
            case ic: CallContractBlock if Opcodes.matches(ic.opcode,
              Opcodes.JettonInternalTransfer) => ic
          }
          notify <- ic.children.collectFirst {
            case n: CallContractBlock
              if Opcodes.matches(n.opcode, Opcodes.JettonNotify) => n
          }
          mint <- notify.children.collectFirst {
            case m: CallContractBlock
              if Opcodes.matches(m.opcode, Opcodes.JettonMint) => m
          }
          tsu <- mint.children.collectFirst {
            case t: CallContractBlock if Opcodes.matches(t.opcode,
              Opcodes.EthenaTsUsdeTransfer) => t
          }
        } yield {
          val chain: Seq[Block] = Seq(c, ic, notify, mint, tsu)
          // reference matchers auto-append excess legs hanging off any
          // matched block (basic_matchers include_excess) — the unstake
          // internal_transfer carries one
          val excesses = chain.flatMap(_.children).collect {
            case e: CallContractBlock
              if Opcodes.matches(e.opcode, Opcodes.Excesses) => e
          }
          val consumed: Seq[Block] = chain ++ excesses
          val sender = c.node.inMsg.flatMap(_.source)
          val senderWallet = c.node.tx.account
          val amount = c.node.inMsg.flatMap(_.body).flatMap { b64 =>
            try Some(BigDecimal(
              graft.functions.TlbDecoders.jettonTransfer(b64).amount))
            catch { case scala.util.control.NonFatal(_) => None }
          }.getOrElse(BigDecimal(0))
          val pool = mint.node.inMsg.flatMap(_.source)
          (ProtocolOpBlock("ethena_withdrawal_request",
            sender, pool,
            Some(resolveAsset(senderWallet).getOrElse(senderWallet)),
            Some(amount),
            consumed.exists(_.failed), consumed.flatMap(_.nodes), Nil,
            sourceSecondary = Some(senderWallet),
            tokensMinted = tsUsdeAmountOf(tsu),
            amount = Some(amount)): Block, consumed)
        }
      case jt: JettonTransferBlock =>
        // real traces chain mint → ts_usde_transfer (the reference's
        // child_sequence_matcher nests matchers, basic_matchers.py:
        // 239-250); accept the flat sibling shape as well
        matchChildSequence(jt, Seq(
          labeled("mint", contract(Opcodes.JettonMint,
            child = Some(labeled("ts_usde_transfer",
              contract(Opcodes.EthenaTsUsdeTransfer)))))))
          .filter(_.captures.contains("ts_usde_transfer"))
          .orElse(matchChildSequence(jt, Seq(
            labeled("mint", contract(Opcodes.JettonMint)),
            labeled("ts_usde_transfer",
              contract(Opcodes.EthenaTsUsdeTransfer)))))
          .map { m =>
            val consumed = jt +: m.consumed
            // reference fill (_fill_ethena_withdrawal_request,
            // block_tree_serializer.py:1265-1275): destination = the
            // POOL (the mint message's source), asset = the burnt
            // jetton's master, tokens_minted = the timelocked tsUSDe
            // internal-transfer amount
            val pool = m.captures.get("mint")
              .flatMap(_.nodes.headOption).flatMap(_.inMsg).flatMap(_.source)
            // the timelocked body is internal_transfer-shaped under the
            // 0xb2583ed5 op — the reference parses it as
            // JettonInternalTransfer WITHOUT opcode validation
            // (ethena_staking.py:92), so skip the op and read
            // query_id + amount
            val tsUsdeAmount = m.captures.get("ts_usde_transfer")
              .flatMap(_.nodes.headOption).flatMap(_.inMsg).flatMap(_.body)
              .flatMap { b64 =>
                try {
                  val s = graft.functions.Boc.parseBase64(b64).beginParse()
                  s.loadUint(32); s.loadUint(64)
                  Some(BigDecimal(s.loadCoins()))
                } catch { case scala.util.control.NonFatal(_) => None }
              }
            (ProtocolOpBlock("ethena_withdrawal_request",
              jt.sender, pool,
              Some(jt.asset.getOrElse(jt.senderWallet)), Some(jt.amount),
              consumed.exists(_.failed), consumed.flatMap(_.nodes), Nil,
              sourceSecondary = Some(jt.senderWallet),
              tokensMinted = tsUsdeAmount,
              amount = Some(jt.amount)),
              consumed)
          }
      case _ => None
    }
  }
  val EthenaWithdrawalRequestMatcher: BlockMatcher =
    new EthenaWithdrawalRequest()

  /** NFT get-static-data discovery: 0x2fcb26a2 request MUST produce the
    * report 0x8b771735 (blocks/nft.py:253-290; messages/nft.py:79,92). */
  val NftDiscoveryMatcher: BlockMatcher = new OpcodeChainMatcher(
    Opcodes.NftDiscovery, Some(Opcodes.NftReportStaticData), Set.empty,
    protoBlock("nft_discovery"))

  /** Getgems NFT purchase — INTERFACE-AWARE second-pass matcher (reference
    * flow: _try_get_nft_purchase_data consults the nft_sale/nft_auction
    * repository for the parent tx's account, blocks/nft.py:78-103, then
    * GetgemsNftPurchaseBlockMatcher merges transfer + seller payout,
    * :193-250). Here: a ton_transfer/call_contract block whose account is
    * a known sale/auction contract, with an nft_transfer child and a TON
    * payout child to the seller. Price = the buyer's payment into the
    * sale contract. */
  final class NftPurchaseMatcher(interfaces: Map[String, String]) extends BlockMatcher {
    override val triggerOpcodes: Option[Set[Long]] = Some(Set(Opcodes.NftTransfer))
    def tryBuild(b: Block): Option[(Block, Seq[Block])] = b match {
      case (_: TonTransferBlock | _: CallContractBlock) =>
        // interface value 'nft_sale|<owner>[|<marketplace>|<nft>|<price>]'
        // carries the sale/auction repository row (the reference's
        // get_nft_sale/get_nft_auction lookups, blocks/nft.py:78-103);
        // getgems emits marketplace-fee and royalty transfers BEFORE the
        // owner payout, so only the transfer whose destination equals
        // real_prev_owner is the seller payout (blocks/nft.py:215).
        // Seller unknown ⇒ skip the match rather than emitting a wrong
        // real_prev_owner.
        val saleRow = for {
          n <- b.nodes.headOption
          v <- interfaces.get(n.tx.account)
          parts = v.split('|')
          if parts.length >= 2 &&
            (parts(0) == "nft_sale" || parts(0) == "nft_auction")
        } yield parts
        saleRow.flatMap { parts =>
          val owner = parts(1)
          val mpAddr = if (parts.length > 2) Some(parts(2)) else None
          val dimPrice =
            if (parts.length > 4) safeDecode((s: String) =>
              BigDecimal(s))(parts(4))
            else None
          val nft = b.children.collectFirst { case n: NftTransferBlock => n }
          val payout = b.children.collectFirst {
            case t: TonTransferBlock
              if t.node.inMsg.flatMap(_.destination).contains(owner) => t
          }
          (nft, payout) match {
            // the purchase gate: the sale's recorded owner must differ
            // from the transfer's new owner (blocks/nft.py:146-147)
            case (Some(n), Some(p)) if !n.newOwner.contains(owner) =>
              val price = dimPrice
                .orElse(b.nodes.head.inMsg.map(m => BigDecimal(m.value)))
              // the enriched transfer survives as its own action — the
              // reference merges it INTO the purchase but still
              // serializes it (merge keeps sub-blocks in the tree). The
              // funding leg joins the TRANSFER's node set when it is a
              // non-finish/stop ton transfer or a source-less call
              // (NftTransferBlockMatcher, blocks/nft.py:153-157) — its
              // initiating tx then extends tx_hashes to the buyer's
              // external root.
              val includeFunding = b match {
                case t: TonTransferBlock =>
                  !t.comment.exists(c => c == "finish" || c == "stop")
                case cc: CallContractBlock =>
                  cc.node.inMsg.flatMap(_.source).isEmpty
                case _ => false
              }
              val enriched = n.copy(
                isPurchase = Some(true), price = price,
                marketplace = Some("getgems"),
                marketplaceAddress = mpAddr,
                realPrevOwner = Some(owner),
                nodes = (if (includeFunding) b.nodes else Nil) ++ n.nodes,
                children = Nil)
              val detail = NftTransferData(
                is_purchase = Some(true), price = price,
                query_id = n.decoded.map(_.queryId.toString),
                custom_payload = n.decoded.flatMap(_.customPayload),
                forward_payload = n.decoded.flatMap(_.forwardPayload),
                forward_amount = n.decoded.map(d => BigDecimal(d.forwardAmount)),
                response_destination = n.decoded.flatMap(_.responseDestination),
                nft_item_index = n.itemIndex,
                marketplace = Some("getgems"),
                real_prev_owner = Some(owner),
                marketplace_address = mpAddr,
                payout_amount = p.node.inMsg.map(m => BigDecimal(m.value)),
                payout_comment_encrypted = Some(p.encrypted),
                payout_comment_encoded = Some(false),
                payout_comment = p.comment)
              val consumed: Seq[Block] = Seq(b, n, p)
              Some((ProtocolOpBlock("nft_purchase",
                // source = the transfer's prev owner (the sale contract,
                // _fill_nft_purchase_action:236-237); the true seller
                // rides real_prev_owner inside the detail struct
                source = n.oldOwner,
                destination = n.newOwner,
                asset = n.collection,
                value = None,
                failed = consumed.exists(_.failed),
                nodes = consumed.flatMap(_.nodes),
                children = Seq(enriched),
                assetSecondary = Some(n.nftItem),
                nftPurchase = Some(detail)), consumed))
            case _ => None
          }
        }
      case _ => None
    }
  }

  /** Interface name for an account from the broadcast interface map —
    * values may carry extra data after '|' (e.g. 'nft_sale|<owner>'). */
  private def ifaceOf(interfaces: Map[String, String],
      account: Option[String]): Option[String] =
    account.flatMap(interfaces.get).map { v =>
      val sep = v.indexOf('|')
      if (sep < 0) v else v.substring(0, sep)
    }

  /** Nominator pool deposit: a TON transfer with comment exactly 'd' into
    * a nominator-pool contract (NominatorPoolDepositMatcher,
    * blocks/staking.py:302-325 — interface gate 'NominatorPool'). */
  final class NominatorPoolDepositMatcher(interfaces: Map[String, String])
      extends BlockMatcher {
    def tryBuild(b: Block): Option[(Block, Seq[Block])] = b match {
      case t: TonTransferBlock if t.comment.contains("d") =>
        val msg = t.node.inMsg
        ifaceOf(interfaces, msg.flatMap(_.destination))
          .filter(_ == "nominator_pool").map { _ =>
            (ProtocolOpBlock("nominator_pool_deposit",
              msg.flatMap(_.source), msg.flatMap(_.destination),
              asset = None, value = msg.map(m => BigDecimal(m.value)),
              failed = t.failed, nodes = t.nodes, children = Nil), Seq(t))
          }
      case _ => None
    }
  }

  /** Nominator pool withdraw request: comment 'w' into the pool; an
    * immediate payout (1 transfer with value above the request carry, or
    * 2 transfers — payout is the first by created_lt) is merged and sets
    * payout_amount; otherwise the request stands alone with no amount
    * (NominatorPoolWithdrawRequestMatcher, blocks/staking.py:328-381). */
  final class NominatorPoolWithdrawRequestMatcher(
      interfaces: Map[String, String]) extends BlockMatcher {
    def tryBuild(b: Block): Option[(Block, Seq[Block])] = b match {
      case t: TonTransferBlock if t.comment.contains("w") =>
        val msg = t.node.inMsg
        ifaceOf(interfaces, msg.flatMap(_.destination))
          .filter(_ == "nominator_pool").map { _ =>
            val transfers = t.children.collect { case c: TonTransferBlock => c }
            val (payout, extra): (Option[BigDecimal], Seq[Block]) =
              transfers match {
                case Seq(one) =>
                  val v = one.node.inMsg.map(m => BigDecimal(m.value))
                  if (v.exists(_ > msg.map(m => BigDecimal(m.value))
                      .getOrElse(BigDecimal(0))))
                    (v, Seq(one))
                  else (None, Seq(one))
                case ts if ts.size == 2 =>
                  val first = ts.minBy(_.node.inMsg.flatMap(_.createdLt)
                    .getOrElse(Long.MaxValue))
                  (first.node.inMsg.map(m => BigDecimal(m.value)),
                    ts: Seq[Block])
                case _ => (None, Nil)
              }
            val consumed = t +: extra
            (ProtocolOpBlock("nominator_pool_withdraw_request",
              msg.flatMap(_.source), msg.flatMap(_.destination),
              asset = None, value = payout,
              failed = consumed.exists(_.failed),
              nodes = consumed.flatMap(_.nodes), children = Nil), consumed)
          }
      case _ => None
    }
  }

  /** Owner-initiated nominator pool withdrawals: process-withdraw-requests
    * 0x2 into the pool emits ONE withdraw-request action PER payout
    * transfer — the reference's multi-block build (NominatorPool
    * WithdrawMatcher, staking.py:383-410); exercises tryBuildAll. */
  final class NominatorPoolWithdrawMatcher(interfaces: Map[String, String])
      extends BlockMatcher {
    override val triggerOpcodes: Option[Set[Long]] =
      Some(Set(Opcodes.NominatorPoolProcessWithdrawRequests))
    def tryBuild(b: Block): Option[(Block, Seq[Block])] = None
    override def tryBuildAll(b: Block): Option[(Seq[Block], Seq[Block])] =
      b match {
        case c: CallContractBlock
          if Opcodes.matches(c.opcode,
            Opcodes.NominatorPoolProcessWithdrawRequests) =>
          val pool = c.node.inMsg.flatMap(_.destination)
          ifaceOf(interfaces, pool).filter(_ == "nominator_pool").flatMap { _ =>
            val transfers = c.children.collect { case t: TonTransferBlock => t }
            if (transfers.isEmpty) None
            else Some((transfers.map { t =>
              ProtocolOpBlock("nominator_pool_withdraw_request",
                t.node.inMsg.flatMap(_.destination), pool,
                asset = None,
                value = t.node.inMsg.map(m => BigDecimal(m.value)),
                failed = t.failed, nodes = t.nodes,
                children = Nil): Block
            }, c +: (transfers: Seq[Block])))
          }
        case _ => None
      }
  }

  /** Getgems put-on-sale/auction: an NFT transfer to a listing account
    * whose children are the sale-contract deploy (init) and a second NFT
    * transfer of the SAME item whose new owner is that deployed contract;
    * sale vs auction interface decides the action type
    * (NftPutOnSaleBlockMatcher, blocks/auction.py:235-317). */
  final class NftPutOnSaleMatcher(interfaces: Map[String, String])
      extends BlockMatcher {
    override val triggerOpcodes: Option[Set[Long]] = Some(Set(Opcodes.NftTransfer))
    def tryBuild(b: Block): Option[(Block, Seq[Block])] = b match {
      case listing: NftTransferBlock =>
        val saleInit = listing.children.collectFirst {
          case c: CallContractBlock
            if c.children.exists(_.isInstanceOf[ContractDeployBlock]) => c
          case t: TonTransferBlock
            if t.children.exists(_.isInstanceOf[ContractDeployBlock]) => t
        }
        val result = for {
          init <- saleInit
          saleAddr <- init.nodes.head.inMsg.flatMap(_.destination)
          iface <- ifaceOf(interfaces, Some(saleAddr))
          btype <- iface match {
            case "nft_sale" => Some("nft_put_on_sale")
            case "nft_auction" => Some("nft_put_on_auction")
            case _ => None
          }
          toSale <- listing.children.collectFirst {
            case n: NftTransferBlock
              if n.nftItem == listing.nftItem &&
                n.newOwner.contains(saleAddr) => n
          }
        } yield {
          val deploys = init.children.collect { case d: ContractDeployBlock => d }
          val consumed: Seq[Block] = Seq(listing, init, toSale) ++ deploys
          // get_sale_data / get_auction_data over the deploy message's
          // state init (auction.py:257-312, messages/getgems.py:64-219):
          // full price + marketplace/royalty fees for sales, fee factors
          // and bid bounds for auctions
          val initBoc = init.nodes.head.inMsg.flatMap(_.initState)
          // the contract VERSION rides the dim row's code hash (6th
          // pipe field when the repository provides one) — the
          // reference's get_sale_data(boc, getgems_sale.code_hash)
          // dispatch (blocks/auction.py:261,294)
          val codeHash = interfaces.get(saleAddr)
            .map(_.split('|')).filter(_.length > 5)
            .map(_(5)).filter(_.nonEmpty)
          val listingData: Option[NftListingData] =
            if (btype == "nft_put_on_sale") initBoc.flatMap { b64 =>
              try {
                val d = graft.functions.TlbDecoders
                  .nftSaleStateInit(b64, codeHash)
                Some(NftListingData(
                  nft_item_index = listing.itemIndex,
                  full_price = Some(BigDecimal(d.fullPrice)),
                  marketplace_fee = d.mpFee.map(BigDecimal(_)),
                  royalty_amount = d.royaltyAmount.map(BigDecimal(_)),
                  marketplace_fee_address = d.mpFeeAddress,
                  marketplace = Some("getgems"),
                  royalty_address = d.royaltyAddress,
                  mp_fee_factor = None, mp_fee_base = None,
                  royalty_fee_base = None, max_bid = None, min_bid = None))
              } catch { case scala.util.control.NonFatal(_) => None }
            }
            else initBoc.flatMap { b64 =>
              try {
                val d = graft.functions.TlbDecoders
                  .nftAuctionStateInit(b64, codeHash)
                Some(NftListingData(
                  nft_item_index = listing.itemIndex, full_price = None,
                  marketplace_fee = None, royalty_amount = None,
                  marketplace_fee_address = d.mpFeeAddress,
                  marketplace = Some("getgems"),
                  royalty_address = d.royaltyAddress,
                  mp_fee_factor = Some(BigDecimal(d.mpFeeFactor)),
                  mp_fee_base = Some(BigDecimal(d.mpFeeBase)),
                  royalty_fee_base = Some(BigDecimal(d.royaltyFeeBase)),
                  max_bid = Some(BigDecimal(d.maxBid)),
                  min_bid = Some(BigDecimal(d.minBid))))
              } catch { case scala.util.control.NonFatal(_) => None }
            }
          (ProtocolOpBlock(btype,
            source = listing.oldOwner, destination = Some(saleAddr),
            // asset = collection when the dim is loaded, the item rides
            // asset_secondary (_fill_nft_put_on_sale_action:280-289)
            asset = listing.collection.orElse(Some(listing.nftItem)),
            value = None,
            failed = consumed.exists(_.failed),
            nodes = consumed.flatMap(_.nodes), children = Nil,
            assetSecondary = Some(listing.nftItem),
            listing = listingData), consumed)
        }
        result
      case _ => None
    }
  }

  /** Getgems cancel-sale: opcode 0x3 into a sale contract that returns
    * the NFT (nft_transfer child survives as its own action — the
    * reference merges only the cancel call, auction.py:359-380). */
  final class NftCancelSaleMatcher(interfaces: Map[String, String])
      extends BlockMatcher {
    override val triggerOpcodes: Option[Set[Long]] =
      Some(Set(Opcodes.NftCancelSaleOp, Opcodes.NftTransfer))
    def tryBuild(b: Block): Option[(Block, Seq[Block])] = b match {
      case c: CallContractBlock
        if Opcodes.matches(c.opcode, Opcodes.NftCancelSaleOp) &&
          c.children.exists(_.isInstanceOf[NftTransferBlock]) =>
        val sale = c.node.inMsg.flatMap(_.destination)
        ifaceOf(interfaces, sale).filter(_ == "nft_sale").map { _ =>
          (ProtocolOpBlock("nft_cancel_sale",
            c.node.inMsg.flatMap(_.source), sale,
            asset = c.children.collectFirst {
              case n: NftTransferBlock => n.nftItem },
            value = None, failed = c.failed, nodes = c.nodes,
            children = Nil), Seq(c))
        }
      case _ => None
    }
  }

  /** Getgems cancel/finish auction: 'cancel'/'finish'/'stop' comment or
    * the corresponding opcodes into an auction contract returning the NFT;
    * finish vs cancel picks the action type (NftCancelAuctionMatcher,
    * auction.py:390-417). The returned transfer stays its own action. */
  final class NftCancelAuctionMatcher(interfaces: Map[String, String])
      extends BlockMatcher {
    private val CancelComments = Set("cancel", "finish", "stop")
    private val FinishOps = Set(Opcodes.AuctionStopOp, Opcodes.AuctionFinishOp)
    private val AnchorOps =
      FinishOps + Opcodes.AuctionCancelOp
    def tryBuild(b: Block): Option[(Block, Seq[Block])] = {
      val (anchorOk, isFinish, node) = b match {
        case t: TonTransferBlock if t.comment.exists(CancelComments) =>
          (true, t.comment.exists(Set("finish", "stop")), Some(t.node))
        case c: CallContractBlock
          if c.opcode.exists(op => AnchorOps.exists(Opcodes.matches(Some(op), _))) =>
          (true, c.opcode.exists(op => FinishOps.exists(Opcodes.matches(Some(op), _))),
            Some(c.node))
        case _ => (false, false, None)
      }
      if (!anchorOk || !b.children.exists(_.isInstanceOf[NftTransferBlock]))
        None
      else {
        val auction = node.flatMap(_.inMsg).flatMap(_.destination)
        ifaceOf(interfaces, auction).filter(_ == "nft_auction").map { _ =>
          (ProtocolOpBlock(
            if (isFinish) "nft_finish_auction" else "nft_cancel_auction",
            node.flatMap(_.inMsg).flatMap(_.source), auction,
            asset = b.children.collectFirst {
              case n: NftTransferBlock => n.nftItem },
            value = None, failed = b.failed, nodes = b.nodes,
            children = Nil), Seq(b))
        }
      }
    }
  }

  /** Finish-auction over a completed purchase: finish/stop into the
    * auction whose child is an nft_purchase (NftFinishAuctionMatcher,
    * auction.py:419-446). Runs after NftPurchaseMatcher. */
  final class NftFinishAuctionMatcher(interfaces: Map[String, String])
      extends BlockMatcher {
    private val FinishComments = Set("finish", "stop")
    private val FinishOps = Set(Opcodes.AuctionStopOp, Opcodes.AuctionFinishOp)
    def tryBuild(b: Block): Option[(Block, Seq[Block])] = {
      val (anchorOk, node) = b match {
        case t: TonTransferBlock if t.comment.exists(FinishComments) =>
          (true, Some(t.node))
        case c: CallContractBlock
          if c.opcode.exists(op => FinishOps.exists(Opcodes.matches(Some(op), _))) =>
          (true, Some(c.node))
        case _ => (false, None)
      }
      val purchase = b.children.collectFirst {
        case p: ProtocolOpBlock if p.btype == "nft_purchase" => p
      }
      (anchorOk, purchase) match {
        case (true, Some(p)) =>
          val auction = node.flatMap(_.inMsg).flatMap(_.destination)
          ifaceOf(interfaces, auction).filter(_ == "nft_auction").map { _ =>
            (ProtocolOpBlock("nft_finish_auction",
              node.flatMap(_.inMsg).flatMap(_.source), auction,
              asset = p.asset, value = None,
              failed = b.failed, nodes = b.nodes, children = Nil), Seq(b))
          }
        case _ => None
      }
    }
  }

  /** Teleitem cancel-auction 0x371638ae into a teleitem NFT, optional ok
    * 0xa37a0983 child (TeleitemCancelAuctionMatcher, auction.py:510-543). */
  final class TeleitemCancelAuctionMatcher(interfaces: Map[String, String])
      extends BlockMatcher {
    override val triggerOpcodes: Option[Set[Long]] =
      Some(Set(Opcodes.TeleitemCancelAuction))
    def tryBuild(b: Block): Option[(Block, Seq[Block])] = b match {
      case c: CallContractBlock
        if Opcodes.matches(c.opcode, Opcodes.TeleitemCancelAuction) =>
        val item = c.node.inMsg.flatMap(_.destination)
        ifaceOf(interfaces, item).filter(_ == "teleitem").map { _ =>
          val ok = c.children.collect {
            case okc: CallContractBlock
              if Opcodes.matches(okc.opcode, Opcodes.TeleitemOk) => okc
          }
          val consumed: Seq[Block] = c +: ok
          (ProtocolOpBlock("teleitem_cancel_auction",
            c.node.inMsg.flatMap(_.source), item,
            asset = item, value = None,
            failed = consumed.exists(_.failed),
            nodes = consumed.flatMap(_.nodes), children = Nil), consumed)
        }
      case _ => None
    }
  }

  /** Fragment (Telegram) NFT purchase: a BARE ownership_assigned — no
    * preceding TEP-62 transfer — from an existing NFT, whose forward
    * payload carries TeleitemBidInfo (TelegramNftPurchaseBlockMatcher,
    * blocks/nft.py:299-364). Anchored at the PARENT when it is a
    * ton_transfer or external call so the bid leg and the fill-up
    * payouts (fee first by created_lt, then owner payout) are consumed;
    * a mint parent (telemint 0x299a3e15 / nft_mint) flips is_purchase
    * off, mirroring the reference. */
  final class TelegramNftPurchaseMatcher(interfaces: Map[String, String],
      nftItems: Map[String, NftItemInfo] = Map.empty)
      extends BlockMatcher {
    override val triggerOpcodes: Option[Set[Long]] =
      Some(Set(Opcodes.NftOwnershipAssigned))
    private val Telemint = 0x299a3e15L

    private def decodeOa(c: CallContractBlock) =
      c.node.inMsg.flatMap(_.body).flatMap { b64 =>
        try Some(graft.functions.TlbDecoders.nftOwnershipAssigned(b64))
        catch { case scala.util.control.NonFatal(_) => None }
      }

    private def nftItemOf(c: CallContractBlock): Option[String] =
      c.node.inMsg.flatMap(_.source)
        .filter(a => ifaceOf(interfaces, Some(a))
          .exists(i => i == "teleitem" || i == "nft_item"))

    private def build(oa: CallContractBlock, parent: Option[Block],
        parentIsMint: Boolean): Option[(Block, Seq[Block])] =
      for {
        nft <- nftItemOf(oa)
        body <- decodeOa(oa)
      } yield {
        // AuctionBidMatcher (base registry) has already rewritten fill-up
        // calls into auction_bid blocks — accept either form
        val payouts: Seq[Block] = parent.toSeq.flatMap(_.children)
          .collect {
            case p: CallContractBlock
              if Opcodes.matches(p.opcode, Opcodes.AuctionFillUp) => p: Block
            case p: ProtocolOpBlock if p.btype == "auction_bid" => p: Block
          }.sortBy(_.nodes.headOption.flatMap(_.inMsg).flatMap(_.createdLt)
            .getOrElse(Long.MaxValue))
        val consumed: Seq[Block] =
          Matching.identityDistinct(oa +: (parent.toSeq ++ payouts))
        val purchase = body.bid.isDefined && !parentIsMint
        val info = nftItems.get(nft)
        (NftTransferBlock(
          oldOwner = body.prevOwner,
          newOwner = oa.node.inMsg.flatMap(_.destination),
          nftItem = nft,
          failed = consumed.exists(_.failed),
          nodes = consumed.flatMap(_.nodes), children = Nil,
          isPurchase = Some(purchase),
          price = if (purchase) body.bid.map(BigDecimal(_)) else None,
          marketplace = if (purchase) Some("fragment") else None,
          itemIndex = info.flatMap(_.index),
          collection = info.flatMap(_.collection),
          oaQueryId = Some(body.queryId.toString),
          oaForwardPayload = body.rawPayload), consumed)
      }

    def tryBuild(b: Block): Option[(Block, Seq[Block])] = b match {
      // parent-anchored: consume the bid leg + payouts
      case t: TonTransferBlock =>
        t.children.collectFirst {
          case oa: CallContractBlock
            if Opcodes.matches(oa.opcode, Opcodes.NftOwnershipAssigned) &&
              nftItemOf(oa).isDefined => oa
        }.flatMap(oa => build(oa, Some(t), parentIsMint = false))
      case c: CallContractBlock
        if c.node.inMsg.exists(_.source.isEmpty) ||
          Opcodes.matches(c.opcode, Telemint) =>
        c.children.collectFirst {
          case oa: CallContractBlock
            if Opcodes.matches(oa.opcode, Opcodes.NftOwnershipAssigned) &&
              nftItemOf(oa).isDefined => oa
        }.flatMap { oa =>
          if (Opcodes.matches(c.opcode, Telemint))
            // mint parent survives (rebuilt), purchase flag off
            build(oa, None, parentIsMint = true).map { case (nb, _) =>
              (c.copy(children = Seq(nb)), Seq(c: Block, oa: Block))
            }
          else build(oa, Some(c), parentIsMint = false)
        }
      // nft_mint parent (already rewritten): purchase flag off, mint kept
      case p: ProtocolOpBlock if p.btype == "nft_mint" =>
        p.children.collectFirst {
          case oa: CallContractBlock
            if Opcodes.matches(oa.opcode, Opcodes.NftOwnershipAssigned) &&
              nftItemOf(oa).isDefined => oa
        }.flatMap { oa =>
          build(oa, None, parentIsMint = true).map { case (nb, _) =>
            (p.copy(children = Seq(nb)), Seq(p: Block, oa: Block))
          }
        }
      // orphan ownership_assigned (no eligible parent in the trace)
      case oa: CallContractBlock
        if Opcodes.matches(oa.opcode, Opcodes.NftOwnershipAssigned) =>
        build(oa, None, parentIsMint = false)
      case _ => None
    }
  }

  /** Getgems sale-terms update 0x6c6c2080 into a sale contract
    * (UpdateSaleMatcher, auction.py:642-667). */
  final class UpdateSaleMatcher(interfaces: Map[String, String])
      extends BlockMatcher {
    override val triggerOpcodes: Option[Set[Long]] =
      Some(Set(Opcodes.SaleUpdate))
    def tryBuild(b: Block): Option[(Block, Seq[Block])] = b match {
      case c: CallContractBlock
        if Opcodes.matches(c.opcode, Opcodes.SaleUpdate) =>
        val sale = c.node.inMsg.flatMap(_.destination)
        ifaceOf(interfaces, sale).filter(_ == "nft_sale").map { _ =>
          (ProtocolOpBlock("nft_update_sale",
            c.node.inMsg.flatMap(_.source), sale,
            asset = None, value = None,
            failed = c.failed, nodes = c.nodes, children = Nil), Seq(c))
        }
      case _ => None
    }
  }

  /** DNS auction purchase: a fill-up from a DNS-item NFT under any call —
    * after AuctionBidMatcher rewrote the fill-up into auction_bid, the
    * bid whose source is a dns_item becomes dns_purchase under its intact
    * parent (DnsPurchaseMatcher, auction.py:545-586; new owner = the
    * parent call's source, price = the fill-up value). */
  final class DnsPurchaseMatcher(interfaces: Map[String, String])
      extends BlockMatcher {
    override val triggerOpcodes: Option[Set[Long]] =
      Some(Set(Opcodes.AuctionFillUp))
    def tryBuild(b: Block): Option[(Block, Seq[Block])] = b match {
      case parent: CallContractBlock =>
        parent.children.collectFirst {
          case bid: ProtocolOpBlock
            if bid.btype == "auction_bid" &&
              ifaceOf(interfaces, bid.source).contains("dns_item") => bid
        }.map { bid =>
          val purchase = ProtocolOpBlock("dns_purchase",
            source = parent.node.inMsg.flatMap(_.source), // the new owner
            destination = bid.source, // the dns item
            asset = bid.source, value = bid.value,
            failed = bid.failed, nodes = bid.nodes, children = Nil)
          (parent.copy(children = Seq(purchase)), Seq(parent, bid))
        }
      case _ => None
    }
  }

  /** Auction outbid — second-pass over auction_bid: the auction returns
    * the previous bid with the canonical outbid comment
    * (blocks/auction.py:133-171). The reference merges ONLY the outbid
    * transfer (include=[outbid_transfer]) and requires its source to be
    * the auction contract — the auction_bid action survives and BOTH
    * actions are emitted; here the bid block is rebuilt with the refund
    * replaced by the new auction_outbid block. */
  object AuctionOutbidMatcher extends BlockMatcher {
    override val triggerOpcodes: Option[Set[Long]] = Some(Set(Opcodes.AuctionFillUp))
    private val OutbidComment = "Your bid has been outbid by another user"
    def tryBuild(b: Block): Option[(Block, Seq[Block])] = b match {
      case bid: ProtocolOpBlock if bid.btype == "auction_bid" =>
        val refunds = bid.children.collect {
          case t: TonTransferBlock
            if t.comment.exists(_.contains(OutbidComment)) &&
              bid.destination.isDefined &&
              t.node.inMsg.flatMap(_.source) == bid.destination => t
        }
        refunds match {
          case Seq(refund) => // exactly one, like the reference
            val outbid = ProtocolOpBlock("auction_outbid",
              source = bid.destination, // the auction contract
              destination = refund.node.inMsg.flatMap(_.destination),
              asset = bid.asset,
              value = refund.node.inMsg.map(m => BigDecimal(m.value)),
              failed = refund.failed,
              nodes = refund.nodes, children = Nil)
            // consume only the refund: the rebuilt bid (with the outbid as
            // a child) replaces the old bid, keeping the auction_bid action
            Some((bid.copy(children = Seq(outbid)), Seq(bid, refund)))
          case _ => None
        }
      case _ => None
    }
  }

  /** TONCO pool lifecycle: router create-pool 0x2e3034ef must reach pool
    * init 0x441c39ed (blocks/liquidity.py:1545-1554); withdrawal = the
    * position start-burn 0x530b5f2c with its burn/pay-to tail. */
  /** TONCO pool deploy (ToncoDeployPoolBlockMatcher,
    * liquidity.py:1535-1620): ROUTERV3_CREATE_POOL with the required
    * POOLV3_INIT child. Endpoints: deployer → router, pool as the
    * destination secondary; the full parameter struct decodes from the
    * create-pool body (router wallets + minters) with init-body
    * fallbacks. */
  object ToncoDeployPoolMatcher extends BlockMatcher {
    import graft.functions.TlbDecoders
    override val triggerOpcodes: Option[Set[Long]] =
      Some(Set(Opcodes.ToncoRouterV3CreatePool, Opcodes.ToncoPoolV3Init))
    def tryBuild(b: Block): Option[(Block, Seq[Block])] = b match {
      case c: CallContractBlock
          if Opcodes.matches(c.opcode, Opcodes.ToncoRouterV3CreatePool) =>
        c.children.collectFirst {
          case ic: CallContractBlock
            if Opcodes.matches(ic.opcode, Opcodes.ToncoPoolV3Init) => ic
        }.map { init =>
          val create = c.node.inMsg.flatMap(_.body)
            .flatMap(safeDecode(TlbDecoders.toncoCreatePool))
          val initBody = init.node.inMsg.flatMap(_.body)
            .flatMap(safeDecode(TlbDecoders.toncoPoolInit))
          val excesses = init.children.collect {
            case e: CallContractBlock
              if Opcodes.matches(e.opcode, Opcodes.Excesses) => e: Block
          }
          val consumed = Seq(c: Block, init) ++ excesses
          (ProtocolOpBlock("tonco_deploy_pool",
            source = c.node.inMsg.flatMap(_.source),
            destination = c.node.inMsg.flatMap(_.destination),
            asset = None, value = None,
            failed = consumed.exists(_.failed),
            nodes = consumed.flatMap(_.nodes), children = Nil,
            dex = Some("tonco"),
            destinationSecondary = init.node.inMsg.flatMap(_.destination),
            toncoDeploy = Some(ToncoDeployPoolData(
              jetton0_router_wallet = create.flatMap(_.jettonWallet0),
              jetton1_router_wallet = create.flatMap(_.jettonWallet1),
              jetton0_minter = create.flatMap(_.jetton0Minter)
                .orElse(initBody.flatMap(_.jetton0Minter)),
              jetton1_minter = create.flatMap(_.jetton1Minter)
                .orElse(initBody.flatMap(_.jetton1Minter)),
              tick_spacing = create.map(_.tickSpacing)
                .orElse(initBody.map(_.tickSpacing)),
              initial_price_x96 = create.map(d => BigDecimal(d.initialPriceX96))
                .orElse(initBody.map(d => BigDecimal(d.initialPriceX96))),
              protocol_fee = create.map(_.protocolFee)
                .orElse(initBody.map(_.protocolFee)),
              lp_fee_base = create.map(_.lpFeeBase)
                .orElse(initBody.map(_.lpFeeBase)),
              lp_fee_current = create.map(_.lpFeeCurrent)
                .orElse(initBody.map(_.lpFeeCurrent)),
              pool_active = initBody.map(_.poolActive)))), consumed)
        }
      case _ => None
    }
  }
  /** TONCO liquidity withdrawal (ToncoWithdrawLiquidityMatcher,
    * liquidity.py:1218-1460): START_BURN → position-NFT burn → pool burn
    * → router pay_to with up to two payout transfers. Per-side fills
    * follow the reference: the actual transfer wins; sides without one
    * fall back to the pay_to body amounts with the router as dex_wallet
    * (the TON leg's shape). */
  final class ToncoWithdrawLiquidityFull(
      resolveRegistryAsset: String => Option[String]) extends BlockMatcher {
    import graft.functions.TlbDecoders
    override val triggerOpcodes: Option[Set[Long]] =
      Some(Set(Opcodes.ToncoPoolV3StartBurn, Opcodes.ToncoPositionNftBurn,
        Opcodes.ToncoPoolV3Burn))
    def tryBuild(b: Block): Option[(Block, Seq[Block])] = b match {
      case c: CallContractBlock
          if Opcodes.matches(c.opcode, Opcodes.ToncoPoolV3StartBurn) =>
        for {
          posBurn <- findCall(c, Opcodes.ToncoPositionNftBurn)
          poolBurn <- findCall(posBurn, Opcodes.ToncoPoolV3Burn)
          payTo <- findCall(poolBurn, Opcodes.ToncoRouterV3PayTo)
        } yield {
          val sb = c.node.inMsg.flatMap(_.body)
            .flatMap(safeDecode(TlbDecoders.toncoStartBurn))
          val owner = posBurn.node.inMsg.flatMap(_.body)
            .flatMap(safeDecode(TlbDecoders.toncoPositionBurnOwner))
            .flatten
          val payBody = payTo.node.inMsg.flatMap(_.body)
            .flatMap(safeDecode(TlbDecoders.toncoPayTo))
          val jts = payTo.children.collect { case j: JettonTransferBlock => j }
          // router-side slot info; the router's own wTTON wallet maps to
          // None (liquidity.py:1346-1349 TONCO_ROUTER_WTTON_WALLET_ADDR)
          val WttonWallet =
            "0:871DA9215B14902166F0EA2A16DB56278D528108377F8158C5F4CCFDFDD22E17"
          def slotWallet(w: Option[String]): Option[String] =
            w.filter(_ != WttonWallet)
          val routerSlots = Seq(
            (payBody.map(_.amount0), slotWallet(payBody.flatMap(_.jetton0)),
              payBody.flatMap(_.receiver0)),
            (payBody.map(_.amount1), slotWallet(payBody.flatMap(_.jetton1)),
              payBody.flatMap(_.receiver1)))
          // one processed payout per slot: the actual transfer when it
          // exists (a pTON child makes it native), else the router data
          // (liquidity.py:1352-1415)
          case class Payout(amount: Option[BigDecimal], asset: Option[String],
              dexWallet: Option[String], dexJettonWallet: Option[String],
              wallet: Option[String], blocks: Seq[Block])
          val processed: Seq[Payout] = routerSlots.zipWithIndex.map {
            case ((slotAmt, slotW, slotRecv), i) =>
              jts.lift(i) match {
                case Some(j) =>
                  val pton = j.children.collectFirst {
                    case p: JettonTransferBlock if !p.hasInternalTransfer &&
                        p.asset.isEmpty => p
                  }
                  val (amt, asset) = pton match {
                    case Some(p) => (Some(p.amount), None)
                    case None => (Some(j.amount), j.asset.filter(x =>
                      x != "TON" && !PtonMasters.contains(x)))
                  }
                  Payout(amt, asset, j.sender,
                    if (j.hasInternalTransfer) Some(j.senderWallet) else None,
                    j.receiverWallet,
                    Seq[Block](j) ++ pton.toSeq)
                case None =>
                  Payout(slotAmt.map(BigDecimal(_)),
                    slotW.flatMap(w => resolveRegistryAsset(w))
                      .filter(x => x != "TON" && !PtonMasters.contains(x)),
                    payTo.node.inMsg.flatMap(_.source),
                    slotW, slotRecv, Nil)
              }
          }
          // order payouts to the router's slot order (liquidity.py:1418-1429)
          val ordered =
            if (processed.headOption.flatMap(_.dexJettonWallet) !=
                routerSlots.headOption.flatMap(_._2)) processed.reverse
            else processed
          val s1 = ordered.head
          val s2 = ordered(1)
          val consumed = Matching.identityDistinct(
            Seq[Block](c, posBurn, poolBurn, payTo) ++
              processed.flatMap(_.blocks))
          (ProtocolOpBlock("tonco_withdraw_liquidity",
            source = owner, destination = c.node.inMsg.flatMap(_.destination),
            asset = None, value = None,
            failed = consumed.exists(_.failed),
            nodes = consumed.flatMap(_.nodes), children = Nil,
            dex = Some("tonco"),
            withdrawLiquidity = Some(DexWithdrawLiquidityData(
              dex = Some("tonco"),
              amount1 = s1.amount.orElse(Some(BigDecimal(0))),
              amount2 = s2.amount.orElse(Some(BigDecimal(0))),
              asset1_out = s1.asset, asset2_out = s2.asset,
              user_jetton_wallet_1 = s1.wallet, user_jetton_wallet_2 = s2.wallet,
              dex_jetton_wallet_1 = s1.dexJettonWallet,
              dex_jetton_wallet_2 = s2.dexJettonWallet,
              lp_tokens_burnt = sb.map(x => BigDecimal(x.liquidityToBurn)),
              dex_wallet_1 = s1.dexWallet, dex_wallet_2 = s2.dexWallet,
              burned_nft_index = sb.map(_.burnedIndex.toString),
              burned_nft_address =
                posBurn.node.inMsg.flatMap(_.destination),
              tick_lower = sb.map(_.tickLower.toString),
              tick_upper = sb.map(_.tickUpper.toString)))), consumed)
        }
      case _ => None
    }
  }
  val ToncoWithdrawLiquidityFullMatcher: BlockMatcher =
    new ToncoWithdrawLiquidityFull(_ => None)
  val ToncoWithdrawLiquidityMatcher: BlockMatcher = new OpcodeChainMatcher(
    Opcodes.ToncoPoolV3StartBurn, None,
    Set(Opcodes.ToncoPositionNftBurn, Opcodes.ToncoPoolV3Burn,
      Opcodes.ToncoRouterV3PayTo, Opcodes.Excesses),
    protoBlock("tonco_withdraw_liquidity"))

  /** EVAA liquidation: master 0x3 requires the user-contract child 0x31,
    * consumes the satisfied/unsatisfied/success/fail tail
    * (messages/evaa.py:257-472; blocks/evaa.py EvaaLiquidateBlockMatcher). */
  val EvaaLiquidateMatcher: BlockMatcher = new OpcodeChainMatcher(
    Opcodes.EvaaLiquidateMaster, Some(Opcodes.EvaaLiquidateUser),
    Set(Opcodes.EvaaLiquidateSatisfied, Opcodes.EvaaLiquidateUnsatisfied,
      Opcodes.EvaaLiquidateSuccess, Opcodes.EvaaLiquidateFail,
      Opcodes.Excesses),
    protoBlock("evaa_liquidate"))

  /** LayerZero receive path: channel lzReceive-prepare 0x22f3ac09 through
    * OApp prepare → lock → execute → OApp execute-callback, whose body
    * carries the packet; the callback's destination must equal the
    * packet's dst_oapp (LayerZeroReceiveMatcher,
    * blocks/layerzero.py:338-422). */
  object LayerZeroReceiveMatcher extends BlockMatcher {
    override val triggerOpcodes: Option[Set[Long]] =
      Some(Set(Opcodes.LayerZeroChannelLzReceivePrepare))
    def tryBuild(b: Block): Option[(Block, Seq[Block])] = b match {
      case c: CallContractBlock
        if Opcodes.matches(c.opcode, Opcodes.LayerZeroChannelLzReceivePrepare) =>
        for {
          prep <- findCall(c, Opcodes.LayerZeroLzReceivePrepare)
          lock <- findCall(prep, Opcodes.LayerZeroChannelLzReceiveLock)
          exec <- findCall(lock, Opcodes.LayerZeroLzReceiveExecute)
          // the packet rides the EXECUTE body — get_labeled picks the
          // outer 'execute_callback' label, which wraps the
          // LZ_RECEIVE_EXECUTE call (blocks/layerzero.py:363-379,
          // 392-401); the same md layout holds the packet at
          // refs(0).refs(0)
          body <- exec.node.inMsg.flatMap(_.body)
          packet <- safeDecode(TlbDecoders.lzOappExecuteCallback)(body)
          oapp <- exec.node.inMsg.flatMap(_.destination)
          // the executing OApp must be the packet's destination
          if lzAddrEq(oapp, packet.path.dstOapp)
        } yield {
          val in = c.node.inMsg
          val oappCb = findCall(exec, Opcodes.LayerZeroOappExecuteCallback)
          val chain = Seq[Block](c, prep, lock, exec) ++ oappCb.toSeq
          val consumed = Matching.identityDistinct(chain ++
            chain.flatMap(n => lzAux(n,
              takeTransfers = (n eq c) || (n eq exec) ||
                oappCb.exists(_ eq n))))
          (ProtocolOpBlock("layerzero_receive",
            source = in.flatMap(_.source), destination = Some(oapp),
            asset = None, value = in.map(m => BigDecimal(m.value)),
            failed = consumed.exists(_.failed),
            nodes = consumed.flatMap(_.nodes), children = Nil,
            // channel = the execute message's source
            // (blocks/layerzero.py:406-407)
            destinationSecondary = exec.node.inMsg.flatMap(_.source),
            lzPacket = Some(lzPacketData(packet))), consumed)
        }
      case _ => None
    }
  }

  /** DVN verify 0xa0d51a8d through proxy → uln verify 0x994aaf4e →
    * uln-connection verify, with the verify-callback carrying
    * nonce/status (LayerZeroDvnVerifyMatcher, blocks/layerzero.py:508-581). */
  object LayerZeroDvnVerifyMatcher extends BlockMatcher {
    override val triggerOpcodes: Option[Set[Long]] =
      Some(Set(Opcodes.LayerZeroDvnVerify))
    def tryBuild(b: Block): Option[(Block, Seq[Block])] = b match {
      case c: CallContractBlock
        if Opcodes.matches(c.opcode, Opcodes.LayerZeroDvnVerify) =>
        for {
          proxy <- findCall(c, Opcodes.LayerZeroProxyCall)
          ulnVerify <- findCall(proxy, Opcodes.LayerZeroUlnVerify)
          connVerify <- findCall(ulnVerify, Opcodes.LayerZeroUlnConnectionVerify)
          cb <- findCall(connVerify, Opcodes.LayerZeroUlnVerifyCallback)
          body <- cb.node.inMsg.flatMap(_.body)
          vs <- safeDecode(TlbDecoders.lzVerifyCallback)(body)
        } yield {
          val in = c.node.inMsg
          val chain = Seq[Block](c, proxy, ulnVerify, connVerify, cb)
          val consumed = Matching.identityDistinct(chain ++
            chain.flatMap(n => lzAux(n, takeTransfers = n eq cb)))
          (ProtocolOpBlock("layerzero_dvn_verify",
            source = in.flatMap(_.source), destination = None,
            asset = None, value = in.map(m => BigDecimal(m.value)),
            failed = consumed.exists(_.failed),
            nodes = consumed.flatMap(_.nodes), children = Nil,
            lzDvn = Some(LayerZeroDvnVerifyData(
              nonce = Some(BigDecimal(vs.nonce)), status = Some(vs.status),
              dvn = in.flatMap(_.destination),
              proxy = proxy.node.inMsg.flatMap(_.destination),
              uln = ulnVerify.node.inMsg.flatMap(_.destination),
              uln_connection = connVerify.node.inMsg.flatMap(_.destination)))),
            consumed)
        }
      case _ => None
    }
  }

  /** LayerZero send-tokens — second-pass composite: a jetton transfer
    * whose surviving child is a layerzero_send block; inherits the send
    * and packet payloads and overlays the transfer endpoints
    * (LayerZeroSendTokensMatcher, blocks/layerzero.py:275-336,
    * _fill_layerzero_send_tokens_action serializer:1216-1227). */
  object LayerZeroSendTokensMatcher extends BlockMatcher {
    override val triggerOpcodes: Option[Set[Long]] = Some(Set(Opcodes.JettonTransfer, Opcodes.LayerZeroEndpointSend))
    def tryBuild(b: Block): Option[(Block, Seq[Block])] = b match {
      case jt: JettonTransferBlock =>
        jt.children.collectFirst {
          case s: ProtocolOpBlock if s.btype == "layerzero_send" => s
        }.map { send =>
          val consumed: Seq[Block] = Seq(jt, send)
          (ProtocolOpBlock("layerzero_send_tokens",
            source = jt.sender, destination = jt.receiver,
            asset = jt.asset.orElse(Some(jt.senderWallet)),
            value = Some(jt.amount),
            failed = consumed.exists(_.failed),
            nodes = consumed.flatMap(_.nodes), children = Nil,
            sourceSecondary = Some(jt.senderWallet),
            destinationSecondary = jt.receiverWallet,
            // amount = the transferred token quantity
            // (_fill_layerzero_send_tokens_action:1221)
            amount = Some(jt.amount),
            lzSend = send.lzSend, lzPacket = send.lzPacket), consumed)
        }
      case _ => None
    }
  }

  /** '0:HEX' raw address vs '0x…' hex-part equality (the reference
    * compares the hex tails, blocks/layerzero.py:399). */
  private def lzAddrEq(addr: String, oappHex: String): Boolean =
    addr.split(':') match {
      case Array(_, hex) =>
        try BigInt(hex, 16) == BigInt(oappHex.stripPrefix("0x"), 16)
        catch { case _: NumberFormatException => false }
      case _ => false
    }

  /** TONCO v3 liquidity deposit — second-pass composite over the input
    * jetton transfer: fund-account 0x4468de77 → add-liquidity 0x3ebe5431,
    * optionally completed by the pool mint-and-refund 0x81702ef8 carrying
    * the position-NFT mint (ToncoDepositLiquidityMatcher,
    * blocks/liquidity.py:928-1062; the PTon input variant anchors the
    * same chain on a pTON notify instead of a jetton transfer). */
  final class ToncoDepositLiquidityFull(resolve: String => Option[String])
      extends BlockMatcher {
    import graft.functions.TlbDecoders
    override val triggerOpcodes: Option[Set[Long]] =
      Some(Set(Opcodes.ToncoPoolV3FundAccount,
        Opcodes.ToncoAccountV3AddLiquidity))

    /** Wallet → master; "TON"/pTON wallets and unresolved map to None
      * (native), per the reference's pton_masters special-case
      * (blocks/liquidity.py:1085-1120). */
    private def assetOf(w: Option[String]): Option[String] =
      w.flatMap(resolve(_)).filter(_ != "TON")

    private final case class Leg(sent: BigDecimal, sender: Option[String],
        senderWallet: Option[String], routerWallet: Option[String],
        payload: Option[String])

    def tryBuild(b: Block): Option[(Block, Seq[Block])] = {
      // input leg: a funding jetton transfer, or (pTON input) the bare
      // router notify whose body carries the same fund payload
      val leg: Option[(Block, Leg)] = b match {
        case jt: JettonTransferBlock =>
          // pTON rewrites carry no sender wallet (sender_wallet=None in
          // the reference's pton data, jettons.py:141-148) and their
          // router wallet is the transfer's own target account
          Some((jt, Leg(jt.amount, jt.sender,
            if (jt.hasInternalTransfer) Some(jt.senderWallet) else None,
            jt.receiverWallet.orElse(
              if (jt.hasInternalTransfer) None else Some(jt.senderWallet)),
            jt.decoded.flatMap(_.forwardPayload)
              .orElse(jt.ptonForwardPayload))))
        case c: CallContractBlock
            if Opcodes.matches(c.opcode, Opcodes.JettonNotify) =>
          val nb = c.node.inMsg.flatMap(_.body)
            .flatMap(safeDecode(TlbDecoders.jettonNotify))
          Some((c, Leg(
            nb.map(n => BigDecimal(n.amount)).getOrElse(BigDecimal(0)),
            nb.flatMap(_.sender), None, c.node.inMsg.flatMap(_.source),
            nb.flatMap(_.forwardPayload))))
        case _ => None
      }
      leg.flatMap { case (anchor, l) =>
        val fund = anchor.children.collectFirst {
          case c: CallContractBlock
            if Opcodes.matches(c.opcode, Opcodes.ToncoPoolV3FundAccount) => c
        }
        val addLiq = fund.flatMap(_.children.collectFirst {
          case c: CallContractBlock
            if Opcodes.matches(c.opcode, Opcodes.ToncoAccountV3AddLiquidity) => c
        })
        (fund, addLiq) match {
          case (Some(f), Some(a)) =>
            val addBody = a.node.inMsg.flatMap(_.body)
              .flatMap(safeDecode(TlbDecoders.toncoAddLiquidity))
            val payload = l.payload
              .flatMap(safeDecode(TlbDecoders.toncoFundPayload))
            val firstAsset = assetOf(l.routerWallet)
            val secondAsset = assetOf(payload.flatMap(_.otherWallet))
            // which pool slot this leg fills (new_amount0 > 0 → first)
            val isFirst = addBody.forall(_.newAmount0 > 0)
            val mr = a.children.collectFirst {
              case c: CallContractBlock
                if Opcodes.matches(c.opcode, Opcodes.ToncoPoolV3MintAndRefund) => c
            }
            // position-NFT init: the raw POSITION_INIT#d5ecca2a call (the
            // base registry runs before NftMintMatcher) or the rewritten
            // nft_mint; liquidity + index decode from the init body
            val mint: Option[(Seq[Block], Option[String],
                Option[TlbDecoders.ToncoPositionInitBody])] =
              mr.flatMap(_.children.collectFirst {
                case p: ProtocolOpBlock if p.btype == "nft_mint" =>
                  (Seq(p: Block), p.destination,
                    p.nodes.headOption.flatMap(_.inMsg).flatMap(_.body)
                      .flatMap(safeDecode(TlbDecoders.toncoPositionInit)))
                case c: CallContractBlock
                    if Opcodes.matches(c.opcode, Opcodes.ToncoPositionInit) =>
                  val deploys =
                    c.children.collect { case d: ContractDeployBlock => d: Block }
                  ((c +: deploys), c.node.inMsg.flatMap(_.destination),
                    c.node.inMsg.flatMap(_.body)
                      .flatMap(safeDecode(TlbDecoders.toncoPositionInit)))
              })
            val payTo = mr.flatMap(_.children.collectFirst {
              case c: CallContractBlock
                if Opcodes.matches(c.opcode, Opcodes.ToncoRouterV3PayTo) => c
            })
            // refund excesses: up to two transfers under the router
            // pay-to; a pTON child makes the excess native with the pTON
            // body amount (blocks/liquidity.py:1138-1156)
            val excessLegs: Seq[(Option[String], BigDecimal, Seq[Block])] =
              payTo.toSeq.flatMap(_.children.collect {
                // a pTON payout has no internal-transfer leg, so it stays
                // a raw transfer call with the 0x01f3835d child
                case t: JettonTransferBlock => t: Block
                case c: CallContractBlock
                  if Opcodes.matches(c.opcode, Opcodes.JettonTransfer) => c: Block
              }.sortBy(_.nodes.head.tx.lt)).map { t =>
                def isPtonNode(blk: Block): Boolean =
                  blk.nodes.headOption.flatMap(_.inMsg).flatMap(_.opcode)
                    .exists(o => Opcodes.matches(Some(o), Opcodes.PTonTransferOp))
                // the pTON leg: a raw 0x01f3835d child, or the
                // jetton_transfer block PTonTonTransferMatcher rewrote
                // it into (amount already = the body ton_amount)
                val pton: Option[(BigDecimal, Block)] = t.children.collectFirst {
                  case c: CallContractBlock if isPtonNode(c) =>
                    (c.node.inMsg.flatMap(_.body)
                      .flatMap(safeDecode(TlbDecoders.ptonTransfer))
                      .map(pb => BigDecimal(pb.tonAmount))
                      .getOrElse(BigDecimal(0)), c: Block)
                  case j: JettonTransferBlock if isPtonNode(j) =>
                    (j.amount, j: Block)
                }
                (t, pton) match {
                  case (_, Some((amt, p))) => (None, amt, Seq[Block](t, p))
                  case (jt: JettonTransferBlock, None) =>
                    (jt.asset.filter(_ != "TON").orElse(Some(jt.senderWallet)),
                      jt.amount, Seq[Block](jt))
                  case (c, None) =>
                    val dec = c.nodes.head.inMsg.flatMap(_.body)
                      .flatMap(safeDecode(TlbDecoders.jettonTransfer))
                    (assetOf(Some(c.nodes.head.tx.account))
                       .orElse(Some(c.nodes.head.tx.account)),
                      dec.map(d => BigDecimal(d.amount))
                        .getOrElse(BigDecimal(0)), Seq[Block](c))
                }
              }
            val lp = mint.flatMap(_._3).map(m => BigDecimal(m.liquidity))
            // positional slots (ToncoDepositLiquidityData), then the
            // fill's compaction: first non-null amount wins slot 1
            // (serializer:906-918); wallets stay positional
            val (am1, as1, w1, am2, as2, w2) =
              if (isFirst)
                (Some(l.sent), firstAsset, l.senderWallet,
                  Option.empty[BigDecimal], secondAsset, None)
              else
                (Option.empty[BigDecimal], secondAsset, None,
                  Some(l.sent), firstAsset, l.senderWallet)
            val pairs = Seq((am1, as1), (am2, as2)).filter(_._1.nonEmpty)
            val (cAm1, cAs1) = pairs.headOption.getOrElse((None, None))
            val (cAm2, cAs2) = pairs.drop(1).headOption.getOrElse((None, None))
            val consumed = Matching.identityDistinct(
              Seq[Block](anchor, f, a) ++ mr.toSeq ++
                mint.toSeq.flatMap(_._1) ++ payTo.toSeq ++
                excessLegs.flatMap(_._3) ++
                mr.toSeq.flatMap(_.children.collect {
                  case c: CallContractBlock
                    if Opcodes.matches(c.opcode, Opcodes.Excesses) => c: Block
                }))
            Some((ProtocolOpBlock("tonco_deposit_liquidity",
              source = l.sender,
              destination = a.node.inMsg.flatMap(_.source),
              asset = None, value = Some(l.sent),
              failed = consumed.exists(_.failed),
              nodes = consumed.flatMap(_.nodes), children = Nil,
              dex = Some("tonco"),
              sourceSecondary = l.senderWallet,
              destinationSecondary = a.node.inMsg.flatMap(_.destination),
              depositLiquidity = Some(DexDepositLiquidityData(
                dex = Some("tonco"),
                amount1 = cAm1, amount2 = cAm2,
                asset1 = cAs1, asset2 = cAs2,
                user_jetton_wallet_1 = w1, user_jetton_wallet_2 = w2,
                lp_tokens_minted = lp,
                // slot-ordered pool assets (_fill_tonco_deposit_
                // liquidity_action:934-935: target_asset_i = asset_i)
                target_asset_1 = as1, target_asset_2 = as2,
                target_amount_1 = addBody.map(ab => BigDecimal(ab.newEnough0)),
                target_amount_2 = addBody.map(ab => BigDecimal(ab.newEnough1)),
                vault_excesses = excessLegs.map { case (asst, amt, _) =>
                  LiquidityVaultExcess(asst, Some(amt)) },
                tick_lower = addBody.map(_.tickLower.toString),
                tick_upper = addBody.map(_.tickUpper.toString),
                nft_index = mint.flatMap(_._3).map(_.nftIndex.toString),
                nft_address = mint.flatMap(_._2)))), consumed))
          case _ => None
        }
      }
    }
  }
  val ToncoDepositLiquidityMatcher: BlockMatcher =
    new ToncoDepositLiquidityFull(_ => None)

  /** tgBTC FULL mint chain: the mint-call tail 0xe42a879b must carry both
    * the success log AND the minted-jetton block (TgBTCMintBlockMatcher,
    * blocks/tgbtc.py:54-115). Runs after JettonMintMatcher; the log-only
    * matchers stay as fallbacks for partial traces. */
  object TgbtcMintFullMatcher extends BlockMatcher {
    import graft.functions.TlbDecoders
    override val triggerOpcodes: Option[Set[Long]] =
      Some(Set(Opcodes.TgbtcMintCall, Opcodes.TgbtcMint))

    /** Anchor at the mint HEAD 0x3f781d24 when present (the reference
      * walks up to it for the caller, blocks/tgbtc.py:88-110); the tail
      * 0xe42a879b carries the success log + jetton mint children. */
    private def buildFrom(head: CallContractBlock, tail: CallContractBlock,
        path: Seq[Block]): Option[(Block, Seq[Block])] = {
      val log = tail.children.collectFirst {
        case l: CallContractBlock
          if Opcodes.matches(l.opcode, Opcodes.TgbtcMint) => l
      }
      val mint = tail.children.collectFirst { case m: JettonMintBlock => m }
      (log, mint) match {
        case (Some(l), Some(m)) =>
          val event = l.node.inMsg.flatMap(_.body)
            .flatMap(safeDecode(TlbDecoders.tgbtcMintEvent))
          val consumed = Matching.identityDistinct(
            Seq[Block](head, tail, l, m) ++ path)
          Some((ProtocolOpBlock("tgbtc_mint",
            // caller → log recipient; teleport/recipient-wallet ride the
            // secondaries; btc txid on asset_secondary
            // (_fill_tgbtc_mint_action, block_tree_serializer.py:850-861)
            source = head.node.inMsg.flatMap(_.source),
            destination = event.flatMap(_.recipient).orElse(m.receiver),
            asset = m.master.orElse(m.receiverWallet),
            value = None,
            failed = consumed.exists(_.failed),
            nodes = consumed.flatMap(_.nodes), children = Nil,
            sourceSecondary = l.node.inMsg.flatMap(_.source),
            destinationSecondary = m.receiverWallet,
            assetSecondary = event.map(_.bitcoinTxidHex),
            amount = event.map(e => BigDecimal(e.amount))
              .orElse(Some(m.amount))), consumed))
        case _ => None
      }
    }

    def tryBuild(b: Block): Option[(Block, Seq[Block])] = b match {
      case head: CallContractBlock
          if Opcodes.matches(head.opcode, Opcodes.TgbtcMintHead) =>
        findCall(head, Opcodes.TgbtcMintCall).flatMap { tail =>
          // consume the intermediate chain between head and tail
          val path = scala.collection.mutable.ArrayBuffer[Block]()
          def walk(from: Block): Boolean = {
            if (from eq tail) true
            else from.children.exists { ch =>
              val hit = walk(ch)
              if (hit && !(ch eq tail)) path += ch
              hit
            }
          }
          walk(head)
          buildFrom(head, tail, path.toSeq)
        }
      // headless fallback: the tail alone (partial traces)
      case tail: CallContractBlock
          if Opcodes.matches(tail.opcode, Opcodes.TgbtcMintCall) =>
        buildFrom(tail, tail, Nil)
      case _ => None
    }
  }

  /** tgBTC FULL burn chain: a jetton_burn whose notification tail
    * (burn-notification or 0x587643a2) carries the burn event log, plus
    * the optional teleport call 0xbe44e7a6 with its auxiliaries
    * (TgBTCBurnBlockMatcher, blocks/tgbtc.py:179-268). Second-pass over
    * JettonBurnBlock — the burn matcher consumed the notification, so the
    * log chain hangs off the burn block's children. */
  object TgbtcBurnFullMatcher extends BlockMatcher {
    override val triggerOpcodes: Option[Set[Long]] =
      Some(Set(Opcodes.JettonBurn, Opcodes.TgbtcBurn))
    def tryBuild(b: Block): Option[(Block, Seq[Block])] = b match {
      case jb: JettonBurnBlock =>
        // reference child chain (blocks/tgbtc.py:181-210): the burn's
        // child is the teleport-bound burn-notification hop (0x7bdd97de
        // or the alternate 0x587643a2); under it ride the burn-event LOG
        // (an external-out leaf) and the optional 0xbe44e7a6 call whose
        // children are 0x1a84c0e0 and the refund ton_transfer
        val hop = jb.children.collectFirst {
          case c: CallContractBlock
            if Opcodes.matches(c.opcode, Opcodes.JettonBurnNotification) ||
              Opcodes.matches(c.opcode, Opcodes.TgbtcBurnAux2) => c
        }
        val under = hop.map(_.children).getOrElse(jb.children)
        val logOpt = under.collectFirst {
          case l: CallContractBlock
            if Opcodes.matches(l.opcode, Opcodes.TgbtcBurn) => l
        }
        logOpt.map { log =>
          val teleportCall = under.collectFirst {
            case c: CallContractBlock
              if Opcodes.matches(c.opcode, Opcodes.TgbtcBurnCall) => c
          }
          val teleportKids = teleportCall.toSeq.flatMap(_.children).collect {
            case c: CallContractBlock
              if Opcodes.matches(c.opcode, Opcodes.TgbtcBurnAux1) => c: Block
            case t: TonTransferBlock => t: Block
          }
          val consumed: Seq[Block] = Matching.identityDistinct(
            Seq(jb: Block, log: Block) ++ hop.toSeq ++
              teleportCall.toSeq ++ teleportKids)
          // log-decoded pegout destination + authoritative amount:
          // min(burn, log) with the log standing in for a zero burn
          // (blocks/tgbtc.py:225-236)
          val event = log.node.inMsg.flatMap(_.body)
            .flatMap(safeDecode(graft.functions.TlbDecoders.tgbtcBurnEvent))
          val amount = event.map(e => BigDecimal(e.amount)) match {
            case Some(la) if jb.amount == 0 => la
            case Some(la) => jb.amount.min(la)
            case None => jb.amount
          }
          (ProtocolOpBlock("tgbtc_burn",
            jb.owner, event.flatMap(_.pegout),
            asset = Some(jb.asset.getOrElse(jb.ownerWallet)),
            value = Some(amount),
            failed = consumed.exists(_.failed),
            nodes = consumed.flatMap(_.nodes), children = Nil,
            sourceSecondary = Some(jb.ownerWallet),
            amount = Some(amount)), consumed)
        }
      case _ => None
    }
  }

  /** Coffee create-vault — the factory call must reach the vault deploy
    * (deploy#c0ffee22); the vault is the DEPLOY's destination, not the
    * factory, and the asset decodes from the create body
    * (CoffeeCreateVaultMatcher, blocks/liquidity.py:1991-2028; fill
    * serializer:939-943: value = the create message value). */
  object CoffeeCreateVaultMatcher extends BlockMatcher {
    override val triggerOpcodes: Option[Set[Long]] =
      Some(Set(Opcodes.CoffeeCreateVault))
    def tryBuild(b: Block): Option[(Block, Seq[Block])] = b match {
      case c: CallContractBlock
          if Opcodes.matches(c.opcode, Opcodes.CoffeeCreateVault) =>
        findCall(c, Opcodes.CoffeeDeploy).map { deploy =>
          val aux = (deploy.children ++
            deploy.children.flatMap(_.children)).collect {
            case a: CallContractBlock
              if Opcodes.matches(a.opcode, Opcodes.CoffeeCreateVaultInternal) ||
                Opcodes.matches(a.opcode, Opcodes.CoffeeActivateVaultInternal) ||
                Opcodes.matches(a.opcode, Opcodes.Excesses) => a
          }
          val consumed = Matching.identityDistinct(
            Seq[Block](c, deploy) ++ aux)
          (ProtocolOpBlock("coffee_create_vault",
            source = c.node.inMsg.flatMap(_.source),
            destination = deploy.node.inMsg.flatMap(_.destination),
            asset = c.node.inMsg.flatMap(_.body)
              .flatMap(safeDecode(TlbDecoders.coffeeCreateVault)).flatten,
            value = c.node.inMsg.map(m => BigDecimal(m.value)),
            failed = consumed.exists(_.failed),
            nodes = consumed.flatMap(_.nodes), children = Nil), consumed)
        }
      case _ => None
    }
  }

  /** Coffee MEV-protect hold-funds: a native hold call carries
    * amount = the message value with null asset/wallets; the jetton
    * variant rides a transfer payload (CoffeeMevProtectHoldFundsMatcher,
    * blocks/liquidity.py:2281-2339; fill serializer:972-978). */
  object CoffeeMevProtectMatcher extends BlockMatcher {
    override val triggerOpcodes: Option[Set[Long]] =
      Some(Set(Opcodes.CoffeeMevProtectHoldFunds))
    def tryBuild(b: Block): Option[(Block, Seq[Block])] = b match {
      case c: CallContractBlock
          if Opcodes.matches(c.opcode, Opcodes.CoffeeMevProtectHoldFunds) =>
        val aux = c.children.collect {
          case a: CallContractBlock
            if Opcodes.matches(a.opcode, Opcodes.CoffeeMevProtectFailedSwap) ||
              Opcodes.matches(a.opcode, Opcodes.Excesses) => a
        }
        val consumed = Matching.identityDistinct(Seq[Block](c) ++ aux)
        val in = c.node.inMsg
        Some((ProtocolOpBlock("coffee_mev_protect_hold_funds",
          source = in.flatMap(_.source),
          destination = in.flatMap(_.destination),
          asset = None, value = in.map(m => BigDecimal(m.value)),
          failed = consumed.exists(_.failed),
          nodes = consumed.flatMap(_.nodes), children = Nil,
          amount = in.map(m => BigDecimal(m.value))), consumed))
      case jt: JettonTransferBlock
          if jt.decoded.flatMap(_.forwardPayload)
            .flatMap(safeDecode(p => graft.functions.Boc.parseBase64(p)
              .beginParse().loadUint(32).toLong))
            .exists(op =>
              Opcodes.matches(Some(op), Opcodes.CoffeeMevProtectHoldFunds)) =>
        val consumed = Seq[Block](jt)
        Some((ProtocolOpBlock("coffee_mev_protect_hold_funds",
          source = jt.sender, destination = jt.receiver,
          asset = jt.asset.orElse(Some(jt.senderWallet)),
          value = None,
          failed = consumed.exists(_.failed),
          nodes = consumed.flatMap(_.nodes), children = Nil,
          sourceSecondary = Some(jt.senderWallet),
          amount = Some(jt.amount)), consumed))
      case _ => None
    }
  }

  /** Coffee staking deposit — second-pass: a jetton transfer whose child
    * is the pool's staking-deposit call 0xf9471134 (+ optional duplicated
    * log with the same opcode) (CoffeeStakingDepositMatcher,
    * blocks/staking.py:430-470). */
  object CoffeeStakingDepositMatcher extends BlockMatcher {
    override val triggerOpcodes: Option[Set[Long]] = Some(Set(Opcodes.JettonTransfer, Opcodes.CoffeeStakingDeposit))
    def tryBuild(b: Block): Option[(Block, Seq[Block])] = b match {
      case jt: JettonTransferBlock =>
        jt.children.collectFirst {
          case c: CallContractBlock
            if Opcodes.matches(c.opcode, Opcodes.CoffeeStakingDeposit) => c
        }.flatMap { poolCall =>
          // the reference REQUIRES the position-NFT mint among the pool
          // call's children (non-optional BlockTypeMatcher('nft_mint'),
          // staking.py:449-468) — without it any jetton transfer with a
          // 0xf9471134 child would match. Accept the rewritten nft_mint
          // block or the raw mint call carrying the position-NFT deploy.
          val mint: Option[(Seq[Block], Option[String], Option[String])] =
            poolCall.children.collectFirst {
              case p: ProtocolOpBlock if p.btype == "nft_mint" =>
                (Seq(p: Block), p.destination,
                  p.nftMint.flatMap(_.nft_item_index))
              case c: CallContractBlock
                if c.children.exists(_.isInstanceOf[ContractDeployBlock]) =>
                val deploys = c.children.collect { case d: ContractDeployBlock => d }
                ((c +: deploys): Seq[Block], Some(c.node.tx.account), None)
              case d: ContractDeployBlock =>
                (Seq(d: Block), Some(d.node.tx.account), None)
            }
          mint.map { case (mintBlocks, posNft, posIdx) =>
            val log = poolCall.children.collect {
              case c: CallContractBlock
                if Opcodes.matches(c.opcode, Opcodes.CoffeeStakingDeposit) => c
            }.filterNot(c => mintBlocks.exists(_ eq c))
            val consumed: Seq[Block] =
              Seq(jt, poolCall) ++ mintBlocks ++ log
            // fill (serializer:984-994): asset = the transfer's master,
            // wallet endpoints ride the secondaries, amount = the
            // transferred value
            (ProtocolOpBlock("coffee_staking_deposit",
              source = jt.sender,
              destination = poolCall.node.inMsg.flatMap(_.destination),
              asset = jt.asset.filter(_ != "TON")
                .orElse(Some(jt.senderWallet)),
              value = Some(jt.amount),
              failed = consumed.exists(_.failed),
              nodes = consumed.flatMap(_.nodes), children = Nil,
              sourceSecondary = Some(jt.senderWallet),
              destinationSecondary = jt.receiverWallet,
              amount = Some(jt.amount),
              tsNft = posNft, mintedItem = posNft,
              mintedItemIndex = posIdx), consumed)
          }
        }
      case _ => None
    }
  }

  /** Coffee staking withdraw: withdraw_1 → withdraw_2 → withdraw_3 all
    * share opcode 0xcb03bfaf; the deepest leg pays out through a jetton
    * transfer (CoffeeStakingWithdrawMatcher, blocks/staking.py:512-614).
    * Anchored at the TOPMOST link (bfs order guarantees the first hit is
    * the outermost), consuming the same-opcode chain plus the payout.
    * nft/owner/points decode from the withdraw_2 body; the payout wallet
    * from withdraw_3 (messages/coffee.py:1109-1144). */
  object CoffeeStakingWithdrawMatcher extends BlockMatcher {
    override val triggerOpcodes: Option[Set[Long]] = Some(Set(Opcodes.CoffeeStakingWithdraw))
    private def nextLink(c: CallContractBlock): Option[CallContractBlock] =
      c.children.collectFirst {
        case cc: CallContractBlock
          if Opcodes.matches(cc.opcode, Opcodes.CoffeeStakingWithdraw) => cc
      }
    def tryBuild(b: Block): Option[(Block, Seq[Block])] = b match {
      case c: CallContractBlock
        if Opcodes.matches(c.opcode, Opcodes.CoffeeStakingWithdraw) =>
        // require the full withdraw_2 leg — a lone 0xcb03bfaf is not a
        // withdrawal (the reference's child_matcher is non-optional)
        nextLink(c).map { w2 =>
          val w3 = nextLink(w2)
          val payout = (w3.toSeq :+ w2).view.flatMap(_.children).collectFirst {
            case jt: JettonTransferBlock => jt
          }
          // the optional duplicated log leg (staking.py:535-541,605-607)
          val log = w2.children.collect {
            case cc: CallContractBlock
              if Opcodes.matches(cc.opcode, Opcodes.CoffeeStakingWithdraw) &&
                !w3.exists(_ eq cc) => cc
          }
          val consumed: Seq[Block] =
            Seq(c, w2) ++ w3.toSeq ++ payout.toSeq ++ log
          val w2Body = w2.node.inMsg.flatMap(_.body)
            .flatMap(safeDecode(TlbDecoders.coffeeStakingWithdraw2))
          val w3Body = w3.flatMap(_.node.inMsg.flatMap(_.body))
            .flatMap(safeDecode(TlbDecoders.coffeeStakingWithdraw3))
          (ProtocolOpBlock("coffee_staking_withdraw",
            // owner from the withdraw_2 body; the pool is the master
            // that sent withdraw_2 (staking.py:577-581)
            source = w2Body.flatMap(_.owner)
              .orElse(c.node.inMsg.flatMap(_.source)),
            destination = w2.node.inMsg.flatMap(_.source),
            asset = payout.flatMap(_.asset)
              .orElse(payout.map(_.senderWallet)),
            value = w3Body.map(w => BigDecimal(w.jettonAmount))
              .orElse(payout.map(_.amount)),
            failed = consumed.exists(_.failed),
            nodes = consumed.flatMap(_.nodes), children = Nil,
            // action.amount = withdraw_3's jetton_amount (fill :1002)
            amount = w3Body.map(w => BigDecimal(w.jettonAmount))
              .orElse(payout.map(_.amount)),
            sourceSecondary = payout.flatMap(_.receiverWallet),
            destinationSecondary = w3Body.flatMap(_.jettonWallet),
            coffeeWithdraw = Some(CoffeeStakingWithdrawData(
              nft_address = c.node.inMsg.flatMap(_.destination),
              nft_index = w2Body.map(_.nftId.toString),
              points = w2Body.map(w => BigDecimal(w.points))))), consumed)
        }
      case _ => None
    }
  }

  /** Coffee staking claim-rewards 0xb30c7310 with its jetton payout and
    * optional duplicated log (CoffeeStakingClaimRewardsMatcher,
    * blocks/staking.py:636-654). */
  object CoffeeStakingClaimRewardsMatcher extends BlockMatcher {
    override val triggerOpcodes: Option[Set[Long]] = Some(Set(Opcodes.CoffeeStakingClaimRewards))
    def tryBuild(b: Block): Option[(Block, Seq[Block])] = b match {
      case c: CallContractBlock
        if Opcodes.matches(c.opcode, Opcodes.CoffeeStakingClaimRewards) =>
        val payout = c.children.collectFirst { case jt: JettonTransferBlock => jt }
        payout.map { jt =>
          val log = c.children.collect {
            case cc: CallContractBlock
              if Opcodes.matches(cc.opcode, Opcodes.CoffeeStakingClaimRewards) => cc
          }
          val consumed: Seq[Block] = Seq(c, jt) ++ log
          val body = c.node.inMsg.flatMap(_.body)
            .flatMap(safeDecode(TlbDecoders.coffeeStakingClaimRewards))
          // fill (serializer:1009-1017): source = the POOL (the claim
          // call's destination — the admin source is deliberately not
          // stored), source_secondary = the pool wallet from the claim
          // body, destination = the body's receiver with its payout
          // wallet as secondary, amount = the body's jetton_amount
          (ProtocolOpBlock("coffee_staking_claim_rewards",
            source = c.node.inMsg.flatMap(_.destination),
            destination = body.flatMap(_.receiver).orElse(jt.receiver),
            asset = jt.asset.filter(_ != "TON")
              .orElse(Some(jt.senderWallet)),
            value = Some(jt.amount),
            failed = consumed.exists(_.failed),
            nodes = consumed.flatMap(_.nodes), children = Nil,
            sourceSecondary = body.flatMap(_.jettonWallet),
            destinationSecondary = jt.receiverWallet,
            amount = body.map(b2 => BigDecimal(b2.jettonAmount))
              .orElse(Some(jt.amount))), consumed)
        }
      case _ => None
    }
  }

  /** Ethena deposit — INTERFACE-AWARE second-pass: a USDe jetton transfer
    * into the pool whose surviving child is the tsUSDe mint
    * (EthenaDepositBlockMatcher, blocks/ethena_staking.py:109-160; the
    * reference pins the two jetton masters — here the mint wallet must be
    * designated 'ethena_tsusde_wallet' in the pre-joined interface map).
    * Canonical action type: stake_deposit with provider 'ethena'
    * (block_tree_serializer.py:1277-1288). */
  final class EthenaDepositMatcher(interfaces: Map[String, String],
      resolveAsset: String => Option[String] = _ => None) extends BlockMatcher {
    // the reference gates the deposit on the HARD-CODED Ethena masters:
    // the transfer must move USDe, the mint must produce tsUSDe
    // (ethena_staking.py:135-147)
    private val UsdeMaster =
      "0:086FA2A675F74347B08DD4606A549B8FDB98829CB282BC1949D3B12FBAED9DCC"
    private val TsUsdeMaster =
      "0:D0E545323C7ACB7102653C073377F7E3C67F122EB94D430A250739F109D4A57D"
    override val triggerOpcodes: Option[Set[Long]] = Some(Set(Opcodes.JettonTransfer, Opcodes.JettonInternalTransfer))
    def tryBuild(b: Block): Option[(Block, Seq[Block])] = b match {
      case jt: JettonTransferBlock
          if jt.asset.contains(UsdeMaster) ||
            resolveAsset(jt.senderWallet).contains(UsdeMaster) ||
            jt.children.exists {
              case m: JettonMintBlock => m.receiverWallet.exists(w =>
                interfaces.get(w).contains("ethena_tsusde_wallet"))
              case _ => false
            } =>
        jt.children.collectFirst {
          case m: JettonMintBlock
            if m.receiverWallet.exists(w =>
              interfaces.get(w).contains("ethena_tsusde_wallet")) ||
              m.master.contains(TsUsdeMaster) ||
              m.receiverWallet.flatMap(resolveAsset).contains(TsUsdeMaster) => m
        }.map { mint =>
          val consumed: Seq[Block] = Seq(jt, mint)
          // reference fill (_fill_ethena_deposit_action,
          // block_tree_serializer.py:1277-1288): asset = the MINTED
          // jetton's master (tsUSDe), asset2 = the deposited jetton's
          // master (USDe), source_secondary = the user's USDe wallet,
          // amount = the deposited value
          (ProtocolOpBlock("stake_deposit",
            source = jt.sender, destination = jt.receiver,
            asset = mint.master.orElse(mint.receiverWallet),
            value = Some(jt.amount),
            failed = consumed.exists(_.failed),
            nodes = consumed.flatMap(_.nodes), children = Nil,
            tokensMinted = Some(mint.amount),
            provider = Some("ethena"),
            sourceSecondary = Some(jt.senderWallet),
            asset2 = jt.asset,
            amount = Some(jt.amount)), consumed)
        }
      case _ => None
    }
  }

  /** Cocoon payment-proxy family (blocks/cocoon.py). The full-context
    * matchers below mirror the reference chains; the opcode-chain
    * fallbacks on the inner-leg opcodes keep partial traces classified. */

  /** Worker payout (CocoonWorkerPayoutMatcher, blocks/cocoon.py:67-215):
    * PayoutPayload/LastPayoutPayload → WorkerProxyRequest → Payout to
    * the worker owner (+ excesses back). Endpoints: proxy → owner with
    * the worker contract as source secondary; amount = the payout
    * message value. */
  object CocoonWorkerPayoutFullMatcher extends BlockMatcher {
    import graft.functions.TlbDecoders
    override val triggerOpcodes: Option[Set[Long]] =
      Some(Set(Opcodes.CocoonWorkerProxyRequest, Opcodes.CocoonPayout))
    def tryBuild(b: Block): Option[(Block, Seq[Block])] = b match {
      case c: CallContractBlock
          if Opcodes.matches(c.opcode, Opcodes.CocoonPayoutPayload) ||
            Opcodes.matches(c.opcode, Opcodes.CocoonLastPayoutPayload) =>
        for {
          req <- c.children.collectFirst {
            case r: CallContractBlock
              if Opcodes.matches(r.opcode, Opcodes.CocoonWorkerProxyRequest) => r
          }
          payout <- req.children.collectFirst {
            case p: CallContractBlock
              if Opcodes.matches(p.opcode, Opcodes.CocoonPayout) => p
          }
        } yield {
          val excesses = req.children.collect {
            case e: CallContractBlock
              if Opcodes.matches(e.opcode, Opcodes.CocoonReturnExcesses) => e: Block
          }
          val payload = c.node.inMsg.flatMap(_.body)
            .flatMap(safeDecode(TlbDecoders.cocoonPayoutPayload))
          val reqBody = req.node.inMsg.flatMap(_.body)
            .flatMap(safeDecode(TlbDecoders.cocoonWorkerRequest))
          val payoutType =
            if (Opcodes.matches(c.opcode, Opcodes.CocoonLastPayoutPayload))
              "last" else "regular"
          val consumed = Seq(c: Block, req, payout) ++ excesses
          (ProtocolOpBlock("cocoon_worker_payout",
            source = c.node.inMsg.flatMap(_.source),
            destination = reqBody.flatMap(_.owner),
            asset = None,
            value = payout.node.inMsg.map(m => BigDecimal(m.value)),
            failed = payout.failed,
            nodes = consumed.flatMap(_.nodes), children = Nil,
            sourceSecondary = c.node.inMsg.flatMap(_.destination),
            amount = payout.node.inMsg.map(m => BigDecimal(m.value)),
            cocoonWorkerPayout = Some(CocoonWorkerPayoutData(
              payout_type = Some(payoutType),
              query_id = payload.map(_.queryId.toString),
              new_tokens = payload.map(p => BigDecimal(p.newTokens)),
              worker_state = reqBody.map(_.state),
              worker_tokens = reqBody.map(r => BigDecimal(r.tokens))))),
            consumed)
        }
      case _ => None
    }
  }
  /** Bare-payout fallback for partial traces. */
  val CocoonPayoutMatcher: BlockMatcher = new OpcodeChainMatcher(
    Opcodes.CocoonPayout, None, Set(Opcodes.CocoonReturnExcesses),
    protoBlock("cocoon_worker_payout"))

  /** Client top-up (blocks/cocoon.py:435-505): ExtClientTopUp →
    * ClientProxyRequest (+ excesses). sender from the body's
    * send_excesses_to; destination secondary = the proxy. */
  object CocoonClientTopUpFullMatcher extends BlockMatcher {
    import graft.functions.TlbDecoders
    override val triggerOpcodes: Option[Set[Long]] =
      Some(Set(Opcodes.CocoonExtClientTopUp, Opcodes.CocoonClientProxyRequest))
    def tryBuild(b: Block): Option[(Block, Seq[Block])] = b match {
      case c: CallContractBlock
          if Opcodes.matches(c.opcode, Opcodes.CocoonExtClientTopUp) =>
        c.children.collectFirst {
          case r: CallContractBlock
            if Opcodes.matches(r.opcode, Opcodes.CocoonClientProxyRequest) => r
        }.map { req =>
          val excesses = req.children.collect {
            case e: CallContractBlock
              if Opcodes.matches(e.opcode, Opcodes.CocoonReturnExcesses) => e: Block
          }
          val body = c.node.inMsg.flatMap(_.body)
            .flatMap(safeDecode(TlbDecoders.cocoonExtClientTopUp))
          val consumed = Seq(c: Block, req) ++ excesses
          (ProtocolOpBlock("cocoon_client_top_up",
            source = body.flatMap(_.sender)
              .orElse(c.node.inMsg.flatMap(_.source)),
            destination = c.node.inMsg.flatMap(_.destination),
            asset = None,
            value = body.map(t => BigDecimal(t.amount)),
            failed = c.failed,
            nodes = consumed.flatMap(_.nodes), children = Nil,
            destinationSecondary = req.node.inMsg.flatMap(_.destination),
            amount = body.map(t => BigDecimal(t.amount))), consumed)
        }
      case _ => None
    }
  }
  val CocoonClientTopUpMatcher: BlockMatcher = new OpcodeChainMatcher(
    Opcodes.CocoonClientTopUp, None, Set.empty,
    protoBlock("cocoon_client_top_up"))

  /** Client register (blocks/cocoon.py:670-740): OwnerClientRegister →
    * ClientProxyRequest (+ excesses); owner from send_excesses_to. */
  object CocoonClientRegisterFullMatcher extends BlockMatcher {
    import graft.functions.TlbDecoders
    override val triggerOpcodes: Option[Set[Long]] =
      Some(Set(Opcodes.CocoonOwnerClientRegister))
    def tryBuild(b: Block): Option[(Block, Seq[Block])] = b match {
      case c: CallContractBlock
          if Opcodes.matches(c.opcode, Opcodes.CocoonOwnerClientRegister) =>
        val req = c.children.collectFirst {
          case r: CallContractBlock
            if Opcodes.matches(r.opcode, Opcodes.CocoonClientProxyRequest) => r
        }
        val excesses = req.toSeq.flatMap(_.children.collect {
          case e: CallContractBlock
            if Opcodes.matches(e.opcode, Opcodes.CocoonReturnExcesses) => e: Block
        })
        val body = c.node.inMsg.flatMap(_.body)
          .flatMap(safeDecode(TlbDecoders.cocoonOwnerClientRegister))
        val consumed = Seq(c: Block) ++ req.toSeq ++ excesses
        Some((ProtocolOpBlock("cocoon_client_register",
          source = body.flatMap(_.owner)
            .orElse(c.node.inMsg.flatMap(_.source)),
          destination = c.node.inMsg.flatMap(_.destination),
          asset = None, value = None,
          failed = c.failed,
          nodes = consumed.flatMap(_.nodes), children = Nil,
          cocoonRegister = Some(CocoonClientRegisterData(
            query_id = body.map(_.queryId.toString),
            nonce = body.map(_.nonce.toString)))), consumed))
      case _ => None
    }
  }
  val CocoonClientRegisterMatcher: BlockMatcher = new OpcodeChainMatcher(
    Opcodes.CocoonClientRegister, None, Set.empty,
    protoBlock("cocoon_client_register"))

  /** Grant refund (blocks/cocoon.py:1123-1240): GrantRefundPayload into
    * the proxy with a required Payout to the refund recipient and the
    * ClientProxyRequest leg; amount = the payout message value. */
  object CocoonGrantRefundFullMatcher extends BlockMatcher {
    import graft.functions.TlbDecoders
    override val triggerOpcodes: Option[Set[Long]] =
      Some(Set(Opcodes.CocoonGrantRefundPayload, Opcodes.CocoonPayout))
    def tryBuild(b: Block): Option[(Block, Seq[Block])] = b match {
      case c: CallContractBlock
          if Opcodes.matches(c.opcode, Opcodes.CocoonGrantRefundPayload) =>
        val req = c.children.collectFirst {
          case r: CallContractBlock
            if Opcodes.matches(r.opcode, Opcodes.CocoonClientProxyRequest) => r
        }
        // the payout hangs under the CLIENT's proxy request, not the
        // grant payload itself (blocks/cocoon.py:1128-1152)
        req.toSeq.flatMap(_.children).collectFirst {
          case p: CallContractBlock
            if Opcodes.matches(p.opcode, Opcodes.CocoonPayout) => p
        }.map { payout =>
          val excesses = (c.children ++ req.toSeq.flatMap(_.children)).collect {
            case e: CallContractBlock
              if Opcodes.matches(e.opcode, Opcodes.CocoonReturnExcesses) => e: Block
          }
          val body = c.node.inMsg.flatMap(_.body)
            .flatMap(safeDecode(TlbDecoders.cocoonCharge))
          val consumed = Seq(c: Block, payout) ++ req.toSeq ++ excesses
          (ProtocolOpBlock("cocoon_grant_refund",
            source = c.node.inMsg.flatMap(_.destination), // the proxy
            destination = payout.node.inMsg.flatMap(_.destination),
            asset = None,
            value = payout.node.inMsg.map(m => BigDecimal(m.value)),
            failed = payout.failed,
            nodes = consumed.flatMap(_.nodes), children = Nil,
            sourceSecondary = req.flatMap(_.node.inMsg.flatMap(_.destination)),
            amount = payout.node.inMsg.map(m => BigDecimal(m.value)),
            cocoonGrantRefund = Some(CocoonChargeData(
              query_id = body.map(_.queryId.toString),
              new_tokens_used = body.map(x => BigDecimal(x.newTokensUsed)),
              expected_address = body.flatMap(_.expectedAddress)))), consumed)
        }
      case _ => None
    }
  }
  val CocoonGrantRefundMatcher: BlockMatcher = new OpcodeChainMatcher(
    Opcodes.CocoonRefundGranted, None, Set.empty,
    protoBlock("cocoon_grant_refund"))

  /** Cocoon long tail: proxy payout/charge/register/unregister and the
    * owner-client operations (messages/cocoon.py:496-703; blocks/cocoon.py
    * matcher-per-opcode, each with the return-excesses tail). */
  /** Proxy payout (blocks/cocoon.py:241-311): ExtProxyPayoutRequest into
    * the proxy with the Payout + excesses children. destination = the
    * payout recipient (proxy owner), destination secondary = the body's
    * excesses recipient; partial traces (no payout child) keep the
    * plain request-call shape. */
  object CocoonProxyPayoutFullMatcher extends BlockMatcher {
    import graft.functions.{Boc, TlbDecoders}
    override val triggerOpcodes: Option[Set[Long]] =
      Some(Set(Opcodes.CocoonExtProxyPayoutRequest, Opcodes.CocoonPayout))
    def tryBuild(b: Block): Option[(Block, Seq[Block])] = b match {
      case c: CallContractBlock
          if Opcodes.matches(c.opcode, Opcodes.CocoonExtProxyPayoutRequest) =>
        c.children.collectFirst {
          case p: CallContractBlock
            if Opcodes.matches(p.opcode, Opcodes.CocoonPayout) => p
        }.map { payout =>
          val excesses = c.children.collect {
            case e: CallContractBlock
              if Opcodes.matches(e.opcode, Opcodes.CocoonReturnExcesses) => e: Block
          }
          // ExtProxyPayoutRequest#7610e6eb query_id:u64 send_excesses_to
          val excessesTo = c.node.inMsg.flatMap(_.body).flatMap { b64 =>
            try {
              val s = Boc.parseBase64(b64).beginParse()
              s.loadUint(32); s.loadUint(64)
              s.loadAddress()
            } catch { case scala.util.control.NonFatal(_) => None }
          }
          val consumed = Seq(c: Block, payout) ++ excesses
          (ProtocolOpBlock("cocoon_proxy_payout",
            source = c.node.inMsg.flatMap(_.destination), // the proxy
            destination = payout.node.inMsg.flatMap(_.destination),
            asset = None, value = None,
            failed = payout.failed,
            nodes = consumed.flatMap(_.nodes), children = Nil,
            destinationSecondary = excessesTo), consumed)
        }
      case _ => None
    }
  }
  val CocoonProxyPayoutMatcher: BlockMatcher = new OpcodeChainMatcher(
    Opcodes.CocoonExtProxyPayoutRequest, None, Set(Opcodes.CocoonReturnExcesses),
    protoBlock("cocoon_proxy_payout"))
  /** Proxy charge (CocoonProxyChargeMatcher, blocks/cocoon.py:336-430):
    * ChargePayload on the PROXY with the client proxy-request and
    * excesses children; source = the proxy itself, destination = the
    * client contract, amount = 0 (no transfer). */
  object CocoonProxyChargeMatcher extends BlockMatcher {
    import graft.functions.TlbDecoders
    override val triggerOpcodes: Option[Set[Long]] =
      Some(Set(Opcodes.CocoonChargePayload))
    def tryBuild(b: Block): Option[(Block, Seq[Block])] = b match {
      case c: CallContractBlock
          if Opcodes.matches(c.opcode, Opcodes.CocoonChargePayload) =>
        val req = c.children.collectFirst {
          case r: CallContractBlock
            if Opcodes.matches(r.opcode, Opcodes.CocoonClientProxyRequest) => r
        }
        val excesses = c.children.collect {
          case e: CallContractBlock
            if Opcodes.matches(e.opcode, Opcodes.CocoonReturnExcesses) => e: Block
        }
        val body = c.node.inMsg.flatMap(_.body)
          .flatMap(safeDecode(TlbDecoders.cocoonCharge))
        // the reference requires the request leg; the request-less form
        // stays classified as the partial-trace fallback (our standing
        // full-chain-first / fallback-second pattern)
        val consumed = Seq(c: Block) ++ req.toSeq ++ excesses
        Some((ProtocolOpBlock("cocoon_proxy_charge",
          source = c.node.inMsg.flatMap(_.destination), // the proxy
          destination = req.flatMap(_.node.inMsg.flatMap(_.destination)),
          asset = None, value = None,
          failed = c.failed,
          nodes = consumed.flatMap(_.nodes), children = Nil,
          amount = Some(BigDecimal(0)),
          cocoonCharge = Some(CocoonChargeData(
            query_id = body.map(_.queryId.toString),
            new_tokens_used = body.map(x => BigDecimal(x.newTokensUsed)),
            expected_address = body.flatMap(_.expectedAddress)))), consumed))
      case _ => None
    }
  }
  val CocoonRegisterProxyMatcher: BlockMatcher = new OpcodeChainMatcher(
    Opcodes.CocoonRegisterProxy, None, Set(Opcodes.CocoonReturnExcesses),
    protoBlock("cocoon_register_proxy"))
  val CocoonUnregisterProxyMatcher: BlockMatcher = new OpcodeChainMatcher(
    Opcodes.CocoonUnregisterProxy, None, Set(Opcodes.CocoonReturnExcesses),
    protoBlock("cocoon_unregister_proxy"))
  val CocoonClientChangeSecretHashMatcher: BlockMatcher = new OpcodeChainMatcher(
    Opcodes.CocoonClientChangeSecretHash, None, Set(Opcodes.CocoonReturnExcesses),
    protoBlock("cocoon_client_change_secret_hash"))
  /** Client increase-stake (blocks/cocoon.py:933-1010): amount = the
    * decoded new_stake, source = send_excesses_to, destination = the
    * client contract; consumes the proxy request + excesses. */
  /** Client increase-stake (blocks/cocoon.py:933-1010): owner = the
    * body's send_excesses_to; failed tracks the anchor tx only — the
    * consumed ClientProxyRequest leg is "usually aborted" by design. */
  object CocoonClientIncreaseStakeMatcher extends BlockMatcher {
    import graft.functions.TlbDecoders
    override val triggerOpcodes: Option[Set[Long]] =
      Some(Set(Opcodes.CocoonClientIncreaseStake))
    def tryBuild(b: Block): Option[(Block, Seq[Block])] = b match {
      case c: CallContractBlock
          if Opcodes.matches(c.opcode, Opcodes.CocoonClientIncreaseStake) =>
        val body = c.node.inMsg.flatMap(_.body)
          .flatMap(safeDecode(TlbDecoders.cocoonIncreaseStake))
        val kids = c.children.collect {
          case e: CallContractBlock
            if Opcodes.matches(e.opcode, Opcodes.CocoonReturnExcesses) ||
              Opcodes.matches(e.opcode, Opcodes.CocoonClientProxyRequest) => e: Block
        }
        val consumed = Seq(c: Block) ++ kids
        Some((ProtocolOpBlock("cocoon_client_increase_stake",
          source = body.flatMap(_.sendExcessesTo)
            .orElse(c.node.inMsg.flatMap(_.source)),
          destination = c.node.inMsg.flatMap(_.destination),
          asset = None, value = None,
          failed = c.node.tx.aborted,
          nodes = consumed.flatMap(_.nodes), children = Nil,
          amount = body.map(x => BigDecimal(x.newStake))), consumed))
      case _ => None
    }
  }
  /** Client withdraw (blocks/cocoon.py:1013-1105): the withdraw amount
    * rides the proxy request's RefundGranted payload; the payout and
    * excesses hang under the request. */
  object CocoonClientWithdrawMatcher extends BlockMatcher {
    import graft.functions.TlbDecoders
    override val triggerOpcodes: Option[Set[Long]] =
      Some(Set(Opcodes.CocoonClientWithdraw))
    def tryBuild(b: Block): Option[(Block, Seq[Block])] = b match {
      case c: CallContractBlock
          if Opcodes.matches(c.opcode, Opcodes.CocoonClientWithdraw) =>
        val req = c.children.collectFirst {
          case r: CallContractBlock
            if Opcodes.matches(r.opcode, Opcodes.CocoonClientProxyRequest) => r
        }
        req.map { r =>
          val tail = r.children.collect {
            case p: CallContractBlock
              if Opcodes.matches(p.opcode, Opcodes.CocoonPayout) ||
                Opcodes.matches(p.opcode, Opcodes.CocoonReturnExcesses) => p: Block
          }
          val qid = c.node.inMsg.flatMap(_.body)
            .flatMap(safeDecode(TlbDecoders.opQueryId)).map(_.toString)
          val amount = r.node.inMsg.flatMap(_.body)
            .flatMap(safeDecode(TlbDecoders.cocoonRefundGrantedCoins))
            .flatten.map(BigDecimal(_)).orElse(Some(BigDecimal(0)))
          val consumed = Seq(c: Block, r) ++ tail
          (ProtocolOpBlock("cocoon_client_withdraw",
            source = c.node.inMsg.flatMap(_.source),
            destination = c.node.inMsg.flatMap(_.destination),
            asset = None, value = None,
            failed = c.failed,
            nodes = consumed.flatMap(_.nodes), children = Nil,
            amount = amount,
            cocoonClientWithdraw = Some(CocoonClientWithdrawData(
              query_id = qid, withdraw_amount = amount))), consumed)
        }
      case _ => None
    }
  }
  /** Client request-refund (blocks/cocoon.py:834-930): direct, or
    * wrapped in an OwnerWalletSendMessage hop — the wrapper sets
    * via_wallet and is consumed with the chain. */
  object CocoonClientRequestRefundMatcher extends BlockMatcher {
    import graft.functions.TlbDecoders
    override val triggerOpcodes: Option[Set[Long]] =
      Some(Set(Opcodes.CocoonClientRequestRefund))
    private def buildFrom(refund: CallContractBlock,
        wrapper: Option[CallContractBlock]): (Block, Seq[Block]) = {
      val kids = refund.children.collect {
        case e: CallContractBlock
          if Opcodes.matches(e.opcode, Opcodes.CocoonReturnExcesses) ||
            Opcodes.matches(e.opcode, Opcodes.CocoonClientProxyRequest) => e: Block
      }
      val body = refund.node.inMsg.flatMap(_.body)
        .flatMap(safeDecode(TlbDecoders.cocoonRequestRefund))
      val consumed = wrapper.toSeq.map(w => w: Block) ++
        Seq(refund: Block) ++ kids
      (ProtocolOpBlock("cocoon_client_request_refund",
        // source = the body's send_excesses_to — the owner, NOT the
        // message source (blocks/cocoon.py:888-891 + fill :1144)
        source = body.flatMap(_.sendExcessesTo)
          .orElse(refund.node.inMsg.flatMap(_.source)),
        destination = refund.node.inMsg.flatMap(_.destination),
        asset = None, value = None,
        // failed tracks the refund anchor's tx only (:909)
        failed = refund.node.tx.aborted,
        nodes = consumed.flatMap(_.nodes), children = Nil,
        cocoonRefund = Some(CocoonRequestRefundData(
          query_id = body.map(_.queryId.toString),
          via_wallet = Some(wrapper.nonEmpty)))), consumed)
    }
    def tryBuild(b: Block): Option[(Block, Seq[Block])] = b match {
      case w: CallContractBlock
          if Opcodes.matches(w.opcode, Opcodes.CocoonOwnerWalletSendMessage) =>
        w.children.collectFirst {
          case r: CallContractBlock
            if Opcodes.matches(r.opcode, Opcodes.CocoonClientRequestRefund) => r
        }.map(r => buildFrom(r, Some(w)))
      case r: CallContractBlock
          if Opcodes.matches(r.opcode, Opcodes.CocoonClientRequestRefund) =>
        Some(buildFrom(r, None))
      case _ => None
    }
  }

  /** NFT mint — the INTERFACE-AWARE matcher (reference
    * NftMintBlockMatcher, blocks/nft.py:367-391: a block with exactly one
    * contract deployment whose address resolves to an nft_item via the
    * interface repository). The repository becomes data here: the
    * per-trace interface map is pre-joined and passed into classify —
    * no IO inside matchers (SURVEY §7.1 M4). */
  final class NftMintMatcher(interfaces: Map[String, String],
      nftItems: Map[String, NftItemInfo]) extends BlockMatcher {
    def tryBuild(b: Block): Option[(Block, Seq[Block])] = b match {
      case (_: CallContractBlock | _: TonTransferBlock) =>
        val deploys = b.children.collect { case d: ContractDeployBlock => d }
        deploys match {
          case Seq(d) if interfaces.get(d.node.tx.account).contains("nft_item") =>
            val consumed = Seq(b, d)
            val item = d.node.tx.account
            val info = nftItems.get(item)
            // asset = collection, asset_secondary = the item itself
            // (_fill_nft_mint_action, block_tree_serializer.py:267-277)
            Some((ProtocolOpBlock("nft_mint",
              b.nodes.head.inMsg.flatMap(_.source), Some(item),
              asset = info.flatMap(_.collection).orElse(Some(item)),
              value = b.nodes.head.inMsg.map(m => BigDecimal(m.value)),
              failed = b.failed, nodes = consumed.flatMap(_.nodes), Nil,
              assetSecondary = Some(item),
              nftMint = Some(NftMintData(info.flatMap(_.index)))),
              consumed))
          case _ => None
        }
      case _ => None
    }
  }

  /** Registry — order matters (jetton before swap-level matchers, which
    * consume jetton_transfer blocks produced in earlier rounds; mint
    * after transfer so only orphan internal_transfers remain; opcode-chain
    * protocol matchers run after the jetton family so their auxiliary
    * sets never steal jetton opcodes). */
  val registry: Seq[BlockMatcher] =
    // TONStakers deposit + delayed-withdrawal run BEFORE the jetton family
    // (event_processing.py:211-227): the deposit consumes its MintJettons
    // internal_transfer leg, which JettonMintMatcher would otherwise
    // rewrite into an orphan jetton_mint first. The burn-anchored
    // withdraw matcher stays second-pass (it needs JettonBurnBlock).
    Seq(TonstakersDelayedWithdrawalMatcher, TonstakersDepositMatcher,
      PTonTonTransferMatcher,
      JettonTransferMatcher, JettonBurnMatcher, NftTransferMatcher,
      // BEFORE the standalone internal→mint rewrite: the ethena unstake
      // chain's internal_transfer survives the transfer matcher's
      // repository refusal (internal goes to the master — no wallet
      // row), and the reference runs EthenaWithdrawalRequest before
      // JettonMintBlockMatcher (event_processing.py:251-253) so the
      // mint rewrite can't steal the orphan leg first
      EthenaWithdrawalRequestMatcher,
      JettonMintMatcher,
      StonfiV1FullSwapMatcher, StonfiV2FullSwapMatcher,
      StonfiSwapMatcher, StonfiV2SwapMatcher,
      DedustFullSwapMatcher, DedustSwapMatcher,
      TonstakersWithdrawMatcher,
      ElectionDepositMatcher, ElectionRecoverMatcher,
      MultisigCreateOrderMatcher, MultisigApproveMatcher,
      MultisigExecuteMatcher, ChangeDnsMatcher, DnsReleaseMatcher,
      VestingSendMessageMatcher, VestingAddWhitelistMatcher,
      SubscribeMatcher, UnsubscribeMatcher,
      DedustDepositLiquidityMatcher, DedustDepositFirstAssetMatcher,
      StonfiV2ProvideLpMatcher, StonfiProvideLpMatcher,
      StonfiV2WithdrawLiquidityMatcher, DexWithdrawLiquidityMatcher,
      TeleitemStartAuctionMatcher, AuctionBidMatcher,
      AuctionOutbidMatcher, NftDiscoveryMatcher,
      JvaultStakeFullMatcher, JvaultStakeMatcher,
      JvaultUnstakeMatcher, JvaultUnstakeRequestMatcher, JvaultClaimMatcher,
      ToncoFullSwapMatcher, ToncoSwapMatcher,
      ToncoDeployPoolMatcher,
      ToncoWithdrawLiquidityFullMatcher, ToncoWithdrawLiquidityMatcher,
      ToncoDepositLiquidityMatcher,
      EvaaSupplyMatcher, EvaaWithdrawMatcher, EvaaLiquidateMatcher,
      CoffeeFullSwapMatcher, CoffeeSwapMatcher,
      // creator stage must land before the create-pool completion pass
      CoffeeCreatePoolCreatorMatcher, CoffeeCreatePoolMatcher,
      CoffeeDepositLiquidityFullMatcher,
      CoffeeDepositLiquidityMatcher, CoffeeWithdrawLiquidityMatcher,
      CoffeeCreateVaultMatcher,
      CoffeeMevProtectMatcher,
      CoffeeStakingDepositMatcher, CoffeeStakingWithdrawMatcher,
      CoffeeStakingClaimRewardsMatcher,
      LayerZeroSendMatcher, LayerZeroCommitPacketMatcher,
      LayerZeroReceiveMatcher, LayerZeroDvnVerifyMatcher,
      LayerZeroSendTokensMatcher,
      new JettonMintCallMatcher(Opcodes.JettonMint),
      new JettonMintCallMatcher(Opcodes.MinterJettonMint),
      // tgBTC runs AFTER the jetton-mint rewrite (the mint full chain
      // requires the typed jetton_mint child); full chains first, the
      // event-anchored matchers stay as log-only fallbacks for partial
      // traces (blocks/tgbtc.py:335-452)
      TgbtcMintFullMatcher, TgbtcBurnFullMatcher,
      TgbtcMintMatcher, TgbtcBurnMatcher,
      TgbtcNewKeyFullMatcher, TgbtcNewKeyMatcher,
      TgbtcDkgLogMatcher,
      // full-context cocoon chains first; opcode-chain fallbacks below
      // keep partial traces classified
      CocoonWorkerPayoutFullMatcher, CocoonClientTopUpFullMatcher,
      CocoonClientRegisterFullMatcher, CocoonGrantRefundFullMatcher,
      CocoonProxyPayoutFullMatcher,
      CocoonPayoutMatcher, CocoonClientTopUpMatcher,
      CocoonClientRegisterMatcher, CocoonGrantRefundMatcher,
      CocoonProxyPayoutMatcher, CocoonProxyChargeMatcher,
      CocoonRegisterProxyMatcher, CocoonUnregisterProxyMatcher,
      CocoonClientChangeSecretHashMatcher, CocoonClientIncreaseStakeMatcher,
      CocoonClientWithdrawMatcher, CocoonClientRequestRefundMatcher,
      // LAST: the generic transfer-in→transfer-out heuristic is NOT a
      // reference matcher — it exists for context-free fixtures only and
      // must never steal legs from the protocol-specific swap chains
      // above (it broke the dedust-in-coffee golden traces when it ran
      // before them)
      JettonSwapMatcher,
      GhostJettonTransferMatcher)

  /** Trace post-processor analogue of post_process_dedust_liquidity
    * (liquidity.py:473-508): when the SAME trace carries both the
    * first-asset partial deposit and the final deposit against one
    * deposit contract, merge the partial into the final — one
    * dex_deposit_liquidity action spanning both legs. Mirrors the
    * reference's guards: more than two deposits per contract ⇒ skip
    * merging entirely; a partial without its final (or vice versa)
    * stands alone. */
  def mergeDedustDeposits(root: RootBlock): RootBlock = {
    val deposits = root.bfs.drop(1).collect {
      case p: ProtocolOpBlock
        if p.btype == "dex_deposit_liquidity" && p.dex.contains("dedust") => p
    }
    if (deposits.size < 2) return root
    def hasOp(p: ProtocolOpBlock, op: Long): Boolean =
      p.nodes.exists(_.inMsg.flatMap(_.opcode)
        .exists(o => Opcodes.matches(Some(o), op)))
    // The deposit-contract key: deploy/top-up land ON the deposit
    // contract (tx.account), but deposit-to-pool lands on the POOL — for
    // that leg the deposit contract is the message's SOURCE. Keying the
    // pool account would split the two legs into different groups.
    def contractOf(p: ProtocolOpBlock): Option[String] =
      p.nodes.find(_.inMsg.flatMap(_.opcode).exists(o =>
          Opcodes.matches(Some(o), Opcodes.DedustDeployDepositContract) ||
          Opcodes.matches(Some(o), Opcodes.DedustTopUpDepositContract)))
        .map(_.tx.account)
        .orElse(p.nodes.find(_.inMsg.flatMap(_.opcode).exists(o =>
            Opcodes.matches(Some(o), Opcodes.DedustDepositToPool)))
          .flatMap(_.inMsg.flatMap(_.source)))
    val byContract = deposits.flatMap(p => contractOf(p).map(_ -> p))
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    if (byContract.values.exists(_.size > 2)) return root
    val merges = byContract.values.flatMap { vs =>
      // Discriminate on the op only the FINAL leg carries: deposit-to-pool
      // (liquidity.py:335-370). Both legs may route through the factory
      // ask 0xf04ec526, so partitioning on it would leave finals empty and
      // silently skip the merge.
      val (finals, partials) =
        vs.partition(hasOp(_, Opcodes.DedustDepositToPool))
      (partials.headOption, finals.headOption) match {
        // nested one inside the other would double-count — merge only
        // disjoint sibling subtrees (the reference's blocks are flat)
        case (Some(par), Some(fin))
          if !par.bfs.exists(_ eq fin) && !fin.bfs.exists(_ eq par) =>
          Some((par, fin))
        case _ => None
      }
    }.toSeq
    if (merges.isEmpty) return root
    val dropped = new java.util.IdentityHashMap[Block, Boolean]()
    val replaced = new java.util.IdentityHashMap[Block, Block]()
    // the partial's INITIATING node joins the merged node set when it
    // differs from the final's (liquidity.py:500-502) — tx_hashes and
    // min_lt then span the first leg's wallet call too
    val parentOf: Map[String, TxNode] = {
      val mb = Map.newBuilder[String, TxNode]
      val seen = scala.collection.mutable.Set[String]()
      def walkNode(n: TxNode): Unit =
        if (seen.add(n.tx.hash))
          n.children.foreach { c => mb += (c.tx.hash -> n); walkNode(c) }
      root.bfs.foreach(_.nodes.foreach(walkNode))
      mb.result()
    }
    merges.foreach { case (par, fin) =>
      dropped.put(par, true)
      val parInitiating = parentOf.get(par.anchorNode.tx.hash)
      val finInitiating = parentOf.get(fin.anchorNode.tx.hash)
      val extraInit = parInitiating
        .filter(p => finInitiating.forall(_.tx.hash != p.tx.hash)).toSeq
      val mergedNodes = (fin.nodes ++ par.nodes ++ extraInit)
        .foldLeft(Vector.empty[TxNode]) { (acc, n) =>
          if (acc.exists(_.tx.hash == n.tx.hash)) acc else acc :+ n
        }
      // combine_deposits (liquidity.py:510-560): the FIRST deposit's
      // assets take the leading slots; a final-leg asset equal to a
      // first-leg one merges by amount sum; target assets reorder to the
      // combined tuple order while target AMOUNTS stay the final's.
      val mergedDetail = (fin.depositLiquidity, par.depositLiquidity) match {
        case (Some(f), Some(pd)) =>
          var tuples = Vector.empty[(Option[String], Option[BigDecimal], Option[String])]
          def addLeg(asset: Option[String], amount: Option[BigDecimal],
              wallet: Option[String], fromFinal: Boolean): Unit =
            if (amount.nonEmpty || asset.nonEmpty) {
              tuples.indexWhere(_._1 == asset) match {
                case i if i >= 0 && fromFinal =>
                  val (a, am, w) = tuples(i)
                  tuples = tuples.updated(i, (a,
                    Some(am.getOrElse(BigDecimal(0)) +
                      amount.getOrElse(BigDecimal(0))),
                    wallet.orElse(w)))
                case _ =>
                  tuples = tuples :+ ((asset, amount, wallet))
              }
            }
          addLeg(pd.asset1, pd.amount1, pd.user_jetton_wallet_1, fromFinal = false)
          addLeg(pd.asset2, pd.amount2, pd.user_jetton_wallet_2, fromFinal = false)
          addLeg(f.asset1, f.amount1, f.user_jetton_wallet_1, fromFinal = true)
          addLeg(f.asset2, f.amount2, f.user_jetton_wallet_2, fromFinal = true)
          val t1 = tuples.lift(0)
          val t2 = tuples.lift(1)
          Some(f.copy(
            asset1 = t1.flatMap(_._1), amount1 = t1.flatMap(_._2),
            user_jetton_wallet_1 = t1.flatMap(_._3),
            asset2 = t2.flatMap(_._1), amount2 = t2.flatMap(_._2),
            user_jetton_wallet_2 = t2.flatMap(_._3),
            target_asset_1 = t1.flatMap(_._1),
            target_asset_2 = t2.flatMap(_._1),
            lp_tokens_minted = f.lp_tokens_minted))
        case (f, pd) => f.orElse(pd)
      }
      replaced.put(fin, fin.copy(nodes = mergedNodes,
        children = fin.children ++ par.children,
        failed = fin.failed || par.failed,
        depositLiquidity = mergedDetail))
    }
    def walk(b: Block): Seq[Block] =
      if (dropped.containsKey(b)) Nil // its children ride with the final
      else {
        val r = Option(replaced.get(b): Block).getOrElse(b)
        Seq(r.withChildren(r.children.flatMap(walk)))
      }
    RootBlock(root.children.flatMap(walk))
  }

  /** Registry with the interface-dependent matchers appended (the
    * per-trace interface map is classify-call state, not global). */
  def registryWith(interfaces: Map[String, String]): Seq[BlockMatcher] =
    registryWith(interfaces, Map.empty, Map.empty)

  def registryWith(interfaces: Map[String, String],
      jettonWallets: Map[String, String]): Seq[BlockMatcher] =
    registryWith(interfaces, jettonWallets, Map.empty)

  /** Registry with the per-trace jetton-wallet repository applied: the
    * matchers that resolve asset identity (StonFi v2 swap/withdraw,
    * DeDust first-asset deposit) are swapped for resolver-bound
    * instances — the Scala analogue of the reference's
    * interface_repository.get_jetton_wallet lookups (swaps.py:338-352,
    * liquidity.py asset resolution). */
  def registryWith(interfaces: Map[String, String],
      jettonWallets: Map[String, String],
      nftItems: Map[String, NftItemInfo]): Seq[BlockMatcher] =
    registryForDims(Some(interfaces).filter(_.nonEmpty),
      Some(jettonWallets).filter(_.nonEmpty),
      Some(nftItems).filter(_.nonEmpty))

  def registryWith(interfaces: Map[String, String],
      jettonWallets: Map[String, String],
      nftItems: Map[String, NftItemInfo],
      walletOwners: Map[String, String]): Seq[BlockMatcher] =
    registryForDims(Some(interfaces).filter(_.nonEmpty),
      Some(jettonWallets).filter(_.nonEmpty),
      Some(nftItems).filter(_.nonEmpty), walletOwners)

  /** Registry for the DataFrame-dims classify path (ClassifyJob cogroup):
    * a PROVIDED dim (`Some`, even with an empty per-trace map) binds its
    * resolver variant, so a trace with no dim hits behaves exactly like
    * the global-map path with lookup misses; an absent dim (`None`)
    * keeps the plain matcher. */
  def registryForDims(interfaces: Option[Map[String, String]],
      jettonWallets: Option[Map[String, String]],
      nftItems: Option[Map[String, NftItemInfo]],
      walletOwners: Map[String, String] = Map.empty): Seq[BlockMatcher] = {
    val base = jettonWallets match {
      case None => registry
      case Some(jw) =>
        val resolve = assetResolver(jw)
        val owner = (w: String) => walletOwners.get(w)
        registry.map {
          case m if m eq JettonTransferMatcher =>
            new JettonTransferResolvedMatcher(resolve, owner, repo = true)
          case m if m eq JettonBurnMatcher =>
            new JettonBurnResolvedMatcher(resolve, owner, repo = true)
          case m if m eq StonfiV2SwapMatcher => stonfiV2SwapMatcher(resolve)
          case m if m eq StonfiV2FullSwapMatcher => new StonfiV2FullSwap(resolve)
          case m if m eq StonfiV1FullSwapMatcher =>
            // v1 resolves RAW masters — a pTON wrapper stays the wrapper
            // master (swaps.py:128-136 uses wallet.jetton directly; the
            // expected out asset of a Jetton→TON v1 swap IS the pTON
            // master, stonfi-swaps.yaml)
            new StonfiV1FullSwap(w => jw.get(w), owner)
          case m if m eq ToncoFullSwapMatcher => new ToncoFullSwap(resolve)
          case m if m eq StonfiV2WithdrawLiquidityMatcher =>
            new StonfiV2WithdrawMatcher(resolve)
          case m if m eq DedustDepositFirstAssetMatcher =>
            new DedustFirstAssetMatcher(resolve)
          case m if m eq DedustDepositLiquidityMatcher =>
            new DedustDepositFinal(resolve)
          case m if m eq GhostJettonTransferMatcher =>
            new GhostJettonTransfer(w => jw.get(w))
          case m if m eq EthenaWithdrawalRequestMatcher =>
            new EthenaWithdrawalRequest(resolve)
          case m if m eq DedustFullSwapMatcher =>
            new DedustFullSwap(resolve)
          case m: JettonMintCallMatcher =>
            new JettonMintCallMatcher(m.mintOp, owner, resolve, repo = true)
          case m if m eq ToncoDepositLiquidityMatcher =>
            new ToncoDepositLiquidityFull(resolve)
          case m if m eq ToncoWithdrawLiquidityFullMatcher =>
            new ToncoWithdrawLiquidityFull(resolve)
          case m => m
        }
    }
    val withNft = nftItems match {
      case None => base
      case Some(ni) => base.map {
        case m if m eq NftTransferMatcher => new NftTransferMatcherWith(ni)
        case m => m
      }
    }
    val resolveOpt: String => Option[String] =
      w => jettonWallets.flatMap(_.get(w))
    interfaces match {
      case None =>
        if (jettonWallets.isEmpty) withNft
        // repository-only gating (no interface rows): the full gated set
        // still applies with an empty interface map — pTON and the
        // master-gated matchers (e.g. Ethena deposit) resolve purely
        // through the jetton-wallet repository (jettons.py:131-135,
        // ethena_staking.py:135-147); interface-anchored matchers simply
        // never fire
        else registryGated(withNft, Map.empty,
          nftItems.getOrElse(Map.empty), resolveOpt)
      case Some(ifc) =>
        // in-place swaps: matchers whose ANCHOR the interface refines
        // must be replaced (an appended variant would never fire — the
        // unbound instance consumes the anchor first)
        val bound = withNft.map {
          case m if m eq JvaultUnstakeMatcher =>
            new JvaultUnstakeFull(Opcodes.JvaultUnstakeJettons,
              "jvault_unstake", ifc)
          case m if m eq JvaultUnstakeRequestMatcher =>
            new JvaultUnstakeFull(Opcodes.JvaultUnstakeRequest,
              "jvault_unstake_request", ifc)
          case m => m
        }
        registryGated(bound, ifc, nftItems.getOrElse(Map.empty), resolveOpt)
    }
  }

  /** Splice the pTON rewrite DIRECTLY AFTER the jetton-transfer matcher
    * — the reference runs PTonTransferMatcher at that position
    * (event_processing.py:224-225), and the v1/tonco swap matchers that
    * follow rely on the rewritten TON legs. */
  private def splicePton(ms: Seq[BlockMatcher],
      pton: BlockMatcher): Seq[BlockMatcher] =
    ms.flatMap {
      case m: JettonTransferResolvedMatcher => Seq(m, pton)
      case m if m eq JettonTransferMatcher => Seq(m, pton)
      case m => Seq(m)
    }

  private def registryGated(withNft: Seq[BlockMatcher],
      interfaces: Map[String, String],
      nftItems: Map[String, NftItemInfo],
      resolveAsset: String => Option[String] = _ => None): Seq[BlockMatcher] =
    // NftMintBlockMatcher runs FIRST in the reference registry
    // (event_processing.py:209-210) — the tonstakers withdrawal-request
    // and coffee staking families consume the typed nft_mint it builds
    Seq(new NftMintMatcher(interfaces, nftItems)) ++
    splicePton(withNft,
      new PTonTransferMatcher(interfaces, resolveAsset)) ++ Seq(
      CoffeeStakingDepositMatcher,
      new NftPurchaseMatcher(interfaces),
      new EthenaDepositMatcher(interfaces, resolveAsset),
      new NominatorPoolDepositMatcher(interfaces),
      new NominatorPoolWithdrawRequestMatcher(interfaces),
      new NominatorPoolWithdrawMatcher(interfaces),
      new NftPutOnSaleMatcher(interfaces),
      new NftCancelSaleMatcher(interfaces),
      new NftCancelAuctionMatcher(interfaces),
      new UpdateSaleMatcher(interfaces),
      // finish-over-purchase needs NftPurchaseMatcher's output
      new NftFinishAuctionMatcher(interfaces),
      new TeleitemCancelAuctionMatcher(interfaces),
      // dns purchase rewrites auction_bid blocks (AuctionBidMatcher ran)
      new DnsPurchaseMatcher(interfaces),
      new TelegramNftPurchaseMatcher(interfaces, nftItems))
}
