package graft.classifier

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.functions._

/** Flattened tx⟕msg row of [[ClassifyJob.Wide]], the trace-group
  * encoder's row for any input frame (must be visible to Catalyst
  * codegen — do not make private). */
case class ClassifyInputRow(
      trace_id: String, hash: String, account: String, lt: Long, now: Int,
      orig_status: String, end_status: String, aborted: Boolean,
      compute_exit_code: Option[Int], action_result_code: Option[Int],
      total_fees: Long, descr: String,
      msg_hash: Option[String], direction: Option[String],
      source: Option[String], destination: Option[String],
      value: Option[Long], opcode: Option[Long],
    bounce: Option[Boolean], bounced: Option[Boolean],
    created_lt: Option[Long], body: Option[String],
    init_state: Option[String],
    mc_block_seqno: Option[Int] = None,
    msg_seq: Option[Int] = None,
    created_at: Option[Long] = None)

/** Narrow tx⟕msg row of [[ClassifyJob.Chain]]: 15 fields instead of
  * 25, and no Option wrappers (nullable leaves are boxed Java types).
  * The columns it drops are the chain constants; the Chain adapter
  * checks them in the scan and re-injects them in the group function,
  * so the matcher sweep sees the same TxLite/MsgLite as through
  * [[ClassifyInputRow]] (ChainShapeSpec). Must be visible to Catalyst
  * codegen — do not make private. */
case class ChainInputRow(
    trace_id: String, hash: String, account: String, lt: Long, now: Int,
    mc_block_seqno: Int, orig_status: String,
    msg_hash: String, direction: String,
    source: String, destination: String,
    value: java.lang.Long, opcode: java.lang.Long,
    created_lt: java.lang.Long, body: String)

/** Row adapter of the one classify scaffold: the tx⟕msg row the
  * trace-group encoder decodes, the join projection that produces it,
  * and the row → TxLite / MsgLite functions the group function applies.
  * Two values: [[ClassifyJob.Wide]] reads any frame,
  * [[ClassifyJob.Chain]] reads frames that hold the chain constants and
  * fails the job on a row that does not. */
sealed abstract class RowAdapter[R] extends Serializable {
  def encoder: Encoder[R]
  /** txs(+trace_id) ⟕ messages, projected to the fields of R. */
  def joined(txs: DataFrame, messages: DataFrame): DataFrame
  def hash(r: R): String
  def tx(r: R): TxLite
  /** None on the null side of a message-less tx. */
  def msg(r: R): Option[MsgLite]
}

/** DataFrame-backed dimension feed for the classifier (SURVEY §2.9 G6;
  * the reference's Redis interface repository,
  * interface_repository.py:512-533). Each frame keys on an account
  * address that occurs in the trace (tx account or message endpoint) —
  * every matcher lookup key is such an address — so the classify job can
  * pre-join trace accounts → dims and deliver a per-trace map through
  * the trace_id shuffle. No dim is ever collected to the driver or
  * broadcast whole: at the design scale (≤10⁹ dim rows, LAYOUT.md)
  * these joins shuffle on uniformly-hashed addresses.
  *
  * Expected schemas (extra columns ignored; keys must be unique):
  *  - interfaces(account, interface)
  *  - jettonWallets(account, master[, owner]) — owner optional; when
  *    present it feeds the owner-validation checks (the reference marks
  *    a jetton transfer `broken` when the stated owner disagrees with
  *    the JettonWallet row, jettons.py:75-77)
  *  - nftItems(account, item_index, collection)
  */
case class ClassifyDims(
    interfaces: Option[DataFrame] = None,
    jettonWallets: Option[DataFrame] = None,
    nftItems: Option[DataFrame] = None) {
  def isEmpty: Boolean =
    interfaces.isEmpty && jettonWallets.isEmpty && nftItems.isEmpty
}

/** Per-trace dim maps delivered through the cogroup — only traces with
  * at least one dim hit materialize a row. Must stay public for the
  * Catalyst encoder. */
case class TraceDims(trace_id: String,
    ifaces: Map[String, String],
    jw: Map[String, String],
    nft: Map[String, NftItemInfo],
    owners: Map[String, String])

/** Spark integration of the classifier (SURVEY §3.3 Spark shape):
  * traces ⋈ transactions ⋈ messages → group by trace_id →
  * flatMapGroups(classify) → actions. The reference's Redis interface
  * repository becomes a pre-joined per-trace map (no IO inside matchers).
  *
  * One path: one grouping scaffold (`classifyFlat`, a flatMapGroups arm
  * and a dims cogroup arm) and one group function (`classifyGroup`).
  * A [[RowAdapter]] picks the row the group encoder decodes: [[Wide]]
  * for any frame, [[Chain]] for ChainSim frames, whose constant columns
  * it checks in the scan and drops from the encoder.
  *
  * Scale: one shuffle on trace_id; per-group work is bounded by the
  * 4000-node big-trace cutoff, so no group can straggle unboundedly.
  */
object ClassifyJob {

  import org.apache.spark.sql.catalyst.encoders.{AgnosticEncoder, AgnosticEncoders, ExpressionEncoder}

  /** The derived product encoder maps scala BigDecimal to the SYSTEM
    * default Decimal(38,18) — 18 fractional digits an integer token
    * amount never uses, and only 20 integer digits, which real mainnet
    * jetton amounts (1e24+) overflow. All classifier money fields are
    * integer base units (the reference stores them as NUMERIC scale 0;
    * Schemas.amount = DecimalType(38,0)), so rewrite every decimal leaf
    * of the encoder tree to (38,0).
    *
    * ≤38-digit invariant: a BigDecimal wider than 38 integer digits
    * FAILS the encoder loudly (EXPRESSION_ENCODING_FAILED — verified in
    * TypedActionsSpec), so an overflow can never silently corrupt or
    * null a money column. The reference stores these columns as
    * unbounded Postgres NUMERIC, so 38 digits is a deliberate cap, not
    * parity: Coins (≤1e38) and uint64 amounts always fit; the two
    * uint128-shaped fields (TONCO liquidity, initial_price_x96 ≈
    * sqrt_price·2^96 ~ 1e29 for unit-price pools) fit for every value
    * observed on chain but CAN exceed the cap for degenerate price
    * ratios — such a trace would fail its classify task visibly. If
    * that ever bites, move the column to a string like the uint256
    * hash fields. */
  private def integerDecimals(e: AgnosticEncoder[_]): AgnosticEncoder[_] =
    e match {
      case AgnosticEncoders.ScalaDecimalEncoder(_) =>
        AgnosticEncoders.ScalaDecimalEncoder(
          org.apache.spark.sql.types.DecimalType(38, 0))
      case AgnosticEncoders.JavaDecimalEncoder(_, lenient) =>
        AgnosticEncoders.JavaDecimalEncoder(
          org.apache.spark.sql.types.DecimalType(38, 0), lenient)
      case p: AgnosticEncoders.ProductEncoder[_] =>
        p.copy(fields = p.fields.map(f => f.copy(enc = integerDecimals(f.enc))))
      case AgnosticEncoders.OptionEncoder(inner) =>
        AgnosticEncoders.OptionEncoder(integerDecimals(inner))
      case it: AgnosticEncoders.IterableEncoder[_, _] =>
        it.copy(element = integerDecimals(it.element))
      case arr: AgnosticEncoders.ArrayEncoder[_] =>
        arr.copy(element = integerDecimals(arr.element))
      case m: AgnosticEncoders.MapEncoder[_, _, _] =>
        m.copy(keyEncoder = integerDecimals(m.keyEncoder),
          valueEncoder = integerDecimals(m.valueEncoder))
      case other => other
    }

  /** ActionRow encoder with Decimal(38,0) money columns — use this (not
    * the implicit product encoder) wherever a Dataset[ActionRow] is
    * materialized from classify output. */
  implicit lazy val actionRowEncoder: org.apache.spark.sql.Encoder[ActionRow] =
    ExpressionEncoder(integerDecimals(
      org.apache.spark.sql.catalyst.ScalaReflection.encoderFor[ActionRow])
      .asInstanceOf[AgnosticEncoder[ActionRow]])

  /** transactions(+trace_id) ⟕ messages → actions DataFrame. The
    * optional dim frames replace the reference's Redis interface
    * repository: pre-joined per trace, read inside the per-trace
    * groups — no IO inside matchers (J12/S6).
    *
    * Shuffle shape, measured both ways: this wide join replicates the 12
    * tx columns onto every message row through the trace_id shuffle. The
    * alternative — messages pick up trace_id via a narrow (tx_hash →
    * trace_id) join, then tx and message Datasets cogroup on trace_id —
    * shuffles fewer bytes (tx attributes cross once) but costs one more
    * stage, a second per-partition sort, and a second evaluation of the
    * txs lineage. At sf0.1 bench scale the two are a wash; on micro-batch
    * pipelines (incremental assembly → classify per batch) the cogroup
    * form measured ~4-5× slower end-to-end, so the join form stays. At
    * extreme message multiplicity revisit the cogroup with the txs side
    * pre-materialized. */
  def run(spark: SparkSession, txs: DataFrame, messages: DataFrame,
      dims: ClassifyDims = ClassifyDims()): Dataset[ActionRow] = {
    classifyFlat(spark, txs, messages, dims, Wide)((a, _) => a)(actionRowEncoder)
  }

  /** The wide adapter: [[ClassifyInputRow]], every column the matchers
    * read, with the reference's null defaults applied in the join
    * projection. Reads any transactions/messages frame. */
  object Wide extends RowAdapter[ClassifyInputRow] {
    def encoder: Encoder[ClassifyInputRow] = Encoders.product[ClassifyInputRow]

    def joined(txs: DataFrame, messages: DataFrame): DataFrame =
      txs.select(
          col("trace_id"), col("hash"), col("account"), col("lt"), col("now"),
          coalesce(col("orig_status"), lit("active")).as("orig_status"),
          coalesce(col("end_status"), lit("active")).as("end_status"),
          coalesce(col("aborted"), lit(false)).as("aborted"),
          col("compute_exit_code"), col("action_result_code"),
          coalesce(col("total_fees"), lit(0L)).as("total_fees"),
          coalesce(col("descr"), lit("ord")).as("descr"),
          optional(txs, "mc_block_seqno", "int"))
        .join(messages.select(col("tx_hash").as("hash"), col("msg_hash"),
          col("direction"), col("source"), col("destination"), col("value"),
          col("opcode"), col("bounce"), col("bounced"), col("created_lt"),
          optional(messages, "body", "string"),
          optional(messages, "init_state", "string"),
          optional(messages, "msg_seq", "int"),
          (if (messages.columns.contains("created_at"))
            col("created_at").cast("long")
           else lit(null).cast("long")).as("created_at")),
          Seq("hash"), "left")

    def hash(r: ClassifyInputRow): String = r.hash

    def tx(r: ClassifyInputRow): TxLite =
      TxLite(r.hash, r.account, r.lt, r.now, r.orig_status, r.end_status,
        r.aborted, r.compute_exit_code, r.action_result_code,
        r.total_fees, r.descr, r.mc_block_seqno)

    def msg(r: ClassifyInputRow): Option[MsgLite] =
      r.msg_hash.map(m => MsgLite(m, r.direction.getOrElse("in"),
        r.source, r.destination, r.value.getOrElse(0L), r.opcode,
        r.bounce.getOrElse(false), r.bounced.getOrElse(false),
        r.created_lt, r.body, r.init_state, createdAt = r.created_at,
        seqNo = r.msg_seq))
  }

  /** Column `c` of `df`, or a null of type `tpe` when `df` lacks it. */
  private def optional(df: DataFrame, c: String, tpe: String): Column =
    (if (df.columns.contains(c)) col(c) else lit(null).cast(tpe)).as(c)

  /** The chain adapter: [[ChainInputRow]], for frames whose dropped
    * columns hold the chain constants below (every ChainSim frame writes
    * them through these same values). It decodes 15 fields per row and
    * re-injects the constants in [[tx]]/[[msg]]; measured 1.2-1.45× on
    * the ChainSim classify variants against [[Wide]] (r17).
    *
    * The constants are checked, not trusted: the join projection filters
    * each frame through a `raise_error` that fails the job, naming the
    * column, on the first row holding anything but null or the constant
    * (the values [[Wide]] would see after its null defaults). The check
    * runs in the same scan; its only cost is reading the constant
    * columns. A frame lacking one fails analysis, as under [[Wide]]; a
    * messages frame with a column the row has no field for
    * (`init_state`, `msg_seq`, `created_at`) is rejected when the plan
    * is built. */
  object Chain extends RowAdapter[ChainInputRow] {
    val EndStatus = "active"
    val Aborted = false
    val TotalFees = 0L
    val Descr = "ord"
    /** bounce and bounced alike */
    val Bounce = false

    /** Dropped tx columns, each with its constant as a typed literal —
      * the column ChainSim writes and the check compares against. */
    def txConstants: Seq[(String, Column)] = Seq(
      "end_status" -> lit(EndStatus), "aborted" -> lit(Aborted),
      "compute_exit_code" -> lit(null).cast("int"),
      "action_result_code" -> lit(null).cast("int"),
      "total_fees" -> lit(TotalFees), "descr" -> lit(Descr))

    /** Dropped message columns, as [[txConstants]]. */
    def msgConstants: Seq[(String, Column)] = Seq(
      "bounce" -> lit(Bounce), "bounced" -> lit(Bounce))

    def encoder: Encoder[ChainInputRow] = Encoders.product[ChainInputRow]

    def joined(txs: DataFrame, messages: DataFrame): DataFrame = {
      // MsgLite fields the row does not carry
      Seq("init_state", "msg_seq", "created_at").foreach(c =>
        require(!messages.columns.contains(c),
        s"ClassifyJob.Chain drops the messages column '$c'; classify " +
          "this frame through ClassifyJob.Wide"))
      checked(txs, txConstants).select(col("trace_id"), col("hash"),
          col("account"), col("lt"), col("now"), col("mc_block_seqno"),
          coalesce(col("orig_status"), lit("active")).as("orig_status"))
        .join(checked(messages, msgConstants).select(
          col("tx_hash").as("hash"), col("msg_hash"),
          col("direction"), col("source"), col("destination"), col("value"),
          col("opcode"), col("created_lt"),
          optional(messages, "body", "string")),
          Seq("hash"), "left")
    }

    /** `df` with each constant column checked row by row. */
    private def checked(df: DataFrame,
        constants: Seq[(String, Column)]): DataFrame =
      df.filter(constants.map { case (c, v) =>
        when(col(c).isNull || (col(c) <=> v), lit(true)).otherwise(
          raise_error(lit(s"ClassifyJob.Chain: column '$c' holds a value " +
            s"other than null or $v; classify this frame through " +
            "ClassifyJob.Wide")))
      }.reduce(_ && _))

    def hash(r: ChainInputRow): String = r.hash

    def tx(r: ChainInputRow): TxLite =
      TxLite(r.hash, r.account, r.lt, r.now, r.orig_status, EndStatus,
        Aborted, None, None, TotalFees, Descr, Some(r.mc_block_seqno))

    // the nullable leaves mirror Wide's defaults (direction 'in', value 0)
    def msg(r: ChainInputRow): Option[MsgLite] =
      Option(r.msg_hash).map(m => MsgLite(m,
        if (r.direction == null) "in" else r.direction,
        Option(r.source), Option(r.destination),
        if (r.value == null) 0L else r.value.longValue(),
        Option(r.opcode).map(_.longValue()),
        bounce = Bounce, bounced = Bounce,
        Option(r.created_lt).map(_.longValue()), Option(r.body)))
  }

  /** The grouping scaffold: classify each trace and emit per action
    * through the CALLER'S encoder — the narrow-output path projects
    * before any encoding happens. The emit callback also receives the
    * trace's classification_state (ok/failed/broken/unclassified) so
    * narrow outputs can carry the per-trace classify outcome without a
    * second sweep. */
  private def classifyFlat[R, T](spark: SparkSession, txs: DataFrame,
      messages: DataFrame, dims: ClassifyDims, adapter: RowAdapter[R])(
      emit: (ActionRow, String) => T)(
      implicit enc: Encoder[T]): Dataset[T] = {
    import spark.implicits._
    // column-keyed grouping (groupBy(col).as[K, V]), NOT
    // groupByKey(_.trace_id): the lambda keyer plans an AppendColumns
    // that deserializes EVERY row into the adapter's row object just to
    // read one string — a full extra object pass per variant before the
    // real per-group deserialization (guide §4; measured: the
    // shuffle+group probe drops ~35-40% at sf0.1 with the column key).
    val grouped = adapter.joined(txs, messages).groupBy(col("trace_id"))
      .as[String, R](Encoders.STRING, adapter.encoder)
    if (dims.isEmpty)
      grouped.flatMapGroups { (traceId, rows) =>
        classifyGroup(traceId, rows, adapter, ProtocolMatchers.registry)
          .map(emit.tupled)
      }
    else {
      // dims mode: one extra shuffle pair (accounts→dims join, then the
      // per-trace maps cogroup back on trace_id). The provided-dim flag
      // travels OUTSIDE the data: a trace with no hits still gets the
      // resolver-bound registry (global-map-with-misses semantics).
      val hasIface = dims.interfaces.isDefined
      val hasJw = dims.jettonWallets.isDefined
      val hasNft = dims.nftItems.isDefined
      val perTrace = traceDims(spark, txs, messages, dims)
      grouped
        .cogroup(perTrace.groupBy(col("trace_id")).as[String, TraceDims]) {
          (traceId, rows, ds) =>
          val d =
            if (ds.hasNext) ds.next()
            else TraceDims(traceId, Map.empty, Map.empty, Map.empty, Map.empty)
          val registry = ProtocolMatchers.registryForDims(
            if (hasIface) Some(d.ifaces) else None,
            if (hasJw) Some(d.jw) else None,
            if (hasNft) Some(d.nft) else None,
            walletOwners = d.owners)
          classifyGroup(traceId, rows, adapter, registry).map(emit.tupled)
        }
    }
  }

  private def classifyGroup[R](traceId: String, rows: Iterator[R],
      adapter: RowAdapter[R], registry: Seq[Matching.BlockMatcher])
      : Iterator[(ActionRow, String)] = {
    val buf = rows.toSeq
    val txsOf = buf.groupBy(adapter.hash).map { case (_, rs) =>
      adapter.tx(rs.head)
    }.toSeq
    val msgsByTx: Map[String, Seq[MsgLite]] = buf
      .flatMap(r => adapter.msg(r).map(adapter.hash(r) -> _))
      .groupBy(_._1)
      .map { case (h, ms) => h -> ms.map(_._2) }
    val (actions, state) =
      Classifier.classifyStatedWith(traceId, txsOf, msgsByTx, registry)
    actions.iterator.map(a => (a, state))
  }

  /** Narrow-output classify: the same sweep, but rows materialize ONLY
    * the requested columns through a reduced Row encoder instead of the
    * full 60-field ActionRow encoder. The detail structs are converted
    * recursively (case class → Row) just for the kept columns.
    *
    * `adapter` picks the input row: [[Wide]] (the default) reads any
    * frame; [[Chain]] reads the narrow row and fails the job on a row
    * whose dropped columns break the chain constants. Both run the same
    * scaffold and group function. */
  def runProjected(spark: SparkSession, txs: DataFrame, messages: DataFrame,
      dims: ClassifyDims, cols: Seq[String],
      adapter: RowAdapter[_] = Wide): DataFrame = {
    // ActionRow-only columns that the DDL schema does not carry (the
    // involved-accounts list is exploded into action_accounts
    // downstream), plus classification_state — a TRACES column the
    // classify sweep computes per trace and replicates onto each of the
    // trace's action rows (distinct per trace_id recovers the traces
    // writeback frame, Schemas.traces semantics)
    val extras: Map[String, org.apache.spark.sql.types.StructField] = Map(
      "accounts" -> org.apache.spark.sql.types.StructField("accounts",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.StringType)),
      "tx_hashes" -> org.apache.spark.sql.types.StructField("tx_hashes",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.StringType)),
      "classification_state" -> org.apache.spark.sql.types.StructField(
        "classification_state", org.apache.spark.sql.types.StringType))
    val schema = org.apache.spark.sql.types.StructType(
      cols.map(c => graft.Schemas.actions.fields
        .find(_.name == c).orElse(extras.get(c))
        .getOrElse(throw new IllegalArgumentException(s"unknown column $c"))))
    val fieldIdx: Map[String, Int] = {
      // ActionRow field order via reflection, resolved once
      val names = classOf[ActionRow].getDeclaredFields.map(_.getName)
      names.zipWithIndex.toMap
    }
    val idxs: Seq[Int] = cols.map {
      case "classification_state" => -1 // pulled from the trace state
      case c => fieldIdx.getOrElse(c,
        throw new IllegalArgumentException(s"no ActionRow field $c"))
    }
    // a local def would capture the (non-serializable) enclosing object;
    // a self-referencing serializable function value ships clean
    val conv: Any => Any = new (Any => Any) with Serializable {
      def apply(v: Any): Any = v match {
        case Some(x) => apply(x)
        case None | null => null
        case s: Seq[_] => s.map(apply)
        case m: Map[_, _] => m.map { case (k, x) => k -> apply(x) }
        case p: Product => org.apache.spark.sql.Row(
          p.productIterator.map(apply).toSeq: _*)
        case x => x
      }
    }
    implicit val enc: org.apache.spark.sql.Encoder[org.apache.spark.sql.Row] =
      org.apache.spark.sql.Encoders.row(schema)
    classifyFlat(spark, txs, messages, dims, adapter)((a, state) =>
      org.apache.spark.sql.Row(idxs.map(i =>
        if (i < 0) state else conv(a.productElement(i))): _*))
      .toDF()
  }

  /** One-pass decode-for-keys column: every address-shaped field the
    * registered decode surface extracts from a message body
    * (TlbDecoders.resolverAddressKeys), as an array<string>. Ingest can
    * persist it as a silver `body_keys` column — decode once at write —
    * and traceDims will consume the column instead of re-decoding, so
    * the dims branch never touches `body` at all. A UDF is unavoidable
    * here: the value is a full BOC parse no vectorized expression can
    * express (same argument as the inline form this replaces). */
  val bodyKeysCol = udf { (opcode: java.lang.Long, body: String) =>
    if (opcode == null || body == null) Seq.empty[String]
    else graft.functions.TlbDecoders.resolverAddressKeys(opcode, body)
  }

  /** (trace_id, account) distinct pairs ⋈ the provided dims, aggregated
    * to per-trace lookup maps. One tagged union keeps it a single join +
    * single aggregation regardless of how many dims are provided.
    * collect_list drops the null entries the kind-filter produces;
    * map_from_entries requires unique dim keys (dim-table invariant).
    *
    * Built from the SOURCES, not the wide tx⋈msg frame: the account
    * candidates (msg endpoints + body-decoded resolver keys) explode
    * MAP-SIDE out of the messages scan, so message bodies never cross
    * this branch's shuffle, and the trace_id attach is a 2-column tx
    * projection — the wide classify join is evaluated exactly once, by
    * the classify branch itself. */
  private def traceDims(spark: SparkSession, txs: DataFrame,
      messages: DataFrame, dims: ClassifyDims): Dataset[TraceDims] = {
    import spark.implicits._
    // lookup-key candidates: tx/msg addresses plus every address-shaped
    // field the full registered decode surface extracts from bodies —
    // see TlbDecoders.resolverAddressKeys. When the messages frame
    // carries a persisted `body_keys` column (ingest decoded once at
    // silver-write time — bodyKeysCol), use it: the dims branch then
    // reads a narrow array column instead of re-running the decode pass
    // (measured at ~31% of b15's wall time at sf1, OPTIMIZATION_r16.md),
    // and the body column is not even scanned on this branch.
    val keysCol =
      if (messages.columns.contains("body_keys"))
        coalesce(col("body_keys"), array().cast("array<string>"))
      else bodyKeysCol(col("opcode"),
        (if (messages.columns.contains("body")) col("body")
         else lit(null).cast("string")))
    val msgAccounts = messages.select(col("tx_hash").as("hash"),
        explode(concat(
          array(col("source"), col("destination")),
          keysCol)).as("account"))
      .filter(col("account").isNotNull)
    val nullStr = lit(null).cast("string")
    // Tagged dim rows join on `key` but carry the dim row's real account
    // in `acct` — a row can be delivered under more than one key. Jetton
    // wallets are delivered under their own address AND their owner's:
    // matchers resolve wallets the trace never touches directly (named
    // only inside a body a registered decoder doesn't cover yet, or
    // reachable solely through the owner — e.g. a DEX pool's token
    // wallets, owner = the pool contract, which IS a trace account). The
    // reference repository is global (interface_repository.py:512-533).
    // Deliberately NOT keyed by master: a popular jetton master would
    // fan every one of its ~1e7 wallet rows into each touching trace.
    val jwTagged = dims.jettonWallets.map { jw0 =>
      val jw = jw0.select(col("account"),
        col("master").cast("string").as("v1"),
        (if (jw0.columns.contains("owner")) col("owner").cast("string")
         else nullStr).as("v2"))
      jw.select(col("account").as("key"), lit("j").as("kind"),
          col("account").as("acct"), col("v1"), col("v2"))
        .unionByName(jw.filter(col("v2").isNotNull)
          .select(col("v2").as("key"), lit("j").as("kind"),
            col("account").as("acct"), col("v1"), col("v2")))
    }
    val tagged = Seq(
      dims.interfaces.map(_.select(col("account").as("key"),
        lit("i").as("kind"), col("account").as("acct"),
        col("interface").cast("string").as("v1"), nullStr.as("v2"))),
      jwTagged,
      dims.nftItems.map(_.select(col("account").as("key"),
        lit("n").as("kind"), col("account").as("acct"),
        col("item_index").cast("string").as("v1"),
        col("collection").cast("string").as("v2")))
    ).flatten.reduce(_ unionByName _)
    // Join ORDER (r16, guide §3.2): the dim relation is the selective
    // side — filter the exploded candidates against it FIRST (the
    // planner broadcasts a small dim; a web-scale dim shuffles both
    // sides by account), and only the HITS pay the hash→trace_id
    // attach. The previous flow attached trace_id to every candidate,
    // ran a full (trace_id, account) DISTINCT exchange over ~10× the
    // final row count, and only then met the dims; the distinct was
    // redundant for correctness all along — the agg's array_distinct
    // dedups identical entry structs (a wallet reached through both its
    // own address and its owner, or the same endpoint repeated across a
    // trace's messages, all collapse there; dim tables are unique per
    // account by invariant, so equal keys ⇒ equal entries).
    val msgHits = msgAccounts
      .join(tagged, msgAccounts("account") === tagged("key"))
      .join(txs.select(col("hash"), col("trace_id")), Seq("hash"))
      .select("trace_id", "kind", "acct", "v1", "v2")
    val txHits = txs.select(col("trace_id"), col("account"))
      .join(tagged, col("account") === tagged("key"))
      .select("trace_id", "kind", "acct", "v1", "v2")
    msgHits.unionByName(txHits)
      .groupBy("trace_id")
      .agg(
        map_from_entries(array_distinct(collect_list(when(col("kind") === "i",
          struct(col("acct"), col("v1")))))).as("ifaces"),
        map_from_entries(array_distinct(collect_list(when(col("kind") === "j",
          struct(col("acct"), col("v1")))))).as("jw"),
        map_from_entries(array_distinct(collect_list(when(col("kind") === "n",
          struct(col("acct"), struct(col("v1").as("index"),
            col("v2").as("collection"))))))).as("nft"),
        map_from_entries(array_distinct(collect_list(
          when(col("kind") === "j" && col("v2").isNotNull,
            struct(col("acct"), col("v2")))))).as("owners"))
      .as[TraceDims]
  }

  /** Full-schema actions table: classifier output conformed to
    * Schemas.actions — the §1.4 denormalized trace columns joined in
    * (trace_end_lt/utime, external hash, mc_seqno) and every column of
    * the reference DDL present with its exact type (absent families as
    * typed nulls). Struct casts are field-by-field: the detail case
    * classes mirror Schemas' *_details field order. */
  def typedActions(spark: SparkSession, txsWithTrace: DataFrame,
      messages: DataFrame, traces: DataFrame): DataFrame = {
    val acts = run(spark, txsWithTrace, messages).toDF()
    val meta = traces.select(col("trace_id"),
      col("end_lt").as("trace_end_lt"),
      col("end_utime").cast("long").as("trace_end_utime"),
      col("external_hash").as("trace_external_hash"),
      col("mc_seqno_end").as("trace_mc_seqno_end"),
      (if (traces.columns.contains("external_hash_norm"))
        col("external_hash_norm")
      else lit(null).cast("string")).as("trace_external_hash_norm"))
    // meta is projected from the traces FACT table (one row per trace,
    // 10⁸–10⁹ at design scale) — never broadcast it; both sides key on
    // trace_id so the shuffle join co-partitions for free.
    val joined = acts.join(meta, Seq("trace_id"), "left")
    val cols = graft.Schemas.actions.fields.map { fld =>
      if (joined.columns.contains(fld.name))
        col(fld.name).cast(fld.dataType).as(fld.name)
      else lit(null).cast(fld.dataType).as(fld.name)
    }
    joined.select(cols.toSeq: _*)
  }

  /** T6 reclassification: replace a store's actions for the given traces
    * with freshly computed ones — the DELETE-then-insert of the reference
    * (event_classifier.py:253-267) as an anti-join + union (in a
    * partitioned store this is an overwrite of the touched trace
    * partitions, not a full rewrite). */
  def reclassify(existingActions: DataFrame, newActions: DataFrame): DataFrame = {
    val touched = newActions.select("trace_id").distinct()
    existingActions
      .join(touched, Seq("trace_id"), "left_anti")
      .unionByName(newActions)
  }

  /** Exploded action_accounts from an actions frame (denormalized
    * pagination fact, SURVEY §1.4). Column-based so pruned silver scans
    * qualify — only the id/endpoint/lt columns are touched. */
  def actionAccounts(spark: SparkSession, actions: DataFrame): DataFrame = {
    val traceEnds = actions.groupBy("trace_id")
      .agg(max("end_lt").as("trace_end_lt"), max("end_utime").as("trace_end_utime"))
    // full involved-accounts list when the classifier provided it
    // (get_action_accounts, database.py:590-600); endpoint fallback for
    // pre-computed action frames without the transient column
    val acctArray =
      if (actions.columns.contains("accounts"))
        concat(coalesce(col("accounts"), array()),
          coalesce(array(col("source")), array()),
          coalesce(array(col("destination")), array()))
      else
        concat(coalesce(array(col("source")), array()),
          coalesce(array(col("destination")), array()))
    actions.toDF()
      .select(col("action_id"), col("trace_id"),
        explode(array_distinct(acctArray)).as("account"),
        col("end_lt").as("action_end_lt"), col("end_utime").as("action_end_utime"))
      .filter(col("account").isNotNull)
      .join(traceEnds, Seq("trace_id"))
      .select("action_id", "trace_id", "account", "trace_end_lt",
        "action_end_lt", "trace_end_utime", "action_end_utime")
  }
}
