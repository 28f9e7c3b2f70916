package graft

import graft.operators.QueryLayer
import graft.operators.QueryLayer.NftItemsRequest

import scala.util.Random

/** §5 backcompat differential, round 2 (r14 verdict item 5): the four
  * remaining request families — nft/items, multisig/wallets, vesting,
  * dns/records — fuzzed the BackcompatSpec way: seeded randomized
  * request vectors compiled BOTH through the QueryLayer DataFrame
  * programs and through reference-shaped SQL text (crud_nft.go:52-124,
  * crud_multisig.go:13-59, crud_vesting.go:75-120, crud_dns.go:22-40),
  * required row-identical, plus a mutation canary per family proving
  * the fixture would catch a seeded contract regression. */
class RequestFamilies2Spec extends SparkSpec {

  import org.apache.spark.sql.functions._

  // ------------------------------------------------------------ nft/items

  /** Items fixture with the switch surface's hazards: owners that are
    * getgems sale/auction contracts (real_owner diverges), completed
    * sales and ended auctions (must NOT lend ownership), contracts
    * pointing at a DIFFERENT nft (the two-key join contract), null
    * collections, index ties, and lt ties. */
  private def nftFixture() = {
    import spark.implicits._
    val colls = (0 until 10).map(c => (s"c$c", s"co$c", s"content$c"))
      .toDF("address", "owner_address", "collection_content")
    val sales = (0 until 30).map { s =>
      // sale s sells nft n{s*5}; every third is complete; s%7==0 points
      // at the WRONG nft (two-key join must ignore it)
      (s"sale$s", if (s % 7 == 0) s"n${s * 5 + 1}" else s"n${s * 5}",
        s"w${s % 12}", s % 3 == 0)
    }.toDF("address", "nft_address", "nft_owner_address", "is_complete")
    val aucs = (0 until 20).map { a =>
      (s"auc$a", s"n${a * 9 + 2}", s"w${(a + 5) % 12}", a % 4 == 0)
    }.toDF("address", "nft_addr", "nft_owner", "end_flag")
    val items = (0 until 200).map { i =>
      val owner =
        if (i % 5 == 0) s"sale${i / 5 % 30}"
        else if (i % 9 == 2) s"auc${(i / 9) % 20}"
        else s"w${i % 12}"
      (i.toLong, s"n$i", true, (i % 20).toString,
        if (i % 11 == 10) null else s"c${i % 10}", owner,
        s"meta$i", (i % 7).toLong * 100)
    }.toDF("id", "address", "init", "index", "collection_address",
      "owner_address", "content", "last_transaction_lt")
    (items, colls, sales, aucs)
  }

  private def nftDraw(rnd: Random): NftItemsRequest = {
    val collections =
      if (rnd.nextInt(3) == 0)
        (0 until 1 + rnd.nextInt(2)).map(_ => s"c${rnd.nextInt(10)}").distinct
      else Nil
    NftItemsRequest(
      addresses = if (rnd.nextInt(4) == 0)
        (0 until 2).map(_ => s"n${rnd.nextInt(200)}").distinct else Nil,
      owners = if (rnd.nextInt(2) == 0)
        (0 until 1 + rnd.nextInt(2)).map(_ => s"w${rnd.nextInt(12)}").distinct
      else Nil,
      includeOnSale = rnd.nextBoolean(),
      collections = collections,
      indexIn = if (collections.nonEmpty && rnd.nextInt(3) == 0)
        // empty strings mixed in: the reference DROPS them, and applies
        // no filter at all when only empties remain (crud_nft.go:103-117)
        rnd.nextInt(3) match {
          case 0 => Seq(rnd.nextInt(20).toString)
          case 1 => Seq("", rnd.nextInt(20).toString)
          case _ => Seq("")
        }
      else Nil,
      sortByLastTransactionLt = rnd.nextInt(4) == 0,
      limit = rnd.nextInt(250) - 20,
      offset = rnd.nextInt(8) - 2)
  }

  /** The reference builder restated over the fixture views; `mutateSite`
    * ignores include_on_sale and always filters owner_address — the
    * canary's seeded contract regression. */
  private def nftSqlOf(r: NftItemsRequest,
      mutateSite: Boolean = false): String = {
    val conds = Seq(
      if (r.addresses.nonEmpty)
        Some(r.addresses.map(a => s"'$a'")
          .mkString("address IN (", ",", ")"))
      else None,
      if (r.owners.nonEmpty) {
        val site =
          if (r.includeOnSale && !mutateSite) "real_owner"
          else "owner_address"
        Some(r.owners.map(a => s"'$a'")
          .mkString(s"$site IN (", ",", ")"))
      } else None,
      if (r.collections.size == 1)
        Some(s"collection_address = '${r.collections.head}'")
      else if (r.collections.size > 1)
        Some(r.collections.map(c => s"'$c'")
          .mkString("collection_address IN (", ",", ")"))
      else None,
      {
        // empty index values are dropped; no filter if none remain
        // (crud_nft.go:103-117)
        val idx = r.indexIn.filter(_.nonEmpty)
        if (idx.nonEmpty)
          Some(idx.map(i => s"'$i'").mkString("index IN (", ",", ")"))
        else None
      }).flatten
    // Postgres null placement spelled out (ASC nulls LAST, DESC nulls
    // FIRST) — the Spark-SQL restatement must not inherit Spark's
    // opposite defaults on the nullable collection_address / lt keys
    var order = Seq("id ASC")
    if (r.addresses.nonEmpty) order = Nil
    if (r.owners.nonEmpty)
      order = Seq("owner_address NULLS LAST",
        "collection_address NULLS LAST", "index NULLS LAST")
    if (r.collections.size == 1)
      order = Seq("collection_address NULLS LAST", "index NULLS LAST")
    if (r.sortByLastTransactionLt)
      order = Seq("last_transaction_lt DESC NULLS FIRST")
    val lim = if (r.limit <= 0) QueryLayer.DefaultLimit
      else math.min(r.limit, QueryLayer.MaxLimit)
    val where =
      if (conds.isEmpty) "" else conds.mkString(" WHERE ", " AND ", "")
    s"""SELECT address FROM (
       |  SELECT N.*, coalesce(S.nft_owner_address, A.nft_owner,
       |                       N.owner_address) AS real_owner
       |  FROM nfti_view N
       |  LEFT JOIN (SELECT * FROM nfts_view WHERE NOT is_complete) S
       |    ON N.owner_address = S.address AND N.address = S.nft_address
       |  LEFT JOIN (SELECT * FROM nfta_view WHERE NOT end_flag) A
       |    ON N.owner_address = A.address AND N.address = A.nft_addr)
       |$where
       |ORDER BY ${(order :+ "address").mkString(", ")}
       |LIMIT $lim OFFSET ${math.max(r.offset, 0)}""".stripMargin
  }

  test("randomized nft/items draws: QueryLayer == reference-shaped SQL " +
      "(include_on_sale owner-site switch, order-by override chain, " +
      "two-key sale/auction join)") {
    val (items, colls, sales, aucs) = nftFixture()
    items.createOrReplaceTempView("nfti_view")
    sales.createOrReplaceTempView("nfts_view")
    aucs.createOrReplaceTempView("nfta_view")
    val rnd = new Random(20260821L)
    var nonEmpty = 0
    var onSaleActive = 0
    (1 to 40).foreach { i =>
      val r = nftDraw(rnd)
      val viaLayer = QueryLayer.nftItemsByRequest(items, colls, sales,
          aucs, r)
        .select("address").collect().map(_.getString(0)).toSeq
      val viaSql = spark.sql(nftSqlOf(r))
        .collect().map(_.getString(0)).toSeq
      assert(viaLayer == viaSql, s"draw $i diverged for $r")
      if (viaLayer.nonEmpty) nonEmpty += 1
      if (r.owners.nonEmpty && r.includeOnSale) onSaleActive += 1
    }
    assert(nonEmpty > 12, s"fuzz draws too empty ($nonEmpty/40)")
    assert(onSaleActive > 4, "draws must exercise the on-sale switch")
  }

  test("mutation canary: ignoring include_on_sale is CAUGHT by the " +
      "nft/items fuzz") {
    val (items, colls, sales, aucs) = nftFixture()
    items.createOrReplaceTempView("nfti_view")
    sales.createOrReplaceTempView("nfts_view")
    aucs.createOrReplaceTempView("nfta_view")
    val rnd = new Random(20260821L) // same seed → same draws
    val diverged = (1 to 40).count { _ =>
      val r = nftDraw(rnd)
      val viaLayer = QueryLayer.nftItemsByRequest(items, colls, sales,
          aucs, r)
        .select("address").collect().map(_.getString(0)).toSeq
      val mutated = spark.sql(nftSqlOf(r, mutateSite = true))
        .collect().map(_.getString(0)).toSeq
      viaLayer != mutated
    }
    assert(diverged > 0, "fixture must make the owner-site switch " +
      "observable (sale/auction-held items with distinct real owners)")
  }

  test("nft/items null placement follows Postgres (ASC nulls LAST on " +
      "collection_address, DESC nulls FIRST on last_transaction_lt) — " +
      "not Spark's defaults") {
    import spark.implicits._
    val items = Seq( // lt = -1 is a null sentinel restored below
      (0L, "nA", true, "0", null.asInstanceOf[String], "w0", "m", 100L),
      (1L, "nB", true, "1", "c0", "w0", "m", 200L),
      (2L, "nC", true, "2", "c0", "w0", "m", -1L))
      .toDF("id", "address", "init", "index", "collection_address",
        "owner_address", "content", "last_transaction_lt")
      .withColumn("last_transaction_lt",
        when(col("last_transaction_lt") === -1L, lit(null))
          .otherwise(col("last_transaction_lt")))
    val colls = Seq(("c0", "co", "cc"))
      .toDF("address", "owner_address", "collection_content")
    val sales = Seq.empty[(String, String, String, Boolean)]
      .toDF("address", "nft_address", "nft_owner_address", "is_complete")
    val aucs = Seq.empty[(String, String, String, Boolean)]
      .toDF("address", "nft_addr", "nft_owner", "end_flag")
    // owner arm: ORDER BY owner, collection, index — the null-collection
    // item must sort AFTER both c0 items (Spark's default would put it
    // first)
    val byOwner = QueryLayer.nftItemsByRequest(items, colls, sales, aucs,
        NftItemsRequest(owners = Seq("w0")))
      .select("address").collect().map(_.getString(0)).toSeq
    assert(byOwner == Seq("nB", "nC", "nA"),
      s"ASC nulls must sort last (got $byOwner)")
    // lt arm: ORDER BY last_transaction_lt DESC — the null-lt item must
    // sort FIRST (Spark's DESC default would put it last)
    val byLt = QueryLayer.nftItemsByRequest(items, colls, sales, aucs,
        NftItemsRequest(sortByLastTransactionLt = true))
      .select("address").collect().map(_.getString(0)).toSeq
    assert(byLt == Seq("nC", "nB", "nA"),
      s"DESC nulls must sort first (got $byLt)")
  }

  test("nft/items empty index values are dropped; all-empty applies no " +
      "filter (crud_nft.go:103-117)") {
    val (items, colls, sales, aucs) = nftFixture()
    val unfiltered = QueryLayer.nftItemsByRequest(items, colls, sales,
        aucs, NftItemsRequest(collections = Seq("c0"))).count()
    val allEmpty = QueryLayer.nftItemsByRequest(items, colls, sales,
        aucs, NftItemsRequest(collections = Seq("c0"),
          indexIn = Seq("", ""))).count()
    assert(allEmpty == unfiltered && unfiltered > 0,
      "an all-empty index list must return the unfiltered set")
    val mixed = QueryLayer.nftItemsByRequest(items, colls, sales, aucs,
        NftItemsRequest(collections = Seq("c0"), indexIn = Seq("", "0")))
    assert(mixed.select("index").distinct().collect()
        .map(_.getString(0)).toSeq == Seq("0"),
      "non-empty values still filter after empties are dropped")
  }

  // ------------------------------------------------------- multisig/wallets

  private def multisigFixture() = {
    import spark.implicits._
    (0 until 60).map { i =>
      (i.toLong, s"m$i",
        (0 until 2 + i % 3).map(j => s"w${(i + j) % 15}"),
        (0 until i % 3).map(j => s"w${(i + 7 * j + 3) % 15}"))
    }.toDF("id", "address", "signers", "proposers")
  }

  private case class MsDraw(addresses: Seq[String], wallets: Seq[String],
      descending: Boolean, limit: Int, offset: Int)

  private def msDraw(rnd: Random): MsDraw = MsDraw(
    addresses = if (rnd.nextInt(3) == 0)
      (0 until 1 + rnd.nextInt(3)).map(_ => s"m${rnd.nextInt(60)}").distinct
    else Nil,
    wallets = if (rnd.nextInt(4) != 0)
      (0 until 1 + rnd.nextInt(2)).map(_ => s"w${rnd.nextInt(15)}").distinct
    else Nil,
    descending = rnd.nextBoolean(),
    limit = rnd.nextInt(80) - 5,
    offset = rnd.nextInt(6) - 1)

  /** crud_multisig.go:13-59 restated; `mutateArm` drops the proposers
    * arm of the overlap disjunction. */
  private def msSqlOf(r: MsDraw, mutateArm: Boolean = false): String = {
    val ws = r.wallets.map(w => s"'$w'").mkString(", ")
    val conds = Seq(
      if (r.addresses.nonEmpty)
        Some(r.addresses.map(a => s"'$a'")
          .mkString("address IN (", ",", ")"))
      else None,
      if (r.wallets.nonEmpty)
        Some(if (mutateArm) s"arrays_overlap(signers, array($ws))"
        else s"(arrays_overlap(signers, array($ws)) OR " +
          s"arrays_overlap(proposers, array($ws)))")
      else None).flatten
    val where =
      if (conds.isEmpty) "" else conds.mkString(" WHERE ", " AND ", "")
    val dir = if (r.descending) "DESC" else "ASC"
    val lim = if (r.limit <= 0) QueryLayer.DefaultLimit
      else math.min(r.limit, QueryLayer.MaxLimit)
    s"""SELECT address FROM ms_view $where
       |ORDER BY id $dir LIMIT $lim OFFSET ${math.max(r.offset, 0)}""".stripMargin
  }

  test("randomized multisig draws: QueryLayer == reference-shaped SQL " +
      "(signers/proposers overlap disjunction, id sort switch)") {
    val ms = multisigFixture()
    ms.createOrReplaceTempView("ms_view")
    val rnd = new Random(20260822L)
    var nonEmpty = 0
    (1 to 40).foreach { i =>
      val r = msDraw(rnd)
      val viaLayer = QueryLayer.multisigByRequest(ms, r.addresses,
          r.wallets, r.descending, r.limit, r.offset)
        .select("address").collect().map(_.getString(0)).toSeq
      val viaSql = spark.sql(msSqlOf(r))
        .collect().map(_.getString(0)).toSeq
      assert(viaLayer == viaSql, s"draw $i diverged for $r")
      if (viaLayer.nonEmpty) nonEmpty += 1
    }
    assert(nonEmpty > 12, s"fuzz draws too empty ($nonEmpty/40)")
  }

  test("mutation canary: dropping the proposers arm is CAUGHT by the " +
      "multisig fuzz") {
    val ms = multisigFixture()
    ms.createOrReplaceTempView("ms_view")
    val rnd = new Random(20260822L)
    val diverged = (1 to 40).count { _ =>
      val r = msDraw(rnd)
      val viaLayer = QueryLayer.multisigByRequest(ms, r.addresses,
          r.wallets, r.descending, r.limit, r.offset)
        .select("address").collect().map(_.getString(0)).toSeq
      val mutated = spark.sql(msSqlOf(r, mutateArm = true))
        .collect().map(_.getString(0)).toSeq
      viaLayer != mutated
    }
    assert(diverged > 0, "fixture must have proposer-only matches")
  }

  // ---------------------------------------------------------------- vesting

  private def vestingFixture() = {
    import spark.implicits._
    val contracts = (0 until 50).map { i =>
      (i.toLong, s"v$i", s"w${i % 13}", s"w${(i + 4) % 13}")
    }.toDF("id", "address", "owner_address", "vesting_sender_address")
    // whitelist rows hit wallets DISJOINT from most owner/sender picks
    // so the EXISTS arm has draws it alone satisfies; duplicates prove
    // the no-fan-out contract
    val wl = (0 until 80).flatMap { j =>
      val row = (s"v${j % 50}", s"w${(j * 3 + 1) % 13}")
      if (j % 10 == 0) Seq(row, row) else Seq(row)
    }.toDF("vesting_contract_address", "wallet_address")
    (contracts, wl)
  }

  private case class VestDraw(addresses: Seq[String], wallets: Seq[String],
      checkWhitelist: Boolean, limit: Int, offset: Int)

  // the reference 422s unless exactly one arm is present
  // (crud_vesting.go:17-23) — draws pick ONE arm, wallet-heavy
  private def vestDraw(rnd: Random): VestDraw = {
    val addressArm = rnd.nextInt(4) == 0
    VestDraw(
      addresses = if (addressArm)
        (0 until 1 + rnd.nextInt(2)).map(_ => s"v${rnd.nextInt(50)}").distinct
      else Nil,
      wallets = if (!addressArm)
        (0 until 1 + rnd.nextInt(2)).map(_ => s"w${rnd.nextInt(13)}").distinct
      else Nil,
      checkWhitelist = rnd.nextBoolean(),
      limit = rnd.nextInt(70) - 5,
      offset = rnd.nextInt(5) - 1)
  }

  /** crud_vesting.go:75-120 restated — the wallet disjunction as the
    * reference writes it (owner OR sender OR EXISTS whitelist);
    * `mutateWl` drops the EXISTS arm. */
  private def vestSqlOf(r: VestDraw, mutateWl: Boolean = false): String = {
    val ws = r.wallets.map(w => s"'$w'").mkString(", ")
    val wlArm = s" OR address IN (SELECT vesting_contract_address " +
      s"FROM vwl_view WHERE wallet_address IN ($ws))"
    val conds = Seq(
      if (r.addresses.nonEmpty)
        Some(r.addresses.map(a => s"'$a'")
          .mkString("address IN (", ",", ")"))
      else None,
      if (r.wallets.nonEmpty)
        Some(s"(owner_address IN ($ws) OR " +
          s"vesting_sender_address IN ($ws)" +
          (if (r.checkWhitelist && !mutateWl) wlArm else "") + ")")
      else None).flatten
    val where =
      if (conds.isEmpty) "" else conds.mkString(" WHERE ", " AND ", "")
    val lim = if (r.limit <= 0) QueryLayer.DefaultLimit
      else math.min(r.limit, QueryLayer.MaxLimit)
    s"""SELECT address FROM vest_view $where
       |ORDER BY id ASC LIMIT $lim OFFSET ${math.max(r.offset, 0)}""".stripMargin
  }

  test("randomized vesting draws: QueryLayer == reference-shaped SQL " +
      "(owner/sender/whitelist-EXISTS disjunction, no fan-out on " +
      "duplicate whitelist rows)") {
    val (contracts, wl) = vestingFixture()
    contracts.createOrReplaceTempView("vest_view")
    wl.createOrReplaceTempView("vwl_view")
    val rnd = new Random(20260823L)
    var nonEmpty = 0
    var wlActive = 0
    (1 to 40).foreach { i =>
      val r = vestDraw(rnd)
      val viaLayer = QueryLayer.vestingByRequest(contracts, wl,
          r.addresses, r.wallets, r.checkWhitelist, r.limit, r.offset)
        .select("address").collect().map(_.getString(0)).toSeq
      val viaSql = spark.sql(vestSqlOf(r))
        .collect().map(_.getString(0)).toSeq
      assert(viaLayer == viaSql, s"draw $i diverged for $r")
      if (viaLayer.nonEmpty) nonEmpty += 1
      if (r.checkWhitelist && r.wallets.nonEmpty) wlActive += 1
    }
    assert(nonEmpty > 12, s"fuzz draws too empty ($nonEmpty/40)")
    assert(wlActive > 5, "draws must exercise the whitelist arm")
  }

  test("mutation canary: dropping the whitelist EXISTS arm is CAUGHT " +
      "by the vesting fuzz") {
    val (contracts, wl) = vestingFixture()
    contracts.createOrReplaceTempView("vest_view")
    wl.createOrReplaceTempView("vwl_view")
    val rnd = new Random(20260823L)
    val diverged = (1 to 40).count { _ =>
      val r = vestDraw(rnd)
      val viaLayer = QueryLayer.vestingByRequest(contracts, wl,
          r.addresses, r.wallets, r.checkWhitelist, r.limit, r.offset)
        .select("address").collect().map(_.getString(0)).toSeq
      val mutated = spark.sql(vestSqlOf(r, mutateWl = true))
        .collect().map(_.getString(0)).toSeq
      viaLayer != mutated
    }
    assert(diverged > 0, "fixture must have whitelist-only matches")
  }

  // --------------------------------------------------------- multisig/orders

  /** crud_multisig.go:61-108 + the handler's at-least-one-arm 422:
    * address IN-list AND multisig IN-list, ORDER BY id in the requested
    * direction (default DESC). */
  private def msOrdersFixture() = {
    import spark.implicits._
    (0 until 80).map { i =>
      (i.toLong, s"o$i", s"m${i % 12}", (i % 7).toString, i % 2 == 0)
    }.toDF("id", "address", "multisig_address", "order_seqno",
      "sent_for_execution")
  }

  private case class MsoDraw(addresses: Seq[String], multisigs: Seq[String],
      descending: Boolean, limit: Int, offset: Int)

  private def msoDraw(rnd: Random): MsoDraw = {
    val a = rnd.nextInt(3) == 0
    val m = rnd.nextInt(3) != 0
    MsoDraw(
      addresses = if (a)
        (0 until 1 + rnd.nextInt(4)).map(_ => s"o${rnd.nextInt(80)}").distinct
      else Nil,
      multisigs = if (m || !a)
        (0 until 1 + rnd.nextInt(2)).map(_ => s"m${rnd.nextInt(12)}").distinct
      else Nil,
      descending = rnd.nextBoolean(),
      limit = rnd.nextInt(90) - 5,
      offset = rnd.nextInt(5) - 1)
  }

  /** The builder restated; `mutateArm` ignores the multisig filter
    * whenever an address filter is present — the seeded either/or
    * regression the AND contract forbids. */
  private def msoSqlOf(r: MsoDraw, mutateArm: Boolean = false): String = {
    val conds = Seq(
      if (r.addresses.nonEmpty)
        Some(r.addresses.map(a => s"'$a'")
          .mkString("address IN (", ",", ")"))
      else None,
      if (r.multisigs.nonEmpty && !(mutateArm && r.addresses.nonEmpty))
        Some(r.multisigs.map(m => s"'$m'")
          .mkString("multisig_address IN (", ",", ")"))
      else None).flatten
    val where =
      if (conds.isEmpty) "" else conds.mkString(" WHERE ", " AND ", "")
    val dir = if (r.descending) "DESC" else "ASC"
    val lim = if (r.limit <= 0) QueryLayer.DefaultLimit
      else math.min(r.limit, QueryLayer.MaxLimit)
    s"""SELECT address FROM mso_view $where
       |ORDER BY id $dir, address
       |LIMIT $lim OFFSET ${math.max(r.offset, 0)}""".stripMargin
  }

  test("randomized multisig/orders draws: QueryLayer == reference-shaped " +
      "SQL (AND-combined arms, ORDER BY id direction, at-least-one-arm " +
      "422)") {
    val orders = msOrdersFixture()
    orders.createOrReplaceTempView("mso_view")
    val rnd = new Random(20260817L)
    var bothArms = 0
    (1 to 40).foreach { i =>
      val r = msoDraw(rnd)
      val viaLayer = QueryLayer.multisigOrdersByRequest(orders,
          r.addresses, r.multisigs, r.descending, r.limit, r.offset)
        .select("address").collect().map(_.getString(0)).toSeq
      val viaSql = spark.sql(msoSqlOf(r))
        .collect().map(_.getString(0)).toSeq
      assert(viaLayer == viaSql, s"draw $i diverged for $r")
      if (r.addresses.nonEmpty && r.multisigs.nonEmpty) bothArms += 1
    }
    assert(bothArms > 3, "draws must exercise the AND-combined arms")
    intercept[IllegalArgumentException] {
      QueryLayer.multisigOrdersByRequest(orders)
    }
  }

  test("mutation canary: treating multisig/orders arms as either/or is " +
      "CAUGHT by the fuzz") {
    val orders = msOrdersFixture()
    orders.createOrReplaceTempView("mso_view")
    val rnd = new Random(20260817L) // same seed → same draws
    val diverged = (1 to 40).count { _ =>
      val r = msoDraw(rnd)
      val viaLayer = QueryLayer.multisigOrdersByRequest(orders,
          r.addresses, r.multisigs, r.descending, r.limit, r.offset)
        .select("address").collect().map(_.getString(0)).toSeq
      val mutated = spark.sql(msoSqlOf(r, mutateArm = true))
        .collect().map(_.getString(0)).toSeq
      viaLayer != mutated
    }
    assert(diverged > 0,
      "fixture must have draws where both arms filter jointly")
  }

  // -------------------------------------------------------------- nft/sales

  /** crud_sales.go:20-170 hazards: completed sales and ended auctions
    * STILL list (nft/sales has no completeness filter — unlike the
    * nft/items real-owner dims), sales pointing at nfts missing from
    * the items dim (left-join nulls), items with null collections. */
  private def nftSalesFixture() = {
    import spark.implicits._
    val sales = (0 until 30).map { s =>
      (s"s$s", s % 3 == 0, 100 + s, "0:MP",
        if (s % 11 == 10) s"missing$s" else s"n${s * 5}",
        s"w${s % 12}", BigDecimal(1000 + s), "0:FEE", BigDecimal(50),
        "0:ROY", BigDecimal(25), s.toLong)
    }.toDF("address", "is_complete", "created_at", "marketplace_address",
      "nft_address", "nft_owner_address", "full_price",
      "marketplace_fee_address", "marketplace_fee", "royalty_address",
      "royalty_amount", "last_transaction_lt")
    val aucs = (0 until 20).map { a =>
      (s"a$a", a % 4 == 0, 200 + a, "0:MP", s"n${a * 9 + 2}",
        s"w${(a + 5) % 12}", BigDecimal(777), BigDecimal(9999),
        BigDecimal(111), 999, "0:FEE", "0:ROY", (100 + a).toLong)
    }.toDF("address", "end_flag", "created_at", "mp_addr", "nft_addr",
      "nft_owner", "last_bid", "max_bid", "min_bid", "end_time",
      "mp_fee_addr", "royalty_fee_addr", "last_transaction_lt")
    val items = (0 until 200).map { i =>
      (s"n$i", i.toString.reverse,
        if (i % 7 == 6) null else s"c${i % 5}", s"w${i % 12}")
    }.toDF("address", "index", "collection_address", "owner_address")
    val colls = (0 until 5).map(c => (s"c$c", s"co$c"))
      .toDF("address", "owner_address")
    (sales, aucs, items, colls)
  }

  private def salesDraw(rnd: Random): Seq[String] =
    (0 until 1 + rnd.nextInt(4)).map { _ =>
      rnd.nextInt(3) match {
        case 0 => s"s${rnd.nextInt(30)}"
        case 1 => s"a${rnd.nextInt(20)}"
        case _ => s"zz${rnd.nextInt(5)}" // unknown contract → no rows
      }
    }.distinct

  /** The two-source union + dim hydration restated
    * (crud_sales.go:53-56: LEFT JOIN items ON s.nft_address =
    * N.address, LEFT JOIN collections ON N.collection_address);
    * `mutateComplete` seeds the completeness filter nft/sales must NOT
    * have. Ordered by the engine's documented (sale_type, address)
    * normalization — the reference's concat order is heap-dependent. */
  private def salesSqlOf(addrs: Seq[String],
      mutateComplete: Boolean = false): String = {
    val in = addrs.map(a => s"'$a'").mkString("(", ",", ")")
    val saleWhere = if (mutateComplete) " WHERE NOT is_complete" else ""
    s"""SELECT u.sale_type, u.address, u.nft_address,
       |  N.index AS nft_item_index, N.collection_address,
       |  C.owner_address AS collection_owner_address
       |FROM (
       |  SELECT 'getgems_sale' AS sale_type, address, nft_address
       |  FROM nsales_view$saleWhere
       |  UNION ALL
       |  SELECT 'getgems_auction', address, nft_addr
       |  FROM nauc_view) u
       |LEFT JOIN nitems_view N ON u.nft_address = N.address
       |LEFT JOIN ncolls_view C ON N.collection_address = C.address
       |WHERE u.address IN $in
       |ORDER BY u.sale_type, u.address""".stripMargin
  }

  test("randomized nft/sales draws: QueryLayer == reference-shaped SQL " +
      "(two-source union, single-key dim hydration, no completeness " +
      "filter)") {
    val (sales, aucs, items, colls) = nftSalesFixture()
    sales.createOrReplaceTempView("nsales_view")
    aucs.createOrReplaceTempView("nauc_view")
    items.createOrReplaceTempView("nitems_view")
    colls.createOrReplaceTempView("ncolls_view")
    val rnd = new Random(20260818L)
    var nonEmpty = 0
    (1 to 40).foreach { i =>
      val addrs = salesDraw(rnd)
      val viaLayer = QueryLayer.nftSales(sales, aucs, items, colls, addrs)
        .select("sale_type", "address", "nft_address", "nft_item_index",
          "collection_address", "collection_owner_address")
        .collect().map(_.toString).toSeq
      val viaSql = spark.sql(salesSqlOf(addrs))
        .collect().map(_.toString).toSeq
      assert(viaLayer == viaSql, s"draw $i diverged for $addrs")
      if (viaLayer.nonEmpty) nonEmpty += 1
    }
    assert(nonEmpty > 12, s"fuzz draws too empty ($nonEmpty/40)")
    intercept[IllegalArgumentException] {
      QueryLayer.nftSales(sales, aucs, items, colls, Nil)
    }
  }

  test("mutation canary: filtering completed sales out of nft/sales is " +
      "CAUGHT by the fuzz (the route lists them — no real-owner dim " +
      "semantics here)") {
    val (sales, aucs, items, colls) = nftSalesFixture()
    sales.createOrReplaceTempView("nsales_view")
    aucs.createOrReplaceTempView("nauc_view")
    items.createOrReplaceTempView("nitems_view")
    colls.createOrReplaceTempView("ncolls_view")
    val rnd = new Random(20260818L) // same seed → same draws
    val diverged = (1 to 40).count { _ =>
      val addrs = salesDraw(rnd)
      val viaLayer = QueryLayer.nftSales(sales, aucs, items, colls, addrs)
        .select("sale_type", "address").collect().map(_.toString).toSeq
      val mutated = spark.sql(salesSqlOf(addrs, mutateComplete = true))
        .select("sale_type", "address").collect().map(_.toString).toSeq
      viaLayer != mutated
    }
    assert(diverged > 0, "draws must hit completed sales")
  }

  // ------------------------------------------------------------ dns/records

  private def dnsFixture() = {
    import spark.implicits._
    (0 until 120).map { i =>
      // heavy LENGTH ties, with lexicographic order DISAGREEING with
      // length order: the LEADING digit drives the lexicographic sort
      // independently of the length, so dropping the LENGTH key is
      // observable within every wallet's record set
      val dom = s"${(i * 7) % 10}" + ("a" * (1 + i % 4)) + ".ton"
      (s"nft$i", s"o${i % 9}", dom, s"res${i % 5}", s"w${i % 9}")
    }.toDF("nft_item_address", "nft_item_owner", "domain",
      "dns_next_resolver", "dns_wallet")
  }

  private case class DnsDraw(wallet: Option[String], domain: Option[String],
      limit: Int, offset: Int)

  private def dnsDraw(rnd: Random): DnsDraw = {
    val byWallet = rnd.nextBoolean()
    DnsDraw(
      wallet = if (byWallet) Some(s"w${rnd.nextInt(9)}") else None,
      domain = if (byWallet) None
      else Some(s"${rnd.nextInt(10)}" +
        ("a" * (1 + rnd.nextInt(4))) + ".ton"),
      limit = rnd.nextInt(60) - 5,
      offset = rnd.nextInt(5) - 1)
  }

  /** crud_dns.go:22-40 restated; `mutateOrder` drops the LENGTH sort
    * key. */
  private def dnsSqlOf(r: DnsDraw, mutateOrder: Boolean = false): String = {
    val cond = r.wallet.map(w => s"dns_wallet = '$w'")
      .getOrElse(s"domain = '${r.domain.get}'")
    val order = if (mutateOrder) "domain ASC, nft_item_address"
      else "LENGTH(domain), domain ASC, nft_item_address"
    val lim = if (r.limit <= 0) QueryLayer.DefaultLimit
      else math.min(r.limit, QueryLayer.MaxLimit)
    s"""SELECT nft_item_address FROM dns_view WHERE $cond
       |ORDER BY $order LIMIT $lim OFFSET ${math.max(r.offset, 0)}""".stripMargin
  }

  test("randomized dns draws: QueryLayer == reference-shaped SQL " +
      "(wallet/domain arm switch, shortest-domain order)") {
    val dns = dnsFixture()
    dns.createOrReplaceTempView("dns_view")
    val rnd = new Random(20260824L)
    var nonEmpty = 0
    (1 to 40).foreach { i =>
      val r = dnsDraw(rnd)
      val viaLayer = QueryLayer.dnsByRequest(dns, r.wallet, r.domain,
          r.limit, r.offset)
        .select("nft_item_address").collect().map(_.getString(0)).toSeq
      val viaSql = spark.sql(dnsSqlOf(r))
        .collect().map(_.getString(0)).toSeq
      assert(viaLayer == viaSql, s"draw $i diverged for $r")
      if (viaLayer.nonEmpty) nonEmpty += 1
    }
    assert(nonEmpty > 12, s"fuzz draws too empty ($nonEmpty/40)")
  }

  test("mutation canary: dropping the LENGTH(domain) sort key is " +
      "CAUGHT by the dns fuzz") {
    val dns = dnsFixture()
    dns.createOrReplaceTempView("dns_view")
    val rnd = new Random(20260824L)
    val diverged = (1 to 40).count { _ =>
      val r = dnsDraw(rnd)
      val viaLayer = QueryLayer.dnsByRequest(dns, r.wallet, r.domain,
          r.limit, r.offset)
        .select("nft_item_address").collect().map(_.getString(0)).toSeq
      val mutated = spark.sql(dnsSqlOf(r, mutateOrder = true))
        .collect().map(_.getString(0)).toSeq
      viaLayer != mutated
    }
    assert(diverged > 0, "fixture length ties too weak to catch an " +
      "order mutation")
  }

  // crud_dns.go:31-40: the route 422s unless exactly one arm is given
  test("dns request with both wallet and domain fails (the route 422s)") {
    val e = intercept[IllegalArgumentException] {
      QueryLayer.dnsByRequest(dnsFixture(), Some("w1"), Some("1a.ton"))
    }
    assert(e.getMessage.contains("only one of wallet or domain"))
  }

  test("dns request with neither wallet nor domain fails (the route 422s)") {
    val e = intercept[IllegalArgumentException] {
      QueryLayer.dnsByRequest(dnsFixture(), None, None)
    }
    assert(e.getMessage.contains("at least one of wallet or domain"))
  }
}
