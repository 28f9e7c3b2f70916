package graft.functions

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** F7 interface detection (reference: exact code-hash table then
  * method-id subset test, ton-index-go/index/detect/interfaces.go:891-930;
  * get-method extraction tondb-scanner/src/parse_contract_methods.cpp).
  *
  * The code-hash table is a broadcast map (a few hundred entries); the
  * fallback checks whether a contract's extracted method-id set contains
  * all ids required by an interface. Both run as scalar functions over a
  * broadcast — no shuffle, no lookup service.
  */
object Interfaces {

  /** TVM get-method id from its name: (crc16/xmodem & 0xffff) | 0x10000 —
    * the published method-id scheme (e.g. "seqno" → 85143). This is how
    * the reference's contract_methods table derives ids
    * (tondb-scanner/src/parse_contract_methods.cpp). */
  def methodId(name: String): Long =
    (Address.crc16(name.getBytes("UTF-8")).toLong & 0xffffL) | 0x10000L

  /** Method-id requirements per interface (public TEP get-methods). */
  val methodRequirements: Map[String, Set[Long]] = Map(
    "jetton_wallet" -> Set(97026L, 102491L), // get_wallet_data, get_status-ish
    "jetton_master" -> Set(106029L, 103289L), // get_jetton_data, get_wallet_address
    "nft_item" -> Set(102351L), // get_nft_data
    "nft_collection" -> Set(102491L, 92067L)) // get_collection_data, get_nft_address_by_index

  /** The full public catalog with method ids resolved from names. */
  lazy val publicCatalog: Seq[(String, Seq[String], Set[Long])] =
    PublicInterfaces.catalog.map { case (name, hashes, methods) =>
      (name, hashes, methods.map(methodId).toSet)
    }

  /** code hash (base64) → interface name across the public catalog
    * (detect/interfaces.go: an exact hash match wins immediately). */
  lazy val publicCodeHashTable: Map[String, String] =
    PublicInterfaces.catalog.flatMap { case (name, hashes, _) =>
      hashes.map(_ -> name)
    }.toMap

  /** Full reference detection contract (DetectInterface,
    * interfaces.go:891-934): exact code-hash match returns that single
    * interface; otherwise EVERY interface whose (non-empty) method-id
    * requirement is a subset of the contract's methods, sorted by name. */
  def detectAll(codeHash: String, methodIds: Seq[Long]): Seq[String] =
    Option(codeHash).flatMap(publicCodeHashTable.get).map(Seq(_))
      .getOrElse {
        if (methodIds.isEmpty) Nil
        else {
          val ids = methodIds.toSet
          publicCatalog.collect {
            case (name, _, req) if req.nonEmpty && req.subsetOf(ids) => name
          }.sorted
        }
      }

  /** Method ids extracted from a contract CODE cell: the standard FunC
    * prologue is SETCP0 (0xFF00) then DICTPUSHCONST (13-bit opcode
    * 0b1111010010100 + push flag) with a 10-bit key length and the method
    * dictionary as the ref; the dictionary's keys ARE the method ids
    * (reference: tondb-scanner/src/parse_contract_methods.cpp). Keys are
    * read unsigned-truncated exactly like the reference. Throws on a
    * non-standard prologue — wrap at the call site. */
  def methodIdsFromCode(codeB64: String): Seq[Long] = {
    val s = Boc.parseBase64(codeB64).beginParse()
    if (s.loadUint(8).toInt != 0xff || s.loadUint(8).toInt != 0)
      throw new IllegalArgumentException("not SETCP0")
    if (s.loadUint(13).toInt != 0x1e94 || !s.loadBit())
      throw new IllegalArgumentException("not DICTPUSHCONST")
    val keyLen = s.loadUint(10).toInt
    Boc.dictKeys(s.loadRef(), keyLen).map(_.toLong)
  }

  /** Detect by exact code hash, else by method-id subset. */
  def detect(codeHashTable: Map[String, String])(
      codeHash: String, methodIds: Seq[Long]): Option[String] = {
    Option(codeHash).flatMap(codeHashTable.get).orElse {
      val ids = methodIds.toSet
      methodRequirements.collectFirst {
        case (iface, req) if req.subsetOf(ids) => iface
      }
    }
  }

  /** Column-level detection over a broadcast table: code-hash map lookup
    * with method-subset fallback, pure `functions._` (codegen-friendly —
    * no UDF). `methodIdsCol` is an array<long> column. */
  def detectColumn(spark: SparkSession, codeHashTable: Map[String, String],
      codeHashCol: Column, methodIdsCol: Column): Column = {
    val m =
      if (codeHashTable.isEmpty) lit(null).cast("map<string,string>")
      else map(codeHashTable.flatMap { case (k, v) => Seq(lit(k), lit(v)) }.toSeq: _*)
    val byHash = element_at(m, codeHashCol)
    val bySubset = methodRequirements.foldLeft(lit(null).cast("string")) {
      case (acc, (iface, req)) =>
        val reqArr = array(req.toSeq.sorted.map(lit): _*)
        when(acc.isNotNull, acc)
          .otherwise(when(size(array_except(reqArr, methodIdsCol)) === 0, lit(iface))
            .otherwise(lit(null).cast("string")))
    }
    coalesce(byHash, bySubset)
  }
}
