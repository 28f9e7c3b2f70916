package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see SURVEY.md §7.
  *
  * Queries are assembled from operator packs; each pack entry (graft.Q)
  * co-locates the Spark program with its DuckDB oracle SQL so names and
  * column aliases stay in sync.
  */
object SparkEntry {

  private def packs: Seq[Q] =
    operators.Relational.all ++ operators.AsOf.all ++
      operators.Events.all ++ operators.TextOps.all ++
      operators.Dedup.all ++ operators.Curation.all ++
      operators.CorpusOps.all ++ operators.Retrieval.all ++
      operators.Similarity.all ++
      operators.Multimodal.all ++ operators.ApiQueries.all ++
      plans.GraphOps.all ++ plans.ChainSim.all ++ plans.SilverLayer.all ++
      streaming.StreamQueries.all

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    operators.Relational.q12.fn(spark, "/root/testdata/sf0.001")

  /** The queries keyed by name; a name registered twice fails. */
  private[graft] def byName(qs: Seq[Q]): Map[String, Q] = {
    val twice = qs.groupBy(_.name).collect { case (n, g) if g.size > 1 => n }
    require(twice.isEmpty,
      s"query names registered twice: ${twice.toSeq.sorted.mkString(", ")}")
    qs.map(q => q.name -> q).toMap
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    byName(packs).map { case (name, q) => name -> q.fn }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. */
  def oracleSql: Map[String, String] =
    byName(packs).map { case (name, q) => name -> q.oracle }

  /** The registered queries named in `subset` (comma-separated, as Verify
    * and Bench take it), or all of them when it is absent; sorted by
    * name. A name that is not registered fails, naming it. */
  def select(subset: Option[String])
      : Seq[(String, (SparkSession, String) => DataFrame)] = {
    val all = queries
    val names = subset.fold(all.keys.toSeq)(_.split(",").map(_.trim).toSeq)
      .distinct.sorted
    val unknown = names.filterNot(all.contains)
    if (unknown.nonEmpty)
      throw new IllegalArgumentException(
        s"unknown query names: ${unknown.mkString(", ")}")
    names.map(n => n -> all(n))
  }
}
