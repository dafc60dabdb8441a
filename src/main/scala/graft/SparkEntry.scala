package graft

import graft.registry.Query
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract (SURVEY.md §7): one named query per implemented
  * operator, each with a DuckDB-equivalent oracle. The queries live in
  * `graft.registry`, one file per name prefix; the two maps here are
  * views of that one list. */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The reference's pickup/dropoff tagged-count union
    * (consumer/StreamProcessor.scala:44-83) restated on lineitem. */
  def entry(spark: SparkSession): DataFrame =
    queries("rel_location_counts")(spark, "/root/testdata/sf0.001")

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    Query.all.map(q => q.name -> q.build).toMap

  lazy val oracleSql: Map[String, String] =
    Query.all.map(q => q.name -> q.oracleSql).toMap

  /** The named queries in the given order, or every query (in `queries`
    * order) when `names` is absent; an unknown name fails loudly, so a
    * typo cannot produce a valid-looking partial run. */
  def select(names: Option[Seq[String]])
      : Seq[(String, (SparkSession, String) => DataFrame)] =
    names match {
      case None => queries.toSeq
      case Some(ns) =>
        val unknown = ns.filterNot(queries.contains)
        require(unknown.isEmpty,
          s"unknown query names: ${unknown.mkString(", ")}")
        ns.distinct.map(n => n -> queries(n))
    }
}
