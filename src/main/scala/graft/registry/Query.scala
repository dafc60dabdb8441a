package graft
package registry

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registered query: its Spark build over an SF directory and the
  * DuckDB SQL that must return the same rows over the same tables.
  *
  * Oracle-parity rules used throughout (hash compare is exact):
  *  - every computed column aliased identically on both sides;
  *  - integer-ish outputs cast to BIGINT on both sides (Spark int vs
  *    DuckDB BIGINT would hash-mismatch);
  *  - timestamps emitted as formatted strings (the fixtures' timestamps
  *    are timestamp_ntz in Spark and TIMESTAMP in DuckDB — raw timestamp
  *    output would differ in type);
  *  - double aggregates rounded at the edge; all hashing is md5 so both
  *    engines compute identical signatures;
  *  - DuckDB regexp_replace needs the 'g' flag to match Spark's
  *    replace-all semantics.
  */
final case class Query(name: String,
    build: (SparkSession, String) => DataFrame, oracleSql: String)

object Query {

  /** Every registered query, one file per name prefix. */
  lazy val all: Seq[Query] = requireUniqueNames(
    RelQueries.all ++ JoinQueries.all ++ WinQueries.all ++
      TextQueries.all ++ DedupQueries.all ++ SimQueries.all ++
      MediaQueries.all ++ GraphQueries.all ++ StreamQueries.all ++
      CdcQueries.all)

  /** `qs` unchanged, or an error naming every name used twice: a map
    * keyed by name would silently keep only the last record. */
  def requireUniqueNames(qs: Seq[Query]): Seq[Query] = {
    val dups = qs.groupBy(_.name).collect {
      case (n, rs) if rs.size > 1 => n
    }.toSeq.sorted
    require(dups.isEmpty, s"duplicate query names: ${dups.mkString(", ")}")
    qs
  }
}
