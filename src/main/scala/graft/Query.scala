package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One query of the suite: its operator plan over the parquet tables in a
  * scale-factor directory, and the independent DuckDB statement that must
  * return the same rows and columns (the DuckDB compare sorts columns by
  * name before hashing, so names must match exactly).
  */
final case class Query(name: String, build: (SparkSession, String) => DataFrame, oracleSql: String)

object Query {

  /** `f` of every query, keyed by name. A repeated name fails here
    * instead of silently keeping the last entry.
    */
  def byName[V](qs: Seq[Query])(f: Query => V): Map[String, V] = {
    val dups = qs.groupBy(_.name).collect { case (n, g) if g.size > 1 => n }
    require(dups.isEmpty, s"duplicate query names: ${dups.toSeq.sorted.mkString(", ")}")
    qs.map(q => q.name -> f(q)).toMap
  }
}
