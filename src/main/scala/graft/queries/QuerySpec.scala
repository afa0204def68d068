package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registered query: its Spark plan over a fixture directory and the
  * DuckDB SQL that must hash-match it. Plan and oracle are one value, so a
  * name can carry neither without the other.
  */
final case class QuerySpec(name: String,
                           run: (SparkSession, String) => DataFrame,
                           oracleSql: String)

object QuerySpec {

  /** Two specs registered under one name. */
  final class DuplicateQueryError(val name: String)
      extends IllegalArgumentException(s"query $name is registered twice")

  /** Name → spec. A repeated name fails here: in a plain `toMap` the later
    * spec would silently shadow the earlier one.
    */
  def index(specs: Seq[QuerySpec]): Map[String, QuerySpec] =
    specs.foldLeft(Map.empty[String, QuerySpec]) { (byName, q) =>
      if (byName.contains(q.name)) throw new DuplicateQueryError(q.name)
      byName.updated(q.name, q)
    }
}
