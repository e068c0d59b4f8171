package graft.entries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registered query: its name, the Spark frame it builds over an
  * sf-dir, and the DuckDB SQL that frame must equal row for row.
  * [[graft.SparkEntry.queries]] and [[graft.SparkEntry.oracleSql]] read
  * both halves from the same value, so an entry cannot lack an oracle.
  */
final case class Q(name: String, spark: (SparkSession, String) => DataFrame,
                   oracle: String)
