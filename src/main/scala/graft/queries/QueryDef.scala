package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One harness query: its name, its Spark plan over a data directory,
  * and the DuckDB SQL that must produce the same rows from the same
  * parquet tables.
  */
final case class QueryDef(
    name: String,
    build: (SparkSession, String) => DataFrame,
    oracleSql: String)
