package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One verifiable operator query: a Spark implementation plus (when the
  * semantics are ANSI-SQL-expressible) an equivalent DuckDB oracle that the
  * driver runs over the same parquet tables.
  *
  * Contract (see SparkEntry): every computed/aggregated column must carry
  * the SAME alias in the Spark result and the oracle SQL — the driver's
  * compare sorts columns by name before hashing.
  *
  * Determinism rules applied throughout:
  *  - every query ends in a total ORDER BY (unique tie-break column);
  *  - double aggregates are rounded identically on both sides;
  *  - integer-typed derived columns are cast to BIGINT on both sides
  *    (DuckDB count/rank/sum(int) default to BIGINT/HUGEINT).
  */
final case class Q(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String]
)
