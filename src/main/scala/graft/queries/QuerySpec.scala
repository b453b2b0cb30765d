package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One declared query of the driver contract: its name, the Spark
  * build over a scale-factor directory, and the DuckDB SQL that must
  * return the same rows over the same parquet tables.
  *
  * Conventions for oracle determinism (engine-portable hashing):
  *   - outputs carry only BIGINT / STRING columns (doubles are rounded
  *     and scaled to integers: distances ×1000 → `dist_milli`, money
  *     ×100 → `*_c`)
  *   - every query ends with a total deterministic ORDER BY (rounded
  *     measure + unique key tiebreak) expressed identically in Spark
  *     and the oracle SQL
  *
  * Each family object (`CoreQueries`, `WebQueries`, …) declares its
  * specs with the Spark body and the oracle side by side; helpers that
  * several families use live in [[Shared]]. A family's private `val`
  * helpers are declared above its `specs`: a spec reading a `val`
  * declared after it would see `null` during object initialisation. */
final case class QuerySpec(name: String,
    build: (SparkSession, String) => DataFrame, oracle: String)
