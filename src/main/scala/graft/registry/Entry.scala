package graft.registry

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registry entry: an operator's Spark plan over a fixture
  * directory and the DuckDB SQL that must return the same rows from
  * the same parquet tables, for the driver's differential check.
  * Column names and aliases are identical on both sides (the driver
  * hash-compares after sorting columns by name), and floating-point
  * outputs are rounded on both sides so last-ulp differences between
  * engines don't flip the hash. The text/hash-heavy oracles are built
  * from the same `TextPrimitives` fragments the Spark side mirrors. */
final case class Entry(name: String, run: (SparkSession, String) => DataFrame, oracleSql: String)
