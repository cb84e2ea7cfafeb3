package graft
package gate

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One gate row: its name, its Spark builder (session, sf dir) → result,
  * and how the result is checked. Constructing one does no Spark work. */
final case class GateQuery(name: String, build: (SparkSession, String) => DataFrame, check: Check)

/** How a gate row's result is verified. */
sealed trait Check

/** DuckDB SQL over the sf dir's parquet files; the driver hash-compares
  * its result with the builder's (Verify emits `oracle_sql.json`). */
final case class Oracle(sql: String) extends Check

/** A row that deliberately ships WITHOUT a DuckDB oracle. `row` names the
  * compensating check: a hash-matched [[Oracle]] row that pins the exempt
  * operator's accuracy, or `spec:<SuiteName>` where the guarantee is
  * fixture-based. Verify dumps `reason` and `row` as `oracle_exempt.json`,
  * so a `no_oracle` row is tied to its passing contract row by key. */
final case class Contract(row: String, reason: String) extends Check
