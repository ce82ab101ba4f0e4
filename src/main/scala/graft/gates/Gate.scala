package graft.gates

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One oracle gate: its name, the DuckDB SQL whose result its Spark plan
  * must hash-equal, and the plan itself (`run(session, tablesDir)`).
  * `streaming` marks a gate whose `run` executes a Structured Streaming
  * query (micro-batch trigger, state store, checkpoint) rather than
  * returning a batch plan: Bench reports their subtotal separately and
  * PlanSweep skips them. Equality is by the first parameter list only. */
final case class Gate(name: String, oracleSql: String, streaming: Boolean = false)(
    val run: (SparkSession, String) => DataFrame)
