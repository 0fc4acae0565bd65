package graft.gates

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One query gate: `run` builds the gate's query over the test tables in a
  * scale-factor dir, `oracle` is the DuckDB SQL its result must equal
  * (`graft.Verify` dumps both; `tools/check_oracle.py` compares them).
  * Every query returns engine-portable types: timestamps as epoch
  * microseconds (bigint), integers as bigint, floats as double,
  * exact-decimal intermediate sums cast to double at the end — so the
  * DuckDB oracle can match bit-for-bit.
  */
final case class Gate(name: String, run: (SparkSession, String) => DataFrame, oracle: String)
