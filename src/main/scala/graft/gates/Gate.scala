package graft.gates

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One gate of the query contract: the query `name`, how Spark builds it
  * over a table directory, and the DuckDB SQL that must return the same
  * rows. Each gate is declared once, in the object of its family. */
private[graft] final case class Gate(
    name: String,
    build: (SparkSession, String) => DataFrame,
    oracle: String)
