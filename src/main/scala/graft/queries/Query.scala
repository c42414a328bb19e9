package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registered query: its name, its Spark build over a star-schema
  * directory, and the DuckDB SQL that must return the same rows over the
  * same parquet tables. The vote-grid family also carries a [[ChunkedOracle]]
  * replay of that SQL.
  *
  * Both oracle parameters are by-name. The text is evaluated only when
  * [[oracle]] or [[chunked]] is called (Verify, the specs), never when a
  * record is declared or a query is built, so a bench JVM neither computes
  * nor holds it. Oracle helpers are `def`s for the same reason. */
final class Query(val name: String,
                  val build: (SparkSession, String) => DataFrame,
                  oracleText: => String,
                  chunkedText: => Option[ChunkedOracle]) {
  def oracle: String = oracleText
  def chunked: Option[ChunkedOracle] = chunkedText
}

object Query {
  def apply(name: String, build: (SparkSession, String) => DataFrame,
            oracle: => String, chunked: => Option[ChunkedOracle] = None): Query =
    new Query(name, build, oracle, chunked)
}

/** One stage of a chunked oracle replay: materialize `table` from `sql`.
  * When `chunked` is true, `sql` carries the `<<NCHUNKS>>`/`<<CHUNK>>`
  * placeholders and the runner unions one pass per chunk (CREATE then
  * INSERT). The per-document fingerprint grid partitions cleanly on
  * `doc_id % NCHUNKS`, so each pass builds 1/N of the vote grid instead of
  * the whole ~2–8 B-row intermediate that exceeded the sandbox at 100×. */
case class ChunkStage(table: String, sql: String, chunked: Boolean)

/** A chunked DuckDB replay for a vote-grid query, whose single-statement
  * oracle explodes on the (documents × grams × hex-chars) fingerprint grid
  * at 100×. Its semantics are identical to the query's oracle: the fps CTE
  * chain is per-document, so unioning doc-modulo chunks reproduces the
  * exact pfps relation, and `finalSql` then runs over the materialized
  * table (the CTE name `pfps` resolves to it unchanged). Run by
  * `tools/validate_grid_chunked.py`; [[graft.Verify]] dumps every replay as
  * `oracle_chunked.json`. */
case class ChunkedOracle(stages: Seq[ChunkStage], finalSql: String)
