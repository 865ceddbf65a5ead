package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ParquetSchema
import org.apache.spark.sql.types.TimestampType

/** Parquet table readers over the driver testdata directory layout
  * (`TESTDATA.md`): one parquet file per table under `sfDir`.
  *
  * All reads go through `spark.read.parquet` so Catalyst sees a plain
  * file scan: filter pushdown (`PushedFilters`) and column pruning
  * (`ReadSchema`) apply to every downstream query with zero extra work.
  * At cluster scale these would be partitioned-directory datasets; the
  * API surface is identical.
  *
  * Building a table starts no Spark job. Stock schema inference reads
  * one parquet footer inside a one-task job (about 20 ms per read at
  * small scale, paid by every registry query per input); here the
  * schema is read on the driver by `ParquetSchema.infer` and handed to
  * `spark.read.schema(...)`. That reads the same footer, picked by the
  * same rule (`_common_metadata`, else `_metadata`, else the first data
  * file by path), through the same footer-to-schema conversion under
  * the same session flags, so the relation is the one stock inference
  * builds — `Tables.events`' `nanosAsLong` setting included. Where one
  * footer is not the whole answer (schema merging on, a partitioned
  * directory) or the read fails, `infer` gives up and the read is plain
  * `spark.read.parquet(path)`, errors included. The gain is for flat
  * inputs (files only under the path, as in the testdata); a
  * partitioned directory pays one extra listing of its root before the
  * fallback, unmeasured on an object store.
  */
object Tables {
  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    ParquetSchema.infer(spark, path) match {
      case Some(schema) => spark.read.schema(schema).parquet(path)
      case None => spark.read.parquet(path)
    }
  }

  def region(s: SparkSession, d: String): DataFrame = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = table(s, d, "lineitem")
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")

  /** `events.ts` has shipped as either parquet timestamp[ns] or
    * timestamp[us] across testdata generations, so the reader branches
    * on the scanned type and normalizes both to the same two columns:
    *   - `ts`    — μs-precision TimestampType (same truncation DuckDB
    *               applies, since DuckDB timestamps are μs too);
    *   - `ts_ms` — millisecond epoch Long, matching the oracle's
    *               `epoch_ms(ts)` exactly, so all event-time arithmetic
    *               runs on identical integers in both engines.
    * The ns layout is rejected by Spark 4 by default
    * (PARQUET_TYPE_ILLEGAL), so it is read as a raw nanosecond Long via
    * `spark.sql.legacy.parquet.nanosAsLong` and rescaled; the μs layout
    * arrives as TIMESTAMP_NTZ and is cast under the UTC session
    * timezone (a representation change only — the session is pinned to
    * UTC everywhere, so wall-clock fields are preserved).
    */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = table(s, d, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => // timestamp[ns] as raw Long
        raw.withColumn("ts_ms", expr("ts div 1000000"))
          .withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _ => // timestamp[us]: TIMESTAMP_NTZ (or already TIMESTAMP)
        raw.withColumn("ts", col("ts").cast(TimestampType))
          .withColumn("ts_ms", unix_millis(col("ts")))
    }
  }
}
