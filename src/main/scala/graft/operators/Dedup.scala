package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators.
  *
  * The reference dedups on an md5 of (account_id, Ticket, timestamp) and
  * keeps the FIRST row in file order (`CSV PARSER/gcp_csv.py:149-157`,
  * pandas `drop_duplicates` default `keep="first"`). Spark's
  * `dropDuplicates` keeps an *arbitrary* row, so the deterministic parity
  * variant is a `row_number` window — one shuffle on the key columns,
  * partial-safe, and AQE handles skewed keys at scale.
  */
object Dedup {

  /** C9 parity: keep the first row per key under an explicit order.
    * One hash-shuffle on `keys`; the window sort is per-key and spills. */
  def keepFirst(df: DataFrame, keys: Seq[String], order: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(order: _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Keep-first as a hash AGGREGATION instead of a ranking window:
    * `min_by(struct(row), struct(order))` per key. Same result as
    * `keepFirst` when `order` is total within each key group, different
    * physical shape: map-side partial combine (each map task forwards one
    * candidate per key — decisive when duplicates are plentiful) and a
    * hash aggregate instead of a per-key sort. Prefer this for
    * duplicate-heavy 100 TB dedup. Both forms keep whole rows; in both,
    * tie-breaking among rows with equal order tuples is arbitrary — the
    * caller's order must be total for determinism either way. */
  def keepFirstAgg(df: DataFrame, keys: Seq[String], order: Seq[Column]): DataFrame = {
    val payload = struct(df.columns.toIndexedSeq.map(col): _*)
    df.groupBy(keys.map(col): _*)
      .agg(min_by(payload, struct(order: _*)).as("__w"))
      .select(col("__w.*"))
  }

  /** Arbitrary-row exact dedup — cheapest form (map-side partial
    * aggregation), for when the caller doesn't care which duplicate
    * survives. */
  def exact(df: DataFrame, keys: Seq[String]): DataFrame =
    df.dropDuplicates(keys)
}
