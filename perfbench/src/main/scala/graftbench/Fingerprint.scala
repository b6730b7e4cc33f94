package graftbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** A query result's fingerprint: its row count plus the `Bench.materialize`
  * fold, `bit_xor(xxhash64(every column cast to string))`. One job computes
  * both, and every output column feeds the hash, so nothing upstream can be
  * pruned. The fold is order-free: a result that differs only in row order
  * keeps its fingerprint. */
final case class Fingerprint(rows: Long, xor: Long) {
  def render: String = s"$rows:$xor"
}

object Fingerprint {
  /** The one-row frame that computes `df`'s fingerprint. */
  def frame(df: DataFrame): DataFrame = {
    val cols = df.columns.map(c => col(c).cast("string"))
    df.select(xxhash64(cols: _*).as("h"))
      .agg(count(lit(1)), coalesce(bit_xor(col("h")), lit(0L)))
  }

  def read(fp: DataFrame): Fingerprint = {
    val r = fp.collect()(0)
    Fingerprint(r.getLong(0), r.getLong(1))
  }

  def of(df: DataFrame): Fingerprint = read(frame(df))

  def parse(s: String): Fingerprint = {
    val Array(r, x) = s.split(":")
    Fingerprint(r.toLong, x.toLong)
  }
}
