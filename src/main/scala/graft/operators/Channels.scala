package graft.operators

import org.apache.spark.sql.{DataFrame, Encoders, KeyValueGroupedDataset, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType
import Smoothing.keyCols

/** The one per-channel harness of the batch signal spine (Envelopes,
  * peak detection, beat metrics). It groups by the plain key columns,
  * so a frame already hash-partitioned by channel adds no Exchange and
  * no AppendColumns, and hands each kernel its channel laid out by
  * `sample_idx`: `rows(i)` is the row of sample i.
  *
  * Precondition: `sample_idx` is dense and 0-based per channel. A
  * channel that breaks it fails the job with an error naming it.
  *
  * Null keys: a row with a null key belongs to no channel. It reaches no
  * kernel and skips the precondition; `keyless` says what it yields.
  */
private[graft] object Channels {

  /** `kernel(key, rows)` over every channel of `df`, emitted as `out`. */
  def flatMap(df: DataFrame, out: StructType, keyless: Row => Iterator[Row] = _ => Iterator.empty)(
      kernel: (Row, Array[Row]) => Iterator[Row]): DataFrame = {
    val at = df.schema.fieldIndex("sample_idx")
    grouped(df).flatMapGroups { (key: Row, rows: Iterator[Row]) =>
      if (key.anyNull) rows.flatMap(keyless) else kernel(key, layout(key, rows, at))
    }(Encoders.row(out)).toDF()
  }

  /** `kernel(key, rows, side)` over every channel of `df`, `side` being
    * the rows of `other` under the same key (of the same key types). Null
    * keys on either side yield nothing.
    */
  def cogroup(df: DataFrame, other: DataFrame, out: StructType)(
      kernel: (Row, Array[Row], Iterator[Row]) => Iterator[Row]): DataFrame = {
    val at = df.schema.fieldIndex("sample_idx")
    grouped(df).cogroup(grouped(other)) {
      (key: Row, rows: Iterator[Row], side: Iterator[Row]) =>
        if (key.anyNull) Iterator.empty else kernel(key, layout(key, rows, at), side)
    }(Encoders.row(out)).toDF()
  }

  /** Column `at` as doubles; null reads as NaN, as scipy sees a missing value. */
  def doubles(rows: Array[Row], at: Int): Array[Double] =
    rows.map(r => if (r.isNullAt(at)) Double.NaN else r.getAs[Number](at).doubleValue)

  private def grouped(df: DataFrame): KeyValueGroupedDataset[Row, Row] =
    df.groupBy(keyCols.map(col): _*).as[Row, Row](
      Encoders.row(StructType(keyCols.map(df.schema(_).copy(nullable = true)))),
      Encoders.row(df.schema))

  private def layout(key: Row, rows: Iterator[Row], at: Int): Array[Row] = {
    val all = rows.toArray
    val n = all.length
    val byIdx = new Array[Row](n)
    all.foreach { r =>
      val i = r.get(at) match { case x: Number => x.longValue; case _ => -1L }
      if (i < 0 || i >= n || byIdx(i.toInt) != null)
        throw new IllegalArgumentException(
          s"the signal spine needs a dense 0-based sample_idx per channel: channel " +
            s"(experiment_id=${key.get(0)}, channel=${key.get(1)}) has $n rows " +
            s"but sample_idx ${r.get(at)} is ${if (i >= 0 && i < n) "repeated" else "out of range"}")
      byIdx(i.toInt) = r
    }
    byIdx
  }
}
