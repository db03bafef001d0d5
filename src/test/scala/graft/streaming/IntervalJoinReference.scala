package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, expr}

/** The earlier form of [[Streaming.intervalJoin]], kept as the test
  * reference: Spark's own stream-stream join (`StreamingSymmetricHashJoinExec`
  * on a stream, a plain join on a batch DataFrame) — both sides
  * renamed `l_`/`r_`, each watermarked on its event time, and the
  * interval as a range condition on the raw event-time columns, which is
  * what Spark's state cleanup reads.
  */
object IntervalJoinReference {
  def intervalJoin(
      left: DataFrame,
      right: DataFrame,
      keys: Seq[String],
      leftTs: String,
      rightTs: String,
      lowerMicros: Long,
      upperMicros: Long,
      watermark: String): DataFrame = {
    val l = left.columns.foldLeft(left)((d, c) => d.withColumnRenamed(c, s"l_$c"))
      .withWatermark(s"l_$leftTs", watermark)
    val r = right.columns.foldLeft(right)((d, c) => d.withColumnRenamed(c, s"r_$c"))
      .withWatermark(s"r_$rightTs", watermark)
    val cond = keys.map(k => col(s"l_$k") === col(s"r_$k"))
      .reduce(_ && _) &&
      col(s"r_$rightTs") >= col(s"l_$leftTs") +
        expr(s"INTERVAL '$lowerMicros' MICROSECOND") &&
      col(s"r_$rightTs") <= col(s"l_$leftTs") +
        expr(s"INTERVAL '$upperMicros' MICROSECOND")
    l.join(r, cond, "inner")
  }
}
