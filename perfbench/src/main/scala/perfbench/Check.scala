package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.streaming.{SessionJoin, Sink}

/** Output check of one run: the committed pairs against the batch oracle
  * (`SessionJoin.pairBatch` over the same turns, after the same map stage).
  *
  * A run passes when
  *  - no pair is committed twice,
  *  - every committed pair is an oracle pair, and
  *  - every oracle pair that was not committed belongs to a session still
  *    open at the final watermark.
  *
  * A session is closed when the final watermark is past its close point,
  * `(floor(last ts in s) + gap + 1) * 1000` ms (`SessionJoin.closePointMs`).
  * "Past" is strict: Spark fires an event-time timeout only when the
  * watermark exceeds it, so a session whose close point equals the final
  * watermark may or may not be committed, and is not required.
  */
final class Oracle(spark: SparkSession, turns: DataFrame) {
  import Oracle._

  private val gap = SessionJoin.DefaultGapSeconds

  /** Every oracle pair with its key, row hash and session close point. */
  val pairs: DataFrame = {
    val w = Window.partitionBy(col("conv_id")).orderBy(col("ts"), col("turn_idx"))
    val prev = lag(col("ts"), 1).over(w)
    val isNew = when(prev.isNull ||
      unix_timestamp(col("ts")) - unix_timestamp(prev) > gap, 1).otherwise(0)
    val sessions = turns
      .withColumn("session_id",
        sum(isNew).over(w.rowsBetween(Window.unboundedPreceding, 0)) - lit(1))
      .groupBy(col("conv_id"), col("session_id"))
      .agg(((max(unix_timestamp(col("ts"))) + gap + 1) * 1000L).as("close_ms"))
    keyed(SessionJoin.pairBatch(turns, gap)).join(sessions, Seq("conv_id", "session_id"))
  }

  /** Oracle pairs of sessions closed by watermark `wm`. */
  private def closed(wm: Long): DataFrame = pairs.filter(col("close_ms") < wm)

  def expected(wm: Long): Fingerprint = fingerprint(closed(wm))

  /** Exact accounting of one committed output against the oracle. */
  def diff(outDir: String, wm: Long, expectedRows: Long): CheckResult = {
    val committed = Sink.readCommitted(spark, outDir)
    val g =
      if (committed.columns.isEmpty) pairs.limit(0).select((KeyCols :+ "h" :+ "h2").map(col): _*)
      else keyed(committed)
    val dups = g.groupBy(KeyCols.map(col): _*).count().filter(col("count") > 1)
      .agg(coalesce(sum(col("count") - 1), lit(0L))).head().getLong(0)
    val unexpected = g.join(pairs, KeyCols :+ "h", "left_anti").count()
    val missing = closed(wm).join(g, KeyCols :+ "h", "left_anti").count()
    CheckResult(expectedRows, dups, unexpected, missing, g.count())
  }
}

object Oracle {
  val KeyCols: Seq[String] = Seq("conv_id", "session_id", "reply_turn_idx")
  private val PairCols = Seq("conv_id", "session_id", "user_turn_idx", "user_text",
    "reply_turn_idx", "reply_role", "reply_text", "reply_tool", "user_ts", "reply_ts")

  /** Key columns plus two independent hashes over every pair column. */
  def keyed(df: DataFrame): DataFrame =
    df.select(KeyCols.map(col) :+ xxhash64(PairCols.map(col): _*).as("h") :+
      hash(PairCols.map(col): _*).as("h2"): _*)

  /** Fingerprint of a committed output. */
  def committed(spark: SparkSession, outDir: String): Fingerprint = {
    val c = Sink.readCommitted(spark, outDir)
    if (c.columns.isEmpty) Fingerprint(0L, BigDecimal(0), 0L) else fingerprint(keyed(c))
  }

  final case class Fingerprint(rows: Long, hashSum: BigDecimal, hash2Sum: Long)

  /** Order-independent summary of a pair multiset: row count and the sums
    * of both row hashes. Equal fingerprints mean equal multisets with
    * overwhelming probability (a duplicate that replaced a missing pair
    * would have to match both sums); any difference falls through to the
    * exact diff.
    */
  def fingerprint(df: DataFrame): Fingerprint = {
    val r = df.agg(count(lit(1)),
      coalesce(sum(col("h").cast("decimal(38,0)")), lit(BigDecimal(0)).cast("decimal(38,0)")),
      coalesce(sum(col("h2").cast("long")), lit(0L))).head()
    Fingerprint(r.getLong(0), BigDecimal(r.getDecimal(1)), r.getLong(2))
  }
}

/** `expected` = oracle pairs of closed sessions; errors = the three kinds. */
final case class CheckResult(expected: Long, duplicated: Long, unexpected: Long,
    missing: Long, committed: Long) {
  def errors: Long = duplicated + unexpected + missing
}

object CheckResult {
  def share(rs: Seq[CheckResult]): Double = {
    val exp = rs.map(_.expected).sum
    val err = rs.map(_.errors).sum
    if (err == 0) 0.0 else err.toDouble / math.max(1L, exp)
  }
}
