package graftbench

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.model.Corpus

/** Expected results, derived from the generated changelog alone through
  * `Corpus.oracleFinalState`, never from the engine's incremental path. */
object Oracle {
  val StateCols = Seq("conv_id", "turn_idx", "role", "text", "tool", "ts")

  /** The table's live rows on the oracle's columns; a column the table
    * has not evolved yet reads as null, as it does in the oracle. */
  def stateOf(df: DataFrame): DataFrame = df.select(StateCols.map { c =>
    if (df.columns.contains(c)) col(c) else lit(null).as(c)
  }: _*)

  /** Row count and an order-free fingerprint of every per-turn value
    * keyed by (conv_id, turn_idx). */
  def fingerprint(df: DataFrame): (Long, Long) = {
    val nul = lit("\u0000")
    val h = pmod(xxhash64(col("conv_id"), col("turn_idx"),
      coalesce(col("role"), nul), coalesce(col("text"), nul),
      coalesce(col("tool"), nul), coalesce(col("ts").cast("string"), nul)),
      lit(1000000007L))
    val r = stateOf(df).agg(count(lit(1)), coalesce(sum(h), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  /** Rows on either side with no equal row on the other (exact, for the
    * failure message when fingerprints differ). */
  def diffRows(got: DataFrame, want: DataFrame): Long = {
    val g = stateOf(got)
    val w = stateOf(want)
    g.exceptAll(w).count() + w.exceptAll(g).count()
  }

  /** Live rows per conversation, as (turn_idx, text) sets, for `convs`. */
  def rowsOf(state: DataFrame,
      convs: Seq[String]): Map[String, Set[(Int, String)]] = {
    val got = state.where(col("conv_id").isin(convs: _*))
      .select("conv_id", "turn_idx", "text").collect()
      .groupBy(_.getString(0))
      .map { case (c, rs) => c -> rs.map(r => (r.getInt(1), r.getString(2))).toSet }
    convs.map(c => c -> got.getOrElse(c, Set.empty[(Int, String)])).toMap
  }

  def turnsOf(rows: Array[Row]): Set[(Int, String)] =
    rows.map(r => (r.getInt(0), r.getString(1))).toSet

  /** Keys whose live row differs between two final states, compared on
    * ts (the winning event's txid): the rows an incremental pull from
    * one to the other emits (inserts, updates and deletes). */
  def changedKeys(from: DataFrame, to: DataFrame): Long = {
    val keys = Seq("conv_id", "turn_idx")
    def side(df: DataFrame, ts: String) = df.select(keys.map(col) :+ col("ts").as(ts): _*)
    side(from, "ts0").join(side(to, "ts1"), keys, "full_outer")
      .where(!(col("ts0") <=> col("ts1"))).count()
  }

  def finalState(events: DataFrame): DataFrame = Corpus.oracleFinalState(events)

  /** Live row count and highest live txid of a final state (the corpus
    * stamps every live row with ts = BaseEpochSec + _txid). */
  def scanAnswer(state: DataFrame): (Long, Long) = {
    val r = state.agg(count(lit(1)),
      max(unix_seconds(col("ts"))) - lit(Corpus.BaseEpochSec)).head()
    (r.getLong(0), r.getLong(1))
  }
}
