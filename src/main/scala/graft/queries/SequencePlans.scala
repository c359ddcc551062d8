package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The x113-x115 plan builders, parameterized on the events frame, so
  * any scale measurement runs the SAME shipped formulations as the
  * driver queries (the TpchPlans/TrainPrepPlans discipline). Scale
  * posture for all three: ONE shuffle on user_id (every window and the
  * closing aggregate share it), per-user state bounded by
  * events-per-user.
  */
object SequencePlans {

  /** lead(col) over the deterministic per-user event order. */
  private def nextEv(c: Column, n: Int): Column =
    lead(c, n).over(Window.partitionBy("user_id").orderBy("ts", "event_id"))

  /** X113: predicate MATCH_RECOGNIZE — pattern A B{0,2} B' with a value
    * predicate on B', as a k-lead lookahead + CASE cascade (FIRST(B')
    * semantics) over one user_id window shuffle. */
  def predicateMatch(events: DataFrame): DataFrame = {
    def t(n: Int) = nextEv(col("event_type"), n)
    def v(n: Int) = nextEv(col("value"), n)
    val hit = when(t(1) === "purchase" && v(1) > 20, v(1))
      .when(t(2) === "purchase" && v(2) > 20, v(2))
      .when(t(3) === "purchase" && v(3) > 20, v(3))
    events
      .select(col("user_id"), col("event_type"), hit.as("hit"))
      .filter(col("event_type") === "view")
      .groupBy("user_id")
      .agg(count(col("hit")).as("n_matches"),
        round(sum(col("hit").cast("decimal(18,4)")).cast("double"), 4)
          .as("matched_value"))
      .filter(col("n_matches") > 0)
      .orderBy("user_id")
  }

  /** X114: variable-length pattern (A{3,}) with measures over the matched
    * span — gaps-and-islands (island id = global rn − per-type rn), two
    * windows over the SAME user_id exchange, then a tiny keyed aggregate. */
  def errorStreaks(events: DataFrame): DataFrame = {
    val wAll = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val wType = Window.partitionBy("user_id", "event_type")
      .orderBy("ts", "event_id")
    events
      .select(col("user_id"), col("event_type"), col("value"),
        row_number().over(wAll).as("rn"),
        row_number().over(wType).as("rt"))
      .filter(col("event_type") === "error")
      .groupBy(col("user_id"), (col("rn") - col("rt")).as("island"))
      .agg(min("rn").as("start_rn"), count(lit(1)).as("streak_len"),
        round(sum(col("value").cast("decimal(18,4)")).cast("double"), 4)
          .as("streak_value"))
      .filter(col("streak_len") >= 3)
      .select("user_id", "start_rn", "streak_len", "streak_value")
      .orderBy("user_id", "start_rn")
  }

  /** X115: time-weighted average per user — value held constant until the
    * next event (step interpolation), weights = µs interval lengths from
    * one lead() over the user_id window. */
  def timeWeightedAvg(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    events
      .select(col("user_id"), col("value"),
        unix_micros(col("ts")).as("t"),
        lead(unix_micros(col("ts")), 1).over(w).as("t_next"))
      .filter(col("t_next").isNotNull)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_intervals"),
        sum(col("t_next") - col("t")).as("span"),
        sum(col("value").cast("decimal(18,4)") *
          (col("t_next") - col("t"))).as("num"))
      // a zero-length timeline (all events in one µs) makes the quotient
      // 0/0, where Spark's non-ANSI divide says NULL and DuckDB says NaN —
      // exclude the degenerate group in BOTH engines
      .filter(col("span") > 0)
      .select(col("user_id"), col("n_intervals"),
        round(col("num").cast("double") / col("span").cast("double"), 6)
          .as("twa"))
      .orderBy("user_id")
  }
}
