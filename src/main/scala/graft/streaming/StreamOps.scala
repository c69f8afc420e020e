package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.Canon.round

/** Streaming-compatible aggregations (SURVEY.md §2.10). The reference is
  * strictly batch (PDAL chunked pipelining is bounded-batch, not unbounded
  * streams), so these are declared EXTENSIONS: the §2.4 aggregation shapes
  * exposed as event-time windowed queries that run identically over a
  * static DataFrame (oracle-checked here) and over `readStream` input with
  * a watermark (exercised in StreamSpec). One transform definition serves
  * both modes — the Structured Streaming contract.
  */
object StreamOps {

  /** Tumbling 1-hour window per event_type: count / sum / mean / extremes.
    * Works on batch or streaming input alike. */
  def hourlyAgg(events: DataFrame): DataFrame =
    // events-per-hour grows with sf → integer-exact sum/mean
    // (1e-6-quantized long sums, one divide — float-mean audit; the
    // quantized sum is an incremental agg state, so the SAME definition
    // still runs under Structured Streaming)
    events
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        round(sum(floor(col("value") * 1e6 + 0.5).cast("long")).cast("double")
          / 1e6, 6).as("sum_value"),
        round(sum(floor(col("value") * 1e6 + 0.5).cast("long")).cast("double")
          / (count(lit(1)).cast("double") * 1e6), 6).as("mean_value"),
        round(min("value"), 6).as("min_value"),
        round(max("value"), 6).as("max_value"))
      .select(col("w.start").as("hour_start"), col("event_type"),
        col("n"), col("sum_value"), col("mean_value"),
        col("min_value"), col("max_value"))

  val hourlyAggSql: String =
    """SELECT date_trunc('hour', ts) AS hour_start, event_type,
              count(*) AS n,
              round(CAST(sum(CAST(floor(value * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000.0, 6) AS sum_value,
              round(CAST(sum(CAST(floor(value * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE)
                    / (CAST(count(*) AS DOUBLE) * 1000000.0), 6) AS mean_value,
              round(min(value), 6) AS min_value,
              round(max(value), 6) AS max_value
       FROM events GROUP BY 1, 2"""

  /** Exact distinct users per hourly window. The batch twin of the
    * streaming form `dropDuplicates("user_id", window) → count` —
    * COUNT(DISTINCT) itself isn't incremental, so the streaming path
    * dedups first and counts the survivors; both compute this result. */
  def hourlyUsers(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour").as("w"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"))
      .select(col("w.start").as("hour_start"), col("n_events"), col("n_users"))

  val hourlyUsersSql: String =
    """SELECT date_trunc('hour', ts) AS hour_start, count(*) AS n_events,
              count(DISTINCT user_id) AS n_users
       FROM events GROUP BY 1"""

  /** Hourly distinct users via the mergeable md5-register HLL
    * (functions/HllCols) BESIDE the exact count — the sketch twin of
    * [[hourlyUsers]] for when exact count(DISTINCT) stops fitting.
    * Register max is merge-order free, so the estimate hash-matches the
    * oracle exactly AND the identical aggregation runs under Structured
    * Streaming: per-(hour, register) max-state merges across
    * micro-batches (the HllAgg mergeability property, proven live for
    * the complete-mode query form in StreamMultimodalSpec). At 100 TB
    * the post-hash shuffle carries ≤ hours×64 register rows. */
  def hllUsers(events: DataFrame): DataFrame = {
    import graft.functions.HllCols
    val base = events
      .select(window(col("ts"), "1 hour").as("w"),
        md5(col("user_id").cast("string")).as("m"))
      .select(col("w.start").as("hour_start"), col("m"))
    val regs = base
      .select(col("hour_start"), HllCols.idx(col("m")).as("idx"),
        HllCols.rho(col("m")).as("rho"))
      .groupBy("hour_start", "idx").agg(max("rho").as("r"))
    val est = HllCols.estimate(regs, Seq("hour_start"), "users_est")
    events.groupBy(window(col("ts"), "1 hour").as("w"))
      .agg(countDistinct(col("user_id")).as("n_users"))
      .select(col("w.start").as("hour_start"), col("n_users"))
      .join(est, "hour_start")
      .select(col("hour_start"), col("n_users"), col("users_est"),
        round((col("users_est") - col("n_users").cast("double")) /
          col("n_users").cast("double"), 6).as("rel_err"))
  }

  val hllUsersSql: String = {
    import graft.functions.HllCols
    s"""WITH ev AS (SELECT date_trunc('hour', ts) AS hour_start,
                           md5(CAST(user_id AS VARCHAR)) AS m
                    FROM events),
        r AS (SELECT hour_start, ${HllCols.idxSql} AS idx,
                     max(${HllCols.rhoSql}) AS r
              FROM ev GROUP BY 1, 2),
        sums AS (${HllCols.sumsSql("r", "hour_start")}),
        est AS (SELECT hour_start, ${HllCols.estSql} AS users_est FROM sums),
        ex AS (SELECT date_trunc('hour', ts) AS hour_start,
                      count(DISTINCT user_id) AS n_users
               FROM events GROUP BY 1)
        SELECT x.hour_start, x.n_users, e.users_est,
               round((e.users_est - CAST(x.n_users AS DOUBLE))
                     / CAST(x.n_users AS DOUBLE), 6) AS rel_err
        FROM ex x JOIN est e USING (hour_start)"""
  }

  /** Sliding 2-hour window advancing hourly (each event lands in 2
    * windows) — RMS + uncorrelated-term shape from §2.4 over streams. */
  def slidingRms(events: DataFrame): DataFrame =
    // integer-exact mean square (float-mean audit): events-per-window
    // grows with sf
    events
      .groupBy(window(col("ts"), "2 hours", "1 hour").as("w"))
      .agg(count(lit(1)).as("n"),
        round(sqrt(
          sum(floor(col("value") * col("value") * 1e6 + 0.5).cast("long"))
            .cast("double") / (count(lit(1)).cast("double") * 1e6)), 6)
          .as("rms"))
      .select(col("w.start").as("window_start"), col("n"), col("rms"))

  val slidingRmsSql: String =
    """SELECT window_start, count(*) AS n,
              round(sqrt(CAST(sum(CAST(floor(value * value * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE)
                         / (CAST(count(*) AS DOUBLE) * 1000000.0)), 6) AS rms
       FROM (SELECT date_trunc('hour', ts) - INTERVAL (k) HOUR AS window_start, value
             FROM events, (SELECT unnest([0, 1]) AS k))
       GROUP BY 1"""

  /** Sessionization: events within a 30-minute inactivity gap per user
    * form one session — Spark's `session_window` (works identically over
    * batch and streaming input with a watermark; the stateful-processing
    * surface of §2.10). The oracle mirrors the semantics relationally:
    * lag + gap≥30min session-break flags + running sum. */
  def sessionize(events: DataFrame): DataFrame =
    // session length grows with event density → integer-exact sum
    // (float-mean audit)
    events
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(floor(col("value") * 1e6 + 0.5).cast("long")).cast("double")
          / 1e6, 6).as("sum_value"))
      .select(col("user_id"), col("w.start").as("session_start"),
        col("n_events"), col("sum_value"))

  val sessionizeSql: String =
    """WITH marked AS (
         SELECT user_id, ts, value,
                CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                       OR epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) >= 1800000000
                     THEN 1 ELSE 0 END AS new_sess
         FROM events),
       sess AS (
         SELECT user_id, ts, value,
                sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS sess_id
         FROM marked)
       SELECT user_id, min(ts) AS session_start, count(*) AS n_events,
              round(CAST(sum(CAST(floor(value * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000.0, 6) AS sum_value
       FROM sess GROUP BY user_id, sess_id"""

  /** Exact keep-first dedup per (user_id, event_type): the deterministic
    * batch twin of streaming `dropDuplicatesWithinWatermark` (exercised
    * live in StreamMultimodalSpec). Streaming keeps the first ARRIVAL;
    * batch pins the same semantics to a total order (ts, event_id) so the
    * kept row is engine-independent. One shuffle on the dedup key. */
  def dedupKeepFirst(events: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id", "event_type")
      .orderBy(col("ts"), col("event_id"))
    events.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_type"), col("ts"),
        col("event_id"), round(col("value"), 6).as("value"))
  }

  val dedupKeepFirstSql: String =
    """SELECT user_id, event_type, ts, event_id, round(value, 6) AS value
       FROM events
       QUALIFY row_number() OVER (PARTITION BY user_id, event_type
                                  ORDER BY ts, event_id) = 1"""

  /** The streaming form of [[hourlyAgg]]: parquet-directory source →
    * watermark → windowed agg. `eventsDir` must be a DIRECTORY of events
    * parquet files (Spark's FileStreamSource contract — new files appended
    * there enter the stream). Used by StreamSpec via the memory sink. */
  def hourlyAggStream(spark: SparkSession, eventsDir: String): DataFrame = {
    val schema = graft.Tables.read(spark, eventsDir).schema
    val events = graft.Tables.normTs(spark.readStream.schema(schema).parquet(eventsDir))
    hourlyAgg(events.withWatermark("ts", "1 hour"))
  }
}
