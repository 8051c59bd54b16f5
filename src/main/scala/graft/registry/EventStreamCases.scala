package graft
package registry

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.analysis.{AsOfJoin, Sessionize, SkewJoin}
import graft.demo.TraceGen
import graft.scale.{Curation, TextOps}
import graft.SparkEntry.{T, basketBi, basketPairSup, cachedDf}
import graft.registry.OracleCtes.qualitySql

/** Event-stream / time-series analytics: sessionization, funnels, retention
  * and time-series analytics over the events table. */
object EventStreamCases extends Family("Event-stream / time-series analytics") {

  val cases: Seq[Case] = Seq(

    // --- longest consecutive-day streak histogram (gaps-and-islands
    // over the deduped user-day table, all keyed) ---
    Case("q_streaks", (s, dir) =>
      Sessionize.streakHistogram(
          TraceGen.eventsTable(s, dir).withColumn("t_us", expr("ts div 1000")))
        .orderBy(col("streak_len")),
      """WITH ud AS (
        |  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day
        |  FROM events),
        |g AS (
        |  SELECT user_id, day,
        |         day - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day)
        |           AS grp
        |  FROM ud),
        |isl AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS len
        |        FROM g GROUP BY user_id, grp),
        |lg AS (SELECT user_id, MAX(len) AS streak_len FROM isl GROUP BY 1)
        |SELECT streak_len, CAST(COUNT(*) AS BIGINT) AS n_users
        |FROM lg GROUP BY 1 ORDER BY 1""".stripMargin),

    // --- A/B experiment report: deterministic variant split (user md5
    // parity), exposure vs conversion (any purchase) in exact integer
    // sufficient statistics + micro-unit rates ---
    Case("q_abtest", (s, dir) => {
      val perUser = TraceGen.eventsTable(s, dir)
        .groupBy(col("user_id"))
        .agg(max(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("converted"))
        .withColumn("variant",
          (TextOps.md5Hash60(col("user_id").cast("string"), 5) % 2)
            .cast("int"))
      perUser.groupBy(col("variant"))
        .agg(count(lit(1)).as("n_users"),
          sum(col("converted")).cast("long").as("n_converted"))
        .withColumn("conv_micro", expr("n_converted * 1000000 div n_users"))
        .orderBy(col("variant"))
    },
      """WITH pu AS (
        |  SELECT user_id,
        |         MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |           AS converted
        |  FROM events GROUP BY 1),
        |v AS (
        |  SELECT user_id, converted,
        |         CAST(CAST(concat('0x',
        |             substr(md5('5:' || CAST(user_id AS VARCHAR)), 1, 15))
        |           AS BIGINT) % 2 AS INT) AS variant
        |  FROM pu)
        |SELECT variant, CAST(COUNT(*) AS BIGINT) AS n_users,
        |       CAST(SUM(converted) AS BIGINT) AS n_converted,
        |       CAST(SUM(converted) * 1000000 // COUNT(*) AS BIGINT)
        |         AS conv_micro
        |FROM v GROUP BY 1 ORDER BY 1""".stripMargin),

    // --- native bounded top-k aggregate: map-side pruning to k, the
    // exchange carries k rows per key per partition — never the
    // window formulation's full per-key sort ---
    Case("q_topk_agg", (s, dir) => {
      val ev = TraceGen.eventsTable(s, dir).select(col("event_type"),
        floor(col("value") * 100).cast("long").as("val_c"), col("event_id"))
      ev.groupBy(col("event_type"))
        .agg(graft.functions.TopKLongs.topK(3,
          col("val_c"), col("event_id")).as("top"))
        .select(col("event_type"), posexplode(col("top")))
        .select(col("event_type"), (col("pos") + 1).cast("int").as("rank"),
          col("col.ord").as("val_c"), col("col.payload").as("event_id"))
        .orderBy(col("event_type"), col("rank"))
    },
      """SELECT event_type, CAST(rn AS INT) AS rank, val_c, event_id FROM (
        |  SELECT event_type, CAST(FLOOR(value * 100) AS BIGINT) AS val_c,
        |         event_id,
        |         ROW_NUMBER() OVER (PARTITION BY event_type
        |           ORDER BY CAST(FLOOR(value * 100) AS BIGINT) DESC,
        |                    event_id DESC) AS rn
        |  FROM events)
        |WHERE rn <= 3 ORDER BY event_type, rank""".stripMargin),

    Case("q_window_topk", (s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      T(s, dir, "orders").withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("o_custkey"), col("rn"), col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("o_custkey"), col("rn"))
    },
      """SELECT o_custkey, rn, o_orderkey, o_totalprice FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |         CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey
        |           ORDER BY o_totalprice DESC, o_orderkey) AS INT) AS rn
        |  FROM orders)
        |WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin),

    Case("q_sessionize", (s, dir) => Sessionize.sessionCounts(
        TraceGen.eventsTable(s, dir).withColumn("t_us", expr("ts div 1000")),
        "user_id", "t_us", "event_id", 1800000000L)
      .select(col("user_id"), col("session_id").cast("long").as("session_id"),
        col("n_events"))
      .orderBy(col("user_id"), col("session_id")),
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS t,
        |         LAG(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS pt
        |  FROM events),
        |s AS (
        |  SELECT user_id,
        |         SUM(CASE WHEN pt IS NULL OR t - pt > 1800000000 THEN 1 ELSE 0 END)
        |           OVER (PARTITION BY user_id ORDER BY t, event_id
        |                 ROWS UNBOUNDED PRECEDING) AS session_id
        |  FROM e)
        |SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
        |       CAST(COUNT(*) AS BIGINT) AS n_events
        |FROM s GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // --- session entry→exit paths: how sessions begin vs end ---
    Case("q_session_paths", (s, dir) => Sessionize.sessionPaths(
        TraceGen.eventsTable(s, dir).withColumn("t_us", expr("ts div 1000")),
        "user_id", "t_us", "event_id", "event_type", 1800000000L)
      .orderBy(col("entry_type"), col("exit_type")),
      """WITH e AS (
        |  SELECT user_id, event_id, event_type, epoch_us(ts) AS t,
        |         LAG(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS pt
        |  FROM events),
        |s AS (
        |  SELECT user_id, event_id, event_type, t,
        |         SUM(CASE WHEN pt IS NULL OR t - pt > 1800000000 THEN 1 ELSE 0 END)
        |           OVER (PARTITION BY user_id ORDER BY t, event_id
        |                 ROWS UNBOUNDED PRECEDING) AS session_id
        |  FROM e),
        |r AS (
        |  SELECT user_id, session_id, event_type,
        |         ROW_NUMBER() OVER (PARTITION BY user_id, session_id
        |           ORDER BY t, event_id) AS rn,
        |         COUNT(*) OVER (PARTITION BY user_id, session_id) AS n
        |  FROM s),
        |fe AS (
        |  SELECT user_id, session_id,
        |         MAX(CASE WHEN rn = 1 THEN event_type END) AS entry_type
        |  FROM r GROUP BY 1, 2)
        |SELECT fe.entry_type, r.event_type AS exit_type,
        |       CAST(COUNT(*) AS BIGINT) AS n_sessions
        |FROM r JOIN fe USING (user_id, session_id)
        |WHERE r.rn = r.n GROUP BY 1, 2
        |ORDER BY entry_type, exit_type""".stripMargin),

    // --- per-session engagement: dwell time + bounce flag ---
    Case("q_dwell", (s, dir) => Sessionize.sessionStats(
        TraceGen.eventsTable(s, dir).withColumn("t_us", expr("ts div 1000")),
        "user_id", "t_us", "event_id", 1800000000L)
      .select(col("user_id"), col("session_id").cast("long").as("session_id"),
        col("n_events"), col("duration_us").cast("long").as("duration_us"),
        col("bounce").cast("int").as("bounce"))
      .orderBy(col("user_id"), col("session_id")),
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS t,
        |         LAG(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS pt
        |  FROM events),
        |s AS (
        |  SELECT user_id, t,
        |         SUM(CASE WHEN pt IS NULL OR t - pt > 1800000000 THEN 1 ELSE 0 END)
        |           OVER (PARTITION BY user_id ORDER BY t, event_id
        |                 ROWS UNBOUNDED PRECEDING) AS session_id
        |  FROM e)
        |SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
        |       CAST(COUNT(*) AS BIGINT) AS n_events,
        |       CAST(MAX(t) - MIN(t) AS BIGINT) AS duration_us,
        |       CAST(CASE WHEN COUNT(*) = 1 THEN 1 ELSE 0 END AS INT) AS bounce
        |FROM s GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // --- concurrency profile: time at each open-span count, via the
    // +1/−1 sweep (no quadratic overlap self-join); spans are events
    // lasting round(value·100)·10 µs at process user_id%16 ---
    Case("q_concurrency", (s, dir) => {
      val iv = TraceGen.eventsTable(s, dir).select(
        (col("user_id") % 16).cast("int").as("process"),
        expr("ts div 1000").cast("long").as("start"),
        (expr("ts div 1000") +
          round(col("value") * 100).cast("long") * 10).as("end"))
      graft.analysis.Concurrency.concurrencyProfile(iv)
        .select(col("process"), col("level"),
          col("total").as("total_us"), col("n_segments"))
        .orderBy(col("process"), col("level"))
    },
      """WITH iv AS (
        |  SELECT CAST(user_id % 16 AS INT) AS process,
        |         epoch_us(ts) AS s,
        |         epoch_us(ts) + CAST(ROUND(value * 100) AS BIGINT) * 10 AS e
        |  FROM events),
        |d AS (
        |  SELECT process, s AS t, CAST(1 AS BIGINT) AS delta FROM iv
        |  UNION ALL
        |  SELECT process, e, CAST(-1 AS BIGINT) FROM iv),
        |g AS (SELECT process, t, SUM(delta) AS net FROM d GROUP BY 1, 2),
        |c AS (
        |  SELECT process, t,
        |         SUM(net) OVER (PARTITION BY process ORDER BY t) AS level,
        |         LEAD(t) OVER (PARTITION BY process ORDER BY t) AS nxt
        |  FROM g)
        |SELECT process, CAST(level AS BIGINT) AS level,
        |       CAST(SUM(nxt - t) AS BIGINT) AS total_us,
        |       CAST(COUNT(*) AS BIGINT) AS n_segments
        |FROM c WHERE nxt IS NOT NULL
        |GROUP BY 1, 2 ORDER BY process, level""".stripMargin),

    // --- audience overlap between event types (shared-user counts) ---
    Case("q_user_overlap", (s, dir) => {
      val tu = TraceGen.eventsTable(s, dir)
        .select(col("event_type"), col("user_id")).distinct()
        .localCheckpoint() // both self-join sides + the totals read this
      val totals = tu.groupBy(col("event_type")).agg(count(lit(1)).as("n"))
      tu.select(col("event_type").as("type_a"), col("user_id"))
        .join(tu.select(col("event_type").as("type_b"), col("user_id")),
          Seq("user_id"))
        .filter(col("type_a") < col("type_b"))
        .groupBy(col("type_a"), col("type_b"))
        .agg(count(lit(1)).as("n_common"))
        .join(broadcast(totals.select(col("event_type").as("type_a"),
          col("n").as("n_a"))), Seq("type_a"))
        .join(broadcast(totals.select(col("event_type").as("type_b"),
          col("n").as("n_b"))), Seq("type_b"))
        .select(col("type_a"), col("type_b"), col("n_common"),
          col("n_a"), col("n_b"))
        .orderBy(col("type_a"), col("type_b"))
    },
      """WITH tu AS (SELECT DISTINCT event_type, user_id FROM events),
        |tot AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
        |        FROM tu GROUP BY 1),
        |ov AS (
        |  SELECT a.event_type AS type_a, b.event_type AS type_b,
        |         CAST(COUNT(*) AS BIGINT) AS n_common
        |  FROM tu a JOIN tu b
        |    ON a.user_id = b.user_id AND a.event_type < b.event_type
        |  GROUP BY 1, 2)
        |SELECT o.type_a, o.type_b, o.n_common, ta.n AS n_a, tb.n AS n_b
        |FROM ov o JOIN tot ta ON ta.event_type = o.type_a
        |JOIN tot tb ON tb.event_type = o.type_b
        |ORDER BY type_a, type_b""".stripMargin),

    // --- daily volume anomalies per event type (count vs 3·MAD) ---
    Case("q_daily_anomaly", (s, dir) => {
      val daily = TraceGen.eventsTable(s, dir)
        .groupBy(col("event_type"),
          expr("(ts div 1000) div 86400000000").as("day"))
        .agg(count(lit(1)).as("n"))
      graft.analysis.RobustStats.madOutliers(daily, "event_type", "n", "day", 3)
        .orderBy(col("event_type"), col("day"))
    },
      """WITH v AS (
        |  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
        |         CAST(COUNT(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |r AS (
        |  SELECT event_type, n,
        |         ROW_NUMBER() OVER (PARTITION BY event_type
        |           ORDER BY n, day) AS rn,
        |         COUNT(*) OVER (PARTITION BY event_type) AS cnt
        |  FROM v),
        |med AS (SELECT event_type, n AS med FROM r WHERE rn = (cnt + 1) // 2),
        |d AS (
        |  SELECT v.event_type, v.day, v.n, m.med, ABS(v.n - m.med) AS dev
        |  FROM v JOIN med m USING (event_type)),
        |rd AS (
        |  SELECT event_type, day, dev,
        |         ROW_NUMBER() OVER (PARTITION BY event_type
        |           ORDER BY dev, day) AS rn,
        |         COUNT(*) OVER (PARTITION BY event_type) AS cnt
        |  FROM d),
        |mad AS (SELECT event_type, dev AS mad FROM rd WHERE rn = (cnt + 1) // 2)
        |SELECT d.event_type, d.day, d.n, d.med, md.mad, d.dev
        |FROM d JOIN mad md USING (event_type)
        |WHERE d.dev > md.mad * 3 ORDER BY d.event_type, d.day""".stripMargin),

    // --- Pareto concentration: volume by user decile (Lorenz curve in
    // integer cents; ranks via distributed dense ids, cumulative over
    // the 10-row decile table only) ---
    Case("q_pareto", (s, dir) => {
      val per = TraceGen.eventsTable(s, dir)
        .groupBy(col("user_id"))
        .agg(sum(round(col("value") * 100).cast("long")).as("monetary_c"))
        .localCheckpoint()
      val n = per.count()
      val dec = graft.ingest.Ingest
        .assignDenseIds(per, "__rk", col("monetary_c").desc, col("user_id").asc)
        .groupBy(expr(s"(10 * __rk) div $n").cast("int").as("decile"))
        .agg(count(lit(1)).as("n_users"), sum(col("monetary_c")).as("volume_c"))
      dec.withColumn("cum_volume_c",
          sum(col("volume_c")).over(Window.orderBy(col("decile"))))
        .orderBy(col("decile"))
    },
      """WITH per AS (
        |  SELECT user_id,
        |         SUM(CAST(ROUND(value * 100) AS BIGINT)) AS monetary_c
        |  FROM events GROUP BY 1),
        |nn AS (SELECT COUNT(*) AS n FROM per),
        |r AS (
        |  SELECT monetary_c,
        |         ROW_NUMBER() OVER (ORDER BY monetary_c DESC, user_id) - 1 AS rk
        |  FROM per),
        |d AS (
        |  SELECT CAST((10 * rk) // n AS INT) AS decile,
        |         CAST(COUNT(*) AS BIGINT) AS n_users,
        |         CAST(SUM(monetary_c) AS BIGINT) AS volume_c
        |  FROM r CROSS JOIN nn GROUP BY 1)
        |SELECT decile, n_users, volume_c,
        |       CAST(SUM(volume_c) OVER (ORDER BY decile) AS BIGINT)
        |         AS cum_volume_c
        |FROM d ORDER BY decile""".stripMargin),

    // --- hour-of-day seasonality profile per event type ---
    Case("q_hourly", (s, dir) =>
      TraceGen.eventsTable(s, dir)
        .groupBy(col("event_type"),
          expr("(ts div 1000) div 3600000000 % 24").cast("int").as("hour"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("event_type"), col("hour")),
      """SELECT event_type,
        |       CAST(epoch_us(ts) // 3600000000 % 24 AS INT) AS hour,
        |       CAST(COUNT(*) AS BIGINT) AS n
        |FROM events GROUP BY 1, 2 ORDER BY event_type, hour""".stripMargin),

    // --- RFM segmentation: per-user recency/frequency/monetary scores
    // 1..5 by explicit integer rank thresholds (no NTILE — its tie
    // handling is engine-specific; (5·(rank−1)) div n is not). Ranks
    // come from assignDenseIds (distributed sort + zipWithIndex), NOT a
    // global window — three rankings of the per-user table stay
    // parallel at any user count ---
    Case("q_rfm", (s, dir) => {
      val ev = TraceGen.eventsTable(s, dir).withColumn("t_us", expr("ts div 1000"))
      val per = ev.groupBy(col("user_id"))
        .agg(max(col("t_us")).as("last_t"), count(lit(1)).as("freq"),
          sum(round(col("value") * 100).cast("long")).as("monetary_c"))
        .localCheckpoint() // three rankings + the count read this
      val n = per.count()
      val ranked = Seq("last_t", "freq", "monetary_c")
        .foldLeft(per) { (df, c) =>
          graft.ingest.Ingest.assignDenseIds(df, s"__rk_$c",
            col(c).desc, col("user_id").asc)
        }
      def sc(c: String) = // __rk is 0-based: score 5 = best fifth
        (lit(5) - expr(s"(5 * __rk_$c) div $n").cast("int"))
      ranked.select(col("user_id"), sc("last_t").as("r_score"),
          sc("freq").as("f_score"), sc("monetary_c").as("m_score"))
        .orderBy(col("user_id"))
    },
      """WITH per AS (
        |  SELECT user_id, MAX(epoch_us(ts)) AS last_t, COUNT(*) AS freq,
        |         SUM(CAST(ROUND(value * 100) AS BIGINT)) AS monetary_c
        |  FROM events GROUP BY 1),
        |nn AS (SELECT COUNT(*) AS n FROM per),
        |r AS (
        |  SELECT user_id,
        |    ROW_NUMBER() OVER (ORDER BY last_t DESC, user_id) - 1 AS rk_r,
        |    ROW_NUMBER() OVER (ORDER BY freq DESC, user_id) - 1 AS rk_f,
        |    ROW_NUMBER() OVER (ORDER BY monetary_c DESC, user_id) - 1 AS rk_m
        |  FROM per)
        |SELECT user_id,
        |  CAST(5 - (5 * rk_r) // n AS INT) AS r_score,
        |  CAST(5 - (5 * rk_f) // n AS INT) AS f_score,
        |  CAST(5 - (5 * rk_m) // n AS INT) AS m_score
        |FROM r CROSS JOIN nn ORDER BY user_id""".stripMargin),

    // --- inter-event gap histogram in decimal orders of magnitude
    // (digit-count bucketing: pure integer, no log() cross-engine risk) ---
    Case("q_gap_histogram", (s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("t_us"), col("event_id"))
      TraceGen.eventsTable(s, dir).withColumn("t_us", expr("ts div 1000"))
        .withColumn("gap", col("t_us") - lag(col("t_us"), 1).over(w))
        .filter(col("gap").isNotNull)
        .groupBy(length(col("gap").cast("string")).as("digits"))
        .agg(count(lit(1)).as("n_gaps"), min(col("gap")).as("min_gap"),
          max(col("gap")).as("max_gap"))
        .orderBy(col("digits"))
    },
      """WITH g AS (
        |  SELECT epoch_us(ts) - LAG(epoch_us(ts)) OVER (PARTITION BY user_id
        |           ORDER BY epoch_us(ts), event_id) AS gap
        |  FROM events)
        |SELECT CAST(LENGTH(CAST(gap AS VARCHAR)) AS INT) AS digits,
        |       CAST(COUNT(*) AS BIGINT) AS n_gaps,
        |       MIN(gap) AS min_gap, MAX(gap) AS max_gap
        |FROM g WHERE gap IS NOT NULL
        |GROUP BY 1 ORDER BY digits""".stripMargin),

    // --- Markov transition counts over per-user event streams ---
    Case("q_transitions", (s, dir) => Sessionize.transitions(
        TraceGen.eventsTable(s, dir).withColumn("t_us", expr("ts div 1000")),
        "user_id", "t_us", "event_id", "event_type")
      .orderBy(col("from_state"), col("to_state")),
      """WITH s AS (
        |  SELECT event_type,
        |         LAG(event_type) OVER (PARTITION BY user_id
        |           ORDER BY epoch_us(ts), event_id) AS from_state
        |  FROM events),
        |c AS (
        |  SELECT from_state, event_type AS to_state, COUNT(*) AS n
        |  FROM s WHERE from_state IS NOT NULL GROUP BY 1, 2),
        |t AS (SELECT from_state, CAST(SUM(n) AS BIGINT) AS row_total
        |      FROM c GROUP BY 1)
        |SELECT c.from_state, c.to_state, CAST(c.n AS BIGINT) AS n, t.row_total
        |FROM c JOIN t USING (from_state)
        |ORDER BY from_state, to_state""".stripMargin),

    // --- order-3 path mining: consecutive event-type trigram counts ---
    Case("q_transitions3", (s, dir) => Sessionize.transitions3(
        TraceGen.eventsTable(s, dir).withColumn("t_us", expr("ts div 1000")),
        "user_id", "t_us", "event_id", "event_type")
      .orderBy(col("s1"), col("s2"), col("s3")),
      """WITH s AS (
        |  SELECT event_type AS s1,
        |         LEAD(event_type, 1) OVER (PARTITION BY user_id
        |           ORDER BY epoch_us(ts), event_id) AS s2,
        |         LEAD(event_type, 2) OVER (PARTITION BY user_id
        |           ORDER BY epoch_us(ts), event_id) AS s3
        |  FROM events)
        |SELECT s1, s2, s3, CAST(COUNT(*) AS BIGINT) AS n
        |FROM s WHERE s3 IS NOT NULL GROUP BY 1, 2, 3
        |ORDER BY s1, s2, s3""".stripMargin),

    // --- robust outliers: |v − median| > 5·MAD per event_type, median
    // and MAD rank-selected in integer centi-units ---
    Case("q_outliers", (s, dir) => {
      val ev = TraceGen.eventsTable(s, dir).select(
        col("event_id"), col("event_type"),
        round(col("value") * 100).cast("long").as("value_c"))
      graft.analysis.RobustStats.madOutliers(ev, "event_type", "value_c",
          "event_id")
        .orderBy(col("event_id"))
    },
      """WITH v AS (
        |  SELECT event_id, event_type,
        |         CAST(ROUND(value * 100) AS BIGINT) AS value_c
        |  FROM events),
        |r AS (
        |  SELECT event_type, value_c,
        |         ROW_NUMBER() OVER (PARTITION BY event_type
        |           ORDER BY value_c, event_id) AS rn,
        |         COUNT(*) OVER (PARTITION BY event_type) AS n
        |  FROM v),
        |med AS (
        |  SELECT event_type, value_c AS med FROM r WHERE rn = (n + 1) // 2),
        |d AS (
        |  SELECT v.event_id, v.event_type, v.value_c, m.med,
        |         ABS(v.value_c - m.med) AS dev
        |  FROM v JOIN med m USING (event_type)),
        |rd AS (
        |  SELECT event_id, event_type, dev,
        |         ROW_NUMBER() OVER (PARTITION BY event_type
        |           ORDER BY dev, event_id) AS rn,
        |         COUNT(*) OVER (PARTITION BY event_type) AS n
        |  FROM d),
        |mad AS (SELECT event_type, dev AS mad FROM rd WHERE rn = (n + 1) // 2)
        |SELECT d.event_type, d.event_id, d.value_c, d.med, md.mad, d.dev
        |FROM d JOIN mad md USING (event_type)
        |WHERE d.dev > md.mad * 5 ORDER BY d.event_id""".stripMargin),

    // --- 10% winsorized mean per event type: tails clamped to the
    // rank-selected p10/p90 bounds, all integer ---
    Case("q_winsor", (s, dir) => {
      val ev = TraceGen.eventsTable(s, dir).select(
        col("event_id"), col("event_type"),
        round(col("value") * 100).cast("long").as("value_c"))
      graft.analysis.RobustStats.winsorMean(ev, "event_type", "value_c",
          "event_id")
        .select(col("event_type"), col("n"), col("lo"), col("hi"),
          col("winsor_sum"), col("winsor_mean"))
        .orderBy(col("event_type"))
    },
      """WITH v AS (
        |  SELECT event_id, event_type,
        |         CAST(ROUND(value * 100) AS BIGINT) AS value_c
        |  FROM events),
        |r AS (
        |  SELECT event_type, value_c,
        |         ROW_NUMBER() OVER (PARTITION BY event_type
        |           ORDER BY value_c, event_id) AS rn,
        |         COUNT(*) OVER (PARTITION BY event_type) AS n
        |  FROM v),
        |bounds AS (
        |  SELECT event_type, MAX(n) AS n,
        |         MAX(CASE WHEN rn = (n + 9) // 10 THEN value_c END) AS lo,
        |         MAX(CASE WHEN rn = n + 1 - (n + 9) // 10 THEN value_c END) AS hi
        |  FROM r GROUP BY 1),
        |c AS (
        |  SELECT r.event_type, b.n, b.lo, b.hi,
        |         GREATEST(b.lo, LEAST(b.hi, r.value_c)) AS cv
        |  FROM r JOIN bounds b USING (event_type))
        |SELECT event_type, CAST(MAX(n) AS BIGINT) AS n,
        |       MAX(lo) AS lo, MAX(hi) AS hi,
        |       CAST(SUM(cv) AS BIGINT) AS winsor_sum,
        |       CAST(SUM(cv) // MAX(n) AS BIGINT) AS winsor_mean
        |FROM c GROUP BY 1 ORDER BY 1""".stripMargin),

    // --- cohort retention matrix over the event stream ---
    Case("q_retention", (s, dir) => Sessionize.cohortRetention(
        TraceGen.eventsTable(s, dir).withColumn("t_us", expr("ts div 1000")))
      .orderBy(col("cohort_day"), col("day_offset")),
      """WITH ud AS (
        |  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day
        |  FROM events),
        |c AS (SELECT user_id, MIN(day) AS cohort_day FROM ud GROUP BY 1),
        |m AS (
        |  SELECT c.cohort_day, ud.day - c.cohort_day AS day_offset,
        |         COUNT(*) AS n_active
        |  FROM ud JOIN c USING (user_id) GROUP BY 1, 2),
        |s AS (SELECT cohort_day, n_active AS cohort_size FROM m
        |      WHERE day_offset = 0)
        |SELECT CAST(m.cohort_day AS BIGINT) AS cohort_day,
        |       CAST(m.day_offset AS BIGINT) AS day_offset,
        |       CAST(m.n_active AS BIGINT) AS n_active,
        |       CAST(s.cohort_size AS BIGINT) AS cohort_size,
        |       ROUND(CAST(m.n_active AS DOUBLE) / s.cohort_size, 4) AS retention
        |FROM m JOIN s USING (cohort_day)
        |ORDER BY cohort_day, day_offset""".stripMargin),

    // --- survival sufficient stats: per lifetime age, users at risk
    // and ended (the Kaplan-Meier inputs, exact integers) ---
    Case("q_survival", (s, dir) => Sessionize.survivalCounts(
        TraceGen.eventsTable(s, dir).withColumn("t_us", expr("ts div 1000")))
      .select(col("age").cast("long").as("age"), col("n_ended"),
        col("n_at_risk").cast("long").as("n_at_risk"))
      .orderBy(col("age")),
      """WITH lt AS (
        |  SELECT user_id,
        |         MAX(epoch_us(ts) // 86400000000)
        |           - MIN(epoch_us(ts) // 86400000000) AS age
        |  FROM events GROUP BY 1),
        |e AS (SELECT age, CAST(COUNT(*) AS BIGINT) AS n_ended
        |      FROM lt GROUP BY 1)
        |SELECT CAST(age AS BIGINT) AS age, n_ended,
        |       CAST(SUM(n_ended) OVER (ORDER BY age DESC
        |         ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n_at_risk
        |FROM e ORDER BY age""".stripMargin),

    // --- market-basket rules: co-purchased part pairs with integer
    // micro-unit confidence/lift ---
    Case("q_basket_rules", (s, dir) =>
      graft.analysis.Basket.pairRules(T(s, dir, "lineitem"),
          "l_orderkey", "l_partkey", minSupport = 2L,
          biIn = Some(basketBi(s, dir)),
          pairSupIn = Some(basketPairSup(s, dir)))
        .orderBy(col("a"), col("b")),
      s"""WITH bi AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS i
         |            FROM lineitem),
         |n AS (SELECT COUNT(DISTINCT b) AS nb FROM bi),
         |sup AS (SELECT i, CAST(COUNT(*) AS BIGINT) AS sup FROM bi GROUP BY 1),
         |p AS (
         |  SELECT x.i AS a, y.i AS b, CAST(COUNT(*) AS BIGINT) AS sup_ab
         |  FROM bi x JOIN bi y ON x.b = y.b AND x.i < y.i
         |  GROUP BY 1, 2 HAVING COUNT(*) >= 2)
         |SELECT p.a, p.b, p.sup_ab, sa.sup AS sup_a, sb.sup AS sup_b,
         |       CAST(p.sup_ab * 1000000 // sa.sup AS BIGINT) AS conf_ab_micro,
         |       CAST(p.sup_ab * 1000000 // sb.sup AS BIGINT) AS conf_ba_micro,
         |       CAST(p.sup_ab * n.nb * 1000000 // (sa.sup * sb.sup) AS BIGINT)
         |         AS lift_micro
         |FROM p JOIN sup sa ON sa.i = p.a JOIN sup sb ON sb.i = p.b
         |CROSS JOIN n
         |ORDER BY p.a, p.b""".stripMargin),

    // --- cohort LTV: per (acquisition cohort, age) revenue + running
    // cumulative, integer cents throughout ---
    Case("q_cohort_ltv", (s, dir) => Sessionize.cohortValue(
        TraceGen.eventsTable(s, dir)
          .withColumn("t_us", expr("ts div 1000"))
          .withColumn("value_c", round(col("value") * 100).cast("long")))
      .select(col("cohort_day").cast("long").as("cohort_day"),
        col("age").cast("long").as("age"), col("revenue"),
        col("n_users"), col("cum_revenue"))
      .orderBy(col("cohort_day"), col("age")),
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) // 86400000000 AS day,
        |         CAST(ROUND(value * 100) AS BIGINT) AS value_c
        |  FROM events),
        |c AS (SELECT user_id, MIN(day) AS cohort_day FROM e GROUP BY 1),
        |sz AS (SELECT cohort_day, CAST(COUNT(*) AS BIGINT) AS n_users
        |       FROM c GROUP BY 1),
        |pa AS (
        |  SELECT c.cohort_day, e.day - c.cohort_day AS age,
        |         CAST(SUM(e.value_c) AS BIGINT) AS revenue
        |  FROM e JOIN c USING (user_id) GROUP BY 1, 2)
        |SELECT CAST(pa.cohort_day AS BIGINT) AS cohort_day,
        |       CAST(pa.age AS BIGINT) AS age, pa.revenue, sz.n_users,
        |       CAST(SUM(pa.revenue) OVER (PARTITION BY pa.cohort_day
        |         ORDER BY pa.age ROWS UNBOUNDED PRECEDING) AS BIGINT)
        |         AS cum_revenue
        |FROM pa JOIN sz USING (cohort_day)
        |ORDER BY cohort_day, age""".stripMargin),

    // --- pivot: source x language count matrix ---
    Case("q_pivot", (s, dir) => T(s, dir, "documents")
      .groupBy(col("source"))
      .pivot("lang", Seq("de", "en", "es", "fr", "zh"))
      .count()
      .na.fill(0L, Seq("de", "en", "es", "fr", "zh"))
      .orderBy(col("source")),
      """SELECT source,
        |       CAST(SUM(CASE WHEN lang = 'de' THEN 1 ELSE 0 END) AS BIGINT) AS de,
        |       CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS en,
        |       CAST(SUM(CASE WHEN lang = 'es' THEN 1 ELSE 0 END) AS BIGINT) AS es,
        |       CAST(SUM(CASE WHEN lang = 'fr' THEN 1 ELSE 0 END) AS BIGINT) AS fr,
        |       CAST(SUM(CASE WHEN lang = 'zh' THEN 1 ELSE 0 END) AS BIGINT) AS zh
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin),

    // --- per-source quota: rank by quality, keep the top 20 per source ---
    Case("q_domain_cap", (s, dir) =>
      Curation.capPerGroup(
        T(s, dir, "documents").withColumn("quality", TextOps.quality(col("text"))),
        "source", 20, col("quality"))
        .select(col("source"), col("rn"), col("doc_id"), col("quality"))
        .orderBy(col("source"), col("rn")),
      s"""WITH q AS (SELECT doc_id, source, $qualitySql AS quality FROM documents)
         |SELECT source, rn, doc_id, quality FROM (
         |  SELECT source, doc_id, quality,
         |         CAST(ROW_NUMBER() OVER (PARTITION BY source
         |           ORDER BY quality DESC, doc_id) AS INT) AS rn
         |  FROM q)
         |WHERE rn <= 20 ORDER BY source, rn""".stripMargin),

    // --- as-of join: last view at or before each purchase, per user ---
    Case("q_asof", (s, dir) => {
      val ev = TraceGen.eventsTable(s, dir).withColumn("t_us", expr("ts div 1000"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("t_us"))
      val views = ev.filter(col("event_type") === "view")
        .select(col("event_id"), col("user_id"), col("t_us"), col("value"))
      AsOfJoin.asOfBackward(purchases, views, Seq("user_id"), "t_us", "t_us",
          "event_id", Seq("event_id" -> "view_event_id",
            "t_us" -> "view_t_us", "value" -> "view_value"))
        .select(col("event_id"), col("user_id"),
          col("view_event_id").cast("long").as("view_event_id"),
          (col("t_us") - col("view_t_us")).cast("long").as("wait_us"),
          round(col("view_value"), 4).as("view_value"))
        .orderBy(col("event_id"))
    },
      // independent implementation check: DuckDB's native ASOF JOIN vs. the
      // engine's union+window formulation (no ts ties in events at any sf,
      // so the ASOF tie rule cannot diverge)
      // explicit windowed as-of (NOT DuckDB's native ASOF JOIN, whose pick
      // among right rows sharing the minimal timestamp is unspecified):
      // the rank order encodes the engine's documented tie-break — backward
      // resolves equal timestamps to the HIGHEST right id
      """WITH p AS (SELECT event_id, user_id, epoch_us(ts) AS t
        |           FROM events WHERE event_type = 'purchase'),
        |v AS (SELECT event_id, user_id, epoch_us(ts) AS t, value
        |      FROM events WHERE event_type = 'view'),
        |j AS (SELECT p.event_id AS pid, v.event_id AS vid, v.t AS vt, v.value,
        |             ROW_NUMBER() OVER (PARTITION BY p.event_id
        |               ORDER BY v.t DESC, v.event_id DESC) AS rn
        |      FROM p JOIN v ON p.user_id = v.user_id AND v.t <= p.t)
        |SELECT p.event_id, p.user_id,
        |       CAST(j.vid AS BIGINT) AS view_event_id,
        |       CAST(p.t - j.vt AS BIGINT) AS wait_us,
        |       ROUND(j.value, 4) AS view_value
        |FROM p LEFT JOIN (SELECT * FROM j WHERE rn = 1) j ON p.event_id = j.pid
        |ORDER BY p.event_id""".stripMargin),

    // --- forward as-of: FIRST view at or after each purchase, per user ---
    Case("q_asof_fwd", (s, dir) => {
      val ev = TraceGen.eventsTable(s, dir).withColumn("t_us", expr("ts div 1000"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("t_us"))
      val views = ev.filter(col("event_type") === "view")
        .select(col("event_id"), col("user_id"), col("t_us"), col("value"))
      AsOfJoin.asOfForward(purchases, views, Seq("user_id"), "t_us", "t_us",
          "event_id", Seq("event_id" -> "view_event_id",
            "t_us" -> "view_t_us", "value" -> "view_value"))
        .select(col("event_id"), col("user_id"),
          col("view_event_id").cast("long").as("view_event_id"),
          (col("view_t_us") - col("t_us")).cast("long").as("wait_us"),
          round(col("view_value"), 4).as("view_value"))
        .orderBy(col("event_id"))
    },
      // forward direction: equal timestamps match, ties to the SMALLEST
      // right id (AsOfJoin.asOfForward's documented tie-break)
      """WITH p AS (SELECT event_id, user_id, epoch_us(ts) AS t
        |           FROM events WHERE event_type = 'purchase'),
        |v AS (SELECT event_id, user_id, epoch_us(ts) AS t, value
        |      FROM events WHERE event_type = 'view'),
        |j AS (SELECT p.event_id AS pid, v.event_id AS vid, v.t AS vt, v.value,
        |             ROW_NUMBER() OVER (PARTITION BY p.event_id
        |               ORDER BY v.t ASC, v.event_id ASC) AS rn
        |      FROM p JOIN v ON p.user_id = v.user_id AND v.t >= p.t)
        |SELECT p.event_id, p.user_id,
        |       CAST(j.vid AS BIGINT) AS view_event_id,
        |       CAST(j.vt - p.t AS BIGINT) AS wait_us,
        |       ROUND(j.value, 4) AS view_value
        |FROM p LEFT JOIN (SELECT * FROM j WHERE rn = 1) j ON p.event_id = j.pid
        |ORDER BY p.event_id""".stripMargin),

    // --- sequential conversion funnel: view -> click -> purchase ---
    Case("q_funnel", (s, dir) => {
      val ev = TraceGen.eventsTable(s, dir).withColumn("t_us", expr("ts div 1000"))
      Sessionize.funnel(ev, Seq("view", "click", "purchase"),
          "user_id", "t_us", "event_type")
        .select(col("user_id"), col("t1"), col("t2"), col("t3"), col("depth"))
        .orderBy(col("user_id"))
    },
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS t FROM events),
        |s1 AS (SELECT user_id, MIN(t) AS t1 FROM e
        |       WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (SELECT s1.user_id, s1.t1,
        |              MIN(CASE WHEN e.t > s1.t1 THEN e.t END) AS t2
        |       FROM s1 LEFT JOIN e
        |         ON e.user_id = s1.user_id AND e.event_type = 'click'
        |       GROUP BY 1, 2),
        |s3 AS (SELECT s2.user_id, s2.t1, s2.t2,
        |              MIN(CASE WHEN e.t > s2.t2 THEN e.t END) AS t3
        |       FROM s2 LEFT JOIN e
        |         ON e.user_id = s2.user_id AND e.event_type = 'purchase'
        |       GROUP BY 1, 2, 3)
        |SELECT user_id, t1, t2, t3,
        |       CAST(CASE WHEN t1 IS NOT NULL THEN 1 ELSE 0 END
        |          + CASE WHEN t2 IS NOT NULL THEN 1 ELSE 0 END
        |          + CASE WHEN t3 IS NOT NULL THEN 1 ELSE 0 END AS INT) AS depth
        |FROM s3 ORDER BY user_id""".stripMargin),

    // --- semi/anti joins: customers with vs. without orders, per segment ---
    Case("q_semi_anti", (s, dir) => {
      val cust = T(s, dir, "customer")
      val orders = T(s, dir, "orders")
      val withO = cust.join(orders.select(col("o_custkey")),
        col("c_custkey") === col("o_custkey"), "leftsemi")
      val withoutO = cust.join(orders.select(col("o_custkey")),
        col("c_custkey") === col("o_custkey"), "leftanti")
      cust.groupBy(col("c_mktsegment")).agg(count(lit(1)).as("n_customers"))
        .join(withO.groupBy(col("c_mktsegment"))
          .agg(count(lit(1)).as("n_with_orders")), Seq("c_mktsegment"), "left")
        .join(withoutO.groupBy(col("c_mktsegment"))
          .agg(count(lit(1)).as("n_without_orders")), Seq("c_mktsegment"), "left")
        .select(col("c_mktsegment"), col("n_customers"),
          coalesce(col("n_with_orders"), lit(0L)).as("n_with_orders"),
          coalesce(col("n_without_orders"), lit(0L)).as("n_without_orders"))
        .orderBy(col("c_mktsegment"))
    },
      """SELECT c.c_mktsegment,
        |       CAST(COUNT(*) AS BIGINT) AS n_customers,
        |       CAST(SUM(CASE WHEN EXISTS (SELECT 1 FROM orders o
        |                                  WHERE o.o_custkey = c.c_custkey)
        |                THEN 1 ELSE 0 END) AS BIGINT) AS n_with_orders,
        |       CAST(SUM(CASE WHEN NOT EXISTS (SELECT 1 FROM orders o
        |                                      WHERE o.o_custkey = c.c_custkey)
        |                THEN 1 ELSE 0 END) AS BIGINT) AS n_without_orders
        |FROM customer c GROUP BY 1 ORDER BY 1""".stripMargin),

    // --- set operations: INTERSECT / EXCEPT over yearly customer sets ---
    Case("q_setops", (s, dir) => {
      val orders = T(s, dir, "orders")
      def buyers(yr: Int) = orders.filter(year(col("o_orderdate")) === yr)
        .select(col("o_custkey")).distinct()
      val both = buyers(1995).intersect(buyers(1996))
      val churned = buyers(1995).except(buyers(1996))
      both.select(col("o_custkey"), lit("retained").as("cohort"))
        .unionByName(churned.select(col("o_custkey"), lit("churned").as("cohort")))
        .orderBy(col("cohort"), col("o_custkey"))
    },
      """WITH b95 AS (SELECT DISTINCT o_custkey FROM orders
        |             WHERE EXTRACT(year FROM o_orderdate) = 1995),
        |b96 AS (SELECT DISTINCT o_custkey FROM orders
        |        WHERE EXTRACT(year FROM o_orderdate) = 1996)
        |SELECT o_custkey, 'retained' AS cohort
        |FROM (SELECT o_custkey FROM b95 INTERSECT SELECT o_custkey FROM b96)
        |UNION ALL
        |SELECT o_custkey, 'churned' AS cohort
        |FROM (SELECT o_custkey FROM b95 EXCEPT SELECT o_custkey FROM b96)
        |ORDER BY cohort, o_custkey""".stripMargin),

    // --- CUBE grouping sets over (event_type, integer day-of-week) ---
    Case("q_cube", (s, dir) =>
      TraceGen.eventsTable(s, dir)
        .withColumn("dow", expr("((ts div 1000) div 86400000000) % 7").cast("int"))
        .cube(col("event_type"), col("dow"))
        .agg(count(lit(1)).as("n"))
        .select(coalesce(col("event_type"), lit("ALL")).as("etype"),
          coalesce(col("dow"), lit(-1)).as("dow"), col("n"))
        .orderBy(col("etype"), col("dow")),
      """WITH e AS (SELECT event_type,
        |                  CAST((epoch_us(ts) // 86400000000) % 7 AS INT) AS dow
        |           FROM events)
        |SELECT COALESCE(event_type, 'ALL') AS etype,
        |       COALESCE(dow, -1) AS dow, CAST(COUNT(*) AS BIGINT) AS n
        |FROM e GROUP BY CUBE (event_type, dow)
        |ORDER BY etype, dow""".stripMargin),

    // --- 7-day moving volume per event type: RANGE frame over integer
    // epoch-days (partitioned by type — never a single global window) ---
    Case("q_sliding", (s, dir) => {
      val daily = TraceGen.eventsTable(s, dir)
        .withColumn("day", expr("(ts div 1000) div 86400000000"))
        .groupBy(col("event_type"), col("day"))
        .agg(count(lit(1)).as("n"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
        .rangeBetween(-6, 0)
      daily.withColumn("n7", sum(col("n")).over(w))
        .orderBy(col("event_type"), col("day"))
    },
      """WITH d AS (SELECT event_type, epoch_us(ts) // 86400000000 AS day,
        |                  CAST(COUNT(*) AS BIGINT) AS n
        |           FROM events GROUP BY 1, 2)
        |SELECT event_type, CAST(day AS BIGINT) AS day, n,
        |       CAST(SUM(n) OVER (PARTITION BY event_type ORDER BY day
        |         RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT) AS n7
        |FROM d ORDER BY event_type, day""".stripMargin),

    // --- grouping sets: rollup over (returnflag, linestatus) ---
    Case("q_rollup", (s, dir) =>
      T(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(round(sum(col("l_quantity")), 2).as("sum_qty"),
          count(lit(1)).as("n_items"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
          coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
          col("sum_qty"), col("n_items"))
        .orderBy(col("rf"), col("ls")),
      """SELECT COALESCE(l_returnflag, 'ALL') AS rf,
        |       COALESCE(l_linestatus, 'ALL') AS ls,
        |       ROUND(SUM(l_quantity), 2) AS sum_qty,
        |       CAST(COUNT(*) AS BIGINT) AS n_items
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY rf, ls""".stripMargin),

    // --- distinct aggregation: customers + revenue per order priority ---
    Case("q_distinct_agg", (s, dir) =>
      T(s, dir, "orders")
        .groupBy(col("o_orderpriority"))
        .agg(countDistinct(col("o_custkey")).as("n_customers"),
          count(lit(1)).as("n_orders"),
          round(sum(col("o_totalprice")), 2).as("revenue"))
        .orderBy(col("o_orderpriority")),
      """SELECT o_orderpriority,
        |       CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_customers,
        |       CAST(COUNT(*) AS BIGINT) AS n_orders,
        |       ROUND(SUM(o_totalprice), 2) AS revenue
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin),

    // --- salted skew join: events ⋈ orders on the hot user key, salted
    // 8 ways — the result is row-identical to the plain join (the salt
    // only reshapes the shuffle), which is exactly what the oracle checks ---
    Case("q_skew_join", (s, dir) => {
      val ev = TraceGen.eventsTable(s, dir)
      val ord = T(s, dir, "orders").withColumnRenamed("o_custkey", "user_id")
      SkewJoin.saltedJoin(ev, ord, Seq("user_id"), 8, col("event_id"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(round(col("o_totalprice") * 100).cast("long")).as("cents"))
        .orderBy(col("event_type"))
    },
      """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |       CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS cents
        |FROM events e JOIN orders o ON e.user_id = o.o_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // --- range join: clicks inside the 5-min window before each purchase ---
    Case("q_range_join", (s, dir) => {
      val ev = TraceGen.eventsTable(s, dir).withColumn("t_us", expr("ts div 1000"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("t_us").as("t"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"),
          (col("t_us") - 300000000L).as("w_start"), col("t_us").as("w_end"))
      val hits = graft.analysis.RangeJoin.pointInInterval(
          clicks, purchases, Seq("user_id"), "t", "w_start", "w_end",
          binWidth = 300000000L)
        .groupBy(col("purchase_id")).agg(count(lit(1)).as("n_clicks"))
      purchases.select(col("purchase_id"))
        .join(hits, Seq("purchase_id"), "left")
        .select(col("purchase_id"),
          coalesce(col("n_clicks"), lit(0L)).as("n_clicks"))
        .orderBy(col("purchase_id"))
    },
      // independent implementation: DuckDB plans the raw BETWEEN theta join,
      // the engine uses the binned equi-join decomposition
      """WITH c AS (SELECT user_id, epoch_us(ts) AS t
        |           FROM events WHERE event_type = 'click'),
        |p AS (SELECT event_id AS purchase_id, user_id, epoch_us(ts) AS te
        |      FROM events WHERE event_type = 'purchase'),
        |j AS (SELECT p.purchase_id, COUNT(*) AS n
        |      FROM p JOIN c ON c.user_id = p.user_id
        |        AND c.t BETWEEN p.te - 300000000 AND p.te
        |      GROUP BY 1)
        |SELECT p.purchase_id, CAST(COALESCE(j.n, 0) AS BIGINT) AS n_clicks
        |FROM p LEFT JOIN j USING (purchase_id)
        |ORDER BY purchase_id""".stripMargin),

    // --- merged interval coverage per user: union of event spans via the
    // running-max island scan (one keyed window, no overlap self-join) ---
    Case("q_interval_merge", (s, dir) => {
      val iv = TraceGen.eventsTable(s, dir).select(
        col("user_id"),
        expr("ts div 1000").cast("long").as("start"),
        (expr("ts div 1000") +
          round(col("value") * 100).cast("long") * 10).as("end"))
      graft.analysis.Intervals.coverage(iv, "user_id")
        .select(col("user_id"), col("n_merged"),
          col("covered").as("covered_us"), col("max_merged"))
        .orderBy(col("user_id"))
    },
      """WITH iv AS (
        |  SELECT user_id, epoch_us(ts) AS s,
        |         epoch_us(ts) + CAST(ROUND(value * 100) AS BIGINT) * 10 AS e
        |  FROM events),
        |m AS (
        |  SELECT user_id, s, e,
        |         CASE WHEN MAX(e) OVER pw IS NULL OR s > MAX(e) OVER pw
        |              THEN 1 ELSE 0 END AS newi
        |  FROM iv
        |  WINDOW pw AS (PARTITION BY user_id ORDER BY s, e
        |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
        |isl AS (
        |  SELECT user_id, s, e,
        |         SUM(newi) OVER (PARTITION BY user_id ORDER BY s, e
        |                         ROWS UNBOUNDED PRECEDING) AS island
        |  FROM m),
        |g AS (SELECT user_id, island, MIN(s) AS s, MAX(e) AS e,
        |             COUNT(*) AS ns
        |      FROM isl GROUP BY 1, 2)
        |SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_merged,
        |       CAST(SUM(e - s) AS BIGINT) AS covered_us,
        |       CAST(MAX(ns) AS BIGINT) AS max_merged
        |FROM g GROUP BY 1 ORDER BY 1""".stripMargin),

    // --- SCD2: order-status validity intervals per customer (run
    // compression in (day, orderkey) order; open version has null end) ---
    Case("q_scd2", (s, dir) => {
      val o = T(s, dir, "orders").select(col("o_custkey"),
        expr("CAST(datediff(CAST(o_orderdate AS DATE), DATE'1970-01-01') AS BIGINT)").as("day"),
        col("o_orderstatus"), col("o_orderkey"))
      graft.analysis.Scd.type2(o, "o_custkey", "day", "o_orderstatus",
          "o_orderkey")
        .select(col("o_custkey"), col("version").cast("long").as("version"),
          col("attr").as("status"), col("valid_from").as("from_day"),
          col("valid_to").as("to_day"), col("n_rows").as("n_orders"))
        .orderBy(col("o_custkey"), col("version"))
    },
      """WITH o AS (
        |  SELECT o_custkey, CAST(epoch(o_orderdate) AS BIGINT) // 86400 AS day,
        |         o_orderstatus, o_orderkey FROM orders),
        |f AS (
        |  SELECT o_custkey, day, o_orderstatus, o_orderkey,
        |         CASE WHEN ROW_NUMBER() OVER w = 1 THEN 1
        |              WHEN NOT (o_orderstatus IS NOT DISTINCT FROM
        |                        LAG(o_orderstatus) OVER w) THEN 1
        |              ELSE 0 END AS chg
        |  FROM o
        |  WINDOW w AS (PARTITION BY o_custkey ORDER BY day, o_orderkey)),
        |v AS (
        |  SELECT o_custkey, day, o_orderstatus,
        |         SUM(chg) OVER (PARTITION BY o_custkey ORDER BY day, o_orderkey
        |                        ROWS UNBOUNDED PRECEDING) AS version
        |  FROM f),
        |g AS (SELECT o_custkey, version, MIN(o_orderstatus) AS status,
        |             MIN(day) AS from_day, CAST(COUNT(*) AS BIGINT) AS n_orders
        |      FROM v GROUP BY 1, 2)
        |SELECT o_custkey, CAST(version AS BIGINT) AS version, status, from_day,
        |       LEAD(from_day) OVER (PARTITION BY o_custkey ORDER BY version)
        |         AS to_day,
        |       n_orders
        |FROM g ORDER BY o_custkey, version""".stripMargin),

    // --- point-in-time-correct feature join (feature-store semantics):
    // SCD2 versions of each customer's order status, probed AS OF each
    // event's observation day through the binned range join — never a
    // quadratic interval scan, never feature leakage from the future ---
    Case("q_pit_join", (s, dir) => {
      val o = T(s, dir, "orders").select(col("o_custkey"),
        expr("CAST(datediff(CAST(o_orderdate AS DATE), DATE'1970-01-01') AS BIGINT)").as("day"),
        col("o_orderstatus"), col("o_orderkey"))
      val versions = graft.analysis.Scd.type2(o, "o_custkey", "day",
          "o_orderstatus", "o_orderkey")
        .select(col("o_custkey").as("custkey"),
          col("version").cast("long").as("version"),
          col("attr").as("status"), col("valid_from"),
          (coalesce(col("valid_to"), lit(11536L)) - 1).as("end_day"))
      val probes = TraceGen.eventsTable(s, dir).select(
        col("event_id"), col("user_id").as("custkey"),
        (lit(9131L) + expr("(ts div 1000) div 86400000000") % 2405).as("obs_day"))
      graft.analysis.RangeJoin.pointInInterval(probes, versions,
          Seq("custkey"), "obs_day", "valid_from", "end_day", binWidth = 64)
        .select(col("event_id"), col("custkey"), col("obs_day"),
          col("status"), col("version"))
        .orderBy(col("event_id"))
    },
      """WITH o AS (
        |  SELECT o_custkey, CAST(epoch(o_orderdate) AS BIGINT) // 86400 AS day,
        |         o_orderstatus, o_orderkey FROM orders),
        |f AS (
        |  SELECT o_custkey, day, o_orderstatus, o_orderkey,
        |         CASE WHEN ROW_NUMBER() OVER w = 1 THEN 1
        |              WHEN NOT (o_orderstatus IS NOT DISTINCT FROM
        |                        LAG(o_orderstatus) OVER w) THEN 1
        |              ELSE 0 END AS chg
        |  FROM o
        |  WINDOW w AS (PARTITION BY o_custkey ORDER BY day, o_orderkey)),
        |v AS (
        |  SELECT o_custkey, day, o_orderstatus,
        |         SUM(chg) OVER (PARTITION BY o_custkey ORDER BY day, o_orderkey
        |                        ROWS UNBOUNDED PRECEDING) AS version
        |  FROM f),
        |g AS (SELECT o_custkey, version, MIN(o_orderstatus) AS status,
        |             MIN(day) AS from_day FROM v GROUP BY 1, 2),
        |ver AS (
        |  SELECT o_custkey AS custkey, CAST(version AS BIGINT) AS version,
        |         status, from_day,
        |         COALESCE(LEAD(from_day) OVER (PARTITION BY o_custkey
        |                                       ORDER BY version), 11536) AS to_day
        |  FROM g),
        |p AS (SELECT event_id, user_id AS custkey,
        |             9131 + (epoch_us(ts) // 86400000000) % 2405 AS obs_day
        |      FROM events)
        |SELECT p.event_id, p.custkey, p.obs_day, ver.status, ver.version
        |FROM p JOIN ver ON p.custkey = ver.custkey
        |               AND p.obs_day >= ver.from_day
        |               AND p.obs_day < ver.to_day
        |ORDER BY p.event_id""".stripMargin),

    // --- daily per-type counts, gap days zero-filled, with cumulative ---
    Case("q_gapfill", (s, dir) => {
      val daily = TraceGen.eventsTable(s, dir)
        .groupBy(col("event_type"),
          expr("(ts div 1000) div 86400000000").as("day"))
        .agg(count(lit(1)).as("n"))
      graft.analysis.GapFill.zeroFill(daily, "event_type", "day", "n")
        .select(col("event_type"), col("day"), col("n"), col("cum_n"))
        .orderBy(col("event_type"), col("day"))
    },
      """WITH d AS (
        |  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
        |         CAST(COUNT(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |b AS (SELECT event_type, MIN(day) AS lo, MAX(day) AS hi
        |      FROM d GROUP BY 1),
        |g AS (SELECT event_type, UNNEST(generate_series(lo, hi)) AS day FROM b),
        |f AS (SELECT g.event_type, g.day, COALESCE(d.n, 0) AS n
        |      FROM g LEFT JOIN d ON g.event_type = d.event_type
        |                        AND g.day = d.day)
        |SELECT event_type, day, n,
        |       CAST(SUM(n) OVER (PARTITION BY event_type ORDER BY day)
        |            AS BIGINT) AS cum_n
        |FROM f ORDER BY 1, 2""".stripMargin),

    // --- z-order layout audit: Morton-bucket occupancy and per-bucket
    // dimension bounds (tight boxes = min/max pruning works) ---
    Case("q_zorder", (s, dir) => {
      val li = T(s, dir, "lineitem").select(
        (col("l_partkey") % 1024).as("x"), (col("l_suppkey") % 1024).as("y"))
      li.withColumn("z", graft.scale.Layout.zValue(col("x"), col("y"), 10))
        .groupBy(expr("z div 1024").as("bucket"))
        .agg(count(lit(1)).as("n"),
          min(col("x")).as("min_x"), max(col("x")).as("max_x"),
          min(col("y")).as("min_y"), max(col("y")).as("max_y"))
        .orderBy(col("bucket"))
    }, {
      val terms = (0 until 10).map(i =>
        s"(((x >> $i) & 1) << ${2 * i}) | (((y >> $i) & 1) << ${2 * i + 1})")
        .mkString(" | ")
      s"""WITH xy AS (SELECT l_partkey % 1024 AS x, l_suppkey % 1024 AS y
         |            FROM lineitem),
         |zz AS (SELECT x, y, ($terms) AS z FROM xy)
         |SELECT z // 1024 AS bucket, CAST(COUNT(*) AS BIGINT) AS n,
         |       MIN(x) AS min_x, MAX(x) AS max_x,
         |       MIN(y) AS min_y, MAX(y) AS max_y
         |FROM zz GROUP BY 1 ORDER BY 1""".stripMargin
    }),

    // --- global Pareto frontier of orders (price vs recency), via the
    // sorted-partition prefix-max scheme (oracle uses NOT EXISTS) ---
    Case("q_skyline", (s, dir) => {
      val pts = T(s, dir, "orders").filter(col("o_totalprice") > 400000)
        .select(round(col("o_totalprice") * 100).cast("long").as("price_c"),
          expr("CAST(datediff(CAST(o_orderdate AS DATE), DATE'1970-01-01') AS BIGINT)").as("day"))
      graft.analysis.Skyline.skyline2D(pts, "price_c", "day")
        .orderBy(col("price_c").desc, col("day"))
    },
      """WITH p AS (
        |  SELECT DISTINCT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS price_c,
        |         CAST(epoch(o_orderdate) AS BIGINT) // 86400 AS day
        |  FROM orders WHERE o_totalprice > 400000)
        |SELECT price_c, day FROM p a
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM p b
        |  WHERE b.price_c >= a.price_c AND b.day >= a.day
        |    AND (b.price_c > a.price_c OR b.day > a.day))
        |ORDER BY price_c DESC, day""".stripMargin),

    // --- equi-depth value-bucket boundaries per event type (rank-
    // selected in integer centi-units — no interpolation, engine-exact) ---
    Case("q_equidepth", (s, dir) => {
      val ev = TraceGen.eventsTable(s, dir).select(col("event_type"),
        round(col("value") * 100).cast("long").as("value_c"), col("event_id"))
      graft.analysis.RobustStats.equidepth(ev, "event_type", "value_c",
          "event_id")
        .select(col("event_type"), col("q"),
          col("rank_sel").cast("long").as("rank_sel"), col("boundary"))
        .orderBy(col("event_type"), col("q"))
    },
      """WITH e AS (
        |  SELECT event_type, CAST(ROUND(value * 100) AS BIGINT) AS v,
        |         event_id FROM events),
        |r AS (
        |  SELECT event_type, v,
        |         ROW_NUMBER() OVER (PARTITION BY event_type
        |                            ORDER BY v, event_id) AS rn,
        |         COUNT(*) OVER (PARTITION BY event_type) AS n
        |  FROM e),
        |x AS (SELECT event_type, v, rn, n,
        |             UNNEST(generate_series(1, 9)) AS q FROM r)
        |SELECT event_type, CAST(q AS INT) AS q,
        |       CAST(rn AS BIGINT) AS rank_sel, v AS boundary
        |FROM x WHERE rn = (q * n + 9) // 10
        |ORDER BY 1, 2""".stripMargin),

    // --- winsorized per-type mean: clamp at the p10/p90 equidepth
    // boundaries, then an integral centi-unit mean — robust-mean
    // composition of the equidepth operator, engine-exact throughout ---
    Case("q_winsorize", (s, dir) => {
      val ev = TraceGen.eventsTable(s, dir).select(col("event_type"),
        round(col("value") * 100).cast("long").as("value_c"), col("event_id"))
      val bounds = graft.analysis.RobustStats.equidepth(ev, "event_type",
          "value_c", "event_id")
        .groupBy(col("event_type"))
        .agg(min(when(col("q") === 1, col("boundary"))).as("lo"),
          min(when(col("q") === 9, col("boundary"))).as("hi"))
      ev.join(broadcast(bounds), Seq("event_type"))
        .select(col("event_type"),
          greatest(col("lo"), least(col("hi"), col("value_c"))).as("wv"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("wv")).as("w_sum"))
        .select(col("event_type"), col("n"), col("w_sum"),
          expr("w_sum div n").as("w_mean_c"))
        .orderBy(col("event_type"))
    },
      """WITH e AS (
        |  SELECT event_type, CAST(ROUND(value * 100) AS BIGINT) AS v,
        |         event_id FROM events),
        |r AS (
        |  SELECT event_type, v,
        |         ROW_NUMBER() OVER (PARTITION BY event_type
        |                            ORDER BY v, event_id) AS rn,
        |         COUNT(*) OVER (PARTITION BY event_type) AS n
        |  FROM e),
        |b AS (
        |  SELECT event_type,
        |         MIN(CASE WHEN rn = (1 * n + 9) // 10 THEN v END) AS lo,
        |         MIN(CASE WHEN rn = (9 * n + 9) // 10 THEN v END) AS hi
        |  FROM r GROUP BY 1),
        |w AS (
        |  SELECT e.event_type, GREATEST(b.lo, LEAST(b.hi, e.v)) AS wv
        |  FROM e JOIN b USING (event_type))
        |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |       CAST(SUM(wv) AS BIGINT) AS w_sum,
        |       CAST(SUM(wv) // COUNT(*) AS BIGINT) AS w_mean_c
        |FROM w GROUP BY 1 ORDER BY 1""".stripMargin),

    // --- CDC merge-apply: last-writer-wins upsert + delete-tombstone
    // materialization of "current state" from the event change log ---
    Case("q_merge_upsert", (s, dir) => {
      val changes = TraceGen.eventsTable(s, dir).select(
        col("user_id"), expr("ts div 1000").as("seq"), col("event_id"),
        when(col("event_type") === "view", "I")
          .when(col("event_type") === "error", "D")
          .otherwise("U").as("op"),
        floor(col("value") * 100).cast("long").as("val_c"))
      graft.analysis.MergeApply.applyCdc(changes, Seq("user_id"), "seq",
          Seq("event_id"), "op")
        .select(col("user_id"), col("op"), col("seq"), col("val_c"))
        .orderBy(col("user_id"))
    },
      """WITH c AS (
        |  SELECT user_id, epoch_us(ts) AS seq, event_id,
        |         CASE event_type WHEN 'view' THEN 'I'
        |                         WHEN 'error' THEN 'D'
        |                         ELSE 'U' END AS op,
        |         CAST(FLOOR(value * 100) AS BIGINT) AS val_c
        |  FROM events),
        |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
        |        ORDER BY seq DESC, event_id DESC) AS rn FROM c)
        |SELECT user_id, op, seq, val_c FROM r
        |WHERE rn = 1 AND op != 'D' ORDER BY user_id""".stripMargin),

    // --- lag-1..6 autocovariance over zero-filled hourly counts per
    // event type — integer sufficient statistics, order-free ---
    Case("q_autocorr", (s, dir) => {
      // memoized: lagStats references the series 4× (bounds, grid join,
      // both sides of the lag self-join) — persisting the tiny
      // aggregated table keeps the corpus scan at ONE instead of four
      val hourly = cachedDf(s, dir, "hourly_counts")(
        TraceGen.eventsTable(s, dir)
          .groupBy(col("event_type"),
            expr("(ts div 1000) div 3600000000").as("t"))
          .agg(count(lit(1)).as("n")))
      graft.analysis.Autocorr.lagStats(hourly, "event_type", "t", "n",
          1 to 6)
        .select(col("event_type"), col("lag"), col("n"), col("sum_x"),
          col("sum_y"), col("sum_xy"), col("sum_x2"), col("sum_y2"))
        .orderBy(col("event_type"), col("lag"))
    },
      """WITH d AS (
        |  SELECT event_type, epoch_us(ts) // 3600000000 AS t,
        |         CAST(COUNT(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |b AS (SELECT event_type, MIN(t) AS lo, MAX(t) AS hi
        |      FROM d GROUP BY 1),
        |g AS (SELECT event_type, UNNEST(generate_series(lo, hi)) AS t FROM b),
        |f AS (SELECT g.event_type, g.t, COALESCE(d.n, 0) AS n
        |      FROM g LEFT JOIN d ON g.event_type = d.event_type
        |                        AND g.t = d.t),
        |l AS (SELECT UNNEST([1, 2, 3, 4, 5, 6]) AS lag),
        |j AS (SELECT f.event_type, l.lag, f.n AS x, f2.n AS y
        |      FROM f CROSS JOIN l
        |      JOIN f f2 ON f2.event_type = f.event_type
        |               AND f2.t = f.t + l.lag)
        |SELECT event_type, CAST(lag AS BIGINT) AS lag,
        |       CAST(COUNT(*) AS BIGINT) AS n,
        |       CAST(SUM(x) AS BIGINT) AS sum_x,
        |       CAST(SUM(y) AS BIGINT) AS sum_y,
        |       CAST(SUM(x * y) AS BIGINT) AS sum_xy,
        |       CAST(SUM(x * x) AS BIGINT) AS sum_x2,
        |       CAST(SUM(y * y) AS BIGINT) AS sum_y2
        |FROM j GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // --- rolling 7-day median of daily counts per type: selection at
    // integer rank over the frame, robust to single-day spikes ---
    Case("q_rolling_median", (s, dir) => {
      val daily = TraceGen.eventsTable(s, dir)
        .groupBy(col("event_type"),
          expr("(ts div 1000) div 86400000000").as("day"))
        .agg(count(lit(1)).as("n"))
      graft.analysis.RobustStats.rollingMedian(daily, "event_type",
          "day", "n", window = 7)
        .select(col("event_type"), col("day"), col("n"),
          col("roll_n"), col("roll_med"))
        .orderBy(col("event_type"), col("day"))
    },
      """WITH d AS (
        |  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
        |         CAST(COUNT(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |r AS (
        |  SELECT event_type, day, n,
        |         list_sort(list(n) OVER (PARTITION BY event_type ORDER BY day
        |                    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)) AS f
        |  FROM d)
        |SELECT event_type, day, n, CAST(len(f) AS BIGINT) AS roll_n,
        |       f[CAST((len(f) + 1) // 2 AS INT)] AS roll_med
        |FROM r ORDER BY 1, 2""".stripMargin),

    // --- Benford first-digit audit of order totals (cents) ---
    Case("q_benford", (s, dir) =>
      graft.scale.DataQuality.benford(
          T(s, dir, "orders").select(
            round(col("o_totalprice") * 100).cast("long").as("cents")),
          "cents")
        .orderBy(col("digit")),
      """WITH v AS (SELECT CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS x
        |           FROM orders WHERE o_totalprice > 0),
        |d AS (SELECT CAST(substr(CAST(x AS VARCHAR), 1, 1) AS INT) AS digit,
        |             CAST(COUNT(*) AS BIGINT) AS n FROM v GROUP BY 1),
        |t AS (SELECT CAST(SUM(n) AS BIGINT) AS tot FROM d)
        |SELECT digit, n, n * 1000000 // tot AS share_micro
        |FROM d CROSS JOIN t ORDER BY digit""".stripMargin),

    // --- Gini concentration of order revenue: Σ rank·x over the
    // DISTRIBUTED dense ranking (assignDenseIds — never a global
    // window); G = (2·sum_rank_x/(n·sum_x)) − (n+1)/n at presentation,
    // from exact integer sufficient statistics ---
    Case("q_gini", (s, dir) => {
      val v = T(s, dir, "orders").select(
        round(col("o_totalprice") * 100).cast("long").as("cents"),
        col("o_orderkey"))
      graft.ingest.Ingest.assignDenseIds(v, "rk",
          col("cents"), col("o_orderkey"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_x"),
          sum((col("rk") + 1) * col("cents")).as("sum_rank_x"))
    },
      """WITH v AS (SELECT CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS cents,
        |                  o_orderkey FROM orders),
        |r AS (SELECT cents,
        |             ROW_NUMBER() OVER (ORDER BY cents, o_orderkey) AS rk
        |      FROM v)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |       CAST(SUM(cents) AS BIGINT) AS sum_x,
        |       CAST(SUM(rk * cents) AS BIGINT) AS sum_rank_x
        |FROM r""".stripMargin),

    // --- quantity-weighted price percentiles: running WEIGHT crossing,
    // same histogram refinement ---
    Case("q_weighted_quantile", (s, dir) => {
      val li = T(s, dir, "lineitem").select(
        round(col("l_extendedprice") * 100).cast("long").as("cents"),
        col("l_quantity").cast("long").as("qty"))
      graft.scale.Sketches.histQuantilesWeighted(li, "cents", "qty")
        .orderBy(col("per_mille"))
    },
      """WITH v AS (SELECT CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT) AS x,
        |                  CAST(l_quantity AS BIGINT) AS wt FROM lineitem),
        |b AS (SELECT MIN(x) AS lo, MAX(x) AS hi,
        |             CAST(SUM(wt) AS BIGINT) AS n,
        |             MAX(x) - MIN(x) + 1 AS w FROM v),
        |q AS (SELECT UNNEST([500, 900, 990]) AS pm),
        |t AS (SELECT pm, (pm * n + 999) // 1000 AS r, lo, w, n
        |      FROM q CROSS JOIN b),
        |byv AS (SELECT x, CAST(SUM(wt) AS BIGINT) AS vw FROM v GROUP BY 1),
        |run AS (SELECT x, vw,
        |               CAST(SUM(vw) OVER (ORDER BY x) AS BIGINT) AS cw
        |        FROM byv)
        |SELECT CAST(t.pm AS INT) AS per_mille, t.n AS total_weight,
        |       CAST(t.lo + ((((r2.x - t.lo) * 1024) // t.w) * t.w) // 1024
        |            AS BIGINT) AS est,
        |       r2.x AS exact,
        |       CAST(ABS(r2.x - (t.lo + ((((r2.x - t.lo) * 1024) // t.w) * t.w)
        |            // 1024)) AS BIGINT) AS abs_err
        |FROM t JOIN run r2 ON r2.cw >= t.r AND r2.cw - r2.vw < t.r
        |ORDER BY 1""".stripMargin),

    // --- per-key exact percentiles, same refinement keyed throughout ---
    Case("q_quantile_by_key", (s, dir) => {
      val ev = TraceGen.eventsTable(s, dir).select(col("event_type"),
        floor(col("value") * 100).cast("long").as("cents"))
      graft.scale.Sketches.histQuantilesByKey(ev, "event_type", "cents",
          bins = 64)
        .orderBy(col("event_type"), col("per_mille"))
    },
      """WITH v AS (SELECT event_type AS k,
        |                  CAST(FLOOR(value * 100) AS BIGINT) AS x FROM events),
        |b AS (SELECT k, MIN(x) AS lo, MAX(x) AS hi,
        |             CAST(COUNT(*) AS BIGINT) AS n,
        |             MAX(x) - MIN(x) + 1 AS w FROM v GROUP BY 1),
        |q AS (SELECT UNNEST([500, 900, 990]) AS pm),
        |t AS (SELECT k, pm, (pm * n + 999) // 1000 AS r, lo, w, n
        |      FROM b CROSS JOIN q),
        |srt AS (SELECT k, x,
        |               ROW_NUMBER() OVER (PARTITION BY k ORDER BY x) AS rn
        |        FROM v)
        |SELECT t.k AS event_type, CAST(t.pm AS INT) AS per_mille, t.n AS n,
        |       CAST(t.lo + ((((s.x - t.lo) * 64) // t.w) * t.w) // 64
        |            AS BIGINT) AS est,
        |       s.x AS exact,
        |       CAST(ABS(s.x - (t.lo + ((((s.x - t.lo) * 64) // t.w) * t.w) // 64))
        |            AS BIGINT) AS abs_err
        |FROM t JOIN srt s ON s.k = t.k AND s.rn = t.r
        |ORDER BY 1, 2""".stripMargin),

    // --- CUSUM change point per event type over daily volumes (exact
    // integer cross-multiplied deviation, keyed windows only) ---
    Case("q_changepoint", (s, dir) => {
      val daily = TraceGen.eventsTable(s, dir)
        .groupBy(col("event_type"),
          expr("(ts div 1000) div 86400000000").as("day"))
        .agg(count(lit(1)).as("n"))
      graft.analysis.Changepoint.cusumMax(daily, "event_type", "day", "n")
        .orderBy(col("event_type"))
    },
      """WITH v AS (
        |  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
        |         CAST(COUNT(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |sc AS (
        |  SELECT event_type, day,
        |         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS r,
        |         SUM(n) OVER (PARTITION BY event_type ORDER BY day) AS cum,
        |         COUNT(*) OVER (PARTITION BY event_type) AS m,
        |         SUM(n) OVER (PARTITION BY event_type) AS t
        |  FROM v),
        |s2 AS (
        |  SELECT event_type, day, ABS(m * cum - r * t) AS score, m, t,
        |         ROW_NUMBER() OVER (PARTITION BY event_type
        |           ORDER BY ABS(m * cum - r * t) DESC, day) AS rn
        |  FROM sc)
        |SELECT event_type, day AS change_bucket,
        |       CAST(score AS BIGINT) AS score,
        |       CAST(m AS BIGINT) AS n_buckets, CAST(t AS BIGINT) AS total
        |FROM s2 WHERE rn = 1 ORDER BY event_type""".stripMargin),

    // --- DAU + trailing-7-day rolling distinct actives (contribution
    // explode of the deduped user-day table — no per-day rescans) ---
    Case("q_rolling_active", (s, dir) =>
      Sessionize.rollingActive(
          TraceGen.eventsTable(s, dir).withColumn("t_us", expr("ts div 1000")))
        .orderBy(col("day")),
      """WITH ud AS (
        |  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day
        |  FROM events),
        |days AS (SELECT DISTINCT day FROM ud),
        |dau AS (SELECT day, CAST(COUNT(*) AS BIGINT) AS dau
        |        FROM ud GROUP BY 1),
        |contrib AS (
        |  SELECT DISTINCT user_id, day + i AS day
        |  FROM ud, generate_series(0, 6) g(i)),
        |roll AS (
        |  SELECT c.day, CAST(COUNT(*) AS BIGINT) AS rolling_active
        |  FROM contrib c JOIN days d USING (day) GROUP BY 1)
        |SELECT day, dau, rolling_active
        |FROM dau JOIN roll USING (day) ORDER BY day""".stripMargin),

    // --- join-skew diagnosis: exact p50/p90/p99 of rows-per-join-key
    // via the distributed histogram refinement (never a global sort) ---
    Case("q_skew_report", (s, dir) => {
      val counts = T(s, dir, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(count(lit(1)).cast("long").as("rows_per_key"))
      graft.scale.Sketches.histQuantiles(counts, "rows_per_key")
        .orderBy(col("per_mille"))
    },
      """WITH v AS (SELECT CAST(COUNT(*) AS BIGINT) AS x
        |           FROM lineitem GROUP BY l_orderkey),
        |b AS (SELECT MIN(x) AS lo, MAX(x) AS hi,
        |             CAST(COUNT(*) AS BIGINT) AS n,
        |             MAX(x) - MIN(x) + 1 AS w FROM v),
        |bin AS (SELECT x, ((x - lo) * 1024) // w AS bn FROM v, b),
        |c AS (SELECT bn, CAST(COUNT(*) AS BIGINT) AS cnt
        |      FROM bin GROUP BY 1),
        |cum AS (SELECT bn,
        |               CAST(SUM(cnt) OVER (ORDER BY bn) AS BIGINT) AS cm,
        |               CAST(SUM(cnt) OVER (ORDER BY bn) - cnt AS BIGINT) AS bef
        |        FROM c),
        |q AS (SELECT UNNEST([500, 900, 990]) AS pm),
        |t AS (SELECT pm, (pm * n + 999) // 1000 AS r, lo, w, n
        |      FROM q CROSS JOIN b),
        |sel AS (SELECT t.pm, t.r, t.n,
        |               t.lo + (cum.bn * t.w) // 1024 AS est
        |        FROM t JOIN cum ON cum.cm >= t.r AND cum.bef < t.r),
        |sorted AS (SELECT x, ROW_NUMBER() OVER (ORDER BY x) AS rn FROM v)
        |SELECT CAST(sel.pm AS INT) AS per_mille, sel.n AS n,
        |       CAST(sel.est AS BIGINT) AS est, s.x AS exact,
        |       ABS(s.x - sel.est) AS abs_err
        |FROM sel JOIN sorted s ON s.rn = sel.r
        |ORDER BY 1""".stripMargin),

    // --- CEP-lite guarded sequence: purchases attributed to a click
    // within 1 h unless an error intervened — one keyed window, running
    // strict-past maxima, no self-join ---
    Case("q_guarded_match", (s, dir) =>
      Sessionize.guardedMatch(
          TraceGen.eventsTable(s, dir)
            .withColumn("t_us", expr("ts div 1000")),
          target = "purchase", trigger = "click", blocker = "error",
          windowUs = 3600000000L)
        .orderBy(col("user_id")),
      """WITH e AS (
        |  SELECT user_id, event_id, event_type, epoch_us(ts) AS t
        |  FROM events),
        |w AS (
        |  SELECT user_id, event_type, t,
        |         MAX(CASE WHEN event_type = 'click' THEN t END)
        |           OVER (PARTITION BY user_id ORDER BY t, event_id
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |           AS lt,
        |         MAX(CASE WHEN event_type = 'error' THEN t END)
        |           OVER (PARTITION BY user_id ORDER BY t, event_id
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |           AS lb
        |  FROM e)
        |SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_targets,
        |       CAST(SUM(CASE WHEN lt IS NOT NULL AND t - lt <= 3600000000
        |                          AND (lb IS NULL OR lb <= lt)
        |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_matched
        |FROM w WHERE event_type = 'purchase'
        |GROUP BY user_id ORDER BY user_id""".stripMargin)
  )
}
