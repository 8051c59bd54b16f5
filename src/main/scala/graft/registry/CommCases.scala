package graft
package registry

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.analysis.CommOps
import graft.demo.TraceGen
import graft.model.Schemas._
import graft.registry.OracleCtes.commCte

/** Communication analysis: message matrices, histograms and communication
  * patterns on the comm trace. */
object CommCases extends Family("Communication analysis") {

  val cases: Seq[Case] = Seq(

    // --- time-resolved comm matrix: which links are hot WHEN (the
    // animated comm-matrix feed), sparse cells, one keyed agg ---
    Case("comm_matrix_over_time", (s, dir) =>
      CommOps.commMatrixOverTime(TraceGen.commTrace(s, dir))
        .orderBy(col("sender"), col("receiver"), col("bin")),
      commCte +
      """, ext AS (
        |  SELECT MIN(timestamp_ns) AS lo, MAX(timestamp_ns) AS hi FROM comm)
        |SELECT process AS sender, attr_receiver AS receiver,
        |       CAST(((timestamp_ns - e.lo) * 20) // (e.hi - e.lo + 1) AS INT)
        |         AS bin,
        |       CAST(SUM(attr_msg_length) AS BIGINT) AS volume
        |FROM comm CROSS JOIN ext e
        |WHERE name IN ('MpiSend', 'MpiIsend')
        |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin),

    // --- in-flight message depth over time: per bin net sends−recvs
    // and the running depth (cumsum over the tiny bin table only) ---
    Case("comm_inflight", (s, dir) => {
      val t = TraceGen.commTrace(s, dir)
      val extRow = t.agg(min(col(TimestampNs)), max(col(TimestampNs))).head
      val (lo, hi) = (extRow.getLong(0), extRow.getLong(1))
      val binned = t
        .filter(col(Name).isin("MpiSend", "MpiIsend", "MpiRecv", "MpiIrecv"))
        .withColumn("bin",
          expr(s"((timestamp_ns - ${lo}L) * 50) div ${hi - lo + 1}L")
            .cast("int"))
        .groupBy(col("bin"))
        .agg(sum(when(col(Name).isin("MpiSend", "MpiIsend"), 1L)
          .otherwise(-1L)).as("net"))
      binned.withColumn("inflight",
          sum(col("net")).over(Window.orderBy(col("bin"))))
        .orderBy(col("bin"))
    },
      commCte +
      """, ext AS (
        |  SELECT MIN(timestamp_ns) AS lo, MAX(timestamp_ns) AS hi FROM comm),
        |b AS (
        |  SELECT CAST(((timestamp_ns - e.lo) * 50) // (e.hi - e.lo + 1) AS INT)
        |           AS bin,
        |         CAST(SUM(CASE WHEN name IN ('MpiSend', 'MpiIsend')
        |                       THEN 1 ELSE -1 END) AS BIGINT) AS net
        |  FROM comm CROSS JOIN ext e
        |  WHERE name IN ('MpiSend', 'MpiIsend', 'MpiRecv', 'MpiIrecv')
        |  GROUP BY 1)
        |SELECT bin, net,
        |       CAST(SUM(net) OVER (ORDER BY bin) AS BIGINT) AS inflight
        |FROM b ORDER BY bin""".stripMargin),

    // --- A1: comm matrix (size + count) ---
    Case("comm_matrix", (s, dir) => CommOps.commMatrix(TraceGen.commTrace(s, dir))
      .orderBy(col("sender"), col("receiver")),
      commCte +
      """SELECT process AS sender, attr_receiver AS receiver,
        |       CAST(SUM(attr_msg_length) AS BIGINT) AS volume
        |FROM comm WHERE name IN ('MpiSend', 'MpiIsend')
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    Case("comm_matrix_count", (s, dir) =>
      CommOps.commMatrix(TraceGen.commTrace(s, dir), "count")
        .orderBy(col("sender"), col("receiver")),
      commCte +
      """SELECT process AS sender, attr_receiver AS receiver,
        |       CAST(COUNT(*) AS BIGINT) AS volume
        |FROM comm WHERE name IN ('MpiSend', 'MpiIsend')
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // --- A4: comm by process ---
    Case("comm_by_process", (s, dir) =>
      CommOps.commByProcess(TraceGen.commTrace(s, dir)).orderBy(col(Process)),
      commCte +
      """, cm AS (
        |  SELECT process AS sender, attr_receiver AS receiver,
        |         CAST(SUM(attr_msg_length) AS BIGINT) AS volume
        |  FROM comm WHERE name IN ('MpiSend', 'MpiIsend') GROUP BY 1, 2),
        |s AS (SELECT sender AS process, CAST(SUM(volume) AS BIGINT) AS sent FROM cm GROUP BY 1),
        |r AS (SELECT receiver AS process, CAST(SUM(volume) AS BIGINT) AS received FROM cm GROUP BY 1)
        |SELECT COALESCE(s.process, r.process) AS process,
        |       COALESCE(sent, 0) AS sent, COALESCE(received, 0) AS received
        |FROM s FULL OUTER JOIN r ON s.process = r.process ORDER BY 1""".stripMargin),

    // --- A3: comm over time ---
    Case("comm_over_time", (s, dir) =>
      CommOps.commOverTime(TraceGen.commTrace(s, dir), "size", "send", 50)
        .select(col("bin"), col("volume")).orderBy(col("bin")),
      commCte +
      """, ext AS (SELECT CAST(MIN(timestamp_ns) AS DOUBLE) lo,
        |                 CAST(MAX(timestamp_ns) AS DOUBLE) hi FROM comm),
        |binned AS (
        |  SELECT CAST(LEAST(FLOOR((CAST(timestamp_ns AS DOUBLE) - lo) / ((hi - lo) / 50)), 49) AS INT) AS bin,
        |         attr_msg_length AS sz
        |  FROM comm, ext WHERE name IN ('MpiSend', 'MpiIsend')),
        |agg AS (SELECT bin, CAST(SUM(sz) AS BIGINT) AS volume FROM binned GROUP BY 1)
        |SELECT g.i AS bin, COALESCE(a.volume, 0) AS volume
        |FROM generate_series(0, 49) g(i) LEFT JOIN agg a ON g.i = a.bin
        |ORDER BY 1""".stripMargin),

    // --- A2: message histogram ---
    Case("msg_histogram", (s, dir) =>
      CommOps.messageHistogram(TraceGen.commTrace(s, dir), 20)
        .select(col("bin"), col("count")).orderBy(col("bin")),
      commCte +
      """, sz AS (SELECT CAST(attr_msg_length AS DOUBLE) AS v FROM comm
        |          WHERE name IN ('MpiSend', 'MpiIsend')),
        |ext AS (SELECT MIN(v) lo, MAX(v) hi FROM sz),
        |binned AS (
        |  SELECT CAST(LEAST(FLOOR((v - lo) / ((hi - lo) / 20)), 19) AS INT) AS bin
        |  FROM sz, ext),
        |agg AS (SELECT bin, CAST(COUNT(*) AS BIGINT) AS count FROM binned GROUP BY 1)
        |SELECT g.i AS bin, COALESCE(a.count, 0) AS count
        |FROM generate_series(0, 19) g(i) LEFT JOIN agg a ON g.i = a.bin
        |ORDER BY 1""".stripMargin),

    // --- per-window comm structure: pattern-classification inputs ---
    Case("comm_structure", (s, dir) =>
      CommOps.commStructure(TraceGen.commTrace(s, dir), 20)
        .orderBy(col("bin")),
      commCte +
      """, ext AS (SELECT CAST(MIN(timestamp_ns) AS DOUBLE) lo,
        |                 CAST(MAX(timestamp_ns) AS DOUBLE) hi,
        |                 MAX(process) + 1 AS nranks FROM comm),
        |pairs AS (
        |  SELECT CAST(LEAST(FLOOR((CAST(timestamp_ns AS DOUBLE) - lo)
        |                          / ((hi - lo) / 20)), 19) AS INT) AS bin,
        |         process AS s, attr_receiver AS r, nranks,
        |         COUNT(*) AS n, SUM(attr_msg_length) AS b
        |  FROM comm, ext WHERE name IN ('MpiSend', 'MpiIsend')
        |  GROUP BY 1, 2, 3, 4),
        |agg AS (
        |  SELECT bin,
        |         CAST(SUM(n) AS BIGINT) AS n_msgs,
        |         CAST(SUM(b) AS BIGINT) AS bytes,
        |         CAST(COUNT(*) AS BIGINT) AS n_pairs,
        |         CAST(COUNT(DISTINCT s) AS BIGINT) AS n_senders,
        |         CAST(COUNT(DISTINCT r) AS BIGINT) AS n_receivers,
        |         CAST(MAX(n) AS BIGINT) AS max_pair_msgs,
        |         CAST(SUM(CASE WHEN s = r THEN n ELSE 0 END) AS BIGINT)
        |           AS self_msgs,
        |         CAST(SUM(CASE WHEN LEAST(ABS(s - r), nranks - ABS(s - r)) = 1
        |                       THEN n ELSE 0 END) AS BIGINT) AS ring_msgs
        |  FROM pairs GROUP BY 1)
        |SELECT CAST(g.i AS INT) AS bin,
        |       COALESCE(n_msgs, 0) AS n_msgs, COALESCE(bytes, 0) AS bytes,
        |       COALESCE(n_pairs, 0) AS n_pairs,
        |       COALESCE(n_senders, 0) AS n_senders,
        |       COALESCE(n_receivers, 0) AS n_receivers,
        |       COALESCE(max_pair_msgs, 0) AS max_pair_msgs,
        |       COALESCE(self_msgs, 0) AS self_msgs,
        |       COALESCE(ring_msgs, 0) AS ring_msgs
        |FROM generate_series(0, 19) g(i) LEFT JOIN agg ON g.i = agg.bin
        |ORDER BY 1""".stripMargin),

    // --- comm volume by rank distance (near vs far traffic) ---
    Case("comm_distance", (s, dir) =>
      CommOps.commMatrix(TraceGen.commTrace(s, dir))
        .groupBy(abs(col("sender") - col("receiver")).as("distance"))
        .agg(sum(col("volume")).as("volume"),
          count(lit(1)).as("n_channels"))
        .orderBy(col("distance")),
      commCte +
      """, cm AS (
        |  SELECT process AS sender, attr_receiver AS receiver,
        |         CAST(SUM(attr_msg_length) AS BIGINT) AS volume
        |  FROM comm WHERE name IN ('MpiSend', 'MpiIsend')
        |  GROUP BY 1, 2)
        |SELECT CAST(ABS(sender - receiver) AS INT) AS distance,
        |       CAST(SUM(volume) AS BIGINT) AS volume,
        |       CAST(COUNT(*) AS BIGINT) AS n_channels
        |FROM cm GROUP BY 1 ORDER BY distance""".stripMargin),

    // --- send/recv matching: k-th send p->q pairs k-th recv at q from p ---
    Case("msg_match", (s, dir) =>
      CommOps.matchMessages(TraceGen.commTrace(s, dir))
        .orderBy(col("src"), col("dst"), col("k")),
      commCte +
      """, sends AS (
        |  SELECT process AS src, attr_receiver AS dst,
        |         timestamp_ns AS send_ts, event_id AS send_event_id,
        |         ROW_NUMBER() OVER (PARTITION BY process, attr_receiver
        |           ORDER BY timestamp_ns, event_id) AS k
        |  FROM comm WHERE name IN ('MpiSend', 'MpiIsend')),
        |recvs AS (
        |  SELECT process AS dst, attr_receiver AS src,
        |         timestamp_ns AS recv_ts, event_id AS recv_event_id,
        |         ROW_NUMBER() OVER (PARTITION BY process, attr_receiver
        |           ORDER BY timestamp_ns, event_id) AS k
        |  FROM comm WHERE name IN ('MpiRecv', 'MpiIrecv'))
        |SELECT s.src, s.dst, CAST(s.k AS INT) AS k,
        |       s.send_event_id, r.recv_event_id, s.send_ts, r.recv_ts,
        |       CAST(r.recv_ts - s.send_ts AS BIGINT) AS latency_ns
        |FROM sends s JOIN recvs r ON s.src = r.src AND s.dst = r.dst AND s.k = r.k
        |ORDER BY s.src, s.dst, k""".stripMargin),

    // --- late-sender wait attribution per receiving process ---
    Case("comm_wait", (s, dir) =>
      CommOps.commWait(TraceGen.commTrace(s, dir))
        .orderBy(col("process")),
      commCte +
      """, sends AS (
        |  SELECT process AS src, attr_receiver AS dst,
        |         timestamp_ns AS send_ts,
        |         ROW_NUMBER() OVER (PARTITION BY process, attr_receiver
        |           ORDER BY timestamp_ns, event_id) AS k
        |  FROM comm WHERE name IN ('MpiSend', 'MpiIsend')),
        |recvs AS (
        |  SELECT process AS dst, attr_receiver AS src,
        |         timestamp_ns AS recv_ts,
        |         ROW_NUMBER() OVER (PARTITION BY process, attr_receiver
        |           ORDER BY timestamp_ns, event_id) AS k
        |  FROM comm WHERE name IN ('MpiRecv', 'MpiIrecv'))
        |SELECT r.dst AS process, CAST(COUNT(*) AS BIGINT) AS n_matched,
        |       CAST(SUM(CASE WHEN s.send_ts > r.recv_ts THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_late_sends,
        |       CAST(SUM(CASE WHEN s.send_ts > r.recv_ts
        |                     THEN s.send_ts - r.recv_ts ELSE 0 END) AS BIGINT)
        |         AS total_wait_ns
        |FROM sends s JOIN recvs r ON s.src = r.src AND s.dst = r.dst AND s.k = r.k
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // --- unmatched sends/recvs per channel (message-loss audit) ---
    Case("comm_unmatched", (s, dir) =>
      CommOps.commUnmatched(TraceGen.commTrace(s, dir))
        .orderBy(col("src"), col("dst"), col("side")),
      commCte +
      """, sends AS (
        |  SELECT process AS src, attr_receiver AS dst,
        |         ROW_NUMBER() OVER (PARTITION BY process, attr_receiver
        |           ORDER BY timestamp_ns, event_id) AS k
        |  FROM comm WHERE name IN ('MpiSend', 'MpiIsend')),
        |recvs AS (
        |  SELECT process AS dst, attr_receiver AS src,
        |         ROW_NUMBER() OVER (PARTITION BY process, attr_receiver
        |           ORDER BY timestamp_ns, event_id) AS k
        |  FROM comm WHERE name IN ('MpiRecv', 'MpiIrecv')),
        |lone AS (
        |  SELECT s.src, s.dst, 'send' AS side FROM sends s
        |  WHERE NOT EXISTS (SELECT 1 FROM recvs r
        |    WHERE r.src = s.src AND r.dst = s.dst AND r.k = s.k)
        |  UNION ALL
        |  SELECT r.src, r.dst, 'recv' FROM recvs r
        |  WHERE NOT EXISTS (SELECT 1 FROM sends s
        |    WHERE s.src = r.src AND s.dst = r.dst AND s.k = r.k))
        |SELECT src, dst, side, CAST(COUNT(*) AS BIGINT) AS n_unmatched
        |FROM lone GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin),

    // --- late-sender vs late-receiver wait classification per channel ---
    Case("comm_wait_classes", (s, dir) =>
      CommOps.waitClasses(TraceGen.commTrace(s, dir))
        .orderBy(col("src"), col("dst")),
      commCte +
      """, sends AS (
        |  SELECT process AS src, attr_receiver AS dst,
        |         timestamp_ns AS send_ts,
        |         ROW_NUMBER() OVER (PARTITION BY process, attr_receiver
        |           ORDER BY timestamp_ns, event_id) AS k
        |  FROM comm WHERE name IN ('MpiSend', 'MpiIsend')),
        |recvs AS (
        |  SELECT process AS dst, attr_receiver AS src,
        |         timestamp_ns AS recv_ts,
        |         ROW_NUMBER() OVER (PARTITION BY process, attr_receiver
        |           ORDER BY timestamp_ns, event_id) AS k
        |  FROM comm WHERE name IN ('MpiRecv', 'MpiIrecv'))
        |SELECT s.src, s.dst, CAST(COUNT(*) AS BIGINT) AS n_matched,
        |       CAST(SUM(CASE WHEN r.recv_ts < s.send_ts THEN 1 ELSE 0 END)
        |         AS BIGINT) AS n_late_sender,
        |       CAST(SUM(CASE WHEN r.recv_ts < s.send_ts
        |                     THEN s.send_ts - r.recv_ts ELSE 0 END)
        |         AS BIGINT) AS late_sender_wait_ns,
        |       CAST(SUM(CASE WHEN r.recv_ts >= s.send_ts THEN 1 ELSE 0 END)
        |         AS BIGINT) AS n_late_receiver,
        |       CAST(SUM(CASE WHEN r.recv_ts >= s.send_ts
        |                     THEN r.recv_ts - s.send_ts ELSE 0 END)
        |         AS BIGINT) AS late_receiver_transit_ns
        |FROM sends s JOIN recvs r ON s.src = r.src AND s.dst = r.dst AND s.k = r.k
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // --- eager→rendezvous switch: CUSUM argmax over size-ordered
    // matched-message latencies per channel ---
    Case("comm_protocol_switch", (s, dir) =>
      CommOps.protocolSwitch(TraceGen.commTrace(s, dir))
        .orderBy(col("src"), col("dst")),
      commCte +
      """, sends AS (
        |  SELECT process AS src, attr_receiver AS dst,
        |         timestamp_ns AS send_ts, attr_msg_length AS bytes,
        |         ROW_NUMBER() OVER (PARTITION BY process, attr_receiver
        |           ORDER BY timestamp_ns, event_id) AS k
        |  FROM comm WHERE name IN ('MpiSend', 'MpiIsend')),
        |recvs AS (
        |  SELECT process AS dst, attr_receiver AS src,
        |         timestamp_ns AS recv_ts,
        |         ROW_NUMBER() OVER (PARTITION BY process, attr_receiver
        |           ORDER BY timestamp_ns, event_id) AS k
        |  FROM comm WHERE name IN ('MpiRecv', 'MpiIrecv')),
        |mm AS (
        |  SELECT s.src, s.dst, s.bytes * 10000000 + s.k AS bucket,
        |         (r.recv_ts - s.send_ts) // 1000000 AS lat_ms
        |  FROM sends s JOIN recvs r
        |    ON s.src = r.src AND s.dst = r.dst AND s.k = r.k),
        |r2 AS (
        |  SELECT src, dst, bucket, lat_ms,
        |         ROW_NUMBER() OVER (PARTITION BY src, dst ORDER BY bucket) AS rr,
        |         SUM(lat_ms) OVER (PARTITION BY src, dst ORDER BY bucket
        |                           ROWS UNBOUNDED PRECEDING) AS cum,
        |         COUNT(*) OVER (PARTITION BY src, dst) AS m,
        |         SUM(lat_ms) OVER (PARTITION BY src, dst) AS t
        |  FROM mm),
        |sc AS (SELECT src, dst, bucket, ABS(m * cum - rr * t) AS score, m, t
        |       FROM r2),
        |best AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY src, dst
        |           ORDER BY score DESC, bucket) AS rn FROM sc)
        |SELECT src, dst,
        |       CAST(bucket // 10000000 AS BIGINT) AS threshold_bytes,
        |       CAST(score AS BIGINT) AS score,
        |       CAST(m AS BIGINT) AS n_msgs,
        |       CAST(t AS BIGINT) AS lat_ms_total
        |FROM best WHERE rn = 1 ORDER BY src, dst""".stripMargin),

    // --- per-channel message-latency order statistics (rank-selected,
    // integer ns — no interpolation, engine-exact) ---
    Case("comm_latency_pctl", (s, dir) => {
      val m = CommOps.matchMessages(TraceGen.commTrace(s, dir))
        .withColumn("pair", concat_ws(">",
          col("src").cast("string"), col("dst").cast("string")))
      graft.analysis.RobustStats.percentiles(m, "pair", "latency_ns", "recv_event_id")
        .select(col("pair"), col("n"), col("p50").as("p50_ns"),
          col("p90").as("p90_ns"), col("max").as("max_ns"))
        .orderBy(col("pair"))
    },
      commCte +
      """, sends AS (
        |  SELECT process AS src, attr_receiver AS dst,
        |         timestamp_ns AS send_ts,
        |         ROW_NUMBER() OVER (PARTITION BY process, attr_receiver
        |           ORDER BY timestamp_ns, event_id) AS k
        |  FROM comm WHERE name IN ('MpiSend', 'MpiIsend')),
        |recvs AS (
        |  SELECT process AS dst, attr_receiver AS src,
        |         timestamp_ns AS recv_ts, event_id AS recv_event_id,
        |         ROW_NUMBER() OVER (PARTITION BY process, attr_receiver
        |           ORDER BY timestamp_ns, event_id) AS k
        |  FROM comm WHERE name IN ('MpiRecv', 'MpiIrecv')),
        |p AS (
        |  SELECT CAST(s.src AS VARCHAR) || '>' || CAST(s.dst AS VARCHAR) AS pair,
        |         CAST(r.recv_ts - s.send_ts AS BIGINT) AS lat, r.recv_event_id AS id
        |  FROM sends s JOIN recvs r
        |    ON s.src = r.src AND s.dst = r.dst AND s.k = r.k),
        |r2 AS (
        |  SELECT pair, lat,
        |         ROW_NUMBER() OVER (PARTITION BY pair ORDER BY lat, id) AS rn,
        |         COUNT(*) OVER (PARTITION BY pair) AS n
        |  FROM p)
        |SELECT pair, CAST(MAX(n) AS BIGINT) AS n,
        |       MAX(CASE WHEN rn = (n + 1) // 2 THEN lat END) AS p50_ns,
        |       MAX(CASE WHEN rn = (9 * n + 9) // 10 THEN lat END) AS p90_ns,
        |       MAX(CASE WHEN rn = n THEN lat END) AS max_ns
        |FROM r2 GROUP BY pair ORDER BY pair""".stripMargin),

    // --- per-channel latency-vs-size cost-model fit (LogGP shape):
    // exact integer sufficient statistics, slope left to presentation ---
    Case("comm_fit", (s, dir) =>
      CommOps.latencyModel(TraceGen.commTrace(s, dir))
        .orderBy(col("src"), col("dst")),
      commCte +
      """, sends AS (
        |  SELECT process AS src, attr_receiver AS dst,
        |         timestamp_ns AS send_ts, attr_msg_length AS bytes,
        |         ROW_NUMBER() OVER (PARTITION BY process, attr_receiver
        |           ORDER BY timestamp_ns, event_id) AS k
        |  FROM comm WHERE name IN ('MpiSend', 'MpiIsend')),
        |recvs AS (
        |  SELECT process AS dst, attr_receiver AS src,
        |         timestamp_ns AS recv_ts,
        |         ROW_NUMBER() OVER (PARTITION BY process, attr_receiver
        |           ORDER BY timestamp_ns, event_id) AS k
        |  FROM comm WHERE name IN ('MpiRecv', 'MpiIrecv')),
        |m AS (
        |  SELECT s.src, s.dst, s.bytes,
        |         (r.recv_ts - s.send_ts) // 1000000 AS lat_ms
        |  FROM sends s JOIN recvs r
        |    ON s.src = r.src AND s.dst = r.dst AND s.k = r.k)
        |SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS n,
        |       CAST(SUM(bytes) AS BIGINT) AS sum_x,
        |       CAST(SUM(lat_ms) AS BIGINT) AS sum_y,
        |       CAST(SUM(bytes * lat_ms) AS BIGINT) AS sum_xy,
        |       CAST(SUM(bytes * bytes) AS BIGINT) AS sum_x2
        |FROM m GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // --- critical-path-style stall chain from the last late stall ---
    Case("comm_stall_chain", (s, dir) =>
      graft.analysis.CriticalPath.stallChain(TraceGen.commTrace(s, dir))
        .orderBy(col("hop")),
      commCte.replaceFirst("WITH ", "WITH RECURSIVE ") +
      """, sends AS (
        |  SELECT process AS src, attr_receiver AS dst,
        |         timestamp_ns AS send_ts, event_id,
        |         ROW_NUMBER() OVER (PARTITION BY process, attr_receiver
        |           ORDER BY timestamp_ns, event_id) AS k
        |  FROM comm WHERE name IN ('MpiSend', 'MpiIsend')),
        |recvs AS (
        |  SELECT process AS dst, attr_receiver AS src,
        |         timestamp_ns AS recv_ts, event_id,
        |         ROW_NUMBER() OVER (PARTITION BY process, attr_receiver
        |           ORDER BY timestamp_ns, event_id) AS k
        |  FROM comm WHERE name IN ('MpiRecv', 'MpiIrecv')),
        |late AS (
        |  SELECT r.event_id AS mid, s.src, s.dst, s.send_ts, r.recv_ts
        |  FROM sends s JOIN recvs r
        |    ON s.src = r.src AND s.dst = r.dst AND s.k = r.k
        |  WHERE s.send_ts > r.recv_ts),
        |pred AS (
        |  SELECT m.mid,
        |         (SELECT p.mid FROM late p
        |          WHERE p.dst = m.src AND p.recv_ts < m.recv_ts
        |          ORDER BY p.recv_ts DESC, p.mid DESC LIMIT 1) AS pred_mid
        |  FROM late m),
        |root AS (SELECT mid FROM late ORDER BY recv_ts DESC, mid DESC LIMIT 1),
        |chain AS (
        |  SELECT 0 AS hop, mid FROM root
        |  UNION ALL
        |  SELECT c.hop + 1, p.pred_mid FROM chain c JOIN pred p ON p.mid = c.mid
        |  WHERE p.pred_mid IS NOT NULL)
        |SELECT CAST(c.hop AS BIGINT) AS hop, l.src, l.dst, l.send_ts, l.recv_ts,
        |       CAST(l.send_ts - l.recv_ts AS BIGINT) AS wait_ns
        |FROM chain c JOIN late l ON l.mid = c.mid ORDER BY hop""".stripMargin)
  )
}
