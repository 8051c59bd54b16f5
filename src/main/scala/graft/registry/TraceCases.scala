package graft
package registry

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.analysis.{Profiles, TimeProfile}
import graft.cct.Cct
import graft.demo.TraceGen
import graft.model.Schemas._
import graft.scale.TextOps
import graft.SparkEntry.{callEnriched, otf2ExportPath}
import graft.registry.OracleCtes.{callCte, commCte}

/** Trace enrichment & profiles: the enrichment spine (matching, depth,
  * parent, inclusive and exclusive time) and the pipit analyses on the call
  * trace. */
object TraceCases extends Family("Trace enrichment & profiles") {

  /** Also the oracle of the streaming subtree sampler
    * (`stream_sample_endstate`): both apply the identical md5 tree-key
    * keep rule to the identical canonical event set, so a hash-identical
    * result pins streaming/batch parity against the external engine. */
  // --- structure-preserving trace reduction: keep 2/5 of top-level
  // call trees (whole subtrees, so the sample stays matchable) ---
  val traceSampleCalls: Case = Case("trace_sample_calls", (s, dir) =>
      graft.analysis.TraceSample.sampleCalls(TraceGen.callTrace(s, dir), 2, 5)
        .select(col(TimestampNs), col(EventType), col(Name), col(Process))
        .orderBy(col(TimestampNs), col(EventType), col(Name), col(Process)),
      // a kept order carries ALL its events (order + item + ship rows) —
      // the tree key is the order's own t0 on every row
      callCte +
      """, keep AS (
        |  SELECT ok FROM ord
        |  WHERE CAST(concat('0x', substr(md5(
        |          '7:' || CAST(process AS VARCHAR) || ':' || CAST(t0 AS VARCHAR)),
        |          1, 15)) AS BIGINT) % 5 < 2)
        |SELECT * FROM (
        |  SELECT t0 AS timestamp_ns, 'Enter' AS event_type, name, process
        |  FROM ord JOIN keep USING (ok)
        |  UNION ALL SELECT t1, 'Leave', name, process FROM ord JOIN keep USING (ok)
        |  UNION ALL SELECT t0, 'Enter', name, process FROM item JOIN keep USING (ok)
        |  UNION ALL SELECT t1, 'Leave', name, process FROM item JOIN keep USING (ok)
        |  UNION ALL SELECT s0, 'Enter', ship_name, process FROM item JOIN keep USING (ok)
        |  UNION ALL SELECT s1, 'Leave', ship_name, process FROM item JOIN keep USING (ok)
        |) ORDER BY timestamp_ns, event_type, name, process""".stripMargin)

  val cases: Seq[Case] = Seq(
    // --- M1/M2: event matching, depth, parent ---
    Case("trace_match", (s, dir) => callEnriched(s, dir)
      .filter(col(EventType) === Enter && col(MatchingEventId).isNotNull)
      .select(col(EventId), col(MatchingEventId), col(MatchingTs))
      .orderBy(col(EventId)),
      callCte +
      """SELECT * FROM (
        |  SELECT t0 AS event_id, t1 AS matching_event_id, t1 AS matching_ts FROM ord
        |  UNION ALL SELECT t0, t1, t1 FROM item
        |  UNION ALL SELECT s0, s1, s1 FROM item
        |) ORDER BY event_id""".stripMargin),

    Case("trace_depth", (s, dir) => callEnriched(s, dir)
      .filter(col(EventType) === Enter)
      .select(col(EventId), col(Depth), col(ParentEventId))
      .orderBy(col(EventId)),
      callCte +
      """SELECT * FROM (
        |  SELECT t0 AS event_id, CAST(0 AS INT) AS depth, CAST(NULL AS BIGINT) AS parent_event_id FROM ord
        |  UNION ALL SELECT t0, 1, ok * 1000000 FROM item
        |  UNION ALL SELECT s0, 2, t0 FROM item
        |) ORDER BY event_id""".stripMargin),

    // --- M3/M4: inclusive/exclusive metrics ---
    Case("trace_inc", (s, dir) => callEnriched(s, dir)
      .filter(col(EventType) === Enter)
      .select(col(EventId), col(TimeInc)).orderBy(col(EventId)),
      callCte +
      """SELECT * FROM (
        |  SELECT t0 AS event_id, CAST(999000 AS BIGINT) AS time_inc FROM ord
        |  UNION ALL SELECT t0, qty * 1000 - 10 FROM item
        |  UNION ALL SELECT s0, qty * 500 - 100 FROM item
        |) ORDER BY event_id""".stripMargin),

    Case("trace_exc", (s, dir) => callEnriched(s, dir)
      .filter(col(EventType) === Enter)
      .select(col(EventId), col(TimeExc)).orderBy(col(EventId)),
      callCte +
      """, osum AS (SELECT ok, CAST(SUM(qty * 1000 - 10) AS BIGINT) AS child FROM item GROUP BY ok)
        |SELECT * FROM (
        |  SELECT o.t0 AS event_id,
        |         CAST(999000 - COALESCE(s.child, 0) AS BIGINT) AS time_exc
        |  FROM ord o LEFT JOIN osum s ON o.ok = s.ok
        |  UNION ALL SELECT t0, qty * 500 + 90 FROM item
        |  UNION ALL SELECT s0, qty * 500 - 100 FROM item
        |) ORDER BY event_id""".stripMargin),

    // --- A5: flat profile (two-level agg) ---
    // --- per-function duration order statistics (rank-selected, never
    // interpolated — the cross-engine-exact percentile formulation) ---
    Case("trace_duration_pctl", (s, dir) => {
      val durs = callEnriched(s, dir).filter(col(EventType) === Enter)
        .select(col(Name), col(TimeInc).as("dur"), col(EventId))
      graft.analysis.RobustStats.percentiles(durs, Name, "dur", EventId)
        .select(col(Name), col("n"), col("p50").as("p50_ns"),
          col("p90").as("p90_ns"), col("max").as("max_ns"))
        .orderBy(col(Name))
    },
      callCte +
      """, durs AS (
        |  SELECT name, CAST(t1 - t0 AS BIGINT) AS dur, t0 AS id FROM ord
        |  UNION ALL SELECT name, CAST(t1 - t0 AS BIGINT), t0 FROM item
        |  UNION ALL SELECT ship_name, CAST(s1 - s0 AS BIGINT), s0 FROM item),
        |r AS (
        |  SELECT name, dur,
        |         ROW_NUMBER() OVER (PARTITION BY name ORDER BY dur, id) AS rn,
        |         COUNT(*) OVER (PARTITION BY name) AS n
        |  FROM durs)
        |SELECT name, CAST(MAX(n) AS BIGINT) AS n,
        |       MAX(CASE WHEN rn = (n + 1) // 2 THEN dur END) AS p50_ns,
        |       MAX(CASE WHEN rn = (9 * n + 9) // 10 THEN dur END) AS p90_ns,
        |       MAX(CASE WHEN rn = n THEN dur END) AS max_ns
        |FROM r GROUP BY name ORDER BY name""".stripMargin),

    Case("trace_flat_profile", (s, dir) =>
      Profiles.flatProfile(callEnriched(s, dir), Seq(TimeExc))
        .select(col(Name), round(col(TimeExc), 4).as("mean_exc"))
        .orderBy(col(Name)),
      callCte + excByNameProcSql +
      """SELECT name, ROUND(AVG(CAST(sum_exc AS DOUBLE)), 4) AS mean_exc
        |FROM pp GROUP BY name ORDER BY name""".stripMargin),

    Case("trace_flat_profile_pp", (s, dir) =>
      Profiles.flatProfile(callEnriched(s, dir), Seq(TimeExc), perProcess = true)
        .select(col(Name), col(Process), col(TimeExc).cast("long").as("sum_exc"))
        .orderBy(col(Name), col(Process)),
      callCte + excByNameProcSql +
      "SELECT name, process, sum_exc FROM pp ORDER BY name, process"),

    // --- A6: load imbalance ---
    Case("trace_load_imbalance", (s, dir) => {
      val pp = Profiles.flatProfile(callEnriched(s, dir), Seq(TimeExc), perProcess = true)
      val w = Window.partitionBy(col(Name)).orderBy(col(TimeExc).desc, col(Process))
      val top = pp.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col(Name), col(Process).as("top_process"))
      pp.groupBy(col(Name))
        .agg(round(max(col(TimeExc)) / avg(col(TimeExc)), 6).as("imbalance"),
          round(avg(col(TimeExc)), 4).as("mean_exc"))
        .join(top, Seq(Name)).orderBy(col(Name))
    },
      callCte + excByNameProcSql +
      """, agg AS (
        |  SELECT name, ROUND(MAX(CAST(sum_exc AS DOUBLE)) / AVG(CAST(sum_exc AS DOUBLE)), 6) AS imbalance,
        |         ROUND(AVG(CAST(sum_exc AS DOUBLE)), 4) AS mean_exc
        |  FROM pp GROUP BY name),
        |top AS (
        |  SELECT name, process AS top_process FROM pp
        |  QUALIFY ROW_NUMBER() OVER (PARTITION BY name ORDER BY sum_exc DESC, process) = 1)
        |SELECT a.name, a.imbalance, a.mean_exc, t.top_process
        |FROM agg a JOIN top t ON a.name = t.name ORDER BY a.name""".stripMargin),

    // --- A7: idle time ---
    // --- straggler detection: ranks whose per-function exc deviates
    // > 3·MAD from the cross-rank median (robust, rank-selected) ---
    Case("trace_rank_outliers", (s, dir) => {
      val pp = Profiles.flatProfile(callEnriched(s, dir), Seq(TimeExc),
        Name, perProcess = true)
      graft.analysis.RobustStats.madOutliers(pp, Name, TimeExc, Process, 3)
        .orderBy(col(Name), col(Process))
    },
      callCte + excByNameProcSql +
      """, v AS (SELECT name, process, sum_exc AS time_exc FROM pp),
        |r AS (
        |  SELECT name, time_exc,
        |         ROW_NUMBER() OVER (PARTITION BY name
        |           ORDER BY time_exc, process) AS rn,
        |         COUNT(*) OVER (PARTITION BY name) AS n
        |  FROM v),
        |med AS (SELECT name, time_exc AS med FROM r WHERE rn = (n + 1) // 2),
        |d AS (
        |  SELECT v.name, v.process, v.time_exc, m.med,
        |         ABS(v.time_exc - m.med) AS dev
        |  FROM v JOIN med m USING (name)),
        |rd AS (
        |  SELECT name, process, dev,
        |         ROW_NUMBER() OVER (PARTITION BY name
        |           ORDER BY dev, process) AS rn,
        |         COUNT(*) OVER (PARTITION BY name) AS n
        |  FROM d),
        |mad AS (SELECT name, dev AS mad FROM rd WHERE rn = (n + 1) // 2)
        |SELECT d.name, d.process, d.time_exc, d.med, md.mad, d.dev
        |FROM d JOIN mad md USING (name)
        |WHERE d.dev > md.mad * 3 ORDER BY d.name, d.process""".stripMargin),

    // --- load imbalance resolved over time bins (integer-exact busy) ---
    Case("trace_imbalance_time", (s, dir) =>
      Profiles.timeImbalance(callEnriched(s, dir))
        .orderBy(col("bin")),
      callCte +
      """, ext AS (
        |  SELECT MIN(t0) AS lo, MAX(t1) AS hi,
        |         COUNT(DISTINCT process) AS np
        |  FROM ord),
        |wdt AS (
        |  SELECT lo, np, GREATEST((hi - lo + 49) // 50, 1) AS w FROM ext),
        |pre AS (
        |  SELECT s.process, s.t0, s.t1, w.lo, w.w,
        |         (s.t0 - w.lo) // w.w AS b0,
        |         LEAST((s.t1 - 1 - w.lo) // w.w, 49) AS b1
        |  FROM ord s CROSS JOIN wdt w),
        |b AS (
        |  SELECT process, t0, t1, lo, w,
        |         unnest(generate_series(b0, b1)) AS bin
        |  FROM pre),
        |busy AS (
        |  SELECT bin, process, SUM(
        |           LEAST(t1, lo + (bin + 1) * w)
        |           - GREATEST(t0, lo + bin * w)) AS busy
        |  FROM b
        |  WHERE LEAST(t1, lo + (bin + 1) * w) > GREATEST(t0, lo + bin * w)
        |  GROUP BY 1, 2),
        |per AS (
        |  SELECT bin, MAX(busy) AS max_busy, SUM(busy) AS total_busy
        |  FROM busy GROUP BY 1)
        |SELECT ab.bin, w.lo + ab.bin * w.w AS bin_start,
        |       CAST(COALESCE(p.max_busy, 0) AS BIGINT) AS max_busy,
        |       CAST(COALESCE(p.total_busy, 0) AS BIGINT) AS total_busy,
        |       CASE WHEN COALESCE(p.total_busy, 0) = 0 THEN 0.0
        |            ELSE ROUND(CAST(p.max_busy AS DOUBLE) * w.np
        |                       / p.total_busy, 6) END AS imbalance
        |FROM (SELECT unnest(generate_series(0, 49)) AS bin) ab
        |CROSS JOIN wdt w
        |LEFT JOIN per p ON p.bin = ab.bin
        |ORDER BY ab.bin""".stripMargin),

    // --- timeline heatmap feed: (process × time-bin) busy matrix of
    // top-level spans, sparse — the Vampir-style visualization table
    // timeImbalance aggregates ---
    Case("trace_heatmap", (s, dir) =>
      Profiles.binnedBusy(callEnriched(s, dir))
        .orderBy(col("bin"), col(Process)),
      callCte +
      """, ext AS (
        |  SELECT MIN(t0) AS lo, MAX(t1) AS hi FROM ord),
        |wdt AS (
        |  SELECT lo, GREATEST((hi - lo + 49) // 50, 1) AS w FROM ext),
        |pre AS (
        |  SELECT s.process, s.t0, s.t1, w.lo, w.w,
        |         (s.t0 - w.lo) // w.w AS b0,
        |         LEAST((s.t1 - 1 - w.lo) // w.w, 49) AS b1
        |  FROM ord s CROSS JOIN wdt w),
        |b AS (
        |  SELECT process, t0, t1, lo, w,
        |         unnest(generate_series(b0, b1)) AS bin
        |  FROM pre),
        |busy AS (
        |  SELECT bin, process, SUM(
        |           LEAST(t1, lo + (bin + 1) * w)
        |           - GREATEST(t0, lo + bin * w)) AS busy
        |  FROM b
        |  WHERE LEAST(t1, lo + (bin + 1) * w) > GREATEST(t0, lo + bin * w)
        |  GROUP BY 1, 2)
        |SELECT busy.bin, w.lo + busy.bin * w.w AS bin_start, busy.process,
        |       CAST(busy.busy AS BIGINT) AS busy
        |FROM busy CROSS JOIN wdt w
        |ORDER BY busy.bin, busy.process""".stripMargin),

    Case("trace_idle_time", (s, dir) =>
      Profiles.idleTime(callEnriched(s, dir), Seq("item_R"))
        .select(col(Process), col("idle_time")).orderBy(col(Process)),
      callCte +
      """, idle AS (
        |  SELECT process, CAST(SUM(qty * 1000 - 10) AS BIGINT) AS s FROM item WHERE name = 'item_R'
        |  GROUP BY process)
        |SELECT p.process, CAST(COALESCE(i.s, 0) AS BIGINT) AS idle_time
        |FROM (SELECT DISTINCT process FROM ord) p
        |LEFT JOIN idle i ON p.process = i.process ORDER BY p.process""".stripMargin),

    // --- A8: time profile ---
    Case("trace_time_profile", (s, dir) =>
      TimeProfile.timeProfile(callEnriched(s, dir), 50)
        .select(col("bin"), col(Name), round(col("time"), 2).as("time"))
        .orderBy(col("bin"), col(Name)),
      callCte + timeProfileSql),

    // --- A9: multirun analysis (two sub-traces by orderkey parity).
    // Runs split on whole orders, which own disjoint top-level time slots,
    // so per-run enrichment ≡ filtering the cached full enrichment (the
    // general operator Profiles.multirunAnalysis enriches per trace). ---
    Case("trace_multirun", (s, dir) => {
      val t = callEnriched(s, dir)
      val runs = Seq(0, 1).map(p =>
        t.filter(((col(EventId) / lit(1000000L)).cast("long") % 2).cast("int") === p))
      runs.zipWithIndex.map { case (r, i) =>
        Profiles.flatProfile(r, Seq(TimeExc)).withColumn("run", lit(i))
      }.reduce(_ unionByName _)
        .select(col("run"), col(Name), round(col(TimeExc), 4).as("mean_exc"))
        .orderBy(col("run"), col(Name))
    },
      callCte +
      """, ev AS (
        |  SELECT ok, process, name,
        |         999000 - COALESCE((SELECT CAST(SUM(qty * 1000 - 10) AS BIGINT) FROM item i WHERE i.ok = o.ok), 0) AS exc
        |  FROM ord o
        |  UNION ALL SELECT ok, process, name, qty * 500 + 90 FROM item
        |  UNION ALL SELECT ok, process, ship_name, qty * 500 - 100 FROM item),
        |pp AS (
        |  SELECT CAST(ok % 2 AS INT) AS run, name, process, SUM(exc) AS s
        |  FROM ev GROUP BY 1, 2, 3)
        |SELECT run, name, ROUND(AVG(CAST(s AS DOUBLE)), 4) AS mean_exc
        |FROM pp GROUP BY run, name ORDER BY run, name""".stripMargin),

    // --- M5: calling context tree ---
    Case("trace_cct", (s, dir) => Cct.buildCct(callEnriched(s, dir))
      .select(col("path"), col("depth"), col("name")).orderBy(col("path")),
      callCte +
      """SELECT * FROM (
        |  SELECT DISTINCT name AS path, 0 AS depth, name FROM ord
        |  UNION
        |  SELECT DISTINCT 'order_' || prio || '->' || name, 1, name FROM item
        |  UNION
        |  SELECT DISTINCT 'order_' || prio || '->' || name || '->' || ship_name, 2, ship_name
        |  FROM item
        |) ORDER BY path""".stripMargin),

    // --- hot-path profile: exc time per full calling context ---
    Case("trace_cct_profile", (s, dir) => {
      val enriched = callEnriched(s, dir)
      enriched.filter(col(EventType) === Enter)
        .join(broadcast(Cct.buildCct(enriched)
          .select(col("path_hash"), col("path"))), Seq("path_hash"))
        .groupBy(col("path"))
        .agg(count(lit(1)).as("n_calls"),
          sum(col(TimeExc)).cast("long").as("time_exc"))
        .orderBy(col("path"))
    },
      // exc per path is relationally known: order exc = span − Σ item
      // spans; item exc = item span − ship span; ship exc = ship span
      callCte +
      """, osum AS (SELECT ok, SUM(qty * 1000 - 10) AS child FROM item GROUP BY ok),
        |paths AS (
        |  SELECT o.name AS path, 999000 - COALESCE(s.child, 0) AS exc
        |  FROM ord o LEFT JOIN osum s ON o.ok = s.ok
        |  UNION ALL
        |  SELECT 'order_' || i.prio || '->' || i.name,
        |         (i.qty * 1000 - 10) - (i.qty * 500 - 100) FROM item i
        |  UNION ALL
        |  SELECT 'order_' || i.prio || '->' || i.name || '->' || i.ship_name,
        |         i.qty * 500 - 100 FROM item i)
        |SELECT path, CAST(COUNT(*) AS BIGINT) AS n_calls,
        |       CAST(SUM(exc) AS BIGINT) AS time_exc
        |FROM paths GROUP BY 1 ORDER BY 1""".stripMargin),

    // --- flame-graph self/total per calling context (one per-callpath
    // aggregation, then a bottom-up fold of the CCT on the driver) ---
    Case("trace_cct_rollup", (s, dir) =>
      Cct.subtreeRollup(callEnriched(s, dir)).orderBy(col("path")),
      callCte +
      """, osum AS (SELECT ok, SUM(qty * 1000 - 10) AS child FROM item GROUP BY ok),
        |occ AS (
        |  SELECT o.name AS path, o.name AS name, 0 AS depth,
        |         999000 - COALESCE(s.child, 0) AS exc
        |  FROM ord o LEFT JOIN osum s ON o.ok = s.ok
        |  UNION ALL
        |  SELECT 'order_' || i.prio || '->' || i.name, i.name, 1,
        |         (i.qty * 1000 - 10) - (i.qty * 500 - 100) FROM item i
        |  UNION ALL
        |  SELECT 'order_' || i.prio || '->' || i.name || '->' || i.ship_name,
        |         i.ship_name, 2, i.qty * 500 - 100 FROM item i),
        |p AS (SELECT path, name, depth, CAST(COUNT(*) AS BIGINT) AS n_calls,
        |             CAST(SUM(exc) AS BIGINT) AS own_exc
        |      FROM occ GROUP BY 1, 2, 3),
        |s2 AS (SELECT path, name, depth, n_calls, own_exc,
        |              own_exc AS subtree_exc
        |       FROM p WHERE depth = 2),
        |c2 AS (SELECT substr(path, 1, length(path) - length(name) - 2) AS pp,
        |              SUM(subtree_exc) AS s FROM s2 GROUP BY 1),
        |s1 AS (SELECT p.path, p.name, p.depth, p.n_calls, p.own_exc,
        |              p.own_exc + COALESCE(c2.s, 0) AS subtree_exc
        |       FROM p LEFT JOIN c2 ON c2.pp = p.path WHERE p.depth = 1),
        |c1 AS (SELECT substr(path, 1, length(path) - length(name) - 2) AS pp,
        |              SUM(subtree_exc) AS s FROM s1 GROUP BY 1),
        |s0 AS (SELECT p.path, p.name, p.depth, p.n_calls, p.own_exc,
        |              p.own_exc + COALESCE(c1.s, 0) AS subtree_exc
        |       FROM p LEFT JOIN c1 ON c1.pp = p.path WHERE p.depth = 0)
        |SELECT path, name, CAST(depth AS INT) AS depth, n_calls, own_exc,
        |       CAST(subtree_exc AS BIGINT) AS subtree_exc
        |FROM (SELECT * FROM s0 UNION ALL SELECT * FROM s1
        |      UNION ALL SELECT * FROM s2)
        |ORDER BY path""".stripMargin),

    // --- CCT diff: per-calling-context exc regression between runs ---
    Case("trace_cct_diff", (s, dir) => {
      val enriched = callEnriched(s, dir)
      enriched.filter(col(EventType) === Enter)
        .join(broadcast(Cct.buildCct(enriched)
          .select(col("path_hash"), col("path"))), Seq("path_hash"))
        .withColumn("run",
          ((col(EventId) / lit(1000000L)).cast("long") % 2).cast("int"))
        .groupBy(col("path"))
        .agg(coalesce(sum(when(col("run") === 0, col(TimeExc))), lit(0.0))
            .cast("long").as("exc_run0"),
          coalesce(sum(when(col("run") === 1, col(TimeExc))), lit(0.0))
            .cast("long").as("exc_run1"))
        .select(col("path"), col("exc_run0"), col("exc_run1"),
          (col("exc_run1") - col("exc_run0")).as("delta_exc"))
        .orderBy(col("path"))
    },
      callCte +
      """, osum AS (SELECT ok, SUM(qty * 1000 - 10) AS child FROM item GROUP BY ok),
        |paths AS (
        |  SELECT o.ok, o.name AS path, 999000 - COALESCE(s.child, 0) AS exc
        |  FROM ord o LEFT JOIN osum s ON o.ok = s.ok
        |  UNION ALL
        |  SELECT i.ok, 'order_' || i.prio || '->' || i.name,
        |         (i.qty * 1000 - 10) - (i.qty * 500 - 100) FROM item i
        |  UNION ALL
        |  SELECT i.ok, 'order_' || i.prio || '->' || i.name || '->' || i.ship_name,
        |         i.qty * 500 - 100 FROM item i)
        |SELECT path,
        |       CAST(SUM(CASE WHEN ok % 2 = 0 THEN exc ELSE 0 END) AS BIGINT) AS exc_run0,
        |       CAST(SUM(CASE WHEN ok % 2 = 1 THEN exc ELSE 0 END) AS BIGINT) AS exc_run1,
        |       CAST(SUM(CASE WHEN ok % 2 = 1 THEN exc ELSE -exc END) AS BIGINT) AS delta_exc
        |FROM paths GROUP BY 1 ORDER BY 1""".stripMargin),

    // --- Pareto set of functions: which names cover 90% of total
    // exclusive time (the "optimize these first" list); per-name
    // profile is tiny, the one window runs over |names| rows ---
    Case("trace_pareto", (s, dir) => {
      val prof = callEnriched(s, dir).filter(col(EventType) === Enter)
        .groupBy(col(Name)).agg(sum(col(TimeExc)).as("exc"))
      val total = prof.agg(sum(col("exc")).as("__tot"))
      val w = Window.orderBy(col("exc").desc, col(Name))
      prof.join(broadcast(total))
        .withColumn("cum_exc", sum(col("exc")).over(w))
        .select(col(Name), col("exc").cast("long").as("exc"),
          col("cum_exc").cast("long").as("cum_exc"),
          ((col("cum_exc") - col("exc")) * 10 < col("__tot") * 9)
            .as("in_p90_set"))
        .orderBy(col(Name))
    },
      callCte + excByNameProcSql +
      """, prof AS (SELECT name, CAST(SUM(sum_exc) AS BIGINT) AS exc
        |           FROM pp GROUP BY 1),
        |t AS (SELECT CAST(SUM(exc) AS BIGINT) AS tot FROM prof),
        |c AS (SELECT name, exc,
        |             CAST(SUM(exc) OVER (ORDER BY exc DESC, name) AS BIGINT)
        |               AS cum_exc
        |      FROM prof)
        |SELECT c.name, c.exc, c.cum_exc,
        |       (c.cum_exc - c.exc) * 10 < t.tot * 9 AS in_p90_set
        |FROM c CROSS JOIN t ORDER BY c.name""".stripMargin),

    // --- idle gaps: holes between consecutive top-level spans per
    // process (the un-instrumented complement of idle_time) ---
    Case("trace_gaps", (s, dir) =>
      Profiles.idleGaps(callEnriched(s, dir)).orderBy(col(Process)),
      callCte +
      """, g AS (
        |  SELECT process,
        |         LEAD(t0) OVER (PARTITION BY process ORDER BY t0) - t1 AS gap
        |  FROM ord)
        |SELECT process,
        |       CAST(COUNT(CASE WHEN gap > 0 THEN 1 END) AS BIGINT) AS n_gaps,
        |       CAST(COALESCE(SUM(CASE WHEN gap > 0 THEN gap END), 0) AS BIGINT)
        |         AS idle_gap_total,
        |       CAST(COALESCE(MAX(CASE WHEN gap > 0 THEN gap END), 0) AS BIGINT)
        |         AS max_gap
        |FROM g GROUP BY 1 ORDER BY 1""".stripMargin),

    // --- two-class overlap: time item and ship spans were open at once
    // per process (the compute/copy pipelining-efficiency sweep) ---
    Case("trace_overlap", (s, dir) =>
      graft.analysis.Concurrency.classOverlap(
          TraceGen.callIntervals(s, dir), "item", "ship")
        .orderBy(col("process")),
      // ship spans sit strictly inside their item span, so the overlap
      // truth is the ship spans themselves (one segment each)
      callCte +
      """SELECT process,
        |       CAST(SUM(s1 - s0) AS BIGINT) AS overlap_total,
        |       CAST(COUNT(*) AS BIGINT) AS n_segments
        |FROM item GROUP BY 1 ORDER BY 1""".stripMargin),

    // --- cross-run clock alignment: run B is the call trace under a
    // per-process clock skew (+ (process+1)·1000 ns); aligning it onto
    // run A by first-Enter offsets must recover A's timeline EXACTLY ---
    Case("trace_align", (s, dir) => {
      val a = TraceGen.callTrace(s, dir)
      val skewed = a.withColumn(TimestampNs,
        col(TimestampNs) + (col(Process) + 1).cast("long") * 1000L)
      graft.analysis.TraceAlign.align(a, skewed)
        .filter(col("aligned"))
        .select(col(TimestampNs), col(EventType), col(Name), col(Process))
        .orderBy(col(TimestampNs), col(EventType), col(Name), col(Process))
    },
      // exact-recovery truth: aligning the skewed twin back must land on
      // the original relational event set, timestamp for timestamp
      callCte +
      """SELECT * FROM (
        |  SELECT t0 AS timestamp_ns, 'Enter' AS event_type, name, process FROM ord
        |  UNION ALL SELECT t1, 'Leave', name, process FROM ord
        |  UNION ALL SELECT t0, 'Enter', name, process FROM item
        |  UNION ALL SELECT t1, 'Leave', name, process FROM item
        |  UNION ALL SELECT s0, 'Enter', ship_name, process FROM item
        |  UNION ALL SELECT s1, 'Leave', ship_name, process FROM item
        |) ORDER BY timestamp_ns, event_type, name, process""".stripMargin),

    traceSampleCalls,

    // --- OTF2 archive round trip: canonical trace → Otf2Writer binary
    // archive on disk → Otf2Reader re-ingest → canonical again (the
    // interchange loop with Score-P tooling, proven lossless against
    // the relational truth; archive written once per (session, sf)) ---
    Case("trace_otf2_roundtrip", (s, dir) =>
      graft.ingest.Otf2Reader.read(s, otf2ExportPath(s, dir))
        .select(col(TimestampNs), col(EventType), col(Name), col(Process))
        .orderBy(col(TimestampNs), col(EventType), col(Name), col(Process)),
      // same relational truth as the Chrome round trip: a lossless
      // write→read loop must reproduce exactly the canonical event set
      callCte +
      """SELECT * FROM (
        |  SELECT t0 AS timestamp_ns, 'Enter' AS event_type, name, process FROM ord
        |  UNION ALL SELECT t1, 'Leave', name, process FROM ord
        |  UNION ALL SELECT t0, 'Enter', name, process FROM item
        |  UNION ALL SELECT t1, 'Leave', name, process FROM item
        |  UNION ALL SELECT s0, 'Enter', ship_name, process FROM item
        |  UNION ALL SELECT s1, 'Leave', ship_name, process FROM item
        |) ORDER BY timestamp_ns, event_type, name, process""".stripMargin),

    // --- A10: motif discovery, verified against a planted ground truth ---
    // A flat 1000-leaf trace under one root: leaf i runs for v_i ns, where
    // v_i is an exact repeating 50-length pattern at i%200<50 (occurrences
    // at 0,200,400,600,800) and md5-derived noise elsewhere. The time_exc
    // series the kernel sees IS (v_i), so the motif set is relationally
    // known and the oracle enumerates it — a full end-to-end check of
    // matcher → exc metrics → matrix profile → motif extraction.
    Case("trace_pattern", (s, dir) => {
      val n = 1000
      val idx = s.range(n).toDF("i")
      val v = when(col("i") % 200 < 50,
          lit(100L) + (col("i") % 200) * 37 % 83 * 10)
        .otherwise(conv(substring(md5(concat(lit("p:"), col("i"))), 1, 15), 16, 10)
          .cast("long") % 900 + 1)
      val enters = idx.select((col("i") * 2 + 1).as(EventId),
        ((col("i") + 1) * 1000).as(TimestampNs),
        lit(Enter).as(EventType), lit("work").as(Name), lit(1).as(Process))
      val leaves = idx.select((col("i") * 2 + 2).as(EventId),
        ((col("i") + 1) * 1000 + v).as(TimestampNs),
        lit(Leave).as(EventType), lit("work").as(Name), lit(1).as(Process))
      val root = s.range(1).select(lit(0L).as(EventId), lit(0L).as(TimestampNs),
          lit(Enter).as(EventType), lit("root").as(Name), lit(1).as(Process))
        .union(s.range(1).select(lit(2L * n + 1), lit(1000L * (n + 2)),
          lit(Leave), lit("root"), lit(1)))
      val trace = root.union(enters).union(leaves)
      val patterns = graft.analysis.PatternDetect.detectPattern(
        trace, "root", iterations = Some(5), windowSize = Some(50),
        process = 1, metric = TimeExc)
      patterns.zipWithIndex.map { case (p, i) =>
        p.filter(col(EventType) === Enter)
          .select(lit(i).cast("int").as("occurrence"), col(EventId))
      }.reduce(_ unionByName _).orderBy(col("occurrence"), col(EventId))
    },
      // planted motif: occurrences o=0..4 start at series position 200·o and
      // cover 50 leaves; leaf i's Enter has event_id 2i+1 by construction
      """SELECT CAST(o.generate_series AS INT) AS occurrence,
        |       CAST(2 * (200 * o.generate_series + j.generate_series) + 1 AS BIGINT) AS event_id
        |FROM generate_series(0, 4) o, generate_series(0, 49) j
        |ORDER BY occurrence, event_id""".stripMargin),

    // --- plan-native motif occurrence scan (MotifScan): distance profile
    // of a known 16-point motif over 4 processes' integer series — ONE
    // exchange (windowed collect_list), codegen'd VecDot kernel, exact
    // integer dist² so the three planted occurrences score exactly 0 ---
    Case("trace_pattern_scan", (s, dir) => {
      val n = 512; val m = 16
      val motif = Array.tabulate(m)(j => (((j * 37) % 83) * 10 + 100).toDouble)
      def qv(off: Column): Column = ((off * 37) % 83) * 10 + 100
      val pts = s.range(4).toDF("p").crossJoin(s.range(n.toLong).toDF("i"))
      val planted = when(col("p") === 1 && col("i").between(100, 100 + m - 1), qv(col("i") - 100))
        .when(col("p") === 1 && col("i").between(300, 300 + m - 1), qv(col("i") - 300))
        .when(col("p") === 3 && col("i").between(50, 50 + m - 1), qv(col("i") - 50))
        .otherwise(TextOps.md5Hash60(concat_ws(":", col("p"), col("i")), lit("m")) % 900 + 1)
      val series = pts.select(col("p").as("process"), col("i").as("idx"),
        planted.cast("double").as("value"))
      graft.analysis.MotifScan.topOccurrences(series, motif, 25)
        .select(col("process"), col("start"), col("dist2").cast("long").as("dist2"))
    },
      // independent implementation: the engine assembles windows with an
      // ordered collect_list frame + VecDot; DuckDB recomputes each window
      // as a theta-join on the offset and aggregates the squared deltas.
      // All values are integers, so dist2 is engine-exact.
      """WITH pts AS (
        |  SELECT p.generate_series AS p, i.generate_series AS i,
        |    CASE WHEN p.generate_series = 1 AND i.generate_series BETWEEN 100 AND 115
        |           THEN ((i.generate_series - 100) * 37) % 83 * 10 + 100
        |         WHEN p.generate_series = 1 AND i.generate_series BETWEEN 300 AND 315
        |           THEN ((i.generate_series - 300) * 37) % 83 * 10 + 100
        |         WHEN p.generate_series = 3 AND i.generate_series BETWEEN 50 AND 65
        |           THEN ((i.generate_series - 50) * 37) % 83 * 10 + 100
        |         ELSE CAST(concat('0x', substr(md5('m:' || p.generate_series || ':' || i.generate_series), 1, 15)) AS BIGINT) % 900 + 1
        |    END AS v
        |  FROM generate_series(0, 3) p, generate_series(0, 511) i),
        |q AS (SELECT j.generate_series AS j,
        |             (j.generate_series * 37) % 83 * 10 + 100 AS qv
        |      FROM generate_series(0, 15) j),
        |prof AS (
        |  SELECT pts.p AS process, pts.i - q.j AS start,
        |         SUM((pts.v - q.qv) * (pts.v - q.qv)) AS dist2
        |  FROM pts JOIN q ON pts.i - q.j BETWEEN 0 AND 496
        |  GROUP BY 1, 2 HAVING COUNT(*) = 16)
        |SELECT process, start, CAST(dist2 AS BIGINT) AS dist2
        |FROM prof ORDER BY dist2, process, start LIMIT 25""".stripMargin),

    // --- full critical path: the stall chain interleaved with the
    // compute segments between message dependencies ---
    Case("trace_critical_path", (s, dir) =>
      graft.analysis.CriticalPath.criticalPath(TraceGen.commTrace(s, dir))
        .orderBy(col("seq")),
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
        |procmin AS (
        |  SELECT process, MIN(timestamp_ns) AS proc_t0 FROM comm GROUP BY process),
        |pred AS (
        |  SELECT m.mid,
        |         (SELECT p.mid FROM late p
        |          WHERE p.dst = m.src AND p.send_ts < m.send_ts
        |          ORDER BY p.send_ts DESC, p.mid DESC LIMIT 1) AS pred_mid
        |  FROM late m),
        |root AS (SELECT mid FROM late ORDER BY send_ts DESC, mid DESC LIMIT 1),
        |chain AS (
        |  SELECT 0 AS hop, mid FROM root
        |  UNION ALL
        |  SELECT c.hop + 1, p.pred_mid FROM chain c JOIN pred p ON p.mid = c.mid
        |  WHERE p.pred_mid IS NOT NULL),
        |seg AS (
        |  SELECT c.hop * 2 AS seq, 'wait' AS kind, l.dst AS process,
        |         l.recv_ts AS t0_ns, l.send_ts AS t1_ns
        |  FROM chain c JOIN late l ON l.mid = c.mid
        |  UNION ALL
        |  SELECT c.hop * 2 + 1, 'compute', l.src,
        |         COALESCE(pl.send_ts, pm.proc_t0), l.send_ts
        |  FROM chain c JOIN late l ON l.mid = c.mid
        |  LEFT JOIN pred p ON p.mid = c.mid
        |  LEFT JOIN late pl ON pl.mid = p.pred_mid
        |  JOIN procmin pm ON pm.process = l.src)
        |SELECT CAST(seq AS BIGINT) AS seq, kind, process,
        |       t0_ns, t1_ns, CAST(t1_ns - t0_ns AS BIGINT) AS dur_ns
        |FROM seg ORDER BY seq""".stripMargin),
    // --- bottom-up (caller-attribution) profile: exclusive time of each
    // function split by WHO CALLED IT — the view that tells you which
    // call site to fix; one self-join on parent_event_id over Enter rows
    // of the shared enriched cache ---
    Case("trace_callers", (s, dir) =>
      Profiles.callersProfile(callEnriched(s, dir))
        .orderBy(col(Name), col("caller")),
      callCte +
      """, osum AS (SELECT ok, CAST(SUM(qty * 1000 - 10) AS BIGINT) AS child
        |           FROM item GROUP BY ok),
        |calls AS (
        |  SELECT o.name AS name, '<root>' AS caller,
        |         CAST(999000 - COALESCE(s.child, 0) AS BIGINT) AS exc
        |  FROM ord o LEFT JOIN osum s ON o.ok = s.ok
        |  UNION ALL
        |  SELECT i.name, 'order_' || i.prio, CAST(qty * 500 + 90 AS BIGINT)
        |  FROM item i
        |  UNION ALL
        |  SELECT i.ship_name, i.name, CAST(qty * 500 - 100 AS BIGINT)
        |  FROM item i)
        |SELECT name, caller, CAST(COUNT(*) AS BIGINT) AS n_calls,
        |       CAST(SUM(exc) AS BIGINT) AS exc_sum
        |FROM calls GROUP BY 1, 2 ORDER BY name, caller""".stripMargin),

    // --- per-function DURATION-DISTRIBUTION drift between two runs
    // (same split convention as trace_multirun) — catches regressions
    // that leave the mean alone (bimodality, tail growth), integer TV
    // numerator over pooled bins ---
    Case("trace_dur_drift", (s, dir) => {
      val durs = callEnriched(s, dir).filter(col(EventType) === Enter)
        .select(col(Name), col(TimeInc).cast("long").as("dur"),
          ((col(EventId) / lit(1000000L)).cast("long") % 2).cast("int")
            .as("run"))
      graft.analysis.Drift.tvDrift(durs, Name, "dur", "run")
        .orderBy(col(Name))
    },
      callCte +
      """, durs AS (
        |  SELECT name, CAST(999000 AS BIGINT) AS dur, ok % 2 AS run FROM ord
        |  UNION ALL SELECT name, CAST(qty * 1000 - 10 AS BIGINT), ok % 2
        |  FROM item
        |  UNION ALL SELECT ship_name, CAST(qty * 500 - 100 AS BIGINT), ok % 2
        |  FROM item),
        |b AS (SELECT name, MIN(dur) AS lo, MAX(dur) - MIN(dur) + 1 AS w
        |      FROM durs GROUP BY 1),
        |bn AS (SELECT d.name, ((d.dur - b.lo) * 16) // b.w AS bin, d.run
        |       FROM durs d JOIN b ON d.name = b.name),
        |c AS (SELECT name, bin,
        |             CAST(SUM(CASE WHEN run = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
        |             CAST(SUM(CASE WHEN run = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c2
        |      FROM bn GROUP BY 1, 2),
        |t AS (SELECT name, CAST(SUM(c1) AS BIGINT) AS n1,
        |             CAST(SUM(c2) AS BIGINT) AS n2 FROM c GROUP BY 1)
        |SELECT c.name, t.n1, t.n2,
        |       CAST(SUM(ABS(c.c1 * t.n2 - c.c2 * t.n1)) AS BIGINT) AS tv_num
        |FROM c JOIN t ON c.name = t.name
        |GROUP BY 1, 2, 3 ORDER BY 1""".stripMargin)
  )

  /** Shared oracle CTE: per-(name,process) exclusive-time sums of the call
    * trace. */
  private def excByNameProcSql: String =
    """, osum AS (SELECT ok, CAST(SUM(qty * 1000 - 10) AS BIGINT) AS child FROM item GROUP BY ok),
      |ev AS (
      |  SELECT o.process, o.name, 999000 - COALESCE(s.child, 0) AS exc
      |  FROM ord o LEFT JOIN osum s ON o.ok = s.ok
      |  UNION ALL SELECT process, name, qty * 500 + 90 FROM item
      |  UNION ALL SELECT process, ship_name, qty * 500 - 100 FROM item),
      |pp AS (
      |  SELECT name, process, CAST(SUM(exc) AS BIGINT) AS sum_exc
      |  FROM ev GROUP BY 1, 2)
      |""".stripMargin

  /** Oracle for A8 on the call trace: 50 equal bins over the full extent,
    * interval-overlap inclusive time, direct-child subtraction per bin,
    * idle remainder, <0.01 threshold — mirroring pipit/trace.py:633-764. */
  private def timeProfileSql: String =
    """, ev AS (
      |  SELECT t0 AS id, CAST(NULL AS BIGINT) AS parent, name,
      |         CAST(t0 AS DOUBLE) AS d0, CAST(t1 AS DOUBLE) AS d1 FROM ord
      |  UNION ALL SELECT t0, ok * 1000000, name, CAST(t0 AS DOUBLE), CAST(t1 AS DOUBLE) FROM item
      |  UNION ALL SELECT s0, t0, ship_name, CAST(s0 AS DOUBLE), CAST(s1 AS DOUBLE) FROM item),
      |ext AS (
      |  SELECT CAST(MIN(t0) AS DOUBLE) AS lo, CAST(MAX(t1) AS DOUBLE) AS hi,
      |         CAST(COUNT(DISTINCT process) AS DOUBLE) AS nproc FROM ord),
      |binned AS (
      |  SELECT e.id, e.parent, e.name, g.i AS bin,
      |         LEAST(e.d1, lo + (g.i + 1) * (hi - lo) / 50)
      |           - GREATEST(e.d0, lo + g.i * (hi - lo) / 50) AS inc
      |  FROM ev e, ext, generate_series(0, 49) g(i)
      |  WHERE e.d1 > lo + g.i * (hi - lo) / 50
      |    AND e.d0 < lo + (g.i + 1) * (hi - lo) / 50),
      |csum AS (
      |  SELECT parent, bin, SUM(inc) AS s FROM binned
      |  WHERE parent IS NOT NULL GROUP BY 1, 2),
      |exc AS (
      |  SELECT b.bin, b.name, b.inc - COALESCE(c.s, 0) AS e
      |  FROM binned b LEFT JOIN csum c ON b.id = c.parent AND b.bin = c.bin),
      |perbin AS (SELECT bin, name, SUM(e) AS t FROM exc GROUP BY 1, 2),
      |busy AS (SELECT bin, SUM(t) AS bt FROM perbin GROUP BY 1),
      |idle AS (
      |  SELECT g.i AS bin, 'idle_time' AS name,
      |         (hi - lo) / 50 * nproc - COALESCE(b.bt, 0) AS t
      |  FROM generate_series(0, 49) g(i) CROSS JOIN ext
      |  LEFT JOIN busy b ON g.i = b.bin)
      |SELECT bin, name, ROUND(CASE WHEN t < 0.01 THEN 0 ELSE t END, 2) AS time
      |FROM (SELECT * FROM perbin UNION ALL SELECT * FROM idle)
      |ORDER BY bin, name""".stripMargin
}
