package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.model.Schemas._
import graft.streaming.BatchReplay.keyed

/** Structured Streaming counterparts of the batch analyses (SURVEY §1.4
  * noted streaming as the natural extension; pipit itself is batch-only —
  * these are graft's additions for live-trace pipelines).
  *
  * Input contract: a streaming DataFrame in canonical events shape with an
  * additional `event_time: timestamp` column (trace ns mapped onto a
  * wall-clock epoch, or real ingest time). All operators are watermarked,
  * incremental, and shuffle on the same keys as their batch twins — the
  * plan shape survives a 1000-executor deployment unchanged.
  *
  * The keyed stateful twins all run through [[BatchReplay.keyed]]:
  * `flatMapGroupsWithState` on a stream, one closed micro-batch of the
  * same group function on a batch input.
  */
object StreamingOps {

  /** Streaming comm_over_time: per-tumbling-window send volume (size and
    * count), grouped like the batch A3 but windowed on event time. */
  def commOverTime(events: DataFrame, window: String = "10 seconds",
                   watermark: String = "30 seconds"): DataFrame =
    events
      .filter(col(Name).isin(graft.analysis.CommOps.SendNames: _*))
      .withWatermark("event_time", watermark)
      .groupBy(org.apache.spark.sql.functions.window(col("event_time"), window))
      .agg(sum(col(AttrMsgLength)).as("volume"), count(lit(1)).as("n_messages"))
      .select(col("window.start").as("window_start"), col("volume"), col("n_messages"))

  /** Streaming comm matrix deltas: (window, sender, receiver, volume). */
  def commMatrix(events: DataFrame, window: String = "10 seconds",
                 watermark: String = "30 seconds"): DataFrame =
    events
      .filter(col(Name).isin(graft.analysis.CommOps.SendNames: _*))
      .withWatermark("event_time", watermark)
      .groupBy(org.apache.spark.sql.functions.window(col("event_time"), window),
        col(Process).as("sender"), col(AttrReceiver).as("receiver"))
      .agg(sum(col(AttrMsgLength)).as("volume"))
      .select(col("window.start").as("window_start"), col("sender"),
        col("receiver"), col("volume"))

  /** Streaming exact dedup for live corpus ingestion (the streaming twin
    * of [[graft.scale.Dedup.exact]]): drop any document whose content
    * hash was already admitted within the watermark horizon. State is one
    * entry per distinct content hash, expired by the engine once the
    * watermark passes its event time + delay — so memory is bounded by
    * the dedup horizon, the standard design for dedup-at-ingest (exact
    * global dedup over all history stays a batch job). */
  def exactDedup(docs: DataFrame, textCol: String = "text",
                 watermark: String = "1 hour",
                 timeCol: String = "event_time"): DataFrame =
    docs.withColumn("content_hash", md5(col(textCol)))
      .withWatermark(timeCol, watermark)
      .dropDuplicatesWithinWatermark("content_hash")

  /** Streaming bitext mining against a FROZEN pivot-language index — the
    * firehose twin of [[graft.scale.Bitext.marginPairs]]: each arriving
    * src-language document is scored against every index entry with the
    * batch kernel's exact integer arithmetic (micro-quantized dot +
    * norms, one IEEE expression for the cosine), its OWN top-k
    * neighborhood sum is computed within the row, and the margin uses
    * the index's frozen per-dst neighborhood statistics
    * ([[graft.scale.Bitext.buildIndex]]). Completely STATELESS — a
    * per-row map over an executor-broadcast index, so it runs in append
    * mode with no state store, no watermark, no shuffle: the shape for
    * mining a crawl stream against a fixed pivot batch. Work is
    * O(|index|·dim) per document — the same per-doc cost as the batch
    * broadcast path. Replaying the index's own reference src corpus
    * reproduces batch `marginPairs` EXACTLY (parity spec): per-pair `s`
    * and the src-side top-k sum are computed identically, and the dst
    * sums are by construction the reference run's. */
  def bitextMine(src: DataFrame, index: Seq[graft.scale.Bitext.IndexEntry],
                 k: Int = 4, thresholdMicro: Long = 1050000L,
                 idCol: String = "doc_id",
                 vecCol: String = "embedding"): DataFrame = {
    val spark = src.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(index.toArray)
    src.select(col(idCol).cast("long"), col(vecCol).cast("array<double>"))
      .as[(Long, Seq[Double])]
      .mapPartitions { it =>
        val idx = bc.value
        it.flatMap { case (sid, vec) =>
          if (idx.isEmpty) Iterator.empty
          else {
            val q = new Array[Long](vec.length)
            var na2 = 0L
            var i = 0
            while (i < vec.length) {
              q(i) = math.floor(vec(i) * 1000000d).toLong
              na2 += q(i) * q(i); i += 1
            }
            // per-entry quantized cosine — bit-identical to VecDotMicro +
            // the batch scorer's IEEE expression
            val ss = new Array[Long](idx.length)
            var j = 0
            while (j < idx.length) {
              val e = idx(j)
              var dot = 0L
              val n = math.min(q.length, e.qvec.length)
              i = 0
              while (i < n) { dot += q(i) * e.qvec(i); i += 1 }
              ss(j) =
                if (na2 == 0L || e.nb2 == 0L) 0L
                else math.floor(dot.toDouble * 1000000d /
                  math.sqrt(na2.toDouble * e.nb2.toDouble)).toLong
              j += 1
            }
            val cntSrc = math.min(k, idx.length).toLong
            val sumSrc = ss.sorted(Ordering[Long].reverse).take(k).sum
            // best margin, ties to the smallest dst id (batch tie-break;
            // the index is dstId-sorted, so first-wins == smallest-id)
            var bestJ = 0; var bestM = Long.MinValue
            j = 0
            while (j < idx.length) {
              val e = idx(j)
              val m = graft.scale.Bitext.signedMarginMicro(
                ss(j) * (cntSrc + e.cntDst) * 1000000L,
                sumSrc + e.sumDst)
              if (m > bestM) { bestM = m; bestJ = j }
              j += 1
            }
            if (bestM > thresholdMicro)
              Iterator.single((sid, idx(bestJ).dstId, ss(bestJ), bestM))
            else Iterator.empty
          }
        }
      }.toDF("src_id", "dst_id", "sim_micro", "margin_micro")
  }

  /** Streaming IMAGE dedup — [[exactDedup]]'s multimodal twin: each
    * arriving binary payload is reduced to its 64-bit perceptual
    * average hash ([[graft.scale.Multimodal.averageHashHalves]] — exact
    * copies AND nearest-neighbor rescales collide) and duplicates are
    * dropped within the watermark horizon. The decode+hash is a
    * stateless per-row map; only the two 32-bit halves enter the dedup
    * state store, never the payload bytes — the property that keeps the
    * state bounded when the stream carries megabyte images. */
  def imageDedup(docs: DataFrame, payloadCol: String = "payload",
                 watermark: String = "1 hour",
                 timeCol: String = "event_time"): DataFrame = {
    val hashUdf = udf((p: Array[Byte]) => {
      val (hi, lo) = graft.scale.Multimodal.averageHashHalves(p)
      (hi, lo)
    })
    docs.withColumn("__ah", hashUdf(col(payloadCol)))
      .withColumn("ahash_hi", col("__ah._1"))
      .withColumn("ahash_lo", col("__ah._2"))
      .drop("__ah")
      .withWatermark(timeCol, watermark)
      .dropDuplicatesWithinWatermark("ahash_hi", "ahash_lo")
  }

  /** Streaming NEAR-duplicate image detection — [[imageDedup]] catches
    * only exact 64-bit hash collisions; this emits verified pairs within
    * Hamming `radius` of an already-seen image via the banded state store
    * of [[StreamingLsh.hammingCandidates]] (the incremental twin of
    * [[graft.scale.Dedup.hammingBandPairs]] — re-encodes, crops, and
    * dithered copies that flip a few hash bits). The payload is reduced
    * to its two 32-bit hash halves in a stateless map before the
    * stateful stage, so state stays 24 bytes/image regardless of image
    * size. Pairs may repeat across bands; downstream dedup/component
    * stages are insensitive, as in the batch pipeline. */
  def imageNearDupCandidates(docs: DataFrame, radius: Int, bands: Int = 8,
                             maxBucketSize: Int = 64,
                             payloadCol: String = "payload",
                             idCol: String = "doc_id",
                             idleTimeout: Option[String] = None): DataFrame = {
    val hashUdf = udf((p: Array[Byte]) => {
      val (hi, lo) = graft.scale.Multimodal.averageHashHalves(p)
      (hi, lo)
    })
    StreamingLsh.hammingCandidates(
      docs.withColumn("__ah", hashUdf(col(payloadCol)))
        .select(col(idCol), col("__ah._1").as("ahash_hi"),
          col("__ah._2").as("ahash_lo")),
      radius, bands, maxBucketSize, idCol, "ahash_hi", "ahash_lo",
      idleTimeout)
  }

  /** Streaming exact-substring REMOVAL against a FROZEN shingle index
    * ([[graft.scale.Dedup.shingleIndex]]) — the stream twin of
    * [[graft.scale.Dedup.dupSpansRemovedIncremental]] with
    * `withinBatch = false`: each document is cleaned against HISTORY
    * only (duplication arising within the live stream defers to the
    * next index refresh — tracking it online would need corpus-sized
    * stream state). Per-document the clean is stateless: positional
    * shingles ride a stream-static left join against the index, ONE
    * windowed aggregation per (window, doc) collects the duplicated
    * start positions, and region merge + token removal + md5 run in a
    * pure array projection AFTER the agg (per-doc arrays, no second
    * stateful operator) — valid append-mode plan. Output matches the
    * batch twin: (window, id, n_tokens, n_kept, n_removed,
    * clean_hash).
    *
    * Duplicate-safe: the aggregation keys on (window, id, md5(text)),
    * so at-least-once replays of the same document collapse into one
    * row (the merged position list is idempotent under duplicates —
    * a repeated start extends its region to the same end), while a
    * re-crawled SAME-id DIFFERENT-text copy in the same window cleans
    * independently as its own row instead of corrupting a merged
    * position list. */
  def cleanAgainstIndex(docs: DataFrame, index: DataFrame,
                        shingleK: Int = 3,
                        windowDur: String = "10 seconds",
                        watermark: String = "30 seconds",
                        textCol: String = "text", idCol: String = "doc_id",
                        timeCol: String = "event_time"): DataFrame = {
    val idx = index.select(col("shingle"), lit(1).as("__hit"))
    val base = docs.withWatermark(timeCol, watermark)
      .select(col(idCol), col(timeCol), col(textCol).as("__text"),
        md5(col(textCol)).as("__th"),
        graft.scale.TextOps.tokens(col(textCol)).as("__toks"))
    val sh = base.select(col(idCol), col(timeCol), col("__text"),
        col("__th"),
        posexplode(transform(
          sequence(lit(1), greatest(size(col("__toks")) - (shingleK - 1), lit(1))),
          i => concat_ws(" ", slice(col("__toks"), i, lit(shingleK)))))
          .as(Seq("__p0", "shingle")))
      .select(col(idCol), col(timeCol), col("__text"), col("__th"),
        (col("__p0") + 1).cast("long").as("pos"), col("shingle"))
    val g = sh.join(idx, Seq("shingle"), "left")
      .groupBy(window(col(timeCol), windowDur), col(idCol), col("__th"))
      .agg(first(col("__text")).as("__text"),
        sort_array(collect_list(when(col("__hit") === 1, col("pos"))))
          .as("__dups"))
    // merge sorted duplicated starts into maximal regions: extend the
    // open region while the next start is within shingleK of the
    // previous one (same rule as the batch gaps-and-islands scan)
    val regions = expr(
      s"""aggregate(__dups,
         |  CAST(array() AS array<struct<st: bigint, en: bigint>>),
         |  (acc, p) -> CASE
         |    WHEN size(acc) > 0 AND p <= element_at(acc, -1).en + 1
         |    THEN concat(slice(acc, 1, size(acc) - 1),
         |         array(named_struct('st', element_at(acc, -1).st,
         |                            'en', p + ${shingleK - 1})))
         |    ELSE concat(acc,
         |         array(named_struct('st', p, 'en', p + ${shingleK - 1})))
         |  END)""".stripMargin)
    g.withColumn("__regs", regions)
      .withColumn("__toks", graft.scale.TextOps.tokens(col("__text")))
      .withColumn("__kept", expr(
        "filter(__toks, (t, i) -> NOT exists(__regs, " +
          "r -> i + 1 >= r.st AND i + 1 <= r.en))"))
      .select(col("window"), col(idCol),
        size(col("__toks")).cast("long").as("n_tokens"),
        size(col("__kept")).cast("long").as("n_kept"),
        (size(col("__toks")) - size(col("__kept"))).cast("long")
          .as("n_removed"),
        when(size(col("__kept")) > 0,
          md5(concat_ws(" ", col("__kept")))).as("clean_hash"))
  }

  /** Streaming MOSS matching against a FROZEN winnow index
    * ([[graft.scale.TextOps.winnowIndex]]) — the stream member of the
    * winnowing day-1/day-2/streaming triple: each arriving document is
    * matched against history only (within-stream pairs defer to the
    * next index refresh, like [[cleanAgainstIndex]]). The per-document
    * winnow fingerprints are a PURE ARRAY PROJECTION — packed
    * (hash40≪20 | pos) keys, sliding `array_min` over width-w slices,
    * shift-decode, distinct — bit-identical to the batch
    * `winnowFingerprint` (which uses a window function and is therefore
    * not streaming-legal); the projection form trades codegen for
    * streaming validity on per-doc-sized arrays. Fingerprints then ride
    * a stream-static join against the index and ONE windowed
    * aggregation counts shared fingerprints per (doc, index doc) —
    * append-mode, one stateful operator. Documents must stay under 2²⁰
    * shingles (the pos field of the packed key; chunk first). Apply any
    * df cap to the index BEFORE freezing it — a corpus-wide cap is not
    * computable stream-side. */
  def winnowAgainstIndex(docs: DataFrame, index: DataFrame,
                         minShared: Int = 2, k: Int = 3, w: Int = 4,
                         windowDur: String = "10 seconds",
                         watermark: String = "30 seconds",
                         textCol: String = "text", idCol: String = "doc_id",
                         timeCol: String = "event_time"): DataFrame = {
    // same per-row runtime guard as batch winnowFingerprint: pos must
    // fit the 20-bit field — a >2^20-shingle document would carry into
    // the hash bits and silently corrupt every fingerprint. Fail loudly.
    val fpExpr = expr(
      s"""array_distinct(transform(
         |  sequence(1, greatest(size(__toks) - ${k + w - 2}, 1)),
         |  p -> shiftright(array_min(transform(
         |    sequence(p, p + least(${w - 1},
         |              greatest(size(__toks) - ${k - 1}, 1) - p)),
         |    i -> CASE WHEN assert_true(i < 1048576,
         |           'winnowAgainstIndex: document exceeds 2^20 shingles — chunk it first') IS NULL
         |         THEN shiftleft(cast(conv(substring(
         |           md5(concat('0:', concat_ws(' ', slice(__toks, i, $k)))),
         |           1, 10), 16, 10) AS bigint), 20) + i END)), 20)))""".stripMargin)
    val fps = docs.withWatermark(timeCol, watermark)
      .select(col(idCol), col(timeCol),
        graft.scale.TextOps.tokens(col(textCol)).as("__toks"))
      .select(col(idCol), col(timeCol),
        explode(fpExpr).as("fingerprint"))
    fps.join(index.select(col(idCol).as("index_id"), col("fingerprint")),
        Seq("fingerprint"))
      .groupBy(window(col(timeCol), windowDur), col(idCol), col("index_id"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Curation at ingest: the streaming composition of the batch pipeline
    * — quality pre-filter (stateless, codegen'd columnar expression) then
    * exact dedup within the watermark horizon ([[exactDedup]]). The
    * filter runs BEFORE the stateful dedup so junk never enters the hash
    * state — the order that matters at firehose rates. */
  def curatedIngest(docs: DataFrame, minQuality: Double,
                    textCol: String = "text", watermark: String = "1 hour",
                    timeCol: String = "event_time"): DataFrame =
    exactDedup(
      docs.filter(graft.scale.TextOps.quality(col(textCol)) >= minQuality),
      textCol, watermark, timeCol)

  /** Streaming Naive Bayes classifier filter — the deploy shape of
    * [[graft.scale.TextOps.naiveBayesClassify]]: the FROZEN model rides
    * as one static wide table (tok, dm₀..dm₍C₋₁₎) in a stream-static
    * left join (no model state in the stream), and the per-document
    * score is ONE windowed aggregation; the argmax/margin over the C
    * per-class sums is a stateless projection over sorted structs — so
    * the whole query is a single stateful operator, valid in append
    * mode. Class stats (C rows) are plan literals by the same
    * driver-bounded contract as [[bitextMine]]'s index; unseen tokens
    * cost coalesce(0) and ride the T·lp0 term exactly as in batch.
    * Tie-break matches batch: equal scores go to the earliest entry in
    * `classStats` (pass it sorted by class). */
  def nbClassify(docs: DataFrame, tokDelta: DataFrame,
                 classStats: Seq[(String, Long, Long)],
                 windowDur: String = "10 seconds",
                 watermark: String = "30 seconds",
                 textCol: String = "text", idCol: String = "doc_id",
                 timeCol: String = "event_time"): DataFrame = {
    val nC = classStats.length
    require(nC >= 1, "classStats must be non-empty")
    val wideAggs = classStats.zipWithIndex.map { case ((c, _, _), i) =>
      sum(when(col("cls") === c, col("dm")).otherwise(0L)).as(s"dm$i")
    }
    val wide = tokDelta.groupBy(col("tok")).agg(wideAggs.head, wideAggs.tail: _*)
    val toks = docs.withWatermark(timeCol, watermark)
      .select(col(idCol), col(timeCol),
        explode(graft.scale.TextOps.tokens(col(textCol))).as("tok"))
    val sumAggs = count(lit(1)).as("t") +: classStats.indices.map(i =>
      sum(coalesce(col(s"dm$i"), lit(0L))).as(s"ms$i"))
    val g = toks.join(wide, Seq("tok"), "left")
      .groupBy(window(col(timeCol), windowDur), col(idCol))
      .agg(sumAggs.head, sumAggs.tail: _*)
    val scored = sort_array(array(classStats.zipWithIndex.map {
      case ((c, pm, lp0), i) =>
        struct((lit(pm) + col("t") * lit(lp0) + col(s"ms$i")).as("s"),
          lit(nC - i).as("pri"), lit(c).as("cls"))
    }: _*), asc = false)
    g.withColumn("_sc", scored)
      .select(col("window"), col(idCol), col("t").as("n_tokens"),
        col("_sc")(0).getField("cls").as("pred"),
        col("_sc")(0).getField("s").as("score_m"),
        (if (nC == 1) lit(0L)
         else col("_sc")(0).getField("s") - col("_sc")(1).getField("s"))
          .as("margin_m"))
  }

  /** Streaming flat profile — the incremental twin of
    * [[graft.analysis.Profiles.flatProfile]]: per-window, per-function
    * exclusive time and call counts over a completed-call stream
    * ([[StreamingMatcher.completedCalls]]' shape: name, leave_ts ns,
    * time_exc). In production the matcher's output lands in a
    * topic/sink and this aggregation runs downstream — the standard
    * decomposition for pipelines with more than one stateful stage. */
  def flatProfile(calls: DataFrame, window: String = "10 seconds",
                  watermark: String = "30 seconds"): DataFrame =
    calls
      .withColumn("event_time",
        timestamp_micros((col("leave_ts") / 1000).cast("long")))
      .withWatermark("event_time", watermark)
      .groupBy(org.apache.spark.sql.functions.window(col("event_time"), window),
        col("name"))
      .agg(sum(col("time_exc")).as("time_exc"), count(lit(1)).as("n_calls"))
      .select(col("window.start").as("window_start"), col("name"),
        col("time_exc"), col("n_calls"))

  /** Streaming backward as-of join — the incremental twin of
    * [[graft.analysis.AsOfJoin.asOfBackward]]: enrich each left event
    * with the latest right event at or before it, per key ("attach the
    * current quote to every trade as it streams"). State per key is ONE
    * right row (ts, id, value) — O(1), no watermark-sized buffers — kept
    * across micro-batches via `flatMapGroupsWithState`; within a batch
    * rows are sorted by (ts, side, id), so the batch operator's
    * inclusive/tie semantics hold exactly. Cross-batch disorder is
    * bounded like the streaming matcher: a left row arriving in a later
    * batch than a newer right row sees that newer right row (append mode
    * cannot retract) — the inherent as-of staleness of any streaming
    * enrichment, bounded by the micro-batch interval.
    *
    * Input contract: `left`/`right` streaming DataFrames with columns
    * (`keyCol`: long, `tsCol`: long, `idCol`: long, `valCol`: double).
    *
    * `idleTimeout` (duration string) drops the per-key right-row state
    * for keys idle that long — over an unbounded key domain (user ids,
    * instrument ids that churn) NoTimeout state grows without bound. A
    * left row arriving after its key was dropped gets no match until a
    * fresh right row arrives, exactly as if the stream had started then. */
  def asOfLatest(left: DataFrame, right: DataFrame,
                 keyCol: String = "user_id", tsCol: String = "t",
                 idCol: String = "event_id",
                 valCol: String = "value",
                 idleTimeout: Option[String] = None): DataFrame = {
    def tag(df: DataFrame, side: Int) = df.select(
      col(keyCol).cast("long").as("k"), col(tsCol).cast("long").as("t"),
      lit(side).as("side"), col(idCol).cast("long").as("id"),
      col(valCol).cast("double").as("v"))
    keyed[Long, AsOfIn, AsOfState, AsOfOut](tag(left, 1).union(tag(right, 0)),
      Seq("k"), _.k, idleTimeout)(asOfGroup(idleTimeout))
  }

  case class AsOfIn(k: Long, t: Long, side: Int, id: Long, v: Double)
  case class AsOfState(rTs: Long, rId: Long, rV: Double, hasRight: Boolean)
  case class AsOfOut(k: Long, id: Long, t: Long, r_id: Option[Long],
                     r_t: Option[Long], r_v: Option[Double])

  private[streaming] def asOfGroup(idleTimeout: Option[String] = None)(
      key: Long, rows: Iterator[AsOfIn],
      state: org.apache.spark.sql.streaming.GroupState[AsOfState]): Iterator[AsOfOut] = {
    if (state.hasTimedOut) { state.remove(); return Iterator.empty }
    var st = state.getOption.getOrElse(AsOfState(Long.MinValue, -1L, 0.0, hasRight = false))
    val out = scala.collection.mutable.ArrayBuffer[AsOfOut]()
    // (ts, side, id): right before left at equal ts (inclusive as-of),
    // right ties resolve to the highest id — the batch operator's rules
    for (r <- rows.toSeq.sortBy(x => (x.t, x.side, x.id))) {
      if (r.side == 0) {
        if (!st.hasRight || r.t > st.rTs || (r.t == st.rTs && r.id > st.rId))
          st = AsOfState(r.t, r.id, r.v, hasRight = true)
      } else {
        if (st.hasRight && st.rTs <= r.t)
          out += AsOfOut(key, r.id, r.t, Some(st.rId), Some(st.rTs), Some(st.rV))
        else out += AsOfOut(key, r.id, r.t, None, None, None)
      }
    }
    state.update(st)
    idleTimeout.foreach(state.setTimeoutDuration)
    out.iterator
  }

  /** Streaming concurrency segments — the incremental twin of
    * [[graft.analysis.Concurrency.concurrencyProfile]]: per key, the
    * open-span count as a stream of constant-level segments. Input is
    * the delta stream (+1 at span start, −1 at span end — an interval
    * source emits two rows); each arriving tick closes the previous
    * segment [last_ts, ts) at the stored level and folds the tick's net
    * delta into the state. Downstream, the duration-weighted histogram
    * is a plain windowed aggregation of these segments — the same
    * two-stage decomposition as [[transitions]]. State is (ts, level)
    * per key — O(1). Deltas at one timestamp are pre-summed within the
    * batch (intra-tick order cannot matter, matching the batch sweep);
    * a cross-batch late tick emits `in_order = false` instead of
    * rewriting closed segments. `idleTimeout` expires idle keys. */
  def concurrency(deltas: DataFrame, keyCol: String = "process",
                  tsCol: String = "t", deltaCol: String = "delta",
                  idleTimeout: Option[String] = None): DataFrame = {
    val in = deltas.select(col(keyCol).cast("long").as("k"),
      col(tsCol).cast("long").as("t"),
      col(deltaCol).cast("long").as("d"))
    keyed[Long, ConcIn, ConcState, ConcOut](in, Seq("k"), _.k, idleTimeout)(
      concGroup(idleTimeout))
  }

  case class ConcIn(k: Long, t: Long, d: Long)
  case class ConcState(t: Long, level: Long, started: Boolean)
  case class ConcOut(k: Long, level: Long, t0: Long, t1: Long,
                     in_order: Boolean)

  private[streaming] def concGroup(idleTimeout: Option[String] = None)(
      key: Long, rows: Iterator[ConcIn],
      state: org.apache.spark.sql.streaming.GroupState[ConcState]): Iterator[ConcOut] = {
    if (state.hasTimedOut) { state.remove(); return Iterator.empty }
    var st = state.getOption.getOrElse(ConcState(0L, 0L, started = false))
    val out = scala.collection.mutable.ArrayBuffer[ConcOut]()
    // net delta per tick, ticks in time order — the batch sweep's rule
    val ticks = rows.toSeq.groupBy(_.t).toSeq.sortBy(_._1)
      .map { case (t, rs) => (t, rs.map(_.d).sum) }
    for ((t, net) <- ticks) {
      if (!st.started) st = ConcState(t, net, started = true)
      else if (t >= st.t) {
        if (t > st.t) out += ConcOut(key, st.level, st.t, t, in_order = true)
        st = ConcState(t, st.level + net, started = true)
      } else {
        // late tick: the segment it belongs to is already closed —
        // surface it (consumers discount) and fold the delta forward so
        // the running level still converges to the batch answer
        out += ConcOut(key, st.level, t, t, in_order = false)
        st = ConcState(st.t, st.level + net, started = true)
      }
    }
    state.update(st)
    idleTimeout.foreach(state.setTimeoutDuration)
    out.iterator
  }

  /** Streaming Markov transitions — the incremental twin of
    * [[graft.analysis.Sessionize.transitions]]: per key, remember the
    * last (ts, id, state) seen and emit one (from_state, to_state) step
    * row per arriving event; downstream the transition MATRIX is a plain
    * windowed count aggregation of these rows, the standard two-stage
    * decomposition. State is one triple per key — O(1). Within a batch
    * rows process in (t, id) order, matching the batch window's
    * ordering; a cross-batch late event (t below the stored last) is
    * emitted with `in_order = false` instead of silently rewriting a
    * transition already emitted — streams cannot retract, so the flag
    * lets consumers discount disordered steps.
    *
    * Input contract: (`keyCol`: long, `tsCol`: long, `idCol`: long,
    * `stateCol`: string). `idleTimeout` expires idle keys' last-state
    * (unbounded key churn would otherwise grow the store forever). */
  def transitions(events: DataFrame, keyCol: String = "user_id",
                  tsCol: String = "t", idCol: String = "event_id",
                  stateCol: String = "event_type",
                  idleTimeout: Option[String] = None): DataFrame = {
    val in = events.select(col(keyCol).cast("long").as("k"),
      col(tsCol).cast("long").as("t"), col(idCol).cast("long").as("id"),
      col(stateCol).cast("string").as("s"))
    keyed[Long, TransIn, TransState, TransOut](in, Seq("k"), _.k, idleTimeout)(
      transGroup(idleTimeout))
  }

  /** Streaming twin of `Sessionize.guardedMatch` — CEP-lite "target
    * preceded by trigger within `windowUs`, no blocker between", with
    * O(1) state per key: only the last trigger and last blocker
    * timestamps. Each target row decides from state at arrival and
    * emits (key, target ts, matched); in-order streams reproduce the
    * batch verdicts exactly (spec'd), disorder degrades gracefully
    * (a late trigger can't retro-match an already-emitted target —
    * streams cannot retract). */
  def guardedMatch(events: DataFrame, target: String, trigger: String,
                   blocker: String, windowUs: Long,
                   keyCol: String = "user_id", tsCol: String = "t",
                   idCol: String = "event_id",
                   typeCol: String = "event_type",
                   idleTimeout: Option[String] = None): DataFrame = {
    val in = events.select(col(keyCol).cast("long").as("k"),
      col(tsCol).cast("long").as("t"), col(idCol).cast("long").as("id"),
      col(typeCol).cast("string").as("s"))
    keyed[Long, TransIn, GuardState, GuardOut](in, Seq("k"), _.k, idleTimeout)(
      guardGroup(target, trigger, blocker, windowUs, idleTimeout))
  }

  case class GuardState(lt: Long, lb: Long) // -1 = unseen
  case class GuardOut(k: Long, t: Long, matched: Boolean)

  private[streaming] def guardGroup(target: String, trigger: String,
      blocker: String, windowUs: Long, idleTimeout: Option[String] = None)(
      key: Long, rows: Iterator[TransIn],
      state: org.apache.spark.sql.streaming.GroupState[GuardState]): Iterator[GuardOut] = {
    if (state.hasTimedOut) { state.remove(); return Iterator.empty }
    var st = state.getOption.getOrElse(GuardState(-1L, -1L))
    val out = scala.collection.mutable.ArrayBuffer[GuardOut]()
    for (r <- rows.toSeq.sortBy(x => (x.t, x.id))) {
      if (r.s == target)
        out += GuardOut(key, r.t,
          st.lt >= 0 && r.t - st.lt <= windowUs &&
            (st.lb < 0 || st.lb <= st.lt))
      if (r.s == trigger && r.t > st.lt) st = st.copy(lt = r.t)
      if (r.s == blocker && r.t > st.lb) st = st.copy(lb = r.t)
    }
    state.update(st)
    idleTimeout.foreach(state.setTimeoutDuration)
    out.iterator
  }

  case class TransIn(k: Long, t: Long, id: Long, s: String)
  case class TransState(t: Long, id: Long, s: String)
  case class TransOut(k: Long, from_state: String, to_state: String,
                      t: Long, in_order: Boolean)

  private[streaming] def transGroup(idleTimeout: Option[String] = None)(
      key: Long, rows: Iterator[TransIn],
      state: org.apache.spark.sql.streaming.GroupState[TransState]): Iterator[TransOut] = {
    if (state.hasTimedOut) { state.remove(); return Iterator.empty }
    var st = state.getOption.orNull
    val out = scala.collection.mutable.ArrayBuffer[TransOut]()
    for (r <- rows.toSeq.sortBy(x => (x.t, x.id))) {
      if (st != null)
        out += TransOut(key, st.s, r.s, r.t,
          in_order = r.t > st.t || (r.t == st.t && r.id > st.id))
      // the latest-by-(t,id) event becomes the new "last", even if this
      // row was disordered — matching what a re-run batch would keep
      if (st == null || r.t > st.t || (r.t == st.t && r.id > st.id))
        st = TransState(r.t, r.id, r.s)
    }
    state.update(st)
    idleTimeout.foreach(state.setTimeoutDuration)
    out.iterator
  }

  /** Streaming strictly-sequential funnel — the incremental twin of
    * [[graft.analysis.Sessionize.funnel]]: per key, advance one step
    * whenever the NEXT expected step arrives strictly after the previous
    * completion, and emit a progress row (key, depth, step time) on each
    * advance. State per key is the completed-step time list — O(steps),
    * constant per key. Within a batch rows are processed in (t, id)
    * order, matching the batch semantics; a late cross-batch event for an
    * already-passed step cannot rewind the funnel (append mode), which is
    * the inherent streaming-funnel contract.
    *
    * Input contract: (`keyCol`: long, `tsCol`: long, `idCol`: long,
    * `stepCol`: string).
    *
    * `idleTimeout` (duration string) expires funnel progress for keys
    * idle that long (an abandoned funnel IS the common case — most users
    * never convert); a later event from such a key starts a fresh funnel.
    * Default None keeps progress forever. */
  def funnel(events: DataFrame, steps: Seq[String],
             keyCol: String = "user_id", tsCol: String = "t",
             idCol: String = "event_id",
             stepCol: String = "event_type",
             idleTimeout: Option[String] = None): DataFrame = {
    require(steps.nonEmpty, "funnel needs at least one step")
    val stepList = steps.toList
    val in = events.select(col(keyCol).cast("long").as("k"),
      col(tsCol).cast("long").as("t"), col(idCol).cast("long").as("id"),
      col(stepCol).as("step"))
    keyed[Long, FunnelIn, FunnelState, FunnelOut](in, Seq("k"), _.k,
      idleTimeout)(funnelGroup(stepList, idleTimeout))
  }

  case class FunnelIn(k: Long, t: Long, id: Long, step: String)
  case class FunnelState(times: List[Long])
  case class FunnelOut(k: Long, depth: Int, t: Long)

  private[streaming] def funnelGroup(steps: List[String],
      idleTimeout: Option[String] = None)(
      key: Long, rows: Iterator[FunnelIn],
      state: org.apache.spark.sql.streaming.GroupState[FunnelState]): Iterator[FunnelOut] = {
    if (state.hasTimedOut) { state.remove(); return Iterator.empty }
    var times = state.getOption.map(_.times).getOrElse(Nil)
    val out = scala.collection.mutable.ArrayBuffer[FunnelOut]()
    for (r <- rows.toSeq.sortBy(x => (x.t, x.id))
         if times.length < steps.length
         if r.step == steps(times.length)
         if times.isEmpty || r.t > times.last) {
      times = times :+ r.t
      out += FunnelOut(key, times.length, r.t)
    }
    state.update(FunnelState(times))
    idleTimeout.foreach(state.setTimeoutDuration)
    out.iterator
  }

  /** Streaming cohort tagging — stage 1 of the incremental twin of
    * [[graft.analysis.Sessionize.cohortRetention]]: per user, remember
    * the first active day (the cohort) and emit one
    * (user, cohort_day, day_offset) row per NEW active day. The
    * retention matrix is then a plain downstream aggregation
    * (`groupBy(cohort_day, day_offset).count`) — the two-stateful-stage
    * decomposition used by [[flatProfile]]. State per user is the
    * cohort day plus the active-day set PRUNED to the last
    * `horizonDays` (an unbounded stream has no date extent to bound it
    * naturally, unlike the batch operator's input): a day older than
    * the horizon that arrives late may re-emit its row — deduplicate
    * downstream or treat the horizon as the exactness window.
    *
    * Append-mode contract: a LATE event from before a user's recorded
    * cohort day emits a negative day_offset instead of silently
    * rewriting history — the signal that a batch backfill should
    * recompute that user. `idleTimeout` expires users idle beyond the
    * horizon, as in the other stateful ops. */
  def cohortEvents(events: DataFrame, keyCol: String = "user_id",
                   tsCol: String = "t_us",
                   dayMicros: Long = 86400000000L,
                   horizonDays: Int = 370,
                   idleTimeout: Option[String] = None): DataFrame = {
    val in = events.select(col(keyCol).cast("long").as("k"),
      expr(s"$tsCol div $dayMicros").as("day"))
    keyed[Long, CohortIn, CohortState, CohortOut](in, Seq("k"), _.k,
      idleTimeout)(cohortGroup(horizonDays, idleTimeout))
  }

  /** Streaming twin of [[graft.analysis.TraceSample.sampleCalls]]:
    * structure-preserving call-tree sampling of a LIVE event stream
    * (the always-on tracing shape — sample at ingest, store a fraction).
    * O(1) state per process (current depth, current tree key, event-time
    * high-water mark) replaces the batch window scan; the keep decision
    * is the same md5(seed:process:root_ts) mod den < num, so a streamed
    * sample equals the batch sample of the same events (parity spec).
    * Out-of-order events would corrupt the running depth, so they flag
    * `in_order = false` (and are NOT sampled) for a batch backfill —
    * the repo-wide bounded-state streaming contract. */
  def sampledCalls(events: DataFrame, num: Int, den: Int, seed: Int = 7,
                   idleTimeout: Option[String] = None): DataFrame = {
    require(den > 0 && num >= 0 && num <= den,
      s"sample fraction must be a rational in [0, 1]: $num/$den")
    val in = events.select(col(Process).cast("int").as("p"),
      col(TimestampNs).cast("long").as("ts"),
      col(EventType).as("et"), col(Name).as("nm"))
    keyed[Int, SampIn, SampState, SampOut](in, Seq("p"), _.p, idleTimeout)(
      sampGroup(num, den, seed, idleTimeout))
      .withColumnRenamed("p", Process).withColumnRenamed("ts", TimestampNs)
      .withColumnRenamed("et", EventType).withColumnRenamed("nm", Name)
  }

  case class SampIn(p: Int, ts: Long, et: String, nm: String)
  case class SampState(depth: Long, rootTs: Long, hw: Long)
  case class SampOut(p: Int, ts: Long, et: String, nm: String,
                     in_order: Boolean)

  /** 60-bit md5 hash, identical to TextOps.md5Hash60 on the same key.
    * Hot path (once per sampled-stream event): the digest instance is
    * reused per thread and the value is read straight from the digest
    * bytes — the first 15 hex chars of the digest are exactly the
    * big-endian first 8 bytes shifted right one nibble, so no
    * hex-string round trip is needed (r12; the naive form cost ~10 µs
    * per event in per-call MessageDigest.getInstance + per-byte
    * format strings, the dominant CPU of stream_sample_endstate). */
  private val md5Local = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }
  private def md5Hash60Jvm(s: String): Long = {
    val md = md5Local.get()
    md.reset()
    val d = md.digest(s.getBytes("UTF-8"))
    var v = 0L
    var i = 0
    while (i < 8) { v = (v << 8) | (d(i) & 0xffL); i += 1 }
    v >>> 4
  }

  private[streaming] def sampGroup(num: Int, den: Int, seed: Int,
      idleTimeout: Option[String] = None)(
      key: Int, rows: Iterator[SampIn],
      state: org.apache.spark.sql.streaming.GroupState[SampState]): Iterator[SampOut] = {
    if (state.hasTimedOut) { state.remove(); return Iterator.empty }
    var st = state.getOption.getOrElse(
      SampState(0L, Long.MinValue, Long.MinValue))
    val out = scala.collection.mutable.ArrayBuffer[SampOut]()
    // Enter < Instant < Leave at equal timestamps, as in the batch scan
    for (r <- rows.toSeq.sortBy(x => (x.ts, x.et))) {
      if (r.ts < st.hw) {
        out += SampOut(key, r.ts, r.et, r.nm, in_order = false)
      } else {
        var depth = st.depth
        var rootTs = st.rootTs
        if (r.et == graft.model.Schemas.Enter) {
          depth += 1
          if (depth == 1L) rootTs = r.ts
        } else if (r.et == graft.model.Schemas.Leave) depth -= 1
        // concat_ws skips NULLs in the batch op: an unset tree key is
        // the bare process, no trailing separator
        val treeKey =
          if (rootTs == Long.MinValue) s"$key" else s"$key:$rootTs"
        if (md5Hash60Jvm(s"$seed:$treeKey") % den < num)
          out += SampOut(key, r.ts, r.et, r.nm, in_order = true)
        st = SampState(depth, rootTs, r.ts)
      }
    }
    state.update(st)
    idleTimeout.foreach(state.setTimeoutDuration)
    out.iterator
  }

  /** Streaming stage-1 of `Sessionize.rollingActive`'s trailing-window
    * distinct count: per user, emit one CONTRIBUTION row per day the
    * user's activity covers — a user active on day d contributes to the
    * trailing `window`-day active count of days d..d+window−1 — with each
    * (user, day) contribution emitted exactly once. The trailing-WAU per
    * day is then a plain downstream count of `kind = "rolling"` rows per
    * day (and DAU of `kind = "dau"` rows): the wide per-day distinct
    * union becomes a stateless aggregation over this stream.
    *
    * O(1) state per user (last event day + highest emitted contribution
    * day): with in-order day arrival the un-emitted contribution range is
    * always the contiguous (lastEmitted, d+window−1] tail. An event from
    * an EARLIER day than the user's latest cannot be folded into that
    * invariant, so it surfaces as `in_order = false` (kind = "late") for
    * a batch backfill to reconcile — the repo-wide bounded-state
    * streaming contract — rather than silently undercounting. */
  def rollingContributions(events: DataFrame, keyCol: String = "user_id",
                           tsCol: String = "t_us", window: Int = 7,
                           dayMicros: Long = 86400000000L,
                           idleTimeout: Option[String] = None): DataFrame = {
    require(window > 0, s"window must be positive: $window")
    val in = events.select(col(keyCol).cast("long").as("k"),
      expr(s"$tsCol div $dayMicros").as("day"))
    keyed[Long, CohortIn, RollState, RollOut](in, Seq("k"), _.k, idleTimeout)(
      rollGroup(window, idleTimeout))
  }

  case class RollState(lastDay: Long, lastEmitted: Long)
  case class RollOut(k: Long, day: Long, kind: String, in_order: Boolean)

  private[streaming] def rollGroup(window: Int,
      idleTimeout: Option[String] = None)(
      key: Long, rows: Iterator[CohortIn],
      state: org.apache.spark.sql.streaming.GroupState[RollState]): Iterator[RollOut] = {
    if (state.hasTimedOut) { state.remove(); return Iterator.empty }
    var st = state.getOption.getOrElse(RollState(Long.MinValue, Long.MinValue))
    val out = scala.collection.mutable.ArrayBuffer[RollOut]()
    for (r <- rows.toSeq.sortBy(_.day)) {
      if (r.day < st.lastDay) {
        out += RollOut(key, r.day, "late", in_order = false)
      } else {
        if (r.day > st.lastDay)
          out += RollOut(key, r.day, "dau", in_order = true)
        var d = math.max(st.lastEmitted + 1, r.day)
        val hi = r.day + window - 1
        while (d <= hi) {
          out += RollOut(key, d, "rolling", in_order = true); d += 1
        }
        st = RollState(r.day, math.max(st.lastEmitted, hi))
      }
    }
    state.update(st)
    idleTimeout.foreach(state.setTimeoutDuration)
    out.iterator
  }

  case class CohortIn(k: Long, day: Long)
  case class CohortState(cohortDay: Long, days: List[Long])
  case class CohortOut(k: Long, cohort_day: Long, day_offset: Long)

  private[streaming] def cohortGroup(horizonDays: Int = 370,
      idleTimeout: Option[String] = None)(
      key: Long, rows: Iterator[CohortIn],
      state: org.apache.spark.sql.streaming.GroupState[CohortState]): Iterator[CohortOut] = {
    if (state.hasTimedOut) { state.remove(); return Iterator.empty }
    val sorted = rows.toSeq.sortBy(_.day)
    if (sorted.isEmpty) return Iterator.empty
    var st = state.getOption.getOrElse(CohortState(sorted.head.day, Nil))
    val days = scala.collection.mutable.Set(st.days: _*)
    val out = scala.collection.mutable.ArrayBuffer[CohortOut]()
    for (r <- sorted if !days.contains(r.day)) {
      days += r.day
      out += CohortOut(key, st.cohortDay, r.day - st.cohortDay)
    }
    // prune days older than the horizon below the newest seen day: the
    // state stays O(horizonDays) per user on an unbounded stream
    val floor = days.max - horizonDays
    state.update(st.copy(days = days.filter(_ >= floor).toList))
    idleTimeout.foreach(state.setTimeoutDuration)
    out.iterator
  }

  /** Gap-based session windows per process (the streaming twin of
    * [[graft.analysis.Sessionize]]) via Spark's native session_window —
    * state is managed by the engine, sessions close at watermark. */
  def sessions(events: DataFrame, keyCol: String = Process,
               gap: String = "30 minutes",
               watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("event_time", watermark)
      .groupBy(session_window(col("event_time"), gap), col(keyCol))
      .agg(count(lit(1)).as("n_events"), sum(col(AttrMsgLength)).as("volume"))
      .select(col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col(keyCol), col("n_events"), col("volume"))

  /** Streaming interval union — the incremental twin of
    * [[graft.analysis.Intervals.mergeIntervals]]: per key, maintain the
    * one OPEN island (start, running max end, span count) and emit a
    * closed island whenever a span arrives strictly after the running
    * end (the batch operator's island rule, half-open [s, e)). State is
    * one triple per key — O(1), never a span buffer. Within a batch
    * spans process in (start, end) order, matching the batch window;
    * a cross-batch span that starts before the open island's start
    * merges but marks the island `in_order = false` — an already-emitted
    * island it might have bridged cannot be retracted, so consumers get
    * the flag instead of silently wrong islands. The final open island
    * per key is emitted only on key timeout (`idleTimeout`) — in a
    * stream "the last island" is unknowable until the key goes quiet. */
  def intervalUnion(spans: DataFrame, keyCol: String = "key",
                    startCol: String = "start", endCol: String = "end",
                    idleTimeout: Option[String] = None): DataFrame = {
    val in = spans.select(col(keyCol).cast("long").as("k"),
      col(startCol).cast("long").as("s"),
      col(endCol).cast("long").as("e"))
    keyed[Long, IvIn, IvState, IvOut](in, Seq("k"), _.k, idleTimeout)(
      ivGroup(idleTimeout))
  }

  /** Streaming twin of [[graft.analysis.MergeApply.applyCdc]]: keyed
    * last-writer-wins CDC state with delete tombstones, maintained
    * incrementally. Each batch emits the key's state AFTER applying the
    * batch — `deleted = true` rows are retraction markers a downstream
    * sink turns into deletes. A change arriving with a seq at or below
    * the applied high-water mark is stale (out-of-order delivery or a
    * replayed log segment) and is dropped: the emitted row carries
    * `n_stale` so consumers can audit how much of the log arrived late.
    * State per key is O(1) — the winner row plus the high-water mark —
    * so the store size tracks the LIVE key count, with `idleTimeout`
    * bounding even that under key churn.
    *
    * Input contract: (`keyCol`: long, `seqCol`: long, `opCol`: string
    * with 'D' = tombstone, `valCol`: long). */
  def cdcApply(changes: DataFrame, keyCol: String = "user_id",
               seqCol: String = "seq", opCol: String = "op",
               valCol: String = "val_c",
               idleTimeout: Option[String] = None): DataFrame = {
    val in = changes.select(col(keyCol).cast("long").as("k"),
      col(seqCol).cast("long").as("seq"),
      col(opCol).cast("string").as("op"),
      col(valCol).cast("long").as("v"))
    keyed[Long, CdcIn, CdcState, CdcOut](in, Seq("k"), _.k, idleTimeout)(
      cdcGroup(idleTimeout))
  }

  /** Exactly-once-EFFECT ingest from an at-least-once source: drop
    * replayed rows by id, with state bounded by the watermark horizon
    * (`dropDuplicates` alone would remember every id forever — the
    * classic unbounded-state leak). A replay arriving after its id
    * aged out of state passes through: the guarantee is scoped to the
    * watermark window, which is exactly the contract
    * dropDuplicatesWithinWatermark formalizes. */
  def dedupIds(events: DataFrame, idCols: Seq[String],
               timeCol: String = "event_time",
               watermark: String = "10 minutes"): DataFrame =
    events.withWatermark(timeCol, watermark)
      .dropDuplicatesWithinWatermark(idCols)

  /** Streaming windowed DISTINCT actives (the DAU counter) — the
    * incremental twin of `Sessionize.rollingActive`'s per-day count.
    * Exact within the watermark contract via CHAINED stateful operators
    * (legal since the multi-stateful-op support Structured Streaming
    * grew): dropDuplicatesWithinWatermark on (key, window) collapses a
    * user's repeat events to one row per window — state is one row per
    * ACTIVE (user, window), pruned at the watermark, never a forever-set
    * — then a plain windowed count aggregates the survivors. Append
    * mode: a window's count emits once, when the watermark closes it. */
  def windowedActive(events: DataFrame, keyCol: String = "user_id",
                     window: String = "1 day",
                     watermark: String = "0 seconds",
                     timeCol: String = "event_time"): DataFrame = {
    import org.apache.spark.sql.functions.{window => windowFn}
    val tagged = events.withWatermark(timeCol, watermark)
      // dedup key = the window START as a plain LONG: aliasing the
      // window STRUCT itself would tag a second event-time column and
      // fail analysis ("at most one event time column per stream")
      .withColumn("__wb",
        unix_millis(windowFn(col(timeCol), window).getField("start")))
    // dropDuplicatesWithinWatermark is a STREAMING-ONLY operator (batch
    // analysis throws); in batch replay there is no late data, so plain
    // dropDuplicates on the same (key, window) pair is semantically
    // identical — same rows survive, same downstream count
    val deduped =
      if (events.isStreaming) tagged.dropDuplicatesWithinWatermark(Seq(keyCol, "__wb"))
      else tagged.dropDuplicates(keyCol, "__wb")
    deduped
      .groupBy(windowFn(col(timeCol), window))
      .agg(count(lit(1)).as("active"))
      .select(col("window.start").as("window_start"), col("active"))
  }

  case class CdcIn(k: Long, seq: Long, op: String, v: Long)
  case class CdcState(seq: Long, op: String, v: Long, applied: Boolean)
  case class CdcOut(k: Long, seq: Long, op: String, v: Long,
                    deleted: Boolean, n_stale: Long)

  private[streaming] def cdcGroup(idleTimeout: Option[String] = None)(
      key: Long, rows: Iterator[CdcIn],
      state: org.apache.spark.sql.streaming.GroupState[CdcState]): Iterator[CdcOut] = {
    if (state.hasTimedOut) { state.remove(); return Iterator.empty }
    var st = state.getOption.getOrElse(
      CdcState(Long.MinValue, "", 0L, applied = false))
    var stale = 0L
    var changed = false
    // total order (seq, op, v) mirrors MergeApply.applyCdc's
    // (seqCol, tieCols...) rule: equal-seq changes resolve to the SAME
    // deterministic winner as the batch op, not to micro-batch
    // iterator order; an exact replay of the applied change is stale
    for (r <- rows.toSeq.sortBy(x => (x.seq, x.op, x.v))) {
      val newer = !st.applied || Ordering[(Long, String, Long)]
        .gt((r.seq, r.op, r.v), (st.seq, st.op, st.v))
      if (newer) { st = CdcState(r.seq, r.op, r.v, applied = true); changed = true }
      else stale += 1
    }
    state.update(st)
    idleTimeout.foreach(state.setTimeoutDuration)
    if (!changed && stale == 0L) Iterator.empty
    else Iterator.single(CdcOut(key, st.seq, st.op, st.v,
      deleted = st.op == "D", n_stale = stale))
  }

  /** Streaming twin of [[graft.analysis.Drift.tvDrift]]: per event-time
    * window, total-variation distance of the observed binned value
    * distribution against a REFERENCE histogram (yesterday's profile,
    * the training distribution, an SLA shape) — the live tripwire for
    * "this feed's distribution moved".
    *
    * Streaming-legal shape: Structured Streaming allows ONE stateful
    * aggregation, so the per-window histogram is folded as `bins`
    * conditional sums in a single watermarked groupBy — O(bins) state
    * per in-flight window, never a second stateful stage or a
    * collect_list of rows. The TV numerator Σ|cᵢ·n_ref − refᵢ·n_obs|
    * is then a pure projection against the reference literals — exact
    * integers end to end.
    *
    * Bin edges (lo, width) are the CALLER's contract: use the same
    * edges the reference was built with, or the comparison fabricates
    * drift. Values outside [lo, lo+width) clamp into the edge bins so
    * stray points count rather than vanish. */
  def windowedDrift(events: DataFrame, refCounts: Seq[Long],
                    window: String, watermark: String,
                    lo: Long, width: Long,
                    timeCol: String = "event_time",
                    valCol: String = "v"): DataFrame = {
    import org.apache.spark.sql.functions.{window => windowFn}
    val bins = refCounts.length
    require(bins > 0, "reference histogram must have at least one bin")
    val nRef = refCounts.sum
    val binExpr = expr(
      s"least(greatest((($valCol - ${lo}L) * $bins) div ${width}L, 0L), ${bins - 1}L)")
    val aggs = (0 until bins).map(b =>
      sum(when(col("__bin") === b, 1L).otherwise(0L)).as(s"__c$b"))
    val g = events
      .withWatermark(timeCol, watermark)
      .withColumn("__bin", binExpr)
      .groupBy(windowFn(col(timeCol), window))
      .agg(aggs.head, aggs.tail: _*)
    val nObs = (0 until bins).map(b => col(s"__c$b")).reduce(_ + _)
    val tv = (0 until bins).map(b =>
      abs(col(s"__c$b") * lit(nRef) - lit(refCounts(b)) * col("n_obs")))
      .reduce(_ + _)
    g.withColumn("n_obs", nObs)
      .select(col("window.start").as("window_start"), col("n_obs"),
        tv.as("tv_num"))
  }

  /** Per-key twin of [[windowedDrift]]: every key's windowed histogram is
    * compared against the SAME reference shape (each source/stratum vs
    * the expected corpus distribution — the per-source ingest monitor).
    * Still exactly one watermarked aggregation, now keyed by
    * (key, window): state is O(bins · |keys| · windows-in-flight), so
    * the key column must be low-cardinality (sources, languages, types —
    * not user ids); watermark expiry bounds the window axis. A per-key
    * REFERENCE would need a static join after the aggregation, which
    * append-mode streaming aggs don't allow — derive drift-vs-own-past
    * downstream instead if that's the question. */
  def keyedWindowedDrift(events: DataFrame, keyCol: String,
                         refCounts: Seq[Long],
                         window: String, watermark: String,
                         lo: Long, width: Long,
                         timeCol: String = "event_time",
                         valCol: String = "v"): DataFrame = {
    import org.apache.spark.sql.functions.{window => windowFn}
    val bins = refCounts.length
    require(bins > 0, "reference histogram must have at least one bin")
    val nRef = refCounts.sum
    val binExpr = expr(
      s"least(greatest((($valCol - ${lo}L) * $bins) div ${width}L, 0L), ${bins - 1}L)")
    val aggs = (0 until bins).map(b =>
      sum(when(col("__bin") === b, 1L).otherwise(0L)).as(s"__c$b"))
    val g = events
      .withWatermark(timeCol, watermark)
      .withColumn("__bin", binExpr)
      .groupBy(col(keyCol), windowFn(col(timeCol), window))
      .agg(aggs.head, aggs.tail: _*)
    val nObs = (0 until bins).map(b => col(s"__c$b")).reduce(_ + _)
    val tv = (0 until bins).map(b =>
      abs(col(s"__c$b") * lit(nRef) - lit(refCounts(b)) * col("n_obs")))
      .reduce(_ + _)
    g.withColumn("n_obs", nObs)
      .select(col(keyCol), col("window.start").as("window_start"),
        col("n_obs"), tv.as("tv_num"))
  }

  case class IvIn(k: Long, s: Long, e: Long)
  case class IvState(s: Long, e: Long, n: Long, inOrder: Boolean,
                     open: Boolean)
  case class IvOut(k: Long, start: Long, end: Long, n_spans: Long,
                   in_order: Boolean)

  private[streaming] def ivGroup(idleTimeout: Option[String] = None)(
      key: Long, rows: Iterator[IvIn],
      state: org.apache.spark.sql.streaming.GroupState[IvState]): Iterator[IvOut] = {
    if (state.hasTimedOut) {
      // flush the open island on key expiry, then drop the state
      val fin = state.getOption.filter(_.open)
        .map(st => IvOut(key, st.s, st.e, st.n, st.inOrder))
      state.remove()
      return fin.iterator
    }
    var st = state.getOption.getOrElse(
      IvState(0L, 0L, 0L, inOrder = true, open = false))
    val out = scala.collection.mutable.ArrayBuffer[IvOut]()
    for (r <- rows.toSeq.sortBy(x => (x.s, x.e))) {
      if (!st.open) st = IvState(r.s, r.e, 1L, inOrder = true, open = true)
      else if (r.s > st.e) { // strict gap → close the island
        out += IvOut(key, st.s, st.e, st.n, st.inOrder)
        st = IvState(r.s, r.e, 1L, inOrder = true, open = true)
      } else st = IvState(math.min(st.s, r.s), math.max(st.e, r.e),
        st.n + 1, st.inOrder && r.s >= st.s, open = true)
    }
    state.update(st)
    idleTimeout.foreach(state.setTimeoutDuration)
    out.iterator
  }
}
