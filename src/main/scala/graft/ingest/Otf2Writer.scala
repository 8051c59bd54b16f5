package graft.ingest

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.Schemas._

/** OTF2 (Score-P) trace WRITER — the export half of [[Otf2Reader]],
  * completing the interchange loop the reference leaves one-way (pipit
  * ships only a Chrome writer, pipit/writers/chrome_writer.py): a
  * canonical trace goes back out as an OTF2 archive any Score-P/Vampir/
  * otf2-print toolchain (and our own reader) can open.
  *
  * Emits the same byte layout the reader decodes (see the format notes
  * on [[Otf2Reader]]): `<name>.otf2` empty anchor, `<name>.def` global
  * definitions (ClockProperties 0x05, String 0x0a, Region 0x0f,
  * Location 0x0e), and one `traces/<loc>.evt` per process with raw-u64
  * timestamp records (0x05) ahead of each event record. Encodable
  * events: Enter 0x0c / Leave 0x0d (region from `name`), and the MPI
  * instants MpiSend 0x0e, MpiRecv 0x12, MpiIsend 0x0f, MpiIrecv 0x13,
  * MpiIsendComplete 0x10, MpiIrecvRequest 0x11, MpiCollectiveBegin
  * 0x16 / End 0x17. Any other Instant name has no OTF2 record type —
  * those rows are dropped and counted in the returned summary rather
  * than silently vanishing.
  *
  * With the default resolution of 10⁹ ticks/s and offset 0, ticks ==
  * nanoseconds and the timestamp round trip is lossless.
  *
  * Spark shape: the per-location event streams are encoded in ONE pass —
  * repartition by process + sortWithinPartitions(ts, event_id), each
  * in-partition process run folding to a single (location, bytes) blob —
  * and the region-name dimension is collected driver-side (bounded by
  * the code's function count, the same smallness argument as the CCT).
  * A location's blob lives in one task (the archive format is one file
  * per location); the location count, not the trace length, bounds the
  * files written from the driver.
  */
object Otf2Writer {

  // ---- byte-level encoders (inverse of Otf2Reader's decoders) --------

  private[ingest] def comp(v: Long): Array[Byte] = {
    if (v == 0) return Array(0)
    var n = 0
    var x = v
    while (x != 0) { n += 1; x >>>= 8 }
    val out = new Array[Byte](1 + n)
    out(0) = n.toByte
    var i = 0
    while (i < n) { out(1 + i) = ((v >>> (8 * i)) & 0xff).toByte; i += 1 }
    out
  }

  private[ingest] def rec(t: Int, parts: Array[Byte]*): Array[Byte] = {
    val payload = parts.flatten.toArray
    if (payload.length < 0xff)
      Array(t.toByte, payload.length.toByte) ++ payload
    else {
      // long form (reader-supported): 0xff marker + u64 LE length —
      // needed for e.g. >250-byte mangled C++ region names
      val b = java.nio.ByteBuffer.allocate(10)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      b.put(t.toByte); b.put(0xff.toByte); b.putLong(payload.length.toLong)
      b.array() ++ payload
    }
  }

  private[ingest] def tsRec(ticks: Long): Array[Byte] = {
    val b = java.nio.ByteBuffer.allocate(9)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.put(0x05.toByte); b.putLong(ticks); b.array()
  }

  private def str(ref: Long, s: String): Array[Byte] =
    rec(0x0a, comp(ref), s.getBytes("UTF-8") :+ 0.toByte)

  private def chunk(recs: Iterator[Array[Byte]]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    out.write(new Array[Byte](18)) // chunk header
    recs.foreach(out.write)
    out.toByteArray
  }

  /** Event-record bytes for one canonical row, or None if the event type
    * has no OTF2 encoding. Attribute ints come from the promoted attr
    * columns; request ids from the attributes map when present. */
  private def encodeEvent(eventType: String, name: String,
                          receiver: java.lang.Integer, msgLen: java.lang.Long,
                          attrs: Map[String, String],
                          regionRef: Map[String, Long]): Option[Array[Byte]] = {
    def a(k: String): Long = attrs.get(k).map(_.toLong).getOrElse(0L)
    // the reader emits "communicator" -> "Comm N"; accept that, a plain
    // int under either key, or absence — a re-export of a trace the
    // reader produced must not silently zero every communicator
    def comm(): Long =
      attrs.get("communicator").orElse(attrs.get("communicator_id"))
        .map(v => v.stripPrefix("Comm").trim.toLong).getOrElse(0L)
    def recvOr(k: String): Long =
      if (receiver != null) receiver.longValue() else a(k)
    val len = if (msgLen != null) msgLen.longValue() else a("msg_length")
    eventType match {
      case Enter => Some(rec(0x0c, comp(regionRef(name))))
      case Leave => Some(rec(0x0d, comp(regionRef(name))))
      case Instant => name match {
        case "MpiSend" =>
          Some(rec(0x0e, comp(recvOr("receiver")), comp(comm()),
            comp(a("msg_tag")), comp(len)))
        case "MpiRecv" =>
          Some(rec(0x12, comp(recvOr("sender")), comp(comm()),
            comp(a("msg_tag")), comp(len)))
        case "MpiIsend" =>
          Some(rec(0x0f, comp(recvOr("receiver")), comp(comm()),
            comp(a("msg_tag")), comp(len), comp(a("request_id"))))
        case "MpiIrecv" =>
          Some(rec(0x13, comp(recvOr("sender")), comp(comm()),
            comp(a("msg_tag")), comp(len), comp(a("request_id"))))
        case "MpiIsendComplete" => Some(rec(0x10, comp(a("request_id"))))
        case "MpiIrecvRequest" => Some(rec(0x11, comp(a("request_id"))))
        case "MpiCollectiveBegin" => Some(rec(0x16))
        case "MpiCollectiveEnd" =>
          Some(rec(0x17, Array(a("collective_op").toByte),
            comp(comm()), comp(a("root")),
            comp(a("size_sent")), comp(a("size_received"))))
        case _ => None
      }
      case _ => None
    }
  }

  /** Per-location encoded event files: one (location, n_events, n_dropped,
    * bytes) row per process, events in (timestamp, event_id) order.
    *
    * With `writeDir` set, each location's encoded stream is written to
    * `<writeDir>/<location>.evt` FROM THE EXECUTOR TASK at flush time and
    * the emitted row carries an empty `bytes` — driver traffic is then
    * O(#locations) count rows, never the trace bytes (a .collect() of
    * full blobs would scale driver memory with total trace size). The
    * target must be a filesystem all executors share (local mode: the
    * local disk; a cluster: NFS/fuse-mounted object storage). */
  private def locationBlobs(events: DataFrame,
                            regionRef: Map[String, Long],
                            writeDir: Option[String] = None): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val hasAttrs = events.columns.contains(Attributes)
    val hasRecv = events.columns.contains(AttrReceiver)
    val hasLen = events.columns.contains(AttrMsgLength)
    val cols = Seq(
      col(Process).cast("long").as("loc"),
      col(TimestampNs).cast("long").as("ts"),
      col(EventType).as("et"), col(Name).as("nm"),
      (if (hasRecv) col(AttrReceiver) else lit(null).cast("int")).as("recv"),
      (if (hasLen) col(AttrMsgLength) else lit(null).cast("long")).as("len"),
      (if (hasAttrs) col(Attributes)
       else lit(null).cast("map<string,string>")).as("at"),
      (if (events.columns.contains(EventId)) col(EventId)
       else col(TimestampNs)).cast("long").as("eid"))
    val refB = spark.sparkContext.broadcast(regionRef)
    events.select(cols: _*)
      .repartition(col("loc"))
      .sortWithinPartitions(col("loc"), col("ts"), col("eid"))
      .mapPartitions { it =>
        val refs = refB.value
        val out = scala.collection.mutable.ArrayBuffer[(Long, Long, Long, Array[Byte])]()
        var cur = Long.MinValue
        var buf: java.io.ByteArrayOutputStream = null
        var n = 0L
        var dropped = 0L
        def flush(): Unit = if (buf != null) {
          writeDir match {
            case Some(d) =>
              // write-then-atomic-rename: a retried or speculative task
              // attempt must never interleave with another attempt's
              // CREATE+TRUNCATE on the final path — each attempt writes
              // its own temp (attempt-unique name) and the rename is
              // all-or-nothing, so the surviving .evt is always one
              // attempt's complete bytes
              val attempt = Option(org.apache.spark.TaskContext.get())
                .map(_.taskAttemptId()).getOrElse(
                  java.lang.Thread.currentThread().getId)
              val tmp = java.nio.file.Paths.get(
                s"$d/.$cur.evt.tmp-$attempt")
              java.nio.file.Files.write(tmp, buf.toByteArray)
              java.nio.file.Files.move(tmp,
                java.nio.file.Paths.get(s"$d/$cur.evt"),
                java.nio.file.StandardCopyOption.ATOMIC_MOVE,
                java.nio.file.StandardCopyOption.REPLACE_EXISTING)
              out += ((cur, n, dropped, Array.emptyByteArray))
            case None =>
              out += ((cur, n, dropped, buf.toByteArray))
          }
          buf = null; n = 0L; dropped = 0L
        }
        for (r <- it) {
          val loc = r.getLong(0)
          if (loc != cur) {
            flush(); cur = loc
            buf = new java.io.ByteArrayOutputStream()
            buf.write(new Array[Byte](18))
          }
          val attrs =
            if (r.isNullAt(6)) Map.empty[String, String]
            else r.getMap[String, String](6).toMap
          encodeEvent(r.getString(2), r.getString(3),
              if (r.isNullAt(4)) null else Int.box(r.getInt(4)),
              if (r.isNullAt(5)) null else Long.box(r.getLong(5)),
              attrs, refs) match {
            case Some(bytes) =>
              buf.write(tsRec(r.getLong(1))); buf.write(bytes); n += 1
            case None => dropped += 1
          }
        }
        flush()
        out.iterator
      }.toDF("location", "n_events", "n_dropped", "bytes")
  }

  /** Write `events` as an OTF2 archive under `dir` (created if needed).
    * Returns (locations written, events written, rows dropped as
    * un-encodable).
    *
    * Each location's .evt is written by its executor task; only the
    * per-location (id, count, dropped) rows come back to the driver, so
    * driver memory scales with the LOCATION COUNT, not trace bytes —
    * `dir` must be a filesystem the executors share. Rows are sorted by
    * location id so the global-defs layout is deterministic regardless
    * of partition order. */
  def save(events: DataFrame, dir: String,
           archiveName: String = "traces"): (Long, Long, Long) = {
    // region dimension: every Enter/Leave name, stable refs by sort order
    val names = events.filter(col(EventType).isin(Enter, Leave))
      .select(col(Name)).distinct()
      .collect().map(_.getString(0)).sorted
    val regionRef = names.zipWithIndex.map { case (n, i) => n -> i.toLong }.toMap

    // dirs must exist BEFORE the executor tasks flush their .evt files
    Files.createDirectories(Paths.get(s"$dir/traces"))
    val blobs = locationBlobs(events, regionRef, Some(s"$dir/traces"))
      .select(col("location"), col("n_events"), col("n_dropped"))
      .collect().sortBy(_.getLong(0))

    Files.write(Paths.get(s"$dir/$archiveName.otf2"), Array[Byte]())
    // global defs: clock (1 tick = 1 ns), strings, regions, locations
    val lastTs = 1L + blobs.length // traceLength is informational
    val defs = Iterator(
      rec(0x05, comp(1000000000L), comp(0L), comp(lastTs))) ++
      names.iterator.zipWithIndex.map { case (n, i) => str(i.toLong, n) } ++
      blobs.iterator.zipWithIndex.map { case (b, i) =>
        str(names.length.toLong + i, s"rank${b.getLong(0)}")
      } ++
      // Region: [ref][name][canonical name], both names the same string
      names.indices.iterator.map(i =>
        rec(0x0f, comp(i.toLong), comp(i.toLong), comp(i.toLong))) ++
      blobs.iterator.zipWithIndex.map { case (b, i) =>
        rec(0x0e, comp(b.getLong(0)), comp(names.length.toLong + i),
          Array(0.toByte), comp(b.getLong(1)), comp(b.getLong(0)))
      }
    Files.write(Paths.get(s"$dir/$archiveName.def"), chunk(defs))

    // Executor-side writes assume a filesystem shared with the driver;
    // VERIFY the contract instead of trusting it — on a cluster without
    // a shared FS the .evt files sit on executor-local disks and this
    // save would otherwise return success over a silently incomplete
    // archive. Also sweep stale attempt temps (a task dying between
    // write and atomic move leaks its .tmp-<attempt> file).
    val missing = blobs.map(_.getLong(0))
      .filterNot(loc => Files.exists(Paths.get(s"$dir/traces/$loc.evt")))
    require(missing.isEmpty,
      s"OTF2 save incomplete: ${missing.length} location trace file(s) " +
        s"missing under $dir/traces (e.g. ${missing.take(3).mkString(", ")}" +
        ".evt) — executors must share this filesystem with the driver")
    Option(new java.io.File(s"$dir/traces").listFiles)
      .foreach(_.foreach { f =>
        if (f.getName.contains(".evt.tmp-")) f.delete(): Unit
      })

    // .evt files were already written executor-side; only tally counts
    var written = 0L
    var dropped = 0L
    blobs.foreach { b =>
      written += b.getLong(1); dropped += b.getLong(2)
    }
    (blobs.length.toLong, written, dropped)
  }
}
