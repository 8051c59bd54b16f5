package graft.ingest

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, AttributeSeq, BindReferences, GenericInternalRow, JoinedRow}
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.RddBridge
import org.apache.spark.sql.types._

import graft.model.Schemas._

/** OTF2 (Score-P) trace reader (SURVEY §2.1 S2).
  *
  * The reference delegates to the `otf2` Python bindings
  * (pipit/readers/otf2_reader.py:13-524); no OTF2 JVM library exists in
  * this environment, so this is a from-scratch decoder of the subset of
  * the OTF2 on-disk format that carries the canonical event stream,
  * reverse-engineered from the public format (Score-P/OTF2 is BSD and the
  * archive layout is documented) and validated byte-for-byte against the
  * reference's ping-pong fixture goldens:
  *
  *  - archive: `<name>.otf2` anchor, `<name>.def` global definitions,
  *    `traces/<loc>.evt` + `traces/<loc>.def` per location;
  *  - every file: 18-byte chunk header, then records
  *    `[type u8][length u8 | 0xff + u64][payload]`;
  *  - payload integers: `[n: u8][n bytes little-endian]` (0xff =
  *    undefined), enum fields are raw u8;
  *  - event files: record type 0x05 is a raw little-endian u64 timestamp
  *    that applies to subsequent events; 0x0c/0x0d are Enter/Leave
  *    (region), 0x0e MpiSend (receiver, communicator, tag, length),
  *    0x12 MpiRecv (sender, communicator, tag, length), 0x0f/0x13
  *    MpiIsend/MpiIrecv (same + requestID), 0x10/0x11 Isend-complete/
  *    Irecv-request, 0x16/0x17 collective begin/end, 0x1f Metric
  *    (type-tagged values, joined to the next same-tick event),
  *    0x53/0x54 ProgramBegin/ProgramEnd; unknown records are skipped by
  *    length (they are not trace events);
  *  - global defs: 0x05 ClockProperties (resolution, globalOffset,
  *    traceLength), 0x0a String, 0x0f Region (name = 2nd field),
  *    0x0e Location (name, type, #events, group), 0x0d LocationGroup.
  *
  * Timestamps are normalized exactly like the reference
  * (otf2_reader.py:467-471): (ticks − globalOffset) · 1e9 / resolution.
  * Per-location clock-offset interpolation and local→global mapping
  * tables are not applied (Score-P writes identity mappings for these;
  * documented limitation).
  *
  * Spark shape: global defs are a small dimension → parsed on the driver,
  * broadcast. Each location event file is decoded in the task of the
  * partition `repartition(process, thread)` hashes it to at
  * `spark.sql.shuffle.partitions` (Spark's own partition-id expression,
  * evaluated on the driver); a task decodes its locations in (process,
  * thread) order, each location's rows in (timestamp, seq) order (a file
  * whose timestamps step back is sorted in the task).
  * Dense ids come from a slim pass: the files are decoded a second time
  * (one task per non-empty partition), only the keys (timestamp,
  * location, seq, process, thread) take [[Ingest.assignDenseIds]]' global
  * sort, and `repartition(n, process, thread)` brings each id back to its
  * location's partition, where it is zipped onto its row. The result
  * declares that clustering and the ordering (process, thread,
  * timestamp_ns, event_id) to Catalyst
  * (`RddBridge.fromClusteredInternalRdd`), so [[graft.enrich.EventMatcher]]'s
  * repartition and sort plan away and no full row is shuffled between
  * the files and the enriched trace. The reference sorts each reader's
  * output by timestamp before matching (otf2_reader.py:473-476).
  */
object Otf2Reader {

  // ---- low-level decoding --------------------------------------------

  private def compressed(p: Array[Byte], j0: Int): (Long, Int) = {
    val n = p(j0) & 0xff
    if (n == 0xff) return (-1L, j0 + 1) // OTF2 "undefined"
    var v = 0L
    var i = 0
    while (i < n) { v |= (p(j0 + 1 + i) & 0xffL) << (8 * i); i += 1 }
    (v, j0 + 1 + n)
  }

  private def le64(b: Array[Byte], at: Int): Long =
    java.nio.ByteBuffer.wrap(b, at, 8).order(java.nio.ByteOrder.LITTLE_ENDIAN).getLong

  /** Record walk over one file; `at` is the byte offset of the record
    * `next()` returned last. A record that runs past the end of the file
    * (a truncated archive) throws, naming `file` and the record's offset:
    * `copyOfRange` would zero-pad it into a wrong but plausible event. */
  private final class Records(bytes: Array[Byte], file: String, isEvt: Boolean)
      extends Iterator[(Int, Array[Byte])] {
    if (bytes.length > 0 && bytes.length < 18) throw new IllegalArgumentException(
      s"OTF2 file $file is ${bytes.length} bytes, shorter than its 18-byte chunk header")
    private var i = 18 // skip chunk header
    var at: Int = -1
    private def need(end: Long): Unit =
      if (end > bytes.length) throw new IllegalArgumentException(
        s"OTF2 record at byte $at of $file runs past the end of the file " +
          s"(ends at byte $end of ${bytes.length}): the file is truncated")
    override def hasNext: Boolean = i < bytes.length
    override def next(): (Int, Array[Byte]) = {
      at = i
      val t = bytes(i) & 0xff
      var off = i + 1
      var len = 8L
      if (t != 0x05 || !isEvt) { // a timestamp is a raw u64 with no length byte
        need(i + 2L)
        len = bytes(i + 1) & 0xff
        off = i + 2
        if (len == 0xff) {
          need(i + 10L)
          len = le64(bytes, i + 2)
          off = i + 10
        }
      }
      need(if (len < 0) Long.MaxValue else off + len)
      i = off + len.toInt
      (t, java.util.Arrays.copyOfRange(bytes, off, i))
    }
  }

  private def records(bytes: Array[Byte], file: String,
                      isEvt: Boolean = false): Records =
    new Records(bytes, file, isEvt)

  /** Region ref in Enter/Leave payloads: length-delimited record makes the
    * count byte redundant for single-field records, so Score-P writes the
    * minimal form — accept both `[value-bytes]` (whole payload) and
    * `[n][bytes]`. */
  private def regionRef(p: Array[Byte]): Long = {
    if (p.length > 1 && (p(0) & 0xff) == p.length - 1) compressed(p, 0)._1
    else {
      var v = 0L; var i = 0
      while (i < p.length) { v |= (p(i) & 0xffL) << (8 * i); i += 1 }
      v
    }
  }

  // ---- global definitions --------------------------------------------

  case class Otf2Meta(regionNames: Map[Long, String],
                      locations: Seq[(Long, Long)], // (location ref, group/rank)
                      resolution: Long, globalOffset: Long,
                      // PAPI/metric support (otf2_reader.py:204-231): column
                      // order = members of the FIRST MetricClass (as the
                      // reference takes `metric_members[0]`).
                      metricNames: Seq[String] = Nil,
                      metricClassMembers: Map[Long, Seq[Long]] = Map.empty,
                      memberColIdx: Map[Long, Int] = Map.empty) extends Serializable

  private[ingest] def parseGlobalDefs(path: String): Otf2Meta =
    parseGlobalDefs(Files.readAllBytes(Paths.get(path)), Paths.get(path).getFileName.toString)

  private[ingest] def parseGlobalDefs(bytes: Array[Byte], file: String): Otf2Meta = {
    val strings = mutable.Map[Long, String]()
    val regions = mutable.Map[Long, Long]()
    val locations = mutable.ArrayBuffer[(Long, Long)]()
    val memberNameRef = mutable.LinkedHashMap[Long, Long]()
    val classMembers = mutable.LinkedHashMap[Long, Seq[Long]]()
    var resolution = 1L; var offset = 0L
    for ((t, p) <- records(bytes, file)) t match {
      case 0x0a => // String: [ref][chars...\0]
        val (ref, j) = compressed(p, 0)
        strings(ref) = new String(p, j, p.length - j - 1, "UTF-8")
      case 0x0f => // Region: [ref][name][...]
        val (ref, j) = compressed(p, 0)
        val (name, _) = compressed(p, j)
        regions(ref) = name
      case 0x0e => // Location: [ref][name][type u8][#events][group]
        val (ref, j0) = compressed(p, 0)
        val (_, j1) = compressed(p, j0)
        val j2 = j1 + 1 // type enum (raw u8)
        val (_, j3) = compressed(p, j2)
        val (grp, _) = compressed(p, j3)
        locations += ((ref, grp))
      case 0x05 => // ClockProperties: [resolution][globalOffset][traceLength]
        val (res, j) = compressed(p, 0)
        val (off, _) = compressed(p, j)
        resolution = res; offset = off
      case 0x13 => // MetricMember: [ref][name][desc][type u8][mode u8][valueType u8][base u8][exp][unit]
        val (ref, j0) = compressed(p, 0)
        val (nameRef, _) = compressed(p, j0)
        memberNameRef(ref) = nameRef
      case 0x14 => // MetricClass: [ref][#members u8][member refs...][occurrence u8][recorderKind u8]
        val (ref, j0) = compressed(p, 0)
        val n = p(j0) & 0xff
        var j = j0 + 1
        val ms = (0 until n).map { _ =>
          val (m, jn) = compressed(p, j); j = jn; m
        }
        classMembers(ref) = ms
      case _ =>
    }
    // column order = first MetricClass's member order (otf2_reader.py:204-210)
    val firstMembers = classMembers.headOption.map(_._2).getOrElse(Nil)
    val names = firstMembers.map(m =>
      strings.getOrElse(memberNameRef.getOrElse(m, -1L), s"metric_$m"))
    Otf2Meta(regions.map { case (r, nameRef) =>
      r -> strings.getOrElse(nameRef, s"region_$r") }.toMap,
      locations.toSeq.sortBy(_._1), resolution, offset,
      names, classMembers.toMap, firstMembers.zipWithIndex.toMap)
  }

  // ---- events ---------------------------------------------------------

  private[ingest] def outSchema(metricNames: Seq[String]): StructType = StructType(Seq(
    StructField("loc", LongType, nullable = false),
    StructField("seq", LongType, nullable = false),
    StructField(TimestampNs, LongType, nullable = false),
    StructField(EventType, StringType, nullable = false),
    StructField(Name, StringType, nullable = false),
    StructField(Process, IntegerType, nullable = false),
    StructField(Thread, IntegerType, nullable = false),
    StructField(Attributes, MapType(StringType, StringType), nullable = true),
    StructField(AttrReceiver, IntegerType, nullable = true),
    StructField(AttrMsgLength, LongType, nullable = true)
  ) ++ metricNames.map(StructField(_, DoubleType, nullable = false)))

  /** Decode one OTF2 metric value: type-tagged compressed u64
    * (float/double are bit patterns, public OTF2_Type enum). */
  private def metricValue(tpe: Int, raw: Long): Double = tpe match {
    case 9  => java.lang.Float.intBitsToFloat(raw.toInt).toDouble
    case 10 => java.lang.Double.longBitsToDouble(raw)
    case _  => raw.toDouble // integer types (signed fit in the Long)
  }

  // EXACT tick→ns conversion. The naive double formula
  // ((ticks−off)·1e9/res).toLong loses 1 ns whenever the product needs
  // more than 53 mantissa bits and rounds DOWN (at res = 1e9 this hits
  // ticks ≥ ~10 s seed-dependently: the seed-101 sf0.1 gate caught
  // 201k such flips in trace_otf2_roundtrip). Divisible resolutions
  // (incl. our writer's 1e9) take pure integer paths; the general case
  // splits quotient/remainder so the only float work is the
  // sub-tick fraction in [0,1), where a double is exact to 1e-7 ns.
  private def toNs(meta: Otf2Meta, ticks: Long): Long = {
    val d = ticks - meta.globalOffset
    val res = meta.resolution
    if (res == 1000000000L) d
    else if (1000000000L % res == 0) d * (1000000000L / res)
    else {
      val q = d / res
      val r = d - q * res
      q * 1000000000L + Math.round(r.toDouble / res * 1e9)
    }
  }

  private[ingest] def parseEvents(meta: Otf2Meta, bytes: Array[Byte], file: String,
                                  loc: Long, process: Int, thread: Int): Iterator[InternalRow] = {
    var ts = 0L
    var seq = 0L
    val nMetrics = meta.metricNames.size
    // metric events are synchronous: their values attach to the next
    // non-metric event at the SAME tick time, else NaN
    // (otf2_reader.py:246-275)
    var pendTicks = Long.MinValue
    var pend: Array[Any] = null
    // Rows are emitted as InternalRow (r11, guide §4.1): the former
    // external-Row + reflective-converter path cost ~100 µs/event at the
    // sf0.1 archive (2.7M events — the bench's single largest CPU sink).
    // Strings are interned to UTF8String once per task, the per-region
    // attribute bag is converted to catalyst MapData once per region,
    // and every emitted row is a fresh GenericInternalRow (no reuse), so
    // downstream operators may buffer them without copying.
    import org.apache.spark.unsafe.types.UTF8String
    val utf8 = new java.util.HashMap[String, UTF8String]()
    def u8(s: String): UTF8String = {
      var v = utf8.get(s)
      if (v == null) { v = UTF8String.fromString(s); if (utf8.size < (1 << 16)) utf8.put(s, v) }
      v
    }
    def mapData(m: Map[String, String]): Any =
      if (m == null) null
      else org.apache.spark.sql.catalyst.util.ArrayBasedMapData(
        m, (k: Any) => u8(k.asInstanceOf[String]),
        (v: Any) => u8(v.asInstanceOf[String]))
    val regionAttrCache = new java.util.HashMap[Long, Any]()
    def regionAttr(ref: Long): Any = {
      var v = regionAttrCache.get(ref)
      if (v == null) {
        v = mapData(Map("region" -> s"Region $ref")); regionAttrCache.put(ref, v)
      }
      v
    }
    val regionName = new java.util.HashMap[Long, UTF8String]()
    def regName(ref: Long): UTF8String = {
      var v = regionName.get(ref)
      if (v == null) {
        v = UTF8String.fromString(meta.regionNames.getOrElse(ref, "unknown"))
        regionName.put(ref, v)
      }
      v
    }
    def row(et: UTF8String, nm: UTF8String, attrs: Any = null,
            recv: Any = null, msgLen: Any = null): InternalRow = {
      seq += 1
      val vals = new Array[Any](10 + nMetrics)
      vals(0) = loc; vals(1) = seq; vals(2) = toNs(meta, ts)
      vals(3) = et; vals(4) = nm; vals(5) = process; vals(6) = thread
      vals(7) = attrs; vals(8) = recv; vals(9) = msgLen
      if (nMetrics > 0) {
        if (pend != null && pendTicks == ts) {
          var i = 0
          while (i < nMetrics) { vals(10 + i) = pend(i); i += 1 }
          pend = null
        } else {
          pend = null
          var i = 0
          while (i < nMetrics) { vals(10 + i) = Double.NaN; i += 1 }
        }
      }
      new GenericInternalRow(vals)
    }
    val enterU8 = u8(Enter); val leaveU8 = u8(Leave); val instantU8 = u8(Instant)
    def rowS(et: UTF8String, nm: String, attrs: Map[String, String] = null,
             recv: Any = null, msgLen: Any = null): InternalRow =
      row(et, u8(nm), mapData(attrs), recv, msgLen)
    records(bytes, file, isEvt = true).flatMap { case (t, p) =>
      t match {
        case 0x05 =>
          ts = le64(p, 0)
          Nil
        case 0x0c =>
          // Enter rows carry the attribute bag; Leave rows stay null so a
          // pair's attributes aren't duplicated (otf2_reader.py:306-326)
          val ref = regionRef(p)
          Seq(row(enterU8, regName(ref), regionAttr(ref)))
        case 0x0d =>
          Seq(row(leaveU8, regName(regionRef(p))))
        case 0x0e => // MpiSend: [receiver][communicator][tag][length]
          val (recv, j0) = compressed(p, 0)
          val (comm, j1) = compressed(p, j0)
          val (tag, j2) = compressed(p, j1)
          val (len, _) = compressed(p, j2)
          Seq(rowS(instantU8, "MpiSend",
            Map("receiver" -> recv.toString, "communicator" -> s"Comm $comm",
              "msg_tag" -> tag.toString, "msg_length" -> len.toString),
            Int.box(recv.toInt), Long.box(len)))
        case 0x12 => // MpiRecv: [sender][communicator][tag][length]
          val (send, j0) = compressed(p, 0)
          val (comm, j1) = compressed(p, j0)
          val (tag, j2) = compressed(p, j1)
          val (len, _) = compressed(p, j2)
          Seq(rowS(instantU8, "MpiRecv",
            Map("sender" -> send.toString, "communicator" -> s"Comm $comm",
              "msg_tag" -> tag.toString, "msg_length" -> len.toString),
            null, Long.box(len)))
        case 0x0f => // MpiIsend: [receiver][communicator][tag][length][requestID]
          val (recv, j0) = compressed(p, 0)
          val (comm, j1) = compressed(p, j0)
          val (tag, j2) = compressed(p, j1)
          val (len, j3) = compressed(p, j2)
          val (req, _) = compressed(p, j3)
          Seq(rowS(instantU8, "MpiIsend",
            Map("receiver" -> recv.toString, "communicator" -> s"Comm $comm",
              "msg_tag" -> tag.toString, "msg_length" -> len.toString,
              "request_id" -> req.toString),
            Int.box(recv.toInt), Long.box(len)))
        case 0x13 => // MpiIrecv: [sender][communicator][tag][length][requestID]
          val (send, j0) = compressed(p, 0)
          val (comm, j1) = compressed(p, j0)
          val (tag, j2) = compressed(p, j1)
          val (len, j3) = compressed(p, j2)
          val (req, _) = compressed(p, j3)
          Seq(rowS(instantU8, "MpiIrecv",
            Map("sender" -> send.toString, "communicator" -> s"Comm $comm",
              "msg_tag" -> tag.toString, "msg_length" -> len.toString,
              "request_id" -> req.toString),
            null, Long.box(len)))
        case 0x10 => // MpiIsendComplete: [requestID]
          val (req, _) = compressed(p, 0)
          Seq(rowS(instantU8, "MpiIsendComplete", Map("request_id" -> req.toString)))
        case 0x11 => // MpiIrecvRequest: [requestID]
          val (req, _) = compressed(p, 0)
          Seq(rowS(instantU8, "MpiIrecvRequest", Map("request_id" -> req.toString)))
        case 0x16 => // MpiCollectiveBegin (no payload fields)
          Seq(rowS(instantU8, "MpiCollectiveBegin"))
        case 0x17 => // MpiCollectiveEnd: [collectiveOp u8][communicator][root][sizeSent][sizeReceived]
          val op = p(0) & 0xff
          val (comm, j1) = compressed(p, 1)
          val (root, j2) = compressed(p, j1)
          val (sent, j3) = compressed(p, j2)
          val (recvd, _) = compressed(p, j3)
          Seq(rowS(instantU8, "MpiCollectiveEnd",
            Map("collective_op" -> op.toString, "communicator" -> s"Comm $comm",
              "root" -> root.toString, "size_sent" -> sent.toString,
              "size_received" -> recvd.toString)))
        case 0x1f => // Metric: [classRef][#values u8][(type u8)(value)]...
          val (classRef, j0) = compressed(p, 0)
          val n = p(j0) & 0xff
          var j = j0 + 1
          val members = meta.metricClassMembers.getOrElse(classRef, Nil)
          val vals = Array.fill[Any](nMetrics)(Double.NaN)
          var k = 0
          while (k < n) {
            val tpe = p(j) & 0xff; j += 1
            val (raw, jn) = compressed(p, j); j = jn
            if (k < members.size)
              meta.memberColIdx.get(members(k))
                .foreach(ci => vals(ci) = metricValue(tpe, raw))
            k += 1
          }
          pend = vals; pendTicks = ts
          Nil
        case 0x53 => // ProgramBegin: [name][#args][args...]
          Seq(rowS(instantU8, "ProgramBegin"))
        case 0x54 => // ProgramEnd: [exitStatus]
          Seq(rowS(instantU8, "ProgramEnd"))
        case _ => Nil // non-event records (buffer markers, measurement state)
      }
    }
  }

  /** Global definition type names (public OTF2_GlobalDef enum — these ids
    * independently confirm the reverse-engineered record codes above:
    * STRING=10, LOCATION_GROUP=13, LOCATION=14, REGION=15 match what the
    * fixture bytes decode as). */
  private val defTypeNames: Map[Int, String] = Map(
    5 -> "ClockProperties", 6 -> "Paradigm", 7 -> "ParadigmProperty",
    8 -> "IoParadigm", 10 -> "String", 11 -> "Attribute",
    12 -> "SystemTreeNode", 13 -> "LocationGroup", 14 -> "Location",
    15 -> "Region", 16 -> "Callsite", 17 -> "Callpath", 18 -> "Group",
    19 -> "MetricMember", 20 -> "MetricClass", 21 -> "MetricInstance",
    22 -> "Comm", 23 -> "Parameter", 24 -> "RmaWin",
    25 -> "MetricClassRecorder", 26 -> "SystemTreeNodeProperty",
    27 -> "SystemTreeNodeDomain", 28 -> "LocationGroupProperty",
    29 -> "LocationProperty", 30 -> "CartDimension", 31 -> "CartTopology",
    32 -> "CartCoordinate", 33 -> "SourceCodeLocation",
    34 -> "CallingContext", 35 -> "CallingContextProperty",
    36 -> "InterruptGenerator", 37 -> "IoFileProperty", 38 -> "IoRegularFile",
    39 -> "IoDirectory", 40 -> "IoHandle", 41 -> "IoPreCreatedHandleState",
    42 -> "CallpathParameter")

  /** Definitions table (the reference's `Trace.definitions`,
    * otf2_reader.py:424-434): one row per global definition record with
    * `(def_type, id, name, attributes)`. The `attributes` bag mirrors the
    * reference's per-definition field dict (fields_to_dict,
    * otf2_reader.py:46-76) for every type this decoder parses; other
    * types keep an empty bag. Definition references inside values use the
    * reference's "<Type> <id>" string form. Buffer end markers (type 2)
    * are not definitions. */
  def definitions(spark: SparkSession, dir: String): DataFrame = {
    val d = new java.io.File(dir)
    val anchor = d.listFiles().find(_.getName.endsWith(".otf2"))
      .getOrElse(throw new IllegalArgumentException(s"no .otf2 anchor in $dir"))
    val base = anchor.getName.stripSuffix(".otf2")
    // one read feeds both the meta parse and the raw record walk below
    val bytes = Files.readAllBytes(Paths.get(s"$dir/$base.def"))
    val meta = parseGlobalDefs(bytes, s"$base.def")
    val strings = mutable.Map[Long, String]()
    records(bytes, s"$base.def").foreach { case (t, p) =>
      if (t == 10) {
        val (ref, j) = compressed(p, 0)
        strings(ref) = new String(p, j, p.length - j - 1, "UTF-8")
      }
    }
    def str(ref: Long): String = strings.getOrElse(ref, s"String $ref")
    // a record too short for its type's fields fails naming where it sits
    val recs = records(bytes, s"$base.def")
    val rows = recs.filter(_._1 != 2).map { case (t, p) =>
      val typeName = defTypeNames.getOrElse(t, s"Unknown_$t")
      try {
        val id = if (p.nonEmpty && (p(0) & 0xff) <= 8 && p.length > (p(0) & 0xff))
          compressed(p, 0)._1 else -1L
        val name = t match {
          case 15 => meta.regionNames.getOrElse(id, null)
          case 10 =>
            val (ref, j) = compressed(p, 0)
            new String(p, j, p.length - j - 1, "UTF-8")
          case _ => null
        }
        val attrs: Map[String, String] = t match {
          case 5 => // ClockProperties: [resolution][globalOffset][traceLength]
            val (res, j1) = compressed(p, 0)
            val (off, j2) = compressed(p, j1)
            val (len, _) = compressed(p, j2)
            Map("timer_resolution" -> res.toString,
              "global_offset" -> off.toString, "trace_length" -> len.toString)
          case 10 => Map("name" -> name)
          case 15 => // Region: [ref][name][canonical][...]
            val (_, j1) = compressed(p, 0)
            val (nameRef, j2) = compressed(p, j1)
            val (canonRef, _) = compressed(p, j2)
            Map("name" -> str(nameRef), "canonical_name" -> str(canonRef))
          case 13 => // LocationGroup: [ref][name][type u8][systemTreeParent]
            val (_, j1) = compressed(p, 0)
            val (nameRef, j2) = compressed(p, j1)
            val tpe = p(j2) & 0xff
            val (parent, _) = compressed(p, j2 + 1)
            Map("name" -> str(nameRef), "location_group_type" -> tpe.toString,
              "system_tree_parent" -> s"SystemTreeNode $parent")
          case 14 => // Location: [ref][name][type u8][#events][group]
            val (_, j1) = compressed(p, 0)
            val (nameRef, j2) = compressed(p, j1)
            val tpe = p(j2) & 0xff
            val (nEvents, j3) = compressed(p, j2 + 1)
            val (grp, _) = compressed(p, j3)
            Map("name" -> str(nameRef), "type" -> tpe.toString,
              "number_of_events" -> nEvents.toString,
              "location_group" -> s"LocationGroup $grp")
          case 19 => // MetricMember: [ref][name][desc][...]
            val (_, j1) = compressed(p, 0)
            val (nameRef, j2) = compressed(p, j1)
            val (descRef, _) = compressed(p, j2)
            Map("name" -> str(nameRef), "description" -> str(descRef))
          case 20 => // MetricClass: [ref][#members][members...]
            val members = meta.metricClassMembers.getOrElse(id, Nil)
            Map("members" ->
              members.map(m => s"MetricMember $m").mkString("[", ", ", "]"))
          case _ => Map.empty
        }
        Row(typeName, id, name, attrs)
      } catch { case e: IndexOutOfBoundsException =>
        throw new IllegalArgumentException(
          s"OTF2 $typeName definition record at byte ${recs.at} of $base.def " +
            s"is too short for its fields (${p.length}-byte payload)", e)
      }
    }.toSeq
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), StructType(Seq(
      StructField("def_type", StringType, nullable = false),
      StructField("id", LongType, nullable = false),
      StructField("name", StringType, nullable = true),
      StructField(Attributes, MapType(StringType, StringType), nullable = false))))
  }

  /** The partition `repartition(n, process, thread)` sends a location
    * to: Spark's own `HashPartitioning` partition-id expression, bound
    * and evaluated on the driver. */
  private[ingest] def locationPartition(n: Int): (Int, Int) => Int = {
    val attrs = Seq(AttributeReference(Process, IntegerType, nullable = false)(),
      AttributeReference(Thread, IntegerType, nullable = false)())
    val pid = BindReferences.bindReference(
      HashPartitioning(attrs, n).partitionIdExpression, AttributeSeq(attrs))
    (process, thread) => pid.eval(InternalRow(process, thread)).asInstanceOf[Int]
  }

  /** (timestamp, seq): the order a location's rows leave its task in. */
  private val byTsSeq: java.util.Comparator[InternalRow] = (a, b) => {
    val c = java.lang.Long.compare(a.getLong(2), b.getLong(2))
    if (c != 0) c else java.lang.Long.compare(a.getLong(1), b.getLong(1))
  }

  /** Whether no timestamp record of an event file steps back, so that
    * `parseEvents` already emits its rows in (timestamp, seq) order. */
  private def timestampsInOrder(bytes: Array[Byte], file: String): Boolean = {
    var last = Long.MinValue
    records(bytes, file, isEvt = true).forall { case (t, p) =>
      t != 0x05 || { val ts = le64(p, 0); val ok = ts >= last; last = ts; ok }
    }
  }

  /** Appends `event_id` to each decoded row from the id rows
    * (`loc`, `seq`, `event_id`), partition by partition and row by row.
    * Throws when the two sides differ in partition count or row count,
    * or an id row's (loc, seq) is not its decoded row's. The appended
    * row is reused: the consumer is a scan that projects every row. */
  private[ingest] def zipIds(rows: RDD[InternalRow],
                             ids: RDD[InternalRow]): RDD[InternalRow] = {
    def misaligned(what: String) =
      new IllegalStateException(s"OTF2 dense ids misaligned with decoded rows: $what")
    // AQE plans an empty id relation as a scan of no partitions at all
    val idParts = if (ids.getNumPartitions > 0) ids
      else rows.sparkContext.parallelize(Seq.empty[InternalRow], rows.getNumPartitions)
    if (rows.getNumPartitions != idParts.getNumPartitions) throw misaligned(
      s"${rows.getNumPartitions} row partitions, ${idParts.getNumPartitions} id partitions")
    rows.zipPartitions(idParts) { (rs, is) =>
      val joined = new JoinedRow
      val id = new GenericInternalRow(1)
      new Iterator[InternalRow] {
        override def hasNext: Boolean = rs.hasNext ||
          (if (is.hasNext) throw misaligned("more ids than rows") else false)
        override def next(): InternalRow = {
          val r = rs.next()
          // hasNext first: generated scan iterators advance in it
          if (!is.hasNext) throw misaligned(
            s"no id for location ${r.getLong(0)} row ${r.getLong(1)}")
          val i = is.next()
          if (i.getLong(0) != r.getLong(0) || i.getLong(1) != r.getLong(1))
            throw misaligned(s"id for location ${i.getLong(0)} row ${i.getLong(1)} " +
              s"met location ${r.getLong(0)} row ${r.getLong(1)}")
          id.setLong(0, i.getLong(2))
          joined(r, id)
        }
      }
    }
  }

  /** Read an OTF2 archive directory (containing `<name>.otf2`,
    * `<name>.def`, `traces/<loc>.evt`) into canonical events, laid out
    * for [[graft.enrich.EventMatcher]] (see "Spark shape" above). */
  def read(spark: SparkSession, dir: String): DataFrame = {
    val d = new java.io.File(dir)
    val anchor = d.listFiles().find(_.getName.endsWith(".otf2"))
      .getOrElse(throw new IllegalArgumentException(s"no .otf2 anchor in $dir"))
    val base = anchor.getName.stripSuffix(".otf2")
    val meta = parseGlobalDefs(s"$dir/$base.def")
    val metaBc = spark.sparkContext.broadcast(meta)

    // process = location group (MPI rank); thread = location renumbered
    // within its group (otf2_reader.py:282-290)
    val byGroup = meta.locations.groupBy(_._2)
    val threadOf: Map[Long, Int] = byGroup.values.flatMap { locs =>
      locs.map(_._1).sorted.zipWithIndex.map { case (l, i) => l -> i }
    }.toMap
    val locSpecs = meta.locations.map { case (loc, grp) =>
      (loc, grp.toInt, threadOf(loc))
    }.sortBy { case (_, p, t) => (p, t) }

    // each location is decoded in the partition the matcher's
    // repartition(process, thread) would hash it to
    val n = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.conf.numShufflePartitions
    val partOf = locationPartition(n)
    val byPart = locSpecs.groupBy { case (_, p, t) => partOf(p, t) }
    def perLocation(parts: Seq[Seq[(Long, Int, Int)]])(parse: (Otf2Meta, Array[Byte],
        String, Long, Int, Int) => Iterator[InternalRow]): RDD[InternalRow] =
      spark.sparkContext.parallelize(parts, math.max(parts.size, 1))
        .flatMap(_.iterator.flatMap { case (loc, proc, thr) =>
          val path = s"$dir/traces/$loc.evt"
          parse(metaBc.value, Files.readAllBytes(Paths.get(path)), path, loc, proc, thr)
        })
    // sorted in the task, so an archive whose timestamps step back still
    // gets the declared ordering and the ids of the global sort; a file
    // in order streams unbuffered
    val decoded = perLocation((0 until n).map(byPart.getOrElse(_, Nil))) {
      (m, bytes, path, loc, proc, thr) =>
        val rows = parseEvents(m, bytes, path, loc, proc, thr)
        if (timestampsInOrder(bytes, path)) rows
        else {
          val sorted = rows.toArray
          java.util.Arrays.sort(sorted, byTsSeq)
          sorted.iterator
        }
    }

    // dense ids from the keys alone: only they take assignDenseIds' global
    // sort, and each id returns to its location's partition. The key pass
    // runs one task per non-empty partition, not n.
    val keys = RddBridge.fromInternalRdd(spark,
        perLocation(byPart.values.toSeq)(parseEvents), outSchema(meta.metricNames))
      .select(col(TimestampNs), col("loc"), col("seq"), col(Process), col(Thread))
    val ids = Ingest.assignDenseIds(keys, EventId, col(TimestampNs), col("loc"), col("seq"))
      .select(col("loc"), col("seq"), col(Process), col(Thread), col(EventId))
      .repartition(n, col(Process), col(Thread))
      .sortWithinPartitions(col(Process), col(Thread), col(EventId))
      .select(col("loc"), col("seq"), col(EventId))

    RddBridge.fromClusteredInternalRdd(spark,
        zipIds(decoded, ids.queryExecution.toRdd),
        outSchema(meta.metricNames).add(EventId, LongType, nullable = false),
        clusterBy = Seq(Process, Thread),
        orderBy = Seq(Process, Thread, TimestampNs, EventId))
      .select((Seq(EventId, TimestampNs, EventType, Name,
        Process, Thread, Attributes, AttrReceiver, AttrMsgLength) ++
        meta.metricNames).map(col): _*)
  }
}
