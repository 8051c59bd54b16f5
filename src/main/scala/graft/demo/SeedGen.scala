package graft.demo

import java.time.{Instant, LocalDate, ZoneOffset}

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Second-seed fixture generator — the robustness gate's data source.
  *
  * Reproduces the driver testdata's SHAPE (schemas, row counts per sf,
  * value pools, ranges, structural invariants) with an explicit seed, so
  * the full Verify + DuckDB-oracle gate can run against a corpus the
  * board was never tuned on. The value POOLS are identical by design —
  * they are part of the query surface (queries filter on `lang = 'en'`,
  * `source = 'src0'`, `event_type = 'purchase'`, `c_mktsegment =
  * 'BUILDING'`, the 31-word document vocabulary feeds the stopword and
  * language-profile features) — only the random DRAWS change.
  *
  * Structural invariants preserved (things the registry genuinely
  * depends on, each discovered in the seed-42 data or TraceGen's
  * contract):
  *  - ids are dense 0..n-1 in every table;
  *  - lineitem's (l_linenumber, …) rank key is tie-free per order
  *    (here by construction: sequential linenumbers), and lines per
  *    order stay ≤ 13 < TraceGen's 17-slot bound;
  *  - event timestamps are UNIQUE (comm matching must not depend on
  *    tie order) and ascending with event_id;
  *  - embeddings are unit-normalized with a 10-cluster structure;
  *  - documents: n_chars == length(text), single-space token joins.
  *
  * Usage: `runMain graft.demo.SeedGen <sf> <seed> <outDir>`; the gate is
  * then `runMain graft.Verify <outDir> <dump>` + tools/check_oracle.py.
  */
object SeedGen {
  private val Langs = Seq("en", "en", "en", "en", "fr", "fr", "es", "es",
    "zh", "zh", "de", "de") // en ~ 1/3, rest even — seed-42's skew shape
  private val Sources = (0 until 20).map(i => s"src$i")
  private val EventTypes = Seq("click", "view", "purchase", "signup", "error")
  private val Segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE",
    "HOUSEHOLD", "MACHINERY")
  private val PartTypes = Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO",
    "SMALL", "STANDARD")
  private val Adjs = Seq("blue", "cold", "hot", "large", "new", "old",
    "red", "small")
  private val Nouns = Seq("anvil", "bolt", "gear", "gizmo", "plate",
    "ring", "rod", "widget")
  private val Priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM",
    "4-NOT SPECIFIED", "5-LOW")
  private val Vocab = Seq("the", "a", "spark", "join", "merge", "table",
    "scan", "window", "batch", "stream", "hash", "filter", "group",
    "query", "data", "vector", "row", "column", "key", "value", "sort",
    "agg", "line", "part", "order", "customer", "small", "big", "fast",
    "slow", "dup")

  private def round2(x: Double): Double = math.round(x * 100) / 100.0
  private def ts(instant: Instant): java.sql.Timestamp =
    java.sql.Timestamp.from(instant)
  private def day(d: LocalDate): java.sql.Timestamp =
    ts(d.atStartOfDay(ZoneOffset.UTC).toInstant)

  def main(args: Array[String]): Unit = {
    val sf = args(0).toDouble
    val seed = args(1).toLong
    val out = args(2)
    val spark = graft.util.Sessions.local("graft-seedgen")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    val rnd = new java.util.Random(seed)

    val nCustomer = math.max(15, (150000 * sf).toInt)
    val nSupplier = math.max(5, (10000 * sf).toInt)
    val nPart = math.max(20, (200000 * sf).toInt)
    val nOrders = math.max(100, (1500000 * sf).toInt)
    val nEvents = math.max(100, (1000000 * sf).toInt)
    val nUsers = math.max(15, (15000 * sf).toInt)
    val nDocs = if (sf <= 0.011) 500 else (50000 * sf).toInt
    val nEmb = if (sf <= 0.011) 500 else (20000 * sf).toInt

    def write(name: String, schema: StructType, rows: Seq[Row]): Unit = {
      spark.createDataFrame(
          spark.sparkContext.parallelize(rows, math.max(1, rows.size / 50000)),
          schema)
        .write.mode("overwrite").parquet(s"$out/$name.parquet")
      println(s"[seedgen] $name: ${rows.size}")
    }
    def st(fields: (String, DataType)*): StructType =
      StructType(fields.map { case (n, t) => StructField(n, t) })

    write("region", st("r_regionkey" -> IntegerType, "r_name" -> StringType),
      Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
        .zipWithIndex.map { case (n, i) => Row(i, n) })
    write("nation", st("n_nationkey" -> IntegerType, "n_name" -> StringType,
        "n_regionkey" -> IntegerType),
      (0 until 25).map(i => Row(i, s"NATION_$i", rnd.nextInt(5))))

    write("customer", st("c_custkey" -> LongType, "c_name" -> StringType,
        "c_nationkey" -> IntegerType, "c_acctbal" -> DoubleType,
        "c_mktsegment" -> StringType),
      (0 until nCustomer).map { i => Row(i.toLong, f"Customer#$i%09d",
        rnd.nextInt(25), round2(rnd.nextDouble() * 11000 - 1000),
        Segments(rnd.nextInt(Segments.size))) })

    write("supplier", st("s_suppkey" -> LongType, "s_name" -> StringType,
        "s_nationkey" -> IntegerType, "s_acctbal" -> DoubleType),
      (0 until nSupplier).map { i => Row(i.toLong, f"Supplier#$i%09d",
        rnd.nextInt(25), round2(rnd.nextDouble() * 11000 - 1000)) })

    write("part", st("p_partkey" -> LongType, "p_name" -> StringType,
        "p_brand" -> StringType, "p_type" -> StringType,
        "p_size" -> IntegerType, "p_retailprice" -> DoubleType),
      (0 until nPart).map { i => Row(i.toLong,
        Adjs(rnd.nextInt(8)) + " " + Nouns(rnd.nextInt(8)),
        s"Brand#${rnd.nextInt(25)}", PartTypes(rnd.nextInt(PartTypes.size)),
        rnd.nextInt(50) + 1,
        math.round((900 + rnd.nextDouble() * 100) * 10) / 10.0) })

    val epoch0 = LocalDate.of(1995, 1, 1)
    write("orders", st("o_orderkey" -> LongType, "o_custkey" -> LongType,
        "o_orderstatus" -> StringType, "o_totalprice" -> DoubleType,
        "o_orderdate" -> TimestampType, "o_orderpriority" -> StringType),
      (0 until nOrders).map { i => Row(i.toLong,
        rnd.nextInt(nCustomer).toLong, Seq("P", "O", "F")(rnd.nextInt(3)),
        round2(1000 + rnd.nextDouble() * 498000),
        day(epoch0.plusDays(rnd.nextInt(2400).toLong)),
        Priorities(rnd.nextInt(Priorities.size))) })

    // lines per order: clipped-Poisson(4) shape; sequential linenumbers
    // make TraceGen's per-order rank key tie-free by construction
    write("lineitem", st("l_orderkey" -> LongType, "l_partkey" -> LongType,
        "l_suppkey" -> LongType, "l_linenumber" -> IntegerType,
        "l_quantity" -> DoubleType, "l_extendedprice" -> DoubleType,
        "l_discount" -> DoubleType, "l_tax" -> DoubleType,
        "l_returnflag" -> StringType, "l_linestatus" -> StringType,
        "l_shipdate" -> TimestampType),
      (0 until nOrders).flatMap { o =>
        val nl = math.min(13, 1 + (0 until 3)
          .map(_ => rnd.nextInt(3)).sum) // 1..7, mean ~4
        (1 to nl).map { ln => Row(o.toLong, rnd.nextInt(nPart).toLong,
          rnd.nextInt(nSupplier).toLong, ln,
          (rnd.nextInt(50) + 1).toDouble,
          round2(900 + rnd.nextDouble() * 104100),
          rnd.nextInt(11) / 100.0, rnd.nextInt(9) / 100.0,
          Seq("A", "N", "R")(rnd.nextInt(3)),
          Seq("O", "F")(rnd.nextInt(2)),
          day(epoch0.plusDays(rnd.nextInt(2500).toLong))) }
      })

    // unique ascending micro timestamps over 30 days
    val t0 = Instant.parse("2024-01-01T00:00:00Z")
    val horizon = 30L * 86400 * 1000000
    val stamps = {
      val s = scala.collection.mutable.SortedSet[Long]()
      while (s.size < nEvents) s += math.abs(rnd.nextLong()) % horizon
      s.toSeq
    }
    write("events", st("event_id" -> LongType, "ts" -> TimestampType,
        "user_id" -> LongType, "event_type" -> StringType,
        "value" -> DoubleType, "props" -> StringType),
      stamps.zipWithIndex.map { case (micros, i) => Row(i.toLong,
        ts(t0.plusNanos(micros * 1000)), rnd.nextInt(nUsers).toLong,
        EventTypes(rnd.nextInt(EventTypes.size)),
        math.max(0.01, round2(-50 * math.log(1 - rnd.nextDouble()))),
        s"""{"k": ${rnd.nextInt(100)}}""") })

    // documents: Zipf-ish draw over the shared vocabulary
    val weights = Vocab.indices.map(i => 1.0 / (i / 3 + 1))
    val cum = weights.scanLeft(0.0)(_ + _).tail
    val wSum = cum.last
    def word(): String = {
      val x = rnd.nextDouble() * wSum
      Vocab(cum.indexWhere(x <= _))
    }
    write("documents", st("doc_id" -> LongType, "text" -> StringType,
        "lang" -> StringType, "source" -> StringType, "n_chars" -> LongType),
      (0 until nDocs).map { i =>
        val text = Seq.fill(10 + rnd.nextInt(90))(word()).mkString(" ")
        Row(i.toLong, text, Langs(rnd.nextInt(Langs.size)),
          Sources(rnd.nextInt(Sources.size)), text.length.toLong) })

    // embeddings: 10 random unit centers, member = normalize(center+noise)
    val dim = 64
    def gaussian(n: Int): Array[Double] = Array.fill(n)(rnd.nextGaussian())
    def normalize(v: Array[Double]): Array[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n)
    }
    val centers = Array.fill(10)(normalize(gaussian(dim)))
    write("embeddings", st("vec_id" -> LongType,
        "embedding" -> ArrayType(FloatType), "label" -> IntegerType),
      (0 until nEmb).map { i =>
        val label = rnd.nextInt(10)
        val noise = gaussian(dim)
        val v = normalize(centers(label).zip(noise)
          .map { case (c, e) => c + 0.35 * e })
        Row(i.toLong, v.map(_.toFloat).toSeq, label) })

    spark.stop()
  }
}
