package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Content-defined chunking (CDC) — the dedup primitive that splits a
  * byte/char stream at positions chosen by a rolling hash of the last
  * `w` characters, so chunk boundaries survive insertions and deletions
  * (unlike fixed-size blocks, where one inserted byte shifts every
  * subsequent boundary). The standard first stage of large-corpus
  * near-duplicate and delta-dedup pipelines (LBFS/rsync lineage;
  * FastCDC is the modern production variant of the same idea).
  *
  * The rolling hash is gear-style: H_i = Σ_{j=0}^{w-1} g(c_{i-j})·2^j,
  * maintained in O(1) per character. Per-character weights g(c) are the
  * low 30 bits of md5("g:" + c) — deterministic and recomputable in any
  * SQL dialect (same trick as `TextOps.md5Hash60`), which
  * is what lets a DuckDB oracle replicate boundaries bit-for-bit. With
  * w ≤ 8 every H fits exactly in a signed 64-bit integer (< 2^38), so
  * there is no modular wraparound to disagree on. A position i ≥ w is a
  * boundary iff H_i has its low `maskBits` bits zero → expected chunk
  * length ≈ 2^maskBits.
  *
  * Positions are 1-based characters (SQL `substr` convention). Java
  * chars = UTF-16 units, so supplementary-plane codepoints count as two
  * positions; the canonical corpus is ASCII and SQL engines count
  * codepoints — keep non-BMP text out of oracle comparisons.
  */
object Cdc {

  /** Low 30 bits of md5("g:" + c): the per-character gear weight. */
  def gear(c: Char): Long = {
    val cached = gearCache.get(c)
    if (cached ne null) cached.longValue()
    else {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(("g:" + c).getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString
      val v = java.lang.Long.parseLong(hex.substring(0, 15), 16) % (1L << 30)
      gearCache.putIfAbsent(c, java.lang.Long.valueOf(v))
      v
    }
  }
  private val gearCache = new java.util.concurrent.ConcurrentHashMap[Character, java.lang.Long]()

  /** One linear pass: (start, len) for every chunk of `text` (1-based,
    * final chunk always closed at the string end; empty text → no
    * chunks). Called from generated code via the static forwarder, so
    * the enclosing projection stays inside whole-stage codegen. */
  def chunkBounds(text: UTF8String, w: Int, maskBits: Int): ArrayData = {
    val s = text.toString
    val n = s.length
    val mask = (1L << maskBits) - 1
    val out = scala.collection.mutable.ArrayBuffer[InternalRow]()
    val ring = new Array[Long](w)
    var h = 0L
    var start = 1
    var i = 0
    while (i < n) {
      val g = gear(s.charAt(i))
      h = (h << 1) + g - (ring(i % w) << w)
      ring(i % w) = g
      val pos = i + 1 // 1-based char position = window end
      if (pos >= w && (h & mask) == 0L) {
        out += new GenericInternalRow(Array[Any](start, pos - start + 1))
        start = pos + 1
        // a boundary resets nothing: the window keeps rolling (chunks
        // stay content-defined across the cut, the property that makes
        // boundaries insertion-stable)
      }
      i += 1
    }
    if (start <= n) out += new GenericInternalRow(Array[Any](start, n - start + 1))
    new GenericArrayData(out.toArray[Any])
  }

  /** Column helper: `array<struct<start:int,len:int>>` of CDC chunks. */
  def bounds(text: Column, w: Int = 8, maskBits: Int = 6): Column =
    column(CdcChunkBounds(expression(text), w, maskBits))
}

/** `string` → `array<struct<start:int,len:int>>`, one row-local linear
  * scan (no shuffle, no per-character row blowup — the O(n·w) explode
  * formulation exists only in the DuckDB oracle). */
case class CdcChunkBounds(child: Expression, w: Int, maskBits: Int)
    extends UnaryExpression {
  require(w >= 1 && w <= 8, s"window must be 1..8 chars (H exactness), got $w")
  require(maskBits >= 1 && maskBits <= 24, s"maskBits must be 1..24, got $maskBits")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"cdc_chunk_bounds needs string, got $other")
  }

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("start", IntegerType, nullable = false),
    StructField("len", IntegerType, nullable = false))), containsNull = false)
  override def prettyName: String = "cdc_chunk_bounds"

  override protected def nullSafeEval(input: Any): Any =
    Cdc.chunkBounds(input.asInstanceOf[UTF8String], w, maskBits)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.Cdc.chunkBounds($c, $w, $maskBits);")

  override protected def withNewChildInternal(newChild: Expression): CdcChunkBounds =
    copy(child = newChild)
}
