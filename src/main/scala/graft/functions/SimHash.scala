package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** 64-bit SimHash of whitespace-tokenized text (Charikar 2002): each token is
  * hashed (FNV-1a 64); per bit, +1 if set else -1, summed over tokens; the
  * fingerprint has bit i set iff the sum is positive. Near-duplicate documents
  * have fingerprints within a small Hamming distance.
  *
  * Implemented as a native Catalyst expression with `doGenCode` (whole-stage
  * codegen emits a static call — no UDF deserialization on the hot path).
  */
object SimHash {
  final val FnvOffset = 0xcbf29ce484222325L
  final val FnvPrime  = 0x100000001b3L

  def fnv1a(bytes: Array[Byte], from: Int, until: Int): Long = {
    var h = FnvOffset
    var i = from
    while (i < until) { h ^= (bytes(i) & 0xffL); h *= FnvPrime; i += 1 }
    h
  }

  /** Static entry point used by both eval and generated code. `md5Tokens`
    * switches the per-token hash from FNV-1a 64 (production: fastest) to the
    * cross-engine 60-bit md5 prefix ([[OracleHash.hash60]]) so the DuckDB
    * oracle can replay the whole fingerprint; the SimHash construction
    * (Charikar 2002) is identical either way.
    */
  def hash64(s: UTF8String, md5Tokens: Boolean): Long = {
    val bytes = s.getBytes
    val nBits = if (md5Tokens) 60 else 64
    val counts = new Array[Int](nBits)
    var i = 0
    var tokStart = -1
    def flush(end: Int): Unit = if (tokStart >= 0) {
      val h =
        if (md5Tokens) OracleHash.hash60(java.util.Arrays.copyOfRange(bytes, tokStart, end))
        else fnv1a(bytes, tokStart, end)
      var b = 0
      while (b < nBits) {
        if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
        b += 1
      }
      tokStart = -1
    }
    while (i < bytes.length) {
      val c = bytes(i)
      // exactly RE2's \s = [\t\n\f\r ] (the oracle tokenizes with DuckDB
      // regexp_split '\s+'); note NO vertical tab — RE2 \s excludes \x0B
      val ws = c == ' ' || c == '\n' || c == '\t' || c == '\r' || c == '\f'
      if (ws) flush(i) else if (tokStart < 0) tokStart = i
      i += 1
    }
    flush(bytes.length)
    var out = 0L
    var b = 0
    while (b < nBits) { if (counts(b) > 0) out |= (1L << b); b += 1 }
    out
  }

  def hash64(s: UTF8String): Long = hash64(s, md5Tokens = false)

  def simhash64(c: Column): Column = Bridge.column(SimHash64(Bridge.expression(c)))

  /** Oracle-replayable variant: 60-bit fingerprint over hash60 tokens. */
  def simhash60(c: Column): Column =
    Bridge.column(SimHash64(Bridge.expression(c), md5Tokens = true))

  /** DuckDB SQL replaying [[simhash60]] over table `from(doc_id, text)`:
    * emits CTEs ending in `shfp(doc_id, f)` (docs with zero tokens get f=0,
    * matching the JVM loop).
    */
  def simhash60Sql(from: String): String = {
    val h = OracleHash.hash60Sql("tok")
    s"""stoks AS (
       |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
       |  FROM $from
       |), sth AS (
       |  SELECT doc_id, $h AS hh FROM stoks WHERE tok <> ''
       |), sbits AS (
       |  SELECT doc_id, b,
       |         sum(CASE WHEN (hh >> b) & 1 = 1 THEN 1 ELSE -1 END) AS s
       |  FROM sth, range(0, 60) r(b) GROUP BY 1, 2
       |), shfp AS (
       |  SELECT d.doc_id,
       |         coalesce((SELECT CAST(sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS BIGINT)
       |                   FROM sbits WHERE sbits.doc_id = d.doc_id), 0) AS f
       |  FROM (SELECT DISTINCT doc_id FROM $from) d
       |)""".stripMargin.replace("\n", " ")
  }
}

case class SimHash64(child: Expression, md5Tokens: Boolean = false)
    extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullSafeEval(v: Any): Any =
    SimHash.hash64(v.asInstanceOf[UTF8String], md5Tokens)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.SimHash.hash64($c, $md5Tokens)")
  override protected def withNewChildInternal(c: Expression): SimHash64 =
    copy(child = c)
}
