package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** Native Catalyst SimHash (Charikar 2002, "Similarity estimation
  * techniques from rounding algorithms"): 64-bit locality-sensitive
  * fingerprint of a token multiset. Near-duplicate documents differ in
  * few bits (small Hamming distance), so grouping by bit-bands finds
  * near-dup candidates without O(n²) pairing — the reference's dedup
  * use case (reference: src/Parsers/ASTFunction.h — function surface;
  * ClickHouse exposes the analogous ngramSimHash family).
  *
  * Per-token hash is the FIRST 8 BYTES OF MD5 (big-endian), not a
  * JVM-private hash, so the fingerprint is engine-portable: DuckDB
  * reproduces it exactly via CAST('0x'||substr(md5(w),1,16) AS
  * UBIGINT), which is what the f09/d03 oracles do.
  *
  * Implements eval AND doGenCode (whole-stage codegen stays intact;
  * the generated code calls the static SimHashImpl.hash — one virtual
  * call per row, the tight per-token/per-bit loops live in compiled
  * Scala, not interpreted expression trees).
  */
case class SimHash64(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"simhash64 requires array<string>, got ${other.simpleString}")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash64"

  override protected def nullSafeEval(input: Any): Any =
    SimHashImpl.hash(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = graft.functions.SimHashImpl.hash($c);")

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}

/** Static implementation target for both eval and generated code.
  * Top-level object with no companion class → Scala emits static
  * forwarders, so Janino-generated Java can call
  * `graft.functions.SimHashImpl.hash(...)` directly. */
object SimHashImpl {
  private val digest = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** First 8 bytes of md5(bytes), big-endian — matches DuckDB's
    * CAST('0x'||substr(md5(s),1,16) AS UBIGINT) bit pattern. */
  def md5First8(bytes: Array[Byte]): Long = {
    val md = digest.get()
    md.reset()
    val d = md.digest(bytes)
    java.nio.ByteBuffer.wrap(d, 0, 8).getLong
  }

  /** Null and EMPTY tokens are skipped — callers can feed a raw
    * split() without a higher-order filter() (ArrayFilter lambdas are
    * CodegenFallback and would break the whole-stage codegen span). */
  def hash(tokens: ArrayData): Long = {
    val acc = new Array[Int](64)
    val n = tokens.numElements()
    var i = 0
    while (i < n) {
      if (!tokens.isNullAt(i) && tokens.getUTF8String(i).numBytes > 0) {
        val h = md5First8(tokens.getUTF8String(i).getBytes)
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) acc(b) += 1 else acc(b) -= 1
          b += 1
        }
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) {
      if (acc(b) > 0) out |= (1L << b)
      b += 1
    }
    out
  }
}
