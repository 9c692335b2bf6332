package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BinaryType, DataType, LongType}

/** The engine's cross-engine 64-bit hash (first 8 md5 digest bytes as a
  * big-endian signed long) as a native codegen'd expression.
  *
  * Bit-identical to the declarative composition
  * `conv(hex[1..8],16,10) << 32 | conv(hex[9..16],16,10)`, which
  * assembles exactly the first 8 digest bytes in two's complement, but
  * skips the intermediate hex string encode and the two base-16 string
  * parses per value (TextDedupSpec pins equality on random strings). The dedup/shard/sampling layer computes this hash
  * per shingle × per hash-family member, so the string round-trip is
  * measurable there; the DuckDB oracles are unaffected because the
  * VALUE is unchanged (they replay it via HUGEINT arithmetic on md5
  * hex, `OracleSql.md5Hash64Sql`).
  */
case class Md5Hash64(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"md5hash64 expects a binary argument, got ${other.simpleString}")
  }

  override def nullSafeEval(input: Any): Any =
    Md5Hash64.compute(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.Md5Hash64.compute($c);")

  override protected def withNewChildInternal(newChild: Expression): Md5Hash64 =
    copy(child = newChild)

  override def prettyName: String = "md5hash64"
}

object Md5Hash64 {
  // MessageDigest is stateful and not thread-safe; one per task thread.
  private val digests = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  def compute(bytes: Array[Byte]): Long = {
    val d = digests.get()
    d.reset()
    val dig = d.digest(bytes)
    // first 8 digest bytes, big-endian two's complement — identical to
    // (unsigned hi32 << 32) | unsigned lo32 from the hex composition
    java.nio.ByteBuffer.wrap(dig, 0, 8).getLong
  }
}
