package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Word n-gram shingles of ONE document's token array, built per row.
  *
  * The shingles are `Dedup.shingles`' strings: positions 0..len−n, each
  * the n tokens joined with " " (`concat_ws`); a document of fewer than n
  * tokens is one shingle, its whole token list joined. The expressions
  * below consume them in the same row that tokenized the text, so a
  * MinHash signature and its exact-Jaccard verification set need no
  * explode, `lead` window, shuffle or per-hash `min` aggregate: one
  * document in, one value out.
  */
object Shingles {
  private val Space = UTF8String.fromString(" ")

  /** Every shingle position's string, in position order (repeats kept). */
  def of(tokens: ArrayData, n: Int): Array[UTF8String] = {
    val len = tokens.numElements()
    val toks = Array.tabulate(len)(tokens.getUTF8String)
    if (len < n) Array(UTF8String.concatWs(Space, toks: _*))
    else Array.tabulate(len - n + 1)(p =>
      UTF8String.concatWs(Space, java.util.Arrays.copyOfRange(toks, p, p + n): _*))
  }

  private[functions] def checkTokens(name: String, t: DataType): TypeCheckResult =
    t match {
      case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$name expects an array<string> of tokens, got ${other.simpleString}")
    }
}

/** A MinHash hash family: the 64-bit hash of one shingle string and the
  * per-slot xor constants. Slot i maps a shingle hash h to `h XOR c_i`, a
  * bijection of the hash space, so the slot minima are independent
  * (a modular-affine family over a folded hash is not: its "permutations"
  * are monotone in h for half the seeds). Each c_i is the md5-derived
  * long of a fixed key string, so every family is seeded and replayable.
  */
sealed abstract class MinHashFamily(val name: String) extends Serializable {
  def hash(shingle: UTF8String): Long
  protected def constKey(i: Int): String
  def consts(numHashes: Int): Array[Long] = Array.tabulate(numHashes)(i =>
    Md5Hash64.compute(constKey(i).getBytes(java.nio.charset.StandardCharsets.UTF_8)))
}

object MinHashFamily {
  /** [[Md5Hash64]] of the shingle: any engine with md5 and xor replays
    * every slot bit-for-bit (the DuckDB oracles do).
    */
  case object Md5 extends MinHashFamily("md5") {
    def hash(shingle: UTF8String): Long = Md5Hash64.compute(shingle.getBytes)
    protected def constKey(i: Int): String = s"graft-minhash#$i"
  }

  /** Spark's xxhash64 of the shingle's UTF-8 bytes with seed 42 (the value
    * `xxhash64(col)` gives): cheaper than md5, but Spark-only.
    */
  case object XxHash64 extends MinHashFamily("xxhash64") {
    def hash(shingle: UTF8String): Long = XXH64.hashUTF8String(shingle, 42L)
    protected def constKey(i: Int): String = s"graft-minhash-xx/42#$i"
  }
}

/** The MinHash signature of one document: for slot i, the minimum over its
  * shingles of `family.hash(shingle) XOR consts(i)`. The minimum is
  * invariant under shingle multiplicity, so repeated shingles are hashed
  * again rather than deduplicated first. A document always has at least
  * one shingle, so every slot is set.
  */
case class ShingleMinHash(child: Expression, n: Int, family: MinHashFamily, numHashes: Int)
  extends UnaryExpression {

  @transient private lazy val consts = family.consts(numHashes)

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    Shingles.checkTokens(prettyName, child.dataType)

  override def nullSafeEval(input: Any): Any =
    ShingleMinHash.compute(input.asInstanceOf[ArrayData], n, family, consts)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val fam = ctx.addReferenceObj("minhashFamily", family, classOf[MinHashFamily].getName)
    val cs = ctx.addReferenceObj("minhashConsts", consts, "long[]")
    nullSafeCodeGen(ctx, ev, t =>
      s"${ev.value} = graft.functions.ShingleMinHash.compute($t, $n, $fam, $cs);")
  }

  override protected def withNewChildInternal(newChild: Expression): ShingleMinHash =
    copy(child = newChild)

  // plan strings show the shingle size and the signature length
  override protected def stringArgs: Iterator[Any] = Iterator(child, n, numHashes)

  override def prettyName: String = s"shingle_minhash_${family.name}"
}

object ShingleMinHash {
  def compute(tokens: ArrayData, n: Int, family: MinHashFamily,
              consts: Array[Long]): ArrayData = {
    val sig = Array.fill(consts.length)(Long.MaxValue)
    for (s <- Shingles.of(tokens, n)) {
      val h = family.hash(s)
      var i = 0
      while (i < sig.length) {
        val v = h ^ consts(i)
        if (v < sig(i)) sig(i) = v
        i += 1
      }
    }
    ArrayData.toArrayData(sig)
  }
}

/** One document's DISTINCT shingle strings, sorted by their UTF-8 bytes
  * (the order `array_sort` gives a binary-collated string array), so two
  * sets intersect by a merge ([[SortedStringIntersectSize]]) and `size()`
  * is the set's cardinality.
  */
case class ShingleSet(child: Expression, n: Int) extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    Shingles.checkTokens(prettyName, child.dataType)

  override def nullSafeEval(input: Any): Any =
    ShingleSet.compute(input.asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, t =>
      s"${ev.value} = graft.functions.ShingleSet.compute($t, $n);")

  override protected def withNewChildInternal(newChild: Expression): ShingleSet =
    copy(child = newChild)

  override def prettyName: String = "shingle_set"
}

object ShingleSet {
  def compute(tokens: ArrayData, n: Int): ArrayData = {
    val sh = Shingles.of(tokens, n)
    java.util.Arrays.sort(sh.asInstanceOf[Array[Object]]) // UTF8String.compareTo: bytes
    var k = 0
    var i = 0
    while (i < sh.length) {
      if (k == 0 || sh(i) != sh(k - 1)) { sh(k) = sh(i); k += 1 }
      i += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(sh, k).asInstanceOf[Array[Any]])
  }
}

/** |A ∩ B| of two [[ShingleSet]] arrays (sorted by bytes, distinct, no
  * nulls) by a two-pointer merge: no per-row hash set, no result array.
  */
case class SortedStringIntersectSize(left: Expression, right: Expression)
  extends BinaryExpression {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(StringType, _), ArrayType(StringType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (a, b) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects array<string> args, got " +
          s"${a.simpleString}, ${b.simpleString}")
    }

  override def nullSafeEval(a: Any, b: Any): Any =
    SortedStringIntersectSize.compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.SortedStringIntersectSize.compute($a, $b);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedStringIntersectSize =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "sorted_string_intersect_size"
}

object SortedStringIntersectSize {
  def compute(a: ArrayData, b: ArrayData): Long = {
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0; var j = 0; var n = 0L
    while (i < na && j < nb) {
      val c = a.getUTF8String(i).compareTo(b.getUTF8String(j))
      if (c < 0) i += 1
      else if (c > 0) j += 1
      else { n += 1; i += 1; j += 1 }
    }
    n
  }
}
