package graft.expressions

import java.nio.charset.StandardCharsets
import java.security.MessageDigest
import java.util.regex.Pattern

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import graft.ops.DedupOps

/** One-pass MinHash signature runtime shared by eval and codegen.
  *
  * Semantics are EXACTLY the composable-builtin construction the DuckDB
  * oracle mirrors (`DedupOps.signaturesRelational`): tokens =
  * `split(trim(text), "\s+")` (trim strips 0x20 only, Java-regex split,
  * limit -1); word `shingleSize`-grams space-joined (documents shorter than
  * one shingle contribute their whole token join); base hash = first 8 hex
  * chars of md5 as an unsigned 32-bit value mod P; component i =
  * min over shingles of (base·a_i + b_i) mod P.
  *
  * Two scale wins over the relational form: the shingle array is never
  * materialized (one rolling StringBuilder per row), and no
  * explode + groupBy — the per-doc min runs inside the row scan, so the
  * signature relation needs ZERO exchanges. Shingle dedup is dropped
  * entirely: min over the shingle multiset equals min over the set.
  */
object MinHashRuntime {
  private val Ws: Pattern = Pattern.compile("\\s+")
  private val Md5 = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest = MessageDigest.getInstance("MD5")
  }

  /** Spark's `trim`: leading/trailing 0x20 space characters only. */
  private def trimSpaces(s: String): String = {
    var from = 0
    var until = s.length
    while (from < until && s.charAt(from) == ' ') from += 1
    while (until > from && s.charAt(until - 1) == ' ') until -= 1
    s.substring(from, until)
  }

  /** First 8 hex chars of md5(s) as an unsigned 32-bit value, mod P —
    * identical to `conv(substring(md5(s), 1, 8), 16, 10) % P`. */
  def baseHash(s: String): Long = {
    val d = Md5.get().digest(s.getBytes(StandardCharsets.UTF_8))
    val v = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
      ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
    v % DedupOps.MinhashP
  }

  private def fold(mins: Array[Long], shingle: String, a: Array[Long],
                   b: Array[Long]): Unit = {
    val h = baseHash(shingle)
    var i = 0
    while (i < mins.length) {
      val v = (h * a(i) + b(i)) % DedupOps.MinhashP
      if (v < mins(i)) mins(i) = v
      i += 1
    }
  }

  /** Word n-gram array of one document (space-joined `shingleSize`-grams of
    * the whitespace tokens; shorter docs yield the single whole-token join).
    * Called from generated code. */
  def wordGrams(text: UTF8String, shingleSize: Int): ArrayData = {
    val toks = Ws.split(trimSpaces(text.toString), -1)
    val n = if (shingleSize < 1) 1 else shingleSize
    if (toks.length < n) {
      ArrayData.toArrayData(Array(UTF8String.fromString(String.join(" ", toks: _*))))
    } else {
      val out = new Array[UTF8String](toks.length - n + 1)
      val sb = new java.lang.StringBuilder(32)
      var s = 0
      while (s < out.length) {
        sb.setLength(0)
        var j = 0
        while (j < n) {
          if (j > 0) sb.append(' ')
          sb.append(toks(s + j))
          j += 1
        }
        out(s) = UTF8String.fromString(sb.toString)
        s += 1
      }
      ArrayData.toArrayData(out)
    }
  }

  /** Full signature of one document. Called from generated code. */
  def compute(text: UTF8String, a: Array[Long], b: Array[Long],
              shingleSize: Int): ArrayData = {
    val toks = Ws.split(trimSpaces(text.toString), -1)
    val k = a.length
    val mins = new Array[Long](k)
    java.util.Arrays.fill(mins, Long.MaxValue)
    val n = if (shingleSize < 1) 1 else shingleSize
    if (toks.length < n) {
      fold(mins, String.join(" ", toks: _*), a, b)
    } else {
      val sb = new java.lang.StringBuilder(32)
      var s = 0
      val last = toks.length - n
      while (s <= last) {
        sb.setLength(0)
        var j = 0
        while (j < n) {
          if (j > 0) sb.append(' ')
          sb.append(toks(s + j))
          j += 1
        }
        fold(mins, sb.toString, a, b)
        s += 1
      }
    }
    ArrayData.toArrayData(mins)
  }
}

/** Native one-pass MinHash signature of a text column: `array<long>` of
  * `numHashes` components over word `shingleSize`-grams. See
  * [[MinHashRuntime]] for the exact (oracle-mirrored) semantics and
  * [[DedupOps.signaturesRelational]] for the composable form it replaces on
  * the hot path (higher-order functions evaluate lambdas interpreted and
  * break whole-stage codegen; this expression stays inside the generated
  * stage and needs no explode/groupBy).
  */
case class MinHashSignature(child: Expression, numHashes: Int,
                            shingleSize: Int) extends UnaryExpression {
  private lazy val (aArr, bArr) = {
    val ps = DedupOps.minhashParams(numHashes)
    (ps.map(_._1).toArray, ps.map(_._2).toArray)
  }

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"minhash_sig requires a string input, got ${t.sql}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_sig"

  override def nullSafeEval(t: Any): Any =
    MinHashRuntime.compute(t.asInstanceOf[UTF8String], aArr, bArr, shingleSize)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val aRef = ctx.addReferenceObj("minhashA", aArr, "long[]")
    val bRef = ctx.addReferenceObj("minhashB", bArr, "long[]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.expressions.MinHashRuntime.compute($c, $aRef, $bRef, $shingleSize);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Native word n-gram array of a text column: `array<string>` of space-joined
  * `shingleSize`-grams, built with one rolling StringBuilder per row.
  * Semantics match [[graft.ops.DedupOps.shingles]] exactly (tokens =
  * `split(trim(text), "\s+")`; documents shorter than one shingle yield the
  * single whole-token join) — the composable form routes every gram through
  * interpreted higher-order functions (`transform`+`slice`+`concat_ws`),
  * which profiling showed costs ~2.6 s per sf0.1 scan vs ~0.2 s here. */
case class WordGrams(child: Expression, shingleSize: Int)
  extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"word_grams requires a string input, got ${t.sql}")
  }
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "word_grams"

  override def nullSafeEval(t: Any): Any =
    MinHashRuntime.wordGrams(t.asInstanceOf[UTF8String], shingleSize)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.expressions.MinHashRuntime.wordGrams($c, $shingleSize);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MinHashExpressions {
  /** Column-level entry point used by [[DedupOps.signatures]]. */
  def minhashSig(text: Column, numHashes: Int, shingleSize: Int): Column =
    GraftBridge.column(
      MinHashSignature(GraftBridge.expression(text), numHashes, shingleSize))

  /** Column-level entry point for the native word-gram array. */
  def wordGrams(text: Column, shingleSize: Int): Column =
    GraftBridge.column(WordGrams(GraftBridge.expression(text), shingleSize))
}
