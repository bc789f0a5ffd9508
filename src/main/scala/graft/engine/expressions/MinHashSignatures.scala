package graft.engine.expressions

import java.security.MessageDigest

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.{call_function, lit}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** All `numHashes` MinHash values of a shingle set in ONE pass,
  * optionally pre-grouped into LSH band signatures.
  *
  * Semantically identical to
  * `array_min(transform(shingles, s -> md5(concat('<i>_', s))))` per
  * salt i (the formulation the DuckDB oracles use), concatenated in
  * groups of `rowsPerBand` consecutive salts when banding, but:
  *  - one traversal computes every salt's min (k× fewer array walks),
  *  - digests are compared as raw unsigned bytes (hex encoding is
  *    monotone in the digest bytes, so the winner is identical; hex is
  *    materialized only once per salt at the end),
  *  - a single MessageDigest instance is reused across elements instead
  *    of interpreted lambda allocation per element,
  *  - banding inside the expression matters for PLAN shape: projecting
  *    the raw array and concat-ing `mh[i]` slices in a later select gets
  *    collapsed by CollapseProject into one projection that re-evaluates
  *    the whole minhash loop once per element reference (measured 8×
  *    for 8 hashes). One expression → one evaluation per row.
  *
  * CodegenFallback: the md5 calls dominate; compiled loop bookkeeping
  * would not pay for the codegen complexity here.
  */
case class MinHashSignatures(child: Expression, numHashes: Int, rowsPerBand: Int = 1)
    extends UnaryExpression with CodegenFallback {

  require(numHashes % rowsPerBand == 0,
    s"numHashes ($numHashes) must be a multiple of rowsPerBand ($rowsPerBand)")

  override def dataType: DataType = ArrayType(StringType, containsNull = true)
  override def prettyName: String = "minhash_signatures"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<string>, got ${other.simpleString}")
  }

  @transient private lazy val saltBytes: Array[Array[Byte]] =
    (0 until numHashes).map(i => s"${i}_".getBytes("UTF-8")).toArray

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val md = MessageDigest.getInstance("MD5")
    val mins = new Array[Array[Byte]](numHashes)
    var e = 0
    while (e < n) {
      val s = arr.getUTF8String(e)
      if (s != null) {
        val sBytes = s.getBytes
        var i = 0
        while (i < numHashes) {
          md.reset()
          md.update(saltBytes(i))
          md.update(sBytes)
          val d = md.digest()
          if (mins(i) == null || unsignedCompare(d, mins(i)) < 0) mins(i) = d
          i += 1
        }
      }
      e += 1
    }
    val bands = numHashes / rowsPerBand
    val out = new Array[AnyRef](bands)
    var b = 0
    while (b < bands) {
      // concat() of any null digest is null (empty input sets) — matches
      // the Column-API formulation exactly.
      var sb = new java.lang.StringBuilder(32 * rowsPerBand)
      var r = 0
      while (r < rowsPerBand && sb != null) {
        val m = mins(b * rowsPerBand + r)
        if (m == null) sb = null else appendHex(sb, m)
        r += 1
      }
      out(b) = if (sb == null) null else UTF8String.fromString(sb.toString)
      b += 1
    }
    new GenericArrayData(out)
  }

  private def unsignedCompare(a: Array[Byte], b: Array[Byte]): Int = {
    var i = 0
    while (i < a.length && i < b.length) {
      val c = (a(i) & 0xff) - (b(i) & 0xff)
      if (c != 0) return c
      i += 1
    }
    a.length - b.length
  }

  private def appendHex(sb: java.lang.StringBuilder, bytes: Array[Byte]): Unit =
    bytes.foreach { b => sb.append(Character.forDigit((b >> 4) & 0xf, 16))
      .append(Character.forDigit(b & 0xf, 16)) }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MinHashSignatures {
  private val name = "graft_minhashes"

  /** Idempotent session registration (public extension point). */
  def register(spark: SparkSession): Unit =
    graft.engine.Registration.once(spark, name)(
      exprs => MinHashSignatures(exprs.head,
        exprs(1).eval().asInstanceOf[Int],
        if (exprs.length > 2) exprs(2).eval().asInstanceOf[Int] else 1))

  /** Column API: array of `bands` LSH band signatures — each the concat of
    * `rowsPerBand` consecutive MinHash hex digests.
    */
  def bandSignatures(shingles: Column, bands: Int, rowsPerBand: Int): Column =
    call_function(name, shingles, lit(bands * rowsPerBand), lit(rowsPerBand))
}
