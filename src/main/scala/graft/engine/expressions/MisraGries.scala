package graft.engine.expressions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import scala.collection.mutable

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions.{call_function, lit}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Misra-Gries heavy-hitters sketch: approximate top items of a string
  * column in ONE streaming pass with k counters of state — the candidate
  * stage of the scalable heavy-hitter pipeline (sketch -> exact-verify
  * candidates), replacing a full-vocabulary groupBy whose state is
  * unbounded on a 100 TB corpus.
  *
  * Guarantees (mergeable-summaries composition, so they survive Spark's
  * partial/final aggregation): any item with true count > n/(k+1) is
  * present, and each stored count c satisfies true - n/(k+1) <= c <= true.
  * Which NON-guaranteed items survive depends on partition merge order —
  * treat the output as candidates, not truth (LlmOpsSpec checks the
  * guarantee on a skewed stream).
  *
  * Returns array<struct<item string, count_lo bigint>> sorted by
  * (count_lo desc, item asc).
  */
case class MisraGries(child: Expression, k: Int,
                      mutableAggBufferOffset: Int = 0,
                      inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[mutable.HashMap[String, Long]]
    with UnaryLike[Expression] {

  require(k > 0, "k must be positive")

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("item", StringType), StructField("count_lo", LongType))))
  override def nullable: Boolean = false
  override def prettyName: String = "misra_gries"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires string input, got ${other.simpleString}")
  }

  override def createAggregationBuffer(): mutable.HashMap[String, Long] =
    mutable.HashMap.empty

  /** Weighted MG insert: the merge-compatible generalization (decrement
    * by the smaller of the new weight and the current minimum, dropping
    * zeroed counters) — O(k) only when the summary is full.
    */
  private def add(buf: mutable.HashMap[String, Long], item: String, w: Long): Unit = {
    if (w <= 0) return
    buf.get(item) match {
      case Some(c) => buf.update(item, c + w)
      case None if buf.size < k => buf.update(item, w)
      case None =>
        val m = buf.valuesIterator.min
        val d = math.min(w, m)
        buf.mapValuesInPlace((_, c) => c - d)
        buf.filterInPlace((_, c) => c > 0)
        if (w - d > 0) buf.update(item, w - d)
    }
  }

  override def update(buf: mutable.HashMap[String, Long],
                      input: InternalRow): mutable.HashMap[String, Long] = {
    val v = child.eval(input)
    if (v != null) add(buf, v.asInstanceOf[UTF8String].toString, 1L)
    buf
  }

  override def merge(b1: mutable.HashMap[String, Long],
                     b2: mutable.HashMap[String, Long]): mutable.HashMap[String, Long] = {
    b2.foreach { case (item, w) => add(b1, item, w) }
    b1
  }

  override def eval(buf: mutable.HashMap[String, Long]): Any = {
    val sorted = buf.toSeq.sortBy { case (item, c) => (-c, item) }
    new GenericArrayData(sorted.map { case (item, c) =>
      InternalRow(UTF8String.fromString(item), c)
    }.toArray[Any])
  }

  override def serialize(buf: mutable.HashMap[String, Long]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.size)
    buf.foreach { case (item, c) => out.writeUTF(item); out.writeLong(c) }
    out.flush(); bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): mutable.HashMap[String, Long] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val n = in.readInt()
    val buf = mutable.HashMap.empty[String, Long]
    (0 until n).foreach(_ => buf.update(in.readUTF(), in.readLong()))
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): MisraGries =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): MisraGries =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): MisraGries =
    copy(child = newChild)
}

object MisraGries {
  private val name = "graft_heavy_hitters"

  /** Idempotent session registration (public extension point). */
  def register(spark: SparkSession): Unit =
    graft.engine.Registration.once(spark, name)(
      exprs => MisraGries(exprs.head,
        exprs(1).eval().asInstanceOf[Int]).toAggregateExpression())

  /** Column API: the k-counter sketch of a string column as an aggregate. */
  def sketch(item: Column, k: Int): Column = call_function(name, item, lit(k))
}
