package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions.{call_function, lit}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}
import scala.collection.mutable

/** Bounded deterministic top-K as a native Catalyst aggregate: keeps the K
  * entries with the SMALLEST `(key, payload)` pairs, emitted as the payload
  * array in ascending key order.
  *
  * This is the scale-safe primitive behind violation-sample caps (SURVEY
  * §2.8 `limit`): a 90%-failing rule at 10¹² rows produces ~10¹² violation
  * rows, and `row_number over Window.partitionBy(rule)` would sort them all
  * in one task per rule. This aggregate's buffer is a K-bounded heap that
  * merges associatively — partial aggregation collapses each map task to
  * ≤ K entries per group BEFORE the shuffle, so the exchange carries
  * O(tasks · K) rows per rule no matter how many violations exist.
  * Spark 4.1's internal `CollectTopK` gives the same answers but took about
  * 2× as long on 8M rows over 64 groups at local[4] (1,191–1,296 vs
  * 554–720 ms, minimum times), and SQL cannot name it, so this heap stays.
  *
  * Determinism: the key is a content hash supplied by the caller, ties
  * break on the payload string — the result is a pure function of the data,
  * independent of partitioning (asserted by the partition-invariance
  * spec). NULL keys/payloads are skipped. */
case class TopKSketch(
    left: Expression,   // sort key (LONG — typically a portable content hash)
    right: Expression,  // payload (STRING)
    k: Int,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[mutable.PriorityQueue[(Long, String)]]
  with BinaryLike[Expression] {

  require(k > 0, s"need k>0, got $k")

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (left.dataType == LongType && right.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"topk_sketch needs (LONG key, STRING payload), got " +
        s"(${left.dataType.sql}, ${right.dataType.sql})")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = false

  // max-heap on (key, payload): the LARGEST entry is evicted first, so the
  // buffer converges to the K smallest
  private implicit val ord: Ordering[(Long, String)] =
    Ordering.Tuple2(Ordering.Long, Ordering.String)

  override def createAggregationBuffer(): mutable.PriorityQueue[(Long, String)] =
    mutable.PriorityQueue.empty[(Long, String)]

  private def offer(buf: mutable.PriorityQueue[(Long, String)],
      e: (Long, String)): Unit = {
    if (buf.size < k) buf.enqueue(e)
    else if (ord.lt(e, buf.head)) { buf.dequeue(); buf.enqueue(e) }
  }

  override def update(buf: mutable.PriorityQueue[(Long, String)],
      input: InternalRow): mutable.PriorityQueue[(Long, String)] = {
    val kv = left.eval(input)
    val pv = right.eval(input)
    if (kv != null && pv != null)
      offer(buf, (kv.asInstanceOf[Long], pv.asInstanceOf[UTF8String].toString))
    buf
  }

  override def merge(a: mutable.PriorityQueue[(Long, String)],
      b: mutable.PriorityQueue[(Long, String)]): mutable.PriorityQueue[(Long, String)] = {
    b.foreach(offer(a, _))
    a
  }

  override def eval(buf: mutable.PriorityQueue[(Long, String)]): Any =
    new GenericArrayData(buf.toArray.sorted(ord).map(e => UTF8String.fromString(e._2)))

  // length-prefixed raw UTF-8, NOT writeUTF: modified-UTF-8 caps payloads
  // at 65535 encoded bytes and throws UTFDataFormatException past it — an
  // arbitrary STRING payload (this function is registered session-wide)
  // must round-trip at any length
  override def serialize(buf: mutable.PriorityQueue[(Long, String)]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.size)
    buf.foreach { case (key, payload) =>
      out.writeLong(key)
      val b = payload.getBytes("UTF-8")
      out.writeInt(b.length)
      out.write(b)
    }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): mutable.PriorityQueue[(Long, String)] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val n = in.readInt()
    val buf = createAggregationBuffer()
    (0 until n).foreach { _ =>
      val key = in.readLong()
      val b = new Array[Byte](in.readInt())
      in.readFully(b)
      buf.enqueue((key, new String(b, "UTF-8")))
    }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKSketch =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKSketch =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): TopKSketch = copy(left = newLeft, right = newRight)
  override def prettyName: String = "topk_sketch"
}

object TopKSketch {

  /** Expression-list constructor of the [[graft.GraftExtensions]]
    * injection. */
  def fromExpressions(exprs: Seq[Expression]): TopKSketch =
    TopKSketch(exprs(0), exprs(1), exprs(2).eval() match {
      case i: Int => i
      case l: Long => l.toInt
      case other => throw new IllegalArgumentException(
        s"k must be an integer literal, got $other")
    })

  /** Column form of `topk_sketch` (injected by [[graft.GraftExtensions]]). */
  def topkSketch(key: Column, payload: Column, k: Int): Column =
    call_function("topk_sketch", key, payload, lit(k))
}
