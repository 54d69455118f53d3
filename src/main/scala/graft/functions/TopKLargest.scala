package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}
import scala.collection.mutable

/** Native Catalyst aggregate: `graft_topk(col, k)` — the k LARGEST
  * values of the group as a descending-sorted array.
  *
  * Why a custom TypedImperativeAggregate (SURVEY.md §7.4 preference
  * order b): the composable forms are either a per-group full sort
  * (`sort_array(collect_list(x))[0:k]` — collect_list materializes the
  * ENTIRE group on the reducer, unbounded memory on skewed keys) or a
  * rank-window + filter (a total shuffle-sort of every row). This
  * aggregate carries a bounded k-element min-heap through Spark's
  * standard two-phase aggregation: each map task reduces its partition
  * slice to ≤k values BEFORE the shuffle (partial aggregation /
  * map-side combine), reducers merge O(parts·k) candidates — per-group
  * state is O(k) everywhere regardless of group size, which is the
  * difference between working and OOMing on a 100 TB skewed key.
  *
  * The result is deterministic under any partitioning / merge order:
  * the k-largest MULTISET of a multiset is unique (ties are equal
  * values — selection ambiguity never changes the output array).
  *
  * Supported input types: int/long/float/double/string. Nulls are
  * skipped (SQL aggregate convention); an all-null/empty group yields
  * an empty array, matching `(list(x ORDER BY x DESC))[1:k]` over a
  * no-row group in the oracle dialect.
  *
  * Registered for SQL as `graft_topk` via GraftFunctions.register and
  * GraftExtensions. Whole-row top-k (keep the row) is the built-in
  * `row_number() <= k` window; this aggregate is the VALUE-ONLY form
  * usable inside any agg list alongside other aggregates.
  */
case class TopKLargest(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[mutable.PriorityQueue[Any]]
    with UnaryLike[Expression] {

  override def prettyName: String = "graft_topk"
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(child.dataType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = {
    if (k <= 0)
      return TypeCheckResult.TypeCheckFailure(s"$prettyName requires k > 0, got $k")
    child.dataType match {
      case IntegerType | LongType | FloatType | DoubleType | StringType =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName supports int/long/float/double/string input, got ${other.simpleString}")
    }
  }

  /** Total order of the input type; heap is a MIN-heap under it (head =
    * smallest retained value = eviction candidate). */
  private lazy val ord: Ordering[Any] = (child.dataType match {
    case IntegerType => Ordering.Int.on[Any](_.asInstanceOf[Int])
    case LongType => Ordering.Long.on[Any](_.asInstanceOf[Long])
    case FloatType => Ordering.Float.TotalOrdering.on[Any](_.asInstanceOf[Float])
    case DoubleType => Ordering.Double.TotalOrdering.on[Any](_.asInstanceOf[Double])
    case StringType => Ordering.ordered[UTF8String].on[Any](_.asInstanceOf[UTF8String])
    case other => throw new IllegalStateException(s"unreachable: $other")
  })

  override def createAggregationBuffer(): mutable.PriorityQueue[Any] =
    mutable.PriorityQueue.empty[Any](ord.reverse) // reverse => head is MIN

  private def offer(heap: mutable.PriorityQueue[Any], v: Any): Unit =
    if (heap.size < k) heap.enqueue(v)
    else if (ord.gt(v, heap.head)) { heap.dequeue(); heap.enqueue(v) }

  override def update(heap: mutable.PriorityQueue[Any],
                      input: InternalRow): mutable.PriorityQueue[Any] = {
    val v = child.eval(input)
    if (v != null) {
      // UTF8String from a columnar scan points into a batch-reused
      // buffer — retaining it across rows without a copy silently
      // corrupts the heap when the next batch loads (numerics box, so
      // only strings need this)
      val owned = v match {
        case s: UTF8String => s.clone()
        case other => other
      }
      offer(heap, owned)
    }
    heap
  }

  override def merge(a: mutable.PriorityQueue[Any],
                     b: mutable.PriorityQueue[Any]): mutable.PriorityQueue[Any] = {
    b.foreach(offer(a, _))
    a
  }

  override def eval(heap: mutable.PriorityQueue[Any]): Any =
    new GenericArrayData(heap.toArray.sorted(ord.reverse)) // descending

  override def serialize(heap: mutable.PriorityQueue[Any]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(heap.size)
    // type dispatch hoisted OUT of the per-element loop: every partial
    // buffer crossing the shuffle would otherwise pay k redundant
    // dataType matches on each side of the serde
    val write: Any => Unit = child.dataType match {
      case IntegerType => v => out.writeInt(v.asInstanceOf[Int])
      case LongType => v => out.writeLong(v.asInstanceOf[Long])
      case FloatType => v => out.writeFloat(v.asInstanceOf[Float])
      case DoubleType => v => out.writeDouble(v.asInstanceOf[Double])
      case StringType => v =>
        val b = v.asInstanceOf[UTF8String].getBytes
        out.writeInt(b.length); out.write(b)
      case other => throw new IllegalStateException(s"unreachable: $other")
    }
    heap.foreach(write)
    out.flush(); bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): mutable.PriorityQueue[Any] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val heap = createAggregationBuffer()
    val n = in.readInt()
    val read: () => Any = child.dataType match {
      case IntegerType => () => in.readInt()
      case LongType => () => in.readLong()
      case FloatType => () => in.readFloat()
      case DoubleType => () => in.readDouble()
      case StringType => () =>
        val b = new Array[Byte](in.readInt()); in.readFully(b)
        UTF8String.fromBytes(b)
      case other => throw new IllegalStateException(s"unreachable: $other")
    }
    var i = 0
    while (i < n) {
      heap.enqueue(read()) // ≤k values by construction; no offer() needed
      i += 1
    }
    heap
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKLargest =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKLargest =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): TopKLargest =
    copy(child = newChild)
}
