package graft.sql

import java.io.{ByteArrayOutputStream, DataOutputStream}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, RowOrdering, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.{GenericArrayData, TypeUtils}
import org.apache.spark.sql.types._

/** K-bounded top-k aggregate: `topk_struct(s, k) -> array<struct>` keeps
  * the k LARGEST values of a struct column under Spark's natural struct
  * ordering (field by field, so callers encode "score DESC, id ASC" as
  * `struct(score, -id)`), returned sorted descending — element i IS rank
  * i+1.
  *
  * This is the scale-safe replacement for the ANN paths' per-query
  * `row_number() OVER (PARTITION BY query_id ORDER BY ...)` top-k: a
  * window moves EVERY candidate of a query to one task and sorts a
  * corpus-sized run there (single-task sort — fine at 2M vectors, a
  * killer at 10^9), while this aggregate is a bounded heap with
  * MAP-SIDE PARTIALS — each input partition reduces its candidates to
  * at most k rows locally, only k-row buffers shuffle, and the final
  * merge is O(k log k) per query. Same selection, same order (the
  * ordering is total when the struct embeds the id tie-break), so
  * results are row-identical to the window form and the DuckDB oracles
  * replay unchanged. The d31 `max(struct(...))` canonical-keep is the
  * k=1 special case of exactly this shape.
  */
case class TopKStructAgg(
    child: Expression,
    k: Int,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[java.util.PriorityQueue[InternalRow]]
  with UnaryLike[Expression] {

  require(k > 0, s"topk_struct: k must be positive, got $k")

  @transient private lazy val structType =
    child.dataType.asInstanceOf[StructType]
  @transient private lazy val ordering =
    TypeUtils.getInterpretedOrdering(structType)
  @transient private lazy val toUnsafe = UnsafeProjection.create(structType)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case st: StructType if st.fields.forall(f => RowOrdering.isOrderable(f.dataType)) =>
      TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"topk_struct requires an orderable STRUCT argument, got ${dt.sql}")
  }

  override def dataType: DataType = ArrayType(child.dataType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "topk_struct"

  override def createAggregationBuffer(): java.util.PriorityQueue[InternalRow] =
    // min-heap: the head is the WEAKEST of the current top-k, evicted
    // first when a stronger candidate arrives
    new java.util.PriorityQueue[InternalRow](math.min(k, 1024),
      (a: InternalRow, b: InternalRow) => ordering.compare(a, b)) // Ordering[Any] over struct rows

  private def offer(heap: java.util.PriorityQueue[InternalRow],
                    row: InternalRow): Unit = {
    if (heap.size < k) { val _ = heap.offer(row) }
    else if (ordering.compare(row, heap.peek()) > 0) {
      heap.poll(); val _ = heap.offer(row)
    }
  }

  override def update(heap: java.util.PriorityQueue[InternalRow],
                      input: InternalRow): java.util.PriorityQueue[InternalRow] = {
    val v = child.eval(input)
    // copy: update() may win a heap slot, and the evaluated row aliases
    // a buffer the next input overwrites
    if (v != null) offer(heap, toUnsafe(v.asInstanceOf[InternalRow]).copy())
    heap
  }

  override def merge(a: java.util.PriorityQueue[InternalRow],
                     b: java.util.PriorityQueue[InternalRow])
      : java.util.PriorityQueue[InternalRow] = {
    val it = b.iterator()
    while (it.hasNext) offer(a, it.next())
    a
  }

  /** Descending order — element i is rank i+1. */
  override def eval(heap: java.util.PriorityQueue[InternalRow]): Any = {
    val arr = new Array[InternalRow](heap.size)
    var i = heap.size - 1
    while (i >= 0) { arr(i) = heap.poll(); i -= 1 } // poll() yields ascending
    new GenericArrayData(arr.asInstanceOf[Array[Any]])
  }

  override def serialize(heap: java.util.PriorityQueue[InternalRow]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(heap.size)
    val it = heap.iterator()
    while (it.hasNext) {
      val u = it.next().asInstanceOf[UnsafeRow]
      val bytes = u.getBytes
      out.writeInt(bytes.length)
      out.write(bytes)
    }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): java.util.PriorityQueue[InternalRow] = {
    val in = new java.io.DataInputStream(new java.io.ByteArrayInputStream(bytes))
    val n = in.readInt()
    val heap = createAggregationBuffer()
    var i = 0
    while (i < n) {
      val len = in.readInt()
      val buf = new Array[Byte](len)
      in.readFully(buf)
      val row = new UnsafeRow(structType.length)
      row.pointTo(buf, len)
      heap.offer(row)
      i += 1
    }
    heap
  }

  override def withNewMutableAggBufferOffset(o: Int): TopKStructAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): TopKStructAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildInternal(c: Expression): TopKStructAgg =
    copy(child = c)
}

object TopKStructAgg {
  /** SQL builder for `topk_struct(s, k)`. */
  val build: Seq[Expression] => Expression = { exprs =>
    require(exprs.length == 2, "topk_struct expects (struct, k)")
    TopKStructAgg(exprs.head, GramHashes.litInt(exprs(1), "topk_struct k"))
  }
}
