package graft.sql

import java.io.{ByteArrayOutputStream, DataOutputStream}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** Cap-bounded set collection: `collect_capped(x, cap) -> array<bigint>`
  * returns the group's values SORTED ASCENDING when the group holds at
  * most `cap` rows, and NULL when it holds more — i.e. exactly
  * `CASE WHEN count(*) <= cap THEN sort_array(collect_list(x)) END`
  * with BOUNDED state: the buffer stores at most cap+1 values no matter
  * how many rows the group has (the true count keeps counting, so
  * over-cap groups are detected exactly), where a plain collect_list
  * holds the whole group in memory before the HAVING can drop it.
  *
  * This is the LSH bucket-cap shape (TextOps.lshCandidates): buckets
  * past the cap are dropped whole, surviving buckets expand into
  * candidate pairs. One grouped aggregate with map-side partials
  * replaces the count-aggregate + hot-key anti-join + self-join chain,
  * and the degenerate 10^6-member boilerplate bucket that motivates the
  * cap costs cap+1 longs of buffer, not 10^6.
  */
case class CollectCappedAgg(
    child: Expression,
    cap: Int,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[CollectCappedAgg.Buf]
  with UnaryLike[Expression] {

  require(cap > 0, s"collect_capped: cap must be positive, got $cap")

  // storage limit = cap + 1, saturating (cap = Int.MaxValue must not wrap)
  @transient private lazy val limit: Int =
    math.min(cap.toLong + 1, Int.MaxValue).toInt

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case LongType => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"collect_capped requires a BIGINT argument, got ${dt.sql}")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "collect_capped"

  override def createAggregationBuffer(): CollectCappedAgg.Buf =
    new CollectCappedAgg.Buf(new Array[Long](math.min(limit, 16)), 0, 0L)

  private def add(buf: CollectCappedAgg.Buf, v: Long): Unit = {
    buf.n += 1
    if (buf.stored < limit) {
      if (buf.stored == buf.values.length) {
        val grown = new Array[Long](
          math.min(buf.values.length.toLong * 2, limit.toLong).toInt)
        System.arraycopy(buf.values, 0, grown, 0, buf.stored)
        buf.values = grown
      }
      buf.values(buf.stored) = v
      buf.stored += 1
    }
  }

  override def update(buf: CollectCappedAgg.Buf,
                      input: InternalRow): CollectCappedAgg.Buf = {
    val v = child.eval(input)
    if (v != null) add(buf, v.asInstanceOf[Long])
    buf
  }

  override def merge(a: CollectCappedAgg.Buf,
                     b: CollectCappedAgg.Buf): CollectCappedAgg.Buf = {
    var i = 0
    while (i < b.stored) { add(a, b.values(i)); i += 1 }
    a.n += b.n - b.stored // rows b counted but did not store
    a
  }

  override def eval(buf: CollectCappedAgg.Buf): Any = {
    if (buf.n > cap) null
    else {
      val out = java.util.Arrays.copyOf(buf.values, buf.stored)
      java.util.Arrays.sort(out)
      new GenericArrayData(out)
    }
  }

  override def serialize(buf: CollectCappedAgg.Buf): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeLong(buf.n)
    out.writeInt(buf.stored)
    var i = 0
    while (i < buf.stored) { out.writeLong(buf.values(i)); i += 1 }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): CollectCappedAgg.Buf = {
    val in = new java.io.DataInputStream(new java.io.ByteArrayInputStream(bytes))
    val n = in.readLong()
    val stored = in.readInt()
    val values = new Array[Long](math.max(stored, 1))
    var i = 0
    while (i < stored) { values(i) = in.readLong(); i += 1 }
    new CollectCappedAgg.Buf(values, stored, n)
  }

  override def withNewMutableAggBufferOffset(o: Int): CollectCappedAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): CollectCappedAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildInternal(c: Expression): CollectCappedAgg =
    copy(child = c)
}

object CollectCappedAgg {
  /** Mutable buffer: `values(0 until stored)` holds the first at-most
    * cap+1 values seen; `n` is the TRUE group row count.
    */
  final class Buf(var values: Array[Long], var stored: Int, var n: Long)

  /** SQL builder for `collect_capped(x, cap)`. */
  val build: Seq[Expression] => Expression = { exprs =>
    require(exprs.length == 2, "collect_capped expects (x, cap)")
    CollectCappedAgg(exprs.head, GramHashes.litInt(exprs(1), "collect_capped cap"))
  }
}
