package org.apache.spark.sql.graftbridge

import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{AbstractDataType, ArrayType, DataType, DoubleType, LongType}

/** Bounded top-k aggregate: keeps the k best `(score, id)` pairs under the
  * total order (score DESC, id ASC) and evaluates to the ids in rank order.
  *
  * This replaces the sort + row_number window shape for per-key top-k on an
  * unbounded candidate stream (guide §3/§5): the window plan must SORT every
  * candidate row per partition before `WindowGroupLimit` can cap the output,
  * i.e. O(g·log g) comparisons and a full materialization of each group,
  * while this buffer holds exactly k entries per key at all times — O(g·k)
  * with k constant and no sort anywhere. For q43's brute-force cosine stream
  * the group size g is n−1, so the window's per-partition sort was the last
  * super-linear step left in the plan.
  *
  * Ordering semantics match Spark's SQL sort on (score DESC NULLS LAST,
  * id ASC): doubles compare with NaN greater than every value and all NaNs
  * equal (`nanSafeCompareDoubles`), a null score ranks after every non-null
  * one, and ties break on ascending id. A row with a null id is skipped, as
  * the ids are the output; q43's ids are non-null vec_ids, while its scores
  * are null wherever a vector is.
  *
  * The merge path makes partial aggregation safe: map-side buffers of ≤ k
  * entries merge by replaying one buffer's entries into the other, so the
  * shuffle moves at most k ids + k doubles per (key, map partition).
  */
case class TopKIds(
    score: Expression,
    id: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0,
) extends TypedImperativeAggregate[TopKIds.Buffer]
    with ExpectsInputTypes
    with BinaryLike[Expression] {

  require(k > 0, s"topKIds needs k > 0, got $k")

  override def left: Expression  = score
  override def right: Expression = id

  override def inputTypes: Seq[AbstractDataType] = Seq(DoubleType, LongType)

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullable: Boolean = false

  override def prettyName: String = "topk_ids"

  override def createAggregationBuffer(): TopKIds.Buffer = new TopKIds.Buffer(k)

  override def update(buf: TopKIds.Buffer, input: InternalRow): TopKIds.Buffer = {
    val i = id.eval(input)
    if (i != null) score.eval(input) match {
      case null      => buf.insert(0.0, i.asInstanceOf[Long], isNull = true)
      case s: Double => buf.insert(s, i.asInstanceOf[Long])
    }
    buf
  }

  override def merge(buf: TopKIds.Buffer, other: TopKIds.Buffer): TopKIds.Buffer = {
    var j = 0
    while (j < other.n) { buf.insert(other.scores(j), other.ids(j), other.nulls(j)); j += 1 }
    buf
  }

  override def eval(buf: TopKIds.Buffer): Any = {
    val out = new Array[Long](buf.n)
    System.arraycopy(buf.ids, 0, out, 0, buf.n)
    new GenericArrayData(out)
  }

  override def serialize(buf: TopKIds.Buffer): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + 17 * buf.n)
    bb.putInt(buf.n)
    var j = 0
    while (j < buf.n) {
      bb.putDouble(buf.scores(j)).putLong(buf.ids(j)).put((if (buf.nulls(j)) 1 else 0).toByte)
      j += 1
    }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): TopKIds.Buffer = {
    val bb  = ByteBuffer.wrap(bytes)
    val n   = bb.getInt()
    val buf = new TopKIds.Buffer(k)
    var j = 0
    while (j < n) {
      val s = bb.getDouble()
      val i = bb.getLong()
      // entries arrive already rank-ordered; insert preserves that cheaply
      buf.insert(s, i, isNull = bb.get() != 0)
      j += 1
    }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKIds =
    copy(mutableAggBufferOffset = newOffset)

  override def withNewInputAggBufferOffset(newOffset: Int): TopKIds =
    copy(inputAggBufferOffset = newOffset)

  override protected def withNewChildrenInternal(
      newLeft: Expression,
      newRight: Expression,
  ): TopKIds = copy(score = newLeft, id = newRight)
}

object TopKIds {

  /** Spark's double sort order: every NaN compares greater than any non-NaN
    * and all NaNs are mutually equal (so ties fall through to the id). ±0.0
    * compare equal, as in SQL sort keys after float normalization.
    */
  private def cmpScore(x: Double, y: Double): Int =
    if (x < y) -1
    else if (x > y) 1
    else {
      val xn = java.lang.Double.isNaN(x)
      val yn = java.lang.Double.isNaN(y)
      if (xn == yn) 0 else if (xn) 1 else -1
    }

  /** Fixed-capacity rank-ordered buffer: slot 0 is the current best
    * (score DESC NULLS LAST, id ASC); `nulls(j)` marks a null score, whose
    * `scores(j)` is unused. Insertion shifts at most k−1 entries — k is a
    * small constant (3 for q43), so this is branch-cheap and allocation-free.
    */
  final class Buffer(val k: Int) {
    val scores = new Array[Double](k)
    val nulls  = new Array[Boolean](k)
    val ids    = new Array[Long](k)
    var n      = 0

    /** True iff (s1,i1), null iff `n1`, ranks strictly before entry `j`. */
    private def beats(n1: Boolean, s1: Double, i1: Long, j: Int): Boolean = {
      val c =
        if (n1 || nulls(j)) java.lang.Boolean.compare(nulls(j), n1)
        else cmpScore(s1, scores(j))
      c > 0 || (c == 0 && i1 < ids(j))
    }

    /** Offers the entry (`s`, `i`), whose score is null iff `isNull`. */
    def insert(s: Double, i: Long, isNull: Boolean = false): Unit = {
      if (n == k && !beats(isNull, s, i, n - 1)) return
      // find insertion position among the current n entries
      var pos = n
      while (pos > 0 && beats(isNull, s, i, pos - 1)) pos -= 1
      val last = math.min(n, k - 1) // index that shifting may write up to
      var j    = last
      while (j > pos) {
        scores(j) = scores(j - 1)
        nulls(j) = nulls(j - 1)
        ids(j) = ids(j - 1)
        j -= 1
      }
      scores(pos) = s
      nulls(pos) = isNull
      ids(pos) = i
      if (n < k) n += 1
    }
  }
}

object TopKFunctions {

  /** Aggregate column: ids of the k (score DESC, id ASC)-best rows, rank
    * ordered. Equivalent to `row_number() OVER (ORDER BY score DESC, id)`
    * filtered to ≤ k and collected in rank order — without sorting the group.
    */
  def topKIds(score: Column, id: Column, k: Int): Column =
    Bridge.column(
      TopKIds(Bridge.expression(score), Bridge.expression(id), k).toAggregateExpression(),
    )
}
