package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import scala.collection.mutable

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types._

/** Bounded per-group top-k by score as a real partial aggregate — the
  * scale-safe replacement for `row_number() OVER (PARTITION BY group
  * ORDER BY score DESC)` + `rank <= k`.
  *
  * The window formulation hashes ALL of one group's candidate rows to a
  * single task and fully sorts them; with few query vectors and a large
  * corpus (the ANN-search shape) that is one task sorting the whole
  * candidate set per query. This aggregate instead keeps an O(k) buffer
  * per group, participates in map-side partial aggregation
  * (ObjectHashAggregate), so every partition reduces to at most k
  * candidates per group BEFORE the exchange — the shuffle carries
  * `partitions × k` rows per group, never the candidate set.
  *
  * Ordering is total and insertion-order independent: score DESC, id
  * ASC on ties — identical to the window it replaces, so results are
  * deterministic and engine-portable. Identical (score, id) pairs
  * collapse (each candidate id appears once per group in every ANN
  * path, so this is unobservable there).
  *
  * Children: `score` (double) and `id` (long — integral candidate
  * keys; callers cast). Rows with a null score or id are ignored.
  * Result: `array<struct<id:bigint, score:double>>`, best-first, at
  * most k elements.
  */
case class TopKByScore(
    score: Expression,
    id: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[mutable.TreeSet[(Double, Long)]] {

  require(k >= 1, s"k must be >= 1, got $k")

  override def children: Seq[Expression] = Seq(score, id)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("score", DoubleType, nullable = false))),
    containsNull = false)
  override def prettyName: String = "graft_topk_by_score"

  override def checkInputDataTypes(): TypeCheckResult =
    (score.dataType, id.dataType) match {
      case (DoubleType, LongType) => TypeCheckResult.TypeCheckSuccess
      case (s, i) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (double, bigint) children, got (${s.sql}, ${i.sql})")
    }

  override def createAggregationBuffer(): mutable.TreeSet[(Double, Long)] =
    mutable.TreeSet.empty[(Double, Long)](TopKByScore.WorstFirst)

  private def insert(buf: mutable.TreeSet[(Double, Long)],
      e: (Double, Long)): Unit = TopKByScore.insert(buf, e, k)

  override def update(buf: mutable.TreeSet[(Double, Long)],
      input: InternalRow): mutable.TreeSet[(Double, Long)] = {
    val s = score.eval(input)
    if (s != null) {
      val i = id.eval(input)
      if (i != null) insert(buf, (s.asInstanceOf[Double], i.asInstanceOf[Long]))
    }
    buf
  }

  override def merge(buf: mutable.TreeSet[(Double, Long)],
      other: mutable.TreeSet[(Double, Long)]): mutable.TreeSet[(Double, Long)] = {
    other.foreach(insert(buf, _))
    buf
  }

  /** Best-first array (score desc, id asc): position+1 IS the rank. */
  override def eval(buf: mutable.TreeSet[(Double, Long)]): Any =
    new GenericArrayData(
      buf.toSeq.reverseIterator
        .map { case (s, i) => InternalRow(i, s) }.toArray[Any])

  override def serialize(buf: mutable.TreeSet[(Double, Long)]): Array[Byte] = {
    val bytes = new ByteArrayOutputStream()
    val out = new DataOutputStream(bytes)
    out.writeInt(buf.size)
    buf.foreach { case (s, i) => out.writeDouble(s); out.writeLong(i) }
    out.flush()
    bytes.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): mutable.TreeSet[(Double, Long)] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val buf = createAggregationBuffer()
    val n = in.readInt()
    var i = 0
    while (i < n) { buf += ((in.readDouble(), in.readLong())); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKByScore =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKByScore =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): TopKByScore =
    copy(score = newChildren(0), id = newChildren(1))
}

object TopKByScore {
  /** Worst-first total order: lower score is worse; on equal score the
    * LARGER id is worse (so ties keep the smallest ids, matching
    * `ORDER BY score DESC, id ASC`). */
  private[functions] val WorstFirst: Ordering[(Double, Long)] =
    new Ordering[(Double, Long)] {
      override def compare(a: (Double, Long), b: (Double, Long)): Int = {
        val c = java.lang.Double.compare(a._1, b._1)
        if (c != 0) c else java.lang.Long.compare(b._2, a._2)
      }
    }

  private def insert(buf: mutable.TreeSet[(Double, Long)],
      e: (Double, Long), k: Int): Unit = {
    // buf is ordered worst-first, so buf.head is the current k-th best:
    // a saturated buffer rejects non-improving candidates in O(log k)
    // without add/remove churn
    if (buf.size < k) { buf += e; () }
    else if (WorstFirst.gt(e, buf.head) && buf.add(e)) {
      buf -= buf.head; ()
    }
  }

  /** One group's result computed outside a plan, for a candidate set
    * small enough to rank on the driver: the best k of `pairs`,
    * best-first, under the aggregate's order and collapse rules. */
  def best(pairs: Iterator[(Double, Long)], k: Int): Seq[(Double, Long)] = {
    require(k >= 1, s"k must be >= 1, got $k")
    val buf = mutable.TreeSet.empty[(Double, Long)](WorstFirst)
    pairs.foreach(insert(buf, _, k))
    buf.toSeq.reverse
  }

  /** Column form: bounded top-k of (score, id) per group, best-first.
    * Use via [[graft.ext.Similarity]]'s search paths. */
  def topK(score: Column, id: Column, k: Int): Column =
    Bridge.column(
      TopKByScore(Bridge.expression(score), Bridge.expression(id), k)
        .toAggregateExpression())
}
