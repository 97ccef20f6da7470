package graft.functions

import org.apache.spark.sql.{Column, Encoder, Encoders, GraftSql}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, StructType}

import scala.collection.mutable

/** Fused per-group top-k as a typed `Aggregator[IN, BUF, OUT]` — the
  * SURVEY §7 extension candidate made concrete.
  *
  * The window-function top-k (`row_number over (partition … order …)`)
  * shuffles EVERY row of a group to one reducer and sorts it; this
  * aggregator keeps a bounded k-element buffer, combines map-side
  * (partial aggregation), and ships only k rows per group per partition
  * across the wire — the right shape when k ≪ group size, which is the
  * 100 TB case (top-100 listings per state over billions of rows).
  *
  * IN = (sortKey, payload id); OUT = ids of the k largest sortKeys,
  * ties broken by smaller id (matches `orderBy(desc(key), asc(id))`).
  */
class TopKAggregator(k: Int)
    extends Aggregator[(Double, Long), mutable.ArrayBuffer[(Double, Long)], Seq[Long]] {

  private def prune(b: mutable.ArrayBuffer[(Double, Long)]): mutable.ArrayBuffer[(Double, Long)] = {
    if (b.length > k) {
      val sorted = b.sortBy { case (v, id) => (-v, id) }
      b.clear()
      b ++= sorted.take(k)
    }
    b
  }

  override def zero: mutable.ArrayBuffer[(Double, Long)] =
    mutable.ArrayBuffer.empty

  override def reduce(b: mutable.ArrayBuffer[(Double, Long)],
                      in: (Double, Long)): mutable.ArrayBuffer[(Double, Long)] = {
    b += in
    if (b.length > 4 * k) prune(b) else b // amortize sorting
  }

  override def merge(a: mutable.ArrayBuffer[(Double, Long)],
                     b: mutable.ArrayBuffer[(Double, Long)]): mutable.ArrayBuffer[(Double, Long)] =
    prune(a ++= b)

  override def finish(b: mutable.ArrayBuffer[(Double, Long)]): Seq[Long] =
    b.sortBy { case (v, id) => (-v, id) }.take(k).map(_._2).toSeq

  override def bufferEncoder: Encoder[mutable.ArrayBuffer[(Double, Long)]] =
    Encoders.kryo[mutable.ArrayBuffer[(Double, Long)]]

  override def outputEncoder: Encoder[Seq[Long]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
}

/** [[TopKAggregator]] variant that keeps the sort keys: OUT = the
  * (sortKey, id) pairs of the k LARGEST sortKeys in rank order, ties to
  * the smaller id — exactly `row_number() over (partition by group
  * order by key desc, id asc) <= k`, as a bounded PARTIAL aggregate.
  *
  * This is the ranked-IVF-assignment reducer: the window form of the
  * n×cells scan exchanges-and-SORTS every (vec, cell, csim) row — at
  * 150 k vectors × the 4096-cell clamp that is a 600 M-row sort whose
  * per-partition runs outgrow execution memory and spill multi-pass
  * (measured: 2× data → 9× task CPU, 19 GB spill, round-14 BASELINE).
  * The aggregate keeps k pairs per vector per partition, combines
  * map-side, and ships n·k rows — O(n·cells) compare work, zero sort,
  * spill-free at any corpus scale; growth past the clamp is linear in
  * n, which is the whole point of clamping the cell count.
  *
  * SESSION KNOB: object aggregation falls back to SORT-based past
  * `spark.sql.objectHashAggregate.sortBased.fallbackThreshold` distinct
  * keys per partition (default 128 — sized for huge opaque sketch
  * buffers, not this ≤k-tuple one). With the default, the ranked-IVF
  * partial agg silently re-pays the window's sort (measured: sf6 assign
  * 97 s window ≈ 76 s sort-fallback agg vs hash agg — round-14
  * BASELINE); Bench/Verify/SparkSpec sessions raise it to 4 M. Results
  * are IDENTICAL either way — the knob is purely the hash-vs-sort
  * execution strategy.
  *
  * Float discipline: the SORT KEY is normalized `v + 0.0` so a rounded
  * −0.0 orders identically to Spark SQL's window sort (the
  * NormalizeFloatingNumbers rule treats −0.0 = +0.0 in sort keys; raw
  * `Ordering[Double]` would put −0.0 first and could flip a tie) — but
  * the STORED value stays raw, exactly as the window projected it, so
  * a −0.0 csim still reaches downstream rounding untouched. */
class TopKPairsAggregator(k: Int)
    extends Aggregator[(Double, Long), mutable.ArrayBuffer[(Double, Long)],
                       Seq[(Double, Long)]] {

  // sort-key view: (key desc, id asc) with −0.0 ≡ +0.0 on the key.
  // NaN class first: Spark SQL's `ORDER BY key DESC` ranks NaN above
  // +Infinity (NaN is greatest in SQL float ordering, and all NaNs
  // compare equal — ties fall to id asc), while a naive negated Double
  // key would send NaN LAST under Scala's TotalOrdering (−NaN = NaN =
  // greatest ascending). A zero-norm embedding yields csim = 0/0 = NaN,
  // so the class must reproduce the window's NaN placement, not just
  // the finite one (ADVICE r14).
  private def rankKey(p: (Double, Long)): (Int, Double, Long) =
    if (p._1.isNaN) (0, 0.0, p._2) else (1, -(p._1 + 0.0), p._2)

  private def prune(b: mutable.ArrayBuffer[(Double, Long)]): mutable.ArrayBuffer[(Double, Long)] = {
    if (b.length > k) {
      val sorted = b.sortBy(rankKey)
      b.clear()
      b ++= sorted.take(k)
    }
    b
  }

  override def zero: mutable.ArrayBuffer[(Double, Long)] =
    mutable.ArrayBuffer.empty

  override def reduce(b: mutable.ArrayBuffer[(Double, Long)],
                      in: (Double, Long)): mutable.ArrayBuffer[(Double, Long)] = {
    b += in
    if (b.length > 4 * k) prune(b) else b
  }

  override def merge(a: mutable.ArrayBuffer[(Double, Long)],
                     b: mutable.ArrayBuffer[(Double, Long)]): mutable.ArrayBuffer[(Double, Long)] =
    prune(a ++= b)

  override def finish(b: mutable.ArrayBuffer[(Double, Long)]): Seq[(Double, Long)] =
    b.sortBy(rankKey).take(k).toSeq

  override def bufferEncoder: Encoder[mutable.ArrayBuffer[(Double, Long)]] =
    Encoders.kryo[mutable.ArrayBuffer[(Double, Long)]]

  override def outputEncoder: Encoder[Seq[(Double, Long)]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
}

/** Per-group bounded SMALLEST-k over whole rows, as a native
  * `TypedImperativeAggregate`: the `row` structs of the k smallest `key`s
  * in rank order — exactly the rows of `row_number() over (partition by
  * group order by key) <= k`, in row_number order (tied keys may take
  * either row). The buffer is a k-entry max-heap, so it is O(k) rows per
  * group per task however large the group; it combines map-side and
  * ships at most k rows per group per partition, where the window form
  * exchanges and sorts every row of every group. This is the pipeline's
  * stratified sample (top-100 listings per state under a seeded-random
  * key).
  *
  * Native rather than a typed `Aggregator` like the two above because
  * its input is a whole row: an `Aggregator` deserializes every input
  * row to a JVM `Row` (12 decoded strings per listing) before it can
  * compare the key. Here the key is compared first, and only a row that
  * enters the heap is evaluated and copied (as an `UnsafeRow`).
  *
  * Keys rank as SQL `ORDER BY key ASC` does: −0.0 ≡ +0.0 (`v + 0.0`), NaN
  * greatest, after +Infinity (`Double.compare`). The key must be a
  * non-nullable DOUBLE, so no null has to be placed. */
case class SmallestK(key: Expression, row: Expression, k: Int,
                     mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[mutable.PriorityQueue[(Double, UnsafeRow)]]
    with BinaryLike[Expression] {

  private type Heap = mutable.PriorityQueue[(Double, UnsafeRow)]

  override def left: Expression = key
  override def right: Expression = row

  override def checkInputDataTypes(): TypeCheckResult =
    (key.dataType, key.nullable, row.dataType) match {
      case (DoubleType, false, _: StructType) if k > 0 => TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"smallest_k needs a non-nullable DOUBLE key, a STRUCT row and k > 0, got " +
        s"${key.dataType.sql}${if (key.nullable) " (nullable)" else ""}, ${row.dataType.sql}, k = $k")
    }

  private def rowType = row.dataType.asInstanceOf[StructType]
  @transient private lazy val toUnsafe = UnsafeProjection.create(rowType)

  // max-heap on the key: `head` is the largest key kept
  override def createAggregationBuffer(): Heap =
    mutable.PriorityQueue.empty(Ordering.by[(Double, UnsafeRow), Double](_._1)(
      Ordering.Double.TotalOrdering))

  private def offer(heap: Heap, v: Double, r: => UnsafeRow): Unit =
    if (heap.size < k) heap.enqueue((v, r))
    else if (java.lang.Double.compare(v, heap.head._1) < 0) {
      heap.dequeue()
      heap.enqueue((v, r))
    }

  override def update(heap: Heap, input: InternalRow): Heap = {
    offer(heap, key.eval(input).asInstanceOf[Double] + 0.0,
      toUnsafe(row.eval(input).asInstanceOf[InternalRow]).copy())
    heap
  }

  override def merge(a: Heap, b: Heap): Heap = {
    b.foreach { case (v, r) => offer(a, v, r) }
    a
  }

  override def eval(heap: Heap): Any =
    new GenericArrayData(heap.toSeq.sortBy(_._1)(Ordering.Double.TotalOrdering).map(_._2))

  override def serialize(heap: Heap): Array[Byte] = {
    val bytes = new java.io.ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(bytes)
    out.writeInt(heap.size)
    heap.foreach { case (v, r) =>
      val b = r.getBytes
      out.writeDouble(v)
      out.writeInt(b.length)
      out.write(b)
    }
    out.flush()
    bytes.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): Heap = {
    val in = new java.io.DataInputStream(new java.io.ByteArrayInputStream(bytes))
    val heap = createAggregationBuffer()
    for (_ <- 0 until in.readInt()) {
      val v = in.readDouble()
      val b = new Array[Byte](in.readInt())
      in.readFully(b)
      val r = new UnsafeRow(rowType.length)
      r.pointTo(b, b.length)
      heap.enqueue((v, r))
    }
    heap
  }

  override def dataType: DataType = ArrayType(rowType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "smallest_k"

  override def withNewMutableAggBufferOffset(o: Int): SmallestK = copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): SmallestK = copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): SmallestK =
    copy(key = l, row = r)
}

object SmallestK {

  /** Column-API form: `smallest_k(key, struct(...), k)`. */
  def col(key: Column, row: Column, k: Int): Column =
    GraftSql.column(SmallestK(GraftSql.expression(key), GraftSql.expression(row), k))
}
