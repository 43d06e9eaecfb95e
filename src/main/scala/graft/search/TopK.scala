package graft.search

import java.nio.ByteBuffer

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._

/** Bounded best-k heap over primitive arrays: the one top-k primitive.
  *
  * Rank order is the engine's ranked-list contract: score descending as
  * `java.lang.Double.compare` orders the NEGATED score (so NaN ranks
  * last and 0.0 before -0.0), then id ascending. The root holds the
  * worst kept entry, so an offer is one compare when it loses and
  * O(log k) when it wins. The arrays start small and double up to k:
  * k = corpus size on a 100-row group allocates ~100 slots, not k.
  *
  * `distinct` keeps one entry per id — the better-ranked score of a
  * repeated id. A repeat is found by scanning the kept ids, at most
  * min(k, group size) per offer: small on the retrieval paths that use
  * it, whose groups hold one query's candidates from a few clusters.
  * Exact under partial aggregation: an id whose best score belongs in
  * the global top-k is in the top-k of whichever partial saw that score.
  */
private[search] final class TopKHeap(val k: Int, val distinct: Boolean) {
  private[search] var ids = new Array[Long](math.min(k, 16))
  private[search] var scores = new Array[Double](ids.length)
  private[search] var size = 0

  def offer(id: Long, score: Double): Unit = {
    if (distinct) {
      val slot = slotOf(id)
      if (slot >= 0) {
        if (TopKHeap.before(score, id, scores(slot), id)) {
          scores(slot) = score
          siftDown(slot, size)
        }
        return
      }
    }
    if (size < k) {
      if (size == ids.length) grow()
      size += 1
      place(size - 1, id, score)
      siftUp(size - 1)
    } else if (TopKHeap.before(score, id, scores(0), ids(0))) {
      place(0, id, score)
      siftDown(0, size)
    }
  }

  def mergeFrom(other: TopKHeap): Unit = {
    var i = 0
    while (i < other.size) { offer(other.ids(i), other.scores(i)); i += 1 }
  }

  /** (ids, scores) best-first; leaves this heap untouched. */
  def sorted: (Array[Long], Array[Double]) = {
    val h = new TopKHeap(k, distinct = false)
    h.ids = java.util.Arrays.copyOf(ids, size)
    h.scores = java.util.Arrays.copyOf(scores, size)
    h.size = size
    var end = size - 1
    while (end > 0) { // heap-sort: the worst goes to the back
      val id = h.ids(end)
      val s = h.scores(end)
      h.ids(end) = h.ids(0); h.scores(end) = h.scores(0)
      h.place(0, id, s)
      h.siftDown(0, end)
      end -= 1
    }
    (h.ids, h.scores)
  }

  def toBytes: Array[Byte] = {
    val b = ByteBuffer.allocate(4 + 16 * size).putInt(size)
    var i = 0
    while (i < size) { b.putLong(ids(i)); i += 1 }
    i = 0
    while (i < size) { b.putDouble(scores(i)); i += 1 }
    b.array()
  }

  private def place(slot: Int, id: Long, score: Double): Unit = {
    ids(slot) = id
    scores(slot) = score
  }

  /** Moves the entry at `slot` toward the root while it ranks after its
    * parent. */
  private def siftUp(slot: Int): Unit = {
    val id = ids(slot)
    val s = scores(slot)
    var c = slot
    while (c > 0 && TopKHeap.before(scores((c - 1) >> 1), ids((c - 1) >> 1), s, id)) {
      val p = (c - 1) >> 1
      place(c, ids(p), scores(p))
      c = p
    }
    place(c, id, s)
  }

  /** Moves the entry at `slot` away from the root, within `[0, n)`, while
    * a child ranks after it. */
  private def siftDown(slot: Int, n: Int): Unit = {
    val id = ids(slot)
    val s = scores(slot)
    var p = slot
    var done = false
    while (!done) {
      var c = 2 * p + 1
      if (c >= n) done = true
      else {
        if (c + 1 < n && TopKHeap.before(scores(c), ids(c), scores(c + 1), ids(c + 1)))
          c += 1 // the worse child
        if (TopKHeap.before(s, id, scores(c), ids(c))) {
          place(p, ids(c), scores(c))
          p = c
        } else done = true
      }
    }
    place(p, id, s)
  }

  private def grow(): Unit = {
    val cap = math.min(k.toLong, 2L * ids.length).toInt
    ids = java.util.Arrays.copyOf(ids, cap)
    scores = java.util.Arrays.copyOf(scores, cap)
  }

  /** Heap slot of `id`, or -1. */
  private def slotOf(id: Long): Int = {
    var i = 0
    while (i < size) { if (ids(i) == id) return i; i += 1 }
    -1
  }
}

private[search] object TopKHeap {
  /** Does (s1, id1) rank strictly before (s2, id2)? */
  @inline def before(s1: Double, id1: Long, s2: Double, id2: Long): Boolean = {
    val c = java.lang.Double.compare(-s1, -s2)
    c < 0 || (c == 0 && id1 < id2)
  }

  def fromBytes(bytes: Array[Byte], k: Int, distinct: Boolean): TopKHeap = {
    val b = ByteBuffer.wrap(bytes)
    val n = b.getInt()
    val h = new TopKHeap(k, distinct)
    h.ids = new Array[Long](math.max(n, h.ids.length))
    h.scores = new Array[Double](h.ids.length)
    var i = 0
    while (i < n) { h.ids(i) = b.getLong(); i += 1 }
    i = 0
    while (i < n) { h.scores(i) = b.getDouble(); i += 1 }
    h.size = n // serialized in heap order: the invariant already holds
    h
  }
}

/** Grouped bounded top-k as a partial-aggregatable Catalyst aggregate.
  *
  * Re-expresses the reference's streaming bounded top-k — running
  * `torch.topk` over scanned doc batches (MEVI/main_models.py:3819-3876,
  * 3979-3989) — as Spark's partial+final aggregation: each map task keeps
  * one [[TopKHeap]] per group, reads id and score straight from the input
  * row, and ships it as raw bytes; merge offers one heap into the other.
  * At 100 TB this is the difference between shuffling every scored
  * (query, doc) pair and shuffling ≤ k rows per (group, map task).
  *
  * Rows with a null id or score are skipped, as SQL aggregates skip
  * nulls. Output is best-first — ARRAY<STRUCT<id, score>>, or with
  * `idsOnly` ARRAY<BIGINT> — canonical for oracle hashing.
  */
case class BoundedTopK(
    id: Expression,
    score: Expression,
    k: Int,
    distinctIds: Boolean,
    idsOnly: Boolean,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[TopKHeap]
    with ImplicitCastInputTypes with BinaryLike[Expression] {

  require(k > 0, s"top-k needs k > 0, got $k")

  override def left: Expression = id
  override def right: Expression = score
  override def inputTypes: Seq[DataType] = Seq(LongType, DoubleType)
  override def prettyName: String = "bounded_topk"

  // The nullability of the typed Aggregator this replaced: a nullable
  // result whose struct elements are marked nullable, as encoders mark
  // case classes. With the true non-null shape, the constraints Spark
  // derives downstream change, and KnnGraph.walk (a checkpointed top-k
  // graph feeding a union) failed in Union.rewriteConstraints with
  // "key not found".
  override def nullable: Boolean = true
  override def dataType: DataType =
    if (idsOnly) ArrayType(LongType, containsNull = false)
    else ArrayType(StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("score", DoubleType, nullable = false))), containsNull = true)

  override def createAggregationBuffer(): TopKHeap = new TopKHeap(k, distinctIds)

  override def update(buf: TopKHeap, row: InternalRow): TopKHeap = {
    val i = id.eval(row)
    if (i != null) {
      val s = score.eval(row)
      if (s != null) buf.offer(i.asInstanceOf[Long], s.asInstanceOf[Double])
    }
    buf
  }

  override def merge(buf: TopKHeap, other: TopKHeap): TopKHeap = {
    buf.mergeFrom(other)
    buf
  }

  override def eval(buf: TopKHeap): Any = {
    val (ids, scores) = buf.sorted
    if (idsOnly) new GenericArrayData(ids)
    else new GenericArrayData(Array.tabulate[Any](ids.length)(i =>
      InternalRow(ids(i), scores(i))))
  }

  override def serialize(buf: TopKHeap): Array[Byte] = buf.toBytes
  override def deserialize(bytes: Array[Byte]): TopKHeap =
    TopKHeap.fromBytes(bytes, k, distinctIds)

  override def withNewMutableAggBufferOffset(o: Int): BoundedTopK =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): BoundedTopK =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): BoundedTopK =
    copy(id = newLeft, score = newRight)
}

object TopK {
  private def agg(f: BoundedTopK): Column =
    ColumnBridge.column(f.toAggregateExpression())

  /** Bounded k-smallest-ids sample: `df.groupBy("h").agg(TopK.minIds(8)($"doc_id"))`
    * → `ARRAY<BIGINT>` ascending, repeated ids kept. The top-k heap under
    * a constant score (so the order is id ascending); exact over the full
    * Long domain. Replaces `sort_array(collect_list(id))` wherever the
    * group size is adversary-controlled: a group with 10⁸ members costs
    * the same k-slot heap as a group with 10.
    */
  def minIds(k: Int): Column => Column = { id =>
    agg(BoundedTopK(ColumnBridge.expression(id), Literal(0.0), k,
      distinctIds = false, idsOnly = true))
  }

  /** Untyped column form: `df.groupBy("qid").agg(TopK.topk(10)($"doc_id", $"score"))`
    * → `ARRAY<STRUCT<id BIGINT, score DOUBLE>>` ranked best-first.
    * `distinctIds` keeps one entry per id, at its better-ranked score.
    */
  def topk(k: Int, distinctIds: Boolean = false): (Column, Column) => Column = {
    (id, score) =>
      agg(BoundedTopK(ColumnBridge.expression(id), ColumnBridge.expression(score),
        k, distinctIds, idsOnly = false))
  }

  /** The canonical ranked-hit output: scored (query_id, doc_id, score) rows
    * → (query_id, rank 1-based, doc_id, score), grouped bounded top-k.
    * Single definition of the engine's ranked-list contract (tie-break,
    * rank base, column names) shared by every retrieval path; a ranking
    * built on the driver emits it through [[rankedRows]].
    * `distinctIds` folds a per-(query, doc) max-style dedup into the same
    * aggregate: one row per doc, at its better-ranked score.
    */
  def ranked(scored: DataFrame, k: Int, distinctIds: Boolean = false): DataFrame = {
    import org.apache.spark.sql.functions._
    scored
      .groupBy("query_id")
      .agg(topk(k, distinctIds)(col("doc_id"), col("score")).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("pos", "sd")))
      .select(col("query_id"), (col("pos") + 1).as("rank"),
        col("sd.id").as("doc_id"), col("sd.score").as("score"))
  }

  /** [[ranked]]'s output schema over a `query_id` of type `queryId`, as
    * Spark derives it for the retrievers' plans (every column nullable
    * but `rank`): the schema a driver-side ranking declares for its
    * [[rankedRows]]. */
  private[search] def rankedSchema(queryId: DataType): StructType = StructType(Seq(
    StructField("query_id", queryId, nullable = true),
    StructField("rank", IntegerType, nullable = false),
    StructField("doc_id", LongType, nullable = true),
    StructField("score", DoubleType, nullable = true)))

  /** [[ranked]]'s rows for one query's heap built on the driver: the
    * same column order and rank base, so a driver-side ranking keeps the
    * contract by construction. */
  private[search] def rankedRows(queryId: Any, heap: TopKHeap): Seq[Row] = {
    val (ids, scores) = heap.sorted
    ids.indices.map(j => Row(queryId, j + 1, ids(j), scores(j)))
  }
}
