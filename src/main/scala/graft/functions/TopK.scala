package graft.functions

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator

/** One (candidate, score) pair entering the top-k aggregate. */
final case class ScoredVec(vec_id: Long, cos: Double)

/** Top-k aggregation buffer: a compacted sorted prefix (≤ k, by
  * (cos desc, vec_id asc)) plus an UNSORTED accepted tail (≤ k-1 —
  * `reduce` compacts the moment the tail reaches k, so the maintained
  * buffer bound is 2k-1 rows; `TopKAggSpec` asserts tail < k). The
  * two-part layout is what makes per-row cost amortized O(log k)
  * instead of O(k): accepted rows APPEND (O(1) on Vector) and the
  * buffer re-sorts only once per k acceptances — the round-14 q142
  * serving witness measured the old insertion-sorted buffer's O(k)
  * per-accepted-row copy as the dominant constant at the policy's
  * S = 4,000 shortlist (S²/2 element moves per query while the buffer
  * fills; SCALE.md §9.7).
  */
final case class TopKBuf(sorted: Vector[ScoredVec], tail: Vector[ScoredVec])

/** Partial-aggregating top-k by (score desc, id asc) — the UDAF surface
  * (SURVEY §2.2) and the scale-correct alternative to a
  * `row_number().over(Window.partitionBy(query))` top-k: the window form
  * shuffles and sorts EVERY scored pair (at 100 TB: the full n×q score
  * matrix), while an Aggregator keeps at most 2k rows per group per map
  * task and merges bounded buffers on the reduce side — shuffle volume
  * is O(groups × k), independent of candidate count.
  *
  * The buffer invariant: `sorted` holds at most k rows in (cos desc,
  * vec_id asc) order; `tail` holds at most k-1 accepted-but-unsorted
  * rows. Once `sorted` is full its last element is the FLOOR — a row
  * that doesn't beat it is rejected in O(1) (the common case); a row
  * that does APPENDS to the tail, and a full tail triggers one
  * sort-and-trim compaction. The top-k set under the strict total order
  * (cos desc, vec_id asc) is arrival-order independent, so the result
  * is deterministic for any merge schedule — `TopKAggSpec` pins it
  * against the window formulation, and the q25b/q142 oracles pin it
  * cross-engine.
  */
final class TopKAgg(k: Int)(implicit seqEnc: Encoder[Seq[ScoredVec]])
  extends Aggregator[ScoredVec, TopKBuf, Seq[ScoredVec]] {

  /** Spark's double order (NaN greatest and equal to itself, -0.0 equal
    * to 0.0 — what a DESC sort or rank window does), then the smaller
    * vec_id: a total order, so a zero-norm vector's NaN cosine ranks
    * first instead of being dropped or breaking the sort. */
  private def better(a: ScoredVec, b: ScoredVec): Boolean = {
    val c = if (a.cos == b.cos) 0 else java.lang.Double.compare(a.cos, b.cos)
    c > 0 || (c == 0 && a.vec_id < b.vec_id)
  }

  private def compact(buf: TopKBuf): TopKBuf =
    if (buf.tail.isEmpty) buf
    else TopKBuf((buf.sorted ++ buf.tail).sortWith(better).take(k),
      Vector.empty)

  override def zero: TopKBuf = TopKBuf(Vector.empty, Vector.empty)

  override def reduce(buf: TopKBuf, in: ScoredVec): TopKBuf =
    if (buf.sorted.size >= k && !better(in, buf.sorted(k - 1))) buf
    else {
      val grown = TopKBuf(buf.sorted, buf.tail :+ in)
      if (grown.tail.size >= k) compact(grown) else grown
    }

  override def merge(b1: TopKBuf, b2: TopKBuf): TopKBuf =
    compact(TopKBuf(Vector.empty,
      b1.sorted ++ b1.tail ++ b2.sorted ++ b2.tail))

  override def finish(buf: TopKBuf): Seq[ScoredVec] = compact(buf).sorted

  // Buffer rides the shuffle opaquely (kryo); the OUTPUT uses the
  // product-seq encoder so callers get a real array<struct<vec_id,cos>>
  // column they can posexplode.
  override def bufferEncoder: Encoder[TopKBuf] = Encoders.kryo[TopKBuf]

  override def outputEncoder: Encoder[Seq[ScoredVec]] = seqEnc
}
