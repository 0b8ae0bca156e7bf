package graft.functions

import org.scalatest.funsuite.AnyFunSuite

import graft.gsheets.Fixtures

/** Buffer invariants of the partial top-k aggregate: bounded by 2k,
  * result sorted and tie-broken by id, merge-order independent, O(1)
  * rejection once full (round 14 moved the buffer from an
  * insertion-sorted Vector to the compact-when-full two-part layout;
  * these pins are the proof the OUTPUT contract never moved).
  */
class TopKAggSpec extends AnyFunSuite {

  private lazy val spark = Fixtures.spark
  import spark.implicits._

  private def agg = new TopKAgg(3)

  test("finish yields the sorted top-k, ties broken by smaller vec_id") {
    val items = Seq(
      ScoredVec(1, 0.5), ScoredVec(2, 0.9), ScoredVec(3, 0.1),
      ScoredVec(4, 0.9), ScoredVec(5, 0.7))
    val buf = items.foldLeft(agg.zero)(agg.reduce)
    assert(agg.finish(buf) ==
      Seq(ScoredVec(2, 0.9), ScoredVec(4, 0.9), ScoredVec(5, 0.7)))

    // Spark's double order: NaN (a zero-norm vector's cosine) is the
    // greatest score and ties with itself; -0.0 ties with 0.0. Ids are
    // compared because NaN != NaN under case-class equality.
    val odd = Seq(
      ScoredVec(11, 0.0), ScoredVec(12, Double.NaN), ScoredVec(13, -0.5),
      ScoredVec(10, -0.0), ScoredVec(15, Double.NaN), ScoredVec(16, 0.3),
      ScoredVec(14, 0.0))
    val a5 = new TopKAgg(5)
    assert(a5.finish(odd.foldLeft(a5.zero)(a5.reduce)).map(_.vec_id) ==
      Seq(12L, 15L, 16L, 10L, 11L))
    val (l, r) = odd.splitAt(3)
    assert(a5.finish(a5.merge(l.foldLeft(a5.zero)(a5.reduce),
      r.foldLeft(a5.zero)(a5.reduce))).map(_.vec_id) ==
      Seq(12L, 15L, 16L, 10L, 11L))
  }

  test("buffer parts stay bounded (sorted ≤ k, tail < k) through a long fold") {
    val items = (1 to 500).map(i => ScoredVec(i.toLong, (i * 37 % 101) / 100.0))
    var buf = agg.zero
    items.foreach { x =>
      buf = agg.reduce(buf, x)
      assert(buf.sorted.size <= 3 && buf.tail.size < 3,
        s"unbounded buffer: ${buf.sorted.size}/${buf.tail.size}")
    }
    // Same answer as a full sort.
    val expect = items.sortBy(v => (-v.cos, v.vec_id)).take(3)
    assert(agg.finish(buf) == expect)
  }

  test("below-floor inserts are reference-identical no-ops once full") {
    // k=3 acceptances compact the buffer, so the floor is live.
    val full = Seq(ScoredVec(1, 0.9), ScoredVec(2, 0.8), ScoredVec(3, 0.7))
      .foldLeft(agg.zero)(agg.reduce)
    assert(full.sorted.size == 3 && full.tail.isEmpty)
    assert(agg.reduce(full, ScoredVec(9, 0.1)) eq full)
  }

  test("merge is order-independent") {
    val xs = (1 to 20).map(i => ScoredVec(i.toLong, (i * 37 % 11) / 10.0))
    val (l, r) = xs.splitAt(7)
    val b1 = l.foldLeft(agg.zero)(agg.reduce)
    val b2 = r.foldLeft(agg.zero)(agg.reduce)
    val direct = agg.finish(xs.foldLeft(agg.zero)(agg.reduce))
    assert(agg.finish(agg.merge(b1, b2)) == direct)
    assert(agg.finish(agg.merge(b2, b1)) == direct)
  }

  test("k=1 and empty buffers behave") {
    val a1 = new TopKAgg(1)
    assert(a1.finish(a1.merge(a1.zero, a1.zero)) == Nil)
    val one = a1.reduce(a1.zero, ScoredVec(5, 0.2))
    assert(a1.finish(one) == Seq(ScoredVec(5, 0.2)))
    assert(a1.finish(a1.reduce(one, ScoredVec(6, 0.3))) ==
      Seq(ScoredVec(6, 0.3)))
  }
}
