package graft.functions

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.gsheets.Fixtures

/** Bloom filter building blocks: no false negatives ever, bounded false
  * positives at design load, byte/long probe agreement, distributive
  * build (merge order irrelevant), and the native probe expression.
  */
class BloomSpec extends AnyFunSuite {

  private lazy val spark = Fixtures.spark
  import spark.implicits._

  private val keys = (0 until 10000).map(i => i * 2654435761L % 1000000007L)

  test("no false negatives: every added key probes true") {
    val bits = new Array[Long](1 << 11) // 2^17 bits
    keys.foreach(k => Bloom.add(bits, k, 4))
    assert(keys.forall(k => Bloom.mightContain(bits, k, 4)))
    val bytes = Bloom.toBytes(bits)
    assert(keys.forall(k => Bloom.mightContainBytes(bytes, k, 4)))
  }

  test("false-positive rate stays near design at 10k keys / 128Kbit / k=4") {
    val bits = new Array[Long](1 << 11)
    keys.foreach(k => Bloom.add(bits, k, 4))
    val keySet = keys.toSet
    val bytes = Bloom.toBytes(bits)
    val probes = (0 until 20000).map(i => 7000000000L + i * 37L)
      .filterNot(keySet)
    val fp = probes.count(k => Bloom.mightContainBytes(bytes, k, 4))
    // theoretical ~ (1-e^(-4*10000/131072))^4 ≈ 0.5% — allow 3×
    assert(fp.toDouble / probes.size < 0.015, s"fp rate ${fp.toDouble / probes.size}")
  }

  test("toBytes/fromBytes round-trips and probes agree bit-for-bit") {
    val bits = new Array[Long](16)
    keys.take(100).foreach(k => Bloom.add(bits, k, 3))
    val back = Bloom.fromBytes(Bloom.toBytes(bits))
    assert(back.toSeq == bits.toSeq)
    val bytes = Bloom.toBytes(bits)
    (0 until 5000).foreach { i =>
      val k = i * 1013L
      assert(Bloom.mightContain(bits, k, 3) == Bloom.mightContainBytes(bytes, k, 3))
    }
  }

  test("BloomAgg over a Dataset equals a sequential single-buffer build") {
    val ds = keys.toDS().repartition(8) // force partial buffers + merges
    val viaAgg = ds.select(new BloomAgg(1 << 17, 4).toColumn.name("bloom")).head()
    val seq = new Array[Long](1 << 11)
    keys.foreach(k => Bloom.add(seq, k, 4))
    assert(viaAgg.toSeq == Bloom.toBytes(seq).toSeq)
  }

  test("bloom_contains native expression filters like the scala probe") {
    val bits = new Array[Long](1 << 8)
    val member = keys.take(500)
    member.foreach(k => Bloom.add(bits, k, 4))
    val bytes = Bloom.toBytes(bits)
    val probe = (member ++ (0 until 500).map(i => 9000000000L + i)).toDF("k")
    // Compiled and interpreted: a filter over `toDF` alone would run
    // interpreted only.
    val (viaExpr, interpreted) = Codegen.inBothModes(spark)(probe
      .filter(GraftFunctions.bloomContains(lit(bytes), $"k", 4))
      .collect().map(_.getLong(0)).toSet)
    assert(viaExpr == interpreted)
    val viaScala = (member ++ (0 until 500).map(i => 9000000000L + i))
      .filter(k => Bloom.mightContainBytes(bytes, k, 4)).toSet
    assert(viaExpr == viaScala)
    assert(member.toSet.subsetOf(viaExpr)) // no false negatives through SQL either
  }
}
