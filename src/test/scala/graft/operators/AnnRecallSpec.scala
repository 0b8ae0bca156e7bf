package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.gsheets.Fixtures

/** Retrieval-quality gate for the ANN family (VERDICT r6 #4): an
  * approximate method can be oracle-exact on its own contract and
  * still retrieve none of the TRUE neighbors — exactly what happened
  * before round 7 (single-bucket LSH recall@5 = 0.0, raw-ADC PQ 0.04).
  * Ground truth is exact brute force: q25's cosine top-5 for LSH/IVF,
  * an in-spec exact-L2 scan for PQ (which ranks by L2 distance).
  *
  * Round 12 made every dial a function of index size ([[AnnPolicy]],
  * VERDICT r11 #1), so the floors here gate the POLICY-active
  * behavior: with the policy, the 500-vector fixture measures
  * LSH 0.68 (radius 6) / IVF 0.84 (nprobe 2 = half the 4 lists) /
  * PQ 1.00 (shortlist 100); 2k vectors measures 0.68 / 0.48 / 0.80.
  * Scale measurements at 20k and 80k vectors (where the policy bites
  * for IVF/PQ: nprobe 16/64, shortlist 1000/4000) live in SCALE.md
  * §6. The synthetic
  * embeddings are near-random (intra-label mean cos ≈ 0.002 vs inter
  * 0.0003), the WORST case for sublinear retrieval — recall tracks
  * the scanned fraction — so real clustered corpora score higher at
  * the same scan budgets.
  */
class AnnRecallSpec extends AnyFunSuite {

  private lazy val spark = Fixtures.spark
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  private def topSets(rows: Array[(Long, Long)]): Map[Long, Set[Long]] =
    rows.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap

  private def meanRecall(gt: Map[Long, Set[Long]], name: String): Double = {
    val got = topSets(PipelineQueries.queries(name)(spark, dir)
      .select($"query_id", $"vec_id").as[(Long, Long)].collect())
    val recs = gt.keys.toSeq.map(q =>
      (gt(q) & got.getOrElse(q, Set.empty)).size.toDouble / gt(q).size)
    recs.sum / recs.size
  }

  /** Exact cosine top-5 per query — q25 IS the brute-force scan. */
  private lazy val gtCos: Map[Long, Set[Long]] =
    topSets(PipelineQueries.queries("q25_cosine_topk")(spark, dir)
      .filter($"rank" <= 5).select($"query_id", $"vec_id")
      .as[(Long, Long)].collect())

  /** Exact L2 top-5 per query (PQ's ADC approximates L2, so its truth
    * is the L2 ranking, not the cosine one). */
  private lazy val gtL2: Map[Long, Set[Long]] = {
    val e = Tables(spark, dir).embeddings.select($"vec_id", $"embedding")
    val q = e.filter($"vec_id" < 5)
      .select($"vec_id".as("query_id"), $"embedding".as("qe"))
    val w = Window.partitionBy($"query_id").orderBy($"l2", $"vec_id")
    topSets(e.crossJoin(broadcast(q)).filter($"vec_id" =!= $"query_id")
      .withColumn("l2", graft.functions.GraftFunctions.l2Sq($"embedding", $"qe"))
      .withColumn("rk", row_number().over(w)).filter($"rk" <= 5)
      .select($"query_id", $"vec_id").as[(Long, Long)].collect())
  }

  test("q26 multi-probe LSH: mean recall@5 vs exact cosine above floor") {
    val r = meanRecall(gtCos, "q26_ann_lsh")
    info(f"q26_ann_lsh recall@5 = $r%.2f")
    assert(r >= 0.40, f"LSH recall collapsed to $r%.2f (floor 0.40; " +
      "policy-active measurement here is 0.68)")
  }

  test("q36 IVF policy nprobe: mean recall@5 vs exact cosine above floor") {
    val r = meanRecall(gtCos, "q36_ann_ivf")
    info(f"q36_ann_ivf recall@5 = $r%.2f")
    assert(r >= 0.50, f"IVF recall collapsed to $r%.2f (floor 0.50; " +
      "policy-active measurement here is 0.84)")
  }

  test("q60 PQ shortlist+rerank: mean recall@5 vs exact L2 above floor") {
    val r = meanRecall(gtL2, "q60_ann_pq")
    info(f"q60_ann_pq recall@5 = $r%.2f")
    assert(r >= 0.70, f"PQ recall collapsed to $r%.2f (floor 0.70; " +
      "policy-active measurement here is 1.00)")
  }

  test("q25b agrees with q25 exactly (the UDAF top-k is not approximate)") {
    val a = PipelineQueries.queries("q25_cosine_topk")(spark, dir)
      .select($"query_id", $"rank", $"vec_id").as[(Long, Int, Long)]
      .collect().sortBy(identity)
    val b = PipelineQueries.queries("q25b_topk_agg")(spark, dir)
      .select($"query_id", $"rank", $"vec_id").as[(Long, Int, Long)]
      .collect().sortBy(identity)
    assert(a.toSeq == b.toSeq)
  }
}
