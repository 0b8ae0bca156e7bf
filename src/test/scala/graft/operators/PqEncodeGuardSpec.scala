package graft.operators

import org.scalatest.funsuite.AnyFunSuite

import graft.gsheets.Fixtures

/** The PQ encode's codebook guards (`pqAnnShortlistRerank`): a centroid
  * that cannot be sliced into 8 subspaces fails the query with an error
  * that names the cause. */
class PqEncodeGuardSpec extends AnyFunSuite {

  private lazy val spark = Fixtures.spark
  import spark.implicits._

  /** q60 on a 100-vector corpus; its codebook is every 25th vector. */
  private def q60Error(emb: Long => Option[Seq[Float]]): String = {
    val tmp = java.nio.file.Files.createTempDirectory("graft_pq_guard")
    try {
      (0L until 100L).map(i => (i, emb(i))).toDF("vec_id", "embedding")
        .write.parquet(s"$tmp/embeddings.parquet")
      val e = intercept[Exception] {
        PipelineQueries.queries("q60_ann_pq")(spark, tmp.toString).collect()
      }
      Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .map(t => String.valueOf(t.getMessage)).mkString("\n")
    } finally Fixtures.deleteRecursively(tmp)
  }

  test("a NULL centroid names itself, not a dimension") {
    val vec = Seq.tabulate(16)(d => d.toFloat / 16)
    val msg = q60Error(i => if (i == 25L) None else Some(vec))
    assert(msg.contains("pq encode: centroid 25 has a NULL embedding"), msg)
    assert(!msg.contains("not divisible"), msg)
    assert(q60Error(_ => Some(vec.take(12))).contains(
      "pq encode: dim 12 not divisible by 8"))
  }
}
