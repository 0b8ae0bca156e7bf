package graft.operators

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge

import PipelineQueries._

/** End-to-end production-pipeline composition witness (VERDICT r14
  * #5): the families are individually linear — this proves the
  * COMPOSED pipeline is too, by running the real curation chain over
  * one corpus with per-stage wall and shuffle-byte accounting:
  *
  *   1. dedup cascade survivors   (q138's per-doc flags: exact md5 →
  *      bag-of-words → MinHash-verified near-dup groups)
  *   2. span excision             (q100: the survivors' texts with
  *      cross-doc duplicated spans cut out)
  *   3. quality + decontamination (q73 keep ∧ q51 ¬contaminated, bench
  *      docs excluded — the eval set never trains)
  *   4. token-budget selection    (q79: per-source 20k-token knapsack
  *      prefix)
  *   5. sequence packing          (q48: 512-token training sequences)
  *
  * Each stage reads the previous stage's staged `documents.parquet`
  * and writes its own — the artifact-shared handoff a real curation
  * DAG has (at 100 TB these are partitioned tables, and every stage
  * here is a partition-parallel plan with no corpus-sized driver
  * state, so the composition inherits each stage's scale shape).
  * `PipelineComposedSpec` pins the row-count oracle against the
  * registered per-stage queries at sf0.01; the 200k-doc witness run
  * is recorded in evidence/r15 and SCALE.md §10.6.
  */
object ComposedPipeline {

  final case class StageStat(name: String, inDocs: Long, outDocs: Long,
      wallS: Double, shuffleWriteMb: Double, shuffleReadMb: Double)

  final case class Result(stages: Seq[StageStat], packedSeqs: Long,
      packedTokens: Long)

  /** Per-doc survivors of q138's three-stage cascade (the registered
    * query's per-source rollup, stopped one step earlier). */
  private def cascadeSurvivors(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val t = Tables(s, dir)
    val sig = t.documents.repartition($"doc_id")
      .select($"doc_id", md5($"text").as("eh"),
        element_at(graft.functions.GraftFunctions.polyHashArray(
          array(concat_ws(" ", array_sort(expr(toksExpr))))), 1).as("bh"))
    val s1 = sig.groupBy($"eh").agg(min($"doc_id").as("k1"))
    val st1 = sig.join(s1, "eh").withColumn("in1", $"doc_id" === $"k1")
    val s2k = st1.filter($"in1").groupBy($"bh").agg(min($"doc_id").as("k2"))
    val st2 = st1.join(s2k, "bh")
      .withColumn("in2", $"in1" && $"doc_id" === $"k2")
    val labels = dedupLabelsArtifact(s, dir)
    st2.join(labels.select($"node".as("doc_id"), $"lbl"), Seq("doc_id"), "left")
      .filter($"in2" && ($"lbl".isNull || $"lbl" === $"doc_id"))
      .select($"doc_id")
  }

  def run(s: SparkSession, dir: String, workRoot: String): Result = {
    import s.implicits._

    val shufWrite = new java.util.concurrent.atomic.AtomicLong()
    val shufRead = new java.util.concurrent.atomic.AtomicLong()
    val listener = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val m = e.stageInfo.taskMetrics
        if (m != null) {
          shufWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten): Unit
          shufRead.addAndGet(m.shuffleReadMetrics.totalBytesRead): Unit
        }
      }
    }
    s.sparkContext.addSparkListener(listener)

    val stats = scala.collection.mutable.ArrayBuffer[StageStat]()
    /** Runs one stage body, charging its wall and shuffle deltas. The
      * listener bus is drained on both sides of the body, so every
      * stage-completed event a job posted is counted before the deltas
      * are read — and charged to the stage that ran it. */
    def stage(name: String, inDocs: Long)(body: => Long): Long = {
      Bridge.drainListeners(s.sparkContext)
      val (w0, r0) = (shufWrite.get, shufRead.get)
      val t0 = System.nanoTime()
      val out = body
      val wallS = (System.nanoTime() - t0) / 1e9
      Bridge.drainListeners(s.sparkContext)
      stats += StageStat(name, inDocs, out, wallS,
        (shufWrite.get - w0) / 1048576.0, (shufRead.get - r0) / 1048576.0)
      out
    }
    def writeDocs(df: DataFrame, stageDir: String): Long = {
      df.write.mode("overwrite").parquet(s"$stageDir/documents.parquet")
      s.read.parquet(s"$stageDir/documents.parquet").count()
    }

    try {
      val d1 = s"$workRoot/stage1"; val d2 = s"$workRoot/stage2"
      val d3 = s"$workRoot/stage3"; val d4 = s"$workRoot/stage4"
      val docs0 = Tables(s, dir).documents
      val n0 = docs0.count()

      val n1 = stage("dedup_cascade", n0) {
        writeDocs(docs0.join(cascadeSurvivors(s, dir), "doc_id"), d1)
      }
      val n2 = stage("span_excise", n1) {
        // Min-length hygiene cut: a doc excised below 3 tokens can't
        // form a single 3-shingle — the downstream decontamination
        // (and any shingle-based op) is undefined on it, and a real
        // pipeline drops sub-minimal fragments here. (Found live: the
        // sf0.01 spec run hit q51's ratio divide on a doc the excision
        // emptied.)
        val ex = DedupQueries.queries("q100_span_excise")(s, d1)
          .filter($"kept_tokens" >= 3)
        writeDocs(Tables(s, d1).documents.select($"doc_id", $"lang", $"source")
          .join(ex.select($"doc_id", $"text_clean"), "doc_id")
          .select($"doc_id", $"text_clean".as("text"), $"lang", $"source",
            length($"text_clean").cast("long").as("n_chars")), d2)
      }
      val n3 = stage("quality_decontam", n2) {
        val q = TextQueries.queries("q73_quality_classifier")(s, d2)
          .filter($"keep").select($"doc_id")
        val c = DedupQueries.queries("q51_decontaminate")(s, d2)
          .filter(!$"contaminated").select($"doc_id")
        writeDocs(Tables(s, d2).documents
          .join(q, "doc_id").join(c, "doc_id"), d3)
      }
      val n4 = stage("token_budget", n3) {
        val sel = SamplingQueries.queries("q79_budget_select")(s, d3)
          .select($"doc_id")
        writeDocs(Tables(s, d3).documents.join(sel, "doc_id"), d4)
      }
      var packedTokens = 0L
      val nSeq = stage("pack_sequences", n4) {
        val packed = SamplingQueries.queries("q48_pack_sequences")(s, d4)
          .cache()
        val cnt = packed.count()
        packedTokens = packed.agg(coalesce(sum($"sum_tokens"), lit(0L)))
          .first.getLong(0)
        packed.unpersist()
        cnt
      }
      Result(stats.toSeq, nSeq, packedTokens)
    } finally s.sparkContext.removeSparkListener(listener)
  }
}
