// Native-kernel microbenchmark (spark-shell script): l2_sq, cosine_sim,
// bucket_dot and hyperplane_dots over a 200,000-row table of 64-dim float
// embeddings, timed in one JVM on every ArrayData kind a kernel meets in
// the registry - ColumnarArray from the vectorized parquet scan,
// GenericArrayData from an array literal, UnsafeArrayData after a join or
// from the cache - so a kernel body shared by every query sees all of its
// callers' receiver types, as it does in a Bench or Verify run. Each
// workload runs three times untimed, then `KB_RESULT` prints the median
// wall time (ms) of five timed passes. Run it through tools/kernel_ab.sh;
// alone:
//
//   KERNEL_BENCH_DIR=<scratch dir> spark-shell --master local[4] \
//     --driver-memory 3g --jars <jar> -i tools/kernel_bench.scala
//
// The table is written to $KERNEL_BENCH_DIR once and reused. Its element
// types are read back as nullable, as parquet embeddings are, so the
// kernels pay their NULL checks.
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.GraftFunctions._
ensureRegistered(spark)

val dir = sys.env("KERNEL_BENCH_DIR") + "/table"
val dim = 64
if (!new java.io.File(dir + "/_SUCCESS").exists) {
  spark.range(200000).select($"id",
    expr(s"transform(sequence(1, $dim), d -> CAST((hash(id, d) % 10000) / 10000.0 AS FLOAT))").as("e"),
    expr("transform(sequence(1, 200), d -> pmod(xxhash64(id, d), 1000000007))").as("ids"))
    .write.mode("overwrite").parquet(dir)
}
val schema = StructType(Seq(StructField("id", LongType),
  StructField("e", ArrayType(FloatType, containsNull = true)),
  StructField("ids", ArrayType(LongType, containsNull = true))))
val raw = spark.read.schema(schema).parquet(dir)
val cached = raw.cache()
cached.count()
val rnd = new scala.util.Random(3)
val centsF = Seq.fill(16)(lit(Array.fill(dim)(rnd.nextFloat() * 2f - 1f)))
val centsD = Seq.fill(16)(lit(Array.fill(dim)(rnd.nextDouble() * 2 - 1)))
val weights = lit(Array.fill(4096)(rnd.nextGaussian()))
val centTab = spark.range(16).select($"id".as("cid"),
  expr(s"transform(sequence(1, $dim), d -> CAST((hash(id, d, 17) % 10000) / 10000.0 AS FLOAT))").as("c"))

def total(df: DataFrame, score: Column): Double =
  df.select(score.as("s")).agg(sum("s")).collect().head.getDouble(0)
def vsAll(cs: Seq[Column], f: (Column, Column) => Column): Column =
  cs.map(f($"e", _)).reduce(_ + _)

val workloads: Seq[(String, () => Double)] = Seq(
  "l2_scan_lit" -> (() => total(raw, vsAll(centsF, l2Sq))),
  "l2_scan_litD" -> (() => total(raw, vsAll(centsD, l2Sq))),
  "cos_scan_lit" -> (() => total(raw, vsAll(centsF, cosineSim))),
  "l2_join" -> (() => total(raw.crossJoin(broadcast(centTab)), l2Sq($"e", $"c"))),
  "cos_join" -> (() => total(raw.crossJoin(broadcast(centTab)), cosineSim($"e", $"c"))),
  "l2_cached" -> (() => total(cached, vsAll(centsF, l2Sq))),
  "bucket_scan" -> (() => total(raw, bucketDot($"ids", weights))),
  "hyper_scan" -> (() => total(raw,
    expr("aggregate(hyperplane_dots(e, 64), 0D, (a, x) -> a + x)"))))
for (_ <- 0 until 3; (_, f) <- workloads) f()
val res = workloads.map { case (name, f) =>
  val ms = Seq.fill(5) { val t0 = System.nanoTime(); f(); (System.nanoTime() - t0) / 1e6 }
  name -> ms.sorted.apply(2)
}
println("KB_RESULT " + res.map { case (k, v) => "\"%s\": %.1f".format(k, v) }.mkString("{", ", ", "}"))
System.exit(0)
