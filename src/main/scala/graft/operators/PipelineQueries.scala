package graft.operators

import graft.Par
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** LLM-training-data pipeline operators over the `documents` and
  * `embeddings` tables: deduplication (exact, MinHash+LSH, SimHash,
  * n-gram Jaccard), similarity search (brute-force cosine top-k and an
  * LSH-bucketed scale path), text analysis (stats, language-ID,
  * winnowing fingerprints). These extend the reference's surface per the
  * north-star brief (the reference itself ships no such operators — it is
  * a connector; SURVEY §2.2).
  *
  * Every query is pure relational Spark (joins/groupBy/windows over
  * integer/token arithmetic — no UDFs, fully codegen-able) and has a
  * DuckDB oracle twin computing the identical pipeline, so each gets a
  * real CORRECTNESS row.
  *
  * Scale notes (100 TB design point):
  *   - Dedup/similarity NEVER does an all-pairs join: candidates come
  *     from equality joins on LSH band signatures, shared shingles, or
  *     SimHash prefix buckets — O(n·bands) shuffle, then exact verify
  *     only on candidates.
  *   - Token/shingle ids come from a portable polynomial hash
  *     ([[polyHashExpr]]) — no vocabulary sort, no driver collect, no
  *     broadcast. The sorted-dictionary formulation survives only as
  *     the spec-gated [[minhashDictVariant]] witness, outside the
  *     driver contract.
  *   - Shared-key self-joins cap shingle doc-frequency (q23) so no hot
  *     key contributes O(df²) join rows.
  *   - All aggregates are hash aggregates with map-side partials; the
  *     only broadcast is the (tiny) query-vector set in similarity search.
  */
object PipelineQueries {

  /** Split-on-space tokens with empties removed — identical semantics to
    * DuckDB `list_filter(string_split(text, ' '), x -> x != '')`.
    * (`array_remove`, not a `filter` lambda: higher-order-function
    * lambdas are interpreted per ELEMENT; `array_remove` is one native
    * call per row. split() never yields null elements, so the two agree.)
    */
  private[graft] val toksExpr = "array_remove(split(text, ' '), '')"

  /** `array<string>` of word 3-shingles in token order — the native
    * [[graft.functions.Shingles3]] kernel over the token array, one
    * compiled loop per row.
    *
    * History (both traps measured): a `transform(sequence(0,
    * size(toks)-3), i -> concat_ws(...))` lambda formulation evaluated
    * interpreted per shingle, and — worse — when CollapseProject merged
    * its Project with the tokenizer's, `split` re-evaluated once per
    * element (O(tokens²) per doc, 13 s for 5k docs), which forced a
    * Generate node between the projections as an optimizer fence. The
    * native kernel takes the token array as ONE child expression, so
    * collapsing is harmless and no fence is needed.
    */
  private[operators] def shinglesCol(): Column =
    graft.functions.GraftFunctions.shingles3(expr(toksExpr))

  /** (doc_id, pos, shingle) exploded 3-token shingles. The `repartition`
    * spreads tokenize+shingle across the cluster while shuffling
    * document-sized (not token-sized) data; at 100 TB it disappears
    * entirely — the corpus arrives as many splits, and shingling is a
    * pure map over each.
    */
  private[operators] def posShingles(docs: DataFrame): DataFrame =
    docs.repartition(col("doc_id"))
      .select(col("doc_id"), posexplode(shinglesCol()).as(Seq("pos", "shingle")))

  /** (doc_id, shingle) distinct pairs. */
  private[operators] def docShingles(docs: DataFrame): DataFrame =
    posShingles(docs).select("doc_id", "shingle").distinct()

  /** (doc_id, sids) with the DISTINCT shingle-ID SET as one
    * `array<long>` — the map-only carrier for the shingle-set family
    * (MinHash q22b/q46, Jaccard q23, decontamination q51): hashing,
    * dedup, signature, set size, and pairwise intersection are all
    * per-row expressions over it, so shingle STRINGS never leave the
    * row they were tokenized in — everything downstream shuffles 8-byte
    * ids. Set semantics are over the 10⁹+7 hash space: a colliding
    * shingle pair merges in BOTH engines identically (the oracle's dsid
    * CTE is the same DISTINCT-after-hash), which is the standard
    * dedup-pipeline tradeoff — ~n²/2P expected collisions corpus-wide,
    * each perturbing one set size by 1.
    */
  private[operators] def docSidArrays(docs: DataFrame): DataFrame =
    docs.repartition(col("doc_id"))
      .select(col("doc_id"), array_distinct(
        graft.functions.GraftFunctions.polyHashArray(shinglesCol())).as("sids"))

  /** Deterministic dense ids (1-based, by sort order of `keyCol`) via
    * distributed sort + `zipWithIndex` — NOT a global `row_number`
    * window, which would funnel the whole dictionary through one task.
    * Ids match DuckDB's `row_number() OVER (ORDER BY key)` exactly.
    */
  private[operators] def denseIds(df: DataFrame, keyCol: String, idCol: String): DataFrame = {
    val spark = df.sparkSession
    val sorted = df.select(keyCol).distinct().orderBy(keyCol)
    val rows = sorted.rdd.zipWithIndex().map { case (r, i) =>
      org.apache.spark.sql.Row(r.getString(0), i + 1L)
    }
    spark.createDataFrame(rows, org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField(keyCol, org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField(idCol, org.apache.spark.sql.types.LongType))))
  }

  private[operators] def shingleDict(dsh: DataFrame): DataFrame =
    denseIds(dsh, "shingle", "sid")

  /** Portable polynomial string hash, h = (131·h + code) mod 1e9+7
    * folded left-to-right over the characters — the engine-agnostic id
    * function both Spark and the DuckDB oracle compute identically
    * (corpus is ASCII; see [[oraclePolyHash]] for the SQL twin). Ids
    * from this hash need no vocabulary sort, no driver collect, and no
    * broadcast join — the 100 TB replacement for [[denseIds]].
    */
  private[graft] def polyHashExpr(column: String): String =
    s"""aggregate(sequence(1, length($column)), CAST(0 AS BIGINT),
       (h, i) -> (h * 131 + ascii(substring($column, i, 1))) % 1000000007)"""

  /** The 64 bucket weights of the hashed-feature quality classifier
    * (q73, its streaming twin q75, and the q149/q155 ingest gates): a Knuth
    * scramble of the bucket index, `((j·2654435761) mod 2³²)/2³² − 0.5`.
    * Every weight is a multiple of 2⁻³² in [-0.5, 0.5), so bucket_dot's
    * partial sums stay exact dyadic rationals and the score is
    * bit-identical in Spark and the DuckDB oracle. A fresh array per
    * call, so no caller can mutate another's literal. */
  private[graft] def qualityWeights: Array[Double] = (0 until 64).map { j =>
    ((j.toLong * 2654435761L) % 4294967296L) / 4294967296.0 - 0.5
  }.toArray

  /** DuckDB twin of the [[qualityWeights]] dot: the sum over the
    * bucket ids `sid` of each bucket's weight (bucket = sid mod 64).
    * Every term is a multiple of 2⁻³², so the sum is exact in any order. */
  private[graft] def oracleQualitySum(sid: String): String =
    s"sum(((($sid % 64) * 2654435761) % 4294967296) / 4294967296.0 - 0.5)"

  /** Knuth-style id scramble `h(id) = (id mod 2³²)·2654435761 mod 2³²`,
    * used by the deterministic sampler (q47) and interleave (q53). The
    * multiply is split 16/16 bits so it can NEVER overflow a signed
    * 64-bit value — the naive `id * 2654435761` wraps negative for ids
    * ≥ ~3.47e9 (well inside a 100 TB corpus), which would silently pass
    * every row through `u < rate` in Spark while DuckDB errors on the
    * same input. Identical in both engines for all non-negative ids.
    */
  /** Cheap driver-side fingerprint of the corpus files whose names
    * start with `stem` under `dir` (paths + lengths + mtimes): part of
    * every persisted-artifact key, so regenerating the data in place
    * within one long-lived application invalidates the artifact instead
    * of silently serving stale state (ADVICE r5). Text-derived
    * artifacts stamp the documents table (the default); the ANN
    * family's codebook/index artifacts stamp the EMBEDDINGS files —
    * before round 14 they rode the documents stamp, which would have
    * served a stale codebook across an embeddings-only in-place
    * rewrite. The stem match covers both the flat `embeddings.parquet`
    * layout and the staged `embeddings_N.parquet` multi-file feeds. */
  private[graft] def dataFingerprint(dir: String,
      stem: String = "documents"): String = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
      else Seq(f)
    val roots = Option(new java.io.File(dir).listFiles()).toSeq.flatten
      .filter(_.getName.startsWith(stem))
    // A stem that matches nothing would hash the empty string — a
    // CONSTANT key that can never invalidate an artifact across an
    // in-place data rewrite, the exact staleness this fingerprint
    // exists to prevent. Fail fast so a layout mismatch (e.g. the
    // table staged under a nested subdirectory) surfaces at the call
    // site instead of silently producing a non-invalidating key
    // (ADVICE r14 #2).
    require(roots.nonEmpty,
      s"dataFingerprint: no top-level entry of $dir starts with '$stem'")
    val stamp = roots.flatMap(walk)
      .sortBy(_.getPath)
      .map(f => s"${f.getPath}:${f.length}:${f.lastModified}").mkString("|")
    java.lang.Integer.toHexString(
      scala.util.hashing.MurmurHash3.stringHash(stamp))
  }

  /** q81's persisted-index key — the Spark application id AND the data
    * dir AND a corpus fingerprint, so concurrent sessions never clobber
    * each other's artifact and an in-place data rewrite never serves a
    * stale index. The spec resolves the path through this same helper.
    * The key doubles as the catalog table name (the index is a BUCKETED
    * table — bucketBy needs the catalog, a bare parquet path can't
    * carry bucket metadata). */
  private[graft] def deltaIndexKey(s: SparkSession, dir: String): String =
    "graft_mh_index_" + s.sparkContext.applicationId.replaceAll("[^A-Za-z0-9]", "_") +
      "_" + dir.replaceAll("[^A-Za-z0-9]", "_") + "_" + dataFingerprint(dir)

  private[graft] def deltaIndexPath(s: SparkSession, dir: String): String =
    s"${System.getProperty("java.io.tmpdir")}/${deltaIndexKey(s, dir)}"

  /** CACHE LIFECYCLE POLICY (VERDICT r9 #6 — the written bound). Two
    * classes of `.cache()` in this file, each with a stated lifetime:
    *
    *  1. Per-query construction caches (docSidArrays, tf tables,
    *     centroid assignments, …): SESSION-scoped by design — they are
    *     the warm-cache working set a long-lived session reuses.
    *     Bounded by the DISTINCT canonical plans in the registry at one
    *     scale factor (CacheManager dedups re-registration of an
    *     identical plan, so re-constructing a query never adds entries;
    *     Verify/Bench pay the set once per process). The two
    *     construction-time loops that execute jobs (dedupGroupLabels,
    *     the artifact build) unpersist their handles on the build path.
    *  2. Strategy probes: never cache at all — the bounded probe
    *     COLLECTS its ≤ ceiling+1 rows and re-emits them as a local
    *     relation (saltedBandPairs), so nothing outlives the plan.
    *
    * Streaming state is the fourth accumulator and lives outside the
    * CacheManager: stopped queries' state-store providers stay in the
    * JVM-wide loadedProviders map until unloaded — harness loops that
    * run many short streaming jobs must call
    * [[org.apache.spark.sql.graft.Bridge.unloadStateStores]] between
    * passes (Bench does).
    */

  /** Session artifact registry: every persisted artifact (dedup labels,
    * q81's bucketed signature index, the BPE training artifact) is
    * materialized through [[materializeOnce]] and recorded here so
    * [[cleanupArtifacts]] can drop it at session end.
    *
    * `computeIfAbsent` replaces the old check-then-write keySet#add: a
    * second concurrent caller of the same key now BLOCKS until the
    * winner's build completes instead of racing ahead to read a
    * half-written parquet (ADVICE r6 — harmless under the
    * single-threaded Verify driver, unsafe if queries ever run
    * concurrently). Builds must not call materializeOnce recursively
    * (ConcurrentHashMap forbids reentrant compute); no current artifact
    * builds another.
    */
  private[operators] final case class ArtifactRef(path: String, table: Option[String])
  private[operators] val artifactsDone =
    new java.util.concurrent.ConcurrentHashMap[String, ArtifactRef]()

  private[operators] def materializeOnce(key: String, path: String,
      table: Option[String] = None)(build: => Unit): Unit =
    artifactsDone.computeIfAbsent(key, _ => {
      val t0 = System.nanoTime()
      build
      artifactBuildLog.add(key -> (System.nanoTime() - t0) / 1e9)
      ArtifactRef(path, table)
    })

  /** Per-session ledger of (artifact key, build wall seconds), one
    * entry per [[materializeOnce]] that actually BUILT (memo hits add
    * nothing). Bench drains it after each query so per-query cold
    * numbers can separate plan cost from artifact amortization — the
    * r15 verdict's cold-attribution finding (q86 read 13.1 s cold /
    * 0.18 s warm because the BPE train landed inside it). */
  private[graft] val artifactBuildLog =
    new java.util.concurrent.ConcurrentLinkedQueue[(String, Double)]()

  /** Drops every artifact this session materialized — tmpdir parquet
    * trees recursively, the bucketed index's catalog entry (external
    * table: DROP removes metadata only, the path delete removes bytes)
    * — and clears the memos so a later caller REBUILDS from data. The
    * Verify/Bench epilogue (VERDICT r6 #5): artifacts are keyed by
    * application id, so without this every session leaks its own copy
    * into java.io.tmpdir and the metastore.
    */
  private[graft] def cleanupArtifacts(s: SparkSession): Unit = {
    import scala.jdk.CollectionConverters._
    // Deletes resolve the path's FileSystem the same way the rewrite
    // paths do (q153/q154): the registry now holds real bucketed-table
    // artifacts, and a java.io.File recursion is a silent no-op on
    // HDFS/S3 — the exact seam class VERDICT r16 #1/#4 flagged.
    val hconf = s.sparkContext.hadoopConfiguration
    artifactsDone.values.asScala.toVector.foreach { ref =>
      ref.table.foreach(t => s.sql(s"DROP TABLE IF EXISTS `$t`"))
      // A bare path resolves against fs.defaultFS — the same
      // resolution the writer that produced the artifact used, so the
      // delete lands on the bytes the write landed on.
      val p = new org.apache.hadoop.fs.Path(ref.path)
      p.getFileSystem(hconf).delete(p, true): Unit
    }
    artifactsDone.clear()
    benchSidsMemo.clear()
    AnnQueries.mrlGuardMemo.clear()
  }

  /** Memo for [[benchSortedSids]] (VERDICT r6 #7): the eval-suite sid
    * set is a bounded driver-side array, but collecting it on EVERY
    * q59 construction re-runs a distinct+sort job; one fetch per
    * (session, dir, fingerprint) suffices. */
  private[operators] val benchSidsMemo =
    new java.util.concurrent.ConcurrentHashMap[String, Array[Long]]()

  private[operators] def scrambleExpr(column: String): String =
    s"""((((($column % 4294967296) div 65536) * 2654435761) % 4294967296)
        * 65536
        + (($column % 4294967296) % 65536) * 2654435761) % 4294967296"""

  /** DuckDB twin of [[scrambleExpr]] (`//` = integer div). */
  private[operators] def oracleScramble(column: String): String =
    s"""((((($column % 4294967296) // 65536) * 2654435761) % 4294967296)
        * 65536
        + (($column % 4294967296) % 65536) * 2654435761) % 4294967296"""

  /** DuckDB twin of [[polyHashExpr]]. */
  private[operators] def oraclePolyHash(column: String): String =
    s"""list_reduce(list_prepend(0::BIGINT,
          list_transform(range(1, len($column) + 1), i -> ascii($column[i]))),
        (h, c) -> (h * 131 + c) % 1000000007)"""

  /** `dots[h] = Σ_d embedding[d] · p(h,d)` for `nH` deterministic
    * hyperplanes — the native codegen'd
    * [[graft.functions.HyperplaneDots]] expression: map-only, zero
    * shuffle, one fused loop per row. (History: an
    * explode(d)×explode(h)→groupBy formulation shuffled nH× the
    * embedding volume; its map-only SQL-fold replacement
    * (`transform(sequence, h -> aggregate(zip_with(...)))`) had the
    * right plan but evaluated interpreted lambdas at ~5 ms/row — the
    * native expression keeps the plan AND the codegen hot loop.) p(h,d)
    * is the fixed integer mix the DuckDB oracle reproduces
    * ((h·64+d)·2654435761 mod 2³² scaled to [-1,1)).
    */
  private[operators] def hyperDots(nH: Int): Column =
    graft.functions.GraftFunctions.hyperplaneDots(col("embedding"), nH)

  /** Shared MinHash(16) → 4-band LSH → exact-Jaccard-verify tail used by
    * q22 (dictionary ids) and q22b (hashed ids). `dt` = (doc_id, sid);
    * `dsh` = (doc_id, shingle), cached by the caller (probed 3×).
    *
    * All 16 minhashes come from ONE aggregation pass: 16 `min` columns
    * over the (doc_id, sid) pairs — map-side partial mins, a single
    * shuffle keyed by doc_id. (An explode(0..15) formulation shuffles
    * 16× the rows and needs a second agg to band; at 100 TB that is the
    * difference between one corpus-sized shuffle and seventeen.)
    */
  private[operators] def minhashLshVerify(dt: DataFrame, dsh: DataFrame): DataFrame = {
    import dt.sparkSession.implicits._
    val P = 1000000007L
    val mhCols = (0 until 16).map { h =>
      min((lit(37L * h + 7L) * $"sid" + lit(101L * h + 3L)) % P).as(s"mh$h")
    }
    val mh = dt.groupBy($"doc_id").agg(mhCols.head, mhCols.tail: _*)
    // Band signatures are a pure projection; stack the 4 bands into rows
    // for the candidate equality-join.
    val sigCols = (0 until 4).map { b =>
      concat_ws("-", (0 until 4).map(r => col(s"mh${b * 4 + r}")): _*).as(s"sig$b")
    }
    val bands = mh
      .select(($"doc_id" +: sigCols): _*)
      .select($"doc_id", posexplode(
        array((0 until 4).map(b => col(s"sig$b")): _*)).as(Seq("band", "sig")))

    val cand = bands.as("a").join(bands.as("b"),
        $"a.band" === $"b.band" && $"a.sig" === $"b.sig" &&
        $"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b"))
      .distinct()

    val sizes = dsh.groupBy($"doc_id").agg(count(lit(1)).as("n"))
    val inter = cand
      .join(dsh.as("x"), $"doc_a" === $"x.doc_id")
      .join(dsh.as("y"), $"doc_b" === $"y.doc_id" && $"x.shingle" === $"y.shingle")
      .groupBy($"doc_a", $"doc_b").agg(count(lit(1)).as("i"))
    inter
      .join(sizes.as("sa"), $"doc_a" === $"sa.doc_id")
      .join(sizes.as("sb"), $"doc_b" === $"sb.doc_id")
      .withColumn("jaccard", $"i".cast("double") / ($"sa.n" + $"sb.n" - $"i"))
      .filter($"jaccard" >= 0.6)
      .select($"doc_a", $"doc_b", CrossRound.r($"jaccard", 4).as("jaccard"))
      .orderBy($"doc_a", $"doc_b")
  }

  /** Connected-component labels over verified near-dup pairs by
    * iterative min-label propagation (q46's engine, shared with q67):
    * per round one equality join + one min-aggregation, lineage
    * truncated per round (`localCheckpoint`), the driver reading ONE
    * change-count scalar per round. Returns (node, lbl) for every doc
    * that appears in a pair; singleton docs are absent (callers
    * coalesce to self). Rounds = component diameter — near-dup
    * components are clique-ish, so single digits at any corpus size;
    * non-convergence within 50 fails loudly rather than emitting
    * non-minimal labels the oracle's transitive closure would refute.
    */
  private[operators] def dedupGroupLabels(pairs: DataFrame): DataFrame = {
    import pairs.sparkSession.implicits._
    val edges = pairs.select($"doc_a".as("src"), $"doc_b".as("dst"))
      .union(pairs.select($"doc_b".as("src"), $"doc_a".as("dst")))
      .cache()
    // Round 0 fused into init: label = min(self, direct neighbors) — a
    // clique component (the common near-dup shape) converges here.
    var labels = edges.groupBy($"src").agg(min($"dst").as("mn"))
      .select($"src".as("node"), least($"src", $"mn").as("lbl"))
      .localCheckpoint()
    // Superseded rounds' checkpoint blocks unpersist on exit (see
    // [[bigStarLabels]] — the final round must stay pinned until the
    // artifact write completes).
    val stale = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    val maxRounds = 50
    var converged = false
    var rounds = 0
    while (!converged && rounds < maxRounds) {
      val prop = edges.join(labels, $"src" === $"node")
        .select($"dst".as("node"), $"lbl")
      val next = prop.union(labels.select($"node", $"lbl"))
        .groupBy($"node").agg(min($"lbl").as("lbl"))
        .localCheckpoint()
      converged = next.as("n").join(labels.as("o"), "node")
        .filter($"n.lbl" =!= $"o.lbl").isEmpty
      stale += labels
      labels = next
      rounds += 1
    }
    stale.foreach(org.apache.spark.sql.graft.Bridge.unpersistLocalCheckpoint)
    if (!converged)
      throw new IllegalStateException(
        s"dedup groups: label propagation did not converge in $maxRounds " +
          "rounds (pathological component diameter) — raise the bound or " +
          "switch to large-star/small-star")
    edges.unpersist()
    labels
  }

  /** Connected-component labels by alternating LARGE-STAR / SMALL-STAR
    * contraction (Kiveris et al., "Connected Components in MapReduce
    * and Beyond", SoCC'14) — the O(log n)-round algorithm
    * [[dedupGroupLabels]]' own failure message points at: min-label
    * propagation needs diameter-many rounds (fine for clique-ish
    * near-dup groups, pathological on chain-shaped components), while
    * star contraction provably halves component height per round pair
    * regardless of shape. q136 runs it against the SAME verified
    * MinHash pair input as q46 and the oracle's transitive closure, so
    * the two algorithms are mutually checking — and
    * `Round13OpsSpec` additionally proves them equal on random graphs
    * against a brute-force union-find.
    *
    * Per round, both phases are one min-aggregation plus one equality
    * join — no adjacency list is ever collected, so a hub node with
    * millions of neighbors never materializes its neighborhood in one
    * task (the reason this formulation, not the textbook
    * collect-neighbors one, is the 100 TB shape):
    *   - large-star: every undirected edge, processed at its SMALLER
    *     endpoint u, re-links the larger endpoint v to
    *     m(u) = min(Γ(u) ∪ {u});
    *   - small-star: every edge, processed at its LARGER endpoint u,
    *     re-links the smaller endpoint v to m(u), and u links to m(u).
    * Edges stay canonical (lo, hi); per-round `localCheckpoint`
    * truncates lineage (q46's convention). Convergence = the edge set
    * reaches a fixpoint (two anti-joins per round); at the fixpoint the
    * graph is a star forest whose centers are the component minima, so
    * labels read directly off the edges. Returns (node, lbl) for every
    * doc in a pair — the [[dedupGroupLabels]] contract exactly.
    */
  private[operators] def bigStarLabels(pairs: DataFrame): DataFrame =
    bigStarContraction(pairs)._1

  /** [[bigStarLabels]] plus the final fixpoint edge set (a pinned
    * localCheckpoint frame) — callers that MATERIALIZE the labels
    * (the q136 artifact build) hand the final checkpoint back to
    * [[org.apache.spark.sql.graft.Bridge.unpersistLocalCheckpoint]]
    * once the label parquet exists, so the last round's blocks don't
    * stay pinned until GC (ADVICE r11). Callers that return the labels
    * lazily (the Round13OpsSpec property tests) use [[bigStarLabels]]
    * and let the context cleaner reclaim the bounded test frames.
    */
  private[operators] def bigStarContraction(
      pairs: DataFrame): (DataFrame, DataFrame) = {
    import pairs.sparkSession.implicits._
    var edges = pairs
      .select(least($"doc_a", $"doc_b").as("lo"),
        greatest($"doc_a", $"doc_b").as("hi"))
      .filter($"lo" =!= $"hi").distinct().localCheckpoint()
    // Intermediate checkpoints unpersist once superseded: a
    // localCheckpoint pins RDD blocks in the BlockManager, and a query
    // that reconstructs per bench pass would otherwise accumulate one
    // round-chain of blocks per pass (the r9 streaming-provider lesson
    // applied to checkpoints). The FINAL edge set must stay pinned —
    // localCheckpoint truncates lineage, so its blocks are the only
    // copy until the consumer's action completes and GC drops the RDD.
    val stale = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    val maxRounds = 50
    var rounds = 0
    var converged = edges.isEmpty
    while (!converged && rounds < maxRounds) {
      val dir1 = edges.select($"lo".as("u"), $"hi".as("v"))
        .union(edges.select($"hi".as("u"), $"lo".as("v")))
      val min1 = dir1.groupBy($"u").agg(min($"v").as("mn"))
        .select($"u", least($"u", $"mn").as("m"))
      // v > u ≥ m, so (v, m) can never be a self-loop.
      val large = dir1.join(min1, "u").filter($"v" > $"u")
        .select($"m".as("lo"), $"v".as("hi")).distinct()
      val dir2 = large.select($"lo".as("u"), $"hi".as("v"))
        .union(large.select($"hi".as("u"), $"lo".as("v")))
      val min2 = dir2.groupBy($"u").agg(min($"v").as("mn"))
        .select($"u", least($"u", $"mn").as("m"))
      val relink = dir2.join(min2, "u").filter($"v" < $"u")
        .select($"v".as("a"), $"m".as("b"))
      val self = min2.filter($"u" =!= $"m").select($"u".as("a"), $"m".as("b"))
      val small = relink.union(self).filter($"a" =!= $"b")
        .select(least($"a", $"b").as("lo"), greatest($"a", $"b").as("hi"))
        .distinct().localCheckpoint()
      // Both sides are DISTINCT canonical (lo, hi) sets, so equality =
      // equal cardinality + one-direction emptiness: one cheap
      // shuffle-free count over the fresh checkpoint plus ONE except
      // job, instead of the symmetric two-except test (4 shuffles per
      // round — ADVICE r11).
      converged = small.count() == edges.count() && small.except(edges).isEmpty
      stale += edges
      edges = small
      rounds += 1
    }
    stale.foreach(org.apache.spark.sql.graft.Bridge.unpersistLocalCheckpoint)
    if (!converged)
      throw new IllegalStateException(
        s"big-star CC: no fixpoint in $maxRounds rounds — impossible for " +
          "any graph this size (rounds needed is O(log n)); investigating " +
          "beats emitting unconverged labels")
    // Star forest: every canonical edge is (component-min, member).
    (edges.select($"hi".as("node"), $"lo".as("lbl"))
      .union(edges.select($"lo".as("node"), $"lo".as("lbl")))
      .distinct(), edges)
  }

  /** Maximal cross-doc duplicated token spans, shared by q89 (reports
    * them) and q100 (excises them): 1-based inclusive token ranges
    * [s, e] covered by 3-token shingles appearing in ≥ 2 documents,
    * merged into maximal spans by the classic interval-union sweep
    * (running max(end) over start order marks breaks, a running sum
    * numbers them). A break requires a real GAP (start > max(end) + 1):
    * adjacent intervals cover contiguous tokens and merge into one
    * maximal span — the covered-positions contract, property-tested
    * against a brute-force cover model in Round7OpsSpec.
    * Input is (doc_id, tk) token arrays; docs under 3
    * tokens have no shingles and emit no rows. All windows are per-doc
    * (doc-sized partitions — scale-safe); the dup-sid set is
    * corpus-sized and JOINED, never broadcast. */
  private[operators] def dupTokenSpans(toks: DataFrame): DataFrame = {
    import toks.sparkSession.implicits._
    val sh = toks.filter(size($"tk") >= 3)
      .select($"doc_id", posexplode(
        graft.functions.GraftFunctions.polyHashArray(
          graft.functions.GraftFunctions.shingles3($"tk")))
        .as(Seq("pos0", "sid")))
      .select($"doc_id", ($"pos0" + 1).cast("long").as("pos"), $"sid")
    val dup = sh.groupBy($"sid")
      .agg(countDistinct($"doc_id").as("nd"))
      .filter($"nd" >= 2).select($"sid")
    val iv = sh.join(dup, "sid")
      .select($"doc_id", $"pos".as("s"), ($"pos" + 2L).as("e"))
    val wPrev = Window.partitionBy($"doc_id").orderBy($"s")
      .rowsBetween(Window.unboundedPreceding, -1)
    val wRun = Window.partitionBy($"doc_id").orderBy($"s")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    iv
      .withColumn("pme", max($"e").over(wPrev))
      // Break only when a GAP exists (s > pme + 1): adjacent intervals
      // ([p, p+2], [p+3, p+5]) cover a contiguous token run and form
      // ONE maximal span — the covered-positions contract, pinned by
      // the brute-force property test in Round7OpsSpec.
      .withColumn("brk",
        when($"pme".isNull || $"s" > $"pme" + 1L, 1L).otherwise(0L))
      .withColumn("grp", sum($"brk").over(wRun))
      .groupBy($"doc_id", $"grp")
      .agg(min($"s").as("s"), max($"e").as("e"))
      .select($"doc_id", $"s", $"e")
  }

  private[graft] def spanArtifactPath(s: SparkSession, dir: String): String =
    s"${System.getProperty("java.io.tmpdir")}/graft_spans_" +
      s.sparkContext.applicationId.replaceAll("[^A-Za-z0-9]", "_") +
      "_" + dir.replaceAll("[^A-Za-z0-9]", "_") + "_" + dataFingerprint(dir)

  /** [[dupTokenSpans]] over the corpus token arrays, persisted ONCE per
    * (session, dir, data-fingerprint) — the dedup-label / bpeArtifact
    * pattern applied to the span family: the shingle-df shuffle + join
    * + per-doc sweep behind it is among the most expensive
    * constructions in the suite, and BOTH consumers (q89's diagnostic,
    * q100's rewrite) previously re-ran it end to end. Each now pays one
    * parquet read; sharing one materialization also makes
    * detection/excision agreement a physical identity, not just a
    * same-code one. */
  private[operators] def spanArtifact(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val path = spanArtifactPath(s, dir)
    materializeOnce(path, path) {
      val toks = Tables(s, dir).documents.repartition($"doc_id")
        .select($"doc_id", expr(toksExpr).as("tk"))
      dupTokenSpans(toks).write.mode("overwrite").parquet(path)
    }
    s.read.parquet(path)
  }

  /** Shared candidate+count machinery for the df-capped rare-shingle
    * family (q23 Jaccard, q71 containment): ONE groupBy(sid) aggregate
    * yields bounded per-sid doc lists (df = list size — the cap filter
    * and the candidate source are the same pass); candidate pairs are
    * generated MAP-SIDE from each ≤`dfCap`-doc list as i<j
    * combinations. Because each shared rare sid of (a, b) emits the
    * pair exactly once (sid sets are distinct per doc), the rare-set
    * intersection |A∩B| IS the pair's multiplicity in that stream — so
    * ONE map-side-combinable `groupBy(doc_a, doc_b).count()` replaces
    * the distinct + per-doc rare-array re-collection + array_intersect
    * verify an earlier formulation used (measured 3–7× slower at sf0.1:
    * the distinct shuffled the raw pair stream uncompacted and the
    * verify re-joined doc-sized arrays onto every candidate). Shingle
    * rows cross the wire once; pairs cross as four longs, pre-counted.
    * The per-doc FULL set size rides INSIDE the per-sid doc lists
    * (struct of (doc_id, n) — n is functionally determined by doc_id,
    * so adding it to the count's grouping keys changes nothing), which
    * removes the two post-count size joins an earlier formulation paid:
    * the count aggregate's output IS the final result. The df cap
    * bounds per-shingle pair fanout at dfCap²/2, and the rare path is
    * COMPLETE for both consumers: any reported pair has i ≥ 1 shared
    * rare sid. Returns (doc_a, doc_b, i, na, nb) with i = |A∩B| over
    * rare sids and na/nb the FULL set sizes.
    */
  private[operators] def rareSharedSidPairs(arrs: DataFrame, dfCap: Int): DataFrame = {
    import arrs.sparkSession.implicits._
    // Skew bound (VERDICT r19 #7, guide §2.5): the df cap is enforced
    // INSIDE the aggregation ([[graft.functions.CappedCollect]], O(cap)
    // state per group on every path) instead of collect_list'ing a hot
    // shingle's whole posting list into one buffer and only then
    // dropping it — same survivor set (a surviving group always has
    // ≥ 1 posting), same sorted docs arrays, bounded on hot keys.
    val capped = udaf(new graft.functions.CappedCollect[
      graft.functions.PostingN](dfCap))
    val dsid = arrs.select($"doc_id", size($"sids").cast("long").as("n"),
      explode($"sids").as("sid"))
    dsid.groupBy($"sid")
      .agg(capped($"doc_id", $"n").as("docs0"))
      .filter(size($"docs0") > 0)
      .select(sort_array($"docs0").as("docs"))
      .select(explode(expr(
        """flatten(transform(docs, (x, i) ->
             transform(slice(docs, i + 2, size(docs)),
                       y -> named_struct('doc_a', x.doc_id, 'na', x.n,
                                         'doc_b', y.doc_id, 'nb', y.n))))"""))
        .as("p"))
      .select($"p.doc_a", $"p.doc_b", $"p.na", $"p.nb")
      .groupBy($"doc_a", $"doc_b", $"na", $"nb").agg(count(lit(1)).as("i"))
      .select($"doc_a", $"doc_b", $"i", $"na", $"nb")
  }

  /** The COMPLETE exact-Jaccard-≥-0.5 pair join via prefix filtering
    * (AllPairs/PPJoin; Bayardo et al. WWW'07, Vernica et al.
    * SIGMOD'10's MapReduce form), shared by q121 (reports the pairs)
    * and q123 (uses them as sketch-fidelity ground truth): order each
    * doc's distinct sids by global (df asc, sid) rarity, emit only the
    * first ⌊n/2⌋+1 as the probe prefix (prefix length n − ⌈t·n⌉ + 1 —
    * any pair with J ≥ t MUST share a prefix token under a common
    * global order), self-join prefixes on sid equality, verify
    * candidates exactly with one array_intersect over the two
    * doc-bounded sid arrays. Two PPJoin prunes cut candidates BEFORE
    * they reach the distinct/verify stages, both complete for t=0.5:
    * the LENGTH filter (J ≥ 0.5 ⇒ 3·min(na,nb) ≥ na+nb ≥
    * min+max ⇒ max ≤ 2·min) and the POSITIONAL filter — under the
    * common global order, the common elements of a and b occupy
    * increasing positions in BOTH arrays, so for a shared prefix sid
    * at (1-based) positions (pa, pb), overlap ≤ (common strictly
    * before: ≤ min(pa,pb)−1) + 1 + (common strictly after:
    * ≤ min(na−pa, nb−pb)) = min(pa,pb) + min(na−pa, nb−pb). For a
    * TRUE J ≥ 0.5 pair that bound ≥ i on EVERY shared row, so
    * 3·bound ≥ 3i ≥ na+nb holds row-wise and per-row filtering keeps
    * completeness (pinned by PrefixFilterPropertySpec). The accept
    * decision is the exact integer form 2i ≥ na+nb−i; jac is a single
    * division. Rarity ordering makes prefixes maximally selective —
    * the most frequent sids never enter any prefix. Returns
    * (doc_a, doc_b, i, na, nb, jac).
    */
  private[operators] def prefixJaccardPairs(arrs: DataFrame): DataFrame = {
    import arrs.sparkSession.implicits._
    val posting = arrs.select($"doc_id", explode($"sids").as("sid"))
    val dfreq = posting.groupBy($"sid").agg(count(lit(1)).as("df"))
    val ordered = posting.join(dfreq, "sid")
      .groupBy($"doc_id")
      .agg(expr("transform(array_sort(collect_list(struct(df, sid))), x -> x.sid)")
        .as("sids"))
      .select($"doc_id", $"sids", size($"sids").cast("long").as("n"))
      .cache()
    val prefixes = ordered.select($"doc_id", $"n", posexplode(
        expr("slice(sids, 1, CAST(n DIV 2 + 1 AS INT))"))
        .as(Seq("p0", "sid")))
      .select($"doc_id", $"n", ($"p0" + 1).cast("long").as("p"), $"sid")
    val lengthOk = $"a.n" <= $"b.n" * 2 && $"b.n" <= $"a.n" * 2
    val positionalOk = (least($"a.p", $"b.p") +
      least($"a.n" - $"a.p", $"b.n" - $"b.p")) * 3 >= $"a.n" + $"b.n"
    val cands = prefixes.as("a")
      .join(prefixes.as("b"),
        $"a.sid" === $"b.sid" && $"a.doc_id" < $"b.doc_id" &&
          (lengthOk && positionalOk))
      .select($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b"))
      .distinct()
    cands
      .join(ordered.select($"doc_id".as("doc_a"), $"sids".as("sa"),
        $"n".as("na")), "doc_a")
      .join(ordered.select($"doc_id".as("doc_b"), $"sids".as("sb"),
        $"n".as("nb")), "doc_b")
      .withColumn("i", size(array_intersect($"sa", $"sb")).cast("long"))
      .filter($"i" * 2 >= $"na" + $"nb" - $"i")
      .select($"doc_a", $"doc_b", $"i", $"na", $"nb",
        CrossRound.r(
          $"i".cast("double") / ($"na" + $"nb" - $"i"), 6).as("jac"))
  }

  /** BPE machinery shared by q86 (training) and q92 (encoding): the
    * pruned word-frequency table with space-joined character symbols
    * (`w` is carried so q92 can join symbol counts back to
    * occurrences), weighted adjacent-pair counts, the argmax pair, and
    * the 3-pass greedy merge (see q86 for the exactness bound).
    */
  private[operators] def bpeWords(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    docs.select(explode(expr(toksExpr)).as("w"))
      .filter(expr("char_length(w) <= 15"))
      .groupBy($"w").agg(count(lit(1)).as("cnt"))
      .withColumn("syms", concat_ws(" ",
        expr("transform(sequence(1, char_length(w)), i -> substring(w, i, 1))")))
      .select($"w", $"cnt", $"syms")
  }

  private[operators] def bpePairCounts(df: DataFrame): DataFrame = {
    import df.sparkSession.implicits._
    df.withColumn("l", split($"syms", " "))
      .filter(size($"l") >= 2)
      .select($"cnt", explode(expr(
        """transform(sequence(1, size(l) - 1),
             i -> concat(element_at(l, i), ' ', element_at(l, i + 1)))"""))
        .as("pair"))
      .groupBy($"pair").agg(sum($"cnt").as("pcnt"))
  }

  private[operators] def bpeTop1(p: DataFrame): DataFrame = {
    import p.sparkSession.implicits._
    p.orderBy($"pcnt".desc, $"pair").limit(1)
  }

  private[operators] def bpeApplyMerge(df: DataFrame, top: DataFrame): DataFrame = {
    import df.sparkSession.implicits._
    df.crossJoin(broadcast(top.select($"pair".as("mp"))))
      .withColumn("syms", expr(
        """trim(replace(replace(replace(concat(' ', syms, ' '),
             concat(' ', mp, ' '), concat(' ', replace(mp, ' ', ''), ' ')),
             concat(' ', mp, ' '), concat(' ', replace(mp, ' ', ''), ' ')),
             concat(' ', mp, ' '), concat(' ', replace(mp, ' ', ''), ' ')))"""))
      .select($"w", $"cnt", $"syms")
  }

  /** The 3-iteration BPE merge chain over [[bpeWords]]: returns the
    * per-iteration argmax pairs (t1..t3) and the final symbolized word
    * table (used by q92's encoder; q86 reports only the merges).
    */
  private[operators] def bpeMergeChain(words: DataFrame)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val t1 = bpeTop1(bpePairCounts(words))
    val w2 = bpeApplyMerge(words, t1)
    val t2 = bpeTop1(bpePairCounts(w2))
    val w3 = bpeApplyMerge(w2, t2)
    val t3 = bpeTop1(bpePairCounts(w3))
    val w4 = bpeApplyMerge(w3, t3)
    (t1, t2, t3, w4)
  }

  private[graft] def bpeArtifactPath(s: SparkSession, dir: String): String =
    s"${System.getProperty("java.io.tmpdir")}/graft_bpe_" +
      s.sparkContext.applicationId.replaceAll("[^A-Za-z0-9]", "_") +
      "_" + dir.replaceAll("[^A-Za-z0-9]", "_") + "_" + dataFingerprint(dir)

  /** The BPE training artifact SHARED by q86 (reports the merges) and
    * q92 (encodes the corpus with them) — [[bpeWords]] +
    * [[bpeMergeChain]] materialized ONCE per (session, dir,
    * data-fingerprint), the dedup-label-artifact pattern (VERDICT r6
    * #3: q92 previously re-ran the whole training chain, re-paying
    * q86's cost). Two parquets under one base path: `merges`
    * (it, pair, pcnt — the per-iteration argmax) and `words`
    * (w, cnt, syms — the final symbolization after all 3 merges).
    * Returns (merges, words) readers over the persisted artifact.
    */
  private[operators] def bpeArtifact(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val base = bpeArtifactPath(s, dir)
    materializeOnce(base, base) {
      val words = bpeWords(Tables(s, dir).documents).cache()
      val (t1, t2, t3, w4) = bpeMergeChain(words)
      t1.withColumn("it", lit(1))
        .unionByName(t2.withColumn("it", lit(2)))
        .unionByName(t3.withColumn("it", lit(3)))
        .coalesce(1)
        .write.mode("overwrite").parquet(s"$base/merges")
      w4.write.mode("overwrite").parquet(s"$base/words")
      words.unpersist()
    }
    (s.read.parquet(s"$base/merges"), s.read.parquet(s"$base/words"))
  }

  /** One Lloyd ASSIGNMENT pass: fold the K centroids into a ONE-ROW
    * broadcast array (the pqRoute pattern — the same K×D bytes the old
    * row-wise broadcast shipped) and compute each vector's argmin
    * IN-ROW via a native-l2_sq transform + array_min over
    * struct(d, cid) — ties (d, cid), identical to the previous
    * min_by(struct(d, cid)) semantics. MAP-ONLY: zero shuffle and zero
    * aggregate. The previous crossJoin + groupBy(vec_id).min_by shape
    * put n×K rows through the aggregate, and min_by's struct buffer
    * plans as a SORT-based aggregate — at the 4096-cap witness
    * (16.9M × 4096 = 6.9·10¹⁰ rows) the map-side sort spilled the
    * whole stream and filled 75 GB of disk (round-17 cap run, first
    * attempt); the in-row argmin does the same distance work with
    * nothing materialized past one row per vector. Shared by
    * q72/q95's [[kmeansAssignments]] and the ANN family's
    * [[trainedCodebook]] trainer. `cents` must expose (cid, ce). */
  private[graft] def kmAssign(e: DataFrame, cents: DataFrame): DataFrame = {
    val s = e.sparkSession; import s.implicits._
    val cb = cents.agg(array_sort(collect_list(struct($"cid", $"ce"))).as("kcb"))
    e.crossJoin(broadcast(cb))
      .select($"vec_id", graft.functions.GraftFunctions
        .l2ArgminCid($"embedding", $"kcb", lit(null)).as("cid"))
  }

  /** One Lloyd CENTROID-UPDATE pass over an assignment: explode to
    * (cluster, dim, value), partial-aggregate the per-dim means (shuffle
    * = K×D running sums regardless of corpus size), round to 6 dp (the
    * q72 cross-engine contract — see its registry comment for the
    * residual ulp analysis), and re-collect each centroid dim-sorted. */
  private[graft] def kmUpdate(e: DataFrame, asg: DataFrame): DataFrame = {
    val s = e.sparkSession; import s.implicits._
    asg.join(e, "vec_id")
      .select($"cid", posexplode($"embedding").as(Seq("dim", "v")))
      .groupBy($"cid", $"dim")
      .agg(CrossRound.r(avg($"v"), 6).as("m"))
      .groupBy($"cid")
      .agg(array_sort(collect_list(struct($"dim", $"m"))).as("pm"))
      .select($"cid", expr("transform(pm, x -> x.m)").as("ce"))
  }

  /** Two-iteration Lloyd's assignment over the embeddings — the q72
    * machinery (see its registry comment for the shape and the float
    * contract), factored out so q95 can evaluate cluster purity on the
    * SAME assignment it reports. Returns (vec_id, cluster_init,
    * cluster), unordered.
    */
  private[operators] def kmeansAssignments(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val t = Tables(s, dir)
    val e = t.embeddings.select($"vec_id", $"embedding").cache()
    val c0 = e.filter($"vec_id" < 8)
      .select($"vec_id".as("cid"), $"embedding".cast("array<double>").as("ce"))
    val a1 = kmAssign(e, c0)
    val a2 = kmAssign(e, kmUpdate(e, a1))
    a1.select($"vec_id", $"cid".as("cluster_init"))
      .join(a2.select($"vec_id", $"cid".as("cluster")), "vec_id")
      .select($"vec_id", $"cluster_init", $"cluster")
  }

  /** The embeddings feed, layout-agnostic: a direct read when
    * `dir/embeddings.parquet` exists (the standard flat-file testdata
    * layout AND Spark-written directory layouts, e.g. the hermetic
    * in-test corpora), else the `embeddings*.parquet` GLOB the
    * streaming sources use (the staged multi-file feed of the
    * multi-batch witnesses — where a leaf-file glob is the only
    * spelling that matches). Used by the trained-codebook / IVFPQ-index
    * artifacts and q142's re-rank so they accept every corpus layout
    * the streaming side does. */
  /** Glob-aware documents read (the embGlob pattern): the single-file
    * corpora read `documents.parquet` directly; a STAGED multi-file
    * feed (q149/q155's documents_1.parquet, …) reads every stem —
    * file or directory layout — so static-side consumers of a staged
    * dir (q155's posting-index build) see the same corpus the stream
    * drains. */
  /** Top-level `documents*.parquet` stems of a corpus dir — file OR
    * directory layout. ONE definition for every consumer (docsGlob,
    * the bench-sid set, q149's arrival-order guard), so a staged feed
    * can never be enumerated differently by two readers (review
    * finding, r16). Listed through the Hadoop [[FileSystem]] API —
    * a `java.io.File` listing silently returns empty on an HDFS/S3
    * corpus dir, the seam class r16–r18 purged everywhere else
    * (VERDICT r18 #2). */
  private[graft] def docStems(
      s: SparkSession, dir: String): Seq[org.apache.hadoop.fs.FileStatus] = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Nil
    else fs.listStatus(p).toSeq
      .filter { st =>
        val n = st.getPath.getName
        n.startsWith("documents") && n.endsWith(".parquet")
      }
      .sortBy(_.getPath.toString)
  }

  private[graft] def docsGlob(s: SparkSession, dir: String): DataFrame = {
    val direct = new java.io.File(dir, "documents.parquet")
    if (direct.exists()) s.read.parquet(direct.getPath)
    else s.read.parquet(docStems(s, dir).map(_.getPath.toString): _*)
  }

  private[graft] def embGlob(s: SparkSession, dir: String): DataFrame = {
    val direct = new java.io.File(dir, "embeddings.parquet")
    val df =
      if (direct.exists()) s.read.parquet(direct.getPath)
      else s.read.option("pathGlobFilter", "embeddings*.parquet").parquet(dir)
    df.select(col("vec_id"), col("embedding"))
  }

  private[graft] def trainedCbPath(s: SparkSession, dir: String): String =
    s"${System.getProperty("java.io.tmpdir")}/graft_trained_cb_" +
      s.sparkContext.applicationId.replaceAll("[^A-Za-z0-9]", "_") +
      "_" + dir.replaceAll("[^A-Za-z0-9]", "_") +
      "_" + dataFingerprint(dir, "embeddings")

  /** The TRAINED fixed-K coarse codebook (VERDICT r13 #1): K =
    * [[AnnPolicy.TrainedK]] centroids from one Lloyd step over the
    * corpus (init = the first K vectors by vec_id, assignment + 6-dp
    * rounded mean update — exactly q72's proven-parity chain with K
    * lifted from 8 to 64), persisted once per (session, dir,
    * fingerprint) like q81's signature index. This is the quantizer the
    * production-shaped ANN variants (q36b/q60b/q141b/q142) consume
    * instead of the every-125th-vector FIXTURE convention whose
    * K = n/125 made total assignment work O(n²/125): with K fixed, the
    * n×K assignment stage is linear in the corpus and the broadcast is
    * K×D doubles — ~32 KB — at ANY corpus size. Empty clusters drop out
    * of the update group-by identically in both engines, so downstream
    * list counts always use the artifact's actual rows. Returns
    * (cid, ce: array<double>). Oracle twin: [[trainedCbCtes]].
    */
  private[graft] def trainedCodebook(s: SparkSession, dir: String): DataFrame =
    trainedCbAt(s, dir, AnnPolicy.TrainedK, trainedCbPath(s, dir))

  /** Cell-size-bounded sibling for PARTITION-style consumers (q68b):
    * K = [[AnnPolicy.cellBoundedK]](n), so cells stay ~CellTarget
    * vectors and the intra-cell verify stage stays linear in the
    * corpus — the round-14 witness measured fixed-K SemDeDup at 20.4 s
    * vs 2.2 s at 80k vectors (see AnnPolicy.CellTarget). Same trainer,
    * K derived from one bounded count (the q81-cut driver-scalar
    * precedent; the oracle's integer-arithmetic twin computes the
    * identical K). */
  private[graft] def trainedCodebookCellBounded(s: SparkSession, dir: String): DataFrame = {
    val k = AnnPolicy.cellBoundedK(embGlob(s, dir).count())
    trainedCbAt(s, dir, k, trainedCbPath(s, dir) + s"_cell$k")
  }

  /** `trainCut`: when set, the Lloyd pass trains ONLY on vec_id <
    * trainCut — the CDC contract q143 needs (the codebook was frozen
    * before the delta batch existed; q81's cut precedent). */
  private def trainedCbAt(s: SparkSession, dir: String,
      k: Long, path: String, trainCut: Option[Long] = None): DataFrame = {
    import s.implicits._
    materializeOnce(path, path) {
      val e = trainCut.foldLeft(embGlob(s, dir))((d, c) => d.filter($"vec_id" < c))
      val c0 = e.filter($"vec_id" < k)
        .select($"vec_id".as("cid"), $"embedding".cast("array<double>").as("ce"))
      kmUpdate(e, kmAssign(e, c0))
        .coalesce(1).write.mode("overwrite").parquet(path)
    }
    s.read.parquet(path)
  }

  /** Grow-K accessor (q36c's codebook at K = [[AnnPolicy.grownK]]): the
    * same trainer at an EXPLICIT K, keyed by it. The flat-IVF contract
    * stays fixed at [[AnnPolicy.TrainedK]] — this path serves a
    * deployment retuning K to its corpus (√n-ish, the TrainedK
    * scaladoc's note; the 160× measurement is in SCALE.md). */
  private[graft] def trainedCodebookK(s: SparkSession, dir: String,
      k: Long): DataFrame =
    trainedCbAt(s, dir, k, trainedCbPath(s, dir) + s"_k$k")

  /** The q143 codebook: trained on the CORPUS partition only (vec_id <
    * cut), keyed by the cut so a corpus regen rebuilds it. */
  private[graft] def trainedCodebookBefore(s: SparkSession, dir: String,
      cut: Long): DataFrame =
    trainedCbAt(s, dir, AnnPolicy.TrainedK,
      trainedCbPath(s, dir) + s"_cut$cut", Some(cut))

  private[graft] def ivfpqIndexPath(s: SparkSession, dir: String): String =
    s"${System.getProperty("java.io.tmpdir")}/graft_ivfpq_idx_" +
      s.sparkContext.applicationId.replaceAll("[^A-Za-z0-9]", "_") +
      "_" + dir.replaceAll("[^A-Za-z0-9]", "_") +
      "_" + dataFingerprint(dir, "embeddings")

  /** Per-row IVFPQ routing against a ONE-ROW collected codebook column
    * `cb` (array<struct<cid, ce>>, cid-sorted): adds `dsub` (per-centroid
    * 8-subspace distance arrays via the native [[graft.functions
    * .PqSubDists]] kernel — one fused 64-dim loop per (row, centroid)),
    * `cid` (full-dim argmin = ordered fold of the 8 subspace sums; the
    * q141-proven parity shape) and `pcode` (per-subspace argmin codes,
    * '-'-joined). Shared by the q141/q141b streaming ingest, the q142
    * index build and the maintained indexes of q143 onward, so a stored
    * index and an ingest ledger can never disagree on routing. The
    * kernel is composed into the per-row HOFs through the typed
    * `transform(col, fn)` API: an all-lambda zip_with/aggregate
    * formulation was 50× slower interpreted (the 40× witness measured
    * 216 s per micro-batch at 80k vectors). Input must already be at
    * real parallelism — callers repartition BEFORE calling (the
    * broadcast-probe-width lesson). */
  private[graft] def pqRoute(df: DataFrame): DataFrame = {
    val s = df.sparkSession; import s.implicits._
    val tf = org.apache.spark.sql.functions.transform(_: Column, _: Column => Column)
    df
      .withColumn("dsub", tf($"cb", c => struct(
        c.getField("cid").as("cid"),
        graft.functions.GraftFunctions
          .pqSubDists($"embedding", c.getField("ce"), 8).as("ds"))))
      .withColumn("cid", array_min(tf($"dsub", x => struct(
        aggregate(x.getField("ds"), lit(0.0d), (a, b) => a + b).as("d"),
        x.getField("cid").as("cid")))).getField("cid"))
      .withColumn("pcode", array_join(
        tf(sequence(lit(0), lit(7)), sb =>
          array_min(tf($"dsub", x => struct(
            element_at(x.getField("ds"), (sb + 1).cast("int")).as("d"),
            x.getField("cid").as("cid")))).getField("cid").cast("string")),
        "-"))
  }

  /** q143's persisted CORPUS index: the pre-delta partition (vec_id <
    * cut) routed through the cut-trained codebook — the artifact a real
    * deployment MAINTAINS rather than rebuilds when a delta arrives.
    * Keyed by the cut like [[trainedCodebookBefore]]. */
  private[graft] def ivfpqIndexBefore(s: SparkSession, dir: String,
      cut: Long): DataFrame = {
    import s.implicits._
    val path = ivfpqIndexPath(s, dir) + s"_cut$cut"
    val cbDf = trainedCodebookBefore(s, dir, cut) // materialized first
    materializeOnce(path, path) {
      val cb = cbDf.agg(array_sort(collect_list(struct($"cid", $"ce"))).as("cb"))
      val e = embGlob(s, dir).filter($"vec_id" < cut)
      pqRoute(e.repartition(Par.width(s), $"vec_id").crossJoin(broadcast(cb)))
        .select($"vec_id", $"cid",
          split($"pcode", "-").cast("array<long>").as("codes"))
        .write.mode("overwrite").parquet(path)
    }
    s.read.parquet(path)
  }

  /** The static IVFPQ INDEX the streaming ANN query path (q142) probes:
    * every corpus vector routed through the TRAINED codebook —
    * (vec_id, cid, pcode) — persisted once per (session, dir,
    * fingerprint). The 100 TB shape: one linear map-side pass over the
    * corpus against a broadcast K-centroid codebook; the stored row is
    * ~the 8-byte-code-per-vector structure production PQ indexes keep
    * (full vectors stay in the base table, read only by the re-rank).
    */
  private[graft] def ivfpqIndex(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val path = ivfpqIndexPath(s, dir)
    val cbDf = trainedCodebook(s, dir) // materialized BEFORE this build
    materializeOnce(path, path) {
      val cb = cbDf.agg(array_sort(collect_list(struct($"cid", $"ce"))).as("cb"))
      val e = embGlob(s, dir)
      pqRoute(e.repartition(Par.width(s), $"vec_id").crossJoin(broadcast(cb)))
        .select($"vec_id", $"cid",
          split($"pcode", "-").cast("array<long>").as("codes"))
        .write.mode("overwrite").parquet(path)
    }
    s.read.parquet(path)
  }

  /** CELL-PARTITIONED sibling of [[ivfpqIndexBefore]] — the storage
    * layout a WRITABLE index needs (VERDICT r15 #4): the pre-delta
    * corpus routed through the cut-trained frozen codebook, written
    * `partitionBy("cid")` so each inverted list is its own partition
    * directory. Deletes and upserts then rewrite ONLY the touched
    * cells' partitions (dynamic partition overwrite — Spark's
    * storage-level delete-by-key unit), and untouched lists' files are
    * never opened, let alone rewritten: rewrite cost is O(touched
    * buckets), not O(index). q153 mutates this artifact IN PLACE and
    * serves from it; q144's non-partitioned sibling stays immutable
    * for the ledger-view contract. */
  private[graft] def ivfpqPartPath(s: SparkSession, dir: String,
      cut: Long): String =
    ivfpqIndexPath(s, dir) + s"_part_cut$cut"

  private[graft] def ivfpqIndexPartBefore(s: SparkSession, dir: String,
      cut: Long): DataFrame = {
    import s.implicits._
    val path = ivfpqPartPath(s, dir, cut)
    val cbDf = trainedCodebookBefore(s, dir, cut) // materialized first
    materializeOnce(path, path) {
      val cb = cbDf.agg(array_sort(collect_list(struct($"cid", $"ce"))).as("cb"))
      val e = embGlob(s, dir).filter($"vec_id" < cut)
      pqRoute(e.repartition(Par.width(s), $"vec_id").crossJoin(broadcast(cb)))
        .select($"vec_id",
          split($"pcode", "-").cast("array<long>").as("codes"), $"cid")
        .write.mode("overwrite").partitionBy("cid").parquet(path)
    }
    s.read.parquet(path)
      .select($"vec_id", $"codes", $"cid".cast("long").as("cid"))
  }

  private[graft] def dedupLabelsPath(s: SparkSession, dir: String): String =
    s"${System.getProperty("java.io.tmpdir")}/graft_dedup_labels_" +
      s.sparkContext.applicationId.replaceAll("[^A-Za-z0-9]", "_") +
      "_" + dir.replaceAll("[^A-Za-z0-9]", "_") + "_" + dataFingerprint(dir)

  private[graft] def minhashPairsPath(s: SparkSession, dir: String): String =
    s"${System.getProperty("java.io.tmpdir")}/graft_mhpairs_" +
      s.sparkContext.applicationId.replaceAll("[^A-Za-z0-9]", "_") +
      "_" + dir.replaceAll("[^A-Za-z0-9]", "_") + "_" + dataFingerprint(dir)

  /** The VERIFIED MinHash near-dup pair set (doc_a, doc_b), J ≥ 0.6 —
    * the edge relation both component algorithms consume — persisted
    * once per (session, dir, fingerprint). Consumers: the label
    * artifact's propagation build (via [[dedupLabelsArtifact]]) and
    * q136's star contraction — the full signature+band+verify pipeline
    * ran TWICE per session for them before round 11. q22b itself stays
    * live (it reports jaccard and is the plan the LSH scale argument is
    * graded on); this artifact is the edge TABLE the graph algorithms
    * read. Never called from inside another materializeOnce build
    * (ConcurrentHashMap forbids reentrant compute) — callers
    * materialize it FIRST, then build on the parquet.
    */
  private[operators] def minhashPairsArtifact(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val path = minhashPairsPath(s, dir)
    materializeOnce(path, path) {
      val docArrs = docSidArrays(Tables(s, dir).documents).cache()
      minhashLshVerifyArr(docArrs).select($"doc_a", $"doc_b")
        .write.mode("overwrite").parquet(path)
      docArrs.unpersist()
    }
    s.read.parquet(path)
  }

  /** The dedup-group label artifact SHARED by q46 (group resolution) and
    * q67 (leakage-aware split): the (node, lbl) connected-component
    * output of [[dedupGroupLabels]] over the corpus's verified MinHash
    * pairs, materialized ONCE per (session, dir, data-fingerprint) —
    * the same persisted-artifact pattern as q81's signature index.
    * MinHash candidate generation + label propagation (the most
    * expensive construction in the suite) runs once; every consumer
    * thereafter pays one parquet read + join. Keyed with the corpus
    * fingerprint so an in-place data rewrite rebuilds rather than
    * serving stale labels. The pair stream comes from
    * [[minhashPairsArtifact]], materialized BEFORE this build starts
    * (reentrant materializeOnce is forbidden); the propagation's two
    * edge branches then each read a pair-sized parquet.
    */
  private[operators] def dedupLabelsArtifact(s: SparkSession, dir: String): DataFrame = {
    val path = dedupLabelsPath(s, dir)
    val pairs = minhashPairsArtifact(s, dir)
    materializeOnce(path, path) {
      dedupGroupLabels(pairs).write.mode("overwrite").parquet(path)
    }
    s.read.parquet(path)
  }

  private[graft] def starLabelsPath(s: SparkSession, dir: String): String =
    s"${System.getProperty("java.io.tmpdir")}/graft_star_labels_" +
      s.sparkContext.applicationId.replaceAll("[^A-Za-z0-9]", "_") +
      "_" + dir.replaceAll("[^A-Za-z0-9]", "_") + "_" + dataFingerprint(dir)

  /** q136's star-contraction labels as a per-(session, dir,
    * fingerprint) artifact — the [[dedupLabelsArtifact]] pattern
    * applied to the OTHER component algorithm (ADVICE r11): before
    * round 12, every q136 construction re-ran the full iterative
    * contraction (per-round localCheckpoints plus fixpoint jobs), so
    * each bench/plan-audit pass paid the whole iterative job and left
    * the final checkpoint's blocks pinned until GC. Now the
    * contraction runs once per session; the final edge checkpoint is
    * explicitly unpersisted the moment the label parquet exists
    * (plain `df.unpersist` cannot reach localCheckpoint blocks).
    * Deliberately a SEPARATE artifact from the propagation labels
    * (same contract, same oracle): materializing q136 from
    * [[dedupLabelsArtifact]] would collapse the two algorithms into
    * one and erase the mutual check they exist to provide.
    */
  private[operators] def bigStarLabelsArtifact(s: SparkSession, dir: String): DataFrame = {
    val path = starLabelsPath(s, dir)
    val pairs = minhashPairsArtifact(s, dir)
    materializeOnce(path, path) {
      val (labels, finalEdges) = bigStarContraction(pairs)
      labels.write.mode("overwrite").parquet(path)
      org.apache.spark.sql.graft.Bridge.unpersistLocalCheckpoint(finalEdges)
    }
    s.read.parquet(path)
  }

  private[graft] def rarePairsPath(s: SparkSession, dir: String): String =
    s"${System.getProperty("java.io.tmpdir")}/graft_rarepairs_" +
      s.sparkContext.applicationId.replaceAll("[^A-Za-z0-9]", "_") +
      "_" + dir.replaceAll("[^A-Za-z0-9]", "_") + "_" + dataFingerprint(dir)

  /** The df-capped rare-shingle pair stream
    * ([[rareSharedSidPairs]] over [[docSidArrays]], cap 50) as a
    * persisted per-(session, dir, fingerprint) artifact — the
    * dedup-label / span / BPE pattern applied to the pair family:
    * q23 (Jaccard) and q71 (containment) consume the IDENTICAL
    * (doc_a, doc_b, i, na, nb) relation and differ only in the metric
    * and threshold applied on top, so the shingle explode + per-sid
    * aggregation + map-side pair emission is paid once per session and
    * each consumer reads one pair-sized parquet. At 100 TB this is the
    * difference between two posting-volume aggregations and one.
    */
  private[operators] def rareSidPairsArtifact(s: SparkSession, dir: String): DataFrame = {
    val path = rarePairsPath(s, dir)
    materializeOnce(path, path) {
      rareSharedSidPairs(docSidArrays(Tables(s, dir).documents), 50)
        .write.mode("overwrite").parquet(path)
    }
    s.read.parquet(path)
  }

  /** (doc_id, sids) with the DISTINCT winnowing fingerprints (window-4
    * sliding min over 3-shingle sids — q29's exact parameters) as the
    * sid-set carrier: the screen-side input shared by q125 and q127.
    */
  private[operators] def winnowSidArrays(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    docs.repartition($"doc_id")
      .select($"doc_id", graft.functions.GraftFunctions.slidingMin(
        graft.functions.GraftFunctions.polyHashArray(shinglesCol()), 4)
        .as("wmins"))
      .filter(size($"wmins") > 0)
      .select($"doc_id", array_distinct($"wmins").as("sids"))
  }

  private[graft] def winnowPairsPath(s: SparkSession, dir: String): String =
    s"${System.getProperty("java.io.tmpdir")}/graft_winnowpairs_" +
      s.sparkContext.applicationId.replaceAll("[^A-Za-z0-9]", "_") +
      "_" + dir.replaceAll("[^A-Za-z0-9]", "_") + "_" + dataFingerprint(dir)

  /** [[rareSharedSidPairs]] over the winnowing-fingerprint sets
    * ([[winnowSidArrays]], cap 50), persisted once per (session, dir,
    * fingerprint): q125 (the screen's report) and q127 (the screen
    * feeding exact Levenshtein verification) consume the identical
    * UNFILTERED pair stream — the screen machinery runs once, each
    * consumer applies its own threshold on a pair-sized parquet read.
    */
  private[operators] def winnowPairsArtifact(s: SparkSession, dir: String): DataFrame = {
    val path = winnowPairsPath(s, dir)
    materializeOnce(path, path) {
      rareSharedSidPairs(winnowSidArrays(Tables(s, dir).documents), 50)
        .write.mode("overwrite").parquet(path)
    }
    s.read.parquet(path)
  }

  /** The benchmark (eval-suite) shingle-id set, SORTED ascending, as a
    * driver-side array — the pinned reference set streaming
    * decontamination (q59) embeds as a literal. Eval suites are small
    * by construction (thousands of items, not corpora), so collecting
    * the distinct sid set is a bounded scalar-sized fetch, the same
    * class as q55's 16 KB bloom; past literal-embedding size the bloom
    * + shuffle-verify shape (q55) takes over.
    */
  private[graft] def benchSortedSids(s: SparkSession, dir: String): Array[Long] =
    benchSortedSidsGlob(s, dir)

  /** The eval-suite sid set, glob-aware: read over every
    * documents*.parquet so a STAGED multi-file feed (q149's
    * documents_1.parquet, …) computes the identical bench set the
    * single-file layout does — on the standard corpora the glob
    * matches exactly documents.parquet, so [[benchSortedSids]] simply
    * delegates here (one implementation, one memo namespace — review
    * finding, session 2). */
  private[graft] def benchSortedSidsGlob(s: SparkSession, dir: String): Array[Long] = {
    import s.implicits._
    val key = "graft_bench_sids_glob_" +
      s.sparkContext.applicationId.replaceAll("[^A-Za-z0-9]", "_") +
      "_" + dir.replaceAll("[^A-Za-z0-9]", "_") + "_" + dataFingerprint(dir)
    // Enumerate the matching stems OURSELVES rather than via
    // `pathGlobFilter` (ADVICE r15): pathGlobFilter matches LEAF file
    // names only, so a directory-layout `documents.parquet` (the shape
    // `df.write.parquet` produces, e.g. a ComposedPipeline stage dir)
    // would match zero files and the read would throw. Listing the
    // top level and passing each match — file OR directory — as its
    // own parquet path handles both layouts identically.
    benchSidsMemo.computeIfAbsent(key, _ => {
      docSidArrays(s.read.parquet(docStems(s, dir).map(_.getPath.toString): _*))
        .filter($"doc_id" < 10)
        .select(explode($"sids").as("sid")).distinct()
        .orderBy($"sid")
        .as[Long].collect()
    })
  }

  /** Map-only MinHash(16) → 4-band LSH → Jaccard verify over
    * (doc_id, sids) ARRAYS ([[docSidArrays]], cached by the caller —
    * probed by the signature pass and both verify joins).
    *
    * Vs the exploded-pairs formulation ([[minhashLshVerify]], kept for
    * the dictionary witness): the signature is ONE native per-row
    * `minhash_sigs` kernel instead of explode + 16-min aggregation — no
    * Generate, no doc_id shuffle before banding; and the verify
    * intersection is per-candidate `array_intersect` on long arrays
    * instead of a double explode join + count aggregation. The only
    * shingle-set data movement left is shipping the two candidate docs'
    * id arrays through the verify joins — exactly the rows the LSH
    * bands selected. The DuckDB oracle chain computes the identical
    * sid-set pipeline (dsid CTE), so values match bit-for-bit.
    */
  /** 4-band × 4-row LSH banding of a 16-perm `mh` signature column,
    * posexploded to (band, sig) rows. ONE definition shared by the
    * self-join verify (q22b/q46/q67), the cross-corpus variant (q54),
    * and the delta-index path (q81), keeping the band layout in
    * lockstep with the oracle's `bands` CTE everywhere. */
  private[graft] def mhBandCols =
    posexplode(array((0 until 4).map(b =>
      concat_ws("-", (0 until 4).map(r => col("mh")(b * 4 + r)): _*)): _*))

  /** Per-bucket candidate-pair cap before salting kicks in. At test
    * scale every bucket is far below this, so g = 1 and the plan is the
    * plain band self-join; the bound only matters at corpus scale, and
    * `BandSaltSpec` exercises the g > 1 path on a constructed skew
    * fixture through the same code.
    */
  private[operators] val bandSaltCap = 1024

  /** Absolute ceiling on the over-cap key list that may ride a
    * broadcast inside [[saltedBandPairs]] (ADVICE r8): the relative
    * bound — at most #rows/cap hot keys — is corpus-sized, and at the
    * 100 TB design point (~1e12 band rows / 1024) it reaches ~1e9
    * keys, far past any broadcast threshold or driver heap. Below this
    * ceiling the hot list is ≤ ~2.4 MB ((band, sig, bdf) ≈ 24 bytes a
    * row) and the q78 broadcast-hot-key pattern is CHECKED, not
    * assumed; above it the salt-group assignment degrades gracefully
    * to a shuffle join on (band, sig) — identical pair output
    * (`BandSaltSpec` pins both paths against brute force), no driver
    * bottleneck, at the cost of shuffling the band relation once.
    */
  private[operators] val hotKeyBroadcastMax = 100000L

  /** Banded-LSH candidate pairs with HOT-BUCKET salting (the triangle /
    * 1-bucket-theta split, Okcan & Riedewald SIGMOD'11's shape): a
    * degenerate band value — all-dark thumbnails under aHash, a
    * boilerplate-dominated MinHash band — puts m rows on ONE join key,
    * and a plain self-join does all m²/2 comparisons in the single task
    * that owns that key. Here each bucket with m > cap rows splits into
    * g = ⌈m/cap⌉ doc-hash groups and its pairs spread over the
    * g·(g+1)/2 CELLS (i ≤ j) of the group grid: a row with group r
    * enters cell (r, j) for j ≥ r on the A side and cell (i, r) for
    * i ≤ r on the B side, so cross-group pairs (i < j) meet in exactly
    * cell (i, j) with their roles fixed by group, and same-group pairs
    * meet only in cell (r, r) where `a.doc_id < b.doc_id` picks one
    * ordering — every co-bucketed pair is emitted EXACTLY once (the
    * uniqueness argument is pinned by `BandSaltSpec` against brute
    * force), per-cell input is ~2·cap rows, and the cells hash across
    * reducers on (band, sig, ci, cj). Cold buckets (m ≤ cap) take
    * g = 1: one A row + one B row per doc, cell (0, 0) — the plain
    * self-join, at 2× replication. The over-cap key list (≤ #rows/cap
    * keys, in practice the handful of degenerate values) joins back by
    * broadcast — the q78 hot-key-list pattern — but only after a
    * BOUNDED probe confirms it is under [[hotKeyBroadcastMax]] rows
    * (ADVICE r8: the relative bound alone is corpus-sized, ~1e9 keys
    * at 1e12 band rows); past the ceiling — a corpus where degenerate
    * values are the norm, which has no selective bands to begin
    * with — the hot list joins by shuffle instead, same pairs, no
    * driver-side assumption.
    * Input: (band, sig, doc_id, payload...). Output: (doc_a < doc_b,
    * pa, pb) with pa/pb the full input rows as structs, one row per
    * shared (band, sig) — consumers verify then distinct().
    */
  private[operators] def saltedBandPairs(
      bands: DataFrame, cap: Int,
      hotBroadcastMax: Long = hotKeyBroadcastMax): DataFrame = {
    import bands.sparkSession.implicits._
    val payload = struct(bands.columns.map(col).toIndexedSeq: _*)
    val hot = bands.groupBy($"band", $"sig")
      .agg(count(lit(1)).as("bdf")).filter($"bdf" > cap)
    // Bounded strategy probe — never fetches past the ceiling + 1 rows
    // (≤ ~2.4 MB), decides the JOIN STRATEGY (the 1-row-scalar
    // convention, q81's split point) AND, when the list fits, IS the
    // hot list: the fetched rows re-enter as a broadcast local
    // relation, so the hot aggregation runs exactly once and no frame
    // stays cached in the session. (ADVICE r9: the old `hot.cache()`
    // was never unpersisted — every LSH query pinned one for the
    // process lifetime, and in the fallback regime the pinned frame
    // was by definition large.) Past the ceiling the probe rows are
    // discarded and the salt assignment degrades to the shuffle join
    // the docstring describes, recomputing `hot` once inside it.
    val probe = hot.limit(hotBroadcastMax.toInt + 1).collect()
    val hotFits = probe.length <= hotBroadcastMax
    val hotRel =
      if (hotFits) broadcast(bands.sparkSession.createDataFrame(
        java.util.Arrays.asList(probe: _*), hot.schema))
      else hot
    val salted = bands
      .join(hotRel, Seq("band", "sig"), "left")
      .withColumn("g",
        coalesce(expr(s"CAST((bdf + $cap - 1) DIV $cap AS INT)"), lit(1)))
      .withColumn("grp", pmod(xxhash64($"doc_id"), $"g").cast("int"))
      .select($"band", $"sig", $"g", $"grp", $"doc_id", payload.as("p"))
    val aSide = salted.select($"band", $"sig", $"grp".as("ci"),
      explode(expr("sequence(grp, g - 1)")).as("cj"), $"doc_id", $"p")
    val bSide = salted.select($"band", $"sig",
      explode(expr("sequence(0, grp)")).as("ci"), $"grp".as("cj"),
      $"doc_id", $"p")
    aSide.as("a").join(bSide.as("b"),
        $"a.band" === $"b.band" && $"a.sig" === $"b.sig" &&
        $"a.ci" === $"b.ci" && $"a.cj" === $"b.cj" &&
        ($"a.ci" =!= $"a.cj" || $"a.doc_id" < $"b.doc_id"))
      .select(
        least($"a.doc_id", $"b.doc_id").as("doc_a"),
        greatest($"a.doc_id", $"b.doc_id").as("doc_b"),
        when($"a.doc_id" < $"b.doc_id", $"a.p").otherwise($"b.p").as("pa"),
        when($"a.doc_id" < $"b.doc_id", $"b.p").otherwise($"a.p").as("pb"))
  }

  private[operators] def minhashLshVerifyArr(docArrs: DataFrame): DataFrame = {
    import docArrs.sparkSession.implicits._
    val sigs = docArrs.filter(size($"sids") > 0)
      .withColumn("mh", graft.functions.GraftFunctions.minhashSigs($"sids", 16))
    val bands = sigs.select($"doc_id", mhBandCols.as(Seq("band", "sig")))
    val cand = saltedBandPairs(bands, bandSaltCap)
      .select($"doc_a", $"doc_b")
      .distinct()
    val sets = docArrs.select($"doc_id", $"sids", size($"sids").as("n"))
    cand
      .join(sets.as("x"), $"doc_a" === $"x.doc_id")
      .join(sets.as("y"), $"doc_b" === $"y.doc_id")
      .withColumn("i", size(array_intersect($"x.sids", $"y.sids")))
      .withColumn("jaccard", $"i".cast("double") / ($"x.n" + $"y.n" - $"i"))
      .filter($"jaccard" >= 0.6)
      .select($"doc_a", $"doc_b", CrossRound.r($"jaccard", 4).as("jaccard"))
      .orderBy($"doc_a", $"doc_b")
  }

  /** The sorted-dictionary MinHash formulation (dense shingle ids from a
    * global vocabulary sort + `zipWithIndex`, broadcast back). NOT part
    * of the driver contract: the vocabulary broadcast and global sort do
    * not survive a 100 TB corpus (billions of distinct shingles), so the
    * dictionary-free q22b is the shipped fuzzy-dedup operator. This
    * variant is kept as the small-sf witness — `MinhashDictWitnessSpec`
    * asserts both formulations agree on verified pairs — and as the
    * explicit contrast case for why id assignment must be hash-based at
    * scale.
    */
  def minhashDictVariant(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val t = Tables(s, dir)
    val dsh = docShingles(t.documents).cache()
    // dict is vocabulary-bounded (distinct shingles) — broadcast it; the
    // RDD-built frame has no stats, so the hint is explicit.
    val dict = broadcast(shingleDict(dsh))
    val dt = dsh.join(dict, "shingle").select($"doc_id", $"sid")
    minhashLshVerify(dt, dsh)
  }

  /** Aggregated registry over the family modules (round-14 split of the
    * former 7.4k-line single file — VERDICT r13 #5; every entry moved
    * verbatim, zero behavior change, PLANS.md regen is the proof). */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    AnnQueries.queries ++ DedupQueries.queries ++ TextQueries.queries ++
      SamplingQueries.queries ++ AnalyticsQueries.queries ++
      MultimodalQueries.queries


  /** q79's documented scale form as a runnable WITNESS (VERDICT r5 #8):
    * the per-source window in the registered query funnels each source
    * through one task; the distributed prefix-sum splits every source
    * into `nBuckets` n_tokens BANDS (bucket is a monotone function of
    * the priority key alone, so band b's rows all precede band b+1's in
    * (n_tokens desc, doc_id) order and equal keys can't straddle a
    * boundary), computes intra-band running sums with parallelism
    * #sources × nBuckets, then adds per-band exclusive offsets from a
    * #sources × nBuckets-row aggregate broadcast back — the classic
    * partial-sums + offsets construction. `PrefixSumWitnessSpec` proves
    * row equality with the window form; q09's global running window
    * would scale with the same rewrite (source → the single global
    * partition).
    */
  private[graft] def budgetSelectPrefixSum(
      s: SparkSession, dir: String, nBuckets: Int = 8): DataFrame = {
    import s.implicits._
    val t = Tables(s, dir)
    val base = t.documents.select($"source", $"doc_id",
      size(expr(toksExpr)).cast("long").as("n_tokens"))
    val stats = base.groupBy($"source")
      .agg(max($"n_tokens").as("mx"), min($"n_tokens").as("mn"))
    val bucketed = base.join(broadcast(stats), "source")
      .withColumn("bucket", least(lit(nBuckets - 1),
        floor(($"mx" - $"n_tokens") * nBuckets / ($"mx" - $"mn" + 1))
          .cast("int")))
    val wIn = Window.partitionBy($"source", $"bucket")
      .orderBy($"n_tokens".desc, $"doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wOff = Window.partitionBy($"source").orderBy($"bucket")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = bucketed.groupBy($"source", $"bucket")
      .agg(sum($"n_tokens").as("tot"))
      .withColumn("off", coalesce(sum($"tot").over(wOff), lit(0L)))
      .select($"source", $"bucket", $"off")
    bucketed
      .withColumn("run", sum($"n_tokens").over(wIn))
      .join(broadcast(offsets), Seq("source", "bucket"))
      .withColumn("cum_tokens", $"off" + $"run")
      .filter($"cum_tokens" <= 20000)
      .select($"source", $"doc_id", $"n_tokens", $"cum_tokens")
      .orderBy($"source", $"cum_tokens", $"doc_id")
  }

  /** Trained-codebook CTE chain — the oracle twin of [[trainedCodebook]]
    * (q72's proven-parity Lloyd step with K = AnnPolicy.TrainedK):
    * init = first K vectors, assignment by the flat 64-term L2 fold,
    * update = 6-dp rounded per-dim means, dim-ordered re-collect. Ends
    * in tcb(cid, ce DOUBLE[]); names are t-prefixed so consumers can
    * compose their own e/pd/codes CTEs alongside. ORDER BY d NULLS
    * FIRST pins the (latent, fixture-null-free) null-element seam to
    * Spark's struct-ordering convention (ADVICE r13 #3). Shared by the
    * q36b/q60b oracles here and the q141b/q142 streaming oracles.
    */
  private[graft] lazy val trainedCbOracleCtes: String =
    trainedCbOracleCtesFor(AnnPolicy.TrainedK.toString)

  /** The fixture codebook's CTEs — the oracle twin of the every-125th-
    * vector codebook q68, q140 and q141 build in-plan: e(vec_id, v) and
    * cents(cid, ce). */
  private[graft] lazy val fixtureCbOracleCtes: String = s"""$cosFragment,
        cents AS (SELECT vec_id cid, v ce FROM e WHERE vec_id % 125 = 0)"""

  /** The same chain with the codebook size K as a caller-supplied SQL
    * scalar — the cell-size-bounded twin interpolates
    * `greatest(TrainedK, ⌈count/CellTarget⌉)` over te (q68b), the fixed
    * consumers interpolate the literal. */
  private[graft] def trainedCbOracleCtesFor(kSql: String): String =
    trainedCbOracleCtesTrainOn(kSql, "", "te")

  /** Fully parameterized twin: `extraCtes` (e.g. a cut scalar + the
    * corpus-partition view) splice in right after `te`, and the Lloyd
    * pass trains on `trainSrc` (q143 trains on the pre-delta partition
    * only — the frozen-codebook CDC contract). */
  private[graft] def trainedCbOracleCtesTrainOn(kSql: String,
      extraCtes: String, trainSrc: String): String = s"""
        te AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),$extraCtes
        tk AS (SELECT $kSql AS k),
        tc0 AS (SELECT vec_id cid, v ce FROM $trainSrc
                WHERE vec_id < (SELECT k FROM tk)),
        td1 AS (SELECT tr.vec_id, c.cid,
                  list_reduce(list_prepend(0.0::DOUBLE,
                    list_transform(range(1, 65),
                      i -> (tr.v[i] - c.ce[i]) * (tr.v[i] - c.ce[i]))),
                    (x, y) -> x + y) d
                FROM $trainSrc tr CROSS JOIN tc0 c),
        ta1 AS (SELECT vec_id, cid FROM (
                  SELECT vec_id, cid,
                         row_number() OVER (PARTITION BY vec_id
                                            ORDER BY d NULLS FIRST, cid) rn
                  FROM td1) WHERE rn = 1),
        tcm AS (SELECT ta1.cid, t.dim,
                       floor(avg(tr.v[t.dim + 1]) * 1000000 + 0.5) / 1000000 m
                FROM ta1 JOIN $trainSrc tr USING (vec_id)
                     CROSS JOIN (SELECT unnest(range(0, 64)) dim) t
                GROUP BY 1, 2),
        tcb AS (SELECT cid, list(m ORDER BY dim) ce FROM tcm GROUP BY cid)"""

  /** The PQ-route CTE chain — the oracle twin of [[pqRoute]] — over
    * `vecs(vec_id, v)` and the codebook `cents(cid, ce)`, through the
    * CTE named `through`:
    *  - pd(vec_id, cid, s, d): per-(vector, centroid, subspace) 8-term
    *    L2 folds;
    *  - fd(vec_id, cid, d): full-dim distance as the ORDERED fold of the
    *    8 subspace sums — the same grouping as the Spark side's
    *    aggregate over the pq_subdists array (a flat 64-term fold would
    *    round differently);
    *  - asg(vec_id, cid): the nearest centroid;
    *  - codes(vec_id, s, code): the per-subspace nearest centroid;
    *  - pc(vec_id, pcode): the codes '-'-joined in subspace order.
    * row_number over (d NULLS FIRST, cid) is the Spark side's struct
    * array_min, ties and the null seam included (ADVICE r13 #3). */
  private[graft] def pqRouteOracleCtes(vecs: String, cents: String,
      through: String): String = {
    val chain = Seq(
      s"""pd AS (SELECT $vecs.vec_id, c.cid, s.s,
                      list_reduce(list_prepend(0.0::DOUBLE,
                        list_transform(range(1, 9),
                          j -> ($vecs.v[s.s*8+j] - c.ce[s.s*8+j])
                               * ($vecs.v[s.s*8+j] - c.ce[s.s*8+j]))),
                        (x, y) -> x + y) d
               FROM $vecs CROSS JOIN $cents c
                    CROSS JOIN (SELECT unnest(generate_series(0, 7)) s) s)""",
      """fd AS (SELECT vec_id, cid,
                      list_reduce(list_prepend(0.0::DOUBLE,
                        list(d ORDER BY s)), (x, y) -> x + y) d
               FROM pd GROUP BY vec_id, cid)""",
      """asg AS (SELECT vec_id, cid FROM (
                  SELECT vec_id, cid,
                         row_number() OVER (PARTITION BY vec_id
                                            ORDER BY d NULLS FIRST, cid) rn
                  FROM fd) WHERE rn = 1)""",
      """codes AS (SELECT vec_id, s, cid code FROM (
                    SELECT vec_id, s, cid,
                           row_number() OVER (PARTITION BY vec_id, s
                                              ORDER BY d NULLS FIRST, cid) rn
                    FROM pd) WHERE rn = 1)""",
      """pc AS (SELECT vec_id, string_agg(code::VARCHAR, '-' ORDER BY s) pcode
               FROM codes GROUP BY 1)""")
    val n = chain.indexWhere(_.startsWith(s"$through AS ("))
    require(n >= 0, s"pqRouteOracleCtes: no CTE named '$through'")
    chain.take(n + 1).map("\n        " + _).mkString(",")
  }

  /** DuckDB twins computing the identical pipelines. Shared fragments are
    * inlined per query (the driver runs each statement standalone).
    */
  /** DuckDB oracle for the decontamination contract, shared by q51, q55,
    * and the streaming q59 — all three implementations (broadcast join,
    * bloom prefilter + shuffle verify, streaming sorted-set kernel)
    * produce these exact rows.
    */
  private[graft] lazy val decontamOracleSql: String =
    s"""
        WITH toks AS (SELECT doc_id, $toks tk FROM documents),
        dsh AS (SELECT DISTINCT doc_id, shingle FROM (
          SELECT doc_id, unnest(list_transform(range(1, len(tk) - 1),
            i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) shingle FROM toks)),
        dsid AS (SELECT DISTINCT doc_id, ${oraclePolyHash("shingle")} sid
                 FROM dsh),
        bench AS (SELECT DISTINCT sid FROM dsid WHERE doc_id < 10),
        corpus AS (SELECT doc_id, sid FROM dsid WHERE doc_id >= 10),
        sizes AS (SELECT doc_id, count(1) n_shingles FROM corpus GROUP BY 1),
        ov AS (SELECT c.doc_id, count(1) n_overlap
               FROM corpus c JOIN bench USING (sid) GROUP BY 1)
        SELECT s.doc_id, s.n_shingles,
               coalesce(ov.n_overlap, 0) AS n_overlap,
               floor((coalesce(ov.n_overlap, 0)::DOUBLE / s.n_shingles) * 10000 + 0.5) / 10000
                 AS overlap_ratio,
               coalesce(ov.n_overlap, 0)::DOUBLE / s.n_shingles >= 0.5
                 AS contaminated
        FROM sizes s LEFT JOIN ov ON s.doc_id = ov.doc_id
        ORDER BY s.doc_id"""

  /** DuckDB oracle for the q149 streaming-curation composition — the
    * BATCH TWIN of the ingest gate: quality (q73's dyadic-exact weight
    * sum ≥ 0) ∧ decontamination (2·overlap < shingles, integer form;
    * shingle-less docs vacuously clean) over the non-bench corpus,
    * then exact dedup keeping min doc_id per content hash AMONG the
    * gated docs. Every compare is integer or dyadic-exact, so the
    * streamed composition must reproduce these rows bit-for-bit under
    * any doc_id-ordered staging.
    */
  private[graft] lazy val streamCurateOracleSql: String =
    s"""
        WITH toks AS (SELECT doc_id, md5(text) eh, $toks tk FROM documents
                      WHERE doc_id >= 10),
        nz AS (SELECT doc_id, eh, tk FROM toks WHERE len(tk) > 0),
        inst AS (SELECT doc_id, unnest(tk) tok FROM nz),
        sidt AS (SELECT doc_id, ${oraclePolyHash("tok")} sid FROM inst),
        qsc AS (SELECT doc_id, count(1) n,
                       ${oracleQualitySum("sid")} lsum
                FROM sidt GROUP BY 1),
        shing AS (SELECT doc_id, unnest(list_transform(range(1, len(tk) - 1),
                    i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) shingle
                  FROM nz),
        ssid AS (SELECT DISTINCT doc_id, ${oraclePolyHash("shingle")} sid
                 FROM shing),
        bench AS (SELECT DISTINCT ${oraclePolyHash("shingle")} sid FROM (
                    SELECT unnest(list_transform(range(1, len(tk) - 1),
                      i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) shingle
                    FROM (SELECT $toks tk FROM documents WHERE doc_id < 10))),
        sstat AS (SELECT s.doc_id, CAST(count(1) AS BIGINT) n_sh,
                         CAST(sum(CASE WHEN b.sid IS NOT NULL
                                       THEN 1 ELSE 0 END) AS BIGINT) n_ov
                  FROM ssid s LEFT JOIN bench b ON s.sid = b.sid GROUP BY 1),
        gated AS (SELECT z.doc_id, z.eh,
                         floor((q.lsum / q.n) * 10000 + 0.5) / 10000
                           quality_logit,
                         CASE WHEN coalesce(st.n_sh, 0) > 0
                              THEN floor(st.n_ov::DOUBLE / st.n_sh * 10000
                                         + 0.5) / 10000
                              ELSE 0.0 END overlap_ratio
                  FROM nz z JOIN qsc q USING (doc_id)
                       LEFT JOIN sstat st USING (doc_id)
                  WHERE q.lsum >= 0
                    AND (coalesce(st.n_sh, 0) = 0 OR 2 * st.n_ov < st.n_sh)),
        firsts AS (SELECT min(doc_id) doc_id FROM gated GROUP BY eh)
        SELECT g.doc_id, g.quality_logit, g.overlap_ratio
        FROM gated g JOIN firsts f ON g.doc_id = f.doc_id
        ORDER BY g.doc_id"""

  /** Batch twin of the q155 near-dup ingest stream: q81's delta-pair
    * statement with the NEW-doc side restricted to the q149 gate
    * (quality ∧ decontamination — identical integer/dyadic-exact
    * predicates, g-prefixed CTEs to keep clear of the shared dsh/dsid
    * fragment names). The corpus/index side is ungated, exactly as the
    * persisted posting index is built. */
  private[graft] lazy val streamNeardupOracleSql: String =
    s"""$neardupGateCtes
        cand AS (SELECT DISTINCT a.doc_id new_doc, b.doc_id corpus_doc
                 FROM bands a JOIN bands b
                   ON a.band = b.band AND a.sig = b.sig
                 WHERE a.doc_id >= (SELECT c FROM cut)
                   AND a.doc_id IN (SELECT doc_id FROM gate)
                   AND b.doc_id < (SELECT c FROM cut)),
        agree AS (SELECT c.new_doc, c.corpus_doc,
                         sum(CASE WHEN x.mh = y.mh THEN 1 ELSE 0 END) nm
                  FROM cand c
                  JOIN mh x ON x.doc_id = c.new_doc
                  JOIN mh y ON y.doc_id = c.corpus_doc AND y.s = x.s
                  GROUP BY 1, 2)
        SELECT new_doc, corpus_doc, CAST(nm AS BIGINT) AS n_match,
               floor((nm / 16.0) * 10000 + 0.5) / 10000 AS est_sim
        FROM agree WHERE nm >= 8
        ORDER BY new_doc, corpus_doc"""

  /** Batch twin of the q159 rewritten-store ingest probe:
    * [[streamNeardupOracleSql]] with the corpus side restricted to the
    * SURVIVORS of the forget stripe (doc_id % 13 ≠ 0) — exactly the
    * rows the q154-rewritten posting table holds, so the oracle grades
    * the stream against the bytes the rewrite committed. */
  private[graft] lazy val streamNeardupRewrittenOracleSql: String =
    s"""$neardupGateCtes
        cand AS (SELECT DISTINCT a.doc_id new_doc, b.doc_id corpus_doc
                 FROM bands a JOIN bands b
                   ON a.band = b.band AND a.sig = b.sig
                 WHERE a.doc_id >= (SELECT c FROM cut)
                   AND a.doc_id IN (SELECT doc_id FROM gate)
                   AND b.doc_id < (SELECT c FROM cut)
                   AND b.doc_id % 13 != 0),
        agree AS (SELECT c.new_doc, c.corpus_doc,
                         sum(CASE WHEN x.mh = y.mh THEN 1 ELSE 0 END) nm
                  FROM cand c
                  JOIN mh x ON x.doc_id = c.new_doc
                  JOIN mh y ON y.doc_id = c.corpus_doc AND y.s = x.s
                  GROUP BY 1, 2)
        SELECT new_doc, corpus_doc, CAST(nm AS BIGINT) AS n_match,
               floor((nm / 16.0) * 10000 + 0.5) / 10000 AS est_sim
        FROM agree WHERE nm >= 8
        ORDER BY new_doc, corpus_doc"""

  /** The q149-gate WITH chain (quality ∧ decontamination over the delta,
    * plus the shared shingle/minhash/band CTEs), ending at `gate` —
    * interpolated verbatim by BOTH [[streamNeardupOracleSql]] (q155) and
    * [[streamLshIndexOracleSql]] (q158, and q160 by alias), plus the
    * q159 survivor-restricted form, so their candidate relations are
    * graded against the identical gating semantics. */
  private[graft] lazy val neardupGateCtes: String =
    s"""
        WITH $dsh, $dsid,$mhBandsSql,
        cut AS (SELECT (max(doc_id) + 1) * 9 // 10 AS c FROM documents),
        gtk AS (SELECT doc_id, $toks tk FROM documents
                WHERE doc_id >= (SELECT c FROM cut)),
        gnz AS (SELECT doc_id, tk FROM gtk WHERE len(tk) > 0),
        gin AS (SELECT doc_id, unnest(tk) tok FROM gnz),
        gsid AS (SELECT doc_id, ${oraclePolyHash("tok")} sid FROM gin),
        gq AS (SELECT doc_id,
                      ${oracleQualitySum("sid")} lsum
               FROM gsid GROUP BY 1),
        gsh AS (SELECT doc_id, unnest(list_transform(range(1, len(tk) - 1),
                  i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) shingle
                FROM gnz),
        gss AS (SELECT DISTINCT doc_id, ${oraclePolyHash("shingle")} sid
                FROM gsh),
        gbench AS (SELECT DISTINCT ${oraclePolyHash("shingle")} sid FROM (
                     SELECT unnest(list_transform(range(1, len(tk) - 1),
                       i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) shingle
                     FROM (SELECT $toks tk FROM documents
                           WHERE doc_id < 10))),
        gst AS (SELECT s.doc_id, CAST(count(1) AS BIGINT) n_sh,
                       CAST(sum(CASE WHEN b.sid IS NOT NULL
                                     THEN 1 ELSE 0 END) AS BIGINT) n_ov
                FROM gss s LEFT JOIN gbench b ON s.sid = b.sid GROUP BY 1),
        gate AS (SELECT z.doc_id
                 FROM gnz z JOIN gq q USING (doc_id)
                      LEFT JOIN gst st USING (doc_id)
                 WHERE q.lsum >= 0
                   AND (coalesce(st.n_sh, 0) = 0 OR 2 * st.n_ov < st.n_sh)),"""

  /** Batch twin of the q158 live LSH index: [[streamNeardupOracleSql]]
    * with the candidate relation widened to delta×delta — the b side
    * may be a corpus doc (b < cut) OR an earlier GATED delta doc
    * (b < a), exactly the pairs the live posting-store state adds. */
  private[graft] lazy val streamLshIndexOracleSql: String = {
    s"""$neardupGateCtes
        cand AS (SELECT DISTINCT a.doc_id doc_a, b.doc_id doc_b
                 FROM bands a JOIN bands b
                   ON a.band = b.band AND a.sig = b.sig
                 WHERE a.doc_id >= (SELECT c FROM cut)
                   AND a.doc_id IN (SELECT doc_id FROM gate)
                   AND (b.doc_id < (SELECT c FROM cut)
                        OR (b.doc_id IN (SELECT doc_id FROM gate)
                            AND b.doc_id < a.doc_id))),
        agree AS (SELECT c.doc_a, c.doc_b,
                         sum(CASE WHEN x.mh = y.mh THEN 1 ELSE 0 END) nm
                  FROM cand c
                  JOIN mh x ON x.doc_id = c.doc_a
                  JOIN mh y ON y.doc_id = c.doc_b AND y.s = x.s
                  GROUP BY 1, 2)
        SELECT doc_a, doc_b, CAST(nm AS BIGINT) AS n_match,
               floor((nm / 16.0) * 10000 + 0.5) / 10000 AS est_sim
        FROM agree WHERE nm >= 8
        ORDER BY doc_a, doc_b"""
  }

  /** The q129 chunker's oracle CTE chain, ending at
    * `chunks(doc_id, n_toks, chunk, sig, ntk)` — shared by q129's
    * per-doc dup stats and the streaming q133 chunk-store dedup, so the
    * batch and ingest-time forms are graded against the IDENTICAL
    * chunking semantics.
    */
  private[operators] lazy val cdcChunksOracleCtes: String =
    s"""tk0 AS (SELECT doc_id, $toks t FROM documents),
        tk AS (SELECT * FROM tk0 WHERE len(t) > 0),
        tpos AS (SELECT doc_id, CAST(len(t) AS BIGINT) n_toks,
                        generate_subscripts(t, 1) - 1 tp, unnest(t) tok
                 FROM tk),
        thh AS (SELECT doc_id, n_toks, tp, ${oraclePolyHash("tok")} th
                FROM tpos),
        sh AS (SELECT doc_id, unnest(list_transform(range(1, len(t) - 1),
                 i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) shingle,
                 generate_subscripts(range(1, len(t) - 1), 1) - 1 pos
               FROM tk),
        bnd AS (SELECT doc_id, pos FROM
                  (SELECT doc_id, pos, ${oraclePolyHash("shingle")} sid
                   FROM sh)
                WHERE sid % 16 = 0),
        ci AS (SELECT t.doc_id, t.n_toks, t.tp, t.th,
                      sum(CASE WHEN b.pos IS NOT NULL THEN 1 ELSE 0 END)
                        OVER (PARTITION BY t.doc_id ORDER BY t.tp) chunk
               FROM thh t LEFT JOIN bnd b
                 ON b.doc_id = t.doc_id AND b.pos = t.tp - 3),
        chunks AS (SELECT doc_id, min(n_toks) n_toks, chunk,
                          list_reduce(list_prepend(0::BIGINT,
                            list(th ORDER BY tp)),
                            (h, x) -> (h * 131 + x) % 1000000007) sig,
                          CAST(count(1) AS BIGINT) ntk
                   FROM ci GROUP BY doc_id, chunk)"""

  /** DuckDB oracle for the streaming chunk-store dedup (q133): the
    * distinct chunk signatures the q129 chunker produces — exactly the
    * content-addressed store's key set after ingesting the corpus.
    */
  private[graft] lazy val chunkDedupOracleSql: String =
    s"""WITH $cdcChunksOracleCtes
        SELECT sig FROM chunks GROUP BY sig ORDER BY sig"""

  /** DuckDB twin of one BPE merge stage (see q86): pair counts from the
    * space-joined symbols, argmax pair, 3 greedy replace passes.
    * `carry` prefixes extra columns (e.g. `"s0.w,"`) through the stage.
    */
  private[operators] def bpeStageSql(prev: String, p: String, tnew: String,
      snew: String, carry: String = ""): String = s"""
        $p AS (SELECT pair, CAST(sum(cnt) AS BIGINT) pcnt FROM (
                 SELECT cnt, unnest(list_transform(range(1, len(l)),
                   i -> l[i] || ' ' || l[i+1])) pair
                 FROM (SELECT cnt, string_split(syms, ' ') l FROM $prev)
                 WHERE len(l) >= 2)
               GROUP BY 1),
        $tnew AS (SELECT pair, pcnt FROM $p ORDER BY pcnt DESC, pair LIMIT 1),
        $snew AS (SELECT $carry $prev.cnt,
                 trim(replace(replace(replace(' ' || $prev.syms || ' ',
                   ' ' || $tnew.pair || ' ',
                   ' ' || replace($tnew.pair, ' ', '') || ' '),
                   ' ' || $tnew.pair || ' ',
                   ' ' || replace($tnew.pair, ' ', '') || ' '),
                   ' ' || $tnew.pair || ' ',
                   ' ' || replace($tnew.pair, ' ', '') || ' ')) syms
               FROM $prev, $tnew)"""

  // ---- shared oracle CTE fragments (single definition sites, used ----
  // ---- by the family modules' oracle twins via the wildcard import) ----
  private[operators] lazy val toks = "list_filter(string_split(text, ' '), x -> x != '')"
  private[operators] lazy val dsh = s"""
    toks AS (SELECT doc_id, $toks tk FROM documents),
    dsh AS (SELECT DISTINCT doc_id, shingle FROM (
      SELECT doc_id, unnest(list_transform(range(1, len(tk) - 1),
        i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) shingle FROM toks))"""
  private[operators] lazy val cosFragment = """
    e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings)"""
  // q72's full two-iteration Lloyd's CTE chain (initial centroids →
  // assignment → round(avg,6) update → re-assignment), factored once
  // so q95's purity evaluation runs on the IDENTICAL assignment.
  private[operators] lazy val kmeansOracleCtes = """
      WITH e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),
      c0 AS (SELECT vec_id cid, v ce FROM e WHERE vec_id < 8),
      d1 AS (SELECT e.vec_id, c.cid,
               list_reduce(list_prepend(0.0::DOUBLE,
                 list_transform(range(1, 65),
                   i -> (e.v[i] - c.ce[i]) * (e.v[i] - c.ce[i]))),
                 (x, y) -> x + y) d
             FROM e CROSS JOIN c0 c),
      a1 AS (SELECT vec_id, cid FROM (
               SELECT vec_id, cid,
                      row_number() OVER (PARTITION BY vec_id
                                         ORDER BY d NULLS FIRST, cid) rn
               FROM d1) WHERE rn = 1),
      cm AS (SELECT a1.cid, t.dim, floor(avg(e.v[t.dim + 1]) * 1000000 + 0.5) / 1000000 m
             FROM a1 JOIN e USING (vec_id)
                  CROSS JOIN (SELECT unnest(range(0, 64)) dim) t
             GROUP BY 1, 2),
      c1 AS (SELECT cid, list(m ORDER BY dim) ce FROM cm GROUP BY cid),
      d2 AS (SELECT e.vec_id, c.cid,
               list_reduce(list_prepend(0.0::DOUBLE,
                 list_transform(range(1, 65),
                   i -> (e.v[i] - c.ce[i]) * (e.v[i] - c.ce[i]))),
                 (x, y) -> x + y) d
             FROM e CROSS JOIN c1 c),
      a2 AS (SELECT vec_id, cid FROM (
               SELECT vec_id, cid,
                      row_number() OVER (PARTITION BY vec_id
                                         ORDER BY d NULLS FIRST, cid) rn
               FROM d2) WHERE rn = 1)"""
  private[operators] lazy val trainedCbCtes = trainedCbOracleCtes

  // DuckDB twin of [[graft.functions.HyperplaneDots]]: the identical index-ordered left
  // fold, so the per-hyperplane dot products match Spark's bit-for-bit.
  private[operators] def hyperDotsSql(nH: Int) = s"""
    dots AS (SELECT vec_id, v,
               list_transform(range(0, $nH), h ->
                 list_reduce(list_prepend(0.0::DOUBLE,
                   list_transform(range(0, len(v)), d ->
                     v[d+1] * (((h*64 + d) * 2654435761) % 4294967296
                               / 2147483648.0 - 1.0))),
                   (acc, x) -> acc + x)) dot
             FROM e)"""

  // DISTINCT (doc_id, sid) shingle-id sets — the oracle twin of
  // [[docSidArrays]] (hash then dedup; a colliding shingle pair merges
  // identically in both engines). Two spellings from ONE definition
  // site (ADVICE r12 — the old post-hoc string replace would have
  // silently no-op'd if the literal's spelling drifted): the plain
  // CTE, and the `MATERIALIZED`-hinted one `minhashChain` stages so
  // the q101/q46 recursive-closure oracles release the shingle
  // pipeline's memory before the closure runs (VERDICT r11 #2).
  private[operators] def dsidDef(mat: String) = s"""
    dsid AS $mat(SELECT DISTINCT doc_id, ${oraclePolyHash("shingle")} sid
             FROM dsh)"""
  private[operators] lazy val dsid = dsidDef("")

  // q22b's full MinHash→LSH→verify CTE chain (shingle ids from the
  // portable polynomial hash — h = 131h + code mod P, folded
  // left-to-right, identical to the Spark-side native kernel
  // character-for-character; sets are sid sets end-to-end). Shared by
  // q22b and q46.
  // MinHash signatures + 4×4 banding — the SQL twin of
  // [[graft.functions.GraftFunctions.minhashSigs]] + [[mhBandCols]],
  // factored once so every oracle that bands (q22b/q46 via
  // minhashChain, q81) shares the same hash constants and layout.
  private[operators] lazy val mhBandsSql = s"""
      mh AS (SELECT doc_id, s.s,
                    min(((37*s.s + 7)*sid + (101*s.s + 3)) % 1000000007) mh
             FROM dsid CROSS JOIN (SELECT unnest(generate_series(0, 15)) s) s
             GROUP BY 1, 2),
      bands AS (SELECT doc_id, s // 4 band,
                       concat_ws('-', min(CASE WHEN s % 4 = 0 THEN mh END),
                                      min(CASE WHEN s % 4 = 1 THEN mh END),
                                      min(CASE WHEN s % 4 = 2 THEN mh END),
                                      min(CASE WHEN s % 4 = 3 THEN mh END)) sig
                FROM mh GROUP BY 1, 2)"""

  // `MATERIALIZED` stages the chain (VERDICT r11 #2: the q101 oracle
  // at the 50k-doc witness OOM'd DuckDB even at 100 GB because the
  // whole shingle→minhash→verify pipeline stayed live UNDER the
  // recursive closure): dsid is read three ways (mh, sizes, inter×2)
  // and inter is the verify output — forcing both to temp tables
  // computes the massive chain once with a pipeline breaker,
  // releasing its memory before the closure runs. Hint-only, result
  // sets identical (equality + 6× speedup measured at 50k docs).
  private[operators] lazy val minhashChain = s"""$dsh, ${dsidDef("MATERIALIZED ")},$mhBandsSql,
      cand AS (SELECT DISTINCT a.doc_id doc_a, b.doc_id doc_b
               FROM bands a JOIN bands b
                 ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id),
      sizes AS (SELECT doc_id, count(1) n FROM dsid GROUP BY 1),
      inter AS MATERIALIZED (SELECT doc_a, doc_b, count(1) i
                FROM cand JOIN dsid x ON doc_a = x.doc_id
                          JOIN dsid y ON doc_b = y.doc_id AND x.sid = y.sid
                GROUP BY 1, 2)"""

  private[operators] lazy val decontamSql = decontamOracleSql

  // Connected components over verified MinHash pairs as a transitive
  // closure — shared verbatim by q46 (min-label propagation) and q136
  // (large-star/small-star contraction): one oracle, two algorithms.
  private[operators] lazy val ccSql = s"""
      WITH RECURSIVE $minhashChain,
      pairs AS MATERIALIZED (SELECT doc_a, doc_b
                FROM inter JOIN sizes sa ON doc_a = sa.doc_id
                           JOIN sizes sb ON doc_b = sb.doc_id
                WHERE i::DOUBLE / (sa.n + sb.n - i) >= 0.6),
      edges AS (SELECT doc_a src, doc_b dst FROM pairs
                UNION ALL SELECT doc_b, doc_a FROM pairs),
      reach AS (SELECT src AS node, src AS lbl FROM edges
                UNION
                SELECT e.dst, r.lbl FROM reach r
                JOIN edges e ON e.src = r.node),
      comp AS (SELECT node AS doc_id, min(lbl) AS group_id
               FROM reach GROUP BY node)
      SELECT group_id, doc_id, doc_id = group_id AS is_canonical
      FROM comp
      ORDER BY group_id, doc_id"""


  /** DuckDB twins computing the identical pipelines, aggregated from
    * the family modules (each keeps its oracle SQL beside its query);
    * the shared CTE fragments above are the single definition sites. */
  def oracleSql: Map[String, String] =
    AnnQueries.oracleSql ++ DedupQueries.oracleSql ++ TextQueries.oracleSql ++
      SamplingQueries.oracleSql ++ AnalyticsQueries.oracleSql ++
      MultimodalQueries.oracleSql

}
