package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{expr, greatest, least, lit, when}

/** Scale policy for the ANN family's recall/latency dials (VERDICT r11
  * #1): a dial that is FIXED while the index grows silently ships
  * decaying recall — measured on the near-random scale corpus, q36's
  * fixed nprobe=2 fell from recall@5 = 0.84 at 500 vectors (2 of 4
  * lists probed) to 0.20 at 20k vectors (2 of 160). On near-random
  * embeddings recall tracks the SCANNED FRACTION of the corpus, so the
  * policy that holds recall flat is a fixed target scan fraction; on
  * real clustered corpora the same policy over-delivers (the probed
  * lists are the clusters the answers live in).
  *
  * All three dials are integer arithmetic (ceiling division, integer
  * threshold compares) so the DuckDB oracle reproduces them bit-for-bit
  * — no float rounding seam — and each is computed IN-PLAN from a
  * 1-row count aggregate cross-joined (broadcast) into the probe side:
  * no driver-side collect, and the plan adapts to whatever corpus it
  * runs against.
  *
  *  - IVF (q36): `nprobe = max(2, ⌈L/10⌉)` over L inverted lists —
  *    scan fraction ≥ 10% at any index size (L grows ∝ n, 1 list per
  *    125 vectors, so probed volume is ~10% of n; the floor keeps the
  *    2-list behavior the small fixtures were calibrated on). The
  *    divisor is measured, not assumed — see [[IvfScanDiv]].
  *  - PQ (q60): ADC shortlist `S = max(100, ⌈n/20⌉)` — the exact
  *    re-rank reads ≥ 5% of the corpus's full vectors per query; the
  *    floor keeps the shortlist ≥ 20× k (top-5) where 5% of the corpus
  *    would be thinner than the calibrated 100.
  *  - Multi-probe LSH (q26): 12 hyperplane bits are corpus-independent
  *    (the probe set is a FRACTION of the 4096 buckets, so recall does
  *    not decay with n), but a small corpus leaves the Hamming-r probe
  *    set nearly empty. The radius policy targets an expected candidate
  *    pool of ≥ 250 on sign-uniform data: the smallest r ∈ [3, 6] with
  *    cum(r) · n ≥ 250 · 4096, where cum(r) = Σ_{i≤r} C(12, i) is the
  *    probed-bucket count. At ≥ ~3.5k vectors the floor r = 3 (≈ 7.3%
  *    of buckets) is already enough and the policy is the r10 behavior
  *    unchanged; below that the radius widens (r = 4 at 2k vectors,
  *    r = 6 at 500) instead of probing near-empty buckets.
  *
  * These Scala forms are the SPEC for the in-plan column expressions in
  * `PipelineQueries` (q26/q36/q60) and the oracle SQL twins — both are
  * BUILT from this object's constants via [[scanCeilCol]]/[[scanCeilSql]]
  * and [[lshRadiusCol]]/[[lshRadiusSql]], so the three copies cannot
  * drift (ADVICE r12). `Round14OpsSpec` pins the policy values at the
  * corpus sizes that matter (500, 2k, 20k, 80k, and each threshold's
  * edges) and asserts the generated SQL/Column forms stay in lockstep
  * with the Scala functions.
  */
object AnnPolicy {

  /** Fixed size of the TRAINED coarse codebook (VERDICT r13 #1): the
    * q72 Lloyd trainer with K lifted to 64 replaces the
    * every-125th-vector fixture convention in the production-shaped ANN
    * variants (q36b/q60b/q141b/q142). K is a CONSTANT, so per-row
    * routing work is O(K) and total assignment work is linear in the
    * corpus — the property the fixture convention (K = n/125, total
    * work O(n²/125)) could not ship. 64 lists keeps the
    * [[ivfNprobe]] policy at ⌈64/10⌉ = 7 probed lists ≈ 11% expected
    * scan fraction on near-random data — the measured recall floor's
    * neighborhood (SCALE.md §6) — while a real deployment retunes K to
    * its corpus (√n-ish) without touching any plan here. */
  val TrainedK = 64L

  /** Cell-size target for PARTITION-style codebook consumers (q68b's
    * SemDeDup): the verify stage's cost is Σ cell_size²/2, so unlike the
    * ROUTING-style consumers (IVF/PQ/outliers — fixed K, O(K) per row)
    * the codebook here must grow with the corpus to keep cells bounded:
    * K = max(TrainedK, ⌈n/CellTarget⌉). The round-14 witness measured
    * the alternative: a fixed K=64 at 80k vectors put ~1,250 vectors in
    * each cell and the intra-cell verify read 20.4 s vs 2.2 s at the
    * n/125 cell bound (evidence/r14/bench_scale_40x_q140b_q68b.json,
    * pre-fix run). Training cost is one n×K assignment pass, amortized
    * by the per-session artifact. */
  val CellTarget = 125L

  /** Codebook size for cell-size-bounded consumers at corpus size n. */
  def cellBoundedK(n: Long): Long =
    math.max(TrainedK, (n + CellTarget - 1) / CellTarget)

  /** PQ target scan fraction, as a ceiling division by 20 (= 5%): the
    * shortlist's exact re-rank at 5% already measures recall@5 = 0.96
    * at 20k vectors (SCALE.md §6) — ADC does the candidate ranking, so
    * the scan fraction only has to catch rank inversions. */
  val PqScanDiv = 20L

  /** IVF target scan fraction, as a ceiling division by 10 (= 10%) —
    * set ON DATA (VERDICT r12 #8, measured at 20k/80k vectors on the
    * near-random worst-case corpus, `evidence/r13/
    * ivf_scan_fraction_exp.log`): a 5% scan gave recall@5 = 0.32/0.52,
    * 10% gives 0.52/0.72 — above the 0.50 floor at every measured
    * scale — and 20% only 0.68/0.76 (diminishing returns). Unlike PQ
    * there is no re-rank stage to recover misses: the probed lists ARE
    * the candidate set, so IVF buys recall with scan fraction
    * directly. */
  val IvfScanDiv = 10L

  /** nprobe floor: the 2-list behavior the small fixtures were
    * calibrated on. */
  val IvfNprobeFloor = 2L

  /** Shortlist floor: ≥ 20× k (top-5) where 5% of the corpus would be
    * thinner than the calibrated 100. */
  val PqShortlistFloor = 100L

  /** max(floor, ⌈n/div⌉) — the shared scan-fraction dial. */
  def scanCeil(n: Long, div: Long, floor: Long): Long =
    math.max(floor, (n + div - 1) / div)

  /** IVF probe count for an index of `numLists` inverted lists. */
  def ivfNprobe(numLists: Long): Long =
    scanCeil(numLists, IvfScanDiv, IvfNprobeFloor)

  /** PQ ADC shortlist size for a corpus of `n` vectors. */
  def pqShortlist(n: Long): Long = scanCeil(n, PqScanDiv, PqShortlistFloor)

  /** In-plan twin of [[scanCeil]] over a 1-row count column `n` —
    * integer ceiling division (`DIV`), bit-identical to the Scala and
    * SQL forms. */
  def scanCeilCol(n: String, div: Long, floor: Long): Column =
    greatest(lit(floor), expr(s"($n + ${div - 1}) DIV $div"))

  /** DuckDB-SQL twin of [[scanCeil]] (`//` is DuckDB's integer
    * division). */
  def scanCeilSql(n: String, div: Long, floor: Long): String =
    s"greatest($floor, ($n + ${div - 1}) // $div)"

  /** Drift-gate sensitivity factor (q145): the retrain gate fires when
    * the delta's cell-occupancy KL against the corpus exceeds
    * `DriftGateFactor · (K-1)/(2·n_delta)` — the chi-square asymptotic
    * noise floor of an n_delta-row sample over K cells under the
    * no-drift hypothesis (2·n·KL →d χ²_{K-1}, mean K-1), times a
    * safety factor so same-distribution sampling noise never fires it.
    * The threshold ADAPTS to the delta size: at 100 TB deltas the
    * floor → 0 and the gate detects ever-smaller real shifts, while
    * tiny deltas (where a 64-cell histogram is mostly noise) get a
    * proportionally wider band. Factor set ON DATA (evidence/r15):
    * the same-distribution sf0.01 delta measures KL at 0.25× the
    * floor (0.62 vs 2.52), the twelve-seed fuzz sweep holds the
    * no-fire verdict oracle-green on every seed, and the shifted-delta
    * witnesses measure 16×/67× the floor (drift_20k*.json).
    * Both gate inputs are exact integers and the compare runs on
    * 6-dp-rounded doubles computed with the identical op order in both
    * engines, so the boolean has no rounding seam. */
  val DriftGateFactor = 4L

  /** Giant-cell flag threshold (q148): a cell holding ≥ this factor ×
    * the mean occupancy (n/L) is the §10.2 pathology in the making —
    * the unimodal-drift witness measured one frozen cell absorbing a
    * whole shifted delta and the per-query scan fraction ballooning
    * from ~10.5% to 19.3% (+84% serving cost) while recall still read
    * 0.99+. Compared in integer form (n_live·L ≥ factor·n) so the
    * boolean crosses engines exactly. 4× mirrors the robust-outlier
    * convention the family already uses (q140's 4·median keep rule):
    * balanced trained cells sit well under 2× in every measured
    * corpus, so 4× flags only genuine collapse, not training noise. */
  val GiantCellFactor = 4L

  /** Broadcast-route bound on the trained-codebook size: past this K
    * the flat O(K)-per-row routing scan (and the K×D-double broadcast)
    * stops being the right shape and consumers switch to the two-level
    * ⌈√K⌉ coarse routing q68b already implements (route to one of √K
    * coarse cells, then among that cell's √K fine centroids — per-row
    * work O(√K), broadcasts stay bounded). 4096 centroids × 64 dims ×
    * 8 B = 2 MiB — the conventional Spark autoBroadcastJoinThreshold
    * neighborhood — and √4096 = 64 keeps each coarse level at
    * TrainedK-sized work. */
  val CoarseRouteBound = 4096L

  /** Exact integer ⌈√n⌉ (float sqrt nudged then fixed up, so the
    * boundary cases n = k² land exactly — no engine seam). */
  def ceilSqrt(n: Long): Long = {
    var r = math.sqrt(n.toDouble).toLong
    while (r > 0 && (r - 1) * (r - 1) >= n) r -= 1
    while (r * r < n) r += 1
    r
  }

  /** Grow-K policy (VERDICT r14 #4): the TRAINED codebook size a
    * ROUTING-style consumer should use at corpus size n. K = 64 is
    * right for the witness corpora but recall saturation at a fixed K
    * does not survive unbounded growth — with K lists and a fixed
    * ⌈K/10⌉-list probe the probed VOLUME per query is ~n/10 rows, so
    * the per-query scan grows linearly with the corpus unless K grows
    * too. K ∝ ⌈√n⌉ balances the two costs a query pays (route O(K) +
    * scan O(n·nprobe/K) ≈ O(n/10·√n/n)… i.e. both terms grow as √n),
    * floored at TrainedK (the calibrated small-corpus behavior) and
    * capped at [[CoarseRouteBound]] — past the cap K keeps growing but
    * routing must switch to the two-level coarse shape (the q68b
    * machinery), which is a plan change, not a dial change. Measured
    * at 320k vectors in evidence/r15/ann_320k.json (Round15OpsSpec
    * pins the dial values). */
  def grownK(n: Long): Long =
    math.min(CoarseRouteBound, math.max(TrainedK, ceilSqrt(n)))

  /** DuckDB scalar-subquery twin of [[grownK]] over the oracle's `te`
    * view. The ⌈√n⌉ forms agree exactly: IEEE sqrt is correctly
    * rounded, so sqrt(m²) = m exactly and sqrt(m²−1) < m whenever the
    * relative gap 1/(2m²) exceeds an ulp (true for every n below
    * ~4.5·10¹⁵ — far past any witness corpus), hence ceil lands on the
    * same integer as the fixed-up integer loop in [[ceilSqrt]]. */
  def grownKSql: String =
    s"(SELECT least($CoarseRouteBound, greatest($TrainedK, " +
      "CAST(ceil(sqrt(count(1)::DOUBLE)) AS BIGINT))) FROM te)"

  /** Coarse-level probe width for the two-level routing plan (q36c):
    * of the C ≈ ⌈√K⌉ coarse cells, probe max(2, ⌈C/2⌉). Set ON DATA
    * (the family rule) against the hierarchy's two loss sources at
    * 20k/80k vectors: with single-coarse index assignment recall read
    * 0.72/0.72 and widening this dial did NOT help (0.72/0.76 at ⌈C/2⌉)
    * — the loss was index-side divergence, fixed by the TOP-2
    * multi-assignment in q36c's vCell (0.80/0.76 at ⌈C/3⌉); on the
    * multi-assigned index the wider probe then pays off symmetrically
    * (0.80/0.80 at ⌈C/2⌉, flat across the 4× step). The fine-cell pool
    * (pc·√K ≈ K/2) always covers the [[ivfNprobe]] = ⌈K/10⌉ fine lists
    * the scan policy wants, and per-QUERY routing work is
    * O(√K + K/2) — half the flat scan — while the corpus-side routing
    * (the 100 TB cost) is O(√K) per row regardless of this dial. Same
    * [[scanCeil]] arithmetic as the other dials, so the Column/SQL
    * twins are generated, not hand-copied. */
  val CoarseProbeDiv = 2L
  val CoarseProbeFloor = 2L
  def coarseProbe(c: Long): Long = scanCeil(c, CoarseProbeDiv, CoarseProbeFloor)

  /** Index-side coarse multi-assignment width for the two-level plan
    * (q36c): each corpus vector considers the fine cells of its TOP-m
    * coarse cells before the fine argmin. Set ON DATA at 50-QUERY
    * granularity (VERDICT r15 #1 — the 5-query witness that shipped
    * top-2 could not resolve its own recall; measured 320k corpus,
    * `evidence/r16/coarse_exp_160x.json`):
    *
    *   m (subsampled coarse):  2→0.62  4→0.77  6→0.85  10→0.92  16→0.96
    *   m (TRAINED coarse):     2→0.71  4→0.85  6→0.89   8→0.93
    *
    * Two findings drive the shipped point. (1) The recall loss is
    * ENTIRELY index-side — widening the query-side coarse probe from
    * ⌈C/2⌉ to all C moved nothing at any m — so m is the dial that
    * buys recall. (2) One Lloyd step over the fine centroids (coarse
    * level as a real quantizer of centroid space instead of an
    * arbitrary every-step-th subsample) is worth ≈ one full m-step at
    * every m, at one K×C in-plan pass. Shipped: trained coarse with
    * m = max(8, ⌈C/3⌉) — 0.93 recall@5 at 320k, per-row routing work
    * C + m·(K/C) ≈ √K·(1 + ⌈√K⌉/3)… i.e. still O(√K·√K/3) = O(K/3)
    * worst-case bound but measured 2.7× under the flat scan at the
    * witness K (213 vs 566 compares) and 7× at the 4096 cap
    * (576 vs 4096). The coarse broadcast stays 16 KB, but the fine
    * assignment still broadcasts all K fine centroids (up to 2 MB at
    * the cap), so the hierarchy saves compares, not broadcast bytes.
    * The ⌈C/3⌉ growth keeps the MEASURED m/C ratio as the hierarchy deepens
    * rather than freezing m at a small-K calibration — the q36/q60
    * fixed-dial lesson. Same [[scanCeil]] arithmetic as every other
    * dial, so the Column/SQL twins are generated, not hand-copied. */
  val CoarseAssignDiv = 3L
  val CoarseAssignFloor = 8L
  def coarseAssignM(c: Long): Long =
    scanCeil(c, CoarseAssignDiv, CoarseAssignFloor)

  /** Matching-candidate target for PREDICATE-FILTERED search (q147):
    * a filtered query's recall tracks the number of FILTER-MATCHING
    * rows its probe reaches, not the raw probed volume — with m
    * matching rows spread across L lists, a w-list probe reaches
    * ~w·m/L of them, so the base [[ivfNprobe]] width that is right for
    * unfiltered search starves under a selective predicate (the
    * classic filtered-ANN failure: top-k of 7 probed lists' worth of a
    * 1%-selective label is a handful of rows). 100 matching candidates
    * = 20× k (top-5), the same safety ratio [[PqShortlistFloor]] uses. */
  val FilteredMatchTarget = 100L

  /** Probe width for a query filtered to m matching rows over an
    * L-list index: the base [[ivfNprobe]](L) widened until the
    * expected matching candidates probed (w/L · m) reach
    * [[FilteredMatchTarget]] — i.e. w ≥ ⌈L·T/m⌉ — and CAPPED at L.
    * The cap IS the exact-search switch: probing every list is a full
    * scan of the m matching rows (cheap, because m is small exactly
    * when the cap engages — the Qdrant/pgvector "low-cardinality
    * filter → brute-force the matches" plan choice, here as integer
    * arithmetic the oracle reproduces bit-for-bit). Selectivity
    * arrives as exact integer counts (L, m) from 1-row/a K-row
    * aggregate — no float seam. */
  def filteredNprobe(numLists: Long, nMatch: Long): Long =
    math.min(numLists, math.max(ivfNprobe(numLists),
      (numLists * FilteredMatchTarget + nMatch - 1) / nMatch))

  /** In-plan twin of [[filteredNprobe]] over count columns `nl`
    * (lists) and `m` (filter-matching rows). */
  def filteredNprobeCol(nl: String, m: String): Column =
    least(expr(nl),
      greatest(scanCeilCol(nl, IvfScanDiv, IvfNprobeFloor),
        expr(s"($nl * $FilteredMatchTarget + $m - 1) DIV $m")))

  /** DuckDB-SQL twin of [[filteredNprobe]]. */
  def filteredNprobeSql(nl: String, m: String): String =
    s"least($nl, greatest(${scanCeilSql(nl, IvfScanDiv, IvfNprobeFloor)}, " +
      s"($nl * $FilteredMatchTarget + $m - 1) // $m))"

  /** Query-probe widening for truncated-prefix (matryoshka) routing
    * (q151): prefix routing is NOISIER than full-dim routing — on
    * unstructured embeddings a 16-of-64-dim route holds only ~1/4 of
    * the distance signal and recall@5 reads 0.52 at the base ⌈L/10⌉
    * probe (20k AND 80k, scale-stable — evidence/r15/
    * ann_recall_*_r15c.json) — so the query probes boost× more lists,
    * capped at L. Set ON DATA (the family rule; measured at 20k/80k,
    * evidence/r15/matryoshka_boost_exp.log): boost 2 reads 0.64/0.64,
    * 4 reads 0.84/0.88, 8 reads 1.00/1.00 — 4 is the knee (the 0.84+
    * band the two-level hierarchy ships at HALF the flat routing cost,
    * while this plan QUARTERS the per-row routing cost at 4× the
    * query-side scan; which dial wins depends on whether the workload
    * is build- or query-bound — and on MRL-trained embeddings, whose
    * prefixes carry the signal by construction, the boost retunes
    * toward 1). Boost applies to the QUERY side only — the corpus-side
    * O(n·16) routing saving is the point — and the conf knob
    * `spark.graft.ann.matryoshkaBoost` overrides for experiments; the
    * oracle pins the default. Under the structure guard below this is
    * the documented knee for FORCED-prefix routing on unstructured
    * embeddings (the regime measurements in SCALE.md); the shipped q151
    * never runs that regime — the guard falls back to full-dim routing
    * instead — so the default query-probe multiplier is 1. */
  val MatryoshkaProbeBoost = 4L

  /** Matryoshka STRUCTURE GUARD (VERDICT r16 #2): prefix routing is
    * only sound when the prefix carries the distance signal — measured
    * (evidence/r16/mrl_exp.json, mrl_unstr.json): on an MRL-structured
    * fixture (prefix variance share 0.85) boost=1 prefix routing reads
    * recall@5 = 0.996–1.000 at 20k/80k, while on unstructured
    * embeddings (share ≈ 0.25) it reads 0.44 — the silent-low-recall
    * regime the guard exists to stop. q151 probes the per-dim
    * variance share of the first [[MrlPrefixDims]] dims over a
    * [[MrlGuardSampleRows]]-row sample (one 64-row aggregate) and
    * routes the prefix only when the 4dp-rounded share ≥
    * [[MrlPrefixShareMin]]; otherwise it falls back to full-dim
    * (q36b) routing. 0.70 sits between the measured regimes (0.85
    * good / 0.25 bad) with margin on both sides; the share is rounded
    * to 4dp in BOTH engines before the compare, so the branch crosses
    * engines unless the true share sits within an ulp of a 4dp
    * boundary AND that boundary is exactly the threshold — the same
    * residual tie class gen_fuzz_corpus.py documents. */
  val MrlPrefixDims = 16
  val MrlPrefixShareMin = 0.70
  val MrlGuardSampleRows = 4096L

  /** Expected-candidate target for the LSH probe set. */
  val LshCandidateTarget = 250L

  /** Cumulative probed-bucket counts Σ_{i≤r} C(12, i) for r = 3..6
    * over 12-bit signatures (4096 buckets).
    */
  val LshCum: Seq[(Int, Long)] =
    Seq(3 -> 299L, 4 -> 794L, 5 -> 1586L, 6 -> 2510L)

  /** Multi-probe Hamming radius for a corpus of `n` vectors —
    * structured exactly like the Column/SQL twins below (thresholds
    * over `LshCum.init`, unconditional fallback to `LshCum.last._1`)
    * so extending or editing the table cannot diverge the three
    * copies. */
  def lshRadius(n: Long): Int =
    LshCum.init.collectFirst {
      case (r, cum) if cum * n >= LshCandidateTarget * 4096 => r
    }.getOrElse(LshCum.last._1)

  /** In-plan twin of [[lshRadius]] over a 1-row count column `n` —
    * the same integer threshold compares as the Scala fold. */
  def lshRadiusCol(n: Column): Column =
    LshCum.init.foldRight(lit(LshCum.last._1): Column) {
      case ((r, cum), rest) =>
        when(n * cum >= LshCandidateTarget * 4096L, r).otherwise(rest)
    }

  /** DuckDB-SQL twin of [[lshRadius]]. */
  def lshRadiusSql(n: String): String =
    LshCum.init.map { case (r, cum) =>
      s"WHEN $n * $cum >= ${LshCandidateTarget * 4096} THEN $r"
    }.mkString("CASE ", " ", s" ELSE ${LshCum.last._1} END")
}
