package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Deduplication operators for training-data pipelines (north-star
 * extension): exact, normalized-exact, and MinHash-LSH near-dup.
 *
 * Scale design (100 TB):
 *  - exact dedup = hash-aggregate on the dup key → ONE shuffle, with
 *    map-side partial aggregation collapsing duplicates before the wire.
 *  - near-dup avoids the O(n²) pair space entirely: shingle → per-doc
 *    MinHash signature (one md5 per shingle + universal-hash
 *    permutations, partial-aggregated map-side) → band buckets (explode
 *    × #bands) → self-join *within buckets only* (shuffle keyed on
 *    (band, bucket-hash); bucket sizes are small by construction, and a
 *    degenerate hot bucket is AQE-skew-split) → exact Jaccard verify on
 *    candidate docs only (left-semi pruned before any explode).
 *  - hashing goes through the [[HashKind]] seam: md5 by default
 *    (deterministic, seedless, identical across engines — every stage
 *    is DuckDB-oracle-checkable), xxhash64 ([[Xx64]]) as the production
 *    kernel — same plan shape, measured 2.7× steady-state hash
 *    throughput (20M 40-byte strings, local[32]: md5 1.14 s vs
 *    xxhash64 0.42 s) plus no hex-string allocation per hash.
 */
object Dedup {

  /** Exact dedup on a key set (dropDuplicates parity). */
  def exact(df: DataFrame, cols: Seq[String]): DataFrame =
    df.dropDuplicates(cols)

  /** Normalized-exact dedup: canonical keeper (min id) per casefolded
    * fingerprint. Deterministic → oracle-checkable. */
  def normalizedKeepers(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.groupBy(TextOps.fingerprint(col(textCol)).as("fp"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_dups"))

  import graft.functions.PortableSql.{minhashA, minhashB, minhashP}

  /**
   * The hash kernel seam. Every dedup path consumes hashing through
   * this interface, so the kernel swaps without touching plan shape:
   *
   *  - [[Md5]] (default): deterministic, seedless, and reproducible in
   *    ANY engine — every md5-based stage is DuckDB-oracle-checkable.
   *    This is the correctness-gate configuration.
   *  - [[Xx64]]: Spark's codegen'd `xxhash64` — no hex-string
   *    round-trip, no cryptographic rounds, SIMD-friendly. The
   *    production configuration: at 100 TB the shingle hash is the
   *    single hottest instruction stream in the dedup pipeline, and
   *    xxhash64 removes the md5 + `conv(substring(hex))` tax while
   *    keeping the IDENTICAL plan (see `DedupSpec` — the
   *    Jaccard-verified pair sets match the md5 path exactly on the
   *    fixture corpus, since verification is hash-free).
   */
  sealed trait HashKind {
    /** Base hash of a string column in [0, P): feeds the universal-hash
      * permutations. */
    def base(c: Column): Column
    /** Opaque per-token hash (simhash bit source). */
    def tokenHash(tok: Column): Column
    /** k-th 4-bit nibble (0-indexed, most significant first) of a
      * [[tokenHash]] value, as int 0..15. */
    def nibble(h: Column, k: Int): Column
    /** Bucket id for a band-slice string (LSH band key). */
    def bucket(c: Column): Column
    /** Max nibbles available from one tokenHash (bounds simhash bits/4). */
    def maxNibbles: Int
  }

  /** md5-based kernel — engine-portable, oracle-checkable. */
  case object Md5 extends HashKind {
    def base(c: Column): Column =
      conv(substring(md5(c), 1, 15), 16, 10).cast("long") % minhashP
    def tokenHash(tok: Column): Column = md5(tok)
    def nibble(h: Column, k: Int): Column =
      conv(substring(h, k + 1, 1), 16, 10).cast("int")
    def bucket(c: Column): Column = md5(c)
    val maxNibbles = 32
  }

  /** xxhash64-based kernel — the production fast path (measured 2.7×
    * steady-state hash throughput vs [[Md5]], 7.5× cold; stays inside
    * whole-stage codegen with primitive longs, no hex allocation). */
  case object Xx64 extends HashKind {
    def base(c: Column): Column = pmod(xxhash64(c), lit(minhashP.toLong))
    def tokenHash(tok: Column): Column = xxhash64(tok)
    def nibble(h: Column, k: Int): Column =
      shiftrightunsigned(h, (15 - k) * 4).bitwiseAND(lit(15L)).cast("int")
    def bucket(c: Column): Column = xxhash64(c)
    val maxNibbles = 16
  }

  /** Shared 60-bit base hash of a shingle: first 15 hex chars of its
    * md5, as a long, reduced mod P = 2³¹−1. ONE md5 per shingle feeds
    * every virtual permutation below. */
  def shingleBase(shingle: Column): Column = Md5.base(shingle)

  /** Universal hash `i` over a base-hash column:
    * `(a_i·base + b_i) mod P` — pure 64-bit-safe arithmetic
    * (a_i, base < 2³¹ ⇒ product < 2⁶²). */
  def universalHash(i: Int, base: Column): Column =
    (lit(minhashA(i)) * base + lit(minhashB(i))) % minhashP

  /**
   * Per-document MinHash signature: for each of `numHashes` virtual
   * permutations, the min universal hash over the document's `n`-word
   * shingles. Output: (idCol, sig: array&lt;long&gt;).
   *
   * Plan shape: explode shingles → ONE md5 per (doc, shingle) row in a
   * projection → `numHashes` cheap affine mins in a single
   * HashAggregate (map-side partials). Two deliberate choices:
   *  - universal hashing (one md5 + N multiplications, vs N md5s):
   *    hashing cost is independent of signature width — at corpus scale
   *    md5 dominates everything else in the dedup pipeline;
   *  - explode+agg rather than one giant projection of
   *    `array_min(transform(…))` expressions: codegen subexpression
   *    elimination does not reach across HOF lambdas, so the projection
   *    formulation rebuilds the shingle array once per hash function
   *    (measured ~5× slower at sf0.1).
   * The shuffle moves only partially-aggregated rows (~docs × numHashes
   * longs per map partition), independent of document length — the scan
   * dominates at 100 TB.
   */
  def minhashSignatures(
      df: DataFrame,
      textCol: String,
      idCol: String,
      numHashes: Int,
      shingleWords: Int,
      kind: HashKind = Md5): DataFrame = {
    val ex = df
      .select(
        col(idCol),
        explode(graft.functions.GraftFunctions
          .wordShingles(df.sparkSession, col(textCol), shingleWords)).as("__sh"))
      .select(col(idCol), kind.base(col("__sh")).as("__base"))
    val mins = (0 until numHashes).map(i =>
      min(universalHash(i, col("__base"))).as(s"__s$i"))
    ex.groupBy(col(idCol))
      .agg(mins.head, mins.tail: _*)
      .select(col(idCol),
        array((0 until numHashes).map(i => col(s"__s$i")): _*).as("sig"))
  }

  /**
   * LSH banding: split the signature into `bands` bands of
   * `numHashes/bands` rows each; bucket key = md5 of the concatenated
   * band slice. Output: (idCol, band: int, bucket: string) — one row per
   * (doc, band), i.e. a bounded ×bands row expansion.
   */
  def lshBuckets(
      sigDf: DataFrame, idCol: String, numHashes: Int, bands: Int,
      kind: HashKind = Md5): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rowsPerBand = numHashes / bands
    val bandRows = (0 until bands).map { b =>
      struct(
        lit(b).as("band"),
        kind.bucket(concat_ws("|", (0 until rowsPerBand).map(r =>
          col("sig").getItem(b * rowsPerBand + r).cast("string")): _*)).as("bucket"))
    }
    sigDf
      .select(col(idCol), explode(array(bandRows: _*)).as("bb"))
      .select(col(idCol), col("bb.band").as("band"), col("bb.bucket").as("bucket"))
  }

  /**
   * Candidate near-dup pairs: docs sharing any (band, bucket). The join
   * is keyed on (band, bucket) so co-bucketed docs land in the same
   * shuffle partition; output pairs are distinct and ordered (a &lt; b)
   * for determinism.
   */
  def candidatePairs(
      df: DataFrame,
      textCol: String,
      idCol: String,
      numHashes: Int = 8,
      bands: Int = 4,
      shingleWords: Int = 3,
      kind: HashKind = Md5): DataFrame = {
    // Materialize the signature frame (docs × numHashes 15-hex strings —
    // tiny) before the self-join: it feeds BOTH sides, and neither
    // exchange reuse nor persist() helps here (no exchange to reuse in a
    // narrow plan; persist's cache build bypasses codegen CSE and costs
    // ~8× — measured at sf0.1). localCheckpoint materializes through the
    // normal codegen path and truncates lineage, so the join probes read
    // stored rows. This is the "LSH index" build; a production pipeline
    // would write it to durable storage once and share it across runs
    // (localCheckpoint trades executor-loss recovery for speed).
    val sigs = minhashSignatures(df, textCol, idCol, numHashes, shingleWords, kind)
      .localCheckpoint()
    val buckets = lshBuckets(sigs, idCol, numHashes, bands, kind)
    val a = buckets.select(col("band"), col("bucket"), col(idCol).as("id_a"))
    val b = buckets.select(col("band"), col("bucket"), col(idCol).as("id_b"))
    a.join(b, Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .distinct()
  }

  /**
   * Exact n-gram Jaccard verification of candidate pairs: attach each
   * side's distinct shingle SET (array) to the pair with two equi-joins
   * on the doc id, then compute `|A∩B|` with `array_intersect` in a
   * projection — no explode, no shingle-keyed shuffle, no
   * count-aggregation. Earlier revision exploded both sides and
   * re-aggregated (3 exchanges + a join keyed on the shingle string);
   * the set-intersection form does the same exact work in the two id
   * joins, with the intersection itself running at projection speed on
   * co-located rows. Only candidate docs (left-semi pruned) carry
   * arrays — at scale this touches a tiny fraction of the corpus.
   *
   * Output: (id_a, id_b, jaccard) for pairs ≥ `threshold`, rounded to 6
   * decimals for cross-engine float stability.
   */
  def verifiedNearDups(
      df: DataFrame,
      textCol: String,
      idCol: String,
      threshold: Double,
      numHashes: Int = 8,
      bands: Int = 4,
      shingleWords: Int = 3,
      kind: HashKind = Md5): DataFrame = {
    // Candidate pairs are a tiny fraction of the corpus; materialize them
    // so the MinHash subtree runs once, not once per downstream use.
    // NOTE verification is HASH-FREE (exact shingle-set intersection) —
    // the kernel only affects candidate RECALL, so md5 and xx64 runs
    // agree wherever both kernels' LSH catches the pair.
    val pairs = candidatePairs(df, textCol, idCol, numHashes, bands, shingleWords, kind)
      .localCheckpoint()
    verifyPairs(df, pairs, textCol, idCol, threshold, shingleWords)
  }

  /** Exact-Jaccard verification of a (id_a, id_b) candidate pair list
    * against the documents in `df` — the shared verify stage of
    * [[verifiedNearDups]] and [[incrementalNearDups]]. Only docs
    * appearing in some pair are shingled (left-semi prune); `|A∩B|`
    * comes from `array_intersect` in a projection (no explode, no
    * shingle-keyed shuffle). `pairs` should be materialized by the
    * caller (it is read three times). */
  def verifyPairs(
      df: DataFrame,
      pairs: DataFrame,
      textCol: String,
      idCol: String,
      threshold: Double,
      shingleWords: Int): DataFrame =
    pairOverlap(df, pairs, textCol, idCol, shingleWords)
      .select(
        col("id_a"),
        col("id_b"),
        round(col("i") / (col("na") + col("nb") - col("i")), 6).as("jaccard"))
      .filter(col("jaccard") >= threshold)

  /**
   * Near-CONTAINMENT pairs: `|A∩B| / min(|A|, |B|)` ≥ threshold over
   * the LSH candidates — the asymmetric-duplicate detector Jaccard
   * misses: a tweet quoted inside an article has tiny resemblance but
   * near-total containment, and training corpora are full of exactly
   * that shape (quotes, boilerplate-wrapped reposts, excerpt pages).
   * Same candidate generation and verify plumbing as
   * [[verifiedNearDups]]; LSH recall is resemblance-tuned, so heavily
   * size-skewed containment pairs may need [[exactJaccardPairs]]-style
   * exact generation — documented trade, the threshold applies to
   * whatever candidates banding surfaces.
   */
  def containmentPairs(
      df: DataFrame,
      textCol: String,
      idCol: String,
      threshold: Double,
      numHashes: Int = 8,
      bands: Int = 4,
      shingleWords: Int = 3,
      kind: HashKind = Md5): DataFrame = {
    val pairs = candidatePairs(df, textCol, idCol, numHashes, bands, shingleWords, kind)
      .localCheckpoint()
    containmentOfPairs(df, pairs, textCol, idCol, threshold, shingleWords)
  }

  /**
   * Edit-distance-verified near-dup pairs: Levenshtein over the LSH
   * candidates — the ORDER-SENSITIVE verifier the shingle-set family
   * cannot express. Jaccard/containment see documents as shingle SETS,
   * so a scrambled plagiarism of a page scores like a true near-copy;
   * character edit distance (Levenshtein 1966, public) counts the
   * actual insert/delete/substitute operations, separating
   * light-touch edits (typo fixes, template re-dates) from rewrites
   * that happen to reuse vocabulary.
   *
   * Built on Spark's BUILT-IN `levenshtein(l, r, threshold)` — a
   * codegen expression with the Ukkonen band cut: per-pair cost is
   * O(maxDist · min(|a|,|b|)) instead of O(|a|·|b|), and pairs whose
   * distance exceeds `maxDist` abort early (the builtin returns −1;
   * they are dropped here). Candidate generation is the shared
   * [[candidatePairs]] LSH stem, so the quadratic verifier only ever
   * sees the banded candidates — never corpus × corpus. Only docs in
   * some pair carry text through the attach joins (left-semi prune).
   *
   * `edit_sim = 1 − dist / max(|a|,|b|)` (both-empty ⇒ 1.0), rounded
   * to 6 decimals for cross-engine float stability. Distances are
   * code-point based (byte-based engines agree on ASCII corpora —
   * the spec pins the semantics).
   *
   * @return (id_a, id_b, edit_dist, edit_sim) for pairs with
   *         edit_dist ≤ maxDist
   */
  def editVerifiedPairs(
      df: DataFrame,
      textCol: String,
      idCol: String,
      maxDist: Int,
      numHashes: Int = 8,
      bands: Int = 4,
      shingleWords: Int = 3,
      kind: HashKind = Md5): DataFrame = {
    require(maxDist >= 0, "editVerifiedPairs needs maxDist >= 0")
    val pairs = candidatePairs(df, textCol, idCol, numHashes, bands, shingleWords, kind)
      .localCheckpoint()
    editVerifyPairs(df, pairs, textCol, idCol, maxDist)
  }

  /** Levenshtein verification of an EXPLICIT (id_a, id_b) candidate
    * list — the verify stage of [[editVerifiedPairs]], reusable over
    * candidates from any generator. `pairs` should be materialized by
    * the caller (it feeds both attach joins). */
  def editVerifyPairs(
      df: DataFrame,
      pairs: DataFrame,
      textCol: String,
      idCol: String,
      maxDist: Int): DataFrame = {
    val candIds = pairs.select(col("id_a").as("sid"))
      .union(pairs.select(col("id_b").as("sid")))
      .distinct()
    val texts = df
      .select(col(idCol).as("sid"), col(textCol).as("__t"))
      .join(candIds, Seq("sid"), "left_semi")
      .localCheckpoint() // reused by both sides of the pair attach
    val verified = pairs
      .join(texts.select(col("sid").as("id_a"), col("__t").as("__ta")), Seq("id_a"))
      .join(texts.select(col("sid").as("id_b"), col("__t").as("__tb")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        levenshtein(col("__ta"), col("__tb"), maxDist).cast("long")
          .as("edit_dist"),
        greatest(length(col("__ta")), length(col("__tb"))).cast("long")
          .as("__mx"))
      .filter(col("edit_dist") >= 0L) // banded builtin: above-cap = -1
    verified.select(col("id_a"), col("id_b"), col("edit_dist"),
      when(col("__mx") === 0L, lit(1.0))
        .otherwise(round(lit(1.0) - col("edit_dist") / col("__mx"), 6))
        .as("edit_sim"))
  }

  /** Containment verification of an EXPLICIT (id_a, id_b) candidate
    * list — for candidates from a containment-appropriate generator
    * (exact-substring span hits, prefix filtering, a quotes heuristic)
    * rather than resemblance-tuned LSH. `pairs` should be materialized
    * by the caller. */
  def containmentOfPairs(
      df: DataFrame,
      pairs: DataFrame,
      textCol: String,
      idCol: String,
      threshold: Double,
      shingleWords: Int): DataFrame =
    pairOverlap(df, pairs, textCol, idCol, shingleWords)
      .select(
        col("id_a"),
        col("id_b"),
        round(col("i") / least(col("na"), col("nb")), 6).as("containment"))
      .filter(col("containment") >= threshold)

  /** Shared verify plumbing: exact shingle-set overlap per candidate
    * pair — (id_a, id_b, i, na, nb). */
  /** Crossover above which [[pairOverlap]] dictionary-encodes shingles
    * before the per-pair merge (see the gate comment there): measured
    * at sf0.1, the long-kernel saving passes the dictionary's fixed
    * cost around tens of thousands of candidate pairs. `var` only as a
    * test seam (DedupSpec lowers it to force the dict branch on a
    * hand fixture); production code never writes it. */
  private[graft] var dictVerifyMinPairs = 30000L

  /** Candidate-DOC ceiling for the same gate: the dictionary build
    * shuffles the doc slice's exploded shingles (string-keyed distinct
    * + join), which the string path never shuffles at all — measured
    * 2× WORSE at the 50 k-doc sf1 slice while winning at the 2 k-doc
    * sf0.1 slice. Above the ceiling verify always takes the
    * shuffle-free string path (the 100 TB answer). */
  private[graft] var dictVerifyMaxDocs = 10000L

  /** Node-count gate for [[components]]' broadcast label joins: ~64 MB
    * of (long, long) rows at the cap — far under the 8 GB broadcast
    * limit, and the label table's size is KNOWN exactly (counted once;
    * it never grows during the run). Pair graphs past the gate keep
    * the shuffle path. */
  private[graft] val componentsBroadcastMaxNodes = 4_000_000L

  /** Edge-count gate for the driver fast paths: [[components]]'
    * union-find and the PageRank family's in-process iterations
    * ([[LinkGraph.pageRank]] and kin, which also take at most this
    * many distinct node ids). Under it a graph is a bounded driver
    * value, the contract of beam state / centroid matrices. Driver
    * memory: union-find holds ~32 MB of long pairs at the cap;
    * PageRank keeps 8 B per edge and ~50 B per node while iterating,
    * holds ~40 B per edge while collecting, and returns a local
    * relation of ~110 B per node (2M edges, 667k nodes, local mode:
    * 26 MB retained after the collect, a 72 MB result, beside the
    * 161 MB edge checkpoint both paths take). `var` only as a test
    * seam (DedupSpec and LinkGraphSpec force the distributed paths to
    * pin fast path ≡ distributed); production code never writes it. */
  private[graft] var driverMaxEdges = 2_000_000L

  /** Verified-pair floor for [[weightedJaccardPairs]]' kernel
    * re-score: below it the join-form intermediate (pairs × tokens
    * per doc) is small and the kernel path's two extra
    * materializations (id dictionary + doc-array frame) cost more
    * than they save — measured at sf0.1's 256-verified-pair regime.
    * `var` only as a test seam (DedupSpec forces the kernel branch);
    * production code never writes it. */
  private[graft] var weightedKernelMinPairs = 30000L

  /** `maxIter` bound under which the non-strict fast path must defer
    * to the loop (r21): under the edge gate the pointer-doubling loop
    * converges within ⌈log₂(diameter ≤ 2·10⁶+1)⌉ + 2 ≤ 23 rounds, so
    * at ≥ 32 the loop's maxIter can never bind and the fast path's
    * fixpoint labels are exactly what the loop would return. Below it
    * (with strict = false) the caller may be relying on best-effort
    * partial labels — only the loop can produce those. */
  private[graft] val componentsFastPathMinIters = 32

  private def pairOverlap(
      df: DataFrame,
      pairs: DataFrame,
      textCol: String,
      idCol: String,
      shingleWords: Int): DataFrame = {
    // Prune BEFORE shingling: at 100 TB this is the difference between
    // building shingle sets for the whole corpus and for ~|pairs| docs.
    val candIdsRaw = pairs.select(col("id_a").as("sid"))
      .union(pairs.select(col("id_b").as("sid")))
      .distinct()
    // Two-sided dictionary gate (r20). At LARGE candidate counts over
    // a SMALL doc slice, the per-pair merge scan over string arrays
    // dominates verify: every element read allocates a UTF8String
    // wrapper — measured ~95% of verify wall time at the 125 k-
    // candidate / 2 k-doc / ~10³-shingle regime. Dictionary-encoding
    // shingles to dense longs makes the merge primitive and
    // allocation-free (measured 6.8 → 5.1 s on q268 at sf0.1). The
    // encoding is an injective relabeling of exact shingle STRINGS
    // (ids from `monotonically_increasing_id`, assigned once inside
    // the checkpoint's materialization), so every |a ∩ b| and set
    // size is IDENTICAL to the string-set computation — spec-pinned,
    // and verification stays HASH-FREE (the q88 invariant).
    //   BUT the dictionary build is a distinct + join SHUFFLE of the
    // candidate-doc shingle slice — string-keyed, Σ-shingle-sized —
    // where the string path shuffles NOTHING (a narrow per-doc
    // projection + a semi join). Measured both ways: at sf0.1 (2 k
    // candidate docs) the dict wins by ~1.7 s; at sf1 (50 k candidate
    // docs) it LOSES 2× (dict 59.8 s vs string 29.0 s whole-stem) —
    // the shuffle grows with the doc slice, the saving only with
    // pairs × set size. Hence BOTH gates: a pair-count floor (below
    // it the kernel is not the bottleneck — q88's small regime read
    // +2 s under dict) and a candidate-DOC ceiling (above it the
    // dictionary shuffle dominates — the 100 TB regime always takes
    // the shuffle-free string path). `pairs` is materialized by every
    // caller (scaladoc contract), so the pair-count gate is a cheap
    // scan; the DOC count is only computed past the pair floor, and
    // candIds is checkpointed FIRST so the gate count and every
    // downstream read (semi-join, dict re-attach) share ONE
    // materialization instead of re-running the union+distinct
    // shuffle per consumer (r21 — VERDICT r20 "what's wrong" #3).
    // Below the floor (the small regimes the floor protects, and any
    // deployment that tunes the floor high) nothing is counted or
    // checkpointed: the string path's semi-join is the sole consumer,
    // exactly as before r20.
    val (candIds, nDocs) =
      if (pairs.count() < dictVerifyMinPairs) (candIdsRaw, None)
      else {
        val ck = candIdsRaw.localCheckpoint()
        (ck, Some(ck.count()))
      }
    val useDict = nDocs.exists(_ <= dictVerifyMaxDocs)
    // gate-bounded id list: broadcast the prune key when its size is
    // known small. A checkpointed frame keeps only its pre-checkpoint
    // size ESTIMATE, not an exact count, so the planner cannot be
    // trusted to pick broadcast; the counted gate decides instead. The
    // hint takes effect on the two left_semi joins below (otherwise
    // sort-merge, exchanging the corpus-side rows on a key the plan
    // never reuses). On the dict branch's re-attach candIdsB is the
    // preserved side of a left-outer join, which Spark never
    // broadcasts, so the hint is ignored there.
    val candIdsB = if (nDocs.exists(_ <= dictVerifyMaxDocs))
      broadcast(candIds) else candIds
    val shingled = (if (!useDict) {
      // sort ONCE per doc: the per-pair intersection then runs as an
      // allocation-free merge scan (graft_sorted_intersect kernel) —
      // size(array_intersect) would build a per-PAIR hash set instead
      // (identical counts by construction: both are |a ∩ b| on the
      // distinct shingle sets; kernel parity is spec-pinned)
      df.select(
          col(idCol).as("sid"),
          sort_array(array_distinct(graft.functions.GraftFunctions
            .wordShingles(df.sparkSession, col(textCol), shingleWords)))
            .as("shset"))
        .join(candIdsB, Seq("sid"), "left_semi")
    } else {
      val exploded = df
        .select(
          col(idCol).as("sid"),
          explode(array_distinct(graft.functions.GraftFunctions
            .wordShingles(df.sparkSession, col(textCol), shingleWords)))
            .as("__s"))
        .join(candIdsB, Seq("sid"), "left_semi")
        .localCheckpoint() // feeds the dict build AND the encode join
      // checkpointed so ids are assigned exactly ONCE in their own
      // materialization: monotonically_increasing_id on top of a
      // distinct shuffle is fetch-order-dependent, and a task retry
      // during a DOWNSTREAM materialization could re-evaluate this
      // subtree with a different row order — a non-injective-per-
      // string relabeling that silently corrupts intersection counts.
      // The dict is small by the dictVerifyMaxDocs gate (r21, ADVICE).
      val dict = exploded.select("__s").distinct()
        .withColumn("__t", monotonically_increasing_id())
        .localCheckpoint()
      // re-attach through candIds so a zero-shingle doc keeps its
      // EMPTY set (explode emits no rows for it) — na = 0 pairs must
      // verify to jaccard 0 exactly as the string-set path did, not
      // vanish
      candIdsB
        .join(exploded.join(broadcast(dict), Seq("__s"))
          .groupBy(col("sid"))
          .agg(sort_array(collect_list(col("__t"))).as("shset")),
          Seq("sid"), "left")
        .select(col("sid"),
          coalesce(col("shset"), array().cast("array<long>")).as("shset"))
    }).localCheckpoint() // reused by both sides of the pair attach
    // r21: the checkpointed shingle frame keeps only its
    // pre-checkpoint size estimate, not an exact count, and un-hinted
    // both attach joins planned SORT-MERGE — two exchanges of the PAIR
    // frame (the big side: 125 k rows at the q244 regime) keyed on ids
    // whose partitioning nothing downstream reuses. Past the gate
    // probe the doc count is KNOWN and bounded (≤ dictVerifyMaxDocs ≈
    // a few MB of set arrays), so an explicit broadcast turns both
    // attaches into BHJs with ZERO pair-side exchange — the
    // components() broadcast-when-stats-lie pattern (guide §3.1).
    // Unknown (below the pair floor) or over-gate doc slices keep
    // sort-merge: the 100 TB string regime never broadcasts the
    // corpus-∝ candidate-doc slice.
    val attach = if (nDocs.exists(_ <= dictVerifyMaxDocs)) broadcast(shingled)
      else shingled
    pairs
      .join(attach.as("sa"), col("id_a") === col("sa.sid"))
      .join(attach.as("sb"), col("id_b") === col("sb.sid"))
      // two-step select: `i` is referenced twice below and the
      // intersection is not cheap enough for CollapseProject to
      // inline — this keeps ONE intersection per pair
      .select(
        col("id_a"), col("id_b"),
        graft.functions.GraftFunctions
          .sortedIntersect(df.sparkSession, col("sa.shset"), col("sb.shset")).as("i"),
        size(col("sa.shset")).as("na"),
        size(col("sb.shset")).as("nb"))
  }

  /**
   * EXACT all-pairs Jaccard similarity join via prefix filtering — the
   * deterministic-recall complement to the MinHash pipeline: the
   * result is mathematically ALL pairs with shingle-Jaccard ≥
   * `threshold`, no LSH misses (the oracle exploits exactly that: it
   * checks against a plain all-pairs Jaccard, never replaying the
   * prefix mechanics).
   *
   * Standard prefix-filtering theorem (AllPairs/PPJoin family): under
   * ANY global total order of the element universe, two sets with
   * J ≥ t must share an element among each one's first
   * `|x| − ⌈t·|x|⌉ + 1` elements. We order shingle hashes by
   * (document frequency ASC, hash) — rarest first, the classic
   * candidate-minimizing choice — so candidate generation joins only
   * PREFIX rows on the shingle hash: posting lists of the frequent
   * shingles (the quadratic hazard) never enter the join.
   *
   * Scale shape: shingle hashes only (128-bit md5 under [[Md5]] —
   * collision-induced recall loss is cryptographically negligible;
   * [[Xx64]] for throughput twins), df counts are a decomposable
   * aggregation, the per-doc ranking windows over the DOC id (bounded
   * by doc length — never over the hash), and the final verify is the
   * shared semi-join-pruned [[verifyPairs]]. The ceil gets a −1e-9
   * nudge: float error may only ever LENGTHEN a prefix (more
   * candidates), never shorten one (missed pairs).
   */
  def prefixFilteredPairs(
      df: DataFrame,
      textCol: String,
      idCol: String,
      threshold: Double,
      shingleWords: Int = 3,
      kind: HashKind = Md5,
      maxPrefixPairs: Long = 25_000_000L): DataFrame = {
    require(threshold > 0 && threshold <= 1, "threshold must be in (0, 1]")
    import org.apache.spark.sql.expressions.Window
    val sh = df
      .select(col(idCol).as("id"),
        explode(array_distinct(graft.functions.GraftFunctions
          .wordShingles(df.sparkSession, col(textCol), shingleWords)))
          .as("__s"))
      .select(col("id"), kind.bucket(col("__s")).as("__h"))
      .localCheckpoint() // feeds the df counts AND the ranking
    val dfreq = sh.groupBy("__h").agg(count(lit(1)).as("__df"))
    val prefix = sh.join(dfreq, Seq("__h"))
      .withColumn("__k",
        row_number().over(Window.partitionBy("id").orderBy(col("__df"), col("__h"))))
      .withColumn("__n", count(lit(1)).over(Window.partitionBy("id")))
      .filter(col("__k") <=
        col("__n") - ceil(lit(threshold) * col("__n") - lit(1e-9)) + 1)
      .select(col("id"), col("__h"), col("__n"), col("__k"))
      .localCheckpoint() // self-joined below
    if (maxPrefixPairs < Long.MaxValue) {
      // hot-bucket fence (the Linkage.fellegiSunter template): pair
      // density is ∝ Σ|posting|² over PREFIX postings — rarest-first
      // ordering keeps these short on honest corpora, but a degenerate
      // one (mass-duplicated templates at a low threshold) can still
      // concentrate one hash; that bucket alone makes the candidate
      // join quadratic, so it fails LOUDLY naming the key instead of
      // silently burning the cluster
      // decimal product: Long __np² overflows past ~3e9 entries and
      // would silently DISABLE the fence on exactly the degenerate
      // corpus it exists for
      val np2 = (col("__np").cast("decimal(20,0)") * col("__np"))
      val hot = prefix.groupBy(col("__h").as("__hk"))
        .agg(count(lit(1)).as("__np"))
        .filter(np2 > lit(maxPrefixPairs).cast("decimal(38,0)"))
        .select(col("__hk").cast("string"), np2.cast("decimal(38,0)"))
        .limit(1).collect()
      require(hot.isEmpty, {
        val r = hot.head
        s"prefix bucket '${r.getString(0)}' would form ${r.getDecimal(1)} " +
          s"candidate pairs (> maxPrefixPairs=$maxPrefixPairs): one hot " +
          "shingle makes the similarity join quadratic — raise the " +
          "threshold, widen shingleWords, pre-dedup exact copies (or " +
          "raise the cap explicitly)"
      })
    }
    // PPJoin candidate filters — both exactness-preserving (the −1e-9
    // nudges may only ADMIT extra candidates, never drop a true pair):
    //  1. length: J(a,b) ≥ t forces t·|a| ≤ |b| ≤ |a|/t, so
    //     size-mismatched collisions (the bulk of what shared
    //     boilerplate chunks generate — the superlinear regime in
    //     BASELINE's third-decade table) die at the join;
    //  2. positional: a prefix match at ranks (k_a, k_b) caps the
    //     achievable overlap at 1 + min(n_a−k_a, n_b−k_b), which must
    //     reach α = t/(1+t)·(n_a+n_b) — the J ≥ t overlap requirement.
    //     Kills same-size pairs whose only shared prefix hash sits too
    //     deep to matter (the hot-template tail the length filter
    //     cannot see).
    val alpha = lit(threshold / (1 + threshold)) *
      (col("__na") + col("__nb")) - lit(1e-9)
    val cands = prefix.select(col("__h"), col("id").as("id_a"),
        col("__n").as("__na"), col("__k").as("__ka"))
      .join(prefix.select(col("__h"), col("id").as("id_b"),
        col("__n").as("__nb"), col("__k").as("__kb")), Seq("__h"))
      .filter(col("id_a") < col("id_b"))
      .filter(col("__nb") >= lit(threshold) * col("__na") - lit(1e-9) &&
        col("__na") >= lit(threshold) * col("__nb") - lit(1e-9))
      .filter(lit(1) +
        least(col("__na") - col("__ka"), col("__nb") - col("__kb")) >= alpha)
      .select("id_a", "id_b")
      .distinct()
      // materialized: verify consumes the pair list THREE times (size
      // gate, candidate-doc derivation, the attach join) — without the
      // checkpoint each consumer re-runs the prefix self-join (r20)
      .localCheckpoint()
    verifyPairs(df, cands, textCol, idCol, threshold, shingleWords)
  }

  /**
   * IDF-weighted token Jaccard over an exact candidate stem — the
   * rarity-aware re-score of near-dup candidates: plain set Jaccard
   * counts a shared stopword and a shared 40-character error hash the
   * same, so template-heavy corpora produce high plain scores from
   * boilerplate alone. Weighting each token by
   * `idf = ln((N+1)/(df+1))` makes shared RARE content dominate —
   * pairs that agree only on chrome drop, pairs that share the
   * distinctive middle rise (the standard weighted-Jaccard form of
   * the record-linkage literature).
   *
   * Candidates come from [[prefixFilteredPairs]] at `candThreshold`
   * (exact recall at that plain-Jaccard level — no LSH misses), so the
   * weighted score is only ever computed on a candidate-sized frame,
   * never all pairs.
   *
   * DETERMINISM: IDF weights are micro-quantized to integer
   * `round(idf·10⁶)` BEFORE any summation, so per-doc totals and
   * per-pair intersections are exact integer sums (order-free), and
   * the final ratio is one division — the same double in any engine.
   *
   * Output: (id_a, id_b, jaccard, w_jaccard) — the plain candidate
   * score next to the weighted one, both rounded 6.
   */
  def weightedJaccardPairs(
      df: DataFrame,
      textCol: String,
      idCol: String,
      candThreshold: Double = 0.5,
      maxPrefixPairs: Long = 25_000_000L): DataFrame = {
    // materialized: the verify output feeds the doc-array prune AND
    // the final attach — without the checkpoint the attach+kernel
    // tail of verifyPairs re-runs once per consumer (r21)
    val pairs = prefixFilteredPairs(df, textCol, idCol, candThreshold,
      maxPrefixPairs = maxPrefixPairs)
      .localCheckpoint()
    val docs = df.filter(col(textCol).isNotNull)
    val toks = docs
      .select(col(idCol).as("__id"),
        explode(array_distinct(TextOps.tokens(col(textCol)))).as("__tok"))
      .localCheckpoint() // feeds the df counts AND the per-doc arrays
    val nDocs = docs.agg(count(lit(1)).as("__nd"))
    // Candidate-doc prune (r21): the re-score only ever needs token
    // rows for docs that appear in some VERIFIED pair, but the r20
    // form joined IDF onto the FULL corpus token table and aggregated
    // corpus-wide doc totals — two corpus-∝ shuffles to re-score what
    // can be a handful of pairs. IDF itself stays CORPUS-wide
    // (document frequency is a global statistic — computed from the
    // unpruned `toks`); only the per-doc weight rows are pruned.
    val candIds = pairs.select(col("id_a").as("__id"))
      .union(pairs.select(col("id_b").as("__id")))
      .distinct()
    val toksC = toks.join(candIds, Seq("__id"), "left_semi")
    if (pairs.count() < weightedKernelMinPairs) {
      // join-form re-score (r20 semantics over the pruned rows): at a
      // small verified-pair count the pairs × tokens/doc intermediate
      // is tiny and the kernel path's two extra materializations cost
      // more than they save — measured at sf0.1 (256 verified pairs):
      // kernel [6.5, 7.6] vs join [5.3, 6.7] s whole-query.
      val idf = toks.groupBy("__tok").agg(count(lit(1)).as("__df"))
        .crossJoin(broadcast(nDocs))
        .select(col("__tok"),
          round(log((col("__nd") + 1).cast("double") / (col("__df") + 1))
            * 1e6).cast("long").as("__w"))
      val wtoks = toksC.join(idf, Seq("__tok"))
      val docw = wtoks.groupBy(col("__id")).agg(sum(col("__w")).as("__sw"))
      val inter = pairs.select(col("id_a"), col("id_b"))
        .join(wtoks.select(col("__id").as("id_a"), col("__tok"), col("__w")),
          Seq("id_a"))
        .join(wtoks.select(col("__id").as("id_b"), col("__tok")),
          Seq("id_b", "__tok"))
        .groupBy("id_a", "id_b")
        .agg(sum(col("__w")).as("__iw"))
      pairs
        .join(inter, Seq("id_a", "id_b"), "left_outer")
        .join(docw.select(col("__id").as("id_a"), col("__sw").as("__sa")),
          Seq("id_a"))
        .join(docw.select(col("__id").as("id_b"), col("__sw").as("__sb")),
          Seq("id_b"))
        .select(col("id_a"), col("id_b"), col("jaccard"),
          round(coalesce(col("__iw"), lit(0L)).cast("double") /
            (col("__sa") + col("__sb") - coalesce(col("__iw"), lit(0L))), 6)
            .as("w_jaccard"))
    } else {
      // kernel re-score (r21, the scale path): the join form shuffles
      // a |pairs| × |tokens/doc| intermediate TWICE — at millions of
      // verified pairs × hundreds of tokens that is the dominant
      // exchange. Per-doc (sorted token-id, weight) parallel arrays
      // attach once per side and the merge kernel computes the SAME
      // exact integer Σ idf over the intersection in a projection
      // (guide §2.3: decide per pair on doc-bounded metadata;
      // spec-pinned against the join form). The dictionary doubles as
      // the token→dense-id map, checkpointed so ids are assigned
      // exactly once (the pairOverlap dict discipline).
      val idf = toks.groupBy("__tok").agg(count(lit(1)).as("__df"))
        .crossJoin(broadcast(nDocs))
        .select(col("__tok"),
          round(log((col("__nd") + 1).cast("double") / (col("__df") + 1))
            * 1e6).cast("long").as("__w"),
          monotonically_increasing_id().as("__tid"))
        .localCheckpoint()
      val docArr = toksC
        .join(idf, Seq("__tok"))
        .groupBy(col("__id"))
        .agg(sort_array(collect_list(struct(col("__tid"), col("__w"))))
            .as("__tw"),
          sum(col("__w")).as("__sw"))
        .select(col("__id"),
          transform(col("__tw"), x => x.getField("__tid")).as("__tids"),
          transform(col("__tw"), x => x.getField("__w")).as("__tws"),
          col("__sw"))
        .localCheckpoint() // both sides of the pair attach
      val iw = graft.functions.GraftFunctions.sortedIntersectWsum(
        df.sparkSession, col("wa.__tids"), col("wa.__tws"), col("wb.__tids"))
      pairs
        .join(docArr.as("wa"), col("id_a") === col("wa.__id"))
        .join(docArr.as("wb"), col("id_b") === col("wb.__id"))
        .select(col("id_a"), col("id_b"), col("jaccard"), iw.as("__iw"),
          col("wa.__sw").as("__sa"), col("wb.__sw").as("__sb"))
        .select(col("id_a"), col("id_b"), col("jaccard"),
          round(col("__iw").cast("double") /
            (col("__sa") + col("__sb") - col("__iw")), 6)
            .as("w_jaccard"))
    }
  }

  /**
   * Incremental near-dup detection — the daily-ingest workflow at
   * corpus scale: you do NOT re-hash 100 TB because a batch landed.
   * The corpus's MinHash signatures are built once
   * ([[minhashSignatures]]) and PERSISTED (a tiny table: docs ×
   * numHashes longs); each new batch
   *
   *  1. hashes only its own documents (cost ∝ batch, not corpus);
   *  2. probes the stored index with a BROADCAST of its own band
   *     buckets — the corpus index is scanned once, map-side, and
   *     NEVER shuffled (a shuffle of the index would re-pay a
   *     corpus-sized exchange on every daily batch, which is exactly
   *     what the incremental path exists to avoid); new×new pairs
   *     come from a separate self-join of the (tiny) batch buckets.
   *     Pairs are normalized via least/greatest so the ordering
   *     matches the full pipeline's;
   *  3. verifies exactly like the full pipeline (corpus text is read
   *     only for the docs that actually collide).
   *
   * The result equals `verifiedNearDups(corpus ∪ batch)` restricted to
   * pairs with at least one new side (DedupSpec asserts this
   * equivalence; q46's oracle replays the full pipeline + filter).
   *
   * `allDocs` provides text for verification (corpus + batch);
   * `corpusSigs` is the persisted signature table (idCol, sig).
   */
  def incrementalNearDups(
      allDocs: DataFrame,
      corpusSigs: DataFrame,
      newDocs: DataFrame,
      textCol: String,
      idCol: String,
      threshold: Double,
      numHashes: Int = 8,
      bands: Int = 4,
      shingleWords: Int = 3,
      kind: HashKind = Md5): DataFrame = {
    // no checkpoint on the signatures: they feed exactly one consumer
    // (the bucket projection) — only the BUCKETS are reused twice
    val newSigs = minhashSignatures(newDocs, textCol, idCol, numHashes, shingleWords, kind)
    val newBuckets = lshBuckets(newSigs, idCol, numHashes, bands, kind)
      .localCheckpoint() // probes the index AND self-joins
    val corpusBuckets = lshBuckets(corpusSigs, idCol, numHashes, bands, kind)
    val probe = broadcast(
      newBuckets.select(col("band"), col("bucket"), col(idCol).as("__new")))
    // new×corpus: broadcast-hash-join — the corpus index streams through
    // map tasks; zero corpus-side exchange
    val newVsCorpus = corpusBuckets
      .select(col("band"), col("bucket"), col(idCol).as("__other"))
      .join(probe, Seq("band", "bucket"))
    // new×new: self-join of the batch buckets (both sides tiny)
    val newVsNew = newBuckets
      .select(col("band"), col("bucket"), col(idCol).as("__other"))
      .join(probe, Seq("band", "bucket"))
    val pairs = newVsCorpus.union(newVsNew)
      .filter(col("__new") =!= col("__other"))
      .select(
        least(col("__new"), col("__other")).as("id_a"),
        greatest(col("__new"), col("__other")).as("id_b"))
      .distinct()
      .localCheckpoint()
    verifyPairs(allDocs, pairs, textCol, idCol, threshold, shingleWords)
  }

  /**
   * SimHash: per-token md5-derived bit vectors, majority vote per bit.
   * Hamming-close simhashes ⇒ similar docs. Output: (idCol, simhash) —
   * a `bits/4`-hex-char string (bit-identical across engines; avoids
   * signed-long pitfalls).
   *
   * Plan shape: explode tokens → ONE md5 per token in a projection →
   * `bits` arithmetic bit-votes summed in a single HashAggregate
   * (map-side partials, shuffle carries docs × bits ints). The md5 sits
   * in its own projection below the aggregate so it is evaluated once
   * per token, not once per bit — the single-expression formulation
   * (`aggregate(tokens, …md5…)` × bits, kept as the oracle twin in
   * `PortableSql.simhash`) rehashes every token `bits` times.
   */
  /** Per-doc bit votes: explode tokens → ONE md5 per token → each md5
    * hex nibble parsed ONCE (not once per bit) in a second projection →
    * `bits` arithmetic ±1 votes summed in a single HashAggregate.
    * Output: (idCol, __v0.., __v{bits-1}). */
  private def simhashVotes(
      df: DataFrame, textCol: String, idCol: String, bits: Int,
      kind: HashKind = Md5): DataFrame = {
    require(bits % 4 == 0 && bits <= 64, "bits must be a multiple of 4 ≤ 64")
    require(bits / 4 <= kind.maxNibbles,
      s"$kind provides ${kind.maxNibbles} nibbles; requested ${bits / 4}")
    val nibCols = (0 until bits / 4).map(k =>
      kind.nibble(col("__h"), k).as(s"__n$k"))
    val hashed = df
      .select(col(idCol), explode(TextOps.tokens(col(textCol))).as("__t"))
      .select(col(idCol), kind.tokenHash(col("__t")).as("__h"))
      .select(col(idCol) +: nibCols: _*)
    // Vote per bit b: bit 3-(b%4) of nibble b/4 set → +1 else -1;
    // majority across tokens wins.
    val votes = (0 until bits).map { b =>
      val m1 = 1 << (3 - b % 4)
      val m2 = m1 * 2
      sum(when(col(s"__n${b / 4}").mod(m2) >= m1, 1).otherwise(-1)).as(s"__v$b")
    }
    hashed.groupBy(col(idCol)).agg(votes.head, votes.tail: _*)
  }

  /** Majority-bit nibble values (one int in 0..15 per 4 bits) from the
    * vote columns. */
  private def voteNibbles(bits: Int): Seq[Column] =
    (0 until bits).map(b => when(col(s"__v$b") > 0, lit(1)).otherwise(lit(0)))
      .grouped(4).toSeq
      .map(g => g.zipWithIndex.map { case (bit, i) => bit * (8 >> i) }.reduce(_ + _))

  def simhash(
      df: DataFrame, textCol: String, idCol: String, bits: Int = 16,
      kind: HashKind = Md5): DataFrame = {
    // Pack bits → hex string, 4 at a time.
    val hexChars = voteNibbles(bits).map(v => lower(conv(v.cast("string"), 10, 16)))
    simhashVotes(df, textCol, idCol, bits, kind)
      .select(col(idCol), concat(hexChars: _*).as("simhash"))
  }

  /**
   * Connected components over an undirected pair list (id_a, id_b) —
   * the step that turns near-dup PAIRS into dedup DECISIONS: every doc
   * in a component gets the component's min id as `label`, and the doc
   * owning that label is the canonical keeper.
   *
   * Distributed iterative min-label propagation with POINTER DOUBLING:
   * each round a node adopts the min of (its label, its neighbors'
   * labels, its label's OWN label). The label-of-label shortcut halves
   * the remaining chain length every round, so convergence is
   * O(log diameter) — `maxIter = 20` covers chains of length ~2²⁰, vs.
   * diameter rounds for plain propagation (near-dup clusters are dense
   * near-cliques that finish in 2-3 rounds either way; the doubling is
   * what keeps a pathological long chain from becoming a crash at
   * scale). Each round is two equi-joins + one aggregation over the
   * PAIR set only — the corpus itself is never touched.
   *
   * Convergence detection is folded into the SAME aggregation: the
   * previous label rides along (`max(__old)` — exactly one self row per
   * id carries it), so "did anything change" is a per-row comparison
   * read back by a tiny scan over the just-checkpointed labels, not a
   * separate join-the-two-generations job per round.
   *
   * If `maxIter` rounds don't converge (possible only past ~2²⁰-long
   * chains): `strict = true` throws; `strict = false` logs and returns
   * the best-effort labels — at 100 TB a dedup job that degrades (some
   * clusters split in two) beats one that crashes in its final hour.
   * Deterministic: the fixpoint is unique, and every round is a pure
   * function of the previous labels.
   */
  def components(pairs: DataFrame, maxIter: Int = 20, strict: Boolean = true): DataFrame = {
    // Null-endpoint edges drop UP FRONT on BOTH paths (r21): a null id
    // cannot join anything, so such an edge carries no component
    // semantics — and the two paths must agree on dirty input (the
    // r20 fast path filtered, the loop did not: a node whose only
    // pairs involved null was self-labeled by one path and absent
    // from the other, with graph SIZE deciding which ran).
    val edges = pairs
      .select(col(pairs.columns(0)).as("src"), col(pairs.columns(1)).as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull)
    // r20 small-graph fast path: the distributed loop pays ~log(diam)
    // materialization rounds (measured 8 rounds × ~0.27 s floor on a
    // 5 k-pair graph — iteration overhead, not data). A pair graph
    // under the gate is a BOUNDED driver value (the same contract as
    // beam state / centroid matrices: ≤ ~32 MB of long pairs), and
    // min-label union-find on it reaches the IDENTICAL fixpoint — the
    // unique min-id-per-component labeling the loop converges to — in
    // one collect + one local relation. Long ids only (every caller
    // today); anything else, or past the gate, takes the loop below —
    // the 100 TB regime never collects a pair graph.
    //   maxIter guard (r21): the union-find always reaches the
    // fixpoint, the loop stops at maxIter — with strict=false and a
    // small maxIter a caller is ASKING for possibly-unconverged
    // labels, so only the loop may answer. Under the edge gate the
    // loop provably converges within componentsFastPathMinIters
    // rounds (pointer doubling: ⌈log₂(diameter)⌉+2 ≤ 23 for diameter
    // ≤ 2·10⁶+1, +margin), so past that bound — and under strict,
    // where the contract is converged-or-throw and the fast path
    // always satisfies the "converged" arm — the outputs coincide.
    val longIds = edges.schema.fields.forall(_.dataType ==
      org.apache.spark.sql.types.LongType)
    val loopEdges = if (longIds &&
      (strict || maxIter >= componentsFastPathMinIters)) {
      // checkpoint + count double as the gate probe AND (past the
      // gate) the loop's edge materialization — `undirected` below
      // re-reads these blocks, so an over-gate graph no longer pays a
      // discarded checkpoint (r21, ADVICE).
      val edgesCk = edges.localCheckpoint()
      if (edgesCk.count() <= driverMaxEdges) {
        val parent = collection.mutable.LongMap.empty[Long]
        def find(x: Long): Long = {
          var r = x
          while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
          var c = x // path compression
          while (parent.getOrElse(c, c) != c) {
            val nxt = parent.getOrElse(c, c); parent(c) = r; c = nxt
          }
          r
        }
        edgesCk.collect().foreach { row =>
          val (a, b) = (row.getLong(0), row.getLong(1))
          parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
          val (ra, rb) = (find(a), find(b))
          // min-id root ⇒ the final root IS the loop's min label
          if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
        }
        import scala.jdk.CollectionConverters._
        val out = parent.keys.toArray.sorted.map(idv =>
          org.apache.spark.sql.Row(idv, find(idv))).toSeq
        return pairs.sparkSession.createDataFrame(out.asJava,
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("id",
              org.apache.spark.sql.types.LongType, nullable = false),
            org.apache.spark.sql.types.StructField("label",
              org.apache.spark.sql.types.LongType, nullable = false))))
      }
      edgesCk
    } else edges
    val undirected = loopEdges
      .union(loopEdges.select(col("dst").as("src"), col("src").as("dst")))
      .localCheckpoint()
    var labels = undirected.select(col("src").as("id")).distinct()
      .select(col("id"), col("id").as("label"))
      .localCheckpoint()
    // r20: checkpointed frames keep only their pre-checkpoint size
    // estimate, not an exact count, and without a hint every round's
    // two label joins plan as sort-merge — ~6 exchanges
    // per round on a frame whose exact size we already know (the node
    // count is fixed for the whole run). Below the gate, an explicit
    // broadcast turns both joins into BHJs: one exchange per round
    // (the label re-aggregation) instead of six, identical rows
    // (guide §3.1 — hint when the estimate is wrong, never past the
    // broadcast caps). Above the gate the sort-merge path is exactly
    // as before — the 100 TB regime never broadcasts a pair graph.
    val nNodes = labels.count()
    val small = nNodes <= componentsBroadcastMaxNodes
    val labelType = labels.schema("label").dataType
    def nullLabel = lit(null).cast(labelType)
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      val lbl = if (small) broadcast(labels) else labels
      val viaNeighbors = undirected
        .join(lbl, undirected("dst") === lbl("id"))
        .select(undirected("src").as("id"), col("label"), nullLabel.as("__old"))
      val viaPointer = labels.as("l1")
        .join(if (small) broadcast(labels.as("l2")) else labels.as("l2"),
          col("l1.label") === col("l2.id"))
        .select(col("l1.id").as("id"), col("l2.label").as("label"), nullLabel.as("__old"))
      val next = labels.select(col("id"), col("label"), col("label").as("__old"))
        .union(viaNeighbors)
        .union(viaPointer)
        .groupBy("id")
        .agg(min("label").as("label"), max("__old").as("__old"))
        .select(col("id"), col("label"), (col("label") < col("__old")).as("__changed"))
        .localCheckpoint()
      // tiny scan over the checkpointed (pairs-sized) label table — no
      // join of generations, no extra lineage
      val flag = next.agg(max("__changed")).first()
      converged = flag.isNullAt(0) || !flag.getBoolean(0) // null = empty graph
      labels = next.drop("__changed")
      iter += 1
    }
    if (!converged) {
      val msg = s"components did not converge in $maxIter rounds"
      if (strict) throw new IllegalStateException(msg)
      else org.slf4j.LoggerFactory.getLogger(getClass)
        .warn(s"$msg — returning best-effort labels")
    }
    labels
  }

  /**
   * Corpus-wide dedup DECISIONS — the artifact a training pipeline
   * actually consumes: every doc mapped to its cluster id with a
   * keep/drop verdict. Docs in no near-dup cluster (the vast majority)
   * form their own singleton cluster and keep themselves; clustered
   * docs keep only the min-id member. One LEFT join of the (tiny)
   * label table onto the corpus id column — the corpus text is never
   * touched.
   *
   * `labels` is the output of [[components]] (id, label).
   */
  def dedupDecisions(df: DataFrame, idCol: String, labels: DataFrame): DataFrame = {
    val l = labels.select(col("id").as(idCol), col("label"))
    df.select(col(idCol))
      .join(l, Seq(idCol), "left")
      .select(
        col(idCol),
        coalesce(col("label"), col(idCol)).as("cluster_id"),
        (coalesce(col("label"), col(idCol)) === col(idCol)).as("keep"))
  }

  /** Nibble-wise popcount lookup: element i holds popcount(i), i ∈ 0..15. */
  private val popcount4 = Seq(0, 1, 1, 2, 1, 2, 2, 3, 1, 2, 2, 3, 2, 3, 3, 4)

  /** Hamming distance between two equal-length hex-string simhash
    * columns: per-nibble XOR → 4-bit popcount lookup, summed. Pure
    * arithmetic (portable to the SQL oracle). */
  def hammingHex(a: Column, b: Column, hexLen: Int): Column =
    (1 to hexLen).map { i =>
      val na = conv(substring(a, i, 1), 16, 10).cast("int")
      val nb = conv(substring(b, i, 1), 16, 10).cast("int")
      element_at(typedlit(popcount4), na.bitwiseXOR(nb) + 1)
    }.reduce(_ + _).cast("long")

  /**
   * SimHash near-dup pairs via hamming-block LSH: split the `bits`-bit
   * simhash into `blocks` equal hex blocks; by pigeonhole, any pair with
   * hamming distance &lt; `blocks` shares at least one block verbatim, so
   * the candidate join on (block_idx, block_value) has PERFECT recall
   * for `maxHamming ≤ blocks − 1` while touching only same-block pairs
   * (bucket count = blocks × 16^blockChars — scale it with the corpus
   * via `bits`). Candidates are then verified with the exact
   * [[hammingHex]] distance. One narrow simhash pass, one bounded
   * ×blocks explode, one bucket-keyed shuffle — the same scale shape as
   * the MinHash path.
   *
   * Output: (id_a, id_b, hamming) with hamming ≤ maxHamming.
   *
   * @param maxBucketPostings stop-bucket CONTINUE path
   *        ([[Fences.stopBuckets]]): (blk, v) buckets past this
   *        posting count are DROPPED before the join instead of
   *        tripping the fail-loud fence — the recall-accounted route
   *        for a deployment whose corpus outgrows the cap (pairs whose
   *        ONLY shared block was dropped are missed; enumerate the
   *        drops with [[Fences.bucketDropReport]]). 0 disables
   *        (default — fail-loud stays the default posture).
   */
  def simhashNearDups(
      df: DataFrame,
      textCol: String,
      idCol: String,
      bits: Int = 32,
      blocks: Int = 4,
      maxHamming: Int = 3,
      kind: HashKind = Md5,
      maxBucketPairs: Long = 25_000_000L,
      maxBucketPostings: Long = 0L): DataFrame = {
    val hexLen = bits / 4
    require(hexLen % blocks == 0, "blocks must divide the hex length")
    require(maxHamming < blocks,
      "pigeonhole guarantee needs maxHamming < blocks (else recall < 1)")
    val blockChars = hexLen / blocks
    // materialized index: (id, simhash hex, nibble ints) — nibbles are
    // parsed ONCE PER DOC here so the per-candidate-pair hamming below
    // is pure integer arithmetic (candidate pairs outnumber docs by
    // orders of magnitude; parsing hex at pair time dominated the op)
    val nibVals = voteNibbles(bits)
    val hexChars = nibVals.map(v => lower(conv(v.cast("string"), 10, 16)))
    val sh = simhashVotes(df, textCol, idCol, bits, kind)
      .select(col(idCol), concat(hexChars: _*).as("simhash"),
        array(nibVals: _*).as("nibs"))
      .localCheckpoint()
    val blocksCol = (0 until blocks).map { b =>
      struct(
        lit(b).as("blk"),
        substring(col("simhash"), b * blockChars + 1, blockChars).as("v"))
    }
    val ex = Fences.stopBuckets(
      sh.select(col(idCol), col("nibs"),
          explode(array(blocksCol: _*)).as("bb"))
        .select(col(idCol), col("nibs"),
          col("bb.blk").as("blk"), col("bb.v").as("v")),
      Seq("blk", "v"), maxBucketPostings)
    val a = ex.select(col("blk"), col("v"),
      col(idCol).as("id_a"), col("nibs").as("na"))
    val b = ex.select(col("blk"), col("v"),
      col(idCol).as("id_b"), col("nibs").as("nb"))
    val hamming = (1 to hexLen).map(i =>
      element_at(typedlit(popcount4),
        element_at(col("na"), i).bitwiseXOR(element_at(col("nb"), i)) + 1))
      .reduce(_ + _).cast("long")
    // hot-bucket fence (the prefixFilteredPairs/Linkage convention): a
    // constant simhash block across a mass-duplicated template corpus
    // concentrates one (blk, v) bucket, and that bucket alone makes
    // the candidate join quadratic — fail loudly naming the key. `ex`
    // re-derives from the checkpointed `sh`, so the audit pass costs
    // one narrow explode + decomposable count, never a re-hash.
    Fences.assertBucketPairs(ex, Seq("blk", "v"), maxBucketPairs,
      "simhash", "raise bits (narrower buckets), pre-dedup exact copies")
    a.join(b, Seq("blk", "v"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), hamming.as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /**
   * Batch keep/drop DECISIONS from an incremental near-dup probe —
   * [[dedupDecisions]]' daily-ingest twin (q47 is the full-corpus
   * resolution; this is what the batch pipeline consumes). Arrival
   * order decides: a batch doc is dropped when it pairs with ANY
   * already-indexed corpus doc (the corpus copy is canonical
   * regardless of id order), or with a SMALLER-id batch doc
   * (keep-first within the batch). `pairs` is the output of an index
   * probe ([[graft.io.SignatureIndex.probe]] /
   * [[incrementalNearDups]]); corpus membership = "not in the batch".
   * Output: one (idCol, keep) row per batch doc.
   */
  def incrementalDedupDecisions(
      newDocs: DataFrame, pairs: DataFrame, idCol: String): DataFrame = {
    val batchIds = newDocs.select(col(idCol)).distinct().localCheckpoint()
    val flagged = pairs
      .join(broadcast(batchIds.select(col(idCol).as("id_a"),
        lit(true).as("__ab"))), Seq("id_a"), "left")
      .join(broadcast(batchIds.select(col(idCol).as("id_b"),
        lit(true).as("__bb"))), Seq("id_b"), "left")
    val dropIds = flagged.select(
      when(coalesce(col("__ab"), lit(false)) && coalesce(col("__bb"), lit(false)),
        col("id_b"))
        .when(coalesce(col("__ab"), lit(false)), col("id_a"))
        .otherwise(col("id_b")).as(idCol))
      .distinct()
    batchIds
      .join(broadcast(dropIds.withColumn("__drop", lit(true))), Seq(idCol), "left")
      .select(col(idCol), col("__drop").isNull.as("keep"))
  }

  /**
   * Content-defined chunking (the Rabin-boundary block-dedup scheme of
   * LBFS/backup dedup, public: Muthitacharoen et al. 2001): cut a
   * document at every position whose rolling k-gram hash ≡ 0 mod
   * `divisor` — boundaries are a function of CONTENT, so an insertion
   * shifts only the chunks it touches, and identical passages yield
   * identical chunks at ANY offset. The dedup granularity between
   * whole-doc fingerprints (miss everything after one edit) and
   * per-shingle sets (expensive): storage-style block dedup for a
   * text corpus. Expected chunk length = `divisor` chars; this is the
   * oracle-exact PURE Rabin form — FastCDC's min/max chunk clamps are
   * a sequential scan over boundaries (kernel-able, but not
   * SQL-replayable) and deliberately out of scope.
   *
   * Implementation note: the rolling-hash and boundary arrays are
   * MATERIALIZED (localCheckpoint) between stages — the documented
   * HOF-inlining pathology ([[graft.ops.TextOps.winnowingFingerprints]])
   * would otherwise re-evaluate the full hash array per lambda element
   * (O(len²·k) per doc). After the explode each chunk row is one
   * narrow codegen `substring`+`md5` projection.
   *
   * Output: one row per chunk — (idCol, chunk_idx 1-based, start
   * 1-based, chunk_len, chunk_hash).
   */
  def contentDefinedChunks(
      df: DataFrame,
      textCol: String,
      idCol: String,
      k: Int = 5,
      divisor: Long = 64L): DataFrame = {
    require(divisor >= 2, "divisor must be >= 2")
    // the CODES array materializes FIRST: the rolling-hash lambda does
    // k element_at's per position, and an inlined charCodes expression
    // re-evaluates the whole transform(split(…)) for every one of them
    // — O(len²·k) per doc (measured: 120 ms/doc on license-tailed
    // pages; 0.2 ms/doc materialized)
    val withCodes = df
      .filter(col(textCol).isNotNull)
      .select(col(idCol), col(textCol),
        TextOps.charCodes(col(textCol)).as("__codes"))
      .localCheckpoint()
    val withH = withCodes
      .select(col(idCol), col(textCol),
        TextOps.rollingHashesFromCodes(col("__codes"), k).as("__h"))
      .localCheckpoint()
    val cuts = filter(
      sequence(lit(1), greatest(size(col("__h")), lit(1))),
      i => i <= size(col("__h")) &&
        element_at(col("__h"), i) % divisor === 0L)
    val bounds = array_distinct(concat(
      array(lit(0)),
      sort_array(transform(cuts, i => i + lit(k - 1))),
      array(length(col(textCol)))))
    val withB = withH
      .select(col(idCol), col(textCol), bounds.as("__b"))
      .localCheckpoint()
    // size(__b) == 1 only for an EMPTY text (bounds [0]) — no chunks;
    // the guard keeps sequence() from generating a descending range
    val chunkDefs = when(size(col("__b")) >= 2,
      transform(
        sequence(lit(1), size(col("__b")) - 1),
        j => struct(
          (element_at(col("__b"), j) + 1).as("s"),
          (element_at(col("__b"), j + 1) - element_at(col("__b"), j))
            .as("l"))))
      .otherwise(array().cast("array<struct<s:int,l:int>>"))
    withB
      .select(col(idCol), col(textCol), posexplode(chunkDefs))
      .select(col(idCol), (col("pos") + 1).cast("long").as("chunk_idx"),
        col("col.s").cast("long").as("start"),
        col("col.l").cast("long").as("chunk_len"),
        md5(expr(s"substring($textCol, col.s, col.l)")).as("chunk_hash"))
  }

  /**
   * Cross-document block-dedup report over [[contentDefinedChunks]]:
   * per doc, how many of its chunks (and bytes) also appear in OTHER
   * documents — the storage-dedup view of corpus redundancy ("38% of
   * this doc's bytes exist elsewhere"), computed without any pair
   * join: chunk identity is a hash equi-group, shared = hash appears
   * under ≥ 2 distinct docs. All aggregations decomposable on the
   * chunk hash / the doc id.
   *
   * Output: (idCol, n_chunks, n_shared_chunks, shared_bytes,
   * total_bytes, dup_ratio).
   */
  def cdcDedupReport(
      df: DataFrame,
      textCol: String,
      idCol: String,
      k: Int = 5,
      divisor: Long = 64L): DataFrame = {
    val chunks = contentDefinedChunks(df, textCol, idCol, k, divisor)
      .localCheckpoint() // feeds the spread table AND the per-doc rollup
    val spread = chunks
      .groupBy("chunk_hash")
      .agg(countDistinct(col(idCol)).as("__nd"))
      .filter(col("__nd") >= 2)
      .select("chunk_hash")
    chunks
      .join(spread, Seq("chunk_hash"), "left_semi")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_shared_chunks"),
        sum(col("chunk_len")).as("shared_bytes"))
      .join(chunks.groupBy(col(idCol))
        .agg(count(lit(1)).as("n_chunks"),
          sum(col("chunk_len")).as("total_bytes")), Seq(idCol), "right")
      .select(col(idCol), col("n_chunks"),
        coalesce(col("n_shared_chunks"), lit(0L)).as("n_shared_chunks"),
        coalesce(col("shared_bytes"), lit(0L)).as("shared_bytes"),
        col("total_bytes"),
        round(coalesce(col("shared_bytes"), lit(0L)).cast("double") /
          col("total_bytes"), 6).as("dup_ratio"))
  }

  /**
   * MinHash estimation-error report — measured accuracy of the
   * signature-based Jaccard estimate (matching components / numHashes,
   * Broder 1997: each component matches with probability J) against
   * the EXACT Jaccard, over the LSH candidate pairs: the empirical
   * answer to "how many hash functions do I need" (stderr ≈
   * √(J(1−J)/h)), measured on THIS corpus instead of assumed. The
   * companion of [[lshDedupEval]]: that one grades the banding's
   * candidate set, this one grades the estimator the bands are built
   * from.
   *
   * One signature build (docs × numHashes longs), the candidate join,
   * one exact-overlap verification of candidates only, and a 1-row
   * aggregation. Estimate = exact rational h_match/h; exact Jaccard
   * rounds at 6 (the [[verifyPairs]] contract); errors aggregate at 6.
   *
   * Output: one row (n_pairs, mean_exact, mean_est, bias,
   * mean_abs_err, max_abs_err).
   */
  def minhashErrorReport(
      df: DataFrame,
      textCol: String,
      idCol: String,
      numHashes: Int = 8,
      bands: Int = 4,
      shingleWords: Int = 3,
      kind: HashKind = Md5): DataFrame = {
    val cands = candidatePairs(df, textCol, idCol, numHashes, bands,
      shingleWords, kind).localCheckpoint()
    val exact = verifyPairs(df, cands, textCol, idCol, threshold = 0.0,
      shingleWords)
    val sigs = minhashSignatures(df, textCol, idCol, numHashes,
      shingleWords, kind)
    val est = cands
      .join(sigs.select(col(idCol).as("id_a"), col("sig").as("__sa")), "id_a")
      .join(sigs.select(col(idCol).as("id_b"), col("sig").as("__sb")), "id_b")
      .select(col("id_a"), col("id_b"),
        (aggregate(
          zip_with(col("__sa"), col("__sb"),
            (x, y) => when(x === y, 1).otherwise(0)),
          lit(0), (acc, x) => acc + x).cast("double") / numHashes)
          .as("__est"))
    est.join(exact, Seq("id_a", "id_b"))
      .agg(count(lit(1)).as("n_pairs"),
        round(avg(col("jaccard")), 6).as("mean_exact"),
        round(avg(col("__est")), 6).as("mean_est"),
        round(avg(col("__est") - col("jaccard")), 6).as("bias"),
        round(avg(abs(col("__est") - col("jaccard"))), 6).as("mean_abs_err"),
        round(max(abs(col("__est") - col("jaccard"))), 6).as("max_abs_err"))
  }

  /**
   * Dedup threshold-sensitivity report — the tuning table for THE
   * dedup knob: how many pairs (and how much of the corpus) each
   * candidate Jaccard threshold would implicate. Built from ONE exact
   * candidate stem at the LOWEST threshold ([[prefixFilteredPairs]] —
   * exact recall, so every higher threshold's pair set is a subset by
   * construction), then |thresholds|-row arithmetic: no re-scan, no
   * re-join per threshold. "0.8 drops 3% of docs, 0.7 drops 11%" is
   * the sentence a curation review needs before committing a number.
   *
   * Output: one row per threshold:
   * (threshold, n_pairs, n_docs, mean_jaccard round 6).
   */
  def thresholdSensitivity(
      df: DataFrame,
      textCol: String,
      idCol: String,
      thresholds: Seq[Double],
      maxPrefixPairs: Long = 25_000_000L): DataFrame = {
    require(thresholds.nonEmpty && thresholds.forall(t => t > 0 && t <= 1),
      "thresholds must be in (0, 1]")
    // melt pairs to (jaccard, doc): every threshold's pair count, doc
    // reach, and mean come out of ONE aggregation over the frame
    // (conditional count-distincts — nulls don't count); each pair
    // appears twice, so n_pairs halves and the mean is unchanged
    val melted = prefixFilteredPairs(df, textCol, idCol, thresholds.min,
        maxPrefixPairs = maxPrefixPairs)
      .select(col("jaccard"),
        explode(array(col("id_a"), col("id_b"))).as("__d"))
    val ts = thresholds.sorted
    val aggs = ts.zipWithIndex.flatMap { case (t, i) =>
      Seq(
        (sum(when(col("jaccard") >= t, 1L).otherwise(0L)) / 2)
          .cast("long").as(s"__np_$i"),
        count_distinct(when(col("jaccard") >= t, col("__d")))
          .as(s"__nd_$i"),
        round(avg(when(col("jaccard") >= t, col("jaccard"))), 6)
          .as(s"__mj_$i"))
    }
    val one = melted.agg(aggs.head, aggs.tail: _*).localCheckpoint()
    ts.zipWithIndex.map { case (t, i) =>
      one.select(lit(t).as("threshold"),
        col(s"__np_$i").as("n_pairs"),
        col(s"__nd_$i").as("n_docs"),
        col(s"__mj_$i").as("mean_jaccard"))
    }.reduce(_ unionByName _)
  }

  /**
   * b-bit minwise hashing report (Li & König 2010, public) — the
   * storage-side answer to "how many hash functions": keep only the
   * LOWEST b BITS of each MinHash component (a 64→b-bit compression of
   * the signature store, 32× at b=2) and correct for the accidental
   * collisions that costs. Two b-bit components now match with
   * probability `C + (1−C)·J`, `C = 2⁻ᵇ`, so the unbiased estimate is
   *
   *   Ĵ_b = (E_b − C) / (1 − C),  E_b = matching b-bit components / h.
   *
   * Reported side by side with the full-width estimate and the EXACT
   * Jaccard over the same LSH candidate pairs ([[minhashErrorReport]]'s
   * protocol), so the trade — b× smaller index vs the measured extra
   * error — is a number, not a belief. At 100 TB the signature store
   * IS the dedup index's footprint; this is the knob that shrinks it.
   *
   * Same plan shape as [[minhashErrorReport]]: one signature build, the
   * candidate join, exact verification of candidates only, one 1-row
   * aggregation. E_b is an exact rational (integer matches / h); the
   * correction is one exact-power-of-two affine map — engine-exact.
   *
   * Output: one row (n_pairs, bits_per_component, mean_exact,
   * mean_est_full, mean_est_b, mae_full, mae_b).
   */
  def bBitMinhashReport(
      df: DataFrame,
      textCol: String,
      idCol: String,
      numHashes: Int = 8,
      b: Int = 2,
      bands: Int = 4,
      shingleWords: Int = 3,
      kind: HashKind = Md5): DataFrame = {
    require(b >= 1 && b <= 32, s"b must be in [1, 32], got $b")
    val cands = candidatePairs(df, textCol, idCol, numHashes, bands,
      shingleWords, kind).localCheckpoint()
    val exact = verifyPairs(df, cands, textCol, idCol, threshold = 0.0,
      shingleWords)
    val sigs = minhashSignatures(df, textCol, idCol, numHashes,
      shingleWords, kind)
    val mod = lit(1L << b)
    val c = 1.0 / (1L << b)
    def matchFrac(cmp: (Column, Column) => Column) =
      aggregate(
        zip_with(col("__sa"), col("__sb"),
          (x, y) => when(cmp(x, y), 1).otherwise(0)),
        lit(0), (acc, x) => acc + x).cast("double") / numHashes
    val est = cands
      .join(sigs.select(col(idCol).as("id_a"), col("sig").as("__sa")), "id_a")
      .join(sigs.select(col(idCol).as("id_b"), col("sig").as("__sb")), "id_b")
      .select(col("id_a"), col("id_b"),
        matchFrac((x, y) => x === y).as("__ef"),
        ((matchFrac((x, y) => x % mod === y % mod) - lit(c)) /
          lit(1.0 - c)).as("__eb"))
    est.join(exact, Seq("id_a", "id_b"))
      .agg(count(lit(1)).as("n_pairs"),
        max(lit(b)).as("bits_per_component"),
        round(avg(col("jaccard")), 6).as("mean_exact"),
        round(avg(col("__ef")), 6).as("mean_est_full"),
        round(avg(col("__eb")), 6).as("mean_est_b"),
        round(avg(abs(col("__ef") - col("jaccard"))), 6).as("mae_full"),
        round(avg(abs(col("__eb") - col("jaccard"))), 6).as("mae_b"))
  }

  /**
   * Quality-canonical cluster selection — keep the HIGHEST-QUALITY
   * member of each near-dup cluster instead of the min-id one (the
   * documented alternative in dedup practice: when near-dups differ
   * by boilerplate/truncation, min-id keeps an arbitrary copy; the
   * curation-grade choice keeps the best one). Ties break toward the
   * smaller id, so the verdict is total and replayable.
   *
   * One broadcast label attach (labels are pair-graph-sized, never
   * corpus-∝) + ONE decomposable per-cluster aggregation: the argmax
   * rides a single `max(struct(quality, -id))` — no window over the
   * corpus. Unlabeled docs are their own singleton cluster (keeper =
   * themselves), same contract as [[graft.ops.Sampling.softDedupWeights]].
   *
   * @param labels (id, label) cluster assignment — [[components]]
   *               output or any equivalent
   * @return one row per doc: (idCol, cluster_id, keeper_id,
   *         keeper_quality, is_keeper)
   */
  def qualityCanonical(
      docs: DataFrame,
      idCol: String,
      labels: DataFrame,
      quality: Column): DataFrame = {
    val scored = docs.select(col(idCol), quality.as("__q"))
      .join(broadcast(labels.select(col("id").as(idCol), col("label"))),
        Seq(idCol), "left")
      .select(col(idCol), col("__q"),
        coalesce(col("label"), col(idCol)).as("cluster_id"))
    val keepers = scored
      .groupBy("cluster_id")
      .agg(max(struct(col("__q").as("q"), (-col(idCol)).as("ni"))).as("__w"))
      .select(col("cluster_id"), (-col("__w.ni")).as("keeper_id"),
        col("__w.q").as("keeper_quality"))
    scored
      .join(keepers, Seq("cluster_id"))
      .select(col(idCol), col("cluster_id"), col("keeper_id"),
        col("keeper_quality"), (col(idCol) === col("keeper_id")).as("is_keeper"))
  }

  /**
   * LSH parameter evaluation — precision/recall of the banded-MinHash
   * CANDIDATE set against the exact ground truth (the
   * [[prefixFilteredPairs]] all-pairs Jaccard ≥ t, whose recall is
   * deterministic): the measurement a (numHashes, bands) choice is
   * made from before committing a 100 TB dedup run to it. Candidate
   * precision is the verification-cost driver (every false candidate
   * pays an exact-Jaccard check); recall is the miss rate — the pairs
   * banding never surfaces and no verification can recover
   * (Broder 1997 / the standard S-curve trade, measured instead of
   * assumed).
   *
   * Pair sets are id-ordered (`id_a < id_b`) on both sides, so the
   * intersection is a plain equi-semi-join; all counts are exact
   * integers from 1-row aggregations, combined by cross-broadcast —
   * the eval costs one LSH pass + one exact pass, each already
   * bucketed/prefix-fenced. F1 is null when both sets are empty.
   *
   * Output: one row (n_candidates, n_truth, n_hits, precision,
   * recall, f1).
   */
  def lshDedupEval(
      df: DataFrame,
      textCol: String,
      idCol: String,
      threshold: Double,
      numHashes: Int = 8,
      bands: Int = 4,
      shingleWords: Int = 3,
      kind: HashKind = Md5): DataFrame = {
    val cand = candidatePairs(df, textCol, idCol, numHashes, bands,
      shingleWords, kind).localCheckpoint()
    val truth = prefixFilteredPairs(df, textCol, idCol, threshold,
      shingleWords, kind).select("id_a", "id_b").localCheckpoint()
    val nCand = cand.agg(count(lit(1)).as("n_candidates"))
    val nTruth = truth.agg(count(lit(1)).as("n_truth"))
    val nHit = cand.join(truth, Seq("id_a", "id_b"), "left_semi")
      .agg(count(lit(1)).as("n_hits"))
    val p = col("n_hits").cast("double") / col("n_candidates")
    val r = col("n_hits").cast("double") / col("n_truth")
    nCand.crossJoin(nTruth).crossJoin(nHit)
      .select(col("n_candidates"), col("n_truth"), col("n_hits"),
        round(p, 6).as("precision"), round(r, 6).as("recall"),
        round(try_divide(lit(2.0) * p * r, p + r), 6).as("f1"))
  }

  /**
   * Mirror-host detection (Bharat & Broder, "Mirror, mirror on the
   * web" 1999, public): host PAIRS whose content-fingerprint sets
   * overlap heavily are mirrors — crawl one, skip the other, and
   * collapse their pages before corpus entry (per-URL dedup misses
   * mirrors whose URLs differ entirely). Input is one (host,
   * fingerprint) row per page; identity is fingerprint equality, so
   * the caller picks the granularity (page md5, winnowing sketch, …).
   *
   * Per surviving pair: `shared` distinct fingerprints, each side's
   * set size, `resemblance = shared / (|A| + |B| − shared)` (Jaccard)
   * and `containment = shared / min(|A|, |B|)` (the one-directional
   * mirror-of-a-subsection signal). Pairs below `minShared` drop.
   *
   * Scale shape: the pair generation is a SELF-JOIN KEYED ON THE
   * FINGERPRINT — never host × host. Its fanout per fingerprint is
   * `n_hosts²`, so fingerprints on more than `maxHostsPerFp` hosts are
   * dropped FIRST (the boilerplate fence: a shared footer fingerprint
   * appearing on every host of the web would otherwise quadratically
   * dominate — and carries no mirror signal precisely because it is
   * everywhere; same df-cap discipline as the co-citation and PPJoin
   * prefix filters). After the cap, per-key work is ≤ maxHostsPerFp²
   * and the aggregation is decomposable on (host_a, host_b).
   * Host-pair ordering `host_a < host_b` emits each pair once.
   */
  def mirrorHosts(
      pages: DataFrame,
      hostCol: String,
      fpCol: String,
      maxHostsPerFp: Int = 32,
      minShared: Long = 2L): DataFrame = {
    require(maxHostsPerFp >= 2, "maxHostsPerFp must be >= 2")
    val fps = pages
      .select(col(hostCol).as("__host"), col(fpCol).as("__fp"))
      .filter(col("__host").isNotNull && col("__fp").isNotNull)
      .distinct()
      .localCheckpoint() // feeds the spread cap, sizes, AND the pair join
    val rare = fps
      .groupBy("__fp").agg(count(lit(1)).as("__nh"))
      .filter(col("__nh") >= 2 && col("__nh") <= maxHostsPerFp)
      .select("__fp")
    val capped = fps.join(rare, Seq("__fp"))
    val sizes = fps.groupBy("__host").agg(count(lit(1)).as("__sz"))
    val pairs = capped.as("a")
      .join(capped.as("b"),
        col("a.__fp") === col("b.__fp") && col("a.__host") < col("b.__host"))
      .groupBy(col("a.__host").as("host_a"), col("b.__host").as("host_b"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
    pairs
      .join(sizes.withColumnRenamed("__host", "host_a")
        .withColumnRenamed("__sz", "n_a"), "host_a")
      .join(sizes.withColumnRenamed("__host", "host_b")
        .withColumnRenamed("__sz", "n_b"), "host_b")
      .select(col("host_a"), col("host_b"), col("shared"),
        col("n_a"), col("n_b"),
        round(col("shared").cast("double") /
          (col("n_a") + col("n_b") - col("shared")), 6).as("resemblance"),
        round(col("shared").cast("double") /
          least(col("n_a"), col("n_b")), 6).as("containment"))
  }
}
