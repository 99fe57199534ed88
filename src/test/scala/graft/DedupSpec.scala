package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.PortableSql
import graft.functions.PortableSql.{SparkDialect => SD}
import graft.ops.{Dedup, Spans}

class DedupSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  /** Tiny corpus with one engineered near-dup pair (1,2), one exact dup
    * pair (3,4) and unrelated docs. */
  private def corpus = Seq(
    (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (2L, "the quick brown fox jumps over the lazy dog near the river bank yesterday"),
    (3L, "entirely identical text body for exact duplication checks in this suite"),
    (4L, "entirely identical text body for exact duplication checks in this suite"),
    (5L, "completely unrelated content about spark catalyst optimizer internals"),
    (6L, "another disjoint document mentioning parquet row groups and pushdown")
  ).toDF("doc_id", "text")

  test("exact dedup keeps one row per key set") {
    val df = Seq((1, "a"), (1, "a"), (2, "b")).toDF("k", "v")
    assert(Dedup.exact(df, Seq("k", "v")).count() == 2)
  }

  test("normalizedKeepers: canonical min-id keeper per fingerprint") {
    val keep = Dedup.normalizedKeepers(corpus, "text", "doc_id")
      .collect().map(r => r.getAs[Long]("keep_id") -> r.getAs[Long]("n_dups")).toMap
    assert(keep(3L) == 2L) // 3 and 4 share a fingerprint; 3 is the keeper
    assert(keep.keySet.intersect(Set(4L)).isEmpty)
  }

  test("minhashSignatures: deterministic, 8 universal-hash mins in [0,P), one row per doc") {
    val sig1 = Dedup.minhashSignatures(corpus, "text", "doc_id", 8, 3)
      .orderBy("doc_id").as[(Long, Seq[Long])].collect()
    val sig2 = Dedup.minhashSignatures(corpus, "text", "doc_id", 8, 3)
      .orderBy("doc_id").as[(Long, Seq[Long])].collect()
    assert(sig1.toSeq == sig2.toSeq)
    assert(sig1.length == 6)
    assert(sig1.forall(_._2.length == 8))
    assert(sig1.flatMap(_._2).forall(v => v >= 0 && v < PortableSql.minhashP))
    // exact dups share the whole signature
    val byId = sig1.toMap
    assert(byId(3L) == byId(4L))
  }

  test("minhash signature equals the portable SQL fragment (oracle twin)") {
    val frag = (0 until 8).map(i =>
      PortableSql.minhashSig(SD.shingles(SD.tokens("text"), 3), i, SD)).mkString(
      "array(", ", ", ")")
    val a = corpus.selectExpr("doc_id", s"$frag AS sig")
      .orderBy("doc_id").as[(Long, Seq[Long])].collect()
    val b = Dedup.minhashSignatures(corpus, "text", "doc_id", 8, 3)
      .orderBy("doc_id").as[(Long, Seq[Long])].collect()
    assert(a.toSeq == b.toSeq)
  }

  test("lshBuckets: docs × bands rows; identical docs co-bucket in every band") {
    val buckets = Dedup.lshBuckets(
      Dedup.minhashSignatures(corpus, "text", "doc_id", 8, 3), "doc_id", 8, 4)
    assert(buckets.count() == 6 * 4)
    val shared = buckets.groupBy("band", "bucket")
      .agg(collect_set("doc_id").as("ids"))
      .filter(array_contains(col("ids"), 3L) && array_contains(col("ids"), 4L))
    assert(shared.count() == 4, "exact dups must share all 4 band buckets")
  }

  test("candidatePairs finds engineered near-dups, ordered and distinct") {
    val pairs = Dedup.candidatePairs(corpus, "text", "doc_id")
      .as[(Long, Long)].collect().toSet
    assert(pairs.contains((3L, 4L)))
    assert(pairs.contains((1L, 2L)))
    assert(pairs.forall { case (a, b) => a < b })
  }

  test("verifiedNearDups: exact dups at 1.0, near-dups scored, unrelated absent") {
    val out = Dedup.verifiedNearDups(corpus, "text", "doc_id", threshold = 0.5)
      .as[(Long, Long, Double)].collect().map(t => (t._1, t._2) -> t._3).toMap
    assert(out((3L, 4L)) == 1.0)
    assert(out.contains((1L, 2L)))
    assert(out((1L, 2L)) > 0.5 && out((1L, 2L)) < 1.0)
    assert(out.keySet.forall { case (a, b) => Set(a, b).subsetOf(Set(1L, 2L, 3L, 4L)) })
  }

  test("verifiedNearDups jaccard matches a brute-force shingle jaccard") {
    def shingles(text: String): Set[String] = {
      val toks = text.split(" ", -1)
      val n = math.max(toks.length - 2, 1)
      (0 until n).map(i => toks.slice(i, i + 3).mkString(" ")).toSet
    }
    val docs = corpus.as[(Long, String)].collect().toMap
    val out = Dedup.verifiedNearDups(corpus, "text", "doc_id", threshold = 0.1)
      .as[(Long, Long, Double)].collect()
    assert(out.nonEmpty)
    out.foreach { case (a, b, j) =>
      val (sa, sb) = (shingles(docs(a)), shingles(docs(b)))
      val expected = sa.intersect(sb).size.toDouble / sa.union(sb).size
      assert(math.abs(j - expected) < 1e-6, s"pair ($a,$b)")
    }
  }

  test("incrementalDedupDecisions: corpus partner wins regardless of id order, batch keep-first") {
    val batch = Seq((5L, "x"), (20L, "x"), (30L, "x")).toDF("doc_id", "text")
    // pairs sorted id_a < id_b: (5,100) = batch 5 vs corpus 100 → drop 5
    // even though 5 < 100; (20,30) = both batch → drop 30 (keep-first)
    val pairs = Seq((5L, 100L, 1.0), (20L, 30L, 0.9))
      .toDF("id_a", "id_b", "jaccard")
    val out = Dedup.incrementalDedupDecisions(batch, pairs, "doc_id")
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(out == Map(5L -> false, 20L -> true, 30L -> false))
    // a corpus partner with a SMALLER id also wins: (2, 20) drops 20
    val pairs2 = Seq((2L, 20L, 1.0)).toDF("id_a", "id_b", "jaccard")
    val out2 = Dedup.incrementalDedupDecisions(batch, pairs2, "doc_id")
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(out2 == Map(5L -> true, 20L -> false, 30L -> true))
  }

  test("sorted-intersect kernel == size(array_intersect) on corpus pairs + edges") {
    // crafted edges: identical, disjoint, empty sides, subset
    val edges = Seq(
      (Seq("a", "b", "c"), Seq("a", "b", "c")),
      (Seq("a", "b"), Seq("c", "d")),
      (Seq[String](), Seq("a")),
      (Seq[String](), Seq[String]()),
      (Seq("a", "b", "c", "d"), Seq("b", "d"))).toDF("x", "y")
      .select(sort_array(col("x")).as("x"), sort_array(col("y")).as("y"))
    val checkedEdges = edges.select(
      graft.functions.GraftFunctions.sortedIntersect(spark, col("x"), col("y")).as("k"),
      size(array_intersect(col("x"), col("y"))).as("r"))
      .collect()
    checkedEdges.foreach(r => assert(r.getInt(0) == r.getInt(1)))
    // real corpus: every cross pair of 40 docs' sorted shingle sets
    val sh = TestSpark.table("documents").limit(40)
      .select(col("doc_id"),
        sort_array(array_distinct(graft.ops.TextOps.wordShingles(col("text"), 3)))
          .as("s"))
    val diffs = sh.as("a").crossJoin(sh.as("b"))
      .select(
        graft.functions.GraftFunctions
          .sortedIntersect(spark, col("a.s"), col("b.s")).as("k"),
        size(array_intersect(col("a.s"), col("b.s"))).as("r"))
      .filter(col("k") =!= col("r"))
      .count()
    assert(diffs == 0)
  }

  test("long-kernel fast path == size(array_intersect); dict-encoded verify keeps na=0 pairs") {
    // the r20 dictionary encoding sends verify through the
    // array<bigint> kernel branch — pin it on the same edge shapes
    val edges = Seq(
      (Seq(1L, 2L, 3L), Seq(1L, 2L, 3L)),
      (Seq(1L, 2L), Seq(3L, 4L)),
      (Seq[Long](), Seq(1L)),
      (Seq[Long](), Seq[Long]()),
      (Seq(1L, 2L, 3L, 4L), Seq(2L, 4L))).toDF("x", "y")
      .select(sort_array(col("x")).as("x"), sort_array(col("y")).as("y"))
    edges.select(
        graft.functions.GraftFunctions.sortedIntersect(spark, col("x"), col("y")).as("k"),
        size(array_intersect(col("x"), col("y"))).as("r"))
      .collect().foreach(r => assert(r.getInt(0) == r.getInt(1)))
    // element-type-only check (r21): sides differing ONLY in element
    // nullability (array literal vs column) must pass analysis
    val mixedNullability = Seq((Seq(1L, 2L), 0)).toDF("x", "pad")
      .select(graft.functions.GraftFunctions.sortedIntersect(spark,
        col("x"), array(lit(1L), lit(3L))).as("k"))
      .collect()
    assert(mixedNullability.head.getInt(0) == 1)
    // a zero-shingle doc (text shorter than the shingle window) in an
    // explicit pair at threshold 0.0 must still verify to jaccard 0 —
    // the dict explode emits no rows for it; the candIds re-attach
    // restores its empty set. The pair-count gate is lowered to force
    // the dict branch on this 1-pair fixture, then the STRING branch
    // is checked for the identical rows.
    val docs = Seq((1L, "one two"),
      (2L, "alpha beta gamma delta epsilon"),
      (3L, "alpha beta gamma delta other"))
      .toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    def run(): Seq[(Long, Long, Double)] =
      Dedup.verifyPairs(docs, pairs, "text", "doc_id", 0.0, 3)
        .orderBy("id_a", "id_b")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val saved = Dedup.dictVerifyMinPairs
    val viaDict =
      try { Dedup.dictVerifyMinPairs = 1L; run() }
      finally Dedup.dictVerifyMinPairs = saved
    val viaString = run()
    assert(viaDict == viaString, "dict and string verify paths must agree")
    assert(viaDict.head == ((1L, 2L, 0.0)),
      "na=0 pairs must verify to 0.0, not vanish")
    assert(viaDict(1)._3 > 0.0, "overlapping docs must score > 0")
  }

  test("prefixFilteredPairs == brute-force all-pairs Jaccard (exactness guarantee)") {
    val docs = TestSpark.table("documents")
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val viaPrefix = pairSet(
      Dedup.prefixFilteredPairs(docs, "text", "doc_id", threshold = 0.8))
    // brute force: EVERY ordered id pair as a candidate, same verifier
    val ids = docs.select(col("doc_id"))
    val allPairs = ids.select(col("doc_id").as("id_a"))
      .crossJoin(ids.select(col("doc_id").as("id_b")))
      .filter(col("id_a") < col("id_b"))
    val brute = pairSet(
      Dedup.verifyPairs(docs, allPairs, "text", "doc_id", 0.8, 3))
    assert(viaPrefix == brute)
    assert(brute.nonEmpty, "fixture must contain near-dups")
    // and the LSH pipeline can only ever be a SUBSET of the exact join
    val lsh = pairSet(
      Dedup.verifiedNearDups(docs, "text", "doc_id", threshold = 0.8))
    assert(lsh.subsetOf(viaPrefix))
  }

  test("prefixFilteredPairs: Xx64 kernel returns the IDENTICAL pair set (exactness under any order)") {
    val docs = TestSpark.table("documents")
    def pairSet(k: Dedup.HashKind) =
      Dedup.prefixFilteredPairs(docs, "text", "doc_id", 0.8, kind = k)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val md5 = pairSet(Dedup.Md5)
    assert(md5 == pairSet(Dedup.Xx64))
    assert(md5.nonEmpty)
  }

  test("prefixFilteredPairs: engineered near-dups found; windows only over the doc id") {
    val out = Dedup.prefixFilteredPairs(corpus, "text", "doc_id", threshold = 0.8)
    val pairs = out.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((3L, 4L)), "exact dups must pair")
    assert(pairs.contains((1L, 2L)), "engineered near-dups must pair")
    assert(!pairs.exists(p => p._1 == 5L || p._2 == 5L))
    // skew guardrail: ranking windows partition by the DOC id (bounded
    // by doc length), never by the shingle hash (unbounded hot key)
    val plan = out.queryExecution.optimizedPlan.toString
    assert(!plan.contains("windowspecdefinition(__h"),
      s"window over the hash column:\n$plan")
  }

  test("prefixFilteredPairs: hot prefix bucket fails loudly naming the key") {
    // a degenerate corpus: many exact copies concentrate every prefix
    // shingle into one posting list — the quadratic hazard the fence
    // exists for (the Linkage.fellegiSunter hot-block template)
    val clones = (1L to 40L)
      .map(i => (i, "the same template text repeated verbatim everywhere"))
      .toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      Dedup.prefixFilteredPairs(clones, "text", "doc_id", threshold = 0.8,
        maxPrefixPairs = 100L)
    }
    assert(e.getMessage.contains("prefix bucket") &&
      e.getMessage.contains("maxPrefixPairs=100"),
      s"fence must name the bucket and the cap: ${e.getMessage}")
    // the fenced callers inherit the fence...
    intercept[IllegalArgumentException] {
      Dedup.weightedJaccardPairs(clones, "text", "doc_id",
        candThreshold = 0.8, maxPrefixPairs = 100L)
    }
    intercept[IllegalArgumentException] {
      Dedup.thresholdSensitivity(clones, "text", "doc_id",
        thresholds = Seq(0.8), maxPrefixPairs = 100L)
    }
    // ...and an explicit opt-out still computes (the key is now a
    // deliberate decision, not a silent burn)
    assert(Dedup.prefixFilteredPairs(clones, "text", "doc_id", 0.8,
      maxPrefixPairs = Long.MaxValue).count() == 40L * 39 / 2)
  }

  test("components: min-label clusters on known graphs, incl. chains and singleton pairs") {
    // two components: a chain 1-2-3-4 (diameter 3 → needs >1 iteration)
    // and an isolated pair (10, 11)
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("id_a", "id_b")
    val out = Dedup.components(pairs).as[(Long, Long)].collect().toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("components: pointer doubling resolves a long chain in O(log n) rounds") {
    // a 200-long chain has diameter 199 — plain min-label propagation
    // would need 199 rounds; pointer doubling must finish well under the
    // default maxIter = 20 (≈ log2(200) + slack)
    val chain = (0L until 199L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val out = Dedup.components(chain).as[(Long, Long)].collect().toMap
    assert(out.size == 200 && out.values.forall(_ == 0L))
  }

  test("components: non-strict mode returns best-effort labels instead of throwing") {
    val chain = (0L until 64L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    // the maxIter semantics belong to the DISTRIBUTED loop — force it
    // (the r20 driver fast path always converges fully)
    val saved = Dedup.driverMaxEdges
    try {
      Dedup.driverMaxEdges = 0L
      // maxIter too small to converge: strict throws, lenient degrades
      intercept[IllegalStateException](
        Dedup.components(chain, maxIter = 2, strict = true).collect())
      val best = Dedup.components(chain, maxIter = 2, strict = false)
        .as[(Long, Long)].collect().toMap
      assert(best.size == 65)
      // labels only ever decrease toward the component min
      assert(best.forall { case (id, label) => label <= id })
    } finally Dedup.driverMaxEdges = saved
  }

  test("components: driver fast path == distributed loop (chains, cliques, shared hubs)") {
    // chain (pointer-doubling regime), 4-clique, star hub, isolated
    // pair — the r20 union-find fast path must reach the loop's exact
    // min-label fixpoint row-for-row
    val pairs = ((0L until 50L).map(i => (i, i + 1)) ++
      Seq((100L, 101L), (100L, 102L), (100L, 103L), (101L, 103L),
        (200L, 205L), (205L, 203L), (203L, 201L),
        (300L, 301L))).toDF("id_a", "id_b")
    val fast = Dedup.components(pairs).as[(Long, Long)].collect().toMap
    val saved = Dedup.driverMaxEdges
    val loop =
      try {
        Dedup.driverMaxEdges = 0L
        Dedup.components(pairs).as[(Long, Long)].collect().toMap
      } finally Dedup.driverMaxEdges = saved
    assert(fast == loop, "fast path must equal the loop's fixpoint")
    assert(fast(205L) == 200L && fast(50L) == 0L && fast(103L) == 100L)
  }

  test("components: non-strict small maxIter takes the loop even under the driver gate") {
    // r21 contract fix: with strict = false and a maxIter the loop can
    // bind on, the caller is asking for possibly-PARTIAL labels — the
    // always-converged union-find must defer to the loop. The chain is
    // well under driverMaxEdges, so only the maxIter guard
    // keeps the fast path out.
    val chain = (0L until 64L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val gated = Dedup.components(chain, maxIter = 2, strict = false)
      .as[(Long, Long)].collect().toMap
    val saved = Dedup.driverMaxEdges
    val loop =
      try {
        Dedup.driverMaxEdges = 0L
        Dedup.components(chain, maxIter = 2, strict = false)
          .as[(Long, Long)].collect().toMap
      } finally Dedup.driverMaxEdges = saved
    assert(gated == loop,
      "non-strict small-maxIter labels must be the loop's best effort")
    assert(gated.values.exists(_ != 0L),
      "fixture must actually be unconverged at maxIter = 2 " +
        "(otherwise this test pins nothing)")
    // ...and a maxIter past the convergence bound may use the fast
    // path again: identical to the fixpoint
    val converged = Dedup.components(chain, maxIter = 32, strict = false)
      .as[(Long, Long)].collect().toMap
    assert(converged.size == 65 && converged.values.forall(_ == 0L))
  }

  test("components: null-endpoint edges drop identically on both paths") {
    // a node whose ONLY pairs involve null must be absent from the
    // output on BOTH paths (r21 alignment — the r20 loop self-labeled
    // it while the fast path dropped it, with graph size deciding
    // which ran)
    val dirty = Seq(
      (java.lang.Long.valueOf(1L), java.lang.Long.valueOf(2L)),
      (java.lang.Long.valueOf(3L), null.asInstanceOf[java.lang.Long]),
      (null.asInstanceOf[java.lang.Long], java.lang.Long.valueOf(4L)),
      (null.asInstanceOf[java.lang.Long], null.asInstanceOf[java.lang.Long]))
      .toDF("id_a", "id_b")
    val fast = Dedup.components(dirty).as[(Long, Long)].collect().toMap
    val saved = Dedup.driverMaxEdges
    val loop =
      try {
        Dedup.driverMaxEdges = 0L
        Dedup.components(dirty).as[(Long, Long)].collect().toMap
      } finally Dedup.driverMaxEdges = saved
    assert(fast == Map(1L -> 1L, 2L -> 1L))
    assert(loop == fast, "both paths must agree on dirty input")
  }

  test("components of verified near-dups: keepers are cluster minima, members clustered together") {
    val pairs = Dedup.verifiedNearDups(corpus, "text", "doc_id", 0.5)
    val comp = Dedup.components(pairs.select("id_a", "id_b"))
      .as[(Long, Long)].collect().toMap
    // docs 3/4 are identical → same cluster, keeper = 3
    assert(comp(3L) == 3L && comp(4L) == 3L)
    // every label is the min of its members
    comp.groupBy(_._2).foreach { case (label, members) =>
      assert(label == members.keys.min)
    }
  }

  test("dedupDecisions: covering, one keeper per cluster, singletons keep themselves") {
    val pairs = Dedup.verifiedNearDups(corpus, "text", "doc_id", 0.5)
    val dec = Dedup.dedupDecisions(
      corpus, "doc_id", Dedup.components(pairs.select("id_a", "id_b")))
      .as[(Long, Long, Boolean)].collect()
    assert(dec.length == 6, "every corpus doc gets a decision")
    // exactly one keeper per cluster, and it is the cluster min
    dec.groupBy(_._2).foreach { case (cluster, members) =>
      assert(members.count(_._3) == 1, s"cluster $cluster keeper count")
      assert(members.filter(_._3).head._1 == members.map(_._1).min)
    }
    val byId = dec.map(d => d._1 -> d).toMap
    assert(byId(3L)._3 && !byId(4L)._3, "exact dups: 3 keeps, 4 drops")
    assert(byId(5L)._3 && byId(5L)._2 == 5L, "unclustered doc is its own singleton keeper")
  }

  test("incrementalNearDups == full pipeline restricted to pairs touching the batch") {
    val docs = TestSpark.table("documents")
    val corpus = docs.filter(col("doc_id") % 7 =!= 0)
    val batch = docs.filter(col("doc_id") % 7 === 0)
    val corpusSigs = Dedup.minhashSignatures(corpus, "text", "doc_id", 8, 3)
    val inc = Dedup.incrementalNearDups(
      docs, corpusSigs, batch, "text", "doc_id", 0.8)
      .as[(Long, Long, Double)].collect().toSet
    val full: Set[(Long, Long, Double)] = Dedup.verifiedNearDups(docs, "text", "doc_id", 0.8)
      .as[(Long, Long, Double)].collect().toSet
      .filter(p => p._1 % 7 == 0 || p._2 % 7 == 0)
    assert(inc == full, "incremental must find exactly the full pipeline's new-touching pairs")
    assert(inc.nonEmpty, "fixture must exercise the path")
    // both orientations present: new-vs-corpus and (if any) new-vs-new
    assert(inc.exists { case (a, b, _) => a % 7 != 0 || b % 7 != 0 })
  }

  test("Xx64 kernel: verified pair sets identical to Md5 on the fixture corpus") {
    // verification is hash-free (exact shingle joins) — the kernel only
    // moves candidate recall, and on this corpus both kernels' LSH
    // catches every true pair, so jaccard values must agree to the bit
    val md5Pairs = Dedup.verifiedNearDups(corpus, "text", "doc_id", 0.5)
      .as[(Long, Long, Double)].collect().toSet
    val xxPairs = Dedup.verifiedNearDups(corpus, "text", "doc_id", 0.5,
      kind = Dedup.Xx64)
      .as[(Long, Long, Double)].collect().toSet
    assert(md5Pairs == xxPairs)
    assert(xxPairs.nonEmpty)
  }

  test("Xx64 kernel on the real documents table: same verified pairs as Md5") {
    val docs = TestSpark.table("documents")
    val md5Pairs = Dedup.verifiedNearDups(docs, "text", "doc_id", 0.8)
      .as[(Long, Long, Double)].collect().toSet
    val xxPairs = Dedup.verifiedNearDups(docs, "text", "doc_id", 0.8,
      kind = Dedup.Xx64)
      .as[(Long, Long, Double)].collect().toSet
    assert(md5Pairs == xxPairs)
    assert(xxPairs.nonEmpty)
  }

  test("Xx64 simhash: exact dups collide at hamming 0; base stays in [0, P)") {
    val out = Dedup.simhashNearDups(corpus, "text", "doc_id",
      bits = 32, blocks = 4, maxHamming = 3, kind = Dedup.Xx64)
      .as[(Long, Long, Long)].collect()
    assert(out.exists { case (a, b, h) => a == 3L && b == 4L && h == 0L })
    // xx64 base hash respects the universal-hash precondition base < P
    val bases = corpus
      .select(Dedup.Xx64.base(col("text")).as("b")).as[Long].collect()
    assert(bases.forall(b => b >= 0 && b < PortableSql.minhashP))
  }

  test("hammingHex: exact distances on known hex strings") {
    val df = Seq(
      ("0000", "0000", 0L),
      ("0000", "000f", 4L),
      ("ffff", "0000", 16L),
      ("a5a5", "a5a4", 1L)
    ).toDF("a", "b", "expected")
    val bad = df.filter(
      Dedup.hammingHex(col("a"), col("b"), 4) =!= col("expected"))
    assert(bad.count() == 0)
  }

  test("simhashNearDups: exact dups at hamming 0; engineered near-dups found; recall guarantee") {
    val out = Dedup.simhashNearDups(corpus, "text", "doc_id",
      bits = 32, blocks = 4, maxHamming = 3)
      .as[(Long, Long, Long)].collect().map(t => (t._1, t._2) -> t._3).toMap
    assert(out((3L, 4L)) == 0L, "identical docs have identical simhash")
    // brute-force check: EVERY pair within hamming 3 must be reported
    // (pigeonhole recall guarantee), none above the threshold
    val sh = Dedup.simhash(corpus, "text", "doc_id", 32)
      .as[(Long, String)].collect().toMap
    def ham(a: String, b: String) =
      a.zip(b).map { case (x, y) =>
        Integer.bitCount(Integer.parseInt(x.toString, 16) ^ Integer.parseInt(y.toString, 16))
      }.sum
    val ids = sh.keys.toSeq.sorted
    val expected = (for {
      i <- ids; j <- ids if i < j
      d = ham(sh(i), sh(j)) if d <= 3
    } yield (i, j) -> d.toLong).toMap
    assert(out == expected)
  }

  test("simhashNearDups rejects parameter combos that would lose recall") {
    intercept[IllegalArgumentException](
      Dedup.simhashNearDups(corpus, "text", "doc_id", bits = 32, blocks = 4, maxHamming = 4))
    intercept[IllegalArgumentException](
      Dedup.simhashNearDups(corpus, "text", "doc_id", bits = 32, blocks = 3, maxHamming = 2))
  }

  test("simhashNearDups: hot simhash block fails loudly naming the bucket") {
    // exact clones share every simhash block → one (blk, v) bucket
    // holds all 40 postings → 1600 candidate pairs, the quadratic
    // regime the fence exists for (the prefixFilteredPairs template)
    val clones = (1L to 40L)
      .map(i => (i, "the same template text repeated verbatim everywhere"))
      .toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      Dedup.simhashNearDups(clones, "text", "doc_id", maxBucketPairs = 100L)
    }
    assert(e.getMessage.contains("simhash bucket") &&
      e.getMessage.contains("maxBucketPairs=100"),
      s"fence must name the bucket and the cap: ${e.getMessage}")
    // explicit opt-out still computes: every clone pairs at hamming 0
    assert(Dedup.simhashNearDups(clones, "text", "doc_id",
      maxBucketPairs = Long.MaxValue).count() == 40L * 39 / 2)
  }

  test("simhashNearDups: stop-bucket continue path drops saturated buckets, accounted") {
    // 40 exact clones saturate every one of their (blk, v) buckets; a
    // distinct near-identical pair rides unsaturated buckets
    val docs = ((1L to 40L)
      .map(i => (i, "the same template text repeated verbatim everywhere")) ++
      Seq((101L, "completely different subject matter entirely"),
          (102L, "completely different subject matter entirely")))
      .toDF("doc_id", "text")
    // default-off: the fail-loud posture is unchanged
    intercept[IllegalArgumentException] {
      Dedup.simhashNearDups(docs, "text", "doc_id", maxBucketPairs = 100L)
    }
    // opt-in: the clones' saturated buckets DROP (their pairs are the
    // accounted recall cost), the distinct pair survives through its
    // own buckets, and the same fence cap no longer trips
    val capped = Dedup.simhashNearDups(docs, "text", "doc_id",
        maxBucketPairs = 100L, maxBucketPostings = 5L)
      .as[(Long, Long, Long)].collect()
    assert(capped.toSeq == Seq((101L, 102L, 0L)))
  }

  test("Fences.stopBuckets/bucketDropReport: cap semantics and drop accounting") {
    val ex = Seq((0, 5L, "a"), (0, 5L, "b"), (0, 5L, "c"), (1, 7L, "d"))
      .toDF("blk", "v", "id")
    assert(graft.ops.Fences.stopBuckets(ex, Seq("blk", "v"), 2L)
      .select("id").as[String].collect().toSeq == Seq("d"))
    assert(graft.ops.Fences.stopBuckets(ex, Seq("blk", "v"), 0L).count() == 4,
      "0 disables the stop-bucket path")
    assert(graft.ops.Fences.bucketDropReport(ex, Seq("blk", "v"), 2L)
      .as[(Int, Long, Long)].collect().toSeq == Seq((0, 5L, 3L)),
      "the report names exactly the dropped buckets with their postings")
  }

  test("Fences.stopProbeBuckets: probe-pruned cap, output-equivalent to the full-store drop") {
    // standing: bucket (0,5) saturated (3 postings), (1,7) fine,
    // (2,9) saturated but NEVER PROBED — a probed-restricted count
    // must still drop (0,5), keep (1,7), and never read-count (2,9)
    val standing = Seq(
      (0, 5L, "a"), (0, 5L, "b"), (0, 5L, "c"), (1, 7L, "d"),
      (2, 9L, "x"), (2, 9L, "y"), (2, 9L, "z"))
      .toDF("blk", "v", "id")
    val probe = Seq((0, 5L, "p1"), (1, 7L, "p2")).toDF("blk", "v", "pid")
    val pruned = graft.ops.Fences.stopProbeBuckets(
      standing, probe, Seq("blk", "v"), 2L)
      .select("id").as[String].collect().toSet
    assert(pruned == Set("d"),
      "probed saturated bucket drops; unprobed buckets are pruned " +
        "(they can form no candidate pairs either way)")
    // candidate-join output equivalence vs the full-store drop: the
    // join only matches probed buckets, so restricting the standing
    // side to them changes nothing the join can see
    val full = graft.ops.Fences.stopBuckets(standing, Seq("blk", "v"), 2L)
    val viaFull = probe.join(full, Seq("blk", "v"))
      .select("pid", "id").as[(String, String)].collect().toSet
    val viaPruned = probe.join(
        graft.ops.Fences.stopProbeBuckets(standing, probe, Seq("blk", "v"), 2L),
        Seq("blk", "v"))
      .select("pid", "id").as[(String, String)].collect().toSet
    assert(viaFull == viaPruned)
    assert(graft.ops.Fences.stopProbeBuckets(
      standing, probe, Seq("blk", "v"), 0L).count() == 7,
      "0 disables — the standing side passes through untouched")
  }

  test("simhash: deterministic hex of bits/4 chars; exact dups collide; parity with oracle fragment") {
    val out = Dedup.simhash(corpus, "text", "doc_id", bits = 16)
      .as[(Long, String)].collect().toMap
    assert(out.values.forall(s => s.length == 4 && s.matches("[0-9a-f]+")))
    assert(out(3L) == out(4L))
    val frag = corpus.selectExpr("doc_id", s"${PortableSql.simhash("text", 16, SD)} AS simhash")
      .as[(Long, String)].collect().toMap
    assert(out == frag)
  }

  test("duplicateSpans: cross-doc + intra-doc windows, merged spans, short docs excluded") {
    // docs 1/2 share the verbatim run "p q r s" (windows "p q r" and
    // "q r s"); doc 3 repeats "x y z" twice INSIDE itself (windows at
    // pos 1 and 5, non-adjacent → two spans); doc 4 is unique; doc 5 is
    // shorter than the window width and must yield nothing even though
    // its whole text appears inside doc 1.
    val df = Seq(
      (1L, "a b p q r s c d"),
      (2L, "e f g p q r s h"),
      (3L, "x y z w x y z v"),
      (4L, "unique words only here never repeated"),
      (5L, "p q")).toDF("doc_id", "text")
    val spans = Spans.duplicateSpans(df, "text", "doc_id", n = 3)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(spans == Set(
      (1L, 3L, 7L, 2L), // "p q r s" = windows at pos 3,4 merged
      (2L, 4L, 8L, 2L),
      (3L, 1L, 4L, 1L), // first "x y z"
      (3L, 5L, 8L, 1L)) // second "x y z", separated by w → own span
    )
    // adjacent (touching) windows merge into one span: "m n o m n o m n o"
    // repeats "m n o" — every window of the run is duplicated somewhere
    val run = Seq((9L, "m n o m n o m n o"), (10L, "m n o")).toDF("doc_id", "text")
    val merged = Spans.duplicateSpans(run, "text", "doc_id", n = 3)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(merged == Set((9L, 1L, 10L, 7L), (10L, 1L, 4L, 1L)))
    // xx64 kernel: identical span set on the same corpus (hash-free merge)
    val xx = Spans.duplicateSpans(df, "text", "doc_id", n = 3, kind = Dedup.Xx64)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(xx == spans)
  }

  test("scrubDuplicates: keep-first policy cuts later occurrences only; every doc keeps a row") {
    val df = Seq(
      (1L, "a b p q r s c d"), // first occurrence of "p q r s" → kept whole
      (2L, "e f g p q r s h"), // later occurrence → cut
      (3L, "x y z w x y z v"), // intra-doc repeat: second "x y z" cut
      (4L, "unique words only here never repeated"),
      (5L, "p q")).toDF("doc_id", "text")
    val out = Spans.scrubDuplicates(df, "text", "doc_id", n = 3)
      .as[(Long, String, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(out(1L) == (("a b p q r s c d", 8L, 0L)))
    assert(out(2L) == (("e f g h", 8L, 4L)))
    assert(out(3L) == (("x y z w v", 8L, 3L)))
    assert(out(4L) == (("unique words only here never repeated", 6L, 0L)))
    assert(out(5L) == (("p q", 2L, 0L))) // shorter than the window → untouched
    // a doc that is ALL boilerplate scrubs to empty, not to a crash
    val all = Seq((1L, "m n o"), (2L, "m n o")).toDF("doc_id", "text")
    val scrubbed = Spans.scrubDuplicates(all, "text", "doc_id", n = 3)
      .as[(Long, String, Long, Long)].collect().map(r => r._1 -> r._2).toMap
    assert(scrubbed(1L) == "m n o" && scrubbed(2L) == "")
  }

  test("Xx64 duplicateSpans on the real documents table: same span set as Md5") {
    // pins the q78 (production-kernel) bench twin to q74's oracle-checked
    // result on real corpus data, not just the engineered fixture
    val d = TestSpark.table("documents")
    def spans(k: Dedup.HashKind) =
      Spans.duplicateSpans(d, "text", "doc_id", n = 3, kind = k)
        .as[(Long, Long, Long, Long)].collect().toSet
    val md = spans(Dedup.Md5)
    assert(spans(Dedup.Xx64) == md)
    assert(md.nonEmpty, "fixture corpus must contain duplicated windows")
  }

  test("exact-substring dedup survives a hot hash: one boilerplate n-gram on most docs") {
    // the adversarial shape exact-substring dedup exists to find — a
    // verbatim license header on a large fraction of the corpus. Every
    // one of the 60 docs opens with the same 3 tokens (one hash carrying
    // 60 window rows) and ends with a unique tail.
    val docs = (1L to 60L).map(i => (i, s"shared boiler plate tail$i only$i"))
      .toDF("doc_id", "text")
    val spans = Spans.duplicateSpans(docs, "text", "doc_id", n = 3)
      .as[(Long, Long, Long, Long)].collect()
    // "shared boiler plate" = windows at pos 1 only (pos 2 window
    // "boiler plate tail$i" is unique per doc) → span [1, 4) per doc
    assert(spans.length == 60)
    assert(spans.forall(s => s._2 == 1L && s._3 == 4L && s._4 == 1L))
    val out = Spans.scrubDuplicates(docs, "text", "doc_id", n = 3)
      .as[(Long, String, Long, Long)].collect().map(r => r._1 -> ((r._2, r._4))).toMap
    // keep-first: doc 1 (smallest (id, pos)) keeps the boilerplate
    assert(out(1L) == (("shared boiler plate tail1 only1", 0L)))
    (2L to 60L).foreach(i => assert(out(i) == ((s"tail$i only$i", 3L))))
  }

  test("duplicateSpans/scrubDuplicates plans carry no window function over the hash") {
    // scale guardrail: a window partitioned by the n-gram hash cannot be
    // split by AQE and does no map-side partial aggregation, so the
    // hottest boilerplate hash would serialize into ONE task. Dup
    // detection and keep-first must stay decomposable aggregations
    // (groupBy count / min(struct)) joined back on the hash; the only
    // legal window partitioning is the per-doc islands merge.
    val df = Seq((1L, "a b c d e"), (2L, "a b c d f")).toDF("doc_id", "text")
    val plans = Seq(
      "duplicateSpans" -> Spans.duplicateSpans(df, "text", "doc_id", n = 3),
      "scrubDuplicates" -> Spans.scrubDuplicates(df, "text", "doc_id", n = 3))
    for ((name, out) <- plans) {
      val plan = out.queryExecution.optimizedPlan
      val hashWindows = plan.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window
            if w.partitionSpec.exists(_.references.exists(_.name == "__h")) => w
      }
      assert(hashWindows.isEmpty,
        s"$name has a window partitioned by the hash — skew hazard:\n$plan")
      // and the dup decision IS there, as an aggregation over the hash
      val hashAggs = plan.collect {
        case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate
            if a.groupingExpressions.exists(_.references.exists(_.name == "__h")) => a
      }
      assert(hashAggs.nonEmpty, s"$name lost the hash aggregation:\n$plan")
    }
  }

  test("corpus line dedup: keep-first across docs and within them, order preserved") {
    val docs = Seq(
      (1L, "h\na\nb"),
      (2L, "h\nc\na"),
      (3L, "h\nh\nd"),
      (4L, "h\na")).toDF("doc_id", "text")
    val out = Spans.corpusLineDedup(docs, "text", "doc_id")
      .as[(Long, String, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(out(1L) == (("h\na\nb", 3L, 3L)), "first doc keeps everything")
    assert(out(2L) == (("c", 3L, 1L)), "cross-doc dups drop, order kept")
    assert(out(3L) == (("d", 3L, 1L)), "intra-doc repeat drops too")
    assert(out(4L) == (("", 2L, 0L)), "pure-boilerplate doc keeps its row, empty")
  }

  test("corpus line dedup survives a hot line and matches brute force") {
    // a shared header line on every doc — the hot-hash shape — plus a
    // unique body line; only doc 1 keeps the header
    val docs = (1L to 60L).map(i => (i, s"shared header\nbody line $i"))
      .toDF("doc_id", "text")
    val out = Spans.corpusLineDedup(docs, "text", "doc_id")
      .as[(Long, String, Long, Long)].collect()
      .map(r => r._1 -> r._2).toMap
    assert(out(1L) == "shared header\nbody line 1")
    (2L to 60L).foreach(i => assert(out(i) == s"body line $i"))
  }

  test("corpus line dedup plan: no window over the hash, decomposable canonical") {
    val df = Seq((1L, "x\ny"), (2L, "x\nz")).toDF("doc_id", "text")
    val plan = Spans.corpusLineDedup(df, "text", "doc_id")
      .queryExecution.optimizedPlan
    val hashWindows = plan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window
          if w.partitionSpec.exists(_.references.exists(_.name == "__h")) => w
    }
    assert(hashWindows.isEmpty, s"window partitioned by the line hash — skew hazard:\n$plan")
    val hashAggs = plan.collect {
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate
          if a.groupingExpressions.exists(_.references.exists(_.name == "__h")) => a
    }
    assert(hashAggs.nonEmpty, s"lost the canonical hash aggregation:\n$plan")
  }

  test("corpus line dedup is partitioning-invariant") {
    val base = TestSpark.table("documents").limit(120)
      .select(col("doc_id"),
        concat_ws("\n", lit("hdr"), col("text")).as("text"))
    def run(parts: Int) =
      Spans.corpusLineDedup(base.repartition(parts), "text", "doc_id")
        .as[(Long, String, Long, Long)].collect().toSet
    assert(run(3) == run(17))
  }

  test("destructive paths reject the 64-bit kernel (xx64 is detection-grade only)") {
    // mirrors WindowIndexSpec's scrubProbe xx64 rejection: a birthday
    // collision in detection adds a spurious report row; in scrubbing it
    // irreversibly cuts legitimate text
    val docs = Seq((1L, "a b c d e")).toDF("doc_id", "text")
    val scrubErr = intercept[IllegalArgumentException] {
      Spans.scrubDuplicates(docs, "text", "doc_id", n = 3, kind = Dedup.Xx64)
    }
    assert(scrubErr.getMessage.contains("detection-grade"))
    val lineErr = intercept[IllegalArgumentException] {
      Spans.corpusLineDedup(docs, "text", "doc_id", kind = Dedup.Xx64)
    }
    assert(lineErr.getMessage.contains("detection-grade"))
  }

  test("decontaminate: benchmark spans cut, clean docs untouched, full overlap scrubs to ''") {
    val bench = Seq((100L, "secret eval answer key here")).toDF("doc_id", "text")
    val corpus = Seq(
      // contains the bench 4-gram 'secret eval answer key' mid-doc
      (1L, "intro words secret eval answer key more tail text"),
      // no 4-gram overlap (shares words, not windows)
      (2L, "secret words and answer text with no overlap"),
      // IS a bench doc verbatim → every window matches → scrubbed empty
      (3L, "secret eval answer key here"),
      // shorter than the window width → untouchable by construction
      (4L, "tiny doc")).toDF("doc_id", "text")
    val got = Spans.decontaminate(corpus, "text", "doc_id", bench, "text", n = 4)
      .as[(Long, String, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    // doc 1: windows at pos 3 and 4 match ('secret eval answer key',
    // 'eval answer key more'? no — only windows present in bench text);
    // bench windows: 'secret eval answer key', 'eval answer key here'
    assert(got(1L) == (("intro words more tail text", 9L, 4L)))
    assert(got(2L) == (("secret words and answer text with no overlap", 8L, 0L)))
    assert(got(3L) == (("", 5L, 5L)))
    assert(got(4L) == (("tiny doc", 2L, 0L)))
    assert(got.size == 4, "every corpus doc keeps a row")
    val err = intercept[IllegalArgumentException] {
      Spans.decontaminate(corpus, "text", "doc_id", bench, "text", n = 4,
        kind = Dedup.Xx64)
    }
    assert(err.getMessage.contains("detection-grade"))
  }

  test("containmentPairs: asymmetric quote has high containment, low jaccard") {
    val quote = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    val article = ("lorem ipsum dolor sit amet consectetur adipiscing elit sed do " +
      quote + " eiusmod tempor incididunt ut labore et dolore magna aliqua quis")
    val docs = Seq(
      (1L, quote),
      (2L, article),
      (3L, "completely different words with nothing shared at all here now"))
      .toDF("doc_id", "text")
    // resemblance-tuned LSH does NOT surface this pair (J ≈ 0.16) —
    // that is the documented trade; verification of an explicit
    // candidate list is the sub-document path
    val pairs = Seq((1L, 2L), (1L, 3L)).toDF("id_a", "id_b")
    val cont = Dedup.containmentOfPairs(docs, pairs, "text", "doc_id",
        threshold = 0.9, shingleWords = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // every shingle of the quote appears in the article -> containment 1.0
    assert(cont.toSeq == Seq((1L, 2L, 1.0)))
    // jaccard on the same pair is far below a dedup threshold
    val jac = Dedup.verifiedNearDups(docs, "text", "doc_id", threshold = 0.8)
    assert(jac.count() == 0)
    // LSH-generated containment still catches exact/near duplicates
    val withDup = docs.unionByName(Seq((4L, article)).toDF("doc_id", "text"))
    val lsh = Dedup.containmentPairs(withDup, "text", "doc_id", threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(lsh.toSeq.contains((2L, 4L, 1.0)))
  }

  test("editVerifyPairs: hand distances, band cap drop, empty-text sim") {
    val docs = Seq(
      (1L, "the quick brown fox"),
      (2L, "the quack brown fox"),   // one substitution -> dist 1
      (3L, "fox brown quick the"),   // same words reordered -> big dist
      (4L, ""), (5L, ""))
      .toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (1L, 3L), (4L, 5L)).toDF("id_a", "id_b")
    def run(cap: Int): Map[(Long, Long), (Long, Double)] =
      Dedup.editVerifyPairs(docs, pairs, "text", "doc_id", maxDist = cap)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> ((r.getLong(2), r.getDouble(3))))
        .toMap
    val all = run(100)
    assert(all((1L, 2L)) == ((1L, math.rint((1.0 - 1.0 / 19) * 1e6) / 1e6)))
    // reorder: set-identical but order-distant (spot the exact value
    // via Spark's own unbanded builtin as the independent reference)
    val ref = docs.sparkSession.sql(
      "SELECT levenshtein('the quick brown fox', 'fox brown quick the')")
      .head().getInt(0).toLong
    assert(ref > 5L && all((1L, 3L))._1 == ref)
    assert(all((4L, 5L)) == ((0L, 1.0))) // both empty: dist 0, sim 1.0
    // band cap: only the 1-edit pair and the empty pair survive at 5
    assert(run(5).keySet == Set((1L, 2L), (4L, 5L)))
  }

  test("editVerifiedPairs: LSH candidates feed the levenshtein verify") {
    val base = "alpha bravo charlie delta echo foxtrot golf hotel india " +
      "juliet kilo lima mike november oscar papa quebec romeo sierra tango"
    val docs = Seq(
      (1L, base),
      (2L, base.replace("echo", "exho")),  // near-identical: LSH catches
      (3L, "completely different words with nothing shared at all here"))
      .toDF("doc_id", "text")
    val got = Dedup.editVerifiedPairs(docs, "text", "doc_id", maxDist = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == Seq((1L, 2L, 1L)))
  }

  test("mirrorHosts: overlap arithmetic, ubiquitous-fingerprint cap, minShared floor") {
    // A={f0..f4} B={f0,f1,f2} C={f0,f9}; f0 is on all three hosts ->
    // excluded by the spread cap 2, so only (A,B) shares {f1,f2};
    // sizes stay the TRUE set sizes (the cap is a join fence, not a
    // set redefinition)
    val pages = Seq(
      ("A", "f0"), ("A", "f1"), ("A", "f2"), ("A", "f3"), ("A", "f4"),
      ("B", "f0"), ("B", "f1"), ("B", "f2"),
      ("C", "f0"), ("C", "f9"),
      ("B", "f1") // duplicate page row: identity is the distinct set
    ).toDF("host", "fp")
    val got = Dedup.mirrorHosts(pages, "host", "fp",
      maxHostsPerFp = 2, minShared = 2).collect()
    assert(got.length == 1)
    val r = got.head
    assert((r.getString(0), r.getString(1), r.getLong(2),
      r.getLong(3), r.getLong(4)) == (("A", "B", 2L, 5L, 3L)))
    assert(r.getDouble(5) == 0.333333) // 2 / (5 + 3 - 2)
    assert(r.getDouble(6) == 0.666667) // 2 / min(5, 3)
    // raising the cap admits f0: (A,B) gains a share, (A,C)/(B,C)
    // appear at shared=1 only if the floor allows
    val loose = Dedup.mirrorHosts(pages, "host", "fp",
        maxHostsPerFp = 3, minShared = 1)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(loose == Set(("A", "B", 3L), ("A", "C", 1L), ("B", "C", 1L)))
    intercept[IllegalArgumentException] {
      Dedup.mirrorHosts(pages, "host", "fp", maxHostsPerFp = 1)
    }
  }

  test("contentDefinedChunks: boundaries are content-derived — shared tail chunks align at any offset") {
    // the same long tail appended after DIFFERENT prefixes must yield
    // identical interior chunks (the whole point of CDC); a whole-doc
    // hash or fixed-width blocking would miss all of them
    val tail = ("the quick brown fox jumps over the lazy dog and then " +
      "runs far away into the deep green forest tonight ") * 6
    val docs = Seq(
      (1L, "short prefix " + tail),
      (2L, "a completely different and much longer prefix here " + tail),
      (3L, "unrelated content with nothing shared at all in it"))
      .toDF("doc_id", "text")
    val chunks = Dedup.contentDefinedChunks(docs, "text", "doc_id",
      k = 5, divisor = 64L)
    val byDoc = chunks.collect().groupBy(_.getLong(0))
    // chunk tiling is exact: lengths sum to the text length, starts chain
    byDoc.foreach { case (id, rows) =>
      val txt = docs.filter(col("doc_id") === id).head().getString(1)
      val sorted = rows.sortBy(_.getLong(1))
      assert(sorted.map(_.getLong(3)).sum == txt.length)
      assert(sorted.head.getLong(2) == 1L)
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(b.getLong(2) == a.getLong(2) + a.getLong(3))
        case _ =>
      }
    }
    val h1 = byDoc(1L).map(_.getString(4)).toSet
    val h2 = byDoc(2L).map(_.getString(4)).toSet
    val h3 = byDoc(3L).map(_.getString(4)).toSet
    assert((h1 intersect h2).nonEmpty,
      "offset-shifted shared tail must still align on interior chunks")
    assert((h1 intersect h3).isEmpty && (h2 intersect h3).isEmpty)
    // the report rolls the same structure up
    val rep = Dedup.cdcDedupReport(docs, "text", "doc_id", k = 5, divisor = 64L)
      .collect().map(r => r.getLong(0) -> ((r.getLong(2), r.getDouble(5)))).toMap
    assert(rep(1L)._1 > 0 && rep(2L)._1 > 0)
    assert(rep(3L) == ((0L, 0.0)))
    intercept[IllegalArgumentException] {
      Dedup.contentDefinedChunks(docs, "text", "doc_id", k = 5, divisor = 1L)
    }
  }

  test("minhashErrorReport: reconciles with a component-level replay") {
    val docs = TestSpark.table("documents")
    val got = Dedup.minhashErrorReport(docs, "text", "doc_id").collect().head
    // replay from the component ops
    val cands = Dedup.candidatePairs(docs, "text", "doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val sigs = Dedup.minhashSignatures(docs, "text", "doc_id", 8, 3)
      .collect().map(r => r.getLong(0) -> r.getSeq[Any](1)).toMap
    val exact = Dedup.verifyPairs(docs,
        Dedup.candidatePairs(docs, "text", "doc_id"), "text", "doc_id",
        threshold = 0.0, shingleWords = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val errs = cands.map { case (a, b) =>
      val est = sigs(a).zip(sigs(b)).count { case (x, y) => x == y } / 8.0
      est - exact((a, b))
    }
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got.getLong(0) == cands.length)
    assert(got.getDouble(3) == r6(errs.sum / errs.length))
    assert(got.getDouble(4) == r6(errs.map(math.abs).sum / errs.length))
    assert(got.getDouble(5) == r6(errs.map(math.abs).max))
    // sanity: with 8 hashes the mean absolute error is material but
    // bounded — the report exists to SHOW this, not hide it
    assert(got.getDouble(4) > 0.0 && got.getDouble(4) < 0.5)
  }

  test("qualityCanonical: argmax keeper per cluster, min-id ties, singleton fallback") {
    // cluster 7: docs 1 (q .2), 2 (q .9), 3 (q .9) -> keeper 2 (tie min id)
    // doc 5 unlabeled -> own singleton
    val docs = Seq((1L, 0.2), (2L, 0.9), (3L, 0.9), (5L, 0.4))
      .toDF("doc_id", "q")
    val labels = Seq((1L, 7L), (2L, 7L), (3L, 7L)).toDF("id", "label")
    val got = Dedup.qualityCanonical(docs, "doc_id", labels, col("q"))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getBoolean(4)))).toMap
    assert(got(1L) == ((7L, 2L, 0.9, false)))
    assert(got(2L) == ((7L, 2L, 0.9, true)))
    assert(got(3L) == ((7L, 2L, 0.9, false)))
    assert(got(5L) == ((5L, 5L, 0.4, true)))
    // exactly one keeper per cluster
    val keepers = got.values.groupBy(_._1).map { case (c, vs) =>
      c -> vs.count(_._4) }
    assert(keepers.values.forall(_ == 1))
  }

  test("lshDedupEval: counts reconcile with the component ops; perfect recall at fixture density") {
    val docs = TestSpark.table("documents")
    val got = Dedup.lshDedupEval(docs, "text", "doc_id", threshold = 0.8)
      .collect().head
    val nCand = Dedup.candidatePairs(docs, "text", "doc_id").count()
    val truth = Dedup.prefixFilteredPairs(docs, "text", "doc_id", 0.8)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val cand = Dedup.candidatePairs(docs, "text", "doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.getLong(0) == nCand)
    assert(got.getLong(1) == truth.size)
    assert(got.getLong(2) == cand.intersect(truth).size)
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val p = got.getLong(2).toDouble / got.getLong(0)
    val r = got.getLong(2).toDouble / got.getLong(1)
    assert(got.getDouble(3) == r6(p) && got.getDouble(4) == r6(r))
    assert(got.getDouble(5) == r6(2 * p * r / (p + r)))
    // 8 hashes / 4 bands on the template fixture: near-dups share most
    // shingles, so banding should surface every true pair
    assert(got.getDouble(4) == 1.0,
      "recall < 1 at this density means the banding regressed")
    assert(got.getLong(0) > got.getLong(2),
      "candidates include false positives — precision is the verify-cost signal")
  }

  test("weightedJaccardPairs: IDF micro-weights replayed by hand") {
    import TestSpark.spark
    import spark.implicits._
    // d1/d2 share 4 common-ish tokens and differ in one rare token
    // each; d3 only inflates N (no candidate pair with it)
    val docs = Seq(
      (1L, "the quick brown fox jumps"),
      (2L, "the quick brown fox leaps"),
      (3L, "totally different words here now")).toDF("doc_id", "text")
    val got = graft.ops.Dedup.weightedJaccardPairs(
      docs, "text", "doc_id", candThreshold = 0.5).collect()
    assert(got.length == 1)
    val r = got.head
    assert((r.getLong(0), r.getLong(1)) == ((1L, 2L)))
    // plain 3-shingle jaccard: 2 shared of 4 distinct shingles
    assert(r.getDouble(2) == 0.5)
    // micro-int IDF: shared tokens df=2 -> w = round(ln(4/3)·1e6);
    // unique tokens df=1 -> w = round(ln(2)·1e6)
    val wc = math.round(math.log(4.0 / 3) * 1e6)
    val wr = math.round(math.log(2.0) * 1e6)
    val inter = 4 * wc
    val union = 2 * (4 * wc + wr) - inter
    val expect = BigDecimal(inter.toDouble / union)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(r.getDouble(3) == expect)
    // rarity-awareness: the weighted score sits BELOW the plain one
    // here because the shared tokens are the corpus-common ones
    assert(r.getDouble(3) < r.getDouble(2))
  }

  test("graft_sorted_intersect_wsum fails loud when weights and ids differ in length") {
    import TestSpark.spark
    import spark.implicits._
    Seq((Seq(1L, 2L, 3L), Seq(10L, 20L, 30L), Seq(2L, 3L)),
      (Seq(1L, 2L, 3L), Seq(10L), Seq(2L, 3L)))
      .toDF("ids_a", "w_a", "ids_b").createOrReplaceTempView("wsum_in")
    val ok = spark.sql(
      "SELECT graft_sorted_intersect_wsum(ids_a, w_a, ids_b) FROM wsum_in " +
        "WHERE size(w_a) = 3").as[Long].collect()
    assert(ok.toSeq == Seq(50L))
    // the short-weights row must throw, not read past the weights array
    val err = intercept[Exception] {
      spark.sql("SELECT graft_sorted_intersect_wsum(ids_a, w_a, ids_b) FROM wsum_in")
        .collect()
    }
    val msgs = Iterator.iterate[Throwable](err)(_.getCause)
      .takeWhile(_ != null).map(e => String.valueOf(e.getMessage))
    assert(msgs.exists(_.contains("weights_a has 1 elements but ids_a has 3")),
      s"unexpected error: $err")
  }

  test("weightedJaccardPairs: kernel re-score == join-formulation reference on the corpus") {
    import TestSpark.spark
    import spark.implicits._
    val docs = TestSpark.table("documents")
    // force the kernel branch (the fixture's verified-pair count is
    // below the production floor)
    val saved = graft.ops.Dedup.weightedKernelMinPairs
    val got =
      try {
        graft.ops.Dedup.weightedKernelMinPairs = 1L
        graft.ops.Dedup.weightedJaccardPairs(
            docs, "text", "doc_id", candThreshold = 0.5)
          .collect().map(r => (r.getLong(0), r.getLong(1),
            r.getDouble(2), r.getDouble(3))).toSet
      } finally graft.ops.Dedup.weightedKernelMinPairs = saved
    // the r20 join formulation, replayed verbatim as the reference
    val pairs = graft.ops.Dedup.prefixFilteredPairs(
      docs, "text", "doc_id", 0.5).localCheckpoint()
    val d2 = docs.filter(col("text").isNotNull)
    val toks = d2.select(col("doc_id").as("__id"),
      explode(array_distinct(graft.ops.TextOps.tokens(col("text")))).as("__tok"))
    val nDocs = d2.agg(count(lit(1)).as("__nd"))
    val idf = toks.groupBy("__tok").agg(count(lit(1)).as("__df"))
      .crossJoin(broadcast(nDocs))
      .select(col("__tok"),
        round(log((col("__nd") + 1).cast("double") / (col("__df") + 1))
          * 1e6).cast("long").as("__w"))
    val wtoks = toks.join(idf, Seq("__tok"))
    val docw = wtoks.groupBy(col("__id")).agg(sum(col("__w")).as("__sw"))
    val inter = pairs.select(col("id_a"), col("id_b"))
      .join(wtoks.select(col("__id").as("id_a"), col("__tok"), col("__w")), Seq("id_a"))
      .join(wtoks.select(col("__id").as("id_b"), col("__tok")), Seq("id_b", "__tok"))
      .groupBy("id_a", "id_b").agg(sum(col("__w")).as("__iw"))
    val ref = pairs
      .join(inter, Seq("id_a", "id_b"), "left_outer")
      .join(docw.select(col("__id").as("id_a"), col("__sw").as("__sa")), Seq("id_a"))
      .join(docw.select(col("__id").as("id_b"), col("__sw").as("__sb")), Seq("id_b"))
      .select(col("id_a"), col("id_b"), col("jaccard"),
        round(coalesce(col("__iw"), lit(0L)).cast("double") /
          (col("__sa") + col("__sb") - coalesce(col("__iw"), lit(0L))), 6)
          .as("w_jaccard"))
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getDouble(2), r.getDouble(3))).toSet
    assert(got == ref, "kernel and join re-scores must agree pair-for-pair")
    assert(got.nonEmpty)
  }

  test("weighted sorted-intersect kernel: hand edges incl. empty and disjoint") {
    import TestSpark.spark
    import spark.implicits._
    val edges = Seq(
      (Seq(1L, 2L, 3L), Seq(10L, 20L, 30L), Seq(1L, 2L, 3L), 60L),
      (Seq(1L, 2L), Seq(10L, 20L), Seq(3L, 4L), 0L),
      (Seq[Long](), Seq[Long](), Seq(1L), 0L),
      (Seq(1L, 3L, 5L), Seq(10L, 30L, 50L), Seq(3L, 4L, 5L, 6L), 80L))
      .toDF("a", "w", "b", "want")
    edges.select(graft.functions.GraftFunctions
        .sortedIntersectWsum(spark, col("a"), col("w"), col("b")).as("got"),
        col("want"))
      .collect().foreach(r => assert(r.getLong(0) == r.getLong(1)))
  }

  test("bBitMinhashReport: identical pair is exact under any b; correction bounds") {
    import TestSpark.spark
    import spark.implicits._
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "the quick brown fox jumps over the lazy dog tonight"),
      (3L, "completely unrelated text with none of those words at all"))
      .toDF("doc_id", "text")
    val r = graft.ops.Dedup.bBitMinhashReport(
      docs, "text", "doc_id", numHashes = 8, b = 2).head
    // only the identical pair collides in any band
    assert(r.getLong(0) == 1L)
    assert(r.getInt(1) == 2)
    // identical signatures: full and b-bit estimates are both exactly 1
    assert(r.getDouble(2) == 1.0 && r.getDouble(3) == 1.0 &&
      r.getDouble(4) == 1.0)
    assert(r.getDouble(5) == 0.0 && r.getDouble(6) == 0.0)
    intercept[IllegalArgumentException] {
      graft.ops.Dedup.bBitMinhashReport(docs, "text", "doc_id", b = 0)
    }
  }

  test("thresholdSensitivity: monotone pair/doc counts from one stem") {
    import TestSpark.spark
    import spark.implicits._
    // d1~d2 share 2/4 shingles (J = 0.5), d3 = d4 exactly (J = 1.0)
    val docs = Seq(
      (1L, "the quick brown fox jumps"),
      (2L, "the quick brown fox leaps"),
      (3L, "completely different words here now"),
      (4L, "completely different words here now")).toDF("doc_id", "text")
    val got = graft.ops.Dedup.thresholdSensitivity(
        docs, "text", "doc_id", thresholds = Seq(0.5, 0.9))
      .orderBy("threshold").collect()
      .map(r => (r.getDouble(0), r.getLong(1), r.getLong(2),
        r.getDouble(3)))
    assert(got(0) == ((0.5, 2L, 4L, 0.75)))  // both pairs, all 4 docs
    assert(got(1) == ((0.9, 1L, 2L, 1.0)))   // only the exact twins
    intercept[IllegalArgumentException] {
      graft.ops.Dedup.thresholdSensitivity(docs, "text", "doc_id",
        Seq(1.5))
    }
  }
}
