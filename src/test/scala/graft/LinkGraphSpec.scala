package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.{GraftFunctions, HtmlExtract}
import graft.ops.LinkGraph

class LinkGraphSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  private def anchors(html: String): Seq[(String, String)] = {
    val a = HtmlExtract.anchors(UTF8String.fromString(html))
    (0 until a.numElements()).map { i =>
      val r = a.getStruct(i, 2)
      (r.getUTF8String(0).toString, r.getUTF8String(1).toString)
    }
  }

  test("anchor extraction: quotes, entities, nesting, malformed") {
    assert(anchors("""<p>x <a href="/a">One</a> y <a href='/b?q=1&amp;r=2'>Two  words</a></p>""") ==
      Seq("/a" -> "One", "/b?q=1&r=2" -> "Two words"))
    // nested inline tags stripped from the anchor text
    assert(anchors("""<a href="/x"><b>Bold</b> &amp; <i>it</i></a>""") ==
      Seq("/x" -> "Bold & it"))
    // no href -> no edge; unquoted href; self-closing; empty anchor
    assert(anchors("""<a name="t">target</a> <a href=/rel>r</a> <a href="/i"/> after""") ==
      Seq("/rel" -> "r", "/i" -> ""))
    // unclosed anchor auto-closes at the next <a; "<abbr" is not "<a"
    assert(anchors("""<a href="/1">one <a href="/2">two</a> <abbr>z</abbr>""") ==
      Seq("/1" -> "one", "/2" -> "two"))
    assert(anchors("no links at all") == Seq())
    // quoted '>' inside an attribute does not end the tag
    assert(anchors("""<a href="/q" title="a>b">Q</a>""") == Seq("/q" -> "Q"))
  }

  test("anchors kernel: column API, null propagation, empty array") {
    val df = Seq(
      (1L, """<a href="/d/9">nine</a>"""),
      (2L, null.asInstanceOf[String]),
      (3L, "plain")).toDF("id", "html")
    val got = df.select(col("id"),
        GraftFunctions.htmlAnchors(spark, col("html")).as("a"))
      .orderBy("id").collect()
    assert(got(0).getSeq[org.apache.spark.sql.Row](1).map(r =>
      (r.getString(0), r.getString(1))) == Seq("/d/9" -> "nine"))
    assert(got(1).isNullAt(1))
    assert(got(2).getSeq[org.apache.spark.sql.Row](1).isEmpty)
  }

  test("inDegree: counts and distinct sources") {
    val edges = Seq((1L, 2L), (1L, 2L), (3L, 2L), (2L, 1L)).toDF("src", "dst")
    val got = LinkGraph.inDegree(edges, "src", "dst")
      .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == Seq((1L, 1L, 1L), (2L, 3L, 2L)))
  }

  test("pageRank matches a driver-side reference on a small graph") {
    // 0 -> 1,2 ; 1 -> 2 ; 2 -> 0 ; 3 -> 2 ; 4 dangling
    val edgeList = Seq((0L, 1L), (0L, 2L), (1L, 2L), (2L, 0L), (3L, 2L))
    val nodes = (0L to 4L).toDF("id")
    val edges = edgeList.toDF("src", "dst")
    val iters = 4
    val d = 0.85

    // reference: plain double power method, same update order
    val n = 5
    val outdeg = edgeList.groupBy(_._1).view.mapValues(_.size).toMap
    var pr = Array.fill(n)(1.0 / n)
    for (_ <- 1 to iters) {
      val in = Array.fill(n)(0.0)
      edgeList.foreach { case (s, t) => in(t.toInt) += pr(s.toInt) / outdeg(s) }
      val dm = (0 until n).filterNot(i => outdeg.contains(i.toLong)).map(pr).sum
      pr = Array.tabulate(n)(i => (1 - d) / n + d * (in(i) + dm / n))
    }

    val got = LinkGraph.pageRank(nodes, edges, iters, d)
      .orderBy("id").collect().map(_.getDouble(1))
    got.zip(pr).foreach { case (g, e) =>
      assert(math.abs(g - e) < 1e-12, s"got $g expected $e")
    }
    // total mass conserved
    assert(math.abs(got.sum - 1.0) < 1e-9)
  }

  test("personalizedPageRank concentrates mass near the seed set") {
    // two communities: 0-1-2 cycle, 3-4 cycle, one bridge 2->3
    val nodes = (0L to 4L).toDF("id")
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 0L), (2L, 3L), (3L, 4L), (4L, 3L))
      .toDF("src", "dst")
    val seeds = Seq(0L).toDF("id")
    val edgeList = Seq((0, 1), (1, 2), (2, 0), (2, 3), (3, 4), (4, 3))
    val outdeg = edgeList.groupBy(_._1).view.mapValues(_.size).toMap
    val d = 0.85
    val t = Array(1.0, 0, 0, 0, 0)
    var pr = t.clone()
    for (_ <- 1 to 3) {
      val in = Array.fill(5)(0.0)
      edgeList.foreach { case (s, u) => in(u) += pr(s) / outdeg(s) }
      pr = Array.tabulate(5)(i => (1 - d) * t(i) + d * in(i))
    }
    val got = graft.ops.LinkGraph.personalizedPageRank(nodes, edges, seeds, 3, d)
      .orderBy("id").collect().map(_.getDouble(1))
    got.zip(pr).foreach { case (g, e) =>
      assert(math.abs(g - e) < 1e-12, s"got $g expected $e")
    }
    // seed community holds more rank than the far community
    assert(got(0) + got(1) + got(2) > got(3) + got(4))
  }

  test("hits matches a driver-side reference; hubs vs authorities") {
    // 0 and 1 are hubs pointing at authority 2; 2 points at 3
    val nodes = (0L to 3L).toDF("id")
    val edgeList = Seq((0, 2), (1, 2), (2, 3))
    val edges = edgeList.map { case (a, b) => (a.toLong, b.toLong) }.toDF("src", "dst")
    val iters = 2
    var hub = Array.fill(4)(1.0)
    var auth = Array.fill(4)(1.0)
    for (_ <- 1 to iters) {
      val a = Array.fill(4)(0.0)
      edgeList.foreach { case (s, t2) => a(t2) += hub(s) }
      val an = math.sqrt(a.map(x => x * x).sum)
      auth = a.map(x => if (an > 0) x / an else 0.0)
      val h = Array.fill(4)(0.0)
      edgeList.foreach { case (s, t2) => h(s) += auth(t2) }
      val hn = math.sqrt(h.map(x => x * x).sum)
      hub = h.map(x => if (hn > 0) x / hn else 0.0)
    }
    val got = graft.ops.LinkGraph.hits(nodes, edges, iters)
      .orderBy("id").collect().map(r => (r.getDouble(1), r.getDouble(2)))
    got.zipWithIndex.foreach { case ((ga, gh), i) =>
      assert(math.abs(ga - auth(i)) < 1e-12, s"auth $i: got $ga expected ${auth(i)}")
      assert(math.abs(gh - hub(i)) < 1e-12, s"hub $i: got $gh expected ${hub(i)}")
    }
    // node 2 is the authority; 0/1 are hubs with zero authority
    assert(got(2)._1 > got(3)._1 && got(0)._1 == 0.0)
    assert(got(0)._2 > 0 && got(0)._2 == got(1)._2 && got(3)._2 == 0.0)
  }

  test("topAnchors: deterministic mode with tie-break") {
    val edges = Seq(
      (1L, 9L, "beta"), (2L, 9L, "alpha"), (3L, 9L, "beta"),
      (4L, 8L, "zed"), (5L, 8L, "abc")).toDF("src", "dst", "anchor")
    val got = graft.ops.LinkGraph.topAnchors(edges, "dst", "anchor")
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(got.toSeq == Seq(
      (8L, "abc", 1L, 2L, 2L), // tie 1-1: smallest anchor wins
      (9L, "beta", 2L, 3L, 2L)))
  }

  test("pageRank: duplicate edges vote twice, deterministically") {
    val nodes = (0L to 2L).toDF("id")
    val edges = Seq((0L, 1L), (0L, 1L), (0L, 2L), (1L, 0L), (2L, 0L)).toDF("src", "dst")
    val got = LinkGraph.pageRank(nodes, edges, 2, 0.85)
      .orderBy("id").collect().map(_.getDouble(1))
    // node 1 gets 2/3 of node 0's vote, node 2 gets 1/3
    assert(got(1) > got(2))
    assert(math.abs(got.sum - 1.0) < 1e-9)
  }

  test("triangles: hand-counted graphs, dedup, direction-insensitivity") {
    def tri(edges: Seq[(Long, Long)]): (Long, Long, Long, Long) = {
      val r = LinkGraph.triangles(edges.toDF("s", "d"), "s", "d").head
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    }
    // K4: 4 vertices, 6 edges, 4 triangles
    val k4 = for (i <- 0L to 3L; j <- (i + 1) to 3L) yield (i, j)
    assert(tri(k4) == ((4L, 6L, 4L, 4L)))
    // a path has no triangles; the degree orientation leaves no apex
    // with two out-edges, so not even a wedge candidate materializes
    assert(tri(Seq((1L, 2L), (2L, 3L), (3L, 4L))) == ((4L, 3L, 0L, 0L)))
    // duplicate edges, reversed duplicates, and self-loops collapse
    assert(tri(Seq((1L, 2L), (2L, 1L), (1L, 2L), (2L, 3L), (3L, 1L),
      (2L, 2L))) == ((3L, 3L, 1L, 1L)))
    // bowtie: two triangles sharing vertex 0
    assert(tri(Seq((0L, 1L), (0L, 2L), (1L, 2L), (0L, 3L), (0L, 4L),
      (3L, 4L)))._4 == 2L)
  }

  private def lpa(nodes: Seq[Long], edges: Seq[(Long, Long)],
      iters: Int): Map[Long, Long] =
    LinkGraph.labelPropagation(nodes.toDF("id"),
        edges.toDF("src", "dst"), "src", "dst", iters)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("labelPropagation: two cliques + bridge resolve to two communities") {
    // hand-traced 3 rounds: {0,1,2} -> 0, {10,11,12} -> 10; the bridge
    // 2-10 pulls label 2 into 10's round-1 vote but the clique majority
    // overturns it in round 2
    val edges = Seq((0L, 1L), (0L, 2L), (1L, 2L),
      (10L, 11L), (10L, 12L), (11L, 12L), (2L, 10L))
    val got = lpa(Seq(0L, 1L, 2L, 10L, 11L, 12L), edges, 3)
    assert(got == Map(0L -> 0L, 1L -> 0L, 2L -> 0L,
      10L -> 10L, 11L -> 10L, 12L -> 10L))
  }

  test("labelPropagation: tie-break toward min label, path graph") {
    // round 1 (all votes tied at 1): 0->0, 1->0, 2->1; round 2: node 2
    // sees nbr 1's label 0 vs its own 1, tie -> 0 — all converge to 0
    val got = lpa(Seq(0L, 1L, 2L), Seq((0L, 1L), (1L, 2L)), 2)
    assert(got == Map(0L -> 0L, 1L -> 0L, 2L -> 0L))
    val r1 = lpa(Seq(0L, 1L, 2L), Seq((0L, 1L), (1L, 2L)), 1)
    assert(r1 == Map(0L -> 0L, 1L -> 0L, 2L -> 1L))
  }

  test("labelPropagation: duplicate/reversed edges collapse to one vote") {
    // und dedup means 1 and 2 each see ONE neighbor vote + self: tied,
    // min label 1 wins on both sides
    val got = lpa(Seq(1L, 2L), Seq((1L, 2L), (2L, 1L), (1L, 2L)), 1)
    assert(got == Map(1L -> 1L, 2L -> 1L))
  }

  test("clusteringCoefficients: bowtie + leaf, NULL for degree-1") {
    // bowtie (two triangles sharing vertex 0) + a leaf 5 hanging off 0:
    // deg(0)=5 with 2 triangles -> cc=0.2; wing vertices cc=1.0; the
    // leaf is unmeasurable (NULL), not 0
    val edges = Seq((0L, 1L), (0L, 2L), (1L, 2L), (0L, 3L), (0L, 4L),
      (3L, 4L), (0L, 5L)).toDF("s", "d")
    val got = LinkGraph.clusteringCoefficients(edges, "s", "d")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3))))).toMap
    assert(got(0L) == ((5L, 2L, Some(0.2))))
    assert(got(1L) == ((2L, 1L, Some(1.0))))
    assert(got(3L) == ((2L, 1L, Some(1.0))))
    assert(got(5L) == ((1L, 0L, None)))
  }

  test("seedDistance: multi-source BFS, hop cap, unreachable stays NULL") {
    def dists(nodes: Seq[Long], edges: Seq[(Long, Long)], seeds: Seq[Long],
        hops: Int): Map[Long, Option[Long]] =
      LinkGraph.seedDistance(nodes.toDF("id"), edges.toDF("src", "dst"),
          seeds.toDF("id"), hops)
        .collect().map(r => r.getLong(0) ->
          (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    // chain 0->1->2->3->4, seed 0, 3 hops: node 4 unreachable in cap
    assert(dists(0L to 4L, Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L)),
      Seq(0L), 3) ==
      Map(0L -> Some(0L), 1L -> Some(1L), 2L -> Some(2L), 3L -> Some(3L),
        4L -> None))
    // two seeds: min distance wins (node 2 is 1 hop from seed 4, not 2
    // hops from seed 0); direction respected (nothing reaches a seed)
    assert(dists(0L to 4L, Seq((0L, 1L), (1L, 2L), (4L, 2L)),
      Seq(0L, 4L), 3) ==
      Map(0L -> Some(0L), 1L -> Some(1L), 2L -> Some(1L), 3L -> None,
        4L -> Some(0L)))
  }

  test("coCitation: shared citing sources, duplicate edges vote once") {
    val edges = Seq((100L, 1L), (100L, 1L), (100L, 2L), (100L, 3L),
      (200L, 1L), (200L, 2L), (300L, 1L), (300L, 2L)).toDF("src", "dst")
    val got = LinkGraph.coCitation(edges, "src", "dst")
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(got == Map((1L, 2L) -> 3L, (1L, 3L) -> 1L, (2L, 3L) -> 1L))
  }

  test("bibCoupling: shared out-links; in-degree cap drops hub targets") {
    val edges = Seq((100L, 1L), (100L, 2L), (100L, 3L),
      (200L, 1L), (200L, 2L), (300L, 1L), (300L, 2L)).toDF("src", "dst")
    val got = LinkGraph.bibCoupling(edges, "src", "dst")
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(got == Map((100L, 200L) -> 2L, (100L, 300L) -> 2L,
      (200L, 300L) -> 2L))
    // cap = 2: targets 1 and 2 (indeg 3) drop; target 3 has one citer,
    // so no pairs survive
    assert(LinkGraph.bibCoupling(edges, "src", "dst", maxIndeg = 2L)
      .count() == 0L)
  }

  test("kCore: K4 + pendant chain peels in waves; fixpoint reached") {
    def core(edges: Seq[(Long, Long)], k: Int, rounds: Int): Map[Long, Long] =
      LinkGraph.kCore(edges.toDF("s", "d"), "s", "d", k, rounds)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // K4 on {0,1,2,3} + chain 3-4-5-6: the 2-core is exactly the K4 —
    // but the chain strips one vertex per round (6 first, then 5,
    // then 4), so intermediate rounds expose the wave semantics
    val g = Seq((0L, 1L), (0L, 2L), (0L, 3L), (1L, 2L), (1L, 3L),
      (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L))
    assert(core(g, 2, 1) == Map(0L -> 3L, 1L -> 3L, 2L -> 3L, 3L -> 4L,
      4L -> 2L, 5L -> 1L)) // 6 dropped (deg 1); 5 keeps its stub to 4
    assert(core(g, 2, 2) == Map(0L -> 3L, 1L -> 3L, 2L -> 3L, 3L -> 4L,
      4L -> 1L)) // 5 dropped, 4 now dangling
    val fix = Map(0L -> 3L, 1L -> 3L, 2L -> 3L, 3L -> 3L)
    assert(core(g, 2, 3) == fix)          // exact 2-core = the K4
    assert(core(g, 2, 4) == fix)          // one more round: unchanged
    // k=4: even the K4 dies (max degree inside is 3) -> empty core
    assert(core(g, 4, 3).isEmpty)
    // duplicate/reversed/self-loop edges collapse before peeling
    val noisy = g ++ Seq((1L, 0L), (0L, 0L), (0L, 1L))
    assert(core(noisy, 2, 3) == fix)
  }

  test("degreeAssortativity: star -1, regular NULL, mixed hand value") {
    def r(edges: Seq[(Long, Long)]): (Long, Long, Option[Double]) = {
      val row = LinkGraph.degreeAssortativity(edges.toDF("s", "d"), "s", "d")
        .head()
      (row.getLong(0), row.getLong(1),
        if (row.isNullAt(5)) None else Some(row.getDouble(5)))
    }
    // star K1,3: perfectly disassortative
    assert(r(Seq((0L, 1L), (0L, 2L), (0L, 3L))) == ((4L, 3L, Some(-1.0))))
    // 4-cycle: every degree 2 -> zero variance -> NULL, not 0/0
    assert(r(Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 0L))) ==
      ((4L, 4L, None)))
    // triangle + pendant: hand Pearson = -20/28
    val mixed = Seq((0L, 1L), (1L, 2L), (0L, 2L), (2L, 3L))
    assert(r(mixed) == ((4L, 4L, Some(-0.714286))))
    // duplicate/reversed/self-loop edges collapse first
    assert(r(mixed ++ Seq((1L, 0L), (3L, 3L), (2L, 1L))) ==
      ((4L, 4L, Some(-0.714286))))
  }

  test("pageRankResidual: equals the diff of two separate runs; shrinks with iterations") {
    import spark.implicits._
    val nodes = Seq(0L, 1L, 2L, 3L).toDF("id")
    // 3 has no out-edges: the dangling path is exercised too
    val edges = Seq((0L, 1L), (0L, 2L), (1L, 2L), (2L, 0L), (1L, 3L))
      .toDF("src", "dst")
    def resid(iters: Int): (Long, Double, Double) = {
      val r = LinkGraph.pageRankResidual(nodes, edges, iters).collect().head
      (r.getLong(1), r.getDouble(2), r.getDouble(3))
    }
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // reference: diff of independent pageRank runs at iters and iters-1
    val p2 = LinkGraph.pageRank(nodes, edges, 2).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val p3 = LinkGraph.pageRank(nodes, edges, 3).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val (n, l1, mx) = resid(3)
    assert(n == 4L)
    assert(l1 == r6(p3.map { case (k, v) => math.abs(v - p2(k)) }.sum))
    assert(mx > 0 && mx <= l1)
    // convergence: the residual at 6 iterations is far below 3's
    assert(resid(6)._2 < l1 / 2)
    intercept[IllegalArgumentException] {
      LinkGraph.pageRankResidual(nodes, edges, iters = 1)
    }
  }

  test("communityModularity: two bridged triangles hit the textbook value") {
    import spark.implicits._
    // two triangles joined by one bridge: m = 7,
    // each community: L = 3, D = 2+2+3 = 7
    // q_term = (4·7·3 − 49)/(4·49) = 35/196 = 0.178571; Q ≈ 0.357143
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L),
      (4L, 5L), (4L, 6L), (5L, 6L), (3L, 4L)).toDF("src", "dst")
    val labels = Seq((1L, 1L), (2L, 1L), (3L, 1L),
      (4L, 4L), (5L, 4L), (6L, 4L)).toDF("id", "label")
    val got = LinkGraph.communityModularity(labels, edges, "src", "dst")
      .orderBy("label").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4)))
    assert(got.toSeq == Seq(
      (1L, 3L, 7L, 3L, 0.178571), (4L, 3L, 7L, 3L, 0.178571)))

    // duplicate/reversed/self edges collapse to the same undirected
    // set; an isolated node scores a zero term, a degree-only
    // community (no internal edges) scores negative
    val messy = edges.unionByName(
      Seq((2L, 1L), (1L, 1L), (3L, 4L)).toDF("src", "dst"))
    val labels2 = labels.unionByName(
      Seq((7L, 7L)).toDF("id", "label")) // isolated
    val got2 = LinkGraph.communityModularity(labels2, messy, "src", "dst")
      .orderBy("label").collect()
      .map(r => (r.getLong(0), r.getDouble(4))).toMap
    assert(got2(1L) == 0.178571 && got2(4L) == 0.178571)
    assert(got2(7L) == 0.0)
    val split = LinkGraph.communityModularity(
      Seq((1L, 1L), (2L, 2L)).toDF("id", "label"),
      Seq((1L, 2L)).toDF("src", "dst"), "src", "dst")
      .collect().map(r => r.getLong(0) -> r.getDouble(4)).toMap
    // m = 1, L = 0, D = 1 each: term = −1/4 per side
    assert(split == Map(1L -> -0.25, 2L -> -0.25))
  }

  test("reciprocity: mutual pairs counted both ways, self-loops/dups out") {
    import spark.implicits._
    // 1↔2 mutual (2 reciprocated edges), 1→3 one-way, 3→3 self-loop
    // dropped, duplicate 1→2 collapses
    val e = Seq((1L, 2L), (2L, 1L), (1L, 3L), (3L, 3L), (1L, 2L))
      .toDF("src", "dst")
    val r = LinkGraph.reciprocity(e, "src", "dst").head
    assert((r.getLong(0), r.getLong(1)) == ((3L, 2L)))
    assert(r.getDouble(2) == 0.666667)
    // fully one-way graph: zero
    val one = LinkGraph.reciprocity(
      Seq((1L, 2L), (2L, 3L)).toDF("src", "dst"), "src", "dst").head
    assert(one.getLong(1) == 0L && one.getDouble(2) == 0.0)
  }

  test("attributeAssortativity: hand mixing matrix, perfect, degenerate") {
    import spark.implicits._
    val labels = Seq((1L, "A"), (2L, "A"), (3L, "B")).toDF("id", "label")
    // mixing AA:2, BA:1, AB:1 -> E=4, same=2, ab=9+1=10
    // r = (8−10)/(16−10) = −1/3
    val edges = Seq((1L, 2L), (2L, 1L), (3L, 1L), (1L, 3L))
      .toDF("src", "dst")
    val r = LinkGraph.attributeAssortativity(edges, labels, "src", "dst")
      .head
    assert((r.getLong(0), r.getLong(1)) == ((4L, 2L)))
    assert(r.getDouble(2) == -0.333333)
    // perfectly label-segregated edges ACROSS ≥2 labels -> r = 1
    // (AA:2, BB:1 -> (3·3−5)/(9−5) = 1)
    val seg = Seq((1L, 2L), (2L, 1L), (3L, 3L)).toDF("src", "dst")
    assert(LinkGraph.attributeAssortativity(seg, labels, "src", "dst")
      .head.getDouble(2) == 1.0)
    // single label: denominator 0 -> undefined -> null
    val mono = labels.withColumn("label",
      org.apache.spark.sql.functions.lit("A"))
    assert(LinkGraph.attributeAssortativity(edges, mono, "src", "dst")
      .head.isNullAt(2))
  }

  test("broadcast gate: hinted == un-hinted (hits, labelProp, kCore, seedDistance)") {
    import spark.implicits._
    // non-trivial graph: ring + chords + dangling node 49
    val nodes = (0L to 49L).toDF("id")
    val edges = (0L until 49L).flatMap(i =>
      Seq((i, (i + 1) % 49), (i, (i * 3 + 2) % 49))).toDF("src", "dst")
    val seeds = Seq(0L, 7L).toDF("id")
    def all() = (
      LinkGraph.hits(nodes, edges, iters = 2)
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).toSet,
      LinkGraph.labelPropagation(nodes, edges, "src", "dst", iters = 3)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet,
      LinkGraph.kCore(edges, "src", "dst", k = 3, rounds = 4)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet,
      LinkGraph.seedDistance(nodes, edges, seeds, maxHops = 4)
        .collect().map(r => (r.getLong(0),
          if (r.isNullAt(1)) -1L else r.getLong(1))).toSet)
    val saved = LinkGraph.broadcastMaxNodes
    val (hintedHits, hintedLp, hintedKc, hintedSd) =
      try { LinkGraph.broadcastMaxNodes = 4_000_000L; all() }
      finally LinkGraph.broadcastMaxNodes = saved
    val (loopHits, loopLp, loopKc, loopSd) =
      try { LinkGraph.broadcastMaxNodes = 0L; all() }
      finally LinkGraph.broadcastMaxNodes = saved
    // labels/degrees/hops are integers (exact); the double scores
    // agree to 1e-12 (same arithmetic, different partials — the
    // oracle rounds at 6)
    assert(hintedLp == loopLp)
    assert(hintedKc == loopKc)
    assert(hintedSd == loopSd)
    val hitsB = loopHits.map(t => t._1 -> ((t._2, t._3))).toMap
    hintedHits.foreach { case (k, a1, h1) =>
      val (a2, h2) = hitsB(k)
      assert(math.abs(a1 - a2) < 1e-12 && math.abs(h1 - h2) < 1e-12)
    }
  }

  /** Runs `body` under the shared driver edge cap `cap`. */
  private def underCap[T](cap: Long)(body: => T): T = {
    val saved = graft.ops.Dedup.driverMaxEdges
    try { graft.ops.Dedup.driverMaxEdges = cap; body }
    finally graft.ops.Dedup.driverMaxEdges = saved
  }

  /** Whether `df` reads only local relations (the driver path). */
  private def isLocal(df: org.apache.spark.sql.DataFrame): Boolean =
    df.queryExecution.optimizedPlan.collectLeaves().forall(
      _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation])

  test("PageRank family: driver path == distributed path on a dirty graph") {
    import spark.implicits._
    // ring + chords over 0..19; 19 is dangling; a null node id; seeds
    // include one that is not a node and a null
    val nodes = ((0L to 19L).map(Option(_)) :+ None).toDF("id")
    val ring = (0L until 19L).flatMap(i =>
      Seq((i, (i + 1) % 19), (i, (i * 3 + 2) % 19)))
    val dirty = Seq(
      (Option(1L), Option(2L)), (Option(1L), Option(2L)), // duplicates vote twice
      (Option(4L), Option(99L)),  // dst not a node: its share is lost
      (Option(77L), Option(3L)),  // src not a node: carries no rank
      (None, Option(5L)),         // null src
      (Option(6L), None))         // null dst: counts in 6's out-degree
    val edges = (ring.map { case (a, b) => (Option(a), Option(b)) } ++ dirty)
      .toDF("src", "dst")
    val seeds = Seq(Option(0L), Option(7L), Option(55L), None).toDF("id")
    def ranks(df: org.apache.spark.sql.DataFrame): Map[Option[Long], Double] =
      df.collect().map(r =>
        (if (r.isNullAt(0)) None else Some(r.getLong(0))) -> r.getDouble(1)).toMap
    def runs() = {
      val pr = LinkGraph.pageRank(nodes, edges, iters = 4)
      val res = LinkGraph.pageRankResidual(nodes, edges, iters = 4)
      val ppr = LinkGraph.personalizedPageRank(nodes, edges, seeds, iters = 4)
      (Seq(pr, res, ppr).map(isLocal), ranks(pr), res.head, ranks(ppr))
    }
    val (dLocal, dPr, dRes, dPpr) = runs()
    val (sLocal, sPr, sRes, sPpr) = underCap(0L)(runs())
    assert(dLocal == Seq(true, true, true), "under the cap: local relations")
    assert(sLocal == Seq(false, false, false), "cap 0: the distributed path")
    def close(a: Map[Option[Long], Double], b: Map[Option[Long], Double]): Unit = {
      assert(a.keySet == b.keySet)
      assert(a.keySet.size == 21 && a.contains(None))
      a.foreach { case (k, v) =>
        assert(math.abs(v - b(k)) < 1e-12, s"node $k: $v vs ${b(k)}") }
    }
    close(dPr, sPr)
    close(dPpr, sPpr)
    // the residual joins on id: the null node is not in n_nodes
    assert((dRes.getInt(0), dRes.getLong(1)) == ((4, 20L)))
    assert((sRes.getInt(0), sRes.getLong(1)) == ((4, 20L)))
    assert(math.abs(dRes.getDouble(2) - sRes.getDouble(2)) < 1e-12)
    assert(math.abs(dRes.getDouble(3) - sRes.getDouble(3)) < 1e-12)
    // mass leaves through 4→99 and 6→null: the ranks sum below 1
    assert(dPr.values.sum < 1.0 - 1e-3)
  }

  /** Spark jobs started while `body` runs. Listener events arrive
    * asynchronously, so a marked job run after `body` fences them. */
  private def jobsDuring(body: => Unit): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val fence = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("graft.fence") != null)
          fence.countDown()
        else jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      body
      sc.setLocalProperty("graft.fence", "1")
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty("graft.fence", null)
      assert(fence.await(30, java.util.concurrent.TimeUnit.SECONDS))
    } finally sc.removeSparkListener(listener)
    jobs.get
  }

  test("PageRank driver path: the job count does not grow with iters") {
    import spark.implicits._
    val nodes = (0L to 49L).toDF("id")
    val edges = (0L until 49L).flatMap(i =>
      Seq((i, (i + 1) % 49), (i, (i * 3 + 2) % 49))).toDF("src", "dst")
    val one = jobsDuring(LinkGraph.pageRank(nodes, edges, iters = 1).collect())
    val ten = jobsDuring(LinkGraph.pageRank(nodes, edges, iters = 10).collect())
    assert(one == ten, s"iters = 1 ran $one jobs, iters = 10 ran $ten")
  }
}
