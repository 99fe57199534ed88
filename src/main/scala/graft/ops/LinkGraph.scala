package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}

/**
 * Web-graph analytics over an extracted link table — the ranking side
 * of a crawl pipeline: link popularity is a standard corpus-quality
 * prior (pages nothing links to are disproportionately spam), and the
 * in-degree/anchor-text tables feed retrieval. Input edges come from
 * [[graft.functions.HtmlExtract.anchors]] → [[UrlOps]] resolution;
 * nothing here parses HTML or URLs. (The reference has no graph
 * processing — north-star surface.)
 *
 * Scale shape: PageRank (Page et al. 1999, public) is the textbook
 * iterate-joins algorithm. The PageRank family ([[pageRank]]/
 * [[pageRankResidual]]/[[personalizedPageRank]]) runs it on one of two
 * paths, chosen by a counted edge gate shared with
 * [[Dedup.components]] ([[Dedup.driverMaxEdges]]):
 *
 *  - under the gate the graph is a bounded driver value, collected
 *    once into primitive arrays; every iteration runs in-process, so
 *    the job count does not grow with `iters` ([[driverGraph]]);
 *  - past it nothing is collected: the edge frame is checkpointed
 *    once and each iteration is a node-sized join/aggregate round,
 *    `localCheckpoint`ed to keep lineage O(1) — iteration count is
 *    the only sequential dimension, inherent to the power method
 *    ([[distributedIterates]]).
 *
 * Both paths apply the same update, term for term; only the order in
 * which contributions are summed differs (scores agree to ~1e-15).
 */
object LinkGraph {

  /** Node-count gate for the per-round broadcast hints in [[hits]],
    * [[labelPropagation]], [[kCore]] and [[seedDistance]] — the
    * [[graft.ops.Dedup.components]] rationale: a node-sized score or
    * label frame is ≤ ~100 MB of (long, double) rows at the cap, its
    * size is KNOWN exactly (counted once up front; it never grows
    * during the run), and a checkpointed frame keeps only its
    * pre-checkpoint size estimate, not that exact count, so un-hinted
    * every per-round join plans sort-merge and exchanges the
    * EDGE frame each round on a key nothing downstream reuses. Past
    * the gate every join keeps the shuffle path — the 100 TB web
    * graph never broadcasts its score vector. `var` only as a test
    * seam (LinkGraphSpec forces the shuffle path to pin hinted ≡
    * un-hinted); production code never writes it. */
  private[graft] var broadcastMaxNodes = 4_000_000L

  /** In-degree + distinct-source count per target — the cheap
    * link-popularity signal (one shuffle on `dst`). */
  def inDegree(edges: DataFrame, srcCol: String, dstCol: String): DataFrame =
    edges.groupBy(col(dstCol).as("id"))
      .agg(count(lit(1)).as("in_links"),
        countDistinct(col(srcCol)).as("in_sources"))

  /** Modal anchor text per target — the classic retrieval signal (how
    * the web DESCRIBES a page beats how the page describes itself):
    * per (dst, anchor) counts, then the deterministic mode
    * (count desc, anchor asc tie-break) via a decomposable
    * `min(struct(-count, anchor))` — no window, two key-local
    * aggregations sharing the dst partitioning. */
  def topAnchors(edges: DataFrame, dstCol: String, anchorCol: String): DataFrame =
    edges
      .groupBy(col(dstCol).as("id"), col(anchorCol).as("__a"))
      .agg(count(lit(1)).as("__c"))
      .groupBy(col("id"))
      .agg(
        min(struct((-col("__c")).as("nc"), col("__a").as("a"))).as("__m"),
        sum(col("__c")).as("n_links"),
        count(lit(1)).as("n_distinct_anchors"))
      .select(col("id"), col("__m.a").as("top_anchor"),
        (-col("__m.nc")).as("top_count"),
        col("n_links"), col("n_distinct_anchors"))

  /**
   * Power-method PageRank with damping `d`: uniform init 1/n, update
   * `pr' = (1-d)/n + d * (Σ_in pr/outdeg + danglingMass/n)`.
   * Duplicate edges contribute once each (a page linking twice votes
   * twice — deterministic and what the raw anchor table gives you;
   * `distinct` the edges first for the other contract).
   *
   * @param nodes one column `id` — every rankable node (isolated nodes
   *              included; they hold (1-d)/n + the dangling share). A
   *              null id is one node: it counts in n, holds rank and is
   *              always dangling, but no edge reaches it
   * @param edges columns `src`, `dst`; an edge counts in its `src`'s
   *              out-degree even when `dst` is null or not in `nodes`
   *              (that share of mass is lost); an edge from a `src` not
   *              in `nodes` carries no rank (caller restricts first if
   *              the graph must be closed)
   */
  def pageRank(
      nodes: DataFrame,
      edges: DataFrame,
      iters: Int,
      damping: Double = 0.85): DataFrame = {
    require(iters >= 1, "pageRank needs at least one iteration")
    require(damping > 0 && damping < 1, s"damping must be in (0,1), got $damping")
    iterates(nodes, edges, None, iters, damping)._2
  }

  /**
   * PageRank convergence report — the L1 residual between the last two
   * power iterations (`Σ|pr_i − pr_{i−1}|`, the standard stopping
   * criterion): the ops gauge that decides whether `iters` was enough
   * BEFORE the ranks feed crawl scheduling or quality priors. Tracks
   * the previous iterate inside ONE loop (no second run of the power
   * method); the diff is a node-keyed join (a null id drops out) +
   * 1-row aggregation.
   *
   * Output: one row (iters, n_nodes, l1_residual, max_delta) —
   * residual halves roughly per iteration at d = 0.85 on a well-mixed
   * graph, so a stalled residual is a graph-shape alarm, not a
   * convergence success.
   */
  def pageRankResidual(
      nodes: DataFrame,
      edges: DataFrame,
      iters: Int,
      damping: Double = 0.85): DataFrame = {
    require(iters >= 2, "a residual needs at least two iterations")
    require(damping > 0 && damping < 1, s"damping must be in (0,1), got $damping")
    val (prev, ranks) = iterates(nodes, edges, None, iters, damping)
    ranks
      .join(prev().withColumnRenamed("pr", "__prev"), "id")
      .agg(count(lit(1)).as("n_nodes"),
        round(sum(abs(col("pr") - col("__prev"))), 6).as("l1_residual"),
        round(max(abs(col("pr") - col("__prev"))), 9).as("max_delta"))
      .select(lit(iters).as("iters"), col("n_nodes"),
        col("l1_residual"), col("max_delta"))
  }

  /**
   * Personalized PageRank (random walk with restart): teleport lands
   * only on the `seeds` set, so rank measures proximity TO the seeds —
   * the standard graph-expansion primitive for corpus curation
   * ("pages like these known-good ones"). Same paths and edge
   * semantics as [[pageRank]]; teleport vector `t = isSeed/|S|`
   * attaches to the node frame once, init = t, update
   * `pr' = (1-d)·t + d·(Σ_in pr/outdeg + danglingMass·t)`.
   * Seeds not present in `nodes` are ignored (their teleport share is
   * still counted in |S| — feed a consistent seed set).
   */
  def personalizedPageRank(
      nodes: DataFrame,
      edges: DataFrame,
      seeds: DataFrame,
      iters: Int,
      damping: Double = 0.85): DataFrame = {
    require(iters >= 1, "personalizedPageRank needs at least one iteration")
    require(damping > 0 && damping < 1, s"damping must be in (0,1), got $damping")
    iterates(nodes, edges, Some(seeds.select(col("id"))), iters, damping)._2
  }

  /** The PageRank family's last two iterates, (previous, last), on the
    * driver path when [[driverGraph]] collects the graph (and, for
    * `seeds`, the seed ids under the same cap), else on the
    * distributed path. `seeds` selects the personalized update. */
  private def iterates(nodes: DataFrame, edges: DataFrame,
      seeds: Option[DataFrame], iters: Int,
      damping: Double): (() => DataFrame, DataFrame) = {
    val (e, graph) = driverGraph(nodes, edges)
    val local = seeds match {
      case None => graph.map(_ -> (null: Array[Double]))
      case Some(sd) =>
        for {
          g <- graph if sd.schema.head.dataType == LongType
          (seedIds, seedNull) <- distinctIds(sd, Dedup.driverMaxEdges)
        } yield {
          val s = (seedIds.length + (if (seedNull) 1 else 0)).toDouble
          g -> Array.tabulate(g.size)(i => if (i < g.ids.length &&
            java.util.Arrays.binarySearch(seedIds, g.ids(i)) >= 0) 1.0 / s else 0.0)
        }
    }
    local match {
      case Some((g, tele)) =>
        val (prev, last) = powerIterate(g, tele, iters, damping)
        (() => rankRelation(nodes, g, prev), rankRelation(nodes, g, last))
      case None =>
        val ids = nodes.select(col("id")).distinct().localCheckpoint()
        seeds match {
          case None =>
            // node count enters as a one-row frame, not a driver scalar
            // — the whole build stays declarative (q84's discipline)
            val n = ids.crossJoin(ids.agg(count(lit(1)).cast("double").as("__n")))
            distributedIterates(n, e, lit(1.0) / col("__n"), iters, (in, dm) =>
              lit(1.0 - damping) / col("__n") + lit(damping) * (in + dm / col("__n")))
          case Some(sd) =>
            val sdd = sd.distinct().localCheckpoint()
            val n = ids
              .join(sdd.withColumn("__isSeed", lit(1)), Seq("id"), "left_outer")
              .crossJoin(sdd.agg(count(lit(1)).cast("double").as("__s")))
              .select(col("id"),
                when(col("__isSeed").isNotNull, lit(1.0) / col("__s"))
                  .otherwise(lit(0.0)).as("__t"))
            distributedIterates(n, e, col("__t"), iters, (in, dm) =>
              lit(1.0 - damping) * col("__t") + lit(damping) * (in + dm * col("__t")))
        }
    }
  }

  /** The distributed power iterations over node frame `n` (`id` plus
    * the columns `init`/`update` read): out-degrees and the (src, dst,
    * outdeg) edge frame are checkpointed once — `deg` is read every
    * round by the dangling scan, so it is never re-aggregated (r21) —
    * then each round is rank ⋈ edges, a dst-keyed sum, the one-row
    * dangling mass and `update(in, dm)`, checkpointed. */
  private def distributedIterates(n: DataFrame, e: DataFrame, init: Column,
      iters: Int, update: (Column, Column) => Column): (() => DataFrame, DataFrame) = {
    val nodes = n.localCheckpoint()
    val deg = e.groupBy(col("src")).agg(count(lit(1)).as("__outdeg"))
      .localCheckpoint()
    val edgesDeg = e.join(deg, "src").localCheckpoint()
    var ranks = nodes.select(col("id"), init.as("pr")).localCheckpoint()
    var prev = ranks
    var it = 0
    while (it < iters) {
      val contribs = ranks
        .join(edgesDeg, ranks("id") === edgesDeg("src"))
        .groupBy(col("dst").as("id"))
        .agg(sum(col("pr") / col("__outdeg")).as("__in"))
      val dangling = ranks
        .join(deg, ranks("id") === deg("src"), "left_anti")
        .agg(coalesce(sum(col("pr")), lit(0.0)).as("__dm"))
      prev = ranks
      ranks = nodes
        .join(contribs, Seq("id"), "left_outer")
        .crossJoin(dangling)
        .select(col("id"),
          update(coalesce(col("__in"), lit(0.0)), col("__dm")).as("pr"))
        .localCheckpoint()
      it += 1
    }
    val previous = prev
    (() => previous, ranks)
  }

  /** The graph of a driver-path run: node ids sorted (index =
    * position; a null node id becomes one more node, at index
    * `ids.length`, with no edges), each node's out-degree, and the
    * edges whose two endpoints are both nodes as index pairs. */
  private final case class LocalGraph(ids: Array[Long], hasNull: Boolean,
      outdeg: Array[Int], src: Array[Int], dst: Array[Int]) {
    def size: Int = outdeg.length
  }

  /** The PageRank family's path choice. Returns the (src, dst) edge
    * frame for the distributed path — the counted checkpoint when one
    * was taken, so a graph past the gate reads it instead of paying a
    * discarded one — and the collected graph when the driver path
    * applies: Long `id`/`src`/`dst`, at most [[Dedup.driverMaxEdges]]
    * edges (the count of the checkpoint is the gate) and at most as
    * many node ids (see [[distinctIds]]). Partitions are collected in
    * order, so the edge order — and every sum over it — is the same
    * on every run.
    *
    * Edge semantics are the distributed joins', one for one: a null
    * `src` matches no rank and no node, so the edge is dropped; any
    * other edge counts in its `src`'s out-degree, and carries rank
    * only when both endpoints are nodes. */
  private def driverGraph(nodes: DataFrame, edges: DataFrame)
      : (DataFrame, Option[LocalGraph]) = {
    val e = edges.select(col("src"), col("dst"))
    if (!(nodes.select(col("id")).schema ++ e.schema).forall(_.dataType == LongType))
      return (e, None)
    val cap = Dedup.driverMaxEdges
    // a lazy checkpoint whose first job is the count: one job pins and
    // counts the edges (an eager checkpoint plus Dataset.count is three)
    val eCk = e.localCheckpoint(eager = false)
    val nEdges = eCk.queryExecution.toRdd.count()
    if (nEdges > cap) return (eCk, None)
    val (ids, hasNull) = distinctIds(nodes.select(col("id")), cap)
      .getOrElse(return (eCk, None))
    val parts = eCk.queryExecution.toRdd.mapPartitions { rows =>
      val s = Array.newBuilder[Long]
      val d = Array.newBuilder[Long]
      val sNullDst = Array.newBuilder[Long]
      rows.foreach { r =>
        if (!r.isNullAt(0)) {
          if (r.isNullAt(1)) sNullDst += r.getLong(0)
          else { s += r.getLong(0); d += r.getLong(1) }
        }
      }
      Iterator.single((s.result(), d.result(), sNullDst.result()))
    }.collect()
    val outdeg = new Array[Int](ids.length + (if (hasNull) 1 else 0))
    val src = new Array[Int](nEdges.toInt)
    val dst = new Array[Int](nEdges.toInt)
    var m = 0
    def index(id: Long): Int = java.util.Arrays.binarySearch(ids, id)
    parts.foreach { case (s, d, sNullDst) =>
      var j = 0
      while (j < s.length) {
        val si = index(s(j))
        if (si >= 0) {
          outdeg(si) += 1
          val di = index(d(j))
          if (di >= 0) { src(m) = si; dst(m) = di; m += 1 }
        }
        j += 1
      }
      sNullDst.foreach { x => val si = index(x); if (si >= 0) outdeg(si) += 1 }
    }
    (eCk, Some(LocalGraph(ids, hasNull, outdeg,
      java.util.Arrays.copyOf(src, m), java.util.Arrays.copyOf(dst, m))))
  }

  /** The distinct non-null values of a one-column LongType frame,
    * sorted, and whether it holds a null — or None past `cap`. Each
    * task dedups its partition and stops after cap + 1 ids; the driver
    * keeps arrivals only while their running total stays within the
    * cap, so neither side ever holds more than that. The total
    * over-counts ids repeated across partitions, which can only send a
    * graph to the distributed path, never let one past the cap. */
  private def distinctIds(df: DataFrame, cap: Long): Option[(Array[Long], Boolean)] = {
    val perTask = df.queryExecution.toRdd.mapPartitions { rows =>
      val seen = collection.mutable.LongMap.empty[Unit]
      var nul = false
      while (rows.hasNext && seen.size <= cap) {
        val r = rows.next()
        if (r.isNullAt(0)) nul = true else seen(r.getLong(0)) = ()
      }
      Iterator.single((seen.keysIterator.toArray, nul))
    }
    val kept = collection.mutable.ArrayBuffer.empty[Array[Long]]
    var total = 0L
    var hasNull = false
    df.sparkSession.sparkContext.runJob(perTask,
      (it: Iterator[(Array[Long], Boolean)]) => it.next(),
      (_: Int, r: (Array[Long], Boolean)) => {
        total += r._1.length
        hasNull ||= r._2
        if (total <= cap) kept += r._1 else kept.clear()
      })
    if (total > cap) return None
    val all = kept.toArray.flatten
    java.util.Arrays.sort(all)
    var k = 0 // in-place unique over the sorted ids
    all.indices.foreach { i =>
      if (i == 0 || all(i) != all(i - 1)) { all(k) = all(i); k += 1 }
    }
    Some((java.util.Arrays.copyOf(all, k), hasNull))
  }

  /** `iters` power-method steps over `g`, run in-process; returns the
    * last two iterates (the initial vector stands in for the previous
    * one after a single step). Each step is the distributed step's
    * arithmetic term for term: per-edge contributions `pr/outdeg`
    * summed by dst, the dangling mass summed over nodes with no
    * out-edges (the null node always among them), then
    * `(1-d)/n + d·(in + dm/n)` from init 1/n — or, given a teleport
    * vector `tele` ([[personalizedPageRank]]), `(1-d)·t + d·(in + dm·t)`
    * from init `t`. */
  private def powerIterate(g: LocalGraph, tele: Array[Double], iters: Int,
      damping: Double): (Array[Double], Array[Double]) = {
    val size = g.size
    val nD = size.toDouble
    var r = if (tele == null) Array.fill(size)(1.0 / nD) else tele
    var prev = r
    val contrib = new Array[Double](size)
    val in = new Array[Double](size)
    var it = 0
    while (it < iters) {
      var dm = 0.0
      var i = 0
      while (i < size) {
        if (g.outdeg(i) == 0) dm += r(i) else contrib(i) = r(i) / g.outdeg(i)
        i += 1
      }
      java.util.Arrays.fill(in, 0.0)
      var j = 0
      while (j < g.src.length) { in(g.dst(j)) += contrib(g.src(j)); j += 1 }
      val next = new Array[Double](size)
      i = 0
      while (i < size) {
        next(i) =
          if (tele == null) (1.0 - damping) / nD + damping * (in(i) + dm / nD)
          else (1.0 - damping) * tele(i) + damping * (in(i) + dm * tele(i))
        i += 1
      }
      prev = r
      r = next
      it += 1
    }
    (prev, r)
  }

  /** One (id, pr) row per node of `g` as a local relation. */
  private def rankRelation(nodes: DataFrame, g: LocalGraph,
      pr: Array[Double]): DataFrame = {
    val rows = new java.util.ArrayList[Row](g.size)
    g.ids.indices.foreach(i => rows.add(Row(g.ids(i), pr(i))))
    if (g.hasNull) rows.add(Row(null, pr(g.ids.length)))
    nodes.sparkSession.createDataFrame(rows, StructType(Seq(
      StructField("id", LongType), StructField("pr", DoubleType))))
  }

  /**
   * HITS hubs & authorities (Kleinberg 1999, public): mutual
   * reinforcement — a good hub links to good authorities, a good
   * authority is linked from good hubs. Per iteration: authority =
   * dst-keyed sum of hub over in-edges, L2-normalized; then hub =
   * src-keyed sum of the NEW authority over out-edges, L2-normalized
   * (the classic in-place ordering). Both normalizations are one-row
   * aggregates cross-joined back — declarative, no driver collect;
   * edge frame checkpointed once, scores are node-sized.
   */
  def hits(nodes: DataFrame, edges: DataFrame, iters: Int): DataFrame = {
    require(iters >= 1, "hits needs at least one iteration")
    val n = nodes.select(col("id")).distinct().localCheckpoint()
    val e = edges.select(col("src"), col("dst")).localCheckpoint()

    def l2normalize(df: DataFrame, c: String): DataFrame = {
      val norm = df.agg(sqrt(sum(col(c) * col(c))).as("__norm"))
      df.crossJoin(norm)
        .select(col("id"),
          when(col("__norm") > 0.0, col(c) / col("__norm"))
            .otherwise(lit(0.0)).as(c))
    }

    var hubs = n.select(col("id"), lit(1.0).as("hub")).localCheckpoint()
    var auths = n.select(col("id"), lit(1.0).as("auth"))
    // gated per-round broadcast hints — see broadcastMaxNodes
    val small = n.count() <= broadcastMaxNodes
    def bc(df: DataFrame): DataFrame = if (small) broadcast(df) else df
    var it = 0
    while (it < iters) {
      val hubsB = bc(hubs)
      val authRaw = hubsB
        .join(e, hubsB("id") === e("src"))
        .groupBy(col("dst").as("id"))
        .agg(sum(col("hub")).as("auth"))
      auths = l2normalize(
        n.join(bc(authRaw), Seq("id"), "left_outer")
          .select(col("id"), coalesce(col("auth"), lit(0.0)).as("auth")),
        "auth").localCheckpoint()
      val authsB = bc(auths)
      val hubRaw = authsB
        .join(e, authsB("id") === e("dst"))
        .groupBy(col("src").as("id"))
        .agg(sum(col("auth")).as("hub"))
      hubs = l2normalize(
        n.join(bc(hubRaw), Seq("id"), "left_outer")
          .select(col("id"), coalesce(col("hub"), lit(0.0)).as("hub")),
        "hub").localCheckpoint()
      it += 1
    }
    auths.join(bc(hubs), "id")
  }

  /**
   * Synchronous label propagation (Raghavan et al. 2007, public) with
   * a DETERMINISTIC vote rule — the near-linear community detector a
   * crawl pipeline runs over its host/link graph to find template
   * families and mutually-linking spam clusters.
   *
   * Every node starts labeled with its own id. Each round, a node
   * adopts the label with the most votes among its undirected
   * neighbors PLUS ONE self-vote for its current label (the self-vote
   * is the standard damping against the 2-cycle oscillation of the
   * synchronous variant); ties break toward the SMALLEST label, so a
   * round is a pure function of the previous labeling and the whole
   * run replays bit-identically in any engine.
   *
   * Scale shape: the adjacency (both directions of the deduped
   * undirected edge set) is `localCheckpoint`ed once; each round is
   * one node-sized label shuffle joined against it, a decomposable
   * (node, label) count, and the `min(struct(-count, label))` argmax —
   * no windows, no driver state, iteration count the only sequential
   * dimension (the [[pageRank]] discipline). On a cluster, bucket the
   * adjacency by `v` so rounds co-locate without reshuffling edges.
   *
   * @return one row per node: (id, label) after `iters` rounds
   */
  def labelPropagation(
      nodes: DataFrame,
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      iters: Int): DataFrame = {
    require(iters >= 1, "labelPropagation needs at least one iteration")
    val und = edges
      .select(least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .filter(col("a") =!= col("b") && col("a").isNotNull && col("b").isNotNull)
      .distinct()
    val adj = und.select(col("a").as("v"), col("b").as("nbr"))
      .unionAll(und.select(col("b").as("v"), col("a").as("nbr")))
      .localCheckpoint() // immutable per-round input
    val n = nodes.select(col("id")).distinct().localCheckpoint()

    var labels = n.select(col("id"), col("id").as("label")).localCheckpoint()
    // gated per-round broadcast hint — see broadcastMaxNodes
    // (labels are node-sized (long, long) rows; un-hinted the vote
    // join exchanges the ADJACENCY by nbr every round)
    val small = n.count() <= broadcastMaxNodes
    var it = 0
    while (it < iters) {
      val labelsB =
        if (small) broadcast(labels.select(col("id").as("nbr"), col("label")))
        else labels.select(col("id").as("nbr"), col("label"))
      val nbrVotes = adj
        .join(labelsB, Seq("nbr"))
        .select(col("v").as("id"), col("label"))
      val votes = nbrVotes.unionAll(labels) // self-vote damps oscillation
      labels = votes
        .groupBy(col("id"), col("label"))
        .agg(count(lit(1)).as("__c"))
        .groupBy(col("id"))
        .agg(min(struct((-col("__c")).as("nc"), col("label").as("l")))
          .as("__m"))
        .select(col("id"), col("__m.l").as("label"))
        .localCheckpoint()
      it += 1
    }
    labels
  }

  /**
   * Attribute (categorical) assortativity — Newman 2003's mixing
   * coefficient for a NODE LABEL (language, host class): do edges
   * connect like with like?
   *
   *   r = (Σ_x e_xx − Σ_x a_x·b_x) / (1 − Σ_x a_x·b_x)
   *
   * over the directed mixing matrix (e_xy = edge fraction from label x
   * to label y; a/b the margins). The categorical sibling of
   * [[degreeAssortativity]]: r → 1 means language-segregated link
   * communities (expected in a web graph), r ≈ 0 random mixing,
   * r < 0 disassortative. DETERMINISM: over the common denominator E²
   * both numerator `E·Σn_xx − Σ rowsum_x·colsum_x` and denominator
   * `E² − Σ rowsum_x·colsum_x` are exact integers — one division
   * (round 6); a single-label graph has an undefined r → null.
   *
   * Scale shape: one label attach per endpoint (node-sized joins), a
   * label²-bounded mixing count + label-bounded margins, 1-row rollup.
   *
   * Output: one row (n_edges, n_same_label, r_assortativity).
   */
  def attributeAssortativity(
      edges: DataFrame,
      labels: DataFrame,
      srcCol: String,
      dstCol: String): DataFrame = {
    val lab = labels.select(col("id"), col("label"))
    val tagged = edges
      .select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull)
      .join(lab.select(col("id").as("src"), col("label").as("__lx")),
        Seq("src"))
      .join(lab.select(col("id").as("dst"), col("label").as("__ly")),
        Seq("dst"))
    val mix = tagged.groupBy("__lx", "__ly")
      .agg(count(lit(1)).as("__n"))
      .localCheckpoint() // feeds margins AND the diagonal
    val rows = mix.groupBy("__lx").agg(sum("__n").as("__rs"))
    val cols_ = mix.groupBy("__ly").agg(sum("__n").as("__cs"))
    val cross = rows
      .join(cols_, col("__lx") === col("__ly"))
      .agg(coalesce(sum(col("__rs") * col("__cs")), lit(0L)).as("__ab"))
    val diag = mix.agg(
      sum(col("__n")).as("n_edges"),
      sum(when(col("__lx") === col("__ly"), col("__n")).otherwise(0L))
        .as("n_same_label"))
    diag.crossJoin(cross)
      .select(col("n_edges"), col("n_same_label"),
        when(col("n_edges") * col("n_edges") === col("__ab"),
          lit(null).cast("double"))
          .otherwise(round(
            (col("n_edges") * col("n_same_label") - col("__ab"))
              .cast("double") /
              (col("n_edges") * col("n_edges") - col("__ab")), 6))
          .as("r_assortativity"))
  }

  /**
   * Directed reciprocity — the fraction of distinct directed edges
   * whose reverse also exists (textbook network statistic): high
   * reciprocity in a web/link graph flags link exchanges and mutual-
   * citation rings; organic citation graphs run low. One distinct
   * edge set + ONE self-join on the reversed key — decomposable,
   * edge-∝, no windows. Self-loops are excluded (they are trivially
   * their own reverse and inflate the ratio).
   *
   * Output: one row (n_edges, n_reciprocated, reciprocity round 6).
   */
  def reciprocity(
      edges: DataFrame,
      srcCol: String,
      dstCol: String): DataFrame = {
    val e = edges
      .select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .filter(col("src") =!= col("dst") &&
        col("src").isNotNull && col("dst").isNotNull)
      .distinct()
      .localCheckpoint() // self-joined below
    e.join(e.select(col("dst").as("src"), col("src").as("dst")),
        Seq("src", "dst"), "left_semi")
      .agg(count(lit(1)).as("n_reciprocated"))
      .crossJoin(e.agg(count(lit(1)).as("n_edges")))
      .select(col("n_edges"), col("n_reciprocated"),
        round(col("n_reciprocated").cast("double") / col("n_edges"), 6)
          .as("reciprocity"))
  }

  /**
   * Per-community modularity decomposition (Newman & Girvan 2004,
   * public) — the quality gauge for ANY community assignment (label
   * propagation above, host clusters, template families): how much
   * denser is each community than the degree-preserving random graph?
   *
   *   Q = Σ_c [ L_c/m − (D_c/2m)² ]
   *
   * (m = undirected edge count, L_c = edges internal to c, D_c = total
   * degree of c's nodes). Emitted per community over the common
   * denominator 4m²: `q_term = (4·m·L_c − D_c²) / (4m²)` — the
   * numerator is an exact integer (counts only), so each term is ONE
   * IEEE division and the frame replays bit-for-bit in any engine;
   * Q itself is the sum of the unrounded terms (sum the micro column
   * when exactness matters downstream).
   *
   * Scale shape: edges dedup to the undirected set once (the
   * [[labelPropagation]] normalization, so the two compose on the
   * same graph), then TWO node-sized label joins tag each edge's
   * endpoints, and everything else is decomposable counts keyed by
   * community — no windows, no iteration, nothing driver-side. The
   * 1-row m frame broadcasts.
   *
   * Output: one row per community:
   * (label, n_nodes, degree_sum, internal_edges, q_term round 6).
   */
  def communityModularity(
      labels: DataFrame,
      edges: DataFrame,
      srcCol: String,
      dstCol: String): DataFrame = {
    val und = edges
      .select(least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .filter(col("a") =!= col("b") && col("a").isNotNull && col("b").isNotNull)
      .distinct()
      .localCheckpoint() // feeds m, degrees, and the tagged-edge frame
    val m = und.agg(count(lit(1)).as("__m"))
    val lab = labels.select(col("id"), col("label"))
    val degrees = und.select(col("a").as("id"))
      .unionAll(und.select(col("b").as("id")))
      .groupBy("id").agg(count(lit(1)).as("__deg"))
    val degSum = lab.join(degrees, Seq("id"), "left_outer")
      .groupBy("label")
      .agg(count(lit(1)).as("n_nodes"),
        sum(coalesce(col("__deg"), lit(0L))).as("degree_sum"))
    val internal = und
      .join(lab.select(col("id").as("a"), col("label").as("__la")), Seq("a"))
      .join(lab.select(col("id").as("b"), col("label").as("__lb")), Seq("b"))
      .filter(col("__la") === col("__lb"))
      .groupBy(col("__la").as("label"))
      .agg(count(lit(1)).as("internal_edges"))
    degSum
      .join(internal, Seq("label"), "left_outer")
      .withColumn("internal_edges",
        coalesce(col("internal_edges"), lit(0L)))
      .crossJoin(broadcast(m))
      .select(col("label"), col("n_nodes"), col("degree_sum"),
        col("internal_edges"),
        round((lit(4) * col("__m") * col("internal_edges") -
          col("degree_sum") * col("degree_sum")).cast("double") /
          (lit(4) * col("__m") * col("__m")), 6).as("q_term"))
  }

  /**
   * Multi-source BFS hop distance from a trusted seed set — the
   * link-distance prior behind TrustRank-style curation (Gyöngyi et
   * al. 2004, public): pages few hops from vetted seeds are
   * disproportionately clean, pages unreachable in `maxHops` get no
   * distance (NULL). Directed: distance follows OUT-links from seeds.
   *
   * Declarative frontier relaxation — round k joins the CURRENT
   * distance frame (node-sized) against the checkpointed edges and
   * keeps the min of (old, via-in-neighbor + 1): a decomposable `min`
   * aggregation per round, no windows, no driver state. Iteration
   * count (the graph diameter cap) is the only sequential dimension;
   * on a cluster, bucket edges by `src` so every round co-locates
   * against the same layout. Integer arithmetic end-to-end — replays
   * exactly.
   */
  def seedDistance(
      nodes: DataFrame,
      edges: DataFrame,
      seeds: DataFrame,
      maxHops: Int): DataFrame = {
    require(maxHops >= 1, "seedDistance needs at least one hop")
    val e = edges.select(col("src"), col("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull)
      .distinct()
      .localCheckpoint()
    val n = nodes.select(col("id")).distinct()
      .join(seeds.select(col("id")).distinct()
        .withColumn("__seed", lit(0L)), Seq("id"), "left_outer")
      .select(col("id"), col("__seed").as("dist")) // seeds 0, rest NULL
      .localCheckpoint()

    var dist = n
    // gated per-hop broadcast hints — see broadcastMaxNodes
    // (dist is node-sized and checkpointed per hop: no stats, so both
    // joins planned sort-merge, exchanging the EDGE frame every hop;
    // min() over integer hops is order-free, labels exact)
    val small = n.count() <= broadcastMaxNodes
    var it = 0
    while (it < maxHops) {
      val frontier = dist.filter(col("dist").isNotNull)
      val frontierB = if (small) broadcast(frontier) else frontier
      val relaxed = frontierB
        .join(e, frontierB("id") === e("src"))
        .groupBy(col("dst").as("id"))
        .agg(min(col("dist") + 1L).as("__via"))
      dist = dist
        .join(if (small) broadcast(relaxed) else relaxed,
          Seq("id"), "left_outer")
        .select(col("id"), least(col("dist"), col("__via")).as("dist"))
        .localCheckpoint()
      it += 1
    }
    dist
  }

  /**
   * Co-citation strength (Small 1973, public): two pages are related
   * when many THIRD pages cite both — the link-structure similarity
   * signal that needs no content. One row per unordered target pair
   * with `n_common` = distinct citing sources shared.
   *
   * Scale shape: (src, dst) pairs dedup first (a page citing twice
   * votes once), then a self-join keyed ON THE CITING SOURCE emits
   * Σ C(outdeg, 2) candidate pairs — bounded by the out-degree cap
   * the crawl already enforces (a page cites tens, not millions), so
   * the join never squares a popular TARGET's in-degree. The pair
   * count aggregation is decomposable; no windows.
   */
  def coCitation(
      edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull)
      .distinct()
      .localCheckpoint()
    e.select(col("src"), col("dst").as("ta"))
      .join(e.select(col("src"), col("dst").as("tb")), Seq("src"))
      .filter(col("ta") < col("tb"))
      .groupBy(col("ta"), col("tb"))
      .agg(count(lit(1)).as("n_common"))
  }

  /**
   * Bibliographic coupling (Kessler 1963, public) — the dual of
   * [[coCitation]]: two SOURCES are related when their out-link sets
   * overlap (near-identical out-link sets = template/mirror pages).
   * Self-join keyed on the shared TARGET: cost Σ C(indeg, 2), so a
   * hub target with huge in-degree dominates — cap it first with
   * `maxIndeg` (links into a mega-hub carry no coupling signal; the
   * standard stoplist discipline, same role as [[UrlOps]] domain
   * caps). Pairs from capped-out targets are dropped, not sampled —
   * deterministic.
   */
  def bibCoupling(
      edges: DataFrame, srcCol: String, dstCol: String,
      maxIndeg: Long = 1000L): DataFrame = {
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull)
      .distinct()
    val kept = e.groupBy(col("dst")).agg(count(lit(1)).as("__in"))
      .filter(col("__in") <= maxIndeg)
      .select(col("dst"))
    val ee = e.join(kept, Seq("dst"), "left_semi").localCheckpoint()
    ee.select(col("dst"), col("src").as("sa"))
      .join(ee.select(col("dst"), col("src").as("sb")), Seq("dst"))
      .filter(col("sa") < col("sb"))
      .groupBy(col("sa"), col("sb"))
      .agg(count(lit(1)).as("n_common"))
  }

  /**
   * Triangle counting via DEGREE-ORDERED edge orientation (the
   * compact-forward / node-iterator++ algorithm, public) — the graph
   * density primitive behind clustering coefficients, community
   * quality, and near-dup-cluster shape audits.
   *
   * Each undirected edge is oriented from its lower-(degree, id)
   * endpoint to the higher, so every triangle has EXACTLY one wedge at
   * its minimum vertex: count = |wedges that close|. The orientation
   * is the scale story: out-degree under it is O(√m), so the wedge
   * self-join materializes Σ d⁺(v)² = O(m^1.5) candidates instead of
   * the Σ d(v)² a naive wedge join pays on skewed graphs (one
   * celebrity node would otherwise square its degree).
   *
   * Shape: canonical-edge dedup → one degree aggregation → two
   * broadcast-or-shuffle hash joins attach the orientation keys → one
   * wedge self-join on the apex + one semi-join against the oriented
   * edge set → 1-row report (n_vertices, n_edges, n_wedges,
   * n_triangles). All joins key on vertex ids; no windows, no driver
   * state.
   */
  def triangles(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val (und, deg, wedges, closed) = triangleFrames(edges, srcCol, dstCol)
    deg.agg(count(lit(1)).as("n_vertices"))
      .crossJoin(und.agg(count(lit(1)).as("n_edges")))
      .crossJoin(wedges.agg(count(lit(1)).as("n_wedges")))
      .crossJoin(closed.agg(count(lit(1)).as("n_triangles")))
  }

  /** Shared degree-ordered-orientation pipeline behind [[triangles]]
    * and [[clusteringCoefficients]]: canonical undirected edges,
    * degrees, candidate wedges, and the CLOSED (apex, u, w) triples —
    * each closed row is exactly one triangle (the orientation
    * guarantees uniqueness at the minimum vertex). */
  private def triangleFrames(
      edges: DataFrame, srcCol: String, dstCol: String)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val und = edges
      .select(least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .filter(col("a") =!= col("b") && col("a").isNotNull && col("b").isNotNull)
      .distinct()
      .localCheckpoint()
    val deg = und.select(explode(array(col("a"), col("b"))).as("v"))
      .groupBy("v").agg(count(lit(1)).as("d"))
    // orient by (degree, id): lower key -> higher key
    val withKeys = und
      .join(deg.select(col("v").as("a"), col("d").as("da")), Seq("a"))
      .join(deg.select(col("v").as("b"), col("d").as("db")), Seq("b"))
    val aFirst = col("da") < col("db") ||
      (col("da") === col("db") && col("a") < col("b"))
    val oriented = withKeys.select(
        when(aFirst, col("a")).otherwise(col("b")).as("from"),
        when(aFirst, col("b")).otherwise(col("a")).as("to"),
        when(aFirst, col("db")).otherwise(col("da")).as("dto"))
      .localCheckpoint()
    // wedges at the apex; the pair ordered by the SAME (degree, id)
    // key so the closing edge, if present, is oriented exactly u -> w
    val x = oriented.select(col("from").as("apex"), col("to").as("u"),
      col("dto").as("du"))
    val y = oriented.select(col("from").as("apex"), col("to").as("w"),
      col("dto").as("dw"))
    val wedges = x.join(y, Seq("apex"))
      .filter(col("du") < col("dw") ||
        (col("du") === col("dw") && col("u") < col("w")))
    val closed = wedges.join(
      oriented.select(col("from").as("u"), col("to").as("w")),
      Seq("u", "w"), "left_semi")
    (und, deg, wedges, closed)
  }

  /**
   * Per-vertex local clustering coefficient (Watts–Strogatz 1998,
   * public): `cc = 2·T_v / (d_v·(d_v − 1))` — how close a page's link
   * neighborhood is to a clique. In a web corpus the extremes are the
   * signal: cc≈1 hubs inside densely self-linking families are
   * template/spam suspects, cc≈0 high-degree nodes are genuine
   * aggregation points.
   *
   * Shape: the [[triangleFrames]] pipeline (O(m^1.5) bound from the
   * degree orientation) + one explode of each closed triple into its
   * three corners and a decomposable per-vertex count; degree-1
   * vertices get cc NULL (undefined denominator), not 0 — a leaf is
   * not "unclustered", it is unmeasurable. The division is plain IEEE
   * double of two integers (identical across engines); callers round.
   */
  def clusteringCoefficients(
      edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val (_, deg, _, closed) = triangleFrames(edges, srcCol, dstCol)
    val perVertex = closed
      .select(explode(array(col("apex"), col("u"), col("w"))).as("v"))
      .groupBy("v").agg(count(lit(1)).as("n_triangles"))
    deg
      .join(perVertex, Seq("v"), "left_outer")
      .select(col("v").as("id"), col("d").as("degree"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"))
      .withColumn("cc",
        when(col("degree") >= 2,
          lit(2.0) * col("n_triangles") /
            (col("degree") * (col("degree") - 1))))
  }

  /**
   * k-core peeling (Seidman 1983, public) — the density filter a
   * link-graph curation pass runs before trusting graph signals:
   * vertices outside the k-core (the maximal subgraph where every
   * vertex keeps degree ≥ k INSIDE the subgraph) are periphery —
   * pendant chains, one-shot links — whose PageRank/community labels
   * are noise; the core is where mutually-reinforcing structure
   * (templates, spam farms, genuine hubs) lives.
   *
   * Synchronous peeling: each round computes degrees over the CURRENT
   * edge set, drops every vertex with degree < k, and keeps only
   * edges whose BOTH endpoints survive. A round is a pure function of
   * the previous edge set — integer counts and comparisons only — so
   * `rounds` fixed rounds replay bit-identically in any engine
   * (unrolled CTEs in the oracle). With `rounds` ≥ the peeling depth
   * the result IS the exact k-core; callers verify convergence by
   * checking one extra round changes nothing (the spec does).
   *
   * Scale shape: each round is ONE degree aggregation over the
   * shrinking checkpointed edge frame plus two semi-joins — no
   * windows, no driver state; the edge set only ever shrinks, so the
   * per-round cost is monotone non-increasing. On a cluster, bucket
   * the canonical edges by `a` so rounds co-locate. Peeling depth on
   * real web graphs is small (degeneracy ordering removes whole
   * shells per round), so the sequential dimension stays short.
   *
   * @return one row per surviving vertex: (id, core_deg) — its degree
   *         inside the remaining subgraph after `rounds` peels
   */
  def kCore(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      k: Int,
      rounds: Int): DataFrame = {
    require(k >= 1, "kCore needs k >= 1")
    require(rounds >= 1, "kCore needs at least one peeling round")
    var und = edges
      .select(least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .filter(col("a") =!= col("b") && col("a").isNotNull && col("b").isNotNull)
      .distinct()
      .localCheckpoint()
    // gated per-round broadcast hints — see broadcastMaxNodes:
    // `keep` is node-sized (≤ 2·edges survivors, and peeling only
    // shrinks), but un-hinted both semi joins planned sort-merge,
    // exchanging the EDGE frame twice per round; semi-join semantics
    // are set membership — exact either way
    val small = und.count() * 2 <= broadcastMaxNodes
    var it = 0
    while (it < rounds) {
      val keep = und.select(explode(array(col("a"), col("b"))).as("v"))
        .groupBy("v").agg(count(lit(1)).as("d"))
        .filter(col("d") >= k)
        .select("v")
      def side(c: String) = {
        val s = keep.select(col("v").as(c))
        if (small) broadcast(s) else s
      }
      und = und
        .join(side("a"), Seq("a"), "left_semi")
        .join(side("b"), Seq("b"), "left_semi")
        .select("a", "b")
        .localCheckpoint()
      it += 1
    }
    und.select(explode(array(col("a"), col("b"))).as("id"))
      .groupBy("id").agg(count(lit(1)).as("core_deg"))
  }

  /**
   * Degree assortativity coefficient (Newman 2002, public): the
   * Pearson correlation of endpoint degrees over the undirected edge
   * set — positive when hubs link to hubs (social/citation shape),
   * negative when hubs link to leaves (web/biology shape, also the
   * signature of template/hub spam farms). Computed over full
   * degrees on the symmetrized edge sample (each edge contributes
   * both orientations, the convention NetworkX ships), where symmetry
   * collapses Pearson to `r = (M·Σxy − (Σx)²) / (M·Σx² − (Σx)²)`.
   *
   * Every Σ is an INTEGER sum of degree products — exact and
   * decomposable; ONE canonical-edge dedup, one degree aggregation,
   * two attach joins, one 1-row rollup, one final double division
   * (round 6). Regular graphs (zero degree variance) yield NULL, not
   * a 0/0. Nothing but (edge, degree) pairs ever shuffles.
   */
  def degreeAssortativity(
      edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val und = edges
      .select(least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .filter(col("a") =!= col("b") && col("a").isNotNull && col("b").isNotNull)
      .distinct()
      .localCheckpoint()
    val deg = und.select(explode(array(col("a"), col("b"))).as("v"))
      .groupBy("v").agg(count(lit(1)).as("d"))
    val attached = und
      .join(deg.select(col("v").as("a"), col("d").as("da")), Seq("a"))
      .join(deg.select(col("v").as("b"), col("d").as("db")), Seq("b"))
    val sym = attached.select(col("da").as("x"), col("db").as("y"))
      .unionAll(attached.select(col("db").as("x"), col("da").as("y")))
    sym.agg(
        count(lit(1)).as("m2"),
        sum(col("x") * col("y")).as("sum_xy"),
        sum(col("x")).as("sum_x"),
        sum(col("x") * col("x")).as("sum_x2"))
      .crossJoin(deg.agg(count(lit(1)).as("n_nodes")))
      .select(col("n_nodes"), (col("m2") / 2).cast("long").as("n_edges"),
        col("sum_xy"), col("sum_x"), col("sum_x2"),
        when(col("m2") * col("sum_x2") - col("sum_x") * col("sum_x") =!= 0L,
          round((col("m2") * col("sum_xy") - col("sum_x") * col("sum_x"))
            .cast("double") /
            (col("m2") * col("sum_x2") - col("sum_x") * col("sum_x"))
              .cast("double"), 6))
          .as("assortativity"))
  }
}
