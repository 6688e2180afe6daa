package graft.kg

import graft.core.DriverFallback
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/**
 * Structural analytics over the materialized knowledge graph: triangle
 * counting, duplicate-entity candidates by neighborhood overlap, and
 * multi-source shortest-hop BFS. All three take the (subj, obj) entity
 * edge list the canonicalization stage emits (reference anchor: the
 * reference pipeline stops at per-sentence NER output — `NeuralNERMono/
 * NeuralNER.py:352-381` writes tagged tokens and never builds a graph;
 * the graph layer is part of this engine's KG-construction surface).
 *
 * Determinism: every output column is an integer (counts, hop distances)
 * computed by order-free aggregation (Long sums/counts over distinct
 * rows), so results are bit-identical at any partitioning and
 * cross-engine comparable without float tolerance — Jaccard thresholds
 * are integer cross-multiplications, never a double division.
 */
object Graphs {

  /** Last hub-drop report per label (witness values whose co-neighbor
    * list exceeded the cap), populated synchronously before the operator
    * returns — the [[graft.ops.Dedup.lastDropReport]] convention. */
  val lastDropReport: scala.collection.concurrent.TrieMap[String, (Long, Long)] =
    scala.collection.concurrent.TrieMap.empty

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Collected (long, long) edge rows as driver pairs. */
  private[kg] def pairs(rows: Array[Row]): Array[(Long, Long)] =
    rows.map(r => (r.getLong(0), r.getLong(1)))

  /** Collected (long, long, long) weighted/timed edge rows as triples. */
  private[kg] def triples(rows: Array[Row]): Array[(Long, Long, Long)] =
    rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))

  /** Canonical simple undirected edge set: (a < b), self-loop-free,
    * distinct. ONE shuffle (the distinct). */
  private def undirected(edgesIn: DataFrame): DataFrame = edgesIn
    .select(col("src").cast("long"), col("dst").cast("long"))
    .filter(col("src") =!= col("dst"))
    .select(least(col("src"), col("dst")).as("a"),
      greatest(col("src"), col("dst")).as("b"))
    .distinct()

  /**
   * Per-entity triangle participation counts over the undirected simple
   * graph (directed multigraph edges collapse first; a triangle is an
   * unordered node triple with all three edges present).
   *
   * Algorithm — degree-ordered orientation ("compact-forward", Latapy
   * 2008; the standard web-scale shape): orient every undirected edge
   * from the endpoint with the SMALLER (degree, id) key to the larger.
   * The orientation is acyclic and bounds every node's out-degree by
   * O(sqrt(m)) regardless of how skewed the real degree distribution is
   * — a celebrity hub with 10^8 undirected neighbors still generates
   * wedges only from its (few) higher-key neighbors, so the wedge
   * self-join fan-out is sum(outdeg^2) <= m^{3/2}, never deg^2 of the
   * hub. Each triangle is then found EXACTLY once: its minimum-key node
   * emits the wedge (lo, hi) and the closing oriented edge lo -> hi is
   * probed by an equi-join (no post-hoc dedup shuffle).
   *
   * Plan: distinct + degree agg + two degree-attach joins + wedge
   * self-join on src + closing equi-join on (lo, hi) + explode/count —
   * every shuffle is on 8/16-byte integer keys, every aggregation
   * partial-aggregates map-side, nothing driver-side at any scale.
   *
   * @return (id: long, triangles: long) for every node of the simple
   *         graph, zeros included.
   */
  def triangles(edgesIn: DataFrame): DataFrame = {
    val e = undirected(edgesIn).localCheckpoint(true)
    val deg = e.select(col("a").as("id"))
      .unionAll(e.select(col("b").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("deg"))
    // attach both endpoint degrees, then orient by the (deg, id) key
    val withDeg = e
      .join(deg.select(col("id").as("a"), col("deg").as("da")), Seq("a"))
      .join(deg.select(col("id").as("b"), col("deg").as("db")), Seq("b"))
    val aFirst = struct(col("da"), col("a")) < struct(col("db"), col("b"))
    val oriented = withDeg.select(
      when(aFirst, col("a")).otherwise(col("b")).as("src"),
      when(aFirst, col("b")).otherwise(col("a")).as("dst"),
      when(aFirst, col("db")).otherwise(col("da")).as("ddeg"))
      .localCheckpoint(true)
    // wedges at the minimum-key node: both out-neighbors, ordered by the
    // SAME (deg, id) key as the orientation so the closing edge (lo, hi)
    // is guaranteed to be stored in that direction if it exists
    val o1 = oriented.select(col("src"), col("dst").as("lo"), col("ddeg").as("lodeg"))
    val o2 = oriented.select(col("src"), col("dst").as("hi"), col("ddeg").as("hideg"))
    val wedges = o1.join(o2, Seq("src"))
      .filter(struct(col("lodeg"), col("lo")) < struct(col("hideg"), col("hi")))
    val tris = wedges.join(
      oriented.select(col("src").as("lo"), col("dst").as("hi")), Seq("lo", "hi"))
      .select(col("src"), col("lo"), col("hi"))
    val counts = tris
      .select(explode(array(col("src"), col("lo"), col("hi"))).as("id"))
      .groupBy(col("id")).agg(count(lit(1)).as("cnt"))
    deg.join(counts, Seq("id"), "left")
      .select(col("id"), coalesce(col("cnt"), lit(0L)).as("triangles"))
  }

  /**
   * Per-EDGE triangle support over the undirected simple graph — the
   * k-truss inner primitive (an edge is in the k-truss iff its support
   * is >= k−2 after peeling) and the strong-tie detector on its own: an
   * edge embedded in many triangles is community-internal, a
   * zero-support edge is a bridge candidate (Granovetter's weak ties).
   *
   * Same degree-ordered orientation as [[triangles]] (each triangle
   * enumerated exactly once at its min-(deg, id) corner, wedge fan-out
   * O(sqrt m) under any hub skew); each found triangle (src, lo, hi)
   * then credits its THREE undirected edges via one explode + one
   * partial-agg count, and the full edge set left-joins the credits so
   * zero-support edges surface explicitly.
   *
   * @return (a, b, support) with a < b, one row per edge of the simple
   *         graph
   */
  def edgeSupport(edgesIn: DataFrame): DataFrame =
    supportOf(undirected(edgesIn).localCheckpoint(true))

  /** [[edgeSupport]]'s core over an ALREADY-canonical (a < b, distinct)
    * edge set — shared with the [[trussness]] peeling loop so each peel
    * round re-enumerates triangles over the survivors only. */
  private def supportOf(e: DataFrame): DataFrame = {
    val deg = e.select(col("a").as("id"))
      .unionAll(e.select(col("b").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("deg"))
    val withDeg = e
      .join(deg.select(col("id").as("a"), col("deg").as("da")), Seq("a"))
      .join(deg.select(col("id").as("b"), col("deg").as("db")), Seq("b"))
    val aFirst = struct(col("da"), col("a")) < struct(col("db"), col("b"))
    val oriented = withDeg.select(
      when(aFirst, col("a")).otherwise(col("b")).as("src"),
      when(aFirst, col("b")).otherwise(col("a")).as("dst"),
      when(aFirst, col("db")).otherwise(col("da")).as("ddeg"))
      .localCheckpoint(true)
    val o1 = oriented.select(col("src"), col("dst").as("lo"), col("ddeg").as("lodeg"))
    val o2 = oriented.select(col("src"), col("dst").as("hi"), col("ddeg").as("hideg"))
    val tris = o1.join(o2, Seq("src"))
      .filter(struct(col("lodeg"), col("lo")) < struct(col("hideg"), col("hi")))
      .join(oriented.select(col("src").as("lo"), col("dst").as("hi")),
        Seq("lo", "hi"))
      .select(col("src"), col("lo"), col("hi"))
    val credits = tris.select(explode(array(
        struct(least(col("src"), col("lo")).as("a"),
          greatest(col("src"), col("lo")).as("b")),
        struct(least(col("src"), col("hi")).as("a"),
          greatest(col("src"), col("hi")).as("b")),
        struct(least(col("lo"), col("hi")).as("a"),
          greatest(col("lo"), col("hi")).as("b")))).as("ed"))
      .select(col("ed.a").as("a"), col("ed.b").as("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("support"))
    e.join(credits, Seq("a", "b"), "left")
      .select(col("a"), col("b"),
        coalesce(col("support"), lit(0L)).as("support"))
  }

  /** Sequential truss peel (Wang & Cheng 2012's in-memory algorithm —
    * min-support edge first, the edge analog of Matula–Beck core
    * peeling): trussness(e) = max over the running k of support(e) + 2
    * at removal. Bounded by `smallGraphThreshold` edges. The empty graph
    * yields the empty (a, b, trussness) table. */
  private def driverTruss(spark: org.apache.spark.sql.SparkSession,
                          edges: Array[(Long, Long)]): DataFrame = {
    import scala.collection.mutable
    val nbr = mutable.Map.empty[Long, mutable.Set[Long]]
    edges.foreach { case (a, b) =>
      nbr.getOrElseUpdate(a, mutable.Set.empty) += b
      nbr.getOrElseUpdate(b, mutable.Set.empty) += a
    }
    def ord(x: Long, y: Long): (Long, Long) = (math.min(x, y), math.max(x, y))
    val support = mutable.Map.empty[(Long, Long), Int]
    edges.foreach { case (a, b) =>
      support((a, b)) = (nbr(a) & nbr(b)).size
    }
    // bucket queue by support (Matula–Beck): O(m + Σ decrements) moves,
    // never an O(m) min scan per removal
    val maxSup = if (edges.isEmpty) 0 else support.valuesIterator.max
    val buckets = Array.fill(maxSup + 1)(mutable.TreeSet.empty[(Long, Long)])
    support.foreach { case (e, s) => buckets(s) += e }
    def moveDown(e: (Long, Long)): Unit = {
      val s = support(e)
      buckets(s) -= e; buckets(s - 1) += e; support(e) = s - 1
    }
    val truss = mutable.Map.empty[(Long, Long), Int]
    var removed = 0
    var cur = 0
    var kRun = 2
    while (removed < edges.length) {
      while (cur <= maxSup && buckets(cur).isEmpty) cur += 1
      val e @ (a, b) = buckets(cur).head
      buckets(cur) -= e
      kRun = math.max(kRun, cur + 2)
      truss(e) = kRun
      removed += 1
      nbr(a) -= b; nbr(b) -= a
      (nbr(a) & nbr(b)).foreach { w =>
        moveDown(ord(a, w)); moveDown(ord(b, w))
      }
      if (cur > 0) cur -= 1
    }
    import spark.implicits._
    truss.iterator.map { case ((a, b), t) => (a, b, t.toLong) }.toSeq
      .toDF("a", "b", "trussness")
  }

  /**
   * Full TRUSS DECOMPOSITION: trussness(e) = the largest k such that e
   * survives in the k-truss — the subgraph where every edge closes
   * >= k−2 triangles (Cohen 2008). The edge-level strengthening of
   * [[coreness]]: cores bound communities by degree, trusses by actual
   * triangle embedding, so truss levels separate "hub-touching" from
   * "community-internal" far more sharply — the canonicalization-audit
   * signal for over-merged entities (a merged entity's edges span
   * communities and carry LOW trussness despite high degree).
   *
   * Distributed loop (the standard level-peel): for k = 3, 4, ...,
   * repeatedly drop every surviving edge whose support among survivors
   * is < k−2 (dropped edges take trussness k−1), iterating to the
   * fixpoint before advancing k. Each inner round is ONE oriented
   * triangle enumeration over the SURVIVORS ([[supportOf]] — wedge
   * fan-out O(sqrt m) under any skew) + one anti-join; work shrinks
   * with the peel. Below `smallGraphThreshold` edges the adaptive
   * driver fallback runs the min-support sequential peel
   * (equality-tested against the distributed loop at threshold 0, the
   * [[coreness]]/[[ConnectedComponents]] convention).
   *
   * @return (a, b, trussness) per edge of the simple graph,
   *         trussness >= 2
   */
  def trussness(edgesIn: DataFrame,
                smallGraphThreshold: Long = 100000L): DataFrame = {
    val e0 = undirected(edgesIn)
    // the sequential peel costs more per edge than the other driver loops
    // (triangle support per edge), hence its own 10^5 bound
    val small = DriverFallback.collectIfAtMost(e0, smallGraphThreshold)
    if (small.isDefined) return driverTruss(edgesIn.sparkSession, pairs(small.get))
    // past the probe the graph is non-empty (the empty graph always fits)
    var alive = e0.localCheckpoint(true)
    var nAlive = alive.count()
    var k = 3
    val peeled = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    while (nAlive > 0) {
      var changed = true
      while (changed && nAlive > 0) {
        val sup = supportOf(alive).localCheckpoint(true)
        val drop = sup.filter(col("support") < k - 2)
          .select(col("a"), col("b")).localCheckpoint(true)
        val nDrop = drop.count()
        if (nDrop == 0) changed = false
        else {
          peeled += drop.withColumn("trussness", lit(k - 1L))
          alive = alive.join(drop, Seq("a", "b"), "left_anti")
            .localCheckpoint(true)
          nAlive -= nDrop
        }
      }
      k += 1
    }
    peeled.reduce(_ unionAll _)
  }

  /**
   * RICH-CLUB connectivity profile (Zhou & Mondragón 2004): for every
   * degree threshold k that occurs in the graph, how many nodes exceed
   * it (N_k) and how many edges connect two such nodes (E_k) — the
   * caller derives φ(k) = 2·E_k / (N_k·(N_k−1)). A rising φ(k) means
   * the hubs form a club (they preferentially interlink — in an entity
   * graph, a densely self-referential head vocabulary); extraction
   * pipelines watch it because over-merging inflates exactly this curve.
   *
   * Shape: degree agg + two degree-attach keyed joins + per-edge
   * min-degree, then BOTH profiles fall out of cumulative sums over the
   * DEGREE HISTOGRAMS — tables bounded by |distinct degree values|, a
   * sketch-size artifact, so the unpartitioned cumsum windows order a
   * few hundred rows, never corpus-scale data. All integers.
   *
   * @return (k, n_nodes, n_edges) per distinct degree value k
   */
  def richClub(edgesIn: DataFrame): DataFrame = {
    val e = undirected(edgesIn).localCheckpoint(true)
    val deg = e.select(col("a").as("id")).unionAll(e.select(col("b").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("deg")).localCheckpoint(true)
    val edgeMin = e
      .join(deg.select(col("id").as("a"), col("deg").as("da")), Seq("a"))
      .join(deg.select(col("id").as("b"), col("deg").as("db")), Seq("b"))
      .select(least(col("da"), col("db")).as("md"))
    val nh = deg.groupBy(col("deg").as("d")).agg(count(lit(1)).as("nc"))
    val eh = edgeMin.groupBy(col("md").as("d")).agg(count(lit(1)).as("ec"))
    // suffix sums over the joint (tiny) threshold axis: rows with value
    // STRICTLY above k — shift the descending cumulative by the own row.
    // BOUNDED UNPARTITIONED WINDOW: its input is one row per DISTINCT
    // degree value (<= max degree — thousands even on a 10^12-edge graph),
    // never the node or edge table, so the single-task sort is O(|degrees|)
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("d").desc)
    val joint = nh.join(eh, Seq("d"), "full")
      .select(col("d"), coalesce(col("nc"), lit(0L)).as("nc"),
        coalesce(col("ec"), lit(0L)).as("ec"))
      .withColumn("n_ge", sum(col("nc")).over(w))
      .withColumn("e_ge", sum(col("ec")).over(w))
      .select(col("d").as("k"),
        (col("n_ge") - col("nc")).as("n_nodes"),
        (col("e_ge") - col("ec")).as("n_edges"))
    // report thresholds that exist as NODE degrees (the standard axis)
    joint.join(nh.select(col("d").as("k")), Seq("k"), "left_semi")
  }

  /**
   * One-round HANDSHAKE MATCHING over the undirected simple graph — the
   * deterministic distributed greedy matching that seeds multilevel
   * coarsening (pair matched nodes, contract via [[quotientGraph]],
   * recurse — the Metis/Graclus discipline; [[modularityMove]] is the
   * gain-driven sibling): every node PROPOSES to its (degree, id)-minimal
   * neighbor — preferring low-degree partners keeps hubs from absorbing
   * everything — and exactly the MUTUAL proposals become matches. One
   * synchronous round, shuffle-order invariant, each node in at most one
   * match by construction (its single proposal).
   *
   * Shape: one degree agg + degree-attach joins + ONE window-free
   * min(struct) election per node + ONE self-join on the reversed
   * proposal pair. All 8/16-byte integer keys.
   *
   * @return (a, b) matched pairs with a < b
   */
  def handshakeMatching(edgesIn: DataFrame): DataFrame = {
    val e = undirected(edgesIn).localCheckpoint(true)
    val deg = e.select(col("a").as("id")).unionAll(e.select(col("b").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("deg"))
    val dir = e.select(col("a").as("i"), col("b").as("j"))
      .unionAll(e.select(col("b").as("i"), col("a").as("j")))
    val proposal = dir
      .join(deg.select(col("id").as("j"), col("deg").as("kj")), Seq("j"))
      .groupBy(col("i"))
      .agg(min(struct(col("kj"), col("j"))).as("best"))
      .select(col("i"), col("best.j").as("j"))
    proposal.join(
        proposal.select(col("j").as("i"), col("i").as("j")), Seq("i", "j"))
      .filter(col("i") < col("j"))
      .select(col("i").as("a"), col("j").as("b"))
  }

  /** Symmetric neighbor relation of the simple undirected graph:
    * (node: long, w: long) — one row per direction of each edge. Feed to
    * [[mergeCandidates]] for graph-context overlap. */
  def neighborSets(edgesIn: DataFrame): DataFrame = {
    val e = undirected(edgesIn)
    e.select(col("a").as("node"), col("b").as("w"))
      .unionAll(e.select(col("b").as("node"), col("a").as("w")))
  }

  /**
   * Duplicate-entity candidates by feature-set overlap: unordered node
   * pairs (a < b) whose witness sets have Jaccard similarity >=
   * tauNum/tauDen, reported as exact integers (common, union_size) — the
   * canonicalization reviewer's "these two canonical entities share most
   * of their context, consider merging" feed. The witness relation is
   * caller-chosen: [[neighborSets]] for graph-context overlap, or an
   * occurrence relation like (entity, url) for "mentioned by the same
   * pages" (the board query q86's shape).
   *
   * Shape: pairs are generated ONLY through shared witnesses (a blocked
   * self-join of the occurrence list on the witness — never an all-pairs
   * product), counted per pair (map-side partial agg), then
   * degree-joined and filtered by the integer cross-multiplication
   * `common * tauDen >= tauNum * (da + db - common)` — no float division
   * anywhere, so the threshold is engine-exact.
   *
   * 100 TB skew: a witness shared by d nodes contributes O(d^2) pair
   * rows, so one celebrity witness (a hub entity, a portal url) can
   * dominate the join. `maxWitnessDegree` caps it: witnesses above the
   * cap are EXCLUDED from pair generation and reported LOUDLY (log +
   * [[lastDropReport]]("merge_candidates")), making `common` a
   * documented lower bound in capped runs — the same loud-bounded
   * contract as the LSH hot-bucket cap. The default (Long.MaxValue) is
   * exact and skips the sizing pass entirely.
   *
   * @param occIn witness occurrences (node: long, w: any equatable type);
   *              duplicate rows are collapsed (sets, not bags)
   * @return (a: long, b: long, common: long, union_size: long)
   */
  def mergeCandidates(occIn: DataFrame, tauNum: Long, tauDen: Long,
                      maxWitnessDegree: Long = Long.MaxValue): DataFrame = {
    require(tauNum >= 0 && tauDen > 0, "threshold must be a valid fraction")
    val nb0 = occIn.select(col("node").cast("long"), col("w")).distinct()
    val nb = (if (maxWitnessDegree == Long.MaxValue) nb0 else {
      val nbp = nb0.persist()
      val wdeg = nbp.groupBy(col("w")).agg(count(lit(1)).as("wd")).persist()
      val dropped = wdeg.filter(col("wd") > maxWitnessDegree)
        .agg(coalesce(count(lit(1)), lit(0L)).as("n"),
          coalesce(sum(col("wd")), lit(0L)).as("slots")).head()
      lastDropReport("merge_candidates") = (dropped.getLong(0), dropped.getLong(1))
      if (dropped.getLong(0) > 0)
        log.warn(s"[merge_candidates] excluded ${dropped.getLong(0)} hub witnesses " +
          s"covering ${dropped.getLong(1)} neighbor slots (cap=$maxWitnessDegree); " +
          "common counts are lower bounds")
      val kept = nbp
        .join(wdeg.filter(col("wd") <= maxWitnessDegree).select(col("w")), Seq("w"))
        .localCheckpoint(true) // materializes; safe to release the inputs
      wdeg.unpersist(); nbp.unpersist()
      kept
    }).localCheckpoint(true)
    val deg = nb.groupBy(col("node")).agg(count(lit(1)).as("d"))
    val l = nb.select(col("node").as("a"), col("w"))
    val r = nb.select(col("node").as("b"), col("w"))
    val common = l.join(r, Seq("w")).filter(col("a") < col("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("common"))
    common
      .join(deg.select(col("node").as("a"), col("d").as("da")), Seq("a"))
      .join(deg.select(col("node").as("b"), col("d").as("db")), Seq("b"))
      .withColumn("union_size", col("da") + col("db") - col("common"))
      .filter(col("common") * lit(tauDen) >= lit(tauNum) * col("union_size"))
      .select(col("a"), col("b"), col("common"), col("union_size"))
  }

  /**
   * Link-prediction candidate scores: for every unordered NON-adjacent
   * node pair (a < b) at distance exactly 2, the exact integer feature
   * set every classical link predictor is a function of — common
   * neighbors `cn`, true degrees `deg_a`/`deg_b`, and the neighbor-union
   * size (Jaccard = cn/union, Adamic-Adar/preferential-attachment/etc.
   * derive downstream from the same integers without re-scanning) — the
   * KG-completion candidate generator ("these two entities share context
   * but no edge yet").
   *
   * Shape mirrors [[mergeCandidates]]: pairs generate ONLY through a
   * shared neighbor (blocked self-join on the witness node, never
   * all-pairs), counted by map-side partial agg on 16-byte keys, then
   * ONE anti-join removes already-linked pairs and two degree joins
   * attach exact degrees. Degrees come from the UNCAPPED graph, so
   * capped runs bound only `cn` (documented lower bound), never the
   * degree features.
   *
   * 100 TB skew: a hub intermediary with degree d emits d² candidate
   * pairs; `maxNeighborDegree` excludes hub witnesses from pair
   * generation LOUDLY ([[lastDropReport]]("link_prediction") + log, the
   * [[mergeCandidates]] contract). Celebrities stop minting candidate
   * pairs — exactly the pairs common-neighbor evidence is weakest for.
   *
   * @return (a, b, cn, deg_a, deg_b, union_size) — all exact integers,
   *         union_size = deg_a + deg_b - cn (a, b non-adjacent)
   */
  def linkPrediction(edgesIn: DataFrame, minCommon: Long = 1L,
                     maxNeighborDegree: Long = Long.MaxValue): DataFrame = {
    require(minCommon >= 1, "minCommon must be >= 1")
    val e = undirected(edgesIn).localCheckpoint(true)
    val nb = e.select(col("a").as("node"), col("b").as("w"))
      .unionAll(e.select(col("b").as("node"), col("a").as("w")))
    val deg = nb.groupBy(col("node")).agg(count(lit(1)).as("d"))
    val capped = if (maxNeighborDegree == Long.MaxValue) nb else {
      val wdeg = nb.groupBy(col("w")).agg(count(lit(1)).as("wd")).persist()
      val dropped = wdeg.filter(col("wd") > maxNeighborDegree)
        .agg(coalesce(count(lit(1)), lit(0L)).as("n"),
          coalesce(sum(col("wd")), lit(0L)).as("slots")).head()
      lastDropReport("link_prediction") = (dropped.getLong(0), dropped.getLong(1))
      if (dropped.getLong(0) > 0)
        log.warn(s"[link_prediction] excluded ${dropped.getLong(0)} hub " +
          s"intermediaries covering ${dropped.getLong(1)} neighbor slots " +
          s"(cap=$maxNeighborDegree); cn counts are lower bounds")
      val kept = nb
        .join(wdeg.filter(col("wd") <= maxNeighborDegree).select(col("w")),
          Seq("w"))
        .localCheckpoint(true)
      wdeg.unpersist()
      kept
    }
    capped.select(col("node").as("a"), col("w"))
      .join(capped.select(col("node").as("b"), col("w")), Seq("w"))
      .filter(col("a") < col("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("cn"))
      .filter(col("cn") >= minCommon)
      .join(e, Seq("a", "b"), "left_anti")
      .join(deg.select(col("node").as("a"), col("d").as("deg_a")), Seq("a"))
      .join(deg.select(col("node").as("b"), col("d").as("deg_b")), Seq("b"))
      .select(col("a"), col("b"), col("cn"), col("deg_a"), col("deg_b"),
        (col("deg_a") + col("deg_b") - col("cn")).as("union_size"))
  }

  /**
   * Graph-level STRUCTURE PROFILE: reciprocity + the exact integer sums
   * degree assortativity is a function of — the one-row health check a
   * KG build pipeline runs per snapshot (a reciprocity jump means the
   * extractor started emitting inverse predicates; an assortativity flip
   * means hub wiring changed). Downstream computes Newman's r from the
   * sums (r = [S·sum_xy - sum_x²] / [S·sum_x2 - sum_x²], S = 2·n_edges
   * stubs) — no float leaves this operator, so the row is engine-exact.
   *
   * Exactly TWO shuffles: the simple-edge distinct and one degree join
   * (reciprocity rides the directed distinct as a self-join on reversed
   * 16-byte keys; every sum is a map-side partial agg in decimal(38,0) —
   * overflow-proof at 10^12 edges × 10^6 degrees under ANSI).
   *
   * @return one row: (n_edges_directed, n_reciprocal — ordered pairs
   *         whose reverse also exists, n_edges — undirected simple,
   *         sum_xy, sum_x, sum_x2 — over the 2·n_edges oriented stubs
   *         with x the tail degree, y the head degree)
   */
  def degreeMixingProfile(edgesIn: DataFrame): DataFrame = {
    val dir = edgesIn
      .select(col("src").cast("long"), col("dst").cast("long"))
      .filter(col("src") =!= col("dst"))
      .distinct().localCheckpoint(true)
    val nDir = dir.agg(count(lit(1)).as("n_edges_directed"))
    val nRecip = dir
      .join(dir.select(col("dst").as("src"), col("src").as("dst")),
        Seq("src", "dst"))
      .agg(count(lit(1)).as("n_reciprocal"))
    val und = dir
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct()
    val stubs = und.select(col("a").as("x"), col("b").as("y"))
      .unionAll(und.select(col("b").as("x"), col("a").as("y")))
    val deg = stubs.groupBy(col("x").as("node")).agg(count(lit(1)).as("d"))
    val sums = stubs
      .join(deg.select(col("node").as("x"), col("d").as("dx")), Seq("x"))
      .join(deg.select(col("node").as("y"), col("d").as("dy")), Seq("y"))
      // cast BEFORE multiplying: long*long of two hub degrees overflows
      // under ANSI; decimal(19,0)*decimal(19,0) widens exactly
      .agg((count(lit(1)) / 2).cast("long").as("n_edges"),
        sum(col("dx").cast("decimal(19,0)") * col("dy").cast("decimal(19,0)"))
          .cast("decimal(38,0)").as("sum_xy"),
        sum(col("dx").cast("decimal(38,0)")).as("sum_x"),
        sum(col("dx").cast("decimal(19,0)") * col("dx").cast("decimal(19,0)"))
          .cast("decimal(38,0)").as("sum_x2"))
    nDir.crossJoin(nRecip).crossJoin(sums)
  }

  private def driverBfs(spark: org.apache.spark.sql.SparkSession,
                        edges: Array[(Long, Long)], seedIds: Array[Long],
                        maxDepth: Int): DataFrame = {
    import spark.implicits._
    val adj = edges.groupBy(_._1).map { case (s, es) => s -> es.map(_._2) }
    val dist = scala.collection.mutable.HashMap.empty[Long, Int]
    var frontier = seedIds.distinct.toSeq
    frontier.foreach(dist(_) = 0)
    var d = 0
    while (d < maxDepth && frontier.nonEmpty) {
      d += 1
      frontier = frontier.flatMap(u => adj.getOrElse(u, Array.empty[Long]))
        .distinct.filterNot(dist.contains)
      frontier.foreach(dist(_) = d)
    }
    dist.toSeq.toDF("id", "dist")
  }

  private def driverClosure(spark: org.apache.spark.sql.SparkSession,
                            edges: Array[(Long, Long)]): DataFrame = {
    import spark.implicits._
    val adj = edges.groupBy(_._1).map { case (s, es) => s -> es.map(_._2) }
    val out = Seq.newBuilder[(Long, Long)]
    for (a <- adj.keys) {
      val seen = scala.collection.mutable.HashSet.empty[Long]
      var frontier: Seq[Long] = adj(a).toSeq.distinct
      while (frontier.nonEmpty) {
        frontier.foreach(seen += _)
        frontier = frontier.flatMap(u => adj.getOrElse(u, Array.empty[Long]))
          .distinct.filterNot(seen.contains)
      }
      (seen - a).foreach(b => out += ((a, b)))
    }
    out.result().toDF("src", "dst")
  }

  /**
   * Irreflexive transitive closure of a directed relation — the RDFS/OWL
   * materialization primitive (`subClassOf+`, `partOf+`, `sameAs`
   * saturation): every pair (a, b) with b reachable from a in >= 1 step;
   * (a, a) pairs from cycles are excluded (safe: any walk contains a
   * simple path whose prefixes never revisit the source, so every
   * retained pair is still derived step by step).
   *
   * Distributed loop = SEMI-NAIVE datalog evaluation (the textbook
   * fixpoint discipline): each round joins only LAST round's new pairs
   * (the delta) against the one-hop relation, anti-joins everything
   * already derived, and unions the survivors in. Work per round is
   * proportional to |delta ⋈ edges|, never |closure ⋈ edges| (the naive
   * evaluation re-derives the whole closure every round); the edge side
   * is repartitioned by join key once and `localCheckpoint` per round
   * keeps the plan flat (the PageRank/BFS iteration discipline).
   *
   * 100 TB shape: closure of a general web graph is Θ(n²) — run this on
   * ONTOLOGY-shaped predicates (class/part hierarchies: forest-like,
   * depth O(log n), closure O(n·depth)), never on the full co-occurrence
   * relation; rounds = graph depth, so a 20-deep hierarchy over 10^9
   * classes converges in 20 delta-joins on 8-byte keys. The adaptive
   * driver fallback (below [[DriverFallback.MaxEdges]] edges) is the same
   * one-probe escape hatch as BFS/CC/PageRank; the distributed loop is the
   * scale path and stays equality-tested against it at threshold 0.
   *
   * @return (src: long, dst: long), distinct, src != dst.
   */
  def transitiveClosure(edgesIn: DataFrame,
                        smallGraphThreshold: Long = DriverFallback.MaxEdges): DataFrame = {
    val edges = edgesIn
      .select(col("src").cast("long"), col("dst").cast("long"))
      .filter(col("src") =!= col("dst"))
      .distinct()
    val small = DriverFallback.collectIfAtMost(edges, smallGraphThreshold)
    if (small.isDefined) return driverClosure(edgesIn.sparkSession, pairs(small.get))
    val e = edges.repartition(col("src")).localCheckpoint(true)
    var closure = edges.localCheckpoint(true)
    var delta = closure
    var done = false
    while (!done) {
      val next = delta.select(col("src").as("a"), col("dst").as("m"))
        .join(e.select(col("src").as("m"), col("dst").as("b")), Seq("m"))
        .select(col("a").as("src"), col("b").as("dst"))
        .filter(col("src") =!= col("dst"))
        .distinct()
        .join(closure, Seq("src", "dst"), "left_anti")
        .localCheckpoint(true)
      if (next.isEmpty) done = true
      else {
        closure = closure.unionAll(next).localCheckpoint(true)
        delta = next
      }
    }
    closure
  }

  /**
   * Positive-PMI co-occurrence edges: unordered entity pairs (a < b) that
   * co-occur in MORE contexts than independence predicts — the standard
   * "relatedness" edge extractor for KG construction from raw text
   * (context = a sentence, a page, a paragraph). A pair qualifies when
   * `n_ab / N > (n_a / N) * (n_b / N)`, i.e. PMI > 0, tested as the
   * all-integer cross-multiplication `n_ab * N > n_a * n_b` in
   * decimal(38,0) (exact at any corpus size — N² of a 10^12-context
   * corpus still fits 38 digits; no float division, no log, so the same
   * rule evaluates identically on any engine). Raw counts ride along so
   * callers compute any PMI flavor downstream without re-scanning.
   *
   * Shape: pairs generate ONLY through shared contexts (blocked
   * self-join on ctx, never all-pairs), pair/marginal counts are
   * map-side partial aggs on integer keys. A hub context mentioning d
   * entities emits d² pair rows — bounded naturally when contexts are
   * sentences, and hard-bounded by `maxContextDegree` for page-level
   * contexts (hub contexts are EXCLUDED and reported loudly via
   * [[lastDropReport]]("pmi_edges"), the merge-candidates contract;
   * n_ab becomes a documented lower bound in capped runs).
   *
   * @param mentionsIn (ctx: any equatable type, node: castable to long);
   *                   duplicate rows collapse (sets, not bags)
   * @param minSupport minimum co-occurrence count to emit a pair
   * @return (a, b, n_ab, n_a, n_b, n_ctx) — n_ctx = total distinct
   *         contexts (the N of the PMI test), constant across rows
   */
  def pmiEdges(mentionsIn: DataFrame, minSupport: Long = 1L,
               maxContextDegree: Long = Long.MaxValue): DataFrame = {
    require(minSupport >= 1, "minSupport must be >= 1")
    val m0 = mentionsIn.select(col("ctx"), col("node").cast("long")).distinct()
    val m = (if (maxContextDegree == Long.MaxValue) m0 else {
      val mp = m0.persist()
      val cdeg = mp.groupBy(col("ctx")).agg(count(lit(1)).as("cd")).persist()
      val dropped = cdeg.filter(col("cd") > maxContextDegree)
        .agg(coalesce(count(lit(1)), lit(0L)).as("n"),
          coalesce(sum(col("cd")), lit(0L)).as("slots")).head()
      lastDropReport("pmi_edges") = (dropped.getLong(0), dropped.getLong(1))
      if (dropped.getLong(0) > 0)
        log.warn(s"[pmi_edges] excluded ${dropped.getLong(0)} hub contexts " +
          s"covering ${dropped.getLong(1)} mention slots (cap=$maxContextDegree); " +
          "n_ab values are lower bounds")
      val kept = mp
        .join(cdeg.filter(col("cd") <= maxContextDegree).select(col("ctx")), Seq("ctx"))
        .localCheckpoint(true)
      cdeg.unpersist(); mp.unpersist()
      kept
    }).localCheckpoint(true)
    val nCtx = m.select(col("ctx")).distinct().count()
    val deg = m.groupBy(col("node")).agg(count(lit(1)).as("d"))
    val l = m.select(col("ctx"), col("node").as("a"))
    val r = m.select(col("ctx"), col("node").as("b"))
    val pairs = l.join(r, Seq("ctx")).filter(col("a") < col("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("n_ab"))
    pairs
      .join(deg.select(col("node").as("a"), col("d").as("n_a")), Seq("a"))
      .join(deg.select(col("node").as("b"), col("d").as("n_b")), Seq("b"))
      .filter(col("n_ab") >= lit(minSupport) &&
        col("n_ab").cast("decimal(38,0)") * lit(nCtx) >
          col("n_a").cast("decimal(38,0)") * col("n_b"))
      .select(col("a"), col("b"), col("n_ab"), col("n_a"), col("n_b"),
        lit(nCtx).as("n_ctx"))
  }

  /** Exact sequential coreness (Batagelj–Zaveršnik bucket peel, O(m)) —
    * the driver fallback twin of [[coreness]]. */
  private def driverCoreness(spark: org.apache.spark.sql.SparkSession,
                             edges: Array[(Long, Long)]): DataFrame = {
    import spark.implicits._
    val ids = edges.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    val idx = ids.zipWithIndex.toMap
    val n = ids.length
    val adj = Array.fill(n)(List.empty[Int])
    edges.foreach { case (a, b) =>
      val (ia, ib) = (idx(a), idx(b)); adj(ia) ::= ib; adj(ib) ::= ia
    }
    val deg = adj.map(_.length)
    // bucket sort nodes by degree; peel in increasing-degree order
    val maxDeg = if (n == 0) 0 else deg.max
    val bins = Array.fill(maxDeg + 2)(0)
    deg.foreach(d => bins(d) += 1)
    var start = 0
    for (d <- 0 to maxDeg) { val c = bins(d); bins(d) = start; start += c }
    val order = new Array[Int](n); val pos = new Array[Int](n)
    for (v <- 0 until n) { pos(v) = bins(deg(v)); order(pos(v)) = v; bins(deg(v)) += 1 }
    for (d <- maxDeg to 1 by -1) bins(d) = bins(d - 1); bins(0) = 0
    val core = deg.clone()
    for (i <- 0 until n) {
      val v = order(i)
      adj(v).foreach { u =>
        if (core(u) > core(v)) {
          // move u one bucket down: swap with the first node of its bucket
          val du = core(u); val pu = pos(u); val pw = bins(du); val w = order(pw)
          if (u != w) { order(pu) = w; order(pw) = u; pos(u) = pw; pos(w) = pu }
          bins(du) += 1; core(u) -= 1
        }
      }
    }
    (0 until n).map(v => (ids(v), core(v).toLong)).toDF("id", "coreness")
  }

  /**
   * k-core decomposition: every node's CORENESS — the largest k such that
   * the node survives in the k-core (the maximal subgraph where every
   * node has degree >= k). The standard KG-quality / graph-sparsification
   * signal: coreness 1 nodes are pendant noise (one supporting edge),
   * high-coreness nodes sit in densely cross-linked entity neighborhoods.
   * Computed over the undirected SIMPLE graph (directed multigraph edges
   * collapse first); every output is an integer from order-free counting
   * — engine-exact at any partitioning.
   *
   * Distributed loop = level-synchronous peeling: while peeling to the
   * (k+1)-core, every alive node with CURRENT degree <= k is removed and
   * assigned coreness k; when a pass removes nothing, k advances. Each
   * pass is one degree aggregation (map-side partial, 8-byte keys) + two
   * anti-joins, localCheckpointed flat (the BFS/closure iteration
   * discipline); work per pass is proportional to the SURVIVING subgraph,
   * which only shrinks. Pass count is bounded by degeneracy + peel
   * cascades — small for web-shaped graphs (degeneracy of a 10^9-node
   * crawl graph is a few hundred) — and each pass touches no driver
   * state. The adaptive fallback below [[DriverFallback.MaxEdges]] edges runs
   * the exact O(m) Batagelj–Zaveršnik bucket peel on the driver; the
   * distributed loop is the scale path, equality-tested at threshold 0.
   *
   * @return (id: long, coreness: long) for every node with >= 1 edge.
   */
  def coreness(edgesIn: DataFrame,
               smallGraphThreshold: Long = DriverFallback.MaxEdges): DataFrame = {
    val e0 = undirected(edgesIn)
    val small = DriverFallback.collectIfAtMost(e0, smallGraphThreshold)
    if (small.isDefined) return driverCoreness(edgesIn.sparkSession, pairs(small.get))
    var g = e0.localCheckpoint(true)
    var alive = g.select(col("a").as("id")).unionAll(g.select(col("b").as("id")))
      .distinct().localCheckpoint(true)
    var out: DataFrame = null
    var k = 1L
    while (!alive.isEmpty) {
      // current degree of every alive node (0 once its last edge died)
      val deg = g.select(col("a").as("id")).unionAll(g.select(col("b").as("id")))
        .groupBy(col("id")).agg(count(lit(1)).as("d"))
      val doomed = alive.join(deg, Seq("id"), "left")
        .filter(coalesce(col("d"), lit(0L)) <= k)
        .select(col("id")).localCheckpoint(true)
      if (doomed.isEmpty) { k += 1 }
      else {
        val assigned = doomed.withColumn("coreness", lit(k))
        out = if (out == null) assigned.localCheckpoint(true)
              else out.unionAll(assigned).localCheckpoint(true)
        alive = alive.join(doomed, Seq("id"), "left_anti").localCheckpoint(true)
        g = g.join(doomed.withColumnRenamed("id", "a"), Seq("a"), "left_anti")
          .join(doomed.withColumnRenamed("id", "b"), Seq("b"), "left_anti")
          .select(col("a"), col("b")).localCheckpoint(true)
      }
    }
    if (out == null) e0.sparkSession.emptyDataFrame
      .withColumn("id", lit(0L)).withColumn("coreness", lit(0L)).limit(0)
    else out
  }

  /** Sequential hop-bounded Bellman–Ford — the driver fallback twin of
    * [[sssp]] (must match its <= maxHops semantics exactly, so no
    * Dijkstra: each round relaxes only last round's improved nodes). */
  private def driverSssp(spark: org.apache.spark.sql.SparkSession,
                         edges: Array[(Long, Long, Long)], seedIds: Array[Long],
                         maxHops: Int): DataFrame = {
    import spark.implicits._
    val adj = edges.groupBy(_._1).map { case (s, es) => s -> es.map(e => (e._2, e._3)) }
    val dist = scala.collection.mutable.HashMap.empty[Long, Long]
    var frontier = seedIds.distinct.toSeq
    frontier.foreach(dist(_) = 0L)
    var h = 0
    while (h < maxHops && frontier.nonEmpty) {
      h += 1
      val improved = scala.collection.mutable.HashMap.empty[Long, Long]
      frontier.foreach { u =>
        adj.getOrElse(u, Array.empty[(Long, Long)]).foreach { case (v, w) =>
          val d = dist(u) + w
          if (d < dist.getOrElse(v, Long.MaxValue) &&
              d < improved.getOrElse(v, Long.MaxValue)) improved(v) = d
        }
      }
      val real = improved.filter { case (v, d) => d < dist.getOrElse(v, Long.MaxValue) }
      real.foreach { case (v, d) => dist(v) = d }
      frontier = real.keys.toSeq
    }
    dist.toSeq.toDF("id", "dist")
  }

  /**
   * Multi-source WEIGHTED shortest paths, hop-bounded (Bellman–Ford with
   * frontier pruning): for every node reachable from a seed within
   * `maxHops` edges, the minimum total edge weight over such paths — the
   * "association distance" companion to [[bfs]]'s hop view (edge weights
   * encode support strength: a weakly-attested edge costs more). Weights
   * must be NON-NEGATIVE integers; all arithmetic is Long addition and
   * order-free min, so results are engine-exact at any partitioning.
   *
   * Distributed loop: each round joins ONLY the frontier (nodes whose
   * distance improved last round) against the edge list, min-aggregates
   * candidates per target (map-side partial), and keeps strict
   * improvements — classic frontier Bellman–Ford: after round h every
   * distance equals the true minimum over <= h-hop paths, and a round
   * with no improvement terminates early. Work per round is the
   * frontier's out-edges, never the whole graph; `localCheckpoint` per
   * round keeps the plan flat (the BFS/closure discipline). Negative
   * weights are rejected LOUDLY on both paths (over the collected edges
   * on the driver, one min aggregate over the checkpointed edges on the
   * distributed path). Adaptive driver fallback below
   * [[DriverFallback.MaxEdges]] edges; the distributed loop is the scale
   * path, equality-tested at threshold 0.
   *
   * @param edgesIn (src, dst, w) directed weighted edges; parallel edges
   *                collapse to their MINIMUM weight
   * @return (id: long, dist: long), dist = 0 for the seeds.
   */
  def sssp(edgesIn: DataFrame, seeds: DataFrame, maxHops: Int = 6,
           smallGraphThreshold: Long = DriverFallback.MaxEdges): DataFrame = {
    require(maxHops >= 0, "maxHops must be >= 0")
    val edges = edgesIn
      .select(col("src").cast("long"), col("dst").cast("long"), col("w").cast("long"))
      .filter(col("src") =!= col("dst"))
      .groupBy(col("src"), col("dst")).agg(min(col("w")).as("w"))
    def requireNonNegative(minW: Long): Unit = require(minW >= 0L,
      s"sssp requires non-negative weights; min weight seen = $minW")
    val seedIds = seeds.select(col("id").cast("long")).distinct()
    val small = DriverFallback.collectIfAtMost(edges, smallGraphThreshold)
    if (small.isDefined) {
      val wEdges = triples(small.get)
      requireNonNegative(wEdges.map(_._3).minOption.getOrElse(0L))
      return driverSssp(edgesIn.sparkSession, wEdges,
        seedIds.collect().map(_.getLong(0)), maxHops)
    }
    val e = edges.repartition(col("src")).localCheckpoint(true)
    requireNonNegative(e.agg(min(col("w"))).head().getLong(0))
    var dist = seedIds.withColumn("dist", lit(0L)).localCheckpoint(true)
    var frontier = dist
    var h = 0
    var done = false
    while (h < maxHops && !done) {
      h += 1
      val cand = frontier.withColumnRenamed("id", "src")
        .join(e, Seq("src"))
        .select(col("dst").as("id"), (col("dist") + col("w")).as("cand"))
        .groupBy(col("id")).agg(min(col("cand")).as("cand"))
      val improved = cand.join(dist, Seq("id"), "left")
        .filter(col("dist").isNull || col("cand") < col("dist"))
        .select(col("id"), col("cand").as("dist")).localCheckpoint(true)
      if (improved.isEmpty) done = true
      else {
        dist = dist.join(improved.select(col("id")), Seq("id"), "left_anti")
          .unionAll(improved).localCheckpoint(true)
        frontier = improved
      }
    }
    dist
  }

  /**
   * Multi-source directed BFS: shortest hop distance (<= maxDepth) from
   * any seed to every reachable node — "which entities sit within k hops
   * of the topic seeds", the graph-locality companion to personalized
   * PageRank's mass view.
   *
   * Distributed loop = frontier expansion: each level joins ONLY the
   * frontier (nodes first reached last level) against the edge list,
   * anti-joins the settled set, and unions the survivors in at distance
   * d. Work per level is proportional to the frontier's out-edges, never
   * the whole graph; `localCheckpoint` per level keeps the plan flat
   * (the PageRank iteration discipline). Terminates early on an empty
   * frontier. Unreachable nodes emit no row.
   *
   * @return (id: long, dist: int), dist = 0 for the seeds themselves.
   */
  def bfs(edgesIn: DataFrame, seeds: DataFrame, maxDepth: Int = 6,
          smallGraphThreshold: Long = DriverFallback.MaxEdges): DataFrame = {
    require(maxDepth >= 0, "maxDepth must be >= 0")
    val edges = edgesIn
      .select(col("src").cast("long"), col("dst").cast("long"))
      .filter(col("src") =!= col("dst"))
      .distinct()
    val seedIds = seeds.select(col("id").cast("long")).distinct()
    val small = DriverFallback.collectIfAtMost(edges, smallGraphThreshold)
    if (small.isDefined) return driverBfs(edgesIn.sparkSession, pairs(small.get),
      seedIds.collect().map(_.getLong(0)), maxDepth)
    val e = edges.repartition(col("src")).localCheckpoint(true)
    var dist = seedIds.withColumn("dist", lit(0)).localCheckpoint(true)
    var frontier = dist.select(col("id"))
    var d = 0
    var done = false
    while (d < maxDepth && !done) {
      d += 1
      val next = e.join(frontier.withColumnRenamed("id", "src"), Seq("src"))
        .select(col("dst").as("id")).distinct()
        .join(dist.select(col("id")), Seq("id"), "left_anti")
        .localCheckpoint(true)
      if (next.isEmpty) done = true
      else {
        dist = dist.unionAll(next.withColumn("dist", lit(d))).localCheckpoint(true)
        frontier = next
      }
    }
    dist
  }

  /**
   * MINIMUM SPANNING FOREST — distributed Borůvka (the textbook
   * parallel-MST algorithm: every round each component elects its
   * cheapest outgoing edge under one global total order and the selected
   * edges merge components, so components with any outgoing edge at
   * least HALVE each round and the loop runs <= ceil(log2 V) rounds).
   * KG reading: the cheapest-evidence backbone of a weighted relation —
   * the minimum set of strongest links that keeps every connected entity
   * group connected. Its defining structural property is the q178
   * equivalence: cutting the forest at weight <= τ reproduces EXACT
   * single-linkage clustering (connected components over ALL original
   * edges <= τ) — the independent SQL-checkable theorem the oracle uses.
   *
   * Determinism: edges are ordered by the TOTAL order (w, a, b) — with
   * no ties the forest is the unique MSF; with ties it is the unique
   * forest of that total order, so the distributed rounds, the driver
   * Kruskal fallback, and the Prim golden twin agree bit-for-bit by
   * uniqueness, not by replaying one another's traversal order.
   *
   * Plan per round: two keyed label joins (endpoint -> current
   * component), one min(struct(w, a, b)) partial-agg election per
   * component (window-free — k=1 of the bounded-top-k discipline), a
   * distinct over the <= |components| selected edges, and label
   * contraction via [[graft.canon.ConnectedComponents.run]] over the
   * SELECTED label-graph (<= one edge per component, shrinking
   * geometrically; CC itself falls back to the driver when tiny).
   * Intra-component edges are dropped from the working set as they are
   * discovered, so per-round work shrinks with progress. The round
   * count is bounded loudly (64 > log2 of any Long-id node count) —
   * a non-terminating input is a bug, never a silent partial forest.
   *
   * Adaptive driver fallback below `smallGraphThreshold` edges: exact
   * Kruskal under the same total order (union-find with iterative find,
   * the [[graft.canon.ConnectedComponents]] discipline); the distributed
   * loop is the scale path, equality-tested at threshold 0 (GraphsSpec).
   *
   * @param edgesIn (src, dst, w) weighted edges, read as undirected;
   *                self-loops drop, parallel edges collapse to their
   *                MINIMUM weight (any long weights — only the order is
   *                used, so negative weights are legal for MSF).
   * @return (a, b, w) forest edges with a < b — |components| fewer rows
   *         than distinct nodes.
   */
  def minSpanningForest(edgesIn: DataFrame,
                        smallGraphThreshold: Long = DriverFallback.MaxEdges): DataFrame = {
    val spark = edgesIn.sparkSession
    val simple = edgesIn
      .select(col("src").cast("long"), col("dst").cast("long"), col("w").cast("long"))
      .filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"), col("w"))
      .groupBy(col("a"), col("b")).agg(min(col("w")).as("w"))
    val small = DriverFallback.collectIfAtMost(simple, smallGraphThreshold)
    if (small.isDefined) return driverKruskal(spark, triples(small.get))
    val edges = simple.localCheckpoint(true)
    import spark.implicits._
    // node -> current component label (self to start)
    var labels = edges.select(col("a").as("id"))
      .unionAll(edges.select(col("b").as("id"))).distinct()
      .select(col("id"), col("id").as("lbl")).localCheckpoint(true)
    var remaining = edges
    var forest = Seq.empty[(Long, Long, Long)].toDF("a", "b", "w")
    var round = 0
    var done = false
    while (round < 64 && !done) {
      round += 1
      val el = remaining
        .join(labels.select(col("id").as("a"), col("lbl").as("la")), Seq("a"))
        .join(labels.select(col("id").as("b"), col("lbl").as("lb")), Seq("b"))
        .filter(col("la") =!= col("lb"))
        .localCheckpoint(true)
      if (el.isEmpty) done = true
      else {
        // per-component cheapest outgoing edge under (w, a, b); la/lb ride
        // the struct for the contraction step (determined by (a, b), so
        // they never influence the min)
        val sel = el.select(col("la").as("c"),
            struct(col("w"), col("a"), col("b"), col("la"), col("lb")).as("e"))
          .unionAll(el.select(col("lb").as("c"),
            struct(col("w"), col("a"), col("b"), col("la"), col("lb")).as("e")))
          .groupBy(col("c")).agg(min(col("e")).as("e"))
          .select(col("e.a").as("a"), col("e.b").as("b"), col("e.w").as("w"),
            col("e.la").as("la"), col("e.lb").as("lb"))
          .distinct().localCheckpoint(true)
        forest = forest.unionAll(sel.select(col("a"), col("b"), col("w")))
          .localCheckpoint(true)
        val cc = graft.canon.ConnectedComponents.run(
          sel.select(col("la").as("src"), col("lb").as("dst")))
        labels = labels
          .join(cc.withColumnRenamed("id", "lbl"), Seq("lbl"), "left")
          .select(col("id"), coalesce(col("component"), col("lbl")).as("lbl"))
          .localCheckpoint(true)
        remaining = el.select(col("a"), col("b"), col("w")).localCheckpoint(true)
      }
    }
    require(done, s"minSpanningForest did not converge in $round rounds — " +
      "impossible for <= 2^63 nodes (components halve per round); input bug")
    forest
  }

  /** Exact Kruskal under the (w, a, b) total order for an
    * already-materialized small edge set (see `minSpanningForest`'s
    * threshold): sort once, accept each edge iff its endpoints are in
    * different union-find trees — iterative find + union-by-size, the
    * [[graft.canon.ConnectedComponents]] driver discipline. */
  private def driverKruskal(spark: org.apache.spark.sql.SparkSession,
                            edges: Array[(Long, Long, Long)]): DataFrame = {
    import spark.implicits._
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    val size = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x0: Long): Long = {
      var r = x0
      while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
      var x = x0
      while (parent.getOrElse(x, x) != x) { val nx = parent(x); parent(x) = r; x = nx }
      r
    }
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
    edges.sortBy { case (a, b, w) => (w, a, b) }.foreach { case (a, b, w) =>
      val ra = find(a); val rb = find(b)
      if (ra != rb) {
        val (sa, sb) = (size.getOrElse(ra, 1L), size.getOrElse(rb, 1L))
        val (big, small) = if (sa >= sb) (ra, rb) else (rb, ra)
        parent(small) = big
        size(big) = sa + sb
        out += ((a, b, w))
      }
    }
    out.toSeq.toDF("a", "b", "w")
  }

  /**
   * Deterministic random-walk corpus (DeepWalk, Perozzi et al. 2014):
   * `walksPerNode` directed walks of length <= `maxLen` from every node
   * with at least one out-edge — the sentence-analog input a skip-gram
   * KG-embedding trainer consumes (the companion of
   * [[Embedding.negativeSamples]] on the prep side).
   *
   * Determinism: step `t`'s neighbor choice at node `cur` for walk
   * `(start, walk)` is `nbr[ pmod(xxhash64(start, walk, t, cur, seed),
   * outdeg(cur)) ]` over the dst-sorted out-neighbor list — a pure
   * function of the graph, so any two runs (and the sequential golden
   * twin) agree bit-for-bit: no RNG state, no partition sensitivity.
   * Walks that reach a sink (no out-edges) simply end early.
   *
   * 100 TB shape: the adjacency is ranked ONCE — `row_number` over a
   * window PARTITIONED BY src (never a global window) — and
   * localCheckpointed; each step is two keyed equi-joins (an out-degree
   * lookup on `cur`, then the exact (src, rank) neighbor probe — the
   * hub-safe form: a join on src alone would fan every frontier row out
   * by the hub's full degree before filtering). Work per step is the
   * live frontier (<= |starts| rows, shrinking at sinks), never the
   * graph.
   *
   * @return (start, walk, step, node) — step 0 is the start itself;
   *         one row per visited position (aggregate to arrays downstream
   *         with a per-walk `collect_list` sorted by step if the trainer
   *         wants sentences).
   */
  def randomWalks(edgesIn: DataFrame, walksPerNode: Int, maxLen: Int,
                  seed: Long = 0L,
                  smallGraphThreshold: Long = DriverFallback.MaxEdges): DataFrame = {
    require(walksPerNode >= 1, "walksPerNode must be >= 1")
    require(maxLen >= 0, "maxLen must be >= 0")
    val e = edgesIn.select(col("src").cast("long"), col("dst").cast("long"))
      .filter(col("src") =!= col("dst")).distinct()
    // adaptive driver fallback (the hits/BFS convention): maxLen
    // scheduled rounds of fixed latency vs one bounded 16 B/edge collect;
    // equality-tested vs the distributed loop at threshold 0 and vs the
    // sequential twin (GraphsSpec)
    val small = DriverFallback.collectIfAtMost(e, smallGraphThreshold)
    if (small.isDefined) return driverRandomWalks(edgesIn.sparkSession,
      pairs(small.get), walksPerNode, maxLen, seed)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("src")).orderBy(col("dst"))
    val adj = e.withColumn("rank", row_number().over(w).cast("long") - lit(1L))
      .localCheckpoint(true)
    val deg = adj.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      .localCheckpoint(true)
    val starts = deg.select(col("src").as("start"),
        explode(sequence(lit(0L), lit(walksPerNode - 1L))).as("walk"))
      .localCheckpoint(true)
    var out = starts.select(col("start"), col("walk"), lit(0L).as("step"),
      col("start").as("node")).localCheckpoint(true)
    var frontier = out
    var t = 0L
    while (t < maxLen && !frontier.isEmpty) {
      t += 1
      val next = frontier
        .select(col("start"), col("walk"), col("node").as("src"))
        .join(deg, Seq("src"))
        .withColumn("rank", pmod(
          xxhash64(col("start"), col("walk"), lit(t), col("src"), lit(seed)),
          col("deg")))
        .join(adj, Seq("src", "rank"))
        .select(col("start"), col("walk"), lit(t).as("step"),
          col("dst").as("node"))
        .localCheckpoint(true)
      // no checkpoint on the step union: every branch is already a
      // checkpointed per-step frame, so the plan stays flat — the old
      // per-step checkpoint rewrote the whole growing walk table each step
      out = out.unionAll(next)
      frontier = next
    }
    out
  }

  /** Driver-side walk loop — the identical deterministic recurrence
    * (dst-sorted adjacency ranks, `pmod(xxhash64(start, walk, t, cur,
    * seed), outdeg)` neighbor choice via the Spark-chained xxh64), so
    * results are bit-identical to the distributed loop and to the
    * sequential golden twin (both spec-tested). */
  private def driverRandomWalks(spark: org.apache.spark.sql.SparkSession,
                                edges: Array[(Long, Long)], walksPerNode: Int,
                                maxLen: Int, seed: Long): DataFrame = {
    import spark.implicits._
    val adj: Map[Long, Array[Long]] = edges.groupBy(_._1)
      .map { case (s, es) => s -> es.map(_._2).sorted }
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
    adj.keysIterator.foreach { start =>
      var walk = 0L
      while (walk < walksPerNode) {
        out += ((start, walk, 0L, start))
        var cur = start
        var t = 0L
        var alive = true
        while (t < maxLen && alive) {
          t += 1
          adj.get(cur) match {
            case Some(nbrs) =>
              val h = graft.functions.Xxh64.sparkChain(
                Seq[Any](start, walk, t, cur, seed))
              cur = nbrs((((h % nbrs.length) + nbrs.length) % nbrs.length).toInt)
              out += ((start, walk, t, cur))
            case None => alive = false
          }
        }
        walk += 1
      }
    }
    out.toSeq.toDF("start", "walk", "step", "node")
  }

  /**
   * Community detection by synchronous label propagation (Raghavan et
   * al. 2007) over the undirected simple graph, made DETERMINISTIC: all
   * nodes update together each round (no sequential visit order), and a
   * node's new label is the neighbor label with the highest count,
   * ties broken by the SMALLEST label — elected as ONE window-free
   * `max(struct(cnt, ~label))` aggregation (bitwise NOT is the
   * overflow-free order-reversing tie-break, the [[Triples]] fusion
   * convention; both aggregation halves take map-side partials). Every
   * quantity is an integer from order-free counting, so the labeling is
   * bit-identical at any partitioning and a sequential twin can verify
   * it exactly. Runs a FIXED `iters` rounds (synchronous LPA can
   * 2-cycle on bipartite structures, so a fixed budget is the honest
   * contract; labels after round t are well-defined regardless).
   *
   * Shape per round: one symmetric-edge join against the N-row label
   * table (8-byte keys) + two partial aggregations; the edge list is
   * ranked once and localCheckpointed, each round shuffles only label
   * rows — the PageRank iteration discipline.
   *
   * @return (id, label) for every node with >= 1 edge; the label is an
   *         entity id acting as a community IDENTIFIER — under
   *         propagation across bridges it need not be a member of the
   *         community it names.
   */
  def labelPropagation(edgesIn: DataFrame, iters: Int = 5,
                       smallGraphThreshold: Long = DriverFallback.MaxEdges): DataFrame = {
    require(iters >= 0, "iters must be >= 0")
    val e = undirected(edgesIn)
    // adaptive driver fallback (the hits/BFS convention): iters scheduled
    // join+agg rounds vs one bounded 16 B/edge collect; equality-tested
    // vs the distributed loop at threshold 0 (GraphsSpec)
    val small = DriverFallback.collectIfAtMost(e, smallGraphThreshold)
    if (small.isDefined) return driverLpa(edgesIn.sparkSession, pairs(small.get), iters)
    val sym = e.select(col("a").as("node"), col("b").as("nbr"))
      .unionAll(e.select(col("b").as("node"), col("a").as("nbr")))
      .localCheckpoint(true)
    var labels = sym.select(col("node").as("id")).distinct()
      .withColumn("label", col("id")).localCheckpoint(true)
    for (_ <- 1 to iters) {
      labels = sym
        .join(labels.withColumnRenamed("id", "nbr"), Seq("nbr"))
        .groupBy(col("node"), col("label")).agg(count(lit(1)).as("cnt"))
        .groupBy(col("node"))
        .agg(max(struct(col("cnt"),
          bitwise_not(col("label")).as("nlabel"))).as("m"))
        .select(col("node").as("id"), bitwise_not(col("m.nlabel")).as("label"))
        .localCheckpoint(true)
    }
    labels
  }

  /** Driver-side synchronous LPA loop — the identical deterministic
    * recurrence (highest neighbor-label count, ties to the SMALLEST
    * label), bit-identical to the distributed loop (spec-tested). */
  private def driverLpa(spark: org.apache.spark.sql.SparkSession,
                        undirectedEdges: Array[(Long, Long)],
                        iters: Int): DataFrame = {
    import spark.implicits._
    val adj = scala.collection.mutable.HashMap
      .empty[Long, scala.collection.mutable.ArrayBuffer[Long]]
    undirectedEdges.foreach { case (a, b) =>
      adj.getOrElseUpdate(a, scala.collection.mutable.ArrayBuffer.empty) += b
      adj.getOrElseUpdate(b, scala.collection.mutable.ArrayBuffer.empty) += a
    }
    var labels: Map[Long, Long] = adj.keysIterator.map(n => n -> n).toMap
    for (_ <- 1 to iters) {
      labels = adj.iterator.map { case (n, nbrs) =>
        val cnt = scala.collection.mutable.HashMap.empty[Long, Long]
        nbrs.foreach { nb =>
          val l = labels(nb); cnt(l) = cnt.getOrElse(l, 0L) + 1L
        }
        // max count, ties to the smallest label
        var bestL = Long.MinValue; var bestC = -1L
        cnt.foreach { case (l, c) =>
          if (c > bestC || (c == bestC && l < bestL)) { bestC = c; bestL = l }
        }
        n -> bestL
      }.toMap
    }
    labels.toSeq.toDF("id", "label")
  }

  /**
   * SEMI-SUPERVISED TYPE PROPAGATION — the [[labelPropagation]] machinery
   * pointed at the untyped-KG typing problem: a small trusted seed set
   * (id → type, e.g. hand-curated or ontology-derived) spreads over the
   * undirected entity graph by synchronous majority vote. Seeds are
   * IMMUTABLE (the trust anchor — community LPA has no ground truth to
   * protect, typing does); every non-seed node re-votes each round from
   * its neighbors' CURRENT labels (derived labels propagate and can
   * flip), majority with ties to the lexicographically smallest type,
   * elected window-free as ONE `min(struct(-cnt, type))` aggregate.
   * Nodes no labeled node reaches within `rounds` hops stay unlabeled —
   * absent from the output, never defaulted. Integer counts only, so
   * the labeling is bit-identical at any partitioning and replayable
   * round-for-round by an oracle.
   *
   * Shape per round: one symmetric-edge join against the label table
   * (8-byte keys) + two partial aggregations + one seed anti-join —
   * the [[labelPropagation]] iteration discipline; a FIXED round budget
   * is the honest contract (synchronous voting can 2-cycle).
   *
   * @param seedsIn (id, type); conflicting types for one id fail loudly
   * @return (id, type, origin) with origin in {"seed", "derived"}
   */
  def propagateTypes(edgesIn: DataFrame, seedsIn: DataFrame,
                     rounds: Int): DataFrame = {
    require(rounds >= 0, "rounds must be >= 0")
    val e = undirected(edgesIn)
    val sym = e.select(col("a").as("node"), col("b").as("nbr"))
      .unionAll(e.select(col("b").as("node"), col("a").as("nbr")))
      .localCheckpoint(true)
    val seeds = seedsIn.select(col("id").cast("long"),
      col("type").cast("string")).distinct().localCheckpoint(true)
    require(seeds.groupBy(col("id")).agg(count(lit(1)).as("n"))
      .filter(col("n") > 1).isEmpty,
      "conflicting seed types for one id — resolve upstream")
    val seedIds = seeds.select(col("id"))
    var labels = seeds
    for (_ <- 1 to rounds) {
      val derived = sym
        .join(labels.withColumnRenamed("id", "nbr"), Seq("nbr"))
        .join(seedIds.withColumnRenamed("id", "node"), Seq("node"),
          "left_anti")
        .groupBy(col("node"), col("type")).agg(count(lit(1)).as("cnt"))
        .groupBy(col("node"))
        .agg(min(struct((-col("cnt")).as("nc"), col("type").as("t")))
          .as("m"))
        .select(col("node").as("id"), col("m.t").as("type"))
      labels = seeds.unionAll(derived).localCheckpoint(true)
    }
    labels.join(seedIds.withColumn("__s", lit(true)), Seq("id"), "left")
      .select(col("id"), col("type"),
        when(col("__s").isNotNull, lit("seed")).otherwise(lit("derived"))
          .as("origin"))
  }

  /**
   * Local clustering coefficient per node as an EXACT integer fraction:
   * (id, triangles, pairs) with pairs = deg·(deg−1)/2 — coefficient =
   * triangles/pairs, left undivided so the output is engine-exact
   * (the [[Triples.mineRules]] exact-fraction convention; a node of
   * degree 1 has pairs = 0 and an undefined coefficient, reported as
   * the honest 0/0 rather than a fabricated 0.0). The KG-quality
   * signal: low-coefficient high-degree nodes are star-shaped hubs
   * (aggregator pages, over-merged entities); high-coefficient nodes
   * sit in genuinely cross-linked neighborhoods.
   *
   * Cost = [[triangles]] (compact-forward, hub-safe) + the degree
   * aggregation it already computes — nothing new shuffles the graph.
   */
  def clusteringCoefficient(edgesIn: DataFrame): DataFrame = {
    val e = undirected(edgesIn).localCheckpoint(true)
    val deg = e.select(col("a").as("id")).unionAll(e.select(col("b").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("deg"))
    triangles(e.select(col("a").as("src"), col("b").as("dst")))
      .join(deg, Seq("id"))
      .select(col("id"), col("triangles"),
        // deg·(deg−1) is always even; shiftright is the exact Long halve
        shiftright(col("deg") * (col("deg") - lit(1L)), 1).as("pairs"))
  }

  /**
   * Skip-gram training pairs from a walk corpus (the word2vec/DeepWalk
   * hand-off): every ordered (center, context) node pair whose walk
   * positions differ by 1..`window` within the same walk, aggregated to
   * co-occurrence counts — the input a skip-gram KG-embedding trainer
   * consumes alongside [[Embedding.negativeSamples]].
   *
   * Shape: the context probe is ONE keyed equi-join — each walk position
   * explodes to its 2·window target steps `(start, walk, step ± δ)` and
   * joins the walk table back on the exact (start, walk, step) key, so
   * no filter-after-fanout and no per-walk window sort; work is
   * |walk rows| · 2·window, independent of graph degree. The count
   * aggregation partial-combines map-side.
   *
   * @param walks rows shaped like [[randomWalks]] output
   *              (start, walk, step, node)
   * @return (center, context, cnt) with cnt >= 1
   */
  def skipGramPairs(walks: DataFrame, window: Int): DataFrame = {
    require(window >= 1, "window must be >= 1")
    val w = walks.select(col("start"), col("walk"),
      col("step").cast("long"), col("node").cast("long"))
    val deltas = ((-window to window).filter(_ != 0).map(d => lit(d.toLong)))
    val centers = w
      .select(col("start"), col("walk"), col("step"), col("node").as("center"))
      .withColumn("delta", explode(array(deltas: _*)))
      .withColumn("tstep", col("delta") + col("step"))
    val contexts = w.select(col("start"), col("walk"),
      col("step").as("tstep"), col("node").as("context"))
    centers.join(contexts, Seq("start", "walk", "tstep"))
      .groupBy(col("center"), col("context"))
      .agg(count(lit(1)).as("cnt"))
  }

  /**
   * Exact modularity ingredients of a node labeling (Newman's Q per
   * community, left as INTEGERS so the output is engine-exact and
   * overflow-free at any graph size): for each community c over the
   * undirected simple graph, `members`, `within_edges` (both endpoints
   * in c), `degree_sum` (sum of member degrees), and the global edge
   * count `m_edges` — Q_c = within/m − (degree_sum/2m)² and
   * Q = Σ_c Q_c, derivable exactly downstream (a 10^12-edge graph makes
   * 4m² overflow Long, so the division is the CALLER's precision
   * decision, the [[Triples.mineRules]] exact-fraction convention).
   *
   * Shape: two label lookups on the edge list (8-byte keyed equi-joins)
   * + two partial aggregations; nodes the labeling does not cover are
   * excluded from every term (inner joins) — feed a full labeling such
   * as [[labelPropagation]]'s.
   */
  def modularity(edgesIn: DataFrame, labelsIn: DataFrame): DataFrame = {
    val e = undirected(edgesIn).localCheckpoint(true)
    val labels = labelsIn
      .select(col("id").cast("long"), col("label").cast("long"))
      .localCheckpoint(true)
    val m = e.count()
    val el = e
      .join(labels.select(col("id").as("a"), col("label").as("la")), Seq("a"))
      .join(labels.select(col("id").as("b"), col("label").as("lb")), Seq("b"))
    val within = el.filter(col("la") === col("lb"))
      .groupBy(col("la").as("label")).agg(count(lit(1)).as("within_edges"))
    val deg = e.select(col("a").as("id")).unionAll(e.select(col("b").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("deg"))
    deg.join(labels, Seq("id"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("members"), sum(col("deg")).as("degree_sum"))
      .join(within, Seq("label"), "left")
      .select(col("label"), col("members"),
        coalesce(col("within_edges"), lit(0L)).as("within_edges"),
        col("degree_sum"), lit(m).as("m_edges"))
  }

  /**
   * One SYNCHRONOUS Louvain-style local-move round from singleton
   * communities (the move step of Blondel et al. 2008, in this engine's
   * all-integer discipline) — the modularity-GAIN move the
   * [[labelPropagation]] family lacks: over the undirected unit-weight
   * simple graph with m edges, moving node i out of its own singleton
   * into neighbor j's singleton changes modularity by
   * ΔQ = (1/m)·(1 − k_i·k_j / 2m), positive iff 2m − k_i·k_j > 0 (the
   * own-singleton removal term is zero). Every node elects its best
   * positive-gain neighbor — maximal gain = minimal k_j, ties to the
   * smallest neighbor id — inside ONE window-free min(struct(k_j, j))
   * aggregate; all moves apply SIMULTANEOUSLY (shuffle-order invariant);
   * non-movers keep their own id. The output seeds [[quotientGraph]]'s
   * contraction for the multilevel pass, and [[modularity]] certifies
   * the round never lowered Q.
   *
   * Shape: the canonical undirected distinct + ONE degree agg + two
   * degree-attach keyed joins + ONE partial-agg election. All integer
   * arithmetic (2m and k_i·k_j cross-multiplied, no division).
   *
   * @return (id, comm) for every node of the simple graph
   */
  def modularityMove(edgesIn: DataFrame): DataFrame = {
    val e = undirected(edgesIn).localCheckpoint(true)
    val m = e.count()
    val deg = e.select(col("a").as("id")).unionAll(e.select(col("b").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("deg")).localCheckpoint(true)
    val dir = e.select(col("a").as("i"), col("b").as("j"))
      .unionAll(e.select(col("b").as("i"), col("a").as("j")))
    val best = dir
      .join(deg.select(col("id").as("i"), col("deg").as("ki")), Seq("i"))
      .join(deg.select(col("id").as("j"), col("deg").as("kj")), Seq("j"))
      .filter(lit(2L * m) > col("ki") * col("kj"))
      .groupBy(col("i"))
      .agg(min(struct(col("kj"), col("j"))).as("best"))
      .select(col("i").as("id"), col("best.j").as("comm"))
    deg.select(col("id")).join(best, Seq("id"), "left")
      .select(col("id"), coalesce(col("comm"), col("id")).as("comm"))
  }

  /**
   * Weisfeiler–Lehman color refinement (1-WL, the graph-fingerprint /
   * GNN-expressiveness primitive): every node starts with the uniform
   * color and each round re-colors to
   * `xxhash64(own color, sort_array(neighbor colors))` over the
   * undirected simple graph — the sorted array IS the canonical multiset
   * encoding, so the recurrence is order-free and bit-identical at any
   * partitioning (and in the sequential twin, since Spark's xxhash64
   * folds an array exactly like the flat chain own-color :: elements).
   * After k rounds two nodes share a color iff 1-WL cannot distinguish
   * their k-hop neighborhoods — the color histogram is a graph
   * fingerprint, and color-vs-[[clusteringCoefficient]] disagreement
   * flags over-merged entities (structurally different nodes forced into
   * one neighborhood).
   *
   * Shape per round: one label lookup join on the symmetric edge list +
   * one collect_list aggregation + one id-keyed self-join (all 8-byte
   * keys). The per-node neighbor array means a degree-d hub materializes
   * a d-element array each round — on hub-heavy KGs cap degrees upstream
   * (the WL colors of a capped graph are still a sound refinement of the
   * capped structure); there is no way to run 1-WL without touching each
   * node's full neighbor multiset.
   *
   * @return (id, color) after `rounds` refinements
   */
  def wlColors(edgesIn: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 0, "rounds must be >= 0")
    val e = undirected(edgesIn)
    val sym = e.select(col("a").as("node"), col("b").as("nbr"))
      .unionAll(e.select(col("b").as("node"), col("a").as("nbr")))
      .localCheckpoint(true)
    var colors = sym.select(col("node").as("id")).distinct()
      .withColumn("color", lit(1L)).localCheckpoint(true)
    for (_ <- 1 to rounds) {
      colors = sym
        .join(colors.select(col("id").as("nbr"), col("color").as("nc")),
          Seq("nbr"))
        .groupBy(col("node"))
        .agg(sort_array(collect_list(col("nc"))).as("ncs"))
        .join(colors.select(col("id").as("node"), col("color")), Seq("node"))
        .select(col("node").as("id"),
          xxhash64(col("color"), col("ncs")).as("color"))
        .localCheckpoint(true)
    }
    colors
  }

  /**
   * Deterministic fixed-fanout neighbor sampling (the GraphSAGE /
   * mini-batch-GNN data-prep step, Hamilton et al. 2017): for every node
   * with out-edges, a bounded multi-hop neighborhood — hop h keeps each
   * frontier node's top `fanouts(h-1)` out-neighbors under the pure-hash
   * order `(xxhash64(src, dst, seed), dst)`, so the sample is a function
   * of the graph (bit-identical at any partitioning and in the
   * sequential twin; the dst tie-break makes hash collisions harmless).
   *
   * Shape: the adjacency is ranked ONCE under a src-partitioned window
   * (never global) at the MAX fanout and localCheckpointed; each hop is
   * one keyed equi-join of the frontier against the pre-ranked sample
   * (per-hop fan-out bounded by the fanout product, never by true
   * degree — the point of sampling). Rows are DISTINCT
   * (root, hop, src, dst): two paths reaching the same sampled edge
   * collapse, set semantics.
   *
   * @return (root, hop, src, dst) — hop 1 rows have src == root
   */
  def sampleNeighbors(edgesIn: DataFrame, fanouts: Seq[Int],
                      seed: Long = 0L): DataFrame = {
    require(fanouts.nonEmpty && fanouts.forall(_ >= 1),
      "fanouts must be non-empty positive")
    val e = edgesIn.select(col("src").cast("long"), col("dst").cast("long"))
      .filter(col("src") =!= col("dst")).distinct()
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("src"))
      .orderBy(xxhash64(col("src"), col("dst"), lit(seed)), col("dst"))
    val ranked = e.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= lit(fanouts.max)).localCheckpoint(true)
    val hop1 = ranked.filter(col("rank") <= lit(fanouts.head))
      .select(col("src").as("root"), lit(1L).as("hop"), col("src"), col("dst"))
      .localCheckpoint(true)
    var out = hop1
    var frontier = hop1
    for ((f, i) <- fanouts.zipWithIndex.drop(1)) {
      val next = frontier
        .select(col("root"), col("dst").as("src")).distinct()
        .join(ranked.filter(col("rank") <= lit(f)), Seq("src"))
        .select(col("root"), lit(i + 1L).as("hop"), col("src"), col("dst"))
        .localCheckpoint(true)
      // rows are unique by construction: (root, src) is distinct-ed before
      // the join, ranked is unique per (src, dst), and hop tags the level
      out = out.unionAll(next).localCheckpoint(true)
      frontier = next
    }
    out
  }

  /**
   * node2vec biased walks (Grover & Leskovec 2016) in the same
   * deterministic hash discipline as [[randomWalks]]: step t >= 2 at
   * node cur with predecessor prev weights each out-neighbor x by
   * `wBack` if x == prev, `wCommon` if the edge prev→x exists (graph
   * distance 1 from prev), else `wFar` — the integer form of the 1/p,
   * 1, 1/q transition weights (pass e.g. (wBack, wCommon, wFar) =
   * (2, 6, 3) for p = 3, q = 2 scaled by 6). The neighbor is the one
   * whose cumulative-weight interval (over the dst-sorted neighbor
   * list) contains `pmod(xxhash64(start, walk, t, cur, seed), total)` —
   * a pure function of the graph, bit-identical at any partitioning and
   * in the sequential twin. Step 1 has no predecessor and uses
   * [[randomWalks]]' uniform rule verbatim. A step whose candidate
   * weights are all zero (e.g. wBack = 0 at a node whose only neighbor
   * is prev) ends the walk early, like a sink.
   *
   * Shape per step: a 2nd-order walk must INSPECT the full out-
   * neighborhood of every frontier node (the bias depends on each
   * candidate's relation to prev), so the candidate join fans each
   * frontier row out by outdeg(cur) — inherent to node2vec, not a plan
   * defect; the prev-edge probe and the neighbor expansion are both
   * keyed equi-joins, and the cumulative election is a window
   * partitioned by (start, walk) — thousands of tiny groups, never a
   * global sort. Frontier cost per step is Σ outdeg(cur), bounded by
   * walksPerNode·max-degree; on hub-heavy graphs budget walksPerNode
   * accordingly (or pre-cap degrees upstream).
   *
   * @return (start, walk, step, node) — the [[randomWalks]] schema, so
   *         [[skipGramPairs]] consumes it unchanged.
   */
  def node2vecWalks(edgesIn: DataFrame, walksPerNode: Int, maxLen: Int,
                    wBack: Long, wCommon: Long, wFar: Long,
                    seed: Long = 0L,
                    smallGraphThreshold: Long = DriverFallback.MaxEdges): DataFrame = {
    require(walksPerNode >= 1, "walksPerNode must be >= 1")
    require(maxLen >= 0, "maxLen must be >= 0")
    require(wBack >= 0 && wCommon >= 0 && wFar >= 0,
      "transition weights must be non-negative")
    require(wBack + wCommon + wFar > 0, "at least one weight must be positive")
    val e0 = edgesIn.select(col("src").cast("long"), col("dst").cast("long"))
      .filter(col("src") =!= col("dst")).distinct()
    // adaptive driver fallback (the randomWalks convention): per-step
    // window+join rounds of fixed latency vs one bounded collect;
    // equality-tested vs the distributed loop at threshold 0 and vs the
    // sequential twin (GraphsSpec)
    val small = DriverFallback.collectIfAtMost(e0, smallGraphThreshold)
    if (small.isDefined) return driverNode2vecWalks(edgesIn.sparkSession,
      pairs(small.get), walksPerNode, maxLen, wBack, wCommon, wFar, seed)
    val e = e0.localCheckpoint(true)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("src")).orderBy(col("dst"))
    val adj = e.withColumn("rank", row_number().over(w).cast("long") - lit(1L))
      .localCheckpoint(true)
    val deg = adj.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      .localCheckpoint(true)
    val starts = deg.select(col("src").as("start"),
        explode(sequence(lit(0L), lit(walksPerNode - 1L))).as("walk"))
      .localCheckpoint(true)
    var out = starts.select(col("start"), col("walk"), lit(0L).as("step"),
      col("start").as("node")).localCheckpoint(true)
    if (maxLen == 0) return out
    // step 1: uniform over out-neighbors — randomWalks' rule verbatim
    var frontier = starts
      .select(col("start"), col("walk"), col("start").as("src"))
      .join(deg, Seq("src"))
      .withColumn("rank", pmod(
        xxhash64(col("start"), col("walk"), lit(1L), col("src"), lit(seed)),
        col("deg")))
      .join(adj, Seq("src", "rank"))
      .select(col("start"), col("walk"), col("src").as("prev"),
        col("dst").as("cur"))
      .localCheckpoint(true)
    out = out.unionAll(frontier.select(col("start"), col("walk"),
      lit(1L).as("step"), col("cur").as("node"))).localCheckpoint(true)
    var t = 1L
    while (t < maxLen && !frontier.isEmpty) {
      t += 1
      val byWalk = org.apache.spark.sql.expressions.Window
        .partitionBy(col("start"), col("walk"))
      val cand = frontier
        .select(col("start"), col("walk"), col("prev"), col("cur").as("src"))
        .join(adj, Seq("src"))
        .join(e.select(col("src").as("prev"), col("dst"),
          lit(1L).as("is_common")), Seq("prev", "dst"), "left")
        .withColumn("wgt",
          when(col("dst") === col("prev"), lit(wBack))
            .when(col("is_common").isNotNull, lit(wCommon))
            .otherwise(lit(wFar)))
        .withColumn("cum", sum(col("wgt")).over(byWalk.orderBy(col("rank"))))
        .withColumn("tot", sum(col("wgt")).over(byWalk))
      val next = cand
        .filter(col("tot") > 0)
        .withColumn("r", pmod(
          xxhash64(col("start"), col("walk"), lit(t), col("src"), lit(seed)),
          col("tot")))
        .filter(col("r") >= col("cum") - col("wgt") && col("r") < col("cum"))
        .select(col("start"), col("walk"), col("src").as("prev"),
          col("dst").as("cur"))
        .localCheckpoint(true)
      // flat union of checkpointed per-step frames (randomWalks note)
      out = out.unionAll(next.select(col("start"), col("walk"),
        lit(t).as("step"), col("cur").as("node")))
      frontier = next
    }
    out
  }

  /** Driver-side node2vec loop — the identical deterministic recurrence
    * (uniform first step, then the wBack/wCommon/wFar cumulative-weight
    * selection over dst-sorted candidates with the same Spark-chained
    * xxh64 draw), bit-identical to the distributed loop and the
    * sequential twin (both spec-tested). */
  private def driverNode2vecWalks(spark: org.apache.spark.sql.SparkSession,
                                  edges: Array[(Long, Long)],
                                  walksPerNode: Int, maxLen: Int, wBack: Long,
                                  wCommon: Long, wFar: Long,
                                  seed: Long): DataFrame = {
    import spark.implicits._
    val adj: Map[Long, Array[Long]] = edges.groupBy(_._1)
      .map { case (s, es) => s -> es.map(_._2).sorted }
    val eSet = edges.toSet
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
    adj.keysIterator.foreach { start =>
      var walk = 0L
      while (walk < walksPerNode) {
        out += ((start, walk, 0L, start))
        if (maxLen > 0) {
          // step 1: uniform over out-neighbors (the randomWalks rule)
          val nbrs1 = adj(start)
          val h1 = graft.functions.Xxh64.sparkChain(
            Seq[Any](start, walk, 1L, start, seed))
          var prev = start
          var cur = nbrs1((((h1 % nbrs1.length) + nbrs1.length) % nbrs1.length).toInt)
          out += ((start, walk, 1L, cur))
          var t = 1L
          var alive = true
          while (t < maxLen && alive) {
            t += 1
            adj.get(cur) match {
              case Some(cands) =>
                val wgts = cands.map { d =>
                  if (d == prev) wBack
                  else if (eSet((prev, d))) wCommon
                  else wFar
                }
                val tot = wgts.sum
                if (tot <= 0) alive = false
                else {
                  val h = graft.functions.Xxh64.sparkChain(
                    Seq[Any](start, walk, t, cur, seed))
                  val r = ((h % tot) + tot) % tot
                  var i = 0; var cum = 0L; var picked = -1
                  while (picked < 0 && i < cands.length) {
                    cum += wgts(i)
                    if (r < cum) picked = i
                    i += 1
                  }
                  prev = cur
                  cur = cands(picked)
                  out += ((start, walk, t, cur))
                }
              case None => alive = false
            }
          }
        }
        walk += 1
      }
    }
    out.toSeq.toDF("start", "walk", "step", "node")
  }

  /**
   * Per-node NEIGHBORHOOD FUNCTION — |{u : dist(v,u) <= h}| for every
   * node v and hop h = 0..maxHops over the DIRECTED graph — the
   * HyperANF computation (Boldi, Rosa & Vigna 2011): propagate a
   * mergeable distinct-count sketch along edges instead of materializing
   * reachable sets, so per-node state is O(k) longs forever while exact
   * BFS state grows with the reach. Effective-diameter and centrality
   * estimation at 10^12 edges are exactly this loop.
   *
   * This engine uses the KMV bottom-k sketch ([[graft.ops.Sketches]])
   * rather than HyperANF's HLL counters for the same reason q81 does:
   * KMV is all-integer and EXACT below saturation (until a node's
   * h-ball holds more than k nodes, the estimate IS the true count), so
   * small-scale runs are oracle-checkable against an exact BFS while
   * the sketch algebra — union + truncate, fully mergeable — is the
   * production path at any scale. Above saturation the estimate carries
   * KMV's ~1/sqrt(k-2) relative error, the standard ANF trade.
   *
   * Shape per hop: ONE keyed equi-join (each node pulls its
   * out-neighbors' sketches) + ONE partial-aggregated sketch-merge
   * groupBy — k-long buffers shuffle, never node sets; the per-hop
   * relation is localCheckpointed so round n never re-runs rounds
   * 1..n-1. Monotone state (sketches only grow), so a stale read is
   * impossible.
   *
   * @return (id, hop, n_reach) for every node and hop 0..maxHops;
   *         hop 0 is always (id, 0, 1) — the node itself
   */
  def neighborhoodFunction(edgesIn: DataFrame, maxHops: Int,
                           k: Int = 1024): DataFrame = {
    require(maxHops >= 0, "maxHops must be >= 0")
    val e = edgesIn.select(col("src").cast("long"), col("dst").cast("long"))
      .filter(col("src") =!= col("dst")).distinct().localCheckpoint(true)
    val kmvMerge = udaf(new graft.ops.Sketches.KmvMergeAgg(k))
    val nodes = e.select(col("src").as("id"))
      .unionAll(e.select(col("dst").as("id"))).distinct()
    var sk = nodes
      .select(col("id"), array(xxhash64(col("id"))).as("sketch"))
      .localCheckpoint(true)
    var out = sk.select(col("id"), lit(0L).as("hop"), lit(1L).as("n_reach"))
      .localCheckpoint(true)
    for (h <- 1 to maxHops) {
      val pulled = e
        .join(sk.select(col("id").as("dst"), col("sketch")), Seq("dst"))
        .select(col("src").as("id"), col("sketch"))
        .unionAll(sk)
      val merged = pulled.groupBy(col("id"))
        .agg(kmvMerge(col("sketch")).as("r"))
        .select(col("id"), col("r.sketch").as("sketch"),
          col("r.est").as("n_reach"))
        .localCheckpoint(true)
      sk = merged.select(col("id"), col("sketch"))
      // no checkpoint on the hop union: every branch is a projection of
      // an already-checkpointed per-hop frame, so the plan stays flat —
      // the old per-hop checkpoint re-materialized the ENTIRE growing
      // output table once per hop (O(H²) rows written across the loop)
      out = out.unionAll(
        merged.select(col("id"), lit(h.toLong).as("hop"), col("n_reach")))
    }
    out
  }

  /**
   * HITS hubs & authorities (Kleinberg 1999) in this engine's
   * ALL-INTEGER fixed-point discipline — the second classic
   * link-analysis pair next to [[PageRank]], and the entity-salience
   * signal that separates "pages that point at good entities" (hubs)
   * from "entities good pages point at" (authorities):
   *
   *   a'(v) = Σ_{u→v} h(u)      h'(v) = Σ_{v→w} a'(w)
   *
   * with per-half-round RENORMALIZATION BY BITSHIFT instead of the
   * textbook L2 norm: after each sum, scores shift right so the maximum
   * fits in `bits` bits (shift = bitlength(max) - bits, never negative).
   * Shifting preserves order exactly (near-ties may merge — documented
   * truncation, not noise), keeps every value a plain Long (sums stay
   * exact; Spark's ANSI mode would fail LOUDLY on overflow rather than
   * wrap, and with scores < 2^bits a sum needs indegree > 2^(63-bits)
   * to overflow — 2^43 at the default 20 bits, beyond any real hub),
   * and — unlike float division — is bit-reproducible at any
   * partitioning and in the sequential twin. The shift amount derives
   * from a per-round max aggregate (driver-sized work, the same
   * convention as [[coreness]]' level detection).
   *
   * Shape per round: two keyed equi-joins (each side pulls the opposite
   * scores along edges) + two partial-aggregated sums; the rank tables
   * are localCheckpointed so round n never replays rounds 1..n-1. Nodes
   * without in-edges hold authority 0, without out-edges hub 0 — the
   * honest fixed-point values.
   *
   * @return (id, hub, authority) after `iters` rounds
   */
  def hits(edgesIn: DataFrame, iters: Int = 5, bits: Int = 20,
           smallGraphThreshold: Long = DriverFallback.MaxEdges): DataFrame = {
    require(iters >= 1, "iters must be >= 1")
    require(bits >= 4 && bits <= 40, "bits must be in [4, 40]")
    val simple = edgesIn.select(col("src").cast("long"), col("dst").cast("long"))
      .filter(col("src") =!= col("dst")).distinct()
    // adaptive driver fallback (the PageRank/BFS convention): 2·iters
    // scheduled half-rounds of fixed latency dwarf the actual work on a
    // sub-threshold graph; equality-tested vs the distributed loop at
    // threshold 0 (GraphsSpec)
    val small = DriverFallback.collectIfAtMost(simple, smallGraphThreshold)
    if (small.isDefined) return driverHits(edgesIn.sparkSession, pairs(small.get), iters, bits)
    val e = simple.localCheckpoint(true)
    val nodes = e.select(col("src").as("id"))
      .unionAll(e.select(col("dst").as("id"))).distinct()
      .localCheckpoint(true)
    // materialize the half-round ONCE, then take the max off the
    // checkpoint and shift as a lazy projection — the earlier shape
    // (eager max on the unmaterialized sum, then checkpoint of the
    // shifted frame) computed every join+sum twice per half-round
    def rescale(scored: DataFrame, c: String): DataFrame = {
      val m = scored.localCheckpoint(true)
      val mxRow = m.agg(max(col(c))).head()
      val mx = if (mxRow.isNullAt(0)) 0L else mxRow.getLong(0)
      val shift = math.max(0, 64 - java.lang.Long.numberOfLeadingZeros(mx) - bits)
      m.select(col("id"), shiftright(col(c), shift).as(c))
    }
    var hub = nodes.withColumn("h", lit(1L << (bits - 1)))
      .localCheckpoint(true)
    var auth: DataFrame = null
    for (_ <- 1 to iters) {
      val aSum = e.join(hub.select(col("id").as("src"), col("h")), Seq("src"))
        .groupBy(col("dst").as("id")).agg(sum(col("h")).as("a"))
      auth = rescale(
        nodes.join(aSum, Seq("id"), "left")
          .select(col("id"), coalesce(col("a"), lit(0L)).as("a")), "a")
      val hSum = e.join(auth.select(col("id").as("dst"), col("a")), Seq("dst"))
        .groupBy(col("src").as("id")).agg(sum(col("a")).as("h"))
      hub = rescale(
        nodes.join(hSum, Seq("id"), "left")
          .select(col("id"), coalesce(col("h"), lit(0L)).as("h")), "h")
    }
    hub.join(auth, Seq("id"))
      .select(col("id"), col("h").as("hub"), col("a").as("authority"))
  }

  /** Driver-side HITS loop — the identical all-integer recurrence
    * (per-half-round sums over distinct edges, bitshift renormalization
    * with the same shift law), equality-tested against the distributed
    * loop so neither can drift. */
  private def driverHits(spark: org.apache.spark.sql.SparkSession,
                         edges: Array[(Long, Long)], iters: Int,
                         bits: Int): DataFrame = {
    import spark.implicits._
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct
    def rescale(m: scala.collection.mutable.HashMap[Long, Long]): Unit = {
      var mx = 0L
      m.valuesIterator.foreach(v => if (v > mx) mx = v)
      val shift = math.max(0, 64 - java.lang.Long.numberOfLeadingZeros(mx) - bits)
      if (shift > 0) m.mapValuesInPlace((_, v) => v >> shift)
    }
    val hub = scala.collection.mutable.HashMap.empty[Long, Long]
    nodes.foreach(n => hub(n) = 1L << (bits - 1))
    val auth = scala.collection.mutable.HashMap.empty[Long, Long]
    for (_ <- 1 to iters) {
      auth.clear(); nodes.foreach(n => auth(n) = 0L)
      edges.foreach { case (s, d) => auth(d) += hub(s) }
      rescale(auth)
      nodes.foreach(n => hub(n) = 0L)
      edges.foreach { case (s, d) => hub(s) += auth(d) }
      rescale(hub)
    }
    nodes.toSeq.map(n => (n, hub(n), auth(n))).toDF("id", "hub", "authority")
  }

  /**
   * Hop-bounded CLOSENESS centrality, derived from the
   * [[neighborhoodFunction]] exactly the way HyperANF's authors compute
   * distance distributions: with `Δ(v, h) = |B(v,h)| - |B(v,h-1)|` nodes
   * first reached at hop h,
   *
   *   dist_sum(v) = Σ_{h=1..H} h · Δ(v, h)
   *
   * — the sum of shortest-path distances from v to everything within H
   * hops (self contributes 0). Together with `n_reach = |B(v,H)|` the
   * caller derives any closeness flavor (1/dist_sum, reach²/dist_sum,
   * ...) without another scan; both values are exact below sketch
   * saturation and carry KMV's ~1/sqrt(k-2) error above, like the
   * neighborhood function itself.
   *
   * Shape on top of the sketch loop: ONE window partitioned by id over
   * H+1 rows per group (a lag — thousands of tiny groups, never a
   * global sort) + ONE aggregation. Centrality family status: degree
   * ([[PageRank.degreeProfile]]), eigenvector-style ([[PageRank]]/
   * [[hits]]), core ([[coreness]]), and distance-based (this) — all
   * integer-exact at oracle scale.
   *
   * @return (id, n_reach, dist_sum) — n_reach includes the node itself
   */
  def closeness(edgesIn: DataFrame, maxHops: Int, k: Int = 1024): DataFrame = {
    require(maxHops >= 1, "maxHops must be >= 1")
    val nf = neighborhoodFunction(edgesIn, maxHops, k)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id")).orderBy(col("hop"))
    nf.withColumn("delta",
        col("n_reach") - lag(col("n_reach"), 1, 1L).over(w))
      .groupBy(col("id"))
      .agg(max(col("n_reach")).as("n_reach"),
        sum(col("hop") * col("delta")).as("dist_sum"))
  }

  /** lcm(1..h) — the common denominator that keeps hop-bounded harmonic
    * sums integer. */
  def harmonicDenominator(maxHops: Int): Long = {
    // lcm(1..43) > 2^63 — fail LOUDLY instead of silently wrapping the
    // denominator (a hop bound past 42 is far beyond any sketch-accurate
    // neighborhood function anyway)
    require(maxHops <= 42, s"lcm(1..$maxHops) overflows Long (max 42)")
    def gcd(a: Long, b: Long): Long = if (b == 0) a else gcd(b, a % b)
    (1L to maxHops.toLong).foldLeft(1L)((l, h) => l / gcd(l, h) * h)
  }

  /**
   * Hop-bounded HARMONIC centrality from the [[neighborhoodFunction]] —
   * the distance-based centrality that, unlike closeness, is
   * well-defined on DISCONNECTED graphs (unreachable nodes contribute 0
   * instead of poisoning the sum; Boldi & Vigna, "Axioms for
   * Centrality"):
   *
   *   harmonic(v) = Σ_{u reachable, u≠v} 1 / d(v, u)
   *               = Σ_{h=1..H} Δ(v, h) / h .
   *
   * This engine's integer discipline: the sum is returned as
   * `harmonic_num` over the fixed denominator L = lcm(1..maxHops)
   * ([[harmonicDenominator]]) — Δ·(L div h) is exact because L is
   * divisible by every h, so rankings are engine-exact with no float
   * summation order anywhere. Same cost and saturation contract as
   * [[closeness]]: the KMV sketch loop (per hop ONE keyed join + ONE
   * partial-agg merge), one per-id lag window over H+1 rows, one agg.
   *
   * @return (id, n_reach, harmonic_num) — harmonic(v) = harmonic_num / L
   */
  def harmonic(edgesIn: DataFrame, maxHops: Int, k: Int = 1024): DataFrame = {
    require(maxHops >= 1, "maxHops must be >= 1")
    val L = harmonicDenominator(maxHops)
    val nf = neighborhoodFunction(edgesIn, maxHops, k)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id")).orderBy(col("hop"))
    nf.withColumn("delta",
        col("n_reach") - lag(col("n_reach"), 1, 1L).over(w))
      .groupBy(col("id"))
      .agg(max(col("n_reach")).as("n_reach"),
        coalesce(sum(when(col("hop") >= 1,
            col("delta") * expr(s"$L div hop"))),
          lit(0L)).as("harmonic_num"))
  }

  /**
   * Hop-bounded EFFECTIVE DIAMETER from the [[neighborhoodFunction]]
   * curve (the HyperANF use-case, Boldi et al. 2011): the smallest hop h
   * at which at least `pctNum/pctDen` (default 90%) of all reachable
   * pairs are already within distance h. The per-snapshot "is the graph
   * getting longer or rounder" health metric next to
   * [[degreeMixingProfile]]'s wiring view.
   *
   * All-integer: per-hop pair counts are exact decimal(38,0) sums of the
   * KMV estimates (EXACT below sketch saturation, k >= per-node reach),
   * and the percentile test is cross-multiplied (`pctDen·N(h) >=
   * pctNum·N(H)`) — no float division, engine-exact, so a DuckDB
   * recursive-CTE BFS replays it integer-for-integer.
   *
   * Shape: the [[neighborhoodFunction]] loop (per hop ONE keyed join +
   * ONE partial-aggregated sketch merge) + ONE (maxHops+1)-group
   * aggregation + a crossJoin against the single total row — the
   * election runs over H+1 rows, driver-free and sort-free.
   *
   * @return one row: (h_eff, n_pairs — within h_eff, n_pairs_total —
   *         within maxHops)
   */
  def effectiveDiameter(edgesIn: DataFrame, maxHops: Int, k: Int = 1024,
                        pctNum: Long = 9L, pctDen: Long = 10L): DataFrame = {
    require(maxHops >= 1, "maxHops must be >= 1")
    require(pctNum >= 0 && pctDen > 0 && pctNum <= pctDen,
      "need 0 <= pctNum/pctDen <= 1")
    val perHop = neighborhoodFunction(edgesIn, maxHops, k)
      .groupBy(col("hop"))
      .agg(sum(col("n_reach").cast("decimal(38,0)")).as("pairs"))
    val total = perHop.filter(col("hop") === maxHops)
      .select(col("pairs").as("pairs_total"))
    perHop.crossJoin(total)
      .filter(col("pairs") * lit(pctDen) >= col("pairs_total") * lit(pctNum))
      .agg(min(struct(col("hop"), col("pairs"), col("pairs_total"))).as("r"))
      .select(col("r.hop").as("h_eff"),
        col("r.pairs").cast("decimal(38,0)").as("n_pairs"),
        col("r.pairs_total").cast("decimal(38,0)").as("n_pairs_total"))
  }

  /**
   * EGO NETWORK / induced k-hop subgraph: the triples whose BOTH
   * endpoints lie within `maxDepth` directed hops of a seed set — "give
   * me the neighborhood graph around these entities", the KG-serving
   * slice every entity page, GNN mini-batch, and manual-audit workflow
   * starts from (the subgraph companion of [[bfs]]'s distance view and
   * [[sampleNeighbors]]' sampled view — this one is exact and induced:
   * edges BETWEEN reached nodes appear even when no BFS tree uses them).
   *
   * Shape: the [[bfs]] frontier loop (per level one keyed join over the
   * frontier only, adaptive driver fallback on small graphs) + TWO
   * LEFT SEMI joins of the triple table against the reached-id set +
   * the set-semantics distinct. The triple table is scanned once; at
   * 10^12 triples with a small ego set both semi-joins broadcast the
   * reached ids, so the slice costs one pruned pass.
   *
   * @return distinct (subj, pred, obj) of the induced subgraph
   */
  def egoTriples(triples: DataFrame, seedIds: Seq[Long],
                 maxDepth: Int): DataFrame = {
    require(seedIds.nonEmpty, "need at least one seed")
    val t = triples
      .select(col("subj").cast("long"), col("pred"), col("obj").cast("long"))
    val spark = triples.sparkSession
    import spark.implicits._
    val reached = bfs(
      t.select(col("subj").as("src"), col("obj").as("dst")),
      seedIds.toDF("id"), maxDepth).select(col("id"))
    t.join(reached.withColumnRenamed("id", "subj"), Seq("subj"), "left_semi")
      .join(reached.withColumnRenamed("id", "obj"), Seq("obj"), "left_semi")
      .select(col("subj"), col("pred"), col("obj"))
      .distinct()
  }

  /**
   * QUOTIENT (coarsened) GRAPH: contract every node to its label and
   * count the distinct simple directed edges between label classes —
   * the multilevel primitive (communities → super-graph → recurse) and
   * the "how do the k-cores wire to each other" summary view. Intra-
   * class edges survive as (l, l) self-loop rows: they are the internal
   * density a coarser level needs.
   *
   * Shape: ONE distinct + two keyed label-attach joins + ONE partial-
   * aggregated count. Output is |labels|² at worst, in practice the
   * class co-adjacency — a corpus-scale reduction.
   *
   * @param labels (id, label) — every edge endpoint must be labeled
   *               (inner joins drop unlabeled endpoints silently; pass a
   *               total labeling like [[coreness]] or
   *               [[graft.canon.ConnectedComponents]] output)
   * @return (src_label, dst_label, weight — distinct simple directed
   *         edges between the classes)
   */
  def quotientGraph(edgesIn: DataFrame, labels: DataFrame): DataFrame = {
    val e = edgesIn
      .select(col("src").cast("long"), col("dst").cast("long"))
      .filter(col("src") =!= col("dst")).distinct()
    val lab = labels.select(col("id").cast("long"), col("label"))
    e.join(lab.select(col("id").as("src"), col("label").as("src_label")),
        Seq("src"))
      .join(lab.select(col("id").as("dst"), col("label").as("dst_label")),
        Seq("dst"))
      .groupBy(col("src_label"), col("dst_label"))
      .agg(count(lit(1)).as("weight"))
  }

  /**
   * Bounded SIMPLE-PATH ENUMERATION between two entities — the KG
   * explainability query ("HOW are these two related?"): every
   * duplicate-free directed path src → … → dst of at most `maxLen`
   * edges, as an auditable id string. The relation-extraction QA
   * companion of [[bfs]] (which answers only "how far").
   *
   * Distributed loop: the frontier holds partial paths (id array
   * column); each step is ONE keyed equi-join on the path head plus a
   * per-row `array_contains` simplicity filter (arrays are <= maxLen
   * long — constant work). Paths that reach `dst` retire immediately: a
   * simple path cannot leave and revisit dst, so extending them is
   * provably wasted work. Enumeration is inherently combinatorial —
   * `maxFrontier` bounds each step LOUDLY (IllegalStateException, never
   * a silent truncation: a partial path census would read as a lie).
   *
   * @return (path — comma-joined node ids, n_hops) for every simple
   *         src→dst path with 1 <= n_hops <= maxLen
   */
  def enumPaths(edgesIn: DataFrame, srcId: Long, dstId: Long, maxLen: Int,
                maxFrontier: Long = 10000000L): DataFrame = {
    require(maxLen >= 1, "maxLen must be >= 1")
    require(srcId != dstId, "src and dst must differ (simple paths)")
    val spark = edgesIn.sparkSession
    val e = edgesIn
      .select(col("src").cast("long"), col("dst").cast("long"))
      .filter(col("src") =!= col("dst")).distinct()
      .repartition(col("src")).localCheckpoint(true)
    var frontier = spark.range(1)
      .select(lit(srcId).as("last"), array(lit(srcId)).as("path"))
      .localCheckpoint(true)
    val empty = frontier.filter(lit(false)).localCheckpoint(true)
    var out = empty
    var step = 0
    while (step < maxLen && !frontier.isEmpty) {
      step += 1
      val ext = frontier
        .join(e.withColumnRenamed("src", "last"), Seq("last"))
        .filter(!array_contains(col("path"), col("dst")))
        .select(col("dst").as("last"),
          concat(col("path"), array(col("dst"))).as("path"))
        .localCheckpoint(true)
      val n = ext.count()
      if (n > maxFrontier) throw new IllegalStateException(
        s"enumPaths: frontier $n exceeds maxFrontier=$maxFrontier at " +
          s"step $step — raise the bound or lower maxLen")
      out = out.unionAll(ext.filter(col("last") === dstId))
        .localCheckpoint(true)
      frontier = ext.filter(col("last") =!= dstId)
    }
    out.select(
      array_join(col("path").cast("array<string>"), ",").as("path"),
      (size(col("path")) - 1).cast("long").as("n_hops"))
  }

  /**
   * PATH BROKERAGE between two entities (pairwise STRESS centrality):
   * for every node v on a SHORTEST src→dst path, the exact number of
   * shortest paths passing through v — "which entities broker this
   * relation", the ranked companion of [[enumPaths]]' raw listing (and,
   * unlike full betweenness, computable with TWO BFS sweeps instead of
   * one per node, so it scales to a 10^12-edge graph where all-pairs
   * centrality cannot).
   *
   * Classic σ-product identity: with σ(v) = #shortest src→v paths
   * (forward sweep) and τ(v) = #shortest v→dst paths (backward sweep
   * over reversed edges), v lies on a shortest path iff
   * d_fwd(v) + d_bwd(v) = D, and then exactly σ(v)·τ(v) of them pass
   * through it. Both sweeps are level-synchronous: per level ONE keyed
   * equi-join of the frontier against the edges + ONE partial-aggregated
   * sum + one settled anti-join — frontier-proportional work, the
   * [[bfs]] discipline. All counts are integers; products run in
   * decimal(38,0) (path counts multiply fast), so the row set is
   * engine-exact at any partitioning.
   *
   * @return (id, d_from_src, n_paths_through — σ(v)·τ(v)) for every
   *         node on a shortest path, endpoints included (their count is
   *         the total σ(src→dst)); EMPTY when dst is unreachable within
   *         maxHops
   */
  def pathBrokerage(edgesIn: DataFrame, srcId: Long, dstId: Long,
                    maxHops: Int): DataFrame = {
    require(maxHops >= 1, "maxHops must be >= 1")
    val spark = edgesIn.sparkSession
    val e = edgesIn
      .select(col("src").cast("long"), col("dst").cast("long"))
      .filter(col("src") =!= col("dst")).distinct()
      .localCheckpoint(true)

    /** level-synchronous σ sweep: (id, d, sigma) for all nodes within
      * maxHops of `root` following `fwd` (true = src→dst direction) */
    def sweep(root: Long, fwd: Boolean): DataFrame = {
      val step = if (fwd) e else e.select(col("dst").as("src"),
        col("src").as("dst"))
      var acc = spark.range(1).select(lit(root).as("id"), lit(0).as("d"),
        lit(BigDecimal(1)).cast("decimal(38,0)").as("sigma"))
        .localCheckpoint(true)
      var frontier = acc
      var d = 0
      while (d < maxHops && !frontier.isEmpty) {
        d += 1
        val next = frontier
          .join(step.withColumnRenamed("src", "id"), Seq("id"))
          .groupBy(col("dst").as("__id"))
          .agg(sum(col("sigma")).cast("decimal(38,0)").as("sigma"))
          .withColumnRenamed("__id", "id")
          .join(acc.select(col("id")), Seq("id"), "left_anti")
          .select(col("id"), lit(d).as("d"), col("sigma"))
          .localCheckpoint(true)
        acc = acc.unionAll(next).localCheckpoint(true)
        frontier = next
      }
      acc
    }

    val f = sweep(srcId, fwd = true)
    val b = sweep(dstId, fwd = false)
    f.filter(col("id") === dstId).select(col("d")).limit(1).collect()
      .headOption match {
      case None => f.filter(lit(false))
        .select(col("id"), col("d").cast("long").as("d_from_src"),
          col("sigma").cast("decimal(38,0)").as("n_paths_through"))
      case Some(row) =>
        val dTotal = row.getInt(0)
        f.join(b.select(col("id"), col("d").as("db"),
            col("sigma").as("tau")), Seq("id"))
          .filter(col("d") + col("db") === dTotal)
          .select(col("id"), col("d").cast("long").as("d_from_src"),
            (col("sigma") * col("tau")).cast("decimal(38,0)")
              .as("n_paths_through"))
    }
  }

  /**
   * BIPARTITENESS check per connected component — the KG-hygiene probe
   * for relation slices that SHOULD be two-sided (page→entity mention
   * graphs, entity→attribute graphs): an odd cycle means the extractor
   * wired two layers together. Standard BFS-layering argument: root
   * each component at its canonical minimum node, take shortest-hop
   * parities, and the graph is bipartite iff NO undirected edge joins
   * two same-parity nodes — those edges are returned as the exact odd-
   * cycle witness count.
   *
   * Shape: the [[graft.canon.ConnectedComponents]] labeling + ONE
   * multi-source [[bfs]] over the symmetrized edges (components are
   * disjoint, so all roots expand in the same frontier loop) + one
   * parity join over the simple edge set + one partial-aggregated
   * count. Components wider than `maxDepth` hops fail LOUDLY (an
   * unreached node would silently vanish from the parity join and
   * undercount witnesses).
   *
   * @return (component, n_nodes, n_odd_edges, is_bipartite)
   */
  def bipartiteness(edgesIn: DataFrame, maxDepth: Int = 32): DataFrame = {
    val und = undirected(edgesIn).localCheckpoint(true)
    val sym = und.select(col("a").as("src"), col("b").as("dst"))
      .unionAll(und.select(col("b").as("src"), col("a").as("dst")))
    val comp = graft.canon.ConnectedComponents.run(
      und.select(col("a").as("src"), col("b").as("dst")))
      .localCheckpoint(true)
    val dist = bfs(sym, comp.select(col("component").as("id")).distinct(),
      maxDepth).localCheckpoint(true)
    val (nComp, nDist) = (comp.count(), dist.count())
    if (nDist != nComp) throw new IllegalStateException(
      s"bipartiteness: ${nComp - nDist} nodes beyond maxDepth=$maxDepth " +
        "hops of their component root — raise maxDepth")
    val par = dist.select(col("id"), (col("dist") % 2).as("par"))
    val odd = und
      .join(par.select(col("id").as("a"), col("par").as("pa")), Seq("a"))
      .join(par.select(col("id").as("b"), col("par").as("pb")), Seq("b"))
      .filter(col("pa") === col("pb"))
      .join(comp.select(col("id").as("a"), col("component")), Seq("a"))
      .groupBy(col("component")).agg(count(lit(1)).as("n_odd"))
    comp.groupBy(col("component")).agg(count(lit(1)).as("n_nodes"))
      .join(odd, Seq("component"), "left")
      .select(col("component"), col("n_nodes"),
        coalesce(col("n_odd"), lit(0L)).as("n_odd_edges"),
        (coalesce(col("n_odd"), lit(0L)) === 0L).as("is_bipartite"))
  }

  /**
   * Canonical STRUCTURAL DIGEST per connected component — the
   * KG-versioning / subgraph-dedup primitive: two components receive
   * the same digest whenever [[wlColors]] cannot distinguish them
   * (1-WL equivalence — the standard graph-canonicalization workhorse;
   * strictly coarser than isomorphism on the adversarial corner cases
   * 1-WL famously cannot split, e.g. two triangles vs a 6-cycle, which
   * is the documented contract, not a defect). The digest is
   * `xxhash64(sort_array(colors))` over the component's final WL color
   * multiset — NO node ids enter the hash, so the digest is invariant
   * under entity renaming: re-extracting the same subgraph under fresh
   * ids yields the same digest, which is what makes it a dedup key.
   *
   * Shape: [[wlColors]] (per round one join + one partial-aggregated
   * collect) + one CC labeling + ONE final groupBy(component) whose
   * sorted-color-list aggregation is the only wide state — bounded by
   * component size, the inherent cost of a per-component canonical
   * form. Spark's `xxhash64` over an array column is the flat
   * left-to-right fold, which the sequential twin replays bit-for-bit
   * through the independent [[graft.functions.Xxh64]].
   *
   * @return (component, n_nodes, digest) — component = min node id
   *         (the [[graft.canon.ConnectedComponents]] labeling)
   */
  def graphDigest(edgesIn: DataFrame, rounds: Int): DataFrame = {
    val e = undirected(edgesIn)
      .select(col("a").as("src"), col("b").as("dst"))
    val colors = wlColors(e, rounds)
    val comp = graft.canon.ConnectedComponents.run(e)
    colors.join(comp, Seq("id"))
      .groupBy(col("component"))
      .agg(count(lit(1)).as("n_nodes"),
        xxhash64(sort_array(collect_list(col("color")))).as("digest"))
  }

  /** Iterative Tarjan (explicit work stack — no recursion, so a 100k-edge
    * path graph cannot overflow the driver stack; the
    * [[graft.canon.ConnectedComponents]] lesson). Emits the CANONICAL
    * component id: the minimum member id, not Tarjan's discovery-order
    * root — so the labeling is independent of traversal order and matches
    * the distributed algorithm and the SQL oracle exactly. */
  private def driverScc(spark: org.apache.spark.sql.SparkSession,
                        edges: Array[(Long, Long)]): DataFrame = {
    import spark.implicits._
    val adj = edges.groupBy(_._1).map { case (s, es) => s -> es.map(_._2) }
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct
    val index = scala.collection.mutable.HashMap.empty[Long, Int]
    val low = scala.collection.mutable.HashMap.empty[Long, Int]
    val onStack = scala.collection.mutable.HashSet.empty[Long]
    val stack = scala.collection.mutable.ArrayBuffer.empty[Long]
    val comp = scala.collection.mutable.HashMap.empty[Long, Long]
    var counter = 0
    for (root <- nodes if !index.contains(root)) {
      val work = scala.collection.mutable.ArrayBuffer.empty[(Long, Iterator[Long])]
      def push(v: Long): Unit = {
        index(v) = counter; low(v) = counter; counter += 1
        stack += v; onStack += v
        work += ((v, adj.getOrElse(v, Array.empty[Long]).iterator))
      }
      push(root)
      while (work.nonEmpty) {
        val (v, it) = work.last
        if (it.hasNext) {
          val w = it.next()
          if (!index.contains(w)) push(w)
          else if (onStack(w)) low(v) = math.min(low(v), index(w))
        } else {
          work.remove(work.length - 1)
          if (work.nonEmpty) {
            val p = work.last._1; low(p) = math.min(low(p), low(v))
          }
          if (low(v) == index(v)) {
            val members = scala.collection.mutable.ArrayBuffer.empty[Long]
            var w = 0L
            do {
              w = stack.remove(stack.length - 1); onStack -= w; members += w
            } while (w != v)
            val m = members.min
            members.foreach(comp(_) = m)
          }
        }
      }
    }
    comp.toSeq.toDF("id", "scc")
  }

  /**
   * STRONGLY connected components of the directed entity graph — the
   * cycle detector for ontology/alias hygiene: a `subClassOf`/`partOf`
   * cycle is a modeling error and a `sameAs`-ish mutual-derivation cycle
   * is one canonical entity, and both are exactly the non-singleton SCCs.
   * Labels are CANONICAL (scc = minimum member id), so output is
   * bit-identical at any partitioning and directly comparable to the
   * mutual-reachability definition (the SQL oracle computes min over
   * {w : v→*w ∧ w→*v}).
   *
   * Distributed loop = trim + forward-min coloring + backward sweep (the
   * GraphX SCC shape, Orzan's coloring):
   *
   *  1. TRIM (looped to fixpoint): an active node with no in-edge or no
   *     out-edge inside the active subgraph is its own SCC — removed and
   *     labeled immediately. On web-shaped graphs the SCC DAG's pendant
   *     mass peels here for the cost of two distinct-projections + two
   *     anti-joins per pass, no fixpoint propagation at all.
   *  2. COLOR: propagate `color(v) = min active id that reaches v`
   *     forward to fixpoint (per round ONE keyed join + ONE min
   *     aggregation, both map-side partial on 8-byte keys; rounds bounded
   *     by active-subgraph diameter). Every color class has exactly one
   *     ROOT (color(r) = r), and the root is provably the MINIMUM id of
   *     its SCC: a smaller member would reach it and lower its color.
   *  3. SWEEP: walk BACKWARD from each root along edges whose endpoints
   *     share the root's color; the reached set is exactly SCC(root)
   *     (every mutual cycle through the root sits wholly inside the color
   *     class — any node on it has the root's ancestor set). All roots
   *     sweep SIMULTANEOUSLY (the frontier carries (id, color) pairs), so
   *     one outer round retires one SCC PER color class, not one total.
   *
   * Outer rounds are bounded by the longest root-chain in the SCC DAG
   * (each round retires at least the SCC of every locally-minimal active
   * id); trim collapses DAG-shaped residue between rounds. Everything is
   * localCheckpointed flat per step (the BFS/closure discipline), all
   * shuffles are on 8-byte integer keys, and nothing driver-side at any
   * scale on the distributed path. Below [[DriverFallback.MaxEdges]] edges
   * the exact linear-time Tarjan runs on the driver (iterative — no
   * recursion depth hazard), equality-tested against the distributed
   * loop at threshold 0.
   *
   * @return (id: long, scc: long) for every node with >= 1 edge;
   *         scc = minimum id of the node's strongly connected component
   */
  def scc(edgesIn: DataFrame,
          smallGraphThreshold: Long = DriverFallback.MaxEdges): DataFrame = {
    val spark = edgesIn.sparkSession
    val edges0 = edgesIn
      .select(col("src").cast("long"), col("dst").cast("long"))
      .filter(col("src") =!= col("dst"))
      .distinct()
    val selfLoopOnly = edgesIn
      .select(col("src").cast("long"), col("dst").cast("long"))
      .filter(col("src") === col("dst"))
      .select(col("src").as("id")).distinct()
    // nodes appearing ONLY as self-loops never enter the simple edge set;
    // each is trivially its own SCC and rejoins the labeling at the end
    def withSelfLoopOnly(core: DataFrame): DataFrame = core.unionByName(
      selfLoopOnly.join(core, Seq("id"), "left_anti")
        .select(col("id"), col("id").as("scc")))
    val small = DriverFallback.collectIfAtMost(edges0, smallGraphThreshold)
    if (small.isDefined) return withSelfLoopOnly(driverScc(spark, pairs(small.get)))
    var edges = edges0.repartition(col("src")).localCheckpoint(true)
    var nodes = edges.select(col("src").as("id"))
      .unionAll(edges.select(col("dst").as("id"))).distinct()
      .localCheckpoint(true)
    import spark.implicits._
    var assigned = Seq.empty[(Long, Long)].toDF("id", "scc")
      .localCheckpoint(true)
    while (!nodes.isEmpty) {
      // 1. TRIM to fixpoint
      var trimming = true
      while (trimming) {
        val both = edges.select(col("src").as("id")).distinct()
          .join(edges.select(col("dst").as("id")).distinct(), Seq("id"))
        val dead = nodes.join(both, Seq("id"), "left_anti")
          .localCheckpoint(true)
        if (dead.isEmpty) trimming = false
        else {
          assigned = assigned
            .unionAll(dead.select(col("id"), col("id").as("scc")))
            .localCheckpoint(true)
          nodes = nodes.join(dead, Seq("id"), "left_anti")
            .localCheckpoint(true)
          edges = edges
            .join(dead.select(col("id").as("src")), Seq("src"), "left_anti")
            .join(dead.select(col("id").as("dst")), Seq("dst"), "left_anti")
            .localCheckpoint(true)
        }
      }
      if (nodes.isEmpty) return withSelfLoopOnly(assigned)
      // 2. COLOR: forward min-label fixpoint over the active subgraph
      var colors = nodes.select(col("id"), col("id").as("color"))
        .localCheckpoint(true)
      var coloring = true
      while (coloring) {
        val prop = edges
          .join(colors.select(col("id").as("src"), col("color").as("cs")),
            Seq("src"))
          .groupBy(col("dst").as("id")).agg(min(col("cs")).as("cin"))
        val next = colors.join(prop, Seq("id"), "left")
          .select(col("id"),
            least(col("color"), coalesce(col("cin"), col("color")))
              .as("color"))
          .localCheckpoint(true)
        coloring = !next.join(colors, Seq("id", "color"), "left_anti").isEmpty
        colors = next
      }
      // 3. SWEEP backward from every root inside its color class
      val sameColorEdges = edges
        .join(colors.select(col("id").as("src"), col("color").as("c1")),
          Seq("src"))
        .join(colors.select(col("id").as("dst"), col("color").as("c2")),
          Seq("dst"))
        .filter(col("c1") === col("c2"))
        .select(col("src"), col("dst"), col("c1").as("color"))
        .localCheckpoint(true)
      var marked = colors.filter(col("color") === col("id"))
        .localCheckpoint(true)
      var frontier = marked
      while (!frontier.isEmpty) {
        val nextF = sameColorEdges
          .join(frontier.select(col("id").as("dst"), col("color")),
            Seq("dst", "color"))
          .select(col("src").as("id"), col("color")).distinct()
          .join(marked, Seq("id"), "left_anti")
          .localCheckpoint(true)
        marked = marked.unionAll(nextF).localCheckpoint(true)
        frontier = nextF
      }
      assigned = assigned
        .unionAll(marked.select(col("id"), col("color").as("scc")))
        .localCheckpoint(true)
      nodes = nodes.join(marked, Seq("id"), "left_anti").localCheckpoint(true)
      edges = edges
        .join(marked.select(col("id").as("src")), Seq("src"), "left_anti")
        .join(marked.select(col("id").as("dst")), Seq("dst"), "left_anti")
        .localCheckpoint(true)
    }
    withSelfLoopOnly(assigned)
  }

  /** Node priority table for the symmetry-breaking rounds of
    * [[maximalIndependentSet]] and [[greedyColoring]]: a strict total
    * order (xxhash64(id, seed), id) — the id component breaks hash
    * collisions, so "local minimum" is always unique and the rounds are
    * bit-deterministic at any partitioning. */
  private def hashPriorities(nodes: DataFrame, seed: Long): DataFrame =
    nodes.select(col("id"),
      struct(xxhash64(col("id"), lit(seed)).as("h"), col("id").as("i"))
        .as("prio"))

  /**
   * MAXIMAL INDEPENDENT SET over the undirected simple entity graph —
   * Luby's symmetry-breaking rounds (Luby 1986) made DETERMINISTIC: the
   * per-node lottery number is not a random draw but the strict total
   * order (xxhash64(id, seed), id), a pure function of the graph, so
   * every run — and the sequential golden twin replaying the same
   * recurrence — selects the identical set. The KG use: an MIS over the
   * co-mention graph is a maximal set of pairwise NON-co-occurring
   * entities (anchor/landmark selection for sketches, seeds for
   * coarsening, conflict-free scheduling of per-entity merge jobs).
   *
   * Round r: every remaining node whose priority is a strict local
   * minimum among its REMAINING neighbors (or that has no remaining
   * neighbor) joins the MIS; selected nodes AND their neighbors leave
   * the graph. Adjacent nodes can never both be local minima, so each
   * round's selection is independent by construction, and maximality
   * holds because a node only leaves as a member or as a member's
   * neighbor. With hash priorities the expected round count is
   * O(log n) (Luby's analysis); the 64-round budget fails LOUDLY
   * rather than silently emitting a non-maximal set.
   *
   * Shape per round: one keyed equi-join of the live symmetric edge
   * list against the N-row priority table + one min partial
   * aggregation + two anti-joins to shrink the frontier — label-table
   * shuffles only, the [[labelPropagation]] iteration discipline;
   * live edges shrink monotonically and are localCheckpointed.
   *
   * @return (id, round) for MIS members only — round is the 1-based
   *         selection round (a determinism witness the oracle also
   *         replays).
   */
  def maximalIndependentSet(edgesIn: DataFrame, seed: Long = 0L): DataFrame = {
    val e = undirected(edgesIn)
    var sym = e.select(col("a").as("node"), col("b").as("nbr"))
      .unionAll(e.select(col("b").as("node"), col("a").as("nbr")))
      .localCheckpoint(true)
    var remaining = sym.select(col("node").as("id")).distinct()
      .localCheckpoint(true)
    val spark = edgesIn.sparkSession
    import spark.implicits._
    var mis = Seq.empty[(Long, Long)].toDF("id", "round")
    var round = 0
    while (!remaining.isEmpty) {
      round += 1
      require(round <= 64, "maximalIndependentSet did not converge in 64 " +
        "rounds — expected O(log n) for any graph; input bug")
      val prio = hashPriorities(remaining, seed).localCheckpoint(true)
      val nbrMin = sym
        .join(prio.select(col("id").as("nbr"), col("prio").as("np")),
          Seq("nbr"))
        .groupBy(col("node").as("id")).agg(min(col("np")).as("nmin"))
      val selected = prio.join(nbrMin, Seq("id"), "left")
        .filter(col("nmin").isNull || col("prio") < col("nmin"))
        .select(col("id")).localCheckpoint(true)
      mis = mis.unionAll(selected.select(col("id"), lit(round.toLong)
        .as("round"))).localCheckpoint(true)
      val removed = selected.unionAll(
          sym.join(selected.withColumnRenamed("id", "node"), Seq("node"))
            .select(col("nbr").as("id")))
        .distinct().localCheckpoint(true)
      remaining = remaining.join(removed, Seq("id"), "left_anti")
        .localCheckpoint(true)
      sym = sym
        .join(removed.withColumnRenamed("id", "node"), Seq("node"), "left_anti")
        .join(removed.withColumnRenamed("id", "nbr"), Seq("nbr"), "left_anti")
        .localCheckpoint(true)
    }
    mis
  }

  /**
   * GREEDY GRAPH COLORING — Jones–Plassmann (1993) with the same
   * deterministic (xxhash64, id) priorities as [[maximalIndependentSet]]:
   * in each round every uncolored node whose priority is a strict local
   * minimum among its UNCOLORED neighbors takes the smallest color
   * absent from its already-COLORED neighborhood. Simultaneous colorers
   * form an independent set (adjacent nodes cannot both be local
   * minima), so properness is invariant round over round. The KG use:
   * a proper coloring of the entity conflict graph partitions merge/
   * update work into waves that can run with NO cross-entity locking —
   * and the color count is a cheap structure signal (>> degeneracy+1
   * flags adversarial structure).
   *
   * Smallest-free-color election: neighbor colors aggregate to a
   * DISTINCT set per ready node (collect_set partial-aggregates
   * map-side; the set is bounded by the CURRENT palette size, not the
   * degree — a 10^6-degree hub contributes at most |colors| distinct
   * values), then the first gap of the sorted set is taken with a
   * bounded `sequence(0, size)` probe (|set|+1 candidates, at least
   * one free by pigeonhole). Rounds are bounded by the longest
   * monotone priority path — O(log n / log log n) in expectation for
   * hash priorities; the 256-round budget fails LOUDLY.
   *
   * @return (id, color) for every node with >= 1 edge; colors are
   *         dense 0-based integers, color count <= maxDegree + 1 by
   *         the greedy bound.
   */
  def greedyColoring(edgesIn: DataFrame, seed: Long = 0L,
                     smallGraphThreshold: Long = DriverFallback.MaxEdges): DataFrame = {
    val e = undirected(edgesIn)
    // adaptive driver fallback (the sssp/topoLayers/trussness discipline):
    // the synchronous-round loop pays fixed job latency per round, which
    // dominates on small graphs — below the threshold run the SAME
    // Jones-Plassmann recurrence sequentially (equality-tested at
    // threshold 0 in GraphsSpec)
    val small = DriverFallback.collectIfAtMost(e, smallGraphThreshold)
    if (small.isDefined) return driverColoring(edgesIn.sparkSession, pairs(small.get), seed)
    val sym = e.select(col("a").as("node"), col("b").as("nbr"))
      .unionAll(e.select(col("b").as("node"), col("a").as("nbr")))
      .localCheckpoint(true)
    var uncolored = sym.select(col("node").as("id")).distinct()
      .localCheckpoint(true)
    val spark = edgesIn.sparkSession
    import spark.implicits._
    var colors = Seq.empty[(Long, Long)].toDF("id", "color")
      .localCheckpoint(true)
    var round = 0
    while (!uncolored.isEmpty) {
      round += 1
      require(round <= 256, "greedyColoring did not converge in 256 " +
        "rounds — expected O(log n) for hash priorities; input bug")
      val prio = hashPriorities(uncolored, seed).localCheckpoint(true)
      // local minima among UNCOLORED neighbors only
      val nbrMin = sym
        .join(prio.select(col("id").as("node"), col("prio")), Seq("node"))
        .join(prio.select(col("id").as("nbr"), col("prio").as("np")),
          Seq("nbr"))
        .groupBy(col("node").as("id")).agg(min(col("np")).as("nmin"))
      val ready = prio.join(nbrMin, Seq("id"), "left")
        .filter(col("nmin").isNull || col("prio") < col("nmin"))
        .select(col("id")).localCheckpoint(true)
      // smallest color not used by any COLORED neighbor
      val used = sym
        .join(ready.withColumnRenamed("id", "node"), Seq("node"))
        .join(colors.withColumnRenamed("id", "nbr"), Seq("nbr"))
        .groupBy(col("node").as("id"))
        .agg(sort_array(collect_set(col("color"))).as("used"))
      val assigned = ready.join(used, Seq("id"), "left")
        .withColumn("used", coalesce(col("used"),
          array().cast("array<long>")))
        .select(col("id"), array_min(filter(
            sequence(lit(0L), size(col("used")).cast("long")),
            c => !array_contains(col("used"), c))).as("color"))
      colors = colors.unionAll(assigned).localCheckpoint(true)
      uncolored = uncolored.join(ready, Seq("id"), "left_anti")
        .localCheckpoint(true)
    }
    colors
  }

  /** The sequential Jones–Plassmann twin of [[greedyColoring]]'s
    * distributed loop — SAME recurrence, round for round: ready = prio
    * strictly below every UNCOLORED neighbor's, color = mex over the
    * PRE-round colored neighbors (simultaneous assignment), priorities
    * the identical (xxhash64(id, seed), id) total order. */
  private def driverColoring(spark: org.apache.spark.sql.SparkSession,
                             edges: Array[(Long, Long)], seed: Long): DataFrame = {
    import spark.implicits._
    val nbrs = scala.collection.mutable.HashMap.empty[Long, scala.collection.mutable.ArrayBuffer[Long]]
    edges.foreach { case (a, b) =>
      nbrs.getOrElseUpdate(a, scala.collection.mutable.ArrayBuffer.empty) += b
      nbrs.getOrElseUpdate(b, scala.collection.mutable.ArrayBuffer.empty) += a
    }
    val prio: Map[Long, (Long, Long)] = nbrs.keysIterator.map { id =>
      id -> ((graft.functions.Xxh64.sparkChain(Seq[Any](id, seed)), id))
    }.toMap
    val ord = implicitly[Ordering[(Long, Long)]]
    val colors = scala.collection.mutable.HashMap.empty[Long, Long]
    val uncolored = scala.collection.mutable.HashSet.empty[Long] ++ nbrs.keys
    while (uncolored.nonEmpty) {
      val ready = uncolored.iterator.filter { id =>
        nbrs(id).forall(n => !uncolored.contains(n) || ord.lt(prio(id), prio(n)))
      }.toArray
      val assigned = ready.map { id =>
        val used = nbrs(id).iterator.flatMap(colors.get).toSet
        var c = 0L
        while (used.contains(c)) c += 1
        id -> c
      }
      assigned.foreach { case (i, c) => colors(i) = c }
      uncolored --= ready
    }
    colors.toSeq.map { case (i, c) => (i, c) }.toDF("id", "color")
  }

  /**
   * HOP-BOUNDED KATZ CENTRALITY, integer-exact: katz(v) = Σ_{h=1..H}
   * β^h · walks_h(v) with β = 1/betaDen, reported SCALED by betaDen^H
   * so every term is an integer — katz_scaled(v) = Σ walks_h(v) ·
   * betaDen^(H−h) in decimal(38,0), where walks_h(v) is the EXACT
   * number of directed walks of length h ending at v (Katz 1953,
   * truncated; the attenuated-influence ranking PageRank's
   * degree-normalized mass cannot express — Katz rewards being reached
   * by MANY walks, not by walks from important nodes). Division-free
   * and order-free: both engines sum the same integers, so the oracle
   * (an unrolled walk-count SQL) matches bit-for-bit; decimal(38,0)
   * under ANSI mode OVERFLOWS LOUDLY rather than wrapping if H or the
   * graph's walk growth outruns 38 digits.
   *
   * Shape per hop: ONE keyed equi-join of the edge list against the
   * N-row count table + one partial-aggregated sum — the PageRank
   * iteration discipline (the edge list is localCheckpointed once;
   * each hop shuffles count rows only).
   *
   * @param maxHops H, the walk-length bound; require H <= 12 — walk
   *                counts grow as (avg outdeg)^H and 38 digits is the
   *                honest budget (the decimal overflow is the loud
   *                backstop).
   * @return (id, katz_scaled decimal(38,0)) for every node of the
   *         simple directed graph; nodes no walk reaches score 0.
   */
  def katz(edgesIn: DataFrame, maxHops: Int, betaDen: Long = 4L): DataFrame = {
    require(maxHops >= 1 && maxHops <= 12,
      s"maxHops must be in [1, 12], got $maxHops")
    require(betaDen >= 2L, s"betaDen must be >= 2 (beta < 1), got $betaDen")
    val edges = edgesIn
      .select(col("src").cast("long"), col("dst").cast("long"))
      .filter(col("src") =!= col("dst"))
      .distinct().localCheckpoint(true)
    val nodes = edges.select(col("src").as("id"))
      .unionAll(edges.select(col("dst").as("id"))).distinct()
      .localCheckpoint(true)
    val dec = "decimal(38,0)"
    var counts = nodes.select(col("id"), lit(1L).cast(dec).as("c"))
      .localCheckpoint(true)
    var acc = nodes.select(col("id"), lit(0L).cast(dec).as("katz_scaled"))
    for (h <- 1 to maxHops) {
      val stepped = edges
        .join(counts.select(col("id").as("src"), col("c")), Seq("src"))
        .groupBy(col("dst").as("id")).agg(sum(col("c")).cast(dec).as("c"))
      counts = nodes.join(stepped, Seq("id"), "left")
        .select(col("id"), coalesce(col("c"), lit(0L).cast(dec)).as("c"))
        .localCheckpoint(true)
      val weight = lit(math.BigInt(betaDen).pow(maxHops - h).toString())
        .cast(dec)
      acc = acc.join(counts, Seq("id"))
        .select(col("id"),
          (col("katz_scaled") + col("c") * weight).cast(dec)
            .as("katz_scaled"))
        .localCheckpoint(true)
    }
    acc
  }

  /** Sequential batch-peel twin of [[densestSubgraph]] — the SAME
    * (1+eps)-threshold rule (so distributed == driver exactly), BigInt
    * comparisons standing in for the decimal(38,0) columns. */
  private def driverDensest(spark: org.apache.spark.sql.SparkSession,
                            edges: Array[(Long, Long)],
                            epsNum: Long, epsDen: Long): DataFrame = {
    import spark.implicits._
    var g = edges.toSet
    var nodes = g.flatMap(p => Seq(p._1, p._2))
    var best = nodes
    var bestE = BigInt(g.size); var bestV = BigInt(nodes.size)
    while (nodes.nonEmpty) {
      val (e, v) = (BigInt(g.size), BigInt(nodes.size))
      if (e * bestV > bestE * v) { best = nodes; bestE = e; bestV = v }
      val deg = scala.collection.mutable.HashMap.empty[Long, Long]
      g.foreach { case (a, b) =>
        deg(a) = deg.getOrElse(a, 0L) + 1; deg(b) = deg.getOrElse(b, 0L) + 1
      }
      val rhs = 2 * e * (epsDen + epsNum)
      val doomed = nodes.filter(n =>
        BigInt(deg.getOrElse(n, 0L)) * v * epsDen <= rhs)
      require(doomed.nonEmpty, "batch peel removed nothing — impossible: " +
        "the minimum degree never exceeds (1+eps) * average degree")
      nodes = nodes -- doomed
      g = g.filter { case (a, b) => !doomed(a) && !doomed(b) }
    }
    best.toSeq.sorted
      .map(id => (id, bestV.toLong, bestE.toLong))
      .toDF("id", "v_cnt", "e_cnt")
  }

  /**
   * DENSEST SUBGRAPH, 2(1+eps)-approximate (Charikar 2000's greedy peel
   * in the batched MapReduce form of Bahmani–Kumar–Vazirani, VLDB 2012):
   * repeatedly delete EVERY node whose degree is at most (1+eps) times
   * the current average degree 2|E|/|V|, tracking the surviving node set
   * of maximum density |E|/|V| across rounds. The min-degree node always
   * sits at or below the average, so each round removes at least the
   * eps/(1+eps) fraction of survivors and the loop closes in
   * O(log_{1+eps} |V|) rounds — the property that makes the peel
   * cluster-feasible where Charikar's one-node-at-a-time exact peel
   * (|V| sequential rounds) is not. On the KG this is the over-merge /
   * spam-farm detector: the densest co-mention core is where alias
   * collapse or template-page cross-citation concentrates.
   *
   * Determinism/exactness: the batch rule depends only on integer
   * degree counts — no float division anywhere. Density comparisons are
   * cross-multiplied in BigInt on the driver (counts are Long actions);
   * the per-node threshold test runs in decimal(38,0) columns, so
   * deg·|V|·epsDen stays exact at any graph size (ANSI overflow is the
   * loud backstop). Both engines and the golden twin replay the same
   * rule, so membership agrees bit-for-bit.
   *
   * Shape per round: one partial-aggregated degree count + one
   * threshold filter + two anti-joins (edges shed doomed endpoints) —
   * every shuffle keyed by 8-byte node ids; `localCheckpoint` keeps the
   * iterated plan flat (the coreness/BFS discipline). Adaptive driver
   * fallback below `smallGraphThreshold` edges; the distributed loop is
   * the scale path, equality-tested at threshold 0.
   *
   * @param epsNum/epsDen eps as an exact rational (default 1/10)
   * @return one row per member of the best subgraph:
   *         (id, v_cnt, e_cnt) with the subgraph's node/edge counts
   *         (density = e_cnt/v_cnt) replicated per row.
   */
  def densestSubgraph(edgesIn: DataFrame, epsNum: Long = 1L, epsDen: Long = 10L,
                      smallGraphThreshold: Long = DriverFallback.MaxEdges): DataFrame = {
    require(epsNum >= 0 && epsDen >= 1,
      s"eps must be a non-negative rational, got $epsNum/$epsDen")
    val e0 = undirected(edgesIn)
    val small = DriverFallback.collectIfAtMost(e0, smallGraphThreshold)
    if (small.isDefined)
      return driverDensest(edgesIn.sparkSession, pairs(small.get), epsNum, epsDen)
    val dec = "decimal(38,0)"
    var g = e0.localCheckpoint(true)
    var nodes = g.select(col("a").as("id")).unionAll(g.select(col("b").as("id")))
      .distinct().localCheckpoint(true)
    var eCnt = g.count(); var vCnt = nodes.count()
    var best = nodes; var bestE = eCnt; var bestV = vCnt
    while (vCnt > 0) {
      if (BigInt(eCnt) * BigInt(bestV) > BigInt(bestE) * BigInt(vCnt)) {
        best = nodes; bestE = eCnt; bestV = vCnt
      }
      val deg = g.select(col("a").as("id")).unionAll(g.select(col("b").as("id")))
        .groupBy(col("id")).agg(count(lit(1)).as("d"))
      // deg * |V| * epsDen <= 2 * |E| * (epsDen + epsNum), both sides
      // exact: the row side multiplies in decimal(38,0), the constant
      // side is one BigInt rendered as a literal
      val rhs = lit((BigInt(2) * eCnt * (epsDen + epsNum)).toString).cast(dec)
      val lhsScale = lit((BigInt(vCnt) * epsDen).toString).cast(dec)
      val doomed = nodes.join(deg, Seq("id"), "left")
        .filter(coalesce(col("d"), lit(0L)).cast(dec) * lhsScale <= rhs)
        .select(col("id")).localCheckpoint(true)
      require(!doomed.isEmpty, "batch peel removed nothing — impossible: " +
        "the minimum degree never exceeds (1+eps) * average degree")
      nodes = nodes.join(doomed, Seq("id"), "left_anti").localCheckpoint(true)
      g = g.join(doomed.withColumnRenamed("id", "a"), Seq("a"), "left_anti")
        .join(doomed.withColumnRenamed("id", "b"), Seq("b"), "left_anti")
        .select(col("a"), col("b")).localCheckpoint(true)
      vCnt = nodes.count(); eCnt = g.count()
    }
    best.select(col("id"), lit(bestV).as("v_cnt"), lit(bestE).as("e_cnt"))
  }

  /**
   * Per-node 4-CLIQUE participation counts — one rung up the k-clique
   * ladder from [[triangles]] (the kClist orientation scheme of Danisch
   * –Balalau–Sozio, WWW 2018, specialized to k = 4): orient edges by
   * the (degree, id) total order exactly as the triangle counter does,
   * enumerate each triangle once at its minimum-key corner, then EXTEND
   * each oriented triangle (w < x < y) by the out-neighbors d of its
   * MAXIMUM corner y and keep d adjacent to all three — every 4-clique
   * {w,x,y,d} is found exactly once with d its maximum-key node, no
   * post-hoc dedup shuffle. The orientation bounds every fan-out by the
   * O(sqrt m) oriented out-degree regardless of hub skew, the same
   * guarantee the triangle pass rides. On the KG, 4-clique density
   * separates template co-citation blocks (cliquish) from genuine
   * hub-and-spoke entity neighborhoods (triangle-rich but 4-clique-poor).
   *
   * Plan: the [[triangles]] plan + three further keyed equi-joins
   * against the oriented edge list (extend by d, verify x–d, verify
   * w–d) + one explode/partial-agg count. Integer counts only —
   * engine-exact at any partitioning; the SQL oracle is the naive
   * unordered a<b<c<d six-way self-join, a genuinely different
   * algorithm with no orientation.
   *
   * @return (id: long, cliques4: long) for every node of the simple
   *         graph, zeros included.
   */
  def fourCliques(edgesIn: DataFrame): DataFrame = {
    val e = undirected(edgesIn).localCheckpoint(true)
    val deg = e.select(col("a").as("id"))
      .unionAll(e.select(col("b").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("deg"))
    val withDeg = e
      .join(deg.select(col("id").as("a"), col("deg").as("da")), Seq("a"))
      .join(deg.select(col("id").as("b"), col("deg").as("db")), Seq("b"))
    val aFirst = struct(col("da"), col("a")) < struct(col("db"), col("b"))
    val oriented = withDeg.select(
      when(aFirst, col("a")).otherwise(col("b")).as("src"),
      when(aFirst, col("b")).otherwise(col("a")).as("dst"),
      when(aFirst, col("db")).otherwise(col("da")).as("ddeg"))
      .localCheckpoint(true)
    val o1 = oriented.select(col("src"), col("dst").as("lo"), col("ddeg").as("lodeg"))
    val o2 = oriented.select(col("src"), col("dst").as("hi"), col("ddeg").as("hideg"))
    val tris = o1.join(o2, Seq("src"))
      .filter(struct(col("lodeg"), col("lo")) < struct(col("hideg"), col("hi")))
      .join(oriented.select(col("src").as("lo"), col("dst").as("hi")),
        Seq("lo", "hi"))
      .select(col("src"), col("lo"), col("hi"))
    // extend by the max corner's out-neighbors, then verify the two
    // remaining clique edges — d's key exceeds hi's, hence all three
    val quads = tris
      .join(oriented.select(col("src").as("hi"), col("dst").as("d")), Seq("hi"))
      .join(oriented.select(col("src").as("lo"), col("dst").as("d")), Seq("lo", "d"))
      .join(oriented.select(col("src"), col("dst").as("d")), Seq("src", "d"))
      .select(col("src"), col("lo"), col("hi"), col("d"))
    val counts = quads
      .select(explode(array(col("src"), col("lo"), col("hi"), col("d"))).as("id"))
      .groupBy(col("id")).agg(count(lit(1)).as("cnt"))
    deg.join(counts, Seq("id"), "left")
      .select(col("id"), coalesce(col("cnt"), lit(0L)).as("cliques4"))
  }

  /**
   * TRIADIC CLOSURE timestamps over a temporal edge list: for every
   * triangle of the simple graph, the moment it became complete —
   * `formed_ts` = the LATEST of the three edges' FIRST observations
   * (before it one edge was missing; at it the triad closed) — plus the
   * closure span (formed_ts − the earliest first-observation). This is
   * the link-prediction ground-truth generator (Leskovec et al.'s
   * triadic-closure supervision: the third edge's arrival labels the
   * open wedge positive) and the community-growth clock: a burst of
   * small-span closures marks a densifying region, while static triangle
   * counts (see [[triangles]]) cannot say WHEN.
   *
   * Algorithm: collapse the temporal multigraph to (a < b, first_ts =
   * min ts) — one partial-aggregated groupBy — then run the exact
   * degree-ordered orientation of [[triangles]] with `first_ts` riding
   * each oriented edge; the wedge and closing joins carry the two/one
   * edge timestamps, so each triangle emerges exactly once at its
   * min-(deg, id) corner already holding all three. All arithmetic is
   * Long-microsecond min/max/greatest — order-free, engine-exact; the
   * oracle recomputes per-edge minima and re-enumerates triangles
   * unordered in SQL.
   *
   * @param edgesIn (src, dst, ts) temporal edges (ts castable to long)
   * @return (a, b, c, formed_ts, span_micros), ids ascending per row,
   *         one row per triangle of the simple graph.
   */
  def triadicClosures(edgesIn: DataFrame): DataFrame = {
    val e = edgesIn
      .select(col("src").cast("long"), col("dst").cast("long"), col("ts").cast("long"))
      .filter(col("src") =!= col("dst"))
      .groupBy(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .agg(min(col("ts")).as("fts"))
      .localCheckpoint(true)
    val deg = e.select(col("a").as("id"))
      .unionAll(e.select(col("b").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("deg"))
    val withDeg = e
      .join(deg.select(col("id").as("a"), col("deg").as("da")), Seq("a"))
      .join(deg.select(col("id").as("b"), col("deg").as("db")), Seq("b"))
    val aFirst = struct(col("da"), col("a")) < struct(col("db"), col("b"))
    val oriented = withDeg.select(
      when(aFirst, col("a")).otherwise(col("b")).as("src"),
      when(aFirst, col("b")).otherwise(col("a")).as("dst"),
      when(aFirst, col("db")).otherwise(col("da")).as("ddeg"),
      col("fts"))
      .localCheckpoint(true)
    val o1 = oriented.select(col("src"), col("dst").as("lo"),
      col("ddeg").as("lodeg"), col("fts").as("t_lo"))
    val o2 = oriented.select(col("src"), col("dst").as("hi"),
      col("ddeg").as("hideg"), col("fts").as("t_hi"))
    val tris = o1.join(o2, Seq("src"))
      .filter(struct(col("lodeg"), col("lo")) < struct(col("hideg"), col("hi")))
      .join(oriented.select(col("src").as("lo"), col("dst").as("hi"),
        col("fts").as("t_close")), Seq("lo", "hi"))
    val ids = array_sort(array(col("src"), col("lo"), col("hi")))
    tris.select(
      element_at(ids, 1).as("a"),
      element_at(ids, 2).as("b"),
      element_at(ids, 3).as("c"),
      greatest(col("t_lo"), col("t_hi"), col("t_close")).as("formed_ts"),
      (greatest(col("t_lo"), col("t_hi"), col("t_close")) -
        least(col("t_lo"), col("t_hi"), col("t_close"))).as("span_micros"))
  }

  /**
   * Per-vertex BUTTERFLY counts over a bipartite incidence graph — the
   * butterfly (2×2 biclique: two left vertices both incident to the same
   * two right vertices) is the bipartite analog of the triangle
   * (Wang–Fu–Cheng VLDB 2014; Sanei-Mehri KDD 2018), and on the KG's
   * page×entity incidence it is the template/co-citation detector the
   * one-mode projection blurs: two pages that share TWO entities form a
   * butterfly, and an entity with a high butterfly count participates in
   * many such duplicated co-mention patterns (boilerplate navigation,
   * syndicated pages, alias over-merge), where a merely popular entity
   * does not.
   *
   * Algorithm — wedge aggregation, centered on the LEFT (page) side:
   * every page emits its C(deg,2) entity pairs (x < y by id); one
   * partial-aggregated count per pair gives the co-incidence w(x,y) =
   * number of pages containing both, and each pair then contributes
   * C(w,2) butterflies to BOTH endpoints. Counting is exact — every
   * butterfly {u1,u2}×{x,y} is counted exactly once at its entity pair
   * (x,y) — and ORDER-FREE (integer sums only), so results are
   * engine-exact at any partitioning. The SQL oracle is the naive
   * unordered four-way self-join (enumerate every butterfly, no wedge
   * formula anywhere) — a genuinely different algorithm.
   *
   * Scale shape: the wedge fan-out is per-LEFT-vertex C(deg,2), and on
   * web corpora the left side is pages whose entity degree is bounded by
   * document length — the skewed side (celebrity entities with 10^8
   * incident pages) sits at the wedge ENDPOINTS, where it costs one
   * partial-aggregated count row per co-incident pair, never a deg^2
   * fan-out. A left vertex above `maxLeftDegree` (a crawl artifact — a
   * page "mentioning" 10^5 entities) is excluded LOUDLY via
   * [[lastDropReport]] (key "butterflies"), the Dedup hot-bucket
   * convention: the cap is the explicit knob, not a silent truncation.
   * Butterfly counts themselves accumulate in decimal(38,0) — C(w,2)
   * overflows Long once a pair co-occurs on ~4.3e9 pages (the
   * ClusterMetrics C(n,2) lesson applied at design time).
   *
   * Plan: one distinct + one degree agg + (cap filter) + one self-join
   * on the left key + two partial-agg counts + one explode/sum — every
   * shuffle keyed by 8/16-byte integers.
   *
   * @param edgesIn (l, r) incidence rows (duplicates collapse)
   * @return (id, butterflies decimal(38,0)) for every RIGHT vertex of
   *         the (capped) graph, zeros included.
   */
  def butterflies(edgesIn: DataFrame, maxLeftDegree: Long = 100000L): DataFrame = {
    val dec = "decimal(38,0)"
    // the left key keeps its source type (urls stay strings — hashing them
    // to fit a long would make collision-merged pages unverifiable against
    // the enumeration oracle; at 100 TB dictionary-encode upstream instead)
    val e0 = edgesIn.select(col("l"), col("r").cast("long"))
      .distinct().localCheckpoint(true)
    val ldeg = e0.groupBy(col("l")).agg(count(lit(1)).as("ldeg"))
    val hot = ldeg.filter(col("ldeg") > maxLeftDegree)
      .agg(count(lit(1)).as("n"), coalesce(max(col("ldeg")), lit(0L)).as("worst"))
      .head()
    lastDropReport.put("butterflies", (hot.getLong(0), hot.getLong(1)))
    if (hot.getLong(0) > 0)
      log.warn(s"butterflies: DROPPED ${hot.getLong(0)} left vertices above " +
        s"maxLeftDegree=$maxLeftDegree (worst degree ${hot.getLong(1)}) — " +
        "wedge fan-out C(deg,2) would dominate the job; raise the cap to include them")
    val e = e0.join(ldeg.filter(col("ldeg") <= maxLeftDegree).select(col("l")), Seq("l"))
      .localCheckpoint(true)
    val pairs = e.select(col("l"), col("r").as("x"))
      .join(e.select(col("l"), col("r").as("y")), Seq("l"))
      .filter(col("x") < col("y"))
      .groupBy(col("x"), col("y")).agg(count(lit(1)).as("w"))
    // C(w,2) per pair, credited to both endpoints. Exactness: one of
    // {w, w-1} is even, so halve THAT factor in Long (always exact) and
    // multiply the two factors in decimal(38,0) — never w*(w-1) in Long
    // (overflows at w ~ 3e9) and never a decimal division (whose result
    // scale/precision rules would reintroduce rounding)
    val wEven = pmod(col("w"), lit(2L)) === 0L
    val perPair = pairs.filter(col("w") >= 2L)
      .select(col("x"), col("y"),
        (when(wEven, expr("w div 2")).otherwise(expr("(w - 1) div 2")).cast(dec) *
         when(wEven, col("w") - 1L).otherwise(col("w")).cast(dec))
          .cast(dec).as("bf"))
    val credits = perPair
      .select(explode(array(col("x"), col("y"))).as("id"), col("bf"))
      .groupBy(col("id")).agg(sum(col("bf")).cast(dec).as("cnt"))
    e.select(col("r").as("id")).distinct()
      .join(credits, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("cnt"), lit(0).cast(dec)).cast(dec).as("butterflies"))
  }

  /** Sequential Kahn twin of [[topoLayers]] — the SAME peel rule (layer =
    * peel round, 0-based), used below the threshold and as the
    * distributed==driver equality oracle. */
  private def driverTopoLayers(spark: org.apache.spark.sql.SparkSession,
                               edges: Array[(Long, Long)],
                               nodes: Array[Long]): DataFrame = {
    import spark.implicits._
    val adj = edges.groupBy(_._1).map { case (s, es) => s -> es.map(_._2) }
    val indeg = scala.collection.mutable.HashMap.empty[Long, Long]
    nodes.foreach(indeg(_) = 0L)
    edges.foreach { case (_, d) => indeg(d) = indeg(d) + 1L }
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Int)]
    var frontier = nodes.filter(indeg(_) == 0L).toSeq
    var layer = 0
    while (frontier.nonEmpty) {
      out ++= frontier.map(_ -> layer)
      val next = scala.collection.mutable.ArrayBuffer.empty[Long]
      for (u <- frontier; v <- adj.getOrElse(u, Array.empty[Long])) {
        indeg(v) = indeg(v) - 1L
        if (indeg(v) == 0L) next += v
      }
      frontier = next.toSeq
      layer += 1
    }
    require(out.size == nodes.length,
      s"topoLayers: graph has a cycle — ${nodes.length - out.size} of " +
        s"${nodes.length} nodes form or depend on a cycle (no topological " +
        "layering exists); condense SCCs first (scc + quotientGraph)")
    out.toSeq.toDF("id", "layer")
  }

  /**
   * TOPOLOGICAL LAYERING of a DAG — per node its longest-incoming-path
   * length ("stratum"): layer(v) = 0 for sources, else
   * 1 + max(layer(u) : (u,v) an edge). Equivalently the Kahn peel round,
   * since a node's in-degree over the unpeeled graph reaches zero exactly
   * when its last longest-path predecessor is peeled. The KG use is the
   * DERIVATION DEPTH of the SCC condensation (scc + quotientGraph feed
   * this — the classic web/KG structure decomposition): layer 0 = the
   * source strata, max layer = the condensation's longest chain.
   *
   * CYCLES FAIL LOUDLY (the error names the stuck-node count) — a cycle
   * has no layering, and a max-plus relaxation would silently spin;
   * self-loops are the 1-cycles and are rejected in the same loud check.
   * Callers layering a condensation drop intra-SCC self-loops FIRST
   * (those edges are the contracted cycles, by construction).
   *
   * 100 TB shape: per round ONE keyed equi-join (the frontier's
   * out-edges against the in-degree table — frontier-proportional
   * probe side) + one partial-aggregated count; the in-degree table is
   * the only full-width state, rewritten per round (the sssp/BFS dist
   * -table discipline, `localCheckpoint` keeping the plan flat). Round
   * count = DAG depth — condensations of web-scale KGs are shallow
   * (tens), never the 10^6-deep pathological chain. Adaptive driver
   * fallback below [[DriverFallback.MaxEdges]] edges; the distributed loop
   * is the scale path, equality-tested at threshold 0.
   *
   * @param edgesIn (src, dst) DAG edges; parallel edges collapse.
   * @param nodesIn (id) the FULL node universe — isolated nodes (no
   *                inter-edges at all, e.g. single-node SCCs nothing
   *                points at or out of) are genuine layer-0 strata and
   *                never appear in the edge list.
   * @return (id: long, layer: int), layer 0-based.
   */
  def topoLayers(edgesIn: DataFrame, nodesIn: DataFrame,
                 smallGraphThreshold: Long = DriverFallback.MaxEdges): DataFrame = {
    val spark = edgesIn.sparkSession
    val selfLoops = edgesIn.filter(col("src") === col("dst")).count()
    require(selfLoops == 0L,
      s"topoLayers: $selfLoops self-loop(s) — a self-loop is a 1-cycle; " +
        "no topological layering exists (condense SCCs first)")
    val edges = edgesIn
      .select(col("src").cast("long"), col("dst").cast("long"))
      .distinct()
    val nodeIds = nodesIn.select(col("id").cast("long")).distinct()
    val small = DriverFallback.collectIfAtMost(edges, smallGraphThreshold)
    if (small.isDefined) {
      val dag = pairs(small.get)
      return driverTopoLayers(spark, dag, (nodeIds.collect().map(_.getLong(0)) ++
        dag.flatMap(e => Array(e._1, e._2))).distinct)
    }
    val e = edges.repartition(col("src")).localCheckpoint(true)
    val nodes = nodeIds
      .unionByName(e.select(col("src").as("id")))
      .unionByName(e.select(col("dst").as("id")))
      .distinct().localCheckpoint(true)
    val indeg0 = e.groupBy(col("dst").as("id")).agg(count(lit(1)).as("indeg"))
    var pending = nodes.join(indeg0, Seq("id"), "left")
      .select(col("id"), coalesce(col("indeg"), lit(0L)).as("indeg"))
      .localCheckpoint(true)
    import spark.implicits._
    var acc = Seq.empty[(Long, Int)].toDF("id", "layer")
    var layer = 0
    var frontier = pending.filter(col("indeg") === 0L).select(col("id"))
      .localCheckpoint(true)
    while (!frontier.isEmpty) {
      acc = acc.unionByName(
        frontier.select(col("id"), lit(layer).as("layer")))
        .localCheckpoint(true)
      val dec = e.join(frontier.withColumnRenamed("id", "src"), Seq("src"))
        .groupBy(col("dst").as("id")).agg(count(lit(1)).as("d"))
      pending = pending.join(frontier.select(col("id")), Seq("id"), "left_anti")
        .join(dec, Seq("id"), "left")
        .select(col("id"),
          (col("indeg") - coalesce(col("d"), lit(0L))).as("indeg"))
        .localCheckpoint(true)
      frontier = pending.filter(col("indeg") === 0L).select(col("id"))
        .localCheckpoint(true)
      layer += 1
    }
    val stuck = pending.count()
    require(stuck == 0L,
      s"topoLayers: graph has a cycle — $stuck nodes form or depend on a " +
        "cycle (no topological layering exists); condense SCCs first " +
        "(scc + quotientGraph)")
    acc
  }
}
