package graft

import graft.canon.ConnectedComponents
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class ConnectedComponentsSpec extends SparkSpec {

  /** GraphX reference twin: Pregel connectedComponents labels each node
    * with the MIN VERTEX ID of its component — the canonical label
    * `ConnectedComponents.run` produces. */
  private def runGraphX(edgesIn: DataFrame, maxIter: Int = Int.MaxValue): DataFrame = {
    import org.apache.spark.graphx.{Edge, Graph}
    val edgeRdd = edgesIn.select(col("src").cast("long"), col("dst").cast("long"))
      .filter(col("src") =!= col("dst"))
      .rdd.map(r => Edge(r.getLong(0), r.getLong(1), ()))
    val labeled = Graph.fromEdges(edgeRdd, defaultValue = ())
      .connectedComponents(maxIter).vertices // (id, minIdOfComponent)
    spark.createDataFrame(labeled.map { case (id, comp) => (id, comp) })
      .toDF("id", "component")
  }

  /** Simple min-label propagation (O(diameter) rounds) — reference twin. */
  private def minLabelPropagation(edgesIn: DataFrame, maxIter: Int = 50): DataFrame = {
    val pairs = edgesIn.select(col("src").cast("long").as("a"), col("dst").cast("long").as("b"))
    val edges = pairs.union(pairs.select(col("b").as("a"), col("a").as("b")))
      .filter(col("a") =!= col("b")).distinct().localCheckpoint(true)
    var labels = edges.select(col("a").as("id")).distinct()
      .withColumn("component", col("id")).localCheckpoint(true)
    var iter = 0
    var changed = 1L
    while (iter < maxIter && changed > 0) {
      val nbrMin = edges.join(labels, edges("b") === labels("id"))
        .groupBy(edges("a").as("id2")).agg(min(col("component")).as("nbrComponent"))
      val updated = labels.join(nbrMin, labels("id") === nbrMin("id2"), "left")
        .select(col("id"),
          least(col("component"), coalesce(col("nbrComponent"), col("component"))).as("newComponent"),
          col("component"))
      changed = updated.filter(col("newComponent") =!= col("component")).count()
      labels = updated.select(col("id"), col("newComponent").as("component")).localCheckpoint(true)
      iter += 1
    }
    labels
  }

  /** Driver-side union-find oracle. */
  private def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    def union(a: Long, b: Long): Unit = {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    edges.foreach { case (a, b) => union(a, b) }
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    nodes.map(n => n -> find(n)).toMap
  }

  private def check(edges: Seq[(Long, Long)]): Unit = {
    import spark.implicits._
    val df = edges.toDF("src", "dst")
    val oracle = unionFind(edges)
    // threshold 0 forces the distributed alternating-star path
    val mine = ConnectedComponents.run(df, smallGraphThreshold = 0)
      .as[(Long, Long)].collect().toMap
    assert(mine == oracle, s"large/small-star vs union-find on ${edges.size} edges")
    // default threshold routes these small graphs to the driver path
    val adaptive = ConnectedComponents.run(df).as[(Long, Long)].collect().toMap
    assert(adaptive == oracle, "adaptive small-graph path vs union-find")
    val prop = minLabelPropagation(df).as[(Long, Long)].collect().toMap
    assert(prop == oracle, "min-label propagation vs union-find")
    val gx = runGraphX(df).as[(Long, Long)].collect().toMap
    assert(gx == oracle, "GraphX fallback vs union-find")
  }

  test("chain, star, two components") {
    check(Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)))
  }

  test("self-contained cycles and cross links") {
    check(Seq((1L, 2L), (2L, 3L), (3L, 1L), (5L, 6L), (6L, 7L), (7L, 5L), (3L, 5L)))
  }

  test("random graphs match union-find (seeded)") {
    val rnd = new scala.util.Random(7)
    for (trial <- 1 to 3) {
      val n = 60 + trial * 40
      val edges = Seq.fill(n)((rnd.nextInt(80).toLong, rnd.nextInt(80).toLong))
        .filter(e => e._1 != e._2)
      check(edges)
    }
  }

  test("long path (diameter > iterations of naive propagation step count)") {
    check((0L until 40L).map(i => (i, i + 1)))
  }

  test("deep chain at the driver threshold: iterative find survives 100k-deep paths") {
    import spark.implicits._
    // edges (i, i-1) processed with i DESCENDING — the adversarial order
    // that builds a maximally deep parent chain under naive max-under-min
    // union. 99,999 edges stays at/below smallGraphThreshold, so this runs
    // the driver union-find; a recursive find (or no union-by-size) would
    // StackOverflowError on the first labeling pass.
    val n = 100000L
    val edges = (n - 1 to 1L by -1).map(i => (i, i - 1))
    val got = ConnectedComponents.run(edges.toDF("src", "dst")).as[(Long, Long)].collect()
    assert(got.length == n)
    assert(got.forall(_._2 == 0L), got.filter(_._2 != 0L).take(3).mkString(","))
  }

  test("100k-degree hub: pair-emission form survives a celebrity node") {
    import spark.implicits._
    // one node connected to 100k others (+ a separate component) — the
    // collect_set formulation materialized the full neighborhood in one
    // aggregation buffer; the pair-emission form shuffles longs only
    val hub = (1L to 100000L).map(i => (0L, i))
    val other = Seq((500000L, 500001L), (500001L, 500002L))
    val df = (hub ++ other).toDF("src", "dst")
    val got = ConnectedComponents.run(df).as[(Long, Long)].collect()
    assert(got.length == 100004)
    val byComp = got.groupBy(_._2).view.mapValues(_.length).toMap
    assert(byComp(0L) == 100001 && byComp(500000L) == 3, byComp.keySet.take(5))
  }

  // deterministic pseudo-random graph for the incremental-fold tests:
  // multiple components, merges across batch boundaries, some batches
  // introduce brand-new nodes, some only bridge old components
  private val foldGraph: Seq[(Long, Long)] = (0 until 240).map { i =>
    ((i * 37L + 11L) % 60L, (i * i * 13L + 5L) % 60L)
  }.filter(e => e._1 != e._2)

  test("upsertLabels: folding batches in any split == full CC (incl. distributed)") {
    import spark.implicits._
    val oracle = unionFind(foldGraph)
    for (nBatches <- Seq(2, 4)) {
      val batches = foldGraph.zipWithIndex.groupMap(_._2 % nBatches)(_._1)
      var labels = ConnectedComponents.run(
        batches(0).toDF("src", "dst"))
      for (b <- 1 until nBatches)
        labels = ConnectedComponents.upsertLabels(labels, batches(b).toDF("src", "dst"))
      assert(labels.as[(Long, Long)].collect().toMap == oracle, s"nBatches=$nBatches")
    }
    // distributed upsert path (threshold 0 forces alternating-star inside)
    val half = foldGraph.length / 2
    val base = ConnectedComponents.run(foldGraph.take(half).toDF("src", "dst"))
    val dist = ConnectedComponents.upsertLabels(
      base, foldGraph.drop(half).toDF("src", "dst"), smallGraphThreshold = 0)
    assert(dist.as[(Long, Long)].collect().toMap == oracle, "distributed upsert")
  }

  test("upsertLabels: untouched components pass through; new nodes join; empty base") {
    import spark.implicits._
    val base = ConnectedComponents.run(
      Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L)).toDF("src", "dst"))
    // delta bridges components {1,2,3} and {10,11}, adds new node 99 to 20's,
    // and leaves nothing else touched
    val got = ConnectedComponents.upsertLabels(
      base, Seq((3L, 10L), (21L, 99L)).toDF("src", "dst"))
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 1L, 11L -> 1L,
      20L -> 20L, 21L -> 20L, 99L -> 20L))
    // empty base: upsert == plain CC
    val empty = Seq.empty[(Long, Long)].toDF("id", "component")
    val fresh = ConnectedComponents.upsertLabels(empty, Seq((5L, 6L)).toDF("src", "dst"))
      .as[(Long, Long)].collect().toMap
    assert(fresh == Map(5L -> 5L, 6L -> 5L))
  }
}
