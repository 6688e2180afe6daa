package graft

import org.apache.spark.sql.functions._
import graft.core.DriverFallback
import graft.kg.PageRank

class PageRankSpec extends SparkSpec {

  /** Driver-side twin of the exact fixed-point recurrence (same shape as
    * SequentialTwin.q79PageRank, re-stated here over raw edges). */
  private def seqPr(edges: Seq[(Long, Long)], iters: Int,
                    scale: Long = PageRank.DefaultScale): Map[Long, Long] = {
    val es = edges.filter(e => e._1 != e._2).distinct
    val nodes = es.flatMap(e => Seq(e._1, e._2)).distinct
    val outdeg = es.groupBy(_._1).map { case (s, xs) => s -> xs.size.toLong }
    val base = 15L * scale / 100L
    var ranks = nodes.map(_ -> scale).toMap
    for (_ <- 0 until iters) {
      val in = scala.collection.mutable.HashMap.empty[Long, Long]
      es.foreach { case (u, v) =>
        in(v) = in.getOrElse(v, 0L) + (ranks(u) * 85L) / (outdeg(u) * 100L)
      }
      ranks = nodes.map(v => v -> (base + in.getOrElse(v, 0L))).toMap
    }
    ranks
  }

  /** threshold = 0 forces the DISTRIBUTED loop; the default exercises the
    * adaptive driver fallback. Both must agree with seqPr bit-for-bit. */
  private def runPr(edges: Seq[(Long, Long)], iters: Int, parts: Int = 4,
                    threshold: Long = DriverFallback.MaxEdges): Map[Long, Long] = {
    import spark.implicits._
    val df = edges.toDF("src", "dst").repartition(parts)
    PageRank.run(df, iters, smallGraphThreshold = threshold)
      .as[(Long, Long)].collect().toMap
  }

  // hub + chain + dangling sink (4 has no out-edges) + cycle back, with a
  // self-loop and duplicate edges the operator must drop
  private val graph: Seq[(Long, Long)] = Seq(
    (1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (3L, 1L), (5L, 1L), (5L, 3L),
    (2L, 2L), // self-loop: dropped
    (1L, 2L), (5L, 1L) // duplicates: dropped
  )

  test("both paths (adaptive driver + forced distributed) are bit-identical to the sequential recurrence") {
    for (iters <- Seq(0, 1, 3, 10); thr <- Seq(0L, DriverFallback.MaxEdges)) {
      assert(runPr(graph, iters, threshold = thr) == seqPr(graph, iters),
        s"iters=$iters thr=$thr")
    }
  }

  test("result is invariant to input partitioning (distributed path)") {
    val expected = seqPr(graph, 5)
    for (parts <- Seq(1, 3, 7)) {
      assert(runPr(graph, 5, parts, threshold = 0L) == expected, s"parts=$parts")
    }
  }

  test("iteration 0 returns uniform scale; dangling sink keeps base + in-mass") {
    val r0 = runPr(graph, 0)
    assert(r0.values.toSet == Set(PageRank.DefaultScale))
    // node 4 is a pure sink: after convergence-ish iterations its rank is
    // base + hub contribution only, strictly below the hub's
    val r = runPr(graph, 10)
    assert(r(4L) < r(1L))
  }

  test("matches GraphX staticPageRank after per-side normalization (1e-6)") {
    import org.apache.spark.graphx.{Edge, Graph}
    // deterministic pseudo-random simple digraph, no self-loops/dups
    val n = 60
    val edges = (for (i <- 0 until n; k <- 1 to 3) yield {
      val j = (i * 7 + k * 11 + 3) % n
      (i.toLong, j.toLong)
    }).filter(e => e._1 != e._2).distinct
    val mine = runPr(edges, 10, threshold = 0L) // cross-check the scale path
    val mineSum = mine.values.map(BigInt(_)).sum.toDouble
    val edgeRdd = spark.sparkContext.parallelize(edges.map { case (s, d) => Edge(s, d, ()) })
    val gx = Graph.fromEdges(edgeRdd, ()).staticPageRank(10).vertices.collect().toMap
    val gxSum = gx.values.sum
    edges.flatMap(e => Seq(e._1, e._2)).distinct.foreach { v =>
      val a = mine(v).toDouble / mineSum
      val b = gx(v) / gxSum
      assert(math.abs(a - b) < 1e-6, s"node $v: mine=$a graphx=$b")
    }
  }

  /** Sequential personalized twin: teleport/init mass only on seeds. */
  private def seqPpr(edges: Seq[(Long, Long)], seeds: Set[Long], iters: Int,
                     scale: Long = PageRank.DefaultScale): Map[Long, Long] = {
    val es = edges.filter(e => e._1 != e._2).distinct
    val nodes = es.flatMap(e => Seq(e._1, e._2)).distinct
    val outdeg = es.groupBy(_._1).map { case (s, xs) => s -> xs.size.toLong }
    var ranks = nodes.map(v => v -> (if (seeds(v)) scale else 0L)).toMap
    for (_ <- 0 until iters) {
      val in = scala.collection.mutable.HashMap.empty[Long, Long]
      es.foreach { case (u, v) =>
        in(v) = in.getOrElse(v, 0L) + (ranks(u) * 85L) / (outdeg(u) * 100L)
      }
      ranks = nodes.map(v =>
        v -> ((if (seeds(v)) 15L * scale / 100L else 0L) + in.getOrElse(v, 0L))).toMap
    }
    ranks
  }

  test("personalized PageRank (both paths) is bit-identical to the seeded sequential recurrence") {
    import spark.implicits._
    val seeds = Set(1L, 5L)
    for (iters <- Seq(0, 1, 5); parts <- Seq(1, 4);
         thr <- Seq(0L, DriverFallback.MaxEdges)) {
      val df = graph.toDF("src", "dst").repartition(parts)
      val seedDf = seeds.toSeq.toDF("id")
      val got = PageRank.runPersonalized(df, seedDf, iters, smallGraphThreshold = thr)
        .as[(Long, Long)].collect().toMap
      assert(got == seqPpr(graph, seeds, iters), s"iters=$iters parts=$parts thr=$thr")
    }
  }

  test("personalized: non-seed start at zero; unreachable nodes stay zero") {
    import spark.implicits._
    // 1 -> 2 -> 3, isolated pair 8 -> 9; seed = {1}
    val es = Seq((1L, 2L), (2L, 3L), (8L, 9L))
    val r = PageRank.runPersonalized(es.toDF("src", "dst"), Seq(1L).toDF("id"), 5)
      .as[(Long, Long)].collect().toMap
    assert(r(8L) == 0L && r(9L) == 0L)
    assert(r(1L) > 0L && r(2L) > 0L && r(3L) > 0L)
    assert(r(1L) > r(2L) && r(2L) > r(3L)) // mass decays along the walk
  }

  test("degreeProfile counts triples and distinct neighbors per direction") {
    import spark.implicits._
    val triples = Seq(
      (1L, "a", 2L), (1L, "b", 2L), (1L, "a", 3L), (2L, "a", 3L), (4L, "a", 1L)
    ).toDF("subj", "pred", "obj")
    val got = PageRank.degreeProfile(triples)
      .as[(Long, Long, Long, Long, Long)].collect()
      .map { case (id, a, b, c, d) => id -> ((a, b, c, d)) }.toMap
    assert(got(1L) == ((3L, 2L, 1L, 1L))) // 3 out-triples to {2,3}; 1 in from {4}
    assert(got(2L) == ((1L, 1L, 2L, 1L))) // out to {3}; 2 in-triples from {1}
    assert(got(3L) == ((0L, 0L, 2L, 2L))) // sink: in from {1,2}
    assert(got(4L) == ((1L, 1L, 0L, 0L))) // source only
  }

  test("runWeighted: reduces to run on equal weights; mass splits by w") {
    import spark.implicits._
    import graft.kg.PageRank
    def ranks(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val rnd = new scala.util.Random(43)
    val es = (1 to 50).map(_ =>
      (rnd.nextInt(10).toLong + 1L, rnd.nextInt(10).toLong + 1L))
      .filter(e => e._1 != e._2).distinct
    // every weight 7: identical to the unweighted fixed point
    val w7 = es.map(e => (e._1, e._2, 7L)).toDF("src", "dst", "w")
    assert(ranks(PageRank.runWeighted(w7, iterations = 6)) ===
      ranks(PageRank.run(es.toDF("src", "dst"), iterations = 6)))
    // hand case, one iteration: 1 -> 2 (w 9), 1 -> 3 (w 1)
    val scale = 1000000000L
    val base = 15L * scale / 100L
    val got = ranks(PageRank.runWeighted(
      Seq((1L, 2L, 9L), (1L, 3L, 1L)).toDF("src", "dst", "w"),
      iterations = 1, scale = scale))
    assert(got === Map(
      1L -> base,
      2L -> (base + (scale * 85L * 9L) / (10L * 100L)),
      3L -> (base + (scale * 85L * 1L) / (10L * 100L))))
    // distributed loop == driver fallback (threshold 0)
    val wRnd = es.map(e => (e._1, e._2, (e._1 * 3 + e._2) % 5 + 1))
      .toDF("src", "dst", "w")
    assert(ranks(PageRank.runWeighted(wRnd, iterations = 5)) ===
      ranks(PageRank.runWeighted(wRnd, iterations = 5,
        smallGraphThreshold = 0L)))
  }

  test("runWeighted: the overflow guard fires on the driver and distributed paths") {
    import spark.implicits._
    val heavy = Seq((1L, 2L, Long.MaxValue / 100), (2L, 3L, 1L)).toDF("src", "dst", "w")
    for (thr <- Seq(DriverFallback.MaxEdges, 0L)) {
      val ex = intercept[IllegalArgumentException] {
        PageRank.runWeighted(heavy, iterations = 1, smallGraphThreshold = thr)
      }
      assert(ex.getMessage.contains("runWeighted overflow"), s"thr=$thr")
    }
  }
}
