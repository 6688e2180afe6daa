package graft

import graft.canon.ConnectedComponents
import graft.core.DriverFallback
import graft.kg.{Graphs, PageRank, Temporal}
import graft.ops.Bpe
import org.apache.spark.sql.DataFrame
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed
import org.scalacheck.util.Pretty

/**
 * Property sweep over every entry point gated by [[DriverFallback]]: for
 * generated graphs (plus the empty, self-loop-only and duplicate-edge
 * inputs) the output is the same at thresholds 0, m − 1, m and the entry
 * point's default, where m is the number of rows its probe sees — so the
 * driver loop and the distributed loop agree on every input, and the
 * boundary itself routes both ways. A guard that rejects an input must
 * reject it at every threshold.
 */
class DriverFallbackPropertySpec extends SparkSpec {

  /** (src, dst, w) — unweighted entry points ignore w; temporal reads it as ts. */
  private type E = (Long, Long, Long)

  /** One gated entry point: the rows its probe sees for an input, and its
    * output at a threshold. */
  private case class Gated(name: String, default: Long,
                           probeRows: Seq[E] => Long,
                           run: (Seq[E], Long) => DataFrame)

  private def edges(es: Seq[E]): DataFrame = {
    import spark.implicits._
    es.map(e => (e._1, e._2)).toDF("src", "dst").repartition(3)
  }

  private def wEdges(es: Seq[E], col: String = "w"): DataFrame = {
    import spark.implicits._
    es.toDF("src", "dst", col).repartition(3)
  }

  private def ids(xs: Long*): DataFrame = {
    import spark.implicits._
    xs.toDF("id")
  }

  // the probe frames, modelled on the driver
  private def directed(es: Seq[E]) = es.filter(e => e._1 != e._2).map(e => (e._1, e._2)).distinct
  private def undirected(es: Seq[E]) =
    directed(es).map(e => (math.min(e._1, e._2), math.max(e._1, e._2))).distinct
  private def nDirected(es: Seq[E]) = directed(es).size.toLong
  private def nUndirected(es: Seq[E]) = undirected(es).size.toLong

  private def unionFind(es: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = { val p = parent.getOrElse(x, x); if (p == x) x else find(p) }
    es.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    es.flatMap(e => Seq(e._1, e._2)).distinct.map(n => n -> find(n)).toMap
  }

  /** upsertLabels folds the second half of the edges into the labeling of
    * the first half; its probe sees the star edges of every touched
    * component plus the simple delta edges. */
  private def upsertSplit(es: Seq[E]) = es.splitAt(es.size / 2)

  private def upsertProbeRows(es: Seq[E]): Long = {
    val (base, delta) = upsertSplit(es)
    val labels = unionFind(directed(base))
    val d = directed(delta)
    val touched = d.flatMap(e => Seq(e._1, e._2)).flatMap(labels.get).toSet
    val stars = labels.collect { case (id, c) if touched(c) && id != c => (id, c) }
    (stars.toSeq ++ d).distinct.size.toLong
  }

  private def word(e: E): String = Seq(e._1, e._2, e._3).map(x => ('a' + x).toChar).mkString

  private val gated: Seq[Gated] = Seq(
    Gated("ConnectedComponents.run", DriverFallback.MaxEdges, nDirected,
      (es, t) => ConnectedComponents.run(edges(es), smallGraphThreshold = t)),
    Gated("ConnectedComponents.upsertLabels", DriverFallback.MaxEdges, upsertProbeRows,
      { (es, t) =>
        val (base, delta) = upsertSplit(es)
        ConnectedComponents.upsertLabels(ConnectedComponents.run(edges(base)), edges(delta),
          smallGraphThreshold = t)
      }),
    Gated("Graphs.trussness", 100000L, nUndirected,
      (es, t) => Graphs.trussness(edges(es), t)),
    Gated("Graphs.transitiveClosure", DriverFallback.MaxEdges, nDirected,
      (es, t) => Graphs.transitiveClosure(edges(es), t)),
    Gated("Graphs.coreness", DriverFallback.MaxEdges, nUndirected,
      (es, t) => Graphs.coreness(edges(es), t)),
    Gated("Graphs.sssp", DriverFallback.MaxEdges, nDirected,
      (es, t) => Graphs.sssp(wEdges(es), ids(0L, 3L), 4, t)),
    Gated("Graphs.bfs", DriverFallback.MaxEdges, nDirected,
      (es, t) => Graphs.bfs(edges(es), ids(0L, 3L), 4, t)),
    Gated("Graphs.minSpanningForest", DriverFallback.MaxEdges, nUndirected,
      (es, t) => Graphs.minSpanningForest(wEdges(es), t)),
    Gated("Graphs.randomWalks", DriverFallback.MaxEdges, nDirected,
      (es, t) => Graphs.randomWalks(edges(es), 2, 3, 7L, t)),
    Gated("Graphs.labelPropagation", DriverFallback.MaxEdges, nUndirected,
      (es, t) => Graphs.labelPropagation(edges(es), 3, t)),
    Gated("Graphs.node2vecWalks", DriverFallback.MaxEdges, nDirected,
      (es, t) => Graphs.node2vecWalks(edges(es), 2, 3, 1L, 2L, 3L, 7L, t)),
    Gated("Graphs.hits", DriverFallback.MaxEdges, nDirected,
      (es, t) => Graphs.hits(edges(es), 3, 20, t)),
    Gated("Graphs.scc", DriverFallback.MaxEdges, nDirected,
      (es, t) => Graphs.scc(edges(es), t)),
    Gated("Graphs.greedyColoring", DriverFallback.MaxEdges, nUndirected,
      (es, t) => Graphs.greedyColoring(edges(es), 7L, t)),
    Gated("Graphs.densestSubgraph", DriverFallback.MaxEdges, nUndirected,
      (es, t) => Graphs.densestSubgraph(edges(es), 1L, 10L, t)),
    // oriented low -> high, so the only cycles left are self-loops (rejected)
    Gated("Graphs.topoLayers", DriverFallback.MaxEdges,
      es => es.map(e => (math.min(e._1, e._2), math.max(e._1, e._2))).distinct.size.toLong,
      (es, t) => Graphs.topoLayers(
        edges(es.map(e => (math.min(e._1, e._2), math.max(e._1, e._2), e._3))),
        ids(0L to 6L: _*), t)),
    Gated("PageRank.run", DriverFallback.MaxEdges, es => es.count(e => e._1 != e._2).toLong,
      (es, t) => PageRank.run(edges(es), 3, smallGraphThreshold = t)),
    Gated("PageRank.runWeighted", DriverFallback.MaxEdges,
      es => es.filter(e => e._1 != e._2 && e._3 > 0).map(e => (e._1, e._2)).distinct.size.toLong,
      (es, t) => PageRank.runWeighted(wEdges(es), 3, smallGraphThreshold = t)),
    Gated("PageRank.runPersonalized", DriverFallback.MaxEdges,
      es => es.count(e => e._1 != e._2).toLong,
      (es, t) => PageRank.runPersonalized(edges(es), ids(0L, 3L), 3, smallGraphThreshold = t)),
    Gated("Temporal.earliestReach", DriverFallback.MaxEdges,
      es => es.filter(e => e._1 != e._2 && e._3 >= 1L).distinct.size.toLong,
      (es, t) => Temporal.earliestReach(wEdges(es, "ts"), ids(0L), 1L, 4, t)),
    Gated("Bpe.train", 100000L, es => es.map(word).distinct.size.toLong,
      { (es, t) =>
        import spark.implicits._
        Bpe.train(es.map(word).grouped(3).map(_.mkString(" ")).toSeq.toDF("text"),
          numMerges = 4, minPairFreq = 1L, driverVocabThreshold = t.toInt)
      })
  )

  /** The output (column names + sorted rows), or the guard's exception class. */
  private def outcome(op: Gated, es: Seq[E], t: Long): Either[String, (Seq[String], Seq[String])] =
    try {
      val df = op.run(es, t)
      Right((df.columns.toSeq, df.collect().map(_.toSeq.mkString(",")).toSeq.sorted))
    } catch { case e: IllegalArgumentException => Left(e.getClass.getName) }

  private def checkAgreement(op: Gated, es: Seq[E]): Unit = {
    val m = op.probeRows(es)
    val thresholds = Seq(0L, m - 1, m, op.default).filter(_ >= 0).distinct
    val byThreshold = thresholds.map(t => t -> outcome(op, es, t))
    assert(byThreshold.map(_._2).distinct.size == 1,
      s"${op.name} on $es (m=$m): " + byThreshold.mkString("; "))
  }

  private val genEdge: Gen[E] =
    Gen.zip(Gen.choose(0L, 4L), Gen.choose(0L, 4L), Gen.choose(0L, 3L))

  /** Small graphs that always carry a duplicate edge and often a self-loop. */
  private val genGraph: Gen[Seq[E]] = for {
    n <- Gen.choose(2, 6)
    es <- Gen.listOfN(n, genEdge)
  } yield es :+ es.head

  /** Empty and self-loop-only inputs: the probe sees no rows (m = 0), so
    * every threshold takes the driver path and only the outputs compare. */
  private val edgeCases: Seq[Seq[E]] = Seq(
    Seq.empty,
    Seq((1L, 1L, 1L), (2L, 2L, 2L), (2L, 2L, 2L)))

  // one generated graph per entry point: each distributed run is a few
  // dozen tiny jobs, and the 21 sweeps must stay near a minute of tier-1
  private val params = Test.Parameters.default
    .withMinSuccessfulTests(1).withWorkers(1).withInitialSeed(Seed(20240531L))

  for (op <- gated)
    test(s"${op.name}: driver == distributed at thresholds 0, m-1, m, default") {
      edgeCases.foreach(checkAgreement(op, _))
      val result = Test.check(params, Prop.forAllNoShrink(genGraph) { es =>
        checkAgreement(op, es); true
      })
      assert(result.passed, Pretty.pretty(result))
    }
}
