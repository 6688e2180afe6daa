package graft

import graft.canon.ConnectedComponents
import graft.core.DriverFallback
import graft.kg.{Graphs, PageRank}

class DriverFallbackSpec extends SparkSpec {

  test("collectIfAtMost: rows at or below the bound, None above it") {
    import spark.implicits._
    val ds = spark.range(0, 10, 1, 7).as[Long]
    assert(DriverFallback.collectIfAtMost(ds, 10L).map(_.sorted.toSeq) ===
      Some(0L until 10L))
    assert(DriverFallback.collectIfAtMost(ds, 9L) === None)
    assert(DriverFallback.collectIfAtMost(ds, 0L) === None)
    assert(DriverFallback.collectIfAtMost(ds.filter(_ < 0), 0L).map(_.toSeq) === Some(Nil))
    assert(DriverFallback.collectIfAtMost(ds, Long.MaxValue).map(_.length) === Some(10))
    intercept[IllegalArgumentException](DriverFallback.collectIfAtMost(ds, -1L))
  }

  // ---- job counts of one driver-path call, by job group

  /** Spark jobs run by `body`, counted by job group from the status
    * tracker once the listener bus has delivered every job event. */
  private def jobsOf(group: String)(body: => Unit): Int = {
    val sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try body finally sc.clearJobGroup()
    org.apache.spark.ListenerBusDrain(sc)
    sc.statusTracker.getJobIdsForGroup(group).length
  }

  test("job counts: one driver-path call runs fewer jobs than count + collect") {
    import spark.implicits._
    val graph = (0L until 200L).flatMap(i => Seq((i, (i * 7 + 3) % 200), (i, (i + 1) % 200)))
    val seeds = Seq(0L, 13L).toDF("id")
    // jobs of the checkpoint + count() + collect() gate this probe replaced,
    // measured with this same fixture on local[4] (AQE on), per partitioning
    val before = Map("cc" -> 5, "bfs" -> 7, "pagerank" -> 3)
    for (parts <- Seq(1, 7)) {
      val edges = graph.toDF("src", "dst").repartition(parts).localCheckpoint(true)
      val now = Map(
        "cc" -> jobsOf(s"cc-$parts")(ConnectedComponents.run(edges).collect()),
        "bfs" -> jobsOf(s"bfs-$parts")(Graphs.bfs(edges, seeds, 6).collect()),
        "pagerank" -> jobsOf(s"pagerank-$parts")(PageRank.run(edges).collect()))
      info(s"parts=$parts jobs before=$before now=$now")
      for ((op, n) <- now) assert(n < before(op), s"$op parts=$parts: $n jobs")
    }
  }
}
