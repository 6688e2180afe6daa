package graft.perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.Paths
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Try
import org.apache.spark.sql.SparkSession
import com.sun.management.GarbageCollectionNotificationInfo

/** One operation: its wall time, when it ended (seconds since the JVM
  * started), the mismatches its check found, the slots approximate
  * operators dropped in it, and (traced) its Spark counts. */
final case class OpRecord(seconds: Double, endedS: Double, problems: Seq[String],
                          drops: Drops.Totals, counts: Option[SparkCounts])

/** A benchmark workload: its inputs, its timed operation and its checks. */
trait Workload {
  /** Input documents handled by one operation. */
  def docsPerOp: Long

  /** Write the seeded inputs and fill the program's caches. */
  def prepare(): Unit

  /** One timed call into the program. Returns a handle for `check`. */
  def op(i: Int): Any

  /** Compare the operation's outputs with their expected values (untimed).
    * Returns one line per mismatch. */
  def check(i: Int, out: Any): Seq[String]

  /** Input sizes, recorded with the results. */
  def sizes: Map[String, Any]
}

/**
 * Entry point: `Main --workload <kg_build|curation> --seed <n> --seconds <s>
 * --trace <0|1> --root <checkout> --work <scratch dir> --traces <span dir>`.
 *
 * One process, one SparkSession on local[<cores>], one closed-loop client:
 * the next operation starts when the previous one (and its untimed check)
 * has finished. The last stdout line is the result object.
 */
object Main {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workloadName = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val root = Paths.get(opt("root")).toAbsolutePath
    val work = Paths.get(opt("work")).toAbsolutePath
    val cores = Runtime.getRuntime.availableProcessors()

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workloadName")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    def sinceStart = ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    val sessionS = sinceStart
    Heap.watch()

    val runId = s"$workloadName-seed$seed-trace${if (traced) 1 else 0}-" +
      ProcessHandle.current().pid()
    val trace = new Trace(traced, runId, spark.sparkContext)
    val inputs = new Inputs(spark, root, work, seed)
    val workload: Workload = workloadName match {
      case "kg_build" => new KgBuild(spark, inputs)
      case "curation" => new CurationWork(spark, inputs)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    val prepareS = timed(workload.prepare())._2

    def runOp(i: Int, withTrace: Boolean): OpRecord = {
      val open = Drops.begin()
      val startMs = ManagementFactory.getRuntimeMXBean.getUptime
      val ((out, s), counts) =
        if (!withTrace) (timed(Try(workload.op(i))), None)
        else {
          trace.attach()
          val (r, span) = trace.span(s"$workloadName.op")(timed(Try(workload.op(i))))
          val c = trace.counts(span)
          trace.detach()
          (r, Some(c))
        }
      val endedS = sinceStart
      val warmUp = i == 0
      if (!warmUp) Heap.opWindow(startMs, ManagementFactory.getRuntimeMXBean.getUptime)
      val drops = open.end()
      val found = out.flatMap(o => Try(workload.check(i, o)))
        .fold(e => Seq(s"op $i failed: $e"), identity)
      Heap.sample(record = !warmUp)
      OpRecord(s, endedS, found, drops, counts)
    }
    val warm = runOp(0, withTrace = false)
    // set-up: process start to the end of the warm-up operation, before its
    // check
    val setupS = warm.endedS

    // timed window: a closed loop until the operations have run for
    // `seconds` (checks excluded), at least two of them. With tracing on,
    // operations go untraced, traced, traced, untraced (and again), so both
    // kinds sit at the same mean position, until each kind has run three
    // times and both have run equally often.
    val ops = mutable.ArrayBuffer.empty[OpRecord]
    def tracedOps = ops.count(_.counts.isDefined)
    def enough = ops.size >= 2 && ops.map(_.seconds).sum >= seconds &&
      (!traced || (tracedOps >= 3 && tracedOps * 2 == ops.size))
    while (!enough)
      ops += runOp(ops.size + 1, withTrace = traced && Set(1, 2)(ops.size % 4))
    val all = warm +: ops.toSeq
    val problems = all.flatMap(_.problems)
    val failed = all.count(_.problems.nonEmpty)
    val times = ops.map(_.seconds).toSeq

    val (layerMetrics, layerProblems) = if (!traced) (Nil, Nil) else {
      val (withT, withoutT) = ops.toSeq.partition(_.counts.isDefined)
      val c = withT.map(_.counts.get)
      val drops = ops.map(_.drops)
      val perOp = Seq(
        ("spark.jobs", median(c.map(_.jobs.toDouble)), "count"),
        ("spark.stages", median(c.map(_.stages.toDouble)), "count"),
        ("spark.tasks", median(c.map(_.tasks.toDouble)), "count"),
        ("spark.executor_run_s", median(c.map(_.executorRunS)), "s"),
        ("spark.shuffle_read_bytes", median(c.map(_.shuffleReadBytes.toDouble)), "bytes"),
        ("spark.shuffle_write_bytes", median(c.map(_.shuffleWriteBytes.toDouble)), "bytes"),
        ("spark.spill_bytes", median(c.map(_.spillBytes.toDouble)), "bytes"),
        ("spark.task_skew", median(c.map(_.taskSkew)), "ratio"),
        ("spark.outside_jobs_s", median(c.map(_.outsideJobsS)), "s"),
        ("trace.overhead_s", median(withT.map(_.seconds)) - median(withoutT.map(_.seconds)), "s"),
        ("ops.dropped_slots", drops.map(_.dedupSlots).max.toDouble, "count"),
        ("kg.dropped_slots", drops.map(_.graphSlots).max.toDouble, "count"))
      // every traced run measures both pipelines layer by layer, each on
      // its own workload's inputs
      trace.attach()
      val layers = new Layers(spark, trace, inputs)
      val kg = layers.kgBuild()
      val kernels = layers.kernels()
      val cur = layers.curation(workload match {
        case c: CurationWork => c.report
        case _ => None
      })
      trace.detach()
      (perOp ++ kg ++ kernels ++ cur._1, cur._2)
    }
    trace.write(Paths.get(opt("traces")).resolve(s"$runId.jsonl"))

    val docsPerS = times.map(workload.docsPerOp / _)
    val endToEnd = Seq(
      ("docs_per_s", median(docsPerS), "docs/s"),
      ("setup_s", setupS, "s"),
      ("peak_live_heap_mb", Heap.peakMb, "MB"))
    val info = Json.obj(
      "workload" -> workloadName, "seed" -> seed, "cores" -> cores,
      "max_heap_mb" -> Runtime.getRuntime.maxMemory() / (1 << 20),
      "ops" -> times.size, "op_s" -> Map("p25" -> quantile(times, 0.25),
        "p50" -> median(times), "p75" -> quantile(times, 0.75)),
      "error_rate" -> Map("value" -> failed.toDouble / all.size, "unit" -> "ratio"),
      "setup_parts_s" -> Map("session" -> sessionS, "prepare" -> prepareS,
        "warmup_op" -> warm.seconds),
      "heap_after_gc_mb" -> Map("collections_in_ops" -> Heap.inOpSamples.size,
        "peak_in_ops" -> Heap.inOpSamples.maxOption.getOrElse(0.0),
        "peak_between_ops" -> Heap.betweenOpSamples.max),
      "sizes" -> workload.sizes, "problems" -> (problems ++ layerProblems))
    println(info)
    val shown = if (traced) layerMetrics else endToEnd
    val metrics = shown.map { case (n, v, u) => n -> Map("value" -> v, "unit" -> u) }.toMap
    println(Json.obj("correct" -> (failed == 0 && layerProblems.isEmpty),
      "attempted" -> all.size, "failed" -> failed, "metrics" -> metrics))
    spark.stop()
  }

  def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (xs need not be sorted). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = pos.floor.toInt
    val hi = pos.ceil.toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
}

/**
 * Live heap: heap in use just after a collection, at its peak over the
 * run's timed operations (the warm-up is left out).
 *
 * A GC notification listener records the heap used after every collection
 * with the time it ended; the collections that ended inside an operation's
 * window count. So data the driver holds for a moment during an operation
 * (a collect() for a fallback, say) shows as long as any collection ran
 * while it was live. As an extra sample, the heap is also read after a full
 * collection between operations, outside the timed region: blocks of
 * datasets the operation dropped are released by Spark's cleaner thread once
 * a collection has found them unreachable, so that sample collects, lets the
 * cleaner run, and collects again.
 */
object Heap {
  private val heapPools: Set[String] = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  /** (end ms since JVM start, heap bytes used after the collection) */
  private val afterGc = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]
  private val windows = mutable.ArrayBuffer.empty[(Long, Long)]
  private val between = mutable.ArrayBuffer.empty[Long]

  private val listener = new NotificationListener {
    def handleNotification(n: Notification, handback: Any): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val gc = GarbageCollectionNotificationInfo
          .from(n.getUserData.asInstanceOf[CompositeData]).getGcInfo
        val used = gc.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        afterGc.add((gc.getEndTime, used))
      }
  }

  /** Start recording every collection. */
  def watch(): Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _ =>
  }

  /** An operation ran from `startMs` to `endMs` (ms since JVM start). */
  def opWindow(startMs: Long, endMs: Long): Unit = windows += ((startMs, endMs))

  /** Collect fully between operations, so each operation starts on a heap
    * that holds only live data; with `record`, keep what is left. */
  def sample(record: Boolean): Unit = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    if (record) between += ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
  }

  private def mb(bytes: Long): Double = bytes / (1024.0 * 1024.0)

  /** Heap after each collection that ended inside an operation, in MB.
    * Notifications arrive on their own thread; those of an operation's
    * collections have arrived by the end of the 200 ms pause in the
    * `sample` that follows it. */
  def inOpSamples: Seq[Double] = afterGc.asScala.toSeq
    .filter { case (end, _) => windows.exists { case (s, e) => end >= s && end <= e } }
    .map { case (_, used) => mb(used) }

  def betweenOpSamples: Seq[Double] = between.toSeq.map(mb)

  def peakMb: Double = (inOpSamples ++ betweenOpSamples).max
}

/** Slots dropped by approximate operators during one operation, read from
  * the program's drop reports (`Dedup.lastDropReport`,
  * `Graphs.lastDropReport`). The reports are snapshotted and emptied
  * before the operation, so every entry present afterwards was written by
  * it; the snapshot is then put back under any label the operation did
  * not write. */
object Drops {
  final case class Totals(dedupSlots: Long, graphSlots: Long)
  private type Report = scala.collection.concurrent.TrieMap[String, (Long, Long)]
  private def reports: Seq[Report] =
    Seq(graft.ops.Dedup.lastDropReport, graft.kg.Graphs.lastDropReport)

  final class Open(before: Seq[Map[String, (Long, Long)]]) {
    def end(): Totals = {
      val written = reports.map(_.toMap)
      reports.zip(before).foreach { case (r, b) => b.foreach { case (k, v) => r.putIfAbsent(k, v) } }
      Totals(written(0).values.map(_._2).sum, written(1).values.map(_._2).sum)
    }
  }

  def begin(): Open = {
    val before = reports.map(_.toMap)
    reports.foreach(_.clear())
    new Open(before)
  }
}
