package graft.kg

import graft.core.DriverFallback
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Temporal fact lifecycle: collapse point-in-time OBSERVATIONS of a fact
 * (entity/predicate observed at crawl timestamps — the reference pipeline
 * re-extracts the same triple from every recrawl of a page) into maximal
 * VALIDITY INTERVALS, the bitemporal-KG primitive: a fact observed at
 * t1..tn with no gap exceeding `maxGapMicros` is ONE assertion valid
 * [first, last]; a longer silence closes the interval and a later
 * re-observation opens a new one (the fact was retracted and re-asserted).
 *
 * Classic gaps-and-islands, Spark-first: per fact key ONE window (lag) to
 * flag gap starts, a running SUM over the same window to number islands —
 * the flag ride the SAME partitioning, so the second window adds no
 * shuffle — then ONE partial-aggregated groupBy emits (from, to, n_obs).
 * All arithmetic is integer microseconds (`unix_micros`), no timezone or
 * float hazard, so output is engine-exact.
 *
 * 100 TB shape: the window partitions by the fact key — millions of small
 * per-fact groups, never a global sort; a fact observed N times holds
 * O(N) rows in one task, bounded by recrawl frequency (a daily crawl
 * observing one fact for 30 years is ~10^4 rows). Duplicate observations
 * at the same timestamp collapse first (sets, not bags).
 *
 * @param obsIn  observations with the key columns and one timestamp column
 * @param keys   fact-identity columns (e.g. subj, pred, obj)
 * @param tsCol  timestamp column (castable to timestamp)
 * @param maxGapMicros largest observation gap, in microseconds, that still
 *                     extends the current validity interval
 * @return keys* ++ (valid_from, valid_to: timestamp, n_obs: long)
 */
object Temporal {
  def coalesceIntervals(obsIn: DataFrame, keys: Seq[String], tsCol: String,
                        maxGapMicros: Long): DataFrame = {
    require(keys.nonEmpty, "need at least one fact-key column")
    require(maxGapMicros >= 0, "maxGapMicros must be >= 0")
    val keyCols = keys.map(col)
    val obs = obsIn
      .select(keyCols :+ unix_micros(col(tsCol).cast("timestamp")).as("__us"): _*)
      .distinct()
    val w = Window.partitionBy(keyCols: _*).orderBy(col("__us"))
    obs
      // null lag = first observation of the key (opens island 1); the
      // null-guard also keeps the subtraction off ANSI overflow paths
      .withColumn("__prev", lag(col("__us"), 1).over(w))
      .withColumn("__gap",
        when(col("__prev").isNull
          .or(col("__us") - col("__prev") > maxGapMicros), 1L)
          .otherwise(0L))
      .withColumn("__island", sum(col("__gap")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(keyCols :+ col("__island"): _*)
      .agg(timestamp_micros(min(col("__us"))).as("valid_from"),
        timestamp_micros(max(col("__us"))).as("valid_to"),
        count(lit(1)).as("n_obs"))
      .drop("__island", "__prev")
  }

  /**
   * Point-in-time KG snapshot: the facts VALID AT `atMicros` under the
   * [[coalesceIntervals]] sessionization — the bitemporal query surface
   * ("what did the graph assert on March 3rd?"). A fact is valid at t
   * when one of its intervals covers t: `valid_from <= t <= valid_to`.
   * One filter over the interval table; when intervals are materialized
   * and partitioned (the production shape) the predicate prunes at the
   * scan, so a point query never touches closed history.
   */
  def validAt(obsIn: DataFrame, keys: Seq[String], tsCol: String,
              maxGapMicros: Long, atMicros: Long): DataFrame =
    coalesceIntervals(obsIn, keys, tsCol, maxGapMicros)
      .filter(unix_micros(col("valid_from")) <= atMicros &&
        unix_micros(col("valid_to")) >= atMicros)

  /**
   * Interval OVERLAP JOIN (inclusive): pair up left/right validity
   * intervals that share a key AND a moment in time — "when was fact A
   * asserted WHILE fact B was asserted", the temporal-KG range join
   * (the companion of the as-of join: as-of answers "latest before",
   * overlap answers "concurrent with").
   *
   * Spark has no native range join, and the naive key equi-join + range
   * filter degenerates on hot keys (a key with n left and m right
   * intervals materializes n·m candidates before filtering). This is the
   * GRID-BUCKETED form: each interval replicates to the `cellMicros`-wide
   * time cells it covers, the join runs on (key, cell) — so candidates
   * pair only where they could overlap — and each qualifying pair is
   * emitted EXACTLY ONCE, with no dedup shuffle, by keeping it only in
   * the cell containing `greatest(l_from, r_from)` (both intervals cover
   * that instant, and it lies in exactly one cell). `cellMicros` is the
   * caller's skew knob: near the typical interval length, replication
   * stays O(1) per interval while hot cells hold only the intervals that
   * genuinely cross them.
   *
   * 100 TB shape: explode + ONE keyed equi-join + filter; no window, no
   * distinct, no theta join. Long-lived intervals replicate to
   * span/cellMicros cells — fan-out is explicit and linear in time
   * covered, never quadratic in table size.
   *
   * @param left/right interval tables: keys* ++ (fromCol, toCol), both
   *                   castable to timestamp; extra columns are dropped
   * @return keys* ++ (l_from, l_to, r_from, r_to, overlap_from,
   *         overlap_to) — one row per overlapping pair
   */
  def overlapJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
                  fromCol: String = "valid_from", toCol: String = "valid_to",
                  cellMicros: Long = 86400000000L): DataFrame = {
    require(keys.nonEmpty, "need at least one key column")
    require(cellMicros > 0, "cellMicros must be > 0")
    val keyCols = keys.map(col)
    def cells(df: DataFrame, p: String): DataFrame = df
      .select(keyCols
        :+ unix_micros(col(fromCol).cast("timestamp")).as(s"__${p}f")
        :+ unix_micros(col(toCol).cast("timestamp")).as(s"__${p}t"): _*)
      .withColumn("__cell", explode(sequence(
        floor(col(s"__${p}f") / cellMicros).cast("long"),
        floor(col(s"__${p}t") / cellMicros).cast("long"))))
    cells(left, "l")
      .join(cells(right, "r"), keys :+ "__cell")
      // inclusive overlap, counted once: in the cell of the later start
      .filter(col("__lf") <= col("__rt") && col("__rf") <= col("__lt") &&
        floor(greatest(col("__lf"), col("__rf")) / cellMicros)
          .cast("long") === col("__cell"))
      .select(keyCols ++ Seq(
        timestamp_micros(col("__lf")).as("l_from"),
        timestamp_micros(col("__lt")).as("l_to"),
        timestamp_micros(col("__rf")).as("r_from"),
        timestamp_micros(col("__rt")).as("r_to"),
        timestamp_micros(greatest(col("__lf"), col("__rf")))
          .as("overlap_from"),
        timestamp_micros(least(col("__lt"), col("__rt")))
          .as("overlap_to")): _*)
  }

  /**
   * BURST DETECTION over an event/mention timeline — the "trending
   * entity" monitor a web-scale KG runs on its own ingestion: bucket the
   * stream per key into fixed windows, compare each bucket against its
   * trailing baseline, and flag buckets whose rate exceeds the baseline
   * by the caller's ratio. The test is the all-integer cross-multiplied
   * form — bucket is a burst iff
   *   `cnt · trailing · denK  >  numK · trailing_total`
   * (i.e. cnt > (numK/denK) · trailing MEAN) AND `cnt ≥ minCount`
   * (a 3-vs-0 blip on a silent key is noise, not news) — so no float
   * division ever happens and the flag is engine-exact.
   *
   * EMPTY buckets count: the trailing baseline is over the DENSE bucket
   * grid (per key, min..max observed bucket, zeros filled), not merely
   * the buckets that happen to hold events — a window over sparse rows
   * would silently compare against an inflated baseline for intermittent
   * keys, the exact keys burst detection exists for. The grid fan-out
   * per key is (time span / bucket width) — a corpus-lifetime property
   * (10^4 buckets for 30 years of days), never corpus-size.
   *
   * Shape: ONE partial-aggregated (key, bucket) count; per-key min/max
   * ride the same agg; the dense grid is one `sequence` explode; the
   * trailing sum is ONE window partitioned by key ordered by bucket
   * (rows between -trailing and -1) — millions of small per-key
   * partitions, no global sort. Rows without a FULL trailing history
   * are suppressed (a half-grown baseline flags startup noise).
   *
   * @return keys* ++ (bucket_start: timestamp, cnt, trailing_total,
   *         is_burst) — one row per key per grid bucket from the
   *         (trailing+1)-th observed bucket on
   */
  def bursts(eventsIn: DataFrame, keys: Seq[String], tsCol: String,
             bucketMicros: Long, trailing: Int, numK: Long, denK: Long,
             minCount: Long = 1L): DataFrame = {
    require(keys.nonEmpty, "need at least one key column")
    require(bucketMicros > 0 && trailing >= 1 && numK >= 1 && denK >= 1,
      "bucketMicros/trailing/numK/denK must be positive")
    val counted = bucketCounts(eventsIn, keys, tsCol, bucketMicros)
    burstsFromCounts(counted, keys, bucketMicros, trailing, numK, denK,
      minCount)
  }

  /** Per-(key, bucket) event counts — the mergeable burst-detection
    * state: counts from disjoint event slices (micro-batches, shards)
    * SUM to the counts of their union, so a streaming twin can log
    * deltas and fold. Output: keys* ++ (__b: bucket index, __c). */
  def bucketCounts(eventsIn: DataFrame, keys: Seq[String], tsCol: String,
                   bucketMicros: Long): DataFrame = {
    require(bucketMicros > 0, "bucketMicros must be > 0")
    val keyCols = keys.map(col)
    eventsIn
      .select(keyCols :+ floor(unix_micros(col(tsCol).cast("timestamp"))
        / bucketMicros).cast("long").as("__b"): _*)
      .groupBy(keyCols :+ col("__b"): _*)
      .agg(count(lit(1)).as("__c"))
  }

  /** [[bursts]] from pre-aggregated [[bucketCounts]] rows (duplicate
    * (key, bucket) rows sum — fold-friendly). Same contract as
    * [[bursts]]. */
  def burstsFromCounts(countsIn: DataFrame, keys: Seq[String],
                       bucketMicros: Long, trailing: Int, numK: Long,
                       denK: Long, minCount: Long = 1L): DataFrame = {
    require(keys.nonEmpty, "need at least one key column")
    require(bucketMicros > 0 && trailing >= 1 && numK >= 1 && denK >= 1,
      "bucketMicros/trailing/numK/denK must be positive")
    val keyCols = keys.map(col)
    // small (keys × lifetime buckets) and referenced twice (grid + join)
    val counted = countsIn.groupBy(keyCols :+ col("__b"): _*)
      .agg(sum(col("__c")).as("__c")).localCheckpoint(true)
    val grid = counted.groupBy(keyCols: _*)
      .agg(min(col("__b")).as("__lo"), max(col("__b")).as("__hi"))
      .select(keyCols :+ explode(sequence(col("__lo"), col("__hi")))
        .as("__b"): _*)
    val dense = grid.join(counted, keys :+ "__b", "left")
      .withColumn("cnt", coalesce(col("__c"), lit(0L))).drop("__c")
    val w = Window.partitionBy(keyCols: _*).orderBy(col("__b"))
      .rowsBetween(-trailing.toLong, -1L)
    dense
      .withColumn("trailing_total", sum(col("cnt")).over(w))
      .withColumn("__n", count(lit(1)).over(w))
      .filter(col("__n") === trailing) // full baseline only
      .select(keyCols ++ Seq(
        timestamp_micros(col("__b") * bucketMicros).as("bucket_start"),
        col("cnt"),
        col("trailing_total"),
        (col("cnt") >= minCount &&
          col("cnt") * trailing * denK > lit(numK) * col("trailing_total"))
          .as("is_burst")): _*)
  }

  /**
   * ORDERED-SEQUENCE FUNNEL over an event log: how many keys (users)
   * complete stage 1, then stage 2 strictly after it, ... within
   * `windowMicros` of their FIRST stage-1 event — the product-analytics
   * conversion query and the event-sequence twin of the SPARQL property
   * path (a path through time instead of through edges).
   *
   * Semantics: the window anchors at each key's EARLIEST stage-1 event;
   * at every later stage the earliest qualifying event (strictly after
   * the previous stage's chosen event, at or before the anchor + window)
   * is chosen. The greedy earliest choice is exact, not a heuristic:
   * taking an earlier qualifying event can only widen what qualifies
   * later, so a key completes the funnel under SOME choice of events iff
   * it completes under the greedy one (the standard exchange argument).
   *
   * Shape: per stage ONE filtered scan of the event log + ONE
   * partial-aggregated min per key (stage 1), or ONE keyed equi-join with
   * the survivors + the min agg (later stages) — never a per-key sorted
   * event buffer, so a key with 10^6 events costs its matching-stage rows
   * only. Survivor sets shrink monotonically; with selective stages the
   * joins broadcast under AQE.
   *
   * @return one row per stage: (stage_idx, stage, n_keys) — n_keys is the
   *         count of keys whose funnel reached that stage.
   */
  /** The shared greedy stage chain behind [[funnel]] and [[funnelTimes]]
    * (ONE encoding of the semantics — us > t strictly-after, us <= t0 +
    * window, min-per-key — so the two surfaces cannot diverge): one
    * survivor table per stage, each materialized via `mat` so no level
    * ever re-runs the chain above it. */
  private def funnelLevels(events: DataFrame, keyCol: String, tsCol: String,
                           stageCol: String, stages: Seq[String],
                           windowMicros: Long,
                           mat: DataFrame => DataFrame): Seq[DataFrame] = {
    require(stages.nonEmpty, "need at least one funnel stage")
    val ev = events.select(col(keyCol).as("k"),
      unix_micros(col(tsCol).cast("timestamp")).as("us"), col(stageCol).as("stage"))
    val anchor = ev.filter(col("stage") === stages.head)
      .groupBy(col("k")).agg(min(col("us")).as("t"))
      .withColumn("t0", col("t"))
    stages.tail.scanLeft(mat(anchor)) { (prev, st) =>
      mat(prev.join(ev.filter(col("stage") === st).select(col("k"),
          col("us")), Seq("k"))
        .filter(col("us") > col("t") && col("us") <= col("t0") + windowMicros)
        .groupBy(col("k"), col("t0")).agg(min(col("us")).as("t")))
    }
  }

  def funnel(events: DataFrame, keyCol: String, tsCol: String,
             stageCol: String, stages: Seq[String],
             windowMicros: Long): DataFrame = {
    val spark = events.sparkSession
    // persist each survivor set so counting level i never re-runs levels
    // 0..i-1 (the survivor tables are one row per surviving key — tiny)
    val levels = funnelLevels(events, keyCol, tsCol, stageCol, stages,
      windowMicros, _.persist())
    import spark.implicits._
    val counts = levels.map(_.count())
    levels.foreach(_.unpersist(false))
    stages.zipWithIndex.map { case (st, i) =>
      (i.toLong, st, counts(i))
    }.toDF("stage_idx", "stage", "n_keys")
  }

  /**
   * Per-key funnel OUTCOME — [[funnel]]'s row-level companion, the
   * time-to-convert / drop-off-analysis surface: for every key that
   * entered the funnel, the deepest stage reached (1-based), the anchor
   * time, the greedy-chosen time of the deepest stage, and the elapsed
   * micros. Same greedy-earliest semantics (exact, exchange argument),
   * same per-stage join chain; levels are materialized eagerly
   * (localCheckpoint — one row per surviving key) so the final union
   * re-reads them instead of re-running the chain, then ONE
   * max(struct(depth, ...)) election per key.
   *
   * @return (k, depth, t0, t_last, convert_micros)
   */
  def funnelTimes(events: DataFrame, keyCol: String, tsCol: String,
                  stageCol: String, stages: Seq[String],
                  windowMicros: Long): DataFrame = {
    val levels = funnelLevels(events, keyCol, tsCol, stageCol, stages,
      windowMicros, _.localCheckpoint(true))
    levels.zipWithIndex.map { case (df, i) =>
      df.select(col("k"), col("t0"), col("t"), lit(i + 1L).as("depth"))
    }.reduce(_ unionAll _)
      .groupBy(col("k"))
      .agg(max(struct(col("depth"), col("t0"), col("t"))).as("top"))
      .select(col("k"), col("top.depth").as("depth"),
        col("top.t0").as("t0"), col("top.t").as("t_last"),
        (col("top.t") - col("top.t0")).as("convert_micros"))
  }

  private def driverEarliestReach(spark: org.apache.spark.sql.SparkSession,
                                  edges: Array[(Long, Long, Long)],
                                  seedIds: Array[Long], startTs: Long,
                                  maxHops: Int): DataFrame = {
    import spark.implicits._
    val adj = edges.groupBy(_._1).map { case (s, es) => s -> es.map(e => (e._2, e._3)) }
    val arr = scala.collection.mutable.HashMap.empty[Long, Long]
    var frontier = seedIds.distinct.toSeq
    frontier.foreach(arr(_) = startTs)
    var h = 0
    while (h < maxHops && frontier.nonEmpty) {
      h += 1
      val improved = scala.collection.mutable.HashMap.empty[Long, Long]
      frontier.foreach { u =>
        adj.getOrElse(u, Array.empty[(Long, Long)]).foreach { case (v, ts) =>
          if (ts >= arr(u) && ts < arr.getOrElse(v, Long.MaxValue) &&
              ts < improved.getOrElse(v, Long.MaxValue)) improved(v) = ts
        }
      }
      val real = improved.filter { case (v, t) => t < arr.getOrElse(v, Long.MaxValue) }
      real.foreach { case (v, t) => arr(v) = t }
      frontier = real.keys.toSeq
    }
    arr.toSeq.toDF("id", "arrival")
  }

  /**
   * TIME-RESPECTING REACHABILITY (earliest-arrival): over a temporal edge
   * list (src, dst, ts) — each edge usable only AT its timestamp — the
   * earliest time every node can be reached from a seed set along a path
   * whose edge timestamps are NON-DECREASING (Wu et al., VLDB 2014's
   * earliest-arrival semantics; Holme–Saramäki's temporal-path model).
   * On the KG this is the provenance-flow question static BFS answers
   * wrongly: "when could this claim first have propagated from the seed
   * pages to entity X?" — a static path through an edge asserted EARLIER
   * than its predecessor is not a propagation route, and this operator
   * never counts one.
   *
   * Correctness rests on the prefix-optimality of earliest arrival: any
   * prefix of an earliest-arrival path is itself earliest-arrival, so
   * frontier relaxation (candidate arrival at v = min ts of an edge u->v
   * with ts >= arrival(u)) converges to the exact fixpoint, and every
   * relaxation strictly DECREASES an arrival — at most one improvement
   * per distinct edge timestamp, with `maxHops` rounds the loud bound.
   * All comparisons are Long microseconds; min is order-free, so the
   * result is engine-exact at any partitioning.
   *
   * Distributed loop (the [[graft.kg.Graphs.sssp]] discipline): per round
   * ONE keyed equi-join of the improved frontier against the edge list
   * (ts-filtered), ONE map-side-partial min per target, strict-improvement
   * anti-filter, `localCheckpoint` keeping the plan flat; early exit on an
   * empty frontier. Work per round is the frontier's out-edges, never the
   * graph. Adaptive driver fallback below `smallGraphThreshold` edges;
   * the distributed loop is the scale path, equality-tested at
   * threshold 0 (TemporalReachSpec).
   *
   * @param edgesIn (src, dst, ts) temporal edges, ts castable to long
   *                microseconds; parallel edges keep ALL timestamps (the
   *                same pair may recur — only ts >= arrival ones count)
   * @param seeds   (id) seed nodes, reached at `startTs`
   * @param startTs the seeds' arrival time (edges before it unusable)
   * @return (id: long, arrival: long) for every reachable node;
   *         arrival = startTs for the seeds, unreachable nodes absent.
   */
  def earliestReach(edgesIn: DataFrame, seeds: DataFrame, startTs: Long,
                    maxHops: Int = 12,
                    smallGraphThreshold: Long = DriverFallback.MaxEdges): DataFrame = {
    require(maxHops >= 0, "maxHops must be >= 0")
    val edges = edgesIn
      .select(col("src").cast("long"), col("dst").cast("long"), col("ts").cast("long"))
      .filter(col("src") =!= col("dst") && col("ts") >= startTs)
      // parallel same-ts duplicates collapse; distinct timestamps all kept
      .distinct()
    val seedIds = seeds.select(col("id").cast("long")).distinct()
    val small = DriverFallback.collectIfAtMost(edges, smallGraphThreshold)
    if (small.isDefined) return driverEarliestReach(edgesIn.sparkSession,
      Graphs.triples(small.get), seedIds.collect().map(_.getLong(0)), startTs, maxHops)
    val e = edges.repartition(col("src")).localCheckpoint(true)
    var arr = seedIds.withColumn("arrival", lit(startTs)).localCheckpoint(true)
    var frontier = arr
    var h = 0
    var done = false
    while (h < maxHops && !done) {
      h += 1
      val cand = frontier.withColumnRenamed("id", "src")
        .join(e, Seq("src"))
        .filter(col("ts") >= col("arrival"))
        .select(col("dst").as("id"), col("ts").as("cand"))
        .groupBy(col("id")).agg(min(col("cand")).as("cand"))
      val improved = cand.join(arr, Seq("id"), "left")
        .filter(col("arrival").isNull || col("cand") < col("arrival"))
        .select(col("id"), col("cand").as("arrival")).localCheckpoint(true)
      if (improved.isEmpty) done = true
      else {
        arr = arr.join(improved.select(col("id")), Seq("id"), "left_anti")
          .unionAll(improved).localCheckpoint(true)
        frontier = improved
      }
    }
    arr
  }
}
